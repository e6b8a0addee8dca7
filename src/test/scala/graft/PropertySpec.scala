package graft

import graft.operators.{ScoredId, TopKAgg, TopKHeap}
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic properties of the aggregation kernels, checked WITHOUT
  * Spark: reduce/merge/finish are pure, so distribution invariance
  * (any partitioning, any merge order) is testable directly — the
  * property that makes map-side partial aggregation correct.
  * Seeded pseudo-random cases keep runs reproducible.
  */
class PropertySpec extends AnyFunSuite {

  private def cases(seed: Long, n: Int, nanShare: Double = 0): Seq[List[ScoredId]] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      List.fill(rnd.nextInt(300))(ScoredId(
        if (nanShare > 0 && rnd.nextDouble() < nanShare) Double.NaN
        else rnd.nextInt(2000) - 1000.0, rnd.nextInt(1000).toLong))
    }
  }

  /** Comparable form: NaN equals NaN. */
  private def bits(xs: Seq[ScoredId]): Seq[(Long, Long)] =
    xs.map(s => (java.lang.Double.doubleToLongBits(s.key), s.id))

  test("TopKAgg: any chunking + merge order equals global sort-take") {
    val agg = new TopKAgg(5)
    for (xs <- cases(seed = 42, n = 60) ++ cases(seed = 43, n = 60, nanShare = 0.3)) {
      val rnd = new scala.util.Random(xs.length)
      val nChunks = rnd.nextInt(6) + 1
      val chunks = xs.grouped(math.max(1, xs.length / nChunks)).toList
      val partials = rnd.shuffle(
        chunks.map(c => c.foldLeft(agg.zero)(agg.reduce)))
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      val got = agg.finish(merged).items.toList
      val expect = xs.sortBy(s => (s.key, s.id)).take(5)
      assert(bits(got) == bits(expect))
    }
  }

  test("TopKAgg: merge is associative on the observable result") {
    val agg = new TopKAgg(3)
    val cs = cases(seed = 7, n = 90)
    for (Seq(a, b, c) <- cs.grouped(3)) {
      def buf(l: List[ScoredId]): TopKHeap = l.foldLeft(agg.zero)(agg.reduce)
      val left = agg.merge(agg.merge(buf(a), buf(b)), buf(c))
      val right = agg.merge(buf(a), agg.merge(buf(b), buf(c)))
      assert(agg.finish(left) == agg.finish(right))
    }
  }

  test("TopKAgg: buffer is bounded at k, never more") {
    val agg = new TopKAgg(4)
    for (xs <- cases(seed = 99, n = 30)) {
      val buf = xs.foldLeft(agg.zero)(agg.reduce)
      assert(buf.size <= 4)
      // and it retains exactly the best min(k, n) of what it saw
      assert(buf.sorted == xs.sortBy(s => (s.key, s.id)).take(4))
    }
  }

  test("QuantUtils.encode: range, monotonicity, endpoint exactness") {
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 200) {
      val min = rnd.nextDouble() * 10 - 5
      val max = min + rnd.nextDouble() * 10
      val xs = Seq.fill(50)(min + rnd.nextDouble() * (max - min)).sorted
      val codes = xs.map(x =>
        graft.functions.QuantUtils.encode(x, min, max) & 0xff)
      assert(codes.forall(c => c >= 0 && c <= 255))
      // affine map preserves order
      assert(codes == codes.sorted)
      if (max > min) {
        assert((graft.functions.QuantUtils.encode(min, min, max) & 0xff) == 0)
        assert((graft.functions.QuantUtils.encode(max, min, max) & 0xff) == 255)
      }
      // out-of-range inputs clamp, never wrap
      assert((graft.functions.QuantUtils.encode(min - 100, min, max) & 0xff) == 0)
      assert((graft.functions.QuantUtils.encode(max + 100, min, max) & 0xff)
        == (if (max > min) 255 else 0))
    }
  }

  test("PqUtils.encode: argmin optimality + LUT consistency on random data") {
    val rnd = new scala.util.Random(7)
    val m = 4; val dsub = 4; val ksub = 8
    val cb = Array.fill(m * ksub * dsub)(rnd.nextDouble() * 2 - 1)
    for (_ <- 1 to 200) {
      val v = Array.fill(m * dsub)(rnd.nextDouble() * 2 - 1)
      val code = graft.functions.PqUtils.encode(v(_), cb, m, dsub, ksub)
      assert(code.length == m)
      for (s <- 0 until m) {
        assert(code(s) >= 0 && code(s) < ksub)
        // chosen codeword is a true argmin of the subspace distance
        val dists = (0 until ksub).map { c =>
          (0 until dsub).map { j =>
            val d = v(s * dsub + j) - cb((s * ksub + c) * dsub + j)
            d * d
          }.sum
        }
        assert(dists(code(s)) == dists.min)
        // ties (if any) resolve to the LOWEST code
        assert(!dists.take(code(s)).exists(_ == dists(code(s))))
      }
      // LUT partials reproduce the per-subspace distances the encode
      // saw (same fold), so LUT-ADC of a row's own code is its true
      // quantization error
      val lut = graft.functions.PqCodec.l2LutFor(
        v.map(_.toFloat), cb, m, dsub, ksub)
      for (s <- 0 until m; c <- 0 until ksub) {
        var acc = 0.0
        for (j <- 0 until dsub) {
          val d = v(s * dsub + j).toFloat.toDouble -
            cb((s * ksub + c) * dsub + j)
          acc += d * d
        }
        assert(lut(s * ksub + c) == acc)
      }
    }
  }

  test("KmvAgg: any chunking + merge order equals the global k-min set") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 60) {
      val xs = List.fill(rnd.nextInt(500))(rnd.nextInt(150).toLong)
      val agg = new graft.operators.KmvAgg(16)
      // chunk arbitrarily, reduce each chunk, merge in shuffled order
      val chunks = xs.grouped(rnd.nextInt(50) + 1).toList
      val bufs = chunks.map(c => c.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(bufs)
        .foldLeft(agg.zero)((a, b) => agg.merge(a, b))
      val got = agg.finish(merged)
      val distinct = xs.distinct.sorted
      val expectSeen = math.min(16, distinct.length).toLong
      assert(got.n_seen == expectSeen, s"n_seen ${got.n_seen}")
      if (distinct.length >= 16) assert(got.kth == distinct(15))
      else assert(got.kth == -1L)
    }
  }

  test("WAL framing: frame/decode round-trips arbitrary record content") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 100) {
      // records may contain '|', newlines, unicode — framing is
      // length-based, so none of it needs escaping
      val recs = Seq.fill(rnd.nextInt(8))(
        Seq.fill(rnd.nextInt(40))(
          "ab|\n{}\"é€"(rnd.nextInt(9))).mkString)
      assert(graft.sources.WalBinary.decodeFrames(
        graft.sources.WalBinary.frame(recs)) == recs)
    }
  }

  test("ByteUtils: sample indices and sum against naive forms") {
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 100) {
      val bytes = Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte)
      val stride = rnd.nextInt(19) + 1
      val naiveSample = bytes.indices.filter(_ % stride == 0).map(bytes)
      assert(graft.functions.ByteUtils.byteSample(bytes, stride).toSeq
        == naiveSample)
      assert(graft.functions.ByteUtils.byteSum(bytes)
        == bytes.map(_ & 0xffL).sum)
    }
  }
}
