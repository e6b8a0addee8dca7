package graftbench

import java.util.SplittableRandom

/** Seeded input generation. Every value is a pure function of the run
  * seed and the value's own coordinates (stream name, row id, batch
  * index), so inputs do not depend on partitioning, thread timing or
  * how many requests a run happens to reach.
  *
  * The generators reproduce the measured shape of the sf0.1 test
  * tables (see `perfbench/README.md`, "Inputs", for the figures):
  * `embeddings` is 2000 isotropic Gaussian 64-d unit vectors with a
  * uniform label in 0..9, and `documents` is 5000 texts of 10-99 words
  * drawn uniformly from a 30-word vocabulary, 5% of them a copy of
  * another document with the word "dup" appended. A corpus larger than
  * 2000 rows is made of seeded replicas of the base rows, each replica
  * an isometry (a signed coordinate permutation) of the base, as
  * `graft.ScaleStress.materialize` replicates the sf0.1 embeddings.
  */
object Gen {
  val Dim = 64
  val BaseRows = 2000
  val Labels = 10

  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A random stream keyed by (seed, stream name, coordinates). */
  def rng(seed: Long, stream: String, coords: Long*): SplittableRandom = {
    var h = splitmix(seed ^ stream.hashCode.toLong)
    coords.foreach(c => h = splitmix(h ^ c))
    new SplittableRandom(h)
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller: exact and portable across JVMs (no nextGaussian state)
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def baseVec(seed: Long, b: Long): Array[Double] = {
    val r = rng(seed, "base", b)
    Array.fill(Dim)(gaussian(r))
  }

  /** Corpus row `id`: replica `id / BaseRows` of base row `id % BaseRows`.
    * Replica 0 is the base row itself; replica r > 0 permutes and
    * sign-flips its coordinates by a permutation seeded from r, which
    * keeps every distance within the replica and decorrelates replicas
    * of the same base row from each other.
    */
  def corpusVec(seed: Long, id: Long): Array[Float] = {
    val base = normalize(baseVec(seed, id % BaseRows))
    val rep = id / BaseRows
    if (rep == 0) base
    else {
      val r = rng(seed, "replica", rep)
      val perm = Array.range(0, Dim)
      var i = Dim - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = perm(i); perm(i) = perm(j); perm(j) = t
        i -= 1
      }
      Array.tabulate(Dim)(d => if (r.nextBoolean()) -base(perm(d)) else base(perm(d)))
    }
  }

  def label(seed: Long, id: Long): Int =
    rng(seed, "label", id).nextInt(Labels)

  def jitter(v: Array[Float], r: SplittableRandom, sigma: Double): Array[Float] =
    normalize(v.map(x => x + sigma * gaussian(r)))

  // ----------------------------------------------------------- requests

  /** One `/search` request of the flat workload. */
  case class FlatReq(qid: Long, qvec: Array[Float], k: Int, metric: String,
                     fop: Option[String], fval: Long)

  def flatBatch(seed: Long, corpusRows: Long, client: Int, batch: Int,
                size: Int): Seq[FlatReq] =
    (0 until size).map { j =>
      val r = rng(seed, "flat-req", client, batch, j)
      val src = r.nextLong(corpusRows)
      val metric = Seq("L2", "IP", "L1")(r.nextInt(3))
      val fop = Seq(Some("="), Some("!="), None)(r.nextInt(3))
      FlatReq(qid(client, batch, j), jitter(corpusVec(seed, src), r, 0.02),
        if (r.nextBoolean()) 5 else 10, metric, fop, r.nextInt(Labels).toLong)
    }

  /** One approximate request of the ann workload; `ef` is read only by
    * the searchRoutedEf batches.
    */
  case class AnnReq(qid: Long, qvec: Array[Float], indexType: String, ef: Long)

  /** A batch of `size` requests on leg `indexType`; half of them at
    * ef 16 and half at 48, in seeded order.
    */
  def annBatch(seed: Long, corpusRows: Long, client: Int, batch: Int,
               size: Int, indexType: String): Seq[AnnReq] = {
    val r = rng(seed, "ann-ef", client, batch)
    val efs = Seq.tabulate(size)(j => if (j < size / 2) 16L else 48L)
      .map(x => (r.nextDouble(), x)).sortBy(_._1).map(_._2)
    (0 until size).map { j =>
      val q = rng(seed, "ann-req", client, batch, j)
      val src = q.nextLong(corpusRows)
      AnnReq(qid(client, batch, j), jitter(corpusVec(seed, src), q, 0.02),
        indexType, efs(j))
    }
  }

  def qid(client: Int, batch: Int, j: Int): Long =
    client.toLong * 100000000L + batch.toLong * 1000L + j

  // ---------------------------------------------------------- documents

  /** The sf0.1 documents' vocabulary; each word is about 1/30 of its
    * words ("dup" aside, which marks copies).
    */
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** The hot passage of `graft.ScaleStress.materializeSkew`'s skewed
    * documents replica.
    */
  val Boilerplate: Array[String] =
    "zqhot alpha beta gamma delta epsilon zeta eta theta iota".split(" ")

  /** Share of sf0.1 documents that copy another (250 of 5000). */
  val DupShare = 0.05
  /** Word substitution rates of the planted copies; 0 is the sf0.1 rule. */
  val EditRates: Array[Double] = Array(0.0, 0.01, 0.03)
  /** Share of documents carrying [[Boilerplate]]. */
  val BoilerShare = 0.05

  def freshDoc(r: SplittableRandom): Array[String] =
    Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length)))

  /** How a wave document was made. `src` is the wave-local doc it copies
    * (or -1), `editRate` the share of its words substituted.
    */
  case class Doc(id: Long, text: String, src: Long, editRate: Double)

  /** One ingest wave of `n` documents: [[DupShare]] of them copy an
    * earlier doc of the wave with "dup" appended, as sf0.1's copies do,
    * with words substituted at a seeded rate from [[EditRates]]; and the
    * [[Boilerplate]] passage is spliced into [[BoilerShare]] of them.
    */
  def wave(seed: Long, w: Int, n: Int): Array[Doc] = {
    val docs = new Array[Doc](n)
    val words = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      val r = rng(seed, "doc", w, i)
      val (ws, src, rate) =
        if (i > 0 && r.nextDouble() < DupShare) {
          val s = r.nextInt(i)
          val rate = EditRates(r.nextInt(EditRates.length))
          (words(s).map(x => if (r.nextDouble() < rate) Vocab(r.nextInt(Vocab.length)) else x) :+ "dup",
            s.toLong, rate)
        } else (freshDoc(r), -1L, -1.0)
      val withBoiler =
        if (r.nextDouble() < BoilerShare) {
          val at = r.nextInt(ws.length + 1)
          ws.take(at) ++ Boilerplate ++ ws.drop(at)
        } else ws
      words(i) = withBoiler
      docs(i) = Doc(i.toLong, withBoiler.mkString(" "), src, rate)
      i += 1
    }
    docs
  }

  /** Distinct word 3-gram shingles, the rule `Dedup.shingleRows` applies
    * (a doc of fewer than 3 words is one shingle: its whole text).
    */
  def shingles(text: String): Set[String] = {
    val ws = text.split(" ")
    if (ws.length < 3) Set(text)
    else (0 to ws.length - 3).iterator
      .map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
  }
}
