package graft.operators

import scala.collection.mutable

import graft.Cut
import graft.functions.PairNumerics
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GRAPH DESCENT WITH ITS STATE ON THE DRIVER. A beam walk's per-query
  * state (frontier, visited set, scores) is request-sized, so it lives
  * in driver memory, as hnswlib keeps its candidate queues in process
  * (`searchKnn`, hnswlib_index.cc:28-46). Spark runs only the reads of
  * corpus-sized data: ONE job per beam round over the [[DescentStore]],
  * on the buckets that own the round's new ids, with no query plan. It
  * returns each new pair's score and each new id's edges, so the next
  * hop expands its frontier from the driver's edge cache with no lookup
  * job. The query vectors go to the executors once per search.
  * Dedup of each expansion, the beam cut, the visited set, the
  * per-query fixpoint stop and the round budgets are driver code over
  * those results. Every score is `VecCosine`'s, bit for bit, and the
  * cut orders exactly as `row_number() over (partition by qid order by
  * s desc, id)`, so the walk is the relational loop's, bit for bit.
  * Scores are deterministic, so no pair is scored twice:
  * `pairsScored` ≤ entry pairs + visited pairs.
  *
  * Query `i` is row `i` of `reqs` (qid, qvec, extras…) with a non-NULL
  * qid; a repeated qid runs as separate requests. Every collect is
  * bounded: the batch by [[Ann.MaxDescentQueries]], each job's rows by
  * [[Ann.MaxDescentRows]].
  */
private[operators] final class Descent(store: DescentStore, reqs: DataFrame,
                                       stats: Ann.DescentStats) {
  import Descent._

  val rows: Array[Row] = Cut.request(reqs.where(col("qid").isNotNull),
    Ann.MaxDescentQueries, "Ann.MaxDescentQueries", "descent query batch")
  private val all = rows.indices
  /** The query vectors widened to double (null for a NULL qvec), sent
    * to the executors once, with the first job.
    */
  private lazy val qvecs: Broadcast[Array[Array[Double]]] = {
    val t = reqs.schema("qvec").dataType
    require(t match { case ArrayType(FloatType | DoubleType, _) => true; case _ => false },
      s"descent qvec must be array<float|double>, got ${t.sql}")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(t)
    val isFloat = PairNumerics.isFloatArray(t)
    reqs.sparkSession.sparkContext.broadcast(rows.map(r => toCatalyst(r.get(1)) match {
      case a: ArrayData => PairNumerics.widen(a, isFloat)
      case _ => null
    }))
  }
  /** Every pair scored so far; None is a NULL score or an id the
    * corpus lacks — such an id is visited but never enters a beam.
    */
  private val scores = Array.fill(rows.length)(mutable.HashMap.empty[Long, Option[Double]])
  private val visited = Array.fill(rows.length)(mutable.LinkedHashSet.empty[Long])
  private val frontier = Array.fill(rows.length)(Array.empty[Long])
  /** Each scored id's edges by layer, as its first hit brought them. */
  private val edges = mutable.LongMap.empty[Array[Array[Long]]]

  /** Record one job's hits in the order given: a later hit of a pair
    * overwrites an earlier one.
    */
  private def record(hits: Array[DescentStore.Hit]): Array[DescentStore.Hit] = {
    stats.peakRows = math.max(stats.peakRows, hits.length)
    stats.pairsScored += hits.length
    hits.foreach { h =>
      scores(h.q)(h.id) = Option(h.s).map(_.doubleValue)
      if (h.edges != null) edges(h.id) = h.edges
    }
    hits
  }

  /** Score every pair (q, id ∈ want(q)) of the queries `qs` that is
    * not scored yet: one job, none when nothing is new.
    */
  private def score(want: Int => Iterable[Long], qs: Seq[Int]): Unit = {
    val fresh = for (q <- qs; id <- want(q).toSeq if !scores(q).contains(id)) yield id -> q
    if (fresh.nonEmpty) record(store.byId(fresh.groupMap(_._1)(_._2), qvecs))
    fresh.foreach { case (id, q) => scores(q).getOrElseUpdate(id, None) }
  }

  /** Query q's `width` best scored ids among `ids`. */
  private def cut(q: Int, ids: Iterable[Long], width: Int): Array[Long] =
    ids.iterator.flatMap(id => scores(q)(id).map(id -> _)).toArray
      .sorted(beamOrder).take(width).map(_._1)

  /** IVF-cell entry: score every member of each query's probed cells
    * in one job over the store's cells. Returns the scored pairs in
    * scan order, each row's queries in batch order.
    */
  def scoreCells(cells: Int => Seq[Long]): Array[DescentStore.Hit] = {
    val want = (for (q <- all; c <- cells(q)) yield c -> q).groupMap(_._1)(_._2)
    if (want.isEmpty) Array.empty
    else record(store.byCell(want, qvecs).sortBy(h => (h.pos, h.q)))
  }

  /** Each query's ids among scored pairs. */
  def idsByQuery(scored: Array[DescentStore.Hit]): Array[Seq[Long]] = {
    val ids = Array.fill(rows.length)(mutable.ArrayBuffer.empty[Long])
    scored.foreach(h => ids(h.q) += h.id)
    ids.map(_.toSeq)
  }

  /** Seed each query's beam with the `width` best of `ids(q)`. */
  def enter(ids: Int => Seq[Long], width: Int): Unit = {
    score(ids, all)
    all.foreach { q => frontier(q) = cut(q, ids(q), width); visited(q) ++= frontier(q) }
  }

  /** One beam round for the queries `qs` over the store's edges of
    * `layer`: expand each frontier by one hop from the edge cache, score
    * the new pairs (one job), cut to `width`. An edge-less layer finds
    * no neighbours, scores nothing and re-cuts the frontier to itself.
    * Returns the queries whose beam did not change.
    */
  def hop(layer: Int, qs: Seq[Int], width: Int): Seq[Int] = {
    def out(id: Long): Iterator[Long] = edges.get(id).iterator.flatMap(_(layer))
    val expand = qs.map { q =>
      q -> (frontier(q).iterator ++ frontier(q).iterator.flatMap(out)).to(mutable.LinkedHashSet)
    }.toMap
    expand.foreach { case (q, e) => visited(q) ++= e }
    score(expand, qs)
    qs.filter { q =>
      val next = cut(q, expand(q), width)
      val same = next.sameElements(frontier(q))
      frontier(q) = next
      same
    }
  }

  /** BASE-BEAM LOOP with ADAPTIVE TERMINATION, hnswlib's ef-queue stop
    * in exact form: query q hops in round r while r ≤ budget(q) and its
    * beam still changes. The step is a pure function of the frontier,
    * so a query whose cut beam came back unchanged is at a fixpoint:
    * every later round would recompute the same beam and add nothing to
    * its visited set, and freezing it changes no result. The loop ends
    * at `rounds` or when no query can hop again; `roundsRun` counts the
    * rounds it ran (an empty batch runs one, as the relational loop
    * did).
    */
  def descend(width: Int, rounds: Int,
              budget: Int => Int = _ => Int.MaxValue): Unit = {
    var live: Seq[Int] = all
    var r = 0
    while (r < rounds && (r == 0 || live.exists(budget(_) > r))) {
      r += 1
      val fixed = hop(0, live.filter(budget(_) >= r), width).toSet
      live = live.filterNot(fixed)
    }
    stats.roundsRun = r
  }

  /** A LocalRelation of (qid, `fields`…): `items(q)` for each query,
    * queries in `order`.
    */
  def frame(fields: Seq[StructField], order: Seq[Int] = all)(
      items: Int => Iterator[Seq[Any]]): DataFrame = {
    val out = new java.util.ArrayList[Row]()
    for (q <- order; it <- items(q)) out.add(Row.fromSeq(rows(q).get(0) +: it))
    reqs.sparkSession.createDataFrame(out,
      StructType(reqs.schema("qid") +: fields))
  }

  /** Final beams (qid, id, s, tail…), best first. */
  def frontierFrame(tail: Tail*): DataFrame =
    frame(Seq(StructField("id", LongType, nullable = false),
        StructField("s", DoubleType, nullable = false)) ++ tail.map(_._1)) { q =>
      frontier(q).iterator.map(id => Seq[Any](id, scores(q)(id).get) ++ tail.map(_._2(q)))
    }

  /** Visited pairs (qid, id, s); `scoredOnly` drops the NULL scores. */
  def visitedFrame(scoredOnly: Boolean): DataFrame =
    frame(Seq(StructField("id", LongType, nullable = false),
        StructField("s", DoubleType, nullable = true))) { q =>
      visited(q).iterator.map(id => (id, scores(q)(id)))
        .filter(p => !scoredOnly || p._2.isDefined)
        .map { case (id, s) => Seq[Any](id, s.orNull) }
    }

  /** The rank-k cut of each beam: (qid, rk, nn_id, score 4dp, tail…),
    * its rows in (qid, rk) order under Spark's ordering of the qid
    * type, so no sort job runs.
    */
  def ranked(k: Int, tail: Tail*): DataFrame =
    frame(Seq(StructField("rk", IntegerType, nullable = false),
        StructField("nn_id", LongType, nullable = false),
        StructField("s", DoubleType, nullable = false)) ++ tail.map(_._1), byQid) { q =>
      frontier(q).iterator.take(k).zipWithIndex.map { case (id, i) =>
        Seq[Any](i + 1, id, scores(q)(id).get) ++ tail.map(_._2(q)) }
    }.select(Seq(col("qid"), col("rk"), col("nn_id"), round(col("s"), 4).as("score")) ++
      tail.map(t => col(t._1.name)): _*)

  /** The rank-k cut of scored pairs POOLED PER QID, as a
    * `groupBy(qid)` with [[TopKAgg]] ranks them: one [[TopKHeap]] per
    * qid keyed (−s, id), fed in pair order, so ties, duplicate ids
    * and repeated-qid requests rank as that aggregate ranks them. NULL
    * scores drop. Returns (qid, rk, nn_id, score 4dp) in (qid, rk)
    * order; nn_id and score are declared nullable, as the aggregate's
    * output declares them.
    */
  def pooled(scored: Array[DescentStore.Hit], k: Int): DataFrame = {
    val heaps = mutable.HashMap.empty[Any, TopKHeap]
    for (h <- scored if h.s != null)
      heaps.getOrElseUpdate(rows(h.q).get(0), new TopKHeap(k)).insert(-h.s, h.id)
    frame(Seq(StructField("rk", IntegerType, nullable = false),
        StructField("nn_id", LongType, nullable = true),
        StructField("s", DoubleType, nullable = true)),
      byQid.filter(q => heaps.contains(rows(q).get(0))).distinctBy(rows(_).get(0))) { q =>
      heaps(rows(q).get(0)).sorted.iterator.zipWithIndex.map { case (c, i) =>
        Seq[Any](i + 1, c.id, -c.key) }
    }.select(col("qid"), col("rk"), col("nn_id"), round(col("s"), 4).as("score"))
  }

  /** Query indices in the order of their qids under Spark's ordering of
    * the qid type (stable, so a repeated qid keeps batch order).
    */
  private lazy val byQid: Seq[Int] = {
    val qidType = reqs.schema("qid").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(qidType)
    all.sortBy(q => toCatalyst(rows(q).get(0)))(TypeUtils.getInterpretedOrdering(qidType))
  }
}

private[operators] object Descent {
  /** A per-query output column: its field and its value for query q. */
  type Tail = (StructField, Int => Any)

  /** `s` descending under Spark's double order (NaN first, -0.0 = 0.0),
    * then id ascending.
    */
  private val beamOrder: Ordering[(Long, Double)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(b._2, a._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }
}
