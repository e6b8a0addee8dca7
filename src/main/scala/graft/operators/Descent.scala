package graft.operators

import scala.collection.{immutable, mutable}

import graft.Cut
import graft.functions.VectorDistance
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, InSet, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GRAPH DESCENT WITH ITS STATE ON THE DRIVER. A beam walk's per-query
  * state (frontier, visited set, scores) is request-sized, so it lives
  * in driver memory, as hnswlib keeps its candidate queues in process
  * (`searchKnn`, hnswlib_index.cc:28-46). Spark runs only the reads
  * that touch graph- or corpus-sized data, two narrow jobs per round:
  *   - (a) neighbour lookup: `edges.where(src ∈ frontier ids)`,
  *     collected;
  *   - (b) scoring: the corpus scanned with `id ∈ new ids` pushed into
  *     the scan, each row exploded to the queries that asked for it
  *     ([[Fanout]]) and scored by `VectorDistance.cosine` against that
  *     query's vector, a plan literal of the caller's type.
  * Dedup of each expansion, the beam cut, the visited set, the
  * per-query fixpoint stop and the round budgets are driver code over
  * those results. Every score comes from the same Spark kernel and the
  * cut orders exactly as `row_number() over (partition by qid order by
  * s desc, id)`, so the walk is the relational loop's, bit for bit.
  * Scores are deterministic, so no pair is scored twice:
  * `pairsScored` ≤ entry pairs + visited pairs.
  *
  * Query `i` is row `i` of `reqs` (qid, qvec, extras…) with a non-NULL
  * qid; a repeated qid runs as separate requests. Every collect is
  * bounded: the batch by [[Ann.MaxDescentQueries]], each job's rows by
  * [[Ann.MaxDescentRows]].
  *
  * @param corpus (id: bigint, vec) rows to score; read per round, so
  *               pass the plain scan (a hash spread only adds an
  *               exchange to a request-sized id lookup)
  */
private[operators] final class Descent(corpus: DataFrame, reqs: DataFrame,
                                       stats: Ann.DescentStats) {
  import Descent._

  val rows: Array[Row] = Cut.request(reqs.where(col("qid").isNotNull),
    Ann.MaxDescentQueries, "Ann.MaxDescentQueries", "descent query batch")
  private val all = rows.indices
  private val qvecs: Column = GraftColumnBridge.column(Literal.create(
    rows.map(_.get(1)).toSeq, ArrayType(reqs.schema("qvec").dataType)))
  /** Every pair scored so far; None is a NULL score or an id the
    * corpus lacks — such an id is visited but never enters a beam.
    */
  private val scores = Array.fill(rows.length)(mutable.HashMap.empty[Long, Option[Double]])
  private val visited = Array.fill(rows.length)(mutable.LinkedHashSet.empty[Long])
  private val frontier = Array.fill(rows.length)(Array.empty[Long])

  private def held(got: Array[Row]): Array[Row] = {
    stats.peakRows = math.max(stats.peakRows, got.length)
    got
  }

  /** `c ∈ ids` as an `InSet` over a `HashSet`, which the generated code
    * reads as a reference of one class: an `In` of up to 10 literals
    * (below Spark's InSet conversion threshold) is inlined, and a small
    * Scala set's class (`Set1` … `Set4`) is named in the source, either
    * way one new compiled class per distinct set.
    */
  private def among(c: String, ids: Seq[Long]): Column =
    GraftColumnBridge.column(InSet(GraftColumnBridge.expression(col(c)),
      immutable.HashSet.from[Any](ids)))

  /** Job (b): score the rows of `keyed` (id, vec, `key`) once for each
    * (key, query) pair in `wanted`; none when it is empty.
    */
  private def scoreJob(keyed: DataFrame, key: String,
                       wanted: Seq[(Long, Int)]): Array[Row] = {
    if (wanted.isEmpty) return Array.empty
    val (keys, qs) = wanted.groupMap(_._1)(_._2).toSeq.unzip
    val got = held(Cut.request(keyed.where(among(key, keys))
        .select(col("id"), col("vec"), explode(GraftColumnBridge.column(
          Fanout(GraftColumnBridge.expression(col(key).cast("long")), keys, qs))).as("qi"))
        .select(col("qi"), col("id"),
          VectorDistance.cosine(col("vec"), qvecs(col("qi"))).as("s")),
      Ann.MaxDescentRows, "Ann.MaxDescentRows", "descent round"))
    got.foreach { r =>
      scores(r.getInt(0))(r.getLong(1)) =
        if (r.isNullAt(2)) None else Some(r.getDouble(2))
    }
    stats.pairsScored += got.length
    got
  }

  /** Score every pair (q, id ∈ want(q)) of the queries `qs` that is
    * not scored yet: one job, none when nothing is new.
    */
  private def score(want: Int => Iterable[Long], qs: Seq[Int]): Unit = {
    val fresh = for (q <- qs; id <- want(q).toSeq if !scores(q).contains(id)) yield id -> q
    scoreJob(corpus, "id", fresh)
    fresh.foreach { case (id, q) => scores(q).getOrElseUpdate(id, None) }
  }

  /** Query q's `width` best scored ids among `ids`. */
  private def cut(q: Int, ids: Iterable[Long], width: Int): Array[Long] =
    ids.iterator.flatMap(id => scores(q)(id).map(id -> _)).toArray
      .sorted(beamOrder).take(width).map(_._1)

  /** IVF-cell entry: score every member of each query's probed cells
    * in one job over the cell-assigned corpus. Returns the scored rows
    * (query index, id, s), s NULL where the kernel gives none, in the
    * order the job returned them.
    */
  def scoreCells(cells: Int => Seq[Long],
                 cents: Array[(Long, Array[Float])]): Array[Row] =
    scoreJob(Ann.assignTo(corpus, cents), "cell", for (q <- all; c <- cells(q)) yield c -> q)

  /** Each query's ids among scored rows (query index, id, s). */
  def idsByQuery(scored: Array[Row]): Array[Seq[Long]] = {
    val ids = Array.fill(rows.length)(mutable.ArrayBuffer.empty[Long])
    scored.foreach(r => ids(r.getInt(0)) += r.getLong(1))
    ids.map(_.toSeq)
  }

  /** Seed each query's beam with the `width` best of `ids(q)`. */
  def enter(ids: Int => Seq[Long], width: Int): Unit = {
    score(ids, all)
    all.foreach { q => frontier(q) = cut(q, ids(q), width); visited(q) ++= frontier(q) }
  }

  /** One beam round for the queries `qs` over `edges` (src, dst):
    * expand each frontier by one hop (job a), score the new pairs
    * (job b), cut to `width`. An edge-less layer finds no neighbours,
    * scores nothing and re-cuts the frontier to itself. Returns the
    * queries whose beam did not change.
    */
  def hop(edges: DataFrame, qs: Seq[Int], width: Int): Seq[Int] = {
    val from = qs.flatMap(frontier(_)).distinct
    val adj = if (from.isEmpty) Map.empty[Long, Seq[Long]]
      else held(Cut.request(edges.where(among("src", from)).select("src", "dst"),
        Ann.MaxDescentRows, "Ann.MaxDescentRows", "descent round"))
        .toSeq.groupMap(_.getLong(0))(_.getLong(1))
    val expand = qs.map { q =>
      q -> (frontier(q).iterator ++ frontier(q).iterator.flatMap(adj.getOrElse(_, Nil)))
        .to(mutable.LinkedHashSet)
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
  def descend(edges: DataFrame, width: Int, rounds: Int,
              budget: Int => Int = _ => Int.MaxValue): Unit = {
    var live: Seq[Int] = all
    var r = 0
    while (r < rounds && (r == 0 || live.exists(budget(_) > r))) {
      r += 1
      val fixed = hop(edges, live.filter(budget(_) >= r), width).toSet
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
    corpus.sparkSession.createDataFrame(out,
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

  /** The rank-k cut of scored rows (query index, id, s) POOLED PER QID,
    * as a `groupBy(qid)` with [[TopKAgg]] ranks them: one [[TopKHeap]]
    * per qid keyed (−s, id), fed in row order, so ties, duplicate ids
    * and repeated-qid requests rank as that aggregate ranks them. NULL
    * scores drop. Returns (qid, rk, nn_id, score 4dp) in (qid, rk)
    * order; nn_id and score are declared nullable, as the aggregate's
    * output declares them.
    */
  def pooled(scored: Array[Row], k: Int): DataFrame = {
    val heaps = mutable.HashMap.empty[Any, TopKHeap]
    for (r <- scored if !r.isNullAt(2))
      heaps.getOrElseUpdate(rows(r.getInt(0)).get(0), new TopKHeap(k))
        .insert(-r.getDouble(2), r.getLong(1))
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

/** The queries that asked for a corpus row, by the row's key: key
  * `keys(i)` maps to the query indices `targets(i)`, any other key to
  * the empty array. The table rides in the plan as
  * [[graft.functions.CentroidTopM]]'s centroids do and is hashed once
  * per task.
  */
private[operators] case class Fanout(child: Expression, keys: Seq[Long],
                                     targets: Seq[Seq[Int]])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def prettyName: String = "fanout"
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val index: Map[Long, ArrayData] =
    keys.iterator.zip(targets.iterator.map(t => ArrayData.toArrayData(t.toArray))).toMap
  @transient private lazy val none: ArrayData = ArrayData.toArrayData(Array.emptyIntArray)

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    if (k == null) none else index.getOrElse(k.asInstanceOf[Long], none)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
