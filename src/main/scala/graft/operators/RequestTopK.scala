package graft.operators

import java.nio.ByteBuffer

import graft.functions.PairNumerics
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, inline, lit, round}
import org.apache.spark.sql.types._

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** One heap of a request batch: the qid it answers (a Catalyst value
  * of the batch's qid type), the metric code its requests share, which
  * signs the answer's scores, and its capacity.
  */
private[graft] final case class RequestGroup(qid: Any, metric: Int, cap: Int)

/** One scoring request. `metric` is a [[RequestTopK]] metric code;
  * `filter` one of [[RequestTopK.Pass]], [[RequestTopK.Eq]],
  * [[RequestTopK.Ne]], and `slot` names the `label = fval` input
  * column an `Eq`/`Ne` filter reads. `qvec` is the query widened to
  * double (exact for a float query); `exclude` lists corpus ids the
  * request never returns.
  */
private[graft] final case class ScoringRequest(group: Int, metric: Int,
                                               filter: Int, slot: Int,
                                               qvec: ArraySeq[Double],
                                               exclude: ArraySeq[Long])

/** [[RequestTopK]]'s buffer: one heap per request group, plus scratch
  * for the current corpus row — its vector widened to double and its
  * `label = fval_j` outcomes ([[RequestTopK.Eq]], [[RequestTopK.Ne]]
  * or [[RequestTopK.NullEq]]) — reused across rows.
  */
private[graft] final class RequestHeaps(val heaps: Array[TopKHeap],
                                        val eq: Array[Int]) {
  var row: Array[Double] = Array.emptyDoubleArray
}

/** Fused exact top-k for a collected request set — a `/search` batch
  * or a [[Knn]] query set: ONE aggregate over the corpus with no
  * grouping key. The buffer is one [[TopKHeap]] per request group;
  * each corpus row is scored against every request whose filter it
  * passes, in a primitive loop, and offered to that request's heap
  * (lower-is-better keys: similarities negated). Partitions exchange
  * only the heaps (≤ Σ cap candidates each), and the single result row
  * is an array of `(qid, rk, nn_id, score)` — every group's retained
  * candidates best-first, `score` in its metric's own sense.
  *
  * Inputs: `children = id (bigint), vec (array<float|double>),
  * eq_0 … eq_n (boolean)`, where `eq_j` is `label = fval_j` for the
  * j-th distinct filter value of the batch: Spark's own `=`, resolved
  * with its type coercion, evaluated here once per corpus row. (As
  * inputs of the aggregate, not a projection below it, the batch's
  * filter values stay out of the scan stage's generated code, which is
  * then the same class for every batch.) A NULL vector, a dimension
  * mismatch or a NULL `eq_j` scores nothing, as a NULL key or a
  * failed predicate did in the cross-join form; so does a corpus id on
  * the request's exclusion list.
  *
  * Numerics: [[PairNumerics]], the same calls `VecL2`/`VecL1`/
  * `VecLinf`/`VecDot` make: each corpus row is widened to double once,
  * straight off its array data, and scored against every request —
  * scores are bit-identical to those kernels and the corpus column is
  * never cast. Cosine is `dot(x,q) / (‖x‖·‖q‖)` with each norm
  * `sqrt(dot(v,v))`, `VecCosine`'s operations in its order; the row
  * norm is taken once per row, and only when the set has a cosine
  * request, and a zero denominator scores nothing.
  *
  * `qid` and `nullableHits` only shape the answer's schema: the qid
  * field as the caller's query frame declares it, and whether `nn_id`
  * and `score` are declared nullable.
  */
private[graft] case class RequestTopK(
    children: Seq[Expression],
    groups: Seq[RequestGroup],
    requests: Seq[ScoringRequest],
    qid: StructField,
    nullableHits: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[RequestHeaps] {

  import RequestTopK._

  override def prettyName: String = "request_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    qid.copy(name = "qid"),
    StructField("rk", IntegerType, nullable = false),
    StructField("nn_id", LongType, nullableHits),
    StructField("score", DoubleType, nullableHits))), containsNull = false)

  // the batch is data: keep plan strings request-count sized
  override protected def stringArgs: Iterator[Any] =
    Iterator(children, s"${requests.length} requests",
      s"${groups.length} groups")

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.length >= 2 && children.head.dataType == LongType &&
      (children(1).dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
        case _ => false
      }) && children.drop(2).forall(_.dataType == BooleanType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (bigint, " +
      s"array<float|double>, boolean*), got " +
      children.map(_.dataType.sql).mkString(", "))
  }

  @transient private lazy val vecFloat: Boolean =
    PairNumerics.isFloatArray(children(1).dataType)
  @transient private lazy val reqs: Array[ScoringRequest] = requests.toArray
  @transient private lazy val qvecs: Array[Array[Double]] =
    reqs.map(_.qvec.toArray)
  @transient private lazy val eqs: Array[Expression] = children.drop(2).toArray
  @transient private lazy val excludes: Array[Array[Long]] =
    reqs.map(_.exclude.toArray)
  @transient private lazy val hasCosine: Boolean = reqs.exists(_.metric == Cosine)
  @transient private lazy val qnorms: Array[Double] = reqs.indices.map(r =>
    if (reqs(r).metric == Cosine) norm(qvecs(r), qvecs(r).length) else 0.0).toArray

  override def createAggregationBuffer(): RequestHeaps =
    new RequestHeaps(groups.map(g => new TopKHeap(g.cap)).toArray,
      new Array[Int](children.length - 2))

  override def update(buf: RequestHeaps, row: InternalRow): RequestHeaps = {
    val v = children(1).eval(row)
    val idv = children.head.eval(row)
    if (v == null || idv == null) return buf
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (buf.row.length < n) buf.row = new Array[Double](n)
    val x = PairNumerics.widen(a, vecFloat, buf.row)
    val id = idv.asInstanceOf[Long]
    var j = 0
    while (j < eqs.length) {
      buf.eq(j) = eqs(j).eval(row) match {
        case null => NullEq
        case b: java.lang.Boolean => if (b) Eq else Ne
      }
      j += 1
    }
    val xn = if (hasCosine) norm(x, n) else 0.0
    var r = 0
    while (r < reqs.length) {
      val req = reqs(r)
      val q = qvecs(r)
      if ((req.filter == Pass || buf.eq(req.slot) == req.filter) &&
          q.length == n && !excluded(excludes(r), id)) {
        val heap = buf.heaps(req.group)
        req.metric match {
          case L2   => heap.insert(PairNumerics.l2(x, q, n), id)
          case L1   => heap.insert(PairNumerics.l1(x, q, n), id)
          case Linf => heap.insert(PairNumerics.linf(x, q, n), id)
          case IP   => heap.insert(-PairNumerics.dot(x, q, n), id)
          case _    => // Cosine; a zero norm on either side scores nothing
            val denom = xn * qnorms(r)
            if (denom != 0.0) heap.insert(-(PairNumerics.dot(x, q, n) / denom), id)
        }
      }
      r += 1
    }
    buf
  }

  override def merge(buf: RequestHeaps, other: RequestHeaps): RequestHeaps = {
    var g = 0
    while (g < buf.heaps.length) { buf.heaps(g).mergeFrom(other.heaps(g)); g += 1 }
    buf
  }

  override def eval(buf: RequestHeaps): Any = {
    val out = Array.newBuilder[Any]
    groups.zip(buf.heaps).foreach { case (g, h) =>
      val similarity = g.metric == IP || g.metric == Cosine
      h.sorted.zipWithIndex.foreach { case (s, pos) =>
        out += InternalRow(g.qid, pos + 1, s.id, if (similarity) -s.key else s.key)
      }
    }
    new GenericArrayData(out.result())
  }

  // per heap: size, then its (key, id) slots in heap order
  override def serialize(buf: RequestHeaps): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.heaps.map(4 + 16 * _.size).sum)
    buf.heaps.foreach { h =>
      bb.putInt(h.size)
      var i = 0
      while (i < h.size) { bb.putDouble(h.keys(i)); bb.putLong(h.ids(i)); i += 1 }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): RequestHeaps = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    buf.heaps.foreach { h =>
      h.size = bb.getInt()
      var i = 0
      while (i < h.size) { h.keys(i) = bb.getDouble(); h.ids(i) = bb.getLong(); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): RequestTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RequestTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RequestTopK =
    copy(children = newChildren)
}

private[graft] object RequestTopK {
  // metric codes, the ids of Knn.Metric
  final val L2 = 0
  final val IP = 1
  final val Cosine = 2
  final val L1 = 3
  final val Linf = 4
  // filter codes; NullEq is a row's `label = fval` outcome only
  final val Pass = 0
  final val Eq = 1
  final val Ne = 2
  final val NullEq = 3

  private def norm(v: Array[Double], n: Int): Double =
    math.sqrt(PairNumerics.dot(v, v, n))

  private def excluded(ex: Array[Long], id: Long): Boolean = {
    var i = 0
    while (i < ex.length && ex(i) != id) i += 1
    i < ex.length
  }

  /** The aggregate for a collected `/search` batch: requests sharing
    * `(qid, metric, k)` share one heap of `min(k, maxK)` (0 when k is
    * NULL).
    *
    * @param batch rows of (qid, qvec, k bigint, metric string,
    *              fop string, fval)
    * @param qidType the batch's qid type (kept in the output)
    * @param fvalType the batch's fval type: `label = fval` compares
    *                 against a literal of this type, exactly as the
    *                 column comparison would
    */
  def forBatch(batch: Seq[Row], qidType: DataType, fvalType: DataType,
               maxK: Int): RequestTopK = {
    val qidConv = CatalystTypeConverters.createToCatalystConverter(qidType)
    val groups = mutable.LinkedHashMap.empty[(Any, String, java.lang.Long), Int]
    val slots = mutable.LinkedHashMap.empty[Any, Int] // distinct fval -> input
    val requests = batch.flatMap { r =>
      val k: java.lang.Long = if (r.isNullAt(2)) null else r.getLong(2)
      val metric = r.getString(3)
      val g = groups.getOrElseUpdate((qidConv(r.get(0)), metric, k),
        groups.size)
      val filter = r.getString(4) match {
        case null               => Some(Pass)
        case _ if r.isNullAt(5) => None // label = NULL is never true
        case "="                => Some(Eq)
        case "!="               => Some(Ne)
        case _                  => None // an unknown op matches nothing
      }
      filter.filterNot(_ => r.isNullAt(1)).map { f =>
        val slot = if (f == Pass) 0
          else slots.getOrElseUpdate(r.get(5), slots.size)
        ScoringRequest(g, code(metric), f, slot, qvecOf(r), ArraySeq.empty)
      }
    }
    val heaps = groups.toSeq.map { case ((qid, metric, k), _) =>
      RequestGroup(qid, code(metric),
        if (k == null) 0 else math.max(0L, math.min(k.longValue, maxK)).toInt)
    }
    build(heaps, requests, slots.keys.toSeq.map(fval =>
      col("label") === lit(fval).cast(fvalType)), StructField("qid", qidType),
      nullableHits = false)
  }

  // 'L2' / 'L1' score as such; any other name, NULL included, as IP
  private def code(metric: String): Int = metric match {
    case "L2" => L2
    case "L1" => L1
    case _    => IP
  }

  /** The aggregate for a collected query set: every row one unfiltered
    * request scored with `metric`, rows sharing a qid sharing one heap
    * of `k`. A NULL among a row's exclusion ids excludes every corpus
    * row, as `id != NULL` passes none.
    *
    * @param rows (qid, qvec, exclusion ids as bigint …)
    * @param qid the query frame's qid field (kept in the output)
    */
  def forQueries(rows: Seq[Row], qid: StructField, k: Int,
                 metric: Int): RequestTopK = {
    val qidConv = CatalystTypeConverters.createToCatalystConverter(qid.dataType)
    val index = mutable.LinkedHashMap.empty[Any, Int]
    val requests = rows.flatMap { r =>
      val g = index.getOrElseUpdate(qidConv(r.get(0)), index.size)
      val ex = 2 until r.length
      if (r.isNullAt(1) || ex.exists(r.isNullAt)) None
      else Some(ScoringRequest(g, metric, Pass, 0, qvecOf(r),
        ArraySeq.unsafeWrapArray(ex.map(r.getLong).toArray)))
    }
    build(index.keys.toSeq.map(RequestGroup(_, metric, math.max(k, 0))),
      requests, Nil, qid, nullableHits = true)
  }

  // a NULL element reads as 0, as the kernels' array reads do
  private def qvecOf(r: Row): ArraySeq[Double] =
    ArraySeq.unsafeWrapArray(r.getSeq[Any](1).map {
      case x: Float  => x.toDouble
      case x: Double => x
      case null      => 0.0
    }.toArray)

  private def build(groups: Seq[RequestGroup], requests: Seq[ScoringRequest],
                    eqs: Seq[Column], qid: StructField,
                    nullableHits: Boolean): RequestTopK = {
    val inputs = col("id").cast("long") +: col("vec") +: eqs
    // a request whose heap holds nothing never scores
    RequestTopK(inputs.map(GraftColumnBridge.expression), groups,
      requests.filter(r => groups(r.group).cap > 0), qid, nullableHits)
  }

  /** `agg`'s answer over the corpus `data` (id, vec, and label when a
    * request filters): (qid, rk 1..cap, nn_id, score rounded to 4dp) in
    * (qid, rk) order. A set where no request can score plans no scan
    * at all (limit 0 folds to an empty relation).
    */
  def answer(data: DataFrame, agg: RequestTopK): DataFrame =
    (if (agg.requests.isEmpty) data.limit(0) else data)
      .agg(GraftColumnBridge.column(agg.toAggregateExpression()).as("top"))
      .select(inline(col("top")))
      .withColumn("score", round(col("score"), 4))
      .orderBy("qid", "rk")
}
