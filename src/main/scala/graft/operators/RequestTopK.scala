package graft.operators

import java.nio.ByteBuffer

import graft.functions.PairNumerics
import org.apache.spark.sql.{GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** One heap of a request batch: the `(qid, metric, k)` key the batch
  * groups by, and the heap's capacity (`min(k, maxK)`, 0 when k is
  * NULL). `qid` is a Catalyst value of the batch's qid type; `k` is
  * NULL-able.
  */
private[graft] final case class RequestGroup(qid: Any, metric: String,
                                             k: java.lang.Long, cap: Int)

/** One scoring request. `metric` is one of [[RequestTopK.L2]],
  * [[RequestTopK.L1]], [[RequestTopK.IP]]; `filter` one of
  * [[RequestTopK.Pass]], [[RequestTopK.Eq]], [[RequestTopK.Ne]], and
  * `slot` names the `label = fval` input column an `Eq`/`Ne` filter
  * reads. `qvec` is the query widened to double (exact for a float
  * query).
  */
private[graft] final case class ScoringRequest(group: Int, metric: Int,
                                               filter: Int, slot: Int,
                                               qvec: ArraySeq[Double])

/** [[RequestTopK]]'s buffer: one heap per request group, plus scratch
  * for the current corpus row — its vector widened to double and its
  * `label = fval_j` outcomes ([[RequestTopK.Eq]], [[RequestTopK.Ne]]
  * or [[RequestTopK.NullEq]]) — reused across rows.
  */
private[graft] final class RequestHeaps(val heaps: Array[TopKHeap],
                                        val eq: Array[Int]) {
  var row: Array[Double] = Array.emptyDoubleArray
}

/** Fused exact top-k for a whole `/search` batch: ONE aggregate over
  * the corpus with no grouping key. The buffer is one [[TopKHeap]]
  * per request group; each corpus row is scored against every
  * request whose filter it passes, in a primitive loop, and offered
  * to that request's heap. Partitions exchange only the heaps
  * (≤ Σ cap candidates each), and the single result row is an array
  * of `(qid, metric, k, rk, key, nn_id)` — every group's retained
  * candidates best-first, `key` lower-is-better (IP negated).
  *
  * Inputs: `children = id (bigint), vec (array<float|double>),
  * eq_0 … eq_n (boolean)`, where `eq_j` is `label = fval_j` for the
  * j-th distinct filter value of the batch: Spark's own `=`, resolved
  * with its type coercion, evaluated here once per corpus row. (As
  * inputs of the aggregate, not a projection below it, the batch's
  * filter values stay out of the scan stage's generated code, which is
  * then the same class for every batch.) A NULL vector, a dimension
  * mismatch or a NULL `eq_j` scores nothing, as a NULL key or a
  * failed predicate did in the cross-join form.
  *
  * Numerics: [[PairNumerics]], the same calls `VecL2`/`VecL1`/
  * `VecDot` make: each corpus row is widened to double once, straight
  * off its array data, and scored against every request — scores are
  * bit-identical to those kernels and the corpus column is never
  * cast.
  */
private[graft] case class RequestTopK(
    children: Seq[Expression],
    groups: Seq[RequestGroup],
    requests: Seq[ScoringRequest],
    qidType: DataType,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[RequestHeaps] {

  import RequestTopK._

  override def prettyName: String = "request_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", qidType),
    StructField("metric", StringType),
    StructField("k", LongType),
    StructField("rk", IntegerType, nullable = false),
    StructField("key", DoubleType, nullable = false),
    StructField("nn_id", LongType, nullable = false))), containsNull = false)

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
    var r = 0
    while (r < reqs.length) {
      val req = reqs(r)
      val q = qvecs(r)
      if ((req.filter == Pass || buf.eq(req.slot) == req.filter) &&
          q.length == n) {
        val key = req.metric match {
          case L2 => PairNumerics.l2(x, q, n)
          case L1 => PairNumerics.l1(x, q, n)
          case _  => -PairNumerics.dot(x, q, n)
        }
        buf.heaps(req.group).insert(key, id)
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
      val metric = if (g.metric == null) null else UTF8String.fromString(g.metric)
      h.sorted.zipWithIndex.foreach { case (s, pos) =>
        out += InternalRow(g.qid, metric, g.k, pos + 1, s.key, s.id)
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
  // metric codes
  final val L2 = 0
  final val L1 = 1
  final val IP = 2
  // filter codes; NullEq is a row's `label = fval` outcome only
  final val Pass = 0
  final val Eq = 1
  final val Ne = 2
  final val NullEq = 3

  /** The aggregate for a collected request batch.
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
        val m = metric match {
          case "L2" => L2
          case "L1" => L1
          case _    => IP
        }
        // a NULL element reads as 0, as the kernels' array reads do
        ScoringRequest(g, m, f, slot, ArraySeq.unsafeWrapArray(
          r.getSeq[Any](1).map {
            case x: Float  => x.toDouble
            case x: Double => x
            case null      => 0.0
          }.toArray))
      }
    }
    val heaps = groups.toSeq.map { case ((qid, metric, k), _) =>
      RequestGroup(qid, metric, k,
        if (k == null) 0 else math.max(0L, math.min(k.longValue, maxK)).toInt)
    }
    val inputs = col("id").cast("long") +: col("vec") +:
      slots.toSeq.map { case (fval, _) =>
        col("label") === lit(fval).cast(fvalType) }
    // a request whose heap holds nothing never scores
    RequestTopK(inputs.map(GraftColumnBridge.expression), heaps,
      requests.filter(r => heaps(r.group).cap > 0), qidType)
  }
}
