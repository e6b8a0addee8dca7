package graft.operators

import scala.collection.mutable

import graft.Cut
import graft.functions.PairNumerics
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** THE DESCENT STORE: the corpus bucketed by id, each id with its graph
  * edges, so a beam round reads a node's vector and its neighbour list
  * from one record, as hnswlib's `searchKnn` does in process
  * (hnswlib_index.cc:28-46). The buckets are an RDD hash-partitioned by
  * id (partitioner kept), local-checkpointed (memory and disk, lineage
  * cut, so a read runs one stage) and materialized when built. Each
  * bucket indexes its rows by id and by IVF cell, and a round touches
  * only the buckets that own its ids (REPOSE's partition-local
  * expansion). While a bucket is held in memory a round's work in it
  * is the size of its ids; a bucket spilled to disk is one record, so
  * each round that touches it reads the whole bucket back.
  *
  * A read is ONE `Cut.job` with no query plan ([[byId]], [[byCell]]).
  * It returns one [[Hit]] per scored (query, row) pair, and on an id's
  * first hit in a task that id's edges, so the caller expands the next
  * frontier with no lookup. Scores are [[PairNumerics.cosine]] of the
  * row's vector and the query's, `VecCosine`'s interpreted path, bit
  * for bit; a NULL vector, a dimension mismatch or a zero norm scores
  * NULL.
  *
  * @param entry the hierarchy's enterpoint over the stored ids (max
  *              level, then min id), None for an empty corpus
  */
private[operators] final class DescentStore private (
    nodes: RDD[DescentStore.Bucket], edges: Option[RDD[DescentStore.Edges]],
    val entry: Option[Long]) {
  import DescentStore._

  private val partitioner = nodes.partitioner.get

  private lazy val parts: RDD[(Bucket, Edges)] = edges match {
    case Some(e) => nodes.zipPartitions(e)((b, a) => Iterator(b.next() -> a.next()))
    case None => nodes.map(_ -> noEdges)
  }

  /** This store's buckets with the edges (layer, src, dst) of
    * `layers` added, in both directions, to the ones it holds, bucketed
    * by src under the same partitioner: the one place graph edges are
    * made symmetric. A repeated edge is held once. The held edge arrays
    * are shared, not copied.
    */
  def withEdges(layers: DataFrame): DescentStore = {
    val fresh = layers.queryExecution.toRdd
      .flatMap { r =>
        if (r.anyNull) Nil
        else {
          val (l, a, b) = (r.getInt(0), r.getLong(1), r.getLong(2))
          Seq(a -> (l, b), b -> (l, a))
        }
      }
      .partitionBy(partitioner)
    val e = (edges match {
      case Some(held) => fresh.zipPartitions(held, preservesPartitioning = true)(
        (it, h) => Iterator(edgesOf(it, h.next())))
      case None => fresh.mapPartitions(it => Iterator(edgesOf(it, noEdges)),
        preservesPartitioning = true)
    }).localCheckpoint()
    e.count()
    new DescentStore(nodes, Some(e), entry)
  }

  /** Drop this store's buckets and edges from executor storage. Only
    * for a store no caller reads any more, and none was derived from.
    */
  def release(): Unit = {
    nodes.unpersist(blocking = false)
    edges.foreach(_.unpersist(blocking = false))
  }

  /** Score, for each id of `want`, its row last in scan order against
    * each of the id's queries: ONE job over the buckets that own the
    * ids. An id the corpus lacks has no hit.
    */
  def byId(want: Map[Long, Seq[Int]], qvecs: Broadcast[Array[Array[Double]]]): Array[Hit] = {
    val byPart = want.toSeq.groupBy(w => partitioner.getPartition(w._1))
      .map { case (p, ws) => p -> ws.map { case (id, qs) => id -> qs.toArray }.toArray }
    read(byPart.keys.toSeq.sorted) { (p, b, e) =>
      val qv = qvecs.value
      val x = new Scorer(b)
      byPart(p).iterator.flatMap { case (id, qs) =>
        val row = b.last.getOrElse(id, -1)
        if (row < 0) Iterator.empty else x.hits(row, qs, qv, e.getOrElse(id, null))
      }
    }
  }

  /** Score every row whose cell is a key of `want` against each query
    * that probes the cell: ONE job over every bucket.
    */
  def byCell(want: Map[Long, Seq[Int]], qvecs: Broadcast[Array[Array[Double]]]): Array[Hit] = {
    val cells = want.map { case (c, qs) => c -> qs.toArray }
    read(0 until partitioner.numPartitions) { (_, b, e) =>
      val qv = qvecs.value
      val x = new Scorer(b)
      val sent = mutable.HashSet.empty[Long]
      cells.iterator.flatMap { case (c, qs) =>
        b.inCell.getOrElse(c, Array.emptyIntArray).iterator.flatMap { row =>
          val id = b.ids(row)
          x.hits(row, qs, qv, if (sent.add(id)) e.getOrElse(id, null) else null)
        }
      }
    }
  }

  private def read(ps: Seq[Int])(f: (Int, Bucket, Edges) => Iterator[Hit]): Array[Hit] =
    Cut.job(parts, ps, Ann.MaxDescentRows, "Ann.MaxDescentRows", "descent round") {
      (p, it) => val (b, e) = it.next(); f(p, b, e)
    }
}

private[operators] object DescentStore {
  /** Edge layers a store holds: the base graph (0) and the hierarchy's
    * upper layers (1-4).
    */
  val Layers = 5

  /** A scored (query index, row) pair: `s` null for a NULL score;
    * `edges` the id's edges by layer on its first hit in a task, else
    * null; `pos` the row's scan position.
    */
  final case class Hit(q: Int, id: Long, pos: Long, s: java.lang.Double,
                       edges: Array[Array[Long]])

  /** Build a store of `rows` (id: bigint, pos: bigint, vec:
    * array<float|double>, cell: bigint, lvl: int) with no edges. `pos`
    * is the row's position in a plain scan of the corpus, so a
    * duplicate id resolves to the row that scan returns last. Rows with
    * a NULL id, pos or cell are not stored. One job, which also finds
    * the enterpoint.
    */
  def build(rows: DataFrame): DescentStore = {
    val isFloat = rows.schema("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case t => throw new IllegalArgumentException(
        s"descent store needs an array<float|double> vec, got ${t.sql}")
    }
    val scan = rows.select("id", "pos", "vec", "cell", "lvl").queryExecution.toRdd
    // a bucket per core, or per scan split when the corpus has more
    val n = math.max(scan.sparkContext.defaultParallelism, scan.getNumPartitions)
    val nodes = scan
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(3)) None
        else Some(r.getLong(0) -> Node(r.getLong(1), vecOf(r, isFloat), r.getLong(3),
          if (r.isNullAt(4)) 0 else r.getInt(4)))
      }
      .partitionBy(new HashPartitioner(n))
      .mapPartitions(it => Iterator(Bucket.of(it)), preservesPartitioning = true)
      .localCheckpoint()
    // one row per bucket
    val tops = nodes.map(b => (b.topLvl, b.topId)).collect().filter(_._1 >= 0)
    val entry = if (tops.isEmpty) None
      else Some(tops.min(Ordering.Tuple2(Ordering.Int.reverse, Ordering.Long))._2)
    new DescentStore(nodes, None, entry)
  }

  private def vecOf(r: InternalRow, isFloat: Boolean): AnyRef =
    if (r.isNullAt(2)) null
    else if (isFloat) r.getArray(2).toFloatArray()
    else r.getArray(2).toDoubleArray()

  final case class Node(pos: Long, vec: AnyRef, cell: Long, lvl: Int)

  /** One bucket's rows in scan order, indexed by id (the last row of
    * each id) and by cell (rows in scan order).
    */
  final class Bucket private (val ids: Array[Long], val pos: Array[Long],
                              val vecs: Array[AnyRef],
                              val last: mutable.LongMap[Int],
                              val inCell: mutable.LongMap[Array[Int]],
                              val topLvl: Int, val topId: Long) extends Serializable

  object Bucket {
    def of(it: Iterator[(Long, Node)]): Bucket = {
      val rows = it.toArray.sortBy(_._2.pos)
      val last = mutable.LongMap.empty[Int]
      val cells = mutable.LongMap.empty[mutable.ArrayBuilder.ofInt]
      var (topLvl, topId) = (-1, 0L)
      for (((id, r), i) <- rows.zipWithIndex) {
        last(id) = i
        cells.getOrElseUpdate(r.cell, new mutable.ArrayBuilder.ofInt) += i
        if (r.lvl > topLvl || (r.lvl == topLvl && id < topId)) { topLvl = r.lvl; topId = id }
      }
      new Bucket(rows.map(_._1), rows.map(_._2.pos), rows.map(_._2.vec), last,
        cells.map { case (c, b) => c -> b.result() }, topLvl, topId)
    }
  }

  /** One bucket's edges: each src id's sorted, distinct dsts by layer. */
  type Edges = mutable.LongMap[Array[Array[Long]]]

  private val noEdges: Edges = mutable.LongMap.empty

  /** `held` with the edges of `it` added to each src's layers. */
  private def edgesOf(it: Iterator[(Long, (Int, Long))], held: Edges): Edges = {
    val by = mutable.LongMap.empty[Array[mutable.SortedSet[Long]]]
    for ((src, (layer, dst)) <- it)
      by.getOrElseUpdate(src, Array.fill(Layers)(mutable.SortedSet.empty[Long]))(layer) += dst
    val out = held.clone()
    for ((src, sets) <- by) {
      val h = held.getOrElse(src, null)
      out(src) = Array.tabulate(Layers) { l =>
        if (h == null) sets(l).toArray
        else if (sets(l).isEmpty) h(l)
        else (sets(l) ++= h(l)).toArray
      }
    }
    out
  }

  /** Scores one bucket's rows, widening a float vector into one buffer. */
  private final class Scorer(b: Bucket) {
    private var buf = new Array[Double](0)

    private def widened(row: Int): Array[Double] = b.vecs(row) match {
      case null => null
      case d: Array[Double] => d
      case f: Array[Float] =>
        if (buf.length != f.length) buf = new Array[Double](f.length)
        var i = 0
        while (i < f.length) { buf(i) = f(i); i += 1 }
        buf
    }

    def hits(row: Int, qs: Array[Int], qv: Array[Array[Double]],
             edges: Array[Array[Long]]): Iterator[Hit] = {
      val x = widened(row)
      qs.iterator.zipWithIndex.map { case (q, j) =>
        val y = qv(q)
        val s = if (x == null || y == null || x.length != y.length) null
          else PairNumerics.cosine(x, y, x.length)
        Hit(q, b.ids(row), b.pos(row), s, if (j == 0) edges else null)
      }
    }
  }
}
