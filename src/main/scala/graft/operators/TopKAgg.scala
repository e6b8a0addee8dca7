package graft.operators

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.UserDefinedFunction

/** One (sort-key, id) candidate. Lower key = better; callers negate
  * similarities to rank descending metrics.
  */
case class ScoredId(key: Double, id: Long)

case class TopKResult(items: Seq[ScoredId])

/** Mutable bounded binary max-heap over (key, id) — the aggregation
  * buffer. Primitive parallel arrays, zero allocation per insert once
  * warm: the root is the WORST retained candidate, so a full heap
  * rejects a worse-than-root candidate with one comparison and
  * admits a better one with one O(log k) sift — the exact per-element
  * cost profile of FAISS's in-memory k-heap (faiss_index.cc:40),
  * here as a Spark aggregation buffer. The previous buffer was an
  * immutable List with a sort-every-4k compaction: three heap
  * allocations per scored row and O(cap log cap) periodic sorts, all
  * of it garbage — measurable GC pressure when the scored stream is
  * |corpus|×|queries| rows.
  *
  * Total order (key ASC, id ASC), keys compared as Spark compares
  * doubles (-0.0 equals 0.0, NaN is greater than every number and
  * equal to NaN): no ties, so the retained set is unique regardless of
  * arrival or merge order (PropertySpec pins this
  * distribution-invariance without Spark, NaN keys included).
  */
final class TopKHeap(val k: Int) extends Serializable {
  val keys: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)
  var size: Int = 0

  // strictly worse = greater (key, id); the last branch is reached only
  // when a key is NaN
  @inline private def worse(k1: Double, i1: Long,
                            k2: Double, i2: Long): Boolean =
    if (k1 > k2) true
    else if (k1 < k2) false
    else if (k1 == k2) i1 > i2
    else k1.isNaN && (!k2.isNaN || i1 > i2)

  def insert(key: Double, id: Long): Unit = {
    if (size < k) {
      var i = size
      keys(i) = key; ids(i) = id; size += 1
      // sift up while worse than the parent
      var done = false
      while (!done && i > 0) {
        val p = (i - 1) >> 1
        if (worse(keys(i), ids(i), keys(p), ids(p))) {
          val tk = keys(i); keys(i) = keys(p); keys(p) = tk
          val ti = ids(i); ids(i) = ids(p); ids(p) = ti
          i = p
        } else done = true
      }
    } else if (k > 0 && worse(keys(0), ids(0), key, id)) {
      keys(0) = key; ids(0) = id
      // sift down: swap with the worse child while better than it
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < size && worse(keys(l), ids(l), keys(w), ids(w))) w = l
        if (r < size && worse(keys(r), ids(r), keys(w), ids(w))) w = r
        if (w == i) done = true
        else {
          val tk = keys(i); keys(i) = keys(w); keys(w) = tk
          val ti = ids(i); ids(i) = ids(w); ids(w) = ti
          i = w
        }
      }
    }
  }

  /** Fold `other` in (mutates and returns this). */
  def mergeFrom(other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { insert(other.keys(i), other.ids(i)); i += 1 }
    this
  }

  /** Retained candidates best-first. */
  def sorted: Seq[ScoredId] =
    Array.tabulate(size)(i => ScoredId(keys(i), ids(i)))
      .sortBy(s => (s.key, s.id)).toIndexedSeq
}

/** Bounded top-k as a typed Aggregator — the scale-critical kernel.
  *
  * The Spark-native k-NN must NOT be a window `row_number() <= k`
  * (that shuffles all Q×N scored rows); as a Catalyst Aggregator it
  * gets map-side partial aggregation: each input partition reduces to
  * ≤k candidates per query before the exchange, so the shuffle
  * carries O(Q·k·partitions) rows regardless of table size — the
  * property that keeps exact brute-force k-NN feasible at 100 TB.
  *
  * The buffer travels Kryo-serialized (primitive arrays — compact and
  * fast); between rows it lives as a mutable object in the
  * ObjectHashAggregate, so the per-row path allocates nothing.
  *
  * Ties break on ascending id, so results are deterministic and match
  * the oracle's `ORDER BY key, id`.
  */
class TopKAgg(k: Int) extends Aggregator[ScoredId, TopKHeap, TopKResult] {

  override def zero: TopKHeap = new TopKHeap(k)

  override def reduce(b: TopKHeap, a: ScoredId): TopKHeap = {
    b.insert(a.key, a.id); b
  }

  override def merge(b1: TopKHeap, b2: TopKHeap): TopKHeap =
    if (b2.size > b1.size) b2.mergeFrom(b1) else b1.mergeFrom(b2)

  override def finish(b: TopKHeap): TopKResult = TopKResult(b.sorted)

  override def bufferEncoder: Encoder[TopKHeap] = Encoders.kryo[TopKHeap]
  override def outputEncoder: Encoder[TopKResult] = Encoders.product[TopKResult]
}

object TopKAgg {
  /** Untyped-API handle: call as `topK(keyCol, idCol)`; yields a
    * struct with an `items` array<struct<key,id>> sorted best-first.
    */
  def topK(k: Int): UserDefinedFunction =
    udaf(new TopKAgg(k), Encoders.product[ScoredId])
}
