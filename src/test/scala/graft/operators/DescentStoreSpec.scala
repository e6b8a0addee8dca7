package graft.operators

import java.nio.file.Files

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[DescentStore.withEdges]] holds every edge in both directions, and
  * the persisted hierarchy's store is never served stale: in one JVM, a search after `hnswUpsert`, `hnswDelete` or a direct
  * `ivfIndexUpsert` answers as a search over the rewritten files does.
  * Each write moves or drops an id the previous answer ranked first, so
  * a stale store would answer differently.
  */
class DescentStoreSpec extends SparkSuite {

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val vecs: Map[Long, Seq[Float]] =
    emb.where(col("id") < 400).collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  /** Queries equal to the vectors of ids 3, 41 and 77, so each ranks
    * its own id first (then any id upserted with the same vector).
    */
  private def queries: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Seq(3L, 41L, 77L).map(i => Row(i, vecs(i))): _*),
    StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(FloatType)))))

  private def answer(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  private def firsts(a: Seq[(Long, Int, Long, Double)]): Set[Long] =
    a.filter(_._2 == 1).map(_._3).toSet

  /** Each id's held edges by layer, read through one store job. */
  private def held(store: DescentStore, ids: Seq[Long]): Map[Long, Seq[Seq[Long]]] = {
    val q = spark.sparkContext.broadcast(Array(Array(1.0, 0.0)))
    store.byId(ids.map(_ -> Seq(0)).toMap, q).map { h =>
      h.id -> (if (h.edges == null) Seq.fill(DescentStore.Layers)(Seq.empty[Long])
        else h.edges.toSeq.map(_.toSeq))
    }.toMap
  }

  /** Both directions of each (layer, src, dst), sorted and distinct. */
  private def symmetric(edges: Seq[(Int, Long, Long)], ids: Seq[Long]): Map[Long, Seq[Seq[Long]]] = {
    val both = edges.flatMap { case (l, a, b) => Seq((a, l, b), (b, l, a)) }
    ids.map(i => i -> Seq.tabulate(DescentStore.Layers)(l =>
      both.collect { case (`i`, `l`, d) => d }.distinct.sorted)).toMap
  }

  private def nodes(ids: Seq[Long], vec: Long => Seq[Float]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, i, vec(i), 0L, 0)).toDF("id", "pos", "vec", "cell", "lvl")
  }

  test("withEdges given one direction of each edge, with duplicates, holds " +
    "every id's sorted, distinct neighbours in both directions") {
    import spark.implicits._
    val ids = (1L to 6L).toSeq
    // (1,2) twice and (2,1) once; layer 1 holds (2,6) both ways
    val given = Seq((0, 1L, 2L), (0, 1L, 2L), (0, 2L, 1L), (0, 1L, 5L),
      (0, 3L, 1L), (0, 4L, 6L), (1, 2L, 6L), (1, 6L, 2L))
    val store = DescentStore.build(nodes(ids, i => Seq(1f, i.toFloat)))
      .withEdges(given.toDF("layer", "src", "dst"))
    assert(held(store, ids) == symmetric(given, ids))
    assert(held(store, ids)(1L).head == Seq(2L, 3L, 5L))

    // the edge builder's layer-1 edges come out one direction; the
    // store holds them symmetric
    val layer1 = Ann.hnswLayerEdges(spark, sf, 1).collect()
      .map(r => (1, r.getLong(0), r.getLong(2))).toSeq
    assert(layer1.exists { case (_, a, b) => !layer1.contains((1, b, a)) },
      "fixture: the layer-1 edges are already symmetric")
    val all = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val corpus = all.keys.toSeq.sorted
    val built = DescentStore.build(nodes(corpus, all)).withEdges(
      Ann.hnswLayerEdges(spark, sf, 1).select(lit(1).as("layer"), col("qid"), col("nn_id")))
    val h = held(built, corpus)
    assert(h == symmetric(layer1, corpus))
    assert(h.forall { case (a, ls) => ls(1).forall(b => h(b)(1).contains(a)) })
  }

  test("a persisted search after hnswUpsert, hnswDelete and ivfIndexUpsert " +
    "reads the rewritten index") {
    import spark.implicits._
    val root = Files.createTempDirectory(java.nio.file.Paths.get("target"), "descentstore")
    val idx = root.resolve("idx").toString
    val hp = root.resolve("hier").toString
    def search(h: String) = answer(Ann.hnswSearchIndexed(spark, idx, h, queries))
    def fresh(name: String) = {
      val h = root.resolve(name).toString
      Ann.hnswBuild(spark, idx, h)
      search(h)
    }
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.hnswBuild(spark, idx, hp)
      val before = search(hp)
      assert(firsts(before) == Set(3L, 41L, 77L), s"fixture: $before")

      // id 3 moves onto id 300's vector; a new id takes id 41's
      Ann.hnswUpsert(spark, idx, hp,
        Seq((3L, vecs(300L)), (90001L, vecs(41L))).toDF("id", "vec"))
      val upserted = search(hp)
      assert(!firsts(upserted).contains(3L), s"upsert served stale: $upserted")
      assert(upserted == fresh("rebuilt1"), "upsert: store differs from a fresh hnswBuild")

      Ann.hnswDelete(spark, idx, hp, Seq(41L, 77L).toDF("id"))
      val deleted = search(hp)
      assert(!deleted.exists(r => r._3 == 41L || r._3 == 77L), s"delete served stale: $deleted")
      assert(deleted == fresh("rebuilt2"), "delete: store differs from a fresh hnswBuild")

      // a direct index write leaves the hierarchy as it is: the search
      // must read the new vectors over the old edges, as the relational
      // walk over the same files does
      Ann.ivfIndexUpsert(spark, idx, Seq((90001L, vecs(300L).toArray)).toDF("id", "vec"))
      assert(firsts(deleted).contains(90001L), s"fixture: $deleted")
      val direct = search(hp)
      assert(!firsts(direct).contains(90001L), s"index upsert served stale: $direct")
      assert(direct == answer(LegacyDescent.ranked(
        LegacyDescent.hnswIndexed(spark, idx, hp, queries).frontier, 10)
        .orderBy("qid", "rk")), "ivfIndexUpsert: store differs from the relational walk")
    } finally new scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }
}
