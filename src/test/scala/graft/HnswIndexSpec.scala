package graft

import java.nio.file.Files

import graft.operators.Ann
import org.apache.spark.sql.functions._

/** Persisted HNSW hierarchy: the (layer, cell)-partitioned table is
  * searchable, equal to the in-memory descent, and incrementally
  * maintainable (upsert/delete ≡ rebuild with churn-local writes).
  */
class HnswIndexSpec extends SparkSuite {

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def hierSet(path: String): Set[(Int, Long, Int, Long, Double)] =
    Ann.hnswRead(spark, path).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
      .toSet

  test("persisted hierarchy search equals the in-memory hnsw search") {
    val mem = Ann.hnswQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val idx = Ann.hnswIndexedQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(mem.nonEmpty)
    assert(mem.toSeq == idx.toSeq,
      "persisted-hierarchy search drifted from the in-memory descent")
  }

  test("persisted ≡ in-memory hierarchy search over a corpus with a " +
    "NaN-component row in the upper layers") {
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hnswnan")
    val dir = root.toString
    val idx = root.resolve("idx").toString
    val hp = root.resolve("hier").toString
    // NaN bits compare equal, so a NaN score in both answers matches
    def answer(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
    try {
      val src = spark.read.parquet(s"$sf/embeddings.parquet")
      // every cosine against this row is NaN: a layer that ranks NaN
      // first links it to each of its probers, one that ranks it last
      // to none
      val nanId = src.where(col("vec_id") >= 5 &&
          Ann.hnswLevel(col("vec_id")) >= 1)
        .agg(min("vec_id")).head().getLong(0)
      src.withColumn("embedding", when(col("vec_id") === nanId,
          transform(col("embedding"), (x, i) =>
            when(i === 0, lit(Float.NaN)).otherwise(x)))
          .otherwise(col("embedding")))
        .write.parquet(root.resolve("embeddings.parquet").toString)
      val e = Tables.embeddings(spark, dir)
      Ann.ivfBuildIndex(spark,
        e.select(col("vec_id").as("id"), col("embedding").as("vec")), idx)
      // the NaN row is left out of the Lloyd means: no stored centroid
      // turns NaN and stops attracting vectors
      val cvecs = spark.read.parquet(idx + "_centroids").collect()
        .map(_.getSeq[Float](1))
      assert(cvecs.nonEmpty && cvecs.forall(_.forall(x => !x.isNaN && !x.isInfinite)),
        "a non-finite row poisoned a trained centroid")
      Ann.hnswBuild(spark, idx, hp)
      // every row a query: the NaN row reaches both paths' beams, and
      // where the layers link it in decides which rows it displaces
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val mem = answer(Ann.hnswSearch(spark, dir, q))
      assert(mem.nonEmpty)
      assert(mem == answer(Ann.hnswSearchIndexed(spark, idx, hp, q)),
        "a NaN score ranks differently in the in-memory and persisted layers")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("hierarchy upsert equals a full rebuild; only affected " +
    "(layer, cell) partitions rewrite") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hnswup")
    val idx = root.resolve("idx").toString
    val hp = root.resolve("hier").toString
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.hnswBuild(spark, idx, hp)
      val before = new java.io.File(hp).listFiles()
        .filter(_.getName.startsWith("layer="))
        .flatMap(l => l.listFiles().filter(_.getName.startsWith("cell="))
          .map(c => s"${l.getName}/${c.getName}" ->
            c.listFiles().map(_.getName).toSet)).toMap

      val donors = emb.where(col("id") >= 200 && col("id") < 204)
        .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
      val updates = Seq((0L, donors(0)), (7L, donors(1)),
        (90001L, donors(2)), (90002L, donors(3))).toDF("id", "vec")
      Ann.hnswUpsert(spark, idx, hp, updates)

      val rebuilt = root.resolve("rebuilt").toString
      Ann.hnswBuild(spark, idx, rebuilt)
      assert(hierSet(hp) == hierSet(rebuilt),
        "incremental hierarchy maintenance drifted from a full rebuild")
      assert(hierSet(hp).nonEmpty)
      // base + at least one upper layer present (a layer with < 2
      // members has no edges by construction, so the sparsest top
      // layers may legitimately be empty at small SF)
      val layers = Ann.hnswRead(spark, hp).select("layer").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(layers.contains(0) && layers.exists(_ >= 1),
        s"expected base + upper layers, got $layers")

      val after = new java.io.File(hp).listFiles()
        .filter(_.getName.startsWith("layer="))
        .flatMap(l => l.listFiles().filter(_.getName.startsWith("cell="))
          .map(c => s"${l.getName}/${c.getName}" ->
            c.listFiles().map(_.getName).toSet)).toMap
      val untouched = before.filter { case (b, fs) =>
        after.get(b).contains(fs)
      }
      assert(untouched.nonEmpty,
        "every (layer, cell) partition was rewritten — locality lost")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("crashed hierarchy batch + DIFFERENT next batch: marker ids " +
    "repair every layer ≡ rebuild") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hnswcrash")
    val idx = root.resolve("idx").toString
    val hp = root.resolve("hier").toString
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.hnswBuild(spark, idx, hp)
      val donors = emb.where(col("id") >= 200 && col("id") < 204)
        .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
      // crashed batch A: a move + a new id; marker (cells + ids)
      // lands, index upsert applies, hierarchy publish never runs
      val batchA = Seq((0L, donors(0)), (90001L, donors(1)))
        .toDF("id", "vec")
      val aCells = spark.read.parquet(idx)
        .join(batchA.select("id"), "id")
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0))
      aCells.toSeq.toDF("v")
        .select(col("v").as("cell"), lit(null).cast("long").as("id"))
        .unionByName(Seq(0L, 90001L).toDF("v")
          .select(lit(null).cast("long").as("cell"), col("v").as("id")))
        .coalesce(1).write.mode("overwrite").parquet(hp + "_intent")
      Ann.ivfIndexUpsert(spark, idx, batchA)
      // recovery rides a DISJOINT batch B
      val batchB = Seq((25L, donors(2))).toDF("id", "vec")
      Ann.hnswUpsert(spark, idx, hp, batchB)
      val rebuilt = root.resolve("rebuilt").toString
      Ann.hnswBuild(spark, idx, rebuilt)
      assert(hierSet(hp) == hierSet(rebuilt),
        "hierarchy different-batch recovery drifted from the rebuild")
      assert(!new java.io.File(hp + "_intent").exists())
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("streamed WAL tail maintains index AND hierarchy ≡ rebuild " +
    "of the final corpus") {
    import graft.sources.WalBinary
    def walLine(logId: Long, version: Long, id: Long,
                vec: Array[Float]): String =
      s"""$logId|$version|upsert|{"id":$id,"vectors":[${vec.mkString(",")}]}"""
    def delLine(logId: Long, version: Long, id: Long): String =
      s"""$logId|$version|delete|{"id":$id}"""
    // second input adds tombstones: id 90002 upserted then deleted
    // inside the first micro-batch (wal_log_0 fits one trigger's byte
    // budget), and a delete segment after the upserts
    Seq(false, true).foreach { tombstones =>
      val root = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "hnswstream")
      val idx = root.resolve("idx").toString
      val hp = root.resolve("hier").toString
      val wal = root.resolve("wal")
      val ckpt = root.resolve("ckpt").toString
      Files.createDirectories(wal)
      try {
        Ann.ivfBuildIndex(spark, emb, idx, stride = 50)
        Ann.hnswBuild(spark, idx, hp)
        val donors = emb.where(col("id") >= 100 && col("id") < 106)
          .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
        val seg1 = Seq(
          walLine(1000L, 2L, 0L, donors(0)),
          walLine(1001L, 2L, 3L, donors(1)))
        val seg2 = Seq(
          walLine(2000L, 3L, 0L, donors(2)),
          walLine(2001L, 2L, 90001L, donors(3)))
        Files.write(wal.resolve("wal_log_1"), WalBinary.frame(seg1))
        Files.write(wal.resolve("wal_log_2"), WalBinary.frame(seg2))
        if (tombstones) {
          Files.write(wal.resolve("wal_log_0"), WalBinary.frame(Seq(
            walLine(900L, 2L, 90002L, donors(4)), delLine(901L, 3L, 90002L))))
          Files.write(wal.resolve("wal_log_3"), WalBinary.frame(Seq(
            delLine(3000L, 4L, 3L), delLine(3001L, 2L, 7L))))
        }
        val lines = spark.readStream.format("graft-wal")
          .option("maxBytesPerTrigger", "1500")
          .load(wal.toString)
        val q = graft.streaming.HnswMaintenance.attach(lines, idx, hp, ckpt)
        try q.processAllAvailable() finally q.stop()

        val rebuilt = root.resolve("rebuilt").toString
        Ann.hnswBuild(spark, idx, rebuilt)
        assert(hierSet(hp) == hierSet(rebuilt),
          s"streamed hierarchy maintenance drifted from a rebuild (tombstones=$tombstones)")
        val nodes = Ann.hnswRead(spark, hp)
          .where(col("layer") === 0).select("qid").distinct()
          .collect().map(_.getLong(0)).toSet
        assert(nodes.contains(90001L) && nodes.contains(0L))
        if (tombstones) {
          val gone = Set(3L, 7L, 90002L)
          assert(hierSet(hp).forall { case (_, qid, _, nn, _) => !gone(qid) && !gone(nn) },
            "a deleted id is still a node or a neighbour")
          assert(spark.read.parquet(idx).where(col("id").isin(gone.toSeq: _*)).isEmpty,
            "a deleted id is still in the index")
        }
      } finally {
        import scala.reflect.io.Directory
        new Directory(root.toFile).deleteRecursively()
      }
    }
  }

  test("hierarchy delete equals a rebuild on the pruned index and " +
    "drops the deleted nodes from every layer") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "hnswdel")
    val idx = root.resolve("idx").toString
    val hp = root.resolve("hier").toString
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.hnswBuild(spark, idx, hp)
      // delete a mix: a level>=1 node (any multiple-of-8 hash) plus
      // plain base nodes — pick by recomputing levels
      val lv = emb.select(col("id"), Ann.hnswLevel(col("id")).as("lvl"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val upper = lv.collect { case (id, l) if l >= 1 => id }.take(2).toSeq
      val dels = (upper ++ Seq(1L, 2L)).distinct
      Ann.hnswDelete(spark, idx, hp, dels.toDF("id"))

      val rebuilt = root.resolve("rebuilt").toString
      Ann.hnswBuild(spark, idx, rebuilt)
      assert(hierSet(hp) == hierSet(rebuilt),
        "delete maintenance drifted from a full rebuild")
      val remaining = Ann.hnswRead(spark, hp)
      dels.foreach { d =>
        assert(remaining.where(col("qid") === d || col("nn_id") === d)
          .isEmpty, s"deleted node $d still present in the hierarchy")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }
}
