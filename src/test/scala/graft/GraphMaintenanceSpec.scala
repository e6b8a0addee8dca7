package graft

import java.nio.file.Files

import graft.operators.Ann
import graft.sources.WalBinary
import graft.streaming.GraphMaintenance
import org.apache.spark.sql.functions._

class GraphMaintenanceSpec extends SparkSuite {

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def walLine(logId: Long, version: Long, id: Long,
                      vec: Array[Float]): String =
    s"""$logId|$version|upsert|{"id":$id,"vectors":[${vec.mkString(",")}]}"""

  private def delLine(logId: Long, version: Long, id: Long): String =
    s"""$logId|$version|delete|{"id":$id}"""

  private def graphSet(path: String): Set[(Long, Int, Long, Double)] =
    Ann.knnGraphRead(spark, path).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("incremental graph upsert equals a full rebuild; only affected " +
    "cell partitions rewrite") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "gmaint")
    val idx = root.resolve("idx").toString
    val gp = root.resolve("graph").toString
    try {
      // stride 10 → ~50 cells of ~10 members: locality is only
      // observable when cells outnumber a cell's prober set (at the
      // default 3 cells every node probes a touched cell and the
      // whole graph is legitimately affected)
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.knnGraphBuild(spark, idx, gp)
      val fileOf = new java.io.File(gp, "layer=0").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap

      // moves (cell changes likely) + brand-new ids
      val donors = emb.where(col("id") >= 200 && col("id") < 204)
        .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
      val updates = Seq((0L, donors(0)), (7L, donors(1)),
        (90001L, donors(2)), (90002L, donors(3))).toDF("id", "vec")
      Ann.knnGraphUpsert(spark, idx, gp, updates)

      // maintained graph ≡ rebuilding from scratch on the updated index
      val rebuilt = root.resolve("rebuilt").toString
      Ann.knnGraphBuild(spark, idx, rebuilt)
      assert(graphSet(gp) == graphSet(rebuilt),
        "incremental maintenance drifted from a full rebuild")
      assert(graphSet(gp).nonEmpty)

      // locality: at least one bucket kept its original files
      val after = new java.io.File(gp, "layer=0").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
      val untouched = fileOf.filter { case (b, fs) => after.get(b).contains(fs) }
      assert(untouched.nonEmpty,
        "every cell partition was rewritten — affected-set pruning lost")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("replay after a crash between index upsert and graph publish " +
    "repairs via the intent marker ≡ rebuild") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "gcrash")
    val idx = root.resolve("idx").toString
    val gp = root.resolve("graph").toString
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.knnGraphBuild(spark, idx, gp)
      val donors = emb.where(col("id") >= 200 && col("id") < 204)
        .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
      val updates = Seq((0L, donors(0)), (7L, donors(1)),
        (90001L, donors(2)), (90002L, donors(3))).toDF("id", "vec")
      // SIMULATED CRASH inside knnGraphUpsert's window: the intent
      // marker is written and the index upsert lands, but the graph
      // publish never runs — exactly the state a died batch leaves
      val oldCells = spark.read.parquet(idx)
        .join(updates.select("id"), "id")
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0))
      oldCells.toSeq.toDF("cell")
        .coalesce(1).write.mode("overwrite").parquet(gp + "_intent")
      Ann.ivfIndexUpsert(spark, idx, updates)
      // the foreachBatch REPLAY: same batch, index already updated —
      // without the marker, oldCells would now read as the NEW cells
      // and the moved ids' former partitions would keep stale rows
      Ann.knnGraphUpsert(spark, idx, gp, updates)
      val rebuilt = root.resolve("rebuilt").toString
      Ann.knnGraphBuild(spark, idx, rebuilt)
      assert(graphSet(gp) == graphSet(rebuilt),
        "crash-window replay did not converge to the rebuild")
      // marker retired after the successful publish
      assert(!new java.io.File(gp + "_intent").exists())
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("crashed batch + DIFFERENT next batch: marker ids re-resolve " +
    "moved nodes whose new probe sets miss every recorded cell") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "gcrash2")
    val idx = root.resolve("idx").toString
    val gp = root.resolve("graph").toString
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.knnGraphBuild(spark, idx, gp)
      val donors = emb.where(col("id") >= 200 && col("id") < 204)
        .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
      // crashed batch A moves 0 and 7 and adds 90001
      val batchA = Seq((0L, donors(0)), (7L, donors(1)),
        (90001L, donors(2))).toDF("id", "vec")
      // SIMULATED CRASH: the (cells + ids) marker lands and the index
      // upsert applies, but the graph publish never runs
      val aCells = spark.read.parquet(idx)
        .join(batchA.select("id"), "id")
        .select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0))
      aCells.toSeq.toDF("v")
        .select(col("v").as("cell"), lit(null).cast("long").as("id"))
        .unionByName(Seq(0L, 7L, 90001L).toDF("v")
          .select(lit(null).cast("long").as("cell"), col("v").as("id")))
        .coalesce(1).write.mode("overwrite").parquet(gp + "_intent")
      Ann.ivfIndexUpsert(spark, idx, batchA)
      // the NEXT run carries a disjoint batch B — batch A's ids are
      // only reachable through the surviving marker
      val batchB = Seq((25L, donors(3))).toDF("id", "vec")
      Ann.knnGraphUpsert(spark, idx, gp, batchB)
      val rebuilt = root.resolve("rebuilt").toString
      Ann.knnGraphBuild(spark, idx, rebuilt)
      assert(graphSet(gp) == graphSet(rebuilt),
        "different-batch recovery did not converge to the rebuild")
      assert(!new java.io.File(gp + "_intent").exists())
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("a crashed upsert marker read by a DELETE run repairs without " +
    "deleting the crashed batch's live nodes") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "gcrash3")
    val idx = root.resolve("idx").toString
    val gp = root.resolve("graph").toString
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.knnGraphBuild(spark, idx, gp)
      val donors = emb.where(col("id") >= 200 && col("id") < 202)
        .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
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
        .coalesce(1).write.mode("overwrite").parquet(gp + "_intent")
      Ann.ivfIndexUpsert(spark, idx, batchA)
      // next operation is a DELETE of an unrelated id
      Ann.knnGraphDelete(spark, idx, gp, Seq(13L).toDF("id"))
      // crashed batch's live nodes survive in the index AND the graph
      assert(spark.read.parquet(idx)
        .where(col("id").isin(0L, 90001L)).count() == 2)
      val rebuilt = root.resolve("rebuilt").toString
      Ann.knnGraphBuild(spark, idx, rebuilt)
      assert(graphSet(gp) == graphSet(rebuilt),
        "cross-op recovery (upsert marker → delete run) drifted")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("graph delete: index loses the ids, probers re-resolve their " +
    "edges, result ≡ rebuild on the remaining corpus") {
    import spark.implicits._
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "gdel")
    val idx = root.resolve("idx").toString
    val gp = root.resolve("graph").toString
    try {
      Ann.ivfBuildIndex(spark, emb, idx, stride = 10)
      Ann.knnGraphBuild(spark, idx, gp)
      val fileOf = new java.io.File(gp, "layer=0").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
      val gone = Seq(0L, 7L, 13L, 14L).toDF("id")
      Ann.knnGraphDelete(spark, idx, gp, gone)
      // the index no longer holds the ids
      assert(spark.read.parquet(idx)
        .join(gone, Seq("id"), "left_semi").count() == 0)
      // maintained graph ≡ rebuilding from scratch on the pruned index
      val rebuilt = root.resolve("rebuilt").toString
      Ann.knnGraphBuild(spark, idx, rebuilt)
      assert(graphSet(gp) == graphSet(rebuilt),
        "delete maintenance drifted from a full rebuild")
      // no deleted id survives as a node or a neighbor
      val flat = graphSet(gp)
      val goneSet = Set(0L, 7L, 13L, 14L)
      assert(flat.forall { case (q, _, n, _) =>
        !goneSet(q) && !goneSet(n) })
      // locality: at least one cell partition kept its original files
      val after = new java.io.File(gp, "layer=0").listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
      assert(fileOf.exists { case (b, fs) => after.get(b).contains(fs) },
        "every cell partition was rewritten — affected-set pruning lost")
      // idempotence: deleting the same ids again changes nothing
      Ann.knnGraphDelete(spark, idx, gp, gone)
      assert(graphSet(gp) == flat)
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("streamed WAL tail maintains index AND graph ≡ rebuild of final corpus") {
    // second input adds tombstones: id 90002 upserted then deleted
    // inside the first micro-batch (wal_log_0 fits one trigger's byte
    // budget), and a delete segment after the upserts
    Seq(false, true).foreach { tombstones =>
      val root = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "gstream")
      val idx = root.resolve("idx").toString
      val gp = root.resolve("graph").toString
      val wal = root.resolve("wal")
      val ckpt = root.resolve("ckpt").toString
      Files.createDirectories(wal)
      try {
        Ann.ivfBuildIndex(spark, emb, idx, stride = 50)
        Ann.knnGraphBuild(spark, idx, gp)
        val donors = emb.where(col("id") >= 100 && col("id") < 106)
          .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
        val seg1 = Seq(
          walLine(1000L, 2L, 0L, donors(0)),
          walLine(1001L, 2L, 3L, donors(1)))
        // second wave re-upserts id 0 (later wins) and adds a new id
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
        val q = GraphMaintenance.attach(lines, idx, gp, ckpt)
        try q.processAllAvailable() finally q.stop()

        val rebuilt = root.resolve("rebuilt").toString
        Ann.knnGraphBuild(spark, idx, rebuilt)
        assert(graphSet(gp) == graphSet(rebuilt),
          s"streamed graph maintenance drifted from a rebuild (tombstones=$tombstones)")
        // the graph covers the new id and the moved ids
        val nodes = Ann.knnGraphRead(spark, gp).select("qid").distinct()
          .collect().map(_.getLong(0)).toSet
        assert(nodes.contains(90001L) && nodes.contains(0L))
        if (tombstones) {
          val gone = Set(3L, 7L, 90002L)
          assert(graphSet(gp).forall { case (qid, _, nn, _) => !gone(qid) && !gone(nn) },
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
}
