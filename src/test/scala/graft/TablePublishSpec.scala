package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import graft.operators.TablePublish
import org.apache.spark.sql.functions._

/** [[TablePublish.publish]]: emptied touched partitions are deleted,
  * under multi-column and escaped string partition values, and a
  * replacement that reaches outside the touched set writes nothing.
  */
class TablePublishSpec extends SparkSuite {

  private def withTable(name: String)(f: String => Unit): Unit = {
    val root = Files.createTempDirectory(Paths.get("target"), name)
    try f(root.resolve("t").toString)
    finally new scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }

  /** Every file under `dir`, relative path → bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  test("(layer, cell) publish deletes the pair the replacement empties") {
    import spark.implicits._
    withTable("pubpair") { path =>
      Seq((0, 1L, 10L), (0, 2L, 20L), (1, 1L, 30L), (1, 2L, 40L))
        .toDF("layer", "cell", "id")
        .write.partitionBy("layer", "cell").parquet(path)
      // touched (0,1) and (1,2); the replacement keeps only (0,1)
      TablePublish.publish(spark, path, Seq("layer", "cell"),
        Seq(Seq(0, 1L), Seq(1, 2L)),
        Seq((0, 1L, 11L)).toDF("layer", "cell", "id"))
      assert(!Files.exists(Paths.get(path, "layer=1", "cell=2")),
        "the emptied (layer, cell) partition survived")
      val got = spark.read.parquet(path)
        .select(col("layer").cast("int"), col("cell").cast("long"), col("id"))
        .as[(Int, Long, Long)].collect().toSet
      assert(got == Set((0, 1L, 11L), (0, 2L, 20L), (1, 1L, 30L)))
    }
  }

  test("escaped string partition values: emptied partitions are deleted") {
    import spark.implicits._
    withTable("pubesc") { path =>
      val vals = Seq("a/b", "50%", "x=y", "plain")
      vals.zipWithIndex.map { case (p, i) => (p, i.toLong) }.toDF("p", "id")
        .write.partitionBy("p").parquet(path)
      val dirs = new java.io.File(path).list().filter(_.startsWith("p=")).toSet
      assert(dirs.size == vals.size && dirs.exists(_.contains("%")),
        s"the fixture's values are not escaped on disk: $dirs")
      // touch every escaped value; only "50%" keeps a row
      TablePublish.rewrite(spark, path, "p", Seq("a/b", "50%", "x=y"))(
        _.where(col("p") === "50%"))
      val got = spark.read.parquet(path).select("p", "id").as[(String, Long)]
        .collect().toSet
      assert(got == Set(("50%", 1L), ("plain", 3L)))
      val left = new java.io.File(path).list().filter(_.startsWith("p=")).toSet
      assert(left.size == 2, s"emptied escaped partitions survived: $left")
    }
  }

  test("a replacement row outside the touched set fails and writes nothing") {
    import spark.implicits._
    withTable("puboutside") { path =>
      Seq((1L, 10L), (2L, 20L)).toDF("cell", "id")
        .write.partitionBy("cell").parquet(path)
      val before = snapshot(path)
      val err = intercept[IllegalArgumentException] {
        TablePublish.publish(spark, path, Seq("cell"), Seq(Seq(1L)),
          Seq((1L, 11L), (2L, 21L)).toDF("cell", "id"))
      }
      assert(err.getMessage.contains("outside the touched set"))
      assert(snapshot(path) == before, "the table changed on disk")
    }
  }
}
