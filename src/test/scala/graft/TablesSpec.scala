package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables.table` opens a table with the schema Spark's own inference
  * gives, and runs no job doing it.
  */
class TablesSpec extends SparkSuite {

  private def assertOpens(dir: String, name: String): Unit = {
    val (df, jobs, _) = JobWatch.observe(spark)(Tables.table(spark, dir, name))
    assert(jobs == 0, s"opening $name ran $jobs jobs")
    assert(df.schema == spark.read.parquet(s"$dir/$name.parquet").schema, name)
  }

  test("every sf0.01 table opens with the inferred schema and no job") {
    val names = new java.io.File(sf01).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names.length == 10)
    names.foreach(assertOpens(sf01, _))
  }

  test("both events.ts vintages open as Spark infers them") {
    val tmp = Files.createTempDirectory(Paths.get("target"), "vintages")
    try {
      // TIMESTAMP(MICROS): the test data's vintage
      val micros = tmp.resolve("micros")
      Files.createDirectories(micros)
      Files.copy(Paths.get(sf01, "events.parquet"),
        micros.resolve("events.parquet"))
      // TIMESTAMP(NANOS), written with parquet's own writer
      val schema = MessageTypeParser.parseMessageType(
        """message schema {
          |  optional int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,false));
          |  optional int64 user_id;
          |  optional binary event_type (STRING);
          |  optional double value;
          |  optional binary props (STRING);
          |}""".stripMargin)
      val nanos = tmp.resolve("nanos").toString
      val conf = new Configuration()
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$nanos/events.parquet"), conf)).withType(schema).withConf(conf).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1700000000123456789L)
        .append("user_id", 7L).append("event_type", "click")
        .append("value", 1.5).append("props", "{}"))
      finally w.close()

      for ((d, raw) <- Seq(micros.toString -> TimestampNTZType, nanos -> LongType)) {
        assertOpens(d, "events")
        assert(Tables.table(spark, d, "events").schema("ts").dataType == raw)
        assert(Tables.events(spark, d).schema("ts").dataType == TimestampType)
      }
    } finally new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }
}
