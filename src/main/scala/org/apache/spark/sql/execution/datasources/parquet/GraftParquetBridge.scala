package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** Parquet schema inference on the driver, for `graft.Tables`. Lives
  * in Spark's parquet package for the footer reader, which is
  * package-private there.
  */
object GraftParquetBridge {

  /** The schema `spark.read.parquet(path)` infers with `mergeSchema`
    * off, without its job: the files are listed as the reader lists
    * them, and the one file `ParquetUtils.inferSchema` picks (the first
    * `_common_metadata`, else the first `_metadata`, else the first
    * data file, in path order) has its footer read here, converted
    * under the session's conf. None when there is no readable footer.
    */
  def inferSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val files = new InMemoryFileIndex(session, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val pick = summaries.iterator.flatMap(n => files.find(_.getPath.getName == n))
      .nextOption().orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    pick.flatMap { f =>
      ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
        session.sessionState.newHadoopConf(), Seq(f),
        session.sessionState.conf.ignoreCorruptFiles), session)
    }
  }
}
