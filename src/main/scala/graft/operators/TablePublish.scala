package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE touched-partition publish discipline, shared by every
  * partition-maintained structure (IVF cells, kNN-graph node cells,
  * BM25 term buckets, the dedup signature index's doc buckets):
  * dynamic-partition-overwrite the replacement rows, then delete the
  * touched partitions the replacement emptied — dynamic overwrite
  * only replaces partitions PRESENT in the written data, so an
  * emptied partition's stale files would otherwise survive and
  * resurrect deleted rows.
  *
  * CRASH WINDOW (same contract as the IVF form this generalizes,
  * operators/Ann.scala rewriteCells): the overwrite and the
  * empty-partition deletion are separate filesystem steps; a crash
  * between them leaves stale rows visible until the structure's
  * repair op runs. Every caller documents its repair story.
  */
object TablePublish {

  /** Overwrite `touched` values of partition column `part` with
    * `replacementRows`, deleting emptied partition directories.
    * The replacement is checkpointed BEFORE the write: it reads the
    * same files dynamic overwrite deletes (self-overwrite), and its
    * size is the churn locality — touched partitions' contents, not
    * the structure.
    */
  def publishTouched(s: SparkSession, path: String, part: String,
                     touched: Array[Long],
                     replacementRows: DataFrame): Unit = {
    val replacement = replacementRows.localCheckpoint(true)
    // writer-scoped overwrite mode (the AggTable r10-advice fix):
    // a session-global flip races with concurrent writers
    replacement.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(part).parquet(path)
    val written = replacement
      .select(org.apache.spark.sql.functions.col(part).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    touched.filterNot(written).foreach { p =>
      val dir = new org.apache.hadoop.fs.Path(path, s"$part=$p")
      val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(dir, true)
    }
  }
}
