package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Fixtures shared by the persisted-IVF maintenance specs. */
object IndexFixtures {

  /** The crash window of a touched-cell rewrite, simulated: a copy of
    * `id`'s row, every column of it, planted in another cell as a file
    * an hour OLDER than the index's own — the stale, should-have-been-
    * deleted copy that predates the overwrite's files. `scratch` is a
    * directory to write the copy through. Returns the (home, stale)
    * cells.
    */
  def plantStaleCopy(spark: SparkSession, path: String, id: Long,
                     scratch: String): (Long, Long) = {
    val idx = spark.read.parquet(path)
    val cells = idx.select(col("cell").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    val home = idx.where(col("id") === id)
      .select(col("cell").cast("long")).head().getLong(0)
    val stale = (cells - home).head
    idx.where(col("cell") === home && col("id") === id).drop("cell")
      .coalesce(1).write.parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val target = java.nio.file.Paths.get(path, s"cell=$stale", "zz-stale.parquet")
    java.nio.file.Files.move(part.toPath, target)
    java.nio.file.Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000))
    (home, stale)
  }
}
