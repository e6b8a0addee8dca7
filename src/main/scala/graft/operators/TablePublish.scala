package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col

/** THE touched-partition rewrite: the one module that knows how a
  * partition-maintained structure is rewritten. Every such structure
  * publishes through it:
  *  - the IVF cells (`cell`): [[Ann.ivfIndexUpsert]],
  *    [[Ann.ivfIndexDelete]], [[Ann.ivfIndexRepair]], [[Ann.ivfCompact]]
  *    and, through them, every code family's index;
  *  - the kNN graph and HNSW layers (`layer`, `cell`): `Ann.maintainLayers`;
  *  - the BM25 postings and term dictionary (`bucket`):
  *    [[Search.bm25IndexInsert]], [[Search.bm25IndexDelete]],
  *    [[Search.bm25IndexCompact]];
  *  - the spell index (`bk`): [[Search.spellIndexInsert]];
  *  - the prefix dictionary (`pfx`): [[Search.prefixDictInsert]];
  *  - the dedup signature and winnowing indexes (`bk`):
  *    [[Dedup.signatureIndexUpsert]], [[Dedup.signatureIndexDelete]],
  *    [[Dedup.winnowIndexUpsert]], [[Dedup.winnowIndexDelete]].
  *
  * A publish dynamic-partition-overwrites the replacement rows, then
  * deletes the touched partitions the replacement emptied — dynamic
  * overwrite only replaces partitions PRESENT in the written data, so
  * an emptied partition's stale files would otherwise survive and
  * resurrect deleted rows. Partition values are compared in their
  * directory form (the value cast to string), and directories are
  * named as Spark names them, escapes included.
  *
  * CRASH WINDOW: the overwrite and the empty-partition deletion are
  * separate filesystem steps; a crash between them leaves stale rows
  * visible until the structure's repair runs ([[Ann.ivfIndexRepair]]
  * for the IVF cells, the intent marker for the graph layers,
  * [[Search.deriveSidecars]] for the BM25 sidecars, a re-run of the
  * interrupted op for the row-replacement indexes). Every caller
  * documents its repair story.
  */
object TablePublish {

  /** Overwrite the `touched` partitions (value tuples over `parts`) of
    * the table at `path` with `replacementRows`, deleting the touched
    * partitions it leaves empty, and return the checkpointed
    * replacement. The replacement is checkpointed BEFORE the write: it
    * reads the files dynamic overwrite deletes (self-overwrite), and
    * its size is the churn locality — touched partitions' contents,
    * not the structure. A replacement row outside `touched` fails the
    * publish before anything is written: the overwrite would replace
    * that partition without its unread survivors.
    */
  def publish(s: SparkSession, path: String, parts: Seq[String],
              touched: Seq[Seq[Any]], replacementRows: DataFrame): DataFrame = {
    val replacement = replacementRows.localCheckpoint(true)
    val want = touched.map(_.map(_.toString)).toSet
    // bounded by the replacement, which is already checkpointed and
    // holds touched partitions' rows only
    val written: Set[Seq[String]] = replacement.select(parts.map(col(_).cast("string")): _*)
      .distinct().collect().map(r => parts.indices.map(r.getString)).toSet
    val outside = written -- want
    require(outside.isEmpty, s"replacement for $path writes partitions " +
      s"outside the touched set: ${outside.take(5).mkString(", ")}")
    // writer-scoped overwrite mode (the AggTable r10-advice fix):
    // a session-global flip races with concurrent writers
    replacement.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*).parquet(path)
    val fs = new Path(path).getFileSystem(s.sessionState.newHadoopConf())
    (want -- written).foreach { vs =>
      fs.delete(new Path(path, parts.zip(vs).map { case (c, v) =>
        ExternalCatalogUtils.getPartitionPathString(c, v)
      }.mkString("/")), true)
    }
    replacement
  }

  /** Rewrite the `touched` values of partition column `part`: their
    * rows, with EVERY column of the table, pass through `keep`;
    * `arrivals` join by name and read NULL in any column they do not
    * carry; the result is [[publish]]ed and returned.
    */
  def rewrite(s: SparkSession, path: String, part: String, touched: Seq[Any],
              arrivals: Option[DataFrame] = None)(
      keep: DataFrame => DataFrame): DataFrame = {
    val rows = keep(s.read.parquet(path)
      .where(col(part).cast("string").isin(touched.map(_.toString): _*)))
    publish(s, path, Seq(part), touched.map(Seq(_)),
      arrivals.fold(rows)(rows.unionByName(_, allowMissingColumns = true)))
  }

  /** Rewrite, content-identically, the partitions of `part` holding
    * more than `maxFiles` data files, repartitioned by `part` so each
    * lands in one file. The listing is driver-side, O(partitions +
    * files).
    */
  def compact(s: SparkSession, path: String, part: String, maxFiles: Int): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val fragmented = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(part + "="))
      .filter(st => fs.listStatus(st.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
      .map(st => ExternalCatalogUtils.unescapePathName(
        st.getPath.getName.stripPrefix(part + "=")))
    if (fragmented.nonEmpty)
      rewrite(s, path, part, fragmented)(_.repartition(col(part)))
  }
}
