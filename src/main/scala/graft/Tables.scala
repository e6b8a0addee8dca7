package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Spark-first equivalent of the reference's storage layer: the
  * columnar parquet scan replaces ScalarStorage (RocksDB KV,
  * reference scalar_storage.cc) — predicate/projection pushdown gives
  * point lookups and scans without a secondary index.
  */
object Tables {
  /** Open `dir/name.parquet` with the schema Spark would infer, read
    * on the driver: the footer of the one file Spark's inference picks
    * with `mergeSchema` off (the session never turns it on). Spark's
    * own inference reads that footer in a one-task job, which a
    * request-sized query paid on every open. A path with no readable
    * footer opens through Spark's inference, which reports why.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    GraftParquetBridge.inferSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The driver's test files are single-row-group parquet, so a bare
    * scan is ONE task and every per-row expression runs on one core.
    * A production corpus arrives in thousands of splits; this models
    * that by spreading rows across the session's cores right after
    * the scan. Catalyst still pushes filters/pruning through the
    * Repartition node to the scan, and the shuffle moves only the
    * pruned columns — at real scale the input is already split and
    * the repartition collapses to a no-op cost-wise relative to the
    * expression work it parallelizes.
    *
    * Spreading HASHES ON THE TABLE'S NATURAL KEY rather than
    * round-robin: downstream windows/aggregations keyed the same way
    * (sessionize by user_id, shingling by doc_id) then satisfy their
    * distribution requirement from this exchange instead of adding a
    * second one — the same reason production tables are bucketed by
    * their join key.
    *
    * Width is NOT pinned (r15): `repartition(col)` without an
    * explicit count hashes into `spark.sql.shuffle.partitions` (= the
    * session's cores — the same width the old explicit form used) but
    * stays AQE-COALESCIBLE, so a kilobyte-sized table collapses to
    * the few size-appropriate partitions a production layout would
    * give it while a replica-scaled one keeps the full width. The
    * explicit count was the suite-wide floor: every consumer of every
    * base table paid 32 near-empty tasks per stage at the bench SF
    * (BENCH_r14: 324 cheapest queries = 68% of the suite runtime).
    */
  private def spread(s: SparkSession, df: DataFrame, key: String): DataFrame =
    df.repartition(col(key))

  /** Width-PINNED spread for the documents table only: its byte size
    * wildly understates its work — every consumer tokenizes or
    * shingles it (posexplode fan-outs of 50-300× feeding md5), and
    * AQE coalesces by the EXCHANGE's bytes, so the size-first policy
    * above funnelled the whole trigram/winnowing/banding fan-out of
    * a few-MB corpus into one task (langid_ngram 1.4s → 7.5s at
    * sf0.1, measured). Production layouts size text splits by
    * post-tokenization cost for exactly this reason. The other base
    * tables keep the coalescible form: their consumers' work tracks
    * their bytes.
    */
  private def spreadWide(s: SparkSession, df: DataFrame, key: String): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism, col(key))

  def lineitem(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "lineitem"), "l_orderkey")
  def orders(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "orders"), "o_orderkey")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** events.parquet has shipped with two physical encodings of `ts`:
    * TIMESTAMP(NANOS) — which Spark's parquet reader surfaces as raw
    * int64 nanos under `spark.sql.legacy.parquet.nanosAsLong=true`
    * (set by [[GraftSession.builder]]) — and plain TIMESTAMP(MICROS),
    * which Spark reads natively as TIMESTAMP_NTZ. The loader adapts
    * on the SCANNED dtype so either vintage of the data loads, and
    * both normalize to session-zone TimestampType (session tz is
    * pinned to UTC, so the NTZ→Timestamp cast preserves the instant).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val raw = table(s, d, "events")
    val norm = raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    spread(s, norm, "user_id")
  }
  def documents(s: SparkSession, d: String): DataFrame =
    spreadWide(s, table(s, d, "documents"), "doc_id")
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, table(s, d, "embeddings"), "vec_id")
}
