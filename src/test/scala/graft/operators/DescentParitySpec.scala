package graft.operators

import java.nio.file.Files

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-side [[Descent]] against the relational loops it
  * replaced ([[LegacyDescent]], test-side only): final beams, visited
  * sets and scores must be EXACTLY equal on every path — NSW with a
  * cap that converges early and one that does not, per-request ef with
  * NULL ef, the in-memory and persisted hierarchy, the filtered
  * searches — and on the edge cases: duplicated vectors (the id
  * tiebreak), zero-norm and dimension-mismatched query vectors (NULL
  * scores), an empty batch and an int-typed qid.
  */
class DescentParitySpec extends SparkSuite {

  private def corpusRows(dir: String): Array[Row] =
    Tables.table(spark, dir, "embeddings").orderBy("vec_id").collect()

  /** qid 0-3: corpus members; 4-7: jittered copies (they wander
    * further before converging); 8: zero norm; 9: 3-d.
    */
  private def batch(dir: String, qidType: DataType = LongType): DataFrame = {
    val rows = corpusRows(dir)
    val dim = rows(0).getSeq[Float](1).length
    val vecs = (0 until 4).map(i => rows(i * 37).getSeq[Float](1)) ++
      (0 until 4).map { i =>
        val r = new scala.util.Random(i)
        rows(i * 53 + 11).getSeq[Float](1).map(x => x + (r.nextGaussian() * 0.4).toFloat)
      } ++ Seq(Seq.fill(dim)(0f), Seq(1f, 2f, 3f))
    queries(vecs, qidType)
  }

  private def queries(vecs: Seq[Seq[Float]], qidType: DataType = LongType): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    vecs.zipWithIndex.foreach { case (v, i) =>
      list.add(Row(if (qidType == IntegerType) i: Any else i.toLong, v)) }
    spark.createDataFrame(list, StructType(Seq(StructField("qid", qidType),
      StructField("qvec", ArrayType(FloatType)))))
  }

  private def set(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType), s"$what: schema")
    val (g, w) = (set(got), set(want))
    assert(g == w, s"$what: only new ${g -- w}; only legacy ${w -- g}")
  }

  /** Frontier, visited and scored visited sets of both walks. */
  private def assertWalk(d: Descent, legacy: LegacyDescent.Walk,
                         what: String): Unit = {
    assertSame(d.frontierFrame(), legacy.frontier, s"$what frontier")
    assertSame(d.visitedFrame(scoredOnly = false).select("qid", "id"),
      legacy.visited.distinct(), s"$what visited")
    assertSame(d.visitedFrame(scoredOnly = true), legacy.scored, s"$what scored visited")
  }

  private def pairs(df: DataFrame): Long = df.distinct().count()

  test("nsw: early-converging and capped walks equal the relational loop") {
    val q = batch(sf)
    for (cap <- Seq(1, 8)) {
      val stats = new Ann.DescentStats
      val (frontier, scored) = Ann.nswTraverse(spark, sf, q, beam = 16,
        rounds = cap, graphK = 8, stats = stats)
      val legacy = LegacyDescent.nsw(spark, sf, q, 16, cap, 8)
      assertSame(frontier, legacy.frontier, s"cap $cap frontier")
      assertSame(scored, legacy.scored, s"cap $cap scored visited")
      assert(stats.roundsRun == legacy.rounds, s"cap $cap rounds")
      // each pair scored at most once: entry pairs + visited pairs
      val bound = pairs(LegacyDescent.entry(spark, sf, q)) + pairs(legacy.visited)
      assert(stats.pairsScored <= bound, s"cap $cap: ${stats.pairsScored} > $bound")
      assert(stats.peakRows > 0 && stats.peakRows <= Ann.MaxDescentRows)
    }
    val stats = new Ann.DescentStats
    Ann.nswTraverse(spark, sf, q, beam = 16, rounds = 8, graphK = 8, stats = stats)
    assert(stats.roundsRun < 8, "the early-stop fixture never converged")
    // the NULL-scoring queries (8: zero norm, 9: 3-d) return nothing
    val hit = Ann.nswSearch(spark, sf, q).select("qid").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(hit == (0L to 7L).toSet)
    assertSame(Ann.nswSearch(spark, sf, q, k = 10),
      LegacyDescent.ranked(LegacyDescent.nsw(spark, sf, q, 16, 3, 8).frontier, 10),
      "nswSearch")
  }

  test("nsw ef: mixed and NULL ef budgets equal the gated relational loop") {
    val efs = Seq[java.lang.Long](16L, 48L, null, 32L, 48L, 16L, null, 40L, 48L, 16L)
    val base = batch(sf).collect()
    val list = new java.util.ArrayList[Row]()
    base.zip(efs).foreach { case (r, ef) => list.add(Row(r.get(0), r.get(1), ef)) }
    val reqs = spark.createDataFrame(list, StructType(Seq(
      StructField("qid", LongType), StructField("qvec", ArrayType(FloatType)),
      StructField("ef", LongType))))
    val stats = new Ann.DescentStats
    val (frontier, visited) = Ann.nswTraverseEf(spark, sf, reqs, beam = 16,
      maxRounds = 3, graphK = 8, stats = stats)
    val legacy = LegacyDescent.nswEf(spark, sf, reqs, 16, 3, 8)
    assertSame(frontier, legacy.frontier.select("qid", "id", "s", "rq"), "ef frontier")
    assertSame(visited, legacy.visited.distinct(), "ef visited")
    val bound = pairs(LegacyDescent.entry(spark, sf, reqs)) + pairs(legacy.visited)
    assert(stats.pairsScored <= bound)
    assertSame(Ann.nswSearchEf(spark, sf, reqs, k = 10),
      LegacyDescent.ranked(legacy.frontier, 10).join(
        legacy.frontier.select(col("qid"), col("rq").cast("long").as("rounds_used"))
          .distinct(), "qid"),
      "nswSearchEf")
  }

  test("hnsw: in-memory and persisted descents equal the relational loop") {
    val q = batch(sf)
    val stats = new Ann.DescentStats
    val mem = Ann.hnswTraverse(spark, sf, q, 8, 16, 3, 8, stats)
    val legacy = LegacyDescent.hnsw(spark, sf, q)
    assertWalk(mem, legacy, "hnsw")
    assert(stats.roundsRun == legacy.rounds)
    assert(stats.pairsScored <= q.count() + pairs(legacy.visited))
    assertSame(Ann.hnswSearch(spark, sf, q), LegacyDescent.ranked(legacy.frontier, 10),
      "hnswSearch")

    Ann.hnswIndexedQuery(spark, sf).collect()
    val idx = graft.IndexCache.dirFor(sf, "ivfidx").toString
    val hp = Ann.hnswIndexedPath(spark, sf)
    val persisted = Ann.hnswWalkIndexed(spark, idx, hp, q, 8, 16, 3, new Ann.DescentStats)
    assertWalk(persisted, LegacyDescent.hnswIndexed(spark, idx, hp, q), "hnsw indexed")
    assertSame(Ann.hnswSearchIndexed(spark, idx, hp, q),
      LegacyDescent.ranked(LegacyDescent.hnswIndexed(spark, idx, hp, q).frontier, 10),
      "hnswSearchIndexed")
  }

  test("filtered nsw and hnsw rank the same visited sets") {
    val q = batch(sf)
    val allowed = Tables.embeddings(spark, sf).where(col("label") === 5)
      .select(col("vec_id").as("id"))
    def filtered(scored: DataFrame): DataFrame =
      LegacyDescent.ranked(scored.join(allowed, Seq("id"), "left_semi"), 5)
    assertSame(Ann.nswSearchFiltered(spark, sf, q, col("label") === 5),
      filtered(LegacyDescent.nsw(spark, sf, q, 16, 3, 8).scored), "nswSearchFiltered")
    assertSame(Ann.hnswSearchFiltered(spark, sf, q, col("label") === 5),
      filtered(LegacyDescent.hnsw(spark, sf, q).scored), "hnswSearchFiltered")
  }

  test("duplicated vectors tie-break on id exactly as the window did") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "dupvec")
    val src = Tables.table(spark, sf, "embeddings").where(col("vec_id") < 150)
    src.unionByName(src.withColumn("vec_id", col("vec_id") + 150))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val d = dir.toString
    val rows = corpusRows(d)
    // queries ARE corpus vectors, so every beam holds tied pairs
    val q = queries((0 until 6).map(i => rows(i * 23).getSeq[Float](1)))
    val (frontier, scored) = Ann.nswTraverse(spark, d, q, 16, 3, 8)
    val legacy = LegacyDescent.nsw(spark, d, q, 16, 3, 8)
    assertSame(frontier, legacy.frontier, "dup nsw frontier")
    assertSame(scored, legacy.scored, "dup nsw scored visited")
    val ties = frontier.groupBy("qid", "s").count().where(col("count") > 1).count()
    assert(ties > 0, "fixture has no tied scores")
    assertWalk(Ann.hnswTraverse(spark, d, q, 8, 16, 3, 8, new Ann.DescentStats),
      LegacyDescent.hnsw(spark, d, q), "dup hnsw")
  }

  test("empty batch and int-typed qid") {
    val empty = batch(sf).where(lit(false))
    val stats = new Ann.DescentStats
    val (frontier, scored) = Ann.nswTraverse(spark, sf, empty, 16, 3, 8, stats)
    val legacy = LegacyDescent.nsw(spark, sf, empty, 16, 3, 8)
    assertSame(frontier, legacy.frontier, "empty frontier")
    assertSame(scored, legacy.scored, "empty scored")
    assert(frontier.isEmpty && stats.roundsRun == legacy.rounds)
    assert(Ann.hnswSearch(spark, sf, empty).isEmpty)

    val q = batch(sf, IntegerType)
    val (fi, si) = Ann.nswTraverse(spark, sf, q, 16, 3, 8)
    assert(fi.schema("qid").dataType == IntegerType)
    val li = LegacyDescent.nsw(spark, sf, q, 16, 3, 8)
    assertSame(fi, li.frontier, "int qid frontier")
    assertSame(si, li.scored, "int qid scored")
    assertSame(Ann.hnswSearch(spark, sf, q),
      LegacyDescent.ranked(LegacyDescent.hnsw(spark, sf, q).frontier, 10), "int qid hnsw")
  }
}
