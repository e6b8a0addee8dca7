package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the properties that matter at 100 TB, held
  * in CI rather than in comments.
  */
class PlanSpec extends SparkSuite {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter reaches the parquet scan") {
    val p = planOf(Analytics.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n${p.take(2000)}")
  }

  test("q1: scan reads only the referenced columns") {
    val p = planOf(Analytics.q1PricingSummary(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_partkey"),
      s"column pruning lost: $read")
  }

  test("point lookup: IN-list pushes to the scan") {
    val p = planOf(graft.operators.ScalarOps.pointLookup(
      Tables.embeddings(spark, sf), "vec_id", Seq(3L, 17L)))
    assert(p.contains("In(vec_id"), s"IN not pushed:\n${p.take(2000)}")
  }

  test("q5: no forced broadcast of SF-scaled tables (customer/supplier)") {
    val lp = Analytics.q5LocalSupplierVolume(spark, sf)
      .queryExecution.optimizedPlan.toString
    // the only hint surviving should be on the bounded nation x region dim
    val hints = lp.linesIterator.filter(_.contains("ResolvedHint")).size
    assert(hints <= 1, s"unexpected broadcast hints:\n$lp")
  }

  test("vector kNN: the fused native kernel is in the scoring plan") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(spark, sf).where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = planOf(graft.operators.Knn.topK(emb, q, 5,
      graft.operators.Knn.Metric.L2))
    assert(p.contains("request_topk"), s"fused top-k missing:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") &&
      !p.contains("zip_with"), s"Q×N pair stage in:\n${p.take(2000)}")
  }

  test("registry: exact kNN queries rank on the fused per-query top-k, " +
    "only the frozen anchor keeps the Q×N join") {
    val migrated = Seq("vdb_knn_flat_ip", "vdb_knn_flat_l1", "vdb_knn_flat_linf",
      "vdb_knn_cosine", "vdb_batch_knn", "sim_brute_topk", "doc_semantic_search",
      "vdb_recommend", "vdb_recommend_lookup", "knn_classify", "knn_regression") ++
      SparkEntry.queries.keys.filter(_.startsWith("vdb_knn_filtered_")).toSeq.sorted
    assert(migrated.size > 20)
    for (name <- migrated) {
      val p = planOf(SparkEntry.queries(name)(spark, sf))
      assert(p.contains("request_topk") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name does not rank on the fused top-k:\n${p.take(3000)}")
    }
    val anchor = planOf(SparkEntry.queries("vdb_knn_flat_l2")(spark, sf))
    assert(anchor.contains("BroadcastNestedLoopJoin") && !anchor.contains("request_topk"),
      s"the frozen drift anchor's plan moved:\n${anchor.take(3000)}")
  }

  test("ivf assignment is a pure projection — no Exchange, no Aggregate") {
    // round-2 form shuffled the whole corpus through a groupBy(id)
    // whose key was unique; the argmin over literal centroids must
    // stay inside the scan's codegen stage
    // raw scan (no Tables.spread) so any Exchange in the plan is the
    // assignment's own
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = graft.operators.Ann.ivfCentroids(emb, stride = 200)
    val p = planOf(graft.operators.Ann.ivfAssign(emb, cents))
    assert(!p.contains("Exchange") && !p.contains("Aggregate"),
      s"assignment stage shuffles:\n${p.take(2000)}")
  }

  test("embedding near-dup blocks on a key that scales (LSH sig, not label)") {
    // label has ~10 distinct values — blocking on it is O(N²/10)
    // pairwise at any corpus size; the candidate join must key on the
    // LSH signature, whose bucket count grows with `bits`
    val lp = graft.operators.Dedup.embeddingCosinePairs(spark, sf)
      .queryExecution.optimizedPlan.toString
    // inspect only operator lines — the leaf Relation prints the full
    // table schema (which legitimately includes label)
    val ops = lp.linesIterator
      .filter(l => l.contains("Join") || l.contains("Aggregate")).toSeq
    assert(!ops.exists(_.contains("label")),
      s"blocked on O(1)-cardinality label:\n${ops.mkString("\n")}")
    assert(ops.exists(_.contains("sig")),
      s"expected LSH signature blocking:\n${ops.mkString("\n")}")
  }

  test("per-row metric plans carry no interpreted lambda functions") {
    // HOF lambdas (filter/transform/aggregate) evaluate interpreted
    // and get re-evaluated wherever CollapseProject inlines them —
    // the hot-path operators must stay pure codegen
    for ((n, df) <- Seq(
      "text_langid" -> graft.operators.TextOps.langId(spark, sf),
      "text_quality" -> graft.operators.TextOps.quality(spark, sf),
      "mm_features" -> graft.operators.Multimodal.featuresQuery(spark, sf),
      "mm_frame_sample" -> graft.operators.Multimodal.frameSampleQuery(spark, sf),
      // the capstones' scan-side quality gate re-derives per consumer,
      // so an interpreted lambda there would run over the corpus 4×
      "pipeline_clean_corpus" ->
        graft.operators.Pipeline.cleanCorpus(spark, sf))) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("lambdafunction"),
        s"$n still runs a HOF lambda:\n${p.take(2000)}")
    }
  }

  test("q14: date filter reaches the scan, part prunes to join columns") {
    val p = planOf(Analytics.q14PromoEffect(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"shipdate filter not pushed:\n${p.take(2000)}")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!reads.contains("p_retailprice") && !reads.contains("p_name"),
      s"part not pruned: $reads")
  }

  test("sq8 search scores codes through the quantized kernels") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(spark, sf).where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = planOf(graft.operators.Quant.sq8Search(emb, q, 5))
    assert(p.contains("vec_quantize") && p.contains("vec_l2_q8"),
      s"quantized kernels missing from plan:\n${p.take(2000)}")
  }

  test("bq search packs and compares through the binary kernels") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(spark, sf).where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = planOf(graft.operators.BinQuant.bqSearch(emb, q, 5))
    assert(p.contains("vec_bin_pack") && p.contains("bin_hamming"),
      s"binary kernels missing from plan:\n${p.take(2000)}")
  }

  test("bloom prefilter drops fact rows BELOW the join") {
    import org.apache.spark.sql.execution.SparkPlan
    // AdaptiveSparkPlanExec exposes no children pre-execution;
    // disable AQE for the static structural walk
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val plan = graft.operators.BloomJoin.bloomQuery(spark, sf)
      .queryExecution.executedPlan
    // find the might_contain Filter; its subtree must be join-free
    // (i.e. the filter runs on the scan side, before the exchange
    // feeding the join — not on the join output)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
    val filters = nodes(plan).filter(n =>
      n.nodeName.contains("Filter") &&
        n.expressions.exists(_.toString.contains("might_contain")))
    assert(filters.nonEmpty, s"no might_contain filter:\n${plan.toString.take(2000)}")
    filters.foreach { f =>
      val below = nodes(f).map(_.nodeName).mkString(",")
      assert(!below.contains("Join"),
        s"bloom filter sits above a join — prunes nothing: $below")
    }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q8: market gates run as semi-joins, no nested loop") {
    val p = planOf(Analytics.q8MarketShare(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in q8:\n${p.take(2000)}")
    // part-type and region-market gates must not widen fact rows
    assert(p.contains("LeftSemi"), s"semi gates missing:\n${p.take(2000)}")
  }

  test("q21: semi/anti self-joins hash on orderkey, no nested loop") {
    // the suppkey inequality must ride as a residual condition on an
    // orderkey-keyed hash/merge join; a BroadcastNestedLoopJoin here
    // means the planner saw no equi-key and the query is O(n²)
    val p = planOf(Analytics.q21SoleBlame(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in q21:\n${p.take(2000)}")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"semi/anti pair missing:\n${p.take(2000)}")
  }

  test("q22: anti-join side scan carries the pushed date filter") {
    val p = planOf(Analytics.q22GlobalSales(spark, sf))
    assert(p.contains("LeftAnti"), s"anti join missing:\n${p.take(2000)}")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date filter not pushed on anti side:\n${p.take(2000)}")
  }

  test("q15: argmax over the checkpointed view — no lineitem re-scan, no cartesian") {
    val p = planOf(Analytics.q15TopSupplier(spark, sf))
    // the revenue view materialized once: the final plan joins the
    // checkpoint RDD, it never re-aggregates lineitem
    assert(!p.contains("lineitem.parquet"),
      s"q15 re-scans lineitem instead of the checkpointed view:\n${p.take(2000)}")
    assert(p.contains("ExistingRDD"), "checkpointed view missing")
    // the scalar-max comparison is an equality → hash join, never a
    // nested loop over the aggregate
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"argmax turned into a nested loop:\n${p.take(2000)}")
  }

  test("q17: both fact passes are pruned scans behind a broadcast part filter") {
    val p = planOf(Analytics.q17SmallQty(spark, sf))
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem")).toSeq
    // decorrelated aggregate-then-rejoin = exactly two passes
    // (recompute-over-persist, SURVEY §4), each 3-column pruned
    assert(scans.size == 2, s"expected 2 lineitem scans, got ${scans.size}")
    // pruned to the referenced columns (+ l_orderkey, which the
    // loader's keyed spread keeps alive — its documented tradeoff)
    assert(scans.forall(l => !l.contains("l_shipdate") &&
      !l.contains("l_discount") && !l.contains("l_tax")),
      s"fact scans not column-pruned: $scans")
    assert(p.contains("BroadcastHashJoin"),
      "part predicate should broadcast into the fact scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("vector kernel compiles into whole-stage codegen") {
    // AQE reports codegen subtrees only after execution; disable it
    // for this static plan inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Tables.embeddings(spark, sf).select(
        graft.functions.VectorDistance.l2(
          col("embedding"), col("embedding")).as("d"))
      val cg = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(cg.contains("WholeStageCodegen"), s"no WSCG:\n${cg.take(1500)}")
      // the fused primitive loop is inlined into the generated java
      assert(cg.contains("getFloat("), s"loop not inlined:\n${cg.take(1500)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("events_anomaly: one events scan; stats come from the daily window") {
    val p = planOf(Analytics.eventsAnomaly(spark, sf))
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("events")).toSeq
    assert(scans.size == 1,
      s"expected 1 events scan (mean/σ from the window), got ${scans.size}")
  }

  test("tfidf: window satisfied by the spread, top-k group-limit pruned") {
    val p = planOf(graft.operators.TextOps.tfidfKeywords(spark, sf))
    // tf pass + df pass + bare metadata count = exactly three scans
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("documents")).toSeq
    assert(scans.size == 3, s"expected 3 documents scans, got ${scans.size}")
    // rank pruning before the full sort materializes per-doc term lists
    assert(p.contains("WindowGroupLimit"),
      s"top-k window not group-limit pruned:\n${p.take(2000)}")
  }

  test("maxsim: query side broadcasts, both aggregates partial-combine") {
    val p = planOf(graft.operators.MaxSim.maxsimQuery(spark, sf))
    assert(p.contains("BroadcastExchange"),
      s"query tokens not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-side shuffle join appeared:\n${p.take(2500)}")
    // max and sum both run as HashAggregate (map-side combine), never
    // SortAggregate over the scored stream
    assert(!p.contains("SortAggregate"),
      s"scored stream sort-aggregates:\n${p.take(2500)}")
  }

  test("phrase search: phrase table broadcasts; no per-token self-join chain") {
    val p = planOf(graft.operators.Search.phraseSearchQuery(spark, sf))
    assert(p.contains("BroadcastExchange"),
      s"phrase table not broadcast:\n${p.take(2000)}")
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("documents")).toSeq
    assert(scans.size == 1,
      s"anchor trick lost — ${scans.size} corpus scans (m-way join?)")
  }

  test("zorder skip-scan reads fewer files than the layout holds") {
    val path = graft.operators.ZOrder.ensureZordered(spark, sf)
    val total = spark.read.parquet(path + "_stats").count()
    val p = planOf(graft.operators.ZOrder.skipScan(
      spark, path, 3L, 7L, 19731L, 19738L))
    // the exact predicate still rides the (pruned) scan
    assert(p.contains("PushedFilters") &&
      p.linesIterator.exists(l => l.contains("user_id") &&
        l.contains("PushedFilters")),
      s"residual predicate not pushed:\n${p.take(2000)}")
    val sel = graft.operators.ZOrder.selectFiles(
      spark, path, 3L, 7L, 19731L, 19738L).size
    assert(sel < total, s"no file skipping: $sel/$total")
  }

  test("q9: fact stream shrinks behind broadcast dims; part name filter " +
    "prunes before the orders join") {
    val p = planOf(Analytics.q9ProductProfit(spark, sf))
    // dims broadcast — the fact side must never shuffle for them
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n${p.take(2000)}")
    // the only SortMergeJoin/shuffled join allowed is lineitem⋈orders
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 1, s"more than one shuffled join:\n${p.take(3000)}")
    // part scan carries the name predicate (pushed as contains/startswith
    // family or residual filter directly over the scan)
    assert(p.contains("widget"), "part name filter missing from plan")
  }

  test("knn_graph: candidates join hash-partitions on cell — no " +
    "cartesian, no broadcast of the corpus") {
    val p = planOf(graft.operators.Ann.knnGraph(spark, sf, k = 5))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"kNN graph fell back to all-pairs:\n${p.take(3000)}")
  }

  test("pattern match: both windows and the aggregate share ONE " +
    "user_id exchange") {
    val p = planOf(graft.operators.Sequence.patternMatch(spark, sf))
    val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(ex <= 1, s"per-user state left its partition:\n${p.take(3000)}")
  }

  test("pareto: banded order statistics — no cartesian anti-join") {
    val p = planOf(graft.operators.Sequence.partPareto(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"skyline fell back to all-pairs dominance:\n${p.take(3000)}")
  }

  test("cooccurrence: the pair expansion is an equi-join on " +
    "(user, day), never unblocked") {
    val p = planOf(graft.operators.Sequence.cooccurrence(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"pair stage lost its blocking key:\n${p.take(3000)}")
  }

  test("rp-knn: projection stays in the scan stage — queries " +
    "broadcast, corpus never nested-loops") {
    val p = planOf(graft.operators.Ann.rpKnnQuery(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"candidate stage degenerated:\n${p.take(3000)}")
    assert(p.contains("vec_dot"),
      s"native projection kernel missing:\n${p.take(2000)}")
  }

  test("hnsw hierarchy read prunes to the requested layer partitions") {
    val hp = graft.operators.Ann.hnswIndexedPath(spark, sf)
    val p = planOf(graft.operators.Ann.hnswRead(spark, hp)
      .where(col("layer") === 1))
    val scan = p.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(scan.contains("layer"),
      s"layer filter not a partition filter:\n${p.take(2000)}")
  }

  test("boilerplate: documents scan prunes to (doc_id, text)") {
    val p = planOf(graft.operators.TextOps.boilerplate(spark, sf))
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty)
    assert(reads.forall(r => !r.contains("source") && !r.contains("lang")),
      s"boilerplate reads unused columns:\n${reads.mkString("\n")}")
  }

  test("rfm: orders scan prunes to the three metric columns") {
    val p = planOf(Analytics.rfmBase(spark, sf))
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty)
    assert(reads.forall(r => !r.contains("o_orderpriority") &&
      !r.contains("o_orderstatus")),
      s"rfm reads unused columns:\n${reads.mkString("\n")}")
  }

  test("prf expansion: no cartesian anywhere in the two-pass plan") {
    val p = planOf(graft.operators.Search.prfQuery(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"prf degenerated to a cartesian:\n${p.take(3000)}")
  }
}
