package graft

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))

  /** Query batch = first 5 vectors, mirroring the reference's /search
    * request carrying a query vector (test/filter_upsert/search_*.json).
    */
  private def qset(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def batchQset(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).where(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def simQset(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** `vdb_knn_flat_l2`, a frozen drift anchor: a timing anchor, not a
    * product path. It keeps the form exact kNN had before it moved to
    * `RequestTopK` — queries broadcast, cross-joined with the corpus
    * through the fused `vec_l2` kernel, ranked by a `groupBy(qid)`
    * [[TopKAgg]] — so its time stays comparable across changes;
    * `Knn.topK(…, L2)` returns the same rows.
    */
  private def frozenFlatL2(data: DataFrame, queries: DataFrame): DataFrame = {
    val agg = TopKAgg.topK(10)
    data.select(col("id"), col("vec"))
      .crossJoin(broadcast(queries.select(col("qid"), col("qvec"))))
      .select(col("qid"),
        graft.functions.VectorDistance.l2(col("vec"), col("qvec")).as("key"),
        col("id"))
      .where(col("key").isNotNull)
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"), col("col.id").as("nn_id"),
        round(col("col.key"), 4).as("score"))
      .orderBy("qid", "rk")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Knn.topK(emb(spark, dir), qset(spark, dir), 10, Knn.Metric.L2)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vdb_knn_flat_l2" -> ((s, d) => frozenFlatL2(emb(s, d), qset(s, d))),
    "vdb_knn_flat_ip" -> ((s, d) =>
      Knn.topK(emb(s, d), qset(s, d), 10, Knn.Metric.IP)),
    "vdb_knn_flat_l1" -> ((s, d) =>
      Knn.topK(emb(s, d), qset(s, d), 10, Knn.Metric.L1)),
    "vdb_knn_flat_linf" -> ((s, d) =>
      Knn.topK(emb(s, d), qset(s, d), 10, Knn.Metric.Linf)),
    "vdb_knn_recency_boost" -> ((s, d) =>
      Knn.topKRecencyBoosted(emb(s, d), qset(s, d), 10,
        pmod(col("id"), lit(4L)))),
    "vdb_knn_cosine" -> ((s, d) =>
      Knn.topK(emb(s, d), qset(s, d), 10, Knn.Metric.Cosine)),
    "vdb_scroll_page2" -> ((s, d) =>
      Knn.scrollPage2(emb(s, d), qset(s, d), 10)),
    "vdb_knn_groupby" -> ((s, d) =>
      Knn.topKGrouped(emb(s, d), qset(s, d), 3, 2)),
    // group_by + with_lookup (Qdrant): each surviving GROUP's key
    // joins a lookup collection's payload onto its rows. The lookup
    // COLLECTION is corpus-sized (documents), so it is semi-join
    // pruned to the label domain — a tiny column-pruned scan —
    // BEFORE the broadcast: what ships is label-domain-sized, never
    // the collection (r13 advice; the prior form broadcast all of
    // documents and the comment lied about it).
    "vdb_knn_groupby_lookup" -> ((s, d) => {
      val dom = emb(s, d).select(col("label").cast("long").as("label"))
        .distinct()
      val lk = Tables.documents(s, d).select(
        col("doc_id").as("label"), col("lang").as("lk_lang"),
        col("source").as("lk_source"))
        .join(dom, Seq("label"), "left_semi")
      Knn.topKGrouped(emb(s, d), qset(s, d), 3, 2)
        .withColumn("label", col("label").cast("long"))
        .join(broadcast(lk), Seq("label"), "left")
        .select(col("qid"), col("grp_rk"), col("label"),
          col("lk_lang"), col("lk_source"), col("hit_rk"),
          col("nn_id"), col("score"))
        .orderBy("qid", "grp_rk", "hit_rk")
    }),
    // collection describe (Qdrant GET /collections/{c}): exact
    // counts + vector/payload shape in one partial-agg pass
    "vdb_collection_info" -> ((s, d) =>
      Tables.embeddings(s, d).agg(
        count(lit(1)).as("points_count"),
        min(size(col("embedding"))).cast("long").as("dim_min"),
        max(size(col("embedding"))).cast("long").as("dim_max"),
        count(col("label")).as("label_nonnull"),
        countDistinct(col("label")).as("label_distinct"),
        min(col("label")).cast("long").as("label_min"),
        max(col("label")).cast("long").as("label_max"))),
    "vdb_recommend" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val reqs = Seq((0L, 0L, 1L, 6L), (1L, 2L, 3L, 7L),
        (2L, 4L, 5L, 8L)).toDF("qid", "pa", "pb", "ng")
      val withVecs = reqs
        .join(e.select(col("vec_id").as("pa"), col("v").as("va")), "pa")
        .join(e.select(col("vec_id").as("pb"), col("v").as("vb")), "pb")
        .join(e.select(col("vec_id").as("ng"), col("v").as("vn")), "ng")
        .select(col("qid"),
          expr("zip_with(zip_with(va, vb, (x, y) -> (x + y) / 2D), " +
            "vn, (p, n) -> 2D * p - n)").as("qvec"),
          col("pa").as("ex1"), col("pb").as("ex2"), col("ng").as("ex3"))
      Knn.recommend(emb(s, d), withVecs, 10)
    }),
    // recommend with lookup_from (Qdrant: the example ids resolve
    // their vectors in a SIBLING collection, not the searched one —
    // here the "title" collection of reversed vectors, the named-
    // vector convention this registry already uses). Same
    // average-vector arithmetic and exclusion anatomy as
    // vdb_recommend; the only change is one broadcast-sized join
    // against the sibling for the Q×3 example rows — the searched
    // corpus is never the lookup side, so at 100 TB the lookup stays
    // request-sized.
    "vdb_recommend_lookup" -> ((s, d) => {
      import s.implicits._
      val sib = Tables.embeddings(s, d).select(col("vec_id"),
        reverse(col("embedding").cast("array<double>")).as("v"))
      val reqs = Seq((0L, 0L, 1L, 6L), (1L, 2L, 3L, 7L),
        (2L, 4L, 5L, 8L)).toDF("qid", "pa", "pb", "ng")
      val withVecs = reqs
        .join(sib.select(col("vec_id").as("pa"), col("v").as("va")), "pa")
        .join(sib.select(col("vec_id").as("pb"), col("v").as("vb")), "pb")
        .join(sib.select(col("vec_id").as("ng"), col("v").as("vn")), "ng")
        .select(col("qid"),
          expr("zip_with(zip_with(va, vb, (x, y) -> (x + y) / 2D), " +
            "vn, (p, n) -> 2D * p - n)").as("qvec"),
          col("pa").as("ex1"), col("pb").as("ex2"), col("ng").as("ex3"))
      Knn.recommend(emb(s, d), withVecs, 10)
    }),
    "vdb_knn_multiquery" -> ((s, d) => {
      val qa = Tables.embeddings(s, d).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("q1"))
      val qb = Tables.embeddings(s, d)
        .where(col("vec_id") >= 5 && col("vec_id") < 10)
        .select((col("vec_id") - 5).as("qid"), col("embedding").as("q2"))
      Knn.topKMultiQuery(emb(s, d), qa.join(qb, "qid"), 10)
    }),
    "vdb_knn_filtered_eq" -> ((s, d) =>
      Knn.topKFiltered(emb(s, d), qset(s, d), 10, Knn.Metric.L2,
        col("label") === 5)),
    "vdb_knn_filtered_ne" -> ((s, d) =>
      Knn.topKFiltered(emb(s, d), qset(s, d), 10, Knn.Metric.L2,
        col("label") =!= 5)),
    "vdb_knn_filtered_json" -> (Knn.knnFilteredJsonQuery _),
    "vdb_knn_filtered_array" -> (Knn.knnFilteredArrayQuery _),
    "vdb_knn_filtered_isnull" -> (Knn.knnFilteredIsNullQuery _),
    "vdb_knn_filtered_datetime" -> (Knn.knnFilteredDatetimeQuery _),
    "vdb_knn_filtered_count" -> (Knn.knnFilteredCountQuery _),
    "vdb_knn_filtered_phrase" -> (Knn.knnFilteredPhraseQuery _),
    // r16 (VERDICT r15 #5): the phrase filter SERVED from the
    // positional-postings candidate stage (term-pruned anchor
    // evaluation → contains refinement → semi-join), result-identical
    // to the per-row form — same oracle statement
    "vdb_knn_filtered_phrase_idx" -> (Knn.knnFilteredPhraseIdxQuery _),
    // MatchText (Qdrant's full-text payload index filter): kNN gated
    // on whole-token membership in a TEXT payload — the vector's id
    // keys into documents, the predicate is token membership in the
    // split text (list_contains(string_split(...)) mirrors exactly;
    // NULL text never matches on either engine). Same pre-scan
    // placement as the scalar family; at 100 TB the token postings
    // index (the bm25 machinery already persisted) serves this as an
    // id semi-join instead of a per-row split.
    "vdb_knn_filtered_text" -> ((s, d) => {
      val payload = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .join(payload, Seq("id"))
      Knn.topKFiltered(e, qset(s, d), 10, Knn.Metric.L2,
        array_contains(split(col("text"), " "), "data"))
    }),
    // MatchExcept over the same array payload (Qdrant's negated
    // match: keep points whose tag list avoids EVERY given value) —
    // same pre-scan placement; at scale the postings index serves
    // the negation as an anti-join
    "vdb_knn_filtered_array_except" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          array(col("vec_id") % 7L, col("vec_id") % 11L,
            col("vec_id") % 13L).as("tags"))
      Knn.topKFiltered(e, qset(s, d), 10, Knn.Metric.L2,
        !array_contains(col("tags"), lit(3L)) &&
          !array_contains(col("tags"), lit(5L)))
    }),
    "vdb_knn_geo" -> (Knn.knnGeoQuery _),
    "vdb_knn_geo_bbox" -> (Knn.knnGeoBBoxQuery _),
    "vdb_knn_geo_poly" -> (Knn.knnGeoPolyQuery _),
    "vdb_knn_named" -> (Knn.knnNamedQuery _),
    "vdb_hybrid_prefetch" -> (Knn.hybridPrefetchQuery _),
    "vdb_discover" -> (Knn.discoverQuery _),
    "vdb_context_search" -> (Knn.contextSearchQuery _),
    "vdb_recommend_best" -> (Knn.recommendBestQuery _),
    "vdb_batch_update" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      def doc = Tables.documents(s, d)
      def op(mod: Int, v: Long, o: String, lang: Column,
             source: Column, nc: Column) =
        doc.where(col("doc_id") % mod === 0)
          .select(col("doc_id"), lit(v).as("version"), lit(o).as("op"),
            lang.as("lang"), source.as("source"), nc.as("n_chars"))
      val nullS = lit(null).cast("string")
      val nullL = lit(null).cast("long")
      val ops = op(6, 1L, "upsert", lit("aa"), lit("up1"),
          col("n_chars") + 1000L)
        .unionByName(op(9, 2L, "patch", nullS, lit("patched2"), nullL))
        .unionByName(op(15, 3L, "delete", nullS, nullS, nullL))
        .unionByName(op(21, 4L, "upsert", lit("bb"), lit("up4"),
          col("n_chars") + 4000L))
      Upsert.batchUpdate(base, ops, "doc_id").orderBy("doc_id")
    }),
    "vdb_distance_matrix" -> ((s, d) => Knn.distanceMatrixQuery(s, d)),
    "vdb_scroll_orderby" -> ((s, d) => ScalarOps.scrollOrderBy(s, d)),
    "vdb_set_payload" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val patch = Tables.documents(s, d).where(col("doc_id") % 9 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 18 === 0, lit("xx"))
            .otherwise(lit(null).cast("string")).as("lang"),
          lit("patched").as("source"))
      Upsert.setPayload(base, patch, "doc_id").orderBy("doc_id")
    }),
    "vdb_knn_tenant" -> (Ann.tenantQuery _),
    "vdb_delete_payload" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val del = Tables.documents(s, d).where(col("doc_id") % 7 === 0)
        .select(col("doc_id"))
      val clr = Tables.documents(s, d).where(col("doc_id") % 13 === 0)
        .select(col("doc_id"))
      Upsert.deletePayload(
        Upsert.deletePayload(base, del, "doc_id", Seq("source")),
        clr, "doc_id", Seq("lang", "source", "n_chars")).orderBy("doc_id")
    }),
    "vdb_facet_counts" -> ((s, d) =>
      ScalarOps.facetCounts(Tables.documents(s, d),
        col("n_chars") >= 300, Seq("lang", "source"), 5)),
    "opq_recall_report" -> (Pq.opqRecallReport _),
    "vdb_search_requests" -> (SearchApi.searchRequestsQuery _),
    "vdb_search_routed" -> (SearchApi.searchRoutedQuery _),
    "vdb_search_routed_ef" -> (SearchApi.searchRoutedEfQuery _),
    "vdb_count_requests" -> (SearchApi.countRequestsQuery _),
    "vdb_batch_knn" -> ((s, d) =>
      Knn.topK(emb(s, d), batchQset(s, d), 5, Knn.Metric.Cosine)),
    "vdb_query_by_id" -> ((s, d) =>
      ScalarOps.pointLookup(Tables.embeddings(s, d), "vec_id", Seq(3L, 17L, 42L))
        .select(col("vec_id"),
          col("label").cast("long").as("label"),
          size(col("embedding")).cast("long").as("dim"),
          round(graft.functions.VectorFunctions.l2Norm(
            graft.functions.VectorFunctions.vecD(col("embedding"))), 4).as("norm"))
        .orderBy("vec_id")),
    "vdb_upsert" -> ((s, d) => {
      val e = emb(s, d)
      val base = e.select(col("id"), col("label").cast("long").as("label"),
        lit(1L).as("version"))
      val upd = e.where(col("id") % 7 === 0)
        .select(col("id"), (col("label") + 100).cast("long").as("label"),
          lit(2L).as("version"))
      Upsert.lastWriterWins(base.unionByName(upd), "id", "version")
        .orderBy("id")
    }),
    "vdb_upsert_cas" -> (Upsert.casQuery _),
    "scd2_intervals" -> (Upsert.scd2Query _),
    "vdb_delete" -> (Upsert.deleteQuery _),
    "vdb_snapshot_diff" -> (Upsert.snapshotDiffQuery _),
    "scd2_tombstones" -> (Upsert.scd2TombstoneQuery _),
    "scd2_retention" -> (Upsert.scd2RetentionQuery _),
    "wal_delete_replay" -> (graft.sources.WalSource.deleteReplayQuery _),
    "wal_compact_replay" -> (graft.sources.WalBinary.compactReplayQuery _),
    "vdb_remove" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val removed = e.where(col("vec_id") % 10 === 0).select("vec_id")
      ScalarOps.removeByIds(e, "vec_id", removed, "vec_id")
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"), min("vec_id").as("min_id"),
          max("vec_id").as("max_id"))
        .orderBy("label")
    }),
    "vdb_filter_index_build" -> ((s, d) =>
      ScalarOps.filterIndexBuild(
        Tables.embeddings(s, d)
          .select(col("label").cast("long").as("label"), col("vec_id")),
        "label", "vec_id")),
    "vdb_filter_index_json" -> ((s, d) =>
      ScalarOps.filterIndexBuild(
        Tables.events(s, d)
          // try_cast (r16 fuzz): an unparsable payload value yields no
          // posting instead of failing the index build under ANSI
          .select(get_json_object(col("props"), "$.k").try_cast("long")
            .as("k"), col("event_id"))
          .where(col("k").isNotNull),
        "k", "event_id")),
    // array-value inverted index (9j's shape over an exploded
    // array-typed payload): one posting row per (tag value) with
    // cardinality + id range — the build artifact that serves
    // vdb_knn_filtered_array's MatchAny as a postings semi-join
    "vdb_filter_index_array" -> ((s, d) =>
      ScalarOps.filterIndexBuild(
        Tables.embeddings(s, d)
          .select(explode(array(col("vec_id") % 7L, col("vec_id") % 11L,
            col("vec_id") % 13L)).as("tag"), col("vec_id")),
        "tag", "vec_id")),
    "vdb_snapshot_replay" -> ((s, d) =>
      WalReplay.replayComposed(Tables.events(s, d), 500L)),
    "wal_json_replay" -> (graft.sources.WalSource.replayQuery _),
    "wal_binary_replay" -> (graft.sources.WalBinary.binaryReplayQuery _),
    "wal_dsv2_replay" -> (graft.sources.WalBinary.dsv2ReplayQuery _),
    "wal_file_replay" -> (graft.sources.WalSource.fileReplayQuery _),
    "stream_wal_state" -> (graft.streaming.BatchTwins.walStateQuery _),
    "stream_dedup_state" -> (graft.streaming.DedupStream.dedupStateQuery _),
    "stream_window_daily" -> (graft.streaming.BatchTwins.windowDailyQuery _),
    "stream_session_window" -> (graft.streaming.BatchTwins.sessionWindowQuery _),
    "stream_interval_join" -> (graft.streaming.BatchTwins.intervalJoinQuery _),
    "ann_ivf" -> (Ann.ivfQuery _),
    "ann_ivf_spill" -> (Ann.ivfSpillQuery _),
    "ann_spill_recall" -> (Ann.spillRecallReport _),
    "knn_graph" -> ((s, d) => Ann.knnGraph(s, d)),
    "mutual_knn_pairs" -> ((s, d) => Ann.mutualKnnPairs(s, d)),
    "graph_centrality" -> ((s, d) => Ann.graphCentrality(s, d)),
    "graph_triangles" -> ((s, d) => Ann.graphTriangles(s, d)),
    "graph_adamic_adar" -> ((s, d) => Ann.adamicAdar(s, d)),
    "graph_hits" -> (Ann.graphHits _),
    "knn_hubness" -> (Ann.knnHubness _),
    "embed_lof" -> (Ann.lofReport _),
    "embed_knn_purity" -> (Ann.knnLabelPurity _),
    "graph_jaccard_lp" -> ((s, d) => Ann.graphJaccardLp(s, d)),
    "graph_kcore" -> ((s, d) => Ann.graphKCore(s, d)),
    "graph_bfs_hist" -> ((s, d) => Ann.graphBfsHist(s, d)),
    "graph_modularity" -> ((s, d) => Ann.graphModularity(s, d)),
    "graph_conductance" -> ((s, d) => Ann.graphConductance(s, d)),
    "knn_graph_recall" -> ((s, d) => Ann.knnGraphRecall(s, d)),
    "events_bot_score" -> ((s, d) => Sequence.botScore(s, d)),
    "embed_knn_clusters" -> ((s, d) => Ann.embedKnnClusters(s, d)),
    "ann_nsw" -> (Ann.nswQuery _),
    "ann_nsw_filtered" -> (Ann.nswFilteredQuery _),
    "ann_hnsw" -> (Ann.hnswQuery _),
    "ann_hnsw_filtered" -> (Ann.hnswFilteredQuery _),
    "ann_hnsw_indexed" -> (Ann.hnswIndexedQuery _),
    "embed_cluster_stats" -> (Ann.clusterStats _),
    "knn_silhouette" -> (Ann.knnSilhouette _),
    "embed_outliers" -> ((s, d) => Ann.embedOutliers(s, d)),
    "embed_pca_project" -> (Pca.pcaProject _),
    "embed_pca_project2" -> (Pca.pcaProject2 _),
    "embed_pca_var" -> (Pca.pcaVariance _),
    "events_forecast_naive" -> ((s, d) => Analytics.eventsForecastNaive(s, d)),
    "events_autocorr7" -> ((s, d) => Analytics.eventsAutocorr(s, d)),
    "events_series_corr" -> (Analytics.eventsSeriesCorr _),
    "events_benford" -> (Analytics.eventsBenford _),
    "supplier_hhi" -> (Analytics.supplierHhi _),
    "text_readability" -> (TextOps.readability _),
    "ann_recall_report" -> ((s, d) => Ann.ivfRecallReport(s, d)),
    "mrl_recall_curve" -> ((s, d) => Ann.mrlRecallCurve(s, d)),
    "embed_drift_psi" -> ((s, d) => Ann.embedDriftPsi(s, d)),
    "ann_recall_curve" -> ((s, d) => Ann.ivfRecallCurve(s, d)),
    "ann_recall_at_k" -> ((s, d) => Ann.ivfRecallAtK(s, d)),
    "ann_pareto_tuning" -> ((s, d) => Ann.ivfParetoTuning(s, d)),
    "lsh_recall_report" -> ((s, d) => Ann.lshRecallReport(s, d)),
    "hnsw_recall_report" -> ((s, d) => Ann.hnswRecallReport(s, d)),
    "search_ndcg" -> (Ann.ndcgReport _),
    "search_mrr" -> (Ann.mrrReport _),
    "embed_rp_knn" -> (Ann.rpKnnQuery _),
    "vdb_knn_mrl" -> ((s, d) => Knn.mrlSearch(emb(s, d), qset(s, d), 10)),
    "ann_ivf_mrl" -> (Ann.ivfMrlQuery _),
    "events_json_props" -> (Analytics.eventsJsonProps _),
    "events_transitions" -> (Analytics.eventsTransitions _),
    "ann_ivf_indexed" -> (Ann.ivfIndexedQuery _),
    "ann_ivf_filtered" -> (Ann.ivfIndexedFilteredQuery _),
    "ann_adaptive_filter" -> (Ann.adaptiveFilterQuery _),
    "vdb_range_search" -> ((s, d) =>
      Knn.radius(emb(s, d), qset(s, d), Knn.Metric.Cosine, 0.25)),
    "vdb_range_annulus" -> ((s, d) =>
      Knn.radiusBand(emb(s, d), qset(s, d), Knn.Metric.Cosine, 0.25, 0.6)),
    "vdb_sample_random" -> ((s, d) =>
      Sampling.randomSample(
        Tables.embeddings(s, d).where(col("label") >= 5)
          .select(col("vec_id").as("id")), "id", 25, "smp1")),
    "ann_ivf_range" -> (Ann.ivfRangeQuery _),
    "ann_ivf_nprobe" -> (Ann.ivfNprobeQuery _),
    "ann_ivf_sq8" -> (Ann.ivfSq8Query _),
    "ann_ivf_bq" -> (Ann.ivfBqQuery _),
    "ann_lsh" -> (Ann.lshQuery _),
    "ann_lsh_multiprobe" -> (Ann.lshMultiprobeQuery _),
    "vdb_knn_sq8" -> (Quant.sq8Query _),
    "vdb_knn_bq" -> (BinQuant.bqQuery _),
    "vdb_knn_pq" -> (Pq.pqQuery _),
    "ann_ivf_pq" -> (Pq.ivfPqQuery _),
    "ann_ivf_opq" -> (Pq.ivfOpqQuery _),
    "ann_ivf_pq_res" -> (Pq.ivfPqResQuery _),
    "mm_decode" -> (Multimodal.decodeQuery _),
    "mm_features" -> (Multimodal.featuresQuery _),
    "mm_frame_sample" -> ((s, d) => Multimodal.frameSampleQuery(s, d)),
    "mm_audio_energy" -> ((s, d) => Multimodal.audioEnergyQuery(s, d)),
    "mm_audio_silence" -> ((s, d) => Multimodal.audioSilenceQuery(s, d)),
    "mm_shot_detect" -> ((s, d) => Multimodal.shotDetectQuery(s, d)),
    "mm_byte_entropy" -> (Multimodal.byteEntropyQuery _),
    "mm_phash" -> (Multimodal.phashQuery _),
    "mm_format_sniff" -> (Multimodal.formatSniffQuery _),
    "mm_channel_stats" -> (Multimodal.channelStatsQuery _),
    "mm_resize" -> (Multimodal.resizeQuery _),
    "dedup_phash_hamming" -> ((s, d) => Multimodal.phashHammingQuery(s, d)),
    "mm_phash_dup" -> (Multimodal.phashDupQuery _),
    "dedup_exact" -> ((s, d) => Dedup.exact(Dedup.corpusWithExactDups(s, d))),
    "dedup_minhash_sig" -> (Dedup.minhashSignatures _),
    "dedup_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(s, d)),
    "dedup_edit_distance" -> ((s, d) => Dedup.editDistancePairs(s, d)),
    "dedup_incremental" -> (Dedup.incrementalQuery _),
    "dedup_simhash" -> (Dedup.simhash _),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "dedup_simhash60_pairs" -> ((s, d) => Dedup.simhashPairsWide(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    "dedup_clusters" -> ((s, d) => Dedup.nearDupClusters(s, d)),
    "dedup_canonical" -> ((s, d) => Dedup.canonicalMap(s, d)),
    "dedup_jaccard_hist" -> ((s, d) => Dedup.jaccardHistogram(s, d)),
    "dedup_band_recall" -> ((s, d) => Dedup.bandRecallReport(s, d)),
    "dedup_lsh_scurve" -> ((s, d) => Dedup.lshScurve(s, d)),
    "corpus_vocab_growth" -> ((s, d) => TextOps.vocabGrowth(s, d)),
    "dedup_cluster_sizes" -> ((s, d) => Dedup.clusterSizeHistogram(s, d)),
    "dedup_source_overlap" -> ((s, d) => Dedup.sourceOverlap(s, d)),
    "dedup_substring" -> (Dedup.duplicatedSpansQuery _),
    "dedup_containment" -> ((s, d) => Dedup.containmentPairs(s, d)),
    "dedup_winnowing" -> ((s, d) => Dedup.winnowingPairs(s, d)),
    "dedup_winnow_incremental" -> ((s, d) => Dedup.winnowIncrementalQuery(s, d)),
    "dedup_embedding_cos" -> ((s, d) => Dedup.embeddingCosinePairs(s, d)),
    "dedup_semdedup" -> ((s, d) => Dedup.semDedup(s, d)),
    "dedup_semdedup_closure" -> ((s, d) => Dedup.semDedupClosure(s, d)),
    "dedup_semdedup_incremental" ->
      ((s, d) => Dedup.semDedupIncremental(s, d)),
    "sim_brute_topk" -> ((s, d) =>
      Knn.topKExcludingSelf(emb(s, d), simQset(s, d), 10, Knn.Metric.Cosine)),
    "text_langid" -> (TextOps.langId _),
    "langid_confusion" -> (TextOps.langIdConfusion _),
    "text_quality" -> (TextOps.quality _),
    "quality_deciles" -> (TextOps.qualityDeciles _),
    "corpus_budget_select" -> ((s, d) => TextOps.budgetSelect(s, d)),
    "embed_norm_audit" -> ((s, d) => Ann.embedNormAudit(s, d)),
    "embed_dim_variance" -> (Ann.dimVariance _),
    "text_tokens" -> (TextOps.tokenCounts _),
    "text_fingerprint" -> (TextOps.fingerprint _),
    "text_normalize" -> (TextOps.normalizeQuery _),
    "text_ttr" -> (TextOps.lexicalDiversity _),
    "text_hapax" -> (TextOps.hapaxProfile _),
    "text_rake_keywords" -> ((s, d) => TextOps.rakeKeywords(s, d)),
    "corpus_ngram_coverage" -> ((s, d) => TextOps.ngramCoverage(s, d)),
    "text_token_entropy" -> (TextOps.tokenEntropy _),
    "corpus_source_diversity" -> (TextOps.sourceDiversity _),
    "events_anova" -> (Analytics.eventsAnova _),
    "customer_gini" -> ((s, d) => Analytics.customerGini(s, d)),
    "part_price_elasticity" -> ((s, d) => Analytics.priceElasticity(s, d)),
    "part_xyz_class" -> (Analytics.partXyz _),
    "part_abc_xyz_matrix" -> (Analytics.partAbcXyzMatrix _),
    "orders_interarrival" -> (Analytics.ordersInterarrival _),
    "priority_returns_chi2" -> (Analytics.priorityReturnsChi2 _),
    "corpus_stats" -> (TextOps.corpusStats _),
    "text_chunk" -> (TextOps.chunkQuery _),
    "chunk_pack" -> (TextOps.chunkPackQuery _),
    "train_length_buckets" -> ((s, d) => TextOps.lengthBuckets(s, d)),
    "text_pii_redact" -> (TextOps.piiQuery _),
    "text_repetition" -> (TextOps.repetition _),
    "corpus_sample_split" -> (Sampling.sampleSplitQuery _),
    "hash_uniformity_audit" -> (Sampling.hashUniformityAudit _),
    "corpus_reservoir" -> ((s, d) => Sampling.reservoirQuery(s, d)),
    "dsir_select" -> ((s, d) => Sampling.dsirSelect(s, d)),
    "export_shards" -> (Sampling.exportShardsQuery _),
    "corpus_weighted_sample" -> (Sampling.weightedSampleQuery _),
    "export_shard_manifest" -> (Sampling.exportShardManifest _),
    "dedup_impact_report" -> (Dedup.dedupImpactReport _),
    "sketch_kmv_distinct" -> (Sketch.kmvQuery _),
    "sketch_kmv_rollup" -> (Sketch.kmvRollupQuery _),
    "sketch_hll_distinct" -> (Sketch.hllQuery _),
    "sketch_error_report" -> (Sketch.sketchErrorReport _),
    "sketch_hll_rollup" -> (Sketch.hllRollupQuery _),
    "sketch_kmv_setops" -> (Sketch.kmvSetOpsQuery _),
    "sketch_hist_quantile" -> (Sketch.histQuantileQuery _),
    "sketch_cms_topk" -> (Sketch.cmsTopTermsQuery _),
    "sketch_cms_grouped" -> (Sketch.cmsByLangQuery _),
    "knn_classify" -> ((s, d) => Classify.knnClassify(s, d)),
    "knn_regression" -> ((s, d) => Classify.knnRegression(s, d)),
    "centroid_confusion" -> (Classify.nearestCentroid _),
    "corpus_health" -> (Sketch.corpusHealth _),
    "corpus_drift_psi" -> ((s, d) => Sketch.driftPsi(s, d)),
    "corpus_mixture" -> (Sketch.corpusMixture _),
    "corpus_temperature_mix" -> (Sketch.temperatureMix _),
    "train_triplets" -> (Triplets.tripletsQuery _),
    "train_span_corrupt" -> (TextOps.spanCorrupt _),
    "train_mlm_mask" -> (TextOps.mlmMask _),
    "train_triplets_hard" -> (Triplets.tripletsHardQuery _),
    "decontam_overlap" -> (Decontam.contaminationQuery _),
    "decontam_semantic" -> ((s, d) => Decontam.semantic(s, d)),
    "events_funnel" -> (Analytics.eventsFunnel _),
    "events_attribution" -> (Analytics.eventsAttribution _),
    "events_funnel_timing" -> (Analytics.eventsFunnelTiming _),
    "events_rolling_p95" -> ((s, d) => Analytics.eventsRollingP95(s, d)),
    "events_power_analysis" -> (Analytics.eventsPowerAnalysis _),
    "orders_backlog" -> (Analytics.ordersBacklog _),
    "part_abc_analysis" -> (Analytics.partAbcAnalysis _),
    "customer_cohort_ltv" -> (Analytics.customerCohortLtv _),
    "events_dow_seasonality" -> (Analytics.eventsDowSeasonality _),
    "events_pattern_match" -> (Sequence.patternMatch _),
    "events_ab_test" -> (Analytics.eventsAbTest _),
    "events_mann_whitney" -> (Analytics.eventsMannWhitney _),
    "events_page_hinkley" -> ((s, d) => Analytics.eventsPageHinkley(s, d)),
    "events_fano" -> (Analytics.eventsFano _),
    "events_forecast_holt" -> (Analytics.eventsForecastHolt _),
    "events_forecast_eval" -> (Analytics.eventsForecastEval _),
    "events_next_pred" -> (Analytics.eventsNextPred _),
    "events_health_dashboard" -> (Analytics.eventsHealthDashboard _),
    "events_rolling_active" -> (Analytics.eventsRollingActive _),
    "supplier_return_shrinkage" -> ((s, d) =>
      Analytics.supplierReturnShrinkage(s, d)),
    "events_share_trend" -> (Analytics.eventsShareTrend _),
    "events_reactivation" -> ((s, d) => Analytics.eventsReactivation(s, d)),
    "dedup_shingle_df_hist" -> (Dedup.shingleDfHist _),
    "events_value_boxplot" -> (Analytics.eventsValueBoxplot _),
    "part_seasonal_index" -> (Analytics.partSeasonalIndex _),
    "events_peak_concurrency" -> ((s, d) =>
      Analytics.eventsPeakConcurrency(s, d)),
    "embed_twonn_dim" -> (Ann.twoNnDim _),
    "events_ks_test" -> (Analytics.eventsKsTest _),
    "events_moments" -> (Analytics.eventsMoments _),
    "customer_churn_hazard" -> (Analytics.customerChurnHazard _),
    "events_ab_sequential" -> ((s, d) => Analytics.eventsAbSequential(s, d)),
    "events_funnel_ab" -> (Analytics.eventsFunnelAb _),
    "events_ab_cuped" -> ((s, d) => Analytics.eventsAbCuped(s, d)),
    "events_ab_srm" -> (Analytics.eventsAbSrm _),
    "events_aa_test" -> (Analytics.eventsAaTest _),
    "events_did" -> (Analytics.eventsDid _),
    "events_winsorized" -> (Analytics.eventsWinsorized _),
    "events_stl_decompose" -> (Analytics.eventsStlDecompose _),
    "events_next_pred2" -> (Analytics.eventsNextPred2 _),
    "orders_revenue_bridge" -> (Analytics.ordersRevenueBridge _),
    "part_abc_migration" -> (Analytics.partAbcMigration _),
    "part_sourcing_risk" -> (Analytics.partSourcingRisk _),
    "events_absence_alert" -> (Analytics.eventsAbsenceAlert _),
    "dedup_cos_sweep" -> ((s, d) => Dedup.cosineSweep(s, d)),
    "dedup_text_vs_embed" -> ((s, d) => Dedup.textVsEmbed(s, d)),
    "graph_assortativity" -> ((s, d) => Ann.graphAssortativity(s, d)),
    "text_collocations" -> ((s, d) => TextOps.collocations(s, d)),
    "events_cooccurrence" -> ((s, d) => Sequence.cooccurrence(s, d)),
    "part_pareto" -> ((s, d) => Sequence.partPareto(s, d)),
    "vdb_knn_filtered_in" -> ((s, d) =>
      Knn.topKFiltered(emb(s, d), qset(s, d), 10, Knn.Metric.L2,
        col("label").isin(2, 4, 6))),
    "vdb_knn_filtered_range" -> ((s, d) =>
      Knn.topKFiltered(emb(s, d), qset(s, d), 10, Knn.Metric.L2,
        col("label").between(3, 6))),
    // two-field predicate: FilterIndex keys bitmaps per fieldname
    // (reference filter_index.cc:9) — Spark predicates compose for
    // free; this query pins the multi-field claim
    "vdb_knn_filtered_2field" -> ((s, d) =>
      Knn.topKFiltered(emb(s, d), qset(s, d), 10, Knn.Metric.L2,
        col("label").between(2, 6) && col("id") % 2 === 0)),
    "vdb_insert" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val base = e.select(col("vec_id").as("id"),
        col("label").cast("long").as("label"))
      val ins = e.where(col("vec_id") % 7 === 0)
        .select(col("vec_id").as("id"),
          (col("label") + 100).cast("long").as("label"))
      // append semantics: re-inserted ids keep BOTH rows (contrast
      // vdb_upsert's LWW) — surfaced per id for a stable oracle
      Upsert.append(base, ins)
        .groupBy("id")
        .agg(count(lit(1)).as("n_rows"),
          min("label").as("min_label"), max("label").as("max_label"))
        .orderBy("id")
    }),
    "doc_semantic_search" -> ((s, d) => {
      val nn = Knn.topKExcludingSelf(
        emb(s, d),
        Tables.embeddings(s, d).where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        5, Knn.Metric.Cosine)
      nn.join(Tables.documents(s, d)
          .select(col("doc_id").as("nn_id"), col("lang"), col("source")),
          "nn_id")
        .select(col("qid"), col("rk"), col("nn_id"), col("score"),
          col("lang"), col("source"))
        .orderBy("qid", "rk")
    }),
    "q1_agg" -> Analytics.q1PricingSummary _,
    "q4_semi" -> (Analytics.q4OrderPriority _),
    "bloom_prefilter_join" -> (BloomJoin.bloomQuery _),
    "bloom_fpr_report" -> ((s, d) => BloomJoin.bloomFprReport(s, d)),
    "q6_filter_agg" -> (Analytics.q6ForecastRevenue _),
    "q3_join" -> Analytics.q3ShippingPriority _,
    "q5_join" -> Analytics.q5LocalSupplierVolume _,
    "q7_volume" -> ((s, d) => Analytics.q7VolumeShipping(s, d)),
    "q8_market_share" -> ((s, d) => Analytics.q8MarketShare(s, d)),
    "q13_order_dist" -> (Analytics.q13OrderDistribution _),
    "q15_top_supplier" -> (Analytics.q15TopSupplier _),
    "q17_small_qty" -> (Analytics.q17SmallQty _),
    "events_retention" -> (Analytics.eventsRetention _),
    "events_rollup_cube" -> (Analytics.eventsRollup _),
    "events_gap_fill" -> (Analytics.eventsGapFill(_, _)),
    "events_user_features" -> (Analytics.eventsUserFeatures _),
    "events_ewma" -> (Analytics.eventsEwma _),
    "events_pivot" -> (Analytics.eventsPivot _),
    "events_top_paths" -> (Analytics.eventsTopPaths(_, _)),
    "q18_large_orders" -> ((s, d) => Analytics.q18LargeOrders(s, d)),
    "q14_promo" -> (Analytics.q14PromoEffect _),
    "q10_returned" -> (Analytics.q10ReturnedItems _),
    "q19_disc_rev" -> (Analytics.q19DiscountedRevenue _),
    "q21_sole_blame" -> (Analytics.q21SoleBlame _),
    "q16_supplier_cnt" -> (Analytics.q16SupplierCount _),
    "q20_excess_supply" -> (Analytics.q20ExcessSupply _),
    "events_stickiness" -> (Analytics.eventsStickiness _),
    "q9_profit" -> (Analytics.q9ProductProfit _),
    "q11_important_parts" -> (Analytics.q11ImportantParts _),
    "q12_late_priority" -> (Analytics.q12LatePriority _),
    "basket_pairs" -> ((s, d) => Analytics.basketPairs(s, d)),
    "part_item_cf" -> ((s, d) => Analytics.partItemCf(s, d)),
    "part_trend_slope" -> ((s, d) => Analytics.partTrendSlope(s, d)),
    "supplier_wilson" -> ((s, d) => Analytics.supplierWilson(s, d)),
    "customer_rfm" -> ((s, d) => Analytics.customerRfm(s, d)),
    "supplier_lead_time" -> ((s, d) => Analytics.supplierLeadTime(s, d)),
    "text_boilerplate" -> ((s, d) => TextOps.boilerplate(s, d)),
    "events_heatmap" -> ((s, d) => Analytics.eventsHeatmap(s, d)),
    "embed_quant_error" -> ((s, d) => Quant.quantErrorReport(s, d)),
    "quant_advisor" -> ((s, d) => Quant.quantAdvisor(s, d)),
    "corpus_zipf_fit" -> ((s, d) => TextOps.zipfFit(s, d)),
    "part_fuzzy_terms" -> ((s, d) => Analytics.fuzzyTerms(s, d)),
    "q2_min_cost" -> (Analytics.q2MinCostSupplier _),
    "bucketed_join_agg" -> (Layout.bucketedJoinQuery _),
    "events_zorder_skip" -> (ZOrder.zorderSkipQuery _),
    "q22_global_sales" -> (Analytics.q22GlobalSales _),
    "q_window_topn" -> ((s, d) => Analytics.windowTopOrders(s, d)),
    "events_tumbling" -> Analytics.eventsTumbling _,
    "events_daily_agg" -> (AggTable.dailyAggQuery _),
    "events_hopping" -> (Analytics.eventsHopping _),
    "events_anomaly" -> ((s, d) => Analytics.eventsAnomaly(s, d)),
    "events_anomaly_consensus" ->
      (Analytics.eventsAnomalyConsensus _),
    "events_anomaly_online" -> ((s, d) => Analytics.eventsAnomalyOnline(s, d)),
    "events_anomaly_mad" -> ((s, d) => Analytics.eventsAnomalyMad(s, d)),
    "events_changepoint" -> (Analytics.eventsChangepoint _),
    "text_top_terms" -> ((s, d) => TextOps.topTerms(s, d)),
    "text_ngram_novelty" -> (TextOps.ngramNovelty _),
    "text_tfidf_keywords" -> ((s, d) => TextOps.tfidfKeywords(s, d)),
    "text_surprisal" -> (TextOps.surprisal _),
    "text_bigram_surprisal" -> (TextOps.bigramSurprisal _),
    "text_xent_score" -> (TextOps.xentScore _),
    "corpus_ccnet_buckets" -> (TextOps.ccnetBuckets _),
    "langid_ngram" -> ((s, d) => TextOps.langIdNgram(s, d)),
    "bpe_learn" -> ((s, d) => Bpe.bpeLearn(s, d)),
    "bpe_learn_batched" -> ((s, d) => Bpe.bpeLearnBatched(s, d)),
    "bpe_tokenize" -> ((s, d) => Bpe.bpeTokenize(s, d)),
    "quality_classifier" -> ((s, d) => TextOps.qualityClassifier(s, d)),
    "quality_kappa" -> ((s, d) => TextOps.qualityKappa(s, d)),
    "corpus_dataset_card" -> (Pipeline.datasetCard _),
    "events_sessionize" -> ((s, d) => Analytics.eventsSessionize(s, d)),
    "events_salted_enrich" -> ((s, d) => Skew.saltedEnrichQuery(s, d)),
    "key_skew_report" -> (Skew.keySkewQuery _),
    "events_asof_join" -> (AsOf.eventsAsofQuery _),
    "events_session_attr" -> (RangeJoin.sessionAttributionQuery _),
    "text_bm25_topk" -> (Search.bm25Query _),
    "search_bm25f" -> (Search.bm25fQuery _),
    "text_bm25_filtered" -> (Search.bm25FilteredQuery _),
    "text_bm25_indexed" -> (Search.bm25IndexedQuery _),
    "hybrid_search_rrf" -> (Search.hybridRrfQuery _),
    "hybrid_search_dbsf" -> (Search.hybridDbsfQuery _),
    "hybrid_search_weighted" -> (Search.hybridWeightedQuery _),
    "hybrid_search_linear" -> ((s, d) => Search.hybridLinearQuery(s, d)),
    "vdb_knn_sparse" -> (Search.sparseDotQuery _),
    "vdb_knn_sparse_indexed" -> (Search.sparseIndexedQuery _),
    "search_mmr_rerank" -> (Search.mmrQuery _),
    "search_ltr_rerank" -> ((s, d) => Search.ltrQuery(s, d)),
    "search_prf_expand" -> ((s, d) => Search.prfQuery(s, d)),
    "search_spell_correct" -> ((s, d) => Search.spellCorrectQuery(s, d)),
    "search_query_suggest" -> ((s, d) => Search.querySuggest(s, d)),
    "search_prefix" -> ((s, d) => Search.prefixSearch(s, d)),
    "search_prefix_indexed" -> ((s, d) => Search.prefixSearchIndexed(s, d)),
    "search_boolean" -> ((s, d) => Search.booleanSearch(s, d)),
    "search_facets" -> ((s, d) => Search.searchFacets(s, d)),
    "search_spell_indexed" -> ((s, d) => Search.spellCorrectIndexed(s, d)),
    "search_maxsim" -> (MaxSim.maxsimQuery _),
    "text_phrase_search" -> (Search.phraseSearchQuery _),
    "text_phrase_near" -> (Search.phraseNearQuery _),
    "search_snippets" -> ((s, d) => Search.snippetQuery(s, d)),
    "embed_mean_pool" -> (MaxSim.meanPoolQuery _),
    "vdb_time_travel" -> (Upsert.timeTravelQuery _),
    "pipeline_clean_corpus" -> ((s, d) => Pipeline.cleanCorpus(s, d)),
    "pipeline_train_eval" -> ((s, d) => Pipeline.trainEvalSplit(s, d)),
  )

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    def sub(n: String) = s"(${base(n)})"
    base + ("sketch_error_report" ->
      s"""WITH ex AS (SELECT event_type,
         |        CAST(count(DISTINCT user_id) AS BIGINT)
         |          AS exact_distinct
         |      FROM events GROUP BY 1)
         |SELECT ex.event_type, ex.exact_distinct,
         |       k.est_distinct AS kmv_est,
         |       round((k.est_distinct - ex.exact_distinct)
         |         / ex.exact_distinct, 6) AS kmv_rel_err,
         |       h.est_distinct AS hll_est,
         |       round((h.est_distinct - ex.exact_distinct)
         |         / ex.exact_distinct, 6) AS hll_rel_err
         |FROM ex
         |JOIN (${base("sketch_kmv_distinct")}) k
         |  ON ex.event_type = k.event_type
         |JOIN (${base("sketch_hll_distinct")}) h
         |  ON ex.event_type = h.event_type
         |ORDER BY ex.event_type""".stripMargin) +
    ("events_health_dashboard" ->
      s"""SELECT f.event_type, f.n_days, m.n AS n_events, f.mean_daily,
         |       f.fano, m.skewness, m.kurtosis, p.max_ph, p.n_alarms,
         |       k.ks_stat, w.z AS mw_z
         |FROM ${sub("events_fano")} f
         |JOIN ${sub("events_moments")} m ON f.event_type = m.event_type
         |JOIN ${sub("events_page_hinkley")} p
         |  ON f.event_type = p.event_type
         |JOIN ${sub("events_ks_test")} k ON f.event_type = k.event_type
         |JOIN ${sub("events_mann_whitney")} w
         |  ON f.event_type = w.event_type
         |ORDER BY f.event_type""".stripMargin) +
    // quant advisor: each rung's SHIPPED top-10 result set joined
    // against the exact top-10 under the rung's own serving metric
    // (cosine rungs vs the exact-cosine query, L2 rungs vs exact L2),
    // fidelity from the shipped embed_quant_error rows, rank on the
    // exact integer hits — composed entirely from member oracles so
    // it cannot disagree with them
    ("quant_advisor" ->
      s"""WITH exc AS (SELECT qid, nn_id FROM ${sub("vdb_knn_cosine")}),
         |exl AS (SELECT qid, nn_id FROM ${sub("vdb_knn_flat_l2")}),
         |qn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
         |       WHERE vec_id < 5),
         |qau AS (
         |  SELECT 'bq' AS method, 'cosine' AS metric,
         |         CAST(8 AS BIGINT) AS code_bytes,
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM ${sub("vdb_knn_bq")} t
         |          JOIN exc ON t.qid = exc.qid AND t.nn_id = exc.nn_id)
         |           AS hits
         |  UNION ALL
         |  SELECT 'sq8', 'l2', CAST(64 AS BIGINT),
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM ${sub("vdb_knn_sq8")} t
         |          JOIN exl ON t.qid = exl.qid AND t.nn_id = exl.nn_id)
         |  UNION ALL
         |  SELECT 'pq', 'l2', CAST(8 AS BIGINT),
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM ${sub("vdb_knn_pq")} t
         |          JOIN exl ON t.qid = exl.qid AND t.nn_id = exl.nn_id)
         |  UNION ALL
         |  SELECT 'pq_res', 'l2', CAST(8 AS BIGINT),
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM ${sub("ann_ivf_pq_res")} t
         |          JOIN exl ON t.qid = exl.qid AND t.nn_id = exl.nn_id)
         |  UNION ALL
         |  SELECT 'opq', 'cosine', CAST(8 AS BIGINT),
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM ${sub("ann_ivf_opq")} t
         |          JOIN exc ON t.qid = exc.qid AND t.nn_id = exc.nn_id)
         |  UNION ALL
         |  SELECT 'mrl', 'cosine', CAST(64 AS BIGINT),
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM ${sub("vdb_knn_mrl")} t
         |          JOIN exc ON t.qid = exc.qid AND t.nn_id = exc.nn_id)),
         |qaqe AS (SELECT method, avg_cosine
         |       FROM ${sub("embed_quant_error")}),
         |qar AS (SELECT qau.method, qau.metric, qau.code_bytes, qau.hits,
         |             qaqe.avg_cosine,
         |             row_number() OVER (ORDER BY qau.hits DESC,
         |               qau.code_bytes ASC, qau.method ASC) AS rank
         |      FROM qau LEFT JOIN qaqe ON qau.method = qaqe.method)
         |SELECT CAST(qar.rank AS BIGINT) AS rank, qar.method, qar.metric,
         |       qar.code_bytes, qar.hits,
         |       round(qar.hits / (qn.n * 10.0), 4) AS recall,
         |       qar.avg_cosine, qar.rank = 1 AS recommended
         |FROM qar CROSS JOIN qn ORDER BY rank""".stripMargin) +
    // anomaly consensus: the three detectors' SHIPPED result sets
    // full-outer voted — cannot disagree with its members
    ("events_anomaly_consensus" ->
      s"""SELECT event_type, day, votes FROM (
         |  SELECT event_type, day,
         |    CAST((CASE WHEN z.zscore IS NOT NULL THEN 1 ELSE 0 END)
         |      + (CASE WHEN m.robust_z IS NOT NULL THEN 1 ELSE 0 END)
         |      + (CASE WHEN o.zscore IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS votes
         |  FROM ${sub("events_anomaly")} z
         |  FULL OUTER JOIN ${sub("events_anomaly_mad")} m
         |    USING (event_type, day)
         |  FULL OUTER JOIN ${sub("events_anomaly_online")} o
         |    USING (event_type, day))
         |WHERE votes >= 2 ORDER BY event_type, day""".stripMargin)
  }

  private def oracleSqlBase: Map[String, String] =
    OracleAnn.sql ++
    OracleCorpus.sql ++
    OracleDedup.sql ++
    OracleEvents.sql ++
    OracleGraph.sql ++
    OracleMultimodal.sql ++
    OracleSearch.sql ++
    OracleStore.sql ++
    OracleText.sql ++
    OracleTpch.sql ++
    OracleVector.sql
}
