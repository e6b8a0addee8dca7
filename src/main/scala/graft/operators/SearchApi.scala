package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's `/search` REQUEST BATCH as one relational plan —
  * the missing piece of the API mapping: a reference client posts
  * requests carrying `{vectors, k, indexType, filter: {fieldName,
  * fieldValue, op: "="|"!="}}` (http_server.cc searchHandler,
  * test/filter_upsert/search_*.json), i.e. the metric AND the scalar
  * filter are DATA, different per request. The per-query operators
  * (Knn.topKFiltered &c.) cover the one-request case where the
  * filter compiles into the scan; here a heterogeneous batch runs as
  * a single plan with each request's filter evaluated per corpus row
  * — the relational analog of the reference evaluating its roaring
  * bitmap per request.
  *
  * Scale: the exact batch is collected to the driver under a stated
  * bound ([[SearchApi.MaxBatchRequests]]) and the corpus streams
  * through ONE scan whatever the batch mixes, scored row by row
  * against every request inside one aggregate: no Q×N intermediate
  * exists, and the shuffle carries one heap set per partition,
  * O(Q·k·partitions). A per-request filter cannot push into the scan
  * (it is not known at plan time) — the cost of request
  * heterogeneity is exactly one corpus pass, which is the same bound
  * the reference pays per request, amortized over the whole batch.
  */
object SearchApi {

  /** Row bound on a request batch: `searchRequests` collects its
    * batch to the driver, where the requests become constants of the
    * corpus-side aggregate (and ride along with every scan task). A
    * larger batch fails loudly instead of growing the driver and task
    * footprint without limit; split it into several calls.
    */
  val MaxBatchRequests = 4096

  /** Execute a request batch. `k` is per-request data too (the
    * reference payload carries it): each `(qid, metric, k)` group
    * keeps a heap of `min(k, maxK)` and returns exactly the prefix it
    * asked for.
    *
    * ONE FUSED CORPUS PASS — the form of the reference's FLAT search
    * (`FaissIndex::search_vectors`, faiss_index.cc:40: one pass over
    * the corpus for the whole query batch, a k-heap per query). The
    * batch (at most [[MaxBatchRequests]] rows) is collected once; the
    * corpus then runs through a single aggregate with no grouping key
    * ([[RequestTopK]]) that scores each row against every request
    * whose filter it passes and keeps one heap per group. Partitions
    * exchange only their heaps, the one merge task emits the answer,
    * and the final ordering needs no exchange (one partition). The
    * filter's `label = fval` is Spark's own `=`, one aggregate input
    * per distinct filter value.
    *
    * Semantics (pinned against the cross-join form by SearchApiSpec):
    * metric 'L2' / 'L1' rank ascending, anything else (NULL included)
    * ranks as IP, descending; fop NULL passes every row, '=' / '!='
    * compare label with fval (a NULL on either side passes nothing),
    * any other op matches nothing; a NULL or dimension-mismatched
    * vector on either side scores nothing; NULL k returns nothing;
    * requests sharing `(qid, metric, k)` share one heap.
    *
    * @param data (id, vec, label) corpus
    * @param reqs (qid, qvec, k, metric 'L2'|'L1'|'IP', fop
    *             '='|'!='|NULL, fval) — fop NULL means unfiltered
    * @param maxK heap bound; must be ≥ every request's k
    * @return (qid, rk 1..k_req, nn_id, score) — score is the
    *         request's own metric (L2/L1 ascending, IP descending),
    *         4dp
    */
  def searchRequests(data: DataFrame, reqs: DataFrame,
                     maxK: Int): DataFrame = {
    val batch = reqs.select(col("qid"), col("qvec"),
        col("k").cast("long"), col("metric").cast("string"),
        col("fop").cast("string"), col("fval"))
      .limit(MaxBatchRequests + 1).collect()
    require(batch.length <= MaxBatchRequests,
      s"request batch exceeds SearchApi.MaxBatchRequests=" +
        s"$MaxBatchRequests rows; split it into smaller calls")
    // A request with k > maxK would silently get a truncated result
    // (the heap never holds more than maxK) — misuse must fail loudly.
    batch.filterNot(_.isNullAt(2)).map(_.getLong(2)).maxOption.foreach {
      kMax => require(maxK >= kMax,
        s"maxK=$maxK is smaller than the batch's largest request k=$kMax")
    }
    val agg = RequestTopK.forBatch(batch.toSeq, reqs.schema("qid").dataType,
      reqs.schema("fval").dataType, maxK)
    // a batch where no request can score plans no scan at all (limit 0
    // folds to an empty relation)
    (if (agg.requests.isEmpty) data.limit(0) else data)
      .agg(GraftColumnBridge.column(agg.toAggregateExpression()).as("top"))
      .select(explode(col("top")).as("c"))
      .where(col("c.rk") <= col("c.k"))
      .select(col("c.qid").as("qid"), col("c.rk").as("rk"),
        col("c.nn_id").as("nn_id"),
        round(when(col("c.metric") === "L2" || col("c.metric") === "L1",
          col("c.key"))
          .otherwise(-col("c.key")), 4).as("score"))
      .orderBy("qid", "rk")
  }

  /** Per-request INDEX ROUTING — the reference's request payload
    * carries `indexType` choosing FLAT (exact) vs HNSW (approximate)
    * per request (http_server.cc:67-77, getIndexTypeFromRequest);
    * here FLAT requests take the exact scoring leg above and
    * approximate requests take the IVF probe leg
    * ([[graft.operators.Ann.ivfSearchCached]] — same cached
    * centroids as a direct `ann_ivf` call, so routing never changes
    * a request's answer vs querying the index directly). The two
    * legs are independent plans unioned at the end: the FLAT leg
    * pays one corpus pass for its sub-batch, the IVF leg only reads
    * probed cells — a batch of all-approximate requests never scans
    * the full corpus.
    *
    * @param reqs (qid, qvec, index_type
    *             'FLAT'|'HNSW'|'HNSW_HIER'|'IVF', k, metric, fop,
    *             fval) — metric/filter apply to the FLAT leg (the
    *             reference's filter index lives on the exact path);
    *             HNSW requests take the graph beam-search leg
    *             ([[graft.operators.Ann.nswSearch]], the hnswlib
    *             analog), HNSW_HIER the true layered descent
    *             ([[graft.operators.Ann.hnswSearch]]), any other
    *             approximate tag the IVF leg; all approximate legs
    *             score cosine, unfiltered
    */
  def searchRouted(s: SparkSession, dir: String, data: DataFrame,
                   reqs: DataFrame, maxK: Int): DataFrame = {
    def perK(leg: DataFrame, sub: DataFrame): DataFrame =
      leg.join(broadcast(sub.select(col("qid"), col("k"))), "qid")
        .where(col("rk") <= col("k"))
        .select(col("qid"), col("rk"), col("nn_id"), col("score"))
    // ROUTE FIRST, BUILD ONLY THE LEGS THE BATCH USES: the present
    // index types come from one request-sized job, and a leg with no
    // requests is never constructed — an all-FLAT batch must not pay
    // the kNN-graph materialization the NSW leg triggers (nor carry
    // its scans in the plan), and an all-approximate batch contains
    // no exact-leg corpus pass (SearchApiSpec pins both). The same
    // job carries max(k) so the k ≤ maxK loud-failure contract runs
    // over the WHOLE batch (r13, ADVICE r12: searchRequests only
    // validated its FLAT sub-batch, so an approximate request with
    // k > maxK was silently truncated by the k=maxK legs).
    val tk = reqs.agg(
        collect_set(when(col("index_type") === "FLAT", "FLAT")
          .when(col("index_type") === "HNSW", "HNSW")
          .when(col("index_type") === "HNSW_HIER", "HIER")
          .otherwise("IVF")).as("ts"),
        max(col("k").cast("long")).as("kmax"))
      .collect().head
    val types = tk.getSeq[String](0).toSet
    if (!tk.isNullAt(1))
      require(maxK >= tk.getLong(1),
        s"maxK=$maxK is smaller than the batch's largest request " +
          s"k=${tk.getLong(1)}")
    if (types.isEmpty) {
      import s.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rk", "nn_id", "score")
    }
    // CONCURRENT LEG CONSTRUCTION (r16, guide §2.6): the graph legs'
    // beam descents run eager per-round jobs during CONSTRUCTION, so
    // building the legs one after another serialized ~15 tiny jobs on
    // an idle 32-core scheduler. The legs are independent plans over
    // disjoint sub-batches — build them from a thread pool and union
    // in the original order (result-identical; only the eager build's
    // wall-clock changes). The one expensive memo two legs share (the
    // kNN graph) is warmed before the fork so the ByproductCache race
    // can never double-build it.
    if (types("HNSW") && types("HIER"))
      graft.operators.Ann.warmGraphMemos(s, dir, graphK = 8)
    val legThunks = Seq.newBuilder[() => DataFrame]
    if (types("FLAT"))
      legThunks += (() => searchRequests(data,
        reqs.where(col("index_type") === "FLAT"), maxK)
        .select(col("qid"), col("rk"), col("nn_id"), col("score")))
    if (types("HNSW")) {
      val hnswReqs = reqs.where(col("index_type") === "HNSW")
      legThunks += (() => perK(graft.operators.Ann.nswSearch(s, dir,
        hnswReqs.select(col("qid"), col("qvec")), k = maxK), hnswReqs))
    }
    if (types("HIER")) {
      val hierReqs = reqs.where(col("index_type") === "HNSW_HIER")
      legThunks += (() => perK(graft.operators.Ann.hnswSearch(s, dir,
        hierReqs.select(col("qid"), col("qvec")), k = maxK), hierReqs))
    }
    if (types("IVF")) {
      val ivfReqs = reqs.where(col("index_type") =!= "FLAT" &&
        col("index_type") =!= "HNSW" && col("index_type") =!= "HNSW_HIER")
      legThunks += (() => perK(graft.operators.Ann.ivfSearchCached(s, dir,
        ivfReqs.select(col("qid"), col("qvec")), maxK), ivfReqs))
    }
    graft.Par.seq(legThunks.result())
      .reduce(_ unionByName _).orderBy("qid", "rk")
  }

  /** Routed surface query: even qids go FLAT (metric L2/IP, one `=`
    * and one `!=` filter in the mix); odd qids are approximate —
    * qid≡1 (mod 4) IVF, qid 3 NSW, qid 7 the layered hierarchy; k
    * mixes 10/5 across the legs.
    */
  def searchRoutedQuery(s: SparkSession, dir: String): DataFrame = {
    val data = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val reqs = Tables.embeddings(s, dir).where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        when(col("vec_id") % 2 === 0, "FLAT")
          .when(col("vec_id") === 7, "HNSW_HIER")
          .when(col("vec_id") % 4 === 3, "HNSW").otherwise("IVF")
          .as("index_type"),
        when(col("vec_id") % 3 === 0, 10L).otherwise(5L).as("k"),
        when(col("vec_id") % 4 === 2, "IP").otherwise("L2").as("metric"),
        when(col("vec_id") === 4, "=")
          .when(col("vec_id") === 2, "!=")
          .otherwise(lit(null).cast("string")).as("fop"),
        lit(5L).as("fval"))
      // CHECKPOINTED (r16): the 8-row request batch is referenced by
      // the type-routing collect, every leg's sub-batch filter and
      // every perK join — lazy, each reference re-scanned embeddings
      // (7 scans in the final plan alone)
      .localCheckpoint(true)
    searchRouted(s, dir, data, reqs, maxK = 10)
  }

  /** COUNT REQUEST BATCH — the vector-store `/count` API (how many
    * points match this filter?) every production store exposes beside
    * search: the reference's filter payload ({fieldName, fieldValue,
    * op}) applied as a COUNT, per request, heterogeneous filters in
    * ONE corpus pass. Unlike [[searchRequests]] it keeps the join
    * form — there is no per-request heap to fuse: requests broadcast,
    * the filter evaluates as a codegen join predicate, and the
    * aggregate is a qid-keyed count
    * with map-side partial aggregation — the shuffle carries
    * O(requests × partitions) rows whatever the corpus size. An
    * unfiltered request (fop NULL) counts the corpus; a request
    * matching nothing still emits its row (left join against the
    * request frame — a count API never omits an answer).
    *
    * @param reqs (qid, fop '='|'!='|NULL, fval)
    * @return (qid, n_points)
    */
  def countRequests(data: DataFrame, reqs: DataFrame): DataFrame = {
    val pass = col("fop").isNull ||
      (col("fop") === "=" && col("label") === col("fval")) ||
      (col("fop") === "!=" && col("label") =!= col("fval"))
    val counted = data.select(col("label"))
      .crossJoin(broadcast(reqs))
      .where(pass)
      .groupBy("qid")
      .agg(count(lit(1)).as("n_points"))
    reqs.select("qid").join(counted, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_points"), lit(0L)).as("n_points"))
      .orderBy("qid")
  }

  /** Count surface query: the filter-op cycle the search batch uses,
    * plus one guaranteed-empty request (fval outside the label
    * domain) pinning the zero-anchor row.
    */
  def countRequestsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val data = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("label"))
    val reqs = Seq(
      (0L, Option("="), 5L), (1L, Option("!="), 5L),
      (2L, Option.empty[String], 0L), (3L, Option("="), 9999L))
      .toDF("qid", "fop", "fval")
    countRequests(data, reqs)
  }

  /** Routed batch with PER-REQUEST SEARCH EFFORT — the last
    * reference-API parameter expressible as data (hnswlib_index.h:16
    * `ef_search`, applied via setEf at hnswlib_index.cc:30): FLAT
    * requests take the exact leg (effort is not a FLAT concept —
    * rounds_used 0), HNSW requests carry a per-request `ef` that caps
    * the beam descent's round budget
    * ([[graft.operators.Ann.nswSearchEf]]). One plan, heterogeneous
    * effort: the HNSW sub-batch runs a single gated loop at the
    * batch's max budget, never a job per effort class.
    *
    * @param reqs (qid, qvec, index_type 'FLAT'|'HNSW', k, metric,
    *             fop, fval, ef) — ef read only on the HNSW leg
    */
  def searchRoutedEf(s: SparkSession, dir: String, data: DataFrame,
                     reqs: DataFrame, maxK: Int): DataFrame = {
    // Present legs + whole-batch max(k) in one request-sized job: the
    // k ≤ maxK loud-failure contract covers the HNSW sub-batch too
    // (r13, ADVICE r12 — nswSearchEf(k=maxK) + the rk ≤ k filter
    // would otherwise silently truncate an HNSW request's k > maxK).
    val tk = reqs.agg(
        collect_set(when(col("index_type") === "FLAT", "FLAT")
          .otherwise("HNSW")).as("ts"),
        max(col("k").cast("long")).as("kmax"))
      .collect().head
    val types = tk.getSeq[String](0).toSet
    if (!tk.isNullAt(1))
      require(maxK >= tk.getLong(1),
        s"maxK=$maxK is smaller than the batch's largest request " +
          s"k=${tk.getLong(1)}")
    if (types.isEmpty) {
      import s.implicits._
      return Seq.empty[(Long, Int, Long, Double, Long)]
        .toDF("qid", "rk", "nn_id", "score", "rounds_used")
    }
    val legs = Seq.newBuilder[DataFrame]
    if (types("FLAT"))
      legs += searchRequests(data,
        reqs.where(col("index_type") === "FLAT"), maxK)
        .select(col("qid"), col("rk"), col("nn_id"), col("score"),
          lit(0L).as("rounds_used"))
    if (types("HNSW")) {
      val h = reqs.where(col("index_type") =!= "FLAT")
      legs += Ann.nswSearchEf(s, dir,
          h.select(col("qid"), col("qvec"), col("ef")), k = maxK)
        .join(broadcast(h.select(col("qid"), col("k"))), "qid")
        .where(col("rk") <= col("k"))
        .select(col("qid"), col("rk"), col("nn_id"), col("score"),
          col("rounds_used"))
    }
    legs.result().reduce(_ unionByName _).orderBy("qid", "rk")
  }

  /** Heterogeneous-ef routed surface query: even qids FLAT (the
    * usual metric/filter mix), odd qids HNSW with ef 16 (qid≡1 mod 4
    * — one beam round) or 48 (qid≡3 mod 4 — the full three).
    */
  def searchRoutedEfQuery(s: SparkSession, dir: String): DataFrame = {
    val data = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val reqs = Tables.embeddings(s, dir).where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        when(col("vec_id") % 2 === 0, "FLAT").otherwise("HNSW")
          .as("index_type"),
        when(col("vec_id") % 3 === 0, 10L).otherwise(5L).as("k"),
        when(col("vec_id") % 4 === 2, "IP").otherwise("L2").as("metric"),
        when(col("vec_id") === 4, "=")
          .when(col("vec_id") === 2, "!=")
          .otherwise(lit(null).cast("string")).as("fop"),
        lit(5L).as("fval"),
        when(col("vec_id") % 4 === 1, 16L).otherwise(48L).as("ef"))
      // CHECKPOINTED (r16): same rationale as searchRoutedQuery
      .localCheckpoint(true)
    searchRoutedEf(s, dir, data, reqs, maxK = 10)
  }

  /** Surface query: a deterministic mixed batch — metric cycles
    * L2/IP/L1 by qid mod 3 (every metric the API routes, r11 adds
    * L1), filter op cycles =/!=/none, k alternates 5/10 — mirroring
    * the reference's filter_upsert test requests.
    */
  def searchRequestsQuery(s: SparkSession, dir: String): DataFrame = {
    val data = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val reqs = Tables.embeddings(s, dir).where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        when(col("vec_id") % 2 === 0, 10L).otherwise(5L).as("k"),
        when(col("vec_id") % 3 === 0, "L2")
          .when(col("vec_id") % 3 === 1, "IP")
          .otherwise(lit("L1")).as("metric"),
        when(col("vec_id") % 3 === 0, "=")
          .when(col("vec_id") % 3 === 1, "!=")
          .otherwise(lit(null).cast("string")).as("fop"),
        lit(5L).as("fval"))
    searchRequests(data, reqs, maxK = 10)
  }
}
