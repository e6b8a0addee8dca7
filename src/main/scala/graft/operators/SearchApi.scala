package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's `/search` REQUEST BATCH as one relational plan —
  * the missing piece of the API mapping: a reference client posts
  * requests carrying `{vectors, k, indexType, filter: {fieldName,
  * fieldValue, op: "="|"!="}}` (http_server.cc searchHandler,
  * test/filter_upsert/search_*.json), i.e. the metric AND the scalar
  * filter are DATA, different per request. The per-query operators
  * (Knn.topK, Knn.topKFiltered &c.) run on the same engine and answer
  * tail ([[RequestTopK]]) for a query set sharing one metric, with
  * a filter that compiles into the scan; here a heterogeneous batch
  * runs as a single plan with each request's filter evaluated per
  * corpus row — the relational analog of the reference evaluating its
  * roaring bitmap per request.
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

  /** Row bound on a request batch or a [[Knn]] query set: each is
    * collected to the driver, where the requests become constants of
    * the corpus-side aggregate (and ride along with every scan task). A
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
    val batch = graft.Cut.request(reqs.select(col("qid"), col("qvec"),
        col("k").cast("long"), col("metric").cast("string"),
        col("fop").cast("string"), col("fval")),
      MaxBatchRequests, "SearchApi.MaxBatchRequests")
    // A request with k > maxK would silently get a truncated result
    // (the heap never holds more than maxK) — misuse must fail loudly.
    batch.filterNot(_.isNullAt(2)).map(_.getLong(2)).maxOption.foreach {
      kMax => require(maxK >= kMax,
        s"maxK=$maxK is smaller than the batch's largest request k=$kMax")
    }
    RequestTopK.answer(data, RequestTopK.forBatch(batch.toSeq,
      reqs.schema("qid").dataType, reqs.schema("fval").dataType, maxK))
  }

  /** Per-request INDEX ROUTING — the reference's request payload
    * carries `indexType` choosing FLAT (exact) vs HNSW (approximate)
    * per request (http_server.cc:67-77, getIndexTypeFromRequest) and
    * answers each request in process. FLAT requests take the exact leg
    * above; HNSW, HNSW_HIER and any other type take the graph descent
    * ([[graft.operators.Ann.nswSearch]]), the layered hierarchy
    * ([[graft.operators.Ann.hnswSearch]]) or the IVF probe
    * ([[graft.operators.Ann.ivfSearchCached]]), each over the same
    * cached structures as a direct call, so routing never changes an
    * answer.
    *
    * ROUTE ON THE DRIVER, BUILD ONLY THE LEGS THE BATCH USES: the batch
    * is collected once (no job for a `LocalRelation`) and split into
    * `LocalRelation` sub-batches; a leg with no requests is never built
    * (an all-FLAT batch builds no graph store, an all-approximate batch
    * scans no whole corpus; SearchApiSpec pins both). `k ≤ maxK` is
    * checked over the WHOLE batch, since a leg's k = maxK heap would
    * silently truncate a larger k. A NULL index_type reaches no leg
    * (IVF still counts as present, so the answer keeps that leg's
    * schema); a NULL k or qid returns nothing.
    *
    * The approximate legs run all their jobs while built, concurrently
    * (`Par.seq`; HNSW and HNSW_HIER share one build of the graph
    * store, `nswStore`, in [[graft.ByproductCache]]): for 8 requests over warm memos, IVF
    * one scoring job, HNSW at most 4 and HNSW_HIER at most 8 (entry
    * scoring, then one job per beam round over the descent store).
    * Each returns a `LocalRelation`; the per-request `rk ≤ k` cut and
    * the (qid, rk) order are driver code, so an approximate-only
    * answer is one `LocalRelation` whose action runs no job. Only FLAT
    * requests add a lazy leg, unioned and ordered.
    *
    * @param reqs (qid, qvec, index_type
    *             'FLAT'|'HNSW'|'HNSW_HIER'|'IVF', k, metric, fop,
    *             fval) — metric/filter apply to the FLAT leg (the
    *             reference's filter index lives on the exact path);
    *             all approximate legs score cosine, unfiltered
    */
  def searchRouted(s: SparkSession, dir: String, data: DataFrame,
                   reqs: DataFrame, maxK: Int): DataFrame = {
    val t = col("index_type")
    val batch = new Routed(reqs, maxK, when(t === "FLAT", "FLAT")
      .when(t === "HNSW", "HNSW").when(t === "HNSW_HIER", "HIER")
      .when(t.isNotNull, "IVF"), nullLeg = "IVF")
    if (batch.legs.isEmpty) {
      import s.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rk", "nn_id", "score")
    }
    val approx: Seq[(String, () => DataFrame)] = Seq(
      "HNSW" -> (() => Ann.nswSearch(s, dir, batch.sub("HNSW", "qid", "qvec"), k = maxK)),
      "HIER" -> (() => Ann.hnswSearch(s, dir, batch.sub("HIER", "qid", "qvec"), k = maxK)),
      "IVF" -> (() => Ann.ivfSearchCached(s, dir, batch.sub("IVF", "qid", "qvec"), maxK)))
    batch.answer(approx, searchRequests(data, batch.sub("FLAT"), maxK)
      .select(col("qid"), col("rk"), col("nn_id"), col("score")))
  }

  /** A request batch collected once (at most [[MaxBatchRequests]] rows)
    * and split on the driver by `leg`, a Spark expression over the
    * request (NULL: the request reaches no leg, but `nullLeg` counts
    * as present).
    */
  private final class Routed(reqs: DataFrame, maxK: Int, leg: Column,
                             nullLeg: String) {
    private val n = reqs.schema.length
    private val rows = graft.Cut.request(
      reqs.select(col("*"), leg.as("_leg"), col("k").cast("long").as("_k")),
      MaxBatchRequests, "SearchApi.MaxBatchRequests")
    rows.filterNot(_.isNullAt(n + 1)).map(_.getLong(n + 1)).maxOption.foreach {
      kMax => require(maxK >= kMax,
        s"maxK=$maxK is smaller than the batch's largest request k=$kMax")
    }
    private def legOf(r: Row): String = if (r.isNullAt(n)) null else r.getString(n)
    val legs: Set[String] = rows.map(r => Option(legOf(r)).getOrElse(nullLeg)).toSet
    private def of(l: String): Array[Row] = rows.filter(legOf(_) == l)

    /** Leg `l`'s requests as a `LocalRelation` of `reqs`' columns (all
      * of them when `cols` is empty), in batch order.
      */
    def sub(l: String, cols: String*): DataFrame = {
      val keep = if (cols.isEmpty) reqs.columns.toSeq else cols
      val at = keep.map(reqs.schema.fieldIndex)
      reqs.sparkSession.createDataFrame(
        java.util.Arrays.asList(of(l).map(r => Row.fromSeq(at.map(r.get))): _*),
        StructType(at.map(reqs.schema(_))))
    }

    /** The answer: each present approximate leg in `approx` is built
      * (concurrently) and cut to its requests' k on the driver; `flat`
      * is unioned in only when FLAT is present.
      */
    def answer(approx: Seq[(String, () => DataFrame)], flat: => DataFrame): DataFrame = {
      val built = graft.Par.seq(approx.filter(a => legs(a._1)).map { case (l, build) =>
        () => (l, build()) })
      val local = if (built.isEmpty) None else {
        val qidType = reqs.schema("qid").dataType
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(qidType)
        val order = Ordering.Tuple2(TypeUtils.getInterpretedOrdering(qidType), Ordering.Int)
        val out = built.flatMap { case (l, df) => cut(of(l), df.collect()) }
          .sortBy(r => (toCatalyst(r.get(0)), r.getInt(1)))(order)
        val schema = built.map(_._2.schema).reduce((a, b) => StructType(a.zip(b).map {
          case (x, y) => x.copy(nullable = x.nullable || y.nullable) }))
        Some(reqs.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema))
      }
      if (!legs("FLAT")) local.get
      else (flat +: local.toSeq).reduce(_ unionByName _).orderBy("qid", "rk")
    }

    /** Each request's `rk ≤ k` prefix of the leg rows of its qid: a row
      * comes back once per request of its qid, as an equi-join on qid
      * returns it; a NULL k or qid matches nothing.
      */
    private def cut(requests: Array[Row], out: Array[Row]): Seq[Row] = {
      val byQid = out.toSeq.groupBy(_.get(0))
      val qidAt = reqs.schema.fieldIndex("qid")
      for {
        r <- requests.toSeq if !r.isNullAt(n + 1)
        o <- byQid.getOrElse(r.get(qidAt), Nil) if o.getInt(1) <= r.getLong(n + 1)
      } yield o
    }
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
    * batch's max budget, never a job per effort class. Routed and
    * answered as [[searchRouted]] is; any index type but FLAT takes the
    * HNSW leg, a NULL one no leg.
    *
    * @param reqs (qid, qvec, index_type 'FLAT'|'HNSW', k, metric,
    *             fop, fval, ef) — ef read only on the HNSW leg
    */
  def searchRoutedEf(s: SparkSession, dir: String, data: DataFrame,
                     reqs: DataFrame, maxK: Int): DataFrame = {
    val t = col("index_type")
    val batch = new Routed(reqs, maxK,
      when(t === "FLAT", "FLAT").when(t.isNotNull, "HNSW"), nullLeg = "HNSW")
    if (batch.legs.isEmpty) {
      import s.implicits._
      return Seq.empty[(Long, Int, Long, Double, Long)]
        .toDF("qid", "rk", "nn_id", "score", "rounds_used")
    }
    batch.answer(Seq("HNSW" -> (() =>
        Ann.nswSearchEf(s, dir, batch.sub("HNSW", "qid", "qvec", "ef"), k = maxK))),
      searchRequests(data, batch.sub("FLAT"), maxK)
        .select(col("qid"), col("rk"), col("nn_id"), col("score"),
          lit(0L).as("rounds_used")))
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
