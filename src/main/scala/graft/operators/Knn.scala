package graft.operators

import graft.functions.VectorDistance
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact (FLAT) k-NN search — Spark-native form of the reference's
  * `VectorDatabase::search` with `indexType=FLAT`
  * (reference vector_database.cc:150, faiss_index.cc:40).
  *
  * Shape: the query set is collected once (at most
  * [[SearchApi.MaxBatchRequests]] rows; a larger set fails loudly) and
  * the corpus streams through ONE aggregate that scores every row
  * against every query and keeps one bounded heap per qid
  * ([[RequestTopK]], the engine behind `/search` batches): no Q×N
  * intermediate, and the shuffle carries one heap set per partition.
  * The optional scalar filter (reference FilterIndex `=`/`!=` roaring
  * bitmaps, filter_index.cc:62) becomes a plain Catalyst predicate on
  * the corpus BELOW the aggregate — it pushes down to the parquet scan
  * (`PushedFilters`), which strictly dominates a bitmap post-filter:
  * non-matching rows are never even read.
  */
object Knn {

  /** Supported metrics, mirroring reference IndexFactory::MetricType
    * (index_factory.cc) plus cosine. Their ids are [[RequestTopK]]'s
    * metric codes.
    */
  object Metric extends Enumeration { val L2, IP, Cosine, L1, Linf = Value }

  /** Top-k neighbors of each query vector.
    *
    * @param data    (id: long, vec: array<float>) corpus
    * @param queries (qid, qvec: array<float|double>) — at most
    *                [[SearchApi.MaxBatchRequests]] rows, collected to
    *                the driver once, as FAISS holds the query batch;
    *                rows sharing a qid share one heap
    * @return (qid, rk 1..k, nn_id, score) — score is the metric value
    *         rounded to 4dp; ranking on the unrounded value, ties on
    *         ascending nn_id. A NULL or dimension-mismatched vector,
    *         and a zero norm under cosine, scores nothing
    */
  def topK(data: DataFrame, queries: DataFrame, k: Int,
           metric: Metric.Value): DataFrame =
    rank(data, queries, k, metric, Nil)

  /** Doc-centric similarity search: queries come from the corpus
    * itself, so the trivial self-match (id == qid) is never scored —
    * the usual "nearest neighbors of each document" form.
    */
  def topKExcludingSelf(data: DataFrame, queries: DataFrame, k: Int,
                        metric: Metric.Value): DataFrame =
    rank(data, queries, k, metric, Seq(col("qid")))

  /** The exact engine: the query set (qid, qvec and the corpus ids each
    * query excludes) collected under [[SearchApi.MaxBatchRequests]],
    * then [[SearchApi.searchRequests]]' aggregate and answer tail.
    */
  private def rank(data: DataFrame, queries: DataFrame, k: Int,
                   metric: Metric.Value, exclude: Seq[Column]): DataFrame = {
    val rows = graft.Cut.request(queries.select(col("qid") +: col("qvec") +:
        exclude.map(_.cast("long")): _*),
      SearchApi.MaxBatchRequests, "SearchApi.MaxBatchRequests", "query set")
    RequestTopK.answer(data, RequestTopK.forQueries(rows.toSeq,
      queries.schema("qid"), k, metric.id))
  }

  /** search(+filter) — predicate applied pre-scan (see class doc). */
  def topKFiltered(data: DataFrame, queries: DataFrame, k: Int,
                   metric: Metric.Value,
                   filter: org.apache.spark.sql.Column): DataFrame =
    topK(data.where(filter), queries, k, metric)

  /** JSON-FIELD FILTERED SEARCH (r13, the last filter modality on the
    * reference's Milvus roadmap — doc/filter.md: predicates over a
    * semi-structured payload, not just typed scalar columns): kNN
    * where the filter reads a property out of a JSON payload string
    * with `get_json_object` (codegen — schema-on-read costs one
    * per-row parse, no ETL step) and the extracted value feeds an
    * ordinary typed predicate. The filter sits BELOW the top-k
    * aggregate exactly like the scalar family (topKFiltered's pre-scan
    * contract), so non-matching payload rows never reach the distance
    * kernel — KnnSpec pins the plan shape. At 100 TB the payload
    * parse is the scan's cost, not the heap's: a hot JSON path should
    * be materialized to a typed column at ingest (the
    * events_json_etl pattern), after which this collapses to 5c.
    * Payload source: each vector's id keys into the events table's
    * `props` JSON column (the driver data's one semi-structured
    * field).
    */
  def knnFilteredJsonQuery(s: SparkSession, dir: String): DataFrame = {
    val payload = graft.Tables.events(s, dir)
      .select(col("event_id").as("id"), col("props"))
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .join(payload, Seq("id"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topKFiltered(e, q, 10, Metric.L2,
      // try_cast (r16 fuzz): unparsable payload never matches (NULL <
      // 50 is NULL → filtered) instead of throwing under ANSI — the
      // Qdrant payload-filter semantic; oracle mirrors with TRY_CAST
      get_json_object(col("props"), "$.k").try_cast("long") < 50)
  }

  /** GEO-FILTERED SEARCH (r13 — Qdrant's geo_radius payload filter,
    * the one filter modality where the predicate is PER-REQUEST, not
    * per-collection: every request carries its own center and
    * radius, so the filter can't pre-prune the scan the way the
    * scalar family does — it rides the query join condition instead,
    * evaluated BEFORE the distance kernel: two subtract-squares
    * against 2 doubles prune a pair before the 64-dim dot product
    * runs). Distance is planar-degree ((Δlat)²+(Δlon)² ≤ r²) rather
    * than haversine — trig-free, so the boundary predicate replays
    * bit-identically on both engines; swapping in haversine changes
    * only the predicate expression, not the plan. At 100 TB the
    * radius's enclosing bbox is what prunes: a geohash/Z-order
    * layout over (lat, lon) — the repo's events_zorder_skip
    * machinery — turns each request's bbox into partition filters,
    * and this per-pair check remains as the exact refinement.
    *
    * @param data    (id, vec, lat, lon)
    * @param queries (qid, qvec, qlat, qlon, radius) — broadcast
    * @return (qid, rk, nn_id, score) — cosine ranking among
    *         in-radius points
    */
  def topKGeoRadius(data: DataFrame, queries: DataFrame,
                    k: Int): DataFrame = {
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      col("qlat"), col("qlon"), col("radius"),
      sqrt(VectorDistance.dot(col("qvec"), col("qvec"))).as("_qn")))
    val d = data.select(col("id"), col("vec"), col("lat"), col("lon"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    val dlat = col("lat") - col("qlat")
    val dlon = col("lon") - col("qlon")
    val inRadius =
      dlat * dlat + dlon * dlon <= col("radius") * col("radius")
    val denom = col("_n") * col("_qn")
    val score = when(denom === 0.0, lit(null).cast("double"))
      .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom)
    val scored = d.join(q, inRadius)
      .select(col("qid"), (-score).as("key"), col("id"))
      .where(col("key").isNotNull)
    Ann.topKPerQuery(scored, k)
  }

  /** Surface query: lat/lon synthesized from the id by exact integer
    * modular arithmetic (both engines compute the identical int64
    * products/remainders, then one correctly-rounded divide), five
    * requests centered at their own point with growing radii.
    */
  def knnGeoQuery(s: SparkSession, dir: String): DataFrame = {
    def latOf(id: org.apache.spark.sql.Column) =
      (id * 7919L % 18000L) / 100.0 - 90.0
    def lonOf(id: org.apache.spark.sql.Column) =
      (id * 104729L % 36000L) / 100.0 - 180.0
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        latOf(col("vec_id")).as("lat"), lonOf(col("vec_id")).as("lon"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        latOf(col("vec_id")).as("qlat"), lonOf(col("vec_id")).as("qlon"),
        (lit(25.0) + col("vec_id") * 5.0).as("radius"))
    topKGeoRadius(e, q, 10)
  }

  /** GEO BOUNDING-BOX FILTERED SEARCH (r14 — the second of Qdrant's
    * geo trio, geo_bounding_box, after r13's radius): per-request
    * rectangle [latMin,latMax]×[lonMin,lonMax] as the join
    * condition — four comparisons against request doubles prune a
    * pair before the distance kernel, same anatomy as
    * [[topKGeoRadius]] but with the radius's multiply replaced by
    * range compares. Unlike the radius this IS partition-prunable
    * directly: at 100 TB a lat/lon Z-order layout (the repo's
    * events_zorder_skip machinery) turns each request's rectangle
    * into file-skipping min/max bounds with no refinement step —
    * the bbox is the pruning shape radius search must first enclose.
    *
    * @param data    (id, vec, lat, lon)
    * @param queries (qid, qvec, lat_min, lat_max, lon_min, lon_max)
    */
  def topKGeoBBox(data: DataFrame, queries: DataFrame,
                  k: Int): DataFrame = {
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      col("lat_min"), col("lat_max"), col("lon_min"), col("lon_max"),
      sqrt(VectorDistance.dot(col("qvec"), col("qvec"))).as("_qn")))
    val d = data.select(col("id"), col("vec"), col("lat"), col("lon"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    val inBox = col("lat") >= col("lat_min") &&
      col("lat") <= col("lat_max") &&
      col("lon") >= col("lon_min") && col("lon") <= col("lon_max")
    val denom = col("_n") * col("_qn")
    val score = when(denom === 0.0, lit(null).cast("double"))
      .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom)
    val scored = d.join(q, inBox)
      .select(col("qid"), (-score).as("key"), col("id"))
      .where(col("key").isNotNull)
    Ann.topKPerQuery(scored, k)
  }

  /** Surface query: same exact modular lat/lon synthesis as
    * [[knnGeoQuery]]; each request's rectangle is its own point ±
    * a growing integer half-width (integer-valued doubles added to
    * the shared /100.0 grid — bit-identical bounds on both engines).
    */
  def knnGeoBBoxQuery(s: SparkSession, dir: String): DataFrame = {
    def latOf(id: org.apache.spark.sql.Column) =
      (id * 7919L % 18000L) / 100.0 - 90.0
    def lonOf(id: org.apache.spark.sql.Column) =
      (id * 104729L % 36000L) / 100.0 - 180.0
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        latOf(col("vec_id")).as("lat"), lonOf(col("vec_id")).as("lon"))
    val halfLat = lit(10.0) + col("vec_id") * 4.0
    val halfLon = lit(20.0) + col("vec_id") * 8.0
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        (latOf(col("vec_id")) - halfLat).as("lat_min"),
        (latOf(col("vec_id")) + halfLat).as("lat_max"),
        (lonOf(col("vec_id")) - halfLon).as("lon_min"),
        (lonOf(col("vec_id")) + halfLon).as("lon_max"))
    topKGeoBBox(e, q, 10)
  }

  /** GEO POLYGON FILTERED SEARCH (r14 — completing Qdrant's geo trio:
    * geo_polygon): membership by the even-odd ray cast, unrolled
    * over the polygon's literal vertex list into one codegen boolean
    * (edge count is request-sized, so the unroll is a constant-width
    * expression, never a per-row loop). Each edge contributes a
    * crossing test — ((y1>py) ≠ (y2>py)) ∧ px < (x2−x1)·(py−y1)/
    * (y2−y1)+x1 — and inside = odd crossing count; the vertices are
    * exact integers, so the one divide per edge is the same
    * correctly-rounded IEEE op on both engines and the boundary
    * replays bit-identically. The polygon here is deliberately
    * NON-convex (a notched triangle): even-odd and winding disagree
    * on no point of it, but a convex-only implementation (bbox of
    * half-planes) would misclassify the notch. At 100 TB the
    * polygon's enclosing bbox prunes partitions (see
    * [[topKGeoBBox]]); this exact test is the per-row refinement.
    */
  def insidePolygon(px: org.apache.spark.sql.Column,
                    py: org.apache.spark.sql.Column,
                    verts: Seq[(Double, Double)])
      : org.apache.spark.sql.Column = {
    val edges = verts.zip(verts.tail :+ verts.head)
    val crossings = edges.map { case ((x1, y1), (x2, y2)) =>
      val straddles = (lit(y1) > py) =!= (lit(y2) > py)
      val xCut = lit(x2 - x1) * (py - lit(y1)) / lit(y2 - y1) + lit(x1)
      when(straddles && px < xCut, 1L).otherwise(0L)
    }
    crossings.reduce(_ + _) % 2 === 1
  }

  /** Surface query: x=lon, y=lat; one shared notched-triangle
    * polygon ((-120,-60) (0,60) (120,-60) (0,0), integer vertices)
    * filters the corpus BELOW the top-k aggregate ([[topKFiltered]]'s
    * pre-scan contract — the polygon is collection-scoped here, so
    * the membership bit is computable at scan time), cosine ranking
    * among the survivors.
    */
  def knnGeoPolyQuery(s: SparkSession, dir: String): DataFrame = {
    def latOf(id: org.apache.spark.sql.Column) =
      (id * 7919L % 18000L) / 100.0 - 90.0
    def lonOf(id: org.apache.spark.sql.Column) =
      (id * 104729L % 36000L) / 100.0 - 180.0
    val verts = Seq((-120.0, -60.0), (0.0, 60.0), (120.0, -60.0),
      (0.0, 0.0))
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        latOf(col("vec_id")).as("lat"), lonOf(col("vec_id")).as("lon"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topKFiltered(e, q, 10, Metric.Cosine,
      insidePolygon(col("lon"), col("lat"), verts))
  }

  /** ARRAY-PAYLOAD FILTERED SEARCH (r14 — the reference roadmap's
    * last unticked line, doc/filter.md's array-index sentence
    * (Milvus' array composite index; Qdrant's MatchAny over a list
    * field): kNN gated on MEMBERSHIP in an array-typed payload
    * column. `array_contains(tags, v)` evaluates BELOW the top-k
    * aggregate (the [[topKFiltered]] pre-scan contract), so
    * non-member rows never reach the distance kernel — KnnSpec pins
    * that plan shape. Tags are synthesized deterministically from
    * the id by exact modular arithmetic (id%7, id%11, id%13 — the
    * same int64 ops on both engines; DuckDB mirrors via
    * list_contains). At 100 TB the membership predicate is served
    * by the exploded inverted index (vdb_filter_index_array), which
    * turns MatchAny into a postings semi-join; this scan predicate
    * remains the exact per-row check.
    */
  def knnFilteredArrayQuery(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        array(col("vec_id") % 7L, col("vec_id") % 11L,
          col("vec_id") % 13L).as("tags"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topKFiltered(e, q, 10, Metric.L2,
      array_contains(col("tags"), lit(3L)))
  }

  /** IS-NULL / IS-EMPTY FILTERED SEARCH (r15 — Qdrant's `is_null`
    * and `is_empty` payload conditions, the presence-testing half of
    * its filter grammar: `is_null` matches a field that is absent or
    * JSON null, `is_empty` a field that is null OR an empty array).
    * Payload: the events `props` JSON field masked NULL for one id
    * residue class (a deterministic absent-field population — the
    * driver data's props carries `k` on every row, so presence must
    * be synthesized, same discipline as the modular tag arrays) and
    * a tag list whose LENGTH varies by id. The predicate — field IS
    * NULL OR tags = [] — sits below the top-k aggregate like the whole
    * scalar filter family (topKFiltered pre-scan contract; KnnSpec
    * pins it). At 100 TB presence is a pushable IsNull scan filter:
    * parquet null-count stats skip whole row groups where every row
    * carries the field.
    */
  def knnFilteredIsNullQuery(s: SparkSession, dir: String): DataFrame = {
    val payload = graft.Tables.events(s, dir)
      .select(col("event_id").as("id"),
        when(col("event_id") % 3L === 0L, lit(null).cast("string"))
          .otherwise(get_json_object(col("props"), "$.k")).as("pk"))
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        slice(array(col("vec_id") % 7L, col("vec_id") % 11L,
          col("vec_id") % 13L), lit(1),
          (col("vec_id") % 4L).cast("int")).as("tags"))
      .join(payload, Seq("id"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topKFiltered(e, q, 10, Metric.L2,
      col("pk").isNull || size(col("tags")) === 0)
  }

  /** DATETIME-RANGE FILTERED SEARCH (r15 — Qdrant's `range` condition
    * on a datetime payload field: `{"key": "ts", "range": {"gte": …,
    * "lt": …}}`). The payload timestamp joins in from the events
    * table by id (the JSON-filter pattern); the half-open window is
    * two ordinary timestamp comparisons below the top-k aggregate, so
    * out-of-window rows never reach the distance kernel. Both
    * engines compare the same parquet micros against the same UTC
    * literals — no timezone arithmetic (session tz pinned UTC). At
    * 100 TB a time-windowed filter is the partition-pruning case:
    * date-partitioned or Z-ordered layout (events_zorder_skip) turns
    * the window into file skips, and this per-row compare remains
    * the exact refinement.
    */
  def knnFilteredDatetimeQuery(s: SparkSession, dir: String): DataFrame = {
    val payload = graft.Tables.events(s, dir)
      .select(col("event_id").as("id"), col("ts"))
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .join(payload, Seq("id"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topKFiltered(e, q, 10, Metric.L2,
      col("ts") >= lit("2024-01-01 01:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
  }

  /** VALUES-COUNT FILTERED SEARCH (r15 — Qdrant's `values_count`
    * condition: gate on the NUMBER of values an array payload field
    * holds, e.g. "at least two tags"). The tag list's length varies
    * by id (slice of the modular tag array), and the predicate is
    * one `size(tags) >= 2` below the top-k aggregate. At 100 TB the
    * cardinality is a typed column materialized at ingest (the
    * n_chars pattern), making this a pushable integer range scan.
    */
  def knnFilteredCountQuery(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        slice(array(col("vec_id") % 7L, col("vec_id") % 11L,
          col("vec_id") % 13L), lit(1),
          (col("vec_id") % 4L).cast("int")).as("tags"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topKFiltered(e, q, 10, Metric.L2, size(col("tags")) >= 2)
  }

  /** MATCH-PHRASE FILTERED SEARCH (r15 — Qdrant's `match: {"phrase":
    * …}` condition on a full-text-indexed payload field, composed as
    * a kNN PRE-FILTER rather than the standalone ranked operator
    * `text_phrase_search` already provides): a candidate's text
    * payload must contain the phrase's tokens CONSECUTIVELY. On the
    * single-space-tokenized corpus, exact adjacency over whole
    * tokens is equivalent to substring containment of the
    * space-delimited phrase in the space-padded text — one codegen
    * `contains`, no explode, evaluated below the top-k aggregate. NULL
    * text never matches (three-valued contains on both engines). At
    * 100 TB the phrase filter is served by the positional postings
    * index (the text_phrase_search machinery) as a candidate
    * semi-join; this per-row check is the exact verification.
    */
  def knnFilteredPhraseQuery(s: SparkSession, dir: String): DataFrame = {
    val payload = graft.Tables.documents(s, dir)
      .select(col("doc_id").as("id"), col("text"))
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .join(payload, Seq("id"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topKFiltered(e, q, 10, Metric.L2,
      concat(lit(" "), col("text"), lit(" "))
        .contains(" table value "))
  }

  /** POSTINGS-SERVED MATCH-PHRASE FILTERED SEARCH (r16, VERDICT r15
    * #5): the same query as [[knnFilteredPhraseQuery]], but the
    * phrase predicate is served as a CANDIDATE SEMI-JOIN from the
    * positional-postings machinery instead of a per-row scan
    * predicate — the shape the 100 TB narrative always claimed for
    * MatchPhrase/MatchText (reference doc/filter.md's index-vs-scan
    * distinction) and that was previously prose:
    *
    *   1. candidate stage — `text_phrase_search`'s anchor evaluation
    *      ([[Search.phraseSearch]]: every phrase token joins the
    *      positional token table, projects anchor = pos − i, and a
    *      (doc, anchor) holding all m offsets is an occurrence),
    *      restricted to the PHRASE'S OWN TOKENS before the shuffle
    *      (`isin` pushed to the scan) — so the exchange carries the
    *      phrase terms' postings, not the corpus;
    *   2. refinement — the exact `contains` check runs on the
    *      CANDIDATE-sized join output only (anchor candidates are a
    *      superset of contains matches only in degenerate-whitespace
    *      corners, but the re-check is what makes the rewrite safe
    *      by construction rather than by tokenization argument);
    *   3. the verified id set semi-joins the vector corpus below the
    *      top-k aggregate — the existing topK path, unchanged.
    *
    * At 100 TB step 1 reads a persisted positional index partition
    * (term-bucketed like the BM25 postings) and the corpus text is
    * never touched; here the positional table derives from the same
    * scan inline, and the plan shape — term-pruned postings →
    * anchor aggregate → candidate semi-join → kNN — is the one that
    * survives that swap. Results are EXACTLY
    * [[knnFilteredPhraseQuery]]'s (KnnSpec pins equality; the oracle
    * SQL is the same statement).
    */
  def knnFilteredPhraseIdxQuery(s: SparkSession, dir: String): DataFrame = {
    val phrase = "table value"
    val ts = phrase.split(" ").toSeq
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
    import s.implicits._
    val ptoks = ts.zipWithIndex
      .map { case (t, i) => (t, i.toLong) }.toDF("tok", "i")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
      .where(col("tok").isin(ts: _*))
    val cand = toks.join(broadcast(ptoks), "tok")
      .groupBy(col("doc_id"), (col("pos") - col("i")).as("anchor"))
      .agg(countDistinct(col("i")).as("hits"))
      .where(col("hits") === lit(ts.length.toLong))
      .select("doc_id").distinct()
    val verified = docs.join(cand, "doc_id")
      .where(concat(lit(" "), col("text"), lit(" "))
        .contains(" " + phrase + " "))
      .select(col("doc_id").as("id"))
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .join(verified, Seq("id"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    topK(e, q, 10, Metric.L2)
  }

  /** PREFETCH → RESCORE (r14 — Qdrant's Query API two-stage shape:
    * a `prefetch` clause retrieves a WIDE candidate set by one
    * vector, the outer query RESCORES those candidates by another —
    * the universal serving pattern behind matryoshka/two-tower
    * retrieval and cheap-metric-then-exact reranking): stage 1 is
    * [[topK]]'s exact per-query-heap top-50 on
    * the title vector; stage 2 joins ONLY the Q×50 shortlist back to
    * the corpus for the body-vector cosine and keeps the top 10.
    * At 100 TB the stage-2 join is shortlist-sized (kilobytes
    * shuffle) — the wide retrieval never re-scans, which is the
    * entire point of the API shape.
    */
  def hybridPrefetchQuery(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        col("embedding").as("vec_title"),
        reverse(col("embedding")).as("vec_body"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val pre = topK(e.select(col("id"), col("vec_title").as("vec")),
      q, 50, Metric.Cosine)
    val rescored = pre.select("qid", "nn_id")
      .join(e.select(col("id").as("nn_id"), col("vec_body")), "nn_id")
      .join(broadcast(q), "qid")
      .select(col("qid"),
        (-VectorDistance.cosine(col("vec_body"), col("qvec"))).as("key"),
        col("nn_id").as("id"))
      .where(col("key").isNotNull)
    Ann.topKPerQuery(rescored, 10)
  }

  /** RECOMMEND BY EXAMPLES — search with positive/negative example
    * IDS instead of a raw vector (the recommendation API Qdrant
    * ships; its published `average_vector` strategy): the query
    * vector is avg(positives) + (avg(positives) − avg(negatives)) =
    * 2·avg(pos) − avg(neg), built per request from the FETCHED
    * corpus vectors, and the example ids themselves are excluded
    * from the results (you already have them). The vector arithmetic
    * runs as per-element double expressions over the request rows
    * (request-sized — the interpreted-lambda rule only bars HOFs on
    * corpus-sized rows), left-to-right identical to the mirror's
    * list_transform. Search is [[topK]]'s exact cosine engine with
    * the three example ids as each request's exclusion list (a NULL
    * example id excludes every row, as `id != NULL` does).
    *
    * @param requests (qid, qvec: double[], ex1, ex2, ex3)
    */
  def recommend(data: DataFrame, requests: DataFrame,
                k: Int): DataFrame =
    rank(data, requests, k, Metric.Cosine,
      Seq(col("ex1"), col("ex2"), col("ex3")))

  /** RECOMMEND, BEST_SCORE STRATEGY (r13 — Qdrant's second
    * recommendation strategy beside the average-vector one
    * [[recommend]] implements): no synthetic query vector — each
    * candidate scores against the EXAMPLES directly: sp = best
    * similarity to any positive, sn = best to any negative, and the
    * published merge is `if sp > sn then sp else −sn²` (winners rank
    * by their best positive; losers get the sign-flipped SQUARE of
    * their best negative, which keeps order among losers while
    * deliberately NOT totally ordering losers below weak winners —
    * the strategy's own documented shape, good at multi-modal
    * positive sets where averaging destroys the modes). Plan: the
    * example vectors broadcast with the request, the three cosines
    * run per pair in one codegen stage, the merge is two compares —
    * same one-pass anatomy as [[recommend]], no second corpus touch.
    *
    * @param requests (qid, pva, pvb, nv: double[] examples,
    *                 ex1, ex2, ex3: the example ids to exclude)
    */
  def recommendBestScore(data: DataFrame, requests: DataFrame,
                         k: Int): DataFrame = {
    def qn(c: String) = sqrt(VectorDistance.dot(col(c), col(c)))
    val q = broadcast(requests.select(col("qid"),
      col("pva"), qn("pva").as("_pan"),
      col("pvb"), qn("pvb").as("_pbn"),
      col("nv"), qn("nv").as("_nn2"),
      col("ex1"), col("ex2"), col("ex3")))
    val d = data.select(col("id"), col("vec"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    def cosTo(v: String, n: String) = {
      val denom = col("_n") * col(n)
      when(denom === 0.0, lit(null).cast("double"))
        .otherwise(VectorDistance.dot(col("vec"), col(v)) / denom)
    }
    val sp = greatest(cosTo("pva", "_pan"), cosTo("pvb", "_pbn"))
    val sn = cosTo("nv", "_nn2")
    val score = when(sp > sn, sp).otherwise(-(sn * sn))
    val scored = d.crossJoin(q)
      .where(col("id") =!= col("ex1") && col("id") =!= col("ex2") &&
        col("id") =!= col("ex3"))
      .select(col("qid"), (-score).as("key"), col("id"))
      .where(col("key").isNotNull)
    Ann.topKPerQuery(scored, k)
  }

  /** best_score surface query: the recommend fixture's example sets,
    * scored by the best-example merge instead of the average vector.
    */
  def recommendBestQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val reqs = Seq((0L, 0L, 1L, 6L), (1L, 2L, 3L, 7L),
      (2L, 4L, 5L, 8L)).toDF("qid", "pa", "pb", "ng")
    val withVecs = reqs
      .join(e.select(col("vec_id").as("pa"), col("v").as("pva")), "pa")
      .join(e.select(col("vec_id").as("pb"), col("v").as("pvb")), "pb")
      .join(e.select(col("vec_id").as("ng"), col("v").as("nv")), "ng")
      .select(col("qid"), col("pva"), col("pvb"), col("nv"),
        col("pa").as("ex1"), col("pb").as("ex2"), col("ng").as("ex3"))
    val data = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    recommendBestScore(data, withVecs, 10)
  }

  /** DISCOVERY SEARCH (r13 — Qdrant's discovery API, the last
    * exploration surface beside `recommend`): a TARGET vector steers
    * the ranking while CONTEXT PAIRS (positive, negative) fence the
    * region — a point is ranked first by how many context pairs it
    * WINS (closer to the pair's positive than its negative), then by
    * similarity to the target; the published semantics for "find
    * things like T, but on the p-side of each p/n boundary". Examples
    * arrive as IDS and are fetched from the corpus (the `recommend`
    * discipline), and all example points are excluded from results.
    * Plan anatomy: the request frame (with its five fetched vectors
    * and their prenorms) broadcasts; ONE corpus pass computes the
    * five cosines per (row, request) inside the scan's codegen stage
    * (fan-2 pairs as COLUMNS, never a HOF — the multiquery rule);
    * the bounded heap keys on wins·4 + round(cos(target), 4), which
    * orders identically to (wins DESC, cos4 DESC) because the win
    * gap 4 exceeds the cosine range 2 and adding a per-row constant
    * is monotone — the oracle mirrors the lexicographic form. The
    * target cosine keys on its 4dp-ROUNDED value (the scroll/groupby
    * convention) so the composite key splits back into (wins, score)
    * EXACTLY: the recovered grid value sits ≥ 5e-5 from any rounding
    * boundary while the add-then-subtract error is ≤ ulp(9) ≈ 2e-15
    * (a raw cosine in the key would lose low bits crossing the
    * .XXXX5 boundary — the r12 fuzz's rounding class). NULL cosines
    * ride the −2 sentinel in the win comparisons (the multiquery
    * convention) and a NULL target cosine drops the row on both
    * engines.
    *
    * @param requests (qid, tvec, p1vec, n1vec, p2vec, n2vec,
    *                 ex: array of example ids to exclude)
    * @return (qid, rk, nn_id, context_wins, score) — score is
    *         cos(target) 4dp
    */
  def discover(data: DataFrame, requests: DataFrame, k: Int): DataFrame = {
    def qn(c: String) = sqrt(VectorDistance.dot(col(c), col(c)))
    val q = broadcast(requests.select(col("qid"), col("ex"),
      col("tvec"), qn("tvec").as("_tn"),
      col("p1vec"), qn("p1vec").as("_p1n"),
      col("n1vec"), qn("n1vec").as("_n1n"),
      col("p2vec"), qn("p2vec").as("_p2n"),
      col("n2vec"), qn("n2vec").as("_n2n")))
    val d = data.select(col("id"), col("vec"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    def cosTo(v: String, n: String) = {
      val denom = col("_n") * col(n)
      when(denom === 0.0, lit(null).cast("double"))
        .otherwise(VectorDistance.dot(col("vec"), col(v)) / denom)
    }
    def win(p: String, pn: String, nn0: String, nnn: String) =
      when(coalesce(cosTo(p, pn), lit(-2.0))
        > coalesce(cosTo(nn0, nnn), lit(-2.0)), 1L).otherwise(0L)
    val agg = TopKAgg.topK(k)
    d.crossJoin(q)
      .where(!array_contains(col("ex"), col("id")))
      .select(col("qid"), col("id"),
        (win("p1vec", "_p1n", "n1vec", "_n1n")
          + win("p2vec", "_p2n", "n2vec", "_n2n")).as("wins"),
        cosTo("tvec", "_tn").as("s"))
      .where(col("s").isNotNull)
      .select(col("qid"),
        (-(col("wins").cast("double") * 4.0 + round(col("s"), 4)))
          .as("key"),
        col("id"))
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      // the heap carries (key, id); (wins, score) split back off the
      // key exactly — see the grid argument in the scaladoc
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("nn_id"),
        floor((-col("col.key") + 2.0) / 4.0).cast("bigint")
          .as("context_wins"),
        round(-col("col.key")
          - floor((-col("col.key") + 2.0) / 4.0) * 4.0, 4).as("score"))
      .orderBy("qid", "rk")
  }

  /** Discovery surface query: three requests steering toward target
    * ids 0/1/2, each fenced by two context pairs drawn from fixed
    * corpus ids (the `recommend` fixture discipline).
    */
  def discoverQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val reqs = Seq(
      (0L, 0L, 3L, 6L, 4L, 7L), (1L, 1L, 5L, 8L, 6L, 9L),
      (2L, 2L, 7L, 10L, 8L, 11L))
      .toDF("qid", "tg", "p1", "n1", "p2", "n2")
    val withVecs = reqs
      .join(e.select(col("vec_id").as("tg"), col("v").as("tvec")), "tg")
      .join(e.select(col("vec_id").as("p1"), col("v").as("p1vec")), "p1")
      .join(e.select(col("vec_id").as("n1"), col("v").as("n1vec")), "n1")
      .join(e.select(col("vec_id").as("p2"), col("v").as("p2vec")), "p2")
      .join(e.select(col("vec_id").as("n2"), col("v").as("n2vec")), "n2")
      .select(col("qid"), col("tvec"), col("p1vec"), col("n1vec"),
        col("p2vec"), col("n2vec"),
        array(col("tg"), col("p1"), col("n1"), col("p2"), col("n2"))
          .as("ex"))
    val data = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    discover(data, withVecs, 10)
  }

  /** CONTEXT SEARCH (r13 — the second half of Qdrant's discovery
    * API: context pairs WITHOUT a target. Each (positive, negative)
    * pair defines a half-space preference; a point's score is
    * Σ min(0, cos(p) − cos(n)) over the pairs — 0 when it sits on
    * the positive side of EVERY pair ("inside the context"), and
    * increasingly negative the further it violates pairs. Unlike
    * [[discover]] there is no target to rank within the zero-loss
    * set, so ties at 0 are the EXPECTED output shape and the id
    * tiebreak is part of the API contract.) Same plan anatomy as
    * discover: one broadcast of the pair vectors, corpus norms once
    * per row, fixed-order two-term sum (bit-deterministic), bounded
    * heap on (−score, id). Degenerate (zero-norm) corpus vectors
    * drop before the heap — the cosine-ranking contract.
    *
    * @param requests (qid, p1vec, n1vec, p2vec, n2vec, ex)
    * @return (qid, rk, nn_id, score) — score = the pair loss, 4dp
    */
  def contextSearch(data: DataFrame, requests: DataFrame,
                    k: Int): DataFrame = {
    def qn(c: String) = sqrt(VectorDistance.dot(col(c), col(c)))
    val q = broadcast(requests.select(col("qid"), col("ex"),
      col("p1vec"), qn("p1vec").as("_p1n"),
      col("n1vec"), qn("n1vec").as("_n1n"),
      col("p2vec"), qn("p2vec").as("_p2n"),
      col("n2vec"), qn("n2vec").as("_n2n")))
    val d = data.select(col("id"), col("vec"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    def cosTo(v: String, n: String) = {
      val denom = col("_n") * col(n)
      when(denom === 0.0, lit(null).cast("double"))
        .otherwise(VectorDistance.dot(col("vec"), col(v)) / denom)
    }
    val loss =
      least(lit(0.0), cosTo("p1vec", "_p1n") - cosTo("n1vec", "_n1n")) +
      least(lit(0.0), cosTo("p2vec", "_p2n") - cosTo("n2vec", "_n2n"))
    val scored = d.crossJoin(q)
      .where(!array_contains(col("ex"), col("id")))
      // a degenerate corpus vector NULLs every cosine — gate on one
      .where(cosTo("p1vec", "_p1n").isNotNull)
      .select(col("qid"), (-loss).as("key"), col("id"))
    Ann.topKPerQuery(scored, k)
  }

  /** Context-search surface query: the discover fixture's three
    * requests, pairs only (no target).
    */
  def contextSearchQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = graft.Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val reqs = Seq(
      (0L, 3L, 6L, 4L, 7L), (1L, 5L, 8L, 6L, 9L),
      (2L, 7L, 10L, 8L, 11L))
      .toDF("qid", "p1", "n1", "p2", "n2")
    val withVecs = reqs
      .join(e.select(col("vec_id").as("p1"), col("v").as("p1vec")), "p1")
      .join(e.select(col("vec_id").as("n1"), col("v").as("n1vec")), "n1")
      .join(e.select(col("vec_id").as("p2"), col("v").as("p2vec")), "p2")
      .join(e.select(col("vec_id").as("n2"), col("v").as("n2vec")), "n2")
      .select(col("qid"), col("p1vec"), col("n1vec"), col("p2vec"),
        col("n2vec"),
        array(col("p1"), col("n1"), col("p2"), col("n2")).as("ex"))
    val data = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
    contextSearch(data, withVecs, 10)
  }

  /** DISTANCE MATRIX (r13 — Qdrant's matrix API: pairwise distances
    * over a SAMPLE of the collection, the raw material for offline
    * clustering / dedup seeding / visualization): a deterministic
    * stride sample (the kmeans-init discipline — pure function of
    * ids, no RNG), pairwise cosine among the sample only, and each
    * sample point reports its `limit` nearest sample neighbors. The
    * API contract is what makes this 100 TB-safe: the sample is
    * API-limit-sized (Qdrant defaults to 10 points), so the
    * sample×sample grid is metadata-sized however big the corpus,
    * and the only corpus touch is the stride filter pushed into the
    * scan.
    */
  def distanceMatrixQuery(s: SparkSession, dir: String,
                          stride: Long = 100, limit: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val samp = graft.Tables.embeddings(s, dir)
      .where(col("vec_id") % stride === 0)
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
    val pairs = samp.select(col("id").as("id_a"), col("v").as("va"))
      .crossJoin(broadcast(samp.select(col("id").as("id_b"),
        col("v").as("vb"))))
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorDistance.cosine(col("va"), col("vb")).as("s"))
      .where(col("s").isNotNull)
    val w = Window.partitionBy("id_a").orderBy(col("s").desc, col("id_b"))
    pairs.withColumn("rk", row_number().over(w))
      .where(col("rk") <= limit)
      .select(col("id_a"), col("rk"), col("id_b"), round(col("s"), 4).as("score"))
      .orderBy("id_a", "rk")
  }

  /** GROUPED SEARCH — top-G groups with the best N hits each (the
    * `group_by` option Qdrant/Weaviate expose: "best 2 chunks from
    * each of the 3 most relevant documents", deduplicating a result
    * list that one hot document would otherwise saturate): hits heap
    * per (query, group) first — the shuffle is keyed (qid, group)
    * and map-side partial heaps bound it exactly like the plain
    * search's — then groups rank by their BEST hit (group tiebreak)
    * and only the top-G survive. Scores key on the 4dp-rounded value
    * throughout (the scroll contract), ids break hit ties. Output is
    * G×N rows per query with both ranks explicit.
    */
  def topKGrouped(data: DataFrame, queries: DataFrame, kGroups: Int,
                  perGroup: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      sqrt(VectorDistance.dot(col("qvec"), col("qvec"))).as("_qn")))
    val d = data.select(col("id"), col("vec"), col("label"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    val denom = col("_n") * col("_qn")
    val score = round(when(denom === 0.0, lit(null).cast("double"))
      .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom), 4)
    val agg = TopKAgg.topK(perGroup)
    val hits = d.crossJoin(q)
      .select(col("qid"), col("label"), score.as("s"), col("id"))
      .where(col("s").isNotNull)
      .select(col("qid"), col("label"), (-col("s")).as("key"), col("id"))
      .groupBy("qid", "label")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), col("label"), posexplode(col("top.items")))
      .select(col("qid"), col("label"), (col("pos") + 1).as("hit_rk"),
        col("col.id").as("nn_id"), (-col("col.key")).as("score"))
    val gw = Window.partitionBy("qid")
      .orderBy(col("gs").desc, col("label"))
    val groups = hits.where(col("hit_rk") === 1)
      .select(col("qid"), col("label"), col("score").as("gs"))
      .withColumn("grp_rk", row_number().over(gw))
      .where(col("grp_rk") <= kGroups)
      .select("qid", "label", "grp_rk")
    hits.join(groups, Seq("qid", "label"))
      .select(col("qid"), col("grp_rk"), col("label"), col("hit_rk"),
        col("nn_id"), col("score"))
      .orderBy("qid", "grp_rk", "hit_rk")
  }

  /** SCROLL / CURSOR PAGINATION — page 2 of a search via a KEYSET
    * cursor (the scroll API Qdrant/Weaviate/ES expose; OFFSET-free
    * so a page costs one bounded heap, not offset+k of buffering):
    * page 1's last row (score, id) becomes the cursor, and page 2 is
    * the top-k of candidates STRICTLY AFTER it in the total order
    * (score < c) ∨ (score = c ∧ id > cid). Both pages key on the
    * 4dp-ROUNDED score — the value the API returned to the client —
    * so the continuation contract is exact: page 2 ≡ ranks 11..20 of
    * the full ordering (the oracle states it as exactly that). Page
    * ordering ties resolve by id, the same total order the heap
    * already enforces. Cost: two bounded scans (a real scroll
    * recomputes or caches the leg; the contract is the plan's
    * shape), cursor is a Q-row broadcast.
    */
  def scrollPage2(data: DataFrame, queries: DataFrame,
                  k: Int): DataFrame = {
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      sqrt(VectorDistance.dot(col("qvec"), col("qvec"))).as("_qn")))
    val d = data.select(col("id"), col("vec"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    val denom = col("_n") * col("_qn")
    val score = round(when(denom === 0.0, lit(null).cast("double"))
      .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom), 4)
    val scored = d.crossJoin(q)
      .select(col("qid"), score.as("s"), col("id"))
      .where(col("s").isNotNull)
    val agg = TopKAgg.topK(k)
    def heapOf(in: DataFrame) = in
      .select(col("qid"), (-col("s")).as("key"), col("id"))
      .groupBy("qid").agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("nn_id"), (-col("col.key")).as("score"))
    val cursor = heapOf(scored).where(col("rk") === k)
      .select(col("qid"), col("score").as("cs"), col("nn_id").as("cid"))
    val after = scored.join(broadcast(cursor), "qid")
      .where(col("s") < col("cs") ||
        (col("s") === col("cs") && col("id") > col("cid")))
      .select("qid", "s", "id")
    heapOf(after).orderBy("qid", "rk")
  }

  /** MULTI-VECTOR OR QUERY — one request carries SEVERAL intent
    * vectors and a document matches on its BEST one (the multi-query
    * semantics Vespa/Milvus expose for query expansion and multi-
    * aspect intents; the reference's /search JSON field is literally
    * plural `vectors`). score(q, doc) = max_i cos(doc, qᵢ), fan 2 as
    * columns so both legs stay inside the scan's codegen stage (a
    * dynamic fan would posexplode sub-vectors and pre-max — the same
    * plan with one extra map-side combine; never a HOF lambda, the
    * repo's interpreted-evaluation pitfall). Corpus norms compute
    * ONCE per row (the pre-normed cosine form — identical float
    * order as the fused kernel, so legs stay bit-equal to
    * list_cosine_similarity); a NULL leg (zero-norm) coalesces to the
    * −2 sentinel on BOTH engines so max() semantics cannot drift, and
    * an all-null pair drops before the heap. Broadcast + bounded
    * TopKAgg anatomy ([[Ann.topKPerQuery]]): one map-only corpus pass, Q×k
    * shuffle.
    *
    * @param queries (qid, q1, q2)
    */
  def topKMultiQuery(data: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    val q = broadcast(queries.select(col("qid"), col("q1"), col("q2"),
      sqrt(VectorDistance.dot(col("q1"), col("q1"))).as("_qn1"),
      sqrt(VectorDistance.dot(col("q2"), col("q2"))).as("_qn2")))
    val d = data.select(col("id"), col("vec"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    // each leg CLAMPS into cosine's mathematical range [−1, 1]: FP
    // drift can exceed it (a self-match's d/(√d·√d) lands at 1+2ulp
    // for some vectors) and the mirror's list_cosine_similarity
    // clamps, so an unclamped leg would win max() ties in a different
    // order than the oracle ranks them
    def leg(qv: String, qn: String) = {
      val denom = col("_n") * col(qn)
      val raw = VectorDistance.dot(col("vec"), col(qv)) / denom
      when(denom === 0.0 || raw.isNull, lit(-2.0))
        .otherwise(least(lit(1.0), greatest(lit(-1.0), raw)))
    }
    Ann.topKPerQuery(d.crossJoin(q)
      .select(col("qid"),
        (-greatest(leg("q1", "_qn1"), leg("q2", "_qn2"))).as("key"),
        col("id"))
      .where(col("key") < 1.5), k) // both-leg-null sentinel, cos ≥ −1
  }

  /** Radius (range) search — FAISS `range_search` analog: every
    * neighbor within a threshold (L2: distance ≤ t; IP/cosine:
    * similarity ≥ t). Queries broadcast into one fused-kernel scan,
    * and the reducer is a plain filter — no heap, no per-query state,
    * output size data-dependent. The filter runs inside the scan's
    * codegen stage, so the only exchange is the deterministic output
    * sort; at 100 TB this is a full map-only pass, embarrassingly
    * parallel.
    */
  def radius(data: DataFrame, queries: DataFrame, metric: Metric.Value,
             threshold: Double, excludeSelf: Boolean = false): DataFrame = {
    val score = metric match {
      case Metric.L2 => VectorDistance.l2(col("vec"), col("qvec"))
      case Metric.IP => VectorDistance.dot(col("vec"), col("qvec"))
      case Metric.Cosine => VectorDistance.cosine(col("vec"), col("qvec"))
    }
    val keep =
      if (metric == Metric.L2) col("s") <= threshold
      else col("s") >= threshold
    val pairs = data.select(col("id"), col("vec"))
      .crossJoin(broadcast(queries.select(col("qid"), col("qvec"))))
    (if (excludeSelf) pairs.where(col("id") =!= col("qid")) else pairs)
      .select(col("qid"), col("id").as("nn_id"), score.as("s"))
      .where(col("s").isNotNull && keep)
      .select(col("qid"), col("nn_id"), round(col("s"), 4).as("score"))
      .orderBy("qid", "nn_id")
  }

  /** NAMED-VECTORS SEARCH (r13 — Qdrant's named vectors: a point
    * stores SEVERAL vectors under names ("title", "body", an image
    * embedding…) and each search request says which one it targets
    * via `using`): the vector choice is REQUEST DATA, not a plan
    * branch — one broadcast of (qid, qvec, using), one scan, and a
    * per-pair conditional column picks the named corpus vector
    * inside the same codegen stage (the routed-batch discipline:
    * heterogeneous requests never fork the plan). At 100 TB the
    * named vectors are sibling columns of one table — column
    * pruning reads only the names the batch actually uses, which is
    * the storage win over one-collection-per-vector-name.
    *
    * @param data    (id, vec_title, vec_body)
    * @param queries (qid, qvec, using) — `using` ∈ title|body
    */
  def topKNamedVectors(data: DataFrame, queries: DataFrame,
                       k: Int): DataFrame = {
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      col("using")))
    // UNKNOWN name → NULL target → the row never scores: a request
    // `using` a vector name the collection doesn't store returns
    // zero rows (Qdrant 400s the request; relationally the empty
    // result is the honest equivalent). The prior `otherwise
    // (vec_body)` silently served the wrong vector for a typo'd
    // name — caught by the r14 request-shape fuzz.
    val target = when(col("using") === "title", col("vec_title"))
      .when(col("using") === "body", col("vec_body"))
      .otherwise(lit(null))
    val scored = data.crossJoin(q)
      .select(col("qid"),
        (-VectorDistance.cosine(target, col("qvec"))).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    Ann.topKPerQuery(scored, k)
  }

  /** Surface query: title = the stored embedding, body = its exact
    * reversal (deterministic, FP-free synthesis — reversal changes
    * the ranking, so targeting the wrong name is visible); six
    * requests alternating the target name.
    */
  def knnNamedQuery(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        col("embedding").as("vec_title"),
        reverse(col("embedding")).as("vec_body"))
    val q = graft.Tables.embeddings(s, dir).where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        when(col("vec_id") % 2 === 0, lit("title"))
          .otherwise(lit("body")).as("using"))
    topKNamedVectors(e, q, 10)
  }

  /** ANNULUS (two-bound range) SEARCH (r13 — Milvus' range search
    * with BOTH knobs: `radius` sets the outer/less-similar bar and
    * `range_filter` the inner/more-similar cutoff, which exists
    * precisely to EXCLUDE near-identical hits — "related but not a
    * copy", the band a dedup-aware retrieval fetches context from):
    * similarity metrics keep lo < s ≤ hi; L2 keeps lo ≤ d < hi
    * (Milvus' own orientation: range_filter ≤ d < radius). Same
    * map-only plan as [[radius]] — the second compare rides the same
    * codegen stage for free, output stays data-dependent with no
    * heap and no per-query state.
    */
  def radiusBand(data: DataFrame, queries: DataFrame,
                 metric: Metric.Value, lo: Double, hi: Double,
                 excludeSelf: Boolean = false): DataFrame = {
    val score = metric match {
      case Metric.L2 => VectorDistance.l2(col("vec"), col("qvec"))
      case Metric.IP => VectorDistance.dot(col("vec"), col("qvec"))
      case Metric.Cosine => VectorDistance.cosine(col("vec"), col("qvec"))
    }
    val keep =
      if (metric == Metric.L2) col("s") >= lo && col("s") < hi
      else col("s") > lo && col("s") <= hi
    val pairs = data.select(col("id"), col("vec"))
      .crossJoin(broadcast(queries.select(col("qid"), col("qvec"))))
    (if (excludeSelf) pairs.where(col("id") =!= col("qid")) else pairs)
      .select(col("qid"), col("id").as("nn_id"), score.as("s"))
      .where(col("s").isNotNull && keep)
      .select(col("qid"), col("nn_id"), round(col("s"), 4).as("score"))
      .orderBy("qid", "nn_id")
  }

  /** RECENCY-BOOSTED SEARCH — the freshness option production vector
    * stores expose (rank stale matches below fresh ones without
    * dropping them): boosted = ((1+cosine)/2) / 2^age_bucket. The
    * cosine is shifted to [0,1] FIRST so the decay is monotone over
    * the whole similarity range — dividing a raw negative cosine by
    * 2^b would move it TOWARD zero, ranking a stale negative match
    * above an equally-negative fresh one (the freshness inversion
    * this shift exists to prevent). The decay weight is a POWER OF
    * TWO on purpose — multiplying a double by 2⁻ᵇ only decrements
    * the exponent (exact, no rounding) and the (1+c)/2 shift rounds
    * once identically on both engines, so the boosted score is
    * bit-deterministic where an exp(−λ·age) would be a libm call
    * with no contract. Broadcast + fused-kernel + bounded TopKAgg heap
    * per qid (the key reads each row's age bucket); the raw cosine of each winner is
    * re-derived from the exact boosted key by the inverse shift —
    * zero extra scans.
    */
  def topKRecencyBoosted(data: DataFrame, queries: DataFrame, k: Int,
                         ageBucket: org.apache.spark.sql.Column): DataFrame = {
    val q = broadcast(queries.select(col("qid"), col("qvec")))
    val pairs = data.select(col("id"), col("vec"), ageBucket.as("bucket"))
      .crossJoin(q)
      .select(col("qid"), col("id"), col("bucket"),
        VectorDistance.cosine(col("vec"), col("qvec")).as("c"))
      .where(col("c").isNotNull)
      // exact exponent shift on the [0,1]-shifted similarity; carry
      // nothing through the heap: boosted is the ranking key,
      // raw = boosted · 2^bucket · 2 − 1 (shift-exact, then one
      // Sterbenz-exact subtract near 1)
      .select(col("qid"), col("id"), col("bucket"),
        (((col("c") + lit(1d)) / lit(2d))
          / expr("cast(shiftleft(1L, cast(bucket as int)) as double)"))
          .as("boosted"))
    val agg = TopKAgg.topK(k)
    val top = pairs
      .select(col("qid"), (-col("boosted")).as("key"), col("id"))
      .groupBy("qid").agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("nn_id"), (-col("col.key")).as("boosted"))
    // Q×k winners re-join their bucket to invert the exact shift
    top.join(data.select(col("id").as("nn_id"), ageBucket.as("bucket")),
        "nn_id")
      .select(col("qid"), col("rk"), col("nn_id"),
        round(col("boosted")
          * expr("cast(shiftleft(1L, cast(bucket as int)) as double)")
          * lit(2d) - lit(1d), 4)
          .as("score"),
        round(col("boosted"), 4).as("boosted"))
      .orderBy("qid", "rk")
  }

  /** Matryoshka (MRL) prefix-dimension search — the dimension-
    * truncation rung of the quantization ladder (SQ8 shrinks bytes
    * per dim, PQ/BQ shrink to codes; MRL drops dims entirely, the
    * property Matryoshka-trained embeddings are built for): shortlist
    * by cosine over the first `prefixDims` dimensions (4× less
    * arithmetic and — with the prefix stored as its own column —
    * 4× less scan bandwidth at 64→16 dims), exact full-dimension
    * rerank over the shortlist only. Same scale anatomy as
    * [[Quant.sq8Search]]: broadcast queries, bounded heap,
    * rerank touches O(Q·k·rerank) vectors.
    */
  def mrlSearch(data: DataFrame, queries: DataFrame, k: Int,
                prefixDims: Int = 16, rerank: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      slice(col("qvec"), 1, prefixDims).as("qpre")))
    val scored = data
      .select(col("id"), slice(col("vec"), 1, prefixDims).as("pre"))
      .crossJoin(q)
      .select(col("qid"),
        (-VectorDistance.cosine(col("pre"), col("qpre"))).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    // shared rerank tail — the IVF twin (Ann.ivfMrlSearch) uses the
    // same one, so tie-break/rounding discipline cannot drift
    Ann.shortlistRerank(scored, rerank, data, queries, k, Metric.Cosine)
  }
}
