package graft.operators

import graft.Tables
import graft.functions.Md5Prefix60
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (BM25) retrieval and hybrid lexical⊕vector fusion — the
  * other half of a search engine next to the kNN operators. The
  * reference serves pure vector search (/search,
  * http_server.cc:19); production vector stores pair it with a
  * keyword leg and fuse ranks, so the engine carries both.
  *
  * BM25 as a relational plan (no inverted-index service):
  *
  *   1. postings: explode docs to (term, doc_id, tf) — but FIRST
  *      semi-join the exploded tokens against the (broadcast, tiny)
  *      query-term set, so the pipeline generates-and-filters in one
  *      codegen stage and only rows for queried terms ever reach a
  *      shuffle. The full-vocabulary postings table is never built:
  *      at 100 TB, scoring touches O(matching docs × query terms)
  *      rows, not O(total tokens). The postings frame is eagerly
  *      checkpointed (it is query-sized, not corpus-sized), so the
  *      idf and score stages read it back instead of re-tokenizing
  *      the corpus — ONE tokenize+explode scan per evaluation.
  *   2. df/idf: per-term doc counts over those postings — partial
  *      aggregation collapses the exchange to O(terms × partitions)
  *      rows; the result is query-term-sized and broadcast back.
  *   3. score: contributions summed per (qid, doc_id) — the one
  *      unavoidable corpus-scale shuffle (a doc's terms meet here) —
  *      then the TopKAgg heap reduces each query to k rows
  *      (partial-aggregating, so the final exchange carries
  *      O(Q·k·partitions)).
  *
  * Cross-engine determinism (the DuckDB oracle replays the exact
  * computation): every input to the formula is integer-derived
  * (tf, df, N, dl — exactly representable doubles) so divisions are
  * IEEE-identical; only ln() may differ by an ulp, and contribution
  * sums are order-dependent — both absorbed by ranking on the
  * 4dp-ROUNDED score with doc_id tiebreak, not the raw double.
  */
object Search {

  /** Okapi BM25 with the Lucene +1 idf floor (idf > 0 always). */
  private val K1 = 1.2
  private val B = 0.75

  /** Top-k docs per query string by BM25. `queries`: (qid, qtext);
    * whitespace tokenization, duplicate query terms collapse (qtf=1).
    * Output: (qid, rk, doc_id, score), score 4dp, rank deterministic.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bm25Impl(docs, queries, k, keep = None)

  /** Metadata-FILTERED lexical search — the reference's filtered
    * search (filter_index.cc bitmaps) on the BM25 leg, with Lucene
    * filter-query semantics: corpus statistics stay GLOBAL (idf and
    * avgdl come from the whole index — a filter narrows the
    * candidates, it does not re-weight the vocabulary) and the
    * predicate drops candidate documents before scoring. The allowed
    * set is a doc_id semi-join — the key the scoring shuffle already
    * uses, so the filter adds no new exchange shape.
    */
  def bm25TopKFiltered(docs: DataFrame, queries: DataFrame, k: Int,
                       keep: Column): DataFrame =
    bm25Impl(docs, queries, k, Some(keep))

  private def bm25Impl(docs: DataFrame, queries: DataFrame, k: Int,
                       keep: Option[Column]): DataFrame = {
    // a NULL-text doc does not exist for the lexical index: it can
    // carry no posting, so counting it in n_docs/avgdl would make the
    // on-the-fly stats drift from the postings-derived sidecar (r12
    // fuzz). One rule everywhere: text IS NOT NULL is the corpus.
    val toks = docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))

    // one row: corpus size + mean doc length (integer sums → exact).
    // This is the one OTHER corpus pass, and it is narrow: tokenize
    // for the length only, no explode, no shuffle beyond a 1-row agg.
    val stats = toks.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))

    val qterms = queries.select(col("qid"),
        explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val terms = qterms.select("term").distinct()

    // generate-and-filter in one stage: only queried terms survive.
    // CHECKPOINTED: `idf` and `contrib` below both consume postings;
    // left lazy, each would force its own tokenize+explode of every
    // document (the round-4 triple-scan). The checkpoint is bounded
    // at O(matching docs × query terms) — the connectedComponents
    // precedent (Dedup.nearDupClusters) — so the corpus is tokenized
    // and exploded exactly ONCE per bm25 evaluation.
    val postings = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(terms), Seq("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true)

    val idf = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("dfreq"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)
          + 1.0).as("idf"),
        col("avgdl"))

    // the filter narrows CANDIDATES only — idf above is already
    // derived from the unfiltered postings (global statistics)
    val candidates = keep match {
      case Some(pred) => postings.join(
        docs.where(pred).select("doc_id"), Seq("doc_id"), "left_semi")
      case None => postings
    }
    scoreAndRank(candidates, idf, qterms, k)
  }

  /** Shared scoring tail (contribution formula → per-(qid, doc) sum →
    * TopKAgg heap), used by both the on-the-fly and the
    * persisted-index paths so the two cannot drift.
    * `idf`: (term, idf, avgdl); `postings`: (term, doc_id, dl, tf).
    */
  private def scoreAndRank(postings: DataFrame, idf: DataFrame,
                           qterms: DataFrame, k: Int): DataFrame = {
    val contrib = postings
      .join(broadcast(idf), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .select(col("qid"), col("doc_id"),
        // (1.0 - B) is folded in Scala — same exact double as the
        // oracle's left-to-right 1.0 - 0.75
        (col("idf") * col("tf") * lit(K1 + 1.0) /
          (col("tf") + lit(K1) *
            (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl"))))
          .as("c"))

    val scored = contrib.groupBy("qid", "doc_id")
      .agg(round(sum("c"), 4).as("score"))

    val agg = TopKAgg.topK(k)
    scored
      // heap key = rounded score (see determinism note above)
      .select(col("qid"), (-col("score")).as("key"), col("doc_id").as("id"))
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("doc_id"), (-col("col.key")).as("score"))
      .orderBy("qid", "rk")
  }

  /** BM25F — FIELDED retrieval (Robertson & Zaragoza '09 §7, the
    * "simple BM25F"): a match in the TITLE outweighs the same match
    * in the body, with per-field length normalization applied BEFORE
    * the saturation so a strong title match cannot be drowned by
    * body-length normalization. Fields derive from the fixture
    * deterministically (title = first 8 tokens, body = the rest —
    * the split a real pipeline reads from its document schema);
    * tf̃(t,d) = Σ_f w_f · tf_f / (1 − b + b·dl_f/avgdl_f) with
    * w_title = 2, w_body = 1, then score = idf · tf̃/(k1 + tf̃). idf
    * stays DOCUMENT-granular (df counts docs containing the term in
    * ANY field — field structure re-weights tf, not the vocabulary).
    * Determinism: both field legs pivot into COLUMNS of one row per
    * (doc, term) — the weighted sum is a single fixed-order double
    * expression, never a float aggregate over field rows; per-field
    * dl/avgdl are whole-number doubles (exact sums in any order).
    * Scale: one tokenize+posexplode pass (position decides the field
    * — no second tokenization), query-term semi-join before the tf
    * aggregate, checkpointed postings consumed by idf + scoring, Q×k
    * heap shuffle.
    */
  def bm25fTopK(docs: DataFrame, queries: DataFrame, k: Int,
                titleLen: Int = 8, wTitle: Double = 2.0,
                wBody: Double = 1.0): DataFrame = {
    val base = docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl_t", least(size(col("toks")), lit(titleLen))
        .cast("double"))
      .withColumn("dl_b", greatest(size(col("toks")) - titleLen, lit(0))
        .cast("double"))
    val stats = base.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl_t").as("avg_t"), avg("dl_b").as("avg_b"))
    val qterms = queries.select(col("qid"),
      explode(split(col("qtext"), " ")).as("term")).distinct()
    val terms = qterms.select("term").distinct()
    val posted = base
      .select(col("doc_id"), col("dl_t"), col("dl_b"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .join(broadcast(terms), Seq("term"))
      .groupBy("doc_id", "term", "dl_t", "dl_b")
      .agg(sum(when(col("pos") < titleLen, 1L).otherwise(0L))
          .cast("double").as("tf_t"),
        sum(when(col("pos") >= titleLen, 1L).otherwise(0L))
          .cast("double").as("tf_b"))
      .localCheckpoint(true) // consumed by idf + contrib
    val idf = posted.groupBy("term")
      .agg(count(lit(1)).cast("double").as("dfreq"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)
          + 1.0).as("idf"),
        col("avg_t"), col("avg_b"))
    val tfn = lit(wTitle) * col("tf_t") /
      (lit(1.0 - B) + lit(B) * col("dl_t") / col("avg_t")) +
      lit(wBody) * col("tf_b") /
        (lit(1.0 - B) + lit(B) * col("dl_b") / col("avg_b"))
    val contrib = posted.join(broadcast(idf), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .select(col("qid"), col("doc_id"),
        (col("idf") * tfn / (lit(K1) + tfn)).as("c"))
    val scored = contrib.groupBy("qid", "doc_id")
      .agg(round(sum("c"), 4).as("score"))
    val agg = TopKAgg.topK(k)
    scored
      .select(col("qid"), (-col("score")).as("key"), col("doc_id").as("id"))
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("doc_id"), (-col("col.key")).as("score"))
      .orderBy("qid", "rk")
  }

  /** Surface query: BM25F top-10 over the fixture title/body split. */
  def bm25fQuery(s: SparkSession, dir: String): DataFrame =
    bm25fTopK(Tables.documents(s, dir), fixedQueries(s), 10)

  // ------------------------------------------------- persisted postings

  /** Postings partition buckets. 64 keeps directories coarse enough
    * that a small corpus does not fragment, while a query touching T
    * distinct terms reads at most min(T, 64) buckets — at 100 TB each
    * bucket is still 1/64th of the postings, listed and read only
    * when a queried term hashes into it.
    */
  private val Buckets = 64L

  private def bucketOf(term: Column): Column =
    pmod(Md5Prefix60(term), lit(Buckets)).cast("int")

  private def termsPath(path: String): String = path + "_terms"
  private def statsPath(path: String): String = path + "_stats"

  /** (term, doc_id, dl, tf, bucket) postings of a document frame —
    * shared by build and insert so the two produce identical rows.
    */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    toks.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("bucket", bucketOf(col("term")))
  }

  /** Persist the inverted index: the FULL-vocabulary postings written
    * once as parquet PARTITIONED BY a term-hash bucket, with the term
    * dictionary (per-term df) and the 1-row corpus stats alongside —
    * the lexical analog of [[Ann.ivfBuildIndex]]'s cell layout. The
    * on-the-fly [[bm25TopK]] pays one tokenize+explode of the corpus
    * per evaluation and never materializes unqueried terms; the index
    * pays the full tokenize ONCE, and every query after it reads only
    * the buckets its terms hash into (partition pruning) and only the
    * rows of those exact terms (term pushed to the parquet scan) —
    * zero tokenization at query time, amortized across the workload.
    *
    * Write order: postings → dictionary (derived by re-reading the
    * written postings, never a second tokenize) → stats last; readers
    * key existence on the stats _SUCCESS, so a crash mid-build can
    * never publish a partial index.
    */
  def bm25BuildIndex(s: SparkSession, docs: DataFrame, path: String): Unit = {
    postingsOf(docs)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    deriveSidecars(s, path)
  }

  /** Dictionary and stats derived FROM the written postings — never a
    * second tokenize, and the derivation is the idempotent REPAIR for
    * any interrupted maintenance op: postings are the ground truth
    * (every doc has ≥ 1 posting — even an empty text tokenizes to one
    * "" term), so re-running this after a crash between the postings
    * publish and the sidecar writes restores consistency. `sum_dl` is
    * stored beside avgdl because inserts must merge the EXACT integer
    * sum (reconstructing it as avgdl·n reintroduces rounding and
    * breaks insert ≡ rebuild).
    */
  def deriveSidecars(s: SparkSession, path: String): Unit = {
    val post = s.read.parquet(path)
    post.groupBy("term", "bucket")
      .agg(count(lit(1)).cast("double").as("dfreq"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(termsPath(path))
    post.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum("dl").as("sum_dl"), avg("dl").as("avgdl"))
      .write.mode("overwrite").parquet(statsPath(path))
  }

  /** Corpus-growth insert — new documents folded into the live index
    * without a rebuild, the lexical twin of [[Ann.ivfIndexUpsert]]'s
    * touched-cells discipline: only buckets receiving a new posting
    * are rewritten (dynamic partition overwrite of surviving old rows
    * ∪ batch rows), the dictionary recounts those buckets from the
    * merged postings, and the stats row adjusts by exact integer
    * sums — so the result is row-identical to rebuilding over
    * corpus ∪ batch (SearchSpec pins it), and re-inserting the SAME
    * batch is a no-op (the streaming maintenance loop's redelivery
    * safety; SearchSpec pins that too). A doc whose text CHANGED
    * between inserts may leave stale postings in buckets its new
    * terms don't touch — replacement of changed documents is a
    * segment/tombstone design, deliberately out of scope for the
    * in-place layout.
    *
    * CRASH WINDOW (the [[TablePublish]] contract): postings,
    * dictionary, and stats are three writes; a crash between them
    * leaves sidecars stale — and note that RE-RUNNING the insert
    * cannot heal them (the redelivered rows are already present, so
    * the stats delta is zero by design). [[deriveSidecars]] is the
    * idempotent repair — postings are ground truth — and the
    * streaming maintenance loop runs it on every (re)start.
    */
  def bm25IndexInsert(s: SparkSession, path: String,
                      newDocs: DataFrame): Unit = {
    // batch-sized checkpoint: feeds the bucket set, the postings
    // merge, and the stats delta
    val newPost = postingsOf(newDocs).localCheckpoint(true)
    val buckets = bucketsOf(newPost)
    // empty batch = no-op (guards the direct API; the streaming loop
    // also skips empty micro-batches) — proceeding would NPE on the
    // null sum(dl) and rewrite zero buckets for nothing
    if (buckets.isEmpty) return
    val batchIds = newPost.select("doc_id").distinct()
    val oldTouched = s.read.parquet(path)
      .where(col("bucket").isin(buckets.toIndexedSeq: _*))
    // RETRY IDEMPOTENCE (what lets a streaming foreachBatch re-deliver
    // this batch safely): old rows belonging to a batch doc_id are
    // replaced, not duplicated — an identical re-inserted doc's terms
    // hash into exactly the buckets this batch touches, so the
    // anti-join removes every prior copy. A doc whose TEXT changed may
    // leave stale postings in buckets its new terms don't touch;
    // replacement of changed documents is the segment/tombstone design
    // (out of scope, documented above).
    // the replaced rows' corpus contribution, measured BEFORE the
    // overwrite deletes their files (eager collect)
    val droppedRow = droppedStats(oldTouched, batchIds)
    publishPostings(s, path, buckets, Some(newPost))(
      _.join(batchIds, Seq("doc_id"), "left_anti"))
    val old = s.read.parquet(statsPath(path))
      .select("n_docs", "sum_dl").collect().head
    val batch = newPost.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("double"), sum("dl")).collect().head
    val n = old.getDouble(0) - droppedRow.getDouble(0) + batch.getDouble(0)
    val sumDl =
      old.getDouble(1) - droppedRow.getDouble(1) + batch.getDouble(1)
    import s.implicits._
    Seq((n, sumDl, sumDl / n)).toDF("n_docs", "sum_dl", "avgdl")
      .write.mode("overwrite").parquet(statsPath(path))
  }

  /** DELETE documents from the persisted inverted index — the
    * tombstone maintenance op completing insert/compact/repair. The
    * touched-bucket set comes from a column-pruned (doc_id, bucket)
    * scan with the delete set as the join key (at petabyte postings a
    * doc→bucket bloom sidecar would prune the listing further; the
    * scan reads two metadata-weight columns, never tf payloads).
    * Only touched buckets rewrite; a term whose last posting dies
    * drops out of the dictionary recount automatically (its bucket
    * partition is replaced wholesale); buckets emptied entirely are
    * removed from both by the shared publish. Stats shrink by the
    * dropped docs' exact contribution, measured before the overwrite
    * deletes their files.
    */
  def bm25IndexDelete(s: SparkSession, path: String,
                      docIds: DataFrame): Unit = {
    import s.implicits._
    val ids = broadcast(docIds.select("doc_id").distinct())
    val buckets = bucketsOf(s.read.parquet(path).join(ids, "doc_id"))
    if (buckets.isEmpty) return  // no posting mentions these docs
    val droppedRow = droppedStats(
      s.read.parquet(path).where(col("bucket").isin(buckets.toIndexedSeq: _*)), ids)
    publishPostings(s, path, buckets)(_.join(ids, Seq("doc_id"), "left_anti"))
    val oldStats = s.read.parquet(statsPath(path))
      .select("n_docs", "sum_dl").collect().head
    val n = oldStats.getDouble(0) - droppedRow.getDouble(0)
    val sumDl = oldStats.getDouble(1) - droppedRow.getDouble(1)
    Seq((n, sumDl, if (n > 0) sumDl / n else 0.0))
      .toDF("n_docs", "sum_dl", "avgdl")
      .write.mode("overwrite").parquet(statsPath(path))
  }

  // ------------------------------------------------ versioned manifest

  /** Build-and-publish under a versioned root — the [[Manifest]]
    * discipline (shared with the IVF index; the reference's
    * lastSnapshotID pointer) applied to the lexical index: the new
    * version (postings + `_terms`/`_stats` sidecars) is built beside
    * the live one and the `_current` pointer flips last, so a full
    * REBUILD (bucket resize, tokenization policy change) is atomic —
    * readers see the old index or the new one, never a mix, and a
    * crash before the flip leaves the old index live. In-place
    * maintenance (insert/compact/repair) targets the live version
    * through [[Manifest.resolve]]; superseded versions retire via
    * [[Manifest.gcVersions]] (the `v<N>_*` sidecar pattern covers
    * the dictionary and stats directories).
    */
  def bm25BuildPublished(s: SparkSession, docs: DataFrame,
                         root: String): String = {
    val next = Manifest.nextVersion(s, root)
    val path = new org.apache.hadoop.fs.Path(root, next).toString
    bm25BuildIndex(s, docs, path)
    Manifest.publish(s, root, next)
    path
  }

  /** Search the live version under a versioned root — the reader-side
    * half of the manifest contract.
    */
  def bm25SearchCurrent(s: SparkSession, root: String,
                        queries: DataFrame, k: Int): DataFrame =
    bm25SearchIndexed(s, Manifest.resolve(s, root), queries, k)

  /** Compact fragmented postings buckets — each streamed micro-batch
    * insert adds a file per touched bucket, so a long-running
    * maintenance loop accretes small files; buckets holding more than
    * `maxFilesPerBucket` parquet files are rewritten
    * content-identically into one file each ([[TablePublish.compact]]:
    * driver-side listing is O(buckets + files), bounded at 64 buckets
    * here). Covers both the postings and the term
    * dictionary; the 1-row stats sidecar never fragments.
    */
  def bm25IndexCompact(s: SparkSession, path: String,
                       maxFilesPerBucket: Int = 1): Unit =
    Seq(path, termsPath(path)).foreach(
      TablePublish.compact(s, _, "bucket", maxFilesPerBucket))

  /** The distinct term buckets of `rows` on the driver, bounded by
    * [[Buckets]].
    */
  private def bucketsOf(rows: DataFrame): Array[Int] =
    graft.Cut.request(rows.select("bucket").distinct(), Buckets.toInt, "Search.Buckets",
      "touched bucket set").map(_.getInt(0))

  /** (doc count, dl sum) of the rows of `old` belonging to `ids`: their
    * corpus contribution, measured before the publish deletes their
    * files.
    */
  private def droppedStats(old: DataFrame, ids: DataFrame): Row =
    old.join(ids, Seq("doc_id"), "left_semi")
      .select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("double"), coalesce(sum("dl"), lit(0.0)))
      .collect().head

  /** Rewrite the postings of `buckets` ([[TablePublish.rewrite]]) and
    * recount the dictionary of those buckets from the published
    * postings — a term lives in exactly one bucket, so the recount is
    * complete for every touched term, and a bucket emptied in the
    * postings is emptied in the dictionary too.
    */
  private def publishPostings(s: SparkSession, path: String, buckets: Array[Int],
                              arrivals: Option[DataFrame] = None)(
      keep: DataFrame => DataFrame): Unit = {
    val merged = TablePublish.rewrite(s, path, "bucket", buckets.toSeq, arrivals)(keep)
    TablePublish.publish(s, termsPath(path), Seq("bucket"), buckets.toSeq.map(Seq(_)),
      merged.groupBy("term", "bucket")
        .agg(count(lit(1)).cast("double").as("dfreq")))
  }

  /** Query the persisted index. The query's terms are request-sized,
    * so they collect to driver literals: the bucket set becomes a
    * PartitionFilter (unqueried buckets never listed) and the term
    * set a PushedFilter (non-matching rows skipped inside the scan)
    * on both the dictionary and the postings. Same integers into the
    * same formula as [[bm25TopK]] → identical results by
    * construction, which is why the two share one oracle.
    */
  def bm25SearchIndexed(s: SparkSession, path: String, queries: DataFrame,
                        k: Int): DataFrame = {
    val (qterms, postings, idf) = indexedRead(s, path, queries)
    scoreAndRank(postings.select("term", "doc_id", "dl", "tf"), idf, qterms, k)
  }

  /** The persisted index's read for `queries` (qid, qtext), shared by
    * both lexical scoring models: the (qid, term) pairs, the postings
    * and the (term, idf, avgdl) frame, both pruned to the queries'
    * buckets and terms.
    */
  private def indexedRead(s: SparkSession, path: String, queries: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val qterms = queries.select(col("qid"),
        explode(split(col("qtext"), " ")).as("term"))
      .distinct()
    val termList = qterms.select("term").distinct()
      .collect().map(_.getString(0)).sorted
    val bucketList = termList
      .map(t => math.floorMod(graft.functions.HashUtils
        .md5Prefix60(t.getBytes("UTF-8")), Buckets).toInt)
      .distinct.sorted
    def pruned(p: String): DataFrame = s.read.parquet(p)
      .where(col("bucket").isin(bucketList.toIndexedSeq: _*) &&
        col("term").isin(termList.toIndexedSeq: _*))
    val stats = s.read.parquet(statsPath(path))
    val idf = pruned(termsPath(path))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)
          + 1.0).as("idf"),
        col("avgdl"))
    (qterms, pruned(path), idf)
  }

  /** Sparse (tf·idf²) search over the SAME persisted postings index
    * [[bm25SearchIndexed]] reads — one at-rest structure serving
    * both lexical scoring models (the sparse-vector modality never
    * needs its own index: postings + df + N are its sufficient
    * statistics too). Identical bucket-pruned read path (a query
    * touches min(T, 64) buckets), identical idf expression, only
    * the scoring CTE differs — so this twin is provably equal to the
    * on-the-fly [[sparseDotQuery]] by the same argument the BM25
    * indexed twin makes, and shares its oracle.
    */
  def sparseIndexedQuery(s: SparkSession, dir: String): DataFrame = {
    val (qterms, postings, idf) = indexedRead(s, indexFor(s, dir), fixedQueries(s))
    val contrib = postings.select("term", "doc_id", "tf")
      .join(broadcast(idf.select("term", "idf")), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .select(col("qid"), col("doc_id"),
        (col("tf") * (col("idf") * col("idf"))).as("c"))
    val scored = contrib.groupBy("qid", "doc_id")
      .agg(round(sum("c"), 4).as("score"))
    val agg = TopKAgg.topK(10)
    scored
      .select(col("qid"), (-col("score")).as("key"), col("doc_id").as("id"))
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("doc_id"), (-col("col.key")).as("score"))
      .orderBy("qid", "rk")
  }

  /** Resolve (building on first use) the per-sf-dir index under
    * the IndexCache root — shared by the indexed surface query and the hybrid
    * query's lexical leg.
    */
  private[graft] def indexFor(s: SparkSession, dir: String): String = {
    // v2: stats schema gained sum_dl (insert-merge exactness)
    val path = graft.IndexCache.dirFor(dir, "bm25idx2").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(statsPath(path), "_SUCCESS")))
      bm25BuildIndex(s, Tables.documents(s, dir), path)
    path
  }

  /** Persisted-index twin of [[bm25Query]] (same queries/k so the
    * spec asserts equality and both share the oracle); index built
    * once per sf dir under the IndexCache root.
    */
  def bm25IndexedQuery(s: SparkSession, dir: String): DataFrame =
    bm25SearchIndexed(s, indexFor(s, dir), fixedQueries(s), 10)

  /** Fixed query workload (all terms exist at every SF; `dup` is the
    * rare high-idf term). qid LONG to match the embedding ids the
    * hybrid query pairs these with.
    */
  def fixedQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, "spark join hash"),
        (1L, "stream window batch"),
        (2L, "dup vector scan"),
        (3L, "customer order value"),
        (4L, "filter sort merge")).toDF("qid", "qtext")
  }

  /** Surface query: BM25 top-10 over the documents table. */
  def bm25Query(s: SparkSession, dir: String): DataFrame =
    bm25TopK(Tables.documents(s, dir), fixedQueries(s), 10)

  def bm25FilteredQuery(s: SparkSession, dir: String): DataFrame =
    bm25TopKFiltered(Tables.documents(s, dir), fixedQueries(s), 10,
      col("lang").isin("en", "de"))

  // -------------------------------------------------------- MMR rerank

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein '98) —
    * diversified top-k: from a relevance shortlist, greedily pick the
    * candidate maximizing λ·rel − (1−λ)·max-similarity-to-selected.
    * The standard answer to near-duplicate-saturated search results
    * (a corpus with dup clusters returns k copies of one document);
    * production vector stores ship exactly this as their "diversity"
    * option.
    *
    * Scale shape: the greedy loop runs over the SHORTLIST, never the
    * corpus — candidates are Q×topn rows (request-sized), pairwise
    * sims Q×topn² (checkpointed once), and each of the k selection
    * rounds is a qid-keyed aggregate over ≤ topn rows per query. The
    * corpus is touched exactly once, by the kNN heap that builds the
    * shortlist.
    *
    * Determinism: rel and sim are 4dp-rounded; λ = 1/2 means argmax
    * of λ·rel − (1−λ)·pen equals argmax of (rel − pen), so no scaled
    * rounding is introduced — both engines subtract identical doubles
    * and tie-break on id. The DuckDB oracle unrolls the same k greedy
    * steps as chained CTEs (recursive terms cannot aggregate).
    */
  def mmrRerank(s: SparkSession, dir: String, k: Int = 5,
                topn: Int = 20): DataFrame = {
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = Knn.topK(corpus, queries, topn, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id").as("id"), col("score").as("rel"))
      .localCheckpoint(true)
    // pairwise sims among each query's candidates: Q×topn² rows,
    // checkpointed so the k rounds read it instead of re-scoring
    val p = c.as("a").join(c.as("b"),
        col("a.qid") === col("b.qid") && col("a.id") =!= col("b.id"))
      .select(col("a.qid").as("qid"), col("a.id").as("id1"),
        col("b.id").as("id2"))
      .join(corpus.select(col("id").as("id1"), col("vec").as("v1")), "id1")
      .join(corpus.select(col("id").as("id2"), col("vec").as("v2")), "id2")
      .select(col("qid"), col("id1"), col("id2"),
        round(graft.functions.VectorDistance.cosine(col("v1"), col("v2")), 4)
          .as("sim"))
      .localCheckpoint(true)
    // step 1: pure relevance argmax (no penalty yet)
    var all = c.groupBy("qid")
      .agg(min_by(struct(col("id"), col("rel")),
        struct(-col("rel"), col("id"))).as("p"))
      .select(col("qid"), col("p.id").as("id"), lit(1L).as("rk"),
        col("p.rel").as("mmr"))
      .localCheckpoint(true)
    for (n <- 2 to k) {
      val selIds = all.select(col("qid"), col("id"))
      val pens = p.join(selIds.withColumnRenamed("id", "id2"),
          Seq("qid", "id2"))
        .groupBy("qid", "id1")
        .agg(max("sim").as("pen"))
        .withColumnRenamed("id1", "id")
      val pick = c.join(selIds, Seq("qid", "id"), "left_anti")
        .join(pens, Seq("qid", "id"))
        .select(col("qid"), col("id"), (col("rel") - col("pen")).as("mmr"))
        .groupBy("qid")
        .agg(min_by(struct(col("id"), col("mmr")),
          struct(-col("mmr"), col("id"))).as("p"))
        .select(col("qid"), col("p.id").as("id"), lit(n.toLong).as("rk"),
          col("p.mmr").as("mmr"))
      // per-round checkpoint keeps the growing selected set a flat
      // (Q×n)-row input instead of an n-deep nested plan
      all = all.unionByName(pick).localCheckpoint(true)
    }
    all.select(col("qid"), col("rk"), col("id").as("doc_id"),
        round(col("mmr"), 4).as("mmr_score"))
      .orderBy("qid", "rk")
  }

  def mmrQuery(s: SparkSession, dir: String): DataFrame =
    mmrRerank(s, dir)

  /** Hybrid search: reciprocal-rank fusion (RRF, rrf_c = 60) of the
    * BM25 top-20 and the cosine-kNN top-20 for the same five queries
    * (text leg = fixedQueries, vector leg = embeddings 0..4 —
    * embeddings and documents share the id space). A doc missing from
    * one leg contributes 0 from it; absent legs surface as rank 0 in
    * the output. rrf = Σ 1/(60+rank) is integer-derived → the fusion
    * is bit-deterministic given each leg's (already deterministic)
    * ranks; the window top-10 runs over ≤40 fused rows per query, so
    * the sort after both heaps is bounded, not corpus-scale.
    */
  def hybridRrfQuery(s: SparkSession, dir: String): DataFrame = {
    // lexical leg from the PERSISTED index (≡ the on-the-fly bm25 by
    // construction, so the oracle is unchanged): a production hybrid
    // search queries the index it maintains, not a per-query
    // re-tokenize of the corpus
    val bm = bm25SearchIndexed(s, indexFor(s, dir), fixedQueries(s), 20)
      .select(col("qid"), col("doc_id"), col("rk").as("brk"))
    val qv = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cos = Knn.topK(corpus, qv, 20, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id").as("doc_id"), col("rk").as("crk"))

    val fused = bm.join(cos, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("brk")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("crk")), lit(0.0)), 6))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("doc_id"), col("rrf").as("rrf_score"),
        coalesce(col("brk"), lit(0)).as("bm25_rk"),
        coalesce(col("crk"), lit(0)).as("cos_rk"))
      .orderBy("qid", "rk")
  }

  /** DBSF HYBRID FUSION (r14 — Qdrant's second fusion method beside
    * RRF: `fusion: dbsf`, distribution-based score fusion): each
    * leg's scores are normalized by their OWN distribution — n_i =
    * (s_i − (μ−3σ)) / 6σ — then summed, so a leg with a wide score
    * spread doesn't drown one with a narrow spread the way raw-sum
    * would, and unlike RRF the MARGIN between hits survives (RRF
    * keeps only ranks). FP discipline (§4c): leg scores are already
    * 4dp-rounded, so they micro-quantize EXACTLY to integers at 10⁴;
    * μ and σ then derive from exact integer moments (n, Σm, Σm² —
    * the events_power_analysis rule) with one sqrt and fixed-order
    * double ops that replay bit-identically on both engines. σ = 0
    * (a leg whose candidates all tie) defines n_i = 0.5 — the
    * distribution carries no information, every member sits at its
    * center. A doc absent from a leg contributes 0 (the RRF
    * convention). Per-leg moments are Q×2 rows; fusion and the
    * window top-10 run over ≤40 rows per query — nothing here is
    * corpus-scale.
    */
  /** Shared hybrid-leg construction: top-20 lexical (persisted bm25
    * index) and top-20 dense (cosine) candidates per query, scores
    * micro-quantized to exact integers at 10⁴ (both legs' scores are
    * already 4dp-rounded, so the quantization is lossless) — the
    * integer basis every fusion method's statistics derive from.
    */
  private def hybridLegs(s: SparkSession, dir: String): DataFrame = {
    val bm = bm25SearchIndexed(s, indexFor(s, dir), fixedQueries(s), 20)
      .select(col("qid"), col("doc_id"),
        expr("CAST(round(score * 10000) AS BIGINT)").as("m"),
        lit("bm").as("leg"))
    val qv = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cos = Knn.topK(corpus, qv, 20, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id").as("doc_id"),
        expr("CAST(round(score * 10000) AS BIGINT)").as("m"),
        lit("cos").as("leg"))
    // CHECKPOINTED (r16): both fusion consumers reference the legs
    // frame more than once (dbsf: moments + normed; weighted: ext →
    // dens → scaled), and every reference re-evaluated the corpus-
    // scale kNN + index-probe subtrees — the weighted plan carried 30
    // scans / 84 exchanges for a ≤ Q×40-row frame. The legs are
    // request-sized, so the checkpoint is bounded and each leg's
    // corpus pass runs exactly once per evaluation.
    bm.unionByName(cos).localCheckpoint(true)
  }

  def hybridDbsfQuery(s: SparkSession, dir: String): DataFrame =
    dbsfFuse(hybridLegs(s, dir))

  /** The DBSF fusion over a prepared legs frame (qid, doc_id, m:
    * BIGINT micro-score, leg) — factored out so the degenerate-leg
    * contract (sigma = 0 -> every member at 0.5) is testable on
    * synthetic legs (RequestShapeFuzzSpec).
    */
  def dbsfFuse(legs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val moments = legs.groupBy("qid", "leg")
      .agg(count(lit(1)).as("n"), sum("m").as("sx"),
        sum(expr("m * m")).as("qx"))
    val mu = col("sx").cast("double") / col("n").cast("double")
    // population σ·n = sqrt(n·Σm² − (Σm)²) — exact integer under the
    // sqrt, then one correctly-rounded sqrt and divide per engine
    val sig = sqrt((col("n") * col("qx") - col("sx") * col("sx"))
      .cast("double")) / col("n").cast("double")
    // moments is Q×2 rows; the checkpointed legs frame carries no
    // stats, so hint the broadcast explicitly (SMJ otherwise)
    val normed = legs.join(broadcast(moments), Seq("qid", "leg"))
      .select(col("qid"), col("doc_id"),
        when(sig === 0.0, lit(0.5))
          .otherwise((col("m").cast("double") - mu + lit(3.0) * sig)
            / (lit(6.0) * sig)).as("nrm"))
    val fused = normed.groupBy("qid", "doc_id")
      .agg(sum("nrm").as("f"))
    val w = Window.partitionBy("qid").orderBy(col("f").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("doc_id"),
        round(col("f"), 4).as("dbsf_score"))
      .orderBy("qid", "rk")
  }

  /** WEIGHTED-RANKER HYBRID FUSION (r14 — Milvus' WeightedRanker,
    * the default alternative to RRF in its hybrid search API): each
    * leg MIN-MAX normalizes over its own candidates — n_i =
    * (s_i − min)/(max − min) — then fuses as a WEIGHTED sum
    * (0.3·lexical + 0.7·dense here, the caller-tunable knob RRF and
    * DBSF lack: the application declares which modality it trusts).
    * Min/max over the quantized integer scores are EXACT, so the
    * normalization is one integer subtraction pair and a single
    * divide per row — bit-identical cross-engine with no moment
    * machinery at all. A single-valued leg (max = min) carries no
    * ordering information: every member sits at 0.5, the DBSF
    * convention. Absent leg contributes 0.
    */
  def hybridWeightedQuery(s: SparkSession, dir: String): DataFrame =
    weightedFuse(hybridLegs(s, dir))

  /** The WeightedRanker fusion over a prepared legs frame — factored
    * out like [[dbsfFuse]] so weight/degenerate-leg contracts are
    * testable on synthetic legs.
    */
  def weightedFuse(legs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // FP discipline (§4c seed-505 class, r14 advice): min-max ratios
    // with power-of-two denominators times the 3/10 / 7/10 weights
    // land on .XXXX5 shortest-decimal boundaries (0.7/16 = 0.04375)
    // where Spark's shortest-decimal HALF_UP and DuckDB's binary
    // round split. So the WHOLE fusion is an exact rational: each
    // leg contribution is num/den with num,den BIGINT —
    //   D > 0:  w·(m−mn)/D  →  (w10·(m−mn), 10·D)
    //   D = 0:  w·0.5       →  (w10, 20)
    // (w10 = 3 lexical, 7 dense). Per qid the two legs' denominators
    // are constants, so the fused score has the per-qid common
    // denominator den_q = den_bm·den_cos; each row scales its num by
    // the OTHER leg's den. Ranking uses the exact integer numerator
    // (den_q is constant within a qid); the 4dp emission is the
    // family's exact integer half-up (2N·10⁴ + D) div 2D. Worst
    // magnitudes: den_q ≤ 10⁷·2·10⁵ = 2·10¹², numerator ≤ ~2·10¹²,
    // 2N·10⁴ ≤ 4·10¹⁶ — inside BIGINT.
    val ext = legs.groupBy("qid", "leg")
      .agg(min("m").as("mn"), max("m").as("mx"))
    val dens = ext.groupBy("qid").agg(
      sum(when(col("leg") === "bm",
        when(col("mx") === col("mn"), lit(20L))
          .otherwise(lit(10L) * (col("mx") - col("mn"))))).as("den_bm"),
      sum(when(col("leg") === "cos",
        when(col("mx") === col("mn"), lit(20L))
          .otherwise(lit(10L) * (col("mx") - col("mn"))))).as("den_cos"))
      .select(col("qid"), coalesce(col("den_bm"), lit(1L)).as("den_bm"),
        coalesce(col("den_cos"), lit(1L)).as("den_cos"))
    val w10 = when(col("leg") === "bm", lit(3L)).otherwise(lit(7L))
    // ext/dens are Q×2 / Q rows; broadcast explicitly for the same
    // no-stats reason as dbsfFuse
    val scaled = legs.join(broadcast(ext), Seq("qid", "leg"))
      .join(broadcast(dens), Seq("qid"))
      .select(col("qid"), col("doc_id"),
        (when(col("mx") === col("mn"), w10)
          .otherwise(w10 * (col("m") - col("mn"))) *
          when(col("leg") === "bm", col("den_cos"))
            .otherwise(col("den_bm"))).as("num"),
        (col("den_bm") * col("den_cos")).as("den_q"))
    val fused = scaled.groupBy("qid", "doc_id")
      .agg(sum("num").as("fnum"), first("den_q").as("den_q"))
    val win = Window.partitionBy("qid")
      .orderBy(col("fnum").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(win))
      .where(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("doc_id"),
        (expr("(fnum * 20000 + den_q) div (den_q * 2)").cast("double")
          / 10000.0).as("weighted_score"))
      .orderBy("qid", "rk")
  }

  /** SPARSE-VECTOR SEARCH — tf-idf dot product over the postings
    * (the sparse-vector modality Qdrant/Pinecone ship beside dense
    * vectors; SPLADE-style learned-sparse retrieval scores exactly
    * this way, with model weights in place of tf-idf): doc weight =
    * tf·idf, query weight = idf (query terms are a SET — the qt
    * convention every lexical path here shares), so a hit
    * contributes tf·idf². No length normalization and no saturation
    * — that absence IS the semantic difference from BM25, and on a
    * corpus with repetitive docs the two orderings visibly diverge.
    * idf is the SAME Lucene-floored expression as the BM25 family,
    * so both lexical paths share one vocabulary statistic. Same
    * plan anatomy: query-term semi-join before the explode
    * aggregate, checkpointed postings, rounded score keys, Q×k heap.
    */
  def sparseDotQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val queries = fixedQueries(s)
    // NULL-text docs are not corpus members (the bm25Impl rule)
    val toks = docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n_docs"))
    val qterms = queries.select(col("qid"),
      explode(split(col("qtext"), " ")).as("term")).distinct()
    val terms = qterms.select("term").distinct()
    val postings = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .join(broadcast(terms), Seq("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true) // idf + scoring
    val idf = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("dfreq"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)
          + 1.0).as("idf"))
    val contrib = postings.join(broadcast(idf), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .select(col("qid"), col("doc_id"),
        (col("tf") * (col("idf") * col("idf"))).as("c"))
    val scored = contrib.groupBy("qid", "doc_id")
      .agg(round(sum("c"), 4).as("score"))
    val agg = TopKAgg.topK(10)
    scored
      .select(col("qid"), (-col("score")).as("key"), col("doc_id").as("id"))
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("doc_id"), (-col("col.key")).as("score"))
      .orderBy("qid", "rk")
  }

  /** ALPHA-WEIGHTED LINEAR HYBRID — the score-fusion alternative to
    * [[hybridRrfQuery]]'s rank fusion (the `alpha` knob Weaviate/
    * Vespa expose: α weights the vector leg, 1−α the lexical leg):
    * each leg's top-20 scores MIN-MAX NORMALIZED per query (a
    * degenerate leg — one distinct score — normalizes to 1.0), then
    * fused = α·norm_cos + (1−α)·norm_bm25 with an absent leg
    * contributing 0. Determinism: both legs' scores are already
    * 4dp-rounded surface values, so the normalization arithmetic is
    * identical doubles on both engines; fusion rounds to 6dp BEFORE
    * ranking (the RRF discipline) with doc_id tiebreak. Cost: two
    * proven bounded legs (≤20 rows/query each) + per-query
    * leg-min/max over those rows — nothing corpus-sized past the
    * legs themselves.
    */
  def hybridLinearQuery(s: SparkSession, dir: String,
                        alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm0 = bm25SearchIndexed(s, indexFor(s, dir), fixedQueries(s), 20)
      .select(col("qid"), col("doc_id"), col("score").as("v"),
        lit("bm").as("leg"))
    val qv = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cos0 = Knn.topK(corpus, qv, 20, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id").as("doc_id"), col("score").as("v"),
        lit("cos").as("leg"))
    // SINGLE-REFERENCE NORMALIZATION (r16): norm() used to reference
    // each leg twice (per-query min/max + the join back), so each
    // corpus-scale leg subtree evaluated twice — the plan carried 20
    // scans / 48 exchanges for a ≤ Q×40-row frame. An eager legs
    // checkpoint was measured SLOWER (1.89 → 2.13 s: the duplicate
    // subtrees ran as parallel stages of one job, and the checkpoint
    // serialized them — the quant_advisor lesson). Instead the
    // min/max ride a (qid, leg) window over ONE union of the legs
    // (≤20 rows per partition) and the old full_outer join becomes a
    // (qid, doc_id) pivot — every leg subtree appears exactly once in
    // one job, nothing eager. Same arithmetic on the same 4dp surface
    // scores, so values are bit-identical; a doc present in one leg
    // only pivots to a NULL other-leg column, exactly the old outer
    // join's shape.
    val wLeg = Window.partitionBy("qid", "leg")
    val normed = bm0.unionByName(cos0)
      .select(col("qid"), col("doc_id"), col("leg"),
        when(max("v").over(wLeg) === min("v").over(wLeg), lit(1.0))
          .otherwise((col("v") - min("v").over(wLeg))
            / (max("v").over(wLeg) - min("v").over(wLeg))).as("nrm"))
    val fused = normed.groupBy("qid", "doc_id")
      .agg(max(when(col("leg") === "bm", col("nrm"))).as("nb"),
        max(when(col("leg") === "cos", col("nrm"))).as("nc"))
      .withColumn("hybrid", round(
        lit(alpha) * coalesce(col("nc"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("nb"), lit(0.0)), 6))
    val w = Window.partitionBy("qid")
      .orderBy(col("hybrid").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("doc_id"),
        col("hybrid").as("hybrid_score"),
        round(coalesce(col("nb"), lit(0.0)), 6).as("bm25_norm"),
        round(coalesce(col("nc"), lit(0.0)), 6).as("cos_norm"))
      .orderBy("qid", "rk")
  }

  /** LEARNING-TO-RANK fusion — the third rerank layer beside RRF
    * (rank-reciprocal) and MMR (diversity): a LINEAR MODEL over
    * shortlist features, which is what production rankers actually
    * deploy between retrieval and any cross-encoder. Features here:
    * both legs' ranks (as top-inverted points, absent leg = 0) and a
    * document-quality prior; weights are INTEGER BASIS POINTS (the
    * quality_classifier discipline — no float weight whose last ulp
    * could flip adjacent docs), so the fused score is an exact BIGINT
    * and the final ordering is bit-deterministic on any engine.
    * Trained weights swap in as literals.
    *
    * Cost shape: both legs are the proven bounded searches (indexed
    * BM25 + heap kNN, ≤20 rows/query each), the quality prior joins
    * doc-keyed, and the fusion window orders ≤40 rows per query —
    * corpus touched exactly twice (once per leg), like the RRF form.
    */
  def ltrQuery(s: SparkSession, dir: String,
               wLex: Long = 300L, wVec: Long = 300L): DataFrame = {
    val bm = bm25SearchIndexed(s, indexFor(s, dir), fixedQueries(s), 20)
      .select(col("qid"), col("doc_id"), col("rk").as("brk"))
    val qv = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cos = Knn.topK(corpus, qv, 20, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id").as("doc_id"), col("rk").as("crk"))
    // quality prior in basis points: the 4dp score ×10⁴ is integral
    // up to one double ulp, so the round-then-cast is exact
    val qual = graft.operators.TextOps.quality(s, dir)
      .select(col("doc_id"),
        round(col("quality_score") * 10000).cast("long").as("q_bp"))
    val fused = bm.join(cos, Seq("qid", "doc_id"), "full_outer")
      .join(qual, Seq("doc_id"), "left")
      .withColumn("score_bp",
        lit(wLex) * (lit(21L) - coalesce(col("brk").cast("long"), lit(21L))) +
          lit(wVec) * (lit(21L) - coalesce(col("crk").cast("long"), lit(21L))) +
          coalesce(col("q_bp"), lit(0L)))
    val w = Window.partitionBy("qid")
      .orderBy(col("score_bp").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("doc_id"), col("score_bp"),
        coalesce(col("brk"), lit(0)).as("bm25_rk"),
        coalesce(col("crk"), lit(0)).as("cos_rk"),
        coalesce(col("q_bp"), lit(0L)).as("quality_bp"))
      .orderBy("qid", "rk")
  }

  // ------------------------------------------------------ phrase search

  /** EXACT PHRASE search — the positional query BM25's bag-of-words
    * scoring cannot answer ("table hash" as consecutive tokens, not
    * two terms anywhere). Classic positional-postings evaluation
    * re-expressed relationally in ONE corpus scan and ONE shuffle,
    * for ANY phrase length: each phrase token (i, tᵢ) joins the
    * positional token table on the token, every match projects its
    * ANCHOR = pos − i (where the phrase would have to start), and a
    * (doc, anchor) holding ALL m distinct offsets is an occurrence —
    * the m-way self-join of the naive formulation collapses into one
    * join + one aggregate keyed by (doc, anchor). Phrase tables are
    * request-sized (broadcast); ranking is the TopKAgg heap.
    */
  def phraseSearch(docs: DataFrame, phrases: Seq[String],
                   topN: Int = 10): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ptoks = phrases.flatMap { p =>
      val ts = p.split(" ")
      ts.zipWithIndex.map { case (t, i) =>
        (p, t, i.toLong, ts.length.toLong)
      }
    }.toDF("phrase", "tok", "i", "m")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
    val occ = toks.join(broadcast(ptoks), "tok")
      .groupBy(col("phrase"), col("m"), col("doc_id"),
        (col("pos") - col("i")).as("anchor"))
      .agg(countDistinct(col("i")).as("hits"))
      .where(col("hits") === col("m"))
      .groupBy("phrase", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
    val agg = TopKAgg.topK(topN)
    occ.groupBy("phrase")
      .agg(agg((-col("n_occ")).cast("double"), col("doc_id")).as("top"))
      .select(col("phrase"), posexplode(col("top.items")))
      .select(col("phrase"), (col("pos") + 1).as("rk"),
        col("col.id").as("doc_id"), (-col("col.key")).cast("long")
          .as("n_occ"))
      .orderBy("phrase", "rk")
  }

  /** Surface query: two bigram phrases and one trigram over the
    * corpus (chosen to occur at every SF). */
  def phraseSearchQuery(s: SparkSession, dir: String): DataFrame =
    phraseSearch(graft.Tables.documents(s, dir).select("doc_id", "text"),
      Seq("table hash", "customer join", "table hash value"))

  /** PROXIMITY (near) phrase search — the sloppy-phrase operator
    * beside [[phraseSearch]]'s exact adjacency: a match is a window
    * of `m + slop` consecutive positions containing ALL m distinct
    * phrase tokens, in any order (the unordered-window semantics
    * proximity operators converge on; slop=0 degrades to unordered
    * adjacency). Same positional machinery as the exact form, plus
    * the offset explode: each token occurrence is charged to the
    * ≤ m+slop windows that could contain it (never a per-doc scan of
    * all windows), the per-window distinct-token count gates the
    * match, and matching window-starts count as n_win. Work is
    * occurrence-bounded: tokens not in any phrase never leave the
    * broadcast join.
    */
  def phraseNearSearch(docs: DataFrame, phrases: Seq[String],
                       slop: Int = 2, topN: Int = 10): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val ptoks = phrases.flatMap { p =>
      val ts = p.split(" ").distinct
      ts.map(t => (p, t, ts.length.toLong))
    }.toDF("phrase", "tok", "m")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
    val win = toks.join(broadcast(ptoks), "tok")
      .select(col("phrase"), col("m"), col("doc_id"), col("tok"),
        explode(sequence(
          greatest(col("pos") - (col("m") + slop) + 1, lit(0L)),
          col("pos"))).as("w"))
    val matches = win.groupBy("phrase", "m", "doc_id", "w")
      .agg(countDistinct("tok").as("hits"))
      .where(col("hits") === col("m"))
      .groupBy("phrase", "doc_id").agg(count(lit(1)).as("n_win"))
    val agg = TopKAgg.topK(topN)
    matches.groupBy("phrase")
      .agg(agg((-col("n_win")).cast("double"), col("doc_id")).as("top"))
      .select(col("phrase"), posexplode(col("top.items")))
      .select(col("phrase"), (col("pos") + 1).as("rk"),
        col("col.id").as("doc_id"),
        (-col("col.key")).cast("long").as("n_win"))
      .orderBy("phrase", "rk")
  }

  def phraseNearQuery(s: SparkSession, dir: String): DataFrame =
    phraseNearSearch(graft.Tables.documents(s, dir)
      .select("doc_id", "text"),
      Seq("table hash", "customer join", "table hash value"))

  /** KWIC SNIPPETS — the "why did this hit" context every search
    * result page renders: for each BM25 top-`k` hit, the ±`ctx`-token
    * window around the FIRST occurrence of any query term in the doc
    * (min position — deterministic; first-match is the convention
    * when no per-term weights order the candidates). Rides the one
    * shared [[bm25TopK]] plan, then only HIT docs re-tokenize with
    * positions (semi-join ahead of the posexplode — Q×k docs, never
    * the corpus), and the snippet is a slice of the split array.
    */
  def snippetQuery(s: SparkSession, dir: String, k: Int = 5,
                   ctx: Int = 3): DataFrame = {
    val docs = Tables.documents(s, dir)
    val q = fixedQueries(s)
    val top = bm25TopK(docs, q, k).select("qid", "rk", "doc_id")
      .localCheckpoint(true)
    val qt = q.select(col("qid"),
      explode(split(col("qtext"), " ")).as("tok")).distinct()
    val toks = docs
      .join(broadcast(top.select("doc_id").distinct()), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
    val anchor = top.join(broadcast(qt), "qid")
      .join(toks, Seq("doc_id", "tok"))
      .groupBy("qid", "rk", "doc_id").agg(min("pos").as("p"))
    val start = greatest(col("p") + 1 - ctx, lit(1L))
    anchor
      .join(docs.select(col("doc_id"), split(col("text"), " ").as("ws")),
        "doc_id")
      .select(col("qid"), col("rk"), col("doc_id"),
        concat_ws(" ", slice(col("ws"), start.cast("int"),
          (col("p") + 1 + ctx - start + 1).cast("int"))).as("snippet"))
      .orderBy("qid", "rk")
  }

  /** PSEUDO-RELEVANCE FEEDBACK (Rocchio-style query expansion, the
    * classic second-pass IR operator): run BM25, harvest the top-
    * `fbK` docs per query as assumed-relevant feedback, score every
    * feedback term NOT already in the query by tf·idf (occurrences
    * across the feedback docs × ln(N/df), exact-integer inputs so
    * both engines rank identical doubles, tiebreak term asc), append
    * the best `expandN` terms (sorted, so the expanded query string
    * is deterministic), and rerun BM25 with the expanded queries.
    *
    * Cost shape: the feedback set is Q×fbK rows, its term harvest is
    * bounded by feedback-doc length, and the df lookup joins the
    * corpus token table against a BROADCAST candidate-term set — the
    * second full-corpus pass is the rerun search itself, nothing
    * else touches the corpus. Both passes are the one shared
    * [[bm25TopK]] plan, so expansion can never drift from search.
    */
  def prfQuery(s: SparkSession, dir: String, fbK: Int = 5,
               expandN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val q0 = fixedQueries(s)
    val top = bm25TopK(docs, q0, fbK).select("qid", "doc_id")
    val fb = top.join(docs.select("doc_id", "text"), "doc_id")
      .select(col("qid"), explode(split(col("text"), " ")).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).as("tf"))
    val qt = q0.select(col("qid"),
      explode(split(col("qtext"), " ")).as("term")).distinct()
    // CHECKPOINTED (r16): cand is referenced twice (the dfreq
    // broadcast term set and the expansion join), and each reference
    // re-evaluated the ENTIRE first bm25 pass feeding it — the prf
    // plan carried 90 exchanges for what is a Q×(feedback-vocab)-row
    // frame. Feedback docs are fbK·Q, so cand is request-sized.
    val cand = fb.join(qt, Seq("qid", "term"), "left_anti")
      .localCheckpoint(true)
    val nd = docs.agg(count(lit(1)).cast("double").as("nd"))
    val dfreq = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .join(broadcast(cand.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("dfreq"))
    val byQ = Window.partitionBy("qid")
      .orderBy(col("w").desc, col("term").asc)
    val exp = cand.join(dfreq, "term").crossJoin(broadcast(nd))
      .withColumn("w", col("tf") * log(col("nd") / col("dfreq")))
      .withColumn("xrk", row_number().over(byQ))
      .where(col("xrk") <= expandN)
    val ext = exp.groupBy("qid")
      .agg(concat_ws(" ", array_sort(collect_list(col("term")))).as("ext"))
    // CHECKPOINTED (r16): q2 is Q rows, but its lineage holds pass 1
    // plus the dfreq corpus scan, and bm25Impl references its queries
    // frame twice (the postings term broadcast and the score join) —
    // uncheckpointed, the second pass re-ran the whole expansion per
    // reference.
    val q2 = q0.join(ext, Seq("qid"), "left")
      .select(col("qid"),
        when(col("ext").isNotNull,
          concat_ws(" ", col("qtext"), col("ext")))
          .otherwise(col("qtext")).as("qtext"))
      .localCheckpoint(true)
    bm25TopK(docs, q2, 10)
  }

  // ------------------------------------------------- spell correction

  /** The fixed query batch WITH TYPOS — each misspelled term is
    * edit-distance 1 from a corpus term and absent from the corpus
    * vocabulary, so correction is observable in the search results.
    */
  def typoQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, "spark joim hash"),
        (1L, "strean window batch"),
        (2L, "dup vectar scan"),
        (3L, "customer ordr value"),
        (4L, "filtes sort merge")).toDF("qid", "qtext")
  }

  /** SymSpell 1-deletion blocking keys for a term column: the term
    * itself plus every 1-character deletion. Any edit-distance-1
    * pair provably shares a key (the part_fuzzy_terms argument:
    * substitution pairs share the deletion at the differing
    * position, insert/delete pairs share the shorter string's form).
    */
  private def delKeys(c: Column): Column = {
    val t = c.toString()
    expr(s"array_union(array($t), transform(sequence(1, length($t)), " +
      s"i -> concat(substring($t, 1, i - 1), " +
      s"substring($t, i + 1, length($t)))))")
  }

  /** The spell-correction dictionary AT REST — the deletion-key
    * table persisted parquet-partitioned by md5 key-bucket (the
    * text_bm25_indexed layout applied to SymSpell): one row per
    * (bucket, deletion-key, term, df), where a term keys by itself
    * plus every 1-deletion. A query's terms generate their own keys
    * driver-side (request-sized), collect to literals, and the probe
    * is bucket PartitionFilters + key PushedFilters — ZERO
    * vocabulary work at query time, which is the difference between
    * correcting against a 10⁸-term web vocabulary per query and
    * reading a few kilobytes. Membership falls out of the same
    * probe: the key equal to the term itself with t = term is the
    * exact hit.
    */
  val SpellBuckets = 64

  private def spellBucket(c: Column): Column =
    expr(s"CAST(conv(substring(md5(cast(${c.toString()} AS binary)), " +
      s"1, 4), 16, 10) AS BIGINT) % $SpellBuckets")

  /** DOC-GRANULAR rows (bk, dk, t, doc_id): every doc of a term
    * appears under EACH of the term's keys, so any one key's rows
    * carry the term's complete document frequency — and maintenance
    * gets row-replacement idempotence (the postings-index property
    * an aggregated df column cannot have: re-adding a batch would
    * double-count it).
    */
  private def spellRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .select(col("doc_id"), col("t"),
        explode(delKeys(col("t"))).as("dk"))
      .withColumn("bk", spellBucket(col("dk")))

  def spellIndexBuild(s: SparkSession, dir: String, path: String): Unit =
    spellIndexBuildFrom(Tables.documents(s, dir), path)

  def spellIndexBuildFrom(docs: DataFrame, path: String): Unit =
    spellRows(docs)
      .write.mode("overwrite").partitionBy("bk").parquet(path)

  /** CORPUS-GROWTH MAINTENANCE — the 7th maintained structure joins
    * the family (IVF cells, kNN graph, HNSW layers, postings,
    * signature index, z-order layout): a NEW document batch's
    * (dk, t, doc_id) rows land in only the buckets its keys hash
    * into ([[TablePublish.rewrite]] of survivors ∪ batch);
    * re-inserting the same batch replaces its own rows — redelivery
    * is a no-op — and insert-grown ≡ a rebuild on the union corpus
    * because the rows ARE per-document facts, not aggregates.
    */
  def spellIndexInsert(s: SparkSession, path: String,
                       newDocs: DataFrame): Unit = {
    val batch = spellRows(newDocs).localCheckpoint(true)
    val touched = graft.Cut.request(batch.select("bk").distinct(), SpellBuckets,
      "Search.SpellBuckets", "touched bucket set").map(_.getLong(0))
    if (touched.isEmpty) return
    TablePublish.rewrite(s, path, "bk", touched.toSeq, Some(batch))(
      _.join(broadcast(batch.select("doc_id").distinct()), Seq("doc_id"), "left_anti"))
  }

  private def spellIdxPath(s: SparkSession, dir: String): String = {
    // v2: doc-granular layout (the version tag keeps a dir built by
    // the aggregated-df scheme from being reused stale)
    val path = graft.IndexCache.dirFor(dir, "spellidx2").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS")))
      spellIndexBuild(s, dir, path)
    path
  }

  /** The pruned index probe for a key set — bucket PartitionFilters
    * + key PushedFilters. Split out (and un-checkpointed) so the
    * pruning pin in SearchSpec can read ITS plan: the consuming
    * checkpoints in [[spellCorrectIndexed]] sever it from the final
    * query's executed plan.
    */
  private[graft] def spellProbeFrame(s: SparkSession, dir: String,
                                     keys: Array[String]): DataFrame = {
    val buckets = keys.map(dk =>
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(
          dk.getBytes("UTF-8")).substring(0, 4), 16) % SpellBuckets)
      .distinct
    s.read.parquet(spellIdxPath(s, dir))
      .where(col("bk").isin(buckets.toIndexedSeq: _*) &&
        col("dk").isin(keys.toIndexedSeq: _*))
  }

  /** The query batch's deletion keys — driver-side, request-sized. */
  private[graft] def spellQueryKeys(s: SparkSession): Array[String] = {
    import s.implicits._
    typoQueries(s)
      .select(explode(split(col("qtext"), " ")).as("term"))
      .select(explode(delKeys(col("term"))).as("dk"))
      .distinct().as[String].collect()
  }

  /** Spell-corrected search through the PERSISTED dictionary:
    * identical semantics to [[spellCorrectQuery]] (equality pinned
    * in SearchSpec), but the vocabulary is never scanned — the probe
    * reads only the buckets the query's own deletion keys hash into.
    */
  def spellCorrectIndexed(s: SparkSession, dir: String,
                          k: Int = 10): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val qpos = typoQueries(s)
      .select(col("qid"), posexplode(split(col("qtext"), " ")))
      .toDF("qid", "pos", "term")
    // query-side deletion keys: request-sized, collected to drive
    // the pruning literals (the ivfSearchIndexed probe-cell pattern)
    val qKeyed = qpos.select(col("qid"), col("pos"), col("term"),
        explode(delKeys(col("term"))).as("dk"))
      .localCheckpoint(true)
    val keys = qKeyed.select("dk").distinct().as[String].collect()
    val idx = spellProbeFrame(s, dir, keys)
    // df recovered from the doc-granular rows: every doc of t sits
    // under each of t's keys, so the probed rows carry the complete
    // count per (term, t) — countDistinct dedupes the multi-key hits
    val hits = qKeyed.join(idx, "dk")
      .groupBy("qid", "pos", "term", "t")
      .agg(countDistinct(col("doc_id")).as("dfreq"))
      .localCheckpoint(true)
    val exact = hits.where(col("t") === col("term"))
      .select(col("qid"), col("pos"), col("term").as("corr")).distinct()
    val fuzz = hits
      .join(exact.select(col("qid"), col("pos")).distinct(),
        Seq("qid", "pos"), "left_anti")
      .where(levenshtein(col("term"), col("t")) === 1)
      .groupBy("qid", "pos", "term")
      .agg(min_by(col("t"), struct(-col("dfreq"), col("t"))).as("corr"))
      .select(col("qid"), col("pos"), col("corr"))
    val resolved = exact.unionByName(fuzz)
    val fixed = qpos.join(resolved, Seq("qid", "pos"), "left")
      .select(col("qid"), col("pos"),
        coalesce(col("corr"), col("term")).as("corr"))
    // CHECKPOINTED (r16): bm25Impl references its queries frame twice
    // (term broadcast + score join); corrected is Q rows but its
    // lineage holds the probe/resolve chain — a dozen small stages
    // re-run per reference without the cut
    val corrected = fixed.groupBy("qid")
      .agg(concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(pos, corr))), " +
          "x -> x.corr)")).as("qtext"))
      .localCheckpoint(true)
    bm25TopK(docs, corrected, k)
  }

  /** SPELL-CORRECTED SEARCH — the "did you mean" layer every search
    * deployment puts in front of lexical retrieval: query terms
    * absent from the corpus VOCABULARY are replaced by their
    * edit-distance-1 vocabulary neighbor with the highest document
    * frequency (ties → lexicographically smallest — fully
    * deterministic), then the corrected queries run the one shared
    * [[bm25TopK]] plan, so correction and search can never drift.
    *
    * Scale shape: the vocabulary (term, df) table is
    * vocabulary-sized, built from one exploded pass and checkpointed
    * for its two consumers (membership test + fuzzy match). Fuzzy
    * candidates come from the SymSpell DELETION-BLOCK equi-join
    * (part_fuzzy_terms): per-term fan-out = term length, never vocab
    * size — the all-pairs levenshtein the naive form needs (and the
    * DuckDB mirror, query-side-tiny, happily runs) appears nowhere.
    * Misses with no ED-1 neighbor keep their original term (they
    * then simply match nothing, like any OOV term).
    */
  def spellCorrectQuery(s: SparkSession, dir: String,
                        k: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    val qpos = typoQueries(s)
      .select(col("qid"), posexplode(split(col("qtext"), " ")))
      .toDF("qid", "pos", "term")
    val vocab = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("dfreq"))
      .localCheckpoint(true)
    val inVocab = vocab.select(col("t").as("term"))
    val exact = qpos.join(inVocab, Seq("term"), "left_semi")
      .select(col("qid"), col("pos"), col("term").as("corr"))
    val misses = qpos.join(inVocab, Seq("term"), "left_anti")
    val missKeyed = misses.select(col("qid"), col("pos"), col("term"),
      explode(delKeys(col("term"))).as("dk"))
    val vocabKeyed = vocab.select(col("t"), col("dfreq"),
      explode(delKeys(col("t"))).as("dk"))
    val best = missKeyed.join(vocabKeyed, "dk")
      .select(col("qid"), col("pos"), col("term"), col("t"), col("dfreq"))
      .distinct()
      .where(levenshtein(col("term"), col("t")) === 1)
      .groupBy("qid", "pos", "term")
      .agg(min_by(col("t"), struct(-col("dfreq"), col("t"))).as("corr"))
    val fixed = misses.join(best, Seq("qid", "pos", "term"), "left")
      .select(col("qid"), col("pos"),
        coalesce(col("corr"), col("term")).as("corr"))
    // CHECKPOINTED (r16): same cut as spellCorrectIndexed — the
    // correction chain (vocab joins + levenshtein) must run once, not
    // once per bm25Impl reference of its queries frame
    val corrected = exact.unionByName(fixed)
      .groupBy("qid")
      .agg(concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(pos, corr))), " +
          "x -> x.corr)")).as("qtext"))
      .localCheckpoint(true)
    bm25TopK(docs, corrected, k)
  }

  /** FACETED SEARCH — the result-page sidebar every search UI draws:
    * per query, the lang and source distributions of the BM25 top-10
    * (two stacked facet dimensions). The facet counts come from the
    * RESULT SET, not the corpus (Q×k rows joined back to the
    * documents' facet columns on the doc_id key) — at 100 TB the
    * facet aggregation costs Q×k, the search itself is the work.
    * Composes the one shared [[bm25TopK]] plan, so facets can never
    * disagree with the ranking they annotate.
    */
  def searchFacets(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    // CHECKPOINTED (r16): the two facet projections each re-evaluated
    // the whole bm25 ranking; f is Q×k rows
    val f = bm25TopK(docs, fixedQueries(s), k)
      .join(docs.select(col("doc_id"), col("lang"), col("source")),
        "doc_id")
      .localCheckpoint(true)
    val u = f.select(col("qid"), lit("lang").as("facet"),
        col("lang").as("value"))
      .unionByName(f.select(col("qid"), lit("source").as("facet"),
        col("source").as("value")))
    u.groupBy("qid", "facet", "value")
      .agg(count(lit(1)).as("n"))
      .orderBy("qid", "facet", "value")
  }

  /** QUERY AUTOCOMPLETE — the type-ahead layer beside the spell
    * layer: for every 2-char prefix in the corpus vocabulary, the
    * top-3 completions by document frequency (df desc, term asc —
    * the popularity ordering a suggest box shows). Vocabulary from
    * the same distinct-per-doc whitespace tokenization as the BM25 /
    * spell stack (terms ≥ 3 chars — 1-2 char terms ARE their own
    * prefix); the rank window runs over the vocabulary keyed by
    * prefix, corpus-size-independent after the one exploded df
    * aggregation. A production suggest index is this table persisted
    * bucket-partitioned by prefix — the spell dictionary's layout.
    */
  def querySuggest(s: SparkSession, dir: String, minDf: Long = 5L,
                   k: Int = 3): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .where(length(col("term")) >= 3)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("prefix").orderBy(col("df").desc, col("term"))
    vocab
      .select(substring(col("term"), 1, 2).as("prefix"), col("term"),
        col("df"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("prefix", "rk", "term", "df")
      .orderBy("prefix", "rk")
  }

  /** WILDCARD / PREFIX SEARCH (`sc*`) — the tolerant-retrieval leg
    * beside spell correction and suggestion (Manning IR ch. 3: a
    * prefix query expands against the term dictionary, then the
    * union of matching postings is ranked): docs scored by the total
    * tf of every term matching the prefix, top-k per query.
    *
    * Scale shape: the dictionary probe is an EQUI-join on the
    * 2-char prefix bucket (the spell dictionary's persisted layout —
    * at 100 TB the bucket key prunes the term dictionary scan), with
    * the residual `startswith` for prefixes longer than the bucket
    * evaluated only inside the matched bucket. The postings side
    * shuffles on (doc, term) once — the same aggregate every lexical
    * query here shares — and the rank window runs per query over the
    * matched docs only.
    */
  /** The shared prefix-query fixture: (qid, prefix, bucket = its
    * 2-char dictionary partition key).
    */
  private def prefixQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, "sc"), (1L, "st"), (2L, "co"), (3L, "fas"), (4L, "sor"))
      .toDF("qid", "prefix")
      .select(col("qid"), col("prefix"),
        substring(col("prefix"), 1, 2).as("bucket"))
  }

  /** Persist the PREFIX-partitioned term dictionary — the 10th
    * at-rest structure: DOC-GRANULAR (doc_id, term) rows parquet
    * PARTITIONED BY the term's 2-char prefix itself (not a hash — a
    * prefix query must PRUNE BY VALUE, which hash buckets cannot),
    * the on-disk form of the tolerant-retrieval dictionary every
    * wildcard/suggest query probes. Doc granularity (the spell
    * dictionary's v2 move) is what makes maintenance idempotent: an
    * insert replaces a doc's rows by anti-join, so a redelivered
    * batch is absorbed instead of double-counted — an aggregated
    * (term, df) layout cannot offer that.
    */
  def prefixDictBuild(s: SparkSession, docs: DataFrame, path: String): Unit =
    docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .withColumn("pfx", substring(col("term"), 1, 2))
      .write.mode("overwrite").partitionBy("pfx").parquet(path)

  /** Corpus-growth insert — touched-pfx-partition replacement
    * ([[TablePublish.rewrite]], the postings/spell discipline):
    * survivors = old rows of touched partitions minus the batch's doc
    * ids, union the batch, overwriting ONLY those directories.
    * Idempotent under redelivery by construction. The touched prefix
    * set is a raw collect: 2-character prefixes have no structural
    * bound (any character pair can start a term), so it is bounded
    * only by the batch's vocabulary.
    */
  def prefixDictInsert(s: SparkSession, path: String,
                       newDocs: DataFrame): Unit = {
    val batch = newDocs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .withColumn("pfx", substring(col("term"), 1, 2))
      .localCheckpoint(true)
    val touched = batch.select("pfx").distinct()
      .collect().map(_.getString(0))
    if (touched.isEmpty) return
    TablePublish.rewrite(s, path, "pfx", touched.toSeq, Some(batch))(
      _.join(broadcast(batch.select("doc_id").distinct()), Seq("doc_id"), "left_anti"))
  }

  private[graft] def prefixDictFor(s: SparkSession, dir: String): String = {
    // v2: doc-granular layout (version tag keeps a dir built by the
    // aggregated (term, df) scheme from being reused stale)
    val path = graft.IndexCache.dirFor(dir, "pfxdict2").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS")))
      prefixDictBuild(s, Tables.documents(s, dir), path)
    path
  }

  /** Persisted-index twin of [[prefixSearch]] (same queries/k, same
    * oracle; SearchSpec pins equality + both prunings): the prefix
    * expands against the PREFIX-PARTITIONED dictionary — the pfx
    * partition filter prunes the dictionary scan to the queries'
    * 2-char directories — and the matched terms (query-scoped
    * vocabulary, the spell path's driver-bound discipline) prune the
    * shared BM25 postings index by hash bucket + term pushdown. At
    * 100 TB both probes read only query-proportional bytes; the
    * corpus is never re-tokenized.
    */
  /** The dictionary probe BEFORE its checkpoint — exposed so the
    * spec can pin the pfx partition pruning on its plan (the
    * checkpoint in [[prefixSearchIndexed]] severs it from the final
    * plan; the spellProbeFrame precedent).
    */
  private[graft] def prefixDictProbe(s: SparkSession,
                                     dir: String): DataFrame = {
    val q = prefixQueries(s)
    val pfxList = q.select("bucket").collect().map(_.getString(0))
      .distinct.sorted
    s.read.parquet(prefixDictFor(s, dir))
      .where(col("pfx").isin(pfxList.toIndexedSeq: _*))
      .join(broadcast(q),
        col("pfx") === col("bucket") && expr("startswith(term, prefix)"))
      .select("qid", "prefix", "term")
      .distinct()
  }

  def prefixSearchIndexed(s: SparkSession, dir: String,
                          k: Int = 10): DataFrame = {
    val matched = prefixDictProbe(s, dir).localCheckpoint(true)
    val termList = matched.select("term").distinct()
      .collect().map(_.getString(0)).sorted
    val bucketList = termList
      .map(t => math.floorMod(graft.functions.HashUtils
        .md5Prefix60(t.getBytes("UTF-8")), Buckets).toInt)
      .distinct.sorted
    val post = s.read.parquet(indexFor(s, dir))
      .where(col("bucket").isin(bucketList.toIndexedSeq: _*) &&
        col("term").isin(termList.toIndexedSeq: _*))
      .select(col("term"), col("doc_id"), col("tf").cast("long").as("tf"))
    val perDoc = post.join(broadcast(matched), "term")
      .groupBy("qid", "prefix", "doc_id")
      .agg(sum("tf").as("score"), count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    perDoc.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("prefix"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("score"), col("n_terms"))
      .orderBy("qid", "rk")
  }

  /** BOOLEAN RETRIEVAL — the conjunctive AND + NOT query model that
    * predates ranking (Manning IR ch. 1) and still backs every
    * filtered-search API: a doc matches iff it contains EVERY must
    * term and NO excluded term. Pure postings algebra: one equi-join
    * of the distinct-per-doc postings against the broadcast must
    * list, a (qid, doc) count compared to the query's term count
    * (conjunction = counting), one anti-join for the NOT leg. No
    * scores, no windows; at 100 TB both legs are term-keyed equi-
    * joins whose probe side is query-sized.
    */
  def booleanSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val must = Seq((0L, "spark"), (0L, "join"), (1L, "vector"),
        (1L, "scan"), (2L, "customer"), (2L, "order"))
      .toDF("qid", "term")
    val not = Seq((0L, "slow"), (1L, "dup"), (2L, "big"))
      .toDF("qid", "term")
    val nMust = must.groupBy("qid").agg(count(lit(1)).as("n_must"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    val conj = toks.join(broadcast(must), "term")
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_hit"))
      .join(broadcast(nMust), "qid")
      .where(col("n_hit") === col("n_must"))
    val excluded = toks.join(broadcast(not), "term")
      .select("qid", "doc_id")
    conj.join(excluded, Seq("qid", "doc_id"), "left_anti")
      .select(col("qid"), col("doc_id"))
      .orderBy("qid", "doc_id")
  }

  def prefixSearch(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val prefixes = prefixQueries(s)
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val matched = tf
      .join(broadcast(prefixes),
        substring(col("term"), 1, 2) === col("bucket") &&
          expr("startswith(term, prefix)"))
    val perDoc = matched.groupBy("qid", "prefix", "doc_id")
      .agg(sum("tf").as("score"), count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    perDoc.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("prefix"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("score"), col("n_terms"))
      .orderBy("qid", "rk")
  }
}
