package graft.operators

import graft.Tables
import graft.functions.VectorDistance
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for LLM training-data pipelines.
  *
  * Not part of the reference's own surface (it is a vector DB —
  * reference vector_database.cc), but the canonical bulk workload the
  * same engine must carry at 100 TB: exact dedup, MinHash/LSH and
  * SimHash near-dup candidate generation, blocked pairwise verify.
  *
  * Scale invariants baked into every operator here:
  *  - candidate generation is ALWAYS an equi-join on a derived key
  *    (band key, min-shingle block) — never an unblocked O(n²)
  *    crossJoin;
  *  - all hashes are md5-of-string (bit-identical in Spark and
  *    DuckDB, so every step is oracle-verifiable);
  *  - shingling/minhashing stay inside codegen'd higher-order array
  *    functions — one narrow projection per doc, no explode of the
  *    corpus until after blocking.
  */
object Dedup {

  /** Corpus with planted exact duplicates (doc_id%10==0 re-inserted
    * under a shifted id) — the observable exact-dedup workload; the
    * raw table has no exact dups (driver plants only NEAR dups).
    */
  def corpusWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(
      d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
  }

  /** Exact dedup: md5-hash groupBy canonicalization. Map-side partial
    * aggregation; only one (hash → canonical) row per group shuffles.
    */
  def exact(corpus: DataFrame): DataFrame =
    corpus
      .groupBy(md5(col("text")).as("fp"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical_id"))
      .where(col("n_copies") > 1)
      .orderBy("canonical_id")

  /** Distinct word-3-gram shingle set as an array column (0-based
    * subscripts; docs with <3 words shingle to the whole text).
    * Convenient for per-doc array ops, but the lambda pipeline is
    * interpreted — hot paths use [[shingleRows]] instead.
    */
  def withShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("shingles", array_distinct(expr(
        """CASE WHEN size(ws) >= 3
          |  THEN transform(sequence(0, size(ws)-3),
          |                 i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
          |  ELSE array(text) END""".stripMargin)))
      .drop("ws")

  /** The same distinct shingle sets in EXPLODED form — (doc_id, s)
    * rows — built from posexplode + window `lead`, which stays
    * entirely inside whole-stage codegen (a `transform` lambda is
    * evaluated interpreted, ~10x slower per shingle and re-evaluated
    * wherever CollapseProject inlines it). One shuffle keyed by
    * doc_id; everything downstream (minhash aggregation,
    * intersection joins) is already exploded, so this is the natural
    * 100 TB representation.
    */
  def shingleRows(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE branch, one scan: a union of a grams branch (n ≥ 3) and a
    // short-doc branch (s = whole text) would evaluate the input
    // lineage twice — and this helper sits under every shingle
    // consumer in the repo, so that doubling multiplied through
    // minhash, ngram, decontam and the capstones. Instead the
    // short-doc row rides the same posexplode: at pos 0 of an n < 3
    // doc the shingle is the full text, every other short-doc pos is
    // filtered. concat_ws skips the null leads at partition tails, so
    // the gram expression is total; the window is the only exchange
    // and it hashes doc_id — the loaders' spread key.
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs.select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("n"))
      .select(col("doc_id"), col("text"), col("n"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("n"), col("pos"),
        when(col("n") < 3, col("text"))
          .otherwise(concat_ws(" ", col("word"),
            lead("word", 1).over(w), lead("word", 2).over(w))).as("s"))
      .where(col("pos") <= col("n") - 3 ||
        (col("n") < 3 && col("pos") === 0))
      .select("doc_id", "s")
      .distinct()
  }

  val NumHashes = 12
  val NumBands = 4 // 4 bands x 3 rows

  /** Per-doc LSH band keys, long format (doc_id, band, band_key).
    *
    * minhash_j = min over the shingle set of md5(j || '|' || shingle)
    * — 12 independent permutation surrogates; band key b =
    * md5(minhash_3b .. minhash_3b+2). Docs agreeing on any band key
    * are near-dup candidates (r=3 rows: P[match] = j³ per band).
    *
    * Computed as 12 min() AGGREGATES of a codegen'd scalar md5 over
    * the exploded (doc_id, shingle) table — md5 inside a
    * higher-order-function lambda is evaluated interpreted, which
    * costs ~10x per hash and gets re-evaluated by CollapseProject /
    * pushed-down isnotnull join filters; the aggregate form is also
    * map-side partial, so the shuffle carries one signature per doc.
    */
  def minhashBands(docs: DataFrame): DataFrame =
    minhashBandsFromRows(shingleRows(docs))

  /** A 60-bit integer minhash term: the leading 15 hex digits of
    * md5(seed|shingle) as a BIGINT. Numeric min ≡ lexicographic min
    * of the hex prefix, but a LONG lives in a mutable HashAggregate
    * buffer where a string min forces SortAggregate (sort per
    * partition per pass) — and the signature shuffle carries 8 bytes
    * per hash instead of a 32-char string. Computed by the native
    * [[graft.functions.Md5Prefix60]] kernel (no hex/substring/decimal
    * string garbage per hash).
    */
  private def mh60(seed: String): Column =
    graft.functions.Md5Prefix60(concat(lit(seed), col("s")))

  /** Banding from an (already exploded, distinct) shingle table.
    * Carries the shingle cardinality `c` alongside each band row —
    * it falls out of the same groupBy, and downstream jaccard
    * verification then needs no separate cardinality pass over the
    * shingle pipeline.
    */
  def minhashBandsFromRows(ex: DataFrame): DataFrame = {
    val mhs = (0 until NumHashes).map(j => min(mh60(s"$j|")).as(s"mh$j"))
    val sig = ex.groupBy("doc_id")
      .agg(count(lit(1)).as("c"), mhs: _*)
    val bandCols = (0 until NumBands).map(b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws("|",
          col(s"mh${3 * b}").cast("string"),
          col(s"mh${3 * b + 1}").cast("string"),
          col(s"mh${3 * b + 2}").cast("string"))).as("band_key")))
    sig.select(col("doc_id"), col("c"),
      explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("c"), col("bd.band").as("band"),
        col("bd.band_key").as("band_key"))
  }

  /** Signature query surface: the band table, deterministic order. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashBands(Tables.documents(s, dir).select("doc_id", "text"))
      .select("doc_id", "band", "band_key")
      .orderBy("doc_id", "band")

  /** LSH candidate pairs → exact-jaccard verify ≥ minJaccard.
    *
    * The band-key equi-join is the 100 TB-critical step: candidates
    * co-locate by (band, band_key) so the shuffle carries only bucket
    * members, and the pairwise verify runs inside buckets (planted
    * near-dups have j≥0.9 → P[caught] > 99.9% with 4 bands of 3).
    * Verify uses exploded intersection counts restricted to the
    * candidate pairs (see [[verifyJaccard]]).
    */
  def minhashPairs(s: SparkSession, dir: String,
                   minJaccard: Double = 0.5): DataFrame =
    minhashPairsUnsorted(s, dir, minJaccard).orderBy("id1", "id2")

  /** Pairs without the surface sort — for composition (the cleaning
    * pipeline consumes the pair set through a distinct + anti-join,
    * which would execute-then-destroy an orderBy here).
    */
  def minhashPairsUnsorted(s: SparkSession, dir: String,
                           minJaccard: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val cand = bucketPairs(minhashBands(docs), "band", "band_key")
    verifyOnCandidates(docs, cand, minJaccard)
  }

  /** The VERIFIED PAIR SET as a shared session byproduct (r16 — the
    * memo [[graft.ByproductCache]]'s contract names; Triplets carried
    * a private copy since r12, the cluster fixpoint consumes the same
    * set, and five report operators re-MINED it per call). Memoized
    * per (applicationId, dir, minJaccard): pair mining is
    * deterministic and its output collision-sized, so the checkpoint
    * is bounded and every downstream consumer (source overlap,
    * text-vs-embed agreement, edit-distance re-scoring, the jaccard
    * histogram, the dataset card, the cluster fixpoint, triplets)
    * pays the band-join + verify once per session. The
    * `dedup_minhash_pairs` surface query deliberately stays on the
    * UNCACHED [[minhashPairs]] path: it is one of the bench's three
    * frozen drift anchors and must re-mine on every rep.
    */
  private[graft] def minhashPairsCached(s: SparkSession, dir: String,
                                        minJaccard: Double): DataFrame =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"minhashpairs|$dir|$minJaccard") {
      minhashPairsUnsorted(s, dir, minJaccard).localCheckpoint(true)
    }

  /** EDIT-DISTANCE RE-SCORING of the verified pair set (r14 — the
    * character-level second opinion a production dedup keeps beside
    * the shingle jaccard: two docs can share every 3-gram shingle
    * yet differ by scattered single-character edits, and vice
    * versa): for each VERIFIED minhash pair, the exact Levenshtein
    * distance of the two texts and its length-normalized similarity
    * 1 − lev/max(len). The O(len²) DP runs ONLY on verified pairs —
    * the LSH blocking (never all-pairs) is what makes character-
    * level verify affordable at 100 TB; the similarity's 4dp
    * rounding is the exact integer half-up floor((2N·10⁴ + D)/2D)
    * with N = maxlen − lev, D = maxlen (the §4c class-5 discipline —
    * a ratio of exact integers never rounds through a double).
    */
  def editDistancePairs(s: SparkSession, dir: String,
                        minJaccard: Double = 0.5): DataFrame = {
    val pairs = minhashPairsCached(s, dir, minJaccard)
      .select("id1", "id2", "jaccard")
    val t = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    pairs
      .join(t.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
      .join(t.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
      .select(col("id1"), col("id2"), col("jaccard"),
        levenshtein(col("t1"), col("t2")).cast("long").as("lev"),
        greatest(length(col("t1")), length(col("t2"))).cast("long")
          .as("ml"))
      .where(col("ml") > 0)
      .select(col("id1"), col("id2"), col("jaccard"), col("lev"),
        (expr("((ml - lev) * 20000 + ml) div (ml * 2)").cast("double")
          / 10000.0).as("edit_sim"))
      .orderBy("id1", "id2")
  }

  /** Exact-jaccard verification that tokenizes the corpus ONCE. The
    * naive composition references the exploded shingle table three
    * times (banding + both self-join sides of [[verifyJaccard]]), and
    * each reference re-runs the full posexplode+window pipeline — the
    * shingle table itself is data-sized, so persisting it is not the
    * answer at 100 TB (the BM25 lesson, [[Search]]: checkpoint the
    * SMALL frame, not the corpus-sized one). Here the small frame is
    * the candidate-pair set — O(colliding pairs) by construction —
    * so: checkpoint it, then re-shingle ONLY candidate docs (a
    * semi-join prunes the scan; AQE broadcasts the id side while it
    * fits, shuffles when a dup-heavy corpus makes it large) for the
    * two verify sides. Full-corpus tokenizations per evaluation: one,
    * inside the candidate job; the verify sides pay O(candidate docs).
    */
  private def verifyOnCandidates(docs: DataFrame, cand: DataFrame,
                                 minJaccard: Double): DataFrame = {
    val c = cand.localCheckpoint(true)
    val ids = c.select(explode(array(col("id1"), col("id2"))).as("doc_id"))
      .distinct()
    val exC = shingleRows(docs.join(ids, Seq("doc_id"), "left_semi"))
    verifyJaccard(c, exC, minJaccard)
  }

  /** ASYMMETRIC CONTAINMENT pairs — near-SUPERSET detection, the dup
    * class symmetric jaccard is blind to: a document quoted whole
    * inside a larger one (boilerplate wrap, syndication with added
    * chrome, quote-the-post replies) shares nearly all of the SMALL
    * side's shingles while jaccard |A∩B|/|A∪B| can sit far below any
    * dedup bar. Containment |A∩B|/min(|A|,|B|) scores the small side's
    * coverage directly (Broder's containment, the metric passage-level
    * curation filters on).
    *
    * Blocking must also change: minhash bands estimate JACCARD, so a
    * small-in-large pair rarely collides on any band — candidates here
    * block on SHARED RARE SHINGLES (document frequency in [2, maxDf]):
    * a contained doc shares every one of its shingles with its
    * container, so any globally-rare shingle of the small side finds
    * the pair; the df cap keeps stop-shingle buckets out (bucket pair
    * expansion ≤ maxDf²/2) and the blocking-key cardinality — distinct
    * rare shingles — grows with the corpus (§4 rule). Two corpus
    * tokenizations (df reduction + candidate join — the sanctioned
    * tf/df pattern, see [[graft.operators.TextOps]] tfidf); the
    * containment verify then re-shingles ONLY candidate docs behind a
    * semi-join, the [[verifyOnCandidates]] discipline.
    */
  def containmentPairs(s: SparkSession, dir: String,
                       minContainment: Double = 0.8,
                       maxDf: Int = 8): DataFrame =
    containmentPairsOn(Tables.documents(s, dir).select("doc_id", "text"),
      minContainment, maxDf)

  def containmentPairsOn(docs: DataFrame, minContainment: Double,
                         maxDf: Int): DataFrame = {
    val ex = shingleRows(docs)
    val rare = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df").between(2L, maxDf.toLong))
      .select("s")
    val cand = inBucketPairs(ex.join(rare, Seq("s")), Seq("s"),
        struct(col("doc_id")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
      .localCheckpoint(true)
    val ids = cand.select(explode(array(col("id1"), col("id2"))).as("doc_id"))
      .distinct()
    // candidate-doc shingles are collision-sized, not corpus-sized —
    // checkpoint them ONCE for the three verify consumers (x side, y
    // side, cardinalities); without this each reference re-runs the
    // semi-joined corpus tokenization (the BM25/checkpoint-the-small-
    // frame rule)
    val exC = shingleRows(docs.join(ids, Seq("doc_id"), "left_semi"))
      .localCheckpoint(true)
    val cardC = exC.groupBy("doc_id").agg(count(lit(1)).as("c"))
    cand
      .join(exC.as("x"), col("id1") === col("x.doc_id"))
      .join(exC.as("y"),
        col("id2") === col("y.doc_id") && col("x.s") === col("y.s"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n"))
      .join(cardC.select(col("doc_id").as("id1"), col("c").as("c1")), Seq("id1"))
      .join(cardC.select(col("doc_id").as("id2"), col("c").as("c2")), Seq("id2"))
      .withColumn("cont",
        col("n").cast("double") / least(col("c1"), col("c2")))
      .where(col("cont") >= minContainment)
      .select(col("id1"), col("id2"), col("n").as("n_shared"),
        round(col("cont"), 4).as("containment"),
        round(col("n").cast("double") / (col("c1") + col("c2") - col("n")), 4)
          .as("jaccard"))
      .orderBy("id1", "id2")
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * — the MOSS plagiarism detector): the POSITIONAL dedup family
    * minhash/simhash don't cover. Every char k-gram hashes; each
    * sliding window of `w` consecutive hashes selects its MINIMUM as
    * a fingerprint — the paper's guarantee is that any shared
    * substring of length ≥ k+w−1 yields at least one shared
    * fingerprint, with expected density 2/(w+1). Purely relational:
    * the per-position hash is the codegen'd [[graft.functions
    * .Md5Prefix60]], window membership is the rolling-p95 offset
    * explode (each hash row is charged to the ≤ w windows it serves
    * — no sort, no per-doc sequential pass), and the window min is
    * one (doc, window) aggregate with map-side combine. A doc
    * shorter than one full window fingerprints as its single global
    * min (the paper's degenerate case, mirrored in the SQL).
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 5,
                         w: Int = 4): DataFrame = {
    val t = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .where(length(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        (length(col("t")) - (k - 1)).cast("long").as("m"))
    val hashes = t
      .select(col("doc_id"), col("t"), col("m"),
        explode(sequence(lit(1L), col("m"))).as("p"))
      .select(col("doc_id"), col("m"), col("p"),
        graft.functions.Md5Prefix60(
          expr(s"substring(t, CAST(p AS INT), $k)")).as("h"))
    // window j covers hashes j..j+w-1 (j = 1..max(m-w+1, 1)); hash at
    // p serves windows [max(1, p-w+1), min(p, nwin)] — bounds always
    // ordered, so the sequence never degenerates
    val nwin = greatest(col("m") - (w - 1), lit(1L))
    hashes
      .select(col("doc_id"), col("h"),
        explode(sequence(greatest(col("p") - (w - 1), lit(1L)),
          least(col("p"), nwin))).as("wi"))
      .groupBy("doc_id", "wi").agg(min("h").as("fp"))
      .select("doc_id", "fp").distinct()
  }

  /** Winnowing near-dup pairs: docs sharing ≥ `minShared` selected
    * fingerprints, candidates blocked on fingerprints with document
    * frequency in [2, maxDf] (the containment discipline — stop-gram
    * buckets out, bucket pair expansion ≤ maxDf²/2, blocking-key
    * cardinality grows with the corpus). One fingerprint table feeds
    * df reduction AND the candidate join.
    */
  def winnowingPairs(s: SparkSession, dir: String, minShared: Long = 2L,
                     maxDf: Long = 8L): DataFrame = {
    val fps = winnowFingerprints(
      Tables.documents(s, dir).select("doc_id", "text"))
      .localCheckpoint(true)
    val dfc = fps.groupBy("fp").agg(count(lit(1)).as("dfc"))
    val blocked = fps
      .join(dfc.where(col("dfc").between(2L, maxDf)), "fp")
      .select("doc_id", "fp")
    blocked.as("a").join(blocked.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("id1", "id2")
  }

  // -------------------------------------- persisted winnowing index

  /** The winnowing fingerprint table at rest — the 9th persisted
    * structure, giving the positional dedup family the same
    * steady-state story the minhash family has in the signature
    * index: (doc_id, fp) parquet partitioned by the doc-hash bucket
    * (maintenance-churn-local — an arriving or deleted batch
    * rewrites only the buckets its doc_ids hash into), _SUCCESS the
    * publish marker. Fingerprints are ~2/(w+1) of positions, so the
    * index is a fraction of the corpus.
    */
  val WinIndexBuckets = 16

  private def winBucket(id: Column): Column =
    pmod(graft.functions.Md5Prefix60(id.cast("string")),
      lit(WinIndexBuckets.toLong))

  def buildWinnowIndex(corpus: DataFrame, path: String): Unit =
    winnowFingerprints(corpus)
      .withColumn("bk", winBucket(col("doc_id")))
      .write.mode("overwrite").partitionBy("bk").parquet(path)

  /** Row-replacement upsert — the [[signatureIndexUpsert]] semantics
    * verbatim: redelivery replaces a batch's own rows (no-op), only
    * touched buckets rewrite, crash repair = re-run.
    */
  def winnowIndexUpsert(s: SparkSession, path: String,
                        batch: DataFrame): Unit = {
    val rows = winnowFingerprints(batch)
      .withColumn("bk", winBucket(col("doc_id")))
      .localCheckpoint(true)
    replaceDocs(s, path, rows, WinIndexBuckets, "Dedup.WinIndexBuckets", Some(rows))
  }

  /** Delete maintenance: drop the ids' fingerprint rows from their
    * buckets only.
    */
  def winnowIndexDelete(s: SparkSession, path: String,
                        ids: DataFrame): Unit =
    replaceDocs(s, path, ids.select(col("doc_id")).distinct()
      .withColumn("bk", winBucket(col("doc_id"))).localCheckpoint(true),
      WinIndexBuckets, "Dedup.WinIndexBuckets", None)

  /** THE row-replacement rewrite of a doc-hash-bucketed index (the
    * signature and winnowing indexes): the buckets of `keys`'
    * (doc_id, bk) rows lose every row of those doc_ids and gain
    * `arrivals` ([[TablePublish.rewrite]]). Redelivering the same
    * batch replaces its own rows, so it is a no-op. The touched bucket
    * set is bounded by the index's bucket count `nbuckets`.
    */
  private def replaceDocs(s: SparkSession, path: String, keys: DataFrame,
                          nbuckets: Int, bound: String,
                          arrivals: Option[DataFrame]): Unit = {
    val touched = graft.Cut.request(keys.select(col("bk").cast("long")).distinct(),
      nbuckets, bound, "touched bucket set").map(_.getLong(0))
    if (touched.nonEmpty)
      TablePublish.rewrite(s, path, "bk", touched.toSeq, arrivals)(
        _.join(broadcast(keys.select("doc_id").distinct()), Seq("doc_id"), "left_anti"))
  }

  /** Incremental winnowing lookup: a new batch against the PERSISTED
    * index without re-fingerprinting the corpus — per-arrival work is
    * O(batch + collisions). The ubiquity guard computes document
    * frequency over the COLLIDED fingerprints only (group the
    * index-side matches, not the index), so even the stop-fingerprint
    * defense costs collision-sized work.
    */
  def winnowIncremental(s: SparkSession, path: String, batch: DataFrame,
                        minShared: Long = 2L,
                        maxDf: Long = 8L): DataFrame = {
    val bf = winnowFingerprints(batch).localCheckpoint(true)
    val matched = s.read.parquet(path).select("doc_id", "fp")
      .join(broadcast(bf.select("fp").distinct()), Seq("fp"), "left_semi")
      .localCheckpoint(true)
    val okFp = matched.groupBy("fp").agg(count(lit(1)).as("dfc"))
      .where(col("dfc") <= maxDf).select("fp")
    bf.join(matched.join(okFp, "fp")
        .select(col("fp"), col("doc_id").as("id2")), "fp")
      .groupBy(col("doc_id").as("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("id1", "id2")
  }

  /** Registry surface: index built once per sf dir behind a done
    * marker; the timed/oracled entry is the batch lookup.
    */
  def winnowIncrementalQuery(s: SparkSession, dir: String): DataFrame = {
    val root = graft.IndexCache.dirFor(dir, "winidx")
    val path = root.resolve("fps").toString
    val done = root.resolve("_done")
    if (!java.nio.file.Files.exists(done)) {
      java.nio.file.Files.createDirectories(root)
      buildWinnowIndex(
        graft.Tables.documents(s, dir).select("doc_id", "text"), path)
      java.nio.file.Files.write(done, Array.emptyByteArray)
    }
    winnowIncremental(s, path, incrementalBatch(s, dir))
  }

  /** The INCREMENTAL batch: every doc_id%9==0 corpus doc re-enters
    * with one appended token (a high-jaccard near-dup) under
    * id+200000 — the arriving-data half of the incremental curation
    * workload (the raw fixture carries no batch table).
    */
  def incrementalBatch(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" zzyzx")).as("text"))

  /** Incremental near-dedup: match a NEW batch against the EXISTING
    * corpus without ever re-pairing the corpus with itself — the
    * steady-state form of corpus curation, where re-running
    * [[minhashPairs]] over corpus+batch would redo O(corpus) banding
    * and in-bucket pairing per arrival. Batch band rows equi-join the
    * PERSISTED corpus signature table (built once by
    * [[buildSignatureIndex]], appended per accepted batch), so
    * per-arrival work is O(batch + collisions): candidates are only
    * cross (batch, corpus) bucket mates, and the exact-jaccard verify
    * re-shingles ONLY the corpus docs that actually collided (a
    * doc_id semi-join ahead of the shingle explode) plus the batch.
    */
  def incrementalPairsIndexed(s: SparkSession, corpus: DataFrame,
                              sigIndexPath: String, batch: DataFrame,
                              minJaccard: Double = 0.5): DataFrame = {
    val exB = shingleRows(batch)
    val corpusBands = s.read.parquet(sigIndexPath)
    // checkpointed: the collision-pair frame is O(bucket collisions)
    // and every later stage references it (touched-doc semi-join +
    // both verify sides) — un-checkpointed, each reference re-ran the
    // batch banding AND the signature-index bucket join
    val cand = minhashBandsFromRows(exB).as("nb")
      .join(corpusBands.as("ob"),
        col("nb.band") === col("ob.band") &&
          col("nb.band_key") === col("ob.band_key"))
      .select(col("nb.doc_id").as("id1"), col("ob.doc_id").as("id2"),
        col("nb.c").as("c1"), col("ob.c").as("c2"))
      .distinct()
      .localCheckpoint(true)
    // verify touches only collision docs: the semi-join prunes the
    // corpus BEFORE the shingle explode, so verify cost follows the
    // collision count, not the corpus size
    val touched = corpus.join(
      cand.select(col("id2").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    // batch and corpus ids are disjoint, so the union shingle table
    // serves both verify sides
    verifyJaccard(cand, exB.unionByName(shingleRows(touched)), minJaccard)
      .orderBy("id1", "id2")
  }

  /** The corpus signature table at rest: (doc_id, c, band, band_key)
    * parquet — tiny next to the corpus (4 band rows per doc), cheap
    * to append. _SUCCESS is the publish marker, as for the IVF index.
    */
  /** Doc-hash bucket count for the signature index layout — bounds
    * the partition count; scales with the cluster, not correctness.
    */
  val SigIndexBuckets = 16

  private def sigBucket(id: Column): Column =
    pmod(graft.functions.Md5Prefix60(id.cast("string")),
      lit(SigIndexBuckets.toLong))

  def buildSignatureIndex(corpus: DataFrame, path: String): Unit =
    minhashBandsFromRows(shingleRows(corpus))
      .withColumn("bk", sigBucket(col("doc_id")))
      .write.mode("overwrite").partitionBy("bk").parquet(path)

  /** MAINTENANCE for the persisted signature index — the dedup
    * structure joins the four maintained-structure families (11c IVF
    * cells, 20k postings buckets, 31i z-order generations, 13n graph
    * cells): the index partitions by a doc-hash bucket, so an
    * arriving or deleted batch rewrites only the buckets its doc_ids
    * hash into — never re-banding (or even re-reading) the rest of
    * the corpus's signatures. Row REPLACEMENT semantics (surviving
    * rows = bucket minus the batch's ids): re-delivering the same
    * batch replaces its own rows, so redelivery is a no-op — the
    * exactly-once-from-idempotence discipline every foreachBatch
    * loop here leans on. Crash window + repair story =
    * [[TablePublish.publish]]; re-running the interrupted op
    * finishes the job (replacement is deterministic).
    */
  def signatureIndexUpsert(s: SparkSession, path: String,
                           batch: DataFrame): Unit = {
    val rows = minhashBandsFromRows(shingleRows(batch))
      .withColumn("bk", sigBucket(col("doc_id")))
      .localCheckpoint(true)
    replaceDocs(s, path, rows, SigIndexBuckets, "Dedup.SigIndexBuckets", Some(rows))
  }

  /** Tombstone maintenance: drop the ids' band rows from their
    * buckets only (the delete analog of [[signatureIndexUpsert]];
    * emptied buckets are removed by the shared publish).
    */
  def signatureIndexDelete(s: SparkSession, path: String,
                           ids: DataFrame): Unit =
    replaceDocs(s, path, ids.select(col("doc_id")).distinct()
      .withColumn("bk", sigBucket(col("doc_id"))).localCheckpoint(true),
      SigIndexBuckets, "Dedup.SigIndexBuckets", None)

  /** In-memory definitional twin (bands recomputed both sides) —
    * kept as the spec anchor for the indexed path.
    */
  def incrementalPairs(s: SparkSession, dir: String,
                       minJaccard: Double = 0.5): DataFrame = {
    val corpus = Tables.documents(s, dir).select("doc_id", "text")
    val batch = incrementalBatch(s, dir)
    val exC = shingleRows(corpus)
    val exB = shingleRows(batch)
    val cand = minhashBandsFromRows(exB).as("nb")
      .join(minhashBandsFromRows(exC).as("ob"),
        col("nb.band") === col("ob.band") &&
          col("nb.band_key") === col("ob.band_key"))
      .select(col("nb.doc_id").as("id1"), col("ob.doc_id").as("id2"),
        col("nb.c").as("c1"), col("ob.c").as("c2"))
      .distinct()
    verifyJaccard(cand, exB.unionByName(exC), minJaccard)
      .orderBy("id1", "id2")
  }

  /** Surface query: the indexed path over a build-once signature
    * table under the IndexCache root (the bench prebuilds it untimed, like
    * the persisted ANN indexes).
    */
  def incrementalQuery(s: SparkSession, dir: String): DataFrame = {
    val path = graft.IndexCache.dirFor(dir, "sigidx").toString
    val corpus = Tables.documents(s, dir).select("doc_id", "text")
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      buildSignatureIndex(corpus, path)
    }
    incrementalPairsIndexed(s, corpus, path, incrementalBatch(s, dir))
  }

  /** THE in-bucket pair expansion — the one implementation behind
    * every blocked pairwise operator here (minhash, ngram, simhash,
    * embedding-LSH): groupBy bucket keys + per-bucket quadratic
    * expansion in ONE pass over the bucket table, where a self-join
    * would evaluate the whole upstream pipeline twice. Buckets are
    * small by construction (that is the point of blocking), so the
    * expansion is per-bucket-bounded; doc_id-ordering normalization
    * (`a.doc_id < b.doc_id`) makes the pair set independent of
    * collect_list's nondeterministic order. `payload` must be a
    * struct carrying `doc_id`; whatever rides along (cardinalities,
    * signatures) reaches the verify stage without an extra pass.
    */
  private def inBucketPairs(buckets: DataFrame, keys: Seq[String],
                            payload: Column): DataFrame =
    buckets.groupBy(keys.map(col): _*)
      .agg(collect_list(payload).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids)-2), i ->
          |  transform(sequence(i+1, size(ids)-1), j ->
          |    CASE WHEN ids[i].doc_id < ids[j].doc_id
          |      THEN struct(ids[i] AS a, ids[j] AS b)
          |      ELSE struct(ids[j] AS a, ids[i] AS b) END)))"""
          .stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** Minhash-band candidates: (id1, id2) with shingle cardinalities. */
  private def bucketPairs(bands: DataFrame, keys: String*): DataFrame =
    inBucketPairs(bands, keys, struct(col("doc_id"), col("c")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.c").as("c1"), col("b.c").as("c2"))

  /** Exact jaccard for candidate pairs (id1, id2, c1, c2) from
    * exploded shingle rows: intersection counts via equi-join on
    * (doc, shingle), |A∪B| = |A|+|B|-|A∩B|. The candidate table is
    * the small side (broadcasts); cardinalities arrive precomputed on
    * the pair rows.
    */
  private def verifyJaccard(cand: DataFrame, ex: DataFrame,
                            minJaccard: Double): DataFrame = {
    cand
      .join(ex.as("x"), col("id1") === col("x.doc_id"))
      .join(ex.as("y"),
        col("id2") === col("y.doc_id") && col("x.s") === col("y.s"))
      .groupBy("id1", "id2", "c1", "c2")
      .agg(count(lit(1)).as("n"))
      .withColumn("j",
        col("n").cast("double") / (col("c1") + col("c2") - col("n")))
      .where(col("j") >= minJaccard)
      .select(col("id1"), col("id2"), round(col("j"), 4).as("jaccard"))
  }

  /** Width-parameterized SimHash over token md5s (token-frequency
    * weighted: each occurrence votes ±1 per bit; bit set iff the vote
    * sum is positive). The `bits`-bit token hash is the top `bits`
    * bits of [[graft.functions.Md5Prefix60]] (≡ a leading md5 hex
    * prefix, so DuckDB mirrors it with `substr(md5(tok), 1, n)`).
    *
    * Exploded-token formulation: per-bit votes are `bits` codegen'd
    * sum() aggregates over (doc, token-hash) rows — the nested
    * aggregate-lambda form this replaced ran interpreted (same
    * pitfall as minhash, see [[minhashBandsFromRows]]). Max width 60
    * (not 64): a 15-hex-digit prefix stays positive in a signed
    * BIGINT on BOTH engines; 16 digits would need unsigned wrap
    * gymnastics DuckDB's CAST refuses.
    */
  /** Counters per aggregate lane. Each per-bit vote needs one counter
    * of set-bit occurrences b_c (the ±1 vote sum is 2·b_c − n, so
    * only b_c must be aggregated); packing 3 counters of 21 bits into
    * each long cuts the aggregate count 3× (60-bit simhash: 20 sum()
    * buffers instead of 60). 21 bits caps a document at 2,097,151
    * tokens per counter; a doc over the cap would overflow a lane
    * into its neighbor and SILENTLY corrupt the signature, so the
    * signature projection raises on it (one codegen comparison per
    * doc — see the raise_error guard in [[simhashBits]]). Chunk
    * over-cap documents upstream, or lower LanesPerLong.
    */
  private val LaneBits = 21
  private val LanesPerLong = 3
  private val LaneCap = (1L << LaneBits) - 1

  def simhashBits(s: SparkSession, dir: String, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 60, s"simhash width $bits not in [1,60]")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        shiftright(graft.functions.Md5Prefix60(col("tok")), 60 - bits).as("h"))
    val nGroups = (bits + LanesPerLong - 1) / LanesPerLong
    // per token, pack this group's set-bit indicators into lanes;
    // sum() then accumulates all lanes of the group at once
    val packed = (0 until nGroups).map { g =>
      val term = (0 until LanesPerLong)
        .map(l => (g * LanesPerLong + l, l))
        .filter(_._1 < bits)
        .map { case (c, l) =>
          expr(s"((h div ${1L << c}) % 2) * ${1L << (LaneBits * l)}")
        }
        .reduce(_ + _)
      sum(term).as(s"p$g")
    }
    // bit c set ⟺ vote 2·b_c − n > 0 ⟺ 2·b_c > n
    val sim = (0 until bits).map { c =>
      val g = c / LanesPerLong
      val off = LaneBits * (c % LanesPerLong)
      when(expr(s"(p$g div ${1L << off}) % ${1L << LaneBits}") * 2
        > col("n_tokens"), lit(1L << c)).otherwise(0L)
    }.reduce(_ + _)
    // UNSORTED: the pairs pipelines consume this through a groupBy
    // whose exchange would destroy (but still execute!) a sort here —
    // deterministic ordering belongs to the query surface ([[simhash]])
    toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), packed: _*)
      .select(col("doc_id"), col("n_tokens"),
        // fail loudly on a lane-cap overflow instead of emitting a
        // silently corrupt signature
        when(col("n_tokens") > LaneCap,
          expr(s"raise_error(concat('simhash lane overflow: doc ', " +
            s"doc_id, ' has ', n_tokens, ' tokens (cap $LaneCap)'))")
            .cast("long"))
          .otherwise(sim).as(s"simhash$bits"))
  }

  /** The 16-bit signature query surface (oracle-pinned column name,
    * deterministic order).
    */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashBits(s, dir, 16).orderBy("doc_id")

  /** SimHash near-dup pairs: block on `bands` equal-width bands of
    * the `bits`-bit signature, then verify exact hamming ≤ maxHamming
    * via xor+bit_count on the full signature. Pigeonhole: any pair
    * within hamming distance `bands-1` shares some band exactly, so
    * with maxHamming ≤ bands-1 the result is EXACTLY all pairs within
    * that distance; beyond it the banding is probabilistic candidate
    * generation (like the reference's approximate index — precision
    * restored by the verify, recall bought with more/narrower bands).
    *
    * Bucket count per band is 2^(bits/bands), so bucket size — and
    * with it the quadratic in-bucket expansion — is O(corpus /
    * 2^(bits/bands)): the production default [[simhashPairsWide]]
    * (60-bit, 6×10-bit bands) keeps buckets ~1000× smaller per unit
    * corpus than the 16-bit/8-bit-band layout, whose 256 buckets per
    * band cap out and go quadratic as the corpus grows.
    */
  def simhashPairsBits(s: SparkSession, dir: String, bits: Int,
                       bands: Int, maxHamming: Int): DataFrame =
    simhashCandidates(s, dir, bits, bands)
      .where(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
      .orderBy("id1", "id2")

  /** Simhash band collisions ABOVE the near-dup bar — the NEAR-MISS
    * pool: pairs close enough in signature space to share a band
    * bucket, provably too far to be duplicates. This is the
    * byproduct the hard-negative miner consumes
    * ([[Triplets.tripletsHard]]): the banding work is already paid
    * by the dedup pass, and bucket cardinality grows with the
    * corpus like every other blocking key here.
    */
  def simhashNearMisses(s: SparkSession, dir: String, bits: Int = 16,
                        bands: Int = 2, aboveHamming: Int = 1): DataFrame =
    simhashCandidates(s, dir, bits, bands)
      .where(col("hamming") > aboveHamming)
      .select("id1", "id2")

  /** Band-colliding (id1 < id2, distinct) pairs with their exact
    * signature hamming — shared by the ≤-bar pair query and the
    * >-bar near-miss pool so the two cannot drift.
    */
  private def simhashCandidates(s: SparkSession, dir: String, bits: Int,
                                bands: Int): DataFrame = {
    require(bits % bands == 0, s"bits $bits not divisible by bands $bands")
    val w = bits / bands
    val sig = simhashBits(s, dir, bits)
      .select(col("doc_id"), col(s"simhash$bits").as("sh"))
    val bandCols = (0 until bands).map(b =>
      struct(lit(b.toLong).as("band"),
        expr(s"(sh div ${1L << (b * w)}) % ${1L << w}").as("key")))
    val banded = sig.select(col("doc_id"), col("sh"),
      explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("sh"),
        col("b.band").as("band"), col("b.key").as("key"))
    inBucketPairs(banded, Seq("band", "key"),
        struct(col("doc_id"), col("sh")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.sh").as("h1"), col("b.sh").as("h2"))
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("long"))
  }

  /** 16-bit layout — kept as the coarse oracle query. */
  def simhashPairs(s: SparkSession, dir: String,
                   maxHamming: Int = 1): DataFrame =
    simhashPairsBits(s, dir, bits = 16, bands = 2, maxHamming = maxHamming)

  /** Production-width layout: 60-bit signature, 6 bands × 10 bits,
    * exact within hamming ≤ 5 by pigeonhole.
    */
  def simhashPairsWide(s: SparkSession, dir: String): DataFrame =
    simhashPairsBits(s, dir, bits = 60, bands = 6, maxHamming = 5)

  /** Blocked pairwise n-gram jaccard, in the EXPLODED formulation —
    * the 100 TB path when shingle sets are too large to carry as
    * array columns: explode to (doc, shingle) rows, equi-join on
    * (block, shingle) to count intersections, join cardinalities,
    * filter on jaccard.
    *
    * Block key = a 2-minhash band (seeds disjoint from
    * [[minhashBands]]): random pairs collide with P≈j², planted
    * near-dups (j≥0.9) with P≥0.81 — unlike a lexicographic
    * min-shingle block, the md5 ordering cannot concentrate mass on
    * a few buckets, so bucket sizes stay bounded under a skewed
    * vocabulary. (Metadata blocks like source/lang would miss the
    * planted dups: 24/25 of them cross sources.)
    */
  def ngramJaccardPairs(s: SparkSession, dir: String,
                        minJaccard: Double = 0.5): DataFrame = {
    // the min-hashes are ordinary min() AGGREGATES of a codegen'd
    // scalar md5 over the exploded shingle table — not
    // md5-inside-a-lambda, which Spark evaluates interpreted (and
    // CollapseProject + the join-key isnotnull pushdown would
    // re-evaluate per row on both self-join sides)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val blk = shingleRows(docs).groupBy("doc_id").agg(
      count(lit(1)).as("c"),
      min(mh60("b0|")).as("m0"),
      min(mh60("b1|")).as("m1"))
      .select(col("doc_id"), col("c"),
        md5(concat(col("m0").cast("string"), lit("|"),
          col("m1").cast("string"))).as("block"))
    val cand = bucketPairs(blk, "block")
    verifyOnCandidates(docs, cand, minJaccard).orderBy("id1", "id2")
  }

  /** Connected components over an undirected pair graph:
    * (doc_id, cluster_id = min doc_id of the component). Iterative
    * min-label propagation — each round, every node takes the
    * smallest label among itself and its neighbors — converging in
    * ≤ diameter rounds. Per round: one equi-join + one
    * partial-aggregating groupBy (no Pregel runtime needed for the
    * dedup-cluster shape, whose components are small and shallow).
    * `localCheckpoint` truncates the per-iteration lineage — the one
    * place the repo's recompute-over-persist rule inverts, because an
    * ITERATIVE plan would otherwise double per round and the
    * convergence check re-execute the whole history.
    *
    * Throws after `maxIter` non-converged rounds instead of returning
    * a silently partial clustering.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // one-pass symmetrization: a union of two selects over `pairs`
    // would evaluate the (expensive, verified) pair lineage twice in
    // the checkpoint job
    val edges = pairs.select(explode(array(
        struct(col("id1").as("src"), col("id2").as("dst")),
        struct(col("id2").as("src"), col("id1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var i = 0
    var changed = 1L
    // `maxIter` bounds the component DIAMETER: i ≤ maxIter admits
    // maxIter productive rounds plus the confirming zero-change round
    // (a diameter-d graph finishes changing in round d and proves the
    // fixpoint in round d+1)
    while (changed > 0 && i <= maxIter) {
      val neighborMin = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min("label").as("nl"))
      // carry the previous label through the checkpoint so the
      // convergence count reads the checkpointed data instead of
      // re-running a join against the prior round
      val updated = labels
        .join(neighborMin, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          col("label").as("old"))
        .localCheckpoint(true)
      changed = updated.where(col("label") =!= col("old")).count()
      // superseded checkpoint blocks are reclaimed by the
      // ContextCleaner once the old frame is unreferenced
      labels = updated.select("id", "label")
      i += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"connected components did not converge: diameter exceeds $maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Near-dup clusters from the verified minhash pair graph — the
    * step after pair generation in a real dedup pipeline (keep one
    * doc per cluster, drop the rest).
    */
  def nearDupClusters(s: SparkSession, dir: String,
                      minJaccard: Double = 0.5): DataFrame =
    nearDupClustersUnsorted(s, dir, minJaccard).orderBy("doc_id")

  /** Unsorted composable form (see [[minhashPairsUnsorted]]).
    *
    * Memoized per (applicationId, dir, minJaccard) — the fixpoint is
    * a deterministic dedup byproduct consumed by three downstream
    * operators (dedup_clusters itself plus both pipeline capstones),
    * and its result is already a checkpoint-backed frame, so caching
    * the reference costs nothing and spares each consumer the
    * pair-generation + label-propagation rounds.
    */
  def nearDupClustersUnsorted(s: SparkSession, dir: String,
                              minJaccard: Double = 0.5): DataFrame =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"clusters|$dir|$minJaccard") {
      connectedComponents(
        minhashPairsCached(s, dir, minJaccard).select("id1", "id2"))
    }

  /** CROSS-SOURCE near-dup overlap — which source pairs duplicate
    * each other (mirror sites, syndication, scraped re-posts): the
    * verified pair set joined to each side's source, counted per
    * unordered source pair. The join sides are the pair table
    * (collision-sized) against the doc→source projection — the heavy
    * shingle work is not repeated (memoization + the candidate-
    * checkpoint discipline inside the pair generator).
    */
  def sourceOverlap(s: SparkSession, dir: String,
                    minJaccard: Double = 0.5): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    minhashPairsCached(s, dir, minJaccard).select("id1", "id2")
      .join(src.select(col("doc_id").as("id1"), col("source").as("src1")),
        "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("src2")),
        "id2")
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Cluster-size HISTOGRAM — the "how much duplicate mass" dashboard
    * number a dedup run is judged by: per component size, how many
    * clusters, how many docs they hold, and how many docs a
    * keep-one-per-cluster policy removes. Count-of-counts over the
    * memoized fixpoint (the q13 two-level-aggregate shape): the heavy
    * exchange already ran for the labels; both aggregates here are
    * component-table-sized.
    */
  def clusterSizeHistogram(s: SparkSession, dir: String,
                           minJaccard: Double = 0.5): DataFrame =
    nearDupClustersUnsorted(s, dir, minJaccard)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        sum(col("sz") - 1).as("n_removable"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("n_removable"))
      .orderBy("cluster_size")

  /** Embedding-cosine near-dup pairs, blocked on sign-LSH buckets
    * ([[Ann.lshSignatures]]): candidates are pairs sharing any
    * (table, signature) bucket, verified by the exact fused cosine
    * kernel in-bucket.
    *
    * The round-2 form blocked on `label` — a key with ~10 distinct
    * values, so each block was ~N/10 and the pairwise join did
    * O(N²/10) cosine evaluations: the ONE blocking key in the repo
    * that did not grow with the corpus. LSH bucket count grows with
    * `bits` (~log₂ N at production scale), keeping buckets bounded —
    * like every other pair operator here, candidate generation is an
    * equi-join on a derived key whose cardinality scales.
    *
    * Like the minhash/simhash pipelines this trades recall at the
    * candidate stage (a pair must agree on all `bits` signs in some
    * table) for a corpus-linear plan; precision stays exact via the
    * in-bucket cosine verify. Recall is bought with more tables at
    * the same plan shape.
    */
  def embeddingCosinePairs(s: SparkSession, dir: String,
                           minCos: Double = 0.35,
                           tables: Int = 4, bits: Int = 4): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val sig = Ann.lshSignatures(e, "embedding", "vec_id", tables, bits,
      dim = 64)
    // in-bucket pair expansion, one pass over the signature table
    // (a self-join would run the 16-dot-product signature projection
    // twice)
    val cand = inBucketPairs(
        sig.select(col("id").as("doc_id"), col("table"), col("sig")),
        Seq("table", "sig"), struct(col("doc_id")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    cand
      .join(e.as("x"), col("id1") === col("x.vec_id"))
      .join(e.as("y"), col("id2") === col("y.vec_id"))
      .select(col("id1"), col("id2"),
        VectorDistance.cosine(col("x.embedding"), col("y.embedding")).as("c"))
      .where(col("c") >= minCos)
      .select(col("id1"), col("id2"), round(col("c"), 4).as("cosine"))
      .orderBy("id1", "id2")
  }

  /** SEMDEDUP — cluster-then-prune semantic deduplication (Abbas et
    * al. 2023, the method behind LAION/web-scale embedding dedup):
    * k-means the corpus, compare pairs ONLY within a cluster, and
    * drop every point that has a lower-id neighbor above the cosine
    * bar (keep-first — the min id of each duplicate chain survives,
    * the dedup_clusters min-label convention). The clustering is the
    * blocking: cross-cluster pairs are never materialized, so with
    * the corpus-proportional cell count (stride-200 seeding keeps
    * mean cell size ~200 at every SF) the pair work is ~100·n —
    * LINEAR in the corpus where all-pairs is quadratic; that bound
    * is the whole reason the paper scales to billions. Centroids are
    * the SAME cached (dir, 200) set the IVF index trains
    * ([[Ann.cachedCentroids]]), so SemDeDup's cells are the index's
    * cells — at 100 TB the cluster-blocked self-join is a
    * co-partitioned join on the cell key the layout already has.
    * Per dropped doc: its best keeper (highest cosine, tie → lowest
    * id), which may itself be dropped further down its chain —
    * faithful to the paper's per-pair pruning, pinned in DedupSpec.
    */
  def semDedup(s: SparkSession, dir: String,
               tau: Double = 0.35): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val a = Ann.assignTo(e, Ann.cachedCentroids(s, dir))
      .select(col("id"), col("vec"), col("cell"))
    val b = a.select(col("id").as("id2"), col("vec").as("v2"),
      col("cell"))
    a.join(b, Seq("cell")).where(col("id") < col("id2"))
      .select(col("cell"), col("id"), col("id2"),
        VectorDistance.cosine(col("vec"), col("v2")).as("s"))
      .where(col("s") >= tau)
      .groupBy(col("id2").as("doc_id"), col("cell"))
      .agg(max(struct(col("s").as("s"), (-col("id")).as("nid"))).as("m"))
      .select(col("doc_id"), col("cell"), (-col("m.nid")).as("keeper"),
        round(col("m.s"), 4).as("cosine"))
      .orderBy("doc_id")
  }

  /** SEMDEDUP KEEPER-CHAIN CLOSURE (r14, VERDICT r13 #7 — completes
    * the family): [[semDedup]] reports the paper's PER-PAIR prune —
    * each dropped doc's best keeper, which may itself drop further
    * down its chain — while the paper's keep SET is the transitive
    * survivor set. This resolves every keeper chain to its final
    * survivor and reports the corpus as a depth histogram: depth 0 =
    * survivors (the keep set's size), depth d ≥ 1 = docs whose chain
    * walks d keeper edges before landing on a survivor. Chains
    * strictly DECREASE in id (pairs are id < id2), so the walk is
    * acyclic and terminates. Resolution is POINTER DOUBLING over the
    * drop table — each round joins the resolved frame to itself, so
    * a depth-D chain finishes in ⌈log₂D⌉+1 rounds (depths SUM across
    * the jump, keeping the edge count exact); rounds are bounded and
    * checkpointed per the repo's fixpoint discipline
    * ([[connectedComponents]]), and the per-round join keys on the
    * keeper id — shuffle cardinality is the DROP table, never the
    * corpus, at any scale.
    */
  def semDedupClosure(s: SparkSession, dir: String,
                      tau: Double = 0.35): DataFrame = {
    val drops = semDedup(s, dir, tau)
      .select(col("doc_id"), col("keeper"))
      .localCheckpoint(true)
    // r(x) = (furthest keeper reached, edges walked); doubling joins
    // r to itself: if r(x)'s keeper is itself dropped, jump to that
    // keeper's resolution and add the depths
    var resolved = drops.select(col("doc_id"), col("keeper"),
      lit(1L).as("depth")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    val maxIter = 20 // admits chains to depth 2^20
    while (changed > 0 && i <= maxIter) {
      val hop = resolved.select(col("doc_id").as("k2"),
        col("keeper").as("kk"), col("depth").as("d2"))
      val next = resolved
        .join(hop, col("keeper") === col("k2"), "left")
        .select(col("doc_id"),
          coalesce(col("kk"), col("keeper")).as("keeper"),
          (col("depth") + coalesce(col("d2"), lit(0L))).as("depth"),
          col("kk").isNotNull.as("moved"))
        .localCheckpoint(true)
      changed = next.where(col("moved")).count()
      resolved = next.select("doc_id", "keeper", "depth")
      i += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"semdedup closure did not converge in $maxIter doubling rounds")
    val total = Tables.embeddings(s, dir).agg(count(lit(1)).as("n"))
    val nd = drops.agg(count(lit(1)).as("nd"))
    val survivors = total.crossJoin(nd)
      .select(lit(0L).as("depth"), (col("n") - col("nd")).as("n_docs"))
    val hist = resolved.groupBy("depth")
      .agg(count(lit(1)).as("n_docs"))
    survivors.unionByName(hist).orderBy("depth")
  }

  /** INCREMENTAL SEMDEDUP (r13 — the arrival path of [[semDedup]],
    * the same per-arrival discipline as the minhash
    * [[incrementalPairsIndexed]]): a batch of NEW embeddings is
    * assigned to cells under the FROZEN trained centroids (no
    * retrain on arrival — the production quantizer contract), and a
    * new doc drops when any same-cell CORPUS member clears the
    * cosine bar (arrival order beats id: the corpus came first) or
    * any EARLIER-in-batch doc does (lower id first within the
    * batch). Per-arrival work is O(batch × cell-size + in-batch
    * collisions) — the corpus is touched only through the cell
    * partition the arrival lands in, never re-paired against
    * itself. Partners are ALL same-cell corpus members (the index
    * stores everything; curation is downstream), keeper = (cos
    * desc, id asc) first among qualifying partners.
    */
  def semDedupIncremental(s: SparkSession, dir: String,
                          tau: Double = 0.35): DataFrame = {
    val cents = Ann.cachedCentroids(s, dir)
    val corpus = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val aC = Ann.assignTo(corpus, cents)
      .select(col("id").as("pid"), col("vec").as("pvec"), col("cell"))
    // planted arrivals: every 11th corpus vector re-enters under a
    // fresh id — exact copies, so each MUST drop onto its original
    val batch = Tables.embeddings(s, dir)
      .where(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 100000L).as("id"),
        col("embedding").as("vec"))
    val aB = Ann.assignTo(batch, cents)
      .select(col("id"), col("vec"), col("cell"))
    val vsCorpus = aB.join(aC, Seq("cell"))
    val vsEarlier = aB.join(
      aB.select(col("id").as("pid"), col("vec").as("pvec"),
        col("cell")), Seq("cell"))
      .where(col("pid") < col("id"))
    vsCorpus.unionByName(vsEarlier)
      .select(col("cell"), col("id"), col("pid"),
        VectorDistance.cosine(col("vec"), col("pvec")).as("s"))
      .where(col("s") >= tau)
      .groupBy(col("id").as("doc_id"), col("cell"))
      .agg(max(struct(col("s").as("s"), (-col("pid")).as("nid"))).as("m"))
      .select(col("doc_id"), col("cell"), (-col("m.nid")).as("keeper"),
        round(col("m.s"), 4).as("cosine"))
      .orderBy("doc_id")
  }

  /** CROSS-MODAL CONSISTENCY AUDIT — do the TEXT near-duplicates
    * also look near in EMBEDDING space? For every verified minhash
    * pair, the exact cosine of the two docs' embeddings, rolled into
    * one row: pair count, mean jaccard, mean cosine, and the share
    * of text-near-dups with cosine ≥ 0.8. A faithful embedding
    * column makes that share high; a LOW share is the audit FIRING —
    * the embedding column does not encode text content (wrong model
    * version, column drift, embeddings of different text) — which is
    * exactly what it reports on this fixture's content-independent
    * synthetic embeddings. Means close over micro-quantized integers
    * (the fold-order rule); work is pair-set-sized past the proven
    * minhash blocking.
    */
  def textVsEmbed(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairsCached(s, dir, 0.5)
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      col("embedding"))
    val wc = pairs
      .join(e.select(col("vec_id").as("id1"), col("embedding").as("va")),
        "id1")
      .join(e.select(col("vec_id").as("id2"), col("embedding").as("vb")),
        "id2")
      .select(col("jaccard"),
        round(graft.functions.VectorDistance.cosine(col("va"), col("vb")),
          4).as("cos"))
      .where(col("cos").isNotNull)
    wc.agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(round(jaccard * 10000) AS BIGINT)")).as("sj"),
        sum(expr("CAST(round(cos * 10000) AS BIGINT)")).as("sc"),
        sum(when(col("cos") >= 0.8, 1L).otherwise(0L)).as("n_cos80"))
      .select(col("n_pairs"),
        round(col("sj").cast("double") / col("n_pairs") / 10000.0, 4)
          .as("mean_jaccard"),
        round(col("sc").cast("double") / col("n_pairs") / 10000.0, 4)
          .as("mean_cos"),
        col("n_cos80"),
        round(col("n_cos80").cast("double") / col("n_pairs"), 4)
          .as("agree80_rate"))
  }

  /** COSINE-THRESHOLD SWEEP over the LSH-blocked near-dup pairs —
    * the tuning curve for the embedding-dedup cut (the cosine twin
    * of the band-recall S-curve): how many pairs survive at each
    * candidate threshold, so the curator picks the knee instead of a
    * folklore 0.9. Counts close over the SAME pair set the
    * [[embeddingCosinePairs]] operator ships (4dp-rounded cosine —
    * both engines grid on the identical rounded values), each pair
    * counted into every threshold it clears (cumulative-from-above),
    * zero-anchored by the literal grid (a threshold no pair clears
    * reports 0, not an absent row). Pair-set-sized work — the
    * LSH blocking already bounded it.
    */
  def cosineSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = embeddingCosinePairs(s, dir).select("cosine")
    val grid = Seq(0.35, 0.5, 0.65, 0.8, 0.95).toDF("threshold")
    val counts = pairs.crossJoin(broadcast(grid))
      .where(col("cosine") >= col("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    grid.join(counts, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("threshold")
  }

  /** PASSAGE-level exact-substring dedup — the modality the published
    * training-data pipelines run beside document-level near-dedup:
    * find the maximal token spans a document shares verbatim with ANY
    * other document, so boilerplate/quoted passages can be clipped
    * without dropping the whole doc (doc-level jaccard misses a long
    * shared passage inside two otherwise-different docs).
    *
    * Plan, one corpus scan and three key exchanges, all content-keyed:
    *   1. positional 3-grams — posexplode + lead window (doc_id
    *      exchange), positions KEPT (unlike [[shingleRows]], which
    *      distincts them away: spans need coordinates);
    *   2. cross-doc duplicated grams via min/max doc_id over a
    *      gram-partitioned window — one `s` exchange, NO second
    *      evaluation of the tokenize lineage (a groupBy-then-semi-join
    *      formulation would re-run the scan) and no countDistinct:
    *      a gram is shared iff min(doc_id) ≠ max(doc_id). Gram-key
    *      cardinality grows with the corpus (§4 blocking rule), and a
    *      stop-gram (present in half the corpus) costs O(its rows),
    *      never a pair expansion — this stage is per-ROW, which is
    *      why substring dedup scales where pairwise formulations die;
    *   3. island merge — consecutive duplicated positions chain into
    *      maximal spans via the classic pos − row_number group key
    *      (doc_id exchange), then min/max per island.
    *
    * A 3-gram at position p covers tokens [p, p+2], so an island of
    * positions [a, b] is the span [a, b+2], b−a+3 tokens long.
    * `minTokens` rejects the short runs word-salad 3-gram sharing
    * produces by chance; a planted full-doc duplicate surfaces as one
    * doc-length span on BOTH sides of the pair. At web scale the same
    * plan runs with 50-token grams (rarer, so stage 2's buckets
    * shrink) — the knobs move, the shape doesn't.
    */
  def duplicatedSpans(corpus: DataFrame, minTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val grams = corpus
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("n"), col("pos"),
        concat_ws(" ", col("word"),
          lead("word", 1).over(wDoc), lead("word", 2).over(wDoc)).as("s"))
      .where(col("pos") <= col("n") - 3)
    val wGram = Window.partitionBy("s")
    val dupPos = grams
      .withColumn("dmin", min("doc_id").over(wGram))
      .withColumn("dmax", max("doc_id").over(wGram))
      .where(col("dmin") =!= col("dmax"))
      .select("doc_id", "pos")
    dupPos
      .withColumn("grp",
        col("pos") - row_number().over(wDoc))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("a"), max("pos").as("b"))
      .where(col("b") - col("a") + 3 >= minTokens)
      .select(col("doc_id"),
        col("a").cast("long").as("span_start"),
        (col("b") + 2).cast("long").as("span_end"),
        (col("b") - col("a") + 3).cast("long").as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** Surface query on the planted-duplicate corpus: each +100000 copy
    * and its source surface as full-document spans; background
    * word-salad gram sharing must stay under `minTokens`.
    */
  def duplicatedSpansQuery(s: SparkSession, dir: String): DataFrame =
    duplicatedSpans(corpusWithExactDups(s, dir))

  /** BAND-RECALL AUDIT — the number that justifies the LSH
    * parameters: of all TRUE near-dup pairs (jaccard ≥ bar), what
    * fraction did the banded candidate stage surface? Ground truth
    * comes from the shingle-intersection join (blocked by shared
    * shingle — the same corpus-linear machinery the verify stage
    * uses, not an unblocked N²); candidates from the band buckets.
    * One summary row: true pairs, candidate pairs, hits, recall
    * (exact integer counts, one 4dp division). At production scale
    * this audit runs on a sampled slice — the plan is identical,
    * only the input shrinks.
    */
  def bandRecallReport(s: SparkSession, dir: String,
                       minJaccard: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val ex = shingleRows(docs).localCheckpoint(true)
    // TRUE pair set: every pair sharing ≥1 shingle, exact jaccard bar
    val card = ex.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = ex.as("x")
      .join(ex.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .agg(count(lit(1)).as("n"))
    val truePairs = inter
      .join(card.select(col("doc_id").as("id1"), col("c").as("c1")), "id1")
      .join(card.select(col("doc_id").as("id2"), col("c").as("c2")), "id2")
      .where(col("n").cast("double") / (col("c1") + col("c2") - col("n"))
        >= minJaccard)
      .select("id1", "id2")
      .localCheckpoint(true)
    val cand = bucketPairs(minhashBands(docs), "band", "band_key")
      .select("id1", "id2").distinct()
      .localCheckpoint(true)
    val hits = truePairs.join(cand, Seq("id1", "id2"), "left_semi")
    val nTrue = truePairs.count()
    val nCand = cand.count()
    val nHit = hits.count()
    import s.implicits._
    Seq((nTrue, nCand, nHit,
      if (nTrue == 0) 1.0
      else BigDecimal(nHit.toDouble / nTrue).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_true", "n_cand", "n_hit", "recall")
  }

  /** LSH S-CURVE — [[bandRecallReport]] resolved per similarity
    * band: for every pair sharing ≥1 shingle, its exact-jaccard
    * decile, whether the banded candidate stage surfaced it, and the
    * THEORETICAL capture probability 1 − (1 − s^r)^b at the decile
    * midpoint (r=3 rows, b=4 bands — the deployed geometry). The
    * measured-vs-theory pair is how an operator validates the
    * banding parameters against their own corpus before trusting the
    * textbook curve. Theory evaluates with MULTIPLICATIONS ONLY
    * (s³ = s·s·s, x⁴ = (x·x)·(x·x)) — pow() is libm-defined and
    * would not hash-match; the measured side reuses the blocked
    * shingle-intersection join (work ∝ shared content, never N²).
    */
  def lshScurve(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val ex = shingleRows(docs).localCheckpoint(true)
    val card = ex.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = ex.as("x")
      .join(ex.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .agg(count(lit(1)).as("n"))
    val jp = inter
      .join(card.select(col("doc_id").as("id1"), col("c").as("c1")), "id1")
      .join(card.select(col("doc_id").as("id2"), col("c").as("c2")), "id2")
      .select(col("id1"), col("id2"),
        least(floor((col("n").cast("double")
          / (col("c1") + col("c2") - col("n"))) * 10).cast("long"),
          lit(9L)).as("b"))
    val cand = bucketPairs(minhashBands(docs), "band", "band_key")
      .select("id1", "id2").distinct()
      .withColumn("hit", lit(1L))
    jp.join(cand, Seq("id1", "id2"), "left")
      .groupBy("b")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("sm", (col("b") * 2 + 1).cast("double") / lit(20.0))
      .withColumn("u",
        lit(1.0) - col("sm") * col("sm") * col("sm"))
      .select(col("b").as("decile"), col("n_true"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_true"), 4)
          .as("capture_rate"),
        round(lit(1.0) - (col("u") * col("u")) * (col("u") * col("u")), 4)
          .as("theory_rate"))
      .orderBy("decile")
  }

  /** SIMILARITY HISTOGRAM over the verified near-dup pairs — how
    * duplicate is the duplicate mass: pair counts per jaccard decile
    * band with exact band min/max (no float averaging; min/max of
    * identically-rounded values are bit-stable). Reads the same
    * verified pair set the clusters consume (the heavy shingle work
    * is not repeated), aggregates to ≤5 bands — a dashboard row that
    * tells a dedup operator whether raising the bar to 0.7 would
    * halve the removal set or barely touch it.
    */
  def jaccardHistogram(s: SparkSession, dir: String,
                       minJaccard: Double = 0.5): DataFrame =
    minhashPairsCached(s, dir, minJaccard)
      .select(least(floor(col("jaccard") * 10).cast("long"), lit(9L))
        .as("b"), col("jaccard"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_pairs"),
        min("jaccard").as("min_j"), max("jaccard").as("max_j"))
      .select((col("b") / 10.0).as("bin_lo"), col("n_pairs"),
        col("min_j"), col("max_j"))
      .orderBy("bin_lo")

  /** CANONICAL SELECTION — the keep/drop decision a dedup pipeline
    * actually ships: per near-dup cluster, keep the highest-quality
    * member (ties → lowest doc_id) and map every other member to it.
    * Singletons (docs in no cluster) are their own canonical.
    *
    * The representative is an argmax aggregate over the memoized
    * cluster fixpoint joined to the quality scores — `max(struct(q,
    * -doc_id))` per cluster, so no per-cluster sort window; the
    * aggregate and the join back to members both key on cluster_id
    * (cluster-count-sized, corpus-bounded). A NULL quality (NULL
    * text) ranks below every real score via coalesce(q, -1) — the
    * oracle mirrors the same sentinel.
    */
  def canonicalMap(s: SparkSession, dir: String,
                   minJaccard: Double = 0.5): DataFrame = {
    val members = Tables.documents(s, dir).select("doc_id")
      .join(nearDupClustersUnsorted(s, dir, minJaccard), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val scored = members.join(
      TextOps.qualityMetrics(s, dir).select(col("doc_id"),
        coalesce(col("quality_score"), lit(-1.0)).as("q")),
      "doc_id")
    val reps = scored.groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("cluster_id"), (-col("m.neg_id")).as("canonical_id"))
    members.join(reps, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_kept"))
      .orderBy("doc_id")
  }

  /** SHINGLE DF PROFILE — the blocking-health audit behind the
    * containment path's rare-shingle strategy (blocking keys are
    * shingles with df ∈ [2, 8]; this row says how many exist and how
    * the mass distributes, i.e. whether the strategy has keys to
    * work with as the corpus grows): histogram of shingle document
    * frequency in power-of-two-ish buckets (1, 2-8, 9-64, 65+ —
    * integer CASE cuts), with the blocking band called out. One
    * shingle df aggregate — the same one the containment path pays.
    */
  def shingleDfHist(s: SparkSession, dir: String): DataFrame = {
    // the codegen'd exploded form — shingleRows already emits the
    // DISTINCT (doc, shingle) pairs, so df is a plain count
    val df = shingleRows(Tables.documents(s, dir)
        .select("doc_id", "text"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    df.select(
        when(col("df") === 1, "1_hapax")
          .when(col("df") <= 8, "2-8_blocking_band")
          .when(col("df") <= 64, "9-64_common")
          .otherwise("65+_boilerplate").as("df_bucket"))
      .groupBy("df_bucket").agg(count(lit(1)).as("n_shingles"))
      .orderBy("df_bucket")
  }

  /** DEDUP IMPACT REPORT per source — the before/after accounting a
    * curation run ships with its output (how many docs and tokens
    * did near-dup collapse actually remove, and from which crawl
    * slice): the canonical keep/drop decision ([[canonicalMap]] —
    * cluster fixpoint + quality-argmax representative, memoized via
    * its own checkpoint) joined back to doc sizes, rolled up per
    * source with exact integer counts and one 6dp kept-fraction
    * division per side. Work beyond the shared clustering: one
    * doc-keyed join + a source-sized aggregate.
    */
  def dedupImpactReport(s: SparkSession, dir: String): DataFrame = {
    val canon = canonicalMap(s, dir).select("doc_id", "is_kept")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    docs.join(canon, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("docs_before"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("docs_kept"),
        sum("n_tok").as("tokens_before"),
        sum(when(col("is_kept"), col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), col("docs_before"), col("docs_kept"),
        col("tokens_before"), col("tokens_kept"),
        round(col("docs_kept").cast("double") / col("docs_before"), 6)
          .as("doc_keep_rate"),
        round(col("tokens_kept").cast("double") / col("tokens_before"), 6)
          .as("token_keep_rate"))
      .orderBy("source")
  }
}
