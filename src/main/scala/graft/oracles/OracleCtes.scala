package graft

/** Shared oracle CTE builders — split verbatim from SparkEntry
  * (r12, r11 verdict #7): the IVF/PQ/LSH training chains, beam
  * descents, BM25/minhash/WAL scaffolds every family oracle
  * composes. Visibility loosened from `private` to object-local
  * public so the Oracle* family objects can import them; the
  * object itself stays private[graft].
  */
private[graft] object OracleCtes {
  val knnOracle: String => String = metric => {
    // metric: expr over (e.embedding::DOUBLE[], q.qv) + sort direction
    val (expr, ord) = metric match {
      case "l2" => ("list_distance(e.embedding::DOUBLE[], q.qv)", "ASC")
      // DuckDB has no native L1 — fold |a[i]−b[i]| over the index
      // range in list order, matching VecL1's left-to-right loop
      case "l1" => ("list_sum(list_transform(range(1, len(q.qv) + 1), " +
        "i -> abs((e.embedding::DOUBLE[])[i] - q.qv[i])))", "ASC")
      // list_max over the per-dim absolute gaps — max is order-free,
      // so this mirror is exact with no fold-order contract at all
      case "linf" => ("list_max(list_transform(range(1, len(q.qv) + 1), " +
        "i -> abs((e.embedding::DOUBLE[])[i] - q.qv[i])))", "ASC")
      case "ip" => ("list_inner_product(e.embedding::DOUBLE[], q.qv)", "DESC")
      case "cos" => ("list_cosine_similarity(e.embedding::DOUBLE[], q.qv)", "DESC")
    }
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 5),
       |d AS (SELECT q.qid, e.vec_id AS nn_id, $expr AS s
       |      FROM embeddings e CROSS JOIN q),
       |r AS (SELECT qid, nn_id, s,
       |             row_number() OVER (PARTITION BY qid ORDER BY s $ord, nn_id) AS rk
       |      FROM d)
       |SELECT qid, rk, nn_id, round(s, 4) AS score
       |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Shared oracle CTE: distinct word-3-gram shingle sets (DuckDB
    * lists are 1-based; mirrors Dedup.withShingles exactly).
    */
  /** `sfx` de-collides the CTE names when a query needs shingles of
    * TWO different doc sets (the capstone train/eval oracle shingles
    * the cleaned corpus while its victims chain already shingled the
    * raw one).
    */
  def shingleCteFrom(src: String, sfx: String = ""): String =
    s"""w$sfx AS (SELECT doc_id, text, string_split(text, ' ') AS ws
       |      FROM $src WHERE text IS NOT NULL),
       |sh$sfx AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
       |         THEN list_transform(range(1, len(ws)-1),
       |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |         ELSE [text] END) AS shingles FROM w$sfx)""".stripMargin

  val shingleCte = shingleCteFrom("documents")

  /** Winnowing fingerprint CTE chain (k=5, w=4) ending in `fps$sfx`
    * — shared by the batch pair oracle and the incremental-index
    * mirror so the selection geometry cannot drift. Interpolated into
    * outer stripMargin strings: no continuation line starts with '|'.
    */
  def winnowCtes(src: String, sfx: String): String =
    s"""t0$sfx AS (SELECT doc_id, lower(text) AS t FROM $src
       |            WHERE length(text) >= 5),
       |tm$sfx AS (SELECT doc_id, t,
       |         CAST(length(t) - 4 AS BIGINT) AS m FROM t0$sfx),
       |hx$sfx AS (SELECT doc_id, t, m,
       |         unnest(generate_series(1, m)) AS p FROM tm$sfx),
       |h$sfx AS (SELECT doc_id, m, p,
       |        CAST('0x' || substr(md5(substr(t, CAST(p AS INT), 5)),
       |          1, 15) AS BIGINT) AS h
       |      FROM hx$sfx),
       |wx$sfx AS (SELECT doc_id, h,
       |         unnest(generate_series(greatest(p - 3, 1),
       |           least(p, greatest(m - 3, 1)))) AS wi
       |       FROM h$sfx),
       |fw$sfx AS (SELECT doc_id, wi, min(h) AS fp
       |       FROM wx$sfx GROUP BY 1, 2),
       |fps$sfx AS (SELECT DISTINCT doc_id, fp FROM fw$sfx)""".stripMargin

  // NOTE: these shared CTE fragments are interpolated into outer
  // strings that call .stripMargin AGAIN — no continuation line here
  // may start with '|' (e.g. a leading '||'), or the second strip
  // eats one pipe and turns concatenation into bitwise OR.
  def bandCteFrom(src: String): String =
    s"""${shingleCteFrom(src)},
       |mh AS (SELECT doc_id, list_transform(range(0, 12),
       |         j -> list_min(list_transform(shingles,
       |                s -> CAST('0x' || substr(md5(CAST(j AS VARCHAR) ||
       |                       '|' || s), 1, 15) AS BIGINT)))) AS mh
       |       FROM sh),
       |bands AS (SELECT doc_id, unnest(range(0, 4)) AS band, mh FROM mh),
       |bk AS (SELECT doc_id, band,
       |         md5(CAST(mh[3*band+1] AS VARCHAR) || '|' ||
       |             CAST(mh[3*band+2] AS VARCHAR) || '|' ||
       |             CAST(mh[3*band+3] AS VARCHAR)) AS band_key
       |       FROM bands)""".stripMargin

  val bandCte = bandCteFrom("documents")

  /** Verified near-dup pairs (jaccard ≥ 0.5) from the banded
    * candidates, as a CTE chain ending in `pairs` — shared by the
    * clusters and pipeline oracles. No continuation line here may
    * start with '|' (double-stripMargin hazard).
    */
  val verifiedPairsCte =
    """cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |         FROM bk a JOIN bk b ON a.band = b.band
      |           AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |card AS (SELECT doc_id, count(*) AS c FROM shx GROUP BY 1),
      |inter AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS n
      |          FROM shx x JOIN shx y ON x.s = y.s AND x.doc_id < y.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT c.id1 AS id1, c.id2 AS id2
      |          FROM cand c JOIN inter i ON c.id1 = i.id1 AND c.id2 = i.id2
      |          JOIN card c1 ON c.id1 = c1.doc_id
      |          JOIN card c2 ON c.id2 = c2.doc_id
      |          WHERE n*1.0/(c1.c + c2.c - n) >= 0.5)""".stripMargin

  /** Undirected transitive closure over `pairs` (linear recursion —
    * paths extend one edge per step, UNION dedups to the fixpoint).
    */
  val closureCte =
    """edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
      |          UNION SELECT id2, id1 FROM pairs),
      |reach AS (
      |  SELECT src AS id, dst AS r FROM edges
      |  UNION
      |  SELECT rc.id, e.dst FROM reach rc JOIN edges e ON rc.r = e.src)"""
      .stripMargin

  /** Exploded-form jaccard for a candidate-pair CTE named `cand`
    * (id1, id2); yields pairs (id1, id2, jaccard) ≥ 0.5.
    */
  val jaccardVerify =
    """shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |card AS (SELECT doc_id, count(*) AS c FROM shx GROUP BY 1),
      |inter AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS n
      |          FROM shx x JOIN shx y ON x.s = y.s AND x.doc_id < y.doc_id
      |          GROUP BY 1, 2)
      |SELECT c.id1 AS id1, c.id2 AS id2,
      |       round(n*1.0/(c1.c + c2.c - n), 4) AS jaccard
      |FROM cand c JOIN inter i ON c.id1 = i.id1 AND c.id2 = i.id2
      |JOIN card c1 ON c.id1 = c1.doc_id JOIN card c2 ON c.id2 = c2.doc_id
      |WHERE n*1.0/(c1.c + c2.c - n) >= 0.5 ORDER BY c.id1, c.id2""".stripMargin

  /** LWW state after replaying the synthetic WAL — shared by the text
    * and binary-framed readers (same log, different physical format).
    */
  val walReplayOracle =
    """WITH logs AS (
        |  SELECT vec_id AS log_id, 1 AS version, 'upsert' AS op,
        |         to_json(struct_pack(id := vec_id, vectors := embedding,
        |           int_field := CAST(label AS BIGINT),
        |           indexType := 'FLAT')) AS j
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, 2, 'upsert',
        |         to_json(struct_pack(id := vec_id, vectors := embedding,
        |           int_field := CAST(label + 100 AS BIGINT),
        |           indexType := 'FLAT'))
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |lines AS (SELECT CAST(log_id AS VARCHAR) || '|' ||
        |                 CAST(version AS VARCHAR) || '|' || op || '|' || j
        |                   AS line FROM logs),
        |parsed AS (SELECT
        |  CAST(string_split(line, '|')[1] AS BIGINT) AS log_id,
        |  CAST(string_split(line, '|')[2] AS BIGINT) AS version,
        |  string_split(line, '|')[3] AS op,
        |  CAST(json_extract(string_split(line, '|')[4], '$.id') AS BIGINT)
        |    AS id,
        |  CAST(json_extract(string_split(line, '|')[4], '$.int_field')
        |    AS BIGINT) AS int_field
        |  FROM lines),
        |r AS (SELECT id, int_field, version, log_id,
        |        row_number() OVER (PARTITION BY id
        |                           ORDER BY version DESC, log_id DESC) AS rk,
        |        count(*) OVER (PARTITION BY id) AS n_log_entries
        |      FROM parsed WHERE op = 'upsert')
        |SELECT id, int_field, version, CAST(n_log_entries AS BIGINT)
        |  AS n_log_entries
        |FROM r WHERE rk = 1 ORDER BY id""".stripMargin

  /** [[walReplayOracle]]'s tombstone twin: the same line-format
    * round-trip with a v3 delete wave (%5) and a v4 resurrection
    * wave (%15); ONE LWW pass over both optypes, tombstone winners
    * erased, n_log_entries counting every record that mentioned the
    * id (deletes included).
    */
  /** Parse + LWW-rank CTE chain over the tombstone-wave synthetic
    * log (through `r`), shared by the delete-replay and compaction
    * oracles. Pre-stripped: interpolate with plain concatenation.
    */
  val walDeleteParsedCtes =
    """logs AS (
        |  SELECT vec_id AS log_id, 1 AS version, 'upsert' AS op,
        |         to_json(struct_pack(id := vec_id, vectors := embedding,
        |           int_field := CAST(label AS BIGINT),
        |           indexType := 'FLAT')) AS j
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, 2, 'upsert',
        |         to_json(struct_pack(id := vec_id, vectors := embedding,
        |           int_field := CAST(label + 100 AS BIGINT),
        |           indexType := 'FLAT'))
        |  FROM embeddings WHERE vec_id % 7 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, 3, 'delete',
        |         to_json(struct_pack(id := vec_id))
        |  FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 300000, 4, 'upsert',
        |         to_json(struct_pack(id := vec_id, vectors := embedding,
        |           int_field := CAST(label + 500 AS BIGINT),
        |           indexType := 'FLAT'))
        |  FROM embeddings WHERE vec_id % 15 = 0),
        |lines AS (SELECT CAST(log_id AS VARCHAR) || '|' ||
        |                 CAST(version AS VARCHAR) || '|' || op || '|' || j
        |                   AS line FROM logs),
        |parsed AS (SELECT
        |  CAST(string_split(line, '|')[1] AS BIGINT) AS log_id,
        |  CAST(string_split(line, '|')[2] AS BIGINT) AS version,
        |  string_split(line, '|')[3] AS op,
        |  CAST(json_extract(string_split(line, '|')[4], '$.id') AS BIGINT)
        |    AS id,
        |  CAST(json_extract(string_split(line, '|')[4], '$.int_field')
        |    AS BIGINT) AS int_field
        |  FROM lines),
        |r AS (SELECT id, int_field, version, log_id, op,
        |        row_number() OVER (PARTITION BY id
        |                           ORDER BY version DESC, log_id DESC) AS rk,
        |        count(*) OVER (PARTITION BY id) AS n_log_entries
        |      FROM parsed WHERE op IN ('upsert', 'delete'))""".stripMargin

  val walDeleteReplayOracle =
    "WITH " + walDeleteParsedCtes +
      """
        |SELECT id, int_field, version, CAST(n_log_entries AS BIGINT)
        |  AS n_log_entries
        |FROM r WHERE rk = 1 AND op <> 'delete' ORDER BY id""".stripMargin

  /** Live LWW state only — compaction collapses n_log_entries to 1
    * by construction, so the compacted replay drops the column.
    */
  val walCompactReplayOracle =
    "WITH " + walDeleteParsedCtes +
      """
        |SELECT id, int_field, version
        |FROM r WHERE rk = 1 AND op <> 'delete' ORDER BY id""".stripMargin

  /** Parse + change-collapse + interval CTE chain of the tombstone
    * log's SCD2 history (through `scd`), shared by the history and
    * retention oracles. Pre-stripped: concatenate, do not re-strip.
    */
  val scd2TombCtes =
    """WITH log AS (
        |  SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
        |         CAST(1 AS BIGINT) AS version, 'upsert' AS op
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id, CAST(label + 100 AS BIGINT), 2, 'upsert'
        |  FROM embeddings WHERE vec_id % 7 = 0
        |  UNION ALL
        |  SELECT vec_id, CAST(label + 100 AS BIGINT), 3, 'upsert'
        |  FROM embeddings WHERE vec_id % 14 = 0
        |  UNION ALL
        |  SELECT vec_id, CAST(label + 300 AS BIGINT), 4, 'upsert'
        |  FROM embeddings WHERE vec_id % 21 = 0
        |  UNION ALL
        |  SELECT vec_id, CAST(NULL AS BIGINT), 5, 'delete'
        |  FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id, CAST(label + 500 AS BIGINT), 6, 'upsert'
        |  FROM embeddings WHERE vec_id % 15 = 0),
        |chg AS (SELECT id, label, version, op,
        |          lag(label) OVER w AS pl, lag(op) OVER w AS po
        |        FROM log
        |        WINDOW w AS (PARTITION BY id ORDER BY version)),
        |keep AS (SELECT id, label, version, op FROM chg
        |         WHERE NOT (label IS NOT DISTINCT FROM pl
        |                AND op IS NOT DISTINCT FROM po)),
        |scd AS (SELECT id, label, op, version AS valid_from,
        |          lead(version) OVER (PARTITION BY id ORDER BY version)
        |            AS valid_to
        |        FROM keep)"""
      .stripMargin


  /** Shared BM25 CTE chain (through ranked results `r`) mirroring
    * Search.bm25TopK exactly: same whitespace tokenization, same
    * integer-derived tf/df/dl/N doubles, same Lucene idf, ranks on
    * the 4dp-ROUNDED score with doc_id tiebreak (raw-double ranking
    * would be sensitive to ln() ulp and summation-order differences
    * between engines). Constants are cast to DOUBLE: bare DuckDB
    * decimal literals would switch the arithmetic to DECIMAL.
    */
  val bm25Ctes: String = bm25CtesWhere("")

  /** The registry's fixed query batch as a q-CTE body (a def:
    * bm25Ctes initializes before this point in the object, and a val
    * here would still be null then).
    */
  def bm25QValues: String =
    """SELECT CAST(qid AS BIGINT) AS qid, qtext FROM (VALUES
      |        (0, 'spark join hash'), (1, 'stream window batch'),
      |        (2, 'dup vector scan'), (3, 'customer order value'),
      |        (4, 'filter sort merge')) v(qid, qtext)""".stripMargin

  /** BM25 CTE chain with an optional candidate restriction appended
    * to the scoring CTE — global statistics (st/idf from all
    * documents) with filtered candidates, the Lucene filter-query
    * semantics Search.bm25TopKFiltered implements.
    */
  def bm25CtesWhere(candWhere: String): String =
    bm25CtesQ(candWhere, bm25QValues, "")

  /** The same chain with a CUSTOM query source (`qSql` becomes the
    * q CTE body) and optional PREFIX CTEs (`pre`, emitted first —
    * e.g. a spell-correction chain q derives from).
    */
  def bm25CtesQ(candWhere: String, qSql: String,
                        pre: String): String =
    s"""${pre}d AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      |      FROM documents WHERE text IS NOT NULL),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
      |       FROM d),
      |q AS ($qSql),
      |qt AS (SELECT DISTINCT qid, term FROM
      |        (SELECT qid, unnest(string_split(qtext, ' ')) AS term FROM q)),
      |terms AS (SELECT DISTINCT term FROM qt),
      |ex AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
      |p AS (SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
      |      FROM ex JOIN terms USING (term) GROUP BY 1, 2, 3),
      |idf AS (SELECT term,
      |               ln((st.n_docs - dfreq + CAST(0.5 AS DOUBLE))
      |                  / (dfreq + CAST(0.5 AS DOUBLE))
      |                  + CAST(1.0 AS DOUBLE)) AS idf,
      |               st.avgdl
      |        FROM (SELECT term, CAST(count(*) AS DOUBLE) AS dfreq
      |              FROM p GROUP BY 1), st),
      |c AS (SELECT qt.qid, p.doc_id,
      |             idf.idf * p.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
      |             / (p.tf + CAST(1.2 AS DOUBLE)
      |                * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |                   + CAST(0.75 AS DOUBLE) * p.dl / idf.avgdl)) AS contrib
      |      FROM p JOIN idf USING (term) JOIN qt USING (term)$candWhere),
      |sc AS (SELECT qid, doc_id, round(sum(contrib), 4) AS score
      |       FROM c GROUP BY 1, 2),
      |r AS (SELECT qid, doc_id, score,
      |             row_number() OVER (PARTITION BY qid
      |                                ORDER BY score DESC, doc_id) AS rk
      |      FROM sc)""".stripMargin

  // ---------------------------------------------------------------- ANN
  // DuckDB mirrors of the deterministic ANN pipelines (Ann.scala).
  // Every stage is a pure function: stride-sampled init, Lloyd means
  // ROUNDED to 6dp then cast through FLOAT (independent of summation
  // order on both engines), argmin with (cd, cell) tiebreak, probe
  // slice, exact cosine rerank on (score, id). list_inner_product's
  // strict left-to-right summation matches VecDot (the same reason
  // dedup_embedding_cos's sign-of-dot bucket decisions hash-match).
  // Fragments are single-line to dodge the double-stripMargin hazard.

  /** Negated-cosine centroid distance with NULL→2.0 coalesce —
    * mirrors Ann.centroidDists: rowNorm * centNorm product order,
    * zero denom → 2.0 (worse than any real negated cosine).
    */
  def ivfCd(v: String, cv: String): String =
    s"coalesce(CASE WHEN sqrt(list_inner_product($v, $v)) * " +
      s"sqrt(list_inner_product($cv, $cv)) = 0 THEN NULL " +
      s"ELSE -(list_inner_product($v, $cv) / (sqrt(list_inner_product($v, $v)) * " +
      s"sqrt(list_inner_product($cv, $cv)))) END, CAST(2.0 AS DOUBLE))"

  /** One argmin assignment round (Ann.assignTo): nearest centroid by
    * (cd, cell) over the current centroid set `cents`.
    */
  def ivfAssignCte(a: String, cents: String): String =
    s"$a AS (SELECT id, v, cell FROM (SELECT e.id, e.v, c.cell, " +
      s"row_number() OVER (PARTITION BY e.id ORDER BY ${ivfCd("e.v", "c.cv")}, c.cell) AS rn " +
      s"FROM e CROSS JOIN $cents c) WHERE rn = 1)"

  /** One Lloyd mean round (Ann.cellMeans): per-(cell, dim) mean
    * rounded to 6dp and cast through FLOAT — the float round-trip is
    * what the Spark side stores, so the next round's doubles agree.
    * Rows with a non-finite component (non-finite squared norm) are
    * left out, as on the Spark side.
    */
  def ivfMeanCte(c: String, a: String): String =
    s"$c AS (SELECT cell, list(m ORDER BY dim) AS cv FROM (" +
      s"SELECT cell, dim, CAST(CAST(round(avg(x), 6) AS FLOAT) AS DOUBLE) AS m " +
      s"FROM (SELECT t.cell, i.i AS dim, t.v[i.i] AS x FROM $a t CROSS JOIN " +
      s"(SELECT unnest(range(1, 65)) AS i) i " +
      s"WHERE isfinite(list_inner_product(t.v, t.v))) GROUP BY cell, dim) GROUP BY cell)"

  /** Shared IVF chain (stride=200, 2 Lloyd iters, nprobe=2): final
    * assignment `af`, probe set `pr` (2 nearest cells per query).
    */
  val ivfCtes: String = Seq(
    "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
    "q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5)",
    "c0 AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 200 = 0)",
    ivfAssignCte("a1", "c0"),
    ivfMeanCte("c1", "a1"),
    ivfAssignCte("a2", "c1"),
    ivfMeanCte("c2", "a2"),
    ivfAssignCte("af", "c2"),
    s"pr AS (SELECT qid, cell FROM (SELECT q.qid, c.cell, " +
      s"row_number() OVER (PARTITION BY q.qid ORDER BY ${ivfCd("q.qv", "c.cv")}, c.cell) AS rn " +
      s"FROM q CROSS JOIN c2 c) WHERE rn <= 2)"
  ).mkString(",\n")

  /** [[ivfCtes]] with EVERY vector as a query (the corpus-wide kNN
    * graph) and the self-edge excluded at scoring: same training
    * chain, graph edges provably agree with single-query ivf answers.
    */
  val ivfGraphCtes: String = Seq(
    "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
    "q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings)",
    "c0 AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 200 = 0)",
    ivfAssignCte("a1", "c0"),
    ivfMeanCte("c1", "a1"),
    ivfAssignCte("a2", "c1"),
    ivfMeanCte("c2", "a2"),
    ivfAssignCte("af", "c2"),
    s"pr AS (SELECT qid, cell FROM (SELECT q.qid, c.cell, " +
      s"row_number() OVER (PARTITION BY q.qid ORDER BY ${ivfCd("q.qv", "c.cv")}, c.cell) AS rn " +
      s"FROM q CROSS JOIN c2 c) WHERE rn <= 2)",
    """gr AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid
      |    ORDER BY s DESC, id) AS rk FROM (
      |  SELECT pr.qid, a.id, list_cosine_similarity(a.v, q.qv) AS s
      |  FROM af a JOIN pr ON a.cell = pr.cell JOIN q ON pr.qid = q.qid
      |  WHERE a.id <> pr.qid) WHERE s IS NOT NULL)""".stripMargin
  ).mkString(",\n")

  /** NSW beam-round CTE chain (beam=16, graphK=8) over the knn-graph
    * CTE `gr`, for the query set selected by `qqWhere` on embeddings
    * — shared by the standalone ann_nsw oracle and the routed batch
    * API's HNSW leg, so the two cannot drift.
    *
    * @param pfx prefix for every emitted CTE name — lets one oracle
    *            instantiate the chain per EFFORT CLASS (the
    *            heterogeneous-ef routed batch: a 1-round chain and a
    *            3-round chain side by side; per-query trajectories
    *            are qid-partitioned, so per-class chains ≡ the Spark
    *            side's single gated loop)
    * @param rounds beam rounds to unroll (the per-request budget
    *               ⌈ef/beam⌉, capped)
    * @param emitBase emit the shared g8/ed edge CTEs (false when a
    *                 previous instantiation already defined them)
    */
  def nswBeamCtes(qqWhere: String, pfx: String = "",
                          rounds: Int = 3,
                          emitBase: Boolean = true): String = {
    val beam = 16
    val sb = new StringBuilder
    if (emitBase) sb.append(
      s"""g8 AS (SELECT qid, id FROM gr WHERE rk <= 8),
         |ed AS (SELECT qid AS src, id AS dst FROM g8
         |       UNION SELECT id, qid FROM g8),
         |""".stripMargin)
    sb.append(
      s"""${pfx}qq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
         |       FROM embeddings WHERE $qqWhere),
         |${pfx}prq AS (SELECT qid, cell FROM (SELECT ${pfx}qq.qid, c.cell,
         |         row_number() OVER (PARTITION BY ${pfx}qq.qid
         |           ORDER BY ${ivfCd(s"${pfx}qq.qv", "c.cv")}, c.cell) AS rn
         |       FROM ${pfx}qq CROSS JOIN c2 c) WHERE rn <= 2),
         |${pfx}bs0 AS (SELECT ${pfx}prq.qid, a.id,
         |         list_cosine_similarity(a.v, ${pfx}qq.qv) AS s
         |       FROM af a JOIN ${pfx}prq ON a.cell = ${pfx}prq.cell
         |       JOIN ${pfx}qq ON ${pfx}prq.qid = ${pfx}qq.qid),
         |${pfx}bf0 AS (SELECT qid, id, s FROM (SELECT *, row_number() OVER (
         |         PARTITION BY qid ORDER BY s DESC, id) AS rk
         |       FROM ${pfx}bs0 WHERE s IS NOT NULL) WHERE rk <= $beam)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        |${pfx}bc$r AS (SELECT f.qid, ed.dst AS id FROM ${pfx}bf$p f
        |         JOIN ed ON f.id = ed.src
        |       UNION SELECT qid, id FROM ${pfx}bf$p),
        |${pfx}bs$r AS (SELECT c.qid, c.id,
        |         list_cosine_similarity(e.v, ${pfx}qq.qv) AS s
        |       FROM ${pfx}bc$r c JOIN e ON c.id = e.id
        |       JOIN ${pfx}qq ON c.qid = ${pfx}qq.qid),
        |${pfx}bf$r AS (SELECT qid, id, s FROM (SELECT *, row_number() OVER (
        |         PARTITION BY qid ORDER BY s DESC, id) AS rk
        |       FROM ${pfx}bs$r WHERE s IS NOT NULL) WHERE rk <= $beam)""".stripMargin)
    }
    sb.toString
  }

  /** Hierarchical-NSW mirror (Ann.hnswSearch): md5-derived geometric
    * levels (P[lvl ≥ l] = 8^-l, nested, capped at 4), per-layer kNN
    * edge CTEs blocked by the shared IVF cells with
    * density-compensated probe widths (2·8^l cells ⇒ ≈ 2·stride
    * candidates per node at every layer), single-entry descent
    * (max lvl, min id) through layers 4→1 at beam 8, then the base
    * 3-round beam-16 loop over the `gr` graph. Empty layers (no
    * nodes at that level in a small corpus) expand to nothing and
    * the UNION carry keeps the frontier — the same identity step the
    * Spark loop takes.
    */
  /** @param emitBase emit the shared g8/ed base-edge CTEs (false
    *                  when composing after [[nswBeamCtes]], which
    *                  already defined them identically)
    *  @param qq name for the query CTE (rename when the default
    *            clashes in a composed oracle)
    */
  def hnswBeamCtes(qqWhere: String, emitBase: Boolean = true,
                           qq: String = "qq"): String = {
    val beamU = 8
    val beam = 16
    val sb = new StringBuilder
    if (emitBase) sb.append(
      s"""g8 AS (SELECT qid, id FROM gr WHERE rk <= 8),
         |ed AS (SELECT qid AS src, id AS dst FROM g8
         |       UNION SELECT id, qid FROM g8),
         |""".stripMargin)
    sb.append(
      s"""lv AS (SELECT id, CASE WHEN h % 4096 = 0 THEN 4
         |         WHEN h % 512 = 0 THEN 3 WHEN h % 64 = 0 THEN 2
         |         WHEN h % 8 = 0 THEN 1 ELSE 0 END AS lvl
         |       FROM (SELECT id, CAST('0x' || substr(md5(CAST(id AS VARCHAR)),
         |         1, 15) AS BIGINT) AS h FROM e)),
         |ent AS (SELECT e.id FROM e JOIN lv ON e.id = lv.id
         |        ORDER BY lv.lvl DESC, e.id LIMIT 1),
         |$qq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
         |       FROM embeddings WHERE $qqWhere)""".stripMargin)
    for (l <- 1 to 4) {
      val np = 2 * math.pow(8, l).toInt
      sb.append(s""",
        |nl$l AS (SELECT e.id, e.v FROM e JOIN lv ON e.id = lv.id
        |       WHERE lv.lvl >= $l),
        |pl$l AS (SELECT qid, qv, cell FROM (SELECT n.id AS qid, n.v AS qv,
        |         c.cell, row_number() OVER (PARTITION BY n.id
        |           ORDER BY ${ivfCd("n.v", "c.cv")}, c.cell) AS rn
        |       FROM nl$l n CROSS JOIN c2 c) WHERE rn <= $np),
        |gl$l AS (SELECT src, dst FROM (SELECT qid AS src, id AS dst,
        |         row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rk
        |       FROM (SELECT p.qid, a.id, list_cosine_similarity(a.v, p.qv) AS s
        |             FROM pl$l p JOIN af a ON a.cell = p.cell
        |             JOIN nl$l m ON a.id = m.id
        |             WHERE a.id <> p.qid) WHERE s IS NOT NULL) WHERE rk <= 8),
        |el$l AS (SELECT src, dst FROM gl$l
        |       UNION SELECT dst, src FROM gl$l)""".stripMargin)
    }
    sb.append(s""",
      |hs5 AS (SELECT $qq.qid, ent.id, list_cosine_similarity(e.v, $qq.qv)
      |         AS s
      |       FROM $qq CROSS JOIN ent JOIN e ON e.id = ent.id),
      |hf5 AS (SELECT qid, id, s FROM (SELECT *, row_number() OVER (
      |         PARTITION BY qid ORDER BY s DESC, id) AS rk
      |       FROM hs5 WHERE s IS NOT NULL) WHERE rk <= $beamU)""".stripMargin)
    for (l <- 4 to 1 by -1) {
      val p = l + 1
      sb.append(s""",
        |hc$l AS (SELECT f.qid, el.dst AS id FROM hf$p f
        |         JOIN el$l el ON f.id = el.src
        |       UNION SELECT qid, id FROM hf$p),
        |hs$l AS (SELECT c.qid, c.id, list_cosine_similarity(e.v, $qq.qv)
        |         AS s
        |       FROM hc$l c JOIN e ON c.id = e.id
        |       JOIN $qq ON c.qid = $qq.qid),
        |hf$l AS (SELECT qid, id, s FROM (SELECT *, row_number() OVER (
        |         PARTITION BY qid ORDER BY s DESC, id) AS rk
        |       FROM hs$l WHERE s IS NOT NULL) WHERE rk <= $beamU)""".stripMargin)
    }
    for (r <- 1 to 3) {
      val prev = if (r == 1) "hf1" else s"hbf${r - 1}"
      sb.append(s""",
        |hbc$r AS (SELECT f.qid, ed.dst AS id FROM $prev f
        |         JOIN ed ON f.id = ed.src
        |       UNION SELECT qid, id FROM $prev),
        |hbs$r AS (SELECT c.qid, c.id, list_cosine_similarity(e.v, $qq.qv)
        |         AS s
        |       FROM hbc$r c JOIN e ON c.id = e.id
        |       JOIN $qq ON c.qid = $qq.qid),
        |hbf$r AS (SELECT qid, id, s FROM (SELECT *, row_number() OVER (
        |         PARTITION BY qid ORDER BY s DESC, id) AS rk
        |       FROM hbs$r WHERE s IS NOT NULL) WHERE rk <= $beam)""".stripMargin)
    }
    sb.toString
  }

  val hnswOracle: String =
    s"""WITH $ivfGraphCtes,
       |${hnswBeamCtes("vec_id < 5")}
       |SELECT qid, rk, id AS nn_id, round(s, 4) AS score
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |        ORDER BY s DESC, id) AS rk FROM hbf3)
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** NSW beam-search mirror (Ann.nswSearch k=10 beam=16 rounds=3
    * graphK=8): the knn-graph CTEs provide `gr`; each beam round is
    * an unrolled expand-union-rescore-cut CTE block, exactly the
    * fixed-depth iteration the Spark side runs.
    */
  val nswOracle: String =
    s"""WITH $ivfGraphCtes,
       |${nswBeamCtes("vec_id < 5")}
       |SELECT qid, rk, id AS nn_id, round(s, 4) AS score
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |        ORDER BY s DESC, id) AS rk FROM bf3)
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** IVF search result: probed cells' members, exact cosine, top-10
    * per query on (score DESC, id) — Ann.ivfSearch / ivfSearchIndexed
    * produce identical results by construction (same centroids), so
    * both share this oracle.
    */
  /** MMR rerank mirror (Search.mmrRerank, λ=1/2 ⇒ argmax(rel − pen),
    * k=5 over the cosine top-20): recursive CTE terms cannot
    * aggregate, so the k greedy steps unroll as chained CTEs — step n
    * anti-joins the selected set, takes each survivor's max 4dp sim
    * to it as the penalty, and picks argmax (rel − pen, id asc).
    */
  val mmrOracle: String = {
    val base =
      """q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 5),
        |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
        |      FROM embeddings),
        |d AS (SELECT q.qid, e.id, list_cosine_similarity(e.v, q.qv) AS s
        |      FROM e CROSS JOIN q),
        |r AS (SELECT qid, id, s, row_number() OVER (PARTITION BY qid
        |        ORDER BY s DESC, id) AS rk
        |      FROM d WHERE s IS NOT NULL),
        |c AS (SELECT qid, id, round(s, 4) AS rel FROM r WHERE rk <= 20),
        |p AS (SELECT a.qid, a.id AS id1, b.id AS id2,
        |             round(list_cosine_similarity(ea.v, eb.v), 4) AS sim
        |      FROM c a JOIN c b ON a.qid = b.qid AND a.id <> b.id
        |      JOIN e ea ON ea.id = a.id JOIN e eb ON eb.id = b.id),
        |s1 AS (SELECT qid, id, rel AS mmr FROM (
        |         SELECT qid, id, rel, row_number() OVER (
        |           PARTITION BY qid ORDER BY rel DESC, id) AS rn
        |         FROM c) WHERE rn = 1)""".stripMargin
    val steps = (2 to 5).map { n =>
      val prevSel = (1 until n)
        .map(i => s"SELECT qid, id FROM s$i").mkString(" UNION ALL ")
      s"""sel$n AS ($prevSel),
         |s$n AS (SELECT qid, id, mmr FROM (
         |  SELECT g.qid, g.id, g.mmr, row_number() OVER (
         |    PARTITION BY g.qid ORDER BY g.mmr DESC, g.id) AS rn
         |  FROM (SELECT cc.qid, cc.id, cc.rel - max(pp.sim) AS mmr
         |        FROM c cc
         |        JOIN p pp ON pp.qid = cc.qid AND pp.id1 = cc.id
         |        JOIN sel$n sl ON sl.qid = pp.qid AND sl.id = pp.id2
         |        WHERE NOT EXISTS (SELECT 1 FROM sel$n x
         |                          WHERE x.qid = cc.qid AND x.id = cc.id)
         |        GROUP BY cc.qid, cc.id, cc.rel) g) WHERE rn = 1)"""
        .stripMargin
    }
    val finals = (1 to 5).map(i =>
      s"SELECT qid, CAST($i AS BIGINT) AS rk, id AS doc_id, " +
        s"round(mmr, 4) AS mmr_score FROM s$i").mkString("\nUNION ALL\n")
    s"WITH $base,\n${steps.mkString(",\n")}\n$finals\nORDER BY qid, rk"
  }

  /** Sparse tf·idf² dot over the bm25 chain's p/idf/qt — shared by
    * the on-the-fly and persisted-index forms (equal by construction,
    * the text_bm25_indexed precedent). A def: the bm25 CTE builders
    * below it are defs too, and a val here would initialize first.
    */
  def sparseOracle: String =
    s"""WITH $bm25Ctes,
       |sp AS (SELECT qt.qid, p.doc_id,
       |         p.tf * (idf.idf * idf.idf) AS contrib
       |       FROM p JOIN idf USING (term) JOIN qt USING (term)),
       |ssc AS (SELECT qid, doc_id, round(sum(contrib), 4) AS score
       |        FROM sp GROUP BY 1, 2),
       |ssr AS (SELECT qid, doc_id, score,
       |          row_number() OVER (PARTITION BY qid
       |            ORDER BY score DESC, doc_id) AS rk
       |        FROM ssc)
       |SELECT qid, rk, doc_id, score FROM ssr WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin

  val ivfOracle: String =
    s"""WITH $ivfCtes,
       |sc AS (SELECT pr.qid, a.id, list_cosine_similarity(a.v, q.qv) AS s
       |       FROM af a JOIN pr ON a.cell = pr.cell JOIN q ON pr.qid = q.qid),
       |r AS (SELECT qid, id, s,
       |             row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rk
       |      FROM sc WHERE s IS NOT NULL)
       |SELECT qid, rk, id AS nn_id, round(s, 4) AS score
       |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  // ---------------------------------------------------------------- PQ
  // DuckDB mirrors of the deterministic product-quantization pipeline
  // (Pq.scala): per-subspace codebooks from lowest-16 stride-sampled
  // init + 2 Lloyd rounds (6dp float-round-tripped means), argmin
  // encode with (dist, cid) tiebreak, ADC distance against the
  // flattened reconstruction, exact rerank. Squared distances are
  // list_inner_product(d, d) over the diff list — the same strict
  // left-to-right fold the codegen accumulator runs.

  def pqSqDist(a: String, b: String, n: Int): String =
    s"list_inner_product(list_transform(range(1, $n), j -> $a[j] - $b[j]), " +
      s"list_transform(range(1, $n), j -> $a[j] - $b[j]))"

  /** `src` is the training/encoding vector table — `e` for the raw
    * family, `er` (cell residuals) for by_residual=true.
    */
  def pqBaseSrc(src: String, x: String = ""): Seq[String] = Seq(
    s"${x}psub AS (SELECT unnest(range(8)) AS sub)",
    s"${x}psamp AS (SELECT v, cid FROM (SELECT v, row_number() OVER (ORDER BY id) - 1 AS cid " +
      s"FROM $src WHERE id % 25 = 0) WHERE cid <= 15)",
    s"${x}pcb0 AS (SELECT sub, cid, list_transform(range(1, 9), j -> v[sub*8 + j]) AS cw " +
      s"FROM ${x}psamp CROSS JOIN ${x}psub)",
    s"${x}pev AS (SELECT id, sub, list_transform(range(1, 9), j -> v[sub*8 + j]) AS sv " +
      s"FROM $src CROSS JOIN ${x}psub)")

  /** One encode round (PqUtils.encode): nearest codeword per
    * (id, sub) by squared L2 with (dist, cid) tiebreak.
    */
  def pqAssignCte(a: String, cb: String, x: String = ""): String =
    s"$a AS (SELECT id, sub, cid FROM (SELECT pev.id, pev.sub, cb.cid, " +
      s"row_number() OVER (PARTITION BY pev.id, pev.sub ORDER BY " +
      s"${pqSqDist("pev.sv", "cb.cw", 9)}, cb.cid) AS rn " +
      s"FROM ${if (x.isEmpty) "pev" else s"${x}pev pev"} JOIN $cb cb ON pev.sub = cb.sub) WHERE rn = 1)"

  /** One Lloyd mean round (Pq.trainCodebook): per-(sub, cid, j) mean
    * rounded to 6dp and cast through FLOAT.
    */
  def pqMeanCte(mName: String, a: String, x: String = ""): String =
    s"$mName AS (SELECT sub, cid, list(mm ORDER BY j) AS cw FROM (" +
      s"SELECT a.sub, a.cid, jj.j, " +
      s"CAST(CAST(round(avg(pev.sv[jj.j]), 6) AS FLOAT) AS DOUBLE) AS mm " +
      s"FROM $a a JOIN ${if (x.isEmpty) "pev" else s"${x}pev pev"} ON a.id = pev.id AND a.sub = pev.sub " +
      s"CROSS JOIN (SELECT unnest(range(1, 9)) AS j) jj " +
      s"GROUP BY a.sub, a.cid, jj.j) GROUP BY sub, cid)"

  /** Codewords with no members keep their previous value. */
  def pqStepCte(cbN: String, mN: String, prev: String): String =
    s"$cbN AS (SELECT p.sub, p.cid, coalesce(n.cw, p.cw) AS cw " +
      s"FROM $prev p LEFT JOIN $mN n ON p.sub = n.sub AND p.cid = n.cid)"

  /** Shared PQ chain (stride=25, ksub=16, 2 Lloyd iters): trained
    * codebook `pcb2`, final codes `paf`, flattened per-id
    * reconstruction `prec`. Expects an `e(id, v)` CTE in scope.
    */
  def pqCtesSrc(src: String, x: String = ""): String = (pqBaseSrc(src, x) ++ Seq(
    pqAssignCte(s"${x}pa1", s"${x}pcb0", x), pqMeanCte(s"${x}pm1", s"${x}pa1", x),
    pqStepCte(s"${x}pcb1", s"${x}pm1", s"${x}pcb0"),
    pqAssignCte(s"${x}pa2", s"${x}pcb1", x), pqMeanCte(s"${x}pm2", s"${x}pa2", x),
    pqStepCte(s"${x}pcb2", s"${x}pm2", s"${x}pcb1"),
    pqAssignCte(s"${x}paf", s"${x}pcb2", x),
    s"${x}prec AS (SELECT paf.id, flatten(list(c.cw ORDER BY paf.sub)) AS rv " +
      s"FROM ${if (x.isEmpty) "paf" else s"${x}paf paf"} JOIN ${x}pcb2 c ON paf.sub = c.sub AND paf.cid = c.cid " +
      "GROUP BY paf.id)"
  )).mkString(",\n")

  def pqCtes: String = pqCtesSrc("e")

  /** OPQ dimension assignment (Pq.opqPerm): |corr| quantized to 1e-6
    * integer units off the exact micro moments (the Pca mirror's
    * em/ex/sv/mm shapes), then 8 UNROLLED greedy rounds — seed = the
    * remaining dim with the largest integer |corr| sum to the rest
    * (ties → smallest j), plus its 7 most-correlated remaining
    * partners (ties → smallest k) — yielding the slot-ordered
    * permutation list `opl.pl`. All comparisons are BIGINT-exact, so
    * the greedy replays bit-identically across engines; floor(x·1e6
    * + 0.5) is IEEE floor on the same double both sides.
    */
  val opqCtes: String = {
    val moments = Seq(
      "oem AS (SELECT id, list_transform(v, x -> CAST(round(x * 10000) AS BIGINT)) AS m FROM e)",
      "oex AS (SELECT id, j.j AS j, m[j.j + 1] AS v FROM oem CROSS JOIN (SELECT unnest(range(64)) AS j) j)",
      "onn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM oem)",
      "osv AS (SELECT j, CAST(sum(v) AS BIGINT) AS s FROM oex GROUP BY 1)",
      "omm AS (SELECT a.j AS j, b.j AS k, CAST(sum(a.v * b.v) AS BIGINT) AS m FROM oex a JOIN oex b ON a.id = b.id GROUP BY 1, 2)",
      "onv AS (SELECT mm.j AS j, nn.n * mm.m - sv.s * sv.s AS nv FROM omm mm JOIN osv sv ON mm.j = sv.j CROSS JOIN onn nn WHERE mm.j = mm.k)",
      "oca AS (SELECT mm.j, mm.k, CAST(floor(abs(CAST(nn.n * mm.m - sa.s * sb.s AS DOUBLE) / sqrt(CAST(na.nv AS DOUBLE) * CAST(nb.nv AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS a FROM omm mm JOIN osv sa ON mm.j = sa.j JOIN osv sb ON mm.k = sb.j JOIN onv na ON mm.j = na.j JOIN onv nb ON mm.k = nb.j CROSS JOIN onn nn WHERE mm.j <> mm.k)",
      "orem0 AS (SELECT unnest(range(64)) AS j)")
    val steps = (0 until 8).flatMap { g =>
      val rem = s"orem$g"
      Seq(
        s"osc$g AS (SELECT c.j, CAST(sum(c.a) AS BIGINT) AS sc FROM oca c JOIN $rem r1 ON c.j = r1.j JOIN $rem r2 ON c.k = r2.j GROUP BY c.j)",
        s"osd$g AS (SELECT j FROM osc$g ORDER BY sc DESC, j LIMIT 1)",
        s"ogb$g AS (SELECT c.k AS j, row_number() OVER (ORDER BY c.a DESC, c.k) AS rk FROM oca c JOIN osd$g sd ON c.j = sd.j JOIN $rem r ON c.k = r.j)",
        s"og$g AS (SELECT j, ${g * 8} AS slot FROM osd$g UNION ALL SELECT j, ${g * 8} + rk AS slot FROM ogb$g WHERE rk <= 7)") ++
        (if (g < 7)
          Seq(s"orem${g + 1} AS (SELECT r.j FROM $rem r WHERE r.j NOT IN (SELECT j FROM og$g))")
        else Nil)
    }
    val perm = Seq(
      "opl AS (SELECT list(j ORDER BY slot) AS pl FROM (" +
        (0 until 8).map(g => s"SELECT j, slot FROM og$g")
          .mkString(" UNION ALL ") + "))")
    (moments ++ steps ++ perm).mkString(",\n")
  }

  /** Sign-LSH search mirror; `multiprobe` adds the Hamming-1 probe
    * expansion on the query side (xor one bit per probe).
    */
  def lshOracle(multiprobe: Boolean): String =
    s"""WITH ${lshCtes(multiprobe)}
       |SELECT qid, rk, id AS nn_id, round(s, 4) AS score
       |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** The LSH chain up to the ranked candidates `r` — shared by the
    * search oracle and the recall report.
    */
  def lshCtes(multiprobe: Boolean): String = {
    val probeSrc = if (multiprobe) "qp" else "qs"
    val qpCte = if (multiprobe)
      """qp AS (SELECT qid, t,
        |  unnest([xor(sig, 1), xor(sig, 2), xor(sig, 4), xor(sig, 8),
        |          sig]) AS sig FROM qs),
        |""".stripMargin
    else ""
    s"""hpw AS (
       |  SELECT t, p, d,
       |    ((CAST('0x' || substr(md5(CAST(t AS VARCHAR) || '|' ||
       |        CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 8)
       |        AS BIGINT) & 2147483647) / 2147483647.0 * 2.0 - 1.0) AS w
       |  FROM range(4) r1(t) CROSS JOIN range(4) r2(p)
       |       CROSS JOIN range(64) r3(d)),
       |hp AS (SELECT t, p, list(w ORDER BY d) AS wv FROM hpw GROUP BY t, p),
       |e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 5),
       |ds AS (SELECT e.id, hp.t,
       |         sum(CASE WHEN list_inner_product(e.v, hp.wv) > 0
       |               THEN 1 << p ELSE 0 END) AS sig
       |       FROM e CROSS JOIN hp GROUP BY e.id, hp.t),
       |qs AS (SELECT q.qid, hp.t,
       |         sum(CASE WHEN list_inner_product(q.qv, hp.wv) > 0
       |               THEN 1 << p ELSE 0 END) AS sig
       |       FROM q CROSS JOIN hp GROUP BY q.qid, hp.t),
       |${qpCte}cand AS (SELECT DISTINCT pr.qid, ds.id
       |         FROM ds JOIN $probeSrc pr ON ds.t = pr.t AND ds.sig = pr.sig),
       |sc AS (SELECT c.qid, c.id, list_cosine_similarity(e.v, q.qv) AS s
       |       FROM cand c JOIN e ON c.id = e.id JOIN q ON c.qid = q.qid),
       |r AS (SELECT qid, id, s,
       |             row_number() OVER (PARTITION BY qid ORDER BY s DESC, id)
       |               AS rk
       |      FROM sc WHERE s IS NOT NULL)""".stripMargin
  }

  /** Spell-correction mirror (naive levenshtein join on the tiny
    * query side; the Spark paths use SymSpell deletion blocking) —
    * shared by the on-the-fly and persisted-index forms, which are
    * equal by construction (SearchSpec pins it).
    */
  /** Truncated-Holt recursive chain ending in `f` (event_type, d,
    * l, b) with `dense` (the zero-filled daily grid) alive — shared
    * by the forecast surface and the head-to-head backtest so the
    * recursion cannot drift. Interpolated into outer stripMargin
    * strings: no continuation line starts with '|'.
    */
  val holtCtes: String = Seq(
    "ev AS (SELECT event_type, CAST(ts AS DATE) - DATE '1970-01-01' " +
      "AS d FROM events)",
    "b AS (SELECT min(d) AS lo, max(d) AS hi FROM ev)",
    "cal AS (SELECT unnest(range(lo, hi + 1)) AS d FROM b)",
    "ty AS (SELECT DISTINCT event_type FROM ev)",
    "daily AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n " +
      "FROM ev GROUP BY 1, 2)",
    "dense AS (SELECT ty.event_type, cal.d, coalesce(daily.n, 0) AS n " +
      "FROM ty CROSS JOIN cal LEFT JOIN daily " +
      "ON daily.event_type = ty.event_type AND daily.d = cal.d)",
    "w AS (SELECT a.event_type, a.d, list(r.n ORDER BY r.d) AS ws " +
      "FROM dense a JOIN dense r ON a.event_type = r.event_type " +
      "AND r.d BETWEEN a.d - 13 AND a.d GROUP BY 1, 2)",
    "rec AS (SELECT event_type, d, ws, 2 AS step, " +
      "ws[1] * 1000000 AS l, CAST(0 AS BIGINT) AS b FROM w " +
      "UNION ALL SELECT event_type, d, ws, step + 1, " +
      "(ws[step] * 1000000 + l + b + 1) // 2, " +
      "(((ws[step] * 1000000 + l + b + 1) // 2) - l + 3 * b + 2) // 4 " +
      "FROM rec WHERE step <= len(ws))",
    "f AS (SELECT event_type, d, l, b FROM rec WHERE step = len(ws) + 1)"
  ).mkString(",\n")

  /** Wildcard/prefix retrieval — shared by the on-the-fly and the
    * persisted-dictionary twins so the two cannot drift.
    */
  val prefixOracle: String =
    """WITH p AS (SELECT * FROM (VALUES (0, 'sc'), (1, 'st'),
      |             (2, 'co'), (3, 'fas'), (4, 'sor'))
      |           AS t(qid, prefix)),
      |tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT)
      |         AS tf
      |       FROM (SELECT doc_id, unnest(string_split(text, ' '))
      |               AS tok FROM documents)
      |       GROUP BY 1, 2),
      |m AS (SELECT p.qid, p.prefix, tf.doc_id, tf.tf
      |      FROM tf JOIN p
      |        ON substr(tf.term, 1, 2) = substr(p.prefix, 1, 2)
      |       AND starts_with(tf.term, p.prefix)),
      |d AS (SELECT qid, prefix, doc_id,
      |        CAST(sum(tf) AS BIGINT) AS score,
      |        CAST(count(*) AS BIGINT) AS n_terms
      |      FROM m GROUP BY 1, 2, 3),
      |r AS (SELECT qid, prefix, doc_id, score, n_terms,
      |        CAST(row_number() OVER (PARTITION BY qid
      |          ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      |      FROM d)
      |SELECT qid, prefix, rk, doc_id, score, n_terms
      |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  def spellOracle: String = {
    val pre =
      """tq(qid, pos, term) AS (SELECT * FROM (VALUES
        |    (0, 0, 'spark'), (0, 1, 'joim'), (0, 2, 'hash'),
        |    (1, 0, 'strean'), (1, 1, 'window'), (1, 2, 'batch'),
        |    (2, 0, 'dup'), (2, 1, 'vectar'), (2, 2, 'scan'),
        |    (3, 0, 'customer'), (3, 1, 'ordr'), (3, 2, 'value'),
        |    (4, 0, 'filtes'), (4, 1, 'sort'), (4, 2, 'merge'))),
        |vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS dfreq FROM
        |    (SELECT DISTINCT doc_id, t FROM (SELECT doc_id,
        |       unnest(string_split(text, ' ')) AS t FROM documents))
        |    GROUP BY t),
        |fcand AS (SELECT q.qid, q.pos, v.t, v.dfreq
        |          FROM tq q JOIN vocab v
        |            ON levenshtein(v.t, q.term) = 1),
        |fbest AS (SELECT qid, pos, t FROM (SELECT qid, pos, t,
        |            row_number() OVER (PARTITION BY qid, pos
        |              ORDER BY dfreq DESC, t) AS rn FROM fcand)
        |          WHERE rn = 1),
        |corr0 AS (SELECT q.qid, q.pos,
        |            CASE WHEN v0.t IS NOT NULL THEN q.term
        |                 ELSE coalesce(b.t, q.term) END AS corr
        |          FROM tq q
        |          LEFT JOIN (SELECT DISTINCT t FROM vocab) v0
        |            ON v0.t = q.term
        |          LEFT JOIN fbest b
        |            ON b.qid = q.qid AND b.pos = q.pos),
        |qc AS (SELECT CAST(qid AS BIGINT) AS qid,
        |         string_agg(corr, ' ' ORDER BY pos) AS qtext
        |       FROM corr0 GROUP BY qid),
        |""".stripMargin
    s"""WITH ${bm25CtesQ("", "SELECT qid, qtext FROM qc", pre)}
       |SELECT qid, rk, doc_id, score FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin
  }

  /** The health-dashboard capstone composes five member oracles as
    * subqueries of the SAME strings the members register — the
    * composition cannot drift from its parts by construction.
    */
}
