package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BPE TOKENIZER TRAINING — the byte-pair-encoding merge-learning
  * loop (Sennrich et al. 2016; the algorithm under GPT/Llama
  * tokenizers) as a sequence of vocab-sized Spark plans.
  *
  * The scale insight is the one production trainers (HuggingFace
  * tokenizers, SentencePiece BPE) are built on: BPE statistics are a
  * function of WORD TYPES × frequency, not of corpus positions. The
  * corpus is scanned ONCE to build the word-frequency table
  * (vocab-sized — grows sub-linearly in the corpus); every merge
  * round (adjacent-pair counting, argmax, greedy rewrite) runs over
  * that table. At 100 TB the training loop never touches the corpus
  * again — the same "heavy pass once, iterate on the summary" split
  * the sketch family and k-means use.
  *
  * Representation: words stay EXPLODED as a positional symbol table
  * (word, cnt, pos, s) across rounds — pair counts are a `lead`
  * window + partial agg, and a merge round rewrites rows in place
  * (selected position takes the merged symbol, its successor row is
  * dropped; surviving `pos` values keep their order, gaps are fine).
  * No string re-assembly, no ordered-collect aggregates.
  *
  * Greedy-left selection is exact, including same-symbol runs
  * ("a a a a a" merging (a,a) → "aa aa a", never "aa a aa"):
  * overlapping candidate pairs exist only in runs of consecutive
  * matches (which force a = b), and greedy keeps every ODD match of
  * each maximal run. Run parity is closed-form over two cumulative
  * windows — rnm = running match count, lastnm = rnm at the most
  * recent non-match row — selected ⇔ (rnm − lastnm) is odd. The
  * sequential "skip if the previous pair merged" rule becomes pure
  * window algebra both engines evaluate identically.
  *
  * Determinism contract (oracle hash-match): pair counts are exact
  * BIGINTs; the merge choice is argmax by (count DESC, a ASC, b ASC)
  * — a total order, no RNG; each round's winning pair is ONE
  * collected row (centroid-literal discipline). The reference has no
  * tokenizer; this is part of the mandated LLM-pipeline surface.
  */
object Bpe {

  private def byWord = Window.partitionBy("word").orderBy("pos")
  private def cum = Window.partitionBy("word").orderBy("pos")
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Word-type frequency table exploded to initial character symbols:
    * (word, cnt, pos, s). One corpus scan; vocab×word-length-sized
    * result, checkpointed because it seeds every merge round.
    */
  private def wordTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .where(length(col("word")) > 0)
      // split by the empty pattern = one symbol per CODEPOINT.
      // The previous "(?!^)" lookahead split between UTF-16 code
      // UNITS, halving astral chars into unpaired surrogates (r12
      // fuzz: an emoji word seeded 2 symbols per emoji where the
      // oracle's codepoint split saw 1); the "" guard below stays for
      // any engine vintage that emits boundary empties
      .select(col("word"), col("cnt"),
        posexplode(split(col("word"), "")))
      .withColumnRenamed("col", "s")
      .where(col("s") =!= "")
      .localCheckpoint(true)

  /** One round's adjacent-pair counts, weighted by word frequency:
    * a `lead` over the word partition, then an (a, b)
    * partial-aggregated sum. Overlapping occurrences each count
    * (standard BPE statistics); greediness only enters at the
    * rewrite.
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .withColumn("b", lead("s", 1).over(byWord))
      .where(col("b").isNotNull)
      .groupBy(col("s").as("a"), col("b"))
      .agg(sum("cnt").as("pc"))

  /** Apply one merge (a, b) greedy-left to the positional table —
    * see the object doc for the parity-window derivation.
    */
  def mergeRound(words: DataFrame, a: String, b: String): DataFrame = {
    val marked = words
      .withColumn("nxt", lead("s", 1).over(byWord))
      .withColumn("mt",
        coalesce(col("s") === lit(a) && col("nxt") === lit(b), lit(false)))
      .withColumn("rnm", sum(when(col("mt"), 1L).otherwise(0L)).over(cum))
    val sel = marked
      .withColumn("lastnm", max(when(!col("mt"), col("rnm"))).over(cum))
      .withColumn("sel", col("mt") &&
        (col("rnm") - coalesce(col("lastnm"), lit(0L))) % 2 === 1)
    sel
      .withColumn("drp", coalesce(lag("sel", 1).over(byWord), lit(false)))
      .where(!col("drp"))
      .select(col("word"), col("cnt"), col("pos"),
        when(col("sel"), lit(a + b)).otherwise(col("s")).as("s"))
  }

  /** Run `rounds` merge rounds; returns (merges, finalWords).
    * Each round's argmax is ONE collected row (constant-sized driver
    * state); the rewritten symbol table is re-checkpointed per round
    * (vocab-sized, the dedup_clusters lineage rule).
    */
  def learn(s: SparkSession, dir: String,
            rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    // EXACT-PATH CONTRACT (SURVEY §2 22f): one driver-blocking round
    // trip per merge — fine for demo vocabularies, catastrophic at a
    // production 32k vocab (32k sequential Spark jobs). The guard
    // makes the contract executable; production training goes through
    // [[learnBatched]] (O(rounds) jobs, B merges per round).
    require(rounds <= 128,
      s"exact BPE training is one Spark job per merge (rounds=$rounds); " +
        "use learnBatched / bpe_learn_batched beyond 128 merges")
    // MEMOIZED per (app, dir, rounds): the merge table and final
    // symbol table are deterministic byproducts consumed by three
    // registry queries (bpe_learn, bpe_tokenize, and EwmaStreamSpec's
    // shared session) — training runs ONCE per session, not once per
    // consumer.
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"bpe|$dir|$rounds")(learnUncached(s, dir, rounds))
  }

  private def learnUncached(s: SparkSession, dir: String,
            rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    var words = wordTable(s, dir)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = pairCounts(words)
        .orderBy(col("pc").desc, col("a"), col("b")).limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, pc) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, pc))
        words = mergeRound(words, a, b).localCheckpoint(true)
      }
    }
    (merges.result(), words)
  }

  // ------------------------------------------------ batched training
  //
  // The sequential loop above is exact Sennrich greedy but pays ONE
  // DRIVER-BLOCKING ROUND TRIP PER VOCAB ENTRY — at a production 32k
  // vocab that is 32k sequential Spark jobs, days of scheduler
  // latency on any cluster size. The scale path batches B merges per
  // round (the standard distributed-BPE trick): pairs that share no
  // symbol have INDEPENDENT statistics — merging (a,b) only
  // creates/destroys adjacencies involving a, b, or the new symbol
  // ab, so a batch whose pairs share no symbol AND none of whose
  // symbols equals another pair's CONCATENATION applied in one
  // rewrite pass yields exactly the table sequential application of
  // those same merges would. (The concatenation clause closes the
  // (a,b)-then-(ab,c) hole: those two share no symbol by string
  // equality, yet the second depends on the first's output.)
  // 32k vocab ⇒ 32k/B rounds (B=64 ⇒ 500 jobs).
  //
  // Batch selection is deterministic and RELATIONAL (oracle-
  // mirrorable, no driver-greedy state): rank pairs by (pc DESC, a,
  // b); restrict to the top 4·B candidates (a distributed
  // TakeOrderedAndProject, never a global single-partition window);
  // a candidate is SELECTED iff no higher-ranked candidate shares a
  // symbol with it or would create one of its symbols (dominance
  // independent set — any two conflicters can't both survive since
  // one outranks the other); keep the first B selected. This under-selects vs sequential greedy when a new
  // ab-pair would have outranked later picks — the documented,
  // deterministic batched semantics, pinned to reduce to exact
  // greedy at B=1 (BpeSpec).

  /** One batched round's selection over the current symbol table:
    * (rnk 1..≤B, a, b, pc). Candidate window and dominance filter
    * both run on the ≤4B-row collected frame — query-sized driver
    * state (centroid-literal discipline).
    */
  private def selectBatch(words: DataFrame, b: Int): Seq[(Long, String, String, Long)] = {
    val cands = pairCounts(words)
      .orderBy(col("pc").desc, col("a"), col("b")).limit(4 * b)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sel = Seq.newBuilder[(Long, String, String, Long)]
    var rnk = 0L
    for (i <- cands.indices if rnk < b) {
      val (a, bb, pc) = cands(i)
      val dominated = (0 until i).exists { j =>
        val (qa, qb, _) = cands(j)
        // shares a symbol with a higher-ranked candidate, OR with the
        // SYMBOL THAT CANDIDATE'S MERGE CREATES: (a,b) then (ab,c)
        // are not independent — the one-pass rewrite would miss the
        // ab symbols the first merge just created (r8 advice)
        qa == a || qa == bb || qb == a || qb == bb ||
          qa + qb == a || qa + qb == bb
      }
      if (!dominated) { rnk += 1; sel += ((rnk, a, bb, pc)) }
    }
    sel.result()
  }

  /** Apply a symbol-disjoint merge batch in ONE rewrite pass. The
    * parity-window greedy selection is unchanged from [[mergeRound]]:
    * consecutive overlapping matches force equal symbols, so a run of
    * matches is always a single pair's a==b run — disjoint batch
    * pairs never interleave inside a run and the global rnm/lastnm
    * parity stays per-pair exact. Each position matches at most one
    * batch pair (disjointness), so the broadcast equi-join never
    * multiplies rows.
    */
  def mergeRoundBatch(words: DataFrame, batch: DataFrame): DataFrame = {
    val m = broadcast(batch.select(col("a").as("ma"), col("b").as("mb"),
      concat(col("a"), col("b")).as("mg")))
    val marked = words
      .withColumn("nxt", lead("s", 1).over(byWord))
      .join(m, col("s") === col("ma") && col("nxt") === col("mb"), "left")
      .withColumn("mt", col("mg").isNotNull)
      .withColumn("rnm", sum(when(col("mt"), 1L).otherwise(0L)).over(cum))
    val sel = marked
      .withColumn("lastnm", max(when(!col("mt"), col("rnm"))).over(cum))
      .withColumn("sel", col("mt") &&
        (col("rnm") - coalesce(col("lastnm"), lit(0L))) % 2 === 1)
    sel
      .withColumn("drp", coalesce(lag("sel", 1).over(byWord), lit(false)))
      .where(!col("drp"))
      .select(col("word"), col("cnt"), col("pos"),
        when(col("sel"), col("mg")).otherwise(col("s")).as("s"))
  }

  /** Run `rounds` batched rounds of ≤ `batch` merges each; returns
    * (per-round selections, final symbol table). Driver state per
    * round is the ≤4B candidate frame; job count is O(rounds), not
    * O(vocab).
    */
  def learnBatched(s: SparkSession, dir: String, rounds: Int,
                   batch: Int): (Seq[(Long, Long, String, String, Long)], DataFrame) = {
    import s.implicits._
    var words = wordTable(s, dir)
    val merges = Seq.newBuilder[(Long, Long, String, String, Long)]
    for (r <- 1 to rounds) {
      val sel = selectBatch(words, batch)
      if (sel.nonEmpty) {
        merges ++= sel.map { case (rnk, a, b, pc) => (r.toLong, rnk, a, b, pc) }
        val batchDf = sel.map { case (_, a, b, _) => (a, b) }.toDF("a", "b")
        words = mergeRoundBatch(words, batchDf).localCheckpoint(true)
      }
    }
    (merges.result(), words)
  }

  /** Registry query: the batched-training merge table —
    * (round, rnk, a, b, merged, cnt). With rounds·batch ≥ the
    * sequential demo's rounds this is the 100 TB-shape trainer: same
    * single corpus scan, vocab-sized rewrites, O(rounds) jobs.
    */
  def bpeLearnBatched(s: SparkSession, dir: String, rounds: Int = 4,
                      batch: Int = 4): DataFrame = {
    val (merges, _) = learnBatched(s, dir, rounds, batch)
    import s.implicits._
    merges.map { case (r, k, a, b, pc) => (r, k, a, b, a + b, pc) }
      .toDF("round", "rnk", "a", "b", "merged", "cnt")
      .orderBy("round", "rnk")
  }

  /** Registry query: the learned merge table after `rounds` rounds —
    * (merge_rank, a, b, merged, cnt). The merge list IS the trained
    * tokenizer (apply = replay the list in rank order).
    */
  def bpeLearn(s: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    val (merges, _) = learn(s, dir, rounds)
    import s.implicits._
    merges.map { case (r, a, b, pc) => (r, a, b, a + b, pc) }
      .toDF("merge_rank", "a", "b", "merged", "cnt")
      .orderBy("merge_rank")
  }

  /** Registry query: TOKENIZE with the learned merges — per-doc BPE
    * token count and fertility (BPE tokens per whitespace word, the
    * tokenizer-quality metric). Merges are applied to the WORD TYPE
    * table (the vocab-sized rewrite training already produced), and
    * the corpus joins to per-type token counts — the corpus is never
    * rewritten, each document costs one equi-join probe per word.
    */
  def bpeTokenize(s: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    val (_, words) = learn(s, dir, rounds)
    val sizes = words.groupBy("word").agg(count(lit(1)).as("n_sym"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(sizes, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4)
          .as("fertility"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ oracle SQL

  /** Unrolled DuckDB mirror of the training loop (the MMR precedent:
    * k greedy steps as chained CTEs, program-generated). Round r
    * reads w{r-1}, counts pairs, picks m{r} by the same total order,
    * and rewrites with the same parity-window greedy selection.
    */
  def oracleCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH v AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY word),
        |w0 AS (SELECT word, cnt, i AS pos, substring(word, i, 1) AS s
        |       FROM v, unnest(range(1, length(word) + 1)) AS t(i))""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        |p$r AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc FROM (
        |    SELECT s AS a, cnt,
        |           lead(s) OVER (PARTITION BY word ORDER BY pos) AS b
        |    FROM w$p) q WHERE b IS NOT NULL GROUP BY a, b),
        |m$r AS (SELECT $r AS merge_rank, a, b, a || b AS merged, pc AS cnt
        |  FROM p$r ORDER BY pc DESC, a, b LIMIT 1),
        |t$r AS (SELECT word, w$p.cnt AS cnt, pos, s, m.a AS ma, m.b AS mb,
        |    lead(s) OVER (PARTITION BY word ORDER BY pos) AS nxt
        |  FROM w$p, m$r m),
        |f$r AS (SELECT word, cnt, pos, s, ma, mb,
        |    coalesce(s = ma AND nxt = mb, FALSE) AS mt FROM t$r),
        |g$r AS (SELECT *, sum(CASE WHEN mt THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS rnm FROM f$r),
        |h$r AS (SELECT *, max(CASE WHEN NOT mt THEN rnm END)
        |    OVER (PARTITION BY word ORDER BY pos) AS lastnm FROM g$r),
        |i$r AS (SELECT *, mt AND (rnm - coalesce(lastnm, 0)) % 2 = 1 AS sel
        |  FROM h$r),
        |j$r AS (SELECT *, coalesce(lag(sel)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS drp FROM i$r),
        |w$r AS (SELECT word, cnt, pos,
        |    CASE WHEN sel THEN ma || mb ELSE s END AS s
        |  FROM j$r WHERE NOT drp)""".stripMargin)
    }
    sb.toString
  }

  def learnOracle(rounds: Int): String = {
    val union = (1 to rounds).map(r => s"SELECT * FROM m$r")
      .mkString(" UNION ALL ")
    s"${oracleCtes(rounds)}\nSELECT merge_rank, a, b, merged, cnt" +
      s" FROM ($union) ORDER BY merge_rank"
  }

  /** Unrolled DuckDB mirror of [[learnBatched]]: per round, the same
    * candidate window (top 4·B by the total order), the dominance
    * independent-set filter as a NOT EXISTS anti-join, and the
    * one-pass parity-window rewrite joined against the selected
    * batch instead of a single literal pair.
    */
  def batchedOracle(rounds: Int, b: Int): String = {
    val w = 4 * b
    val sb = new StringBuilder
    sb.append(
      """WITH v AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0 GROUP BY word),
        |w0 AS (SELECT word, cnt, i AS pos, substring(word, i, 1) AS s
        |       FROM v, unnest(range(1, length(word) + 1)) AS t(i))""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        |p$r AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc FROM (
        |    SELECT s AS a, cnt,
        |           lead(s) OVER (PARTITION BY word ORDER BY pos) AS b
        |    FROM w$p) q WHERE b IS NOT NULL GROUP BY a, b),
        |rk$r AS (SELECT * FROM (SELECT a, b, pc,
        |    row_number() OVER (ORDER BY pc DESC, a, b) AS rn FROM p$r)
        |  WHERE rn <= $w),
        |sel$r AS (SELECT * FROM (SELECT rk.a, rk.b, rk.pc, rk.rn,
        |      row_number() OVER (ORDER BY rk.rn) AS rnk
        |    FROM rk$r rk WHERE NOT EXISTS (SELECT 1 FROM rk$r q
        |      WHERE q.rn < rk.rn AND (q.a = rk.a OR q.a = rk.b
        |        OR q.b = rk.a OR q.b = rk.b
        |        OR q.a || q.b = rk.a OR q.a || q.b = rk.b)))
        |  WHERE rnk <= $b),
        |t$r AS (SELECT w.word, w.cnt, w.pos, w.s, m.a AS ma, m.b AS mb,
        |    w.nxt
        |  FROM (SELECT word, cnt, pos, s,
        |          lead(s) OVER (PARTITION BY word ORDER BY pos) AS nxt
        |        FROM w$p) w
        |  LEFT JOIN sel$r m ON w.s = m.a AND w.nxt = m.b),
        |f$r AS (SELECT word, cnt, pos, s, ma, mb,
        |    (ma IS NOT NULL) AS mt FROM t$r),
        |g$r AS (SELECT *, sum(CASE WHEN mt THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY word ORDER BY pos) AS rnm FROM f$r),
        |h$r AS (SELECT *, max(CASE WHEN NOT mt THEN rnm END)
        |    OVER (PARTITION BY word ORDER BY pos) AS lastnm FROM g$r),
        |i$r AS (SELECT *, mt AND (rnm - coalesce(lastnm, 0)) % 2 = 1 AS sel
        |  FROM h$r),
        |j$r AS (SELECT *, coalesce(lag(sel)
        |    OVER (PARTITION BY word ORDER BY pos), FALSE) AS drp FROM i$r),
        |w$r AS (SELECT word, cnt, pos,
        |    CASE WHEN sel THEN ma || mb ELSE s END AS s
        |  FROM j$r WHERE NOT drp)""".stripMargin)
    }
    val union = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, rnk, a, b, a || b AS merged," +
        s" pc AS cnt FROM sel$r").mkString(" UNION ALL ")
    sb.append(s"\nSELECT round, rnk, a, b, merged, cnt FROM ($union)" +
      s" ORDER BY round, rnk")
    sb.toString
  }

  def tokenizeOracle(rounds: Int): String =
    s"""${oracleCtes(rounds)},
       |sizes AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sym
       |  FROM w$rounds GROUP BY word),
       |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       |       round(sum(n_sym) * 1.0 / count(*), 4) AS fertility
       |FROM tk JOIN sizes USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
