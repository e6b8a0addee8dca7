package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical SCALING probe for the headliner families whose
  * 100 TB story rests on blocking-key cardinality growing with the
  * corpus: the IVF-cell-blocked kNN graph, banded MinHash pair
  * mining, and the persisted BM25 index. The small driver SFs only
  * verify correctness; this measures how the same plans behave at
  * 4× and 16× the bench corpus, so a hidden fixed-cardinality
  * bottleneck (constant cell count, constant band space, a driver
  * collect that grows with N) shows up as a super-linear wall-clock
  * slope instead of staying a design claim.
  *
  * Replicas are synthesized FROM the driver's own tables (never
  * regenerated data): replica `r` of a document re-keys `doc_id`
  * by `r·10⁷` and SUFFIXES a per-replica marker onto every word
  * (`w → w·zqr`, word count unchanged). The word-3-gram shingle
  * set of a replica is then a BIJECTION of the base doc's — the
  * within-replica similarity structure matches the base corpus
  * exactly (planted near-dups stay near-dups at the same Jaccard)
  * while cross-replica shingles are disjoint (every gram carries
  * its replica's suffix), so no cross-replica candidate pairs
  * arise. Both naive alternatives fail measurably: a plain copy
  * makes each doc's 16 replicas mutual near-dups (quadratic pair
  * blowup), and markers INSERTED BETWEEN words degrade trigrams
  * to shared unigram/bigram shingles, inflating within-replica
  * similarity ~30× (observed before this scheme). Embedding
  * replicas cyclically ROTATE coordinates by `r` (an exact isometry:
  * intra-replica geometry matches the base corpus bit-for-bit
  * content-wise, cross-replica directions decorrelate — see the v6
  * note in `materialize`).
  *
  * Factor 1 also materializes a fresh copy dir: ByproductCache,
  * persisted indexes, and the OS page cache are all keyed by dir,
  * so every factor is measured COLD with one timed call — the
  * build+search total whose slope is the scaling claim. A warm
  * second call would read the memoized graph in ~10 ms and measure
  * nothing (also observed).
  */
object ScaleStress {

  val factors: Seq[Int] = Seq(1, 4, 16)

  /** r15 (VERDICT r14 #3): one more DECADE of evidence for the pair
    * families whose 100 TB claim rested on 16× extrapolation — the
    * three worst/riskiest x16 slopes get an x64 leg (sf0.1 × 64 =
    * 320k docs, a full decade past the bench SF). Only these three:
    * the x64 replica dir itself is ~13× the sf0.1 corpus, and the
    * full 20-probe matrix at x64 would blow the Scale budget for no
    * additional claim.
    */
  val x64Factor = 64
  // cheap legs first: containment's x64 leg is the budget risk (the
  // first r15 attempt spent 834s on it and starved the other two),
  // so it runs last and the budget guard can cut ONLY it.
  // dedup_semdedup runs immediately BEFORE the closure and the memo
  // is NOT cleared between them (see run()): SCALE_r15's closure x64
  // leg measured semdedup-build + closure fused (287.9s) because the
  // per-leg clear had dropped the byproduct its x16 twin reused —
  // with the builder leg in front, the closure leg measures the
  // closure alone, comparable to its x16 number.
  val x64QueryNames: Seq[String] =
    Seq("dedup_minhash_pairs", "dedup_semdedup",
      "dedup_semdedup_closure", "dedup_containment")
  // r10 adds dsir_select (fixed-B bucket model — the aggregate must
  // stay B-sized while the scan grows) and search_spell_correct
  // (replica suffixes grow the vocabulary ×factor, probing the
  // SymSpell deletion-block join's vocab-linear claim)
  // r10 late wave adds graph_adamic_adar (wedge-join fan-out must
  // follow degree, not corpus — the edge table grows linearly, the
  // per-edge wedge work is k-bounded) and events_daily_agg (the IVM
  // structure's cold build+serve: generation write is one aggregate
  // pass, serving folds partials — both should track the scan)
  // r11 adds the round-10 structures the verdict asked to probe:
  // dedup_containment (rare-shingle blocking under x-factor vocab
  // growth — the df in [2,8] bar must keep bucket expansion flat),
  // events_rolling_p95 (additive-histogram windowing: per-user state
  // is histogram-sized, never window-row-sized) and
  // search_spell_indexed (bucket-pruned dictionary probe: serve cost
  // is query-term-sized; the build is the cold-dir component)
  // r11 wave adds text_rake_keywords (phrase segmentation +
  // vocabulary-keyed word scores: the suffix scheme grows vocab AND
  // the phrase space ×factor — both aggregates must track the scan,
  // and the top-k must stay a per-partition heap) and
  // events_peak_concurrency (the two-level banded boundary sweep:
  // replicated events multiply per-instant deltas, per-day windows
  // and the driver prefix must stay calendar-sized)
  // r11 late wave adds graph_hits (four k-bounded half-round joins —
  // work must track the N·k edge list, with map-side combine
  // absorbing the hub-key skew the query measures) and ann_ivf_spill
  // (the spilled layout doubles index rows but probes ONE cell — the
  // per-query scan must track cell size, not corpus size)
  val queryNames: Seq[String] =
    Seq("knn_graph", "dedup_minhash_pairs", "text_bm25_indexed",
      "events_pattern_match", "ann_hnsw", "dsir_select",
      "search_spell_correct", "graph_adamic_adar", "events_daily_agg",
      "dedup_containment", "events_rolling_p95", "search_spell_indexed",
      "text_rake_keywords", "events_peak_concurrency",
      "graph_hits", "ann_ivf_spill",
      // embed_lof: three k-bounded joins over the memoized edge list
      // — work must track N·k, never re-scan the corpus
      "embed_lof",
      // r13: the OPQ rung — the cold leg is moments pass (corpus-
      // linear) + constant 64×64 driver greedy + rotated codebook
      // train + index build; fan-out must track the corpus, with the
      // greedy's cost invisible at every factor
      "ann_ivf_opq",
      // r13: SemDeDup — the newest pair-generating operator; cells
      // scale in COUNT (stride-200 seeding) while cell SIZE stays
      // ~200, so in-cell pair work must track ~100·n. A superlinear
      // leg here means the cluster blocking stopped bounding cells.
      "dedup_semdedup",
      // r14: the keeper-chain closure — pointer doubling joins the
      // drop table to itself log(depth) times; work must track the
      // DROP table (grows with the corpus) times a depth-bounded
      // round count, never corpus² — a superlinear leg means chains
      // got deep enough that the doubling stopped converging early
      "dedup_semdedup_closure")

  /** Replica id-space offset: far above any driver-generated id and
    * above the +100000/+200000/+300000 bands the synthetic-workload
    * helpers plant in.
    */
  private val Offset = 10000000L

  // v7 (r16): v6 introduced the rotation replicas (scheme note
  // below); v7 is the standing WITHIN-round bump — the v6 dirs'
  // dir-keyed persisted structures (bm25 postings, IVF cells, spell
  // dictionaries) were built by the first v6 matrix run, and the
  // release-hygiene re-run on the same paths measurably served WARM
  // "cold" legs (ann_ivf_opq x16 2.4s vs 108.8 cold — the warm
  // number is the steady-state serve cost, the cold one is the
  // build). Any run intended as a cold record needs paths no prior
  // leg has touched.
  private def replicaRoot(sfDir: String, factor: Int): java.nio.file.Path =
    java.nio.file.Paths.get("target", "tmp",
      s"scale-${java.lang.Integer.toHexString(sfDir.hashCode)}-x$factor-v7")
      .toAbsolutePath

  /** Materialize (once, `_done`-markered) the factor-× replica dir
    * with the two tables the probed queries read. Returns the dir
    * usable as a `queries` sf-dir argument.
    */
  def materialize(s: SparkSession, sfDir: String, factor: Int): String = {
    val root = replicaRoot(sfDir, factor)
    val done = root.resolve("_done")
    if (!java.nio.file.Files.exists(done)) {
      java.nio.file.Files.createDirectories(root)
      val reps = s.range(factor.toLong).select(col("id").as("rep"))
      val docs = Tables.documents(s, sfDir)
        .crossJoin(broadcast(reps))
        .select(
          (col("doc_id") + col("rep") * Offset).as("doc_id"),
          when(col("rep") === 0, col("text"))
            // suffix on every word (replacing each space with
            // 'zqR ') plus one trailing marker word — keeps the
            // gram count and similarity structure bijective with
            // the base doc while making even a 1-word doc's
            // shingles replica-distinct
            .otherwise(expr(
              """concat(replace(text, ' ', concat('zq', cast(rep as string), ' ')),
                | ' zq', cast(rep as string))""".stripMargin.replace("\n", "")))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      docs.write.mode("overwrite")
        .parquet(root.resolve("documents.parquet").toString)
      // v6 (r16): per-replica coordinate ROTATION replaces the
      // +0.001·rep shift. The shift kept replicas of the same base
      // vector nearly IDENTICAL (cos ≈ 0.9999), so every IVF cell
      // mixed all replicas (CellDiag x64: 63.7 replica bands per
      // cell) and each base vector's replicas formed a
      // factor-sized near-dup CLIQUE — surviving SemDeDup pair
      // volume grew ∝ factor² (x64: 2000·C(64,2) ≈ 4.0M same-base
      // pairs vs 240k at x16 = 16.8× on 4× data, exactly the
      // measured semdedup/closure slope). That regime is a planted
      // quadratic workload, not the weak-scaling claim under test.
      // A cyclic rotation by rep (mod dim) is an exact ISOMETRY —
      // intra-replica geometry, norms and distances equal the base
      // corpus's bit-for-bit content-wise — while cross-replica
      // directions decorrelate, the embedding analog of the text
      // scheme's replica-disjoint shingles. rep 0 keeps the base
      // vectors, so planted query fixtures (vec_id < 5) are
      // untouched.
      val emb = Tables.embeddings(s, sfDir)
        .crossJoin(broadcast(reps))
        .select(
          (col("vec_id") + col("rep") * Offset).as("vec_id"),
          expr("""concat(
                 |  slice(embedding, cast(rep % size(embedding) as int) + 1,
                 |        size(embedding) - cast(rep % size(embedding) as int)),
                 |  slice(embedding, 1, cast(rep % size(embedding) as int)))"""
            .stripMargin.replace("\n", " ")).as("embedding"),
          col("label"))
      emb.write.mode("overwrite")
        .parquet(root.resolve("embeddings.parquet").toString)
      // events replica: user/event ids shift per replica, timestamps
      // unchanged — each replica's per-user timelines are a bijection
      // of the base corpus's, so sequence/window semantics scale the
      // user population without inventing new temporal structure
      val ev = Tables.events(s, sfDir)
        .crossJoin(broadcast(reps))
        .select(
          (col("event_id") + col("rep") * Offset).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep") * Offset).as("user_id"),
          col("event_type"), col("value"), col("props"))
      ev.write.mode("overwrite")
        .parquet(root.resolve("events.parquet").toString)
      java.nio.file.Files.write(done, Array.emptyByteArray)
    }
    root.toString
  }

  /** SKEW probes (r11 verdict #2): the x-factor replicas scale volume
    * UNIFORMLY, so the §4 skew story (whale-basket caps, df-capped
    * blocking, key-hashed spreads) was proven by spec but never
    * MEASURED under a hot key. These three registry queries each
    * carry a documented skew guard; the skewed replica plants the hot
    * key the guard exists for.
    */
  val skewQueryNames: Seq[String] =
    Seq("basket_pairs", "dedup_containment", "events_sessionize")

  /** Materialize the skew pair: a CONTROL dir (the base tables copied
    * verbatim — same fresh parquet layout, same cold caches as the
    * skewed twin, so the comparison isolates the KEY DISTRIBUTION)
    * and a HOT dir where one key holds ~20% of its table:
    *   - events: one user absorbs every 5th event (hot session key —
    *     sessionize's per-user window must not serialize on it; the
    *     user-id hash spread sends one key to ONE partition, so the
    *     cap under test is per-user work staying window-sized),
    *   - orders: one customer absorbs every 5th order (whale basket —
    *     basket_pairs' capPerCust top-C guard bounds its fan-out),
    *   - documents: every 5th doc gains a shared 10-word boilerplate
    *     prefix (hot shingles with df ≈ N/5 — containment's df∈[2,8]
    *     blocking bar must keep them OUT of the candidate keys; a
    *     df-blind blocker would explode quadratically on them).
    * Hot-key ids live in the replica Offset band so they collide with
    * nothing the driver generated.
    */
  def materializeSkew(s: SparkSession, sfDir: String,
                      skewed: Boolean): String = {
    val tag = if (skewed) "hot" else "ctl"
    val root = java.nio.file.Paths.get("target", "tmp",
      s"skew-${java.lang.Integer.toHexString(sfDir.hashCode)}-$tag-v1")
      .toAbsolutePath
    val done = root.resolve("_done")
    if (!java.nio.file.Files.exists(done)) {
      java.nio.file.Files.createDirectories(root)
      val hotEvery = lit(5L)
      val ev = Tables.events(s, sfDir)
      val evOut =
        if (!skewed) ev
        else ev.withColumn("user_id",
          when(pmod(col("event_id"), hotEvery) === 0, lit(Offset + 7L))
            .otherwise(col("user_id")))
      evOut.write.mode("overwrite")
        .parquet(root.resolve("events.parquet").toString)
      val docs = Tables.documents(s, sfDir)
      val hotPhrase =
        "zqhot alpha beta gamma delta epsilon zeta eta theta iota"
      val docsOut =
        if (!skewed) docs
        else docs.withColumn("text",
            when(pmod(col("doc_id"), hotEvery) === 0,
              concat(lit(hotPhrase + " "), col("text")))
              .otherwise(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      docsOut.write.mode("overwrite")
        .parquet(root.resolve("documents.parquet").toString)
      val ord = Tables.orders(s, sfDir)
      val ordOut =
        if (!skewed) ord
        else ord.withColumn("o_custkey",
          when(pmod(col("o_orderkey"), hotEvery) === 0, lit(Offset + 9L))
            .otherwise(col("o_custkey")))
      ordOut.write.mode("overwrite")
        .parquet(root.resolve("orders.parquet").toString)
      Tables.lineitem(s, sfDir).write.mode("overwrite")
        .parquet(root.resolve("lineitem.parquet").toString)
      java.nio.file.Files.write(done, Array.emptyByteArray)
    }
    root.toString
  }

  /** Time the skew trio on (control, hot): per query, {uniform,
    * skewed, ratio}. The pass condition the verdict set: ratio ≲ 2
    * for the capped/salted operators.
    */
  def runSkew(s: SparkSession, sfDir: String,
              budgetLeft: () => Boolean): Map[String, Map[String, Double]] = {
    val out = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, Double]]()
    Seq(false, true).foreach { skewed =>
      if (budgetLeft()) {
        val dir =
          try materializeSkew(s, sfDir, skewed)
          catch { case _: Throwable => null }
        if (dir != null) skewQueryNames.foreach { name =>
          if (budgetLeft()) SparkEntry.queries.get(name).foreach { fn =>
            val t =
              try {
                val t0 = System.nanoTime()
                Bench.materialize(fn(s, dir))
                (System.nanoTime() - t0) / 1e9
              } catch { case _: Throwable => -1.0 }
            out.getOrElseUpdate(name, scala.collection.mutable.Map())
              .update(if (skewed) "skewed" else "uniform", t)
          }
        }
      }
    }
    out.view.mapValues { m =>
      val base = m.toMap
      if (base.get("uniform").exists(_ > 0) && base.get("skewed").exists(_ > 0))
        base + ("ratio" -> base("skewed") / base("uniform"))
      else base
    }.toMap
  }

  /** Run the probe: per (query, factor), ONE timed COLD call on that
    * factor's fresh replica dir — the build+search total, which is
    * the quantity whose slope vs corpus size the 100 TB claims are
    * about (JIT is already hot from the main suite, so the cold cost
    * is the engine's, not HotSpot's). `budgetLeft` is consulted
    * before every expensive step so a tight bench budget degrades to
    * a partial matrix instead of overrunning; -1.0 marks a failed
    * run, absent keys an un-run one.
    */
  /** WEAK-SCALING shuffle width (r15): each factor's probes run with
    * shuffle.partitions = 32·factor, restored after. The slope claim
    * is about WORK growth — a production deployment provisions
    * reducers to the data (§4: partitions sized so partitions fit in
    * executor memory), so holding 32 partitions while the corpus
    * grows 64× measures hash-agg spill thrash, not the operator:
    * the first x64 containment leg read 834s at width 32 (per-
    * partition shingle state ~50× the x1 leg's) vs ~³⁄₁₀ of that at
    * width 512. Cores stay fixed at 32 — extra partitions run as
    * waves, so wall-clock still reflects total work.
    */
  private def withWidth[T](s: SparkSession, factor: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, (32 * factor).toString)
    try body finally s.conf.set(key, prev)
  }

  /** Per-leg state release (r16): `ByproductCache.clear()` drops
    * every memoized frame and trained constant, but only the
    * REFERENCES — the checkpointed frames' RDD blocks stay in
    * the BlockManager until a driver GC enqueues them for the async
    * ContextCleaner, which on a 100-GB heap may simply never happen
    * mid-run. Measured with the ProbeOne bracket (x16 → x64 → x16,
    * one JVM): the second x16 containment leg read 188.5s against
    * the first's 82.0s — 2.3× from nothing but the x64 leg's
    * leftover blocks — so late-matrix legs were inheriting the
    * whole run's undead state and the cross-round x64 scatter
    * (292/491/725s on identical bytes) was partly THIS, not host
    * drift. Explicit blocking unpersist of every persistent RDD is
    * safe exactly at the points that also clear the memo map (no
    * live consumer can reference a truncated-lineage checkpoint
    * once the map is gone) — and MUST NOT run between the
    * semdedup→closure pair, whose shared memo is the point.
    */
  private[graft] def releaseLegState(s: SparkSession): Unit = {
    ByproductCache.clear()
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def run(s: SparkSession, sfDir: String,
          budgetLeft: () => Boolean): Map[String, Map[String, Double]] = {
    val out = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, Double]]()
    factors.foreach { f =>
      if (budgetLeft()) {
        val dir =
          try materialize(s, sfDir, f)
          catch { case _: Throwable => null }
        if (dir != null) withWidth(s, f) { queryNames.foreach { name =>
          if (budgetLeft()) SparkEntry.queries.get(name).foreach { fn =>
            val t =
              try {
                val t0 = System.nanoTime()
                Bench.materialize(fn(s, dir))
                (System.nanoTime() - t0) / 1e9
              } catch { case _: Throwable => -1.0 }
            out.getOrElseUpdate(name, scala.collection.mutable.Map())
              .update(s"x$f", t)
          }
        } }
        // release the finished factor's memoized checkpoint blocks
        // before the next (bigger) one — see releaseLegState
        releaseLegState(s)
      }
    }
    // x64 decade leg for the pair families only (same cold-dir,
    // one-timed-call discipline)
    if (budgetLeft()) {
      val dir =
        try materialize(s, sfDir, x64Factor)
        catch { case _: Throwable => null }
      if (dir != null) withWidth(s, x64Factor) {
        // provenance guard (r16 advice): the closure leg's number is
        // only closure-alone (x16-comparable) when the builder leg
        // just populated the memo — if dedup_semdedup failed or was
        // budget-cut, running the closure would silently re-measure
        // build+closure fused (the exact SCALE_r15 defect), so the
        // leg is SKIPPED instead (absent key = un-run, the matrix's
        // standing convention for "no comparable measurement").
        var semdedupOk = false
        x64QueryNames.foreach { name =>
        val fusedRisk = name == "dedup_semdedup_closure" && !semdedupOk
        if (!fusedRisk && budgetLeft()) SparkEntry.queries.get(name).foreach { fn =>
          val t =
            try {
              val t0 = System.nanoTime()
              Bench.materialize(fn(s, dir))
              (System.nanoTime() - t0) / 1e9
            } catch { case _: Throwable => -1.0 }
          if (name == "dedup_semdedup") semdedupOk = t >= 0
          out.getOrElseUpdate(name, scala.collection.mutable.Map())
            .update(s"x$x64Factor", t)
          // each x64 leg's byproducts are GBs of checkpoint blocks;
          // drop them before the next leg — EXCEPT after the
          // semdedup builder leg, whose memoized pair set is exactly
          // what the next (closure) leg must consume for its number
          // to measure the closure alone (x16-comparable)
          if (name != "dedup_semdedup") releaseLegState(s)
        }
      } }
    }
    out.view.mapValues(_.toMap).toMap
  }

  /** Compact JSON rendering for the bench line: factors ascending,
    * 3-decimal seconds.
    */
  def renderJson(res: Map[String, Map[String, Double]]): String =
    res.toSeq.sortBy(_._1).map { case (name, m) =>
      val inner = (factors :+ x64Factor).map(f => s"x$f").filter(m.contains)
        .map(k => f""""$k":${m(k)}%.3f""").mkString(",")
      s""""$name":{$inner}"""
    }.mkString("{", ",", "}")
}
