package graft

import graft.operators.Knn
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class KnnSpec extends SparkSuite {

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
  private def qs = Tables.embeddings(spark, sf).where(col("vec_id") < 3)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("heap top-k equals window-rank formulation") {
    val viaHeap = Knn.topK(emb, qs, 5, Knn.Metric.L2)
      .select("qid", "rk", "nn_id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val scored = emb.crossJoin(qs)
      .select(col("qid"), col("id"),
        graft.functions.VectorDistance.l2(col("vec"), col("qvec")).as("d"))
    val w = Window.partitionBy("qid").orderBy(col("d"), col("id"))
    val viaWindow = scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select("qid", "rk", "id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaHeap == viaWindow)
  }

  test("every query returns exactly k ranked rows") {
    val out = Knn.topK(emb, qs, 7, Knn.Metric.Cosine)
    val per = out.groupBy("qid").count().collect()
    assert(per.length == 3 && per.forall(_.getLong(1) == 7))
  }

  test("scalar filter pushes down to the parquet scan") {
    val plan = Knn.topKFiltered(emb, qs, 5, Knn.Metric.L2,
      col("label") === 5).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(label,5)"),
      s"label filter not pushed:\n$plan")
  }

  test("JSON-payload filter evaluates below the fused top-k aggregate") {
    // r13 (VERDICT r12 #3): the get_json_object predicate must filter
    // the corpus before it is scored — non-matching payload rows never
    // reach the distance kernel inside the fused top-k aggregate. The
    // executed plan prints parents first, so the aggregate must appear
    // BEFORE the JSON filter (below it) in the dump.
    val df = Knn.knnFilteredJsonQuery(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val kernelAt = plan.indexOf("request_topk")
    val jsonAt = plan.indexOf("get_json_object")
    assert(kernelAt >= 0 && jsonAt >= 0,
      s"missing kernel or JSON filter in plan:\n$plan")
    assert(kernelAt < jsonAt,
      s"JSON predicate not below the distance kernel:\n$plan")
    // and the filter actually bites: every returned neighbor's
    // payload satisfies $.k < 50
    val kOf = Tables.events(spark, sf)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => kOf(r.getLong(2)) < 50),
      "a neighbor with payload k >= 50 leaked through the JSON filter")
  }

  test("array-payload membership filter evaluates below the fused top-k") {
    // r14 (VERDICT r13 #2): array_contains must filter the corpus
    // before it is scored — non-member rows never reach the fused top-k
    // aggregate. Executed plans print parents first, so the aggregate
    // must appear BEFORE the membership predicate (below it).
    val df = Knn.knnFilteredArrayQuery(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val kernelAt = plan.indexOf("request_topk")
    val arrAt = plan.indexOf("array_contains")
    assert(kernelAt >= 0 && arrAt >= 0,
      s"missing kernel or membership filter in plan:\n$plan")
    assert(kernelAt < arrAt,
      s"membership predicate not below the distance kernel:\n$plan")
    // and it bites: every neighbor's synthesized tag set contains 3
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val id = r.getLong(2)
      id % 7 == 3 || id % 11 == 3 || id % 13 == 3
    }, "a non-member neighbor leaked through the array filter")
  }

  test("is_null/is_empty presence filter evaluates below the fused top-k") {
    // r15 (VERDICT r14 #5): the presence predicate (pk IS NULL OR
    // size(tags) = 0) must filter the corpus before it is scored.
    // r16 (advice): pinned STRUCTURALLY — an IsNull predicate must live
    // inside the child subtree of the node that scores (the fused
    // top-k aggregate), with no scoring inside that subtree — instead
    // of comparing indexOf positions of the kernel and 'isnull' in the
    // plan dump, which any unrelated isnull occurrence (null-safe
    // cast, shuffle-key check) or plan-format change could flip
    // spuriously. (isnotnull guards are IsNotNull nodes, a different
    // class, so they cannot satisfy the check.)
    import org.apache.spark.sql.catalyst.expressions.IsNull
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Knn.knnFilteredIsNullQuery(spark, sf)
    val executed = df.queryExecution.executedPlan
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case q: QueryStageExec        => q +: walk(q.plan)
      case _                        => p +: p.children.flatMap(walk)
    }
    def hasIsNull(p: SparkPlan): Boolean = walk(p).exists(
      _.expressions.exists(_.exists(_.isInstanceOf[IsNull])))
    def scores(p: SparkPlan): Boolean = p.expressions.exists(_.exists(
      _.isInstanceOf[graft.operators.RequestTopK]))
    def hasKernel(p: SparkPlan): Boolean = walk(p).exists(scores)
    assert(hasKernel(executed), s"missing fused top-k in plan:\n$executed")
    assert(walk(executed).filter(scores).exists(_.children.exists(c =>
        hasIsNull(c) && !hasKernel(c))),
      "presence predicate is not evaluated on the corpus below the " +
        s"top-k aggregate (or scoring leaked below it):\n$executed")
    // bites: every neighbor is in the masked-NULL id class or has an
    // empty sliced tag list
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val id = r.getLong(2)
      id % 3 == 0 || id % 4 == 0
    }, "a present-field neighbor leaked through the is_null filter")
  }

  test("postings-served phrase filter equals the per-row form, and " +
    "its candidate stage is term-pruned positional evaluation") {
    // r16 (VERDICT r15 #5): the index-vs-scan rewrite must be
    // result-invisible and plan-visible.
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val served = Knn.knnFilteredPhraseIdxQuery(spark, sf)
    val naive = Knn.knnFilteredPhraseQuery(spark, sf)
    assert(served.columns.toSeq == naive.columns.toSeq)
    val a = served.collect().map(_.toSeq).toSeq
    val b = naive.collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      s"postings-served phrase results diverge from the per-row form")
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case ad: AdaptiveSparkPlanExec => ad +: walk(ad.executedPlan)
      case qs: QueryStageExec        => qs +: walk(qs.plan)
      case _                         => p +: p.children.flatMap(walk)
    }
    val nodes = walk(served.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[GenerateExec]),
      "no positional token Generate — candidate stage is not postings-shaped")
    assert(nodes.exists(_.expressions.exists(_.exists {
        case _: In | _: InSet => true
        case _ => false
      })),
      "phrase-term isin pruning missing — the postings shuffle would " +
        "carry the whole token stream")
  }

  test("recommend lookup_from: a request whose example id is absent " +
    "from the sibling collection drops; present requests are intact") {
    // r16 (VERDICT r15 #2): the absent-example path cannot be
    // reached by the append-only fuzz (the registry fixture's ids
    // are hardcoded-present), so it is pinned here directly. The
    // contract is the inner lookup join's: an unresolvable example
    // drops the REQUEST (never a partial average), identically to
    // the oracle's inner-join CTE.
    import spark.implicits._
    val sib = Tables.embeddings(spark, sf).select(col("vec_id"),
      reverse(col("embedding").cast("array<double>")).as("v"))
    def run(reqs: org.apache.spark.sql.DataFrame) = {
      val withVecs = reqs
        .join(sib.select(col("vec_id").as("pa"), col("v").as("va")), "pa")
        .join(sib.select(col("vec_id").as("pb"), col("v").as("vb")), "pb")
        .join(sib.select(col("vec_id").as("ng"), col("v").as("vn")), "ng")
        .select(col("qid"),
          expr("zip_with(zip_with(va, vb, (x, y) -> (x + y) / 2D), " +
            "vn, (p, n) -> 2D * p - n)").as("qvec"),
          col("pa").as("ex1"), col("pb").as("ex2"), col("ng").as("ex3"))
      Knn.recommend(emb.select(col("id"), col("vec")), withVecs, 5)
    }
    val present = Seq((0L, 0L, 1L, 6L), (1L, 2L, 3L, 7L))
    val absent = (2L, 4L, 999999L, 8L) // pb resolves nowhere
    val out = run((present :+ absent).toDF("qid", "pa", "pb", "ng"))
      .collect()
    assert(!out.exists(_.getLong(0) == 2L),
      "a request with an unresolvable example id produced results")
    val base = run(present.toDF("qid", "pa", "pb", "ng")).collect()
    assert(out.map(_.toSeq).toSet == base.map(_.toSeq).toSet,
      "dropping the absent-example request perturbed the others")
    assert(out.count(_.getLong(0) == 0L) == 5 &&
      out.count(_.getLong(0) == 1L) == 5)
  }

  test("match-phrase filter: every neighbor's payload text contains " +
    "the phrase as consecutive tokens") {
    val rows = Knn.knnFilteredPhraseQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    val txt = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows.forall { r =>
      txt(r.getLong(2)).exists(t =>
        (" " + t + " ").contains(" table value "))
    }, "a non-matching doc leaked through the phrase filter")
  }

  test("geo bbox honors per-request bounds; polygon even-odd " +
    "classifies the notch as outside") {
    val bbox = Knn.knnGeoBBoxQuery(spark, sf).collect()
    assert(bbox.nonEmpty)
    def latOf(id: Long) = id * 7919L % 18000L / 100.0 - 90.0
    def lonOf(id: Long) = id * 104729L % 36000L / 100.0 - 180.0
    bbox.foreach { r =>
      val (qid, id) = (r.getLong(0), r.getLong(2))
      assert(math.abs(latOf(id) - latOf(qid)) <= 10.0 + qid * 4.0 &&
        math.abs(lonOf(id) - lonOf(qid)) <= 20.0 + qid * 8.0,
        s"neighbor $id outside request $qid's box")
    }
    // polygon: the notch (0,0)-(±120,-60) cut from the triangle —
    // a point inside the triangle but inside the notch must be OUT
    // (even-odd, 2 crossings), one above the notch IN (1 crossing)
    import spark.implicits._
    val verts = Seq((-120.0, -60.0), (0.0, 60.0), (120.0, -60.0),
      (0.0, 0.0))
    val pts = Seq((0.0, -30.0, "notch"), (0.0, 30.0, "body"),
      (-170.0, 0.0, "far")).toDF("lon", "lat", "tag")
    val in = pts.withColumn("in",
        Knn.insidePolygon(col("lon"), col("lat"), verts))
      .collect().map(r => r.getString(2) -> r.getBoolean(3)).toMap
    assert(!in("notch") && in("body") && !in("far"))
  }

  test("prefetch->rescore: results stay inside the stage-1 shortlist " +
    "and rank by the rescore vector") {
    val df = Knn.hybridPrefetchQuery(spark, sf)
    val out = df.collect()
    assert(out.nonEmpty)
    // independent reference: window-rank top-50 by title cosine,
    // then body-cosine ordering within it
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vt"),
        reverse(col("embedding")).as("vb"))
    val q = Tables.embeddings(spark, sf).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val s1 = e.crossJoin(q).select(col("qid"), col("id"),
        graft.functions.VectorDistance.cosine(col("vt"), col("qv")).as("s"))
      .where(col("s").isNotNull)
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("s").desc, col("id"))))
      .where(col("rk") <= 50)
    val shortlist = s1.select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.forall(r => shortlist((r.getLong(0), r.getLong(2)))),
      "a rescored hit escaped the stage-1 shortlist")
    val ref = s1.join(e.select(col("id"), col("vb")), "id")
      .join(q, "qid")
      .select(col("qid"), col("id"),
        graft.functions.VectorDistance.cosine(col("vb"), col("qv")).as("s2"))
      .where(col("s2").isNotNull)
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("s2").desc, col("id"))))
      .where(col("rk") <= 10)
      .select("qid", "rk", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      == ref, "rescore ranking diverged from the window reference")
  }

  test("discovery search: context wins dominate target similarity, " +
    "examples excluded") {
    import spark.implicits._
    // axis-aligned fixture: target along +x; candidate 20 is NEARER
    // the target but loses both context pairs (sits on the negative
    // side); candidate 21 is FARTHER but wins both — discovery must
    // rank 21 first (wins dominate), plain kNN would rank 20 first
    val corpus = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),   // target example
      (11L, Array(0f, 1f, 0f, 0f)),   // pair-1 positive
      (12L, Array(0f, -1f, 0f, 0f)),  // pair-1 negative
      (13L, Array(0f, 0f, 1f, 0f)),   // pair-2 positive
      (14L, Array(0f, 0f, -1f, 0f)),  // pair-2 negative
      (20L, Array(1f, -0.1f, -0.1f, 0f)),  // near target, loses both
      (21L, Array(0.5f, 0.6f, 0.6f, 0f))   // farther, wins both
    ).toDF("id", "vec")
    val e = corpus.select(col("id"), col("vec").cast("array<double>").as("v"))
    val req = Seq((0L, 10L, 11L, 12L, 13L, 14L))
      .toDF("qid", "tg", "p1", "n1", "p2", "n2")
    val withVecs = req
      .join(e.select(col("id").as("tg"), col("v").as("tvec")), "tg")
      .join(e.select(col("id").as("p1"), col("v").as("p1vec")), "p1")
      .join(e.select(col("id").as("n1"), col("v").as("n1vec")), "n1")
      .join(e.select(col("id").as("p2"), col("v").as("p2vec")), "p2")
      .join(e.select(col("id").as("n2"), col("v").as("n2vec")), "n2")
      .select(col("qid"), col("tvec"), col("p1vec"), col("n1vec"),
        col("p2vec"), col("n2vec"),
        array(col("tg"), col("p1"), col("n1"), col("p2"), col("n2"))
          .as("ex"))
    val out = Knn.discover(
      corpus.select(col("id"), col("vec").cast("array<double>").as("vec")),
      withVecs, 10).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // examples never appear
    assert(out.forall { case (_, id, _) => id == 20L || id == 21L })
    // the double-winner ranks first despite the lower target cosine
    assert(out.toSeq.sortBy(_._1).map(t => (t._2, t._3)).toList ==
      List((21L, 2L), (20L, 0L)),
      s"discovery ranking wrong: ${out.mkString(";")}")
  }

  test("zero-norm vector in the corpus drops from cosine top-k, no crash") {
    import spark.implicits._
    // round-2 bug: NULL cosine keys reached TopKAgg whose ScoredId.key
    // is a primitive Double — the encoder threw on any all-zero vector
    val dim = emb.select(size(col("vec"))).head().getInt(0)
    val zeroRow = Seq((99999L, Array.fill(dim)(0.0f), 0))
      .toDF("id", "vec", "label")
    val corpus = emb.unionByName(zeroRow)
    val out = Knn.topK(corpus, qs, 5, Knn.Metric.Cosine).collect()
    assert(out.nonEmpty && out.forall(_.getLong(2) != 99999L))
  }

  test("radius search returns exactly the pairs within the threshold") {
    val got = Knn.radius(emb, qs, Knn.Metric.Cosine, 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // reference: score every pair with the same kernel, filter locally
    val all = emb.crossJoin(broadcast(qs))
      .select(col("qid"), col("id"),
        graft.functions.VectorDistance.cosine(col("vec"), col("qvec")).as("s"))
      .collect()
      .filter(r => !r.isNullAt(2) && r.getDouble(2) >= 0.25)
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet
    assert(got.toSet == all, s"got ${got.length} vs expect ${all.size}")
    // self matches (cos = 1.0) are present — radius has no exclusion
    assert(got.exists(t => t._1 == t._2))
  }

  test("recency boost demotes stale matches on the NEGATIVE cosine half too") {
    import spark.implicits._
    // r11 advice: dividing a raw negative cosine by 2^bucket moved it
    // TOWARD zero, so a stale anti-correlated match outranked a fresh
    // one with the same raw score. Plant exactly that: one query, two
    // corpus vectors with the same NEGATIVE cosine (−1/√2), one fresh
    // (bucket 0) and one stale (bucket 2). Under the old formula the
    // stale one won (−0.707/4 = −0.18 > −0.707); the fresh one must
    // rank first.
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("qid", "qvec")
    val corpus = Seq(
      (10L, Array(-1.0f, 1.0f, 0.0f)),  // bucket 10 % 4 = 2 (stale)
      (12L, Array(-1.0f, 1.0f, 0.0f))   // bucket 12 % 4 = 0 (fresh)
    ).toDF("id", "vec")
    val out = Knn.topKRecencyBoosted(corpus, q, 2, pmod(col("id"), lit(4L)))
      .orderBy("rk").collect()
    assert(out(0).getLong(2) == 12L,
      s"fresh negative match must outrank stale equal: ${out.mkString(";")}")
    // raw score round-trips through the boosted key: both cosine −1/√2
    assert(out.forall(r => math.abs(r.getDouble(3) + 0.7071) < 1e-3))
    // and the decay stays monotone: fresh boosted > stale boosted
    assert(out(0).getDouble(4) > out(1).getDouble(4))
  }

  test("excluding self drops only the self match") {
    val withSelf = Knn.topK(emb, qs, 3, Knn.Metric.Cosine)
    val noSelf = Knn.topKExcludingSelf(emb, qs, 3, Knn.Metric.Cosine)
    // rank 1 with self is the query itself (cosine=1); without, it is not
    assert(withSelf.where(col("rk") === 1)
      .collect().forall(r => r.getLong(2) == r.getLong(0)))
    assert(noSelf.collect().forall(r => r.getLong(2) != r.getLong(0)))
  }
}
