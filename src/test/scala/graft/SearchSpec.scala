package graft

import graft.operators.Search
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSuite {

  private def docsDf = {
    import spark.implicits._
    Seq(
      (1L, "dup scan"),             // rare term + common term
      (2L, "scan scan scan vector"),
      (3L, "vector vector table"),
      (4L, "table join join"),
      (5L, "join hash")
    ).toDF("doc_id", "text")
  }

  test("only docs containing a query term appear; ranks contiguous") {
    import spark.implicits._
    val q = Seq((0L, "dup"), (1L, "join hash")).toDF("qid", "qtext")
    val out = Search.bm25TopK(docsDf, q, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val q0 = out.filter(_._1 == 0L)
    assert(q0.map(_._3).toSet == Set(1L)) // only doc 1 has 'dup'
    val q1 = out.filter(_._1 == 1L)
    assert(q1.map(_._3).toSet == Set(4L, 5L)) // docs with join/hash
    assert(q1.map(_._2).sorted.sameElements(Array(1, 2)))
  }

  test("rarer terms weigh more: the idf ordering drives rank") {
    import spark.implicits._
    // 'dup' in 1 doc, 'scan' in 2 — for query "dup scan", doc 1
    // (both terms) must beat doc 2 (only the common one)
    val q = Seq((0L, "dup scan")).toDF("qid", "qtext")
    val out = Search.bm25TopK(docsDf, q, 10)
      .orderBy("rk").collect()
    assert(out.head.getLong(2) == 1L)
    // scores strictly ranked, never increasing with rank
    val scores = out.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0.0))
  }

  test("bm25 matches a hand-computed score on a 3-doc corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c"))
      .toDF("doc_id", "text")
    val q = Seq((0L, "a")).toDF("qid", "qtext")
    // N=3, avgdl=(3+2+3)/3, df(a)=2, idf=ln((3-2+0.5)/(2+0.5)+1)
    val idf = math.log((3.0 - 2.0 + 0.5) / (2.0 + 0.5) + 1.0)
    def s(tf: Double, dl: Double): Double = {
      val raw = idf * tf * 2.2 /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (8.0 / 3.0)))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Search.bm25TopK(docs, q, 10).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(math.abs(got(1L) - s(2.0, 3.0)) < 1e-9)
    assert(math.abs(got(2L) - s(1.0, 2.0)) < 1e-9)
  }

  test("hybrid rrf: fused docs outrank single-leg docs at equal ranks") {
    val out = Search.hybridRrfQuery(spark, sf).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      // rrf non-increasing with rank
      val rrf = sorted.map(_.getDouble(3))
      assert(rrf.zip(rrf.tail).forall { case (a, b) => a >= b })
      // every row came from at least one leg
      assert(sorted.forall(r => r.getInt(4) > 0 || r.getInt(5) > 0))
    }
  }

  test("plan: one live corpus scan — postings checkpointed, not re-derived") {
    // round-4 verdict: stats + idf + contrib each forced their own
    // tokenize+explode of every document. With postings eagerly
    // checkpointed, the final plan's only documents scan is the
    // narrow stats pass; idf/contrib read the checkpoint RDD.
    val plan = Search.bm25Query(spark, sf)
      .queryExecution.executedPlan.toString
    val docScans = plan.linesIterator
      .count(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScans == 1,
      s"expected exactly the single stats scan of documents, got $docScans")
    assert(plan.contains("ExistingRDD"),
      "idf/contrib should read the checkpointed postings")
  }

  test("plan: corpus joins are broadcast equi-joins, no cartesian") {
    // the only nested-loop allowed is the 1-row corpus-stats cross
    // join; the postings/idf/qid joins must all be BroadcastHashJoin
    val p = Search.bm25Query(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"bm25 plan has a cartesian product:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      "query-term semi filter should be a broadcast hash join")
  }

  test("persisted postings index: pruned scan equals on-the-fly bm25") {
    val indexed = Search.bm25IndexedQuery(spark, sf).collect().toSeq
    val onTheFly = Search.bm25Query(spark, sf).collect().toSeq
    assert(indexed == onTheFly && indexed.nonEmpty)
    val plan = Search.bm25IndexedQuery(spark, sf)
      .queryExecution.executedPlan.toString
    // physical pruning: both bucketed index scans (postings and term
    // dictionary — the 1-row stats sidecar is unpartitioned) carry a
    // non-empty bucket partition filter (unqueried buckets never
    // listed) AND the term list pushed into the parquet scan
    val pfs = plan.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("bucket"))
      .toSeq
    assert(pfs.size == 2 && pfs.forall(l =>
        !l.contains("PartitionFilters: []")),
      s"index scans not bucket-pruned: $pfs")
    assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("term")),
      "query terms not pushed into the postings scan")
    // no tokenization at query time: the indexed plan never scans the
    // documents table
    assert(!plan.contains("documents.parquet"),
      "indexed search must not touch the raw corpus")
  }

  test("persisted prefix dictionary: indexed twin equals on-the-fly " +
      "prefix search, both scans pruned") {
    val indexed = Search.prefixSearchIndexed(spark, sf).collect().toSeq
    val onTheFly = Search.prefixSearch(spark, sf).collect().toSeq
    assert(indexed == onTheFly && indexed.nonEmpty)
    // the dictionary scan prunes by the pfx VALUE partitions (a hash
    // bucket could not serve a prefix query) — pinned on the probe
    // frame: the checkpoint severs it from the final plan
    val dictPlan = Search.prefixDictProbe(spark, sf)
      .queryExecution.executedPlan.toString
    val dictPf = dictPlan.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("pfx"))
      .toSeq
    assert(dictPf.nonEmpty && dictPf.forall(l =>
        !l.contains("PartitionFilters: []")),
      s"prefix dictionary scan not pfx-pruned: $dictPf")
    val plan = Search.prefixSearchIndexed(spark, sf)
      .queryExecution.executedPlan.toString
    // ... and the postings probe prunes by term-hash bucket with the
    // matched terms pushed down (the bm25-indexed discipline)
    val postPf = plan.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("bucket"))
      .toSeq
    assert(postPf.nonEmpty && postPf.forall(l =>
        !l.contains("PartitionFilters: []")),
      s"postings scan not bucket-pruned: $postPf")
    assert(!plan.contains("documents.parquet"),
      "indexed prefix search must not re-tokenize the corpus")
  }

  test("prefix-dictionary insert: touched-pfx replacement equals a " +
      "rebuild and absorbs a redelivered batch") {
    val docs = Tables.documents(spark, sf)
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 =!= 0)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pfxins")
    val inc = root.resolve("inc").toString
    val full = root.resolve("full").toString
    try {
      Search.prefixDictBuild(spark, half1, inc)
      Search.prefixDictInsert(spark, inc, half2)
      Search.prefixDictBuild(spark, docs, full)
      def rows(p: String) = spark.read.parquet(p)
        .select("doc_id", "term", "pfx").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val merged = rows(inc)
      assert(merged == rows(full) && merged.nonEmpty)
      // redelivery: the same batch applied again changes nothing
      // (doc-granular anti-join replacement, not count merging)
      Search.prefixDictInsert(spark, inc, half2)
      assert(rows(inc) == merged)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("streamed prefix-dictionary maintenance equals a full rebuild") {
    import graft.streaming.PrefixDictMaintenance
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pfxstream")
    val idx = root.resolve("idx").toString
    val full = root.resolve("full").toString
    val ckpt = root.resolve("ckpt").toString
    try {
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
      val boot = docs.where(col("doc_id") % 2 === 0)
      val tail = docs.where(col("doc_id") % 2 =!= 0)
        .as[(Long, String)].collect()
      Search.prefixDictBuild(spark, boot, idx)
      val stream = MemoryStream[(Long, String)]
      val q = PrefixDictMaintenance.attach(
        stream.toDF().toDF("doc_id", "text"), idx, ckpt)
      try {
        tail.grouped(math.max(tail.length / 3, 1)).foreach { w =>
          stream.addData(w.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      Search.prefixDictBuild(spark, docs, full)
      def rows(p: String) = spark.read.parquet(p)
        .select("doc_id", "term", "pfx").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(rows(idx) == rows(full),
        "stream-maintained prefix dictionary drifted from a rebuild")
      assert(rows(idx).nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("postings insert: touched-bucket merge equals a full rebuild") {
    val docs = Tables.documents(spark, sf)
    val half1 = docs.where(col("doc_id") % 2 === 0)
    val half2 = docs.where(col("doc_id") % 2 =!= 0)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "bm25ins")
    val inc = root.resolve("inc").toString
    val full = root.resolve("full").toString
    try {
      Search.bm25BuildIndex(spark, half1, inc)
      Search.bm25IndexInsert(spark, inc, half2)
      Search.bm25BuildIndex(spark, docs, full)
      val q = Search.fixedQueries(spark)
      val a = Search.bm25SearchIndexed(spark, inc, q, 10).collect().toSeq
      val b = Search.bm25SearchIndexed(spark, full, q, 10).collect().toSeq
      assert(a == b && a.nonEmpty,
        "insert-grown index must equal the rebuilt index")
      // repair is a no-op on a healthy index (idempotence), and
      // restores a dictionary lost to a crash after the postings
      // publish — postings are ground truth
      Search.deriveSidecars(spark, inc)
      assert(Search.bm25SearchIndexed(spark, inc, q, 10)
        .collect().toSeq == a)
      // redelivery safety: re-inserting the SAME batch replaces its
      // own rows (doc_id anti-join), so the index — postings,
      // dictionary, and stats — is unchanged
      Search.bm25IndexInsert(spark, inc, half2)
      assert(Search.bm25SearchIndexed(spark, inc, q, 10)
        .collect().toSeq == a, "re-delivered batch changed the index")
      // empty batch is a no-op, not an NPE
      Search.bm25IndexInsert(spark, inc, docs.where(lit(false)))
      assert(Search.bm25SearchIndexed(spark, inc, q, 10)
        .collect().toSeq == a)
      // crash window: postings published, stats write lost (simulated
      // by clobbering the stats row). Redelivering the batch CANNOT
      // heal it — the rows are already present, so the stats delta is
      // zero by design — only the repair restores consistency, which
      // is why the streaming loop runs it on every (re)start.
      import spark.implicits._
      Seq((1.0, 1.0, 1.0)).toDF("n_docs", "sum_dl", "avgdl")
        .write.mode("overwrite").parquet(inc + "_stats")
      Search.bm25IndexInsert(spark, inc, half2)
      assert(Search.bm25SearchIndexed(spark, inc, q, 10)
        .collect().toSeq != a, "clobbered stats should be visible")
      Search.deriveSidecars(spark, inc)
      assert(Search.bm25SearchIndexed(spark, inc, q, 10)
        .collect().toSeq == a, "repair did not restore the sidecars")
      // a query mixing unknown terms with known ones returns exactly
      // the known terms' results (the unknown bucket probe finds no
      // rows; nothing throws, nothing leaks)
      import spark.implicits._
      val mixed = Seq((7L, "zzzunknownzzz join hash"))
        .toDF("qid", "qtext")
      val mm = Search.bm25SearchIndexed(spark, inc, mixed, 10)
        .collect().map(r => r.getLong(2)).toSet
      val known = Search.bm25SearchIndexed(spark, inc,
        Seq((7L, "join hash")).toDF("qid", "qtext"), 10)
        .collect().map(r => r.getLong(2)).toSet
      assert(mm == known && mm.nonEmpty)
      val nDocs = spark.read.parquet(inc + "_stats")
        .collect().head.getDouble(0)
      assert(nDocs == docs.count().toDouble,
        s"stats double-counted after redelivery: $nDocs")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("postings delete: touched-bucket rewrite equals a rebuild " +
    "without the deleted docs; no stale posting survives; idempotent") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    // second input: one planted doc whose single term hashes into a
    // bucket no corpus term uses (the index's 64 term buckets), so
    // deleting it empties that bucket in the postings and dictionary
    val used = corpus.select(explode(split(col("text"), " "))).distinct()
      .as[String].collect()
      .map(t => math.floorMod(graft.functions.HashUtils.md5Prefix60(t.getBytes("UTF-8")), 64L))
      .toSet
    val lone = Iterator.from(0).map(i => s"zq$i").find(t => !used(
      math.floorMod(graft.functions.HashUtils.md5Prefix60(t.getBytes("UTF-8")), 64L))).get
    Seq(false, true).foreach { planted =>
      val docs =
        if (planted) corpus.unionByName(Seq((1000000000L, lone)).toDF("doc_id", "text"))
        else corpus
      val root = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "bm25del")
      val idx = root.resolve("idx").toString
      val full = root.resolve("full").toString
      try {
        Search.bm25BuildIndex(spark, docs, idx)
        val gone = docs.where(col("doc_id") % 3 === 0 || col("doc_id") === 1000000000L)
          .select("doc_id")
        Search.bm25IndexDelete(spark, idx, gone)
        Search.bm25BuildIndex(spark,
          docs.join(gone, Seq("doc_id"), "left_anti"), full)
        val q = Search.fixedQueries(spark)
        val a = Search.bm25SearchIndexed(spark, idx, q, 10).collect().toSeq
        val b = Search.bm25SearchIndexed(spark, full, q, 10).collect().toSeq
        assert(a == b && a.nonEmpty,
          "delete-maintained index must equal a rebuild on the remainder")
        // no posting of a deleted doc survives anywhere
        assert(spark.read.parquet(idx)
          .join(gone, Seq("doc_id"), "left_semi").count() == 0)
        def dict(p: String) = spark.read.parquet(p + "_terms")
          .select("term", "dfreq").as[(String, Double)].collect().toSet
        assert(dict(idx) == dict(full),
          s"delete-maintained dictionary differs from a rebuild (planted=$planted)")
        // redelivery: deleting the same ids again is a no-op
        Search.bm25IndexDelete(spark, idx, gone)
        assert(Search.bm25SearchIndexed(spark, idx, q, 10)
          .collect().toSeq == a, "re-delivered delete changed the index")
        // deleting ids the index never held is a no-op too
        Search.bm25IndexDelete(spark, idx,
          Seq(987654321L).toDF("doc_id"))
        assert(Search.bm25SearchIndexed(spark, idx, q, 10)
          .collect().toSeq == a)
      } finally {
        import scala.reflect.io.Directory
        new Directory(root.toFile).deleteRecursively()
      }
    }
  }

  test("versioned postings root: atomic rebuild publish, GC keeps live") {
    import graft.operators.Manifest
    val docs = Tables.documents(spark, sf)
    val half = docs.where(col("doc_id") % 2 === 0)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "bm25root").toString
    try {
      val q = Search.fixedQueries(spark)
      // v1: half the corpus, published
      Search.bm25BuildPublished(spark, half, root)
      assert(Manifest.current(spark, root).contains("v1"))
      val v1Res = Search.bm25SearchCurrent(spark, root, q, 10)
        .collect().toSeq
      assert(v1Res.nonEmpty)
      // rebuild over the full corpus publishes v2 atomically; readers
      // resolving through the pointer flip from one complete index to
      // the other
      Search.bm25BuildPublished(spark, docs, root)
      assert(Manifest.current(spark, root).contains("v2"))
      val v2Res = Search.bm25SearchCurrent(spark, root, q, 10)
        .collect().toSeq
      val direct = Search.bm25IndexedQuery(spark, sf).collect().toSeq
      assert(v2Res == direct, "published rebuild drifted from a direct build")
      // superseded v1 (and its _terms/_stats sidecars) retire under
      // GC; the live version always survives
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(new org.apache.hadoop.fs.Path(root, "v1_stats")))
      val deleted = Manifest.gcVersions(spark, root, keep = 0)
      assert(deleted.contains("v1") && deleted.contains("v1_stats"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v1")))
      assert(Search.bm25SearchCurrent(spark, root, q, 10)
        .collect().toSeq == v2Res, "GC touched the live version")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("mmr: greedy objective non-increasing, rank-1 = relevance argmax") {
    import graft.operators.Knn
    val out = Search.mmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = Tables.embeddings(spark, sf).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val knn = Knn.topK(corpus, queries, 5, Knn.Metric.Cosine).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val byRk = rows.sortBy(_._2)
      assert(byRk.map(_._2).sameElements(1L to 5L))
      // each later pick faces a shrunken candidate set and a grown
      // penalty, so the greedy maximum cannot increase
      assert(byRk.map(_._4).sliding(2).forall(w => w(0) >= w(1)),
        s"qid $qid: mmr scores increase: ${byRk.map(_._4).toSeq}")
      // the first pick ignores diversity — it must be the cosine top-1
      assert(byRk.head._3 == knn.find(k => k._1 == qid && k._2 == 1).get._3)
    }
    // the penalty must BIND somewhere: the testdata embeddings carry
    // near-dup clusters (dedup_embedding_cos finds them), so at least
    // one query's diversified top-5 differs from its relevance top-5
    val mmrSets = out.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    val knnSets = knn.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    assert(mmrSets.keys.exists(q => mmrSets(q) != knnSets(q)),
      "MMR never diverged from pure relevance — penalty is dead code")
  }

  test("persisted spell index: probe-pruned correction equals the " +
    "on-the-fly path, no vocabulary scan at query time") {
    import graft.operators.Search
    val indexed = Search.spellCorrectIndexed(spark, sf).collect().toSeq
    val onTheFly = Search.spellCorrectQuery(spark, sf).collect().toSeq
    assert(indexed == onTheFly && indexed.nonEmpty)
    // the correction stage reads only probed key-buckets: its index
    // scan carries a non-empty bk partition filter and the query's
    // deletion keys pushed into the parquet scan (the probe frame is
    // inspected directly — the query's checkpoints sever it from the
    // final executed plan)
    val plan = Search.spellProbeFrame(spark, sf,
        Search.spellQueryKeys(spark))
      .queryExecution.executedPlan.toString
    val pfs = plan.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("bk"))
      .toSeq
    assert(pfs.nonEmpty && pfs.forall(l =>
        !l.contains("PartitionFilters: []")),
      s"spell index scan not bucket-pruned: $pfs")
    assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("dk")),
      "query deletion keys not pushed into the index scan")
  }

  test("spell index insert: touched-bucket growth equals a rebuild, " +
    "redelivery is a no-op, untouched buckets keep their files") {
    import graft.operators.Search
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "spellins")
    val base = root.resolve("base").toString
    val grown = root.resolve("grown").toString
    try {
      import spark.implicits._
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
      // the batch introduces NEW vocabulary (the fixture's shared
      // word-salad vocab would touch every bucket and mask locality)
      val batch = Seq((90001L, "zzmarker quux"),
        (90002L, "zzmarker spark")).toDF("doc_id", "text")
      val all = docs.unionByName(batch)
      Search.spellIndexBuildFrom(docs, grown)
      val before = new java.io.File(grown).listFiles()
        .filter(_.getName.startsWith("bk="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
      Search.spellIndexInsert(spark, grown, batch)
      Search.spellIndexBuildFrom(all, base)
      def rows(p: String) = spark.read.parquet(p)
        .select("doc_id", "t", "dk", "bk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getAs[Number](3).longValue)).toSet
      val grownSet = rows(grown)
      assert(grownSet == rows(base),
        "insert-grown spell index drifted from a full rebuild")
      // redelivery: inserting the same batch again changes nothing
      Search.spellIndexInsert(spark, grown, batch)
      assert(rows(grown) == grownSet)
      // locality: some bucket kept its original files (the batch's
      // keys cannot hash into every bucket)
      val after = new java.io.File(grown).listFiles()
        .filter(_.getName.startsWith("bk="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
      assert(before.exists { case (b, fs) => after.get(b).contains(fs) },
        "every bucket was rewritten — touched-set pruning lost")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("streamed documents maintain the spell dictionary ≡ rebuild " +
    "of the final corpus") {
    import graft.operators.Search
    import graft.streaming.SpellMaintenance
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "spellstream")
    val idx = root.resolve("idx").toString
    val full = root.resolve("full").toString
    val ckpt = root.resolve("ckpt").toString
    try {
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
      val boot = docs.where(col("doc_id") % 2 === 0)
      val tail = docs.where(col("doc_id") % 2 =!= 0)
        .as[(Long, String)].collect()
      Search.spellIndexBuildFrom(boot, idx)
      val stream = MemoryStream[(Long, String)]
      val q = SpellMaintenance.attach(
        stream.toDF().toDF("doc_id", "text"), idx, ckpt)
      try {
        tail.grouped(math.max(tail.length / 3, 1)).foreach { w =>
          stream.addData(w.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      Search.spellIndexBuildFrom(docs, full)
      def rows(p: String) = spark.read.parquet(p)
        .select("doc_id", "t", "dk", "bk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getAs[Number](3).longValue)).toSet
      assert(rows(idx) == rows(full),
        "stream-maintained spell dictionary drifted from a rebuild")
      assert(rows(idx).nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("spell correction restores the clean queries: typo'd search " +
    "equals plain bm25 over the intended terms") {
    import graft.operators.Search
    // every typo in typoQueries is ED-1 from a corpus term whose df
    // dominates its ED-1 neighborhood, so the corrected batch IS the
    // clean fixed batch — search results must agree exactly
    val got = Search.spellCorrectQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val want = Search.bm25Query(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq,
      "spell-corrected search drifted from the clean-query bm25")
    // and the typo terms themselves are genuinely OOV (the correction
    // path, not the exact path, produced the agreement)
    val vocab = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    Seq("joim", "strean", "vectar", "ordr", "filtes").foreach { t =>
      assert(!vocab.contains(t), s"typo fixture '$t' exists in corpus")
    }
  }
}
