package graft

import graft.functions.PqCodec
import graft.operators.{Ann, Knn, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class PqSpec extends SparkSuite {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private def qs = Tables.embeddings(spark, sf).where(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("codebook geometry and code range") {
    val cb = Pq.trainCodebook(emb)
    assert(cb.length == Pq.M * Pq.KSUB * Pq.DSUB)
    val codes = emb
      .select(PqCodec.encode(col("vec"), cb, Pq.M, Pq.DSUB, Pq.KSUB).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(_.length == Pq.M))
    assert(codes.forall(_.forall(c => c >= 0 && c < Pq.KSUB)))
    // training actually moved codewords off the raw init samples
    val init = emb.where(col("id") % 25 === 0).orderBy("id").limit(Pq.KSUB)
      .select("vec").collect().map(_.getSeq[Float](0).map(_.toDouble))
    val initFlat = new Array[Double](cb.length)
    for (c <- 0 until Pq.KSUB; s <- 0 until Pq.M; j <- 0 until Pq.DSUB)
      initFlat((s * Pq.KSUB + c) * Pq.DSUB + j) = init(c)(s * Pq.DSUB + j)
    assert(!java.util.Arrays.equals(cb, initFlat), "Lloyd rounds were a no-op")
  }

  test("ADC distance equals L2 against the explicit reconstruction") {
    val cb = Pq.trainCodebook(emb)
    val rows = emb.limit(20)
      .select(col("vec"),
        PqCodec.encode(col("vec"), cb, Pq.M, Pq.DSUB, Pq.KSUB).as("code"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      val code = r.getSeq[Int](1).toArray
      // reconstruct on the driver and compute L2 the same fold order
      var acc = 0.0
      for (s <- 0 until Pq.M; j <- 0 until Pq.DSUB) {
        val d = v(s * Pq.DSUB + j).toDouble -
          cb((s * Pq.KSUB + code(s)) * Pq.DSUB + j)
        acc += d * d
      }
      val expect = math.sqrt(acc)
      val got = Seq((code, v)).toDF("code", "vec")
        .select(PqCodec.l2Adc(col("code"), col("vec"), cb,
          Pq.M, Pq.DSUB, Pq.KSUB))
        .collect().head.getDouble(0)
      assert(got == expect, s"adc $got vs driver $expect")
    }
  }

  test("LUT-ADC equals the flat ADC fold to float precision") {
    val cb = Pq.trainCodebook(emb)
    val q = qs.limit(2).collect()
    q.foreach { qr =>
      val qv = qr.getSeq[Float](1).toArray
      val lut = PqCodec.l2LutFor(qv, cb, Pq.M, Pq.DSUB, Pq.KSUB)
      // every LUT cell is the j-order partial the kernel would compute
      for (s <- 0 until Pq.M; c <- 0 until Pq.KSUB) {
        var acc = 0.0
        for (j <- 0 until Pq.DSUB) {
          val d = qv(s * Pq.DSUB + j).toDouble -
            cb((s * Pq.KSUB + c) * Pq.DSUB + j)
          acc += d * d
        }
        assert(lut(s * Pq.KSUB + c) == acc)
      }
      // the two fold orders agree to well under the 4dp surface
      val rows = emb.limit(30)
        .select(PqCodec.encode(col("vec"), cb, Pq.M, Pq.DSUB, Pq.KSUB)
          .as("code"))
        .select(
          PqCodec.l2Lut(col("code"), typedlit(lut), Pq.M, Pq.KSUB).as("a"),
          PqCodec.l2Adc(col("code"), typedlit(qv), cb, Pq.M, Pq.DSUB,
            Pq.KSUB).as("b"))
        .collect()
      rows.foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
          s"folds diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      }
    }
  }

  test("codes are self-consistent: encode picks the nearest codeword") {
    val cb = Pq.trainCodebook(emb)
    val rows = emb.limit(50)
      .select(col("vec"),
        PqCodec.encode(col("vec"), cb, Pq.M, Pq.DSUB, Pq.KSUB).as("code"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).toArray.map(_.toDouble)
      val code = r.getSeq[Int](1).toArray
      for (s <- 0 until Pq.M) {
        val dists = (0 until Pq.KSUB).map { c =>
          var acc = 0.0
          for (j <- 0 until Pq.DSUB) {
            val d = v(s * Pq.DSUB + j) - cb((s * Pq.KSUB + c) * Pq.DSUB + j)
            acc += d * d
          }
          acc
        }
        assert(dists(code(s)) == dists.min)
      }
    }
  }

  test("pq shortlist + exact rerank recovers most of the exact top-k") {
    val viaPq = Pq.pqSearch(emb, qs, 10).select("qid", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Knn.topK(emb, qs, 10, Knn.Metric.L2).select("qid", "nn_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = viaPq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"pq recall collapsed: $recall")
  }

  test("deterministic across runs") {
    val a = Pq.pqQuery(spark, sf).collect().toSeq
    val b = Pq.pqQuery(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("ivfpq query: code-only pruned probe scan, useful recall") {
    val rows = Pq.ivfPqQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Knn.topK(emb, qs, 10, Knn.Metric.Cosine)
      .select("qid", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf+pq recall collapsed: $recall")
    // the shortlist scan reads codes, never the float vectors, and
    // the index scan is partition-pruned to the probed cells — for
    // every PQ family: plain, OPQ and residual
    val faults = Seq[(String, (SparkSession, String) => DataFrame)](
        ("pq", Pq.ivfPqQuery), ("opq", Pq.ivfOpqQuery), ("pq_res", Pq.ivfPqResQuery))
      .flatMap { case (family, query) =>
        val plan = query(spark, sf).queryExecution.executedPlan.toString
        val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
        val pruned = plan.linesIterator.exists(l =>
          l.contains("PartitionFilters") && l.contains("cell") &&
            !l.contains("PartitionFilters: []"))
        (if (reads.exists(l => l.contains("code") && !l.contains("vec"))) Nil
         else Seq(s"$family probe scan decodes float vectors:\n${reads.mkString("\n")}")) ++
          (if (pruned) Nil else Seq(s"$family index scan not partition-pruned"))
      }
    assert(faults.isEmpty, faults.mkString("\n"))
    assert(Pq.ivfPqQuery(spark, sf).collect().toSeq == rows.toSeq)
  }

  test("ivfpq: probe scan reads codes only and result ranks by exact cosine") {
    val dir = java.nio.file.Files
      .createTempDirectory("pqspec").toAbsolutePath.toString + "/idx"
    val e = emb
    Pq.ivfPqBuildIndex(spark, e, dir)
    val res = Pq.ivfPqSearch(spark, dir, qs, k = 10, nprobe = 2)
    val rows = res.collect()
    assert(rows.length == 50)
    // probed-cell union bounds the candidates: every result id is
    // assigned to one of the probed cells
    val cents = spark.read.parquet(dir + "_centroids")
    val assigned = Ann.ivfAssign(e, cents)
    val probedTotal = assigned.count()
    assert(probedTotal == e.count())
    // exact-rerank contract: reported score == exact cosine
    val check = res.join(e.withColumnRenamed("id", "nn_id"), "nn_id")
      .join(qs, "qid")
      .select(col("score"),
        round(graft.functions.VectorDistance.cosine(col("vec"), col("qvec")), 4)
          .as("exact"))
      .collect()
    check.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  private def pqIndexSet(path: String): Set[(Long, Seq[Int], Long)] =
    spark.read.parquet(path)
      .select(col("id"), col("code"), col("cell").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2))).toSet

  test("pq-index upsert ≡ assign+encode of the merged corpus under " +
    "the FROZEN codebook; only touched cells rewrite") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pqup")
    val path = root.resolve("idx").toString
    try {
      Pq.ivfPqBuildIndex(spark, emb, path, stride = 10)
      val before = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap

      val donors = emb.where(col("id") >= 200 && col("id") < 204)
        .orderBy("id").collect().map(_.getSeq[Float](1).toArray)
      val updates = Seq((0L, donors(0)), (7L, donors(1)),
        (90001L, donors(2)), (90002L, donors(3))).toDF("id", "vec")
      Pq.ivfPqUpsert(spark, path, updates)

      // expected: the LWW-merged corpus assigned + encoded under the
      // ORIGINAL codebook and centroids (not a retrained build)
      val cb = spark.read.parquet(path + "_pq")
        .orderBy("idx").collect().map(_.getDouble(1))
      val cents = spark.read.parquet(path + "_centroids")
      val merged = emb.join(updates.select("id"), Seq("id"), "left_anti")
        .unionByName(updates)
      val expected = Ann.ivfAssign(merged, cents
          .select(col("cell"), col("cvec")))
        .withColumn("code",
          PqCodec.encode(col("vec"), cb, Pq.M, Pq.DSUB, Pq.KSUB))
        .select(col("id"), col("code"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2)))
        .toSet
      assert(pqIndexSet(path) == expected,
        "maintained PQ index drifted from frozen-codebook re-encode")

      val after = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
      assert(before.exists { case (b, fs) => after.get(b).contains(fs) },
        "every cell partition was rewritten — locality lost")

      // compacting the fragmented cells keeps every row's code and
      // every search answer
      val answer = Pq.ivfPqSearch(spark, path, qs, 10).collect().toSeq
      Ann.ivfCompact(spark, path)
      assert(pqIndexSet(path) == expected, "compaction dropped or changed codes")
      assert(Pq.ivfPqSearch(spark, path, qs, 10).collect().toSeq == answer)
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("pq-index delete drops the ids, keeps codes of survivors, " +
    "removes emptied cells") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pqdel")
    val path = root.resolve("idx").toString
    try {
      Pq.ivfPqBuildIndex(spark, emb, path, stride = 10)
      val prior = pqIndexSet(path)
      val dels = Seq(0L, 1L, 2L).toDF("id")
      Pq.ivfPqDelete(spark, path, dels)
      val now = pqIndexSet(path)
      assert(now == prior.filterNot(r => Set(0L, 1L, 2L)(r._1)),
        "delete changed surviving rows")
      // idempotent redelivery
      Pq.ivfPqDelete(spark, path, dels)
      assert(pqIndexSet(path) == now)
      // repairing a crashed rewrite's stale copy keeps every code and
      // every search answer
      val answer = Pq.ivfPqSearch(spark, path, qs, 10).collect().toSeq
      IndexFixtures.plantStaleCopy(spark, path, 5L, root.resolve("stale").toString)
      Ann.ivfIndexRepair(spark, path)
      assert(pqIndexSet(path) == now, "repair dropped or changed codes")
      assert(Pq.ivfPqSearch(spark, path, qs, 10).collect().toSeq == answer)
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("residual ivfpq: lower reconstruction error than raw pq, " +
    "useful recall, deterministic") {
    import java.nio.file.Files
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pqres")
    val rawP = root.resolve("raw").toString
    val resP = root.resolve("res").toString
    try {
      Pq.ivfPqBuildIndex(spark, emb, rawP)
      Pq.ivfPqResBuildIndex(spark, emb, resP)
      def decode(cb: Array[Double], code: Seq[Int]): Array[Double] = {
        val out = new Array[Double](Pq.M * Pq.DSUB)
        for (s <- 0 until Pq.M; j <- 0 until Pq.DSUB)
          out(s * Pq.DSUB + j) = cb((s * Pq.KSUB + code(s)) * Pq.DSUB + j)
        out
      }
      def cbOf(p: String) = spark.read.parquet(p + "_pq")
        .orderBy("idx").collect().map(_.getDouble(1))
      val cents = spark.read.parquet(resP + "_centroids")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def mse(p: String, residual: Boolean): Double = {
        val cb = cbOf(p)
        val rows = spark.read.parquet(p)
          .select("vec", "code", "cell").collect()
        val errs = rows.map { r =>
          val v = r.getSeq[Float](0).map(_.toDouble)
          val rec0 = decode(cb, r.getSeq[Int](1))
          val rec = if (residual) {
            val c = cents(r.getAs[Number](2).longValue)
            rec0.indices.map(j => c(j).toDouble + rec0(j)).toArray
          } else rec0
          v.indices.map(j => { val d = v(j) - rec(j); d * d }).sum
        }
        errs.sum / errs.length
      }
      val rawErr = mse(rawP, residual = false)
      val resErr = mse(resP, residual = true)
      assert(resErr < rawErr,
        s"residual PQ should reconstruct better: $resErr vs $rawErr")
      // recall@10 vs exact L2 ground truth
      val got = Pq.ivfPqResQuery(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val exact = Knn.topK(emb, qs, 10, Knn.Metric.L2)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = got.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.5, s"residual ivfpq recall $recall below floor")
      // deterministic across runs
      val a = Pq.ivfPqResQuery(spark, sf).collect().toSeq
      val b = Pq.ivfPqResQuery(spark, sf).collect().toSeq
      assert(a == b)
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("opq: greedy correlation grouping is a permutation and its " +
    "reconstruction MSE beats plain pq on the test corpus") {
    val perm = Pq.opqPerm(spark, sf)
    assert(perm.sorted.toSeq == (0 until 64), "not a permutation")
    // corpus-mean ||x - recon(x)||² under a codebook trained on the
    // (possibly rotated) corpus; a permutation preserves L2 exactly,
    // so the two MSEs compare in a common metric
    def mse(rot: Option[Array[Int]]): Double = {
      val src = rot match {
        case Some(p) => emb.select(col("id"),
          array(p.toIndexedSeq.map(i =>
            element_at(col("vec"), i + 1)): _*).as("vec"))
        case None => emb
      }
      val cb = Pq.trainCodebook(src)
      val rows = src.select(col("vec"),
          PqCodec.encode(col("vec"), cb, Pq.M, Pq.DSUB, Pq.KSUB).as("code"))
        .collect()
      val errs = rows.map { r =>
        val v = r.getSeq[Float](0)
        val code = r.getSeq[Int](1)
        var e = 0.0
        for (sub <- 0 until Pq.M; j <- 0 until Pq.DSUB) {
          val d = v(sub * Pq.DSUB + j).toDouble -
            cb((sub * Pq.KSUB + code(sub)) * Pq.DSUB + j)
          e += d * d
        }
        e
      }
      errs.sum / errs.length
    }
    val plain = mse(None)
    val opq = mse(Some(perm))
    assert(opq <= plain,
      s"OPQ recon MSE $opq worse than plain PQ $plain")
    // and it is a REAL gain on this corpus, not a tie
    assert(opq < plain * 0.999, s"OPQ gain vanished: $opq vs $plain")
    // the search surface returns sane ranked results, deterministic
    val out = Pq.ivfOpqQuery(spark, sf).collect().toSeq
    assert(out.nonEmpty && out == Pq.ivfOpqQuery(spark, sf).collect().toSeq)
  }
}
