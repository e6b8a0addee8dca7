package graft.operators

import graft.Tables
import graft.functions.PqCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantized search — the third member of the FAISS
  * quantization family next to FLAT (Knn) and SQ8 (Quant): vectors
  * compress to m codes of log2(ksub) bits (here 8×4 bits = 4 bytes
  * for a 64-dim float vector, 64×), the shortlist scan reads ONLY
  * codes, and an exact float rerank restores precision. The reference
  * serves its approximate path with HNSW (hnswlib_index.cc:28); at
  * 100 TB the PQ-coded column is what makes a shortlist scan of the
  * full corpus affordable — it is ~1.5% of the float scan's bytes.
  *
  * Training is deterministic (lowest-ksub stride-sampled init, 2
  * Lloyd rounds, 6dp-float-round-tripped means — the IVF recipe from
  * Ann.kmeansCentroids applied per subspace), so a DuckDB mirror
  * reproduces codebooks, codes, ADC distances, and the final ranking
  * bit-for-bit, and specs can assert equality across runs.
  */
object Pq {

  /** Default geometry for the 64-dim test embeddings: 8 subspaces ×
    * 8 dims, 16 codewords each (4-bit codes). At production dims the
    * same plan holds with m ~ dim/8 and ksub = 256.
    */
  val M = 8
  val DSUB = 8
  val KSUB = 16

  /** Per-subspace k-means codebook, flat layout
    * `(s·ksub + c)·dsub + j`. Init = the ksub lowest-id vectors among
    * every `stride`-th row (pure function of ids — no RNG); `iters`
    * Lloyd rounds of encode → per-(sub, code, dim) mean, means
    * ROUNDED to 6dp and round-tripped through float so the result is
    * independent of distributed summation order (the Ann.scala:50
    * determinism recipe). A codeword that attracts no vectors keeps
    * its previous value. The collect is m·ksub·dsub rows — the
    * driver-held training constant, like IVF centroids.
    */
  def trainCodebook(emb: DataFrame, m: Int = M, dsub: Int = DSUB,
                    ksub: Int = KSUB, stride: Long = 25,
                    iters: Int = 2): Array[Double] = {
    val dim = m * dsub
    val samples = emb.where(col("id") % stride === 0)
      .orderBy("id").limit(ksub)
      .select("vec").collect()
      .map(_.getSeq[Float](0).toArray)
    require(samples.length == ksub,
      s"need $ksub init samples, got ${samples.length}")
    require(samples.forall(_.length >= dim), s"vectors shorter than $dim")
    val cb = new Array[Double](m * ksub * dsub)
    for (c <- 0 until ksub; s <- 0 until m; j <- 0 until dsub)
      cb((s * ksub + c) * dsub + j) = samples(c)(s * dsub + j).toDouble
    var cur = cb
    for (_ <- 1 to iters) {
      val means = emb
        .select(col("vec"),
          PqCodec.encode(col("vec"), cur, m, dsub, ksub).as("code"))
        .where(col("code").isNotNull)
        .select(col("code"), posexplode(col("vec")).as(Seq("dim", "x")))
        .select((col("dim") / dsub).cast("int").as("sub"), col("dim"),
          col("x").cast("double").as("x"), col("code"))
        .withColumn("cid", element_at(col("code"), col("sub") + 1))
        .groupBy("sub", "cid", "dim")
        .agg(round(avg("x"), 6).as("mn"))
        .collect()
      val next = cur.clone() // empty codewords keep their previous value
      means.foreach { r =>
        val s = r.getInt(0); val c = r.getInt(1); val d = r.getInt(2)
        next((s * ksub + c) * dsub + (d - s * dsub)) =
          r.getDouble(3).toFloat.toDouble
      }
      cur = next
    }
    cur
  }

  /** Flat PQ search (L2, matching vdb_knn_sq8's metric): encode the
    * corpus, LUT-ADC shortlist of rerank·k per query over codes only
    * (per-query lookup tables built driver-side — m lookups + adds
    * per scanned row instead of m·dsub multiply-adds), exact float
    * rerank to k. Queries are collected to build the LUTs — the same
    * driver-sized contract as [[Knn.topK]]'s collected query set (FAISS
    * builds the per-query tables the same way before its scan). Output
    * shape, `(qid, rk, nn_id, score)`, is Knn.topK's.
    */
  def pqSearchWith(emb: DataFrame, queries: DataFrame, k: Int,
                   rerank: Int, cb: Array[Double], m: Int = M,
                   dsub: Int = DSUB, ksub: Int = KSUB): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val codes = emb.select(col("id"),
      PqCodec.encode(col("vec"), cb, m, dsub, ksub).as("code"))
    val qlut = queries.select(col("qid"), col("qvec")).collect().map { r =>
      val qv = r.getSeq[Float](1).toArray
      (r.getLong(0), qv, PqCodec.l2LutFor(qv, cb, m, dsub, ksub))
    }.toSeq
    val qb = broadcast(qlut.toDF("qid", "qvec", "lut"))
    val scored = codes.crossJoin(qb.select("qid", "lut"))
      .select(col("qid"),
        PqCodec.l2Lut(col("code"), col("lut"), m, ksub).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    Ann.shortlistRerank(scored, rerank, emb, qb, k, Knn.Metric.L2)
  }

  def pqSearch(emb: DataFrame, queries: DataFrame, k: Int,
               rerank: Int = 4): DataFrame =
    pqSearchWith(emb, queries, k, rerank, trainCodebook(emb))

  /** Default-stride codebook for the full corpus at `dir`, trained
    * once per dir and shared by every consumer (pqQuery,
    * quantErrorReport) through [[graft.ByproductCache]].
    */
  def cachedCodebook(dir: String, emb: DataFrame): Array[Double] =
    graft.ByproductCache.getOrCompute(
      emb.sparkSession.sparkContext.applicationId,
      s"pqcodebook|$dir|25")(trainCodebook(emb))

  def pqQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    pqSearchWith(e, q, k = 10, rerank = 4, cachedCodebook(dir, e))
  }

  // ------------------------------------------------------- IVF + PQ

  private def pqPath(indexPath: String): String = indexPath + "_pq"

  private def writeCodebook(s: SparkSession, cb: Array[Double], path: String): Unit = {
    import s.implicits._
    cb.zipWithIndex.map { case (w, i) => (i, w) }.toSeq.toDF("idx", "w")
      .write.mode("overwrite").parquet(pqPath(path))
  }

  private def storedCodebook(s: SparkSession, path: String): Array[Double] =
    s.read.parquet(pqPath(path)).orderBy("idx").collect().map(_.getDouble(1))

  /** The FAISS IVFPQ layout as a table (by_residual=false variant —
    * PQ trained on raw vectors, not cell residuals: one global
    * codebook, which is what keeps the DuckDB mirror and the
    * cell-independent code column possible): cell-partitioned index
    * carrying 4-bit-per-subspace codes next to the float vectors, so
    * a probe is a partition-pruned CODE-ONLY scan (column pruning
    * keeps `vec` out of the shortlist pass entirely) followed by an
    * exact rerank that decodes floats only for probed cells'
    * shortlist.
    */
  def ivfPqBuildIndex(s: SparkSession, emb: DataFrame, path: String,
                      stride: Long = 200, pqStride: Long = 25): Unit = {
    val cb = trainCodebook(emb, stride = pqStride)
    writeCodebook(s, cb, path)
    Ann.ivfBuild(s, emb, path, stride)((assigned, _) => encoded(assigned, cb))
  }

  /** `rows` with their `code` under the codebook `cb`. */
  private def encoded(rows: DataFrame, cb: Array[Double]): DataFrame =
    rows.withColumn("code", PqCodec.encode(col("vec"), cb, M, DSUB, KSUB))

  /** Probe-pruned PQ search: partition-filtered scan of (id, code)
    * only → ADC cosine shortlist (same metric as the exact rerank,
    * mirroring ivfSq8Search's metric reasoning) → exact float rerank
    * reading `vec` just for the shortlist join. Compounds partition
    * pruning (skip unprobed cells), PQ (64× smaller shortlist scan),
    * and the bounded-heap top-k. The shortlist keeps the flat ADC
    * fold: the scan is already cell-pruned to nprobe/ncells of the
    * corpus, so the LUT transformation that pays off on the FULL-scan
    * flat path (VecL2PqLut — per-query dot+norm partial tables, the
    * same mechanical rewrite with two tables for cosine) buys little
    * here and would complicate the oracle for no plan change.
    */
  def ivfPqSearch(s: SparkSession, path: String, queries: DataFrame,
                  k: Int, nprobe: Int = 2, rerank: Int = 4): DataFrame = {
    val cb = storedCodebook(s, path)
    Ann.ivfCodeSearch(s, path, queries, k, nprobe, rerank, Knn.Metric.Cosine,
      -PqCodec.cosineAdc(col("code"), col("qvec"), cb, M, DSUB, KSUB), col("qvec"))
  }

  /** INCREMENTAL PQ-INDEX MAINTENANCE — the compressed index joins
    * the maintained-structure family: [[Ann.ivfIndexUpsert]]'s
    * touched-cell rewrite, with each arrival encoded under the FROZEN
    * codebook and centroids (maintenance must not silently retrain the
    * quantizer — FAISS's add-to-trained-index contract). Equivalence
    * contract (PqSpec): the maintained index equals assign+encode of
    * the LWW-merged corpus under the ORIGINAL codebook — not a fresh
    * build, which would retrain on the new corpus and legitimately
    * differ.
    */
  def ivfPqUpsert(s: SparkSession, path: String,
                  updates: DataFrame): Unit = {
    val cb = storedCodebook(s, path)
    Ann.upsertCells(s, path, updates)(encoded(_, cb))
  }

  /** Tombstone twin: [[Ann.ivfIndexDelete]] — codes ride along with
    * the survivors' other columns; emptied cells are removed.
    */
  def ivfPqDelete(s: SparkSession, path: String, ids: DataFrame): Unit =
    Ann.ivfIndexDelete(s, path, ids)

  // --------------------------------------------- residual IVF + PQ

  /** FAISS's DEFAULT IVFPQ geometry (by_residual=true — the form
    * `ann_ivf_pq` deliberately skipped): PQ trained on CELL RESIDUALS
    * r = v − centroid(cell) instead of raw vectors. Residuals are
    * centered near zero with far less variance than the vectors, so
    * the same codebook budget quantizes them with visibly less error
    * — the reason FAISS defaults to it. Search scores
    * ‖q − (c + r̂)‖² = ‖(q − c) − r̂‖²: per probed cell the QUERY
    * RESIDUAL q − c runs the same ADC kernel against the stored
    * codes (per-list query preprocessing is Q×nprobe work), then an
    * exact float L2 rerank.
    *
    * Determinism: residuals float-round-trip per element
    * ((double)v − (double)c → float, both operands float-exact), so
    * training, codes, ADC distances, and ranks all mirror in DuckDB
    * bit-for-bit. The residual projection is a build-time zip_with
    * (interpreted lambda — sanctioned here: evaluated ONCE per row
    * behind a localCheckpoint, then written to parquet; the hot
    * search path reads codes and runs codegen ADC only).
    */
  def ivfPqResBuildIndex(s: SparkSession, emb: DataFrame, path: String,
                         stride: Long = 200, pqStride: Long = 25): Unit = {
    import s.implicits._
    Ann.ivfBuild(s, emb, path, stride) { (assigned, cents) =>
      val resid = assigned.join(broadcast(cents.toSeq.toDF("cell", "cvec")), "cell")
        .select(col("id"), expr("zip_with(vec, cvec, (x, y) -> " +
          "CAST(CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS FLOAT))").as("vec"))
        .localCheckpoint(true)
      val cb = trainCodebook(resid, stride = pqStride)
      writeCodebook(s, cb, path)
      assigned.join(resid.select(col("id"), col("vec").as("res")), "id")
        .withColumn("code", PqCodec.encode(col("res"), cb, M, DSUB, KSUB))
        .select(col("id"), col("vec"), col("code"), col("cell"))
    }
  }

  /** Probe-pruned residual-PQ search: per (query, probed cell) the
    * query residual (Q×nprobe rows, checkpointed) joins the cell's
    * code-only scan through the flat-fold L2 ADC kernel, shortlist
    * k·rerank, exact float L2 rerank. Same pruning story as
    * [[ivfPqSearch]]; only the geometry differs.
    */
  def ivfPqResSearch(s: SparkSession, path: String, queries: DataFrame,
                     k: Int, nprobe: Int = 2, rerank: Int = 4): DataFrame = {
    import s.implicits._
    val cb = storedCodebook(s, path)
    val cents = Ann.storedCentroids(s, path)
    // the query residuals, checkpointed: the interpreted zip_with runs
    // once per (query, probed cell), and the probed cell set is read
    // off the checkpoint
    val probes = Ann.probeCells(queries, cents, nprobe, col("qvec"))
      .join(broadcast(cents.toSeq.toDF("cell", "cvec")), "cell")
      .select(col("qid"), col("cell"),
        expr("zip_with(qvec, cvec, (x, y) -> " +
          "CAST(x AS DOUBLE) - CAST(y AS DOUBLE))").as("qres"))
      .localCheckpoint(true)
    val idx = Ann.probedScan(s, path, probes, cents.length)
    Ann.shortlistRerank(Ann.scoreCells(idx, broadcast(probes),
        PqCodec.l2Adc(col("code"), col("qres"), cb, M, DSUB, KSUB)),
      rerank, idx, queries, k, Knn.Metric.L2)
  }

  // ------------------------------------------------------- IVF + OPQ

  /** OPQ DIMENSION ASSIGNMENT (r12 verdict #7 — the rotate-before-PQ
    * rung of the FAISS ladder, faiss OPQMatrix): PQ's loss is decided
    * by how the 64 dims split into the 8 jointly-quantized subspaces,
    * and OPQ (Ge et al., CVPR'13) minimizes it over an orthogonal
    * transform R. Here R is restricted to the PERMUTATION subgroup of
    * O(d) — the OPQ paper's own dimension-reordering family — chosen
    * by GREEDY CORRELATION GROUPING: each of 8 rounds seeds the
    * subspace with the dim carrying the largest total |corr| to the
    * remaining dims, then packs its 7 most-correlated partners beside
    * it, so each subspace's 16 codewords spend their bits on
    * structure that actually co-varies (measured on the driver
    * corpus: recon MSE 0.5650 vs plain PQ's 0.5734 at sf0.001,
    * better at every SF — PqSpec pins it; dense rotations were
    * MEASURED WORSE here: Hadamard and 2-component Householder-PCA
    * both lose to identity at sf0.001 on this near-isotropic data,
    * while the full eigenbasis — the unmirrorable ceiling — gains
    * only 6%). The permutation is also the 100 TB choice: applying it
    * is a free column shuffle in the scan projection (a dense 64×64 R
    * costs a matvec per row), and it preserves distances EXACTLY, so
    * every downstream contract (ADC, rerank, recall math) is
    * unchanged. Bit-determinism: the correlation table quantizes
    * |corr| to 1e-6 integer units via floor(x·1e6 + 0.5) off the
    * EXACT integer micro moments (shared with the PCA family's
    * cached one-pass statistics), so the greedy's comparisons are
    * integer-exact and the DuckDB mirror replays the 8 rounds as
    * unrolled CTEs over the same BIGINTs. (At corpus scales where
    * n·Σm² nears 2⁶³ the moments need a wider accumulator — the
    * documented micro-moment family caveat.)
    */
  def opqPerm(s: SparkSession, dir: String): Array[Int] =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"opqperm|$dir") {
      val (sArr, mArr, n) = Pca.moments(s, dir)
      val d = 64
      val nv = Array.tabulate(d)(j => n * mArr(j)(j) - sArr(j) * sArr(j))
      def a(j: Int, k: Int): Long = {
        val num = (n * mArr(j)(k) - sArr(j) * sArr(k)).toDouble
        val corr = num / math.sqrt(nv(j).toDouble * nv(k).toDouble)
        math.floor(math.abs(corr) * 1e6 + 0.5).toLong
      }
      val rem = scala.collection.mutable.SortedSet((0 until d): _*)
      val perm = new Array[Int](d)
      var slot = 0
      for (_ <- 0 until 8) {
        val seed = rem.toSeq
          .maxBy(j => (rem.iterator.filter(_ != j).map(a(j, _)).sum, -j))
        rem -= seed
        val buddies = rem.toSeq.sortBy(k => (-a(seed, k), k)).take(7)
        buddies.foreach(rem -= _)
        (seed +: buddies).foreach { j => perm(slot) = j; slot += 1 }
      }
      perm
    }

  /** Permutation as a scan projection: slot i reads original dim
    * perm(i) — free at any scale, exactly distance-preserving. The
    * r16 form is the constant-code-size [[graft.functions
    * .VecPermute]] kernel: the previous `array(element_at…)` unroll
    * (one bounds-checked branch per dim) pushed the combined
    * assignment+rotation projection past Janino's method limit and
    * the whole stage fell back to interpreted evaluation — the OPQ
    * cold build read 34.6s at the x16 replica for a stage that runs
    * ~1s compiled (OpqDiag decomposition; same bug class as the §4
    * centroid-kernel cliff).
    */
  private def rotate(c: org.apache.spark.sql.Column,
                     perm: Array[Int]): org.apache.spark.sql.Column =
    graft.functions.PqCodec.permute(c, perm.toIndexedSeq)

  private def opqPermPath(indexPath: String): String = indexPath + "_opqperm"

  /** The IVFPQ layout under the OPQ permutation: cells and the
    * partition-pruned probe geometry are UNCHANGED (assignment runs
    * in original space — rotation only re-shapes the code column),
    * the codebook trains on rotated vectors, codes store rotated
    * subvectors. Sidecars carry the permutation so the index is
    * self-describing.
    */
  def ivfOpqBuildIndex(s: SparkSession, emb: DataFrame, perm: Array[Int],
                       path: String, stride: Long = 200,
                       pqStride: Long = 25): Unit = {
    import s.implicits._
    val cb = trainCodebook(
      emb.select(col("id"), rotate(col("vec"), perm).as("vec")),
      stride = pqStride)
    writeCodebook(s, cb, path)
    perm.zipWithIndex.map { case (dim, slot) => (slot, dim) }.toSeq
      .toDF("slot", "dim")
      .write.mode("overwrite").parquet(opqPermPath(path))
    Ann.ivfBuild(s, emb, path, stride)((assigned, _) => assigned.withColumn("code",
      PqCodec.encode(rotate(col("vec"), perm), cb, M, DSUB, KSUB)))
  }

  /** ivfPqSearch's plan with the query rotated into code space for
    * the ADC leg (a permutation of the broadcast row — free); the
    * exact rerank reads original vectors and original queries, so
    * final scores share ann_ivf_pq's semantics exactly.
    */
  def ivfOpqSearch(s: SparkSession, path: String, queries: DataFrame,
                   k: Int, nprobe: Int = 2, rerank: Int = 4): DataFrame = {
    val cb = storedCodebook(s, path)
    val perm = s.read.parquet(opqPermPath(path))
      .orderBy("slot").collect().map(_.getInt(1))
    Ann.ivfCodeSearch(s, path, queries, k, nprobe, rerank, Knn.Metric.Cosine,
      -PqCodec.cosineAdc(col("code"), col("rqvec"), cb, M, DSUB, KSUB),
      rotate(col("qvec"), perm).as("rqvec"))
  }

  /** OPQ-vs-PQ ON THE SEARCH AXIS (r13 — completes the recall-report
    * family: every index family ships the evaluation that justifies
    * it): recall@10 of the full IVFPQ and IVF-OPQ pipelines (ADC
    * shortlist 40 → exact rerank 10, the shipped search paths
    * verbatim) against the brute-force cosine top-10, one row per
    * method. The MSE pin (PqSpec) grades reconstruction fidelity;
    * this grades what the user actually feels — whether the
    * decorrelated subspaces translate into shortlists that keep the
    * true neighbors. hits/(n_queries·10) with the count over the
    * Q×k-sized rank join; the corpus is touched only by the three
    * searches.
    */
  def opqRecallReport(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nq = q.count()
    // SINGLE-REFERENCE GROUND TRUTH (r16, the quantAdvisor pattern):
    // union the tagged leg predictions and join the brute-force gt
    // ONCE, so the corpus-wide kNN subtree is evaluated once instead
    // of per leg; the static spec frame keeps a zero-hit leg's row.
    import s.implicits._
    val exact = Knn.topK(e, q, 10, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id"))
    val preds = ivfPqQuery(s, dir)
      .select(lit("pq").as("method"), col("qid"), col("nn_id"))
      .unionByName(ivfOpqQuery(s, dir)
        .select(lit("opq").as("method"), col("qid"), col("nn_id")))
    val hitCounts = preds.join(exact, Seq("qid", "nn_id"))
      .groupBy("method").agg(count(lit(1)).as("h"))
    Seq("pq", "opq").toDF("method")
      .join(hitCounts, Seq("method"), "left")
      .select(col("method"), coalesce(col("h"), lit(0L)).as("hits"),
        round(coalesce(col("h"), lit(0L)) / (lit(nq) * 10.0), 4)
          .as("recall"))
      .orderBy("method")
  }

  def ivfOpqQuery(s: SparkSession, dir: String): DataFrame = {
    val path = graft.IndexCache.dirFor(dir, "ivfopq").toString
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS")))
      ivfOpqBuildIndex(s, e, opqPerm(s, dir), path)
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfOpqSearch(s, path, q, k = 10, nprobe = 2)
  }

  def ivfPqResQuery(s: SparkSession, dir: String): DataFrame = {
    val path = graft.IndexCache.dirFor(dir, "ivfpqres").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      ivfPqResBuildIndex(s, e, path)
    }
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfPqResSearch(s, path, q, k = 10, nprobe = 2)
  }

  def ivfPqQuery(s: SparkSession, dir: String): DataFrame = {
    val path = graft.IndexCache.dirFor(dir, "ivfpq").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      ivfPqBuildIndex(s, e, path)
    }
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfPqSearch(s, path, q, k = 10, nprobe = 2)
  }
}
