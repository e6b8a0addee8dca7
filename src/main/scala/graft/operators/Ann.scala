package graft.operators

import graft.Tables
import graft.functions.VectorDistance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Approximate nearest-neighbor search — the Spark-scale
  * re-expression of the reference's HNSW path
  * (reference hnswlib_index.cc:28 insert/search with M=16, efC=200).
  *
  * A navigable small-world graph is a pointer-chasing structure that
  * cannot be traversed as a relational plan; what survives the
  * translation to 100 TB is the IDEA: prune the candidate set before
  * exact scoring. Two standard bulk formulations:
  *
  *  - IVF (inverted file): coarse-quantize the corpus into cells,
  *    search only the `nprobe` cells nearest each query. The cell
  *    assignment is a partition key, so a probe is a partition-pruned
  *    equi-join instead of a full scan.
  *  - Sign-LSH: hash vectors by the sign pattern of dot products with
  *    fixed random hyperplanes; candidate generation is a
  *    co-partitioned equi-join on (table, signature).
  *
  * Both stay deterministic: IVF centroids come from a fixed-stride
  * corpus subsample (no RNG), LSH hyperplanes from an md5-seeded
  * deterministic generator — so specs can assert recall exactly and
  * reruns are reproducible.
  */
object Ann {

  // ---------------------------------------------------------------- IVF

  /** Deterministic coarse centroids: every `stride`-th vector. A
    * k-means|| fit would give tighter cells at the same plan shape;
    * the IVF mechanics (assign → prune → exact-score) are identical.
    */
  def ivfCentroids(emb: DataFrame, stride: Long = 200): DataFrame =
    emb.where(col("id") % stride === 0)
      .select(col("id").as("cell"), col("vec").as("cvec"))

  /** Lloyd-refined centroids: stride-sample init, `iters` rounds of
    * assign → per-cell per-dimension mean. Means are computed by
    * posexplode + groupBy(cell, dim) — fully distributed, no vector
    * ever on the driver — and ROUNDED to 6dp so the result is
    * independent of floating-sum order (the usual reason distributed
    * k-means is nondeterministic; determinism is what lets AnnSpec
    * assert equality across runs).
    */
  def kmeansCentroids(emb: DataFrame, stride: Long = 200,
                      iters: Int = 2): DataFrame = {
    var cents = ivfCentroids(emb, stride)
    for (_ <- 1 to iters) cents = cellMeans(ivfAssign(emb, cents))
    cents
  }

  /** Per-cell per-dimension mean of (cell, vec) rows — the Lloyd mean
    * and the label centroids of [[Classify.labelCentroids]]. A row
    * with a non-finite component is left out: its squared norm through
    * the dot kernel is NaN or +∞, and Spark orders NaN above +∞, so
    * `< +∞` keeps exactly the finite rows. Averaged in, one such row
    * makes its cell's centroid NaN in that dimension, every distance
    * to it NaN, and the cell stops attracting vectors. Mirrored by
    * OracleCtes.ivfMeanCte.
    */
  private[operators] def cellMeans(rows: DataFrame): DataFrame =
    rows.where(VectorDistance.dot(col("vec"), col("vec")) < Double.PositiveInfinity)
      .select(col("cell"), posexplode(col("vec")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("cell"),
        expr("transform(dm, p -> cast(p.m AS float))").as("cvec"))

  /** Centroids as driver-side literals — the k-row object FAISS and
    * MLlib's k-means hold between Lloyd iterations. Sorted by cell so
    * the generated expression (and thus the plan) is deterministic.
    */
  private[operators] def collectCentroids(centroids: DataFrame): Array[(Long, Array[Float])] =
    centroids.select(col("cell"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Per-row (negated-cosine distance, cell) struct array against the
    * literal centroid set, for argmin/ranking projections. NULL
    * distances (zero-norm / dim-mismatch) coalesce to 2.0 — strictly
    * worse than any real negated cosine in [-1, 1] — so degenerate
    * vectors deterministically land in the lowest-numbered cell (the
    * argmin's (cd, cell) tiebreak picks the smallest cell id among
    * the all-equal 2.0 distances) rather than poisoning the struct
    * ordering with nulls.
    *
    * Norm factoring: the row norm is computed once per row and each
    * centroid's norm is a DRIVER-computed double literal — the fused
    * VecCosine form re-accumulated both norms inside all k entries.
    * Same float ops in the same order as the pairwise kernels, so
    * the distances (and the argmin) are bit-identical.
    */
  private[operators] def centroidDists(vec: org.apache.spark.sql.Column,
                            cents: Array[(Long, Array[Float])]) =
    // r16: the fused loop kernel replaces the k-way unrolled
    // array(struct(VecDot(vec, typedlit), …)) form — with stride-200
    // seeding the cell count grows with the corpus, and past ~150
    // cells the unrolled generated code crossed Janino's 64 KB method
    // limit, dropping the whole assignment stage to interpreted
    // evaluation (the SCALE_r15 ann_ivf_spill x16 superlinearity;
    // measured 43 s warm → interpreted vs ~2 s in codegen). Same
    // float ops in the same order, so distances (and every oracle
    // hash downstream) are bit-identical — see CentroidDistances.
    graft.functions.VectorDistance.centroidDists(
      vec, cents.map(_._1).toSeq, cents.map(_._2.toSeq))

  /** Sorted nearest-`m` prefix of [[centroidDists]] — the form every
    * consumer actually wants (`slice(array_sort(…), 1, m)` /
    * `array_min` = m 1). One fused selection pass, no k-sized
    * per-row array, no sort: see CentroidTopM for the exact-ordering
    * contract that keeps the replacement hash-identical.
    */
  private[operators] def centroidTopM(vec: org.apache.spark.sql.Column,
                            cents: Array[(Long, Array[Float])], m: Int) =
    graft.functions.VectorDistance.centroidTopM(
      vec, cents.map(_._1).toSeq, cents.map(_._2.toSeq), m)

  /** Assign every vector to its nearest centroid — ONE projection,
    * zero exchanges: `array_min` over the k-element literal struct
    * array picks lexicographic min (cd, cell), the same argmin +
    * tiebreak the round-2 `crossJoin ⋈ groupBy(id) min_by` form
    * computed by shuffling the entire corpus (its grouping key was
    * unique, so map-side combine reduced nothing and the exchange
    * carried every vector — 3× per ivf query across Lloyd iterations).
    * The quantizer metric matches the search metric (cosine), as FAISS
    * ties the IVF quantizer to the index metric. Collecting k rows to
    * the driver is the broadcast; at k beyond a few thousand the same
    * projection would move to a broadcast-variable-backed codegen
    * expression, not back to a shuffle.
    */
  def ivfAssign(emb: DataFrame, centroids: DataFrame): DataFrame =
    assignTo(emb, collectCentroids(centroids))

  /** The one assignment projection, shared by assign/search/build so
    * the three paths cannot drift (AnnSpec's indexed ≡ in-memory
    * equality depends on byte-identical assignment).
    */
  private[operators] def assignTo(emb: DataFrame,
                       cents: Array[(Long, Array[Float])]): DataFrame =
    // col("*") keeps metadata columns (label, …) riding along into a
    // persisted index, where they serve filtered search — downstream
    // plans select by name, so unused extras prune away at the scan
    kernelSpread(emb, cents.length).select(col("*"),
      centroidTopM(col("vec"), cents, 1)
        .getItem(0).getField("cell").as("cell"))

  /** Width pin for the corpus-side assignment kernel, conditioned on
    * COMPUTE DENSITY: AQE's size-first coalescing (GraftSession, r15)
    * sizes reducer counts by exchange BYTES, but this stage's work is
    * rows × cells × dims — with stride-200 seeding the cell count
    * grows with the corpus, so past ~64 cells the byte proxy
    * underestimates the stage by an order of magnitude and the
    * coalescer funnels a multi-G-MAC projection into one task
    * (measured on the x16 replica: dedup_semdedup 3.5 s size-first vs
    * 1.4 s at core width, same plan otherwise). Same argument as
    * [[Tables.documents]]' explode-bound width pin, but decided HERE
    * because the threshold needs the trained cell count, which only
    * the operator knows at plan time. At the bench SFs (≤ 10 cells)
    * the coalescible form keeps the r15 substrate-floor win; the
    * round-robin spread needs no key and every downstream consumer
    * re-shuffles on cell/id anyway.
    */
  private def kernelSpread(df: DataFrame, k: Int): DataFrame =
    if (k < 64) df
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Shared exact-rerank tail: per-query bounded top-k over scored
    * candidates via the partial-aggregating heap, lowest key first.
    * The key carries the metric's sign: −similarity under cosine
    * (reported back as the similarity), the distance itself under L2.
    */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int,
                                      metric: Knn.Metric.Value = Knn.Metric.Cosine): DataFrame = {
    val agg = TopKAgg.topK(k)
    val key = col("col.key")
    scored.groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"), col("col.id").as("nn_id"),
        round(if (metric == Knn.Metric.L2) key else -key, 4).as("score"))
      .orderBy("qid", "rk")
  }

  /** THE shortlist → exact-rerank tail of every compressed search, flat
    * and IVF: the best `rerank`·k ids per query by the code-space `key`
    * of `scored` (qid, key, id), each joined to its float vector in
    * `vecs` (id, vec) — only the shortlist's vectors are read — and to
    * its query in `queries` (qid, qvec), scored by the exact metric
    * (cosine or L2) and cut to k per query ([[topKPerQuery]]).
    */
  private[operators] def shortlistRerank(scored: DataFrame, rerank: Int,
                                         vecs: DataFrame, queries: DataFrame, k: Int,
                                         metric: Knn.Metric.Value): DataFrame = {
    val exact =
      if (metric == Knn.Metric.L2) VectorDistance.l2(col("vec"), col("qvec"))
      else -VectorDistance.cosine(col("vec"), col("qvec"))
    val agg = TopKAgg.topK(k * rerank)
    val shortlist = scored.groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), explode(col("top.items")).as("c"))
      .select(col("qid"), col("c.id").as("id"))
    topKPerQuery(shortlist.join(vecs.select("id", "vec"), "id")
      .join(broadcast(queries.select("qid", "qvec")), "qid")
      .select(col("qid"), exact.as("key"), col("id"))
      .where(col("key").isNotNull), k, metric)
  }

  /** Each query's `nprobe` nearest cells under `cents`, one row per
    * (query, probed cell), carrying `carry` (the search's per-query
    * columns): the one probe projection of every IVF search, in memory
    * and persisted — sort the k (cd, cell) structs, slice the nprobe
    * best; no crossJoin, no window shuffle.
    *
    * @param queries (qid, qvec, …)
    * @return (qid, carry…, cell)
    */
  private[operators] def probeCells(queries: DataFrame, cents: Array[(Long, Array[Float])],
                         nprobe: Int, carry: org.apache.spark.sql.Column*): DataFrame =
    queries.select(col("qid") +: carry :+
        explode(centroidTopM(col("qvec"), cents, nprobe)).as("p"): _*)
      .select(col("*"), col("p.cell").as("cell")).drop("p")

  /** (qid, key, id) for every pair of a probe and a member of its cell,
    * `key` −cosine(vec, qvec) unless a code-space key is given. NULL
    * keys (zero-norm / dim-mismatch) drop before the heap —
    * ScoredId.key is a primitive Double.
    */
  private[operators] def scoreCells(members: DataFrame, probes: DataFrame,
                         key: org.apache.spark.sql.Column =
                           -VectorDistance.cosine(col("vec"), col("qvec"))): DataFrame =
    members.join(probes, "cell")
      .select(col("qid"), key.as("key"), col("id"))
      .where(col("key").isNotNull)

  /** IVF search: per query, rank cells by centroid distance, keep the
    * `nprobe` nearest, and run the exact TopK kernel only against
    * vectors assigned to those cells — the scan prunes to
    * nprobe/ncells of the corpus, which at 100 TB is the difference
    * between touching 2 partitions and touching 1000.
    */
  def ivfSearch(emb: DataFrame, queries: DataFrame, k: Int,
                nprobe: Int = 2, stride: Long = 200): DataFrame =
    ivfSearchWith(emb, queries, k, nprobe,
      collectCentroids(kmeansCentroids(emb, stride)))

  /** The search plan given already-trained centroids — shared by
    * [[ivfSearch]] (trains inline) and [[ivfQuery]] (trains once per
    * dir via [[graft.ByproductCache]]), so the two cannot drift.
    */
  private def ivfSearchWith(emb: DataFrame, queries: DataFrame, k: Int,
                            nprobe: Int,
                            cents: Array[(Long, Array[Float])]): DataFrame =
    // equi-join on cell co-locates each query with its probed cells
    topKPerQuery(scoreCells(assignTo(emb, cents),
      probeCells(queries, cents, nprobe, col("qvec"))), k)

  // ------------------------------------------------- persisted IVF index

  private def centroidsPath(indexPath: String): String =
    indexPath + "_centroids"

  /** Persist the IVF index: the assigned corpus written as parquet
    * PARTITIONED BY CELL, centroids alongside. This is the physical
    * layout the on-the-fly [[ivfSearch]] only simulates: with cell as
    * a partition directory, a probe becomes PARTITION PRUNING — the
    * scan for a 2-cell probe never lists, opens, or reads the other
    * 998 cells' files. The reference builds its index in memory at
    * startup (vector_database.cc reload); at 100 TB the index IS the
    * table layout.
    */
  def ivfBuildIndex(s: SparkSession, emb: DataFrame, path: String,
                    stride: Long = 200): Unit = {
    // planner-stats sidecar rides the build (the build is already a
    // full-corpus job; ANALYZE piggybacks for free)
    writePlanStats(s, emb, path)
    ivfBuild(s, emb, path, stride)((assigned, _) => assigned)
  }

  /** THE persisted-IVF build, shared by every index family: train the
    * centroids (stride-seeded [[kmeansCentroids]]), write the
    * `_centroids` sidecar, then write the assigned corpus
    * cell-partitioned ([[writeCellPartitioned]]) with the family's
    * derived columns, which `derive` adds given the assigned rows and
    * the centroids. A family writes its own sidecars before calling
    * this, or inside `derive`: every sidecar lands before the index's
    * `_SUCCESS`, written last. That marker is the publish — existence
    * checks key on it — so a crash between the writes can never
    * publish an index whose sidecars are missing.
    */
  private[operators] def ivfBuild(s: SparkSession, emb: DataFrame, path: String,
                                  stride: Long)(
      derive: (DataFrame, Array[(Long, Array[Float])]) => DataFrame): Unit = {
    import s.implicits._
    val cents = collectCentroids(kmeansCentroids(emb, stride))
    cents.toSeq.toDF("cell", "cvec")
      .write.mode("overwrite").parquet(centroidsPath(path))
    writeCellPartitioned(derive(assignTo(emb, cents), cents), path)
  }

  /** The one bulk cell-partitioned index write. `partitionBy("cell")`
    * alone makes every WRITE TASK open one file per cell it holds —
    * with the round-robin kernelSpread feeding it, that is
    * width × cells files (x16 replica: 32 × 160 = 5,120), and since
    * stride-200 seeding grows the cell count with the corpus the
    * commit overhead grows ∝ corpus × width — the superlinear piece
    * of the OPQ cold build (OpqDiag: build 7.8s at x4 → 56.6s at
    * x16, 7.2× on 4× data, with the codebook/moments phases linear).
    * Hashing ON THE CELL first sends each cell to exactly one task:
    * file count = cell count (corpus-proportional, the linear claim)
    * and the at-rest layout becomes one file per cell — which is
    * also what the partition-pruned probes want to read at 100 TB
    * (one cell = one file, not one cell = width shards). Cell size
    * is bounded ~200 by the seeding, so the per-task write is flat
    * and the added exchange carries what the write was already
    * spilling through the committer. Graph layers pass `keys` (layer,
    * cell): one file per (layer, cell) partition.
    */
  private[operators] def writeCellPartitioned(df: DataFrame, path: String,
                                              keys: Seq[String] = Seq("cell")): Unit =
    df.repartition(keys.map(col): _*)
      .write.mode("overwrite").partitionBy(keys: _*).parquet(path)

  // -------------------------------------------- planner statistics

  /** Deterministic 1-in-[[planSampleMod]] hash sample: md5 of the id
    * keeps the sample uncorrelated with value/modulo predicates (a
    * stride sample id%S would alias against filters like id%4) and is
    * bit-identical in DuckDB, so the PLANNER is oracle-mirrorable.
    */
  private[operators] val planSampleMod = 8L
  private def planSampled(idCol: org.apache.spark.sql.Column) =
    conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long") % planSampleMod === 0
  private[operators] def planStatsPath(indexPath: String): String =
    indexPath + "_planstats"

  /** Write the planning sidecar beside the index: the hash-sampled
    * METADATA rows (vectors dropped — the sample is bytes-tiny) plus
    * the exact build-time total as a constant column. Refreshed at
    * build/recluster; upserts may leave it stale — a planner runs on
    * order-of-magnitude stats, the 10× selFactor gate absorbs drift
    * (re-ANALYZE = rebuild the sidecar).
    */
  private def writePlanStats(s: SparkSession, emb: DataFrame,
                             path: String): Unit = {
    import s.implicits._
    val total = emb.count()
    val sample = emb.drop("vec").where(planSampled(col("id")))
    // meta row separate from the sample rows: a zero-match sample
    // must still carry the total
    Seq((total, planSampleMod)).toDF("total", "sample_mod")
      .write.mode("overwrite").parquet(path + "_planstats_meta")
    sample.coalesce(1).write.mode("overwrite").parquet(planStatsPath(path))
  }

  /** Search a persisted index: probe cells come from the stored
    * centroids, and their union becomes a LITERAL partition filter on
    * the index scan (visible as `PartitionFilters` in the plan) —
    * followed by the same co-located probe join and exact rerank as
    * the in-memory path. Same centroids → identical results to
    * [[ivfSearch]] at the same stride/nprobe.
    */
  def ivfSearchIndexed(s: SparkSession, path: String, queries: DataFrame,
                       k: Int, nprobe: Int = 2,
                       filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (probes, pruned) = ivfProbe(s, path, queries, nprobe, col("qvec"))
    // the reference pre-filters its approximate search with roaring
    // bitmaps (filter_index.cc:62 under hnswlib_index.cc search);
    // here a metadata predicate COMPOSES with partition pruning — the
    // scan skips unprobed cells by directory and non-matching rows by
    // PushedFilters, strictly less IO than a post-filter. Recall
    // caveat is the reference's too: k is filled from PROBED cells
    // only, so a highly selective filter may return < k rows.
    topKPerQuery(scoreCells(filter.map(pruned.where).getOrElse(pruned), probes), k)
  }

  /** THE probe of a persisted IVF index, shared by every search over
    * one: the stored centroids ([[storedCentroids]]), each query's
    * `nprobe` nearest cells carrying `carry` ([[probeCells]]), and the
    * index scan pruned to the probed cells ([[probedScan]]).
    *
    * @return (probes (qid, carry…, cell), the cell-pruned index scan)
    */
  private[operators] def ivfProbe(s: SparkSession, path: String, queries: DataFrame,
                                  nprobe: Int, carry: org.apache.spark.sql.Column*)
      : (DataFrame, DataFrame) = {
    val cents = storedCentroids(s, path)
    val probes = probeCells(queries, cents, nprobe, carry: _*)
    (probes, probedScan(s, path, probes, cents.length))
  }

  /** The index at `path` scanned in the cells of `probes` only: the
    * probed cell set — a tiny job over the QUERY set only, collected
    * once — becomes a literal partition filter on the corpus scan. Its
    * bound is the stored cell count `ncells`, independent of corpus
    * and batch size.
    */
  private[operators] def probedScan(s: SparkSession, path: String, probes: DataFrame,
                                    ncells: Int): DataFrame = {
    val cells = graft.Cut.request(probes.select("cell").distinct(), ncells,
      "the stored cell count", "probed cell set").map(_.getLong(0))
    s.read.parquet(path).where(col("cell").isin(cells.toIndexedSeq: _*))
  }

  /** A compressed persisted-IVF search, the anatomy of every code
    * family: [[ivfProbe]] carrying the family's per-query `carry`
    * columns; scan 1 reads (id, codes, cell) of the probed cells only —
    * `key` never touches `vec`, so the float vectors stay out of its
    * ReadSchema — and shortlists by `key` (lower is nearer); scan 2
    * reads `vec` of the same cells for the exact rerank
    * ([[shortlistRerank]]).
    */
  private[operators] def ivfCodeSearch(s: SparkSession, path: String,
                                       queries: DataFrame, k: Int, nprobe: Int,
                                       rerank: Int, metric: Knn.Metric.Value,
                                       key: org.apache.spark.sql.Column,
                                       carry: org.apache.spark.sql.Column*): DataFrame = {
    val (probes, idx) = ivfProbe(s, path, queries, nprobe, carry: _*)
    shortlistRerank(scoreCells(idx, probes, key), rerank, idx, queries, k, metric)
  }

  // ------------------------------------------------- persisted IVF+MRL

  /** IVF + Matryoshka prefix: the index carries `pre` (the first
    * `prefixDims` dimensions) as its OWN column beside the full
    * vector, so the probe scan reads (id, pre) only — at 64→16 dims,
    * 4× less scan bandwidth stacked on partition pruning, with no
    * codebook to train (the property Matryoshka-trained embeddings
    * are built for). Same compounding as the SQ8/PQ/BQ index rungs,
    * by column layout instead of codes.
    *
    * MAINTENANCE SCOPE: [[ivfIndexUpsert]], [[ivfIndexDelete]],
    * [[ivfIndexRepair]] and [[ivfCompact]] keep every column of the
    * cells they rewrite, so survivors keep `pre`. An upserted row
    * arrives with NULL `pre` (the generic upsert does not know the
    * prefix width), so the prefix shortlist skips it until the index
    * is rebuilt — cheap here: `pre` is a slice, no training.
    */
  def ivfMrlBuildIndex(s: SparkSession, emb: DataFrame, path: String,
                       stride: Long = 200, prefixDims: Int = 16): Unit =
    ivfBuild(s, emb, path, stride)((assigned, _) =>
      assigned.withColumn("pre", slice(col("vec"), 1, prefixDims)))

  /** Probe-pruned prefix search: scan 1 reads (id, pre) for probed
    * cells only (ReadSchema excludes the full vectors), cosine over
    * the prefix shortlists k·rerank, scan 2 reads the full vectors
    * just for the shortlist join — the [[ivfSq8Search]] anatomy with
    * a column slice in place of a quantizer.
    */
  def ivfMrlSearch(s: SparkSession, path: String, queries: DataFrame,
                   k: Int, nprobe: Int = 2, rerank: Int = 4,
                   prefixDims: Int = 16): DataFrame =
    ivfCodeSearch(s, path, queries, k, nprobe, rerank, Knn.Metric.Cosine,
      -VectorDistance.cosine(col("pre"), col("qpre")),
      slice(col("qvec"), 1, prefixDims).as("qpre"))

  def ivfMrlQuery(s: SparkSession, dir: String): DataFrame = {
    val path = graft.IndexCache.dirFor(dir, "ivfmrl").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      ivfMrlBuildIndex(s, e, path)
    }
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfMrlSearch(s, path, q, k = 10)
  }

  // ------------------------------------------------------------ sign-LSH

  /** Deterministic pseudo-random hyperplanes: component d of plane p
    * in table t is derived from md5("t|p|d") mapped to [-1, 1]. Pure
    * function of indices — no RNG state, identical on every executor
    * and every run.
    */
  def hyperplanes(tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables, bits, dim) { (t, p, d) =>
      val h = md.digest(s"$t|$p|$d".getBytes("UTF-8"))
      val v = java.nio.ByteBuffer.wrap(h).getInt & 0x7fffffff
      v.toDouble / Int.MaxValue * 2.0 - 1.0
    }
  }

  /** Per-vector LSH signatures, long format (id, table, sig): bit p of
    * `sig` is the sign of <vec, plane_p>. All dot products run through
    * the fused codegen kernel against literal plane arrays.
    */
  def lshSignatures(emb: DataFrame, vecCol: String, idCol: String,
                    tables: Int = 4, bits: Int = 4, dim: Int = 64): DataFrame = {
    val hp = hyperplanes(tables, bits, dim)
    val sigCols = (0 until tables).map { t =>
      val bitsSum = (0 until bits).map { p =>
        when(VectorDistance.dot(col(vecCol), typedlit(hp(t)(p))) > 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t.toLong).as("table"), bitsSum.as("sig"))
    }
    emb.select(col(idCol).as("id"), explode(array(sigCols: _*)).as("ts"))
      .select(col("id"), col("ts.table").as("table"), col("ts.sig").as("sig"))
  }

  /** LSH search: candidates = vectors sharing any (table, signature)
    * bucket with the query, then exact re-rank of only those — the
    * crossJoin of flat search becomes a co-partitioned equi-join.
    * Defaults (4 tables x 4 bits) suit the small test corpus — at
    * production N, `bits` grows ~log2(N/target-bucket-size) and
    * recall is bought with more tables, same plan shape.
    */
  def lshSearch(emb: DataFrame, queries: DataFrame, k: Int,
                tables: Int = 4, bits: Int = 4, dim: Int = 64): DataFrame = {
    val dataSig = lshSignatures(emb, "vec", "id", tables, bits, dim)
    val querySig = lshSignatures(
      queries.select(col("qid").as("id"), col("qvec")), "qvec", "id",
      tables, bits, dim)
      .select(col("id").as("qid"), col("table"), col("sig"))
    val cand = dataSig.join(querySig, Seq("table", "sig"))
      .select("qid", "id").distinct()
    val scored = cand
      .join(emb, "id")
      .join(queries, "qid")
      .select(col("qid"),
        (-VectorDistance.cosine(col("vec"), col("qvec"))).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    topKPerQuery(scored, k)
  }

  /** Multi-probe LSH (Lv et al., VLDB'07): besides the query's own
    * bucket in each table, probe the `bits` neighboring buckets at
    * Hamming distance 1 (one sign flipped) — near-misses where the
    * query sits close to one hyperplane land exactly there. Buys
    * recall WITHOUT more tables (probes × tables bucket lookups vs
    * tables× more signature storage + scan); same co-partitioned
    * equi-join plan, the probe expansion is query-side only
    * (bits+1 rows per query per table — request-sized).
    */
  def lshSearchMultiprobe(emb: DataFrame, queries: DataFrame, k: Int,
                          tables: Int = 4, bits: Int = 4,
                          dim: Int = 64): DataFrame = {
    val dataSig = lshSignatures(emb, "vec", "id", tables, bits, dim)
    val probeSigs = (0 until bits).map(p =>
      col("sig").bitwiseXOR(lit(1L << p))) :+ col("sig")
    val querySig = lshSignatures(
      queries.select(col("qid").as("id"), col("qvec")), "qvec", "id",
      tables, bits, dim)
      .select(col("id").as("qid"), col("table"),
        explode(array(probeSigs: _*)).as("sig"))
    val cand = dataSig.join(querySig, Seq("table", "sig"))
      .select("qid", "id").distinct()
    val scored = cand
      .join(emb, "id")
      .join(queries, "qid")
      .select(col("qid"),
        (-VectorDistance.cosine(col("vec"), col("qvec"))).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    topKPerQuery(scored, k)
  }

  // --------------------------------------------------- query-map surface

  /** The per-(dir, stride=200) trained centroid set, shared across
    * every operator that clusters this corpus (IVF search, spill
    * layout, SemDeDup) — one training run per dir, identical cells
    * everywhere, so cluster-blocked operators are directly
    * comparable with the index paths. K-means training is the index
    * BUILD step and deterministic (stride init, 6dp-rounded means), so
    * it is memoized in [[graft.ByproductCache]].
    */
  private[operators] def cachedCentroids(
      s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"centroids|$dir|200") {
      collectCentroids(kmeansCentroids(Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec")), 200))
    }

  def ivfQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = cachedCentroids(s, dir)
    ivfSearchWith(e, q, k = 10, nprobe = 2, cents)
  }

  /** MARGIN-GATED SPILLED-ASSIGNMENT IVF (the SOAR/ScaNN replication
    * idea — Sun et al., NeurIPS'23: store a BOUNDARY vector in its
    * two nearest cells so it is findable from either side) probed
    * with a SINGLE cell per query. The r12 refinement is SOAR's
    * actual win: replication is gated on the first-vs-second-centroid
    * MARGIN (cd₂ − cd₁ < [[SpillTau]], negated-cosine units) — a
    * vector deep inside its own cell never needed the copy, so gating
    * trims the far-margin tail and the spilled cells stop paying for
    * it. Measured on the driver data (sf0.01): gated spill@1 reaches
    * recall 0.88 — equal to FULL spill@1 and above ivf@2's 0.86 — at
    * 1682 scanned rows, STRICTLY below ivf@2's 1694 (the full layout
    * scanned 1724; `ann_spill_recall` ships all four variants so the
    * trade stays visible). The trade is explicit and 100-TB-shaped —
    * the index is (1+replicated-share)× corpus rows (storage, paid
    * once, partitioned by cell like any IVF layout) against HALF the
    * per-query probe fan-out (latency, paid every search). Same
    * cached centroids as `ann_ivf`, so the layouts are directly
    * comparable; with nprobe=1 a (qid, id) pair cannot duplicate (an
    * id appears once per cell), so no dedup stage is needed before
    * the heap. The margin is a pure double subtract of the same cd
    * both engines already order by, so the gate replays bit-identically
    * in the oracle's margin CTE.
    */
  def ivfSpillQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = cachedCentroids(s, dir)
    spillSearchWith(e, q, 10, cents, SpillTau)
  }

  /** Boundary-margin bar for spilled replication, in negated-cosine
    * units: replicate into the second cell only when
    * cd₂ − cd₁ < 0.4. Chosen on the margin distribution of the
    * driver embeddings (the gate trims the ~p93+ tail at sf0.01)
    * as the largest trim that keeps full-spill recall — see
    * [[spillRecallReport]] for the shipped evidence.
    */
  private[operators] val SpillTau = 0.4

  /** The spilled layout: first cell always; second cell only for
    * vectors within `tau` of the boundary. Degenerate (zero-norm)
    * vectors, whose centroid dists ALL coalesce to 2.0, carry margin
    * cd₂−cd₁ = 0 and therefore always replicate into the
    * second-lowest cell — the oracle's margin CTE mirrors this, and
    * the replicas inflate spill scan counts by the degenerate share
    * (zero on the driver data; a corpus with many zero vectors should
    * drop them at ingest, the embed_norm_audit gate).
    */
  private def spillAssign(e: DataFrame, cents: Array[(Long, Array[Float])],
                          tau: Double): DataFrame = {
    val ranked = kernelSpread(e, cents.length).select(col("id"), col("vec"),
      centroidTopM(col("vec"), cents, 2).as("p2"))
    val first = ranked.select(col("id"), col("vec"),
      col("p2").getItem(0).getField("cell").as("cell"))
    val second = ranked
      .where((col("p2").getItem(1).getField("cd")
        - col("p2").getItem(0).getField("cd")) < tau)
      .select(col("id"), col("vec"),
        col("p2").getItem(1).getField("cell").as("cell"))
    first.unionByName(second)
  }

  private def spillSearchWith(e: DataFrame, q: DataFrame, k: Int,
                              cents: Array[(Long, Array[Float])],
                              tau: Double): DataFrame =
    topKPerQuery(scoreCells(spillAssign(e, cents, tau),
      probeCells(q, cents, 1, col("qvec"))), k)

  /** THE SOAR TRADE QUANTIFIED — recall@10 AND scan cost for FOUR
    * layouts over the same centroids: plain IVF at nprobe=1, plain
    * IVF at nprobe=2, the FULL spilled layout at nprobe=1, and the
    * margin-gated spill at nprobe=1 ([[SpillTau]] — r12). The honest
    * question a capacity planner asks: does replicated storage at 1
    * probe buy the recall of 2 probes, and at what per-query scan
    * cost (Σ probed-cell sizes — the rows the heap must score)? The
    * shipped answer at sf0.01: spill_m1 = 0.88 recall / 1682 rows —
    * above ivf_p2 (0.86 / 1694) on BOTH axes, and equal-recall /
    * cheaper-scan vs spill_p1 (0.88 / 1724): the far-margin replicas
    * the gate drops were pure scan cost. Recall closes over exact
    * integer hit counts against the brute-force top-10 (one
    * division); scan cost is an exact integer sum over
    * probe×cell-size joins. Every leg is anchored by a literal
    * variant frame (left join + coalesce — the ivfRecallCurve
    * zero-anchor rule), so a zero-hit leg reports 0.0, not an absent
    * row. Scale: legs share the memoized centroids; the exact leg is
    * the one corpus-wide pass.
    */
  def spillRecallReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nq = q.count()
    val cents = cachedCentroids(s, dir)
    val exact = Knn.topK(e, q, 10, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id")).localCheckpoint(true)
    val legs = Seq(
      ("ivf_p1", ivfSearchWith(e, q, 10, 1, cents)),
      ("ivf_p2", ivfSearchWith(e, q, 10, 2, cents)),
      ("spill_p1", spillSearchWith(e, q, 10, cents, Double.MaxValue)),
      ("spill_m1", spillSearchWith(e, q, 10, cents, SpillTau)))
    val results = legs.map { case (n, df) =>
      df.select(lit(n).as("variant"), col("qid"), col("nn_id"))
    }.reduce(_ unionByName _)
    val hits = results.join(exact, Seq("qid", "nn_id"), "left_semi")
      .groupBy("variant").agg(count(lit(1)).as("hits"))
    val cellSizes = assignTo(e, cents).groupBy("cell")
      .agg(count(lit(1)).as("cn"))
    def spillSizes(tau: Double) = spillAssign(e, cents, tau)
      .groupBy("cell").agg(count(lit(1)).as("cn"))
    def probesOf(np: Int) = probeCells(q, cents, np)
    val scanned = Seq(
      ("ivf_p1", probesOf(1).join(cellSizes, "cell")),
      ("ivf_p2", probesOf(2).join(cellSizes, "cell")),
      ("spill_p1", probesOf(1).join(spillSizes(Double.MaxValue), "cell")),
      ("spill_m1", probesOf(1).join(spillSizes(SpillTau), "cell")))
      .map { case (n, df) => df.select(lit(n).as("variant"), col("cn")) }
      .reduce(_ unionByName _)
      .groupBy("variant").agg(sum("cn").as("scanned_rows"))
    Seq("ivf_p1", "ivf_p2", "spill_m1", "spill_p1").toDF("variant")
      .join(hits, Seq("variant"), "left")
      .join(scanned, Seq("variant"), "left")
      .select(col("variant"), lit(nq).as("n_queries"),
        round(coalesce(col("hits"), lit(0L)).cast("double")
          / (lit(10L) * nq), 4).as("mean_recall"),
        coalesce(col("scanned_rows"), lit(0L)).as("scanned_rows"))
      .orderBy("variant")
  }

  /** IVF leg for callers that bring their OWN query frame (e.g. the
    * request-routing batch API, [[SearchApi]]): same cached centroids,
    * probed cells and ranking as [[ivfQuery]], so a routed request
    * returns exactly what a direct `ann_ivf` call would. The probe is
    * request-sized, so it runs as the descent's IVF-cell entry: the
    * batch is collected (no job for a `LocalRelation`), the members of
    * each query's probed cells are scored in ONE job over the corpus's
    * [[DescentStore]], filtered on the stored cell, and the rank-k cut
    * runs on the driver
    * ([[Descent.pooled]]: a repeated qid pools its requests in one heap,
    * as the relational `groupBy(qid)` did). The answer is a
    * `LocalRelation`; a NULL qid returns nothing.
    *
    * @param queries (qid, qvec)
    */
  def ivfSearchCached(s: SparkSession, dir: String, queries: DataFrame,
                      k: Int, nprobe: Int = 2): DataFrame = {
    val (d, scored) = nswStart(s, dir, corpusStore(s, dir), queries, Nil,
      new DescentStats, nprobe)
    d.pooled(scored, k)
  }

  /** CORPUS-WIDE kNN GRAPH — every vector's k nearest neighbors
    * (self excluded), the structure near-dup mining, hard-negative
    * selection, and graph-based label propagation all start from:
    * layer 0 of [[hnswLayerEdges]], so its edges are the ones the
    * descents walk. This is the all-to-all ANN pattern at 100 TB
    * shape: candidates are BLOCKED BY IVF CELL ([[kNNEdges]]).
    *
    * Memoized per (applicationId, dir, k): the graph is a
    * deterministic byproduct consumed by the registry's k = 5
    * operators (the graph itself, mutual pairs, embed clusters and
    * the graph analytics over them) — checkpoint-backed, so caching
    * the reference spares each consumer the build. The descents do
    * not read it: their stores take layer 0 at k = 8 straight from
    * [[hnswLayerEdges]].
    */
  def knnGraph(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"knngraph|$dir|$k") {
      hnswLayerEdges(s, dir, 0, k).localCheckpoint(true)
    }

  /** THE kNN-EDGE RULE, the one place a graph edge is decided: each of
    * `nodes`' k nearest `members` by exact cosine (self excluded),
    * among the members of its `nprobe` nearest cells under `cents`, on
    * the per-node (−s, id) heap of [[topKPerQuery]] (a NaN score ranks
    * last). Candidates are BLOCKED BY IVF CELL — each node scores only
    * its probed cells' members, never N² — and the per-node heap keeps
    * the shuffle at N·k. In-memory graphs pass the corpus with its
    * cells under the cached centroids ([[hnswLayerEdges]]), persisted
    * ones the index's nodes and stored centroids ([[storedLayer]]).
    * Edges come out one direction; [[DescentStore.withEdges]] adds the
    * reverse.
    *
    * @param nodes   (id, vec) whose edges to compute
    * @param members (id, vec, cell) the candidate neighbours
    * @return (qid, rk, nn_id, score)
    */
  private def kNNEdges(nodes: DataFrame, members: DataFrame,
                       cents: Array[(Long, Array[Float])], nprobe: Int,
                       k: Int): DataFrame =
    topKPerQuery(scoreCells(members.select("id", "vec", "cell"),
      probeCells(nodes.select(col("id").as("qid"), col("vec").as("qvec")),
        cents, nprobe, col("qvec")))
      .where(col("id") =!= col("qid")), k)

  /** Per-request PROBE EFFORT on the IVF index — nprobe as REQUEST
    * DATA, the IVF twin of [[nswSearchEf]]'s ef budget (FAISS exposes
    * nprobe per search call for exactly this: latency-sensitive
    * requests probe one cell, recall-sensitive ones probe more). The
    * per-request width is a COLUMN driving the probe-slice length
    * (`slice(cells, 1, np)` — a codegen projection, no plan change
    * per effort class), so a heterogeneous batch runs as ONE plan
    * whose scan fan-out per request is its own np × cell size.
    * `nprobe_used` is emitted as data (the rounds_used discipline) so
    * the oracle mirrors the same clamp expression. Monotone by
    * construction: a request's np=1 candidate set is the first cell
    * of its np=3 set (AnnSpec pins subset-ness and the
    * homogeneous-batch ≡ fixed-nprobe equivalence).
    *
    * @param reqs (qid, qvec, nprobe) — clamped to [1, maxNprobe]
    */
  def ivfSearchNprobe(s: SparkSession, dir: String, reqs: DataFrame,
                      k: Int, maxNprobe: Int = 4): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = cachedCentroids(s, dir)
    val assigned = assignTo(e, cents)
    val probes = reqs.select(col("qid"), col("qvec"),
        least(greatest(col("nprobe").cast("int"), lit(1)),
          lit(maxNprobe)).as("np"))
      .select(col("qid"), col("qvec"), col("np"),
        // dynamic per-request nprobe: select the constant maxNprobe
        // prefix once, then the row's np-sized sub-slice of it —
        // identical to slicing the full sorted array since np ≤ max
        explode(slice(centroidTopM(col("qvec"), cents, maxNprobe),
          lit(1), col("np"))).as("p"))
      .select(col("qid"), col("qvec"), col("np"), col("p.cell").as("cell"))
    val scored = assigned.join(probes, "cell")
      .select(col("qid"), col("np"),
        (-VectorDistance.cosine(col("vec"), col("qvec"))).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    val agg = TopKAgg.topK(k)
    scored.groupBy("qid", "np")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), col("np"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("nn_id"),
        round(-col("col.key"), 4).as("score"),
        col("np").cast("long").as("nprobe_used"))
      .orderBy("qid", "rk")
  }

  /** Heterogeneous-nprobe surface: even qids probe 1 cell, odd 3. */
  def ivfNprobeQuery(s: SparkSession, dir: String): DataFrame = {
    val reqs = Tables.embeddings(s, dir).where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        when(col("vec_id") % 2 === 0, 1L).otherwise(3L).as("nprobe"))
    ivfSearchNprobe(s, dir, reqs, k = 10)
  }

  /** MUTUAL-kNN pairs — edges present in BOTH directions of the kNN
    * graph (a ∈ kNN(b) ∧ b ∈ kNN(a)), the high-precision duplicate /
    * same-cluster signal asymmetric kNN lists are noisy on. One
    * self-SEMI-join on the N·k edge table (the graph materializes
    * once — localCheckpoint, the two-consumer rule); canonical
    * a < b orientation halves the output.
    */
  def mutualKnnPairs(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // knnGraph is already checkpoint-backed (memoized), so the
    // self-join reads the materialized edge table twice for free
    val g = knnGraph(s, dir, k)
      .select(col("qid"), col("nn_id"), col("score"))
    val rev = g.select(col("qid").as("rq"), col("nn_id").as("rn"))
    g.join(rev, col("qid") === col("rn") && col("nn_id") === col("rq"),
        "left_semi")
      .where(col("qid") < col("nn_id"))
      .select(col("qid").as("id_a"), col("nn_id").as("id_b"), col("score"))
      .orderBy("id_a", "id_b")
  }

  /** TRIANGLE COUNT + LOCAL CLUSTERING COEFFICIENT over the
    * mutual-kNN graph — the community-structure diagnostic (a node
    * whose neighbors interlink is inside a tight semantic cluster; a
    * hub with coefficient ~0 chains unrelated neighborhoods — the
    * node dedup/cluster pipelines should distrust). Triangles
    * enumerate as ordered triples a<b<c over the canonical mutual
    * edge list (three equi-joins); because mutual-kNN degree is
    * bounded by k, the edge-edge join fans out at most k per row —
    * O(N·k²) total, never the unbounded wedge explosion a power-law
    * graph would give. Coefficient = 2·triangles / (deg·(deg−1)),
    * integer inputs → identical doubles on both engines.
    */
  def graphTriangles(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val und = mutualKnnPairs(s, dir, k).select("id_a", "id_b")
      .localCheckpoint(true)
    val sym = und.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(und.select(col("id_b").as("a"), col("id_a").as("b")))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.id_b") === col("e2.id_a"))
      .join(und.as("e3"), col("e1.id_a") === col("e3.id_a") &&
        col("e2.id_b") === col("e3.id_b"))
      .select(col("e1.id_a").as("a"), col("e1.id_b").as("b"),
        col("e2.id_b").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val deg = sym.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(coalesce(col("triangles"), lit(0L)).cast("double") * 2
            / (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy("vec_id")
  }

  /** DEGREE ASSORTATIVITY of the mutual-kNN graph — Pearson
    * correlation of endpoint degrees over the symmetric edge list
    * (Newman 2002): positive = hubs link hubs (a core-periphery
    * embedding space), negative = hubs link leaves (star-like
    * clusters — single-link dedup will chain them). Every moment is
    * an exact integer (degrees are bounded by k, the edge list is
    * 2·E rows), so the coefficient is a ratio of exact longs —
    * identical doubles on both engines. One self-join on the edge
    * key, two bounded aggregates.
    */
  def graphAssortativity(s: SparkSession, dir: String,
                         k: Int = 5): DataFrame = {
    val und = mutualKnnPairs(s, dir, k).select("id_a", "id_b")
      .localCheckpoint(true)
    val sym = und.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(und.select(col("id_b").as("a"), col("id_a").as("b")))
    val deg = sym.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("dg"))
    val pairs = sym
      .join(deg.select(col("id").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("dg").as("db")), "b")
    pairs.agg(count(lit(1)).as("m"), sum("da").as("sa"),
        sum("db").as("sb"), sum(expr("da * db")).as("sab"),
        sum(expr("da * da")).as("saa"), sum(expr("db * db")).as("sbb"))
      .select(col("m").as("n_edges"),
        expr("round((m * sab - sa * sb) * 1.0 / " +
          "(sqrt((m * saa - sa * sa) * 1.0 * (m * sbb - sb * sb))), 4)")
          .as("assortativity"))
  }

  /** kNN-GRAPH QUALITY REPORT — measured recall of the IVF-blocked
    * approximate graph against the exact kNN on a deterministic
    * query sample (vec_id < 50): the graph every downstream family
    * consumes (NSW search, clusters, centrality, link prediction,
    * triangles) is APPROXIMATE — probed cells, not all pairs — and
    * this row says how approximate, the same honesty the recall
    * reports give the search paths. Sampled evaluation keeps the
    * exact side Q×N (never the N² full exact graph), so the probe
    * is cheap at any corpus size while the graph itself is the
    * memoized structure the real queries use.
    */
  /** BFS DISTANCE HISTOGRAM from sampled sources over the mutual-kNN
    * graph — the small-world diagnostic beside k-core and
    * assortativity (hop-count distribution tells you whether graph
    * search can reach a cluster's far side in the beam budget the
    * NSW descent spends): bounded breadth-first expansion, `hops`
    * rounds of frontier⋈edges with a min-dist collapse per round —
    * the dedup_clusters iterate-join discipline, and because mutual
    * degree ≤ k the frontier fan-out is k-bounded per node, never a
    * power-law explosion. Sampled sources keep the visited table
    * S×reachable-sized. All integers; the oracle unrolls the same
    * rounds as chained CTEs.
    */
  def graphBfsHist(s: SparkSession, dir: String, nSrc: Long = 20L,
                   hops: Int = 4): DataFrame = {
    val und = mutualKnnPairs(s, dir).select("id_a", "id_b")
      .localCheckpoint(true)
    val sym = und.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(und.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint(true)
    val src = sym.select(col("a").as("node")).distinct()
      .where(col("node") < nSrc)
    var visited = src
      .select(col("node").as("src"), col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    for (i <- 1 to hops) {
      val frontier = visited.where(col("dist") === (i - 1).toLong)
        .select(col("src"), col("node").as("fa"))
      val nbrs = frontier.join(sym, col("fa") === col("a"))
        .select(col("src"), col("b").as("node"), lit(i.toLong).as("dist"))
      visited = visited.unionByName(nbrs)
        .groupBy("src", "node").agg(min("dist").as("dist"))
        .localCheckpoint(true)
    }
    visited.where(col("dist") > 0)
      .groupBy("dist").agg(count(lit(1)).as("n_pairs"))
      .orderBy("dist")
  }

  /** TWO-NN INTRINSIC-DIMENSION STATISTIC (Facco et al. 2017) — the
    * embedding-space audit behind index tuning: the distribution of
    * μ = d₂/d₁ (second- over first-neighbor distance) determines the
    * manifold's intrinsic dimension (Pareto with shape = id); a
    * median μ near 1 means a high-dimensional / noise-like space
    * where ANN pruning degrades, far from 1 a low-dimensional
    * manifold the IVF/HNSW structures exploit. Emits the μ quartiles
    * — the raw sufficient statistic — NOT the d = ln2/ln(μ_med)
    * transform (ln is libm; the quartiles carry the same decision).
    *
    * μ from the memoized kNN graph's rk ≤ 2 edges: cosine scores are
    * 4dp-pinned, d = √(2·(1−s)) and the ratio are IEEE-exact off
    * them, exact-duplicate anchors (d₁ = 0) filtered on the exact
    * integer-rounded score. Work beyond the shared graph: one
    * Q×2-row pivot and a 3-quantile fold.
    */
  def twoNnDim(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraph(s, dir).where(col("rk") <= 2)
    val ratios = g.groupBy("qid")
      .agg(max(when(col("rk") === 1, col("score"))).as("s1"),
        max(when(col("rk") === 2, col("score"))).as("s2"))
      .where(col("s1") < 1.0 && col("s2").isNotNull)
      .select(round(
        sqrt((lit(2.0) * (lit(1.0) - col("s2")))
          / (lit(2.0) * (lit(1.0) - col("s1")))), 4).as("mu"))
    ratios.agg(count(lit(1)).as("n_points"),
      round(expr("percentile(mu, 0.25)"), 4).as("mu_p25"),
      round(expr("percentile(mu, 0.5)"), 4).as("mu_med"),
      round(expr("percentile(mu, 0.75)"), 4).as("mu_p75"))
  }

  def knnGraphRecall(s: SparkSession, dir: String, k: Int = 5,
                     nq: Long = 50L): DataFrame = {
    val approx = knnGraph(s, dir, k).where(col("qid") < nq)
      .select("qid", "nn_id")
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val qs = Tables.embeddings(s, dir).where(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Knn.topKExcludingSelf(e, qs, k, Knn.Metric.Cosine)
      .select("qid", "nn_id").localCheckpoint(true)
    val hits = approx.join(exact, Seq("qid", "nn_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val den = exact.agg(count(lit(1)).as("n_exact"))
    val ne = approx.agg(count(lit(1)).as("n_edges"))
    hits.crossJoin(den).crossJoin(ne)
      .select(lit(nq).as("n_queries"), col("n_edges"), col("n_exact"),
        col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact"), 4)
          .as("recall"))
  }

  /** NEWMAN MODULARITY per community of the embedding dup-cluster
    * partition — the score that grades what the cluster operator
    * found (Q_c = m_c/m − (d_c/2m)²; a partition totalling near 0
    * means the "clusters" are no better than a random degree-
    * preserving rewiring, a dedup/curation red flag). Communities
    * are [[embedKnnClusters]]' connected components, edges the
    * mutual-kNN list; every moment (m, per-cluster internal edges,
    * degree sums) is an exact integer from bounded-degree tables, so
    * the per-cluster contribution is a pure function of exact longs
    * — identical doubles on both engines. Cost: two key-partitioned
    * joins of the N·k edge table against the cluster map, one
    * aggregate — the clustering fixpoint itself is memoized.
    */
  def graphModularity(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val clusters = embedKnnClusters(s, dir, k)
      .select(col("vec_id").as("id"), col("cluster_id"))
      .localCheckpoint(true)
    val und = mutualKnnPairs(s, dir, k).select("id_a", "id_b")
      .localCheckpoint(true)
    val m = und.agg(count(lit(1)).as("m"))
    val withC = und
      .join(clusters.select(col("id").as("id_a"), col("cluster_id").as("ca")),
        "id_a")
      .join(clusters.select(col("id").as("id_b"), col("cluster_id").as("cb")),
        "id_b")
    val internal = withC.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("cluster_id")).agg(count(lit(1)).as("m_in"))
    val sym = und.select(col("id_a").as("a"))
      .unionByName(und.select(col("id_b").as("a")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
    val dc = clusters.join(deg, "id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("d_sum"))
    val x = col("d_sum").cast("double") / (col("m") * 2)
    dc.join(internal, Seq("cluster_id"), "left")
      .crossJoin(broadcast(m))
      .select(col("cluster_id"), col("n_nodes"),
        coalesce(col("m_in"), lit(0L)).as("m_in"), col("d_sum"),
        round(coalesce(col("m_in"), lit(0L)).cast("double") / col("m")
          - x * x, 4).as("q_c"))
      .orderBy("cluster_id")
  }

  /** CONDUCTANCE per embedding cluster — the boundary-leakage twin
    * of [[graphModularity]] (Kannan/Vempala/Vetta's cluster-quality
    * measure; Leskovec's NCP plots made it the standard): φ(C) =
    * cut(C) / min(vol(C), vol(rest)) — a low-conductance cluster is
    * well-separated (its members' kNN edges stay inside), a high one
    * leaks into the rest of the corpus and single-link dedup will
    * chain through it. Every input is an exact integer off the same
    * mutual-graph + fixpoint-cluster byproducts modularity reads
    * (cut edges counted once per SIDE via a two-row explode of each
    * crossing edge; volumes are degree sums), one guarded division —
    * a cluster spanning the whole graph has min-vol 0 and reports
    * NULL, not ∞. Same O(N·k) shapes as modularity.
    */
  def graphConductance(s: SparkSession, dir: String,
                       k: Int = 5): DataFrame = {
    val clusters = embedKnnClusters(s, dir, k)
      .select(col("vec_id").as("id"), col("cluster_id"))
      .localCheckpoint(true)
    val und = mutualKnnPairs(s, dir, k).select("id_a", "id_b")
      .localCheckpoint(true)
    val m = und.agg(count(lit(1)).as("m"))
    val withC = und
      .join(clusters.select(col("id").as("id_a"), col("cluster_id").as("ca")),
        "id_a")
      .join(clusters.select(col("id").as("id_b"), col("cluster_id").as("cb")),
        "id_b")
    val cut = withC.where(col("ca") =!= col("cb"))
      .select(explode(array(col("ca"), col("cb"))).as("cluster_id"))
      .groupBy("cluster_id").agg(count(lit(1)).as("cut_edges"))
    val sym = und.select(col("id_a").as("a"))
      .unionByName(und.select(col("id_b").as("a")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
    val dc = clusters.join(deg, "id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("vol"))
    val minVol = least(col("vol"), lit(2L) * col("m") - col("vol"))
    dc.join(cut, Seq("cluster_id"), "left")
      .crossJoin(broadcast(m))
      .select(col("cluster_id"), col("n_nodes"), col("vol"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        when(minVol > 0,
          round(coalesce(col("cut_edges"), lit(0L)).cast("double")
            / minVol, 4))
          .otherwise(lit(null).cast("double")).as("conductance"))
      .orderBy("cluster_id")
  }

  /** ADAMIC-ADAR LINK PREDICTION over the mutual-kNN graph — scores
    * every distance-2 non-adjacent pair (a, c) by Σ_b 1/ln(deg(b))
    * over their common neighbors b (Adamic & Adar 2003): the classic
    * "these two documents SHOULD be linked" signal — a high-scoring
    * non-edge in embedding space is a near-dup the kNN cut missed or
    * a retrieval-expansion candidate. Wedges enumerate as one
    * self-join of the symmetric edge list on the middle node; mutual
    * degree is bounded by k, so fan-out is ≤ k per edge row —
    * O(N·k²) candidates, never a pair explosion (§4 rule). Existing
    * edges drop via a left_anti against the canonical edge table.
    * ln() runs on exact small-int degrees (2..k ≤ 5 wedge middles
    * always have ≥2 edges), so both engines take correctly-rounded
    * libm values; each pair sums ≤ k² such terms.
    */
  def adamicAdar(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val und = mutualKnnPairs(s, dir, k).select("id_a", "id_b")
      .localCheckpoint(true)
    val sym = und.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(und.select(col("id_b").as("a"), col("id_a").as("b")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("dg"))
    val wedge = sym.select(col("a"), col("b"))
      .join(sym.select(col("a").as("b"), col("b").as("c")), "b")
      .where(col("a") < col("c"))
    val cand = wedge.join(und,
      wedge("a") === und("id_a") && wedge("c") === und("id_b"),
      "left_anti")
    cand.join(deg.select(col("id").as("b"), col("dg")), "b")
      .groupBy(col("a").as("id_a"), col("c").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(lit(1.0) / log(col("dg").cast("double"))), 4)
          .as("aa_score"))
      .orderBy("id_a", "id_b")
  }

  /** K-CORE of the mutual-kNN graph — the density skeleton graph
    * curation reads (the 2-core prunes pendant chains and isolated
    * spokes; what survives is the corpus's tightly-connected mass,
    * the natural seed set for cluster-based dedup review). Classic
    * iterative peeling — drop nodes with degree < k, recompute,
    * repeat — expressed as the repo's bounded convergence-checked
    * fixpoint (the dedup_clusters / adaptive-descent pattern): each
    * round is one semi-join restriction of the edge table + one
    * degree aggregate, the alive set only shrinks, so COUNT equality
    * is set equality and the early stop is exact — which is why the
    * UNROLLED fixed-round mirror matches bit-for-bit (peeling past
    * the fixpoint is the identity). Degree ≤ graph-k bounds each
    * round's work at N·k edge rows; convergence on these graphs
    * takes a handful of rounds (cap 8, spec-checked).
    */
  def graphKCore(s: SparkSession, dir: String, k: Int = 2,
                 graphK: Int = 5, maxRounds: Int = 8): DataFrame = {
    val und = mutualKnnPairs(s, dir, graphK).select("id_a", "id_b")
      .localCheckpoint(true)
    val sym = und.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(und.select(col("id_b").as("a"), col("id_a").as("b")))
      .localCheckpoint(true)
    var alive = sym.select(col("a").as("id")).distinct()
      .localCheckpoint(true)
    var n = alive.count()
    var converged = false
    var r = 0
    while (r < maxRounds && !converged) {
      val e = sym
        .join(alive.select(col("id").as("a")), "a")
        .join(alive.select(col("id").as("b")), "b")
      val next = e.groupBy("a").agg(count(lit(1)).as("dg"))
        .where(col("dg") >= k).select(col("a").as("id"))
        .localCheckpoint(true)
      val m = next.count()
      converged = m == n
      alive = next
      n = m
      r += 1
    }
    sym.join(alive.select(col("id").as("a")), "a")
      .join(alive.select(col("id").as("b")), "b")
      .groupBy(col("a").as("vec_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy("vec_id")
  }

  /** NEIGHBOR-JACCARD LINK PREDICTION over the mutual-kNN graph —
    * the set-overlap companion to [[adamicAdar]] (Liben-Nowell &
    * Kleinberg 2003's second classic score): every distance-2
    * non-adjacent pair (a, c) scored by
    * |N(a)∩N(b)| / |N(a)∪N(c)| = common/(deg_a + deg_c − common).
    * Where Adamic-Adar weights rare hubs, Jaccard normalizes by both
    * endpoints' degrees — high score = two documents whose
    * NEIGHBORHOODS agree, the strongest "merge these near-dup
    * clusters" signal. Same §4 shape as the AA query: wedges via one
    * self-join of the symmetric edge list on the middle node (fan-out
    * ≤ k per edge row, O(N·k²) candidates), existing edges dropped
    * with a left_anti, and the score a pure function of exact integer
    * counts (degrees ≤ k) — one division, identical doubles on both
    * engines.
    */
  def graphJaccardLp(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val und = mutualKnnPairs(s, dir, k).select("id_a", "id_b")
      .localCheckpoint(true)
    val sym = und.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(und.select(col("id_b").as("a"), col("id_a").as("b")))
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("dg"))
    val wedge = sym.select(col("a"), col("b"))
      .join(sym.select(col("a").as("b"), col("b").as("c")), "b")
      .where(col("a") < col("c"))
    val cand = wedge.join(und,
      wedge("a") === und("id_a") && wedge("c") === und("id_b"),
      "left_anti")
    cand.groupBy(col("a").as("id_a"), col("c").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(deg.select(col("id").as("id_a"), col("dg").as("dg_a")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("dg").as("dg_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("dg_a") + col("dg_b") - col("n_common")), 4)
          .as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** PAGERANK CENTRALITY over the corpus kNN graph — the
    * graph-importance signal centrality-aware data curation uses
    * (documents whose embeddings many other documents point at are
    * hubs of semantic mass; tails are candidates for up-weighting or
    * inspection). Power iteration with damping 0.85, a FIXED
    * iteration count (T=3) like every bounded fixpoint in this repo.
    *
    * INTEGER-EXACT arithmetic — the float trap here is that
    * p(v) = Σ in-contributions is a float sum whose value depends on
    * aggregation order, which no oracle could reproduce. Instead the
    * scores are scaled integers: S_0 = 1, and with damping 17/20 and
    * out-degrees ≤ 5 (all dividing 60),
    * S_{t+1}(v) = 180·1200^t + Σ_{u→v} S_t(u)·(1020 div deg(u))
    * keeps every term — teleport and edge contribution alike — a
    * Long (1020 = 0.85·1200 is divisible by every degree 1..5;
    * 180 = 0.15·1200). Integer sums are order-independent, so the
    * DuckDB mirror matches bit-for-bit. The final S_T / (N·1200^T) is
    * rounded to 6dp half-up EXACTLY, in DECIMAL(38,0):
    * q = (2·S_T·10⁶ + D) div 2D with D = N·1200^T, and the one float op
    * is q / 10⁶ (q < 2⁵³, so that is the double nearest the rounded
    * decimal on both engines). Rounding the double quotient instead
    * let the engines' own 6dp rules split at a .xxxxxx5 boundary (2 of
    * 2,000 rows at sf0.1). Overflow headroom: Σ_v S_t(v) ≤ N·1200^t,
    * so individual scores stay far below 2^63 for T ≤ 4 at any
    * realistic N (hence the require), and the numerator stays below
    * 4.2·10¹⁸·N, under 10³⁸ for every N < 2.4·10¹⁹ — any Long N.
    *
    * Scale shape: per iteration ONE key-partitioned join of the N·k
    * edge table (memoized + checkpointed by [[knnGraph]]) against
    * the N-row score table and one groupBy — both shuffles keyed by
    * node id, no windows, no driver state beyond N and the scale
    * constant. localCheckpoint per iteration severs the lineage the
    * same way the dedup cluster fixpoint does.
    */
  def graphCentrality(s: SparkSession, dir: String,
                      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 4,
      "integer scaling: per-node scores must stay in Long range")
    val edges0 = knnGraph(s, dir).select(col("qid"), col("nn_id").as("id"))
    val deg = edges0.groupBy("qid").agg(count(lit(1)).as("d"))
    val edges = edges0.join(deg, "qid")
      .select(col("qid"), col("id"), expr("1020 div d").as("w"))
      .localCheckpoint(true) // consumed once per iteration
    val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
    // N from the bare table (metadata-only count — the spread
    // repartition in Tables.embeddings would force a shuffle just to
    // count); the algorithm needs N only for the teleport scale
    val n = Tables.table(s, dir, "embeddings").count()
    var state = nodes.select(col("id"), lit(1L).as("s"))
    var scaleT = 1L // 1200^t
    (0 until iters).foreach { _ =>
      val contrib = edges
        .join(state.select(col("id").as("qid"), col("s")), "qid")
        .groupBy("id").agg(sum(col("s") * col("w")).as("c"))
      state = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(180L * scaleT) + coalesce(col("c"), lit(0L))).as("s"))
        .localCheckpoint(true)
      scaleT *= 1200L
    }
    val denom = BigInt(n) * BigInt(scaleT)
    state.select(col("id").as("vec_id"),
        (expr(s"(CAST(s AS DECIMAL(38,0)) * 2000000 + $denom) div ${denom * 2}")
          .cast("double") / 1000000.0).as("centrality"))
      .orderBy("vec_id")
  }

  /** kNN LABEL PURITY — per label, the fraction of kNN-list
    * neighbors sharing the query's label: the neighborhood-coherence
    * number that PREDICTS [[graft.operators.Classify.knnClassify]]'s
    * accuracy before running it (purity ~1/n_labels means the
    * embedding carries no label signal and kNN voting is noise) and
    * complements [[knnSilhouette]]'s geometric view with the
    * supervised one. Exact integer counts off the memoized N·k edge
    * list + two label joins, one labels-sized aggregate, one 4dp
    * division.
    */
  def knnLabelPurity(s: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"))
    knnGraph(s, dir)
      .join(labels.select(col("vec_id").as("qid"), col("label").as("ql")),
        "qid")
      .join(labels.select(col("vec_id").as("nn_id"),
        col("label").as("nl")), "nn_id")
      .groupBy(col("ql").as("label"))
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("nl") === col("ql"), 1L).otherwise(0L))
          .as("n_same"))
      .select(col("label"), col("n_edges"), col("n_same"),
        round(col("n_same").cast("double") / col("n_edges"), 4)
          .as("purity"))
      .orderBy("label")
  }

  /** LOCAL OUTLIER FACTOR (Breunig et al., SIGMOD'00) over the kNN
    * graph — the DENSITY-RATIO outlier score [[embedOutliers]]'s
    * per-cell z-test can't express: a point is anomalous not because
    * it is far from everything but because it is SPARSER than its
    * own neighborhood (LOF ≈ 1 inlier, ≫ 1 outlier). All three
    * stages close over integers so no float aggregate depends on
    * fold order: distances are micro-quantized off the graph's
    * 4dp-rounded cosines, k-distance is an integer max, reachability
    * sums are integer, and the neighbor lrd ratios quantize to ppm
    * via IntegralDivide before the final per-node sum. Plan: the
    * memoized N·k edge list feeds three k-bounded joins/aggregates —
    * never a second corpus scan; zero-reach-sum neighbors (exact-
    * duplicate pileups) are guarded out of the ratio join.
    */
  def lofReport(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraph(s, dir).select(col("qid"), col("nn_id").as("id"),
        expr("CAST(round((1 - score) * 1000000) AS BIGINT)").as("dm"))
      .localCheckpoint(true) // kdist, reach, and ratio legs
    val kd = g.groupBy(col("qid").as("id")).agg(max("dm").as("kdist"))
    val sr = g.join(kd, "id")
      .select(col("qid"), greatest(col("kdist"), col("dm")).as("reach"))
      .groupBy("qid").agg(sum("reach").as("sum_reach"))
      .localCheckpoint(true) // both sides of the ratio join
    val rat = g
      .join(sr.select(col("qid"), col("sum_reach").as("sa")), "qid")
      .join(sr.select(col("qid").as("id"), col("sum_reach").as("sb")),
        "id")
      .where(col("sb") > 0)
      .select(col("qid"), expr("(sa * 1000000) div sb").as("r"))
    // Final 4dp rounding in EXACT integer arithmetic (r13, fuzz seed
    // 505): lof = sr6/(kk·10⁶) can land on a decimal .XXXX5 boundary
    // (seed 505 planted 5060250/5000000 = 1.012050 exactly), where
    // Spark's round (shortest-decimal HALF_UP → 1.0121) and DuckDB's
    // (binary-double half-away → 1.0120) disagree. floor((2N·10⁴ +
    // D) / 2D) is the mathematically exact half-up of N/D at 4dp —
    // all-integer, bit-identical on both engines, and the true
    // decimal answer rather than either engine's double artifact.
    rat.groupBy("qid")
      .agg(count(lit(1)).as("kk"), sum("r").as("sr6"))
      .select(col("qid").as("vec_id"),
        (expr("(sr6 * 20000 + kk * 1000000) div (kk * 2000000)")
          .cast("double") / 10000.0).as("lof"))
      .orderBy("vec_id")
  }

  /** HUBNESS (k-occurrence) AUDIT — the distribution of DIRECTED
    * kNN in-degrees (Radovanović et al., JMLR'10: in high dimensions
    * a few points become "hubs" appearing in unexpectedly many kNN
    * lists while antihubs vanish from all of them — a known quality
    * risk for kNN classification, dedup blocking, and graph-based
    * ANN entry points). Emits the full in-degree histogram INCLUDING
    * the antihub zero bucket (nodes never retrieved — only visible by
    * left-joining the vertex set, the ivfRecallCurve zero-anchor
    * lesson). Out-degree is k by construction, so the histogram is
    * pure in-degree signal. Scale: edge list is N·k (memoized
    * [[knnGraph]]); in-degree is one keyed count with map-side
    * combine, the histogram a second count over N rows, output
    * ≤ max-indeg rows.
    */
  def knnHubness(s: SparkSession, dir: String): DataFrame = {
    val indeg = knnGraph(s, dir)
      .groupBy(col("nn_id").as("id")).agg(count(lit(1)).as("indeg"))
    Tables.embeddings(s, dir).select(col("vec_id").as("id"))
      .join(indeg, Seq("id"), "left")
      .select(coalesce(col("indeg"), lit(0L)).as("indeg"))
      .groupBy("indeg").agg(count(lit(1)).as("n_points"))
      .orderBy("indeg")
  }

  /** HITS hubs & authorities (Kleinberg '99) over the DIRECTED kNN
    * graph — the asymmetry PageRank's single score hides: a hub's
    * out-edges reach many well-cited points (broad coverage), an
    * authority's in-edges arrive from many hubs (the k-occurrence /
    * hubness signal from the other side). Two full mutual-recursion
    * rounds with INTEGER state (h₀ = 1 ⇒ a₁ = in-degree;
    * h₁ = Σ_out a₁; a₂ = Σ_in h₁; h₂ = Σ_out a₂) — the
    * graphCentrality discipline: no per-round float normalization to
    * be fold-order-dependent, one max-division at the end. Magnitudes
    * are bounded by (k·N)² ≈ 25N², so sums ride DECIMAL(38,0) (the
    * headroom rule — BIGINT wraps past N ≈ 6·10⁸) and the final
    * decimal→double conversion is exact below 2⁵³ and round-to-
    * nearest-even on both engines above it. Scale: the edge list is
    * N·k rows; each half-round is one k-bounded equi-join + keyed
    * aggregate with map-side combine absorbing the hub-key skew that
    * defines the very signal being measured.
    */
  def graphHits(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val edges = knnGraph(s, dir).select(col("qid"), col("nn_id").as("id"))
      .localCheckpoint(true) // consumed by all four half-rounds
    val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("id"))
    val a1 = edges.groupBy("id")
      .agg(count(lit(1)).cast(dec).as("a1"))
    // inner joins are lossless here: an out-neighbor has ≥1 in-edge
    // by construction, so a1 (and transitively a2) covers every key
    // the next half-round asks for
    val h1 = edges.join(a1, "id").groupBy("qid").agg(sum("a1").as("h1"))
    val a2 = edges.join(h1, "qid").groupBy("id").agg(sum("h1").as("a2"))
    val h2 = edges.join(a2, "id").groupBy("qid").agg(sum("a2").as("h2"))
    val mx = a2.agg(max("a2").as("ma"))
      .crossJoin(h2.agg(max("h2").as("mh")))
    nodes.join(a2, Seq("id"), "left")
      .join(h2.withColumnRenamed("qid", "id"), Seq("id"), "left")
      .crossJoin(broadcast(mx))
      .select(col("id").as("vec_id"),
        round(coalesce(col("a2"), lit(0L).cast(dec)).cast("double")
          / col("ma").cast("double"), 6).as("authority"),
        round(coalesce(col("h2"), lit(0L).cast(dec)).cast("double")
          / col("mh").cast("double"), 6).as("hub"))
      .orderBy("vec_id")
  }

  // ------------------------------------------ persisted kNN graph

  /** Nodes of a persisted IVF index — the graph's vertex set IS the
    * index (one source of truth for vectors and cell layout).
    */
  private def graphNodes(s: SparkSession, indexPath: String): DataFrame =
    s.read.parquet(indexPath)
      .select(col("id"), col("vec"), col("cell").cast("long").as("cell"))

  /** Persist the kNN graph of an IVF index: the persisted hierarchy
    * ([[hnswBuild]]) restricted to layer 0, at k = 5. It is
    * PARTITIONED BY (layer, EACH NODE'S OWN CELL) — the layout that
    * makes maintenance churn-LOCAL: a node's edges change only when a
    * cell it probes is touched, and the nodes probing a cell are (by
    * construction of the probe ranking) concentrated in that cell and
    * its neighbors, so the affected rows cluster in few partitions. A
    * qid-hash layout would scatter any affected set across every
    * partition.
    */
  def knnGraphBuild(s: SparkSession, indexPath: String, graphPath: String,
                    k: Int = 5): Unit =
    buildLayers(s, indexPath, graphPath, Seq(0), k)

  def knnGraphRead(s: SparkSession, graphPath: String): DataFrame =
    s.read.parquet(graphPath).select("qid", "rk", "nn_id", "score")

  /** Upsert `updates` (id, vec) into the index and repair the kNN graph
    * ([[maintainLayers]] over layer 0).
    */
  def knnGraphUpsert(s: SparkSession, indexPath: String, graphPath: String,
                     updates: DataFrame, k: Int = 5): Unit =
    maintainLayers(s, indexPath, graphPath, updates, Seq(0), k, delete = false)

  /** Delete `ids` (id) from the index and the kNN graph
    * ([[maintainLayers]] over layer 0).
    */
  def knnGraphDelete(s: SparkSession, indexPath: String, graphPath: String,
                     ids: DataFrame, k: Int = 5): Unit =
    maintainLayers(s, indexPath, graphPath, ids, Seq(0), k, delete = true)

  /** The stored centroids of a persisted IVF index: the one reader of
    * the `_centroids` sidecar that [[ivfBuild]] writes.
    */
  private[operators] def storedCentroids(s: SparkSession,
                              indexPath: String): Array[(Long, Array[Float])] =
    collectCentroids(s.read.parquet(centroidsPath(indexPath)))

  /** Layer `l`'s [[kNNEdges]] of `nodes` (id, vec, cell — layer
    * members) among the layer's members of `all` (the index's
    * [[graphNodes]]), each row with its node's cell: the stored layout
    * (layer, qid, rk, nn_id, score, cell).
    */
  private def storedLayer(nodes: DataFrame, all: DataFrame,
                          cents: Array[(Long, Array[Float])], l: Int,
                          k: Int): DataFrame =
    kNNEdges(nodes, inLayer(all, l), cents, hnswNprobe(l, cents.length), k)
      .join(nodes.select(col("id").as("qid"), col("cell")), "qid")
      .select(lit(l).as("layer"), col("qid"), col("rk"), col("nn_id"),
        col("score"), col("cell"))

  /** Write `layers` of an IVF index's graph at `path`, partitioned by
    * (layer, cell) through [[writeCellPartitioned]]'s repartition, so
    * each partition is one file.
    */
  private def buildLayers(s: SparkSession, indexPath: String, path: String,
                          layers: Seq[Int], k: Int): Unit = {
    val all = graphNodes(s, indexPath)
    val cents = storedCentroids(s, indexPath)
    writeCellPartitioned(layers.map(l => storedLayer(inLayer(all, l), all, cents, l, k))
      .reduce(_ unionByName _), path, Seq("layer", "cell"))
  }

  /** Read a surviving intent marker: (recorded cells, recorded ids).
    * The ids column is the r9-advice completion of the protocol:
    * cells alone cannot reconstruct a crashed batch's affected set —
    * a node the crashed run MOVED, whose new probe set misses its old
    * cell, would keep edges computed from its pre-upsert vector.
    * Markers written before the column existed read as cells-only.
    */
  private def readIntent(s: SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem,
                         intentPath: org.apache.hadoop.fs.Path)
      : (Array[Long], Array[Long]) =
    if (fs.exists(new org.apache.hadoop.fs.Path(intentPath, "_SUCCESS"))) {
      val m = s.read.parquet(intentPath.toString)
      val cells = m.where(col("cell").isNotNull)
        .select("cell").collect().map(_.getLong(0))
      val ids =
        if (m.columns.contains("id"))
          m.where(col("id").isNotNull)
            .select("id").collect().map(_.getLong(0))
        else Array.empty[Long]
      (cells, ids)
    } else (Array.empty, Array.empty)

  /** Durably record a batch's pre-op cells AND member ids (one tiny
    * two-column file; either column may be empty). Replayed ids are
    * recomputed if still live and dropped if gone — so a marker from
    * EITHER a crashed upsert or a crashed delete repairs correctly
    * under whichever operation runs next.
    */
  private def writeIntent(s: SparkSession, intentPath: org.apache.hadoop.fs.Path,
                          cells: Array[Long], ids: Array[Long]): Unit = {
    import s.implicits._
    cells.toSeq.toDF("v")
      .select(col("v").as("cell"), lit(null).cast("long").as("id"))
      .unionByName(ids.toSeq.toDF("v")
        .select(lit(null).cast("long").as("cell"), col("v").as("id")))
      .coalesce(1).write.mode("overwrite").parquet(intentPath.toString)
  }

  /** INCREMENTAL GRAPH MAINTENANCE under vector upserts and deletes,
    * for every layer of `layers` under ONE intent marker — provably
    * equal to a full rebuild ([[buildLayers]]). A layer-l node's
    * candidate set is exactly the layer-l membership of its
    * (centroid-fixed, hence immutable) probe cells, and level
    * membership is a pure function of id, so a batch can change a
    * node's edge list only if (a) the node itself was upserted or
    * deleted, or (b) one of its probe cells at that layer's width is
    * TOUCHED — gained or lost a member (a written id's old and new
    * cells). The affected set per layer is therefore {batch ids} ∪
    * {layer nodes probing a touched cell}; every other node's
    * candidates — and so its top-k — are untouched. Recompute edges
    * for the live affected nodes only, drop the rows of dead ones
    * (a lost neighbour is replaced from the cell's survivors), then
    * dynamic-partition-overwrite only the (layer, cell) partitions
    * holding an affected node's rows (new cell + old cell of moved
    * nodes), carrying unaffected co-partitioned rows; partitions the
    * replacement emptied are deleted ([[TablePublish.publish]]). Work scales
    * with churn locality (touched cells × their probers), never with
    * graph size. Upsert and delete differ only in the index write
    * ([[ivfIndexUpsert]] or [[ivfIndexDelete]]) and in a delete of ids
    * the index lacks, which has nothing to repair.
    *
    * CRASH WINDOW, CLOSED BY AN INTENT MARKER: the index write and the
    * graph publish are separate steps, and a crash between them
    * leaves the graph stale against the updated index — re-running
    * the same batch would NOT repair it by itself, because the moved
    * or deleted ids' old cells are no longer observable from the
    * index, so their probers would be missed. The pre-write cells and
    * the batch ids are therefore recorded DURABLY (path + "_intent")
    * before the index is touched and deleted only after the publish
    * completes. A surviving marker means a prior attempt died inside
    * the window: its recorded cells and ids are merged into this
    * run's repair scope, restoring exactly the probe-cell visibility
    * the index lost — replay becomes a complete repair, and a marker
    * surviving a COMPLETED publish only adds already-clean cells to
    * the affected set (idempotent extra work). A rebuild remains a
    * valid (if maximal) recovery, no longer the only one.
    *
    * @param batch (id, vec) to upsert, or (id) to delete
    */
  private def maintainLayers(s: SparkSession, indexPath: String, path: String,
                             batch: DataFrame, layers: Seq[Int], k: Int,
                             delete: Boolean): Unit = {
    import s.implicits._
    val intentPath = new org.apache.hadoop.fs.Path(path + "_intent")
    val fs = intentPath.getFileSystem(s.sessionState.newHadoopConf())
    // a surviving marker = a prior run crashed after its index write
    // but before its publish; its cells are invisible in the index now
    // and its ids' edges are suspect — carry BOTH into this run's
    // repair scope
    val (pendingCells, pendingIds) = readIntent(s, fs, intentPath)
    val batchIds = batch.select("id").distinct().as[Long].collect()
    val allIds = (batchIds ++ pendingIds).distinct
    val ids = allIds.toSeq.toDF("id")
    val cents = storedCentroids(s, indexPath)
    def cellsOfIds(): Array[Long] = cellsOf(s.read.parquet(indexPath).join(broadcast(ids), "id"),
      cents.length)
    val oldCells = (cellsOfIds() ++ pendingCells).distinct
    if (delete && oldCells.isEmpty) return
    // record intent BEFORE the index changes (torn marker without
    // _SUCCESS reads as absent — and then the index is still
    // untouched, so a plain re-run recomputes everything correctly)
    writeIntent(s, intentPath, oldCells, allIds)
    // the index write applies ONLY to this batch's ids — marker ids
    // from a crashed upsert are live nodes to re-resolve, not deletes
    if (delete) deleteCells(s, indexPath, batch, cents.length)
    else ivfIndexUpsert(s, indexPath, batch)
    val touched = (oldCells ++ cellsOfIds()).distinct
    val all = graphNodes(s, indexPath)
    val perLayer = layers.map { l =>
      val lnodes = inLayer(all, l)
      // probe sets are a cheap per-row projection over literal
      // centroids — no shuffle; the isin filter keeps only probers of
      // touched cells
      val probers = lnodes.select(col("id"),
          explode(centroidTopM(col("vec"), cents, hnswNprobe(l, cents.length))).as("p"))
        .where(col("p.cell").isin(touched.toIndexedSeq: _*))
        .select("id").distinct()
      // every batch/marker id enters directly (NOT via an lnodes
      // semi-join): a dead id has no lnodes row but its stale graph
      // rows must still drop through the keep anti-join below
      val affectedIds = probers.unionByName(ids)
        .distinct().localCheckpoint(true)
      val affected = lnodes.join(broadcast(affectedIds), Seq("id"), "left_semi")
      // partitions to rewrite: cells now holding an affected node +
      // old cells of moved or deleted nodes (whose stale rows must drop)
      val affCells = (cellsOf(affected, cents.length) ++ oldCells).distinct
      val keep = s.read.parquet(path)
        .where(col("layer") === l && col("cell").isin(affCells.toIndexedSeq: _*))
        .join(broadcast(affectedIds.select(col("id").as("qid"))),
          Seq("qid"), "left_anti")
        .select(lit(l).as("layer"), col("qid"), col("rk"), col("nn_id"),
          col("score"), col("cell").cast("long").as("cell"))
      (keep.unionByName(storedLayer(affected, all, cents, l, k)),
        affCells.map(c => Seq(l, c)))
    }
    TablePublish.publish(s, path, Seq("layer", "cell"), perLayer.flatMap(_._2),
      perLayer.map(_._1).reduce(_ unionByName _))
    // publish complete — retire the marker (crash before this line
    // re-runs the repair with the recorded cells and ids, idempotently)
    fs.delete(intentPath, true)
  }

  /** GRAPH-BASED ANN (NSW beam search) — the relational analog of the
    * reference's hnswlib search loop (hnswlib_index.cc:46 searchKnn):
    * greedy best-first expansion over the base graph (layer 0 of
    * [[hnswLayerEdges]], held symmetric by [[nswStore]]). Each round
    * expands every query's beam by one hop,
    * unions the beam in and keeps the `beam` best by exact cosine;
    * after at most `rounds` hops the top-k of the final beam is the
    * answer. The walk's state is Q×beam ids per round — request-sized,
    * never corpus-sized — so [[Descent]] holds it on the driver and
    * runs each round as ONE job over the [[DescentStore]] that scores
    * the new pairs and returns their ids' edges with no query plan.
    * Entry points come from a COARSE-TO-FINE DESCENT
    * through the cached IVF centroids (hnswlib's upper layers,
    * hnswlib_index.cc:21-24, serve exactly this role: route to a good
    * neighborhood before the fine-grained walk), so search needs no
    * RNG and replays bit-identically.
    */
  def nswSearch(s: SparkSession, dir: String, queries: DataFrame,
                k: Int = 10, beam: Int = 16, rounds: Int = 3,
                graphK: Int = 8): DataFrame =
    nswWalk(s, dir, queries, beam, rounds, graphK, new DescentStats).ranked(k)

  /** Counters a [[Descent]] fills in: the rounds its base loop ran, the
    * pairs its jobs scored, and the most rows (scored pairs) one of its
    * jobs returned to the driver (what [[MaxDescentRows]] bounds). A
    * pair is scored at most once, so `pairsScored` ≤ entry pairs +
    * visited pairs.
    */
  private[graft] final class DescentStats {
    @volatile var roundsRun: Int = 0
    @volatile var pairsScored: Long = 0L
    @volatile var peakRows: Int = 0
  }

  /** Row bound on a descent's request batch: the batch is collected to
    * the driver, and its vectors are sent to the executors once. A
    * larger batch fails loudly; split it into several calls.
    */
  val MaxDescentQueries = 4096

  /** Row bound on any one collect of a descent (an entry set or a
    * round's scored pairs). At [[MaxDescentQueries]] queries a round
    * holds about Q·beam·degree ≈ 1M pairs and the IVF entry set
    * Q·2·stride ≈ 1.6M, so only a graph with runaway hub degree or a
    * degenerate cell gets near it.
    */
  val MaxDescentRows = 1 << 22

  /** The [[DescentStore]] of `dir`'s corpus, with no edges: each row
    * of the plain corpus scan with its position in that scan (so a
    * duplicate id resolves as the scan orders it), its [[assignTo]]
    * cell under the cached centroids and its hierarchy level. Memoized
    * per dir; the IVF leg reads it alone and the graph stores share its
    * buckets.
    */
  private def corpusStore(s: SparkSession, dir: String): DescentStore =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId, s"descentstore|$dir") {
      DescentStore.build(assignTo(Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            monotonically_increasing_id().as("pos")), cachedCentroids(s, dir))
        .withColumn("lvl", hnswLevel(col("id"))))
    }

  /** `dir`'s corpus store with the base graph (layer 0 of
    * [[hnswLayerEdges]]) as its layer-0 edges, what the NSW walks and
    * every routed graph leg read. Memoized per (dir, graphK).
    */
  private def nswStore(s: SparkSession, dir: String, graphK: Int): DescentStore =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"descentgraph|$dir|$graphK") {
      corpusStore(s, dir).withEdges(hnswLayerEdges(s, dir, 0, graphK)
        .select(lit(0).as("layer"), col("qid"), col("nn_id")))
    }

  /** [[nswStore]] with the in-memory hierarchy's upper layers 1-4
    * ([[hnswLayerEdges]]) added, so only hierarchy callers build them.
    * Memoized per (dir, graphK).
    */
  private def hnswStore(s: SparkSession, dir: String, graphK: Int): DescentStore =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"descenthier|$dir|$graphK") {
      nswStore(s, dir, graphK).withEdges((1 until DescentStore.Layers).map { l =>
        hnswLayerEdges(s, dir, l, graphK).select(lit(l).as("layer"), col("qid"), col("nn_id"))
      }.reduce(_ union _))
    }

  /** Collect the batch (qid, qvec, cells, `extra`…) with each query's
    * `nprobe` nearest IVF cells, and score the members of those cells
    * in one job over `store`. Returns the descent and the scored entry
    * pairs.
    */
  private def nswStart(s: SparkSession, dir: String, store: DescentStore,
                       queries: DataFrame, extra: Seq[org.apache.spark.sql.Column],
                       stats: DescentStats, nprobe: Int = 2)
      : (Descent, Array[DescentStore.Hit]) = {
    val cents = cachedCentroids(s, dir)
    val d = new Descent(store, queries.select(Seq(col("qid"),
      col("qvec"), centroidTopM(col("qvec"), cents, nprobe).getField("cell")) ++
      extra: _*), stats)
    (d, d.scoreCells(d.rows(_).getSeq[Long](2)))
  }

  /** Beam ENTRY SET: per query, the members of its `nprobe` nearest
    * IVF cells under the cached centroids. Per-query entry work is
    * ≈ nprobe·stride rows — bounded by CELL SIZE, not corpus size
    * (cell count grows with the corpus; cell size stays ~stride) —
    * the scale contract AnnSpec pins.
    */
  private[graft] def nswEntry(s: SparkSession, dir: String,
                              queries: DataFrame,
                              nprobe: Int = 2): DataFrame = {
    val (d, scored) = nswStart(s, dir, corpusStore(s, dir), queries, Nil,
      new DescentStats, nprobe)
    val entry = d.idsByQuery(scored)
    d.frame(Seq(StructField("id", LongType, nullable = false)))(
      entry(_).iterator.map(Seq(_)))
  }

  /** The NSW walk; `budget`, when given, is each request's round
    * budget, a column collected with the batch.
    */
  private def nswWalk(s: SparkSession, dir: String, queries: DataFrame,
                      beam: Int, rounds: Int, graphK: Int,
                      stats: DescentStats,
                      budget: Option[org.apache.spark.sql.Column] = None): Descent = {
    val (d, scored) = nswStart(s, dir, nswStore(s, dir, graphK), queries,
      budget.toSeq, stats)
    val entry = d.idsByQuery(scored)
    d.enter(entry(_), beam)
    d.descend(beam, rounds, if (budget.isEmpty) _ => rounds else d.rows(_).getInt(3))
    d
  }

  /** (final beam (qid, id, s), scored visited set (qid, id, s)). */
  private[graft] def nswTraverse(s: SparkSession, dir: String,
                                 queries: DataFrame,
                                 beam: Int, rounds: Int,
                                 graphK: Int,
                                 stats: DescentStats = new DescentStats)
      : (DataFrame, DataFrame) = {
    val d = nswWalk(s, dir, queries, beam, rounds, graphK, stats)
    (d.frontierFrame(), d.visitedFrame(scoredOnly = true))
  }

  /** PER-REQUEST SEARCH EFFORT — the reference API's `ef_search`
    * parameter as REQUEST DATA (hnswlib_index.h:16 `search_vectors
    * (..., int ef_search = 50)`, applied via `setEf` at
    * hnswlib_index.cc:30): each request carries its own `ef`, and the
    * beam loop derives a per-request ROUND BUDGET from it —
    * rounds_q = min(maxRounds, max(1, ⌈ef / beam⌉)) — since each
    * round evaluates at most `beam` fresh frontier members, ef/beam
    * rounds is exactly "expand until ~ef candidates were considered",
    * hnswlib's ef-queue semantic in fixed-point relational form. The
    * budget is that Spark expression, collected with the batch; a
    * query whose budget is spent FREEZES with its beam as it stands,
    * so a batch of mixed-effort requests runs as ONE loop, never a
    * loop per effort class. Monotone by construction: per-query
    * trajectories are independent and deterministic, so a smaller
    * ef's visited set is a strict PREFIX (round-wise) of a larger
    * ef's — a smaller ef can never expand more nodes (AnnSpec pins
    * this).
    *
    * @param reqs (qid, qvec, ef) — ef per request
    * @return (qid, rk, nn_id, score, rounds_used) — rounds_used is
    *         the budget the request ran, emitted as DATA so the
    *         oracle mirrors it from the same ⌈ef/beam⌉ expression
    */
  def nswSearchEf(s: SparkSession, dir: String, reqs: DataFrame,
                  k: Int = 10, beam: Int = 16, maxRounds: Int = 3,
                  graphK: Int = 8): DataFrame = {
    val d = nswWalkEf(s, dir, reqs, beam, maxRounds, graphK, new DescentStats)
    d.ranked(k, (StructField("rounds_used", LongType, nullable = false),
      d.rows(_).getInt(3).toLong))
  }

  private def nswWalkEf(s: SparkSession, dir: String, reqs: DataFrame,
                        beam: Int, maxRounds: Int, graphK: Int,
                        stats: DescentStats): Descent =
    nswWalk(s, dir, reqs, beam, maxRounds, graphK, stats, Some(least(lit(maxRounds),
      greatest(lit(1), ceil(col("ef").cast("double") / lit(beam)).cast("int")))))

  /** (final beam (qid, id, s, rq), visited set (qid, id)). */
  private[graft] def nswTraverseEf(s: SparkSession, dir: String,
                                   reqs: DataFrame, beam: Int,
                                   maxRounds: Int, graphK: Int,
                                   stats: DescentStats = new DescentStats)
      : (DataFrame, DataFrame) = {
    val d = nswWalkEf(s, dir, reqs, beam, maxRounds, graphK, stats)
    (d.frontierFrame((StructField("rq", IntegerType, nullable = false),
        d.rows(_).getInt(3))),
      d.visitedFrame(scoredOnly = false).select("qid", "id"))
  }

  /** FILTERED graph search — the reference's HNSW path takes the
    * scalar-filter bitmap as a SELECTOR (hnswlib_index.cc:28-37,
    * searchKnn with IdSelector): traversal runs on the full graph,
    * the filter gates only what may be RETURNED. The relational
    * analog: beam-traverse unfiltered, then rank the
    * filter-passing members of the VISITED SET (every id any round
    * scored — Q×(beam·graphK·rounds)-bounded, query-sized). Like
    * the reference, a highly selective filter can return fewer than
    * k rows — the documented approximate-filtered contract (the
    * exact path vdb_knn_filtered_* guarantees k).
    */
  def nswSearchFiltered(s: SparkSession, dir: String, queries: DataFrame,
                        filter: org.apache.spark.sql.Column, k: Int = 5,
                        beam: Int = 16, rounds: Int = 3,
                        graphK: Int = 8): DataFrame =
    filteredTop(s, dir, nswTraverse(s, dir, queries, beam, rounds, graphK)._2,
      filter, k)

  /** The filtered searches' tail: the members of a walk's scored
    * visited set (qid, id, s) that pass `filter`, rank-k per query by
    * (s desc, id).
    */
  private def filteredTop(s: SparkSession, dir: String, visited: DataFrame,
                          filter: org.apache.spark.sql.Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allowed = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("label")).where(filter)
    // semi-join, no forced broadcast: the visited side is
    // query-sized but `allowed` is corpus-sized (label-filtered) —
    // AQE picks the build side
    visited
      .join(allowed.select("id"), Seq("id"), "left_semi")
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("s").desc, col("id"))))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("id").as("nn_id"),
        round(col("s"), 4).as("score"))
      .orderBy("qid", "rk")
  }

  def nswQuery(s: SparkSession, dir: String): DataFrame =
    nswSearch(s, dir, Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec")))

  def nswFilteredQuery(s: SparkSession, dir: String): DataFrame =
    nswSearchFiltered(s, dir,
      Tables.embeddings(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      col("label") === 5)

  // ------------------------------------------------ hierarchical NSW

  /** TRUE LAYER HIERARCHY — the missing piece of the hnswlib analog.
    * [[nswSearch]] compensates for hnswlib's upper layers with an
    * IVF-centroid descent; this family builds the layers themselves
    * (reference hnswlib_index.cc:21-24, `HierarchicalNSW` — every
    * node draws a geometric level and appears in all layers up to
    * it; search enters at the single top node and descends).
    *
    * Level rule: node id is in layer `l` iff its md5-derived hash is
    * ≡ 0 (mod 8^l) — the deterministic analog of hnswlib's
    * `-ln(U)·mL` geometric draw (P[level ≥ l] = 8^-l), md5-keyed so
    * membership cannot alias against id-modulo predicates or the
    * stride-sampled centroids. Levels are NESTED (layer l+1 ⊆ layer
    * l), capped at 4: at 8^4 = 4096× coarsening the top layer of any
    * testable corpus is a handful of nodes, and extra depth only
    * adds empty no-op layers (an empty layer's expand is the
    * identity carry — both sides mirror that).
    */
  private[graft] def hnswLevel(idCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val h = conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long")
    when(h % 4096 === 0, 4).when(h % 512 === 0, 3)
      .when(h % 64 === 0, 2).when(h % 8 === 0, 1).otherwise(0)
  }

  /** Layer `layer` of `dir`'s in-memory graph: the [[kNNEdges]] of
    * the corpus rows at that level or above among themselves, under
    * the cached centroids, probing [[hnswNprobe]] cells. Layer 0 is
    * the base graph ([[knnGraph]]). One direction, not memoized: the
    * descent stores hold the edges.
    *
    * @return (qid, rk, nn_id, score)
    */
  private[graft] def hnswLayerEdges(s: SparkSession, dir: String, layer: Int,
                                    k: Int = 8): DataFrame = {
    val cents = cachedCentroids(s, dir)
    val nodes = inLayer(Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec")), layer)
    kNNEdges(nodes, assignTo(nodes, cents), cents, hnswNprobe(layer, cents.length), k)
  }

  /** The rows of `df` (id, …) in hierarchy layer `layer`: every level
    * is ≥ 0, so layer 0 keeps them all.
    */
  private def inLayer(df: DataFrame, layer: Int): DataFrame =
    if (layer == 0) df else df.where(hnswLevel(col("id")) >= layer)

  /** Coarse-to-fine descent + base beam: enter at THE single highest
    * node (max level, then min id — hnswlib's enterpoint), walk one
    * expand-score-cut round per upper layer (4→1, beam 8), then run
    * the [[nswSearch]] base loop (3 rounds, beam 16) seeded with the
    * layer-1 frontier. Round-0 work is Q×1 — entry cost is CONSTANT
    * in corpus size, the contract the r8 verdict asked the NSW family
    * to meet; the upper-layer rounds are each ≤ Q×beam×k edge
    * expansions. An edge-less layer (the sparsest top layers of a
    * small corpus) finds no neighbours and scores nothing, which is
    * the identity step the SQL mirror's blocks reduce to. Shared by
    * the in-memory and persisted-index variants: same descent over the
    * caller's store, which holds the enterpoint.
    */
  private def hnswWalk(store: DescentStore, queries: DataFrame,
                       beamU: Int, beam: Int, rounds: Int,
                       stats: DescentStats): Descent = {
    val d = new Descent(store, queries.select("qid", "qvec"), stats)
    d.enter(_ => store.entry.toSeq, beamU)
    for (l <- 4 to 1 by -1) d.hop(l, d.rows.indices, beamU)
    d.descend(beam, rounds)
    d
  }

  private[operators] def hnswTraverse(s: SparkSession, dir: String,
                                      queries: DataFrame, beamU: Int,
                                      beam: Int, rounds: Int, graphK: Int,
                                      stats: DescentStats = new DescentStats)
      : Descent =
    hnswWalk(hnswStore(s, dir, graphK), queries, beamU, beam, rounds, stats)

  def hnswSearch(s: SparkSession, dir: String, queries: DataFrame,
                 k: Int = 10, beamU: Int = 8, beam: Int = 16,
                 rounds: Int = 3, graphK: Int = 8): DataFrame =
    hnswTraverse(s, dir, queries, beamU, beam, rounds, graphK).ranked(k)

  /** Filtered hierarchical search — same selector semantics as
    * [[nswSearchFiltered]] (hnswlib_index.cc:28-37: traverse the full
    * graph, gate only what may be returned): rank the filter-passing
    * members of the descent's visited set.
    */
  def hnswSearchFiltered(s: SparkSession, dir: String, queries: DataFrame,
                         filter: org.apache.spark.sql.Column, k: Int = 5,
                         beamU: Int = 8, beam: Int = 16, rounds: Int = 3,
                         graphK: Int = 8): DataFrame =
    filteredTop(s, dir, hnswTraverse(s, dir, queries, beamU, beam, rounds,
      graphK).visitedFrame(scoredOnly = true), filter, k)

  def hnswQuery(s: SparkSession, dir: String): DataFrame =
    hnswSearch(s, dir, Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec")))

  def hnswFilteredQuery(s: SparkSession, dir: String): DataFrame =
    hnswSearchFiltered(s, dir,
      Tables.embeddings(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      col("label") === 5)

  // ---------------------------------------- persisted hierarchy

  /** Density-compensated probe width for a layer: layer `l` keeps
    * 1-in-8^l of the corpus, so probing `2·8^l` nearest cells keeps
    * the per-node candidate count ≈ 2·stride at EVERY layer and every
    * corpus size — upper layers stay as connected at 100 TB as at
    * sf0.01, and per-node build cost is constant per layer while layer
    * sizes shrink 8×, so the whole hierarchy builds for ≈ N/7 extra
    * edge computations on top of the base graph. Layer 0 is the base
    * graph's nprobe = 2.
    */
  private def hnswNprobe(layer: Int, ncells: Int): Int =
    math.min(2 * math.pow(8, layer).toInt, ncells)

  /** PERSIST THE WHOLE HIERARCHY — layers 0..4 of an IVF index as
    * one parquet table PARTITIONED BY (layer, cell). Layer 0 (probe
    * width 2) IS the base kNN graph, so this table is the complete
    * search structure, and maintenance is churn-local exactly as
    * [[knnGraphBuild]]'s layout argument says — a touched cell's rows
    * cluster in 5 partitions (one per layer), not across the table.
    * Levels are a pure function of id ([[hnswLevel]]), so an upsert
    * can never move a node between layers — only its cell and edges
    * change.
    */
  def hnswBuild(s: SparkSession, indexPath: String, hnswPath: String,
                k: Int = 8): Unit =
    buildLayers(s, indexPath, hnswPath, 0 until DescentStore.Layers, k)

  def hnswRead(s: SparkSession, hnswPath: String): DataFrame =
    s.read.parquet(hnswPath)
      .select(col("layer").cast("int").as("layer"), col("qid"),
        col("rk"), col("nn_id"), col("score"))

  /** Upsert `updates` (id, vec) into the index and repair every layer
    * of the hierarchy ([[maintainLayers]]).
    */
  def hnswUpsert(s: SparkSession, indexPath: String, hnswPath: String,
                 updates: DataFrame, k: Int = 8): Unit =
    maintainLayers(s, indexPath, hnswPath, updates, 0 until DescentStore.Layers, k,
      delete = false)

  /** Delete `ids` (id) from the index and every layer of the hierarchy
    * ([[maintainLayers]]).
    */
  def hnswDelete(s: SparkSession, indexPath: String, hnswPath: String,
                 ids: DataFrame, k: Int = 8): Unit =
    maintainLayers(s, indexPath, hnswPath, ids, 0 until DescentStore.Layers, k,
      delete = true)

  /** Search the PERSISTED hierarchy: same descent as [[hnswSearch]],
    * over a [[DescentStore]] of the index's nodes with the stored
    * layers' edges ([[indexedStore]]). Equal to the
    * in-memory path by construction (same centroids, same layer
    * membership, same edge rule) — AnnSpec pins the equality, so the
    * persisted structure shares ann_hnsw's oracle.
    */
  def hnswSearchIndexed(s: SparkSession, indexPath: String, hnswPath: String,
                        queries: DataFrame, k: Int = 10, beamU: Int = 8,
                        beam: Int = 16, rounds: Int = 3): DataFrame =
    hnswWalkIndexed(s, indexPath, hnswPath, queries, beamU, beam, rounds,
      new DescentStats).ranked(k)

  private[operators] def hnswWalkIndexed(s: SparkSession, indexPath: String,
                                         hnswPath: String, queries: DataFrame,
                                         beamU: Int, beam: Int, rounds: Int,
                                         stats: DescentStats): Descent =
    graft.ByproductCache.withVersion(s.sparkContext.applicationId,
      s"descentstore|index|$indexPath|$hnswPath", listing(s, indexPath, hnswPath))(
      indexedStore(s, indexPath, hnswPath))(_.release())(
      hnswWalk(_, queries, beamU, beam, rounds, stats))

  /** The store of a persisted index and hierarchy: [[graphNodes]] with
    * the stored edges, and the enterpoint. Held per
    * (indexPath, hnswPath) at a listing fingerprint of both
    * directories ([[listing]]), so the first read after any
    * `hnswBuild`, `hnswUpsert`, `hnswDelete` or `ivfIndexUpsert` write
    * rebuilds it, and the stale one is released once no walk reads it.
    */
  private def indexedStore(s: SparkSession, indexPath: String,
                           hnswPath: String): DescentStore =
    DescentStore.build(graphNodes(s, indexPath).select(col("id"), col("vec"),
        col("cell"), monotonically_increasing_id().as("pos"), hnswLevel(col("id")).as("lvl")))
      .withEdges(hnswRead(s, hnswPath).select("layer", "qid", "nn_id"))

  /** A driver-side fingerprint of the data files under `dirs`: the MD5
    * of every file's path, length and modification time (hidden files,
    * `_`- or `.`-prefixed, left out). A write to either directory
    * changes it; no job runs.
    */
  private def listing(s: SparkSession, dirs: String*): String = {
    val conf = s.sessionState.newHadoopConf()
    val files = dirs.flatMap { d =>
      val root = new org.apache.hadoop.fs.Path(d)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) Nil
      else {
        val it = fs.listFiles(root, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
          .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").toSeq
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sorted.foreach(f => md.update(f.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Persisted-hierarchy twin of [[hnswQuery]]: index + hierarchy
    * built once per sf dir under the IndexCache root, then searched
    * partition-pruned — shares [[hnswQuery]]'s oracle because both
    * paths train the same centroids and apply the same edge rule.
    */
  private[graft] def hnswIndexedPath(s: SparkSession, dir: String): String = {
    val idx = indexedPath(s, dir)
    val hp = graft.IndexCache.dirFor(dir, "hnsw")
      .toAbsolutePath.toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(hp, "_SUCCESS")))
      hnswBuild(s, idx, hp)
    hp
  }

  def hnswIndexedQuery(s: SparkSession, dir: String): DataFrame = {
    val idx = indexedPath(s, dir)
    val hp = hnswIndexedPath(s, dir)
    hnswSearchIndexed(s, idx, hp,
      Tables.embeddings(s, dir).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
  }

  /** EMBEDDING-SPACE DUPLICATE CLUSTERS — connected components over
    * the mutual-kNN graph: the embedding analog of the minhash
    * dedup_clusters pipeline (pairs → components → keep one per
    * cluster). Mutual edges (not raw kNN) keep hub nodes from
    * chaining unrelated neighborhoods into one giant component —
    * the standard failure of single-link over asymmetric kNN.
    * Reuses [[graft.operators.Dedup.connectedComponents]]
    * (min-label propagation, per-round checkpoints, diameter-bounded).
    */
  def embedKnnClusters(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"embclusters|$dir|$k") {
      Dedup.connectedComponents(mutualKnnPairs(s, dir, k)
          .select(col("id_a").as("id1"), col("id_b").as("id2")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }.orderBy("vec_id")

  def lshQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    lshSearch(e, q, k = 10)
  }

  def lshMultiprobeQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    lshSearchMultiprobe(e, q, k = 10)
  }

  /** SEMANTIC CLUSTERING surfaced as a first-class operator — the
    * IVF quantizer's k-means doing corpus analysis instead of index
    * routing: per cluster, its population, the dominant metadata
    * label with its purity, and the mean cosine to the centroid (the
    * per-cluster cohesion the recluster policy watches). This is the
    * topic-composition dashboard a curation pipeline reads before
    * reweighting domains, and it shares the EXACT trained centroids
    * with the search path ([[cachedCentroids]]) so analysis and routing
    * cannot disagree.
    *
    * Plan: the zero-exchange assignment projection, a broadcast join
    * to the k-row centroid table for the cohesion cosine, then two
    * chained aggregates (cell,label → cell) — the q13 count-of-counts
    * shape, map-side combined on the first (heavy) key. Float policy:
    * each row's cosine is 4dp-quantized to INTEGER micro-units before
    * summing (sums stay exact/associative — the exact-aggregate
    * rule), so only the final mean divisions of two exact longs are
    * float, bit-identical on any IEEE engine.
    *
    * Dominant label via max_by over (count, −label): deterministic
    * argmax, ties to the smallest label.
    */
  def clusterStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("label").cast("long").as("label"),
        col("embedding").as("vec"))
    val cents = cachedCentroids(s, dir)
    val centsDf = cents.toSeq.toDF("cell", "cvec")
    val base = assignTo(e, cents)
      .join(broadcast(centsDf), "cell")
      .select(col("cell"), col("label"),
        VectorDistance.cosine(col("vec"), col("cvec")).as("cos"))
      .withColumn("micro", expr("cast(round(cos * 10000) as bigint)"))
    val gl = base.groupBy("cell", "label")
      .agg(count(lit(1)).as("n"), sum("micro").as("sm"))
    gl.groupBy("cell")
      .agg(sum("n").as("size"), sum("sm").as("smm"),
        max_by(col("label"), struct(col("n"), -col("label")))
          .as("dom_label"),
        max(struct(col("n"), -col("label"))).getField("n").as("n_dom"))
      .select(col("cell"), col("size"), col("dom_label"),
        round(col("n_dom") * 1.0 / col("size"), 4).as("purity"),
        round(col("smm") * 1.0 / col("size") / 10000.0, 4).as("mean_cos"))
      .orderBy("cell")
  }

  /** CELL-LEVEL SILHOUETTE — the cluster-separation report grading
    * the IVF partition itself (clusterStats says how COHESIVE each
    * cell is; this says whether cells are SEPARATED enough for the
    * probe geometry to work): per cell, a = mean member→own-centroid
    * cosine distance, b = distance to the NEAREST other centroid,
    * s = (b−a)/max(a,b) — the simplified (centroid-based) silhouette
    * of Kaufman & Rousseeuw. s near 0 or negative flags cells the
    * quantizer should merge (their members sit as close to a
    * neighbor's centroid as their own — exactly where nprobe recall
    * leaks). Member distances fold as exact micro-unit integers
    * (order-free sums, the clusterStats discipline); b is a
    * deterministic min over the centroid×centroid grid — metadata-
    * sized (ncells², never corpus rows). One assignment pass, one
    * cell aggregate.
    */
  def knnSilhouette(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = cachedCentroids(s, dir)
    val centsDf = cents.toSeq.toDF("cell", "cvec")
    val mem = assignTo(e, cents)
      .join(broadcast(centsDf), "cell")
      .select(col("cell"),
        (lit(1.0) - VectorDistance.cosine(col("vec"), col("cvec")))
          .as("d"))
      .select(col("cell"),
        expr("CAST(round(d * 1000000) AS BIGINT)").as("micro"))
    val ag = mem.groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("micro").as("sm"))
    val sep = centsDf.as("ca")
      .join(broadcast(centsDf.select(col("cell").as("cellb"),
        col("cvec").as("cvb"))), col("cell") =!= col("cellb"))
      .select(col("cell"),
        (lit(1.0) - VectorDistance.cosine(col("cvec"), col("cvb")))
          .as("db"))
      .groupBy("cell").agg(min("db").as("b"))
    val a = col("sm").cast("double") / col("n") / lit(1000000.0)
    ag.join(sep, "cell")
      .where(greatest(col("b"), a) > 0)
      .select(col("cell"), col("n").as("n_members"),
        round(a, 6).as("a_intra"),
        round(col("b"), 6).as("b_sep"),
        round((col("b") - a) / greatest(col("b"), a), 4).as("silhouette"))
      .orderBy("cell")
  }

  // ------------------------------------------------------ IVF + SQ8

  private def quantPath(indexPath: String): String = indexPath + "_quant"

  /** IVF index with SQ8 codes alongside the float vectors — the
    * FAISS IVF+ScalarQuantizer layout as a TABLE: partitioned by
    * cell for probe pruning, with a 1-byte-per-dim `code` column so
    * the probe scan reads ~4× fewer bytes and the float `vec` column
    * is only decoded for the shortlist (column pruning keeps it out
    * of the first scan entirely — visible in ReadSchema).
    */
  def ivfSq8BuildIndex(s: SparkSession, emb: DataFrame, path: String,
                       stride: Long = 200): Unit = {
    import s.implicits._
    val (mins, maxs) = Quant.trainMinMax(emb)
    mins.indices.map(i => (i, mins(i), maxs(i))).toDF("dim", "mn", "mx")
      .write.mode("overwrite").parquet(quantPath(path))
    ivfBuild(s, emb, path, stride)((assigned, _) => assigned
      .withColumn("code", graft.functions.Quantize.encode(col("vec"), mins, maxs)))
  }

  /** Probe-pruned quantized search: partition-filtered scan of
    * (id, code) only → code-space L2 shortlist of rerank·k per query
    * → exact float rerank reading `vec` just for the probed cells'
    * shortlist join. Compounds the three scale primitives: partition
    * pruning (IO: skip unprobed cells), SQ8 (bandwidth: 4× smaller
    * probe scan), bounded-heap top-k (shuffle: O(Q·k·partitions)).
    */
  def ivfSq8Search(s: SparkSession, path: String, queries: DataFrame,
                   k: Int, nprobe: Int = 2, rerank: Int = 4): DataFrame = {
    val qp = s.read.parquet(quantPath(path))
      .orderBy("dim").collect()
    val mins = qp.map(_.getDouble(1))
    val maxs = qp.map(_.getDouble(2))
    // the shortlist ranks by code-space COSINE — the same metric the
    // exact rerank uses (an L2 shortlist would cut small-norm but
    // direction-aligned vectors that cosine ranks near)
    ivfCodeSearch(s, path, queries, k, nprobe, rerank, Knn.Metric.Cosine,
      -graft.functions.Quantize.cosine(col("code"), col("qcode"), mins, maxs),
      graft.functions.Quantize.encode(col("qvec"), mins, maxs).as("qcode"))
  }

  def ivfSq8Query(s: SparkSession, dir: String): DataFrame = {
    val path = graft.IndexCache.dirFor(dir, "ivfsq8").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      ivfSq8BuildIndex(s, e, path)
    }
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfSq8Search(s, path, q, k = 10, nprobe = 2)
  }

  // ------------------------------------------------------- IVF + BQ

  private def bqMeansPath(indexPath: String): String = indexPath + "_bqmeans"

  /** IVF index with 1-bit sign codes beside the float vectors — the
    * FAISS binary-IVF layout as a table, the smallest probe scan of
    * the family: 2 longs per row (vs 64 bytes SQ8, 256 bytes float),
    * compared with two xor+popcount ops. Same composition as
    * [[ivfSq8BuildIndex]]: cell partitioning for probe pruning,
    * code column for the cheap shortlist, float column only decoded
    * for the shortlist rerank.
    */
  def ivfBqBuildIndex(s: SparkSession, emb: DataFrame, path: String,
                      stride: Long = 200): Unit = {
    import s.implicits._
    val mus = BinQuant.trainMeans(emb)
    mus.indices.map(i => (i, mus(i))).toDF("dim", "mu")
      .write.mode("overwrite").parquet(bqMeansPath(path))
    ivfBuild(s, emb, path, stride)((assigned, _) => assigned
      .withColumn("code", graft.functions.BinaryQuant.pack(col("vec"), mus)))
  }

  /** Probe-pruned binary search: partition-filtered (id, code) scan
    * → Hamming shortlist of rerank·k per query → exact float cosine
    * rerank reading `vec` only for the probed cells' shortlist.
    * Hamming of mean-centered sign codes approximates angular order
    * (see [[graft.operators.BinQuant]]) — the right proxy for the
    * cosine rerank.
    */
  def ivfBqSearch(s: SparkSession, path: String, queries: DataFrame,
                  k: Int, nprobe: Int = 2, rerank: Int = 4): DataFrame = {
    val mus = s.read.parquet(bqMeansPath(path))
      .orderBy("dim").collect().map(_.getDouble(1))
    ivfCodeSearch(s, path, queries, k, nprobe, rerank, Knn.Metric.Cosine,
      graft.functions.BinaryQuant.hamming(col("code"), col("qcode")).cast("double"),
      graft.functions.BinaryQuant.pack(col("qvec"), mus).as("qcode"))
  }

  def ivfBqQuery(s: SparkSession, dir: String): DataFrame = {
    val path = graft.IndexCache.dirFor(dir, "ivfbq").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      ivfBqBuildIndex(s, e, path)
    }
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfBqSearch(s, path, q, k = 10, nprobe = 2)
  }

  /** Assign arrival rows (id, vec) under an index's STORED centroids
    * — the frozen-quantizer arrival path shared by upsert
    * ([[ivfIndexUpsert]] does this internally) and the streaming
    * SemDeDup maintenance: an arrival must land in the cells the
    * index already has, never silently re-train them.
    */
  def assignUnderStored(s: SparkSession, indexPath: String,
                        rows: DataFrame): DataFrame =
    assignTo(rows, storedCentroids(s, indexPath))

  /** LWW-upsert into a persisted IVF index WITHOUT a full rebuild —
    * the reference's `upsert` (remove-old + insert-new,
    * vector_database.cc:53) against the table-shaped index: only
    * cells that currently hold an updated id or receive a new
    * assignment are rewritten ([[TablePublish.rewrite]]). At 1000
    * cells and a 0.1% daily churn, that is rewriting a handful of
    * partitions instead of re-clustering 100 TB. Uses the STORED
    * centroids (an upsert must not silently re-train the quantizer);
    * periodic re-clustering is a separate full rebuild. Arrivals carry
    * (id, vec, cell) and read NULL in every other column of the index
    * — metadata such as `label`, and a code family's derived column,
    * which [[Pq.ivfPqUpsert]] fills for its own index.
    */
  def ivfIndexUpsert(s: SparkSession, path: String,
                     updates: DataFrame): Unit =
    upsertCells(s, path, updates)(identity)

  /** [[ivfIndexUpsert]] with the family's derived columns added to the
    * arrivals by `derive`.
    */
  private[operators] def upsertCells(s: SparkSession, path: String,
                                     updates: DataFrame)(
      derive: DataFrame => DataFrame): Unit = {
    // LWW WITHIN the batch too: duplicate ids in one updates frame
    // collapse before assignment — by greatest `version` when the
    // batch carries one (the WAL's tiebreak), else to a single
    // arbitrary row (no version ⇒ no defined winner; the contract is
    // only that exactly one survives).
    val onePerId =
      if (updates.columns.contains("version"))
        updates.groupBy("id")
          .agg(max_by(col("vec"), col("version")).as("vec"))
      else updates.dropDuplicates("id")
    val cents = storedCentroids(s, path)
    val arrivals = derive(assignTo(onePerId.select("id", "vec"), cents))
    val ids = broadcast(arrivals.select("id"))
    // cells holding an old version of an updated id — a column-pruned
    // (id, cell) scan, no vectors read — and the arrivals' cells
    val touched = cellsOf(s.read.parquet(path).join(ids, "id")
      .select(col("cell").cast("long")).unionByName(arrivals.select("cell")), cents.length)
    TablePublish.rewrite(s, path, "cell", touched, Some(arrivals))(
      _.join(ids, Seq("id"), "left_anti"))
  }

  /** DELETE ids from a persisted IVF index without a rebuild — the
    * tombstone surface the reference never grew (no delete endpoint
    * in http_server.cc; FaissIndex::remove_vectors exists only as
    * upsert's remove-old step). Only the cells that HOLD a deleted id
    * are rewritten ([[TablePublish.rewrite]]); cells the deletion
    * empties are removed entirely. The touched set comes from a
    * column-pruned (id, cell) scan — no vectors read — and the rewrite
    * is bounded by churn locality, never index size. Centroids are
    * untouched (deletion must not silently re-train the quantizer any
    * more than upsert may).
    */
  def ivfIndexDelete(s: SparkSession, path: String,
                     ids: DataFrame): Unit =
    deleteCells(s, path, ids, storedCentroids(s, path).length)

  /** [[ivfIndexDelete]] for a caller that holds the stored cell count. */
  private def deleteCells(s: SparkSession, path: String, ids: DataFrame,
                          ncells: Int): Unit = {
    val delIds = broadcast(ids.select("id").distinct())
    val touched = cellsOf(s.read.parquet(path).join(delIds, "id"), ncells)
    // empty: nothing referenced the index
    if (touched.nonEmpty)
      TablePublish.rewrite(s, path, "cell", touched)(_.join(delIds, Seq("id"), "left_anti"))
  }

  /** The distinct cells of `rows` on the driver, bounded by the index's
    * stored cell count `ncells`: at most one per partition of the
    * index, which holds one per stored centroid.
    */
  private def cellsOf(rows: DataFrame, ncells: Int): Array[Long] =
    graft.Cut.request(rows.select(col("cell").cast("long")).distinct(), ncells,
      "the stored cell count", "touched cell set").map(_.getLong(0))

  /** Repair an index left inconsistent by a crash inside a
    * [[TablePublish.publish]] window: any id present in more than one
    * cell keeps only its most recently WRITTEN copy, every column of
    * it (the overwrite's files postdate the stale cell's —
    * discriminated by `_metadata.file_modification_time`, no content
    * comparison), and cells emptied by discarding stale copies are
    * deleted. Such a crash leaves a moved-away id present in both its
    * old (stale, emptied-but-undeleted) cell and its new cell, and
    * readers see duplicate ids until this runs — so "run repair after
    * any interrupted maintenance op" is the recovery story (the
    * reference replays its WAL from the last snapshot on the same
    * reasoning — persistence.cc recovery). Idempotent: a repaired
    * index has no duplicate ids, so a second run touches nothing; a
    * crash inside repair itself is recovered by re-running repair.
    */
  def ivfIndexRepair(s: SparkSession, path: String): Unit = {
    val idx = s.read.parquet(path)
    // duplicate ids via a column-pruned (id, cell) pass
    val dupIds = idx.groupBy("id")
      .agg(count(lit(1)).as("n")).where(col("n") > 1).select("id")
    val touched = cellsOf(idx.join(broadcast(dupIds), "id"),
      storedCentroids(s, path).length)
    // per dup id keep the max-mtime copy; ids unique in the index pass
    // through the same aggregate unchanged (their single row is its
    // own max) — one groupBy over only the touched cells' rows
    if (touched.nonEmpty) TablePublish.rewrite(s, path, "cell", touched) { rows =>
      val rest = rows.columns.filter(_ != "id")
      rows.groupBy("id")
        .agg(max_by(struct(rest.map(col): _*),
          col("_metadata.file_modification_time")).as("r"))
        .select(col("id") +: rest.map(c => col("r." + c).as(c)): _*)
    }
  }

  /** Compact fragmented cells: every [[ivfIndexUpsert]] appends new
    * files to the cells it touches (dynamic overwrite writes one file
    * per task per cell), so a churn-heavy index accumulates small
    * files and probe scans pay per-file open/footer costs. Cells
    * holding more than `maxFilesPerCell` data files are rewritten
    * through [[TablePublish.compact]] — content-identical, every
    * column kept, one file per compacted cell. Untouched cells keep
    * their files; same crash window + repair story. The driver-side
    * listing is O(cells + files): fine at the thousands of coarse
    * cells an IVF index holds (ncells ~ √corpus is the usual sizing).
    */
  def ivfCompact(s: SparkSession, path: String,
                 maxFilesPerCell: Int = 1): Unit =
    TablePublish.compact(s, path, "cell", maxFilesPerCell)

  /** Per-cell index statistics as a relational plan — the
    * observability surface that drives maintenance: `n_rows` shows
    * cell balance (skewed cells → recluster), `n_files` shows
    * fragmentation (the [[ivfCompact]] trigger). One column-pruned
    * scan (the cell partition value plus file-path metadata — the
    * vector bytes are never read) with partial aggregation, so the
    * report stays metadata-weight at any index size; the driver-side
    * listing inside ivfCompact is its O(cells) trigger twin.
    */
  def ivfIndexStats(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .select(col("cell").cast("long").as("cell"),
        col("_metadata.file_path").as("f"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("f")).as("n_files"))
      .orderBy("cell")

  /** Periodic re-clustering: retrain centroids on the CURRENT corpus
    * and build a fresh index at `newPath`, reading the rows out of
    * the old index with every column but the cell. Upserts never retrain (the quantizer must stay
    * fixed between rebuilds — drifted data degrades recall, it never
    * corrupts results), so this is the maintenance op that restores
    * cell balance after sustained churn. Builds BESIDE the old index
    * — the old path stays fully queryable — because an in-place
    * rebuild of 100 TB would either double-buffer the whole corpus in
    * memory or read files mid-overwrite. The atomic switch to the new
    * index is the MANIFEST's job: see [[ivfReclusterPublish]].
    */
  def ivfRecluster(s: SparkSession, path: String, newPath: String,
                   stride: Long = 200): Unit = {
    require(newPath != path, "recluster builds beside the old index")
    ivfBuildIndex(s, s.read.parquet(path).drop("cell"), newPath, stride)
  }

  // ------------------------------------------------------ index manifest

  /** The manifest pointer under a versioned index root — the
    * reference's `lastSnapshotID` persisted to `snapshots_MaxLogID`
    * (reference persistence.cc:140,156-158): readers resolve the
    * CURRENT index through one small pointer object instead of
    * hard-coding a path, and maintenance publishes a rebuilt index by
    * flipping that pointer, never by mutating the live directory.
    * Layout: `root/v<N>/` version directories + `root/_current`
    * holding the live version's name.
    */
  // Pointer mechanics now live in [[Manifest]] (shared with the BM25
  // postings index — the contract is index-type-agnostic); these
  // remain the IVF-named surface AnnSpec and operators pin.
  def ivfPublish(s: SparkSession, root: String, version: String): Unit =
    Manifest.publish(s, root, version)

  def ivfCurrent(s: SparkSession, root: String): Option[String] =
    Manifest.current(s, root)

  /** Absolute path of the live index under `root`. */
  def ivfResolve(s: SparkSession, root: String): String =
    Manifest.resolve(s, root)

  private def nextVersion(s: SparkSession, root: String): String =
    Manifest.nextVersion(s, root)

  /** First build under a versioned root: build v1 beside nothing,
    * publish the pointer last. Returns the live version's path.
    */
  def ivfBuildPublished(s: SparkSession, emb: DataFrame, root: String,
                        stride: Long = 200): String = {
    val next = nextVersion(s, root)
    val path = new org.apache.hadoop.fs.Path(root, next).toString
    ivfBuildIndex(s, emb, path, stride)
    ivfPublish(s, root, next)
    path
  }

  /** Recluster THROUGH the manifest: retrain beside the live version
    * at `v<n+1>`, then flip the pointer. The old version serves every
    * read issued before the flip and stays on disk after it (GC of
    * superseded versions is a separate retention decision); a crash
    * anywhere before the final rename leaves the old index live and
    * the half-built version invisible — re-running is safe because
    * the build writes mode=overwrite into its own version directory.
    */
  def ivfReclusterPublish(s: SparkSession, root: String,
                          stride: Long = 200): String = {
    val cur = ivfResolve(s, root)
    val next = nextVersion(s, root)
    val nextPath = new org.apache.hadoop.fs.Path(root, next).toString
    ivfRecluster(s, cur, nextPath, stride)
    ivfPublish(s, root, next)
    nextPath
  }

  /** Retention for superseded versions under a manifest root: keep
    * the live version (always) plus the `keep` highest-numbered
    * versions; delete the rest with their sidecar directories
    * (`v<N>_centroids` / `_quant` / `_pq`). The pointer is read
    * FIRST, so the live index is never deleted even if a publish
    * races this; a crash mid-GC leaves some garbage directories that
    * the next run removes — idempotent, like ivfIndexRepair. Returns
    * the deleted directory names.
    */
  def ivfGcVersions(s: SparkSession, root: String,
                    keep: Int = 1): Seq[String] =
    Manifest.gcVersions(s, root, keep)

  /** Search the live version under a versioned root — the reader-side
    * half of the manifest contract.
    */
  def ivfSearchCurrent(s: SparkSession, root: String, queries: DataFrame,
                       k: Int, nprobe: Int = 2): DataFrame =
    ivfSearchIndexed(s, ivfResolve(s, root), queries, k, nprobe)

  /** Persisted-index twin of [[ivfQuery]] (same stride/k/nprobe, so
    * AnnSpec can assert result equality); index built once per sf dir
    * under the IndexCache root.
    */
  private def indexedPath(s: SparkSession, dir: String): String = {
    val path = graft.IndexCache.dirFor(dir, "ivfidx").toString
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      // label rides into the index (assignTo passes it through) so
      // the filtered variant can predicate on it; unfiltered readers
      // prune it at the scan
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label"))
      ivfBuildIndex(s, e, path)
    }
    path
  }

  // ----------------------------------------------------- multitenancy

  /** MULTITENANT LAYOUT + SEARCH (r13 — the multitenancy page every
    * production vector store ships: Qdrant's payload-partitioned
    * collections, "one collection, tenant-keyed partitions" over
    * "a collection per tenant"): the corpus persists PARTITIONED BY
    * TENANT, and a search batch scopes each request to its own
    * tenant — the batch's present tenants (a request-sized job)
    * become literal partition filters, so a tenant's search reads
    * ONLY that tenant's directories however many tenants share the
    * collection (the isolation AND the cost model: tenant cost ∝
    * tenant size, not collection size). Scoping rides the same
    * tenant-equality join predicate that scoped the scan, so a row
    * can never leak across tenants even if pruning were disabled —
    * AnnSpec pins both the pruning and the leak-freedom.
    */
  def tenantBuildIndex(s: SparkSession, emb: DataFrame,
                       path: String): Unit =
    emb.write.mode("overwrite").partitionBy("tenant").parquet(path)

  /** @param queries (qid, qvec, tenant) — each request searches its
    *                own tenant only; cosine ranking, k per request
    */
  def tenantSearch(s: SparkSession, path: String, queries: DataFrame,
                   k: Int): DataFrame = {
    val tenants = queries.select("tenant").distinct()
      .collect().map(_.getLong(0))
    val data = s.read.parquet(path)
      .where(col("tenant").isin(tenants.toIndexedSeq: _*))
    val q = broadcast(queries.select(col("qid"), col("qvec"),
      col("tenant"),
      sqrt(VectorDistance.dot(col("qvec"), col("qvec"))).as("_qn")))
    val d = data.select(col("id"), col("vec"), col("tenant"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    val denom = col("_n") * col("_qn")
    val score = when(denom === 0.0, lit(null).cast("double"))
      .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom)
    val scored = d.join(q, "tenant")
      .select(col("qid"), (-score).as("key"), col("id"))
      .where(col("key").isNotNull)
    topKPerQuery(scored, k)
  }

  private def tenantPath(s: SparkSession, dir: String): String =
    graft.IndexCache.dirFor(dir, "tenantidx").toString

  /** Surface query: tenant = label mod 4; six requests, each scoped
    * to its id-mod-4 tenant.
    */
  def tenantQuery(s: SparkSession, dir: String): DataFrame = {
    val path = tenantPath(s, dir)
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS"))) {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          (col("label").cast("long") % 4).as("tenant"))
      tenantBuildIndex(s, e, path)
    }
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        (col("vec_id") % 4).as("tenant"))
    tenantSearch(s, path, q, k = 10)
  }

  def ivfIndexedQuery(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfSearchIndexed(s, indexedPath(s, dir), q, k = 10, nprobe = 2)
  }

  /** RANGE SEARCH THROUGH THE INDEX — FAISS's `range_search` on the
    * IVF layout (the flat `vdb_range_search` touches the whole
    * corpus; this probes): all neighbors at cosine ≥ threshold among
    * the probed cells' members. Same partition-pruned scan as
    * [[ivfSearchIndexed]], but the selection is a map-side threshold
    * filter inside the scan's codegen stage — no heap, no per-query
    * state, output ∝ matches. Carries FAISS's recall caveat: a
    * neighbor in an unprobed cell is missed (nprobe buys recall), so
    * result ⊆ the flat range search — pinned in AnnSpec.
    */
  def ivfRangeSearchIndexed(s: SparkSession, path: String,
                            queries: DataFrame, threshold: Double,
                            nprobe: Int = 2): DataFrame = {
    val (probes, pruned) = ivfProbe(s, path, queries, nprobe, col("qvec"))
    pruned.join(broadcast(probes), "cell")
      .select(col("qid"), col("id").as("nn_id"),
        VectorDistance.cosine(col("vec"), col("qvec")).as("s"))
      .where(col("s").isNotNull && col("s") >= threshold)
      .select(col("qid"), col("nn_id"), round(col("s"), 4).as("score"))
      .orderBy("qid", "nn_id")
  }

  def ivfRangeQuery(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfRangeSearchIndexed(s, indexedPath(s, dir), q, threshold = 0.25)
  }

  /** Recall@k of the approximate IVF path against the exact kNN —
    * the evaluation harness AS a query: the go/no-go report an
    * operator reads before trading exactness for probe pruning
    * (every ANN system publishes this curve; here it is one oracled
    * plan). Both legs are deterministic, so even the recall numbers
    * hash-match the DuckDB mirror; the semi-join and count run over
    * Q×k rows — evaluation cost is query-sized, the corpus is
    * touched only by the two searches themselves.
    */
  def ivfRecallReport(s: SparkSession, dir: String): DataFrame =
    recallReport(s, dir, ivfQuery(s, dir), k = 10)

  /** Same report for the sign-LSH path — probe-set pruning (IVF) and
    * bucket-overlap pruning (LSH) trade recall differently; the pair
    * of reports is the apples-to-apples comparison.
    *
    * Both reports take no k: it is pinned to the 10 the surface
    * queries (ivfQuery/lshQuery) return — a caller-supplied k would
    * silently disagree with the approximate leg's depth.
    */
  def lshRecallReport(s: SparkSession, dir: String): DataFrame =
    recallReport(s, dir, lshQuery(s, dir), k = 10)

  /** Same report for the hierarchical graph path — completes the
    * recall-report trio (IVF probe pruning / LSH bucket pruning /
    * graph traversal pruning each trade recall differently).
    */
  def hnswRecallReport(s: SparkSession, dir: String): DataFrame =
    recallReport(s, dir, hnswQuery(s, dir), k = 10)

  /** EMBEDDING NORM AUDIT — the one-row data-quality gate an
    * embedding pipeline runs before indexing: count, min/max/mean
    * L2 norm, and the number of (near-)zero vectors (which break
    * cosine and collapse to noise under every quantizer). Norms are
    * 4dp-quantized to integer micro-units before the corpus
    * aggregate (fold-order-proof); one projection, one 1-row agg.
    */
  def embedNormAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("embedding").cast("array<double>").as("vd"))
    val micro = expr("CAST(round(sqrt(aggregate(zip_with(vd, vd, " +
      "(x, y) -> x * y), 0D, (acc, x) -> acc + x)) * 10000) AS BIGINT)")
    e.select(micro.as("m"))
      .agg(count(lit(1)).as("n_vecs"),
        min("m").as("mnm"), max("m").as("mxm"), sum("m").as("sm"),
        sum(when(col("m") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .select(col("n_vecs"),
        round(col("mnm").cast("double") / 10000.0, 4).as("min_norm"),
        round(col("mxm").cast("double") / 10000.0, 4).as("max_norm"),
        round(col("sm").cast("double") / col("n_vecs") / 10000.0, 6)
          .as("avg_norm"),
        col("n_zero"))
  }

  /** PER-DIMENSION VARIANCE report — the dead-dimension detector
    * that pairs with [[embedNormAudit]] (norms say the vectors are
    * alive; this says WHICH axes are): per dim, mean and variance
    * from exact integer micro moments (n, Σx, Σx² — the
    * events_ab_test rule applied per dimension), plus a dead flag at
    * variance < 1e-6 (a collapsed axis wastes quantizer budget and
    * adds nothing to any distance). One posexplode pass, 64-row
    * aggregate.
    *
    * Overflow headroom: with |e| ≤ ~1 the micro moment m is ≤ 10⁴,
    * so qx ≤ n·10⁸ and the numerator n·qx reaches n²·10⁸ — a BIGINT
    * would wrap silently past n ≈ 3·10⁵ vectors (Spark wraps where
    * DuckDB's HUGEINT keeps going, diverging exactly where the
    * micro-moment discipline promises bit-equality). The numerator
    * therefore rides DecimalType(38,0) (exact to 10³⁸, i.e. n up to
    * ~10¹⁵) and only the final ratio drops to double — mirroring the
    * oracle's HUGEINT-then-CAST path.
    */
  def dimVariance(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val num = col("n").cast(dec) * col("qx").cast(dec) -
      col("sx").cast(dec) * col("sx").cast(dec)
    Tables.embeddings(s, dir)
      .select(posexplode(expr(
        "transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) " +
          "* 10000) AS BIGINT))")).as(Seq("dim", "m")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("m").as("sx"),
        sum(expr("m * m")).as("qx"))
      .select(col("dim").cast("long").as("dim"),
        round(col("sx").cast("double") / col("n") / lit(10000.0), 4)
          .as("mean"),
        round(num.cast("double")
          / (col("n") * (col("n") - 1)).cast("double")
          / lit(100000000.0), 6).as("variance"),
        (num.cast("double")
          / (col("n") * (col("n") - 1)).cast("double")
          / lit(100000000.0) < lit(1e-6)).as("is_dead"))
      .orderBy("dim")
  }

  /** RECALL-vs-PREFIX-DIMS CURVE for matryoshka embeddings — the MRL
    * tuning table ([[graft.operators.Knn.mrlSearch]]'s knob): per
    * prefix width 4/8/16/32, recall@10 of the PURE-PREFIX cosine
    * ranking (no rerank — the curve isolates what the truncated
    * representation alone retains) against the full-dim exact scan.
    * The ivfRecallCurve discipline verbatim: legs unioned with a
    * literal width column, zero-hit widths kept by the left join
    * (the r9 advice fix), evaluation joins Q×k-sized.
    */
  def mrlRecallCurve(s: SparkSession, dir: String, k: Int = 10,
                     dims: Seq[Int] = Seq(4, 8, 16, 32)): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Knn.topK(e, q, k, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id")).localCheckpoint(true)
    val legs = dims.map { d =>
      Knn.topK(
          e.select(col("id"), slice(col("vec"), 1, d).as("vec")),
          q.select(col("qid"), slice(col("qvec"), 1, d).as("qvec")),
          k, Knn.Metric.Cosine)
        .select(lit(d.toLong).as("prefix_dims"), col("qid"), col("nn_id"))
    }.reduce(_ unionByName _)
    val hits = legs.join(exact, Seq("qid", "nn_id"), "left_semi")
      .groupBy("prefix_dims").agg(count(lit(1)).as("n_hits"))
    val den = exact.agg(count(lit(1)).as("denom"))
    dims.map(_.toLong).toDF("prefix_dims")
      .join(hits, Seq("prefix_dims"), "left")
      .crossJoin(broadcast(den))
      .select(col("prefix_dims"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("denom"), 4).as("recall"))
      .orderBy("prefix_dims")
  }

  /** EMBEDDING-SPACE DRIFT between ingest waves — the vector twin of
    * the scalar PSI monitor (corpus_drift_psi): both waves assigned
    * to the SHARED IVF quantizer's cells (the reference model — at
    * scale, the persisted index's centroids), PSI over the cell
    * occupancy distributions with +1 smoothing. A high value means
    * the new wave lands in different regions of embedding space than
    * the old — re-train the quantizer / re-balance the index before
    * recall quietly degrades. Per-cell terms are micro-unit-rounded
    * BIGINTs before the final sum (order-free — the driftPsi
    * discipline), so the one output row is exact-compare-stable.
    */
  def embedDriftPsi(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = cachedCentroids(s, dir)
    val cells = assignTo(e, cents)
      .select(col("cell"), (col("id") % 2 === 0).as("ha"))
      .groupBy("cell")
      .agg(sum(when(col("ha"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("ha"), 1L).otherwise(0L)).as("cb"))
    val tot = cells.agg(sum("ca").as("ta"), sum("cb").as("tb"),
      count(lit(1)).as("nc"))
    cells.crossJoin(broadcast(tot))
      .select(col("ta"), col("tb"), col("nc"),
        // PURE-DOUBLE term (r13, fuzz seed 707): `* 1.0 /` made this
        // DECIMAL arithmetic in Spark — a coarser value than the
        // oracle's double division (DuckDB promotes the quotient to
        // DOUBLE), and the ~1e-2 gap flipped the micro-round when a
        // term landed near .5 (y 2652.4934 vs 2652.5014). Explicit
        // DOUBLE casts reproduce the oracle's IEEE ops bit-for-bit,
        // ln included (verified on the planted cells).
        expr("CAST(round((CAST(ca + 1 AS DOUBLE) / CAST(ta + nc AS DOUBLE) " +
          "- CAST(cb + 1 AS DOUBLE) / CAST(tb + nc AS DOUBLE)) " +
          "* ln((CAST(ca + 1 AS DOUBLE) / CAST(ta + nc AS DOUBLE)) " +
          "/ (CAST(cb + 1 AS DOUBLE) / CAST(tb + nc AS DOUBLE))) " +
          "* CAST(1000000 AS DOUBLE)) AS BIGINT)")
          .as("tm"))
      .agg(max("ta").as("n_a"), max("tb").as("n_b"),
        max("nc").as("n_cells"),
        // exact integer half-up at 4dp (r13, fuzz seed 707: the
        // micro-sum hit S = 3950 → 0.003950 exactly, where the two
        // engines' double-path roundings split 0.0039 / 0.0040; PSI
        // terms are ≥ 0 so the floor form IS half-up)
        expr("CAST((sum(tm) * 20000 + 1000000) div 2000000 AS DOUBLE)" +
          " / 10000.0").as("psi"))
  }

  /** RECALL-vs-NPROBE CURVE — the tuning table every ANN deployment
    * publishes before picking its operating point: one row per probe
    * width, overall recall@k against the exact scan. All legs share
    * the cached trained centroids, so the curve isolates the probe
    * width (the one knob) from training noise; evaluation joins are
    * Q×k-sized — the corpus is touched only by the searches.
    */
  def ivfRecallCurve(s: SparkSession, dir: String,
                     nprobes: Seq[Int] = Seq(1, 2, 3, 4),
                     k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cents = cachedCentroids(s, dir)
    val exact = Knn.topK(e, q, k, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id"))
    val legs = nprobes.map { np =>
      ivfSearchWith(e, q, k, np, cents)
        .select(col("qid"), col("nn_id"))
        .withColumn("nprobe", lit(np.toLong))
    }.reduce(_ unionByName _)
    val denom = (k * q.count()).toDouble
    // One row per requested width even at zero recall: a left join
    // against the literal nprobe list (the oracle's per-width UNION
    // ALL always emits a row; a semi-then-group would drop the group).
    import s.implicits._
    val widths = nprobes.map(_.toLong).toDF("nprobe")
    val hits = legs.join(exact, Seq("qid", "nn_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("h"))
    widths.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double") / lit(denom), 4)
          .as("recall"))
      .orderBy("nprobe")
  }

  /** COST/RECALL FRONTIER — the operating-point table an ANN
    * deployment actually tunes with: [[ivfRecallCurve]] says what
    * each probe width BUYS (recall), this adds what it COSTS
    * (candidate rows scanned — the probe's IO/arithmetic, summed
    * from the probed cells' sizes). One row per width: recall@10,
    * total candidates, candidates/query. The cell-size table comes
    * from the assignment (cells-sized, broadcast); evaluation joins
    * stay Q×k-sized; the corpus is touched by the searches only.
    */
  def ivfParetoTuning(s: SparkSession, dir: String,
                      nprobes: Seq[Int] = Seq(1, 2, 3, 4),
                      k: Int = 10): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nq = q.count()
    val cents = cachedCentroids(s, dir)
    val csize = broadcast(assignTo(e, cents)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("csz")))
    // ranked probe cells once at max width; width w's cells = rank ≤ w
    val ranked = q.select(col("qid"),
        posexplode(centroidTopM(col("qvec"), cents, nprobes.max)))
      .select(col("qid"), (col("pos") + 1).as("rnk"),
        col("col.cell").as("cell"))
      .join(csize, "cell")
      .localCheckpoint(true)
    val exact = Knn.topK(e, q, k, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id"))
      .localCheckpoint(true)
    // ONE probe pass serves every width (r16; was one ivfSearchWith
    // corpus-probe pass PER width — 4 probe scans, 76 exchanges).
    // Probe sets are NESTED (centroidTopM is a deterministic full
    // sort, so width w's cells are exactly the rank-≤w prefix of the
    // max-width ranking): score each candidate once at max width
    // carrying its cell rank, charge the row to every width ≥ its
    // rank (a lambda filter over the literal width list), and run the
    // same TopK heap per (width, qid). Per-width candidate multisets,
    // scores, and heap tie-breaks are identical to the per-width
    // ivfSearchWith legs by construction; the oracle pins the rest.
    val probesMax = q.select(col("qid"), col("qvec"),
        posexplode(centroidTopM(col("qvec"), cents, nprobes.max)))
      .select(col("qid"), col("qvec"), (col("pos") + 1).as("rnk"),
        col("col.cell").as("cell"))
    val scoredAll = assignTo(e, cents).join(probesMax, "cell")
      .select(col("qid"), col("rnk"),
        (-VectorDistance.cosine(col("vec"), col("qvec"))).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    val widthList = nprobes.mkString(",")
    val agg = TopKAgg.topK(k)
    val perWidth = scoredAll
      .select(col("qid"), col("key"), col("id"),
        explode(expr(
          s"filter(array($widthList), w -> w >= rnk)")).as("np"))
      .groupBy("np", "qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("np").cast("long").as("nprobe"), col("qid"),
        explode(expr("transform(top.items, x -> x.id)")).as("nn_id"))
    val hitsAll = perWidth
      .join(exact, Seq("qid", "nn_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("h"))
    val costAll = ranked
      .select(col("csz"),
        explode(expr(
          s"filter(array($widthList), w -> w >= rnk)")).as("np"))
      .groupBy(col("np").cast("long").as("nprobe"))
      .agg(sum("csz").as("nc"))
    val rows = hitsAll.join(costAll, Seq("nprobe"), "full_outer")
    nprobes.map(_.toLong).toDF("nprobe").join(rows, Seq("nprobe"), "left")
      .select(col("nprobe"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double")
          / (lit(k) * lit(nq)).cast("double"), 4).as("recall"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        round(coalesce(col("nc"), lit(0L)).cast("double")
          / lit(nq).cast("double"), 4).as("cand_per_query"))
      .orderBy("nprobe")
  }

  /** RECALL@K CURVE — the cutoff-depth companion of
    * [[ivfRecallCurve]]'s probe-width curve: one row per k in
    * {1, 5, 10}, overall recall of the IVF path's top-k against the
    * exact top-k at the SAME k (recall@1 asks "is the single nearest
    * neighbor found", the metric that gates point-lookup use).
    * Both ranked lists are computed ONCE at max k and checkpointed
    * (Q×k rows); each curve point is a rank-filtered semi-join —
    * evaluation cost is query-sized, the corpus is touched only by
    * the two searches.
    */
  def ivfRecallAtK(s: SparkSession, dir: String,
                   ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nq = q.count()
    val cents = cachedCentroids(s, dir)
    val kmax = ks.max
    val approx = ivfSearchWith(e, q, kmax, 2, cents)
      .select(col("qid"), col("rk"), col("nn_id"))
      .localCheckpoint(true)
    val exact = Knn.topK(e, q, kmax, Knn.Metric.Cosine)
      .select(col("qid"), col("rk").as("xrk"), col("nn_id"))
      .localCheckpoint(true)
    val hits = ks.map { k =>
      approx.where(col("rk") <= k)
        .join(exact.where(col("xrk") <= k).select("qid", "nn_id"),
          Seq("qid", "nn_id"), "left_semi")
        .agg(count(lit(1)).as("h"))
        .select(lit(k.toLong).as("k"), col("h"))
    }.reduce(_ unionByName _)
    // the literal k list anchors zero-recall rows (the recall-curve
    // zero-hit rule)
    ks.map(_.toLong).toDF("k").join(hits, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)).cast("double")
          / (col("k") * lit(nq)).cast("double"), 4).as("recall"))
      .orderBy("k")
  }

  private def recallReport(s: SparkSession, dir: String,
                           approxResult: DataFrame, k: Int): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Knn.topK(e, q, k, Knn.Metric.Cosine)
      .select(col("qid"), col("nn_id"))
    approxResult.select(col("qid"), col("nn_id"))
      .join(exact, Seq("qid", "nn_id"), "left_semi")
      .groupBy("qid")
      .agg(count(lit(1)).as("hits"))
      .select(col("qid"), col("hits"),
        round(col("hits").cast("double") / lit(k.toDouble), 4)
          .as("recall"))
      .orderBy("qid")
  }

  /** Filtered search on the indexed approximate path — the
    * reference's filtered HNSW search as partition pruning composed
    * with a scan-pushed predicate.
    */
  def ivfIndexedFilteredQuery(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ivfSearchIndexed(s, indexedPath(s, dir), q, k = 10, nprobe = 2,
      filter = Some(col("label").between(2, 6)))
  }

  // ------------------------------------------- adaptive filtered search

  /** ADAPTIVE filtered search — the pre/post-filter PLANNING decision
    * every production vector store makes (Qdrant/Weaviate/Milvus all
    * ship a selectivity-based switch; the reference always
    * bitmap-prefilters, filter_index.cc:62, which is only the right
    * call when the filter is selective):
    *
    *  - SELECTIVE predicate → exact brute force over the matching
    *    rows only ("prefilter_exact"): the match set is small, so
    *    scanning it exactly is cheaper than probing — and recall is
    *    perfect, where filtered-ANN might fill < k from probed cells;
    *  - BROAD predicate → the filtered-IVF path ("ivf_filtered"):
    *    partition-pruned probes with the predicate pushed into the
    *    probe scan — brute force over a near-full corpus is exactly
    *    what the index exists to avoid.
    *
    * The decision inputs come from STATISTICS, never a corpus scan:
    * the exact total is read from the build-time planner sidecar
    * ([[writePlanStats]] — 1 meta row), and the predicate's match
    * count is estimated by evaluating it over the sidecar's
    * deterministic md5-hash sample (≈ corpus/[[planSampleMod]]
    * metadata-only rows) and scaling up, floored at 1 (no predicate
    * estimates to exactly zero — the standard planner convention,
    * and what keeps a forced-selFactor flip well-defined). At 100 TB
    * the planning step reads kilobytes; the previous form paid two
    * full-corpus jobs, which costs more than either branch. The
    * sample is md5-keyed so it cannot alias against value or modulo
    * predicates, and it is bit-identical in DuckDB — the WHOLE
    * PLANNER stays oracle-mirrorable: the oracle computes the same
    * estimate and gates the same two branch CTEs. Threshold:
    * selective iff `est · selFactor < total`. A pre-sidecar index
    * gets ANALYZE-on-demand: one metadata-weight scan builds the
    * sidecar, then planning is sidecar-only forever.
    *
    * `pred` may reference only metadata columns (id, label, …) —
    * the sample drops vectors.
    */
  def adaptiveFilteredSearch(s: SparkSession, path: String,
                             queries: DataFrame, k: Int,
                             pred: org.apache.spark.sql.Column,
                             nprobe: Int = 2,
                             selFactor: Long = 10): (String, DataFrame) = {
    val metaPath = path + "_planstats_meta"
    val fs = new org.apache.hadoop.fs.Path(metaPath)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(metaPath, "_SUCCESS"))) {
      // ANALYZE on demand for indexes built before the sidecar
      // existed: one metadata-weight scan of the index, persisted so
      // every later plan is stats-only
      writePlanStats(s, s.read.parquet(path), path)
    }
    val meta = s.read.parquet(metaPath).collect()(0)
    val total = meta.getAs[Long]("total")
    val mod = meta.getAs[Long]("sample_mod")
    val est = math.max(
      s.read.parquet(planStatsPath(path)).where(pred).count() * mod, 1L)
    if (est * selFactor < total) {
      val data = s.read.parquet(path).where(pred).select("id", "vec")
      ("prefilter_exact", Knn.topK(data, queries, k, Knn.Metric.Cosine))
    } else
      ("ivf_filtered",
        ivfSearchIndexed(s, path, queries, k, nprobe, Some(pred)))
  }

  /** Surface query: one narrow predicate (label=5 ∧ id≡0 mod 4,
    * ~2.5% — takes the exact prefilter branch) and one broad
    * (label∈[2,6], ~50% — takes the filtered-IVF branch), tagged
    * with the strategy the planner chose.
    */
  def adaptiveFilterQuery(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val path = indexedPath(s, dir)
    val (st1, r1) = adaptiveFilteredSearch(s, path, q, 10,
      col("label") === 5 && col("id") % 4 === 0)
    val (st2, r2) = adaptiveFilteredSearch(s, path, q, 10,
      col("label").between(2, 6))
    r1.select(lit("narrow").as("pred"), lit(st1).as("strategy"),
        col("qid"), col("rk"), col("nn_id"), col("score"))
      .unionByName(r2.select(lit("broad").as("pred"), lit(st2).as("strategy"),
        col("qid"), col("rk"), col("nn_id"), col("score")))
      .orderBy("pred", "qid", "rk")
  }

  /** EMBEDDING OUTLIERS — the mislabeled/noise-vector report a
    * curation pass runs before training: per IVF cell, each member's
    * cosine-to-centroid z-score, worst [[Knn]] 20 corpus-wide.
    *
    * Bit-deterministic by construction: the cosine is quantized to
    * integer micro-units (the [[clusterStats]] discipline), per-cell
    * (n, Σx, Σx²) are exact BIGINTs, and
    * z = (x·n − S) / sqrt(n·Q − S²) evaluates on those integers —
    * identical doubles on both engines, so even the global top-20
    * cut is tie-stable. Cells of one member (no variance) are
    * excluded on the exact integer guard. Plan shape: one corpus
    * scan → cell-keyed aggregate → broadcast-back join → global
    * TakeOrdered(20) — no full sort materializes.
    */
  def embedOutliers(s: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = cachedCentroids(s, dir)
    val centsDf = cents.toSeq.toDF("cell", "cvec")
    val base = assignTo(e, cents)
      .join(broadcast(centsDf), "cell")
      .select(col("id"), col("cell"),
        VectorDistance.cosine(col("vec"), col("cvec")).as("cos"))
      .withColumn("micro", expr("cast(round(cos * 10000) as bigint)"))
    val stats = base.groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("micro").as("sm"),
        sum(col("micro") * col("micro")).as("q"))
    base.join(stats, "cell")
      // a degenerate (zero-norm) vector has no cosine and therefore
      // no outlier score: its NULL micro must not ride a NULLS-FIRST
      // ascending sort into the report (r12 fuzz); both engines rank
      // only real-cosine rows
      .where(col("micro").isNotNull && col("n") > 1 &&
        col("n") * col("q") - col("sm") * col("sm") > 0)
      .withColumn("z",
        (col("micro") * col("n") - col("sm")).cast("double")
          / sqrt((col("n") * col("q") - col("sm") * col("sm"))
            .cast("double")))
      .select(col("id"), col("cell"),
        round(col("micro") / 10000.0, 4).as("cos"),
        round(col("z"), 4).as("z"))
      .orderBy(col("z"), col("id"))
      .limit(topN)
  }

  // ------------------------------------------------- ranking evaluation

  /** nDCG@10 of the IVF probe path against exact cosine ground truth
    * — the GRADED companion to [[ivfRecallReport]]: recall treats
    * rank 1 and rank 10 alike, nDCG charges an approximate index for
    * returning the right neighbors in the wrong order. Relevance of
    * the exact rank-r neighbor is (11−r); DCG discounts by
    * log2(rank+1) over the system's own ordering; a system hit
    * outside the exact top-10 contributes 0.
    *
    * Both legs are the already-bounded search outputs (Q×k rows), so
    * the whole report is joins and aggregates on query-batch-sized
    * frames — evaluation never rescans the corpus beyond the two
    * searches themselves.
    */
  def ndcgReport(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Knn.topK(e, q, 10, Knn.Metric.Cosine)
      .select(col("qid"), col("rk"), col("nn_id"),
        (lit(11L) - col("rk")).as("rel"))
    val idcg = exact.groupBy("qid")
      .agg(sum(col("rel").cast("double") / log2(col("rk") + 1))
        .as("idcg"))
    val dcg = ivfQuery(s, dir).select(col("qid"), col("rk"), col("nn_id"))
      .join(exact.select("qid", "nn_id", "rel"), Seq("qid", "nn_id"),
        "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("rel"), lit(0L)).cast("double")
        / log2(col("rk") + 1)).as("dcg"))
    dcg.join(idcg, "qid")
      .select(col("qid"), round(col("dcg"), 4).as("dcg"),
        round(col("idcg"), 4).as("idcg"),
        round(col("dcg") / col("idcg"), 4).as("ndcg"))
      .orderBy("qid")
  }

  /** MEAN-RECIPROCAL-RANK report for the IVF probe against the exact
    * cosine top-10 — the third leg of the search-eval family
    * (recall@k measures coverage, nDCG graded ordering, MRR the
    * "how far down is the first right answer" latency a RAG caller
    * feels). Per query: `rr_top1` is 1/rank of THE exact nearest
    * neighbor inside the system list (0 if the probe missed it),
    * `rr_first_rel` is 1/rank of the first system result that is any
    * exact-top-10 member, `n_rel_found` the overlap size. Same
    * judgment-free oracle discipline as [[ndcgReport]]: the exact
    * scan IS the relevance labeling.
    */
  def mrrReport(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Knn.topK(e, q, 10, Knn.Metric.Cosine)
      .select(col("qid"), col("rk").as("erk"), col("nn_id"))
    val sys = ivfQuery(s, dir).select(col("qid"), col("rk"), col("nn_id"))
    val hits = sys.join(exact, Seq("qid", "nn_id"))
    val top1 = hits.where(col("erk") === 1)
      .groupBy("qid").agg(min("rk").as("r1"))
    val any = hits.groupBy("qid")
      .agg(min("rk").as("ra"), count(lit(1)).as("n_rel_found"))
    q.select("qid")
      .join(top1, Seq("qid"), "left")
      .join(any, Seq("qid"), "left")
      .select(col("qid"),
        round(coalesce(lit(1.0) / col("r1"), lit(0.0)), 4).as("rr_top1"),
        round(coalesce(lit(1.0) / col("ra"), lit(0.0)), 4)
          .as("rr_first_rel"),
        coalesce(col("n_rel_found"), lit(0L)).as("n_rel_found"))
      .orderBy("qid")
  }

  // --------------------------------------------- random projection kNN

  /** Projected dimensionality for [[rpKnnQuery]]. */
  val RpDims = 16

  /** RP candidate depth before the exact rerank. 100 (not 50): the
    * driver's embeddings are near-isotropic, the hardest case for a
    * 16-dim JL sketch — candidate depth, not projected dimensionality,
    * buys recall there (measured 0.46 @ 50 cand vs 0.72 @ 100 on the
    * sf0.001 slice; 32 dims at the same depth bought only +0.02).
    */
  val RpCand = 100

  /** Deterministic ±1 projection matrix: sign(j,i) from the md5
    * prefix of "j|i" — the same hash-derived-weights discipline as
    * the sign-LSH tables, so the DuckDB mirror regenerates the
    * identical matrix from the identical strings.
    */
  private[graft] def rpSigns: Array[Array[Double]] =
    Array.tabulate(RpDims, 64)((j, i) =>
      if (graft.functions.HashUtils
        .md5Prefix60(s"$j|$i".getBytes("UTF-8")) % 2 == 0) 1.0 else -1.0)

  /** RANDOM-PROJECTION kNN: Johnson–Lindenstrauss-style dimension
    * reduction as the candidate generator — project corpus and
    * queries to [[RpDims]] dims through the fixed ±1 matrix, take the
    * top-[[RpCand]] by L2 in the projected space, rerank those
    * exactly by cosine on the original vectors.
    *
    * vs sign-LSH (bucket collision): RP keeps a RANKED candidate
    * space, so recall degrades gracefully instead of cliff-dropping
    * when a neighbor misses every bucket. The projection is a
    * per-row map over codegen'd dot kernels against broadcast
    * literal rows (no shuffle, no UDF); the candidate stage is the
    * standard bounded heap (Q×[[RpCand]] rows), and the rerank is a
    * candidate-sized join — corpus work is one projected scan,
    * exactly the IVF probe cost model with a 4× narrower vector.
    */
  def rpKnnQuery(s: SparkSession, dir: String): DataFrame = {
    val signs = rpSigns
    def proj(v: org.apache.spark.sql.Column) =
      array((0 until RpDims).map(j =>
        VectorDistance.dot(v, typedLit(signs(j).toSeq))): _*)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cand = Knn.topK(
        e.select(col("id"), proj(col("vec")).as("vec")),
        q.select(col("qid"), proj(col("qvec")).as("qvec")),
        RpCand, Knn.Metric.L2)
      .select("qid", "nn_id")
    // exact cosine rerank over the Q×RpCand candidate set — the
    // window partitions are candidate-sized, never corpus-sized
    val rer = cand
      .join(e.select(col("id").as("nn_id"), col("vec")), "nn_id")
      .join(broadcast(q), "qid")
      .withColumn("s", {
        val denom = sqrt(VectorDistance.dot(col("vec"), col("vec"))) *
          sqrt(VectorDistance.dot(col("qvec"), col("qvec")))
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom)
      })
      .where(col("s").isNotNull)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("s").desc, col("nn_id"))
    rer.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("nn_id"),
        round(col("s"), 4).as("score"))
      .orderBy("qid", "rk")
  }
}
