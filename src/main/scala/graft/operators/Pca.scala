package graft.operators

import graft.Tables
import graft.functions.VectorDistance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA top-component projection — the dimensionality diagnostic a
  * curation pass runs on an embedding corpus (is the space collapsed
  * onto a few directions? what does the dominant axis separate?).
  *
  * The 100-TB shape: ONE corpus pass builds the exact second-moment
  * matrix (64×64 — metadata-sized however big the corpus), the
  * eigensolve runs on the DRIVER over that bounded matrix (3 power
  * iterations, ~12k flops), and the projection is a per-row map
  * against the broadcast eigenvector. No iteration ever rescans the
  * corpus — the classic "sufficient statistics, then solve small"
  * decomposition.
  *
  * Bit-determinism (the exact-aggregate rule): components quantize
  * to integer micros (round(x·10⁴)), so the data-order-dependent
  * sums — S_j and the Gram matrix M_jk — are EXACT BIGINTs; every
  * float that follows (covariance C = M − S·Sᵀ/n, the power
  * iterations, the projection) evaluates from those integers in a
  * FIXED fold order (k then j ascending — the driver loop and the
  * mirror's list_inner_product run the identical left-to-right
  * fold), so both engines produce identical doubles. The sign of
  * the dominant eigenvector is fixed by the all-positive start
  * vector (1/8, exactly representable).
  */
object Pca {

  private val Dim = 64
  private val Iters = 3

  /** (S_j sums, M_jk Gram matrix, n) from one exact-integer pass,
    * memoized in [[graft.ByproductCache]]: shared by the projection,
    * the variance report and Pq.opqPerm (r13) — the OPQ dimension
    * assignment derives its correlation table from the same statistics.
    */
  private[operators] def moments(s: SparkSession, dir: String)
      : (Array[Long], Array[Array[Long]], Long) =
    graft.ByproductCache.getOrCompute(s.sparkContext.applicationId,
      s"pcamoments|$dir")(momentsUncached(s, dir))

  private def momentsUncached(s: SparkSession, dir: String)
      : (Array[Long], Array[Array[Long]], Long) = {
    val micro = Tables.embeddings(s, dir).select(expr(
      "transform(embedding, e -> cast(round(cast(e as double) * 10000) as bigint))")
      .as("m"))
    val n = Tables.embeddings(s, dir).count()
    val sv = micro.select(posexplode(col("m")).as(Seq("j", "v")))
      .groupBy("j").agg(sum("v").as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the Gram matrix from a PER-ROW pair expansion: each row emits
    // its 64×64 products directly (no self-join — the earlier form
    // shuffled the whole exploded corpus by id to pair components),
    // and the groupBy's map-side partial aggregation collapses each
    // partition to ≤4096 rows before the only exchange
    val mm = micro.select(explode(expr(
        "flatten(transform(m, (x, j) -> transform(m, (y, k) -> " +
          "struct(j as j, k as k, x * y as p))))")).as("r"))
      .groupBy(col("r.j").as("j"), col("r.k").as("k"))
      .agg(sum(col("r.p")).as("m"))
      .collect()
    val sArr = Array.tabulate(Dim)(j => sv(j))
    val mArr = Array.ofDim[Long](Dim, Dim)
    mm.foreach(r => mArr(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    (sArr, mArr, n)
  }

  /** Power-iterate the covariance built from the exact moments; the
    * fold orders here are the contract the mirror replicates.
    */
  private[graft] def topComponent(sArr: Array[Long],
                                  mArr: Array[Array[Long]],
                                  n: Long): Array[Double] = {
    val nD = n.toDouble
    val c = Array.tabulate(Dim, Dim)((j, k) =>
      mArr(j)(k).toDouble - (sArr(j).toDouble * sArr(k).toDouble) / nD)
    var v = Array.fill(Dim)(0.125)
    var t = 0
    while (t < Iters) {
      val w = Array.tabulate(Dim) { j =>
        var acc = 0.0
        var k = 0
        while (k < Dim) { acc += c(j)(k) * v(k); k += 1 }
        acc
      }
      var nrm2 = 0.0
      var j = 0
      while (j < Dim) { nrm2 += w(j) * w(j); j += 1 }
      val nrm = math.sqrt(nrm2)
      v = w.map(_ / nrm)
      t += 1
    }
    v
  }

  /** EXPLAINED-VARIANCE report — the one-row "is this space
    * collapsed" answer: the dominant component's Rayleigh quotient
    * λ₁ = vᵀCv (v unit-norm), total variance = trace(C), and their
    * ratio. Same cached moments; λ and trace evaluate in the fixed
    * j-then-k fold order the mirror replicates.
    */
  def pcaVariance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (sArr, mArr, n) = moments(s, dir)
    val v = topComponent(sArr, mArr, n)
    val nD = n.toDouble
    def cAt(j: Int, k: Int): Double =
      mArr(j)(k).toDouble - (sArr(j).toDouble * sArr(k).toDouble) / nD
    // λ₁ = Σ_j v_j · (Cv)_j with (Cv)_j folded over k first — the
    // same two ordered folds as the mirror's list_inner_product pair
    var lambda = 0.0
    var j = 0
    while (j < Dim) {
      var acc = 0.0
      var k = 0
      while (k < Dim) { acc += cAt(j, k) * v(k); k += 1 }
      lambda += v(j) * acc
      j += 1
    }
    var trace = 0.0
    j = 0
    while (j < Dim) { trace += cAt(j, j); j += 1 }
    // report in original embedding units: micro² scale ÷ 1e8, per-row
    // ÷ n (C here is the SUM covariance)
    Seq((BigDecimal(lambda / nD / 1e8).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(trace / nD / 1e8).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(lambda / trace).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("lambda1", "total_var", "var_ratio")
  }

  /** SECOND component via DEFLATION — power-iterate
    * C₂ = C − λ₁v₁v₁ᵀ without ever materializing C₂: each matvec is
    * (Cx)_j − λ₁·v₁_j·(v₁ᵀx), so the iteration reuses the SAME
    * C-matvec fold plus one scalar dot. The fold orders here (k-fold
    * for Cx, j-fold for the dots, the exact subtraction order) are
    * the contract the mirror replicates term for term — a
    * "mathematically equal" C₂ elementwise subtraction would differ
    * in last-ulp and break the hash match.
    */
  private[graft] def secondComponent(sArr: Array[Long],
                                     mArr: Array[Array[Long]],
                                     n: Long,
                                     v1: Array[Double]): Array[Double] = {
    val nD = n.toDouble
    val c = Array.tabulate(Dim, Dim)((j, k) =>
      mArr(j)(k).toDouble - (sArr(j).toDouble * sArr(k).toDouble) / nD)
    // λ₁ via the two ordered folds (the pcaVariance contract)
    var lambda = 0.0
    var j = 0
    while (j < Dim) {
      var acc = 0.0
      var k = 0
      while (k < Dim) { acc += c(j)(k) * v1(k); k += 1 }
      lambda += v1(j) * acc
      j += 1
    }
    var x = Array.fill(Dim)(0.125)
    var t = 0
    while (t < Iters) {
      var vx = 0.0
      j = 0
      while (j < Dim) { vx += v1(j) * x(j); j += 1 }
      val w = Array.tabulate(Dim) { jj =>
        var acc = 0.0
        var k = 0
        while (k < Dim) { acc += c(jj)(k) * x(k); k += 1 }
        acc - lambda * v1(jj) * vx
      }
      var nrm2 = 0.0
      j = 0
      while (j < Dim) { nrm2 += w(j) * w(j); j += 1 }
      val nrm = math.sqrt(nrm2)
      x = w.map(_ / nrm)
      t += 1
    }
    x
  }

  /** 2-D PCA MAP — both principal components per vector (the
    * visualization/diagnostic artifact: embedding clouds are eyeballed
    * in exactly this projection). Same cached one-pass moments; v₂ by
    * deflation ([[secondComponent]]); projections are per-row maps
    * against two broadcast axes — the corpus is scanned once here and
    * never by the eigensolve.
    */
  def pcaProject2(s: SparkSession, dir: String): DataFrame = {
    val (sArr, mArr, n) = moments(s, dir)
    val v1 = topComponent(sArr, mArr, n)
    val v2 = secondComponent(sArr, mArr, n, v1)
    def muDot(v: Array[Double]): Double = {
      var acc = 0.0
      var j = 0
      while (j < Dim) { acc += (sArr(j).toDouble / n) * v(j); j += 1 }
      acc
    }
    val (m1, m2) = (muDot(v1), muDot(v2))
    val v1Lit = typedLit(v1.toSeq)
    val v2Lit = typedLit(v2.toSeq)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, e -> cast(round(cast(e as double) * 10000) as double))")
        .as("m"))
      .select(col("vec_id"),
        round(VectorDistance.dot(col("m"), v1Lit) - lit(m1), 4).as("pc1"),
        round(VectorDistance.dot(col("m"), v2Lit) - lit(m2), 4).as("pc2"))
      .orderBy("vec_id")
  }

  /** Per-vector projection onto the dominant principal axis. */
  def pcaProject(s: SparkSession, dir: String): DataFrame = {
    val (sArr, mArr, n) = moments(s, dir)
    val v = topComponent(sArr, mArr, n)
    var muDot = 0.0
    var j = 0
    while (j < Dim) { muDot += (sArr(j).toDouble / n) * v(j); j += 1 }
    val vLit = typedLit(v.toSeq)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, e -> cast(round(cast(e as double) * 10000) as double))")
        .as("m"))
      .select(col("vec_id"),
        round(VectorDistance.dot(col("m"), vLit) - lit(muDot), 4)
          .as("pc1"))
      .orderBy("vec_id")
  }
}
