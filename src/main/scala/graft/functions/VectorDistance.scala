package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** The interpreted pair numerics, one copy: the kernels'
  * `nullSafeEval` and the fused request-batch scorer
  * ([[graft.operators.RequestTopK]]) both call these. Vectors are
  * first widened to double (`elemGet`'s rule, exact for float); the
  * sums then run strictly left to right over plain arrays — the same
  * operations, in the same order, as the generated loops below, so
  * every path scores a pair bit-identically. Callers check equal
  * dimensions first and pass it as `n`.
  */
private[graft] object PairNumerics {
  def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  /** `a` widened to double into `into` (length ≥ a's); returns `into`. */
  def widen(a: ArrayData, isFloat: Boolean,
            into: Array[Double]): Array[Double] = {
    val n = a.numElements()
    var i = 0
    if (isFloat) while (i < n) { into(i) = a.getFloat(i); i += 1 }
    else while (i < n) { into(i) = a.getDouble(i); i += 1 }
    into
  }

  def widen(a: ArrayData, isFloat: Boolean): Array[Double] =
    widen(a, isFloat, new Array[Double](a.numElements()))

  def dot(x: Array[Double], y: Array[Double], n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }

  def l2(x: Array[Double], y: Array[Double], n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { val d = x(i) - y(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  def l1(x: Array[Double], y: Array[Double], n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { acc += math.abs(x(i) - y(i)); i += 1 }
    acc
  }

  /** Cosine of x and y: dot, ‖x‖² and ‖y‖² in one left-to-right loop,
    * then `dot / (sqrt(‖x‖²) · sqrt(‖y‖²))`; null when that product is
    * zero. `VecCosine` and the descent store both score through this.
    */
  def cosine(x: Array[Double], y: Array[Double], n: Int): java.lang.Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val a = x(i); val b = y(i)
      dot += a * b; na += a * a; nb += b * b; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  /** max|xᵢ−yᵢ|; a NaN difference never replaces the running max. */
  def linf(x: Array[Double], y: Array[Double], n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { val d = math.abs(x(i) - y(i)); if (d > acc) acc = d; i += 1 }
    acc
  }
}

/** Native codegen'd distance kernels over `array<float|double>`.
  *
  * The composed `zip_with`+`aggregate` form (VectorFunctions) is
  * correct but allocates an intermediate array and boxes every lambda
  * step — at Q×N pair volume that dominated the bench
  * (vdb_batch_knn). These expressions emit a single fused primitive
  * loop into whole-stage codegen: no allocation, no boxing, one pass.
  *
  * Numerics are IDENTICAL to the composed form (and to the DuckDB
  * oracle's `list_*(a::DOUBLE[], b)`): each element widened to double,
  * strict left-to-right summation.
  *
  * Reference analog: the FAISS distance kernels behind
  * `FaissIndex::search_vectors` (reference faiss_index.cc:40, metric
  * from index_factory.cc).
  */
sealed abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  /** All kernels yield NULL on a dimension mismatch (and cosine also
    * on zero norm): the DuckDB oracle's `list_distance` RAISES on
    * unequal lengths, so silently truncating to the shorter vector
    * would produce a plausible-but-wrong score that diverges from the
    * oracle. NULL keys are dropped before top-k on both engines
    * identically (callers filter `isNotNull`).
    */
  override def nullable: Boolean = true

  /** Codegen wrapper: NULL out on length mismatch, else run `body`
    * (the equal-length fast path is unchanged — one fused loop).
    */
  protected def dimGuard(ev: ExprCode, a: String, b: String,
                         body: String): String =
    s"""
       |if ($a.numElements() != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  $body
       |}
     """.stripMargin

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  /** Java source reading element `i` of `arr` widened to double. */
  protected def elemGet(child: Expression, arr: String, i: String): String =
    child.dataType match {
      case ArrayType(FloatType, _)  => s"(double) $arr.getFloat($i)"
      case _                        => s"$arr.getDouble($i)"
    }

  @transient private lazy val leftFloat: Boolean =
    PairNumerics.isFloatArray(left.dataType)
  @transient private lazy val rightFloat: Boolean =
    PairNumerics.isFloatArray(right.dataType)

  /** Interpreted path: both inputs widened to double. */
  protected def widened(a: ArrayData, b: ArrayData): (Array[Double], Array[Double]) =
    (PairNumerics.widen(a, leftFloat), PairNumerics.widen(b, rightFloat))

  protected def pairLoop(ctx: CodegenContext, a: String, b: String,
                         body: (String, String) => String): (String, String) = {
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val x = ctx.freshName("x")
    val y = ctx.freshName("y")
    val code =
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = ${elemGet(left, a, i)};
         |  final double $y = ${elemGet(right, b, i)};
         |  ${body(x, y)}
         |}
       """.stripMargin
    (code, n)
  }
}

/** <a,b> — reference MetricType::IP. */
case class VecDot(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val (a, b) = (av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (x, y) = widened(a, b)
      PairNumerics.dot(x, y, x.length)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val (loop, _) = pairLoop(ctx, a, b, (x, y) => s"$acc += $x * $y;")
      dimGuard(ev, a, b,
        s"""
           |double $acc = 0.0;
           |$loop
           |${ev.value} = $acc;
         """.stripMargin)
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Euclidean distance — reference MetricType::L2 (FAISS reports
  * squared L2; like the round-1 composed form and the DuckDB oracle's
  * `list_distance`, this reports the root).
  */
case class VecL2(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_l2"

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val (a, b) = (av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (x, y) = widened(a, b)
      PairNumerics.l2(x, y, x.length)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val (loop, _) = pairLoop(ctx, a, b,
        (x, y) => s"final double $d = $x - $y; $acc += $d * $d;")
      dimGuard(ev, a, b,
        s"""
           |double $acc = 0.0;
           |$loop
           |${ev.value} = java.lang.Math.sqrt($acc);
         """.stripMargin)
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ|aᵢ−bᵢ| — Manhattan / city-block distance (faiss METRIC_L1, the
  * robust-to-outlier-coordinates alternative to L2). Same strict
  * left-to-right summation contract as every kernel here; the DuckDB
  * mirror folds |a[i]−b[i]| over an index range in the same order.
  */
case class VecL1(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_l1"

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val (a, b) = (av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (x, y) = widened(a, b)
      PairNumerics.l1(x, y, x.length)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val (loop, _) = pairLoop(ctx, a, b,
        (x, y) => s"$acc += java.lang.Math.abs($x - $y);")
      dimGuard(ev, a, b,
        s"""
           |double $acc = 0.0;
           |$loop
           |${ev.value} = $acc;
         """.stripMargin)
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** max|aᵢ−bᵢ| — Chebyshev / L∞ distance (faiss METRIC_Linf, the
  * bound-any-coordinate metric used for quantization-error audits).
  * max() is order-free over doubles, so this kernel is exact on both
  * engines with no summation-order contract needed at all.
  */
case class VecLinf(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_linf"

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val (a, b) = (av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (x, y) = widened(a, b)
      PairNumerics.linf(x, y, x.length)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val (loop, _) = pairLoop(ctx, a, b,
        (x, y) => s"final double $d = java.lang.Math.abs($x - $y); " +
          s"if ($d > $acc) $acc = $d;")
      dimGuard(ev, a, b,
        s"""
           |double $acc = 0.0;
           |$loop
           |${ev.value} = $acc;
         """.stripMargin)
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity; NULL (not NaN) on a zero-norm input so ordering
  * matches the oracle on degenerate vectors (see
  * VectorFunctions.cosineSimilarity).
  */
case class VecCosine(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val (a, b) = (av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      val (x, y) = widened(a, b)
      PairNumerics.cosine(x, y, x.length)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      val (loop, _) = pairLoop(ctx, a, b,
        (x, y) => s"$dot += $x * $y; $na += $x * $x; $nb += $y * $y;")
      dimGuard(ev, a, b,
        s"""
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |$loop
           |final double $denom =
           |  java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
           |if ($denom == 0.0) { ${ev.isNull} = true; }
           |else { ${ev.value} = $dot / $denom; }
         """.stripMargin)
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused k-centroid ranking kernel: per input vector, the
  * `array<struct<cd:double, cell:bigint>>` of (negated-cosine
  * distance, cell id) against a driver-trained centroid set, in the
  * centroid order given (callers pass cells sorted ascending).
  *
  * This is the "broadcast-backed codegen expression" form the
  * assignment projection was always documented to need past a few
  * hundred cells: the original shape — `array(struct(...), ...)` with
  * one UNROLLED `VecDot(vec, typedlit(cvec))` branch per centroid —
  * generates code LINEAR in the cell count, and with stride-200
  * seeding the cell count grows with the corpus. Measured at the x16
  * scale replica (160 cells), the generated method crossed Janino's
  * 64 KB limit, whole-stage codegen fell back to interpreted
  * evaluation, and the assignment stage ran ~20× slow — the
  * SCALE_r15 `ann_ivf_spill` x16 superlinearity. Here the centroid
  * matrix rides along as a reference object (a broadcast in cluster
  * terms) and the generated code is ONE doubly-nested loop —
  * constant code size for any k, so the kernel stays inside
  * whole-stage codegen at every scale factor.
  *
  * Numerics are BIT-IDENTICAL to the unrolled form (the oracle-hash
  * contract for every ANN/SemDeDup/PQ query):
  *   - row norm = sqrt(strict left-to-right Σ (double)xᵢ·(double)xᵢ),
  *     computed once (the unrolled form relied on codegen CSE for the
  *     same single evaluation);
  *   - each centroid norm is the same driver-computed double literal
  *     (foldLeft over the float vector, widened per element);
  *   - cd = -(Σ (double)xᵢ·(double)cᵢ / (rowNorm·centNorm)), NULL
  *     vector / dimension mismatch / zero denominator all coalescing
  *     to 2.0 exactly as the `when(denom === 0, null)` + VecDot
  *     null-on-mismatch + `coalesce(…, 2.0)` chain did (NaN inputs
  *     propagate NaN through the same arithmetic in both forms).
  *
  * Fields are Seq (structural equality), so Catalyst canonicalization
  * and subexpression elimination see two same-centroid calls as
  * equal — Array fields would compare by reference and break CSE.
  */
case class CentroidDistances(child: Expression,
                             cells: Seq[Long],
                             cvecs: Seq[Seq[Float]])
    extends UnaryExpression {
  override def prettyName: String = "centroid_dists"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cd", DoubleType, nullable = false),
      StructField("cell", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double> input, got ${t.sql}")
    }

  @transient private lazy val cellIds: Array[Long] = cells.toArray
  @transient private lazy val matrix: Array[Array[Float]] =
    cvecs.map(_.toArray).toArray
  @transient private lazy val centNorms: Array[Double] =
    cvecs.map(v => math.sqrt(
      v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))).toArray

  private def elemAt(a: ArrayData, i: Int): Double = child.dataType match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case _                       => a.getDouble(i)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val k = cellIds.length
    val out = new Array[Any](k)
    if (v == null) {
      var j = 0
      while (j < k) { out(j) = InternalRow(2.0, cellIds(j)); j += 1 }
    } else {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      var dotSelf = 0.0
      var i = 0
      while (i < n) { val x = elemAt(a, i); dotSelf += x * x; i += 1 }
      val rowNorm = math.sqrt(dotSelf)
      var j = 0
      while (j < k) {
        val cv = matrix(j)
        var cd = 2.0
        if (n == cv.length) {
          val denom = rowNorm * centNorms(j)
          if (denom != 0.0) {
            var acc = 0.0
            var i2 = 0
            while (i2 < n) { acc += elemAt(a, i2) * cv(i2); i2 += 1 }
            cd = -(acc / denom)
          }
        }
        out(j) = InternalRow(cd, cellIds(j))
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val mat = ctx.addReferenceObj("centMatrix", matrix, "float[][]")
    val ids = ctx.addReferenceObj("centCells", cellIds, "long[]")
    val norms = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    val getElem: String => String = child.dataType match {
      case ArrayType(FloatType, _) => i => s"(double) ${childGen.value}.getFloat($i)"
      case _                       => i => s"${childGen.value}.getDouble($i)"
    }
    val k = cellIds.length
    val rows = ctx.freshName("rows")
    val j = ctx.freshName("j")
    val i = ctx.freshName("i")
    val i2 = ctx.freshName("i2")
    val n = ctx.freshName("n")
    val dotSelf = ctx.freshName("dotSelf")
    val rowNorm = ctx.freshName("rowNorm")
    val cv = ctx.freshName("cv")
    val cd = ctx.freshName("cd")
    val acc = ctx.freshName("acc")
    val denom = ctx.freshName("denom")
    val rowCls = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
    val arrCls = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    val body =
      s"""
        |final Object[] $rows = new Object[$k];
        |if (${childGen.isNull}) {
        |  for (int $j = 0; $j < $k; $j++) {
        |    $rows[$j] = new $rowCls(new Object[] {
        |      java.lang.Double.valueOf(2.0D), java.lang.Long.valueOf($ids[$j]) });
        |  }
        |} else {
        |  final int $n = ${childGen.value}.numElements();
        |  double $dotSelf = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    final double ${i}x = ${getElem(i)};
        |    $dotSelf += ${i}x * ${i}x;
        |  }
        |  final double $rowNorm = java.lang.Math.sqrt($dotSelf);
        |  for (int $j = 0; $j < $k; $j++) {
        |    final float[] $cv = $mat[$j];
        |    double $cd = 2.0D;
        |    if ($n == $cv.length) {
        |      final double $denom = $rowNorm * $norms[$j];
        |      if ($denom != 0.0D) {
        |        double $acc = 0.0;
        |        for (int $i2 = 0; $i2 < $n; $i2++) {
        |          $acc += ${getElem(i2)} * (double) $cv[$i2];
        |        }
        |        $cd = -($acc / $denom);
        |      }
        |    }
        |    $rows[$j] = new $rowCls(new Object[] {
        |      java.lang.Double.valueOf($cd), java.lang.Long.valueOf($ids[$j]) });
        |  }
        |}
        |final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  new $arrCls($rows);
      """.stripMargin
    ev.copy(isNull = FalseLiteral, code = childGen.code + code"$body")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bounded nearest-centroid selection: the first `top` entries of
  * what `slice(array_sort(CentroidDistances(…)), 1, top)` would
  * produce, computed in one pass with an m-slot insertion buffer and
  * NO per-cell allocation — the FAISS coarse-quantizer scan shape.
  * Every consumer of the full distance array in the repo was a
  * sorted-prefix consumer (`array_min` = top-1, probe ranking =
  * top-nprobe, spill margin = top-2), and sorting k boxed structs per
  * row to keep 1-2 of them was the residual cost after
  * [[CentroidDistances]] fixed the code-size collapse: per row this
  * kernel does k·dim multiply-adds plus k bounded insertions, with
  * output allocation m-sized, so per-row work is flat in the cell
  * count's boxing/sort term and the assignment stage scales as pure
  * arithmetic.
  *
  * Ordering is EXACTLY Spark's lexicographic struct sort over
  * (cd: double, cell: bigint): doubles compare with the SQL total
  * order (`x == y` first, so -0.0 equals 0.0, then
  * `java.lang.Double.compare`, so NaN sorts greatest), ties fall to
  * the cell id. One caller-side precondition mirrors the unrolled
  * form: `cells` must arrive ascending (collectCentroids sorts), so
  * an equal-cd later entry never needs to pass an earlier one and
  * the insertion's strict `<` reproduces the sort's tiebreak even
  * for equal-NaN distances.
  *
  * Degenerate rows (NULL vector, dimension mismatch, zero norm)
  * contribute cd = 2.0 entries exactly like [[CentroidDistances]],
  * so the returned prefix still has min(top, k) rows — never fewer —
  * and the `getItem(1)` null-out for k=1 layouts matches the sliced
  * form.
  */
case class CentroidTopM(child: Expression,
                        cells: Seq[Long],
                        cvecs: Seq[Seq[Float]],
                        top: Int)
    extends UnaryExpression {
  require(top >= 1, s"top must be >= 1, got $top")
  override def prettyName: String = "centroid_topm"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("cd", DoubleType, nullable = false),
      StructField("cell", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double> input, got ${t.sql}")
    }

  @transient private lazy val cellIds: Array[Long] = cells.toArray
  @transient private lazy val matrix: Array[Array[Float]] =
    cvecs.map(_.toArray).toArray
  @transient private lazy val centNorms: Array[Double] =
    cvecs.map(v => math.sqrt(
      v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))).toArray
  private def m: Int = math.min(top, cells.length)

  private def elemAt(a: ArrayData, i: Int): Double = child.dataType match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case _                       => a.getDouble(i)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val k = cellIds.length
    val mm = m
    val cdBuf = new Array[Double](mm)
    val cellBuf = new Array[Long](mm)
    var filled = 0
    val a = if (v == null) null else v.asInstanceOf[ArrayData]
    val n = if (a == null) -1 else a.numElements()
    var rowNorm = 0.0
    if (a != null) {
      var dotSelf = 0.0
      var i = 0
      while (i < n) { val x = elemAt(a, i); dotSelf += x * x; i += 1 }
      rowNorm = math.sqrt(dotSelf)
    }
    var j = 0
    while (j < k) {
      val cv = matrix(j)
      var cd = 2.0
      if (a != null && n == cv.length) {
        val denom = rowNorm * centNorms(j)
        if (denom != 0.0) {
          var acc = 0.0
          var i2 = 0
          while (i2 < n) { acc += elemAt(a, i2) * cv(i2); i2 += 1 }
          cd = -(acc / denom)
        }
      }
      val cid = cellIds(j)
      var pos = filled
      while (pos > 0 && {
        val w = cdBuf(pos - 1)
        if (cd == w) cid < cellBuf(pos - 1)
        else java.lang.Double.compare(cd, w) < 0
      }) pos -= 1
      if (pos < mm) {
        var t = math.min(filled, mm - 1)
        while (t > pos) { cdBuf(t) = cdBuf(t - 1); cellBuf(t) = cellBuf(t - 1); t -= 1 }
        cdBuf(pos) = cd; cellBuf(pos) = cid
        if (filled < mm) filled += 1
      }
      j += 1
    }
    val out = new Array[Any](filled)
    var r = 0
    while (r < filled) { out(r) = InternalRow(cdBuf(r), cellBuf(r)); r += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val mat = ctx.addReferenceObj("centMatrix", matrix, "float[][]")
    val ids = ctx.addReferenceObj("centCells", cellIds, "long[]")
    val norms = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    val getElem: String => String = child.dataType match {
      case ArrayType(FloatType, _) => i => s"(double) ${childGen.value}.getFloat($i)"
      case _                       => i => s"${childGen.value}.getDouble($i)"
    }
    val k = cellIds.length
    val mm = m
    val cdBuf = ctx.freshName("cdBuf")
    val cellBuf = ctx.freshName("cellBuf")
    val filled = ctx.freshName("filled")
    val j = ctx.freshName("j")
    val i = ctx.freshName("i")
    val i2 = ctx.freshName("i2")
    val t = ctx.freshName("t")
    val n = ctx.freshName("n")
    val dotSelf = ctx.freshName("dotSelf")
    val rowNorm = ctx.freshName("rowNorm")
    val cv = ctx.freshName("cv")
    val cd = ctx.freshName("cd")
    val cid = ctx.freshName("cid")
    val acc = ctx.freshName("acc")
    val denom = ctx.freshName("denom")
    val pos = ctx.freshName("pos")
    val w = ctx.freshName("w")
    val rows = ctx.freshName("rows")
    val r = ctx.freshName("r")
    val isNull = ctx.freshName("inNull")
    val rowCls = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
    val arrCls = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    val body =
      s"""
        |final boolean $isNull = ${childGen.isNull};
        |final int $n = $isNull ? -1 : ${childGen.value}.numElements();
        |double $rowNorm = 0.0;
        |if (!$isNull) {
        |  double $dotSelf = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    final double ${i}x = ${getElem(i)};
        |    $dotSelf += ${i}x * ${i}x;
        |  }
        |  $rowNorm = java.lang.Math.sqrt($dotSelf);
        |}
        |final double[] $cdBuf = new double[$mm];
        |final long[] $cellBuf = new long[$mm];
        |int $filled = 0;
        |for (int $j = 0; $j < $k; $j++) {
        |  final float[] $cv = $mat[$j];
        |  double $cd = 2.0D;
        |  if (!$isNull && $n == $cv.length) {
        |    final double $denom = $rowNorm * $norms[$j];
        |    if ($denom != 0.0D) {
        |      double $acc = 0.0;
        |      for (int $i2 = 0; $i2 < $n; $i2++) {
        |        $acc += ${getElem(i2)} * (double) $cv[$i2];
        |      }
        |      $cd = -($acc / $denom);
        |    }
        |  }
        |  final long $cid = $ids[$j];
        |  int $pos = $filled;
        |  while ($pos > 0) {
        |    final double $w = $cdBuf[$pos - 1];
        |    final boolean ${w}lt = ($cd == $w)
        |      ? ($cid < $cellBuf[$pos - 1])
        |      : (java.lang.Double.compare($cd, $w) < 0);
        |    if (!${w}lt) break;
        |    $pos--;
        |  }
        |  if ($pos < $mm) {
        |    for (int $t = java.lang.Math.min($filled, $mm - 1); $t > $pos; $t--) {
        |      $cdBuf[$t] = $cdBuf[$t - 1]; $cellBuf[$t] = $cellBuf[$t - 1];
        |    }
        |    $cdBuf[$pos] = $cd; $cellBuf[$pos] = $cid;
        |    if ($filled < $mm) $filled++;
        |  }
        |}
        |final Object[] $rows = new Object[$filled];
        |for (int $r = 0; $r < $filled; $r++) {
        |  $rows[$r] = new $rowCls(new Object[] {
        |    java.lang.Double.valueOf($cdBuf[$r]), java.lang.Long.valueOf($cellBuf[$r]) });
        |}
        |final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  new $arrCls($rows);
      """.stripMargin
    ev.copy(isNull = FalseLiteral, code = childGen.code + code"$body")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API handles for the native kernels. */
object VectorDistance {
  private def c(e: Expression): Column = GraftColumnBridge.column(e)
  private def e(col: Column): Expression = GraftColumnBridge.expression(col)

  def dot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def centroidDists(vec: Column, cells: Seq[Long],
                    cvecs: Seq[Seq[Float]]): Column =
    c(CentroidDistances(e(vec), cells, cvecs))
  def centroidTopM(vec: Column, cells: Seq[Long],
                   cvecs: Seq[Seq[Float]], top: Int): Column =
    c(CentroidTopM(e(vec), cells, cvecs, top))
  def l2(a: Column, b: Column): Column = c(VecL2(e(a), e(b)))
  def l1(a: Column, b: Column): Column = c(VecL1(e(a), e(b)))
  def linf(a: Column, b: Column): Column = c(VecLinf(e(a), e(b)))
  def cosine(a: Column, b: Column): Column = c(VecCosine(e(a), e(b)))
}
