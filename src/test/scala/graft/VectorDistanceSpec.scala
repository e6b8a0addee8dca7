package graft

import graft.functions.{VectorDistance, VectorFunctions}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class VectorDistanceSpec extends SparkSuite {
  import spark.implicits._

  private val a = Array(1.0f, 2.0f, 3.0f)
  private val b = Array(4.0f, -5.0f, 6.0f)

  private def one(colFn: => org.apache.spark.sql.Column): Any =
    Seq((a, b)).toDF("x", "y").select(colFn.as("r")).head().get(0)

  test("dot product matches scalar math") {
    assert(one(VectorDistance.dot($"x", $"y")) ==
      (1.0 * 4 + 2.0 * -5 + 3.0 * 6))
  }

  test("l2 matches scalar math") {
    val exp = math.sqrt(math.pow(1.0 - 4, 2) + math.pow(2.0 + 5, 2)
      + math.pow(3.0 - 6, 2))
    assert(one(VectorDistance.l2($"x", $"y")) == exp)
  }

  test("l1 matches scalar math; callable from SQL") {
    assert(one(VectorDistance.l1($"x", $"y")) ==
      (math.abs(1.0 - 4) + math.abs(2.0 + 5) + math.abs(3.0 - 6)))
    val r = spark.sql(
      "SELECT vec_l1(array(1.0D, 2.0D), array(4.0D, 0.0D)) AS d").head()
    assert(r.getDouble(0) == 5.0)
  }

  test("linf matches scalar math; callable from SQL") {
    assert(one(VectorDistance.linf($"x", $"y")) ==
      math.max(math.abs(1.0 - 4), math.max(math.abs(2.0 + 5),
        math.abs(3.0 - 6))))
    val r = spark.sql(
      "SELECT vec_linf(array(1.0D, 9.0D), array(4.0D, 8.0D)) AS d").head()
    assert(r.getDouble(0) == 3.0)
  }

  test("cosine matches composed form bit-for-bit") {
    val df = Seq((a, b)).toDF("x", "y")
    val native = df.select(VectorDistance.cosine($"x", $"y")).head().getDouble(0)
    val composed = df.select(VectorFunctions.cosineSimilarity(
      VectorFunctions.vecD($"x"), VectorFunctions.vecD($"y"))).head().getDouble(0)
    assert(native == composed)
  }

  test("zero-norm cosine is NULL, not NaN") {
    val z = Array(0.0f, 0.0f, 0.0f)
    val r = Seq((z, b)).toDF("x", "y")
      .select(VectorDistance.cosine($"x", $"y").as("c")).head()
    assert(r.isNullAt(0))
  }

  test("dimension mismatch is NULL for all kernels, not a truncated score") {
    // the DuckDB oracle's list_* functions RAISE on unequal lengths;
    // silently scoring the common prefix would diverge from it
    val short = Array(1.0f, 2.0f)
    val df = Seq((short, b)).toDF("x", "y")
    for (fn <- Seq(VectorDistance.dot _, VectorDistance.l2 _,
                   VectorDistance.l1 _, VectorDistance.linf _,
                   VectorDistance.cosine _)) {
      val r = df.select(fn($"x", $"y").as("r")).head()
      assert(r.isNullAt(0), "mismatched dims must yield NULL")
    }
    // interpreted path agrees
    val e = graft.functions.VecDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0, 3.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(e.eval(null) == null)
  }

  test("mixed float/double input types work (LSH literal planes)") {
    val plane = Array(0.5, -0.5, 1.0)
    val r = Seq(Tuple1(a)).toDF("x")
      .select(VectorDistance.dot($"x", typedlit(plane))).head().getDouble(0)
    assert(r == 1.0 * 0.5 + 2.0 * -0.5 + 3.0 * 1.0)
  }

  test("Md5Prefix60 equals conv(substring(md5)) on varied inputs") {
    val rnd = new scala.util.Random(13)
    val samples = (1 to 200).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString) :+ "" :+ "a|b c"
    val df = samples.toDF("t")
    val bad = df.select(
      graft.functions.Md5Prefix60(col("t")).as("fast"),
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(bad == 0)
  }

  test("interpreted eval agrees with codegen") {
    // force the interpreted path through nullSafeEval
    val e = graft.functions.VecL2(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        a.map(_.toDouble), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        b.map(_.toDouble), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    val codegen = Seq((a, b)).toDF("x", "y")
      .select(VectorDistance.l2($"x", $"y")).head().getDouble(0)
    assert(interpreted == codegen)
  }

  test("cosine: interpreted, generated and PairNumerics agree bit for bit") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val r = new scala.util.Random(7)
    def vec(n: Int) = Array.fill(n)(r.nextGaussian().toFloat)
    val pairs: Seq[(Array[Float], Array[Float])] =
      Seq.fill(20)((vec(64), vec(64))) ++ Seq(
        (vec(64), Array.fill(64)(0f)),                        // zero norm
        (Array.fill(8)(0f), Array.fill(8)(0f)),
        (vec(64).updated(5, Float.NaN), vec(64)),             // NaN component
        (vec(8), vec(8).updated(0, Float.PositiveInfinity)),
        (vec(64), vec(3)),                                     // dimension mismatch
        (Array.emptyFloatArray, Array.emptyFloatArray))
    def data(v: Array[Float], asFloat: Boolean): ArrayData =
      if (asFloat) ArrayData.toArrayData(v) else ArrayData.toArrayData(v.map(_.toDouble))
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    var nulls = 0
    for (lf <- Seq(true, false); rf <- Seq(true, false)) {
      def t(f: Boolean) = ArrayType(if (f) FloatType else DoubleType)
      val e = graft.functions.VecCosine(BoundReference(0, t(lf), nullable = true),
        BoundReference(1, t(rf), nullable = true))
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      for ((x, y) <- pairs) {
        val row = InternalRow(data(x, lf), data(y, rf))
        val interpreted = e.eval(row)
        val generated = { val o = gen(row); if (o.isNullAt(0)) null else o.getDouble(0) }
        val direct = if (x.length != y.length) null else graft.functions.PairNumerics.cosine(
          x.map(_.toDouble), y.map(_.toDouble), x.length)
        assert(bits(interpreted) == bits(generated), s"($lf, $rf) ${x.toSeq} ${y.toSeq}")
        assert(bits(interpreted) == bits(direct), s"($lf, $rf) ${x.toSeq} ${y.toSeq}")
        if (interpreted == null) nulls += 1
      }
    }
    assert(nulls == 4 * 4, "zero-norm and mismatched pairs must score NULL")
  }
}
