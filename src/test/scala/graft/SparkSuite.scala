package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared per-suite session (one JVM-wide session via getOrCreate —
  * suites run sequentially under sbt's forked test JVM).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()
  val sf = "/root/testdata/sf0.001"
  /** The next scale factor, beside [[sf]]. */
  val sf01: String = sf.stripSuffix("0.001") + "0.01"
}
