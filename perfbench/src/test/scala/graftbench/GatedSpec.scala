package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The result object carries exactly the metrics BENCHMARK.json lists. */
class GatedSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(
    new java.io.File("../BENCHMARK.json"))

  private def names(key: String): Seq[String] =
    spec.get(key).elements().asScala.map(_.get("name").asText()).toSeq

  test("end-to-end and per-layer names match BENCHMARK.json") {
    assert(names("end_to_end") == Gated.endToEnd)
    assert(names("per_layer") == Gated.perLayer)
  }

  test("every listed workload exists") {
    names("workloads").foreach(w => assert(Workload.names.contains(w), w))
  }
}
