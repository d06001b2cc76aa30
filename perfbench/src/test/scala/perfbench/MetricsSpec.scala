package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The command prints exactly the metrics BENCHMARK.json declares. */
class MetricsSpec extends AnyFunSuite {

  private lazy val spec =
    new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String, String)] =
    spec.get(key).elements().asScala.map(m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText))
      .toSeq

  private def decls(ds: Seq[Metrics.Decl]) = ds.map(d => (d.name, d.unit, d.better))

  test("end-to-end metrics match BENCHMARK.json, in both directions") {
    assert(decls(Metrics.EndToEnd) == declared("end_to_end"))
  }

  test("per-layer metrics match BENCHMARK.json, in both directions") {
    assert(decls(Metrics.PerLayer) == declared("per_layer"))
    assert(Metrics.PerLayer.size <= 128)
    assert(Metrics.PerLayer.map(_.name).distinct.size == Metrics.PerLayer.size)
  }

  test("workloads match BENCHMARK.json") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText)
      .toSeq == Workload.All.map(_.name))
  }

  test("the result line refuses an undeclared or a missing metric") {
    val ok = Metrics.EndToEnd.map(_.name -> 1.5).toMap
    val line = Metrics.resultLine(true, 3, 0, Metrics.EndToEnd, ok)
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.get("metrics").fieldNames().asScala.toSeq ==
      Metrics.EndToEnd.map(_.name))
    assertThrows[IllegalArgumentException](
      Metrics.resultLine(true, 3, 0, Metrics.EndToEnd, ok + ("extra" -> 1.0)))
    assertThrows[IllegalArgumentException](
      Metrics.resultLine(true, 3, 0, Metrics.EndToEnd, ok - "setup_s"))
  }
}
