package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val all = Metrics.endToEnd ++ Metrics.perLayer
  // the limits BENCHMARK.json's names and units must keep
  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  private val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}"

  test("every metric name and unit is well formed and used once") {
    all.foreach { d =>
      assert(d.name.matches(NamePattern), d.name)
      assert(d.name.matches("[A-Za-z0-9_.-]+"), d.name)
      assert(d.unit.matches(UnitPattern), d.unit)
    }
    assert(all.map(_.name).distinct.size == all.size)
  }

  test("the result line prints every metric with its unit") {
    for (defs <- Seq(Metrics.endToEnd, Metrics.perLayer)) {
      val values = defs.zipWithIndex.map { case (d, i) => d.name -> (i + 0.125) }.toMap
      val line = Metrics.resultLine(correct = true, 12, 1, defs, values)
      val r = Workloads.Json.readTree(line)
      assert(r.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      assert(r.get("attempted").asLong == 12 && r.get("failed").asLong == 1)
      val ms = r.get("metrics")
      assert(ms.fieldNames().asScala.toSeq == defs.map(_.name))
      defs.zipWithIndex.foreach { case (d, i) =>
        assert(ms.get(d.name).get("unit").asText == d.unit)
        assert(ms.get(d.name).get("value").asDouble == i + 0.125)
      }
    }
  }

  test("a metric that was not measured is an error, not a silent zero") {
    intercept[IllegalStateException](
      Metrics.resultLine(correct = true, 1, 0, Metrics.endToEnd, Map.empty))
  }

  test("BENCHMARK.json declares exactly these metrics and units") {
    val spec = Workloads.Json.readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def listed(k: String) = spec.get(k).elements().asScala.toSeq
      .map(m => Metrics.Def(m.get("name").asText, m.get("unit").asText))
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Seq("yaml_batch", "yaml_stream", "query_mix"))
  }
}
