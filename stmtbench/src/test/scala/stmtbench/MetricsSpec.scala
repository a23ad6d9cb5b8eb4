package stmtbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private lazy val benchmark: JsonNode = {
    val f = Paths.get("..", "BENCHMARK.json")
    assert(Files.isRegularFile(f), s"$f not found (tests run from stmtbench/)")
    new ObjectMapper().readTree(f.toFile)
  }

  private def specs(key: String): Seq[Metrics.Spec] =
    benchmark.get(key).elements().asScala.toSeq.map(n =>
      Metrics.Spec(n.get("name").asText, n.get("unit").asText, n.get("better").asText))

  test("metric names and units are well formed and unique") {
    val all = Metrics.endToEnd ++ Metrics.perLayer
    all.foreach { s =>
      assert(s.name.matches(Metrics.NamePattern), s.name)
      assert(s.unit.matches(Metrics.UnitPattern), s.unit)
      assert(Set("lower", "higher")(s.better), s.better)
    }
    assert(all.map(_.name).distinct.size == all.size)
    assert(!"9bad name".matches(Metrics.NamePattern))
    assert(!"_x".matches(Metrics.NamePattern))
  }

  test("the printed metrics are exactly those BENCHMARK.json names") {
    assert(specs("end_to_end") == Metrics.endToEnd)
    assert(specs("per_layer") == Metrics.perLayer)
  }

  test("BENCHMARK.json workloads, bounds and set-up metric follow the contract") {
    val ws = benchmark.get("workloads").elements().asScala.toSeq
    assert(ws.size >= 2)
    ws.foreach(w => assert(Workloads.byName(w.get("name").asText).isRight))
    ws.foreach(w => assert(w.get("why").asText.length <= 200))
    val bounds = benchmark.get("end_to_end").elements().asScala.toSeq
      .map(n => n.get("name").asText -> n.get("bound").asDouble).toMap
    assert(bounds.values.forall(b => b > 0 && b <= 0.25))
    assert(bounds("setup_s") == bounds.values.max)
    assert(Metrics.endToEnd.contains(Metrics.Spec("setup_s", "s", "lower")))
  }

  test("an unknown workload is rejected by name") {
    val err = Main.parseArgs(Seq("--workload", "joins", "--seed", "1", "--seconds", "5",
      "--trace", "0", "--work", "w", "--out", "x"))
    assert(err.left.exists(m => m.contains("unknown workload 'joins'") && m.contains("joins_retract")))
    assert(Main.parseArgs(Seq("--workload", "joins_retract", "--seed", "1", "--seconds", "5",
      "--trace", "0", "--work", "w", "--out", "x")).isRight)
  }
}
