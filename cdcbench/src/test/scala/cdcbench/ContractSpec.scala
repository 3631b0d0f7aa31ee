package cdcbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** BENCHMARK.json at the checkout root declares what the benchmark
  * prints; it must name the same workloads and metrics as the code. */
class ContractSpec extends AnyFunSuite {
  private val declared = new ObjectMapper().readTree(
    Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def metrics(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("workloads") {
    assert(declared.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Workloads.all.map(_.name))
  }

  test("end-to-end and per-layer metrics, with their units") {
    assert(metrics("end_to_end") == Main.EndToEnd)
    assert(metrics("per_layer") == Main.PerLayer)
  }
}
