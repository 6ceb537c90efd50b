package flowbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's declared workloads and metrics are the ones it runs
  * and prints.
  */
class ConfigSpec extends AnyFunSuite {

  private val root = new ObjectMapper().readTree(
    new File("../BENCHMARK.json"))

  private def pairs(key: String): Seq[(String, String)] =
    root.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("declared workloads are the runnable ones") {
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText())
      .toSeq === Main.Workloads.map(_.name))
  }

  test("declared metrics match the printed names and units") {
    assert(pairs("end_to_end") === Main.EndToEnd)
    assert(pairs("per_layer") === Main.PerLayer)
  }
}
