package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json and the metric catalogue the benchmark prints from agree. */
class CatalogSpec extends AnyFunSuite {

  private val spec: JsonNode = new ObjectMapper().readTree(
    new java.io.File(sys.props("user.dir")).toPath.resolveSibling("BENCHMARK.json").toFile)

  private def entries(key: String): Seq[JsonNode] = spec.get(key).elements().asScala.toSeq

  test("end-to-end metrics: names, units, directions and bounds match") {
    val json = entries("end_to_end").map(m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText, m.get("bound").asDouble))
    val cat = Catalog.endToEnd.map(m => (m.name, m.unit, m.better, m.bound.get))
    assert(json == cat)
  }

  test("per-layer metrics: names, units and directions match") {
    val json = entries("per_layer").map(m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText))
    assert(json == Catalog.perLayer.map(m => (m.name, m.unit, m.better)))
  }

  test("workloads match, every name is unique, every target is an end-to-end metric") {
    assert(entries("workloads").map(_.get("name").asText) == Catalog.Workloads)
    val names = (Catalog.endToEnd ++ Catalog.perLayer).map(_.name)
    assert(names.distinct == names)
    val e2e = Catalog.endToEnd.map(_.name).toSet
    Catalog.perLayer.foreach { m =>
      assert(m.targets.forall(e2e.contains), m.name)
      assert(m.workloads.nonEmpty && m.workloads.forall(Catalog.Workloads.contains), m.name)
    }
  }
}
