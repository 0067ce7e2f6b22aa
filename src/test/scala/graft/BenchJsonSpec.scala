package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The Bench output line is read by other tools: its keys must not drift,
  * and it must stay legal JSON whatever the readings or the sf path are.
  */
class BenchJsonSpec extends AnyFunSuite {

  private val sf = "/data/sf \"quoted\" \\ dir"
  private val line = Bench.render(commit = "abc123", sf = sf,
    results = Seq("q1" -> Seq(3.0, 1.0, 2.0), "q2" -> Seq.empty),
    queryLoad = Map("q1" -> Double.NaN),
    calBefore = Double.NaN, calAfter = 0.5,
    loadBefore = "", loadAfter = "0.10,0.20,0.30", loadGuard = "unreadable",
    remeasured = Seq("q1"),
    outliers = Seq.empty,
    remeasureFailed = Seq.empty, failed = Seq("q2"),
    prewarmFailed = Seq("Graph"))

  private def keys(node: com.fasterxml.jackson.databind.JsonNode): Set[String] =
    node.properties().asScala.map(_.getKey).toSet

  test("the line carries the committed artifact's keys, less the deprecated one, plus prewarm_failed") {
    val committed = Json.mapper.readTree(
      Files.readString(Paths.get("bench_local.json")))
    val expected = keys(committed) - "remeasure_extra_repeats" + "prewarm_failed"
    assert(keys(Json.mapper.readTree(line)) == expected)
  }

  test("NaN calibration and loadavg readings read back as JSON null") {
    val node = Json.mapper.readTree(line)
    assert(node.get("calibration_before_sec").isNull)
    assert(node.get("box_calibration_sec").isNull)
    assert(node.get("calibration_after_sec").asDouble == 0.5)
    assert(node.get("queries_load").get("q1").isNull)
  }

  test("an sf path with a quote and a backslash round-trips") {
    assert(Json.mapper.readTree(line).get("sf").asText == sf)
  }

  test("a query with no successful repeat is listed only as failed") {
    val node = Json.mapper.readTree(line)
    assert(keys(node.get("queries")) == Set("q1"))
    assert(node.get("queries").get("q1").asDouble == 2.0)
    assert(node.get("queries_min").get("q1").asDouble == 1.0)
    assert(node.get("queries_n").get("q1").asInt == 3)
    assert(node.get("failed").get(0).asText == "q2")
    assert(node.get("prewarm_failed").get(0).asText == "Graph")
  }
}
