package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** oracle_sql.json feeds the DuckDB compare: any SQL text must survive
  * the round trip, or the reader rejects the whole file.
  */
class VerifyJsonSpec extends AnyFunSuite {

  private val dir = "/data/sf0.001"

  test("SQL with a quote, a backslash and control characters parses back equal") {
    val sql = "SELECT 'a\"b\\c\td\re\u0001f' AS s"
    val node = Json.mapper.readTree(Verify.oracleJson(Map("q" -> sql), dir))
    assert(node.get("q").asText == sql)
  }

  test("__SF_DIR__ is replaced with the fixture dir") {
    val oracles = SparkEntry.oracleSql
    val node = Json.mapper.readTree(Verify.oracleJson(oracles, dir))
    assert(node.size == oracles.size)
    val bound = oracles.collect { case (k, v) if v.contains("__SF_DIR__") => k }
    assert(bound.nonEmpty, "no registered oracle uses __SF_DIR__")
    bound.foreach { k =>
      val sql = node.get(k).asText
      assert(sql.contains(dir) && !sql.contains("__SF_DIR__"), s"$k: $sql")
    }
    node.properties().asScala.foreach { e =>
      assert(e.getValue.asText == oracles(e.getKey).replace("__SF_DIR__", dir))
    }
  }
}
