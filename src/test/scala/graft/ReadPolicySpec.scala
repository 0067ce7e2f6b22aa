package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Catalog` decides every parquet read policy: the schema registry
  * (`Catalog.read`), partitioned dirs (`Catalog.readPartitioned`) and
  * evolved-footer reads (`Catalog.readEvolved`). This source scan keeps a
  * second policy from growing back: no retired read helper may reappear,
  * and no file but `Catalog.scala` may infer a parquet schema itself. A
  * read that passes an explicit schema, or merges footers with
  * `mergeSchema`, is not an inference and is allowed. No Spark session
  * needed — pure source reconciliation, run from the repo root.
  */
class ReadPolicySpec extends AnyFunSuite {

  private val sources: List[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def stripComments(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  // `.read`, then only `.option(…)`/`.options(…)` calls, then `.parquet(`
  private val bareRead =
    raw"\.read((?:\s*\.options?\((?:[^()]|\([^()]*\))*\))*)\s*\.parquet\(".r

  test("no retired read helper (readStable, readCurrent) appears in src/main") {
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("readStable") || line.contains("readCurrent")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only Catalog.scala infers a parquet schema") {
    assert(sources.exists(_.getFileName.toString == "Catalog.scala"))
    val hits = for {
      p <- sources if p.getFileName.toString != "Catalog.scala"
      m <- bareRead.findAllMatchIn(stripComments(Files.readString(p)))
      if !m.group(1).contains("mergeSchema")
    } yield s"$p: ${m.matched}"
    assert(hits.isEmpty,
      "schema-less parquet reads outside Catalog.scala (route them through " +
        s"Catalog.read or Catalog.readPartitioned):\n${hits.mkString("\n")}")
  }
}
