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
  * `mergeSchema`, is not an inference and is allowed. No engine write may
  * drop a pinned schema unconditionally with `Catalog.invalidate`.
  * Likewise only [[Metrics]] may listen to Spark, and only
  * `spark.sql.extensions` may add optimizer rules. No Spark session
  * needed — run from the repo root.
  */
class ReadPolicySpec extends AnyFunSuite {

  private def scalaFiles(root: String): List[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }
  private val sources = scalaFiles("src/main/scala")

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

  test("only Catalog.scala calls Catalog.invalidate; engine writes report their schema") {
    val hits = for {
      p <- sources if p.getFileName.toString != "Catalog.scala"
      line <- stripComments(Files.readString(p)).linesIterator
      if line.contains("Catalog.invalidate")
    } yield s"$p: ${line.trim}"
    assert(hits.isEmpty, "a write path must report its schema through " +
      s"Catalog.committed, which drops a pin only on a change:\n${hits.mkString("\n")}")
  }

  test("Metrics.scala holds the only SparkListener; extraOptimizations is unused") {
    val hits = for {
      p <- sources ++ scalaFiles("src/test/scala")
      name = p.getFileName.toString if name != "ReadPolicySpec.scala" // names both
      line <- stripComments(Files.readString(p)).linesIterator
      if line.contains("extraOptimizations") ||
        (line.contains("SparkListener") && name != "Metrics.scala")
    } yield s"$p: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
