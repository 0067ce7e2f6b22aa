package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** A failed index build names its module and does not skip the others. */
class PrewarmSpec extends SparkSuite {

  test("a missing documents table fails its readers' prewarm, not the others'") {
    val dir = Files.createTempDirectory("graft-prewarm-")
    try {
      Files.list(Paths.get(sfDir)).iterator().asScala
        .filter(_.getFileName.toString != "documents.parquet")
        .foreach(p => Files.copy(p, dir.resolve(p.getFileName)))
      val failed = SparkEntry.prewarm(spark, dir.toString)
      assert(failed == Seq("Dedup", "Search", "Multimodal", "Graph", "TextOps"))
      // Profile reads only the TPC-H tables and runs after the failed Graph:
      // its foreign-key artifact for this fixture copy must exist
      val key = Paths.get(Scratch.artifactPath(spark, "probe", "v", dir.toString))
        .getFileName.toString
      val fk = Paths.get(Scratch.root(spark), "fk_distinct")
      val built = Files.list(fk).iterator().asScala
        .exists(v => Files.exists(v.resolve(key).resolve("_SUCCESS")))
      assert(built, s"no fk_distinct artifact for key $key under $fk")
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.foreach(deleteTree)
    Files.deleteIfExists(p)
  }
}
