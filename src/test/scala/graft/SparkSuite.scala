package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"

  /** A writable copy of the fixture's tables in a fresh temp dir. */
  def fixtureCopy(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    Files.list(Paths.get(sfDir)).iterator().asScala
      .foreach(f => Files.copy(f, dir.resolve(f.getFileName.toString)))
    dir
  }
}

object SparkSuite {
  // on 4 cores whatever SPARK_GRAFT_CPUS says: specs see one partitioning
  lazy val session: SparkSession = GraftSession.withCpus("4")
}
