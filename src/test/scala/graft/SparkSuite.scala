package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSuite {
  // on 4 cores whatever SPARK_GRAFT_CPUS says: specs see one partitioning
  lazy val session: SparkSession = GraftSession.withCpus("4")
}
