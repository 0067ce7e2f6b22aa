package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"

  /** Jobs started while `body` ran: id → (job group, description), plus
    * the ids that ended. The listener bus is asynchronous, so a marker job
    * submitted after `body` returns drains it: once the marker's end is
    * seen, every event posted before it has been delivered. Streaming
    * queries' jobs are left out.
    */
  protected def jobsDuring(body: => Unit)
      : (Map[Int, (String, String)], Set[Int]) = {
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val started = mutable.LinkedHashMap.empty[Int, (String, String)]
    val ended = mutable.Set.empty[Int]
    @volatile var markerEnded = false
    val markerIds = mutable.Set.empty[Int]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        if (p.getProperty("spark.jobGroup.id") == marker) markerIds += e.jobId
        else if (p.getProperty("sql.streaming.queryId") == null)
          started(e.jobId) = (p.getProperty("spark.jobGroup.id"),
            p.getProperty("spark.job.description"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (markerIds(e.jobId)) markerEnded = true else ended += e.jobId
      }
    }
    sc.addSparkListener(l)
    try {
      try body
      finally {
        sc.setJobGroup(marker, marker)
        try spark.range(1).collect() finally sc.clearJobGroup()
      }
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerEnded, "listener bus did not drain")
      l.synchronized((started.toMap, ended.toSet))
    } finally sc.removeSparkListener(l)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // static conf — must be set on the FIRST session of the JVM; also
      // proves the injected rule/functions coexist with every other spec
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
