package graft

import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Runs a set of independent driver-side Spark jobs concurrently, so their
  * tasks share the scheduler instead of queueing behind each other.
  *
  * Every call runs under its own job group, so the whole set can be found
  * (and cancelled) together, and each job's description names the task
  * that submitted it. The first failure cancels the group, waits until
  * every sibling has stopped — no job of the call outlives it — and
  * rethrows naming the failed task.
  */
object DriverJobs {

  /** A fixed pool of `threads` daemon threads named `name-N`. The threads
    * do NOT inherit the spawning thread's inheritable thread-locals:
    * Spark's local properties (job group, description, SQL execution id)
    * and its active session would otherwise be copied from whichever
    * caller happened to start the thread and go stale on every later task.
    */
  def daemonPool(name: String, threads: Int): ExecutorService = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(null, r, s"$name-${n.incrementAndGet()}", 0L, false)
      t.setDaemon(true)
      t
    })
  }

  /** Runs every `(name, body)` on `pool` and returns the results in
    * input order. Job descriptions read `"<label>: <name>"`; jobs carry the
    * caller's job tags, so a [[Metrics]] recorder counts them.
    */
  def runAll[T](spark: SparkSession, pool: ExecutorService, label: String)(
      tasks: Seq[(String, () => T)]): Seq[T] = {
    val sc = spark.sparkContext
    val group = s"graft-$label-${UUID.randomUUID()}"
    val tags = sc.getJobTags()
    val done = new ExecutorCompletionService[T](pool)
    val futures = tasks.map { case (name, body) =>
      done.submit(() => {
        sc.setJobGroup(group, s"$label: $name")
        sc.addJobTags(tags)
        SparkSession.setActiveSession(spark)
        try body()
        finally {
          sc.clearJobGroup()
          sc.clearJobTags()
          SparkSession.clearActiveSession()
        }
      })
    }
    try tasks.indices.foreach { _ =>
      val f = done.take()
      try f.get()
      catch { case e: ExecutionException =>
        val name = tasks(futures.indexWhere(_ eq f))._1
        throw new RuntimeException(
          s"$label: '$name' failed: ${e.getCause.getMessage}", e.getCause)
      }
    } catch { case e: Throwable =>
      // also cancels the jobs siblings submit from here on, so waiting
      // for every task to return cannot wait on a job that still runs
      sc.cancelJobGroupAndFutureJobs(group, s"a sibling task of $label failed")
      futures.foreach(f => try f.get() catch { case _: Exception => () })
      throw e
    }
    futures.map(_.get())
  }
}
