package graft.functions

import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Driver-side concurrency for independent Spark actions: a report's
  * sections, an ingest batch's registration appends. Each such action is
  * mostly per-job fixed cost (analysis, planning, scheduling, commit), so
  * running them back to back leaves the cores idle; run together, their
  * driver work and their tasks overlap.
  */
object Concurrently {

  /** Run every task concurrently and return the results in input order.
    * Each task is a thunk, so driver-side analysis and planning run inside
    * it and overlap too.
    *
    * The pool is created per call and sized `min(#tasks,
    * defaultParallelism)`; its threads are created from the calling thread,
    * so every job inherits the caller's Spark local properties (job group,
    * job tags, custom properties). On the first failure the queued tasks
    * are dropped, the jobs still running are cancelled through a per-call
    * job tag, every started task is awaited, and that failure is rethrown.
    * The call returns or throws only after all of its tasks have finished.
    */
  def all[T](spark: SparkSession, tasks: Seq[() => T]): IndexedSeq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-concurrently-${UUID.randomUUID()}"
    sc.addJobTag(tag)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, sc.defaultParallelism)))
    try {
      val done = new ExecutorCompletionService[(Int, T)](pool)
      val started = tasks.zipWithIndex.map { case (t, i) =>
        done.submit(() => i -> t())
      }
      val out = new Array[Any](tasks.size)
      try started.foreach { _ =>
        val (i, v) = done.take().get()
        out(i) = v
      } catch { case e: Throwable =>
        started.foreach(_.cancel(false))
        sc.cancelJobsWithTag(tag)
        throw (e match {
          case ee: ExecutionException => ee.getCause
          case other => other
        })
      }
      out.toIndexedSeq.map(_.asInstanceOf[T])
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      sc.removeJobTag(tag)
    }
  }
}
