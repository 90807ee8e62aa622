package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.report.MonitorJob

/** The composed monitor run (reference monitor_DBB_stagein.py:319-689):
  * the four reports assembled from the individually-oracled operators,
  * pinned end-to-end as GOLDEN FILES over the fixed sf0.001 testdata.
  *
  * Regenerate goldens after an intentional report change with
  * `GRAFT_UPDATE_GOLDEN=1 sbt "testOnly graft.MonitorJobSpec"` (writes
  * into src/test/resources/golden/), then review the diff like any code.
  */
class MonitorJobSpec extends SparkSpec {

  private val generatedAt = "2024-06-01T00:00:00Z"
  private def renderAll: Map[String, String] =
    MonitorJob.render(spark, sfDir, generatedAt, tookSecs = 0.0)

  test("four reports render and a fixed-input run is byte-stable") {
    val a = renderAll
    val b = renderAll
    assert(a.keySet == MonitorJob.ReportNames.toSet)
    assert(a == b, "same inputs must render byte-identical reports")
    a.values.foreach { html =>
      assert(html.startsWith("<html>") && html.endsWith("</html>"))
      assert(html.contains(generatedAt))
    }
  }

  test("run() writes all four reports to the output dir") {
    val out = Files.createTempDirectory("monitor").toString
    val pages = MonitorJob.run(spark, sfDir, out, generatedAt, 0.0)
    MonitorJob.ReportNames.foreach { n =>
      val p = Paths.get(out, n)
      assert(Files.exists(p), s"missing report $n")
      assert(new String(Files.readAllBytes(p), "UTF-8") == pages(n),
        "file content = rendered content")
    }
  }

  test("short exposure report lists only differences; full lists all") {
    val pages = renderAll
    def dataRows(html: String): Int = html.sliding(4).count(_ == "<tr>")
    val short = dataRows(pages("dtsmonitor_exp_short.html"))
    val full = dataRows(pages("dtsmonitor_exp_full.html"))
    assert(short < full,
      s"short ($short rows) must be a strict subset of full ($full rows)")
    assert(!pages("dtsmonitor_exp_short.html").contains("<td>ok</td>"),
      "short report must not list ok exposures")
  }

  test("reports match the golden files (fixed-seed data, byte-exact)") {
    val goldenDir = Paths.get("src/test/resources/golden")
    val pages = renderAll
    if (sys.env.get("GRAFT_UPDATE_GOLDEN").contains("1")) {
      Files.createDirectories(goldenDir)
      pages.foreach { case (n, html) =>
        Files.write(goldenDir.resolve(n), html.getBytes("UTF-8")) }
      info(s"goldens regenerated under $goldenDir")
    }
    MonitorJob.ReportNames.foreach { n =>
      val p = goldenDir.resolve(n)
      assert(Files.exists(p),
        s"golden missing: $p (regenerate with GRAFT_UPDATE_GOLDEN=1)")
      val golden = new String(Files.readAllBytes(p), "UTF-8")
      assert(pages(n) == golden, s"$n drifted from its golden file")
    }
  }

  /** A copy of the monitor's input tables without `missing`. */
  private def dataDirWithout(missing: String): String = {
    val dir = Files.createTempDirectory("monitor-missing")
    Seq("events", "orders", "lineitem").filterNot(_ == missing).foreach { t =>
      Files.copy(Paths.get(sfDir, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  /** Active job ids once the listener bus has caught up. A failed or
    * cancelled job wakes its caller just before its end event is posted,
    * so the ids are re-read briefly until they settle. */
  private def activeJobsSettled(sc: org.apache.spark.SparkContext): Seq[Int] = {
    val deadline = System.nanoTime() + 2000000000L
    var ids = Seq.empty[Int]
    while ({
      ListenerBusAccess.drain(sc)
      ids = sc.statusTracker.getActiveJobIds.toSeq
      ids.nonEmpty && System.nanoTime() < deadline
    }) Thread.sleep(50)
    ids
  }

  // lineitem fails the three exposure sections; events fails every other
  // section while the exposure sections persist and read the shared states
  Seq("lineitem", "events").foreach { missing =>
    test(s"without $missing.parquet render rethrows the section's error, " +
        "leaving no job running and no cache behind") {
      val sc = spark.sparkContext
      val cachedBefore = sc.getPersistentRDDs.keySet
      val err = intercept[Exception] {
        MonitorJob.render(spark, dataDirWithout(missing), generatedAt, 0.0)
      }
      assert(err.getMessage.contains(s"$missing.parquet"), err.getMessage)
      assert(activeJobsSettled(sc).isEmpty,
        "every section task must have finished when render throws")
      assert(sc.getPersistentRDDs.keySet == cachedBefore,
        "the shared states frame must be released on failure")
      assert(renderAll.keySet == MonitorJob.ReportNames.toSet,
        "a later render is unaffected")
    }
  }

  test("a warm render starts no job from Tables and no range-sampling sort") {
    // every job's stage names its call site: a schema-inference read in
    // Tables would carry Tables' frame there. Every section's executed
    // plan, AQE stages included, must hold no range-partitioned exchange:
    // preparing one starts a sampling job
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sc = spark.sparkContext
    renderAll
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        job.stageInfos.foreach(st => sites.add(st.details))
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val queries = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    try {
      renderAll
      ListenerBusAccess.drain(sc)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(jobs)
    }
    import scala.jdk.CollectionConverters._
    assert(!sites.isEmpty && plans.size == 8, s"${plans.size} section plans")
    val fromTables = sites.asScala.filter(_.contains("graft.sources.Tables"))
    assert(fromTables.isEmpty, s"jobs started by Tables:\n${fromTables.mkString("\n")}")
    val helper = new AdaptiveSparkPlanHelper {}
    val ranged = plans.asScala.toSeq.flatMap(p => helper.collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    })
    assert(ranged.isEmpty, s"range exchanges:\n${ranged.mkString("\n")}")
  }

  test("the caller's local properties reach every job render starts; " +
      "no cache outlives the render") {
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet
    val key = "graft.test.monitor.caller"
    val seen = mutable.ArrayBuffer.empty[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(job.properties).flatMap(p => Option(p.getProperty(key)))
      }
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "render-1")
    try {
      renderAll
      ListenerBusAccess.drain(sc)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    assert(seen.nonEmpty, "render must start jobs")
    assert(seen.forall(_.contains("render-1")),
      s"${seen.count(!_.contains("render-1"))} of ${seen.size} jobs lost the property")
    assert(sc.getPersistentRDDs.keySet == cachedBefore)
  }
}
