package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** The benchmark's entry point (launched by `run.py`).
  *
  *   --workload ingest|monitor|catalog  --seed N  --seconds S
  *   --trace 0|1  --root DIR (the benchmark dir)  --work DIR (scratch)
  *   [--record]  (store this run's output fingerprints as the expected set)
  *   [--dump DIR]  (catalog: also write each query's output for tools/check.py)
  *
  * Prints a host line, then as its last line the result object with the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  * Exit status 0 means the run completed; `correct` says whether every
  * output matched. */
object Main {
  val Cores = 4

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")

  /** (steal, total) jiffies over all CPUs: time the hypervisor gave to
    * other guests shows how contended the host was. */
  private def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Median, NaN (printed as 0) when a failing run left no sample. */
  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metric(name: String, v: Double, unit: String): String =
    s""""$name": {"value": ${num(v)}, "unit": "$unit"}"""

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val name = opts("--workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts("--trace") == "1"
    val record = args.contains("--record")
    val root = Paths.get(opts("--root")).toAbsolutePath
    val work = Paths.get(opts("--work")).toAbsolutePath
    val data = root.resolve("data").resolve("sf0.01").toString
    val expected = new Expected(root.resolve("expected.tsv"), record)
    val loadBefore = loadavg()
    val cpuBefore = cpuJiffies()
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, timed from process start: session, table touch, and the
    // workload's untimed operation
    val warm = new Ledger
    val ledger = new Ledger
    val spark = session(work)
    val workload = Workload(name, root)
    workload.tables.foreach { t =>
      if (t == "events") Tables.events(spark, data).count()
      else Tables.load(spark, data, t).count()
    }
    val ctx = new Ctx(spark, data, work, seed, expected, ledger,
      opts.get("--dump").map(Paths.get(_).toAbsolutePath))
    workload.prepare(ctx, warm)
    val setupS = (System.currentTimeMillis() - processStart) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val untracedPasses = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    // with tracing, passes alternate untraced/traced so the traced run
    // also measures its own overhead; its first pass, which holds the
    // slower first timed operation, is left out of that comparison. Past
    // the deadline, a missing pass is retried only for a bounded grace
    // period, so a failing program ends
    val grace = deadline + 60L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline || (System.nanoTime() < grace &&
        (untracedPasses.isEmpty || (trace && tracedPasses.isEmpty)))) {
      val traced = trace && k % 2 == 1
      ctx.tracer = if (traced) tracer else None
      if (traced) tracer.get.attach()
      val p = try workload.pass(ctx, deadline) finally if (traced) tracer.get.detach()
      if (!trace || k > 0) p.foreach(s => (if (traced) tracedPasses else untracedPasses) += s)
      k += 1
    }
    ctx.tracer = None
    // layers outside the workload's own pass, run once after it
    val extra = new Ledger
    if (trace) workload.traceOnce(ctx, extra)
    expected.save()

    val opTimes = ledger.times
    val opCpu = ledger.cpuTimes
    val attempted = ledger.attempted + warm.attempted + extra.attempted
    val failed = ledger.failed + warm.failed + extra.failed
    val gcMs = Trace.gcMs()
    val loadAfter = loadavg()
    val cpuAfter = cpuJiffies()
    val stealShare = (cpuAfter._1 - cpuBefore._1).toDouble / (cpuAfter._2 - cpuBefore._2).max(1L)
    val tail = Stats.tail(opTimes)
    (ledger.errors ++ warm.errors ++ extra.errors).take(5).foreach(e => System.err.println(s"[perfbench] $e"))
    println(s"""{"host": {"available_processors": ${Runtime.getRuntime.availableProcessors}, """ +
      s""""loadavg_before": "$loadBefore", "loadavg_after": "$loadAfter", """ +
      s""""cpu_steal_share": ${num(stealShare)}, "jvm_gc_ms": $gcMs, """ +
      s""""workload": "$name", "seed": $seed, "trace": ${if (trace) 1 else 0}, """ +
      s""""passes": ${untracedPasses.size + tracedPasses.size}, "ops": ${opTimes.size}, """ +
      s""""op_p50_s": ${num(med(opTimes))}, "op_tail": ${tail.map { case (p, v) =>
        s"""{"pct": $p, "s": ${num(v)}}""" }.getOrElse("null")}, "op_n": ${opTimes.size}, """ +
      s""""failed_share": ${num(if (attempted == 0) 0.0 else failed.toDouble / attempted)}, """ +
      s""""setup_s": ${num(setupS)}}}""")

    val metrics: Seq[String] =
      if (!trace) Seq(
        metric("setup_s", setupS, "s"),
        metric("pass_s", med(untracedPasses.toSeq), "s"),
        metric("op_p50_s", med(opTimes), "s"),
        metric("op_cpu_s", med(opCpu), "s"),
        metric("items_per_s", workload.items / opTimes.sum, "1/s"),
        metric("peak_rss_mb", peakRssMb(), "MB"))
      else {
        val t = tracer.get
        t.drain()
        val ops = t.all.filter(_.op)
        val totals = ops.map(t.total)
        val n = ops.size.max(1).toDouble
        val wall = ops.map(_.seconds).sum
        val taskS = totals.map(_.taskMs).sum / 1e3
        val mb = 1024.0 * 1024.0
        val builds = t.all.filter(_.name == "driver.build")
        val tracedMed = med(tracedPasses.toSeq)
        val untracedMed = med(untracedPasses.toSeq)
        val values: Map[String, Double] = workload.layers(ctx) ++ Map(
          "spark.jobs" -> totals.map(_.jobs).sum / n,
          "spark.stages" -> totals.map(_.stages).sum / n,
          "spark.tasks" -> totals.map(_.tasks).sum / n,
          "spark.no_task_s" -> ops.zip(totals).map { case (s, c) =>
            Tracer.noTaskSeconds(s.startMs, s.endMs, c.taskIntervals.toSeq) }.sum / n,
          "spark.core_busy_share" -> (if (wall > 0) taskS / (Cores * wall) else 0.0),
          "spark.plan_s" -> totals.map(_.planMs).sum / 1e3 / n,
          "spark.task_s" -> taskS / n,
          "spark.shuffle_read_mb" -> totals.map(_.shuffleRead).sum / mb / n,
          "spark.shuffle_write_mb" -> totals.map(_.shuffleWrite).sum / mb / n,
          "spark.spill_mb" -> totals.map(_.spill).sum / mb / n,
          "spark.gc_s" -> ops.map(_.gcSeconds).sum / n,
          "spark.input_mb" -> totals.map(_.input).sum / mb / n,
          "spark.output_mb" -> totals.map(_.output).sum / mb / n,
          "driver.build_jobs" ->
            builds.map(b => t.total(b).jobs).sum.toDouble / builds.size.max(1),
          "trace.pass_s" -> tracedMed,
          "trace.untraced_pass_s" -> untracedMed,
          "trace.overhead_share" -> (tracedMed / untracedMed - 1.0),
          "run.failed_share" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted))
        Layers.all.map { case (k, u) => metric(k, values.getOrElse(k, 0.0), u) }
      }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    spark.stop()
  }
}

/** Per-layer metric names with their units, in families. `common` is
  * measured by every workload; `ingest` and `catalog` only by a traced
  * `ingest` run; `monitor` and `curation` only by a traced `monitor` run.
  * Every traced run prints the whole list, as `BENCHMARK.json`'s
  * `per_layer` asks, so a family owned by the other workload reads 0. */
object Layers {
  private def secs(names: Seq[String]): Seq[(String, String)] = names.map(_ -> "s")

  val common: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.no_task_s" -> "s", "spark.core_busy_share" -> "share", "spark.plan_s" -> "s",
    "spark.task_s" -> "s", "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "driver.build_s" -> "s", "driver.build_jobs" -> "count",
    "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_share" -> "share",
    "run.failed_share" -> "share")

  val ingest: Seq[(String, String)] = Seq(
    "ingest.io_read_per_payload_byte" -> "ratio",
    "ingest.io_write_per_payload_byte" -> "ratio",
    "functions.FitsHeader.parseAll_s" -> "s",
    "ingest.registry_files" -> "count",
    "ingest.late_vs_early" -> "ratio")

  val monitor: Seq[(String, String)] = secs(
    Seq("niteRollup", "errorsPerNite", "exposureStates", "skipDuplicates")
      .map(o => s"operators.ReconOps.${o}_s") ++
    Seq("unionAccumulate", "logTail", "multikeyRecon").map(o => s"operators.MonitorOps.${o}_s") ++
    Seq("operators.RelationalOps.topkErrors_s", "report.MonitorJob.residual_s"))

  val curation: Seq[(String, String)] = secs(
    CurationSteps.steps ++ CurationSteps.derivationNames.map(d => s"derive.${d}_s"))

  val catalog: Seq[(String, String)] = secs(CatalogWorkload.catalogs.map(c => s"operators.${c}_s"))

  val all: Seq[(String, String)] = common ++ ingest ++ monitor ++ curation ++ catalog
}
