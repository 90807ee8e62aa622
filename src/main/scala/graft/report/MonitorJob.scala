package graft.report

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{MonitorOps, ReconOps, RelationalOps}

/** The composed end-to-end monitor run — reference
  * `monitor_DBB_stagein.py` main flow (monitor:1103-1165): one invocation
  * gathers the reconciliation frames and emits the four HTML reports the
  * cron job publishes —
  *
  *  - `dtsmonitor.html` (print_summary_html, monitor:522-689): per-nite
  *    summary counts, the "lasts" lines, and the top-20 failure list
  *  - `dtsmonitor_exp_short.html` (print_exposure_html reptype=short,
  *    monitor:319-418): differences only — exposures whose delivered
  *    claim and received evidence disagree
  *  - `dtsmonitor_exp_full.html` (reptype=full): all exposure states;
  *    both exposure pages carry COMPLETE per-state counts, but the
  *    row listing is capped at [[DetailRowCap]] (by orderkey) — not a
  *    complete listing on corpora past the cap
  *  - `dtsmonitor_sne.html` (print_sne_html, monitor:423-516): the SNe
  *    reconciliation with duplicate-skip marking
  *
  * Every section is built from the individually-oracled operators
  * (J5-J7, J12, W1, A2-A7, T3, S11/W2) — the per-nite summary is
  * [[ReconOps.niteSummary]], the A2/A4/A10 column rules in one aggregate
  * over one events scan — this job only CHAINS them and renders; no new
  * dataflow semantics live here. All heavy work stays distributed; only
  * report-sized final frames are collected (HtmlReport's contract).
  *
  * Concurrency: the section frames of all four pages are built and
  * collected at the same time ([[HtmlReport.collectAll]]) — each is a
  * small query bound by per-job fixed cost, so back to back they left the
  * cores mostly idle. The pages are then assembled in the fixed page and
  * section order, and the shared exposure-states cache is released only
  * after every section task has finished, on success and on failure.
  *
  * Jobs: every table schema comes from the session's resolved set
  * (`Tables.load`), so building a section starts no job; the report-sized
  * sections sort inside one partition ([[HtmlReport.sortSmall]]), so none
  * starts a range-sampling job. A warm render over the sf0.01 tables runs
  * 22 jobs; with per-call schema inference, a three-aggregate summary and
  * global sorts it ran 45.
  *
  * Determinism: each frame gets an explicit total order on a unique key
  * before render, and the caller passes the timestamp/took values — so a
  * fixed-input run is byte-stable (golden-file tested in MonitorJobSpec).
  */
object MonitorJob {

  /** Report set produced by [[run]], in write order. */
  val ReportNames: Seq[String] = Seq(
    "dtsmonitor.html", "dtsmonitor_exp_short.html",
    "dtsmonitor_exp_full.html", "dtsmonitor_sne.html")

  /** Per-exposure detail rows rendered into a page. The per-state counts
    * section is always complete; only the row listing is capped, so the
    * page stays human-sized and the collect stays driver-safe no matter
    * how large the exposure table grows. */
  val DetailRowCap: Int = 10000

  /** Compute + render + write the four reports under `outDir`; returns
    * (name → html). `generatedAt`/`tookSecs` are caller-supplied (the
    * reference stamps wall-clock into every page, monitor:329-333; tests
    * pin them for byte-stable goldens). */
  def run(spark: SparkSession, dataDir: String, outDir: String,
      generatedAt: String = java.time.Instant.now.toString,
      tookSecs: Double = 0.0): Map[String, String] = {
    val pages = render(spark, dataDir, generatedAt, tookSecs)
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    pages.foreach { case (name, html) =>
      java.nio.file.Files.write(dir.resolve(name),
        html.getBytes("UTF-8"))
    }
    pages
  }

  /** Pure render (no filesystem writes) — the testable core. Every
    * section frame of the four pages is built and collected concurrently
    * ([[HtmlReport.collectAll]]); the pages are then assembled in the fixed
    * page and section order, so they are byte-identical to a sequential
    * run. The shared `states` frame is released only after every section
    * task has finished, whether the render succeeded or failed. */
  def render(spark: SparkSession, dataDir: String, generatedAt: String,
      tookSecs: Double): Map[String, String] = {

    // ---- exposure pages (print_exposure_html): J12 state per exposure;
    // reptype=short keeps only differences (monitor:344 "only report
    // exposures which have a problem"), reptype=full lists everything.
    // One shared states frame — ReconOps.exposureStates, the SAME
    // row-level classifier the oracled q_expstate aggregates — persisted
    // for the scope of this render and built by the first section task
    // that needs it: the orders⋈lineitem pipeline runs once for all three
    // exposure sections, and the unpersist below fires after the last
    // task — no cache entry outlives the job.
    var persisted = Option.empty[DataFrame]
    lazy val states = {
      val s = ReconOps.exposureStates(spark, dataDir).persist()
      persisted = Some(s)
      s
    }
    // detail rows are capped (TakeOrderedAndProject — bounded driver
    // memory at ANY corpus size; the full frame is one row per order,
    // which at 100 TB would otherwise be a driver-OOM collect). The
    // States section always carries the complete counts.
    def detailRows(selected: DataFrame): DataFrame =
      selected.orderBy(col("o_orderkey")).limit(DetailRowCap)

    // report-sized aggregates sort in one partition (no range exchange,
    // so no sampling job); the capped row listings keep orderBy + limit
    import HtmlReport.sortSmall
    val sections: Seq[() => DataFrame] = Seq(
      // ---- summary page (print_summary_html): per-nite counts
      // A2/A4/A10 in one aggregate, the "lasts" block (S11/W2 log tails),
      // and the T3 top-20 failures
      () => sortSmall(ReconOps.niteSummary(spark, dataDir)
        .select(col("nite"), col("n_events"), col("n_errors"),
          col("n_flagged_users"), round(col("sum_value"), 4).as("sum_value")),
        col("nite")),
      () => sortSmall(MonitorOps.logTail(spark, dataDir), col("event_type")),
      () => RelationalOps.topkErrors(spark, dataDir)
        .orderBy(col("ts_sec").desc, col("event_id").desc),
      // the per-state counts of the full page; the short page's counts
      // are the same rows without `ok`, derived below without a job
      () => sortSmall(states.groupBy(col("expstate"))
        .agg(count(lit(1)).as("n_orders")), col("expstate")),
      () => detailRows(states.where(col("expstate") =!= "ok")),
      () => detailRows(states),
      // ---- SNe page (print_sne_html): J5→J7 multi-key reconciliation
      // plus the W1 duplicate-skip marking summary (mark_sne_skip,
      // monitor:922-942 — skipped rows are counted, not listed)
      () => sortSmall(MonitorOps.multikeyRecon(spark, dataDir), col("nite")),
      () => sortSmall(ReconOps.skipDuplicates(spark, dataDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("skip"), 1L).otherwise(0L)).as("n_skipped")),
        col("event_type")))

    val Seq(niteSummary, lasts, topFailures, fullStates, shortRows, fullRows,
        sneRecon, skipSummary) =
      try HtmlReport.collectAll(spark, sections)
      finally persisted.foreach(_.unpersist(false))
    // `where(expstate =!= "ok")` drops `ok` and null states alike
    val shortStates = fullStates.copy(rows = fullStates.rows.filter(r =>
      Option(r.getAs[String]("expstate")).exists(_ != "ok")))

    def exposurePage(reptype: String, perState: HtmlReport.Frame,
        rows: HtmlReport.Frame): String =
      HtmlReport.page(
        s"DTS exposure report ($reptype) — generated $generatedAt",
        Seq("States" -> perState,
          s"Exposures ($reptype, first $DetailRowCap by orderkey; " +
            "complete counts above)" -> rows),
        tookSecs)

    Map(
      "dtsmonitor.html" -> HtmlReport.page(
        s"DTS monitor summary — generated $generatedAt",
        Seq("Per-nite summary" -> niteSummary,
          "Last lines per log" -> lasts,
          "Top-20 failing users" -> topFailures),
        tookSecs),
      "dtsmonitor_exp_short.html" -> exposurePage("short", shortStates, shortRows),
      "dtsmonitor_exp_full.html" -> exposurePage("full", fullStates, fullRows),
      "dtsmonitor_sne.html" -> HtmlReport.page(
        s"DTS SNe report — generated $generatedAt",
        Seq("Per-nite reconciliation" -> sneRecon,
          "Duplicate-skip summary" -> skipSummary),
        tookSecs))
  }
}
