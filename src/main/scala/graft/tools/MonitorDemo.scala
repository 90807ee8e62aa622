package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.operators.{MonitorOps, ReconOps, RelationalOps}
import graft.report.HtmlReport

/** E2 end-to-end: the monitor job as one composition — gather (scans +
  * derived nite), summarize (anti-joins, rollups, state classification),
  * render (HTML report with recency highlighting). Writes report.html.
  *
  * Run: sbt "runMain graft.tools.MonitorDemo [sfDir] [outFile]"
  */
object MonitorDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/report.html")
    val spark = graft.LocalSession()
    val t0 = System.nanoTime()

    // nightsum index (S14): fetch is driver-side — here a canned page, in
    // production the HTTP client's response body
    val indexHtml = (20240101 to 20240105)
      .map(n => s"""<a href="nightsum-$n/index.html">$n</a>""").mkString("\n")
    val nightsums = graft.sources.NightsumIndex.parse(spark, indexHtml)

    val sections = Seq(
      "Per-nite event rollup (with nightsum links)" ->
        ReconOps.niteRollup(spark, sfDir)
          .join(nightsums, Seq("nite"), "left_outer")
          .orderBy(col("nite").desc),
      "Errors per nite" ->
        ReconOps.errorsPerNite(spark, sfDir).orderBy(col("nite").desc),
      "Order state reconciliation" -> ReconOps.expstate(spark, sfDir),
      "Flagged users per nite (union accumulate)" ->
        MonitorOps.unionAccumulate(spark, sfDir).orderBy(col("nite").desc),
      "Top-20 recent errors" -> RelationalOps.topkErrors(spark, sfDir))

    val html = HtmlReport.render("DBB stage-in monitor", sections,
      (System.nanoTime() - t0) / 1e9)
    Files.writeString(Paths.get(out), html)
    println(s"[demo] wrote $out (${html.length} chars, " +
      s"${sections.size} sections)")

    // the composed production run: all four reference reports in one call
    val reportDir = Option(Paths.get(out).getParent)
      .getOrElse(Paths.get(".")).resolve("dtsmonitor")
    val pages = graft.report.MonitorJob.run(spark, sfDir, reportDir.toString)
    println(s"[demo] MonitorJob wrote ${pages.size} reports under $reportDir: " +
      pages.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
