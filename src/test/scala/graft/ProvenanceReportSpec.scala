package graft

import java.nio.file.Files
import graft.report.HtmlReport
import graft.streaming.Provenance
import graft.operators.ReconOps
import org.apache.spark.sql.functions._

class ProvenanceReportSpec extends SparkSpec {

  test("task ids are sequential and stamped rows join back to task info") {
    val dir = Files.createTempDirectory("tasks").toString
    val t1 = Provenance.createTask(spark, dir, "DBB_stagein_to_DBB", "round1")
    val t2 = Provenance.createTask(spark, dir, "DBB_stagein_to_DBB", "round2")
    assert(t1 == 1L && t2 == 2L)
    val tasks = Provenance.loadTasks(spark, dir)
    assert(tasks.count() == 2)
    import spark.implicits._
    val stamped = Seq(("f1", t1), ("f2", t2), ("f3", t2))
      .toDF("filename", "task_id")
    val joined = stamped.join(broadcast(tasks.select(col("task_id"),
      col("prov_msg"))), Seq("task_id"), "left_outer")
    assert(joined.where(col("prov_msg") === "round2").count() == 2)
  }

  test("concurrent task creation claims distinct ids (atomic marker)") {
    val dir = Files.createTempDirectory("tasks_conc").toString
    Provenance.createTask(spark, dir, "seed", "m0")
    // every racer computes the SAME max+1 seed (the table is not
    // re-read inside the claim loop), so without the atomic marker all
    // of them would return one id; the claim must fan them out
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ids = Await.result(
      Future.sequence((1 to 6).map(i => Future {
        Provenance.createTask(spark, dir, s"racer$i", "m")
      })), 120.seconds)
    assert(ids.toSet.size == 6, s"ids must be distinct: $ids")
    assert(!ids.contains(1L), "seed id was already claimed")
    val tasks = Provenance.loadTasks(spark, dir)
    assert(tasks.count() == 7)
    assert(tasks.select("task_id").distinct().count() == 7)
  }

  test("html report renders sections, escapes, and highlights") {
    import spark.implicits._
    val df = Seq(("a<b", 1, "20240105"), ("ok", 2, "20240101"))
      .toDF("name", "n", "nite")
    val html = HtmlReport.render("Nightly summary",
      Seq("Counts" -> df.toDF()), tookSecs = 0.1234)
    assert(html.contains("a&lt;b"))
    assert(html.contains("<caption>Counts</caption>"))
    assert(html.contains("Took 0.1234 secs"))
    val hl = HtmlReport.table(df.toDF(), "C",
      highlight = m => m("nite") > "20240103")
    assert(hl.contains("class='recent'"))
  }

  test("report pipeline end-to-end: recon frames to html") {
    val html = HtmlReport.render("recon",
      Seq("per-nite" -> ReconOps.niteRollup(spark, sfDir).orderBy(col("nite")),
        "states" -> ReconOps.expstate(spark, sfDir)), 0.5)
    assert(html.contains("per-nite"))
    assert(html.count(_ == '<') > 20)
  }
}
