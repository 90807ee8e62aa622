package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions.{col, udf}
import graft.report.HtmlReport

/** Table rendering from collected frames (monitor:319-689 page tables). */
class HtmlReportSpec extends SparkSpec {

  test("duplicated column names render each cell from its own column") {
    import spark.implicits._
    val df = Seq(("x", 1, 2)).toDF("k", "a", "b")
      .select(col("k"), col("a"), col("b").as("a"))
    assert(df.columns.toSeq == Seq("k", "a", "a"))
    val html = HtmlReport.table(df, "dup", highlight = m => m("a") == "2")
    assert(html.contains("<th>k</th><th>a</th><th>a</th>"))
    assert(html.contains("<tr class='recent'><td>x</td><td>1</td><td>2</td></tr>"),
      html)
    val plain = HtmlReport.render("dup", Seq("dup" -> df), 0.0)
    assert(plain.contains("<tr><td>x</td><td>1</td><td>2</td></tr>"), plain)
  }

  test("collectAll returns frames in input order and nulls render blank") {
    import spark.implicits._
    val frames = HtmlReport.collectAll(spark, (0 until 6).map { i =>
      () => Seq((i, Option.empty[String])).toDF("i", "s")
    })
    assert(frames.map(_.rows.head.getInt(0)) == (0 until 6))
    assert(HtmlReport.tableHtml(frames(3), "c")
      .contains("<tr><td>3</td><td>&nbsp;</td></tr>"))
  }

  test("collectAll rethrows the first failure, cancels running jobs, awaits every task") {
    val building = new CountDownLatch(1)
    val thrown = new CountDownLatch(1)
    val built = new AtomicBoolean(false)
    // runs until its task is killed (or 60 s pass)
    val untilKilled = udf { (x: Long) =>
      HtmlReportSpec.jobRunning.countDown()
      val end = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (System.nanoTime() < end && !TaskContext.get().isInterrupted()) Thread.sleep(20)
      x
    }
    val frames: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => {
        assert(building.await(60, TimeUnit.SECONDS))
        assert(HtmlReportSpec.jobRunning.await(60, TimeUnit.SECONDS))
        thrown.countDown()
        throw new IllegalStateException("section failed")
      },
      () => {
        building.countDown()
        assert(thrown.await(60, TimeUnit.SECONDS))
        Thread.sleep(300)
        built.set(true)
        spark.range(1).toDF()
      },
      () => spark.range(1).select(untilKilled(col("id"))))
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException](HtmlReport.collectAll(spark, frames))
    assert(err.getMessage == "section failed")
    assert(built.get, "a section still being built must finish before collectAll throws")
    assert(System.nanoTime() - t0 < TimeUnit.SECONDS.toNanos(30),
      "the running job must be cancelled, not waited out")
  }
}

object HtmlReportSpec {
  /** Counted down by the running UDF; a static, so tasks reach the same
    * latch as the driver in local mode instead of a serialized copy. */
  val jobRunning = new CountDownLatch(1)
}
