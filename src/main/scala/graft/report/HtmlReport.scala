package graft.report

import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** HTML report rendering — reference S19 (`monitor_DBB_stagein.py`
  * print_summary_html / print_exposure_html / print_sne_html,
  * monitor:319-689). The engine computes small final DataFrames; rendering
  * collects them to the driver (they are report-sized by construction —
  * per-nite summaries, top-20 lists) and emits a table per section.
  *
  * Two separate steps: [[collectAll]] collects every section of a page set
  * concurrently — each section is a small query whose wall time is mostly
  * per-job fixed cost, so running them back to back leaves the cores idle —
  * and [[tableHtml]] / [[page]] render purely from the collected columns
  * and rows, in the caller's fixed page and section order, so the output is
  * byte-identical to a sequential run.
  *
  * Deliberately driver-side and dependency-free: rendering is not a
  * distributed concern (SURVEY §2.1 S19).
  */
object HtmlReport {

  /** One collected section: column names (duplicates allowed) and rows. */
  final case class Frame(columns: IndexedSeq[String], rows: IndexedSeq[Row])

  object Frame {
    def of(df: DataFrame): Frame =
      Frame(df.columns.toIndexedSeq, df.collect().toIndexedSeq)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Build and collect every frame concurrently; results come back in
    * input order. Each frame is built inside its task (`() => DataFrame`),
    * so driver-side planning and schema-inference jobs overlap too.
    *
    * The pool is created per call and sized `min(#frames,
    * defaultParallelism)`; its threads are created from the calling thread,
    * so every job inherits the caller's Spark local properties (job group,
    * job tags, custom properties). On the first failure the queued frames
    * are dropped, the jobs still running are cancelled through a per-call
    * job tag, every started task is awaited, and that failure is rethrown.
    * The call returns or throws only after all of its tasks have finished.
    */
  def collectAll(spark: SparkSession, frames: Seq[() => DataFrame]): IndexedSeq[Frame] = {
    val sc = spark.sparkContext
    val tag = s"graft-report-${UUID.randomUUID()}"
    sc.addJobTag(tag)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(frames.size, sc.defaultParallelism)))
    try {
      val done = new ExecutorCompletionService[(Int, Frame)](pool)
      val tasks = frames.zipWithIndex.map { case (f, i) =>
        done.submit(() => i -> Frame.of(f()))
      }
      val out = new Array[Frame](frames.size)
      try tasks.foreach { _ =>
        val (i, frame) = done.take().get()
        out(i) = frame
      } catch { case e: Throwable =>
        tasks.foreach(_.cancel(false))
        sc.cancelJobsWithTag(tag)
        throw (e match {
          case ee: ExecutionException => ee.getCause
          case other => other
        })
      }
      out.toIndexedSeq
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      sc.removeJobTag(tag)
    }
  }

  /** Render one collected frame as an HTML table. Cells are rendered by
    * column index, so duplicated column names keep their own values.
    * `highlight` marks rows (by predicate on the row's column → cell map,
    * built only when a predicate is given) with a CSS class — the
    * monitor's 3-day recency highlight (monitor:664). */
  def tableHtml(frame: Frame, caption: String,
      highlight: Option[Map[String, String] => Boolean] = None): String = {
    val cols = frame.columns
    val sb = new StringBuilder
    sb.append(s"<table border='1'>\n<caption>${esc(caption)}</caption>\n<tr>")
    cols.foreach(c => sb.append(s"<th>${esc(c)}</th>"))
    sb.append("</tr>\n")
    frame.rows.foreach { r =>
      val cells = cols.indices.map { i =>
        if (r.isNullAt(i)) "&nbsp;" else esc(String.valueOf(r.get(i)))
      }
      val recent = highlight.exists(p => p(cols.zip(cells).toMap))
      sb.append(if (recent) "<tr class='recent'>" else "<tr>")
      cells.foreach(c => sb.append(s"<td>$c</td>"))
      sb.append("</tr>\n")
    }
    sb.append("</table>\n")
    sb.result()
  }

  /** Collect `df` and render it with a row highlight (see [[tableHtml]]). */
  def table(df: DataFrame, caption: String,
      highlight: Map[String, String] => Boolean): String =
    tableHtml(Frame.of(df), caption, Some(highlight))

  /** Full report document from collected sections: titled sections,
    * generation time stamp in the footer (monitor:329-333 prints
    * wall-clock into every page). */
  def page(title: String, sections: Seq[(String, Frame)],
      tookSecs: Double): String = {
    val body = sections.map { case (cap, f) => tableHtml(f, cap) }.mkString("\n")
    s"""<html><head><title>${esc(title)}</title>
       |<style>tr.recent { background: #fdd; }</style></head>
       |<body><h1>${esc(title)}</h1>
       |$body
       |<p>Took ${f"$tookSecs%.4f"} secs to generate</p>
       |</body></html>""".stripMargin
  }

  /** One page from DataFrames: its sections collected by [[collectAll]]. */
  def render(title: String, sections: Seq[(String, DataFrame)],
      tookSecs: Double): String = {
    val frames = sections.headOption.fold(IndexedSeq.empty[Frame]) { case (_, df) =>
      collectAll(df.sparkSession, sections.map { case (_, s) => () => s })
    }
    page(title, sections.map(_._1).zip(frames), tookSecs)
  }
}
