package graft.report

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import graft.functions.Concurrently

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

  /** `df` sorted by `cols` inside ONE partition. A global `orderBy`
    * plans a range exchange, and preparing that exchange starts a
    * sampling job of its own; a report-sized aggregate (a row per nite,
    * state or event type) fits one task, so the sort needs neither.
    * `coalesce(1)` adds no exchange: only the frame's last stage runs as
    * one task. Unbounded frames keep `orderBy` + `limit`
    * (TakeOrderedAndProject), never this. */
  def sortSmall(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Build and collect every frame concurrently
    * ([[graft.functions.Concurrently.all]]); results come back in input
    * order, and the first failure cancels the rest and is rethrown. */
  def collectAll(spark: SparkSession, frames: Seq[() => DataFrame]): IndexedSeq[Frame] =
    Concurrently.all(spark, frames.map(f => () => Frame.of(f())))

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
