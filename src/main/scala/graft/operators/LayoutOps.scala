package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Data-layout operators — Z-order (Morton) clustering for
  * multi-dimensional data skipping. At 100 TB the scan cost of a table
  * is set by its LAYOUT, not its operators: parquet readers skip whole
  * files/row-groups via min/max statistics, and a linear sort bounds
  * exactly ONE dimension — a time-sorted event table answers time-range
  * scans cheaply but reads everything for a user-keyed lookup. Z-order
  * interleaves the bits of two (or more) key dimensions so that
  * z-contiguous files are 2-D TILES: both dimensions get tight per-file
  * min/max boxes and both predicate families skip (the Delta/Iceberg
  * `OPTIMIZE ZORDER BY` layout, public algorithm — Morton 1966).
  *
  * Demonstrated on the events table over its two real access
  * dimensions, `user_id` (debugging: one user's trail) × `ts`
  * (dashboards: a time window):
  *
  *  - bucket coordinates are min/max-scaled integers
  *    (`(v - min) * B div (max - min + 1)`, non-negative exact
  *    integer math — one 1-row stats aggregate broadcast onto the
  *    scan, the BM25 corpus-stats discipline);
  *  - `z` is the 4-bit × 4-bit bit-interleave, written as a plain
  *    shift/mask integer expression string that parses IDENTICALLY in
  *    Spark SQL and DuckDB — the oracle greps the same bytes;
  *  - file assignment is the HISTOGRAM-TRICK form (the
  *    [[TextOps]] percentile discipline): a ≤256-row key histogram,
  *    cumulative counts, `file = cum_before * F div n` — deterministic
  *    (oracle-able) and skew-aware, where the production writer's
  *    `repartitionByRange(F, $"z")` samples its range boundaries
  *    (correct, but nondeterministic — so the declared queries grade
  *    the histogram twin; the window runs over the 256-row histogram,
  *    never the corpus);
  *  - [[zorderSkipping]] measures the payoff the layout exists for:
  *    for one planted 2-D predicate, how many files a min/max-pruning
  *    reader must touch under the z layout vs the linear
  *    time-major layout. Linear bounds only time; z bounds both.
  *
  * Scale shape: one stats row + one map-side bucket/interleave pass +
  * one ≤256-row histogram + one F-group box aggregate. Nothing global
  * but the tiny histogram window.
  */
object LayoutOps {

  /** Buckets per dimension (4 bits; z spans 0..255). */
  val Buckets = 16

  /** Output files the layout census assigns. */
  val NFiles = 16

  /** The planted 2-D predicate of [[zorderSkipping]]: the central
    * quarter of each dimension's bucket range — a "this user cohort,
    * that fortnight" shaped query. */
  val XLo = 4; val XHi = 7; val YLo = 4; val YHi = 7

  /** Bit-interleave of two [[Buckets]]-range ints as ONE expression
    * string valid in both Spark SQL and DuckDB: bit i of x lands at
    * 2i, bit i of y at 2i+1. */
  private[operators] def zSql(x: String, y: String): String =
    (0 until 4).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  /** Events with bucket coordinates and both layout keys:
    * (event_id, x, y, z, lin). `x` buckets user_id, `y` buckets the
    * µs timestamp — both min/max-scaled so the bucketing is scale-free
    * — `z` is the interleave, `lin` the time-major lexicographic key
    * (`y·B + x`, the ORDER BY ts, user_id layout a naive writer
    * produces). */
  private[graft] def keyedEvents(spark: SparkSession,
      dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
    val stats = ev.agg(min(col("user_id")).as("min_u"),
      max(col("user_id")).as("max_u"),
      min(col("us")).as("min_us"), max(col("us")).as("max_us"))
    ev.crossJoin(broadcast(stats))
      .withColumn("x", expr(
        s"CAST((user_id - min_u) * $Buckets div (max_u - min_u + 1) AS INT)"))
      .withColumn("y", expr(
        s"CAST((us - min_us) * $Buckets div (max_us - min_us + 1) AS INT)"))
      .withColumn("z", expr(s"CAST(${zSql("x", "y")} AS INT)"))
      .withColumn("lin", expr(s"y * $Buckets + x"))
      .select(col("event_id"), col("x"), col("y"), col("z"), col("lin"))
  }

  /** Z-VALUE CENSUS — per z value: population and the (x, y) box it
    * covers. 256 rows; a wrong interleave bit scatters members across
    * the wrong z and breaks the hash. The census also SHOWS the tile
    * property the layout rests on: each z value's box is a single
    * cell. */
  def zorderCensus(spark: SparkSession, dir: String): DataFrame =
    keyedEvents(spark, dir)
      .groupBy(col("z"))
      .agg(count(lit(1)).as("n_events"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))

  /** Histogram-trick file assignment at TILE granularity: the
    * boundary unit is `key div Buckets` — for z that is the Morton
    * tile id (the top 2 bits of each dimension: a 4×4 cell block),
    * for lin the time stripe (`lin div B = y`). Cutting at tile edges
    * matters: count-balanced cuts through the MIDDLE of a tile hand a
    * file cells from two tiles and its bounding box inflates past the
    * stripes it is supposed to beat (measured: mid-tile cuts cost
    * +37% summed box area on this corpus). The ≤[[Buckets]]-row
    * (tile, cnt) histogram → cumulative count before each tile →
    * `file = cum * NFiles div n`: deterministic, skew-aware (a heavy
    * tile pushes later tiles into later files), tile-aligned. The
    * window runs over the tiny histogram, never the corpus. */
  private def fileOf(keyed: DataFrame, key: String,
      nFiles: Int = NFiles): DataFrame = {
    val hist = keyed
      .groupBy(expr(s"$key div $Buckets").as("k"))
      .agg(count(lit(1)).as("cnt"))
    val before = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("cum", coalesce(sum(col("cnt")).over(before), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("file_id", expr(s"CAST(cum * $nFiles div n AS INT)"))
      .select(col("k"), col("file_id"))
  }

  /** Per-file min/max boxes under one layout. */
  private def boxes(keyed: DataFrame, key: String,
      layout: String, nFiles: Int = NFiles): DataFrame =
    keyed.join(fileOf(keyed, key, nFiles),
        expr(s"$key div $Buckets") === col("k"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .select(lit(layout).as("layout"), col("file_id"), col("n_rows"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"))

  /** LAYOUT CENSUS — the per-file statistics table a min/max-pruning
    * reader consults, for both layouts side by side: z-order files are
    * 2-D tiles (both boxes narrow), linear time-major files are
    * stripes (y narrow, x the full range). This IS the artifact a
    * 100 TB writer materializes; the census makes it oracle-checkable. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    // keyed is a cheap map-side derivation of one scan: recomputing it
    // per subtree beats persisting (nothing resident across reps)
    val keyed = keyedEvents(spark, dir)
    boxes(keyed, "z", "zorder").unionByName(boxes(keyed, "lin", "linear"))
  }

  /** SKIPPING PAYOFF — for the planted 2-D predicate
    * (x ∈ [[XLo]]..[[XHi]], y ∈ [[YLo]]..[[YHi]]): how many files a
    * min/max reader must touch under each layout, next to the true row
    * count. The z layout's candidate set approaches the predicate's
    * area fraction; the linear layout pays for every file whose time
    * stripe intersects, regardless of user range. */
  def zorderSkipping(spark: SparkSession, dir: String): DataFrame = {
    val keyed = keyedEvents(spark, dir)
    val matched = keyed.where(col("x").between(XLo, XHi) &&
        col("y").between(YLo, YHi))
      .agg(count(lit(1)).as("matched_rows"))
    val hit = col("max_x") >= XLo && col("min_x") <= XHi &&
      col("max_y") >= YLo && col("min_y") <= YHi
    boxes(keyed, "z", "zorder")
      .unionByName(boxes(keyed, "lin", "linear"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(hit, 1L).otherwise(0L)).as("candidate_files"))
      .crossJoin(broadcast(matched))
  }

  // --- incremental maintenance (VERDICT r14 item 5) -----------------

  /** Events at/above this y bucket are the APPEND tail: the most
    * recent ~1/5 of the time range arrives AFTER the base layout was
    * written (a daily-append table's life). */
  val AppendYFrom = 13

  /** Files per append wave — appends land in arrival (time) order, so
    * `lin` is their natural write key. */
  val NAppendFiles = 3

  /** The maintenance-window predicate: recent time × one user cohort —
    * the query shape appends degrade first (append files bound time
    * but not users). */
  val RXLo = 4; val RXHi = 7; val RYLo = 12; val RYHi = 15

  /** INCREMENTAL Z-ORDER MAINTENANCE — the OPTIMIZE-on-append step a
    * 100 TB z-ordered table needs: a one-shot layout decays as daily
    * appends land as time-ordered files whose min/max boxes bound ONLY
    * time (x spans the full range), so recent-window predicates stop
    * skipping. Three phases, each a per-file-stats aggregate over the
    * same keyed rows:
    *
    *  - `base`: the original tile-aligned z layout over the pre-append
    *    rows (y < [[AppendYFrom]]) — bucket boundaries are FROZEN
    *    layout metadata, so appends reuse them;
    *  - `appended`: base files (boxes unchanged — appends never
    *    rewrite history) plus [[NAppendFiles]] arrival-ordered append
    *    files over the new rows;
    *  - `optimized`: the projected full rewrite (tile assignment over
    *    all rows — what OPTIMIZE would produce).
    *
    * `triggered` is the maintenance DECISION, measured not asserted:
    * true iff the appended layout touches more files for the
    * recent-window predicate than the projected rewrite would — the
    * bar an OPTIMIZE scheduler checks on the registry compaction
    * cadence ([[graft.streaming.IngestPipeline.maybeCompact]]; both
    * sides are emitted so the
    * decision itself is oracle-checked, the production writer gates
    * the rewrite on the flag).
    *
    * Scale shape: per phase one histogram (≤[[Buckets]]² rows) + one
    * F-group box aggregate; the appended phase reuses the base boxes
    * untouched — maintenance cost is proportional to the APPEND, and
    * the rewrite only runs when the measured payoff says so. */
  def zorderIncremental(spark: SparkSession, dir: String): DataFrame =
    // keyed is eagerly checkpointed HERE (r19, measured): this query
    // consumes it ~10 times (4 boxes calls, their fileOf histograms,
    // the matched census) and each re-derivation pays the events scan
    // + min/max census. Interleaved A/B (OPTIMIZATION_r19.md §12, 9 reps):
    // re-derive med 2.462 s vs checkpoint-once 1.811. zorderLayout (2
    // consumers) keeps the measured recompute decision in its comment.
    zorderIncrementalOf(keyedEvents(spark, dir).localCheckpoint(true))

  /** [[zorderIncremental]] over any (event_id, x, y, z, lin) relation —
    * split out so specs plant append-degradation fixtures. */
  private[graft] def zorderIncrementalOf(keyed: DataFrame): DataFrame = {
    val base = keyed.where(col("y") < AppendYFrom)
    val apps = keyed.where(col("y") >= AppendYFrom)
    val phased = boxes(base, "z", "base")
      .unionByName(
        boxes(base, "z", "appended")
          .unionByName(boxes(apps, "lin", "appended", NAppendFiles)))
      .unionByName(boxes(keyed, "z", "optimized"))
      .withColumnRenamed("layout", "phase")
    val hit = col("max_x") >= RXLo && col("min_x") <= RXHi &&
      col("max_y") >= RYLo && col("min_y") <= RYHi
    val perPhase = phased.groupBy(col("phase"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(hit, 1L).otherwise(0L)).as("candidate_files"),
        sum((col("max_x") - col("min_x") + 1).cast("long") *
          (col("max_y") - col("min_y") + 1)).as("sum_box_area"))
    val decision = perPhase.agg(
      max(when(col("phase") === "appended", col("candidate_files")))
        .as("ca"),
      max(when(col("phase") === "optimized", col("candidate_files")))
        .as("co"))
    val matched = keyed.where(col("x").between(RXLo, RXHi) &&
        col("y").between(RYLo, RYHi))
      .agg(count(lit(1)).as("matched_rows"))
    perPhase
      .crossJoin(broadcast(decision))
      .withColumn("triggered", col("ca") > col("co"))
      .drop("ca", "co")
      .crossJoin(broadcast(matched))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder"          -> zorderCensus _,
    "q_zorder_layout"   -> zorderLayout _,
    "q_zorder_skipping" -> zorderSkipping _,
    "q_zorder_incremental" -> zorderIncremental _)

  /** Shared oracle CTEs: buckets + both layout keys from the same
    * integer arithmetic (the z expression is the SAME string the Spark
    * side parses), then the histogram file assignment per layout. */
  private val keyedCte: String =
    s"""e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
       |s AS (SELECT min(user_id) AS min_u, max(user_id) AS max_u,
       |             min(us) AS min_us, max(us) AS max_us FROM e),
       |k AS (SELECT event_id,
       |    CAST((user_id - min_u) * $Buckets //
       |         (max_u - min_u + 1) AS INT) AS x,
       |    CAST((us - min_us) * $Buckets //
       |         (max_us - min_us + 1) AS INT) AS y
       |  FROM e CROSS JOIN s),
       |kz AS (SELECT event_id, x, y,
       |    CAST(${zSql("x", "y")} AS INT) AS z,
       |    y * $Buckets + x AS lin
       |  FROM k)""".stripMargin

  /** Tile-granular histogram file assignment + per-file boxes for one
    * key column (tile = key // Buckets, matching the Scala side). */
  private def boxCte(key: String, layout: String): String =
    s"""h_$key AS (SELECT $key // $Buckets AS k, count(*) AS cnt
       |  FROM kz GROUP BY 1),
       |f_$key AS (SELECT k, CAST(
       |    coalesce(sum(cnt) OVER (ORDER BY k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    * $NFiles // (SELECT count(*) FROM kz) AS INT) AS file_id
       |  FROM h_$key),
       |b_$key AS (SELECT '$layout' AS layout, file_id,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    min(x) AS min_x, max(x) AS max_x,
       |    min(y) AS min_y, max(y) AS max_y
       |  FROM kz JOIN f_$key ON kz.$key // $Buckets = f_$key.k
       |  GROUP BY file_id)""".stripMargin

  /** [[boxCte]] generalized for the incremental phases: explicit CTE
    * tag, source relation, file count, and a `phase` label. */
  private def boxCteOver(tag: String, src: String, key: String,
      phase: String, nFiles: Int): String =
    s"""h_$tag AS (SELECT $key // $Buckets AS k, count(*) AS cnt
       |  FROM $src GROUP BY 1),
       |f_$tag AS (SELECT k, CAST(
       |    coalesce(sum(cnt) OVER (ORDER BY k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    * $nFiles // (SELECT count(*) FROM $src) AS INT) AS file_id
       |  FROM h_$tag),
       |b_$tag AS (SELECT '$phase' AS phase, file_id,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    min(x) AS min_x, max(x) AS max_x,
       |    min(y) AS min_y, max(y) AS max_y
       |  FROM $src JOIN f_$tag ON $src.$key // $Buckets = f_$tag.k
       |  GROUP BY file_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_zorder_incremental" ->
      s"""WITH $keyedCte,
         |kbase AS (SELECT * FROM kz WHERE y < $AppendYFrom),
         |kapp AS (SELECT * FROM kz WHERE y >= $AppendYFrom),
         |${boxCteOver("zb", "kbase", "z", "base", NFiles)},
         |${boxCteOver("ab", "kbase", "z", "appended", NFiles)},
         |${boxCteOver("aw", "kapp", "lin", "appended", NAppendFiles)},
         |${boxCteOver("oz", "kz", "z", "optimized", NFiles)},
         |phb AS (SELECT * FROM b_zb UNION ALL SELECT * FROM b_ab
         |        UNION ALL SELECT * FROM b_aw UNION ALL SELECT * FROM b_oz),
         |pp AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_files,
         |    CAST(sum(CASE WHEN max_x >= $RXLo AND min_x <= $RXHi
         |      AND max_y >= $RYLo AND min_y <= $RYHi
         |      THEN 1 ELSE 0 END) AS BIGINT) AS candidate_files,
         |    CAST(sum((max_x - min_x + 1) * (max_y - min_y + 1))
         |      AS BIGINT) AS sum_box_area
         |  FROM phb GROUP BY phase)
         |SELECT phase, n_files, candidate_files, sum_box_area,
         |  (SELECT max(CASE WHEN phase = 'appended'
         |      THEN candidate_files END) FROM pp)
         |   > (SELECT max(CASE WHEN phase = 'optimized'
         |      THEN candidate_files END) FROM pp) AS triggered,
         |  (SELECT CAST(count(*) AS BIGINT) FROM kz
         |   WHERE x BETWEEN $RXLo AND $RXHi
         |     AND y BETWEEN $RYLo AND $RYHi) AS matched_rows
         |FROM pp""".stripMargin,
    "q_zorder" ->
      s"""WITH $keyedCte
         |SELECT z, CAST(count(*) AS BIGINT) AS n_events,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM kz GROUP BY z""".stripMargin,
    "q_zorder_layout" ->
      s"""WITH $keyedCte,
         |${boxCte("z", "zorder")},
         |${boxCte("lin", "linear")}
         |SELECT * FROM b_z UNION ALL SELECT * FROM b_lin""".stripMargin,
    "q_zorder_skipping" ->
      s"""WITH $keyedCte,
         |${boxCte("z", "zorder")},
         |${boxCte("lin", "linear")},
         |bb AS (SELECT * FROM b_z UNION ALL SELECT * FROM b_lin)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN max_x >= $XLo AND min_x <= $XHi
         |    AND max_y >= $YLo AND min_y <= $YHi THEN 1 ELSE 0 END)
         |    AS BIGINT) AS candidate_files,
         |  (SELECT CAST(count(*) AS BIGINT) FROM kz
         |   WHERE x BETWEEN $XLo AND $XHi
         |     AND y BETWEEN $YLo AND $YHi) AS matched_rows
         |FROM bb GROUP BY layout""".stripMargin)
}
