package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Derived
import graft.sources.Tables

/** Remaining monitor-side operators (SURVEY.md §2): log-line timestamp
  * parsing with year inference and timezone conversion (P17/P18), log-tail
  * extraction (S11/W2), grep-style content filtering (S13), set-union
  * accumulation (A10), report projections — truncation, null-placeholder,
  * recency highlight (P19/P20/P21) — and the multi-key dimension join with
  * value-reconciliation flags (J6/J13).
  *
  * Log lines are synthesized deterministically from the events table (the
  * testdata has no log files); the parsing expressions are the operators
  * under test, and the same synthesis runs in the oracle.
  */
object MonitorOps {

  /** Fixed "now" for year inference (monitor:112-137 infers the year of a
    * `MMDD HH:MM:SS` log stamp relative to the current date; a pinned
    * reference date keeps the operator deterministic and oracle-able). */
  val RefYear = 2024
  val RefMonth = 6

  /** P17 + P18: render events.ts as `MMDD HH:MM:SS` log stamps, parse them
    * back (regex extract → typed fields → make_timestamp), infer the year
    * (month after the reference month → previous year), and convert the
    * UTC instant to America/Chicago local time. */
  def logTimestampParse(spark: SparkSession, dir: String): DataFrame = {
    val line = concat(date_format(col("ts"), "MMdd HH:mm:ss"),
      lit(" ingest "), col("event_type"))
    val mm = regexp_extract(col("line"), "^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})", 1).cast("int")
    val dd = regexp_extract(col("line"), "^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})", 2).cast("int")
    val hh = regexp_extract(col("line"), "^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})", 3).cast("int")
    val mi = regexp_extract(col("line"), "^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})", 4).cast("int")
    val ss = regexp_extract(col("line"), "^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})", 5).cast("int")
    val year = when(mm > RefMonth, RefYear - 1).otherwise(RefYear)
    Tables.events(spark, dir)
      .where(col("event_type") === "error")
      .select(col("event_id"), line.as("line"))
      .withColumn("parsed_utc", make_timestamp(year, mm, dd, hh, mi, ss))
      .withColumn("parsed_local",
        date_format(from_utc_timestamp(col("parsed_utc"), "America/Chicago"),
          "yyyy-MM-dd HH:mm:ss"))
      .select(col("event_id"), col("line"),
        date_format(col("parsed_utc"), "yyyy-MM-dd HH:mm:ss").as("parsed_utc_s"),
        col("parsed_local"))
  }

  /** S11 + W2: tail of each per-type "log" — the latest line only, via
    * max_by (no reverse scan; the grouped arg-max replaces seek-from-EOF). */
  def logTail(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("line", concat(date_format(col("ts"), "yyyy/MM/dd HH:mm:ss"),
        lit(" "), col("event_type"), lit(" user="), col("user_id")))
      .groupBy(col("event_type"))
      .agg(max_by(col("line"), struct(col("ts"), col("event_id")))
        .as("last_line"))

  /** S13: grep-style predicate scan — count documents whose text matches a
    * pattern, per source (the subprocess grep becomes a pushed filter). */
  def grepFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("text").contains("join") || col("text").rlike("stream\\w*"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_matching"),
        sum(when(col("text").contains("join"), 1L).otherwise(0L)).as("n_join"))

  /** A10: set-union accumulation across partitions of the data — distinct
    * union of per-nite key sets from two different filters (repairing the
    * reference's discarded-union bug, SURVEY §2.4 A10). */
  def unionAccumulate(spark: SparkSession, dir: String): DataFrame = {
    val ev = ReconOps.eventsByNite(spark, dir)
    ReconOps.FlaggedTypes
      .map(t => ev.where(col("event_type") === t).select(col("nite"), col("user_id")))
      .reduce(_ union _).distinct()
      .groupBy(col("nite")).agg(count(lit(1)).as("n_flagged_users"))
  }

  /** P19 + P20 + P21: report-row projection — string truncation to column
    * widths, null→placeholder coalesce, and the 3-day recency highlight
    * computed against the max timestamp in the data. */
  def reportRows(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val maxTs = ev.agg(max(col("ts")).as("max_ts"))
    ev.where(col("event_type") === "error")
      .crossJoin(broadcast(maxTs))
      .select(col("event_id"),
        substring(col("props"), 1, 10).as("props_short"),
        coalesce(nullif(col("event_type"), lit("error")), lit("&nbsp;"))
          .as("type_disp"),
        (col("ts") >= col("max_ts") - expr("INTERVAL 3 DAYS")).as("recent"))
  }

  /** J6 + J13: multi-key dimension join + value reconciliation — per
    * (nite, event_type) averages joined back on both keys; rows get
    * mismatch-style flag columns, aggregated per nite. */
  def multikeyRecon(spark: SparkSession, dir: String): DataFrame = {
    val ev = ReconOps.eventsByNite(spark, dir)
    val dim = ev.groupBy(col("nite"), col("event_type"))
      .agg(avg(col("value")).as("avg_value"), count(lit(1)).as("n_in_group"))
    ev.join(dim, Seq("nite", "event_type"), "left_outer")
      .withColumn("above_avg", col("value") > col("avg_value"))
      .groupBy(col("nite"))
      .agg(sum(when(col("above_avg"), 1L).otherwise(0L)).as("n_above"),
        count(lit(1)).as("n_events"))
  }

  /** S10 (monitor:1084-1097) — the DB-down degraded mode: walk the
    * archive tree on disk and recover the exposure inventory from
    * filenames alone. Real-FS form: a recursive binaryFile listing
    * (content column pruned away — only paths are read) with the nite
    * taken from the directory level and expnum from the DECam name. */
  def diskWalkExposures(spark: SparkSession, archiveRoot: String): DataFrame = {
    val root = archiveRoot.stripSuffix("/")
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(col("path"))
      .withColumn("nite",
        regexp_extract(col("path"),
          java.util.regex.Pattern.quote(root) + "/([^/]+)/", 1))
      .withColumn("expnum", Derived.expnumOf(Derived.basenameOf(col("path"))))
      .where(col("expnum").isNotNull)
      .groupBy(col("nite"))
      .agg(count(lit(1)).as("n_files"),
        min(col("expnum")).as("min_expnum"),
        max(col("expnum")).as("max_expnum"))
  }

  /** S12 (monitor:166-186) — latest-file-by-name descent: the reference
    * walks year → month → filename taking the string-max at each level.
    * Per-level string max equals ONE lexicographic max over the
    * (year, month, filename) struct, so the whole descent is a single
    * aggregation over the recursive listing — no driver-side walking. */
  def latestLogFile(spark: SparkSession, logRoot: String): DataFrame = {
    val root = logRoot.stripSuffix("/")
    // listing paths are URIs (file:///...); strip scheme + root prefix
    val seg = split(regexp_replace(col("path"),
      ".*" + java.util.regex.Pattern.quote(root) + "/", ""), "/")
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(col("path"))
      .select(seg.getItem(0).as("year"), seg.getItem(1).as("month"),
        seg.getItem(2).as("fname"))
      .agg(max(struct(col("year"), col("month"), col("fname"))).as("m"))
      .select(concat_ws("/", lit(root), col("m.year"), col("m.month"),
        col("m.fname")).as("latest_log"))
  }

  /** Oracled rendering of S10: the disk listing is synthesized from
    * events (nite dir + a hash subdir level + DECam/manifest names), the
    * operator under test is the regexp filter-and-extract + per-nite
    * rollup — identical to what [[diskWalkExposures]] runs on a real
    * tree. */
  def diskWalkQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("nite", Derived.niteOf(col("ts")))
    val fname = when(col("event_type") === "purchase",
      concat(lit("manifest_SN"), col("event_id"), lit(".json")))
      .otherwise(Derived.decamNameOf(col("event_id")))
    ev.select(col("nite"),
        concat(lit("/dts/"), col("nite"), lit("/c"),
          pmod(col("user_id"), lit(4)), lit("/"), fname).as("path"))
      .withColumn("expnum", Derived.expnumOf(col("path")))
      .where(col("expnum").isNotNull)
      .groupBy(col("nite"))
      .agg(count(lit(1)).as("n_files"),
        min(col("expnum")).as("min_expnum"),
        max(col("expnum")).as("max_expnum"))
  }

  /** Oracled rendering of S12: per-nite latest file over a synthesized
    * (year, month, name) listing — the arg-max by per-level string
    * ordering, the window form of [[latestLogFile]]'s struct max. */
  def latestFileQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("nite", Derived.niteOf(col("ts")))
      .select(col("nite"),
        date_format(col("ts"), "yyyy").as("year"),
        date_format(col("ts"), "MM").as("month"),
        format_string("log_%08d.txt", col("event_id")).as("fname"))
    ev.groupBy(col("nite"))
      .agg(max(struct(col("year"), col("month"), col("fname"))).as("m"))
      .select(col("nite"),
        concat_ws("/", col("m.year"), col("m.month"), col("m.fname"))
          .as("latest_log"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_log_ts_parse"  -> logTimestampParse _,
    "q_log_tail"      -> logTail _,
    "q_grep_filter"   -> grepFilter _,
    "q_union_accum"   -> unionAccumulate _,
    "q_report_rows"   -> reportRows _,
    "q_multikey_recon" -> multikeyRecon _,
    "q_disk_walk"     -> diskWalkQuery _,
    "q_latest_file"   -> latestFileQuery _,
  )

  private val niteSql =
    "strftime(CASE WHEN extract(hour FROM ts) < 15 THEN ts - INTERVAL 1 DAY ELSE ts END, '%Y%m%d')"

  val oracles: Map[String, String] = Map(
    "q_log_ts_parse" ->
      s"""WITH lines AS (
         |  SELECT event_id,
         |    strftime(ts, '%m%d %H:%M:%S') || ' ingest ' || event_type AS line
         |  FROM events WHERE event_type = 'error'),
         |f AS (
         |  SELECT event_id, line,
         |    CAST(regexp_extract(line, '^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})', 1) AS INT) AS mm,
         |    CAST(regexp_extract(line, '^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})', 2) AS INT) AS dd,
         |    CAST(regexp_extract(line, '^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})', 3) AS INT) AS hh,
         |    CAST(regexp_extract(line, '^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})', 4) AS INT) AS mi,
         |    CAST(regexp_extract(line, '^(\\d{2})(\\d{2}) (\\d{2}):(\\d{2}):(\\d{2})', 5) AS INT) AS ss
         |  FROM lines),
         |p AS (
         |  SELECT event_id, line,
         |    make_timestamp(CASE WHEN mm > $RefMonth THEN ${RefYear - 1} ELSE $RefYear END,
         |      mm, dd, hh, mi, ss) AS parsed_utc
         |  FROM f)
         |SELECT event_id, line,
         |  strftime(parsed_utc, '%Y-%m-%d %H:%M:%S') AS parsed_utc_s,
         |  strftime(timezone('America/Chicago', timezone('UTC', parsed_utc)),
         |    '%Y-%m-%d %H:%M:%S') AS parsed_local
         |FROM p""".stripMargin,
    "q_log_tail" ->
      """SELECT event_type, last_line FROM (
        |  SELECT event_type,
        |    strftime(ts, '%Y/%m/%d %H:%M:%S') || ' ' || event_type
        |      || ' user=' || user_id AS last_line,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin,
    "q_grep_filter" ->
      """SELECT source, count(*) AS n_matching,
        |  CAST(sum(CASE WHEN contains(text, 'join') THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_join
        |FROM documents
        |WHERE contains(text, 'join') OR regexp_matches(text, 'stream\w*')
        |GROUP BY source""".stripMargin,
    "q_union_accum" ->
      s"""SELECT nite, count(*) AS n_flagged_users FROM (
         |  SELECT DISTINCT $niteSql AS nite, user_id
         |  FROM events WHERE event_type IN ('error', 'purchase'))
         |GROUP BY nite""".stripMargin,
    "q_report_rows" ->
      """SELECT event_id,
        |  substr(props, 1, 10) AS props_short,
        |  coalesce(nullif(event_type, 'error'), '&nbsp;') AS type_disp,
        |  ts >= (SELECT max(ts) FROM events) - INTERVAL 3 DAY AS recent
        |FROM events WHERE event_type = 'error'""".stripMargin,
    "q_disk_walk" ->
      s"""WITH listing AS (
         |  SELECT nite, '/dts/' || nite || '/c' || (user_id % 4) || '/' ||
         |    CASE WHEN event_type = 'purchase'
         |      THEN 'manifest_SN' || event_id || '.json'
         |      ELSE printf('DECam_%08d.fits.fz', event_id) END AS path
         |  FROM (SELECT *, $niteSql AS nite FROM events)),
         |m AS (
         |  SELECT nite, CAST(nullif(regexp_extract(path,
         |    'DECam_(\\d+)\\.fits\\.fz', 1), '') AS BIGINT) AS expnum
         |  FROM listing)
         |SELECT nite, count(*) AS n_files,
         |  min(expnum) AS min_expnum, max(expnum) AS max_expnum
         |FROM m WHERE expnum IS NOT NULL GROUP BY nite""".stripMargin,
    "q_latest_file" ->
      s"""WITH listing AS (
         |  SELECT $niteSql AS nite,
         |    strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
         |    printf('log_%08d.txt', event_id) AS fname
         |  FROM events)
         |SELECT nite, year || '/' || month || '/' || fname AS latest_log
         |FROM (SELECT *, row_number() OVER (PARTITION BY nite
         |        ORDER BY year DESC, month DESC, fname DESC) AS rn
         |      FROM listing)
         |WHERE rn = 1""".stripMargin,
    "q_multikey_recon" ->
      s"""WITH ev AS (
         |  SELECT *, $niteSql AS nite FROM events),
         |dim AS (
         |  SELECT nite, event_type, avg(value) AS avg_value
         |  FROM ev GROUP BY 1, 2)
         |SELECT ev.nite,
         |  CAST(sum(CASE WHEN ev.value > dim.avg_value THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_above,
         |  count(*) AS n_events
         |FROM ev LEFT JOIN dim
         |  ON ev.nite = dim.nite AND ev.event_type = dim.event_type
         |GROUP BY ev.nite""".stripMargin,
  )
}
