package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Derived
import graft.sources.Tables

/** Reconciliation / monitoring operator catalog — the analytics core of the
  * reference's `monitor_DBB_stagein.py` (SURVEY.md §2.2-§2.7, E2),
  * re-expressed over the testdata tables:
  *
  *  - nite derivation + per-nite rollups (P10, A2, A4)
  *  - duplicate-skip window marking (W1, monitor:922-942)
  *  - nested group collect (A5/A6, monitor:913-917, 968-981)
  *  - last-by-timestamp (A7, monitor:991-994) and first-wins dedup (A9)
  *  - interval-validity join (S8/J9, monitor:868-877)
  *  - bucketed range join — the 100 TB-safe rewrite of a non-equi time join
  *  - exposure-state classification (J12, monitor:338-366)
  *  - key=value record parsing (S4, save:49-56)
  *  - nite-list generation (P22, monitor:1147-1150)
  */
object ReconOps {

  private def dec(cn: String) = col(cn).cast("decimal(12,4)")

  /** Events with their P10 nite: the 15:00-cutoff calendar key as a
    * derived column, the key every per-nite operator groups by. At scale
    * the registry would be partitioned by it (SURVEY §4 partition
    * pruning). */
  private[graft] def eventsByNite(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).withColumn("nite", Derived.niteOf(col("ts")))

  private def isError: Column = col("event_type") === "error"

  /** The event types whose users A10 flags: [[MonitorOps.unionAccumulate]]
    * unions one filter per type, [[niteSummary]] counts them in one pass. */
  private[graft] val FlaggedTypes: Seq[String] = Seq("error", "purchase")

  // string-route decimal->double: BigDecimal.doubleValue() measured
  // 1 ulp off DuckDB (q1Pricing war story); the string parse is
  // correctly rounded on both engines
  private def sumValue: Column =
    sum(dec("value")).cast("string").cast("double").as("sum_value")

  /** Per-nite rollup — P10 + A2: a hash aggregate on the nite key. */
  def niteRollup(spark: SparkSession, dir: String): DataFrame =
    eventsByNite(spark, dir).groupBy(col("nite"))
      .agg(count(lit(1)).as("n_events"), sumValue)

  /** Error counts per nite — A4 (monitor:848-853): filtered group count. */
  def errorsPerNite(spark: SparkSession, dir: String): DataFrame =
    eventsByNite(spark, dir).where(isError)
      .groupBy(col("nite")).agg(count(lit(1)).as("n_errors"))

  /** The monitor's per-nite summary in ONE aggregate over one events
    * scan: [[niteRollup]]'s `n_events` and `sum_value`, [[errorsPerNite]]'s
    * `n_errors` and [[MonitorOps.unionAccumulate]]'s `n_flagged_users`,
    * one row per nite of [[niteRollup]]. A nite without errors or flagged
    * users reads 0 where the three-way left join read null. The distinct
    * count adds 1 when a flagged event has a null `user_id`, which
    * `unionAccumulate`'s `distinct()` keeps as a row of its own. A null
    * nite (null `ts`) is one group here and carries its own counts; the
    * join could not match it and read 0 for both. */
  def niteSummary(spark: SparkSession, dir: String): DataFrame = {
    val flagged = col("event_type").isin(FlaggedTypes: _*)
    eventsByNite(spark, dir).groupBy(col("nite"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(isError, 1L).otherwise(0L)).as("n_errors"),
        (count_distinct(when(flagged, col("user_id"))) +
          max(when(flagged && col("user_id").isNull, 1L).otherwise(0L)))
          .as("n_flagged_users"),
        sumValue)
  }

  /** Duplicate-skip marking — W1 (monitor:922-942): within each
    * (user_id, event_type) group every occurrence except the latest is
    * marked skip. Single window, no self-join. */
  def skipDuplicates(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("rn") > 1).as("skip"))
  }

  /** Last event per user — A7 (monitor:991-994): arg-max by (ts, id) via
    * max_by over a struct ordering key; one shuffle, no window. */
  def lastEventPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("last_event_id"),
        max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_event_type"))

  /** First-wins dedup — A9 (monitor:812-816): deterministic
    * `dropDuplicates` via min_by on (ts, id), per (user_id, event_type). */
  def firstPerUserType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min_by(col("event_id"), struct(col("ts"), col("event_id")))
        .as("first_event_id"))

  /** Nested group collect — A5 (monitor:913-917): the leaf set becomes a
    * sorted, comma-joined `collect_set` (string form keeps the oracle
    * comparison canonical). */
  def eventTypeSets(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
        .as("event_types"))

  /** Cap for [[docIdsPerLang]]'s per-group list — SURVEY §7.4.5: an
    * uncapped collect_list is the one aggregate whose STATE grows with
    * the corpus (a group's buffer must hold every member). */
  val DocIdsCap = 100

  /** Group collect-list — A6 (monitor:968-981): doc ids per lang, sorted,
    * CAPPED at the [[DocIdsCap]] smallest ids with the full count kept as
    * the overflow signal.
    *
    * Two-phase top-k: lang has ~5 values, so any
    * `Window.partitionBy(lang)` funnels every document of a language
    * through ONE task — the plan dies at 100×. Phase 1 ranks per (lang,
    * input partition): because the rank filter sits directly on the
    * window, Spark inserts a PARTIAL WindowGroupLimit below the exchange
    * (pinned by PlanAssertionsSpec), so at most cap rows per lang leave
    * each input partition — shuffle VOLUME is cap × langs × P rows, not
    * the corpus. Phase 2 merges the ≤ cap × P candidates per lang — a
    * trivial final step at any scale. Per-lang totals come from a plain
    * hash aggregate (map-side combine), never a count-over-window. */
  def docIdsPerLang(spark: SparkSession, dir: String): DataFrame = {
    val filtered = Tables.documents(spark, dir)
      .where(col("n_chars") > 400)
      .select(col("lang"), col("doc_id"))
    val counts = filtered.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("pid")).orderBy(col("doc_id"))
    val local = filtered
      .withColumn("pid", spark_partition_id())
      .withColumn("rn", row_number().over(wLocal))
      .where(col("rn") <= DocIdsCap)
    val top = local.groupBy(col("lang"))
      .agg(slice(array_sort(collect_list(col("doc_id"))), 1, DocIdsCap)
        .as("ids"))
    top.join(counts, Seq("lang"))
      .select(col("lang"), col("n_docs"),
        array_join(transform(col("ids"), _.cast("string")), ",").as("doc_ids"))
  }

  /** Interval-validity join — S8/J9 (monitor:868-877): a tiny validity-
    * window dimension joined on containment. The dimension is broadcast;
    * the plan is BroadcastNestedLoopJoin, which is the *right* plan when
    * one side is 5 rows — never a shuffle of the fact side. */
  def validityJoin(spark: SparkSession, dir: String): DataFrame = {
    val wins = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(min(col("o_orderdate")).as("win_start"),
        max(col("o_orderdate")).as("win_end"))
    val days = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(count(lit(1)).as("n_lines"))
    days.join(broadcast(wins),
        col("ship_day").between(to_date(col("win_start")), to_date(col("win_end"))))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_days"), sum(col("n_lines")).as("n_lines_total"))
  }

  /** Bucketed range join — the scale-safe rewrite of "events within N days
    * after each anchor": pre-aggregate the fact to day grain, explode each
    * anchor's window into day buckets, equi-join on the bucket. Turns an
    * O(|A|·|B|) nested-loop non-equi join into a shuffle-free-ish equi join
    * that survives 100×. */
  def rangeJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val dayCounts = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(count(lit(1)).as("n_lines"))
    val anchorDays = Tables.orders(spark, dir)
      .select(col("o_orderpriority"),
        explode(sequence(to_date(col("o_orderdate")),
          date_add(to_date(col("o_orderdate")), 6))).as("ship_day"))
    anchorDays.join(dayCounts, Seq("ship_day"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n_lines")).as("n_shipped_weekly"))
  }

  /** Row-level exposure-state classification — J12 (monitor:338-366):
    * each order classified ok / missing / extra / not-delivered by
    * joining the "delivered" claim against the "received" evidence set.
    * THE single definition of the state rule: [[expstate]] aggregates it
    * to counts (the oracled form) and MonitorJob renders the detail
    * pages from it — both derive from here so they cannot diverge. */
  def exposureStates(spark: SparkSession, dir: String): DataFrame = {
    val received = Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
    Tables.orders(spark, dir)
      .withColumn("delivered", col("o_orderstatus") === "F")
      .join(received, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .withColumn("expstate",
        when(col("delivered") && col("l_orderkey").isNotNull, "ok")
          .when(col("delivered") && col("l_orderkey").isNull, "missing")
          .when(!col("delivered") && col("l_orderkey").isNotNull, "extra")
          .otherwise("not delivered"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("expstate"))
  }

  /** Aggregate exposure-state counts — the oracled J12 form. */
  def expstate(spark: SparkSession, dir: String): DataFrame =
    exposureStates(spark, dir)
      .groupBy(col("expstate")).agg(count(lit(1)).as("n_orders"))

  /** key=value record parse — S4 (save:49-56): extract a typed field out of
    * a semi-structured string column, then aggregate. */
  def kvParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k",
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  /** Nite-list generation — P22 (monitor:1147-1150): the last-14-nites
    * driver table, generated from the max event time. */
  def niteList(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(max(col("ts")).as("max_ts"))
      .select(explode(sequence(lit(0), lit(13))).as("i"), col("max_ts"))
      .select(col("i"),
        date_format(date_sub(to_date(col("max_ts")), col("i")), "yyyyMMdd")
          .as("nite"))

  // ------------------------------------------------------------------
  // Event-sequence analytics — the [EXT] operators a time-ordered event
  // stream (the reference's delivery log writ large) needs at scale:
  // as-of enrichment, sessionization, funnels, retention cohorts.
  // ------------------------------------------------------------------

  /** As-of join — the canonical "operator Spark lacks": for every left
    * row, the MOST RECENT right row of the same key at-or-before the
    * left row's time. The naive form is a non-equi range join (quadratic
    * per key, BNLJ at scale); this is the single-shuffle rewrite both
    * sides of a 100 TB run can afford: tag the sides, union, and take a
    * running `last(…, ignoreNulls)` over one (key)-partitioned window
    * ordered by (time, side, tie) — right rows sort BEFORE left rows at
    * equal time (at-or-before is inclusive) and the tie column makes the
    * winner among equal-time right rows deterministic (max tie wins).
    * One Exchange on the key, O(n log n) sort, no pair blow-up; the key
    * (user/device/entity id) grows with the corpus, so the per-key
    * window never funnels (unlike a low-cardinality-key window).
    *
    * Contract: `left` and `right` both carry `key` and `t`; every
    * non-key right column (including `t`) comes back in a `matched`
    * struct, null when no right row precedes. `tie` is a right column
    * cast to long. Left columns pass through untouched.
    *
    * `forward = true` flips the direction: the EARLIEST right row
    * at-or-AFTER each left row (time-to-next-event). Same plan — only
    * the window order reverses (t desc; tie desc so the last row in
    * order is the min tie → deterministic min-id winner). */
  /** Side-tagged union both as-of rewrites window over: right rows
    * shaped to (key, t, null-padded left cols, __r payload struct,
    * __tie, __side=0), left rows the mirror with __side=1. */
  private def asofShaped(left: DataFrame, right: DataFrame,
      key: String, t: String, tie: String): DataFrame = {
    val payloadFields = right.schema.fields.filterNot(_.name == key).toSeq
    val rStructT = org.apache.spark.sql.types.StructType(payloadFields)
    val leftOnly = left.schema.fields
      .filterNot(f => f.name == key || f.name == t).toSeq
    val rShaped = right.select(
      Seq(col(key), col(t)) ++
        leftOnly.map(f => lit(null).cast(f.dataType).as(f.name)) ++
        Seq(struct(payloadFields.map(f => col(f.name)): _*).as("__r"),
          col(tie).cast("long").as("__tie"), lit(0).as("__side")): _*)
    val lShaped = left.select(
      Seq(col(key), col(t)) ++ leftOnly.map(f => col(f.name)) ++
        Seq(lit(null).cast(rStructT).as("__r"),
          lit(null).cast("long").as("__tie"), lit(1).as("__side")): _*)
    lShaped.unionByName(rShaped)
  }

  private[graft] def asofJoinCore(left: DataFrame, right: DataFrame,
      key: String, t: String, tie: String,
      forward: Boolean = false): DataFrame = {
    val (tOrd, tieOrd) =
      if (forward) (col(t).desc, col("__tie").desc)
      else (col(t).asc, col("__tie").asc)
    val w = Window.partitionBy(col(key))
      .orderBy(tOrd, col("__side").asc, tieOrd)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofShaped(left, right, key, t, tie)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .drop("__r", "__tie", "__side")
      .withColumnRenamed("__m", "matched")
  }

  /** Sub-bucket width of the salted as-of: 7 days of event time per
    * bucket — the testdata's ~2-year span splits a hot key across ~100
    * buckets; a web-scale run passes minutes/hours. */
  val AsofSaltBucketUs: Long = 7L * 86400L * 1000000L

  /** SKEW-SALTED two-phase as-of (VERDICT r11 item 3) — result-
    * identical to [[asofJoinCore]] (backward direction), for the
    * hot-key regime the plain form's single per-key sort cannot
    * spread: a bot/device holding 10% of all events serializes that
    * 10% into ONE partition's sort. Here the window key is
    * (key, time-bucket) — the hot key splits across its time range —
    * and the cross-bucket dependency is restored by a SCAN
    * DECOMPOSITION over bucket summaries:
    *
    *  1. local pass: running `last(__r, ignoreNulls)` within each
    *     (key, bucket), same (t, side, tie) order as the plain form;
    *  2. summary: per (key, bucket), the right row that would win at
    *     bucket end (`max_by` over (t, tie) — right rows only);
    *  3. carry: per key, running last over the summaries of STRICTLY
    *     EARLIER buckets (rowsBetween(…, -1)) — a window over
    *     |buckets-per-key| rows, thousands at most, never event-sized;
    *  4. merge: matched = coalesce(local, carry) — a local match is
    *     always more recent than any earlier-bucket row, and when no
    *     local right row precedes, the carry IS the most recent prior.
    *
    * Buckets are functions of event TIME (equal-t rows co-bucket, so
    * the equal-time side/tie rules act exactly as in the plain form).
    * Cost: one extra small aggregation + a co-partitioned join vs the
    * plain form's single window — measured ~2× wall at sf0.1×8 local
    * (README skew note), which is why the plain form stays the default
    * and this is the documented hot-key escape hatch.
    *
    * `forward = true` mirrors [[asofJoinCore]]'s direction flip under
    * the same decomposition: the local window reverses its (t, tie)
    * order, the bucket summary becomes the right row that would win at
    * bucket START looking forward (`min_by` over (t, tie)), and the
    * carry runs over STRICTLY LATER buckets (bucket order desc) — any
    * right row in a nearer later bucket beats every row in a farther
    * one, so coalesce(local, carry) is again the exact match. */
  private[graft] def asofJoinSaltedCore(left: DataFrame, right: DataFrame,
      key: String, t: String, tie: String,
      bucketWidthUs: Long = AsofSaltBucketUs,
      forward: Boolean = false): DataFrame = {
    val u = asofShaped(left, right, key, t, tie)
      .withColumn("__bkt",
        expr(s"floor(unix_micros($t) / ${bucketWidthUs}L)"))
    val (tOrd, tieOrd) =
      if (forward) (col(t).desc, col("__tie").desc)
      else (col(t).asc, col("__tie").asc)
    val wLoc = Window.partitionBy(col(key), col("__bkt"))
      .orderBy(tOrd, col("__side").asc, tieOrd)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = u.withColumn("__loc",
      last(col("__r"), ignoreNulls = true).over(wLoc))
    val wCarry = Window.partitionBy(col(key))
      .orderBy(if (forward) col("__bkt").desc else col("__bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // summaries must cover EVERY (key, bucket) a left row occupies —
    // a bucket with no right rows still needs its carry — so the
    // aggregation runs over the full union with a FILTER'd argmax
    // (null summary where the bucket holds no right row; the carry
    // window's ignoreNulls skips those)
    val summaryAgg =
      if (forward) s"min_by(__r, struct($t, __tie)) FILTER (WHERE __side = 0)"
      else s"max_by(__r, struct($t, __tie)) FILTER (WHERE __side = 0)"
    val carries = u
      .groupBy(col(key), col("__bkt"))
      .agg(expr(summaryAgg).as("__last_r"))
      .withColumn("__carry",
        last(col("__last_r"), ignoreNulls = true).over(wCarry))
      .select(col(key), col("__bkt"), col("__carry"))
    local
      .join(carries, Seq(key, "__bkt"), "left")
      .where(col("__side") === 1)
      .withColumn("matched", coalesce(col("__loc"), col("__carry")))
      .drop("__r", "__tie", "__side", "__bkt", "__loc", "__carry")
  }

  /** Declared as-of join: each click enriched with the user's latest
    * at-or-before purchase. Oracled against DuckDB's native ASOF LEFT
    * JOIN — a genuinely independent implementation of the semantics
    * (their interpolation search vs our union-window). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    asofClicks(spark, dir)
      .select(col("event_id"), col("user_id"),
        col("matched.p_event_id").as("p_event_id"),
        col("matched.p_value").as("p_value"))

  private def asofClicks(spark: SparkSession, dir: String,
      forward: Boolean = false, auto: Boolean = false,
      uidExpr: String = "user_id"): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("user_id", expr(uidExpr))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    if (auto)
      asofJoinAutoCore(clicks, purchases, "user_id", "ts", "p_event_id",
        forward = forward)
    else
      asofJoinCore(clicks, purchases, "user_id", "ts", "p_event_id",
        forward)
  }

  /** Declared salted as-of — [[asofJoin]]'s enrichment through
    * [[asofJoinSaltedCore]]: result-identical by the scan
    * decomposition, so it shares q_asof_join's native-ASOF oracle; a
    * green row grades the skew-mitigation plan itself. */
  def asofSalted(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    asofJoinSaltedCore(clicks, purchases, "user_id", "ts", "p_event_id")
      .select(col("event_id"), col("user_id"),
        col("matched.p_event_id").as("p_event_id"),
        col("matched.p_value").as("p_value"))
  }

  /** Forward as-of: each click joined to the user's NEXT purchase
    * at-or-after it — conversion latency in whole seconds (integer
    * division of a non-negative µs delta, so Spark `div` and DuckDB
    * `//` agree). Routed through the auto dispatch (VERDICT r17
    * item 8): the natural table's census lands the plain branch —
    * same single-shuffle plan as [[asofJoin]], reversed window order —
    * and the hot-key twin exercises the salted-forward decomposition
    * under the same native-ASOF oracle family. */
  private def asofForwardOver(spark: SparkSession, dir: String,
      uidExpr: String): DataFrame =
    asofClicks(spark, dir, forward = true, auto = true, uidExpr = uidExpr)
      .select(col("event_id"), col("user_id"),
        col("matched.p_event_id").as("p_event_id"),
        expr("(unix_micros(matched.ts) - unix_micros(ts)) div 1000000")
          .as("latency_sec"))

  def asofForward(spark: SparkSession, dir: String): DataFrame =
    asofForwardOver(spark, dir, "user_id")

  /** Hot-key twin of [[asofForward]] — trips the census → the
    * salted-FORWARD branch (plan-guarded); oracle is DuckDB's native
    * forward ASOF over the same remapped relation. */
  def asofForwardHot(spark: SparkSession, dir: String): DataFrame =
    asofForwardOver(spark, dir, HotUidSql)

  /** Tolerance window for [[asofTolerance]] (days): a match older than
    * this is no match. As-of returns the MOST RECENT prior row, so if
    * that one is stale every earlier one is staler — the tolerance is a
    * post-filter on the single match, never a second range join. */
  val AsofToleranceDays = 7

  private val AsofToleranceUs: Long =
    AsofToleranceDays * 86400L * 1000000L

  /** As-of join with a staleness bound: same single-shuffle plan, the
    * matched struct nulled when older than [[AsofToleranceDays]].
    * Integer-microsecond compare on both engines — no interval
    * arithmetic can round differently. Routed through the auto
    * dispatch (VERDICT r17 item 8): the tolerance is a post-filter on
    * the single match, so it composes with EITHER branch unchanged. */
  private def asofToleranceOver(spark: SparkSession, dir: String,
      uidExpr: String): DataFrame = {
    val fresh = unix_micros(col("matched.ts")) >=
      unix_micros(col("ts")) - lit(AsofToleranceUs)
    asofClicks(spark, dir, auto = true, uidExpr = uidExpr)
      .select(col("event_id"), col("user_id"),
        when(fresh, col("matched.p_event_id")).as("p_event_id"),
        when(fresh, col("matched.p_value")).as("p_value"))
  }

  def asofTolerance(spark: SparkSession, dir: String): DataFrame =
    asofToleranceOver(spark, dir, "user_id")

  /** Hot-key twin of [[asofTolerance]] — salted branch
    * (plan-guarded), same staleness post-filter, native-ASOF oracle
    * over the remapped relation. */
  def asofToleranceHot(spark: SparkSession, dir: String): DataFrame =
    asofToleranceOver(spark, dir, HotUidSql)

  /** CONVERSION-LATENCY QUANTILES — "how long from click to the next
    * purchase", the growth metric the forward as-of exists to feed:
    * [[asofForward]]'s matched latencies through the
    * [[approxQuantiles]] contract harness. Exact p50/p90 come from the
    * histogram trick (windows over the DISTINCT latency values — the
    * matched-pair relation collapses to its value histogram in one
    * hash agg, never a corpus sort), and `percentile_approx` is graded
    * by rank-bound booleans (exact (p−ε)/(p+ε) quantiles bracket the
    * sketch; ε = 1/[[QuantileAccuracy]]). Unconverted clicks (null
    * latency) are excluded — the quantile is over conversions, with
    * n_converted reported next to n_clicks so the denominator is never
    * hidden. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val lat = asofForward(spark, dir)
      .select(col("latency_sec"))
    val counts = lat.agg(count(lit(1)).as("n_clicks"),
      count(col("latency_sec")).as("n_converted"))
    val conv = lat.where(col("latency_sec").isNotNull)
    val hist = conv.groupBy(col("latency_sec")).agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("latency_sec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    def pick(p10k: Int, nm: String): Column =
      min(when(col("cum") * 10000 >= col("total") * p10k,
        col("latency_sec"))).as(nm)
    val exact = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .agg(pick(5000, "p50_sec"), pick(9000, "p90_sec"),
        pick(4900, "lo50"), pick(5100, "hi50"),
        pick(8900, "lo90"), pick(9100, "hi90"))
    val approx = conv.agg(percentile_approx(col("latency_sec"),
      array(lit(0.5), lit(0.9)), lit(QuantileAccuracy)).as("ap"))
    counts.crossJoin(exact).crossJoin(approx)
      .select(col("n_clicks"), col("n_converted"),
        col("p50_sec"), col("p90_sec"),
        col("ap")(0).between(col("lo50"), col("hi50"))
          .as("p50_within_bounds"),
        col("ap")(1).between(col("lo90"), col("hi90"))
          .as("p90_within_bounds"))
  }

  /** Session gap (hours): adjacent same-user events farther apart than
    * this start a new session. Sized to the testdata's inter-arrival
    * scale (~5 days/user at sf0.01) so sessions are a real mix of
    * singletons and runs; a web-scale run would pass minutes. */
  val SessionGapHours = 48

  private val SessionGapUs: Long = SessionGapHours * 3600L * 1000000L

  /** Gap-based sessionization — one (user)-window pass: flag rows whose
    * gap to the previous same-user event exceeds [[SessionGapHours]]
    * (strict >; first row always opens session 1), running-sum the
    * flags into session numbers, then aggregate per session. The
    * partition key's cardinality grows with the corpus, so this is a
    * scalable batch sessionizer — and the groupBy reuses the window's
    * hashpartitioning(user_id), so the whole thing is ONE shuffle
    * (user_id is a prefix of the grouping key — plan-guarded). */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionizeOf(Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id")))

  private[graft] def sessionizeOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull || col("us") - col("prev") > SessionGapUs,
          1L).otherwise(0L))
      .withColumn("session_n", sum(col("ns")).over(run))
      .groupBy(col("user_id"), col("session_n"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("span_us"))
  }

  /** SKEW-SALTED sessionization — [[sessionize]]'s hot-key escape
    * hatch, the [[asofJoinSaltedCore]] bucket decomposition applied to
    * a SEGMENTED SCAN: the window key becomes (user, time-bucket of
    * [[AsofSaltBucketUs]]), so one bot's events sort across its time
    * range instead of one partition, and session numbering is restored
    * from per-bucket summaries:
    *
    *  1. local pass per (user, bucket): the plain gap-flag running sum
    *     (every bucket's first row opens local session 1);
    *  2. summary per (user, bucket): first/last event time and the
    *     local session count;
    *  3. carry per user over the summaries (buckets-per-key rows,
    *     never event-sized): `cont(b)` = the bucket's first event
    *     continues the PREVIOUS NON-EMPTY bucket's last session
    *     (gap ≤ bar — lag() over the summary row order skips empty
    *     buckets by construction), and the running global offset
    *     `cum(b⁻) = Σ_{b'<b} (n_local(b') − cont(b'))`;
    *  4. merge: global session id = cum(b⁻) + local − cont(b) — the
    *     continuing bucket's local session 1 lands ON the previous
    *     bucket's last global id, everything later shifts by the
    *     merges so far.
    *
    * Result-identical to [[sessionize]] (spec: planted boundary cases
    * + full-corpus equality), so the declared query shares its native
    * oracle — the green row grades the skew plan itself. Cost: one
    * extra buckets-sized aggregate + a co-partitioned join. */
  def sessionizeSalted(spark: SparkSession, dir: String,
      bucketWidthUs: Long = AsofSaltBucketUs): DataFrame =
    sessionizeSaltedOf(Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id")), bucketWidthUs)

  private[graft] def sessionizeSaltedOf(ev: DataFrame,
      bucketWidthUs: Long): DataFrame = {
    val u = ev.withColumn("bkt", expr(s"us div ${bucketWidthUs}L"))
    val wLoc = Window.partitionBy(col("user_id"), col("bkt"))
      .orderBy(col("us"), col("event_id"))
    val runLoc = wLoc.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val local = u
      .withColumn("prev", lag(col("us"), 1).over(wLoc))
      .withColumn("ns",
        when(col("prev").isNull || col("us") - col("prev") > SessionGapUs,
          1L).otherwise(0L))
      .withColumn("local_sn", sum(col("ns")).over(runLoc))
    val wCarry = Window.partitionBy(col("user_id")).orderBy(col("bkt"))
    val summaries = local.groupBy(col("user_id"), col("bkt"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"),
        max(col("local_sn")).as("n_local"))
      .withColumn("prev_last", lag(col("last_us"), 1).over(wCarry))
      .withColumn("cont",
        when(col("prev_last").isNotNull &&
          col("first_us") - col("prev_last") <= SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("cum_before",
        coalesce(sum(col("n_local") - col("cont"))
          .over(wCarry.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("user_id"), col("bkt"), col("cont"), col("cum_before"))
    local
      .join(summaries, Seq("user_id", "bkt"))
      .withColumn("session_n",
        col("cum_before") + col("local_sn") - col("cont"))
      .groupBy(col("user_id"), col("session_n"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("span_us"))
  }

  // ------------------------------------------------------------------
  // Skew-diagnosis → salted-plan AUTO cutover (VERDICT r16 item 3):
  // q_skew_profile computes the diagnosis and the salted twins exist,
  // but until now nothing CONNECTED them — a user had to read the
  // census and hand-pick the salted entry point. These entry points
  // close that loop the way jaccardBestAuto / annSearchAuto do for
  // their families: measure, then dispatch, with BOTH branches oracled.
  // ------------------------------------------------------------------

  /** Skew ratio (×100 — [[RelationalOps.skewProfile]]'s `skew_x100`
    * unit) at or above which the AUTO entry points pick the salted
    * decomposition: hottest key ≥ 8× the average key's row count.
    * Below it the plain single-window form wins (the salted form pays
    * an extra summary aggregate + co-partitioned join — measured ~2×
    * wall on unskewed data, README skew note); above it the hot key's
    * single-partition sort is the serialization the salted form exists
    * to break. The testdata's natural events.user_id sits at ~129–148
    * (sf0.01/sf0.1) → plain branch; the declared hot fixture folds all
    * even users onto one id (skew_x100 ~3756/37874) → salted branch,
    * so both sides of the dispatch carry green CORRECTNESS rows. */
  val SkewAutoCutoverX100 = 800L

  /** Driver-side key-skew census: `max_cnt*100*n_keys div n_rows` over
    * the non-null keys — the exact `skew_x100` statistic
    * [[RelationalOps.skewProfile]] publishes, computed on the relation
    * the operator is ABOUT to shuffle. One partial-aggregated pass (the
    * exchange carries ~distinct keys; 1-row result to the driver) that
    * costs far less than the windowed operator it steers. Empty or
    * all-null input → 0 (plain branch). */
  private[graft] def keySkewX100(df: DataFrame, key: String): Long = {
    val r = df.where(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .agg(expr("CAST(max(cnt) * 100 * count(*) div sum(cnt) AS BIGINT)")
        .as("skew_x100"))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** AUTO sessionization: census the window key, then dispatch —
    * [[sessionizeOf]] under the cutover, [[sessionizeSaltedOf]] at or
    * above it. Result-identical on both branches (the salted scan
    * decomposition is equality-pinned by spec + shared oracle), so the
    * dispatch can never change an answer, only a plan. */
  private[graft] def sessionizeAutoOf(ev: DataFrame): DataFrame =
    if (keySkewX100(ev, "user_id") >= SkewAutoCutoverX100)
      sessionizeSaltedOf(ev, AsofSaltBucketUs)
    else sessionizeOf(ev)

  /** Declared auto sessionization over the natural events table —
    * skew_x100 ~129–148 → the PLAIN branch (plan-guarded); shares
    * [[sessionize]]'s oracle. */
  def sessionizeAuto(spark: SparkSession, dir: String): DataFrame =
    sessionizeAutoOf(Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id")))

  /** Hot-key fixture remap, shared by the `_hot` declared queries and
    * their oracles: every even user folds onto id 0, concentrating
    * ~half of all rows on one key (skew_x100 ~3756 at sf0.01) — the
    * bot/device regime the salted plans exist for, derived
    * deterministically from the standard table so DuckDB renders the
    * identical relation. */
  private[graft] val HotUidSql =
    "CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END"

  /** Declared auto sessionization over the hot-key remap — trips the
    * census (≥ [[SkewAutoCutoverX100]]) → the SALTED branch
    * (plan-guarded); oracle is the plain sessionize SQL over the same
    * remapped relation. */
  def sessionizeAutoHot(spark: SparkSession, dir: String): DataFrame =
    sessionizeAutoOf(Tables.events(spark, dir)
      .select(expr(HotUidSql).as("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id")))

  /** AUTO as-of: census the union of both sides' key columns (exactly
    * the distribution the as-of window sorts), then dispatch —
    * [[asofJoinCore]] under the cutover, [[asofJoinSaltedCore]] at or
    * above it. */
  private[graft] def asofJoinAutoCore(left: DataFrame, right: DataFrame,
      key: String, t: String, tie: String,
      forward: Boolean = false): DataFrame =
    if (keySkewX100(left.select(col(key))
          .unionAll(right.select(col(key))), key) >= SkewAutoCutoverX100)
      asofJoinSaltedCore(left, right, key, t, tie,
        forward = forward)
    else asofJoinCore(left, right, key, t, tie, forward)

  private def asofAutoOf(ev: DataFrame): DataFrame = {
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    asofJoinAutoCore(clicks, purchases, "user_id", "ts", "p_event_id")
      .select(col("event_id"), col("user_id"),
        col("matched.p_event_id").as("p_event_id"),
        col("matched.p_value").as("p_value"))
  }

  /** Declared auto as-of over the natural events table — plain branch
    * (plan-guarded); shares [[asofJoin]]'s native-ASOF oracle. */
  def asofAuto(spark: SparkSession, dir: String): DataFrame =
    asofAutoOf(Tables.events(spark, dir))

  /** Declared auto as-of over the hot-key remap — salted branch
    * (plan-guarded); oracle is DuckDB's native ASOF over the same
    * remapped relation (no (key, ts) purchase ties under the remap —
    * verified at sf0.01/sf0.1 — so the match is deterministic). */
  def asofAutoHot(spark: SparkSession, dir: String): DataFrame =
    asofAutoOf(Tables.events(spark, dir)
      .withColumn("user_id", expr(HotUidSql)))

  /** MARKOV TRANSITION MATRIX over per-user event sequences — the
    * product-analytics staple "after doing X, what do users do next":
    * one lead() over the sessionize window (same (us, event_id) total
    * order, same user_id shuffle), then a hash aggregate over the
    * (prev, next) pairs; conditional probabilities in exact ppm
    * integer math (`n·10⁶ div Σ_next n`, non-negative operands — the
    * oracle's `//` floors identically). The window the probabilities
    * normalize over runs on the AGGREGATED relation (|event_types|²
    * rows, ~25 here), never the event stream.
    *
    * Scale shape: one event-sized shuffle (user_id) + one tiny agg —
    * the sessionize envelope; hot-key skew has the same salted escape
    * hatch as as-of ([[asofJoinSaltedCore]]'s bucket decomposition
    * applies to any per-user running pass). */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val norm = Window.partitionBy(col("prev_type"))
    pairs.withColumn("total", sum(col("n")).over(norm))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("n * 1000000L div total").as("p_ppm"))
  }

  /** Ordered-funnel analysis — how many users did signup, then (at or
    * after it) a click, then (at or after that) a purchase. Each stage
    * is a keyed min-aggregate over the previous stage's survivors:
    * three user-keyed shuffles, no window, no event self-join — the
    * stage chain is |users|-sized after stage 1 regardless of event
    * volume. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    eventFunnelStages(spark, dir, Seq("signup", "click", "purchase"))

  /** The 4-stage funnel instance the N-stage form is oracled at —
    * signup → view → click → purchase over the events corpus. */
  val FunnelStages4: Seq[String] = Seq("signup", "view", "click", "purchase")

  /** CONFIG-DRIVEN N-stage ordered funnel (VERDICT r11 item 8) — the
    * fixed 3-stage [[eventFunnel]] generalized to any stage list: a
    * fold over the stages where stage k's survivors are the users with
    * an event of type `stages(k)` at-or-AFTER their stage-(k−1) minimum
    * time. The equal-timestamp rule is `>=` at EVERY hop (a conversion
    * in the same instant as its predecessor counts — spec-pinned), and
    * each survivor's carried time is the MIN qualifying ts, so a later
    * stage can never ride an earlier event than its predecessor.
    *
    * Scale shape: N user-keyed min-aggregates, each over the previous
    * stage's survivors — |users|-sized after stage 1 regardless of
    * event volume; no window, no event self-join. All N stage frames
    * share hashpartitioning(user_id), so AQE/ReuseExchange keep the
    * chain to one scan per stage filter + co-partitioned joins. */
  def eventFunnelStages(spark: SparkSession, dir: String,
      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val first = ev.where(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    val chain = stages.tail.scanLeft(first) { (prev, st) =>
      ev.where(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t").as("tp")), Seq("user_id"))
        .where(col("ts") >= col("tp"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
    }
    chain.zip(stages).zipWithIndex.map { case ((df, st), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(s"${i + 1}_$st").as("stage"), col("n_users"))
    }.reduce(_.unionByName(_))
  }

  private val WeekUs: Long = 7L * 86400L * 1000000L

  /** Retention cohorts — users bucketed by first-signup week (ISO
    * Monday truncation), counted active in each subsequent week they
    * produced ANY event. Week offsets are exact integer divisions of
    * microsecond deltas (both truncations are UTC week boundaries, so
    * the delta is always a whole number of weeks — no calendar
    * arithmetic). Pre-signup activity is excluded (offset >= 0). One
    * distinct pass over (user, week) + one user-keyed broadcast-ish
    * join: |users·weeks| rows, never |events|². */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cohorts = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
      .select(col("user_id"),
        date_trunc("week", col("first_signup")).as("cw"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
    active.join(cohorts, Seq("user_id"))
      .withColumn("week_offset",
        expr(s"(unix_micros(aw) - unix_micros(cw)) div $WeekUs"))
      .where(col("week_offset") >= 0)
      .groupBy(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Result cap for [[topPaths]]. */
  val PathTopK = 20

  /** TOP-K COMMON EVENT PATHS — the [[eventTransitions]] matrix
    * extended one hop ("what 3-step journeys dominate"): two lead()s
    * over the SAME per-user (us, event_id) total order, complete
    * triples only, one hash aggregate over the path strings, then a
    * deterministic top-[[PathTopK]] (count desc, path asc — unique
    * total order, so the limit is reproducible). Spark plans the tail
    * as TakeOrderedAndProject — per-partition heads, no global sort.
    *
    * Scale shape: the one event-sized user shuffle the whole
    * event-analytics family shares, an |types|³-bounded aggregate, and
    * a constant-size tail. The salted escape hatch applies as
    * everywhere in the family. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(PathTopK)
  }

  /** WEEKLY GROWTH ACCOUNTING — the new/retained/resurrected/churned
    * decomposition every growth dashboard runs ([[retentionCohorts]]'
    * sibling): over the distinct (user, week) relation, each user-week
    * classifies by its lag — `new` (first week ever), `retained`
    * (active the immediately preceding calendar week), `resurrected`
    * (a gap of ≥2 weeks); `n_churned_after` counts users whose NEXT
    * activity is not the following week (they leave after this one).
    * Identity: n_active = n_new + n_retained + n_resurrected, and
    * retained(w₊₁) = active(w) − churned_after(w) for consecutive
    * weeks — both spec-pinned.
    *
    * Scale shape: one distinct over (user, week) — corpus-sized — then
    * one user-keyed window over the |user-weeks| relation and one tiny
    * aggregate; integer day arithmetic (datediff == 7), no calendar
    * floats. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    uw.withColumn("prev", lag(col("wk"), 1).over(w))
      .withColumn("next", lead(col("wk"), 1).over(w))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(datediff(col("wk"), col("prev")) === 7, "retained")
          .otherwise("resurrected"))
      .groupBy(date_format(col("wk"), "yyyy-MM-dd").as("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("next").isNull ||
          datediff(col("next"), col("wk")) =!= 7, 1L).otherwise(0L))
          .as("n_churned_after"))
  }

  /** Trailing window length for [[slidingWau]] — 7 days, the WAU
    * convention. */
  val WauWindowDays = 7

  /** SLIDING WEEKLY-ACTIVE-USERS from DAILY MERGEABLE SKETCHES — the
    * trailing-distinct-count every product dashboard wants and every
    * naive plan gets wrong at scale (distinct is not
    * windows-decomposable, so the textbook form re-scans 7 days of raw
    * events PER WINDOW END). The sketch decomposition: one
    * Datasketches-HLL sketch of the day's user set per day
    * ([[DedupOps.SketchLgK]] — the corpus-overlap family's build
    * discipline), each daily sketch EXPLODED to the ≤[[WauWindowDays]]
    * window ends it serves (offset 0..6 — an equi-shuffle on
    * `win_end`, never a range join), then `hll_union_agg` per window
    * end. The raw events are scanned ONCE regardless of window count,
    * the shuffle carries |days|·7 sketch buffers (≤ 4 KiB each), and a
    * STORED daily-sketch table serves tomorrow's windows without
    * touching today's events again — the incremental-dashboard plan.
    *
    * Declared with the [[approxQuantiles]]/[[RelationalOps.approxDistinct]]
    * contract: exact trailing distinct (computable at this SF) plus a
    * boolean asserting |est − exact| ≤ 3·[[DedupOps.SketchRsd]]·exact.
    * Window ends are the days PRESENT in the data (a trailing window
    * ends on each active day). */
  def slidingWau(spark: SparkSession, dir: String): DataFrame =
    slidingWauOf(spark, dir, dailyUserSketches(spark, dir))

  /** Daily user sketches straight off the events scan — the build the
    * streaming loop maintains incrementally. */
  private def dailyUserSketches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), DedupOps.SketchLgK).as("sk"))

  /** [[slidingWau]] over a caller-supplied daily-sketch relation — the
    * exact contract arm recomputes from events either way (it exists
    * to grade the estimates), so the twin forms share everything but
    * where the sketches come from. */
  private def slidingWauOf(spark: SparkSession, dir: String,
      daily: DataFrame): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val days = daily.select(col("day").as("win_end"))
    val offs = explode(sequence(lit(0), lit(WauWindowDays - 1))).as("o")
    val est = daily.select(col("day"), col("sk"), offs)
      .withColumn("win_end", date_add(col("day"), col("o")))
      .groupBy(col("win_end"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_wau"))
      .join(days, Seq("win_end"))
    val exact = ev.distinct()
      .select(col("user_id"), col("day"), offs)
      .withColumn("win_end", date_add(col("day"), col("o")))
      .groupBy(col("win_end"))
      .agg(countDistinct(col("user_id")).as("exact_wau"))
      .join(days, Seq("win_end"))
    est.join(exact, Seq("win_end"))
      .select(date_format(col("win_end"), "yyyy-MM-dd").as("win_end"),
        col("exact_wau"),
        (abs(col("est_wau") - col("exact_wau")).cast("double") <=
          lit(3 * DedupOps.SketchRsd) * col("exact_wau"))
          .as("wau_within_bounds"))
  }

  /** PRODUCTION sliding WAU — estimates served from a STORED
    * daily-sketch parquet table (materialized once per corpus content —
    * [[graft.functions.MaterializeCache]]): the plan a long-lived dashboard
    * executes — |days| stored rows in, no event re-scan for the
    * estimate arm. Shares [[slidingWau]]'s oracle (the exact contract
    * arm grades the stored-sketch estimates). */
  def prodSlidingWau(spark: SparkSession, dir: String): DataFrame =
    slidingWauOf(spark, dir,
      graft.functions.MaterializeCache.table("prod_daysk", dir)(
        dailyUserSketches(spark, dir)))

  /** Trailing-baseline length for [[rateAnomaly]] (calendar days). */
  val AnomalyPriorDays = 7

  /** Spike bar for [[rateAnomaly]] in ppm of the trailing mean — 3×. */
  val AnomalySpikePpm = 3000000L

  /** EVENT-RATE SPIKE DETECTION against a CALENDAR-EXACT trailing
    * baseline — "is today's count ≥3× the trailing-week mean for this
    * event type": per (event_type, day) counts, then each day's count
    * contributed to the [[AnomalyPriorDays]] window ends it PRECEDES
    * (offsets 1..7 — the [[slidingWau]] explode discipline: an
    * equi-shuffle on (type, win_end), never a day-range join, and
    * missing days genuinely missing from the baseline rather than the
    * rows-between-7 window silently reaching back past quiet gaps).
    * Integer-exact: ratio_ppm = n·10⁶·prior_days div prior_sum
    * (truncating, all operands non-negative), −1 when the type has no
    * prior activity in the window; spike = ratio ≥ [[AnomalySpikePpm]].
    *
    * Scale shape: one hash aggregate over events, then arithmetic on
    * the |types|·|days| relation — the window family never re-touches
    * the corpus. */
  def rateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val prior = daily
      .select(col("event_type"), col("n"), col("day"),
        explode(sequence(lit(1), lit(AnomalyPriorDays))).as("o"))
      .withColumn("win_end", date_add(col("day"), col("o")))
      .groupBy(col("event_type"), col("win_end"))
      .agg(sum(col("n")).as("prior_sum"), count(lit(1)).as("prior_days"))
    daily
      .join(prior.withColumnRenamed("win_end", "day"),
        Seq("event_type", "day"), "left")
      .withColumn("ratio_ppm",
        when(col("prior_sum").isNotNull && col("prior_sum") > 0,
          expr("n * 1000000L * prior_days div prior_sum"))
          .otherwise(lit(-1L)))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        coalesce(col("prior_days"), lit(0L)).as("prior_days"),
        col("ratio_ppm"),
        (col("ratio_ppm") >= AnomalySpikePpm).as("spike"))
  }

  /** `percentile_approx` accuracy → guaranteed rank error ε = 1/this.
    * Kept deliberately coarse (ε = 1%) so the error-bound contract below
    * is a REAL assertion about the sketch, not slack. */
  val QuantileAccuracy = 100

  /** Approximate quantiles with an error-bound contract — the
    * [[RelationalOps.approxDistinct]] pattern for the quantile sketch:
    * per event_type, exact p50/p90/p99 of the value (integer cents,
    * floor on both engines) via the histogram trick, PLUS booleans
    * asserting the `percentile_approx` estimate lands between the exact
    * (p−ε) and (p+ε) quantiles — the KLL/GK-style rank guarantee the
    * sketch ships with. The oracle pins the exact quantiles and asserts
    * the booleans TRUE; the estimates themselves are engine-specific and
    * never cross the oracle. At 100 TB the exact side IS the histogram
    * trick (hash-agg to distinct values, window over the histogram, not
    * the corpus); the sketch side is one mergeable buffer per group. */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
    val hist = cents.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    def pick(p10k: Int, nm: String): Column =
      min(when(col("cum") * 10000 >= col("total") * p10k, col("cents")))
        .as(nm)
    val exact = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .groupBy(col("event_type"))
      .agg(pick(5000, "p50"), pick(9000, "p90"), pick(9900, "p99"),
        pick(4900, "lo50"), pick(5100, "hi50"),
        pick(8900, "lo90"), pick(9100, "hi90"),
        pick(9800, "lo99"), max(col("cents")).as("hi99"))
    val approx = cents.groupBy(col("event_type"))
      .agg(percentile_approx(col("cents"),
        array(lit(0.5), lit(0.9), lit(0.99)),
        lit(QuantileAccuracy)).as("ap"))
    exact.join(approx, Seq("event_type"))
      .select(col("event_type"), col("p50"), col("p90"), col("p99"),
        col("ap")(0).between(col("lo50"), col("hi50"))
          .as("p50_within_bounds"),
        col("ap")(1).between(col("lo90"), col("hi90"))
          .as("p90_within_bounds"),
        col("ap")(2).between(col("lo99"), col("hi99"))
          .as("p99_within_bounds"))
  }

  /** Hourly tumbling-window rollup in batch mode — Spark's `window()`
    * grouping, oracled against DuckDB's time_bucket. */
  def hourlyWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // string-route decimal->double: BigDecimal.doubleValue() measured
        // 1 ulp off DuckDB (q1Pricing war story); the string parse is
        // correctly rounded on both engines
        sum(dec("value")).cast("string").cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Counter budget for [[heavyHitters]] — deliberately SMALLER than the
    * event-type cardinality (5 on this corpus), so the sketch runs under
    * constant eviction pressure and the presence guarantee is earned,
    * not a byproduct of the sketch holding everything. */
  val HhEventK = 4

  /** HEAVY-HITTER census over the event stream via the Misra-Gries
    * sketch ([[graft.plans.MisraGriesTopK]], a native Catalyst
    * `TypedImperativeAggregate`) — "which event types dominate" answered
    * in ONE pass with O(k) state per partition, where the exact answer
    * shuffles a cardinality-sized relation. The oracle-gated output is
    * the deterministic CONTRACT (the [[approxQuantiles]] discipline):
    * for every type whose EXACT count clears the n/(k+1) guarantee bar,
    * the sketch must contain it (`in_sketch`), must undercount
    * (`under_est` — MG never overestimates), and must undercount by at
    * most n/(k+1) (`err_ok`). The raw estimates are merge-order-
    * dependent (Spark fixes no partial-merge order) and never cross the
    * oracle; a sketch bug turns a boolean false/null and fails the hash.
    *
    * Scale shape: the sketch side is one partial-aggregated pass — each
    * partition ships ≤ k counters; the exact side (needed only to GRADE
    * the contract) is the usual hash-agg. At 100 TB the sketch alone
    * answers the operational question with a single scan and a
    * few-hundred-byte shuffle. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val mg = graft.plans.MisraGriesTopK.mgTopK(spark) _
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isNotNull).select(col("event_type"))
    val sk = ev
      .agg(mg(col("event_type"), HhEventK).as("sketch"))
      .select(explode(col("sketch")).as("e"))
      .select(col("e.tok").as("event_type"), col("e.est").as("est"))
    val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val tot = exact.agg(sum(col("cnt")).as("n_ev"))
    exact.crossJoin(broadcast(tot))
      .where(col("cnt") * (HhEventK + 1) > col("n_ev"))
      .join(sk, Seq("event_type"), "left")
      .select(col("event_type"), col("cnt"),
        col("est").isNotNull.as("in_sketch"),
        (col("est") <= col("cnt")).as("under_est"),
        ((col("cnt") - col("est")) * (HhEventK + 1) <= col("n_ev"))
          .as("err_ok"))
  }

  /** Subset selector keeping the declared gap-fill dump bounded (the
    * plan is user-count-independent; the mod only trims the output). */
  val GapFillUserMod = 20

  /** TIME-SERIES RESAMPLE + FORWARD FILL — the gap-filling every
    * per-entity daily dashboard needs: aggregate events to (user, day),
    * build each user's CALENDAR SPINE (`sequence(min_day, max_day)` —
    * one row per day whether or not events exist), left-join the
    * observed days back on, and forward-fill the day's last event type
    * across the gaps (`last(..., ignoreNulls)` over the per-user
    * running frame — the same window DuckDB spells
    * `last_value(x IGNORE NULLS)`). Gap days carry n_events = 0,
    * `is_gap` = true, and the carried type; the first spine day is
    * always observed, so no leading-null edge exists. The day's "last
    * type" pick is deterministic: lexicographic max of
    * (µs, event_id, type).
    *
    * Scale shape: one groupBy (user, day), one tiny per-user span agg,
    * the spine explode (|users| · span rows), and one per-user window
    * — all partitioned by user_id, the sessionize discipline. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val daily = Tables.events(spark, dir)
      .where(col("user_id") % GapFillUserMod === 0)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(unix_micros(col("ts")).as("us"),
          col("event_id").as("eid"), col("event_type").as("et")))
          .getField("et").as("last_type"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("is_gap", col("last_type").isNull)
      .withColumn("carried_type",
        last(col("last_type"), ignoreNulls = true).over(w))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd")
        .as("day"), coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("carried_type"), col("is_gap"))
  }

  /** SCD2 INTERVAL BUILD (gaps-and-islands run collapse) — the inverse
    * of the validity-interval JOIN ([[validityJoin]] consumes such a
    * table; this CONSTRUCTS one from a change stream): per user,
    * consecutive same-type event runs collapse to one row with
    * `valid_from` = run start and `valid_to` = next run's start (open
    * interval, NULL while current) — the slowly-changing-dimension
    * type-2 shape every warehouse maintains. Island ids are the
    * classic running sum of change flags (`lag` ≠ current) over the
    * per-user ordered window; ties break on event_id, so the
    * construction is deterministic. Timestamps render to second
    * precision (the events-ts engine-portability rule).
    *
    * Scale shape: two windows + one aggregate, ALL partitioned by
    * user_id (the sessionize discipline — nothing global). */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("chg")).over(byUser.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("event_type")).as("event_type"), // constant per island
        min(col("us")).as("from_us"), count(lit(1)).as("n_events"))
    val byIsland = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("island"))
    runs
      .withColumn("to_us", lead(col("from_us"), 1).over(byIsland))
      .select(col("user_id"), col("island"), col("event_type"),
        date_format(timestamp_micros(col("from_us")),
          "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(timestamp_micros(col("to_us")),
          "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("n_events"))
  }

  /** NATIVE SESSION WINDOWS — Spark's built-in `session_window`
    * (merge-on-overlap of per-event [ts, ts+gap) windows) run as a
    * batch aggregate, next to the hand-rolled [[sessionize]]: the
    * preference order says use the built-in where it expresses the
    * semantics, and this row PROVES what those semantics are. One
    * boundary differs from the hand-rolled form and the oracle encodes
    * it: the native window is HALF-OPEN, so an event landing exactly
    * `gap` after its predecessor starts a NEW session (`>=`), where
    * [[sessionize]]'s `gap > G` keeps it. (Session counts can differ
    * at exact-boundary events; both definitions are legitimate — the
    * point is knowing which one a plan runs.) Streaming-ready: the
    * same expression groups a watermarked stream. */
  def sessionWindowNative(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapHours hours").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_session_window"  -> sessionWindowNative _,
    "q_scd2_intervals"  -> scd2Intervals _,
    "q_gap_fill"        -> gapFill _,
    "q_window_hourly"   -> hourlyWindow _,
    "q_heavy_hitters"   -> heavyHitters _,
    "q_nite_rollup"     -> niteRollup _,
    "q_errors_per_nite" -> errorsPerNite _,
    "q_skip_dups"       -> skipDuplicates _,
    "q_last_event"      -> lastEventPerUser _,
    "q_first_event"     -> firstPerUserType _,
    "q_event_type_sets" -> eventTypeSets _,
    "q_docids_per_lang" -> docIdsPerLang _,
    "q_validity_join"   -> validityJoin _,
    "q_range_bucketed"  -> rangeJoinBucketed _,
    "q_expstate"        -> expstate _,
    "q_kv_parse"        -> kvParse _,
    "q_nite_list"       -> niteList _,
    "q_asof_join"       -> asofJoin _,
    "q_asof_salted"     -> asofSalted _,
    "q_asof_auto"       -> asofAuto _,
    "q_asof_auto_hot"   -> asofAutoHot _,
    "q_asof_tolerance"  -> asofTolerance _,
    "q_asof_tolerance_hot" -> asofToleranceHot _,
    "q_asof_forward"    -> asofForward _,
    "q_asof_forward_hot" -> asofForwardHot _,
    "q_conversion_latency" -> conversionLatency _,
    "q_approx_quantiles" -> approxQuantiles _,
    "q_sessionize"      -> sessionize _,
    "q_sessionize_salted" ->
      ((s: SparkSession, d: String) => sessionizeSalted(s, d)),
    "q_sessionize_auto" -> sessionizeAuto _,
    "q_sessionize_auto_hot" -> sessionizeAutoHot _,
    "q_event_transitions" -> eventTransitions _,
    "q_event_funnel"    -> eventFunnel _,
    "q_event_funnel_n"  -> ((s: SparkSession, d: String) =>
      eventFunnelStages(s, d, FunnelStages4)),
    "q_retention"       -> retentionCohorts _,
    "q_sliding_wau"     -> slidingWau _,
    "q_prod_wau"        -> prodSlidingWau _,
    "q_rate_anomaly"    -> rateAnomaly _,
    "q_top_paths"       -> topPaths _,
    "q_growth_accounting" -> growthAccounting _,
  )

  private val niteSql =
    "strftime(CASE WHEN extract(hour FROM ts) < 15 THEN ts - INTERVAL 1 DAY ELSE ts END, '%Y%m%d')"

  /** N-stage funnel oracle, rendered from the SAME stage list as
    * [[eventFunnelStages]] — one CTE per stage, each hop with the
    * `>=` equal-timestamp rule, so the SQL is the fold made visible. */
  private def funnelSql(stages: Seq[String]): String = {
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) AS t FROM events
           |       WHERE event_type = '$st' GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) AS t
           |       FROM events e JOIN s$i ON e.user_id = s$i.user_id
           |       WHERE e.event_type = '$st' AND e.ts >= s$i.t
           |       GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val sels = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0) s"SELECT '1_$st' AS stage, count(*) AS n_users FROM s1"
      else s"SELECT '${i + 1}_$st', count(*) FROM s${i + 1}"
    }.mkString("\nUNION ALL ")
    s"WITH $ctes\n$sels"
  }

  private lazy val slidingWauSql: String =
    s"""WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
       |           FROM events),
       |days AS (SELECT DISTINCT day FROM e),
       |w AS (SELECT d.day AS win_end, e.user_id
       |      FROM days d JOIN e
       |        ON e.day BETWEEN d.day - ${WauWindowDays - 1} AND d.day)
       |SELECT strftime(win_end, '%Y-%m-%d') AS win_end,
       |  count(DISTINCT user_id) AS exact_wau,
       |  TRUE AS wau_within_bounds
       |FROM w GROUP BY 1""".stripMargin

  /** Sessionize oracle over any uid rendering — `user_id` for the
    * natural queries, [[HotUidSql]] for the hot-fixture auto branch. */
  private def sessionizeSqlOver(uid: String): String =
    s"""WITH e AS (SELECT $uid AS user_id, epoch_us(ts) AS us, event_id
       |           FROM events),
       |f AS (SELECT user_id, us, event_id,
       |        CASE WHEN lag(us) OVER w IS NULL
       |               OR us - lag(us) OVER w > $SessionGapUs
       |             THEN 1 ELSE 0 END AS ns
       |      FROM e WINDOW w AS (PARTITION BY user_id
       |                          ORDER BY us, event_id)),
       |s AS (SELECT user_id, us,
       |        sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS session_n
       |      FROM f)
       |SELECT user_id, CAST(session_n AS BIGINT) AS session_n,
       |  count(*) AS n_events, CAST(max(us) - min(us) AS BIGINT) AS span_us
       |FROM s GROUP BY 1, 2""".stripMargin

  private lazy val sessionizeSql: String = sessionizeSqlOver("user_id")

  /** As-of oracle over any uid rendering (see [[sessionizeSqlOver]]). */
  private def asofJoinSqlOver(uid: String): String =
    s"""WITH l AS (SELECT $uid AS user_id, ts, event_id FROM events
       |           WHERE event_type = 'click'),
       |r AS (SELECT $uid AS user_id, ts, event_id AS p_event_id,
       |             value AS p_value
       |      FROM events WHERE event_type = 'purchase')
       |SELECT l.event_id, l.user_id, r.p_event_id, r.p_value
       |FROM l ASOF LEFT JOIN r
       |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  private lazy val asofJoinSql: String = asofJoinSqlOver("user_id")

  /** Tolerance twin of [[asofJoinSqlOver]] — the staleness CASE over
    * the native-ASOF match, parameterized by the uid remap so the hot
    * twin shares it. */
  private def asofToleranceSqlOver(uid: String): String =
    s"""WITH l AS (SELECT $uid AS user_id, ts, event_id FROM events
       |           WHERE event_type = 'click'),
       |r AS (SELECT $uid AS user_id, ts, event_id AS p_event_id,
       |             value AS p_value
       |      FROM events WHERE event_type = 'purchase')
       |SELECT l.event_id, l.user_id,
       |  CASE WHEN epoch_us(r.ts) >= epoch_us(l.ts) - $AsofToleranceUs
       |       THEN r.p_event_id END AS p_event_id,
       |  CASE WHEN epoch_us(r.ts) >= epoch_us(l.ts) - $AsofToleranceUs
       |       THEN r.p_value END AS p_value
       |FROM l ASOF LEFT JOIN r
       |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  /** Forward twin — DuckDB's native ASOF with the inequality flipped
    * (earliest right row at-or-after), parameterized like the others. */
  private def asofForwardSqlOver(uid: String): String =
    s"""WITH l AS (SELECT $uid AS user_id, ts, event_id FROM events
       |           WHERE event_type = 'click'),
       |r AS (SELECT $uid AS user_id, ts, event_id AS p_event_id
       |      FROM events WHERE event_type = 'purchase')
       |SELECT l.event_id, l.user_id, r.p_event_id,
       |  (epoch_us(r.ts) - epoch_us(l.ts)) // 1000000 AS latency_sec
       |FROM l ASOF LEFT JOIN r
       |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin

  val oracles: Map[String, String] = Map(
    // native session_window semantics: HALF-OPEN windows, so the new-
    // session rule is >= gap (the hand-rolled sessionize uses > gap)
    "q_session_window" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
         |           FROM events),
         |f AS (SELECT user_id, us, event_id,
         |        CASE WHEN lag(us) OVER w IS NULL
         |               OR us - lag(us) OVER w >= $SessionGapUs
         |             THEN 1 ELSE 0 END AS ns
         |      FROM e WINDOW w AS (PARTITION BY user_id
         |                          ORDER BY us, event_id)),
         |s AS (SELECT user_id, us,
         |        sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS session_n
         |      FROM f)
         |SELECT user_id,
         |  strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S')
         |    AS session_start,
         |  count(*) AS n_events
         |FROM s GROUP BY user_id, session_n""".stripMargin,
    // gaps-and-islands: the same lag-flag running sum, second-precision
    // rendering, open current interval as NULL
    "q_scd2_intervals" ->
      s"""WITH se AS (SELECT user_id, epoch_us(ts) AS us, event_id,
         |    event_type FROM events),
         |sf AS (SELECT user_id, us, event_id, event_type,
         |    CASE WHEN lag(event_type) OVER w IS NULL
         |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
         |      AS chg
         |  FROM se WINDOW w AS (PARTITION BY user_id
         |    ORDER BY us, event_id)),
         |si AS (SELECT user_id, us, event_type,
         |    CAST(sum(chg) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS island
         |  FROM sf),
         |sr AS (SELECT user_id, island, min(event_type) AS event_type,
         |    min(us) AS from_us, CAST(count(*) AS BIGINT) AS n_events
         |  FROM si GROUP BY user_id, island)
         |SELECT user_id, island, event_type,
         |  strftime(make_timestamp(from_us), '%Y-%m-%d %H:%M:%S')
         |    AS valid_from,
         |  strftime(make_timestamp(lead(from_us) OVER (
         |    PARTITION BY user_id ORDER BY island)), '%Y-%m-%d %H:%M:%S')
         |    AS valid_to,
         |  n_events
         |FROM sr""".stripMargin,
    // spine + forward fill: DuckDB's last_value IGNORE NULLS over the
    // same per-user running frame; the day's last-type pick shares the
    // (us, event_id) lexicographic tiebreak
    "q_gap_fill" ->
      s"""WITH ge AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |    epoch_us(ts) AS us, event_id, event_type
         |  FROM events WHERE user_id % $GapFillUserMod = 0),
         |gdr AS (SELECT user_id, day, event_type,
         |    row_number() OVER (PARTITION BY user_id, day
         |      ORDER BY us DESC, event_id DESC) AS rk,
         |    count(*) OVER (PARTITION BY user_id, day) AS nw
         |  FROM ge),
         |gd AS (SELECT user_id, day, CAST(nw AS BIGINT) AS n_events,
         |    event_type AS last_type
         |  FROM gdr WHERE rk = 1),
         |gs AS (SELECT user_id, min(day) AS d0, max(day) AS d1
         |  FROM gd GROUP BY user_id),
         |spine AS (SELECT user_id, CAST(unnest(generate_series(d0, d1,
         |    INTERVAL 1 DAY)) AS DATE) AS day FROM gs),
         |jn AS (SELECT s.user_id, s.day, gd.n_events, gd.last_type
         |  FROM spine s LEFT JOIN gd USING (user_id, day))
         |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
         |  coalesce(n_events, 0) AS n_events,
         |  last_value(last_type IGNORE NULLS) OVER (
         |    PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS carried_type,
         |  last_type IS NULL AS is_gap
         |FROM jn""".stripMargin,
    // Misra-Gries contract: exact counts pick the guaranteed-heavy
    // types; the sketch booleans are provably TRUE (presence,
    // undercount, n/(k+1) bound) — engine-specific estimates never
    // cross the oracle (the q_approx_distinct / q_approx_quantiles
    // discipline)
    "q_heavy_hitters" ->
      s"""WITH cnt AS (SELECT event_type, count(*) AS cnt FROM events
         |  WHERE event_type IS NOT NULL GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_ev FROM cnt)
         |SELECT event_type, cnt,
         |  true AS in_sketch, true AS under_est, true AS err_ok
         |FROM cnt, tot WHERE cnt * ${HhEventK + 1} > n_ev""".stripMargin,
    "q_window_hourly" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS win_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_nite_rollup" ->
      s"""SELECT $niteSql AS nite, count(*) AS n_events,
         |  CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1""".stripMargin,
    "q_errors_per_nite" ->
      s"""SELECT $niteSql AS nite, count(*) AS n_errors
         |FROM events WHERE event_type = 'error' GROUP BY 1""".stripMargin,
    "q_skip_dups" ->
      """SELECT event_id, user_id, event_type, rn > 1 AS skip FROM (
        |  SELECT event_id, user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)""".stripMargin,
    "q_last_event" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
        |FROM (SELECT user_id, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,
    "q_first_event" ->
      """SELECT user_id, event_type, event_id AS first_event_id
        |FROM (SELECT user_id, event_type, event_id,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts ASC, event_id ASC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,
    "q_event_type_sets" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types
        |FROM events GROUP BY user_id""".stripMargin,
    "q_docids_per_lang" ->
      s"""WITH r AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n_docs
         |  FROM documents WHERE n_chars > 400)
         |SELECT lang, CAST(any_value(n_docs) AS BIGINT) AS n_docs,
         |  array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
         |FROM r WHERE rn <= $DocIdsCap GROUP BY lang""".stripMargin,
    "q_validity_join" ->
      """WITH wins AS (
        |  SELECT o_orderpriority, min(o_orderdate) AS s, max(o_orderdate) AS e
        |  FROM orders GROUP BY 1),
        |days AS (
        |  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS c
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n_days,
        |  CAST(sum(c) AS BIGINT) AS n_lines_total
        |FROM days JOIN wins ON d BETWEEN CAST(s AS DATE) AND CAST(e AS DATE)
        |GROUP BY 1""".stripMargin,
    "q_range_bucketed" ->
      """WITH days AS (
        |  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS c
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS n_shipped_weekly
        |FROM orders JOIN days
        |  ON d BETWEEN CAST(o_orderdate AS DATE)
        |           AND CAST(o_orderdate AS DATE) + INTERVAL 6 DAY
        |GROUP BY 1""".stripMargin,
    "q_expstate" ->
      """SELECT CASE
        |    WHEN o_orderstatus = 'F' AND l_orderkey IS NOT NULL THEN 'ok'
        |    WHEN o_orderstatus = 'F' AND l_orderkey IS NULL THEN 'missing'
        |    WHEN o_orderstatus <> 'F' AND l_orderkey IS NOT NULL THEN 'extra'
        |    ELSE 'not delivered' END AS expstate,
        |  count(*) AS n_orders
        |FROM orders LEFT JOIN
        |  (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R') r
        |  ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    "q_kv_parse" ->
      """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
        |  count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q_nite_list" ->
      """WITH m AS (SELECT max(ts) AS max_ts FROM events)
        |SELECT CAST(i AS INT) AS i,
        |  strftime(CAST(max_ts AS DATE) - i * INTERVAL 1 DAY, '%Y%m%d') AS nite
        |FROM m, range(14) t(i)""".stripMargin,
    // DuckDB's NATIVE ASOF JOIN — an independent implementation of the
    // semantics (no union-window mirror); right-side (user_id, ts) pairs
    // are unique in the testdata, so the match is deterministic. The
    // salted two-phase plan must produce the identical result — one
    // oracle serves both
    "q_asof_join" -> asofJoinSql,
    "q_asof_auto" -> asofJoinSql,
    "q_asof_auto_hot" -> asofJoinSqlOver(HotUidSql),
    "q_asof_salted" -> asofJoinSql,
    "q_asof_tolerance" -> asofToleranceSqlOver("user_id"),
    "q_asof_tolerance_hot" -> asofToleranceSqlOver(HotUidSql),
    // quantiles over the native-ASOF latencies; sketch estimates are
    // engine-specific, so the oracle pins exact picks + TRUE booleans
    "q_conversion_latency" ->
      s"""WITH l AS (SELECT user_id, ts, event_id FROM events
         |           WHERE event_type = 'click'),
         |r AS (SELECT user_id, ts FROM events
         |      WHERE event_type = 'purchase'),
         |lat AS (
         |  SELECT (epoch_us(r.ts) - epoch_us(l.ts)) // 1000000
         |    AS latency_sec
         |  FROM l ASOF LEFT JOIN r
         |    ON l.user_id = r.user_id AND l.ts <= r.ts),
         |c AS (SELECT count(*) AS n_clicks,
         |        count(latency_sec) AS n_converted FROM lat),
         |h AS (SELECT latency_sec, count(*) AS n FROM lat
         |      WHERE latency_sec IS NOT NULL GROUP BY 1),
         |k AS (SELECT latency_sec,
         |        sum(n) OVER (ORDER BY latency_sec
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS cum,
         |        sum(n) OVER () AS total
         |      FROM h),
         |e AS (SELECT
         |    min(CASE WHEN cum * 10000 >= total * 5000
         |        THEN latency_sec END) AS p50_sec,
         |    min(CASE WHEN cum * 10000 >= total * 9000
         |        THEN latency_sec END) AS p90_sec
         |  FROM k)
         |SELECT c.n_clicks, c.n_converted,
         |  CAST(e.p50_sec AS BIGINT) AS p50_sec,
         |  CAST(e.p90_sec AS BIGINT) AS p90_sec,
         |  TRUE AS p50_within_bounds,
         |  TRUE AS p90_within_bounds
         |FROM c, e""".stripMargin,
    "q_asof_forward" -> asofForwardSqlOver("user_id"),
    "q_asof_forward_hot" -> asofForwardSqlOver(HotUidSql),
    // exact quantiles via the histogram trick; the sketch estimates are
    // engine-specific, so the oracle asserts the rank-bound booleans
    "q_approx_quantiles" ->
      """WITH c AS (SELECT event_type,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |h AS (SELECT event_type, cents, count(*) AS n FROM c GROUP BY 1, 2),
        |k AS (SELECT event_type, cents,
        |        sum(n) OVER (PARTITION BY event_type ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(n) OVER (PARTITION BY event_type) AS total
        |      FROM h)
        |SELECT event_type,
        |  min(CASE WHEN cum * 10000 >= total * 5000 THEN cents END) AS p50,
        |  min(CASE WHEN cum * 10000 >= total * 9000 THEN cents END) AS p90,
        |  min(CASE WHEN cum * 10000 >= total * 9900 THEN cents END) AS p99,
        |  TRUE AS p50_within_bounds,
        |  TRUE AS p90_within_bounds,
        |  TRUE AS p99_within_bounds
        |FROM k GROUP BY 1""".stripMargin,
    "q_sessionize" -> sessionizeSql,
    "q_sessionize_auto" -> sessionizeSql,
    "q_sessionize_auto_hot" -> sessionizeSqlOver(HotUidSql),
    // the salted twin is result-identical by the segmented-scan
    // decomposition, so it shares the native oracle — the green row
    // grades the skew plan itself (the q_asof_salted convention)
    "q_sessionize_salted" -> sessionizeSql,
    "q_event_transitions" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
         |             event_type FROM events),
         |p AS (SELECT event_type AS prev_type,
         |        lead(event_type) OVER (PARTITION BY user_id
         |                               ORDER BY us, event_id) AS next_type
         |      FROM e),
         |g AS (SELECT prev_type, next_type, count(*) AS n
         |      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
         |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
         |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type)
         |       AS BIGINT) AS p_ppm
         |FROM g""".stripMargin,
    // both funnel oracles render from the SAME stage lists as the Spark
    // plans (the mixCaseSql discipline: generated literals cannot drift)
    "q_event_funnel" -> funnelSql(Seq("signup", "click", "purchase")),
    "q_event_funnel_n" -> funnelSql(FunnelStages4),
    "q_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    date_trunc('week', ts) AS wk FROM events),
        |s AS (SELECT user_id, wk,
        |    lag(wk) OVER w AS prev, lead(wk) OVER w AS next
        |  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk))
        |SELECT strftime(wk, '%Y-%m-%d') AS week,
        |  count(*) AS n_active,
        |  CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(sum(CASE WHEN prev IS NOT NULL
        |    AND date_diff('day', prev, wk) = 7 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN prev IS NOT NULL
        |    AND date_diff('day', prev, wk) <> 7 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_resurrected,
        |  CAST(sum(CASE WHEN next IS NULL
        |    OR date_diff('day', wk, next) <> 7 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churned_after
        |FROM s GROUP BY 1""".stripMargin,
    "q_top_paths" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
         |             event_type FROM events),
         |p AS (SELECT event_type || '>' || lead(event_type, 1) OVER w
         |        || '>' || lead(event_type, 2) OVER w AS path,
         |        lead(event_type, 2) OVER w AS t3
         |      FROM e WINDOW w AS (PARTITION BY user_id
         |                          ORDER BY us, event_id))
         |SELECT path, count(*) AS n FROM p WHERE t3 IS NOT NULL
         |GROUP BY path ORDER BY n DESC, path LIMIT $PathTopK""".stripMargin,
    "q_rate_anomaly" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |prior AS (
         |  SELECT d.event_type, d.day + CAST(o AS INT) AS win_end,
         |    CAST(sum(d.n) AS BIGINT) AS prior_sum,
         |    count(*) AS prior_days
         |  FROM daily d, range(1, ${AnomalyPriorDays + 1}) t(o)
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT d.event_type, d.day, d.n, p.prior_sum,
         |    coalesce(p.prior_days, 0) AS prior_days,
         |    CASE WHEN p.prior_sum > 0
         |         THEN d.n * 1000000 * p.prior_days // p.prior_sum
         |         ELSE -1 END AS ratio_ppm
         |  FROM daily d LEFT JOIN prior p
         |    ON p.event_type = d.event_type AND p.win_end = d.day)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
         |  prior_days, CAST(ratio_ppm AS BIGINT) AS ratio_ppm,
         |  ratio_ppm >= $AnomalySpikePpm AS spike
         |FROM j""".stripMargin,
    // sketch estimates are engine-specific: the oracle pins the exact
    // trailing distinct counts and asserts the budget booleans TRUE;
    // the prod twin serves from the stored sketch table and shares it
    "q_sliding_wau" -> slidingWauSql,
    // the stored-sketch-served twin: same exact counts, same booleans
    "q_prod_wau" -> slidingWauSql,
    "q_retention" ->
      s"""WITH c AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
         |           FROM events WHERE event_type = 'signup' GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
         |      FROM events)
         |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
         |  (epoch_us(aw) - epoch_us(cw)) // $WeekUs AS week_offset,
         |  count(DISTINCT user_id) AS n_users
         |FROM a JOIN c USING (user_id)
         |WHERE epoch_us(aw) >= epoch_us(cw)
         |GROUP BY 1, 2""".stripMargin,
  )
}
