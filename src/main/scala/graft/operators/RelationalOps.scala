package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational operator catalog: scans with pushed predicates, the full
  * join menu (inner/left/semi/anti/full-outer), aggregations, set ops.
  *
  * Each entry mirrors an operator row in SURVEY.md §2 (reference file:line in
  * each scaladoc) re-expressed on the driver testdata tables. Numeric
  * aggregates are computed in DECIMAL (exact) and cast to double at the end
  * so the DuckDB oracle matches bit-for-bit regardless of FP summation
  * order — at 100 TB the partial-aggregation tree shape is nondeterministic,
  * so exactness must come from the type, not the plan.
  */
object RelationalOps {

  private def dec(cn: String) = col(cn).cast("decimal(12,4)")

  /** Exact decimal → bit-identical double: via the decimal's string form
    * (exact), then a correctly-rounded string→double parse. */
  private def decStr(c: org.apache.spark.sql.Column) =
    c.cast("string").cast("double")

  /** Q1-style pricing summary — SURVEY §2.4 (A2/A3 count-&-sum per group);
    * scan+filter+hash-agg spine. Filter is pushed to parquet. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // decimal→double via the decimal's STRING form: BigDecimal
        // .doubleValue() is 1 ulp off other engines' decimal→double for
        // some values (seen on sum_disc_price at sf0.1), but decimal→
        // string is exact in every engine and string→double parsing is
        // IEEE-correctly-rounded everywhere — bit-identical cross-engine
        // at ANY scale factor. (An earlier exact-integer rescale
        // (sum*10^8).cast(long) overflowed Long around sf2: Spark
        // non-ANSI nulls, DuckDB errors — the silent-break the r3 advice
        // flagged.)
        decStr(sum(dec("l_quantity"))).as("sum_qty"),
        decStr(sum(dec("l_extendedprice"))).as("sum_base_price"),
        decStr(sum(dec("l_extendedprice")
          * (lit(1).cast("decimal(12,4)") - dec("l_discount"))))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  /** Predicate-pushdown scan — SURVEY §2.1 S5 (monitor:738-741): range +
    * IN-list predicates reach the parquet reader; projection prunes columns. */
  def pushdownScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate").between(
          lit("1995-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
        && col("l_returnflag").isin("R", "A")
        && col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
  }

  /** Inner equi-join + agg — SURVEY §2.3 J1/J8: fact-fact join on key,
    * grouped rollup. Catalyst picks SMJ/BHJ; AQE handles skew. */
  def joinAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"))
  }

  /** Left-outer join, null-filled right side — SURVEY §2.3 J5
    * (monitor:62-75): every left row survives; right columns null when
    * absent. Aggregated per customer segment to keep output small. */
  def leftJoinFill(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val cust = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    cust.join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_orderless_rows"))
  }

  /** Left-semi join (EXISTS) — SURVEY §2.3 J2 duplicate check
    * (save:155-157): orders that have at least one high-quantity line. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val orders = Tables.orders(spark, dir)
    val big = Tables.lineitem(spark, dir).where(col("l_quantity") > 48)
    orders.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  /** Anti-join ("missing") — SURVEY §2.3 J10/J11 (monitor:1022-1030):
    * customers with no high-value order — the reconciliation difference. */
  def antiJoinMissing(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val cust = Tables.customer(spark, dir)
    val big = Tables.orders(spark, dir).where(col("o_totalprice") > 250000)
    cust.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Union + distinct — SURVEY §2.7 U1 (monitor:338): key-set union of two
    * sources. */
  def unionKeys(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val fromOrders = Tables.orders(spark, dir)
      .where(col("o_totalprice") > 400000).select(col("o_custkey").as("custkey"))
    val fromCust = Tables.customer(spark, dir)
      .where(col("c_acctbal") < 0).select(col("c_custkey").as("custkey"))
    fromOrders.union(fromCust).distinct()
  }

  /** Except (difference) — SURVEY §2.7 U2: part keys with a >40-quantity
    * line but never a >48-quantity line. */
  def exceptKeys(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, dir)
    li.where(col("l_quantity") > 40).select(col("l_partkey").as("partkey"))
      .except(li.where(col("l_quantity") > 48)
        .select(col("l_partkey").as("partkey")))
  }

  /** Top-k with deterministic tiebreak — SURVEY §2.6 T3 (monitor:660-672):
    * top-20 error events, newest first. Spark plans TakeOrderedAndProject —
    * no global sort at scale. Timestamps are emitted at second precision
    * (testdata carries nanoseconds; engines differ below microseconds). */
  def topkErrors(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    Tables.events(spark, dir)
      .where(col("event_type") === "error")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(20)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_sec"),
        col("value"))
  }

  /** Approximate distinct — SURVEY §2.4 A11 (HLL path for 100 TB dedup
    * accounting): approx_count_distinct next to the exact count. The raw
    * sketch estimate is engine-specific, so what the oracle checks is the
    * deterministic part: the exact counts plus a boolean error-bound
    * contract `|approx - exact| <= 3 * rsd * exact` (guaranteed-true at
    * 3 sigma for HLL++ at rsd 0.02; the oracle asserts TRUE literals).
    *
    * The exact and approximate counts are two separate aggregations joined
    * on their 1-row results, NOT one agg: mixing countDistinct with an
    * ImperativeAggregate triggers Catalyst's multi-distinct Expand rewrite,
    * where the partial hash-aggregate keys on the expanded distinct values
    * — one HLL++ buffer (~5 KB at rsd 0.02) per partial GROUP, i.e. per
    * distinct key, gigabytes of garbage at 600k rows (6.11 s → 2.02 s per
    * BENCH_r02 after the split; host variance makes finer figures
    * unreliable). The cost is scanning lineitem twice, but each pass is
    * column-pruned to the two key columns, so the incremental I/O at
    * 100 TB is bounded to those columns — still cheaper than the Expand
    * blowup, whose garbage grows with distinct-key count. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val li = Tables.lineitem(spark, dir)
    val exact = li.agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      countDistinct(col("l_orderkey")).as("exact_orders"))
    val approx = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
    val bound = lit(3 * 0.02)
    exact.crossJoin(approx)
      .select(col("exact_parts"), col("exact_orders"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          <= bound * col("exact_parts")).as("parts_within_bounds"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double")
          <= bound * col("exact_orders")).as("orders_within_bounds"))
  }

  /** TABLE PROFILER — the "what is this table" pass an engine runs
    * before anyone writes a query against an unfamiliar dataset: per
    * column, row/null/exact-distinct counts, min/max, and the modal
    * value with a deterministic tiebreak (highest count, then lowest
    * value — reproducible across engines). Values render through an
    * explicit string cast, so the declared query profiles integer and
    * string columns (float/timestamp rendering differs across engines
    * below microseconds/ulps — profile those through typed queries
    * like q_approx_quantiles / q_log_ts_parse instead).
    *
    * Scale shape: one column-pruned pass per profiled column (a
    * 3-aggregate chain: stats, distinct, mode) unioned into a
    * |cols|-row report — each pass reads ONE column of the parquet
    * (ReadSchema-pruned), so the total I/O is the profiled columns
    * once, not |cols| full-table scans; at very large corpora the df
    * feeds from [[graft.operators.CurationOps.stratifiedSample]]. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      val v = col(c).cast("string")
      val stats = df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        min(v).as("min_val"), max(v).as("max_val"))
      val distinct = df.agg(countDistinct(v).as("n_distinct"))
      val mode = df.where(col(c).isNotNull)
        .groupBy(v.as("val")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("val"))
        .limit(1)
        .select(col("val").as("top_value"), col("cnt").as("top_n"))
      stats.withColumn("column", lit(c))
        .crossJoin(distinct)
        .crossJoin(mode)
        .select(col("column"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_val"), col("max_val"),
          col("top_value"), col("top_n"))
    }.reduce(_ unionByName _)

  /** Columns the declared events profile covers (integer + string —
    * see [[profile]] for why floats/timestamps stay out). */
  val ProfileCols: Seq[String] = Seq("event_id", "user_id", "event_type")

  /** Cap on the recommended salt spread (beyond ~64 the per-key
    * shuffle-fanout cost outruns the reducer relief). */
  val SkewSaltCap = 64

  /** KEY-SKEW PROFILER — the diagnosis that TRIGGERS the salted
    * operators ([[graft.operators.ReconOps]] `sessionizeSalted` /
    * `asofSalted` exist for hot keys; this is the census that says WHICH join
    * keys are hot before a 100 TB run commits to a plan): per
    * (relation, key) — row/key counts, the hottest key and its
    * frequency, the max/avg ratio (`skew_x100`, integer-exact), and a
    * salt recommendation `ceil(max/avg)` capped at [[SkewSaltCap]]
    * (a key at k× the average wants its rows spread over ~k reducers).
    * Hot-key pick is deterministic: lowest key among the tied-max.
    *
    * Scale shape: one partial-aggregated key census per arm (the
    * exchange carries ~distinct keys), then 1-row rollups; the ratio
    * products promote to DECIMAL(38,0) at extreme corpus sizes the
    * way [[graft.operators.TextOps.collocations]] documents. */
  private def skewArm(df: DataFrame, key: String,
      label: String): DataFrame = {
    val cnts = df.where(col(key).isNotNull)
      .groupBy(col(key).cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
    val stats = cnts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
    val hot = cnts
      .join(broadcast(stats.select(col("max_cnt").as("mc"))),
        col("cnt") === col("mc"))
      .agg(min(col("k")).as("hot_key"))
    stats.crossJoin(broadcast(hot))
      .select(lit(label).as("rel_key"), col("n_rows"), col("n_keys"),
        col("max_cnt"), col("hot_key"),
        expr("CAST(n_rows * 100 div n_keys AS BIGINT)").as("avg_cnt_x100"),
        expr("CAST(max_cnt * 100 * n_keys div n_rows AS BIGINT)")
          .as("skew_x100"),
        expr(s"CAST(least($SkewSaltCap, greatest(1, " +
          "(max_cnt * n_keys + n_rows - 1) div n_rows)) AS INT)")
          .as("salt_reco"))
  }

  /** The declared skew census over the join keys the operator families
    * actually shuffle on. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val ev = Tables.events(spark, dir)
    val docs = Tables.documents(spark, dir)
    Seq(
      skewArm(ev, "user_id", "events.user_id"),
      skewArm(ev, "event_type", "events.event_type"),
      skewArm(docs, "source", "documents.source"),
      skewArm(docs, "lang", "documents.lang"),
      skewArm(Tables.lineitem(spark, dir), "l_orderkey",
        "lineitem.l_orderkey"))
      .reduce(_ unionByName _)
  }

  def eventsProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    profile(Tables.events(spark, dir), ProfileCols)
  }

  /** TPC-H Q3 SHAPE (shipping priority) — the canonical 3-way
    * fact-dimension join the classic warehouse workload is graded on:
    * a filtered customer segment drives orders before the cutoff whose
    * OPEN lineitems ship after it; revenue per order, top 10. Plan
    * shape: customer(BUILDING) is ~1/5 of a small dimension →
    * broadcast onto orders; the orders ⋈ lineitem equi-join shuffles
    * on l_orderkey (the fact key — at 100 TB both sides bucket on it);
    * the tail is TakeOrderedAndProject, never a global sort. Revenue
    * follows q1's decimal discipline: DECIMAL(12,4) sums rendered
    * through their exact string form (cross-engine bit-identical at
    * any SF), ties broken by l_orderkey. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val cutoff = lit("1997-06-15").cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), dec("l_extendedprice").as("px"),
        dec("l_discount").as("dx"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(col("px") * (lit(1).cast("decimal(12,4)") - col("dx")))
        .as("rev_dec"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        col("o_orderpriority"), decStr(col("rev_dec")).as("revenue"),
        col("rev_dec"))
      .orderBy(col("rev_dec").desc, col("l_orderkey"))
      .limit(10)
      .drop("rev_dec")
  }

  /** TPC-H Q5 SHAPE (regional revenue) — the 6-way snowflake join:
    * region → nation → customer drives orders/lineitem, with the
    * supplier leg enforcing "local supplier" (c_nationkey =
    * s_nationkey). region/nation/supplier/customer are all broadcast
    * dimensions; the only real shuffle is orders ⋈ lineitem on the
    * fact key. Revenue per nation, decimal-exact. */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val sup = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        dec("l_extendedprice").as("px"), dec("l_discount").as("dx"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(decStr(sum(col("px") *
        (lit(1).cast("decimal(12,4)") - col("dx")))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Deterministic change-set mods for [[mergeUpsert]]: deletes beat
    * updates when both fire. */
  val MergeDelMod = 15
  val MergeUpdMod = 10
  val MergeInsMod = 20

  /** Insert ids live this far above the base key space. */
  val MergeInsOffset = 5000000L

  /** MERGE INTO semantics (upsert + delete) — the Delta/Iceberg-style
    * table maintenance every warehouse runs, expressed as ONE
    * full-outer join on the key with a CASE per match state: change=D
    * drops the row, change=U/I takes the change's payload, unmatched
    * base rows pass through. The change set is synthesized
    * deterministically from the base (every [[MergeDelMod]]-th doc
    * deleted, every [[MergeUpdMod]]-th updated to its 2-token prefix,
    * an insert at +[[MergeInsOffset]] for every [[MergeInsMod]]-th) so
    * the oracle rebuilds both sides. Output is the merge AUDIT row —
    * per-op counts plus an order-insensitive content fingerprint
    * (bit_xor of per-row md5 halves, the shard-manifest discipline) so
    * the hash grades the ENTIRE merged table without shipping it.
    *
    * Scale shape: one equi-join shuffle on the table key (both sides
    * bucket on it at 100 TB — the merge-on-read pattern) + one 1-row
    * audit aggregate. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val w = TextOps.toks(col("text"))
    val updates = Tables.documents(spark, dir)
      .where(col("doc_id") % MergeUpdMod === 0 &&
        col("doc_id") % MergeDelMod =!= 0)
      .select(col("doc_id"), lit("U").as("op"),
        array_join(slice(w, 1, 2), " ").as("new_text"))
    val deletes = Tables.documents(spark, dir)
      .where(col("doc_id") % MergeDelMod === 0)
      .select(col("doc_id"), lit("D").as("op"),
        lit(null).cast("string").as("new_text"))
    val inserts = Tables.documents(spark, dir)
      .where(col("doc_id") % MergeInsMod === 0)
      .select((col("doc_id") + MergeInsOffset).as("doc_id"),
        lit("I").as("op"), element_at(w, 1).as("new_text"))
    val changes = updates.unionByName(deletes).unionByName(inserts)
    val merged = base.join(changes, Seq("doc_id"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("doc_id"),
        when(col("op").isNotNull, col("new_text")).otherwise(col("text"))
          .as("text"),
        col("op"))
    merged.agg(count(lit(1)).as("n_rows"),
      sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserted"),
      sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updated"),
      expr("bit_xor(CAST(conv(substring(md5(concat(CAST(doc_id AS " +
        "STRING), '|', text)), 1, 15), 16, 10) AS BIGINT))")
        .as("content_fp"))
      .crossJoin(broadcast(
        changes.where(col("op") === "D").agg(count(lit(1)).as("n_deleted"))))
      .select(col("n_rows"), col("n_inserted"), col("n_updated"),
        col("n_deleted"), col("content_fp"))
  }

  /** Accepted language values for the DQ accepted-values rule — the
    * corpus contract a producer must not silently widen. */
  val DqLangs = Seq("de", "en", "es", "fr", "zh")

  /** DATA-QUALITY EXPECTATIONS — the declarative rule gate a pipeline
    * runs before trusting a delivered table (unique-key, not-null/
    * not-empty, accepted-values, bounds): each rule is ONE aggregate
    * arm producing (rule, relation, n_checked, n_violations, pass),
    * unioned into the report a scheduler alerts on. Rules are plain
    * expressions — a violation count is a conditional sum, uniqueness
    * is `count - count(distinct)` — so every arm is one
    * partial-aggregated pass over its relation and the report costs
    * one scan per distinct relation at any corpus size. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val docs = Tables.documents(spark, dir)
    val ev = Tables.events(spark, dir)
    val li = Tables.lineitem(spark, dir)
    def arm(rule: String, rel: String, checked: org.apache.spark.sql.Column,
        violations: org.apache.spark.sql.Column)(df: DataFrame): DataFrame =
      df.agg(checked.as("n_checked"), violations.as("n_violations"))
        .select(lit(rule).as("rule"), lit(rel).as("relation"),
          col("n_checked"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    val langIn = col("lang").isin(DqLangs: _*)
    Seq(
      arm("doc_id_unique", "documents", count(lit(1)),
        count(lit(1)) - countDistinct(col("doc_id")))(docs),
      arm("text_not_empty", "documents", count(lit(1)),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L)
          .otherwise(0L)))(docs),
      arm("lang_accepted", "documents", count(lit(1)),
        sum(when(col("lang").isNull || !langIn, 1L).otherwise(0L)))(docs),
      arm("user_id_not_null", "events", count(lit(1)),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)))(ev),
      arm("ts_in_bounds", "events", count(lit(1)),
        sum(when(col("ts").isNull ||
          col("ts") < lit("1995-01-01").cast("timestamp") ||
          col("ts") >= lit("2031-01-01").cast("timestamp"), 1L)
          .otherwise(0L)))(ev),
      arm("quantity_positive", "lineitem", count(lit(1)),
        sum(when(col("l_quantity").isNull || col("l_quantity") <= 0, 1L)
          .otherwise(0L)))(li),
      // a deliberately strict expectation that FAILS on this corpus —
      // the report's alert path is part of the surface under test
      arm("text_min_200_chars", "documents", count(lit(1)),
        sum(when(col("text").isNull || length(col("text")) < 200, 1L)
          .otherwise(0L)))(docs))
      .reduce(_ unionByName _)
  }

  /** Sentinel the multi-level reports print for a rolled-up level
    * (no `<all>` literal exists in the corpus — probed). */
  val AllSentinel = "<all>"

  /** OLAP MULTI-LEVEL AGGREGATION — `ROLLUP (lang, source)`: per
    * (lang, source), per lang, and grand total in ONE pass (Spark's
    * Expand operator replicates each input row once per grouping set
    * BEFORE the partial aggregation, so the exchange still carries
    * only group rows — the plan every BI drill-down sits on).
    * `gid` is the SQL-standard grouping bit-vector (first listed
    * column = MSB), disambiguating a real null from a rolled-up
    * level; rolled-up values render as [[AllSentinel]]. */
  def rollupReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    Tables.documents(spark, dir)
      .rollup(col("lang"), col("source"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"))
      .select(coalesce(col("lang"), lit(AllSentinel)).as("lang"),
        coalesce(col("source"), lit(AllSentinel)).as("source"),
        col("gid"), col("n_docs"), col("tot_chars"))
  }

  /** `CUBE (lang, source)` — the rollup plus the source-only marginal
    * (every subset of the grouping keys). Same Expand shape, 4
    * grouping sets. */
  def cubeReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    Tables.documents(spark, dir)
      .cube(col("lang"), col("source"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"))
      .select(coalesce(col("lang"), lit(AllSentinel)).as("lang"),
        coalesce(col("source"), lit(AllSentinel)).as("source"),
        col("gid"), col("n_docs"), col("tot_chars"))
  }

  /** The stable event-type domain the pivot declares (pivoting on an
    * UNdeclared value list would scan once just to learn the columns). */
  val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  /** PIVOT — event counts per user bucket, one column per
    * [[PivotTypes]] value: the wide matrix report every dashboard's
    * heatmap consumes. With the value list declared, Spark plans ONE
    * scan + one hash aggregate (each cell a conditional count) — the
    * same plan the oracle's CASE arms spell out. Empty cells are 0. */
  def pivotReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val piv = Tables.events(spark, dir)
      .groupBy(expr("CAST(user_id % 10 AS INT)").as("bucket"))
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
    piv.select(col("bucket") +: PivotTypes.map(t =>
      coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** UNPIVOT (melt) — the inverse reshape: the wide [[pivotReport]]
    * matrix back to long (bucket, event_type, n) rows. Pivot ∘ unpivot
    * is the identity on the long form (spec-pinned); the declared
    * query grades the unpivot against the direct long-form aggregate,
    * so a dropped/renamed value column cannot hide. Expression-only
    * reshape — the Expand operator emits one row per value column. */
  def unpivotReport(spark: SparkSession, dir: String): DataFrame =
    pivotReport(spark, dir)
      .unpivot(Array(col("bucket")),
        PivotTypes.map(col).toArray, "event_type", "n")

  /** EXPLICIT GROUPING SETS — the multi-level shape rollup/cube cannot
    * spell: BOTH one-dimensional marginals, no grand total, no cross
    * cells (`GROUPING SETS ((lang), (source))`). One Expand pass, two
    * replicas per row. */
  def groupingSetsReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    Tables.documents(spark, dir).createOrReplaceTempView("gs_documents")
    spark.sql(
      s"""SELECT coalesce(lang, '$AllSentinel') AS lang,
         |  coalesce(source, '$AllSentinel') AS source,
         |  CAST(grouping_id() AS INT) AS gid,
         |  count(1) AS n_docs,
         |  sum(n_chars) AS tot_chars
         |FROM gs_documents
         |GROUP BY GROUPING SETS ((lang), (source))""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unpivot" -> unpivotReport _,
    "q_grouping_sets" -> groupingSetsReport _,
    "q_approx_distinct" -> approxDistinct _,
    "q_table_profile" -> eventsProfile _,
    "q_skew_profile" -> skewProfile _,
    "q_rollup" -> rollupReport _,
    "q_cube" -> cubeReport _,
    "q_pivot" -> pivotReport _,
    "q3_shipping" -> q3Shipping _,
    "q5_region_revenue" -> q5RegionRevenue _,
    "q_dq_checks" -> dqChecks _,
    "q_merge_upsert" -> mergeUpsert _,
    "q1_pricing"     -> q1Pricing _,
    "q_pushdown"     -> pushdownScan _,
    "q_join_agg"     -> joinAgg _,
    "q_left_join"    -> leftJoinFill _,
    "q_semi_join"    -> semiJoin _,
    "q_anti_missing" -> antiJoinMissing _,
    "q_union_keys"   -> unionKeys _,
    "q_except_keys"  -> exceptKeys _,
    "q_topk_errors"  -> topkErrors _,
  )

  /** One oracle arm of q_skew_profile (CTE prefix `p`), ending in
    * `${p}o` with the full row. */
  private def skewArmSql(rel: String, key: String, label: String,
      p: String): String =
    s"""${p}c AS (SELECT CAST($key AS VARCHAR) AS k, count(*) AS cnt
       |  FROM $rel WHERE $key IS NOT NULL GROUP BY 1),
       |${p}s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       |    count(*) AS n_keys, CAST(max(cnt) AS BIGINT) AS max_cnt
       |  FROM ${p}c),
       |${p}h AS (SELECT min(k) AS hot_key FROM ${p}c, ${p}s
       |  WHERE cnt = max_cnt),
       |${p}o AS (SELECT '$label' AS rel_key, n_rows, n_keys, max_cnt,
       |    hot_key,
       |    CAST(n_rows * 100 // n_keys AS BIGINT) AS avg_cnt_x100,
       |    CAST(max_cnt * 100 * n_keys // n_rows AS BIGINT) AS skew_x100,
       |    CAST(least($SkewSaltCap, greatest(1,
       |      (max_cnt * n_keys + n_rows - 1) // n_rows)) AS INT)
       |      AS salt_reco
       |  FROM ${p}s, ${p}h)""".stripMargin

  /** Shared SELECT list of the rollup/cube oracles. */
  private val mlAggSql: String =
    s"""SELECT coalesce(lang, '$AllSentinel') AS lang,
       |  coalesce(source, '$AllSentinel') AS source,
       |  CAST(GROUPING(lang, source) AS INT) AS gid,
       |  count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS tot_chars
       |FROM documents""".stripMargin

  /** One DQ oracle arm. */
  private def dqArmSql(rule: String, rel: String, viol: String): String =
    s"""SELECT '$rule' AS rule, '$rel' AS relation,
       |  count(*) AS n_checked,
       |  CAST($viol AS BIGINT) AS n_violations,
       |  CAST($viol AS BIGINT) = 0 AS pass
       |FROM $rel""".stripMargin

  val oracles: Map[String, String] = Map(
    // the merge rebuilt from the same planted change arithmetic: the
    // bit_xor fingerprint grades every surviving row's (key, payload)
    "q_merge_upsert" ->
      s"""WITH tok AS (SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS w
         |  FROM documents),
         |chg AS (
         |  SELECT doc_id, 'D' AS op, CAST(NULL AS VARCHAR) AS new_text
         |  FROM tok WHERE doc_id % $MergeDelMod = 0
         |  UNION ALL
         |  SELECT doc_id, 'U', array_to_string(w[1:2], ' ')
         |  FROM tok WHERE doc_id % $MergeUpdMod = 0
         |    AND doc_id % $MergeDelMod <> 0
         |  UNION ALL
         |  SELECT doc_id + $MergeInsOffset, 'I', w[1]
         |  FROM tok WHERE doc_id % $MergeInsMod = 0),
         |m AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
         |    CASE WHEN c.op IS NOT NULL THEN c.new_text
         |      ELSE b.text END AS text, c.op
         |  FROM tok b FULL OUTER JOIN chg c USING (doc_id)
         |  WHERE c.op IS NULL OR c.op <> 'D')
         |SELECT count(*) AS n_rows,
         |  CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_inserted,
         |  CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_updated,
         |  (SELECT count(*) FROM chg WHERE op = 'D') AS n_deleted,
         |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||
         |    '|' || text), 1, 15) AS BIGINT)) AS content_fp
         |FROM m""".stripMargin,
    "q_dq_checks" -> Seq(
      dqArmSql("doc_id_unique", "documents",
        "count(*) - count(DISTINCT doc_id)"),
      dqArmSql("text_not_empty", "documents",
        "sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)"),
      dqArmSql("lang_accepted", "documents",
        "sum(CASE WHEN lang IS NULL OR lang NOT IN " +
          DqLangs.map(l => s"'$l'").mkString("(", ", ", ")") +
          " THEN 1 ELSE 0 END)"),
      dqArmSql("user_id_not_null", "events",
        "sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)"),
      dqArmSql("ts_in_bounds", "events",
        "sum(CASE WHEN ts IS NULL OR ts < TIMESTAMP '1995-01-01' " +
          "OR ts >= TIMESTAMP '2031-01-01' THEN 1 ELSE 0 END)"),
      dqArmSql("quantity_positive", "lineitem",
        "sum(CASE WHEN l_quantity IS NULL OR l_quantity <= 0 " +
          "THEN 1 ELSE 0 END)"),
      dqArmSql("text_min_200_chars", "documents",
        "sum(CASE WHEN text IS NULL OR length(text) < 200 " +
          "THEN 1 ELSE 0 END)"))
      .mkString("\nUNION ALL\n"),
    // q1's decimal-string rendering; top-10 ties broken by l_orderkey
    "q3_shipping" ->
      """WITH r AS (
        |  SELECT l.l_orderkey,
        |    strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
        |    o.o_orderpriority,
        |    sum(CAST(l.l_extendedprice AS DECIMAL(12,4)) *
        |        (CAST(1 AS DECIMAL(12,4)) -
        |         CAST(l.l_discount AS DECIMAL(12,4)))) AS rev_dec
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1997-06-15'
        |    AND l.l_shipdate > TIMESTAMP '1997-06-15'
        |  GROUP BY 1, 2, 3)
        |SELECT l_orderkey, order_day, o_orderpriority,
        |  CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue
        |FROM r ORDER BY rev_dec DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n.n_name,
        |  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,4)) *
        |    (CAST(1 AS DECIMAL(12,4)) -
        |     CAST(l.l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name""".stripMargin,
    "q_rollup" -> s"$mlAggSql\nGROUP BY ROLLUP (lang, source)",
    "q_cube" -> s"$mlAggSql\nGROUP BY CUBE (lang, source)",
    "q_grouping_sets" ->
      s"$mlAggSql\nGROUP BY GROUPING SETS ((lang), (source))",
    // the long form recomputed directly — a pivot->unpivot that drops
    // or misnames a value column diverges from this census
    "q_unpivot" -> {
      val arms = PivotTypes.map(t =>
        s"""SELECT CAST(user_id % 10 AS INT) AS bucket, '$t' AS event_type,
           |  CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n
           |FROM events GROUP BY 1""".stripMargin)
      arms.mkString("\nUNION ALL\n")
    },
    "q_pivot" -> {
      val arms = PivotTypes.map(t =>
        s"""CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS "$t"""".stripMargin).mkString(",\n  ")
      s"""SELECT CAST(user_id % 10 AS INT) AS bucket,
         |  $arms
         |FROM events GROUP BY 1""".stripMargin
    },
    "q_skew_profile" ->
      s"""WITH ${skewArmSql("events", "user_id", "events.user_id", "sa")},
         |${skewArmSql("events", "event_type", "events.event_type", "sb")},
         |${skewArmSql("documents", "source", "documents.source", "sc")},
         |${skewArmSql("documents", "lang", "documents.lang", "sd")},
         |${skewArmSql("lineitem", "l_orderkey", "lineitem.l_orderkey",
        "se")}
         |SELECT * FROM sao UNION ALL SELECT * FROM sbo
         |UNION ALL SELECT * FROM sco UNION ALL SELECT * FROM sdo
         |UNION ALL SELECT * FROM seo""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_returnflag IN ('R','A') AND l_quantity > 45""".stripMargin,
    "q_join_agg" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_left_join" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(o_orderkey) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless_rows
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 48)""".stripMargin,
    "q_anti_missing" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin,
    "q_union_keys" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0""".stripMargin,
    "q_except_keys" ->
      """SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity > 40
        |EXCEPT
        |SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity > 48""".stripMargin,
    "q_topk_errors" ->
      """SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_sec, value
        |FROM events WHERE event_type = 'error'
        |ORDER BY ts DESC, event_id DESC LIMIT 20""".stripMargin,
    // The sketch estimate itself is engine-specific; the oracle pins the
    // exact counts and asserts the 3-sigma error-bound booleans are TRUE.
    // per-column stats via UNION of three-aggregate chains; the modal
    // tiebreak (count desc, value asc) is reproduced with window ranks
    "q_table_profile" ->
      """WITH cols(c) AS (VALUES ('event_id'), ('user_id'), ('event_type')),
        |vals AS (
        |  SELECT 'event_id' AS "column", CAST(event_id AS VARCHAR) AS v
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL
        |  SELECT 'event_type', event_type FROM events),
        |stats AS (
        |  SELECT "column", count(*) AS n_rows,
        |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null,
        |    count(DISTINCT v) AS n_distinct,
        |    min(v) AS min_val, max(v) AS max_val
        |  FROM vals GROUP BY 1),
        |m AS (
        |  SELECT "column", v AS top_value, count(*) AS top_n,
        |    row_number() OVER (PARTITION BY "column"
        |      ORDER BY count(*) DESC, v) AS rn
        |  FROM vals WHERE v IS NOT NULL GROUP BY 1, 2)
        |SELECT s."column", s.n_rows, s.n_null, s.n_distinct,
        |  s.min_val, s.max_val, m.top_value, m.top_n
        |FROM stats s JOIN m ON m."column" = s."column" AND m.rn = 1""".stripMargin,
    "q_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_within_bounds,
        |  TRUE AS orders_within_bounds
        |FROM lineitem""".stripMargin,
  )
}
