package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.DotProductLong
import graft.sources.Tables

/** [EXT] Training-data curation pipeline — the composed shape a 100 TB
  * pretraining-data job runs: score text quality → filter → join the
  * embedding table on document id → summarize the surviving corpus per
  * quality bucket. Chains TextOps scoring with the vector path in one
  * plan; the doc↔embedding join is an equi-join on the shared id (both
  * sides co-partitionable by that key at scale).
  */
object CurationOps {

  def curationSummary(spark: SparkSession, dir: String): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val quality = TextOps.qualityScore(spark, dir) // doc_id, quality, bucket
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long"))
          .as("qe"))
      .withColumn("nrm", dot(col("qe"), col("qe")))
      .select(col("doc_id"), col("nrm"))
    quality.where(col("quality") >= 0.45)
      .join(docs, Seq("doc_id"))
      .join(emb, Seq("doc_id"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("nrm")).as("sum_nrm_milli"),
        // integer-TRUNCATED 1e-4 mean (exact decimal sum -> long ->
        // integer div), not round(double, 4): round() half-ties split
        // between engines (the quality10k war story; sourceProfile's form)
        (sum(col("quality").cast("decimal(8,4)")) * 10000).cast("long")
          .as("q_sum10k"))
      .withColumn("avg_quality",
        expr("q_sum10k div n_docs").cast("double") / 10000.0)
      .drop("q_sum10k")
  }

  /** Sampling rate → 8-hex-digit threshold on the leading md5 digits:
    * keep iff substr(md5(id), 1, 8) < threshold. The threshold is
    * computed HERE (driver, once) and embedded as a literal in both the
    * Spark plan and the oracle SQL — row selection is a lexicographic
    * string compare, so no floating-point or hex-parse arithmetic can
    * ever diverge between engines or runs.
    *
    * rate ≥ 1.0 returns the sentinel "g": every hex prefix ([0-9a-f]+)
    * sorts strictly below it, so a 100% stratum keeps ALL rows — a
    * clamped "ffffffff" threshold with the strict `<` would silently
    * drop the 2^-32 tail whose md5 prefix is exactly ffffffff (real
    * rows at the 10^11-doc scale this targets). The sentinel works
    * identically in Spark and the SQL oracle (same string collation
    * on ASCII). For r < 1.0, r·2^32 < 2^32 exactly in double
    * arithmetic, so toLong never exceeds ffffffff. */
  private[graft] def rateHex(r: Double): String =
    if (r >= 1.0) "g"
    else f"${math.max(0L, (r * 4294967296.0).toLong)}%08x"

  /** Deterministic stratified sampling — the corpus-mixture builder a
    * training-data pipeline runs ("50% of en, 25% of de, 10% of the
    * rest"): each row draws a stable uniform from the md5 of its id
    * (NEVER rand(): stable under task retries, replays, and engines) and
    * survives iff it clears its stratum's rate. A pure filter — no
    * shuffle, linear at any scale, and the same physical row set is
    * selected everywhere. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val threshold = rates.foldLeft(lit(rateHex(defaultRate))) {
      case (acc, (k, r)) => when(col(stratumCol) === k, lit(rateHex(r)))
        .otherwise(acc)
    }
    df.where(
      substring(md5(col(idCol).cast("string").cast("binary")), 1, 8)
        < threshold)
  }

  /** Mixture rates for the oracled sample query (en-heavy, de partial,
    * long tail thin) — the classic pretraining language mixture shape. */
  val SampleRates: Map[String, Double] = Map("en" -> 0.5, "de" -> 0.25)
  val SampleDefaultRate: Double = 0.1

  def stratifiedSampleSummary(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), "doc_id", "lang",
      SampleRates, SampleDefaultRate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("doc_id")).as("min_kept_id"),
        max(col("doc_id")).as("max_kept_id"))

  /** Per-stratum quota for the declared exact-k sample query. */
  val FixedKTarget = 5

  /** Sub-bucket count for [[fixedKSample]]'s first phase — bounds the
    * final per-stratum window to ≤ this × k rows however large (or
    * skewed) the stratum is. */
  val FixedKBuckets = 16

  /** EXACT-k PER-STRATUM SAMPLE — the eval-set builder ("exactly
    * min(k, n) docs per language, same picks forever"): rank rows
    * inside each stratum by the md5 of their id (the
    * [[stratifiedSample]] determinism contract — never rand(), stable
    * under retries/replays/engines) and keep ranks ≤ k. Where the
    * rate-based sampler delivers an EXPECTED size, this delivers an
    * exact one.
    *
    * Scale/skew shape: the naive plan is one row_number window per
    * stratum — a stratum holding 90% of the corpus serializes into a
    * single sort partition (the same hot-key failure the salted
    * sessionize family escapes). So phase 1 windows on
    * (stratum, sub-bucket) — [[FixedKBuckets]] buckets carved from the
    * SAME md5 the rank uses — and keeps each bucket's local top-k: the
    * global per-stratum top-k is necessarily inside some bucket's
    * top-k, so this is an exact superset, never a heuristic. Phase 2
    * re-ranks the ≤ buckets·k survivors per stratum — a bounded window
    * whatever the corpus does. Result-identical to the single-window
    * form (spec-pinned planted + full-equality). */
  def fixedKSample(df: DataFrame, idCol: String, stratumCol: String,
      k: Int, buckets: Int = FixedKBuckets): DataFrame = {
    val rk = md5(col(idCol).cast("string").cast("binary"))
    val ranked = df.withColumn("rk", rk)
      .withColumn("bkt",
        expr(s"conv(substring(rk, 9, 4), 16, 10) % $buckets"))
    val wLoc = Window.partitionBy(col(stratumCol), col("bkt"))
      .orderBy(col("rk"), col(idCol))
    val cand = ranked
      .withColumn("lrn", row_number().over(wLoc))
      .where(col("lrn") <= k)
    val wGlob = Window.partitionBy(col(stratumCol))
      .orderBy(col("rk"), col(idCol))
    cand.withColumn("rn", row_number().over(wGlob))
      .where(col("rn") <= k)
      .drop("rk", "bkt", "lrn")
  }

  def fixedKSampleQuery(spark: SparkSession, dir: String): DataFrame =
    fixedKSample(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang")),
      "doc_id", "lang", FixedKTarget)
      .select(col("doc_id"), col("lang"), col("rn"))

  /** Mixture-plan targets for the declared query: a total token budget
    * and per-language target shares in 1e-4 units (en-heavy, de
    * partial, thin long tail — the same shape as [[SampleRates]]).
    * Sized against the synthetic corpus so the plan shows BOTH regimes:
    * under-sampled strata (rate < 1) and over-sampled ones
    * (epochs > 1). */
  val MixTargetTokens = 50000L
  val MixShares10k: Map[String, Long] = Map("en" -> 4000L, "de" -> 2000L)
  val MixDefaultShare10k = 1000L

  /** Mixture/epoch PLANNER — the table a data-mixing run reads before
    * it samples: per stratum, the tokens available, the tokens the
    * target mixture wants (share × budget), the sampling rate that
    * delivers them (capped at 1), and the epoch factor when the
    * stratum must REPEAT to meet its share (epochs_100 > 100 = the
    * classic low-resource-language oversampling decision). The rates
    * feed [[stratifiedSample]] directly (same 1e-4 units).
    *
    * Scale shape: one hash aggregation over the corpus; everything
    * after is arithmetic on a langs-sized relation. Integer-exact
    * (truncating div in 1e-4/1e-2 units), so the oracle can never
    * disagree on a boundary. */
  def mixturePlan(spark: SparkSession, dir: String,
      targetTokens: Long = MixTargetTokens): DataFrame = {
    val share = MixShares10k.toSeq.sortBy(_._1)
      .foldLeft(lit(MixDefaultShare10k)) { case (acc, (k, v)) =>
        when(col("lang") === k, lit(v)).otherwise(acc)
      }
    Tables.documents(spark, dir)
      .select(col("lang"), TextOps.tokEst(col("text")).as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens_avail"))
      .withColumn("share_10k", share)
      .withColumn("tokens_needed",
        expr(s"share_10k * ${targetTokens}L div 10000"))
      .withColumn("sample_rate_10k",
        least(lit(10000L), expr("tokens_needed * 10000 div tokens_avail")))
      .withColumn("epochs_100", expr("tokens_needed * 100 div tokens_avail"))
  }

  /** TEMPERATURE-scaled mixture planner (α = 1/2) — the standard
    * low-resource-upweighting alternative to [[mixturePlan]]'s fixed
    * target shares: stratum weights ∝ tokens_avail^α flatten the
    * natural distribution (α=1 is proportional sampling, α→0 uniform;
    * 1/2 is the multilingual-pretraining workhorse), so thin languages
    * get boosted shares without hand-written per-language targets.
    *
    * Determinism: α=1/2 means w = floor(sqrt(tokens_avail)) — IEEE
    * sqrt is correctly rounded, so both engines compute the identical
    * double and the floor is exact (tokens_avail ≪ 2^52; a floor(x^α)
    * for general α has no such guarantee, which is why the declared
    * plan pins α to 1/2). Everything after the per-row sqrt is integer:
    * share = w·10^4 div Σw, then the same rate/epoch arithmetic as
    * [[mixturePlan]]. Scale shape: one corpus hash-agg, then
    * arithmetic + one whole-relation window on a LANGS-sized relation
    * (a handful of rows at any corpus size). */
  def mixturePlanTemp(spark: SparkSession, dir: String,
      targetTokens: Long = MixTargetTokens): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), TextOps.tokEst(col("text")).as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens_avail"))
      .withColumn("w_sqrt",
        floor(sqrt(col("tokens_avail").cast("double"))).cast("long"))
      .withColumn("w_total",
        sum(col("w_sqrt")).over(Window.partitionBy()))
      .withColumn("share_10k", expr("w_sqrt * 10000 div w_total"))
      .withColumn("tokens_needed",
        expr(s"share_10k * ${targetTokens}L div 10000"))
      .withColumn("sample_rate_10k",
        least(lit(10000L), expr("tokens_needed * 10000 div tokens_avail")))
      .withColumn("epochs_100", expr("tokens_needed * 100 div tokens_avail"))
      .drop("w_total")

  /** Mixture REALIZATION — the trainer-feed step [[mixturePlan]] plans
    * for: per document, the number of copies the epoch factor emits —
    * whole epochs plus one md5-coin draw at the fractional remainder
    * carried in 1e-4 units (`coin·10⁴ < 2²⁴·frac_10k`, the
    * cross-multiplied integer compare — [[dsirSample]]'s contract;
    * 1e-4 granularity matches sample_rate_10k, so strata whose planned
    * rate is under 1% still emit at the planned rate instead of
    * rounding to zero), so
    * over-sampled strata repeat (epochs_100 > 100) and under-sampled
    * strata thin (epochs_100 < 100) under ONE deterministic rule, and
    * the emitted token volume matches tokens_needed in expectation in
    * both regimes. Summarized per language: corpus docs, emitted
    * copies, available vs emitted tokens. A production run explodes
    * `emit` into physical repetitions feeding the trainer's input;
    * the declared query reports the realized
    * tallies the plan's tokens_needed column predicts.
    *
    * Scale shape: the plan is a langs-sized broadcast; the realization
    * is one projection + coin per row and one hash aggregation —
    * linear, no shuffle before the rollup. */
  def mixtureRealized(spark: SparkSession, dir: String,
      targetTokens: Long = MixTargetTokens): DataFrame = {
    val plan = mixturePlan(spark, dir, targetTokens)
      .withColumn("frac_10k", expr(
        "tokens_needed * 10000 div tokens_avail" +
          " - (epochs_100 div 100) * 10000"))
      .select(col("lang"), col("epochs_100"), col("frac_10k"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokEst(col("text")).as("tok"))
      .join(broadcast(plan), Seq("lang"))
      .withColumn("coin24", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10)" +
          " as bigint)"))
      .withColumn("emit", expr(
        "epochs_100 div 100 + (case when coin24 * 10000 <" +
          " 16777216 * frac_10k then 1 else 0 end)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("emit")).as("n_copies"),
        sum(col("tok")).as("tok_avail"),
        sum(col("emit") * col("tok")).as("tok_emitted"))
  }

  /** Curriculum phases for [[annealSchedule]]: (phase, name, budget
    * share in 1e4 of the total token budget). Shares sum to 10⁴. */
  val AnnealPhases: Seq[(Int, String, Long)] = Seq(
    (0, "warmup", 2000L), (1, "main", 6000L), (2, "anneal", 2000L))

  /** CURRICULUM / ANNEALING MIXTURE SCHEDULE — the multi-phase planner
    * a real pretraining run feeds from (the public recipe: see broad
    * data early, concentrate quality late, matching the LR anneal):
    * the token budget splits across [[AnnealPhases]] and each phase
    * weights strata differently —
    *
    *  - `warmup`: NATURAL shares (w ∝ tokens available) — maximum
    *    diversity while the optimizer is noisy anyway;
    *  - `main`: the √-temperature shares of [[mixturePlanTemp]]
    *    (w ∝ √tokens — thin languages upweighted);
    *  - `anneal`: QUALITY-weighted shares (w ∝ Σ q10k over the
    *    stratum) — the end-of-training quality concentration.
    *
    * All-integer after the one guaranteed-exact `floor(sqrt(double))`
    * (the [[mixturePlanTemp]] determinism argument): per (phase, lang),
    * `share_10k = w·10⁴ div Σw`, `tokens_planned = share·budget div
    * 10⁴`, `epochs_100 = planned·100 div avail` — over-sampling in the
    * anneal phase surfaces as epochs_100 > 100 exactly where a real run
    * repeats its best data.
    *
    * Scale shape: ONE corpus hash-agg (count/Σtok/Σq10k per lang — the
    * quality column rides the same scan), then pure arithmetic over a
    * langs × phases relation (a handful of rows at any corpus size);
    * the phase explode happens on the aggregate, never the corpus. */
  def annealSchedule(spark: SparkSession, dir: String,
      targetTokens: Long = MixTargetTokens): DataFrame = {
    val phases = array(AnnealPhases.map { case (p, name, b) =>
      struct(lit(p).as("phase"), lit(name).as("phase_name"),
        lit(b).as("budget_10k"))
    }: _*)
    Tables.documents(spark, dir)
      .select(col("lang"), TextOps.tokEst(col("text")).as("tok"),
        TextOps.quality10k(col("text")).as("q10k"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens_avail"),
        sum(col("q10k")).as("q_sum"))
      .withColumn("w_sqrt",
        floor(sqrt(col("tokens_avail").cast("double"))).cast("long"))
      .withColumn("ph", explode(phases))
      .select(col("ph.phase").as("phase"),
        col("ph.phase_name").as("phase_name"),
        col("ph.budget_10k").as("budget_10k"),
        col("lang"), col("n_docs"), col("tokens_avail"),
        when(col("ph.phase") === 0, col("tokens_avail"))
          .when(col("ph.phase") === 1, col("w_sqrt"))
          .otherwise(col("q_sum")).as("w"))
      .withColumn("share_10k", expr(
        "w * 10000 div sum(w) OVER (PARTITION BY phase)"))
      .withColumn("phase_tokens", expr(
        s"budget_10k * ${targetTokens}L div 10000"))
      .withColumn("tokens_planned",
        expr("share_10k * phase_tokens div 10000"))
      .withColumn("epochs_100",
        expr("tokens_planned * 100 div tokens_avail"))
      .select(col("phase"), col("phase_name"), col("lang"),
        col("tokens_avail"), col("share_10k"), col("tokens_planned"),
        col("epochs_100"))
  }

  /** Documents kept per source by [[sourceCapped]] — the domain-balance
    * cap a web-scale pipeline applies so no single domain dominates the
    * mixture (the per-domain analogue of the per-language mixture). */
  val SourceCapN = 20L

  /** Per-SOURCE document cap — keep at most [[SourceCapN]] documents
    * from each source, chosen by a deterministic md5 shuffle (the same
    * never-rand() contract as [[stratifiedSample]]: stable under
    * retries, replays, and engines; ties on the full digest break on
    * doc_id). Emits the KEPT rows (doc_id, source, rk).
    *
    * Scale shape: the rank filter plans as WindowGroupLimit — each map
    * task pre-truncates its partition to the cap BEFORE the exchange,
    * so the shuffle carries O(sources·cap) rows, not the corpus; a
    * mega-source therefore cannot skew a reducer. (Contrast
    * [[stratifiedSample]]: rate-based thinning is a pure filter and
    * cheaper, but cannot promise an exact per-source count.) */
  def sourceCapped(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")),
        col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= SourceCapN)
  }

  /** DSIR feature-hash bucket width: the leading 2 hex chars of
    * md5(token) → 256 buckets, keyed as STRINGS so no hex→int
    * conversion can diverge between engines. */
  val DsirBucketHex = 2
  /** The target-domain stratum the importance ratios aim at ('en' as
    * the stand-in for "quality reference corpus" — the machinery is
    * domain-agnostic: swap the predicate). */
  val DsirTargetLang = "en"

  /** DSIR-style importance weights — data selection via hashed n-gram
    * importance resampling: hash every token into [[DsirBucketHex]]-hex
    * buckets, estimate the TARGET (reference-domain) and RAW corpus
    * distributions over buckets, and weight each document by the mean
    * importance ratio of its tokens. Documents whose vocabulary looks
    * like the target domain weigh > 1e6 ppm; out-of-domain documents
    * weigh less — the weights feed rate-based sampling directly.
    * Deviation from the paper kept deliberate: the per-doc statistic is
    * the arithmetic MEAN of per-token ratios, not the summed
    * log-likelihood ratio — a log would drag doubles into the oracle
    * boundary, and the mean preserves the ranking the sampler consumes.
    * Laplace +1 smoothing keeps empty buckets finite. All integer, in
    * TWO truncating steps — (t+1)·10^6 div (r+1), then ·R div T — so
    * no intermediate exceeds ~10^6·R: long-safe to ~9×10^12 corpus
    * tokens (the single-product form (t+1)·R·10^6 overflows at
    * ~10^7-token buckets). The second step's truncation costs at most
    * R/T ppm-units of precision — noise against the 10^6 scale.
    *
    * Scale shape: the bucket table is 256 rows (broadcast), built from
    * two hash-aggs over one explode; the scoring join is
    * explode ⋈ broadcast + per-doc re-aggregation — linear, no wide
    * shuffle. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsCore(Tables.documents(spark, dir))

  /** [[dsirWeights]] over any (doc_id, lang, text) relation — split out
    * so specs can plant a target domain with a distinct vocabulary. */
  private[graft] def dsirWeightsCore(docs: DataFrame): DataFrame = {
    val ex = TextOps.explodeNN(docs, TextOps.toks(col("text")), "tok",
        col("doc_id"), col("lang"))
      .withColumn("bucket",
        substring(md5(col("tok").cast("binary")), 1, DsirBucketHex))
    val raw = ex.groupBy(col("bucket")).agg(count(lit(1)).as("r_cnt"))
    val tgt = ex.where(col("lang") === DsirTargetLang)
      .groupBy(col("bucket")).agg(count(lit(1)).as("t_cnt"))
    val totals = ex.agg(count(lit(1)).as("r_total"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L))
        .as("t_total"))
    val ratio = raw.join(tgt, Seq("bucket"), "left")
      .withColumn("t_cnt", coalesce(col("t_cnt"), lit(0L)))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        // greatest(t_total, 1): a corpus with ZERO target-lang tokens
        // has no target distribution to aim at — the guarded fallback
        // makes every ratio ≈ r_total (uniform weights, nothing
        // preferentially sampled) in BOTH engines, instead of Spark's
        // silent NULL vs DuckDB's division error (ADVICE r9)
        expr(s"((t_cnt + 1) * ${TextOps.LmPpmUnit} div (r_cnt + 1))" +
          " * r_total div greatest(t_total, 1)").as("ratio_ppm"))
    ex.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), sum(col("ratio_ppm")).as("ratio_sum"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr("ratio_sum div n_tok").as("weight_ppm"))
  }

  /** Overall sample share the DSIR resampler aims for (1e-4 units):
    * expected draws ≈ [[DsirShare10k]]/10⁴ of the corpus, reallocated
    * toward high-importance documents. */
  val DsirShare10k = 2500L

  /** DSIR importance RESAMPLING — the ACTION [[dsirWeights]] exists
    * for: draw the training subset with per-document acceptance
    * probability ∝ importance weight, scaled so the expected sample
    * size is [[DsirShare10k]]/10⁴ of the corpus. The coin is the
    * md5-coin family's determinism contract ([[stratifiedSample]]):
    * a 24-bit uniform from the doc_id digest, never rand(). The
    * accept rule is a cross-multiplied integer compare —
    * `coin·Σw·10⁴ < 2²⁴·share·wᵢ·n` — so no division order, float,
    * or rounding step exists for the engines to disagree on; documents
    * whose scaled weight exceeds 1 are accepted always (the compare is
    * monotone — no explicit min(1,·) clamp needed). Products reach
    * ~10²⁸ at the 10¹¹-doc scale, past long range — both sides compute
    * in exact wide-decimal (Spark DECIMAL(38,0), DuckDB HUGEINT).
    *
    * Scale shape: the [[dsirWeights]] chain plus one broadcast 1-row
    * total and a per-row coin — linear, no new wide shuffle; the
    * summary is one hash aggregation per language. */
  def dsirSample(spark: SparkSession, dir: String): DataFrame =
    dsirSampleCore(Tables.documents(spark, dir))

  /** [[dsirSample]] over any (doc_id, lang, text) relation. */
  private[graft] def dsirSampleCore(docs: DataFrame): DataFrame = {
    val w = dsirWeightsCore(docs)
    val tot = w.agg(sum(col("weight_ppm")).as("w_sum"),
      count(lit(1)).as("n_corpus"))
    w.crossJoin(broadcast(tot))
      .withColumn("coin24", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10)" +
          " as bigint)"))
      .withColumn("keep", expr(
        s"""cast(coin24 as decimal(38,0)) * w_sum * 10000
           | < cast(16777216 as decimal(38,0)) * $DsirShare10k
           |   * weight_ppm * n_corpus""".stripMargin))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        sum(col("n_tok")).as("tok_total"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L))
          .as("tok_sampled"))
  }

  /** Corpus DATA CARD — the per-language summary a dataset release
    * ships: document and estimated-token volume, exact-dup pressure
    * (distinct content fingerprints), mean quality (exact integer
    * 1e-4 units — sum div n, no float accumulation), and how much of
    * the stratum clears the full Gopher rule set. Every column reuses
    * the SHARED per-row expressions (tokEst, contentFp, quality10k,
    * the rule flags), so the card can never disagree with the
    * operators it summarizes.
    *
    * Scale shape: one projection + one hash aggregation; the only
    * non-trivial aggregate is count(DISTINCT fp), which partial-
    * aggregates per group (langs are few; at extreme skew swap in
    * approx_count_distinct — the A11 trade documented there). */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val pass = !TextOps.gopherShapeFail(col("text")) &&
      TextOps.topWord10k(col("text")) <= TextOps.TopWordBar10k &&
      TextOps.dup2gram10k(col("text")) <= TextOps.Dup2gramBar10k
    Tables.documents(spark, dir)
      .select(col("lang"), TextOps.tokEst(col("text")).as("tok"),
        TextOps.contentFp(col("text")).as("fp"),
        TextOps.quality10k(col("text")).as("q10k"),
        pass.as("rule_pass"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens_est"),
        countDistinct(col("fp")).as("n_uniq_fp"),
        sum(col("q10k")).as("q_sum"),
        sum(when(col("rule_pass"), 1L).otherwise(0L)).as("n_rule_pass"))
      .withColumn("avg_q10k", expr("q_sum div n_docs"))
      .drop("q_sum")
  }

  /** Fraction of the corpus (1e-4 units) the budget-driven quality
    * floor keeps — "top 30% by quality", the budget-first way real
    * pipelines pick a threshold (contrast [[TextOps.QualityFloor10k]]:
    * a calibrated ABSOLUTE floor; this one moves with the corpus). */
  val QualityKeep10k = 3000L

  /** BUDGET-driven quality floor — derive the quality threshold that
    * keeps the top [[QualityKeep10k]]/10⁴ of documents: build the
    * integer quality-score histogram, walk it from the top until the
    * cumulative count clears the target, and report (n_docs, k_target,
    * floor_q10k, n_admitted). Ties at the floor are all admitted
    * (n_admitted ≥ k_target) — deterministic, no tie-break sampling.
    *
    * Scale shape: the same histogram trick as
    * [[TextOps.lengthQuantiles]] — the corpus collapses to (q10k, n)
    * counts in ONE hash aggregation (score values are bounded
    * integers, so the histogram is thousands of rows at any corpus
    * size) and the windows walk the histogram, never the corpus. */
  def qualityBudgetFloor(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .select(TextOps.quality10k(col("text")).as("q10k"))
      .groupBy(col("q10k")).agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("q10k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("k_target", expr(s"total * $QualityKeep10k div 10000"))
      .where(col("cum") >= col("k_target"))
      .groupBy(col("total"), col("k_target"))
      .agg(max(col("q10k")).as("floor_q10k"),
        min(col("cum")).as("n_admitted"))
      .select(col("total").as("n_docs"), col("k_target"),
        col("floor_q10k"), col("n_admitted"))
  }

  /** PER-LANGUAGE budget floor — [[qualityBudgetFloor]] partitioned by
    * stratum: each language keeps ITS top [[QualityKeep10k]]/10⁴ (the
    * per-stratum budget a mixture pipeline actually runs, since a
    * global floor would let one high-scoring language crowd out the
    * rest). Same histogram walk, windows partitioned by lang — still
    * histogram-sized, never corpus-sized. */
  def qualityBudgetFloorByLang(spark: SparkSession, dir: String)
      : DataFrame = {
    val hist = Tables.documents(spark, dir)
      .select(col("lang"), TextOps.quality10k(col("text")).as("q10k"))
      .groupBy(col("lang"), col("q10k")).agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("q10k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("k_target", expr(s"total * $QualityKeep10k div 10000"))
      .where(col("cum") >= col("k_target"))
      .groupBy(col("lang"), col("total"), col("k_target"))
      .agg(max(col("q10k")).as("floor_q10k"),
        min(col("cum")).as("n_admitted"))
      .select(col("lang"), col("total").as("n_docs"), col("k_target"),
        col("floor_q10k"), col("n_admitted"))
  }

  // --- release-risk privacy census: k-anonymity / l-diversity ---------

  /** k-anonymity bar: a quasi-identifier class smaller than this many
    * documents is re-identification risk. */
  val KAnonK = 5

  /** Generalization ladder for [[kGeneralize]]: length-bucket widths,
    * finest first — each coarsening merges classes and monotonically
    * shrinks the at-risk population (spec-pinned; measured at sf0.01:
    * 493 → 325 → 158 docs at risk). */
  val KAnonWidths: Seq[Int] = Seq(50, 250, 1000)

  /** Quasi-identifier class keys at a given length-bucket width: the
    * released columns an adversary can join on — (lang, source,
    * n_chars bucket). Pure map-side projection. */
  private def quasiIds(spark: SparkSession, dir: String,
      width: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        expr(s"n_chars div $width").as("len_b"))

  /** K-ANONYMITY CENSUS — the release-risk audit a privacy review runs
    * before a corpus ships: group the corpus by its quasi-identifier
    * tuple (the columns released ALONGSIDE the text: lang, source,
    * length bucket) and flag every equivalence class smaller than
    * [[KAnonK]] — a document alone (or nearly alone) in its class is
    * re-identifiable from metadata even after [[TextOps.redactText]]
    * scrubs the content (Sweeney 2002, public model). One hash
    * aggregate with map-side combine; class count bounded by
    * |langs|·|sources|·|buckets|, never corpus-sized. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    quasiIds(spark, dir, KAnonWidths.head)
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("at_risk", col("n_docs") < KAnonK)

  /** GENERALIZATION LADDER — the remediation measurement: re-census the
    * classes at each coarser length bucket of [[KAnonWidths]] and
    * report (width, n_classes, n_at_risk_classes, n_docs_at_risk).
    * Coarsening only merges classes, so the at-risk population is
    * monotone non-increasing down the ladder — the measured basis for
    * choosing the release granularity (the Z-order "skipping payoff"
    * discipline applied to privacy).
    *
    * Scale shape: the widths are NESTED MULTIPLES (50 | 250 | 1000), so
    * the corpus is scanned ONCE for the finest class census
    * (checkpointed, ≤ key-product rows) and every coarser rung is a
    * rollup of that tiny relation — `len_b(w) = len_b(50) div (w/50)`
    * holds exactly because each width divides the next (the histogram-
    * trick discipline: re-aggregate the histogram, never the corpus). */
  def kGeneralize(spark: SparkSession, dir: String): DataFrame = {
    require(KAnonWidths.forall(_ % KAnonWidths.head == 0),
      s"ladder widths must be multiples of the finest: $KAnonWidths")
    val fine = quasiIds(spark, dir, KAnonWidths.head)
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    KAnonWidths.map { w =>
      fine
        .groupBy(col("lang"), col("source"),
          expr(s"len_b div ${w / KAnonWidths.head}").as("len_bw"))
        .agg(sum(col("n")).as("n"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("n") < KAnonK, 1L).otherwise(0L))
            .as("n_at_risk_classes"),
          sum(when(col("n") < KAnonK, col("n")).otherwise(0L))
            .as("n_docs_at_risk"))
        .select(lit(w.toLong).as("width"), col("n_classes"),
          col("n_at_risk_classes"), col("n_docs_at_risk"))
    }.reduce(_ unionAll _)
  }

  /** L-DIVERSITY — the attribute-disclosure complement: within each
    * quasi-identifier class, how many DISTINCT sensitive values appear
    * (Machanavajjhala 2007, public model)? The sensitive attribute here
    * is the document's PII class (email > phone > ip > none, the
    * [[TextOps.piiScanCore]] patterns at fixed precedence): a class
    * where l = 1 discloses its members' sensitive value to anyone who
    * can place a target in the class — flagged even when k-anonymity
    * passes. Same single-aggregate shape with a count_distinct arm. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    // fan-out before the per-row PII regexes — identity at scale
    graft.functions.ScaleUtils.fanOutScan(
        Tables.documents(spark, dir), col("doc_id"))
      .select(col("lang"), col("source"),
        expr(s"n_chars div ${KAnonWidths.head}").as("len_b"),
        when(regexp_count(col("text"), lit(TextOps.PiiEmailRe)) > 0, "email")
          .when(regexp_count(col("text"), lit(TextOps.PiiPhoneRe)) > 0, "phone")
          .when(regexp_count(col("text"), lit(TextOps.PiiIpRe)) > 0, "ip")
          .otherwise("none").as("sensitive"))
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("sensitive")).as("l"))
      .withColumn("disclosure", col("l") === 1)

  /** RELEASE-RISK AUDIT OF THE ADMITTED CORPUS — [[kAnonymity]]
    * composed onto the funnel: k-anonymity applies to what SHIPS, so
    * the quasi-identifier census runs over the stage-8 (admitted)
    * population, per language: admitted docs, docs in classes below
    * [[KAnonK]] among the admitted, and the exact risk share in ppm.
    * The funnel can admit a document into a class the full corpus kept
    * populated but the admitted slice leaves near-empty — this is the
    * number a release review signs off on. Derives entirely from the
    * admitted class census (≤ key-product rows); the funnel stage pass
    * is the only corpus-sized work. */
  def releaseRisk(spark: SparkSession, dir: String): DataFrame = {
    val groups = DedupOps.textDedupGroups(spark, dir)
    val keep = DedupOps.canonicalDocsFrom(groups,
      TextOps.qualityScore(spark, dir).select(col("doc_id"), col("quality")))
    releaseRiskFrom(spark, dir,
      curationStagesFrom(spark, dir, DedupOps.dropList(groups, keep)))
  }

  /** [[releaseRisk]] over a precomputed stages relation — the
    * production form ([[curationRun]] materializes stages once). */
  def releaseRiskFrom(spark: SparkSession, dir: String,
      stages: DataFrame): DataFrame = {
    val adm = stages.where(col("stage") === "8_admitted")
      .select(col("doc_id"))
    val cls = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        expr(s"n_chars div ${KAnonWidths.head}").as("len_b"))
      .join(adm, "doc_id")
      .groupBy(col("lang"), col("source"), col("len_b"))
      .agg(count(lit(1)).as("n"))
    cls.groupBy(col("lang"))
      .agg(sum(col("n")).as("n_admitted"),
        sum(when(col("n") < KAnonK, col("n")).otherwise(0L))
          .as("n_at_risk"))
      .withColumn("risk_ppm",
        expr("(n_at_risk * 1000000) div n_admitted"))
  }

  /** Chunk geometry for [[chunkDocs]]: fixed token windows with overlap
    * (the shape an embedding/retrieval pass feeds its encoder). Stride =
    * tokens − overlap; a chunk starts at every stride multiple below the
    * doc's token count, so the tail chunk may be short but no chunk
    * starts past the end. A tail chunk that would be FULLY CONTAINED in
    * its predecessor (start ≥ n − overlap, i.e. every token already in
    * the previous window) is dropped — it carries zero new content and
    * would register as a spurious duplicate in chunk-level dedup
    * (ADVICE r6). Only the LAST start can hit that condition (if
    * start + overlap ≥ n then start + stride ≥ n too), so chunk ids
    * stay contiguous. */
  val ChunkTokens = 64
  val ChunkOverlap = 16
  val ChunkStride: Int = ChunkTokens - ChunkOverlap

  /** Document CHUNKING — the preprocessing step between a curated corpus
    * and embedding generation: split each document into
    * [[ChunkTokens]]-token windows overlapping by [[ChunkOverlap]]
    * (overlap keeps boundary-straddling content inside at least one
    * window). Emits (doc_id, lang, chunk_id, n_tok, chunk_fp) — the
    * md5 fingerprint stands in for the chunk text so the declared
    * query's output stays compact and hash-comparable; a real run
    * projects the chunk string instead (same slice).
    *
    * Scale shape: per-row token array + one explode of the start
    * sequence — output rows ∝ corpus tokens / stride, no shuffle, no
    * UDF; zero-token docs drop (no empty chunk). */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkedToks(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("chunk_id"),
        size(col("ctoks")).as("n_tok"),
        md5(array_join(col("ctoks"), " ").cast("binary")).as("chunk_fp"))

  /** The chunk relation WITH its token arrays — (doc_id, lang,
    * chunk_id, ctoks), the pre-fingerprint form [[chunkDocs]] projects
    * down and the chunk-EMBEDDING path
    * ([[graft.operators.DedupOps.chunkSemDedup]]) consumes directly. */
  private[graft] def chunkedToks(docs: DataFrame): DataFrame = {
    val toksCol = TextOps.toks(col("text"))
    // explodeNN replaces both the explicit `n > 0` filter and plain
    // explode's pruning filter: a zero-token doc takes the when()'s null
    // branch (sequence itself would throw on 0 to -1), outer-explode
    // pads the null array with a null start, and the IS-NOT-NULL drop
    // removes exactly those rows — row-identical, and the tokenize tree
    // is no longer re-evaluated inside a pushed predicate (see
    // TextOps.explodeNN)
    TextOps.explodeNN(
        docs
          .select(col("doc_id"), col("lang"), toksCol.as("toks"))
          .withColumn("n", size(col("toks"))),
        when(col("n") > 0,
          sequence(lit(0), col("n") - 1, lit(ChunkStride))), "start",
        col("doc_id"), col("lang"), col("toks"), col("n"))
      .where(col("start") === 0 || col("start") + ChunkOverlap < col("n"))
      .select(col("doc_id"), col("lang"),
        (col("start") / ChunkStride).cast("int").as("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(ChunkTokens)).as("ctoks"))
  }

  /** CHUNK-level dedup (VERDICT r6 #5) — real pipelines dedup below
    * document granularity: a doc can be 60% boilerplate-copied without
    * its doc-level Jaccard ever reaching the dup bar. Per chunk
    * fingerprint the OWNER is the lowest doc_id carrying it; a chunk is
    * a duplicate iff its fp already appears in a LOWER-id doc —
    * cross-document strictly, so a doc that merely repeats ITSELF
    * (intra-doc periodic content) is the repetition stage's business,
    * not a chunk dup, and the owner doc itself is never flagged. Emits
    * one row per chunked doc: (doc_id, lang, n_chunks, n_dup_chunks,
    * chunk_dup) where `chunk_dup` flags docs at least HALF of whose
    * chunks are owned elsewhere (integer-exact 2·dup ≥ n — no FP
    * boundary).
    *
    * Scale shape: owner resolution is a HASH AGGREGATE on chunk_fp
    * (partial min combines map-side, so the exchange carries ~distinct
    * fps) joined back on the same key, then one hash re-aggregation per
    * doc. An aggregate WINDOW over chunk_fp would be one exchange fewer
    * on paper but plans as Exchange + per-partition SORT of the full
    * chunk table by its 32-char fp — the sort costs more than the
    * compacted second exchange. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupOf(chunkDocs(spark, dir))

  /** [[chunkDedup]] over a precomputed [[chunkDocs]] frame — the form
    * the funnel and a chunks-materializing run ([[curationRun]]) use so
    * the corpus is chunked ONCE per run, not once per signal. */
  def chunkDedupOf(chunks: DataFrame): DataFrame = {
    val owners = chunks.groupBy(col("chunk_fp"))
      .agg(min(col("doc_id")).as("owner_id"))
    chunks
      .join(owners, Seq("chunk_fp"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("doc_id") > col("owner_id"), 1L).otherwise(0L))
          .as("n_dup_chunks"))
      .withColumn("chunk_dup",
        col("n_dup_chunks") * 2 >= col("n_chunks"))
  }

  /** CDC boundary divisor: a token CLOSES its chunk when the 32-bit
    * head of its md5 ≡ 0 (mod this) — expected chunk length =
    * `CdcDivisor` tokens. Content-defined: the decision depends ONLY
    * on the token itself, never on position. */
  val CdcDivisor = 8

  /** Every `CdcShiftMod`-th doc gets a prefix-shifted twin in
    * [[cdcShift]] — the insertion-robustness probe. */
  val CdcShiftMod = 10

  /** The planted 3-token insertion the twin prepends. */
  val CdcShiftPrefix = "zq0 zq1 zq2"

  /** CONTENT-DEFINED CHUNKING (FastCDC/LBFS-style, token-anchored) —
    * the shift-robust alternative to [[chunkedToks]]'s fixed grid: a
    * chunk boundary falls AFTER every token whose hash ≡ 0 (mod
    * [[CdcDivisor]]), so boundaries are properties of the CONTENT, not
    * of token offsets. Insert three tokens at the head of a document
    * and every fixed-grid chunk shifts (all fingerprints change); CDC
    * boundaries downstream of the edit are bit-identical, so the
    * shared-chunk dedup keeps matching ([[cdcShift]] measures exactly
    * this). The price is chunk-length variance (geometric around the
    * divisor) — why real dedup storage (LBFS, restic, borg) pays it.
    *
    * Scale shape: posexplode → one window per doc (the sessionize
    * partition discipline — running boundary count, shuffle keyed by
    * doc_id) → per-chunk hash aggregate. Emits
    * (doc_id, lang, chunk_id, n_tok, chunk_fp) like [[chunkDocs]]. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    docs
      .select(col("doc_id"), col("lang"),
        posexplode(TextOps.toks(col("text")))
          .as(Seq("pos", "tok")))
      .withColumn("b", when(expr("CAST(conv(substring(md5(cast(tok AS " +
        s"binary)), 1, 8), 16, 10) AS BIGINT) % $CdcDivisor") === 0, 1L)
        .otherwise(0L))
      .withColumn("chunk_id", coalesce(sum(col("b")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("lang"), col("chunk_id"))
      .agg(count(lit(1)).cast("int").as("n_tok"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").cast("binary")).as("chunk_fp"))
  }

  /** CDC chunk census — per doc: chunk count, token total, and the
    * md5 of the in-order chunk-fingerprint sequence (grades the whole
    * boundary + reassembly chain byte-for-byte). */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOf(Tables.documents(spark, dir))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(col("n_tok")).cast("long").as("n_toks"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("chunk_id"), col("chunk_fp")))),
          s => s.getField("chunk_fp")), "").cast("binary")).as("chunks_fp"))

  /** [[chunkDedup]] over CDC chunks — same owner-resolution shape
    * ([[chunkDedupOf]] verbatim), shift-robust candidate set. */
  def cdcDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupOf(cdcChunksOf(Tables.documents(spark, dir)))

  /** INSERTION-ROBUSTNESS PROBE — the number the CDC family exists
    * for: every [[CdcShiftMod]]-th doc gets a twin with a planted
    * 3-token head insertion, and both chunking schemes report what
    * fraction of the ORIGINAL's distinct chunk fingerprints survive in
    * the twin. Fixed-grid chunks all shift (≈0% survive); CDC chunks
    * downstream of the first boundary are untouched (the bulk
    * survives). Two rows (scheme, n_docs, tot_chunks, tot_shared,
    * shared_pct), integer-exact. */
  def cdcShift(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .where(col("doc_id") % CdcShiftMod === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val shifted = base.withColumn("text",
      concat(lit(CdcShiftPrefix + " "), col("text")))
    def fpsCdc(df: DataFrame) =
      cdcChunksOf(df).select(col("doc_id"), col("chunk_fp")).distinct()
    def fpsFixed(df: DataFrame) =
      chunkedToks(df).select(col("doc_id"),
        md5(array_join(col("ctoks"), " ").cast("binary")).as("chunk_fp"))
        .distinct()
    def arm(scheme: String, fps: DataFrame => DataFrame): DataFrame = {
      val o = fps(base)
      val s = fps(shifted)
        .withColumnRenamed("chunk_fp", "sfp")
        .withColumnRenamed("doc_id", "sid")
      val shared = o.join(s,
          o("doc_id") === col("sid") && o("chunk_fp") === col("sfp"))
        .groupBy(o("doc_id")).agg(count(lit(1)).as("n_shared"))
      o.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
        .join(shared, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chunks")).as("tot_chunks"),
          sum(coalesce(col("n_shared"), lit(0L))).as("tot_shared"))
        .select(lit(scheme).as("scheme"), col("n_docs"),
          col("tot_chunks"), col("tot_shared"),
          expr("CAST(tot_shared * 100 div tot_chunks AS INT)")
            .as("shared_pct"))
    }
    arm("cdc", fpsCdc).unionByName(arm("fixed", fpsFixed))
  }

  /** Fraction of a doc's chunks that must match benchmark chunks to
    * flag it (1e-4 units, integer-exact compare). 30%: the sub-document
    * threshold — a doc quoting a third of its content from a benchmark
    * is contaminated even when doc-level containment (≥80% of the
    * BENCHMARK's shingles) never fires because the benchmark is long. */
  val ChunkContainBar10k = 3000L

  /** CHUNK-level benchmark containment over a [[chunkDocs]] frame —
    * catches the sub-document contamination
    * [[graft.operators.DedupOps.contamination]] misses: doc-level
    * containment is |shared|/|benchmark| and goes quiet when a LONG
    * benchmark is only partially quoted; here a corpus doc is flagged
    * when ≥ [[ChunkContainBar10k]] of ITS chunks carry a benchmark chunk
    * fingerprint (copies are chunk-aligned when they start at the doc
    * head — the verbatim-prefix quote case; spec-pinned with a
    * doc-level-miss fixture). Benchmark side = the same
    * [[DedupOps.BenchmarkMaxId]] split as the declared contamination
    * query; benchmark fps are DISTINCT and broadcast (benchmarks are
    * small), the corpus scans once — no shuffle of the big side. */
  def chunkContaminationOf(chunks: DataFrame): DataFrame = {
    val benchFps = chunks.where(col("doc_id") < DedupOps.BenchmarkMaxId)
      .select(col("chunk_fp")).distinct().withColumn("hit", lit(1L))
    chunks.where(col("doc_id") >= DedupOps.BenchmarkMaxId)
      .join(broadcast(benchFps), Seq("chunk_fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
      .where(col("n_matched") * 10000 >= col("n_chunks") * ChunkContainBar10k)
  }

  /** Token budget per packed sequence (a small context window against
    * the chars/4 token estimate) and the shard fan-out that bounds how
    * much of one language any single packing task sees. */
  val PackBudget = 512L
  val PackShards = 32

  /** Sequence packing — the batch-assembly step between a curated corpus
    * and a trainer: concatenate documents in a fixed deterministic order
    * until a token budget fills, then start the next sequence. A doc is
    * assigned to the sequence its PRECEDING cumulative total falls in
    * (first-fit in id order; a sequence may overrun the budget by at
    * most one document rather than splitting it).
    *
    * Scale shape: packing is inherently sequential per stream, so the
    * stream is SHARDED — `pmod(id, shards)` — and the running total runs
    * per (lang, shard), never per lang alone (the low-cardinality window
    * funnel VERDICT r3 flagged on docIdsPerLang: ~5 langs = ~5 tasks at
    * any corpus size). Parallelism is langs × shards; size `shards` to
    * the cluster (the default matches local[32]) — resharding only
    * renumbers sequences, it never changes their token math.
    *
    * `idCol` MUST be unique (doc_id is): the window orders by idCol
    * alone, so duplicate ids leave the intra-tie ROW ORDER unspecified
    * and `cum`/`seq_id` would differ across runs — the ROWS frame only
    * stops tied peers from SHARING one cumulative total, it cannot
    * order them. Packing a relation with a non-unique key means adding
    * a deterministic tiebreaker column to the orderBy first. */
  def packSequences(df: DataFrame, idCol: String, langCol: String,
      tok: Column, budget: Long = PackBudget,
      shards: Int = PackShards): DataFrame = {
    // ROWS frame, not the default RANGE: with duplicate ids in one
    // (lang, shard), RANGE gives peers the SAME cumulative total and the
    // first-fit invariant breaks; ROWS accumulates row-at-a-time
    val w = Window.partitionBy(col(langCol), col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(langCol), tok.as("tok"),
        pmod(col(idCol), lit(shards)).cast("int").as("shard"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - tok) div ${budget}L"))
  }

  /** Declared query: pack documents (chars/4 token estimate) and roll the
    * per-sequence sizes up per language — sequence counts, fill, and how
    * many sequences overran the budget (all exact integers). */
  def packSummary(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir), "doc_id", "lang",
      TextOps.tokEst(col("text")))
      .groupBy(col("lang"), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        max(col("n_tok")).as("max_seq_tokens"),
        sum(when(col("n_tok") > PackBudget, 1L).otherwise(0L))
          .as("n_overflow"))

  /** Per-source corpus profile — the domain-level health dashboard a
    * crawl curation pass reads before deciding source weights: doc and
    * exact-duplicate counts (normalized fingerprint), token volume, and
    * mean quality per source. One hash aggregation over the corpus plus
    * an equi-join on doc_id for the quality signal. The mean is the
    * integer-TRUNCATED 1e-4 value (exact decimal sum → long → integer
    * div), not round(double, 4) — round() half-ties split between
    * engines (see [[TextOps.qualityScore]]'s sf0.1 war story). */
  def sourceProfile(spark: SparkSession, dir: String): DataFrame =
    // NO fan-out here (r18, measured): the per-row work is one md5 + a
    // length estimate and the quality join's side is already fanned —
    // the extra stage read 1.2-1.6x on an 0.89x control window
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.contentFp(col("text")).as("fp"),
        TextOps.tokEst(col("text")).as("tok"))
      .join(TextOps.qualityScore(spark, dir)
        .select(col("doc_id"), col("quality")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_uniq_fp"),
        sum(col("tok")).as("n_tokens_est"),
        // quality has exactly 4 decimals, so sum*10000 is an exact long
        (sum(col("quality").cast("decimal(8,4)")) * 10000).cast("long")
          .as("q_sum10k"))
      .withColumn("avg_quality",
        expr("q_sum10k div n_docs").cast("double") / 10000.0)
      .drop("q_sum10k")

  // --- URL canonicalization + URL-keyed dedup (VERDICT r12 item 3) ----

  /** URL CANONICALIZATION — expression-only (stays inside whole-stage
    * codegen; no UDF, no kernel): the normalizer every crawl pipeline
    * runs before URL-keyed dedup, because the same page arrives as
    * `HTTP://WWW.Example.COM:80/page/?utm_source=feed#top` and
    * `http://example.com/page`. Rules (the CCNet/crawl-dedup standard
    * set):
    *
    *  - scheme and host lowercase; path case PRESERVED (case-significant
    *    on most servers)
    *  - `www.` host prefix dropped
    *  - default ports stripped (`:80` for http, `:443` for https);
    *    non-default ports kept
    *  - fragment dropped (never sent to the server)
    *  - tracking params removed (`utm_*`, `fbclid`, `gclid`, `ref`);
    *    other params kept in original order (reordering would need a
    *    canonical sort — deliberately NOT done, order can be
    *    significant)
    *  - trailing path slash dropped except for the root path; empty
    *    path becomes `/`
    *
    * Absolute URLs expected; a scheme-less input passes through the
    * path/query/fragment rules only. */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val prefix = regexp_extract(noFrag,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", 0)
    val rest = noFrag.substr(length(prefix) + 1, length(noFrag))
    val host = regexp_replace(
      regexp_replace(lower(prefix), "://www\\.", "://"),
      "^(http://[^:]*):80$|^(https://[^:]*):443$", "$1$2")
    val path0 = regexp_extract(rest, "^[^?]*", 0)
    val path = when(path0 === "", lit("/"))
      .otherwise(regexp_replace(path0, "(.)/$", "$1"))
    val kept = filter(split(regexp_extract(rest, "\\?(.*)$", 1), "&"),
      t => !(t.rlike("^(utm_[^=]*|fbclid|gclid|ref)=") || t === ""))
    concat(host, path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
  }

  /** Divisor for the no-id-param subset in [[urlDocs]]: docs whose id is
    * ≡ 0 (mod this) get a URL WITHOUT the distinguishing `id` query
    * param — the subset whose canonical URLs can collide (same
    * first-token path), i.e. the planted crawl-duplicate population. */
  val UrlNoIdMod = 7

  /** Deterministic MESSY-URL synthesis from the documents table (the
    * planted-fixture discipline): every doc gets one absolute URL whose
    * scheme case, `www.` prefix, host case, default port, trailing
    * slash, tracking params and fragment all vary by doc_id residues —
    * and whose CANONICAL form is `http://example.com/<first token>`
    * plus `?id=<doc_id>` except for the [[UrlNoIdMod]] subset. The
    * DuckDB oracle rebuilds the canonical from the planted fields
    * directly (never by normalizing the messy string), so the green row
    * grades [[canonicalizeUrl]] end-to-end. */
  private[operators] def urlDocs(docs: DataFrame): DataFrame =
    // fan-out before the URL synthesis + downstream canonicalization
    // regexes — identity at scale
    graft.functions.ScaleUtils.fanOutScan(docs, col("doc_id"))
      .withColumn("w", TextOps.toks(col("text")))
      .select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0, "HTTP").otherwise("http"),
        lit("://"),
        when(col("doc_id") % 3 === 0, "WWW.Example.COM")
          .when(col("doc_id") % 3 === 1, "www.example.com")
          .otherwise("Example.com"),
        when(col("doc_id") % 2 === 0, ":80").otherwise(""),
        lit("/"), element_at(col("w"), 1),
        when(col("doc_id") % 5 === 0, "/").otherwise(""),
        lit("?utm_source=feed&gclid=1"),
        when(col("doc_id") % UrlNoIdMod =!= 0,
          concat(lit("&id="), col("doc_id"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, "#sec").otherwise(""))
        .as("url"))

  /** URL-keyed dedup census — the crawl-level pass that runs BEFORE any
    * content dedup (it needs no text, only the key): canonical URL →
    * variant count and first-crawled doc (min doc_id keeps, the
    * standard crawl-dedup rule). One hash aggregation on the canonical
    * key; at 100 TB this is the cheapest shuffle in the funnel (the key
    * is ~60 bytes, the rows carry no text). */
  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    urlDocs(Tables.documents(spark, dir))
      .select(col("doc_id"), canonicalizeUrl(col("url")).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))

  /** The doc_ids URL dedup drops (everything but the min per canonical
    * group) — the funnel's stage-0 input. WINDOW-min over the canonical
    * key (r19, measured): the previous aggregate + self-equi-join
    * computed the URL synthesis + canonicalization projection
    * (6 regexes + an interpreted HOF filter per row) on BOTH join
    * sides; the partition-only window runs it once and pays one
    * exchange instead of two join legs. Interleaved A/B/C
    * (OPTIMIZATION_r19.md §11, 9 reps): double-projection join med
    * 1.067 s, shared-exchange join 1.379, window min 0.665. Scale
    * posture: the window partitions on the HIGH-cardinality canonical
    * URL (no low-cardinality funnel) with an unbounded frame, and at
    * any corpus size it moves the same (doc_id, canon_url) rows the
    * join's bigger leg moved — one shuffle instead of two plus a
    * duplicated corpus-wide projection. */
  private[graft] def urlDupDrops(spark: SparkSession,
      dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_url"))
    urlDocs(Tables.documents(spark, dir))
      .select(col("doc_id"), canonicalizeUrl(col("url")).as("canon_url"))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
  }

  /** Quality floor for the funnel's final stage — the shared
    * [[TextOps.QualityFloor10k]] (same constant as the NB weak labels). */
  val FunnelMinQuality10k: Long = TextOps.QualityFloor10k

  /** Curation FUNNEL — the drop-reason breakdown a data team reads
    * after a pipeline run: every document lands in exactly ONE stage,
    * the first filter that would drop it: URL-dup dropped (crawl-level
    * [[urlDupDrops]] — runs FIRST because it needs only the key, never
    * the text; a real pipeline drops these before paying any content
    * pass) → near-dup dropped (non-canonical
    * member of a text dup group, best-quality-keeps) → benchmark-
    * contaminated (doc-level containment OR chunk-level
    * [[chunkContaminationOf]] OR exact 13-gram overlap
    * [[DedupOps.ngramContamination]] — one drop reason, three
    * detectors) →
    * chunk-dup ([[chunkDedup]]'s flag: half the doc's chunks already
    * exist elsewhere, below the doc-level dup bar) → repetitive
    * (Gopher bars) → boilerplate-heavy → rule-filtered (the
    * non-repetition Gopher rules, [[TextOps.gopherShapeFail]]) → below
    * the quality floor → admitted.
    *
    * Scale shape: the per-row signals (repetition, quality) evaluate in
    * the main projection; the three corpus-level signals (dup drops,
    * contamination, boilerplate) arrive as left equi-joins on doc_id of
    * relations that are each sub-linear in the corpus (drop list ≤ dup
    * members, contaminated set ≤ corpus, boiler flags one row per doc
    * but reduce to a boolean). Output is langs × stages. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val groups = DedupOps.textDedupGroups(spark, dir)
    val keep = DedupOps.canonicalDocsFrom(groups,
      TextOps.qualityScore(spark, dir).select(col("doc_id"), col("quality")))
    curationFunnelFrom(spark, dir, DedupOps.dropList(groups, keep))
  }

  /** [[curationFunnel]] over a PRECOMPUTED drop list (doc_id rows from
    * [[DedupOps.dropList]]) — the production form: a real run
    * materializes the dup-group table once ([[curationRun]]) and the
    * funnel derives from it instead of re-running the LSH chain. The
    * per-row and other corpus-level signals are computed here either
    * way (they are not the expensive pass). */
  def curationFunnelFrom(spark: SparkSession, dir: String,
      dropped: DataFrame, chunksOpt: Option[DataFrame] = None): DataFrame =
    funnelOf(curationStagesFrom(spark, dir, dropped, chunksOpt))

  /** The funnel report: docs per (lang, stage) of a per-doc stages
    * relation ([[curationStagesFrom]]'s shape). */
  private def funnelOf(stages: DataFrame): DataFrame =
    stages.groupBy(col("lang"), col("stage")).agg(count(lit(1)).as("n_docs"))

  /** Per-DOCUMENT funnel verdict (doc_id, lang, stage) — the relation
    * the aggregate funnel summarizes, split out so [[curationRun]] can
    * materialize the ADMITTED corpus (the actionable artifact: the
    * doc_id set a training run actually reads) from the same pass that
    * produces the report. */
  def curationStagesFrom(spark: SparkSession, dir: String,
      dropped: DataFrame, chunksOpt: Option[DataFrame] = None): DataFrame = {
    val dupDropped = dropped.select(col("doc_id"))
      .withColumn("dup_dropped", lit(true))
    // the corpus is chunked once; both chunk signals derive from it (a
    // materializing run — curationRun — passes the chunk TABLE instead).
    // The internally-derived frame is PERSISTED: chunkDocs has no
    // shuffle boundary ReuseExchange could share, and it feeds three
    // aggregations (bench fps, containment, chunk dedup) in this one
    // plan. Freed by the harness contract (Verify/Bench clearCache
    // between queries).
    val chunks = chunksOpt.getOrElse(chunkDocs(spark, dir).persist())
    // one drop reason, three detectors: doc-level containment, the
    // chunk-level variant, and exact 13-gram overlap union into the
    // contaminated set
    val contaminated = DedupOps.contamination(spark, dir)
      .select(col("doc_id"))
      .union(chunkContaminationOf(chunks).select(col("doc_id")))
      .union(DedupOps.ngramContamination(spark, dir).select(col("doc_id")))
      .distinct()
      .withColumn("contaminated", lit(true))
    val chunkDup = chunkDedupOf(chunks).where(col("chunk_dup"))
      .select(col("doc_id")).withColumn("is_chunk_dup", lit(true))
    val boiler = TextOps.boilerplate(spark, dir)
      .select(col("doc_id"), col("boiler_heavy"))
    val urlDropped = urlDupDrops(spark, dir)
      .withColumn("url_dropped", lit(true))
    // fan-out before the three per-row regex signals — identity at scale
    graft.functions.ScaleUtils.fanOutScan(
        Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        TextOps.repetitiveFlag(col("text")).as("repetitive"),
        TextOps.gopherShapeFail(col("text")).as("rule_fail"),
        TextOps.quality10k(col("text")).as("q10k"))
      .join(urlDropped, Seq("doc_id"), "left")
      .join(dupDropped, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(chunkDup, Seq("doc_id"), "left")
      .join(boiler, Seq("doc_id"), "left")
      .withColumn("stage",
        when(coalesce(col("url_dropped"), lit(false)), "0_url_dup")
          .when(coalesce(col("dup_dropped"), lit(false)), "1_dup_dropped")
          .when(coalesce(col("contaminated"), lit(false)), "2_contaminated")
          .when(coalesce(col("is_chunk_dup"), lit(false)), "3_chunk_dup")
          .when(col("repetitive"), "4_repetitive")
          .when(coalesce(col("boiler_heavy"), lit(false)), "5_boilerplate")
          .when(col("rule_fail"), "6_rule_filtered")
          .when(col("q10k") < FunnelMinQuality10k, "7_low_quality")
          .otherwise("8_admitted"))
      .select(col("doc_id"), col("lang"), col("stage"))
  }

  /** Composed curation RUN — the shape a real pipeline executes
    * (VERDICT r5 #6): the LSH → connected-components group table is the
    * expensive pass, so it is materialized ONCE under `outDir` and the
    * canonical picks, per-source dup rates and drop-reason funnel all
    * derive from the MATERIALIZED table through the *From entry points
    * ([[DedupOps.canonicalDocsFrom]], [[DedupOps.dupRateBySourceFrom]],
    * [[curationFunnelFrom]]). The three DECLARED queries re-run the
    * chain per query only because the oracle gate requires
    * self-contained queries — at bench sf that recomputation was ~25 s
    * of the 74-query suite (VERDICT r5 perf note); a production run
    * pays the chain once here.
    *
    * A table you wrote comes back from the call that wrote it: each of
    * the nine tables is written through
    * [[graft.functions.ScaleUtils.stored]] at `outDir/<name>`, and the
    * returned map holds those read-backs by name, each under the schema
    * it was written with. Downstream consumers scan a table, with no
    * schema-inference job, instead of re-deriving the plan
    * ([[derivations]]; [[materialized]] is the run once per corpus
    * state). Spec-pinned: each output equals its declared query's result
    * row-for-row.
    *
    * Deliberate non-goal: the funnel's chunk signals are EXACT
    * (fingerprint dedup + benchmark containment); chunk-level SEMANTIC
    * dedup exists as its own composition
    * ([[graft.operators.DedupOps.chunkSemDedup]] — declared and
    * oracled) rather than as a funnel stage, because its verdicts are
    * per-CHUNK while the funnel assigns one drop reason per DOCUMENT —
    * a retrieval-corpus build runs it downstream of admission, on the
    * chunks of the admitted set. */
  def curationRun(spark: SparkSession, dir: String, outDir: String)
      : Map[String, DataFrame] = {
    import graft.functions.ScaleUtils.stored
    val groups = stored(DedupOps.textDedupGroups(spark, dir), s"$outDir/groups")
    val quality = TextOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    val keep = stored(DedupOps.canonicalDocsFrom(groups, quality),
      s"$outDir/canonical")
    val dupRates = stored(DedupOps.dupRateBySourceFrom(groups, keep,
        Tables.documents(spark, dir).select(col("doc_id"), col("source"))),
      s"$outDir/dup_rates")
    // the chunk grid is the other corpus-sized derivation — materialize
    // it once and feed the funnel's two chunk signals from the table
    val chunks = stored(chunkDocs(spark, dir), s"$outDir/chunks")
    // ONE staged pass feeds both artifacts: the per-doc verdicts land as
    // a table, the funnel report is its aggregation, and the ADMITTED
    // corpus — the doc set a training run actually reads — is the
    // stage-8 slice of the same materialized relation (no second
    // evaluation that could classify a doc differently)
    val stages = stored(curationStagesFrom(spark, dir,
      DedupOps.dropList(groups, keep), Some(chunks)), s"$outDir/stages")
    val funnel = stored(funnelOf(stages), s"$outDir/funnel")
    val admitted = stored(stages.where(col("stage") === "8_admitted")
      .select(col("doc_id"), col("lang")), s"$outDir/admitted")
    // the learned-filter model: trained ONCE here on the heuristic
    // labels, stored as two tables — a batch rescoring
    // (TextOps.nbScoreFrom) reads the stored model instead of
    // re-training (refresh on the run cadence)
    val (nbW, nbPrior) = TextOps.nbTrain(Tables.documents(spark, dir))
    Map(
      "groups"     -> groups,
      "canonical"  -> keep,
      "dup_rates"  -> dupRates,
      "chunks"     -> chunks,
      "stages"     -> stages,
      "funnel"     -> funnel,
      "admitted"   -> admitted,
      "nb_weights" -> stored(nbW, s"$outDir/nb_weights"),
      "nb_prior"   -> stored(nbPrior, s"$outDir/nb_prior"))
  }

  /** Rows each retrieval arm contributes to [[rrfFusion]]. */
  val RrfDepth = 50

  /** The RRF damping constant — 60, the value the method's published
    * evaluation fixed and every system since reuses. */
  val RrfK = 60

  /** Fused rows [[rrfFusion]] returns. */
  val RrfTopK = 20

  /** Integer RRF unit: an arm at rank r contributes
    * `10^6 div (RrfK + r)` — reciprocal rank in exact ppm units. */
  val RrfScale = 1000000L

  /** HYBRID RETRIEVAL by RECIPROCAL-RANK FUSION — the standard way a
    * training-data pipeline combines its sparse and dense retrievers
    * (topical slicing, dedup-audit search, eval-set mining): the
    * lexical arm ranks documents by integer BM25
    * ([[TextOps.bm25Scored]], query [[TextOps.Bm25Query]]), the
    * semantic arm ranks them by quantized cosine against a probe
    * embedding (vector 0 — the doc↔vector id alignment every
    * doc/embedding join in this file uses), and each document's fused
    * score is the sum of `10^6 div (60 + rank)` over the arms that
    * retrieved it in their top [[RrfDepth]]. Rank fusion uses ONLY
    * ranks — the two arms' incommensurable scores never mix, which is
    * the method's point and also makes the whole statistic integer
    * (the repo-wide cross-engine discipline).
    *
    * Scale shape: each arm ends in TakeOrderedAndProject (per-partition
    * top-[[RrfDepth]], driver merge), so the window that numbers ranks
    * and the full-outer fusion join run over ≤ 2·[[RrfDepth]] rows —
    * constant-size, corpus-independent. The corpus-scale work is the
    * two scans the arms make (BM25's stats+score passes, one cosine
    * pass with the 1-row probe broadcast). */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val bmRank = TextOps
      .bm25Scored(Tables.documents(spark, dir), TextOps.Bm25Query)
      .orderBy(col("bm25_x8").desc, col("doc_id").asc).limit(RrfDepth)
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("bm25_x8").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("bm25_rank"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")).as("qe"))
      .withColumn("nrm", dot(col("qe"), col("qe")))
      .where(col("nrm") > 0)
    val probe = emb.where(col("vec_id") === 0)
      .select(col("qe").as("p_qe"), col("nrm").as("p_nrm"))
    val cosRank = emb.where(col("vec_id") > 0)
      .crossJoin(broadcast(probe))
      .withColumn("sim",
        round(dot(col("p_qe"), col("qe")).cast("double")
          / (sqrt(col("p_nrm").cast("double"))
            * sqrt(col("nrm").cast("double"))), 4))
      // integer sort key strictly monotone in (sim desc) — the
      // topKPerQuery −0.0 discipline
      .withColumn("neg", (-round(col("sim") * 10000)).cast("long"))
      .orderBy(col("neg").asc, col("vec_id").asc).limit(RrfDepth)
      .withColumn("cos_rank", row_number().over(
        Window.orderBy(col("neg").asc, col("vec_id").asc)))
      .select(col("vec_id").as("doc_id"), col("cos_rank"))
    bmRank.join(cosRank, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm", expr(
        s"""CAST(coalesce($RrfScale div ($RrfK + bm25_rank), 0)
           |   + coalesce($RrfScale div ($RrfK + cos_rank), 0) AS BIGINT)"""
          .stripMargin))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc).limit(RrfTopK)
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        col("rrf_ppm"))
  }

  // --- retrieval-quality harness (VERDICT r14 item 7) -----------------

  /** Planted eval queries (marker terms zq0..zq4). */
  val EvalQueries = 5

  /** Relevance class: doc d is relevant to query `d % EvalRelMod` when
    * that residue is < [[EvalQueries]]. */
  val EvalRelMod = 100

  /** Recall cutoff. */
  val EvalK = 10

  /** MRR fixed-point unit (reciprocal rank in ppm). */
  val MrrScale = 1000000L

  /** The eval corpus: each relevant doc (except the `d % 3 == 0` third
    * — lexically INVISIBLE, the dense arm's reason to exist) carries
    * its query's marker token `zq<q>` with century-graded repetition;
    * two weak lexical distractors per query carry one copy. The planted
    * signal rides on the REAL text, so the real tokenizer/BM25 see
    * realistic documents plus a recoverable ground truth. */
  private[operators] def evalDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), concat(col("text"), expr(
      s"""CASE
         |  WHEN doc_id % $EvalRelMod < $EvalQueries AND doc_id % 3 <> 0
         |    THEN repeat(' zq' || CAST(doc_id % $EvalRelMod AS STRING),
         |      CAST(1 + (doc_id div $EvalRelMod) % 5 AS INT))
         |  WHEN doc_id % $EvalRelMod BETWEEN 50 AND 54 AND doc_id < 200
         |    THEN ' zq' || CAST(doc_id % $EvalRelMod - 50 AS STRING)
         |  ELSE '' END""".stripMargin)).as("text"))

  /** Planted 5-dim embeddings: relevant EVEN-id docs light up their
    * query's dimension (the lexical arm's `% 3` blind spot and this
    * parity blind spot overlap only on `d % 6 == 3` — the docs NO arm
    * can find); two weak dense distractors per query score just below
    * every relevant doc. */
  private def evalEmbExpr(i: Int): String =
    s"""CASE
       |  WHEN doc_id % $EvalRelMod = $i AND doc_id % 2 = 0
       |    THEN 900 + (doc_id div $EvalRelMod) % 50
       |  WHEN doc_id % $EvalRelMod = $i + 30 AND doc_id < 200
       |    THEN 890 + (doc_id div $EvalRelMod) % 5
       |  ELSE 0 END""".stripMargin

  /** RETRIEVAL-QUALITY HARNESS with planted relevance — the
    * `q_ann_recall` pattern for the lexical/hybrid stack (VERDICT r14
    * item 7): qrels are PLANTED (query q's relevant docs are the
    * `d % $EvalRelMod == q` class), the lexical arm is the REAL
    * integer BM25 ([[TextOps.bm25Scored]]) over the marker-salted
    * corpus, the dense arm is the REAL codegen'd dot product
    * ([[DotProductLong]]) of a one-hot probe against the planted
    * embeddings, and the fused arm is the same RRF statistic
    * [[rrfFusion]] serves. Per arm: recall@[[EvalK]] and MRR in exact
    * integer units — so the fusion's value is MEASURED: the lexical
    * arm cannot see the `% 3 == 0` relevants, the dense arm cannot see
    * the odd ones, and RRF's union recall exceeds both (spec-pinned at
    * the fixture scale). The harness also measures fusion's honest
    * limit: once a query's relevant set is much larger than
    * [[EvalK]] (the sf0.1 corpus has 50 per query), each arm saturates
    * the cutoff with relevants of its own and the union advantage
    * shrinks — recall@k only rewards fusion while the arms'
    * blind spots, not the cutoff, are the binding constraint.
    *
    * Scale shape: each BM25 call is the two-scan one-term stats +
    * score pass; the dense pass is one scan with [[EvalQueries]]
    * broadcast probe rows; every window partitions by query over
    * candidate rows (docs with a nonzero score — planted-sparse), and
    * the metric aggregates reduce to [[EvalQueries]]·arms rows. Eval
    * sets are small by construction at any corpus size (qrels are
    * curated data); the harness cost is the arms' scans. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val ed = evalDocs(Tables.documents(spark, dir))
    // lexical arm: real BM25, one planted term per query. One multi-term
    // stats+score pass (TextOps.bm25ScoredPerTerm) replaces the previous
    // 5-way union of single-term bm25Scored calls — 10 scans of the
    // salted corpus down to 2, score-identical per term (r19, guide
    // §1.2; measured in OPTIMIZATION_r19.md).
    val lexScored = TextOps.bm25ScoredPerTerm(ed,
        (0 until EvalQueries).map(q => s"zq$q"))
      .where(col("bm25_x8") > 0)
      .select(col("term_idx").as("q"), col("doc_id"),
        col("bm25_x8").as("score"))
    // dense arm: one-hot probes through the real dot-product kernel
    val probes = spark.range(EvalQueries).select(col("id").cast("int")
        .as("q"), transform(sequence(lit(0), lit(EvalQueries - 1)),
        i => when(i === col("id").cast("int"), 1L).otherwise(0L))
        .as("probe"))
    val emb = Tables.documents(spark, dir).select(col("doc_id"),
      array((0 until EvalQueries).map(i => expr(evalEmbExpr(i))
        .cast("long")): _*).as("emb"))
    val denScored = emb.crossJoin(broadcast(probes))
      .withColumn("score", dot(col("probe"), col("emb")))
      .where(col("score") > 0)
      .select(col("q"), col("doc_id"), col("score"))
    def ranked(scored: DataFrame): DataFrame = scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("q"))
        .orderBy(col("score").desc, col("doc_id").asc)))
      .where(col("rank") <= RrfDepth)
      .select(col("q"), col("doc_id"), col("rank"))
    val lexR = ranked(lexScored)
    val denR = ranked(denScored)
    val fused = lexR.withColumnRenamed("rank", "lr")
      .join(denR.withColumnRenamed("rank", "dr"),
        Seq("q", "doc_id"), "full_outer")
      .withColumn("ppm", expr(
        s"""CAST(coalesce($RrfScale div ($RrfK + lr), 0)
           |   + coalesce($RrfScale div ($RrfK + dr), 0) AS BIGINT)"""
          .stripMargin))
      .withColumn("rank", row_number().over(Window.partitionBy(col("q"))
        .orderBy(col("ppm").desc, col("doc_id").asc)))
      .select(col("q"), col("doc_id"), col("rank"))
    val allArms = lexR.withColumn("arm", lit("bm25"))
      .unionByName(denR.withColumn("arm", lit("dense")))
      .unionByName(fused.withColumn("arm", lit("rrf")))
      .withColumn("rel", col("doc_id") % EvalRelMod === col("q"))
    val perQuery = allArms.groupBy(col("arm"), col("q"))
      .agg(sum(when(col("rel") && col("rank") <= EvalK, 1L)
          .otherwise(0L)).as("hits"),
        min(when(col("rel"), col("rank"))).as("first_rank"))
    val nRel = Tables.documents(spark, dir)
      .where(col("doc_id") % EvalRelMod < EvalQueries)
      .agg(count(lit(1)).as("n_rel"))
    perQuery.groupBy(col("arm"))
      .agg(sum(col("hits")).as("hits_at10"),
        sum(coalesce(expr(s"$MrrScale div first_rank"), lit(0L)))
          .as("mrr_sum"))
      .crossJoin(broadcast(nRel))
      .select(col("arm"), col("hits_at10"), col("n_rel"),
        expr("CAST(hits_at10 * 100 div n_rel AS INT)").as("recall_pct"),
        expr(s"CAST(mrr_sum div $EvalQueries AS BIGINT)").as("mrr_ppm"))
  }

  /** Probe documents (doc_id < HnQueries) that mine triples. */
  val HnQueries = 5

  /** Dense positives kept per query (top-cosine neighbors). */
  val HnPosK = 2

  /** Lexical candidates per query entering the dense anti-join. */
  val HnLexK = 20

  /** Hard negatives kept per query. */
  val HnNegK = 3

  /** Query terms per probe doc — its own top-tfidf keywords. */
  val HnQueryTerms = 3

  /** HARD-NEGATIVE MINING for contrastive embedding training — the
    * triples (anchor, positive, negative) a dual-encoder trains on,
    * mined the standard way (DPR/ANCE-style, BM25 flavor): for each
    * probe document, POSITIVES are its top-[[HnPosK]] cosine neighbors
    * ([[VectorOps.knnBruteForce]]), and HARD negatives are documents
    * that score high on the probe's own keywords lexically
    * (per-query integer BM25 over the probe's top-[[HnQueryTerms]]
    * tfidf terms) yet do NOT appear in its dense top-[[HnLexK]] —
    * lexically confusable, semantically far: exactly the negatives
    * that teach an embedding model something.
    *
    * Scale shape: per-query BM25 here is the lmScore join shape — the
    * (probe × term) relation is tiny and broadcasts onto the corpus
    * (doc, tok, tf) aggregate, df/dl/stats join in as aggregates, and
    * the per-(query, doc) sum partial-aggregates map-side. The lexical
    * top-k uses the low-cardinality two-phase local cap (no per-query
    * window over corpus rows); everything after the two top-k arms —
    * anti-join, negative re-rank, triple assembly — runs over
    * ≤ [[HnQueries]]·[[HnLexK]] constant rows. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val qt = TextOps.tfidfKeywords(spark, dir)
      .where(col("doc_id") < HnQueries && col("rank") <= HnQueryTerms)
      .select(col("doc_id").as("query_id"), col("tok"))
    val tk = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.toks(col("text")).as("tk"))
      .withColumn("dl", size(col("tk")).cast("long"))
    val tf = tk.select(col("doc_id"), col("dl"), explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = tk.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).as("s_tok"))
    val contrib = tf.join(broadcast(qt), Seq("tok"))
      .join(df, Seq("tok"))
      .crossJoin(broadcast(stats))
      .where(col("doc_id") >= HnQueries)
      .withColumn("avgdl", expr("s_tok div n_docs"))
      .withColumn("idf8", TextOps.log2x8(expr(
        s"(2 * n_docs + 2) * ${TextOps.Bm25FpScale} div (2 * df + 1)"))
        - lit(TextOps.Bm25FpLog))
      .withColumn("w", expr(
        "(idf8 * 22 * avgdl * tf) div (10 * avgdl * tf + 3 * avgdl + 9 * dl)"))
    val lex = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("bm25_x8"))
    // low-cardinality query key -> two-phase local cap (house top-k rule)
    val wLocal = Window.partitionBy(col("query_id"), col("pid"))
      .orderBy(col("bm25_x8").desc, col("doc_id").asc)
    val lexTop = lex
      .withColumn("pid", spark_partition_id())
      .withColumn("rn", row_number().over(wLocal))
      .where(col("rn") <= HnLexK)
      .groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct(
        (-col("bm25_x8")).as("neg"), col("doc_id").as("id")))), 1, HnLexK)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("lex_rank"),
        col("col.id").as("doc_id"), (-col("col.neg")).as("bm25_x8"))
    val dense = VectorOps
      .knnBruteForce(spark, dir, k = HnLexK, nQueries = HnQueries)
      .select(col("query_id"), col("rank").as("dense_rank"),
        col("neighbor_id"))
    val pos = dense.where(col("dense_rank") <= HnPosK)
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
        col("dense_rank"))
    val negs = lexTop
      .join(dense.select(col("query_id"),
        col("neighbor_id").as("doc_id")), Seq("query_id", "doc_id"),
        "left_anti")
      .withColumn("neg_rank", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(col("lex_rank"))))
      .where(col("neg_rank") <= HnNegK)
      .select(col("query_id"), col("doc_id").as("neg_id"),
        col("neg_rank"), col("bm25_x8").as("neg_bm25_x8"))
    pos.join(negs, Seq("query_id"))
      .select(col("query_id"), col("pos_id"), col("dense_rank"),
        col("neg_id"), col("neg_rank"), col("neg_bm25_x8"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation" -> curationSummary _,
    "q_stratified_sample" -> stratifiedSampleSummary _,
    "q_fixed_k_sample" -> fixedKSampleQuery _,
    "q_mixture_plan" -> ((s: SparkSession, d: String) => mixturePlan(s, d)),
    "q_mixture_temp" -> ((s: SparkSession, d: String) => mixturePlanTemp(s, d)),
    "q_mixture_realized" -> ((s: SparkSession, d: String) =>
      mixtureRealized(s, d)),
    "q_anneal_schedule" -> ((s: SparkSession, d: String) =>
      annealSchedule(s, d)),
    "q_source_cap" -> sourceCapped _,
    "q_dsir_weights" -> dsirWeights _,
    "q_dsir_sample" -> dsirSample _,
    "q_quality_floor" -> qualityBudgetFloor _,
    "q_quality_floor_by_lang" -> qualityBudgetFloorByLang _,
    "q_corpus_report" -> corpusReport _,
    "q_chunks" -> chunkDocs _,
    "q_chunk_dedup" -> chunkDedup _,
    "q_cdc_chunks" -> cdcChunks _,
    "q_cdc_dedup" -> cdcDedup _,
    "q_cdc_shift" -> cdcShift _,
    "q_seq_pack" -> packSummary _,
    "q_source_profile" -> sourceProfile _,
    "q_url_dedup" -> urlDedup _,
    "q_curation_funnel" -> curationFunnel _,
    "q_rrf_fusion" -> rrfFusion _,
    "q_retrieval_eval" -> retrievalEval _,
    "q_hard_negatives" -> hardNegatives _,
    "q_k_anonymity" -> kAnonymity _,
    "q_k_generalize" -> kGeneralize _,
    "q_l_diversity" -> lDiversity _,
    "q_release_risk" -> releaseRisk _,
  )

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** CASE arm per stratum for the mixture plan, generated from the SAME
    * share table as the Spark plan so the literals can never drift. */
  private def mixCaseSql: String =
    "CASE lang " + MixShares10k.toSeq.sortBy(_._1).map { case (k, v) =>
      s"WHEN '$k' THEN $v"
    }.mkString(" ") + s" ELSE $MixDefaultShare10k END"

  /** CASE arm per stratum, generated from the SAME rate table as the
    * Spark plan so the literals can never drift. */
  private def sampleCaseSql: String =
    "CASE lang " + SampleRates.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN '$k' THEN '${rateHex(r)}'"
    }.mkString(" ") + s" ELSE '${rateHex(SampleDefaultRate)}' END"

  /** Shared chunking CTE chain (ends in `ch(doc_id, lang, chunk_id,
    * n_tok, chunk_fp)`) — one definition for q_chunks, q_chunk_dedup and
    * the funnel's chunk stages, so the chunk grid can never drift
    * between them. Chunk starts via range(0, n, stride) — excludes n,
    * matching Spark's sequence(0, n-1, stride); list slicing clamps to
    * length on both engines, so the tail chunk's n_tok is
    * min(64, n - start); the contained-tail filter mirrors chunkDocs
    * (start = 0 or new content). */
  /** DuckDB twin of [[chunkedToks]] (ends in `cht(doc_id, lang,
    * chunk_id, ctoks)`) — the pre-fingerprint chunk relation, shared
    * with the chunk-embedding SemDeDup oracle in
    * [[graft.operators.DedupOps]]. */
  private[operators] lazy val chunkToksCtes: String =
    s"""ct AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |cs AS (SELECT doc_id, lang, toks, len(toks) AS n
       |       FROM ct WHERE len(toks) > 0),
       |cc AS (SELECT doc_id, lang, toks, n,
       |       unnest(range(0, n, $ChunkStride)) AS start FROM cs),
       |cht AS (SELECT doc_id, lang,
       |  CAST(start // $ChunkStride AS INT) AS chunk_id,
       |  toks[CAST(start + 1 AS INT):CAST(start + $ChunkTokens AS INT)]
       |    AS ctoks
       |  FROM cc WHERE start = 0 OR start + $ChunkOverlap < n)""".stripMargin

  private lazy val chunksCtes: String =
    s"""$chunkToksCtes,
       |ch AS (SELECT doc_id, lang, chunk_id,
       |  CAST(len(ctoks) AS INT) AS n_tok,
       |  md5(array_to_string(ctoks, ' ')) AS chunk_fp
       |  FROM cht)""".stripMargin

  /** CDC chunk chain over `$src` with CTE-name prefix `$p` — the
    * DuckDB twin of [[cdcChunksOf]]: positioned tokens, boundary flag
    * from the same 8-hex md5 head, exclusive-prefix running boundary
    * count as chunk_id, per-chunk fp from the in-order token join.
    * Ends in `${p}ch(doc_id, lang, chunk_id, n_tok, chunk_fp)`. */
  private def cdcChainCte(src: String, p: String): String =
    s"""${p}tk AS (SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM $src),
       |${p}px AS (SELECT doc_id, lang, u.p AS pos, w[u.p] AS tok
       |  FROM ${p}tk, unnest(range(1, len(w) + 1)) AS u(p)),
       |${p}ci AS (SELECT doc_id, lang, pos, tok,
       |    coalesce(sum(CASE WHEN
       |        CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
       |          % $CdcDivisor = 0
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_id
       |  FROM ${p}px),
       |${p}ch AS (SELECT doc_id, lang, chunk_id,
       |    CAST(count(*) AS INT) AS n_tok,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
       |  FROM ${p}ci GROUP BY doc_id, lang, chunk_id)""".stripMargin

  /** Fixed-grid chunk fps over `$src` with prefix `$p` (the
    * [[chunkToksCtes]] arithmetic, source-parameterized). Ends in
    * `${p}fch(doc_id, chunk_fp)`. */
  private def fixedFpsCte(src: String, p: String): String =
    s"""${p}ft AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM $src),
       |${p}fs AS (SELECT doc_id, toks, len(toks) AS n
       |  FROM ${p}ft WHERE len(toks) > 0),
       |${p}fc AS (SELECT doc_id, toks, n,
       |    unnest(range(0, n, $ChunkStride)) AS start FROM ${p}fs),
       |${p}fch AS (SELECT doc_id, md5(array_to_string(
       |    toks[CAST(start + 1 AS INT):CAST(start + $ChunkTokens AS INT)],
       |    ' ')) AS chunk_fp
       |  FROM ${p}fc WHERE start = 0 OR start + $ChunkOverlap < n)""".stripMargin

  /** One arm of the q_cdc_shift oracle: distinct-fp survival of the
    * original's chunks in the shifted twin, totalled integer-exact. */
  private def shiftArmSql(scheme: String, oFp: String, sFp: String): String =
    s"""SELECT '$scheme' AS scheme,
       |  CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS tot_chunks,
       |  CAST(sum(CASE WHEN s.chunk_fp IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS tot_shared,
       |  CAST(sum(CASE WHEN s.chunk_fp IS NOT NULL THEN 1 ELSE 0 END)
       |    * 100 // count(*) AS INT) AS shared_pct
       |FROM (SELECT DISTINCT doc_id, chunk_fp FROM $oFp) o
       |LEFT JOIN (SELECT DISTINCT doc_id, chunk_fp FROM $sFp) s
       |  USING (doc_id, chunk_fp)""".stripMargin

  /** Per-chunk CROSS-DOC dup marker over `ch` (ends in
    * `chr(doc_id, lang, is_dup)`): a chunk is a dup iff a LOWER-id doc
    * owns its fingerprint — one definition for q_chunk_dedup and the
    * funnel's chunk-dup stage, mirroring [[chunkDedupOf]]. */
  private lazy val chunkDupCte: String =
    s"""chr AS (SELECT doc_id, lang,
       |  CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY chunk_fp)
       |    THEN 1 ELSE 0 END AS is_dup
       |  FROM ch)""".stripMargin

  /** Funnel stage derivation as a reusable CTE chain (ends in
    * `fstages(doc_id, lang, stage)`) — ONE definition shared by the
    * funnel aggregate, its prod twin, and the release-risk audit, so
    * the stage precedence can never drift between them. Callers prefix
    * `WITH RECURSIVE `. */
  private lazy val funnelStagesCtes: String =
    s"""${DedupOps.textGroupsCtes},
         |groups AS (
         |  SELECT id AS doc_id, min(comp) AS rep_id FROM walk GROUP BY id),
         |qual AS (${TextOps.quality10kSql}),
         |rankedg AS (
         |  SELECT g.doc_id,
         |    row_number() OVER (PARTITION BY g.rep_id
         |      ORDER BY q.q10k DESC, g.doc_id) AS rn
         |  FROM groups g JOIN qual q ON q.doc_id = g.doc_id),
         |dropped AS (SELECT doc_id FROM rankedg WHERE rn <> 1),
         |bench AS (SELECT doc_id AS bench_id, n_tok AS n_b, tok
         |          FROM ex WHERE doc_id < ${DedupOps.BenchmarkMaxId}),
         |contam AS (
         |  SELECT DISTINCT c.doc_id
         |  FROM (SELECT doc_id, tok FROM ex
         |        WHERE doc_id >= ${DedupOps.BenchmarkMaxId}) c
         |  JOIN bench b ON b.tok = c.tok
         |  GROUP BY c.doc_id, b.bench_id, b.n_b
         |  HAVING CAST(count(*) AS DOUBLE) / b.n_b
         |    >= ${DedupOps.ContaminationBar}),
         |toksrc AS (SELECT doc_id, lang, $toksSql AS toks,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
         |    CAST(length(regexp_extract_all(text,
         |      '\\b(the|a|of|and|in|to)\\b')) AS BIGINT) AS n_stop
         |  FROM documents),
         |shaperule AS (
         |  SELECT doc_id,
         |    NOT (len(toks) >= ${TextOps.GopherMinTok}
         |     AND len(toks) <= ${TextOps.GopherMaxTok}
         |     AND chars >= ${TextOps.GopherMinAvgLen} * len(toks)
         |     AND chars <= ${TextOps.GopherMaxAvgLen} * len(toks)
         |     AND len(toks) > 0
         |     AND n_stop >= ${TextOps.GopherMinStop}) AS rule_fail
         |  FROM toksrc),
         |freq AS (SELECT doc_id, tok2, count(*) AS c
         |  FROM (SELECT doc_id, unnest(toks) AS tok2 FROM toksrc)
         |  GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS top_cnt FROM freq GROUP BY 1),
         |rep AS (
         |  SELECT t.doc_id,
         |    (coalesce(tp.top_cnt, 0) * 10000
         |       // greatest(len(t.toks), 1) > ${TextOps.TopWordBar10k}
         |     OR (len(g2) - len(list_distinct(g2))) * 10000
         |       // greatest(len(g2), 1) > ${TextOps.Dup2gramBar10k})
         |      AS repetitive
         |  FROM (SELECT doc_id, toks,
         |      CASE WHEN len(toks) >= 2
         |        THEN list_transform(range(1, len(toks)),
         |               i -> toks[i] || ' ' || toks[i+1])
         |        ELSE CAST([] AS VARCHAR[]) END AS g2
         |    FROM toksrc) t
         |  LEFT JOIN top tp ON tp.doc_id = t.doc_id),
         |boilset AS (
         |  SELECT tok FROM ex GROUP BY tok
         |  HAVING count(*) > greatest(${TextOps.BoilerplateDocBar},
         |    (SELECT count(*) FROM documents) // ${TextOps.BoilerplateFracDiv})),
         |boil AS (
         |  SELECT e.doc_id,
         |    count(b.tok) * 10000 // greatest(any_value(e.n_tok), 1)
         |      > ${TextOps.BoilerplateHeavyBar10k} AS heavy
         |  FROM ex e LEFT JOIN boilset b ON b.tok = e.tok
         |  GROUP BY e.doc_id),
         |$chunksCtes, $chunkDupCte,
         |chdup AS (
         |  SELECT doc_id FROM chr GROUP BY doc_id
         |  HAVING 2 * sum(is_dup) >= count(*)),
         |bfp AS (SELECT DISTINCT chunk_fp FROM ch
         |        WHERE doc_id < ${DedupOps.BenchmarkMaxId}),
         |chcont AS (
         |  SELECT c.doc_id
         |  FROM (SELECT doc_id, chunk_fp FROM ch
         |        WHERE doc_id >= ${DedupOps.BenchmarkMaxId}) c
         |  LEFT JOIN bfp b ON b.chunk_fp = c.chunk_fp
         |  GROUP BY c.doc_id
         |  HAVING sum(CASE WHEN b.chunk_fp IS NOT NULL THEN 1 ELSE 0 END)
         |    * 10000 >= count(*) * $ChunkContainBar10k),
         |ngg AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) >= ${DedupOps.ContamNgram}
         |      THEN list_transform(
         |             range(1, len(toks) - ${DedupOps.ContamNgram - 2}),
         |             i -> array_to_string(
         |               toks[i:i + ${DedupOps.ContamNgram - 1}], ' '))
         |      ELSE [] END)) AS gram FROM toksrc),
         |ngb AS (SELECT DISTINCT gram FROM ngg
         |        WHERE doc_id < ${DedupOps.BenchmarkMaxId}),
         |ngc AS (SELECT DISTINCT g.doc_id FROM ngg g JOIN ngb USING (gram)
         |        WHERE g.doc_id >= ${DedupOps.BenchmarkMaxId}),
         |ucanon AS (SELECT doc_id,
         |    'http://example.com/' || toks[1] ||
         |    CASE WHEN doc_id % $UrlNoIdMod <> 0
         |      THEN '?id=' || doc_id ELSE '' END AS cu
         |  FROM toksrc),
         |udrop AS (SELECT u.doc_id FROM ucanon u
         |  JOIN (SELECT cu, min(doc_id) AS keep_id FROM ucanon GROUP BY cu)
         |    k ON k.cu = u.cu
         |  WHERE u.doc_id <> k.keep_id),
         |fstages AS (
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN ud.doc_id IS NOT NULL THEN '0_url_dup'
         |       WHEN dr.doc_id IS NOT NULL THEN '1_dup_dropped'
         |       WHEN ct.doc_id IS NOT NULL OR cc2.doc_id IS NOT NULL
         |         OR ng.doc_id IS NOT NULL
         |         THEN '2_contaminated'
         |       WHEN cd.doc_id IS NOT NULL THEN '3_chunk_dup'
         |       WHEN rep.repetitive THEN '4_repetitive'
         |       WHEN coalesce(bo.heavy, FALSE) THEN '5_boilerplate'
         |       WHEN sr.rule_fail THEN '6_rule_filtered'
         |       WHEN q.q10k < $FunnelMinQuality10k THEN '7_low_quality'
         |       ELSE '8_admitted' END AS stage
         |FROM documents d
         |LEFT JOIN udrop ud ON ud.doc_id = d.doc_id
         |LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
         |LEFT JOIN contam ct ON ct.doc_id = d.doc_id
         |LEFT JOIN chcont cc2 ON cc2.doc_id = d.doc_id
         |LEFT JOIN ngc ng ON ng.doc_id = d.doc_id
         |LEFT JOIN chdup cd ON cd.doc_id = d.doc_id
         |JOIN rep ON rep.doc_id = d.doc_id
         |LEFT JOIN boil bo ON bo.doc_id = d.doc_id
         |JOIN shaperule sr ON sr.doc_id = d.doc_id
         |JOIN qual q ON q.doc_id = d.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_k_anonymity" ->
      s"""SELECT lang, source, n_chars // ${KAnonWidths.head} AS len_b,
         |  count(*) AS n_docs, count(*) < $KAnonK AS at_risk
         |FROM documents GROUP BY 1, 2, 3""".stripMargin,
    "q_k_generalize" ->
      KAnonWidths.map { w =>
        s"""SELECT CAST($w AS BIGINT) AS width,
           |  CAST(count(*) AS BIGINT) AS n_classes,
           |  CAST(sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_at_risk_classes,
           |  CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT)
           |    AS n_docs_at_risk
           |FROM (SELECT count(*) AS n FROM documents
           |      GROUP BY lang, source, n_chars // $w)""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "q_l_diversity" ->
      s"""WITH sens AS (SELECT lang, source,
         |    n_chars // ${KAnonWidths.head} AS len_b,
         |    CASE
         |      WHEN length(regexp_extract_all(text, '${TextOps.PiiEmailRe}')) > 0
         |        THEN 'email'
         |      WHEN length(regexp_extract_all(text, '${TextOps.PiiPhoneRe}')) > 0
         |        THEN 'phone'
         |      WHEN length(regexp_extract_all(text, '${TextOps.PiiIpRe}')) > 0
         |        THEN 'ip'
         |      ELSE 'none' END AS sensitive
         |  FROM documents)
         |SELECT lang, source, len_b, count(*) AS n_docs,
         |  CAST(count(DISTINCT sensitive) AS BIGINT) AS l,
         |  count(DISTINCT sensitive) = 1 AS disclosure
         |FROM sens GROUP BY 1, 2, 3""".stripMargin,
    // canonical rebuilt from the PLANTED fields (first token + the
    // UrlNoIdMod residue), never by normalizing the messy string —
    // grades canonicalizeUrl end-to-end through every variant axis
    "q_url_dedup" ->
      s"""WITH tok AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    'http://example.com/' || list_extract(t, 1) ||
         |    CASE WHEN doc_id % $UrlNoIdMod <> 0
         |      THEN '?id=' || doc_id ELSE '' END AS canon_url
         |  FROM tok)
         |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc_id
         |FROM c GROUP BY canon_url""".stripMargin,
    // DPR-style triples: per-probe BM25 over its own top-tfidf terms
    // (lexical arm), dense top-k (q_knn_cosine's scoring), negatives =
    // lexical hits absent from the dense top-k, re-ranked by lex rank
    "q_hard_negatives" ->
      s"""WITH ex AS (
         |  SELECT doc_id, unnest(${TextOps.toksSql}) AS tok FROM documents),
         |tfq AS (SELECT doc_id, tok, count(*) AS tf FROM ex GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY 1),
         |qt AS (SELECT doc_id AS query_id, tok FROM (
         |    SELECT t.doc_id, t.tok,
         |      row_number() OVER (PARTITION BY t.doc_id
         |        ORDER BY (t.tf * ${TextOps.LmPpmUnit} // d.df) DESC,
         |          t.tok ASC) AS rank
         |    FROM tfq t JOIN dfq d USING (tok) WHERE t.doc_id < $HnQueries)
         |  WHERE rank <= $HnQueryTerms),
         |dls AS (SELECT doc_id,
         |    CAST(len(${TextOps.toksSql}) AS BIGINT) AS dl FROM documents),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS s_tok FROM dls),
         |con AS (SELECT q.query_id, t.doc_id,
         |    ((${TextOps.log2x8Sql(
                  s"(2 * n_docs + 2) * ${TextOps.Bm25FpScale} // (2 * d.df + 1)")}
         |       - ${TextOps.Bm25FpLog})
         |      * 22 * (s_tok // n_docs) * t.tf)
         |      // (10 * (s_tok // n_docs) * t.tf + 3 * (s_tok // n_docs)
         |         + 9 * l.dl) AS w
         |  FROM tfq t JOIN qt q USING (tok) JOIN dfq d USING (tok)
         |    JOIN dls l ON l.doc_id = t.doc_id CROSS JOIN st
         |  WHERE t.doc_id >= $HnQueries),
         |lex AS (SELECT query_id, doc_id, CAST(sum(w) AS BIGINT) AS bm25_x8
         |  FROM con GROUP BY 1, 2),
         |lext AS (SELECT query_id, doc_id, bm25_x8, CAST(rn AS INT) AS lex_rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY bm25_x8 DESC, doc_id ASC) AS rn FROM lex)
         |  WHERE rn <= $HnLexK),
         |emb AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
         |  FROM embeddings),
         |nv AS (SELECT * FROM (
         |    SELECT vec_id, qe, list_dot_product(qe, qe) AS nrm FROM emb)
         |  WHERE nrm > 0),
         |dense AS (SELECT query_id, neighbor_id,
         |    CAST(rank AS INT) AS dense_rank FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        round(CAST(list_dot_product(q.qe, e.qe) AS DOUBLE)
         |          / (sqrt(CAST(q.nrm AS DOUBLE))
         |             * sqrt(CAST(e.nrm AS DOUBLE))), 4) DESC,
         |        e.vec_id ASC) AS rank
         |    FROM nv q JOIN nv e
         |      ON q.vec_id < $HnQueries AND e.vec_id >= $HnQueries)
         |  WHERE rank <= $HnLexK),
         |pos AS (SELECT query_id, neighbor_id AS pos_id, dense_rank
         |  FROM dense WHERE dense_rank <= $HnPosK),
         |negs AS (SELECT query_id, doc_id AS neg_id,
         |    CAST(nr AS INT) AS neg_rank, bm25_x8 AS neg_bm25_x8
         |  FROM (SELECT l.*, row_number() OVER (PARTITION BY l.query_id
         |      ORDER BY l.lex_rank ASC) AS nr
         |    FROM lext l LEFT JOIN dense d
         |      ON d.query_id = l.query_id AND d.neighbor_id = l.doc_id
         |    WHERE d.neighbor_id IS NULL)
         |  WHERE nr <= $HnNegK)
         |SELECT p.query_id, p.pos_id, p.dense_rank,
         |  n.neg_id, n.neg_rank, n.neg_bm25_x8
         |FROM pos p JOIN negs n USING (query_id)""".stripMargin,
    // rank fusion of the integer-BM25 arm (CTEs shared with
    // q_bm25_topk) and the quantized-cosine arm (the q_knn_cosine
    // scoring, probe = vector 0); ranks fuse as 10^6 // (60 + r)
    "q_rrf_fusion" ->
      s"""WITH ${TextOps.bm25CtesSql(TextOps.Bm25Query)},
         |bmr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25_x8 DESC, doc_id ASC)
         |      AS INT) AS bm25_rank
         |  FROM (SELECT doc_id, bm25_x8 FROM bm25sc
         |        ORDER BY bm25_x8 DESC, doc_id ASC LIMIT $RrfDepth)),
         |emb AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
         |  FROM embeddings),
         |n AS (SELECT * FROM (
         |    SELECT vec_id, qe, list_dot_product(qe, qe) AS nrm FROM emb)
         |  WHERE nrm > 0),
         |p AS (SELECT qe AS p_qe, nrm AS p_nrm FROM n WHERE vec_id = 0),
         |sc AS (SELECT e.vec_id AS doc_id,
         |    CAST(-round(round(CAST(list_dot_product(p.p_qe, e.qe) AS DOUBLE)
         |      / (sqrt(CAST(p.p_nrm AS DOUBLE)) * sqrt(CAST(e.nrm AS DOUBLE))),
         |      4) * 10000) AS BIGINT) AS neg
         |  FROM n e, p WHERE e.vec_id > 0),
         |csr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY neg ASC, doc_id ASC)
         |      AS INT) AS cos_rank
         |  FROM (SELECT doc_id, neg FROM sc
         |        ORDER BY neg ASC, doc_id ASC LIMIT $RrfDepth))
         |SELECT doc_id, bm25_rank, cos_rank,
         |  CAST(coalesce($RrfScale // ($RrfK + bm25_rank), 0)
         |     + coalesce($RrfScale // ($RrfK + cos_rank), 0) AS BIGINT)
         |    AS rrf_ppm
         |FROM bmr FULL OUTER JOIN csr USING (doc_id)
         |ORDER BY rrf_ppm DESC, doc_id ASC LIMIT $RrfTopK""".stripMargin,
    // planted-qrels retrieval eval: the marker-salted corpus through
    // the SAME BM25 CTEs (one instantiation per query term), the
    // planted 5-dim dense scores, RRF over both rank sets, and exact
    // integer recall@10 / MRR per arm
    "q_retrieval_eval" -> {
      val bmCtes = (0 until EvalQueries).map { q =>
        TextOps.bm25CtesSqlOver("edocs", Seq(s"zq$q"), s"_q$q")
      }.mkString(",\n")
      val lexArms = (0 until EvalQueries).map { q =>
        s"""SELECT $q AS q, doc_id, bm25_x8 AS score
           |FROM bm25sc_q$q WHERE bm25_x8 > 0""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH edocs AS (SELECT doc_id, lang, text || CASE
         |    WHEN doc_id % $EvalRelMod < $EvalQueries
         |        AND doc_id % 3 <> 0
         |      THEN repeat(' zq' || CAST(doc_id % $EvalRelMod AS VARCHAR),
         |        CAST(1 + (doc_id // $EvalRelMod) % 5 AS INT))
         |    WHEN doc_id % $EvalRelMod BETWEEN 50 AND 54
         |        AND doc_id < 200
         |      THEN ' zq' || CAST(doc_id % $EvalRelMod - 50 AS VARCHAR)
         |    ELSE '' END AS text
         |  FROM documents),
         |$bmCtes,
         |lexsc AS ($lexArms),
         |densc AS (SELECT * FROM (
         |  SELECT qq.q, d.doc_id,
         |    CASE WHEN d.doc_id % $EvalRelMod = qq.q
         |           AND d.doc_id % 2 = 0
         |           THEN 900 + (d.doc_id // $EvalRelMod) % 50
         |         WHEN d.doc_id % $EvalRelMod = qq.q + 30
         |           AND d.doc_id < 200
         |           THEN 890 + (d.doc_id // $EvalRelMod) % 5
         |         ELSE 0 END AS score
         |  FROM documents d,
         |    (SELECT unnest(range($EvalQueries)) AS q) qq)
         |  WHERE score > 0),
         |lexr AS (SELECT * FROM (
         |    SELECT q, doc_id, row_number() OVER (PARTITION BY q
         |      ORDER BY score DESC, doc_id ASC) AS rank FROM lexsc)
         |  WHERE rank <= $RrfDepth),
         |denr AS (SELECT * FROM (
         |    SELECT q, doc_id, row_number() OVER (PARTITION BY q
         |      ORDER BY score DESC, doc_id ASC) AS rank FROM densc)
         |  WHERE rank <= $RrfDepth),
         |fus AS (SELECT q, doc_id,
         |    CAST(coalesce($RrfScale // ($RrfK + l.rank), 0)
         |       + coalesce($RrfScale // ($RrfK + r.rank), 0) AS BIGINT)
         |      AS ppm
         |  FROM lexr l FULL OUTER JOIN denr r USING (q, doc_id)),
         |fusr AS (SELECT q, doc_id, row_number() OVER (PARTITION BY q
         |    ORDER BY ppm DESC, doc_id ASC) AS rank FROM fus),
         |arms AS (SELECT 'bm25' AS arm, q, doc_id, rank FROM lexr
         |  UNION ALL SELECT 'dense', q, doc_id, rank FROM denr
         |  UNION ALL SELECT 'rrf', q, doc_id, rank FROM fusr),
         |perq AS (SELECT arm, q,
         |    CAST(sum(CASE WHEN doc_id % $EvalRelMod = q
         |      AND rank <= $EvalK THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |    min(CASE WHEN doc_id % $EvalRelMod = q THEN rank END)
         |      AS first_rank
         |  FROM arms GROUP BY 1, 2),
         |nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_rel
         |  FROM documents WHERE doc_id % $EvalRelMod < $EvalQueries)
         |SELECT arm, CAST(sum(hits) AS BIGINT) AS hits_at10, n_rel,
         |  CAST(sum(hits) * 100 // n_rel AS INT) AS recall_pct,
         |  CAST(sum(coalesce($MrrScale // first_rank, 0))
         |    // $EvalQueries AS BIGINT) AS mrr_ppm
         |FROM perq, nrel GROUP BY arm, n_rel""".stripMargin
    },
    // the funnel reuses DedupOps's group chain (ex carries the distinct
    // shingles), derives drops under the canonical keep rule, and folds
    // the per-row signals in one precedence CASE — same shape as the
    // Spark plan
    "q_curation_funnel" ->
      s"""WITH RECURSIVE $funnelStagesCtes
         |SELECT lang, stage, count(*) AS n_docs
         |FROM fstages GROUP BY 1, 2""".stripMargin,
    // the release audit recomputes the WHOLE stage derivation, then
    // censuses quasi-identifier classes among the admitted slice only
    "q_release_risk" ->
      s"""WITH RECURSIVE $funnelStagesCtes,
         |adm AS (SELECT f.doc_id, f.lang, d2.source,
         |    d2.n_chars // ${KAnonWidths.head} AS len_b
         |  FROM fstages f JOIN documents d2 ON d2.doc_id = f.doc_id
         |  WHERE f.stage = '8_admitted'),
         |acls AS (SELECT lang, source, len_b, count(*) AS n
         |         FROM adm GROUP BY 1, 2, 3)
         |SELECT lang, CAST(sum(n) AS BIGINT) AS n_admitted,
         |  CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT)
         |    AS n_at_risk,
         |  (CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT)
         |    * 1000000) // CAST(sum(n) AS BIGINT) AS risk_ppm
         |FROM acls GROUP BY 1""".stripMargin,
    "q_source_profile" ->
      s"""WITH q AS (${TextOps.qualityScoreSql}),
         |d AS (SELECT doc_id, source, ${TextOps.contentFpSql} AS fp,
         |    ${TextOps.tokEstSql} AS tok
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  count(DISTINCT fp) AS n_uniq_fp,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens_est,
         |  CAST(CAST(sum(CAST(quality AS DECIMAL(8,4))) * 10000 AS BIGINT)
         |    // count(*) AS DOUBLE) / 10000.0 AS avg_quality
         |FROM d JOIN q USING (doc_id)
         |GROUP BY source""".stripMargin,
    // sums are CAST to BIGINT: DuckDB widens integer sum to HUGEINT
    "q_seq_pack" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    ${TextOps.tokEstSql} AS tok,
         |    CAST(((doc_id % $PackShards) + $PackShards) % $PackShards AS INT)
         |      AS shard
         |  FROM documents),
         |c AS (SELECT *, sum(tok) OVER (PARTITION BY lang, shard
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |b AS (SELECT lang, shard, (cum - tok) // $PackBudget AS seq_id,
         |    count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tok
         |  FROM c GROUP BY 1, 2, 3)
         |SELECT lang, count(*) AS n_seqs,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  max(n_tok) AS max_seq_tokens,
         |  CAST(sum(CASE WHEN n_tok > $PackBudget THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_overflow
         |FROM b GROUP BY lang""".stripMargin,
    "q_chunks" ->
      s"""WITH $chunksCtes
         |SELECT doc_id, lang, chunk_id, n_tok, chunk_fp FROM ch""".stripMargin,
    // CDC chain recomputed per chunk and per doc; the chunks_fp md5
    // grades boundary placement + reassembly order byte-for-byte
    "q_cdc_chunks" ->
      s"""WITH ${cdcChainCte("documents", "q")}
         |SELECT doc_id, CAST(count(*) AS INT) AS n_chunks,
         |  CAST(sum(n_tok) AS BIGINT) AS n_toks,
         |  md5(string_agg(chunk_fp, '' ORDER BY chunk_id)) AS chunks_fp
         |FROM qch GROUP BY doc_id""".stripMargin,
    // same owner-resolution shape as q_chunk_dedup, over CDC chunks
    "q_cdc_dedup" ->
      s"""WITH ${cdcChainCte("documents", "q")},
         |qdr AS (SELECT doc_id, lang,
         |    CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY chunk_fp)
         |      THEN 1 ELSE 0 END AS is_dup
         |  FROM qch)
         |SELECT doc_id, lang, count(*) AS n_chunks,
         |  CAST(sum(is_dup) AS BIGINT) AS n_dup_chunks,
         |  2 * sum(is_dup) >= count(*) AS chunk_dup
         |FROM qdr GROUP BY doc_id, lang""".stripMargin,
    // both schemes' survival of a planted 3-token head insertion,
    // distinct-fp intersection per doc, totals integer-exact
    "q_cdc_shift" ->
      s"""WITH d0 AS (SELECT doc_id, lang, text FROM documents
         |  WHERE doc_id % $CdcShiftMod = 0),
         |d1 AS (SELECT doc_id, lang, '$CdcShiftPrefix ' || text AS text
         |  FROM d0),
         |${cdcChainCte("d0", "a")},
         |${cdcChainCte("d1", "b")},
         |${fixedFpsCte("d0", "a")},
         |${fixedFpsCte("d1", "b")}
         |${shiftArmSql("cdc", "ach", "bch")}
         |UNION ALL
         |${shiftArmSql("fixed", "afch", "bfch")}""".stripMargin,
    // the chunk_dup flag is integer-exact (2·dup ≥ n); dup semantics
    // are cross-doc only (chunkDupCte)
    "q_chunk_dedup" ->
      s"""WITH $chunksCtes, $chunkDupCte
         |SELECT doc_id, lang, count(*) AS n_chunks,
         |  CAST(sum(is_dup) AS BIGINT) AS n_dup_chunks,
         |  2 * sum(is_dup) >= count(*) AS chunk_dup
         |FROM chr GROUP BY doc_id, lang""".stripMargin,
    // all operands non-negative, so DuckDB's floor-div // and Spark's
    // trunc-div agree; sums cast to BIGINT (DuckDB widens to HUGEINT)
    "q_mixture_plan" ->
      s"""WITH a AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(${TextOps.tokEstSql}) AS BIGINT) AS tokens_avail
         |  FROM documents GROUP BY lang),
         |b AS (
         |  SELECT lang, n_docs, tokens_avail,
         |    CAST($mixCaseSql AS BIGINT) AS share_10k
         |  FROM a),
         |c AS (
         |  SELECT lang, n_docs, tokens_avail, share_10k,
         |    share_10k * $MixTargetTokens // 10000 AS tokens_needed
         |  FROM b)
         |SELECT lang, n_docs, tokens_avail, share_10k, tokens_needed,
         |  least(CAST(10000 AS BIGINT),
         |        tokens_needed * 10000 // tokens_avail) AS sample_rate_10k,
         |  tokens_needed * 100 // tokens_avail AS epochs_100
         |FROM c""".stripMargin,
    // the q_mixture_plan chain reduced to epochs_100 + the 1e-4-unit
    // fractional remainder, then the per-doc emit rule: whole epochs +
    // one coin at frac_10k (cross-multiplied integer compare — the
    // dsir-sample contract; 1e-4 granularity so sub-1% strata emit)
    "q_mixture_realized" ->
      s"""WITH a AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(${TextOps.tokEstSql}) AS BIGINT) AS tokens_avail
         |  FROM documents GROUP BY lang),
         |n AS (
         |  SELECT lang, tokens_avail,
         |    (CAST($mixCaseSql AS BIGINT) * $MixTargetTokens // 10000)
         |      AS tokens_needed
         |  FROM a),
         |p AS (
         |  SELECT lang,
         |    tokens_needed * 100 // tokens_avail AS epochs_100,
         |    tokens_needed * 10000 // tokens_avail
         |      - (tokens_needed * 100 // tokens_avail // 100) * 10000
         |      AS frac_10k
         |  FROM n),
         |d AS (
         |  SELECT doc_id, lang, CAST(${TextOps.tokEstSql} AS BIGINT) AS tok
         |  FROM documents),
         |e AS (
         |  SELECT d.lang, d.tok,
         |    p.epochs_100 // 100 +
         |      (CASE WHEN CAST('0x' ||
         |            substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
         |          AS BIGINT) * 10000 < 16777216 * p.frac_10k
         |        THEN 1 ELSE 0 END) AS emit
         |  FROM d JOIN p ON p.lang = d.lang)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(emit) AS BIGINT) AS n_copies,
         |  CAST(sum(tok) AS BIGINT) AS tok_avail,
         |  CAST(sum(emit * tok) AS BIGINT) AS tok_emitted
         |FROM e GROUP BY lang""".stripMargin,
    // floor(sqrt(DOUBLE)) is exact cross-engine (IEEE correctly-rounded
    // sqrt, operand ≪ 2^52); everything after is the same integer
    // arithmetic as q_mixture_plan
    // the three phase weightings recomputed from the same one-pass
    // aggregate: natural (tokens), sqrt-temperature, quality-sum;
    // phases unnest from the SAME (phase, name, budget) literal table
    "q_anneal_schedule" -> {
      val phaseRows = AnnealPhases.map { case (p, n, b) =>
        s"($p, '$n', $b)"
      }.mkString(", ")
      s"""WITH anq AS (${TextOps.quality10kSql}),
         |ana AS (
         |  SELECT d.lang, count(*) AS n_docs,
         |    CAST(sum(${TextOps.tokEstSql}) AS BIGINT) AS tokens_avail,
         |    CAST(sum(q.q10k) AS BIGINT) AS q_sum
         |  FROM documents d JOIN anq q ON q.doc_id = d.doc_id
         |  GROUP BY d.lang),
         |anb AS (
         |  SELECT lang, n_docs, tokens_avail, q_sum,
         |    CAST(floor(sqrt(CAST(tokens_avail AS DOUBLE))) AS BIGINT)
         |      AS w_sqrt
         |  FROM ana),
         |anp (phase, phase_name, budget_10k) AS (VALUES $phaseRows),
         |anw AS (
         |  SELECT p.phase, p.phase_name, p.budget_10k, b.lang,
         |    b.tokens_avail,
         |    CASE WHEN p.phase = 0 THEN b.tokens_avail
         |         WHEN p.phase = 1 THEN b.w_sqrt
         |         ELSE b.q_sum END AS w
         |  FROM anb b CROSS JOIN anp p),
         |ans AS (
         |  SELECT phase, phase_name, lang, tokens_avail,
         |    w * 10000 // CAST(sum(w) OVER (PARTITION BY phase)
         |      AS BIGINT) AS share_10k,
         |    budget_10k * $MixTargetTokens // 10000 AS phase_tokens
         |  FROM anw)
         |SELECT phase, phase_name, lang, tokens_avail, share_10k,
         |  share_10k * phase_tokens // 10000 AS tokens_planned,
         |  share_10k * phase_tokens // 10000 * 100 // tokens_avail
         |    AS epochs_100
         |FROM ans""".stripMargin
    },
    "q_mixture_temp" ->
      s"""WITH a AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(${TextOps.tokEstSql}) AS BIGINT) AS tokens_avail
         |  FROM documents GROUP BY lang),
         |b AS (
         |  SELECT lang, n_docs, tokens_avail,
         |    CAST(floor(sqrt(CAST(tokens_avail AS DOUBLE))) AS BIGINT)
         |      AS w_sqrt
         |  FROM a),
         |c AS (
         |  SELECT lang, n_docs, tokens_avail, w_sqrt,
         |    w_sqrt * 10000 // CAST(sum(w_sqrt) OVER () AS BIGINT)
         |      AS share_10k
         |  FROM b),
         |d AS (
         |  SELECT *, share_10k * $MixTargetTokens // 10000 AS tokens_needed
         |  FROM c)
         |SELECT lang, n_docs, tokens_avail, w_sqrt, share_10k, tokens_needed,
         |  least(CAST(10000 AS BIGINT),
         |        tokens_needed * 10000 // tokens_avail) AS sample_rate_10k,
         |  tokens_needed * 100 // tokens_avail AS epochs_100
         |FROM d""".stripMargin,
    // the md5 order is a total order up to doc_id ties on the digest
    // (impossible for distinct ids, but the tiebreak keeps the ORDER BY
    // total anyway); kept rows only — the LIMIT-free rank filter
    "q_source_cap" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $SourceCapN""".stripMargin,
    // counts widen to HUGEINT in DuckDB — cast before the // div; the
    // ratio product is the same left-to-right integer expression as the
    // Spark plan
    "q_dsir_weights" ->
      s"""WITH ex AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents),
         |b AS (SELECT doc_id, lang,
         |    substr(md5(tok), 1, $DsirBucketHex) AS bucket FROM ex),
         |raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r_cnt
         |        FROM b GROUP BY bucket),
         |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t_cnt
         |        FROM b WHERE lang = '$DsirTargetLang' GROUP BY bucket),
         |tot AS (SELECT
         |    CAST((SELECT count(*) FROM b) AS BIGINT) AS r_total,
         |    CAST((SELECT count(*) FROM b WHERE lang = '$DsirTargetLang')
         |      AS BIGINT) AS t_total),
         |ratio AS (
         |  SELECT r.bucket,
         |    ((coalesce(t.t_cnt, 0) + 1) * ${TextOps.LmPpmUnit}
         |      // (r.r_cnt + 1)) * r_total
         |      // greatest(t_total, 1) AS ratio_ppm
         |  FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket, tot)
         |SELECT doc_id, lang, count(*) AS n_tok,
         |  CAST(sum(ratio_ppm) AS BIGINT) // count(*) AS weight_ppm
         |FROM b JOIN ratio USING (bucket)
         |GROUP BY doc_id, lang""".stripMargin,
    // the dsir-weights chain + one 1-row total + the cross-multiplied
    // HUGEINT coin compare (Spark side computes in DECIMAL(38,0) —
    // both exact integers, so the accept set is bit-identical)
    "q_dsir_sample" ->
      s"""WITH ex AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents),
         |b AS (SELECT doc_id, lang,
         |    substr(md5(tok), 1, $DsirBucketHex) AS bucket FROM ex),
         |raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r_cnt
         |        FROM b GROUP BY bucket),
         |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t_cnt
         |        FROM b WHERE lang = '$DsirTargetLang' GROUP BY bucket),
         |tot AS (SELECT
         |    CAST((SELECT count(*) FROM b) AS BIGINT) AS r_total,
         |    CAST((SELECT count(*) FROM b WHERE lang = '$DsirTargetLang')
         |      AS BIGINT) AS t_total),
         |ratio AS (
         |  SELECT r.bucket,
         |    ((coalesce(t.t_cnt, 0) + 1) * ${TextOps.LmPpmUnit}
         |      // (r.r_cnt + 1)) * r_total
         |      // greatest(t_total, 1) AS ratio_ppm
         |  FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket, tot),
         |w AS (
         |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(ratio_ppm) AS BIGINT) // count(*) AS weight_ppm
         |  FROM b JOIN ratio USING (bucket)
         |  GROUP BY doc_id, lang),
         |wt AS (SELECT CAST(sum(weight_ppm) AS BIGINT) AS w_sum,
         |    CAST(count(*) AS BIGINT) AS n_corpus FROM w),
         |k AS (
         |  SELECT w.*,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
         |        AS BIGINT) AS HUGEINT) * w_sum * 10000
         |      < CAST(16777216 AS HUGEINT) * $DsirShare10k
         |        * weight_ppm * n_corpus AS keep
         |  FROM w, wt)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sampled,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tok_sampled
         |FROM k GROUP BY lang""".stripMargin,
    // assembled from the SHARED snippets (rule table, quality, token
    // estimate, content fp) so the card equals its source operators
    "q_corpus_report" ->
      s"""WITH g AS (${TextOps.gopherRulesSql}),
         |q AS (${TextOps.quality10kSql}),
         |d AS (SELECT doc_id, lang, ${TextOps.tokEstSql} AS tok,
         |    ${TextOps.contentFpSql} AS fp FROM documents)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(d.tok) AS BIGINT) AS n_tokens_est,
         |  count(DISTINCT d.fp) AS n_uniq_fp,
         |  CAST(sum(CASE WHEN g.pass THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_rule_pass,
         |  CAST(sum(q.q10k) AS BIGINT) // count(*) AS avg_q10k
         |FROM d JOIN q ON q.doc_id = d.doc_id JOIN g ON g.doc_id = d.doc_id
         |GROUP BY d.lang""".stripMargin,
    // the per-stratum variant: identical walk, windows partitioned by
    // lang; the quality CTE gains the lang column via a documents join
    "q_quality_floor_by_lang" ->
      s"""WITH q AS (${TextOps.quality10kSql}),
         |hist AS (
         |  SELECT d.lang, q.q10k, count(*) AS n
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id
         |  GROUP BY d.lang, q.q10k),
         |c AS (
         |  SELECT lang, q10k, n,
         |    CAST(sum(n) OVER (PARTITION BY lang ORDER BY q10k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total
         |  FROM hist),
         |k AS (SELECT *, total * $QualityKeep10k // 10000 AS k_target
         |      FROM c)
         |SELECT lang, any_value(total) AS n_docs,
         |  any_value(k_target) AS k_target,
         |  max(q10k) AS floor_q10k, min(cum) AS n_admitted
         |FROM k WHERE cum >= k_target
         |GROUP BY lang""".stripMargin,
    // same histogram-walk as q_length_quantiles: windows run over the
    // (q10k, n) histogram, never the corpus; counts cast before //
    "q_quality_floor" ->
      s"""WITH hist AS (
         |  SELECT q10k, count(*) AS n
         |  FROM (${TextOps.quality10kSql}) GROUP BY q10k),
         |c AS (
         |  SELECT q10k, n,
         |    CAST(sum(n) OVER (ORDER BY q10k DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(sum(n) OVER () AS BIGINT) AS total
         |  FROM hist),
         |k AS (SELECT *, total * $QualityKeep10k // 10000 AS k_target
         |      FROM c)
         |SELECT any_value(total) AS n_docs, any_value(k_target) AS k_target,
         |  max(q10k) AS floor_q10k, min(cum) AS n_admitted
         |FROM k WHERE cum >= k_target
         |HAVING count(*) > 0""".stripMargin,
    // the two-phase salted plan is result-identical to one window per
    // stratum (exact-superset argument), so the oracle IS the plain
    // window — the green row grades the skew-safe plan
    "q_fixed_k_sample" ->
      s"""WITH r AS (SELECT doc_id, lang,
         |    md5(CAST(doc_id AS VARCHAR)) AS rk FROM documents),
         |f AS (SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id)
         |      AS rn
         |  FROM r)
         |SELECT doc_id, lang, CAST(rn AS INT) AS rn
         |FROM f WHERE rn <= $FixedKTarget""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_kept,
         |  min(doc_id) AS min_kept_id, max(doc_id) AS max_kept_id
         |FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < $sampleCaseSql
         |GROUP BY lang""".stripMargin,
    "q_curation" ->
      s"""WITH f AS (SELECT doc_id, lang,
         |  length($toksSql) AS n_tok,
         |  length(list_distinct($toksSql)) AS n_uniq,
         |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |  length(regexp_extract_all(text, '\\b(the|a|of|and|in|to)\\b')) AS n_stop
         |FROM documents),
         |q AS (SELECT doc_id, lang,
         |    CAST(q10k AS DOUBLE) / 10000.0 AS quality,
         |    CASE WHEN q10k >= 7000 THEN 'high'
         |         WHEN q10k >= 5000 THEN 'mid' ELSE 'low' END AS bucket
         |  FROM (SELECT doc_id, lang,
         |      (10 * (3 * least(n_tok, 100) * greatest(n_tok, 1)
         |             + 400 * n_uniq
         |             + 200 * (greatest(n_tok, 1) - least(n_punct, greatest(n_tok, 1)))
         |             + 100 * least(2 * n_stop, greatest(n_tok, 1))))
         |        // greatest(n_tok, 1) AS q10k
         |    FROM f)),
         |e AS (SELECT vec_id AS doc_id,
         |  list_dot_product(
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS nrm
         |FROM embeddings)
         |SELECT bucket,
         |  count(*) AS n_docs,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(nrm) AS BIGINT) AS sum_nrm_milli,
         |  CAST(CAST(sum(CAST(quality AS DECIMAL(8,4))) * 10000 AS BIGINT)
         |    // count(*) AS DOUBLE) / 10000.0 AS avg_quality
         |FROM q JOIN e USING (doc_id)
         |WHERE quality >= 0.45
         |GROUP BY 1""".stripMargin,
  )

  // --- materialize-once PRODUCTION twins (VERDICT r11 item 2) ---------

  /** [[curationRun]]'s tables for `dir`: the run is written once per
    * corpus state per JVM ([[graft.functions.MaterializeCache.tables]]),
    * and each table is read back under the schema it was written with
    * when looked up. */
  def materialized(spark: SparkSession, dir: String)
      : scala.collection.MapView[String, DataFrame] =
    graft.functions.MaterializeCache.tables("curation_run", dir)(
      curationRun(spark, dir, _))

  /** The reports a production run derives from `run`'s stored tables
    * ([[curationRun]]'s map, or [[materialized]]), by name: the stored
    * canonical picks and dup rates as they are, the other group-table
    * reports through their `*From` entries, and the funnel
    * and the release audit over the stored per-doc stages, so they grade
    * the verdicts the run shipped, never a recompute that could drift
    * from them. The `q_prod_*` twins and Bench's prod group both run
    * this one list. */
  def derivations(spark: SparkSession, dir: String,
      run: String => DataFrame): ListMap[String, () => DataFrame] = {
    def groups = run("groups")
    def docs = Tables.documents(spark, dir)
    def prov = docs.select(col("doc_id"), col("source"))
    ListMap(
      "canonical_docs" -> (() => run("canonical")),
      "dup_rate_by_source" -> (() => run("dup_rates")),
      "dup_token_share" ->
        (() => DedupOps.dupTokenShareFromGroups(spark, dir, groups)),
      "source_overlap" -> (() => DedupOps.sourceOverlapFrom(groups, prov)),
      "group_purity" -> (() => DedupOps.groupPurityFrom(groups, docs)),
      "leakfree_split" -> (() => DedupOps.leakFreeSplitFrom(
        docs.select(col("doc_id"), col("lang")), groups)),
      "curation_funnel" -> (() => funnelOf(run("stages"))),
      "release_risk" -> (() => releaseRiskFrom(spark, dir, run("stages"))))
  }

  /** The `q_prod_<name>` twin: derivation `name` over [[materialized]].
    * Result-identical to its self-contained sibling, so it reuses that
    * query's oracle — the green row grades the tables [[curationRun]]
    * wrote. */
  private[operators] def prod(name: String)(spark: SparkSession,
      dir: String): DataFrame =
    derivations(spark, dir, materialized(spark, dir))(name)()

  val prodQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_prod_curation_funnel" -> prod("curation_funnel") _,
      "q_prod_release_risk" -> prod("release_risk") _)

  val prodOracles: Map[String, String] =
    Map("q_prod_curation_funnel" -> oracles("q_curation_funnel"),
      "q_prod_release_risk" -> oracles("q_release_risk"))
}
