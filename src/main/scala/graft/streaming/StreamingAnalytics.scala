package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Streaming analytics over the events stream (SURVEY.md §2.8): the
  * reference's only "window" is the calendar nite (a derived grouping
  * column, see Derived.niteOf); these are the Spark-native generalizations
  * a continuously-running deployment needs — watermarked tumbling/sliding
  * windows and gap-based sessionization with explicit state.
  *
  * All transforms are source-agnostic (take a DataFrame/Dataset): the same
  * code runs on `spark.read` (batch backfill) and `spark.readStream`
  * (incremental) inputs — the streaming/batch unification is the point.
  */
object StreamingAnalytics {

  /** Watermarked tumbling-window rollup: event counts + value sums per
    * (window, event_type). Late data beyond the watermark is dropped;
    * state is bounded by watermark horizon — safe for unbounded streams. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,4)"))
          // string-route: exact decimal -> correctly-rounded double
          .cast("string").cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Materialize the gate's corpus index as PARQUET TABLES — the
    * 100 TB posture an in-memory pinned index cannot offer: the
    * signature pass (shingles + 3 md5 families, the dominant cost) is
    * paid once at WRITE time, and every micro-batch's stream-static
    * join scans a columnar table instead of holding the corpus in
    * executor storage. Two tables under `dir`: `band_keys`
    * (doc_id, band, band_key — the candidate-join side, a few short
    * strings per doc) and `shingles` (dup_of, ts_c — the verify side).
    *
    * Refresh follows the registry's compaction pattern
    * (IngestPipeline's cadence knobs): `batchId = None` REWRITES the
    * whole index (the periodic rebuild); `batchId = Some(id)` APPENDS a
    * `batch=<id>` partition — the steady-state path that folds each
    * micro-batch's ADMITTED docs in as they land, so duplicates of
    * earlier admissions are visible to the gate without waiting for a
    * rebuild (between rebuilds, the batch chain remains the safety
    * net for anything the appends miss). Append only admitted rows:
    * re-appending a replayed doc_id would index the same identity
    * twice. Both layouts are batch-partitioned (the rebuild writes
    * batch=0), so appends and rebuilds never produce a mixed
    * directory structure. */
  def writeCorpusIndex(corpus: DataFrame, dir: String,
      batchId: Option[Long] = None): Unit = {
    val id = batchId.getOrElse(0L)
    val mode = if (batchId.isEmpty) "overwrite" else "append"
    graft.operators.DedupOps.bandKeysPerRow(corpus)
      .withColumn("batch", lit(id))
      .write.mode(mode).partitionBy("batch").parquet(s"$dir/band_keys")
    corpus.select(col("doc_id").as("dup_of"),
        graft.operators.TextOps.shingles3(col("text")).as("ts_c"))
      .withColumn("batch", lit(id))
      .write.mode(mode).partitionBy("batch").parquet(s"$dir/shingles")
  }

  /** Compaction for the appendable corpus index — every
    * `batchId`-append adds a `batch=<id>` partition with its own small
    * files, so file counts grow with BATCH COUNT, not corpus size (the
    * registry's exact failure mode). Runs the crash-safe
    * [[graft.functions.ScaleUtils.compactParquet]] rename-swap over
    * both index tables; call it on the same cadence the ingest stream
    * compacts the registry (IngestPipeline's compactEveryBatches
    * pattern). Returns ((bandKeysBefore, bandKeysAfter),
    * (shinglesBefore, shinglesAfter)) file counts. */
  def compactCorpusIndex(spark: SparkSession, dir: String)
      : ((Int, Int), (Int, Int)) = (
    graft.functions.ScaleUtils.compactParquet(spark, s"$dir/band_keys"),
    graft.functions.ScaleUtils.compactParquet(spark, s"$dir/shingles"))

  /** Index-table schemas, declared so reads never INFER: inference costs
    * a footer scan per micro-batch, and — the sharper edge — a first
    * append with ZERO admitted rows creates a directory with no data
    * files, which schema inference rejects outright (a fresh pipeline
    * whose first batch admits nothing would wedge the stream). */
  private val BandKeysSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("band_key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType)))
  private val ShinglesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("dup_of",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts_c",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType)))

  private val GroupEdgesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id_a",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("id_b",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType)))
  private val GroupsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("rep_id",
      org.apache.spark.sql.types.LongType)))

  private def parquetOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private val IngestMetricsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("verdict",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("avg_quality",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType)))

  /** Append one micro-batch's admission metrics — docs and mean quality
    * per verdict class — as a `batch=<id>` partition of
    * `dir/ingest_metrics`: the observability surface a production gate
    * is judged by (admission rate over time, dup pressure per batch,
    * quality drift), one tiny aggregate over the already-checkpointed
    * verdict frame. Compacted on the loop's cadence like every other
    * per-batch append. */
  def appendIngestMetrics(verdicts: DataFrame, dir: String,
      batchId: Long): Unit =
    verdicts.groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .withColumn("batch", lit(batchId))
      .write.mode("append").partitionBy("batch")
      .parquet(s"$dir/ingest_metrics")

  /** Read-back of [[appendIngestMetrics]] (empty-safe, declared schema). */
  def loadIngestMetrics(spark: SparkSession, dir: String): DataFrame =
    parquetOrEmpty(spark, s"$dir/ingest_metrics", IngestMetricsSchema)

  private val TokenSketchSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sk",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)),
    org.apache.spark.sql.types.StructField("n_tok",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("last_batch",
      org.apache.spark.sql.types.LongType)))

  /** Fold one micro-batch's tokens into the MAINTAINED count-min sketch
    * at `dir/token_sketch` — the mergeable-summaries property
    * ([[graft.plans.CountMinSketch]]) in its production form: the batch
    * pays one partial-aggregated pass for its own d·w buffer, the
    * stored sketch updates by ELEMENT-WISE ADD (`zip_with(_ + _)`), and
    * because CM merge is exactly addition, the maintained sketch equals
    * the one-shot sketch over everything ever admitted — not
    * approximately, identically (spec-pinned). The stream thereby keeps
    * a live point-frequency oracle ("how often has THIS token/domain
    * appeared across the whole history") at 8 KB of state, a query no
    * maintained table answers without a vocabulary-sized scan.
    *
    * Idempotence: foreachBatch is at-least-once, and CM addition is NOT
    * idempotent — a replayed batch would silently double-count. The
    * stored row carries `last_batch`; a batch id ≤ it is a no-op
    * (single writer, monotone stream batch ids — the registry-dedup
    * contract). Crash-safety is [[foldGroupTable]]'s rename-swap: tmp
    * is materialized first (the merge reads the live row), `_old` is
    * restored if a prior swap died between its renames. */
  def updateTokenSketch(batch: DataFrame, dir: String,
      batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val live = new Path(s"$dir/token_sketch")
    val tmp = new Path(s"$dir/token_sketch_tmp")
    val old = new Path(s"$dir/token_sketch_old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"restore of orphaned $old failed")
    val stored = parquetOrEmpty(spark, live.toString, TokenSketchSchema)
    val storedRow = stored.collect().headOption
    if (storedRow.forall(r => r.getLong(2) < batchId)) {
      val cm = graft.plans.CountMinSketch.countMin(spark) _
      val d = graft.operators.TextOps.CmDepth
      val w = graft.operators.TextOps.CmWidth
      val batchSk = batch
        .select(explode(graft.operators.TextOps.toks(col("text")))
          .as("tok"))
        .agg(cm(col("tok"), d, w).as("sk"),
          count(lit(1)).as("n_tok"))
      val merged = storedRow match {
        case None => batchSk.withColumn("last_batch", lit(batchId))
        case Some(_) => batchSk.crossJoin(broadcast(
            stored.select(col("sk").as("sk0"), col("n_tok").as("n0"))))
          .select(
            zip_with(col("sk0"), col("sk"), _ + _).as("sk"),
            (col("n0") + col("n_tok")).as("n_tok"),
            lit(batchId).as("last_batch"))
      }
      merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      fs.delete(old, true)
      if (fs.exists(live))
        require(fs.rename(live, old), s"swap-out of $live failed")
      require(fs.rename(tmp, live), s"swap-in of $tmp failed")
      fs.delete(old, true)
    }
  }

  /** Read-back of the maintained sketch (empty-safe, declared schema). */
  def loadTokenSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val live = new Path(s"$dir/token_sketch")
    val old = new Path(s"$dir/token_sketch_old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path = if (!fs.exists(live) && fs.exists(old)) old else live
    parquetOrEmpty(spark, path.toString, TokenSketchSchema)
  }

  /** Point-frequency estimates from the maintained sketch for a probe
    * token list — the live query the sketch exists to answer; same
    * md5/conv bucket idiom as the batch form
    * ([[graft.operators.TextOps.countMinEst]]). */
  def tokenSketchEst(spark: SparkSession, dir: String,
      probes: Seq[String]): DataFrame = {
    import spark.implicits._
    val d = graft.operators.TextOps.CmDepth
    val w = graft.operators.TextOps.CmWidth
    val est = least((0 until d).map { i =>
      expr(s"""sk[CAST(conv(substring(md5(cast(tok AS binary)),
              |  ${1 + 8 * i}, 8), 16, 10) % $w AS INT)
              |  + ${i * w}]""".stripMargin)
    }: _*)
    probes.toDF("tok")
      .crossJoin(broadcast(loadTokenSketch(spark, dir)))
      .select(col("tok"), est.as("est"), col("n_tok"), col("last_batch"))
  }

  /** Append one micro-batch's dup edges (doc_id → its best corpus match)
    * as a `batch=<id>` partition of `dir/group_edges` — the delta the
    * maintained group table folds in on cadence. Batch-sized work only;
    * a zero-dup batch appends zero rows (the declared-schema reads
    * tolerate data-file-less partitions, same contract as the index). */
  def appendGroupEdges(edges: DataFrame, dir: String, batchId: Long): Unit =
    edges.select(col("id_a"), col("id_b"))
      .withColumn("batch", lit(batchId))
      .write.mode("append").partitionBy("batch")
      .parquet(s"$dir/group_edges")

  /** The CURRENT dup-group labeling under a curated-ingest dir: the
    * materialized `groups` table with any not-yet-folded `group_edges`
    * merged in ([[graft.operators.DedupOps.mergeGroups]] — delta-only),
    * so readers between folds still see every admitted batch's dups.
    * When the pending-edge set is empty this reduces to the table scan
    * (mergeGroups with an empty delta relabels nothing). Readers landing
    * in the window where a fold died between its renames (live path
    * missing, `_old` orphaned) fall back to the orphan — the labeling is
    * never visible as empty; the next fold restores it for real. */
  def loadGroupTable(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/groups")
    val old = new org.apache.hadoop.fs.Path(s"$dir/groups_folded_old")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val groupsPath =
      if (!fs.exists(root) && fs.exists(old)) old.toString else root.toString
    graft.operators.DedupOps.mergeGroups(
      parquetOrEmpty(spark, groupsPath, GroupsSchema),
      parquetOrEmpty(spark, s"$dir/group_edges", GroupEdgesSchema)
        .select(col("id_a"), col("id_b")))
  }

  /** Fold pending `group_edges` into the materialized `groups` table —
    * the cadence-driven rewrite of the maintained labeling: merge the
    * delta (union-find in rep space — untouched components do zero
    * work), materialize the result to a sibling tmp dir FIRST (the merge
    * reads the live table; an in-place overwrite would read what it is
    * deleting), rename-swap it live (the [[compactCorpusIndex]]
    * discipline: a refused rename fails LOUDLY with the live table
    * intact), then delete the consumed edges.
    *
    * Crash-safety is the index appends' at-least-once shape: a crash
    * after the swap but before the edge delete re-folds those edges next
    * cadence, and a fully-redundant delta is a no-op by construction
    * (edges whose endpoints already share a rep are dropped before the
    * component loop). A crash BETWEEN the two renames leaves `_old` as
    * the SOLE copy of the labeling (and its source edges are already
    * consumed — unlike the corpus index there is no backfill to rebuild
    * from), so the fold's first act is to restore that orphan to the
    * live path. Single-writer, like the ingest registry. */
  def foldGroupTable(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val edgesPath = new Path(s"$dir/group_edges")
    val fs = edgesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(s"$dir/groups")
    val tmp = new Path(s"$dir/groups_folding")
    val old = new Path(s"$dir/groups_folded_old")
    // recover a fold that died between its renames: live path missing,
    // `_old` holding the only labeling — restore BEFORE reading anything
    if (!fs.exists(root) && fs.exists(old) && !fs.rename(old, root))
      throw new java.io.IOException(
        s"foldGroupTable: recovery rename $old -> $root refused")
    // pending means DATA files, not a directory: a dup-free stream still
    // appends zero-row partitions (dirs + _SUCCESS), and a no-op fold
    // would pay a full table rewrite per cadence
    if (!fs.exists(edgesPath) || graft.functions.ScaleUtils
        .parquetDataFiles(fs, edgesPath).isEmpty) {
      if (fs.exists(edgesPath)) fs.delete(edgesPath, true) // empty husk
      return
    }
    val merged = loadGroupTable(spark, dir)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merged.write.parquet(tmp.toString) // materialized before any swap
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(root) && !fs.rename(root, old))
      throw new java.io.IOException(
        s"foldGroupTable: rename $root -> $old refused; live table untouched")
    if (!fs.rename(tmp, root)) {
      fs.rename(old, root) // restore before failing
      throw new java.io.IOException(
        s"foldGroupTable: rename $tmp -> $root refused; live table restored")
    }
    fs.delete(old, true)
    fs.delete(edgesPath, true) // consumed; a crash above re-folds (no-op)
    spark.catalog.refreshByPath(root.toString)
  }

  /** Read-back side of [[writeCorpusIndex]]: (corpusBandKeys,
    * corpusShingles) backed by parquet — drop-in for the gate's static
    * side (verdict parity with the in-memory index is spec-pinned).
    * Deliberately NOT persisted: the point of the table is that the
    * corpus never pins executor memory; the band-key join prunes to
    * the two short key columns at scan time. */
  def loadCorpusIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = (
    spark.read.schema(BandKeysSchema).parquet(s"$dir/band_keys")
      .select(col("doc_id"), col("band"), col("band_key")),
    spark.read.schema(ShinglesSchema).parquet(s"$dir/shingles")
      .select(col("dup_of"), col("ts_c")))

  /** [[loadCorpusIndex]] tolerant of a NEVER-SEEDED index dir — the
    * fresh-pipeline bootstrap [[runCuratedIngest]] needs: before any
    * [[writeCorpusIndex]] ran, the corpus is EMPTY, so the gate's static
    * side is two empty frames with the index schemas (zero candidates →
    * the first micro-batch judges intra-batch only) and the batch's own
    * `batch=<id>` append creates the tables. Existence is one driver-side
    * FS probe per micro-batch (same cost class as the footer reads). */
  def loadCorpusIndexOrEmpty(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/band_keys")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) loadCorpusIndex(spark, dir)
    else (
      spark.range(0).select(col("id").as("doc_id"),
        lit(0).as("band"), lit("").as("band_key")),
      spark.range(0).select(col("id").as("dup_of"),
        array().cast("array<string>").as("ts_c")))
  }

  /** Dedup-on-ingest gate — the streaming face of the corpus-dedup chain
    * (q_text_dedup_groups): each incoming document is minhash-banded
    * PER ROW ([[graft.operators.DedupOps.bandKeysPerRow]] — projection
    * only, no stateful aggregation), candidates come from the
    * stream-static band-key join PLUS the batch banded against ITSELF
    * (two copies of a novel text in one delivery must not both pass),
    * and only candidates get the exact set-Jaccard verify
    * (`array_intersect`/`array_union` over the already-distinct shingle
    * sets — same set semantics as the batch chain's shared-shingle
    * count). Returns the FLAGGED rows only: (doc_id, dup_of = best match
    * (ties → smallest id), jac); admission is the caller's anti-join
    * against its batch. Intra-batch pairs flag the LARGER id (first
    * occurrence wins, matching the registry's first-wins rule).
    *
    * Identity contract: a row whose doc_id ALREADY EXISTS in the corpus
    * is a REPLAY, not a duplicate admission — id-based replay belongs to
    * the layer built for it (the registry anti-join); this gate judges
    * content novelty across
    * DISTINCT identities, hence the self-id exclusion on the corpus join.
    *
    * Duplicates of docs ADMITTED IN EARLIER BATCHES are visible only
    * after the corpus index is refreshed — between refreshes the batch
    * chain (q_text_dedup_groups) is the safety net, the same
    * gate-plus-periodic-compaction split the ingest registry uses.
    *
    * Batch-callable by design (this is also the backfill path); the
    * streaming wrappers ([[runAdmission]], [[runCuratedIngest]]) run it
    * per micro-batch, whose foreachBatch scope bounds the
    * distinct/groupBy state to one micro-batch. */
  def gateAgainstCorpus(batch: DataFrame, corpusBandKeys: DataFrame,
      corpusShingles: DataFrame,
      bar: Double = graft.operators.DedupOps.TextDupJaccard): DataFrame = {
    val bk = graft.operators.DedupOps.bandKeysPerRow(batch)
    val corpusCand = bk.join(corpusBandKeys
        .select(col("doc_id").as("dup_of"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .where(col("doc_id") =!= col("dup_of"))
      .select(col("doc_id"), col("dup_of"))
    // batch vs itself: later id is the candidate dup of the earlier one
    val selfCand = bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band")
          && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("dup_of"))
    val cand = corpusCand.union(selfCand).distinct()
    val sets = batch.select(col("doc_id"),
      graft.operators.TextOps.shingles3(col("text")).as("ts_new"))
    // the reference side is the corpus index or, for intra-batch pairs,
    // the batch's own shingle sets
    val refSets = corpusShingles.union(
      sets.select(col("doc_id").as("dup_of"), col("ts_new").as("ts_c")))
    cand
      .join(sets, Seq("doc_id"))
      .join(refSets, Seq("dup_of"))
      .withColumn("jac",
        size(array_intersect(col("ts_new"), col("ts_c"))).cast("double")
          / size(array_union(col("ts_new"), col("ts_c"))))
      .where(col("jac") >= bar)
      .groupBy(col("doc_id"))
      .agg(max_by(col("dup_of"), struct(col("jac"), -col("dup_of")))
        .as("dup_of"),
        round(max(col("jac")), 4).as("jac"))
  }

  /** Quality floor for [[admitBatch]] — the shared
    * [[graft.operators.TextOps.QualityFloor10k]], so the streaming gate
    * and the batch funnel agree by construction. */
  val AdmitMinQuality10k: Long = graft.operators.TextOps.QualityFloor10k

  /** Composed ADMISSION POLICY — the full per-document verdict a
    * streaming curation ingest applies, in precedence order:
    * near-duplicate of the corpus/batch ([[gateAgainstCorpus]]) →
    * repetitive (Gopher bars, [[graft.operators.TextOps.repetitiveFlag]])
    * → below the quality floor → admit.
    *
    * Deliberately NOT here: the non-repetition Gopher shape rules
    * ([[graft.operators.TextOps.gopherShapeFail]], the funnel's
    * 6_rule_filtered stage). The gate is the lenient garbage SCREEN —
    * admitted docs still pass through batch curation, where the rule
    * stage (a mixture decision, revisable by re-running the funnel)
    * applies; folding it into admission would make a tunable curation
    * choice irreversible at ingest time.
    *
    * Scale shape: quality and repetition are single per-row expressions
    * evaluated in ONE projection over the batch (no joins, no state);
    * only the dup verdict needs the gate's candidate join. Returns every
    * batch row with (verdict, dup_of, jac, quality); the caller admits
    * `verdict = 'admit'` and routes the rest (quarantine table, metrics). */
  def admitBatch(batch: DataFrame, corpusBandKeys: DataFrame,
      corpusShingles: DataFrame,
      bar: Double = graft.operators.DedupOps.TextDupJaccard,
      minQuality10k: Long = AdmitMinQuality10k): DataFrame = {
    val flagged = gateAgainstCorpus(batch, corpusBandKeys, corpusShingles, bar)
    batch.select(col("doc_id"),
        graft.operators.TextOps.quality10k(col("text")).as("q10k"),
        graft.operators.TextOps.repetitiveFlag(col("text")).as("repetitive"))
      .join(flagged, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("dup_of").isNotNull, lit("dup"))
          .when(col("repetitive"), lit("repetitive"))
          .when(col("q10k") < minQuality10k, lit("low_quality"))
          .otherwise(lit("admit")))
      .select(col("doc_id"), col("verdict"), col("dup_of"), col("jac"),
        (col("q10k").cast("double") / 10000.0).as("quality"))
  }

  /** Decontamination-on-ingest — the gate-side twin of
    * [[graft.operators.DedupOps.ngramContamination]]: flag every batch
    * document containing ANY benchmark n-gram (the exact 13-gram
    * detector — the one that catches a single quoted eval item deep in
    * an otherwise-novel document). `benchGrams` is the broadcastable
    * distinct benchmark gram set
    * ([[graft.operators.DedupOps.benchmarkGrams]]), built once when the
    * eval suites change — NOT per batch. Returns flagged rows only:
    * (doc_id, n_bench_hits). Per-row gram expressions + one broadcast
    * join — no shuffle of the batch, no state.
    *
    * The gram width is NOT a parameter: both sides always use
    * [[graft.operators.DedupOps.ContamNgram]], so the gate can never be
    * called with a batch-side width that silently mismatches the
    * benchmark gram set (mismatched widths produce zero hits — i.e.
    * contaminated docs passing as clean with no error). */
  def contamGate(batch: DataFrame, benchGrams: DataFrame): DataFrame =
    graft.operators.DedupOps
      .ngramsRel(batch.select(col("doc_id"), col("text")),
        graft.operators.DedupOps.ContamNgram)
      .join(broadcast(benchGrams.select(col("gram")).distinct()),
        Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"))

  /** Learned-filter admission gate — the streaming application of
    * [[graft.operators.TextOps.nbTrain]]'s STORED model (weights +
    * prior tables, trained offline on the admitted corpus, refreshed on
    * the compaction cadence — never per batch). Scores each batch
    * document and returns the rows at or below `minScore` (flagged-only,
    * the [[contamGate]] convention): (doc_id, nb_score).
    *
    * Unseen tokens contribute weight 0 (LEFT join + coalesce) — a
    * stored model must tolerate out-of-vocabulary drift in new data,
    * unlike the self-contained batch query where every scored token is
    * in-vocabulary by construction. Zero-token documents carry no
    * vocabulary evidence and are not flagged here — length pathology is
    * the shape rules' verdict, upstream in the admission precedence.
    *
    * Scale shape: per-row explode + one equi-join against the weight
    * table (broadcastable until the vocabulary outgrows executors) +
    * per-doc re-aggregation; the 1-row prior broadcasts; no state, no
    * shuffle of the batch beyond the doc_id agg. */
  def nbGate(batch: DataFrame, nbWeights: DataFrame, nbPrior: DataFrame,
      minScore: Long = 0L): DataFrame =
    batch.select(col("doc_id"),
        explode(graft.operators.TextOps.toks(col("text"))).as("tok"))
      .join(nbWeights, Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("w"), lit(0L))).as("w_sum"))
      .crossJoin(broadcast(nbPrior))
      .select(col("doc_id"), (col("w_sum") + col("prior_w")).as("nb_score"))
      .where(col("nb_score") <= minScore)

  /** Shared streaming-wrapper contract for the per-batch operators:
    * AvailableNow foreachBatch, checkpoint REQUIRED (without it a
    * restart replays the whole source and re-emits every historical
    * verdict), state bounded to one micro-batch. */
  private def runPerBatch(stream: DataFrame, checkpoint: String)(
      perBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(checkpoint.nonEmpty, "checkpoint location is required")
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(perBatch)
      .start()
  }

  /** Streaming wrapper for [[admitBatch]] — [[runPerBatch]] contract;
    * per-batch verdicts go to `onVerdicts`. */
  def runAdmission(stream: DataFrame, corpusBandKeys: DataFrame,
      corpusShingles: DataFrame, checkpoint: String,
      bar: Double = graft.operators.DedupOps.TextDupJaccard,
      minQuality10k: Long = AdmitMinQuality10k)(
      onVerdicts: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    runPerBatch(stream, checkpoint) { (batch, id) =>
      onVerdicts(admitBatch(batch, corpusBandKeys, corpusShingles, bar,
        minQuality10k), id)
    }

  /** The full curated-ingest LOOP — [[runAdmission]] plus the feedback
    * edge that makes the gate see its own past admissions: each
    * micro-batch is judged against the TABLE-backed corpus index
    * ([[loadCorpusIndex]]), its verdicts are fixed, and the batch's
    * ADMITTED documents are appended to the index as a `batch=<id>`
    * partition — so a duplicate of an earlier batch's admission is
    * flagged WITHOUT waiting for a periodic rebuild. With
    * `compactEveryBatches > 0`, the index is compacted on that cadence
    * (the registry's pattern; appends otherwise grow file counts with
    * batch count).
    *
    * Ordering is load-bearing: the verdict frame is EAGERLY
    * materialized (localCheckpoint) BEFORE the append — lazily, the
    * stream-static join would re-read the index during `onVerdicts`
    * and find the batch itself, flagging every document as its own
    * duplicate. The checkpoint blocks are freed after the callback
    * (getPersistentRDDs diff — micro-batches must not accumulate
    * executor storage).
    *
    * Idempotence note: foreachBatch is at-least-once — a crash between
    * the append and the checkpoint commit can replay a batch and
    * duplicate its index rows. Duplicated index rows are HARMLESS to
    * verdicts (candidates are `distinct`, the verify reads one shingle
    * set per dup_of), and the next compaction folds the files.
    *
    * Bootstrap: `idxDir` need not be seeded — a never-written index dir
    * reads as an EMPTY corpus ([[loadCorpusIndexOrEmpty]]) and the first
    * batch's append creates the tables; seeding via [[writeCorpusIndex]]
    * first is the backfill path, not a precondition.
    *
    * Alongside the index, the loop MAINTAINS THE DUP-GROUP TABLE: each
    * batch's (doc_id, dup_of) verdicts append to `group_edges`
    * ([[appendGroupEdges]]) and fold into the materialized `groups`
    * labeling on the same compaction cadence ([[foldGroupTable]] —
    * delta-only merge, never a chain recompute); [[loadGroupTable]] is
    * the always-current read view. Spec-pinned equal to the batch
    * chain ([[graft.operators.DedupOps.textDedupGroups]]) over the
    * union corpus. Each batch also appends its admission metrics
    * ([[appendIngestMetrics]] — docs and mean quality per verdict class),
    * compacted on the same cadence. One caveat documented there applies here too: dup
    * REJECTS are not indexed, so a later doc that resembles only a
    * rejected dup (never its admitted representative — drift below the
    * bar) is invisible to the gate; near-dup clusters tight enough to
    * flag are transitively tied to their rep, which is the planted
    * regime the equivalence spec pins. */
  def runCuratedIngest(stream: DataFrame, idxDir: String, checkpoint: String,
      bar: Double = graft.operators.DedupOps.TextDupJaccard,
      minQuality10k: Long = AdmitMinQuality10k,
      compactEveryBatches: Int = 0)(
      onVerdicts: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    runPerBatch(stream, checkpoint) { (batch, id) =>
      val spark = batch.sparkSession
      // OrEmpty: a fresh pipeline has no seeded index yet — the first
      // batch bootstraps it (its own append creates the tables)
      val (bk, sh) = loadCorpusIndexOrEmpty(spark, idxDir)
      val verdicts = admitBatch(batch, bk, sh, bar, minQuality10k)
        .localCheckpoint(true)
      // the checkpointed blocks are exactly the LogicalRDD the eager
      // checkpoint left as the frame's plan — free THAT, never a
      // context-global registry diff (which could catch a concurrent
      // query's blocks)
      val ckptRdds = verdicts.queryExecution.logical.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      // persisted: writeCorpusIndex runs one write job per index table,
      // which would otherwise re-scan the micro-batch and re-run the
      // join once per table
      val admitted = batch.join(
        verdicts.where(col("verdict") === "admit").select(col("doc_id")),
        Seq("doc_id")).persist()
      try {
        writeCorpusIndex(admitted, idxDir, batchId = Some(id))
        // the gate's dup verdicts ARE the group table's delta: append
        // them (batch-sized), fold on the compaction cadence — so the
        // loop maintains the batch chain's (doc_id, rep_id) labeling
        // without ever recomputing the LSH chain
        appendGroupEdges(
          verdicts.where(col("verdict") === "dup")
            .select(col("doc_id").as("id_a"), col("dup_of").as("id_b")),
          idxDir, id)
        appendIngestMetrics(verdicts, idxDir, id)
        // live point-frequency summary over everything ever ADMITTED:
        // CM merge is vector addition, so the maintained sketch stays
        // exactly the one-shot sketch of the curated corpus (8 KB of
        // state, its own last_batch replay guard)
        updateTokenSketch(admitted, idxDir, id)
        if (compactEveryBatches > 0 && (id + 1) % compactEveryBatches == 0) {
          compactCorpusIndex(spark, idxDir)
          foldGroupTable(spark, idxDir)
          graft.functions.ScaleUtils.compactParquet(
            spark, s"$idxDir/ingest_metrics")
        }
        onVerdicts(verdicts, id)
      } finally {
        admitted.unpersist(false)
        ckptRdds.foreach(_.unpersist(false))
      }
    }

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(start: Long, last: Long, n: Int, sumValue: Double)

  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, sum_value: Double,
      closed: Boolean)

  /** Pure sessionization fold: split a user's time-sorted events into
    * gap-bounded sessions. Kept pure so the state logic is unit-testable
    * without a streaming harness; the stateful wrapper below reuses it. */
  def foldSessions(sorted: Seq[Ev], gapMs: Long,
      carryIn: Option[SessionState]): (Seq[SessionState], Option[SessionState]) = {
    val all = scala.collection.mutable.ArrayBuffer.empty[SessionState]
    var cur = carryIn
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur = cur match {
        case Some(s) if t - s.last <= gapMs =>
          Some(s.copy(last = t, n = s.n + 1, sumValue = s.sumValue + e.value))
        case Some(s) =>
          all += s
          Some(SessionState(t, t, 1, e.value))
        case None =>
          Some(SessionState(t, t, 1, e.value))
      }
    }
    (all.toSeq, cur)
  }

  /** Gap-based sessionization with `flatMapGroupsWithState` (Update
    * mode): closed sessions emit `closed=true`; the in-flight session
    * emits a snapshot each batch. State per user is one small struct —
    * bounded.
    *
    * `timeoutMs = Some(ms)` additionally finalizes idle sessions via
    * processing-time timeout — for long-running production queries only:
    * pending timeouts keep the micro-batch loop alive, so drive such
    * queries with a real trigger, never `processAllAvailable`. The
    * default (no timeout) is fully deterministic: the gap logic closes
    * sessions as later events arrive. */
  def sessionize(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L,
      timeoutMs: Option[Long] = None): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (timeoutMs.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Update(), timeoutConf) {
        (userId: Long, it: Iterator[Ev], state: GroupState[SessionState]) =>
          if (timeoutMs.isDefined && state.hasTimedOut) {
            val out = state.getOption.map(s => Session(userId,
              new Timestamp(s.start), new Timestamp(s.last), s.n, s.sumValue,
              closed = true))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val (closed, open) = foldSessions(sorted, gapMs, state.getOption)
            open match {
              case Some(s) =>
                state.update(s)
                timeoutMs.foreach(state.setTimeoutDuration)
              case None => state.remove()
            }
            (closed.map(s => Session(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.sumValue, closed = true)) ++
              open.map(s => Session(userId, new Timestamp(s.start),
                new Timestamp(s.last), s.n, s.sumValue, closed = false)))
              .iterator
          }
      }
  }

  /** Run a streaming query over parquet files into a memory sink and
    * return the result table (test/backfill aid).
    *
    * Append-mode queries use `Trigger.AvailableNow` + awaitTermination —
    * the terminal batch advances the watermark so windowed aggregates
    * flush. Update-mode stateful queries instead use the default trigger
    * with `processAllAvailable()` + `stop()`: under AvailableNow a
    * pending processing-time timeout keeps the MultiBatchExecutor alive
    * and awaitTermination never returns. */
  def runToMemory(spark: SparkSession, streaming: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val writer = streaming.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
    if (mode == OutputMode.Update()) {
      val q = writer.start()
      q.processAllAvailable()
      q.stop()
    } else {
      val q = writer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  // ===== distribution drift monitor =====

  private val DriftSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("cnt",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType)))

  /** Append one micro-batch's token-bucket counts to the maintained
    * corpus DISTRIBUTION table — 256 rows per batch as a `batch=<id>`
    * partition (the [[writeCorpusIndex]] discipline at distribution
    * granularity): the state the drift alarm compares each incoming
    * batch against. Store ADMITTED docs' counts so the reference
    * distribution tracks what the corpus actually keeps. */
  def writeDriftIndex(spark: SparkSession, admittedDocs: DataFrame,
      dir: String, batchId: Long): Unit =
    graft.operators.TextOps.tokenBuckets(admittedDocs)
      .withColumn("batch", lit(batchId)).write.mode("append")
      .partitionBy("batch").parquet(s"$dir/drift_buckets")

  /** Read-back of [[writeDriftIndex]] summed across batch partitions —
    * (bucket, cnt); empty on a never-seeded dir (the
    * [[loadCorpusIndexOrEmpty]] bootstrap contract). */
  def loadDriftIndexOrEmpty(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/drift_buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(DriftSchema).parquet(s"$dir/drift_buckets")
        .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    else spark.range(0)
      .select(col("id").cast("string").as("bucket"), lit(0L).as("cnt"))
  }

  /** DRIFT ALARM for one micro-batch: TV distance (ppm) between the
    * maintained corpus distribution and the incoming batch —
    * [[graft.operators.TextOps.vocabDrift]]'s arithmetic served from
    * the persisted bucket table (shared tail, so the batch monitor and
    * the batch-mode query can never disagree). One row: (n_buckets,
    * p_total = corpus tokens, q_total = batch tokens, tv_ppm). A
    * never-seeded corpus reads as all-drift (tv → ~10⁶) — the honest
    * bootstrap answer; gate the alarm on p_total > 0. */
  def batchDrift(batch: DataFrame, corpusBuckets: DataFrame): DataFrame =
    graft.operators.TextOps.tvDistanceOf(corpusBuckets,
      graft.operators.TextOps.tokenBuckets(batch))
}
