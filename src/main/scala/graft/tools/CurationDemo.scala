package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{CurationOps, DedupOps, TextOps, VectorOps}

/** Usage example / smoke driver for the CURATION surface end to end —
  * the north-star path a training-data team runs: materialized
  * curation run (groups → canonical → stages → admitted corpus),
  * the data card, the two mixture planners feeding deterministic
  * sampling, sequence packing over the admitted set, and the
  * embedding-side SemDeDup served from a persisted ANN index.
  * Run: sbt "runMain graft.tools.CurationDemo [sfDir]" */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession()

    // 1. the composed run: dup groups materialized once, everything
    //    downstream derives from the tables
    val outDir = java.nio.file.Files.createTempDirectory("cdemo").toString
    val run = CurationOps.curationRun(spark, sfDir, outDir)
    println(s"[demo] curation run artifacts under $outDir:")
    run.toSeq.sortBy(_._1).foreach { case (name, df) =>
      println(f"[demo]   $name%-10s ${df.count()}%6d rows")
    }
    println("[demo] funnel:")
    run("funnel").orderBy(col("stage"), col("lang")).show(30, false)

    // 1b. the stored learned filter: gate a probe batch with the
    //     materialized NB model (train-once / apply-many)
    import spark.implicits._
    val probeBatch = Seq(
      (900001L, "the quick brown fox jumps over the lazy dog and rests " +
        "in a field of tall grass near the old barn through the night"),
      (900002L, "zzz qqq xxx vvv kkk www mmm nnn bbb ccc ddd fff"))
      .toDF("doc_id", "text")
    println("[demo] stored-model NB scores on a probe batch (doc 900001 " +
      "is in-vocabulary prose; 900002 is all-OOV junk, so it carries " +
      "only the class prior — no vocabulary evidence either way):")
    graft.streaming.StreamingAnalytics
      .nbGate(probeBatch, run("nb_weights"), run("nb_prior"),
        minScore = Long.MaxValue / 2) // flag-all: show every score
      .orderBy(col("doc_id")).show(false)

    // 2. the data card a release ships
    println("[demo] corpus data card:")
    CurationOps.corpusReport(spark, sfDir).orderBy(col("lang")).show(false)

    // 3. mixture planning: fixed-share vs temperature, then the
    //    deterministic sample the rates feed
    println("[demo] fixed-share mixture plan:")
    CurationOps.mixturePlan(spark, sfDir).orderBy(col("lang")).show(false)
    println("[demo] sqrt-temperature mixture plan:")
    CurationOps.mixturePlanTemp(spark, sfDir).orderBy(col("lang")).show(false)
    println("[demo] stratified sample summary (md5-deterministic):")
    CurationOps.stratifiedSampleSummary(spark, sfDir)
      .orderBy(col("lang")).show(false)

    // 4. budget-driven quality floor + the admitted corpus feeding
    //    sequence packing
    println("[demo] budget-driven quality floor:")
    CurationOps.qualityBudgetFloor(spark, sfDir).show(false)
    val admitted = run("admitted")
    val admittedDocs = graft.sources.Tables.documents(spark, sfDir)
      .join(admitted.select("doc_id"), "doc_id")
    val tok = size(TextOps.toks(col("text"))).cast("long")
    val packed = CurationOps.packSequences(admittedDocs, "doc_id", "lang",
      tok, budget = CurationOps.PackBudget, shards = 4)
    println(s"[demo] packed ${packed.count()} admitted docs into " +
      s"${packed.select("lang", "shard", "seq_id").distinct().count()} sequences")

    // 4b. the last mile: export the admitted corpus as training shards
    //     with a reconcilable manifest
    val shardDir = java.nio.file.Files.createTempDirectory("cdemo_sh").toString
    val manifest = CurationOps.writeTrainingShards(spark, admittedDocs,
      shardDir, shards = 4)
    println("[demo] training-shard manifest:")
    manifest.orderBy(col("shard")).show(false)
    val auditOk = CurationOps.auditTrainingShards(spark, shardDir)
      .orderBy(col("shard")).collect().map(_.toSeq).toSeq ==
      manifest.orderBy(col("shard")).collect().map(_.toSeq).toSeq
    println(s"[demo] shard audit reconciles: $auditOk")

    // 4c. release-policy variant: the same export over the REDACTED
    //     corpus (PII placeholders) — one projection swap
    val redactDir = java.nio.file.Files.createTempDirectory("cdemo_rd").toString
    CurationOps.writeTrainingShards(spark,
      TextOps.redactedDocs(admittedDocs), redactDir, shards = 4)
    val residual = TextOps.piiScanCore(
      spark.read.parquet(s"$redactDir/docs"))
      .where(col("has_pii")).count()
    println(s"[demo] redacted export: $residual residual PII docs (want 0)")

    // 5. embedding-side SemDeDup served from the persisted ANN index
    val idxDir = java.nio.file.Files.createTempDirectory("cdemo_idx").toString
    VectorOps.writeAnnIndex(spark, sfDir, idxDir)
    val sem = DedupOps.semDedupFromIndex(spark, sfDir, idxDir)
    println(s"[demo] SemDeDup from index: " +
      s"${sem.where(!col("kept")).count()} of ${sem.count()} vectors dropped")

    // 6. the text-side robust-fingerprint pass
    val ov = TextOps.winnowOverlapBest(spark, sfDir)
    println("[demo] top winnow-overlap matches:")
    ov.orderBy(col("best_overlap").desc, col("doc_id")).show(5, false)

    // 7. round-10 surface: passage-level semantic dedup (production
    //    sizing), intra-doc repeat scrub, and the tokenizer
    //    train/apply split with its per-language fertility card
    val csd = DedupOps.chunkSemDedupAuto(spark, sfDir)
    println(s"[demo] chunk-level SemDeDup (auto cells): " +
      s"${csd.where(!col("kept")).count()} of ${csd.count()} chunks dropped")
    val scrub = TextOps.repeatScrub(spark, sfDir)
    println("[demo] repeat scrub (top de-repeated docs):")
    scrub.orderBy(col("n_removed").desc, col("doc_id")).show(5, false)
    println("[demo] tokenizer apply (held-out split, sample):")
    TextOps.bpeEncode(spark, sfDir)
      .orderBy(col("cnt").desc, col("tok")).show(5, false)
    println("[demo] tokenizer fertility card:")
    TextOps.bpeFertility(spark, sfDir).orderBy(col("lang")).show(false)

    // 8. corpus-intelligence surface: cluster labels with their source
    //    balance, the index's own recall scorecard, hubness health,
    //    cross-lingual mining, and the phrase/keyword reports
    println("[demo] k-means cluster labels (top keyword per cluster):")
    VectorOps.clusterKeywords(spark, sfDir).where(col("rank") === 1)
      .orderBy(col("cluster")).show(false)
    println("[demo] cluster x source balance (most source-skewed cells):")
    VectorOps.clusterSourceBalance(spark, sfDir)
      .orderBy(col("share_ppm").desc).show(5, false)
    println("[demo] ANN recall scorecard (trained IVF vs brute force):")
    VectorOps.annRecall(spark, sfDir).orderBy(col("query_id")).show(false)
    val hub = VectorOps.hubnessAuto(spark, sfDir)
    println(s"[demo] hubness census: ${hub.where(col("hub")).count()} hubs " +
      s"of ${hub.count()} vectors")
    println("[demo] mined bitext pairs (en->fr, accepted by margin):")
    VectorOps.bitextMine(spark, sfDir).where(col("accept"))
      .orderBy(col("margin").desc).show(5, false)
    println("[demo] top collocations (PMI lift):")
    TextOps.collocations(spark, sfDir).show(5, false)
    println("[demo] cross-source duplication matrix (hottest pairs):")
    DedupOps.sourceOverlapMatrix(spark, sfDir)
      .orderBy(col("n_pairs").desc).show(5, false)

    // 9. sampling actions + dedup QA: the DSIR resampler, the mixture
    //    epoch realizer, the LSH recall scorecard, and the group-table
    //    purity audit (run BEFORE acting on a group table)
    println("[demo] DSIR importance resampling (per-lang realized):")
    CurationOps.dsirSample(spark, sfDir).orderBy(col("lang")).show(false)
    println("[demo] mixture realization (whole epochs + fractional coin):")
    CurationOps.mixtureRealized(spark, sfDir).orderBy(col("lang")).show(false)
    println("[demo] minhash-banding recall scorecard (probe stratum):")
    DedupOps.lshRecall(spark, sfDir).orderBy(col("lang")).show(false)
    println("[demo] dup-group purity by size bucket:")
    DedupOps.groupPurity(spark, sfDir).orderBy(col("group_size")).show(false)

    spark.stop()
  }
}
