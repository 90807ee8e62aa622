package graft

import java.sql.Timestamp
import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics.{Ev, SessionState}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

class StreamingAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** In-memory static side for the admission gate: (band keys, shingle
    * sets) of `corpus`, persisted so a run's per-batch joins reuse the
    * blocks — the parity reference for the table-backed index. The
    * caller unpersists both frames. */
  private def corpusIndex(corpus: org.apache.spark.sql.DataFrame) = (
    graft.operators.DedupOps.bandKeysPerRow(corpus).persist(),
    corpus.select(col("doc_id").as("dup_of"),
      graft.operators.TextOps.shingles3(col("text")).as("ts_c")).persist())

  test("foldSessions: gap splitting, carry-in continuation") {
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 11:30:00"), 1, "click", 3.0))
    val (closed, open) = StreamingAnalytics.foldSessions(evs, 30 * 60 * 1000L, None)
    assert(closed.length == 1)
    assert(closed.head.n == 2 && closed.head.sumValue == 3.0)
    assert(open.exists(_.n == 1))
    // carry-in merges with first event when within gap
    val (closed2, open2) = StreamingAnalytics.foldSessions(
      evs.take(1), 30 * 60 * 1000L,
      Some(SessionState(ts("2024-01-01 09:45:00").getTime,
        ts("2024-01-01 09:45:00").getTime, 1, 5.0)))
    assert(closed2.isEmpty && open2.exists(s => s.n == 2 && s.sumValue == 6.0))
  }

  test("windowed counts: streaming over files == batch groupBy(window)") {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val batch = graft.sources.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val got = StreamingAnalytics.runToMemory(spark,
      StreamingAnalytics.windowedCounts(stream), "win_counts")
    val want = StreamingAnalytics.windowedCounts(spark.read.schema(schema).parquet(dir))
    assert(got.count() > 0)
    // streaming (append mode) can only emit windows the final watermark
    // has passed — it must be a subset of batch, and every batch row
    // missing from streaming must be inside the final watermark horizon
    // (watermark 2h + window 1h from the max event time)
    assert(got.exceptAll(want).count() == 0)
    val maxTs = batch.agg(max(col("ts"))).head().getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 3L * 3600 * 1000)
    val missing = want.exceptAll(got)
    assert(missing.where(col("win_end") <= horizon).count() == 0)
  }

  test("sessionize: per-user sessions with gap splitting (streaming)") {
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(3, ts("2024-01-01 12:00:00"), 1, "click", 1.0),
      Ev(4, ts("2024-01-01 10:00:00"), 2, "view", 2.0))
    val dir = java.nio.file.Files.createTempDirectory("sess").toString
    evs.toDS().write.mode("overwrite").parquet(dir)
    val schema = implicitly[org.apache.spark.sql.Encoder[Ev]].schema
    val stream = spark.readStream.schema(schema).parquet(dir).as[Ev]
    val got = StreamingAnalytics.runToMemory(spark,
      StreamingAnalytics.sessionize(stream).toDF(), "sessions",
      OutputMode.Update())
    // user 1: one closed session (2 events), one open singleton; user 2: open singleton
    val u1 = got.where($"user_id" === 1).collect()
    assert(u1.exists(r => r.getAs[Boolean]("closed") && r.getAs[Int]("n_events") == 2))
    assert(u1.exists(r => !r.getAs[Boolean]("closed") && r.getAs[Int]("n_events") == 1))
    assert(got.where($"user_id" === 2 && !$"closed").count() == 1)
  }

  test("dedup-on-ingest gate: parity with the batch chain, streaming run") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val (cbk, csh) = corpusIndex(docs)

    // 1. PARITY: admitting the corpus against itself must flag as dup
    // exactly the docs that appear in the batch chain's dup pairs
    // (per-row band keys == aggregated band keys; set-Jaccard ==
    // shared-shingle Jaccard)
    val flagged = StreamingAnalytics.admitBatch(docs, cbk, csh)
      .where(col("verdict") === "dup").collect()
    val pairDocs = graft.operators.DedupOps.textDupPairs(spark, sfDir)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(flagged.map(_.getLong(0)).toSet == pairDocs,
      "gate verdicts must match the batch LSH+verify chain")
    assert(flagged.forall(_.getAs[Double]("jac") >= 0.85))

    // 2. STREAMING: a replayed corpus text is flagged with jac 1.0
    // against its original; a novel text passes; two copies of the SAME
    // novel text in one delivery keep the first (smaller id) and flag
    // the second against it (intra-batch self-check)
    val dupText = docs.orderBy(col("doc_id")).select("doc_id", "text").head()
    val novel = "entirely novel zebra quartz text never in corpus " * 3
    val inDir = java.nio.file.Files.createTempDirectory("gatestream").toString
    Seq((9001L, dupText.getString(1)), (9002L, novel), (9003L, novel))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(inDir)
    val ckpt = java.nio.file.Files.createTempDirectory("gateckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val q = StreamingAnalytics.runAdmission(stream, cbk, csh, ckpt) {
      (verdicts, _) =>
        buf ++= verdicts.where(col("verdict") === "dup").collect().map(r =>
          (r.getLong(0), r.getAs[Long]("dup_of"), r.getAs[Double]("jac"))); ()
    }
    q.awaitTermination()
    assert(buf.exists { case (id, of, jac) =>
      id == 9001L && of == dupText.getLong(0) && jac == 1.0 },
      s"replayed text must be flagged against its original, got $buf")
    assert(buf.exists { case (id, of, jac) =>
      id == 9003L && of == 9002L && jac == 1.0 },
      s"second copy of a novel text must be flagged against the first, got $buf")
    assert(!buf.exists(_._1 == 9002L),
      "first occurrence of a novel text must pass the gate")
    cbk.unpersist(); csh.unpersist(); ()
  }

  test("table-backed corpus index: gate parity with the in-memory index") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val (cbk, csh) = corpusIndex(docs)
    val idxDir = java.nio.file.Files.createTempDirectory("gateidx").toString
    StreamingAnalytics.writeCorpusIndex(docs, idxDir)
    val (tbk, tsh) = StreamingAnalytics.loadCorpusIndex(spark, idxDir)
    val dupText = docs.orderBy(col("doc_id")).select("doc_id", "text").head()
    val novel = "entirely novel zebra quartz text never in corpus " * 3
    val batch = Seq((9001L, dupText.getString(1)), (9002L, novel))
      .toDF("doc_id", "text")
    def verdicts(bk: org.apache.spark.sql.DataFrame,
        sh: org.apache.spark.sql.DataFrame) =
      StreamingAnalytics.gateAgainstCorpus(batch, bk, sh)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getAs[Double]("jac"))).toSet
    assert(verdicts(tbk, tsh) == verdicts(cbk, csh),
      "the parquet-backed index must produce identical gate verdicts")
    cbk.unpersist(); csh.unpersist()
    // steady state: fold an admitted batch in as a batch partition —
    // a later replay of that text must now flag against it
    StreamingAnalytics.writeCorpusIndex(
      Seq((9002L, novel)).toDF("doc_id", "text"), idxDir,
      batchId = Some(1L))
    val (tbk2, tsh2) = StreamingAnalytics.loadCorpusIndex(spark, idxDir)
    val replay = Seq((9050L, novel)).toDF("doc_id", "text")
    val flagged = StreamingAnalytics.gateAgainstCorpus(replay, tbk2, tsh2)
      .collect()
    assert(flagged.exists(r => r.getLong(0) == 9050L
        && r.getLong(1) == 9002L && r.getAs[Double]("jac") == 1.0),
      s"appended admission must be visible to the gate, got ${flagged.toSeq}")
    // appends grow file counts with batch count; compaction shrinks them
    // and the gate's verdicts are unchanged by the rewrite
    StreamingAnalytics.writeCorpusIndex(
      Seq((9003L, "another admitted batch of fresh words entirely"))
        .toDF("doc_id", "text"), idxDir, batchId = Some(2L))
    val ((bkB, bkA), (shB, shA)) =
      StreamingAnalytics.compactCorpusIndex(spark, idxDir)
    assert(bkA <= bkB && shA <= shB && bkA >= 1 && shA >= 1,
      s"compaction must not grow files: band_keys $bkB->$bkA shingles $shB->$shA")
    val (tbk3, tsh3) = StreamingAnalytics.loadCorpusIndex(spark, idxDir)
    val after = StreamingAnalytics.gateAgainstCorpus(replay, tbk3, tsh3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == flagged.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "compaction must not change gate verdicts")
  }

  test("curated ingest loop: later batches see earlier admissions") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val idxDir = java.nio.file.Files.createTempDirectory("loopidx").toString
    StreamingAnalytics.writeCorpusIndex(docs, idxDir)
    val novel = "a genuinely fresh walrus umbrella paragraph with many " +
      "distinct readable words " * 2
    val inDir = java.nio.file.Files.createTempDirectory("loopin").toString
    // two files, written in order → with maxFilesPerTrigger=1 they
    // arrive as two micro-batches; the second is a copy of the first's
    // (admitted) text under a new id
    Seq((9101L, novel)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100) // distinct mtimes → deterministic batch order
    Seq((9102L, novel)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Any)]
    val q = StreamingAnalytics.runCuratedIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(inDir),
      idxDir,
      java.nio.file.Files.createTempDirectory("loopckpt").toString,
      compactEveryBatches = 2) { (verdicts, _) =>
      buf ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getAs[String]("verdict"), r.get(2)))
    }
    q.awaitTermination()
    val byId = buf.map(t => t._1 -> t).toMap
    assert(byId(9101L)._2 == "admit",
      s"first arrival of a novel text must admit, got $buf")
    assert(byId(9102L)._2 == "dup" && byId(9102L)._3 == 9101L,
      s"the NEXT batch's copy must flag against the prior admission " +
        s"(feedback append), got $buf")
    // and the doc did not flag against itself (eager-verdict ordering)
    assert(buf.count(_._1 == 9101L) == 1)
  }

  test("curated ingest loop: unseeded index dir bootstraps empty") {
    // NO writeCorpusIndex seeding — the dir does not exist; the first
    // micro-batch must judge against an empty corpus (ADVICE r6). That
    // first batch admits NOTHING (repetitive junk), so its append writes
    // zero rows — the explicit-schema read must tolerate the resulting
    // data-file-less table; the second batch's admission must then be
    // visible to the third batch's gate.
    val idxDir = java.nio.file.Files.createTempDirectory("bootidx").toString +
      "/never_written"
    val junk = "spam spam spam spam spam spam spam spam"
    val good = "the quick brown fox jumps over a lazy dog and then " +
      "walks off to find the next interesting thing in the field"
    val inDir = java.nio.file.Files.createTempDirectory("bootin").toString
    Seq((9201L, junk)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100) // distinct mtimes → deterministic batch order
    Seq((9202L, good)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100)
    Seq((9203L, good)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Any)]
    val q = StreamingAnalytics.runCuratedIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(inDir),
      idxDir,
      java.nio.file.Files.createTempDirectory("bootckpt").toString) {
      (verdicts, _) =>
        buf ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getAs[String]("verdict"), r.get(2)))
    }
    q.awaitTermination()
    val byId = buf.map(t => t._1 -> t).toMap
    assert(byId(9201L)._2 == "repetitive",
      s"junk against the bootstrapped empty index must be screened, got $buf")
    assert(byId(9202L)._2 == "admit",
      s"good doc after a zero-admission first append must admit, got $buf")
    assert(byId(9203L)._2 == "dup" && byId(9203L)._3 == 9202L,
      s"third batch must flag against the second's append, got $buf")
  }

  test("curated ingest loop: maintained group table equals the batch chain") {
    // two dup clusters spanning batches plus a singleton; cadence=2 so
    // ONE fold lands mid-stream and the last batch's edges stay PENDING
    // — the final read view must merge table + pending identically to
    // the batch chain over the union corpus
    val idxDir =
      java.nio.file.Files.createTempDirectory("gtidx").toString + "/idx"
    val inDir = java.nio.file.Files.createTempDirectory("gtin").toString
    val a = "the quick brown fox jumps over a lazy dog and then walks " +
      "off to find the next interesting thing in the field"
    val b = "builders of large data systems tend to care about the " +
      "shape of a shuffle and the cost of a scan in production"
    val c = "in the morning the crew loaded the telescope data and " +
      "checked each file against the manifest of the night"
    val batches = Seq(
      Seq((1L, "en", a), (2L, "en", b)),
      Seq((3L, "en", a), (4L, "en", c)),
      Seq((5L, "en", a), (6L, "en", b)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      if (i > 0) Thread.sleep(1100) // distinct mtimes → batch order
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(inDir)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val admittedIds = scala.collection.mutable.Set.empty[Long]
    val q = StreamingAnalytics.runCuratedIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(inDir),
      idxDir,
      java.nio.file.Files.createTempDirectory("gtckpt").toString,
      compactEveryBatches = 2) { (verdicts, id) =>
      val vs = verdicts.collect()
      seen ++= vs.map(r => (id, r.getAs[String]("verdict")))
      admittedIds ++= vs.filter(_.getAs[String]("verdict") == "admit")
        .map(_.getAs[Long]("doc_id"))
    }
    q.awaitTermination()
    // the metrics table reconciles with the verdicts the loop emitted
    val metrics = StreamingAnalytics.loadIngestMetrics(spark, idxDir)
      .collect()
      .map(r => (r.getAs[Long]("batch"), r.getAs[String]("verdict"))
        -> r.getAs[Long]("n_docs")).toMap
    val expectedMetrics = seen.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(metrics == expectedMetrics,
      s"metrics=$metrics expected=$expectedMetrics")
    val fs = new org.apache.hadoop.fs.Path(idxDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/groups")),
      "the mid-stream fold must have materialized the groups table")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/group_edges")),
      "the post-fold batch's edges must be pending")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loop = rows(StreamingAnalytics.loadGroupTable(spark, idxDir))
    val unionDir = java.nio.file.Files.createTempDirectory("gtu").toString
    batches.flatten.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$unionDir/documents.parquet")
    val chain = rows(graft.operators.DedupOps.textDedupGroups(spark, unionDir))
    assert(loop == chain, s"loop=$loop chain=$chain")
    assert(loop == Set((1L, 1L), (3L, 1L), (5L, 1L), (2L, 2L), (6L, 2L)))
    // folding the pending edges consumes them and must not change the view
    StreamingAnalytics.foldGroupTable(spark, idxDir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/group_edges")),
      "fold must consume the pending edges")
    assert(rows(StreamingAnalytics.loadGroupTable(spark, idxDir)) == chain)
    // the loop also maintains the token sketch: equals the one-shot CM
    // over exactly the documents the gate ADMITTED (dups and any
    // quality rejects excluded — the admitted set is read back from
    // the loop's own verdicts, not assumed)
    assert(admittedIds.nonEmpty && !admittedIds.exists(Set(3L, 5L, 6L)),
      s"dups must not be admitted: $admittedIds")
    val byId = batches.flatten.map { case (id, _, t) => id -> t }.toMap
    val skRow = StreamingAnalytics.loadTokenSketch(spark, idxDir)
      .collect().head
    val cm = graft.plans.CountMinSketch.countMin(spark) _
    val oneShot = admittedIds.toSeq.map(byId).toDF("text")
      .select(explode(filter(split(col("text"), " "), t => t =!= ""))
        .as("tok"))
      .agg(cm(col("tok"), graft.operators.TextOps.CmDepth,
        graft.operators.TextOps.CmWidth).as("sk"), count(lit(1)).as("n"))
      .collect().head
    assert(skRow.getSeq[Long](0) == oneShot.getSeq[Long](0),
      "loop-maintained sketch diverged from the one-shot admitted corpus")
    assert(skRow.getLong(1) == oneShot.getLong(1))
  }

  test("foldGroupTable: between-renames crash recovery and no-op skip") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("gtrec").toString + "/idx"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    StreamingAnalytics.appendGroupEdges(
      Seq((5L, 1L)).toDF("id_a", "id_b"), dir, 0L)
    StreamingAnalytics.foldGroupTable(spark, dir)
    def view = StreamingAnalytics.loadGroupTable(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(view == Set((1L, 1L), (5L, 1L)))
    // simulate a fold dying between its two renames: the live table is
    // gone, `_old` holds the only copy (its edges are already consumed)
    assert(fs.rename(new Path(s"$dir/groups"),
      new Path(s"$dir/groups_folded_old")))
    assert(view == Set((1L, 1L), (5L, 1L)),
      "the read view must fall back to the orphaned _old copy")
    // the next fold's first act is restoring the orphan — NOT deleting it
    StreamingAnalytics.foldGroupTable(spark, dir)
    assert(fs.exists(new Path(s"$dir/groups"))
      && !fs.exists(new Path(s"$dir/groups_folded_old")))
    assert(view == Set((1L, 1L), (5L, 1L)), "recovery must lose nothing")
    // a dup-free cadence appends only zero-row partitions; the fold must
    // drop the husk WITHOUT rewriting the table (same files, same mtimes)
    StreamingAnalytics.appendGroupEdges(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), dir, 1L)
    def groupFiles = fs.listStatus(new Path(s"$dir/groups"))
      .map(s => (s.getPath.toString, s.getModificationTime)).toSet
    val before = groupFiles
    StreamingAnalytics.foldGroupTable(spark, dir)
    assert(!fs.exists(new Path(s"$dir/group_edges")),
      "the empty-husk edge dir must still be consumed")
    assert(groupFiles == before,
      "an empty delta must not rewrite the groups table")
  }

  test("admission policy: dup > repetitive > low_quality > admit") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val (cbk, csh) = corpusIndex(docs)
    val dupText = docs.orderBy(col("doc_id")).select("doc_id", "text").head()
    // a corpus replay, a keyboard-mash doc, a thin junk doc, a good doc
    val good = "the quick brown fox jumps over a lazy dog and then " +
      "walks off to find the next interesting thing in the field"
    val batch = Seq(
      (9001L, dupText.getString(1)),
      (9002L, "spam spam spam spam spam spam spam spam"),
      // de Bruijn arrangement: 5 distinct tokens x5 each (top fraction
      // exactly 0.2, NOT over the bar), all 24 bigrams distinct, every
      // token punctuated -> q10k = 1950 (the "a," tokens also match the
      // \ba\b stopword), under the 3000 floor
      (9003L, "a, a, b, a, c, a, d, a, e, b, b, c, b, d, b, e, c, c, d, c, e, d, d, e, e,"),
      (9004L, good))
      .toDF("doc_id", "text")
    val got = StreamingAnalytics.admitBatch(batch, cbk, csh)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("verdict")).toMap
    assert(got(9001L) == "dup", s"corpus replay: $got")
    assert(got(9002L) == "repetitive", s"mash: $got")
    assert(got(9003L) == "low_quality", s"junk: $got")
    assert(got(9004L) == "admit", s"good doc: $got")
    // a doc that is BOTH a dup and repetitive resolves to dup (precedence)
    val both = Seq((9005L, "spam spam spam spam spam spam spam spam"),
      (9006L, "spam spam spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val v2 = StreamingAnalytics.admitBatch(both, cbk, csh)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("verdict")).toMap
    assert(v2(9005L) == "repetitive" && v2(9006L) == "dup",
      s"intra-batch dup wins precedence on the second copy: $v2")
    cbk.unpersist(); csh.unpersist(); ()
  }

  test("drift monitor: maintained distribution, alarm parity") {
    import graft.operators.TextOps
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    // never-seeded dir reads as the empty distribution
    assert(StreamingAnalytics.loadDriftIndexOrEmpty(spark, dir).count() == 0L)
    val b1 = Seq((0L, "en", "alpha beta gamma alpha"), (1L, "en", "beta delta"))
      .toDF("doc_id", "lang", "text")
    StreamingAnalytics.writeDriftIndex(spark, b1, dir, 1L)
    val corpus = StreamingAnalytics.loadDriftIndexOrEmpty(spark, dir)
    // a same-distribution batch drifts less than a disjoint-vocab one
    val similar = Seq((2L, "en", "alpha beta gamma"), (3L, "en", "delta beta"))
      .toDF("doc_id", "lang", "text")
    val shifted = Seq((4L, "en", "zeta eta theta iota kappa"))
      .toDF("doc_id", "lang", "text")
    val low = StreamingAnalytics.batchDrift(similar, corpus)
      .head.getAs[Long]("tv_ppm")
    val high = StreamingAnalytics.batchDrift(shifted, corpus)
      .head.getAs[Long]("tv_ppm")
    assert(low < high, s"similar batch must drift less: $low vs $high")
    assert(high >= 600000L, s"disjoint vocabulary must alarm: $high")
    // appends accumulate across batch partitions
    StreamingAnalytics.writeDriftIndex(spark, similar, dir, 2L)
    val total = StreamingAnalytics.loadDriftIndexOrEmpty(spark, dir)
      .agg(sum($"cnt")).head.getLong(0)
    assert(total == 6L + 5L, s"b1 (6 tokens) + b2 (5 tokens): $total")
    // arithmetic parity with the batch-mode q_vocab_drift: even docs as
    // the corpus side, odd docs as the batch side
    val parity = Seq((0L, "en", "alpha beta gamma"), (2L, "en", "delta"),
      (1L, "en", "alpha zeta zeta"))
      .toDF("doc_id", "lang", "text")
    val viaQuery = TextOps.vocabDriftCore(parity).head
    val viaMonitor = StreamingAnalytics.batchDrift(
      parity.where($"doc_id" % 2 === 1),
      TextOps.tokenBuckets(parity.where($"doc_id" % 2 === 0))).head
    assert(viaQuery.toSeq == viaMonitor.toSeq,
      s"monitor and query disagree: $viaQuery vs $viaMonitor")
  }

  test("contamination gate: only the doc quoting a benchmark gram " +
      "is flagged, with its one hit") {
    import graft.operators.DedupOps
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val benchGrams = DedupOps.benchmarkGrams(spark, sfDir)
    // a benchmark doc long enough to own at least one 13-gram
    val benchText = docs
      .where(col("doc_id") < DedupOps.BenchmarkMaxId &&
        size(filter(split(col("text"), " "), t => t =!= "")) >= 13)
      .orderBy(col("doc_id")).select(col("text")).head().getString(0)
    val quote = benchText.split(" ").filter(_.nonEmpty)
      .take(13).mkString(" ")
    // one doc quoting exactly one benchmark 13-gram, one clean doc
    val batch = Seq(
      (9101L, s"in my own considered words it then says $quote and " +
        "carries on with entirely original analysis afterwards"),
      (9102L, "a perfectly ordinary paragraph about garden furniture " +
        "maintenance through the wetter months of a temperate year"))
      .toDF("doc_id", "text")
    val flagged = StreamingAnalytics.contamGate(batch, benchGrams).collect()
    assert(flagged.map(_.getLong(0)).toSet == Set(9101L),
      s"only the quoting doc may flag: ${flagged.mkString("; ")}")
    assert(flagged.head.getAs[Long]("n_bench_hits") == 1L,
      s"exactly the one quoted gram: ${flagged.head}")
  }

  test("maintained token sketch: incremental fold == one-shot exactly, " +
      "replay is a no-op, crash swap recovers") {
    val dir = java.nio.file.Files.createTempDirectory("toksketch").toString
    val b1 = Seq("alpha beta beta gamma", "alpha delta").toDF("text")
    val b2 = Seq("beta beta epsilon", "gamma gamma gamma").toDF("text")
    StreamingAnalytics.updateTokenSketch(b1, dir, batchId = 0L)
    StreamingAnalytics.updateTokenSketch(b2, dir, batchId = 1L)
    val folded = StreamingAnalytics.loadTokenSketch(spark, dir)
      .collect().head
    // CM merge IS addition → maintained sketch equals the one-shot
    // sketch over everything admitted, counter for counter
    val cm = graft.plans.CountMinSketch.countMin(spark) _
    val oneShot = b1.union(b2)
      .select(explode(filter(split(col("text"), " "), t => t =!= ""))
        .as("tok"))
      .agg(cm(col("tok"), graft.operators.TextOps.CmDepth,
        graft.operators.TextOps.CmWidth).as("sk"), count(lit(1)).as("n"))
      .collect().head
    assert(folded.getSeq[Long](0) == oneShot.getSeq[Long](0),
      "maintained sketch diverged from the one-shot sketch")
    assert(folded.getLong(1) == oneShot.getLong(1))
    assert(folded.getLong(2) == 1L)
    // at-least-once replay of an already-folded batch must not re-add
    StreamingAnalytics.updateTokenSketch(b2, dir, batchId = 1L)
    val replayed = StreamingAnalytics.loadTokenSketch(spark, dir)
      .collect().head
    assert(replayed.getSeq[Long](0) == folded.getSeq[Long](0) &&
      replayed.getLong(1) == folded.getLong(1), "replay double-counted")
    // point estimates: overestimate-only, exact on this tiny vocab
    val est = StreamingAnalytics.tokenSketchEst(spark, dir,
        Seq("beta", "gamma", "never_seen_tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("beta") >= 4L && est("gamma") >= 4L)
    assert(est("never_seen_tok") >= 0L)
    // crash between swap-out and swap-in: live gone, _old holds state
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/token_sketch"),
      new org.apache.hadoop.fs.Path(s"$dir/token_sketch_old")))
    val fromOld = StreamingAnalytics.loadTokenSketch(spark, dir)
      .collect().head
    assert(fromOld.getSeq[Long](0) == folded.getSeq[Long](0),
      "read-back must fall back to _old after a torn swap")
    // the next fold restores live first, then merges on top of it
    StreamingAnalytics.updateTokenSketch(
      Seq("zeta").toDF("text"), dir, batchId = 2L)
    val healed = StreamingAnalytics.loadTokenSketch(spark, dir)
      .collect().head
    assert(healed.getLong(1) == folded.getLong(1) + 1L)
    assert(healed.getLong(2) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/token_sketch_old")))
  }
}
