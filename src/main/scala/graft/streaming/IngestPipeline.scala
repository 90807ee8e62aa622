package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.functions.{Derived, FitsHeader}

/** The ingest pipeline — reference E1 (`save_DBB_stagein_to_DBB.py`,
  * SURVEY.md §3.E1) re-expressed as a set-oriented Spark program.
  *
  * The reference processes one file at a time in a Python loop with
  * exception-driven routing (save:120-217). Here each per-file step is a
  * whole-DataFrame stage that *emits an error column instead of throwing*
  * (SURVEY §7.4.3); rows route to the archive branch or the dead-letter
  * branch at the end. Replays are no-ops because the duplicate check is an
  * anti-join against the registry (J2, save:155-157) — this is what makes
  * `foreachBatch` idempotent and the pipeline exactly-once from the
  * reader's perspective (SURVEY §2.8).
  *
  * Stages (reference lines in parens):
  *  1. pair notify ↔ payload by stripped `.dbb` path (save:318-319)
  *  2. parse `key = value` notify records (save:49-56)
  *  3. classify filetype (save:36-45); unknown → reject
  *  4. duplicate anti-join vs registry (save:155-157)
  *  5. md5 verify payload vs declared (save:100-109, 170-177)
  *  6. FITS keyword-contract validation (save:158; etc/decam_src_keywords.txt)
  *  7. route: good → archive copy + the TWO registration appends — file
  *            metadata (save:160) and file location (save:193, the
  *            dup-check table) — mirroring the reference's split
  *            bad  → quarantine move + bad_file append (save:221-293)
  */
object IngestPipeline {

  /** Columns: path, name, content, mtime, declared md5/filesize, filetype,
    * reject_msg (null = good so far). The keyword contract defaults to the
    * full 264-row table (ref etc/decam_src_keywords.txt); deployments with
    * a different instrument swap the rows, not the code. */
  case class Config(
      stageDir: String,
      archiveDir: String,
      quarantineDir: String,
      registryDir: String,
      badFileDir: String,
      taskId: Long = 1L,
      // the reference's archive_name (cfg:9): the logical archive a
      // location row registers into (one deployment may host several)
      archiveName: String = "graft_archive",
      // file-location table dir — the reference registers file DATA and
      // file LOCATION separately (save:160 register_file_data vs save:193
      // register_file_in_archive); defaults next to the metadata registry
      locationDir: Option[String] = None,
      contract: Seq[graft.sources.KeywordContract.Entry] =
        graft.sources.KeywordContract.entries,
      // archive layout per filetype — the OPS_DIRECTORY_PATTERN dim
      // (save:342-343); ${var}s resolve against the per-row metadata
      // map. Data, not code: a layout change is a config edit.
      dirPatterns: Map[String, String] = Map(
        "raw"        -> "${filetype}/${name}",
        "snmanifest" -> "${filetype}/${name}"),
      // post-copy verification (save:84-112): re-md5 the destination,
      // retry a torn copy up to maxCopyTries with a sleep between tries
      maxCopyTries: Int = 5,
      copyRetrySleepMs: Long = 5000L,
      // test instrumentation: corrupts the destination between copy and
      // verify, simulating the torn copy the reference's loop defends
      // against (no production use)
      copyFault: Option[CopyFault] = None,
      // registry small-file compaction cadence: every ingest batch appends
      // a file set per nite dir, so file counts grow with batch count
      // forever; every N batches the stream rewrites the registry to
      // ~target-sized files (ScaleUtils.compactParquet). 0 disables.
      compactEveryBatches: Int = 0,
      compactTargetFileBytes: Long = 128L * 1024 * 1024) {
    /** Resolved file-location table dir (ref's FILE_ARCHIVE_INFO analog). */
    def locationTableDir: String = locationDir.getOrElse(registryDir + "_location")
  }

  /** Test hook: invoked as (attempt, fs, dst) after each copy attempt. */
  trait CopyFault extends Serializable {
    def apply(attempt: Int, fs: FileSystem, dst: Path): Unit
  }

  /** The reference's `read_config` (save:22-32, example
    * etc/examples/mgower_save_DBB_stagein_to_DBB.cfg): `key = value`
    * lines, `#` comments and blanks skipped. Reference key names map to
    * [[Config]] fields (`delivery_notice_dir` → stage, `bad_file_dir` →
    * quarantine, `dts_task_id` → task id); engine-specific dirs the
    * reference kept in its DB (`archive_dir`, `registry_dir`,
    * `bad_file_table_dir`) are plain keys here. Driver-side file read,
    * like the reference — config is not data. A missing key or a
    * non-integer `dts_task_id` fails with an IllegalArgumentException
    * naming the file and the key. */
  def configFromFile(path: String): Config = {
    val kv = scala.util.Using.resource(scala.io.Source.fromFile(path)) {
      _.getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
        .map { l =>
          val Array(k, v) = l.split("=", 2)
          k.trim -> v.trim
        }.toMap
    }
    def req(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"config $path: missing key $k"))
    Config(
      stageDir = req("delivery_notice_dir"),
      archiveDir = req("archive_dir"),
      quarantineDir = req("bad_file_dir"),
      registryDir = req("registry_dir"),
      badFileDir = req("bad_file_table_dir"),
      taskId = kv.get("dts_task_id").map(v => v.toLongOption.getOrElse(
        throw new IllegalArgumentException(
          s"config $path: key dts_task_id is not an integer: '$v'")))
        .getOrElse(1L),
      archiveName = kv.getOrElse("archive_name", "graft_archive"),
      locationDir = kv.get("location_dir"))
  }

  /** Pure planning core — testable without any filesystem writes.
    * Input: binaryFile-shaped DataFrames of notify files (`*.dbb`,
    * key=value text) and payload files, plus the current registry
    * (column `filename`). Output columns include `status`
    * ('archive' | 'quarantine'), `reject_msg`, `archive_path`. */
  def plan(spark: SparkSession, notifyDf: DataFrame, payloads: DataFrame,
      registry: DataFrame, cfg: Config): DataFrame = {
    import spark.implicits._

    // stage 1-2: pairing + notify record parse (key = value lines).
    // The pairing key is the notify path with `.dbb` stripped — the
    // reference's rule (save:318-319: notify and payload sit side by
    // side; the payload IS the notify path minus the suffix). Pairing on
    // the full path (not the basename) keeps the relationship 1:1 even
    // when a recursive stage layout carries the same delivery_name in
    // two directories: each notify row owns exactly its own payload
    // file, so the move stage can never archive one file and then try
    // to quarantine the same (already-consumed) path for the duplicate.
    val parsed = notifyDf
      .withColumn("notify_name", Derived.basenameOf(col("path")))
      .withColumn("delivery_name", Derived.payloadNameOf(col("notify_name")))
      .withColumn("expected_payload", regexp_replace(col("path"), "\\.dbb$", ""))
      .withColumn("kv", expr(
        "str_to_map(regexp_replace(cast(content as string), '\\\\s*=\\\\s*', '='), '\n', '=')"))
      .withColumn("declared_md5", lower(trim(element_at(col("kv"), "md5sum"))))
      .withColumn("declared_size",
        trim(element_at(col("kv"), "filesize")).cast("long"))
      .select(col("path").as("notify_path"), col("notify_name"),
        col("delivery_name"), col("expected_payload"),
        col("declared_md5"), col("declared_size"),
        col("modificationTime").as("delivered_at"))

    // S2/T1 (save:315-316): files are handled in notify-mtime order, so
    // when one batch carries the same delivery_name twice (e.g. recursive
    // stage layouts), the EARLIEST delivery wins and later ones are
    // duplicates. Set-oriented rendering of "process in mtime order":
    // a keyed first-wins rank — global sorting would serialize the batch
    // at scale and ordering only matters within a name collision anyway.
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("delivery_name"))
      .orderBy(col("delivered_at"), col("notify_path"))
    val ranked = parsed.withColumn("delivery_seq", row_number().over(seqW))

    val pay = payloads
      .select(col("path").as("payload_path"),
        col("content"), length(col("content")).as("actual_size"))

    // existence check (P2): notify without an adjacent payload → reject.
    // Equi-join on the full expected path — unique on both sides by
    // filesystem construction, so no dedup window is needed.
    val paired = ranked
      .join(pay, col("expected_payload") === col("payload_path"), "left_outer")
      .drop("expected_payload")

    // stage 3: classify; stage 4: duplicate check; stage 5: md5.
    // The registry join carries NO broadcast hint on purpose: the registry
    // is the one table that grows without bound (every file ever ingested),
    // so forcing a broadcast would eventually OOM the driver. Left to AQE,
    // small registries still broadcast; large ones shuffle on
    // delivery_name — and a registry written bucketed by filename
    // (ScaleUtils.writeBucketed) makes that shuffle one-sided.
    val checked = paired
      .withColumn("filetype", Derived.filetypeOf(col("delivery_name")))
      .join(registry.select(col("filename").as("delivery_name"))
        .withColumn("dup", lit(true)), Seq("delivery_name"), "left_outer")
      .withColumn("actual_md5", md5(col("content")))
      .withColumn("reject_msg",
        when(col("payload_path").isNull, "payload file missing")
          .when(col("filetype").isNull, "unknown filetype")
          .when(col("dup"), "duplicate file")
          .when(col("delivery_seq") > 1, "duplicate file")
          .when(col("declared_md5").isNotNull
            && col("actual_md5") =!= col("declared_md5"), "md5 mismatch")
          .when(col("declared_size").isNotNull
            && col("actual_size") =!= col("declared_size"), "filesize mismatch"))

    // stage 6: FITS keyword-contract validation, driven from the contract
    // TABLE (KeywordContract, ref etc/decam_src_keywords.txt consumed at
    // save:158,212-215) — the R-flagged slices per HDU kind become literal
    // arrays in the plan (the broadcast form of a 264-row dim), and
    // array_except is the per-HDU anti-join (contract-required MINUS
    // parsed keys) evaluated row-locally, so validation adds no shuffle.
    // The oracled q_keyword_contract exercises the same anti-join as an
    // explicit join-based plan.
    val reqPrimary = cfg.contract.filter(_.primary == "R").map(_.keyword).distinct
    val reqExt = cfg.contract.filter(_.extension == "R").map(_.keyword).distinct
    val validated = checked.withColumn("hdu_keys",
      when(col("filetype") === "raw" && col("reject_msg").isNull,
        udfHduKeys(col("content"))))
      .withColumn("missing_keywords",
        when(col("hdu_keys").isNotNull,
          concat(
            // primary HDU: required-primary minus parsed primary keys;
            // an unparseable payload (no HDUs) is missing all of them
            when(size(col("hdu_keys")) >= 1,
              array_except(lit(reqPrimary.toArray).cast("array<string>"),
                element_at(col("hdu_keys"), 1)))
              .otherwise(lit(reqPrimary.toArray).cast("array<string>")),
            // each extension HDU: required-extension minus its keys
            array_distinct(flatten(transform(
              slice(col("hdu_keys"), 2, Int.MaxValue - 8),
              ks => array_except(
                lit(reqExt.toArray).cast("array<string>"), ks)))))))
      .withColumn("reject_msg",
        when(col("reject_msg").isNotNull, col("reject_msg"))
          .when(col("missing_keywords").isNotNull && size(col("missing_keywords")) > 0,
            concat(lit("missing required keywords: "),
              array_join(col("missing_keywords"), ","))))

    // stage 7: routing + target paths. The archive path comes from the
    // dirPatterns dim (filetype → ${var} template, ref save:180-184)
    // joined on filetype — tiny config dim, left to AQE/size-estimation
    // to broadcast — and interpolated against the per-file metadata map.
    val patternsDf = cfg.dirPatterns.toSeq.toDF("filetype", "dirpat")
    val meta = map(
      lit("filetype"), coalesce(col("filetype"), lit("unknown")),
      lit("name"), col("delivery_name"),
      lit("yearmon"), Derived.yearMonthOf(col("delivered_at")))
    validated
      .join(patternsDf, Seq("filetype"), "left_outer")
      .withColumn("status",
        when(col("reject_msg").isNull, "archive").otherwise("quarantine"))
      .withColumn("archive_path",
        when(col("reject_msg").isNull, concat(lit(cfg.archiveDir + "/"),
          Derived.interpolate(
            coalesce(col("dirpat"), lit("${filetype}/${name}")), meta))))
      // computed for every row (not just rejects): a verified-copy
      // failure re-routes an 'archive' row here at move time
      .withColumn("quarantine_path",
        concat(lit(cfg.quarantineDir + "/"),
          Derived.yearMonthOf(col("delivered_at")), lit("/"),
          Derived.uniqName(col("delivery_name"), col("delivered_at")),
          // uniqName's ms-precision (name, mtime) collides across staging
          // DIRECTORIES (a copied tree preserves timestamps), and two
          // colliding quarantine moves would silently overwrite one
          // payload's evidence — suffix a short digest of the UNIQUE
          // notify path (the row key the move log also joins on)
          lit("."), substring(md5(col("notify_path").cast("binary")), 1, 8)))
      .withColumn("task_id", lit(cfg.taskId))
  }

  /** Per-HDU header keyword extraction as a UDF over the binary payload —
    * the one per-row kernel; everything around it stays relational.
    * Element 0 = primary header keys, elements 1+ = extension HDU keys. */
  private val udfHduKeys =
    udf((bytes: Array[Byte]) =>
      if (bytes == null) null
      else FitsHeader.parseAll(bytes).map(_.keys.toArray).toArray)

  /** Execute one micro-batch: route, perform distributed file moves, and
    * append the registry / bad-file tables. Safe to re-run (duplicate
    * anti-join turns replays into quarantine rows only if the notify file
    * still exists). */
  /** Layout guard: the batch/stream scan is RECURSIVE over stageDir, so
    * any output dir nested under it would be re-scanned as payloads each
    * batch (quarantined files re-quarantined, registry parquet "ingested").
    * The reference never hits this only because it lists one level
    * (save:318 `next(os.walk(notify_dir))[2]`); here the nesting is a
    * config error and is rejected loudly up front. */
  private[graft] def validateLayout(cfg: Config): Unit = {
    // nesting is only possible on the SAME filesystem: compare
    // (scheme, authority) first so s3://stage/dts never spuriously
    // rejects hdfs://nn/dts/registry on path overlap alone. An
    // UNQUALIFIED path resolves against fs.defaultFS at runtime, which
    // may be any of the others — treat missing scheme as a wildcard
    // (conservative: reject the overlap rather than silently allow the
    // re-ingestion loop this guard exists to prevent).
    def parse(s: String): (Option[(String, String)], java.nio.file.Path) = {
      val u = new Path(s).toUri
      val p = Option(u.getPath).filter(_.nonEmpty).getOrElse(s)
      (Option(u.getScheme).map(sc => (sc, Option(u.getAuthority).getOrElse(""))),
        java.nio.file.Paths.get(p).toAbsolutePath.normalize)
    }
    val (stageFs, stagePath) = parse(cfg.stageDir)
    Seq("archive_dir" -> cfg.archiveDir, "bad_file_dir" -> cfg.quarantineDir,
        "registry_dir" -> cfg.registryDir,
        "location_dir" -> cfg.locationTableDir,
        "bad_file_table_dir" -> cfg.badFileDir).foreach { case (name, d) =>
      val (dirFs, p) = parse(d)
      val sameFsPossible = stageFs.isEmpty || dirFs.isEmpty || stageFs == dirFs
      require(!sameFsPossible || !p.startsWith(stagePath),
        s"$name ($d) must not nest under delivery_notice_dir " +
          s"(${cfg.stageDir}): the recursive stage scan would re-ingest " +
          "its files as payloads every batch")
    }
  }

  def runBatch(spark: SparkSession, cfg: Config): IngestReport = {
    validateLayout(cfg)
    // Invalidate Spark's shared file-status cache for the stage dir: files
    // are moved/deleted/re-created between micro-batches, and stale
    // listings (old size/mtime) would poison this batch's scan.
    spark.catalog.refreshByPath(cfg.stageDir)
    // One scan of the stage dir serves both sides of the pairing join.
    // Recursive: delivery trees may nest (the same delivery_name can then
    // legally appear in two subdirectories — the duplicate case).
    val allFiles = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(cfg.stageDir)
    val notifyFiles = allFiles.where(col("path").endsWith(".dbb"))
    val payloads = allFiles.where(!col("path").endsWith(".dbb"))
    val registry = loadRegistry(spark, cfg)
    // Write the routing decision (a write-ahead manifest, content dropped)
    // to scratch parquet BEFORE any destructive move: downstream appends
    // and the move loop read the durable manifest, never the source files,
    // so deletion cannot race a lazy re-scan — and a crash mid-move leaves
    // a replayable manifest rather than half-vanished inputs.
    val batchDir = cfg.registryDir + "_batch"
    plan(spark, notifyFiles, payloads, registry, cfg)
      .drop("content", "kv", "hdu_keys")
      .write.mode(SaveMode.Overwrite).parquet(batchDir)
    val routed = spark.read.parquet(batchDir)

    // Commit order mirrors the reference (save:189-198): 1) move files,
    // 2) append registry / bad-file tables, 3) delete notify files LAST —
    // the notify file is the offset token, so any crash before step 3
    // leaves it in place and the batch retries. A retried half-done batch
    // degrades safely: an already-moved payload re-scans as "payload file
    // missing" with the notify preserved in the audit trail (same edge
    // behavior as the reference), never a silent registration loss.
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

    // Distributed move WITH post-copy verification (S15, save:84-112):
    // archive copies are re-md5'd against the payload's md5; a torn copy
    // is deleted and retried ≤ maxCopyTries; on exhaustion the source is
    // moved to quarantine instead and the row re-routes to the bad-file
    // table. The per-file outcome is materialized to parquet (the move
    // log) so this side-effecting stage executes exactly once — the
    // downstream appends re-read the log, never re-run the moves.
    import spark.implicits._
    val maxTries = cfg.maxCopyTries
    val sleepMs = cfg.copyRetrySleepMs
    val fault = cfg.copyFault
    val movesDir = batchDir + "_moves"
    routed.select("notify_path", "status", "payload_path", "archive_path",
        "quarantine_path", "actual_md5")
      .as[(String, String, Option[String], Option[String], Option[String],
        Option[String])]
      .mapPartitions { rows =>
        val fs = FileSystem.get(hadoopConf.value)
        rows.map { case (notifyPath, status, payloadOpt, archiveOpt, quarOpt,
            md5Opt) =>
          payloadOpt match {
            case None => (notifyPath, "no_payload", 0)
            case Some(p) =>
              val src = new Path(new java.net.URI(p).getPath)
              // tolerate a source that vanished between scan and move
              // (crash-retry of a half-moved batch): route to the
              // bad-file table without throwing mid-batch — a throw here
              // would abort AFTER some moves already happened.
              if (!fs.exists(src)) (notifyPath, "src_missing", 0)
              else if (status == "archive") {
                val dst = new Path(archiveOpt.get)
                // expected md5 = the scan-time payload digest from the
                // manifest — no second read of the source
                val tries = copyVerify(fs, src, dst, md5Opt,
                  maxTries, sleepMs, hadoopConf.value, fault)
                if (tries > 0) {
                  fs.delete(src, false)
                  (notifyPath, "archive_ok", tries)
                } else {
                  moveTo(fs, src, new Path(quarOpt.get), hadoopConf.value)
                  (notifyPath, "copy_failed", maxTries)
                }
              } else {
                moveTo(fs, src, new Path(quarOpt.get), hadoopConf.value)
                (notifyPath, "quarantined", 1)
              }
          }
        }
      }.toDF("notify_path", "outcome", "attempts")
      .write.mode(SaveMode.Overwrite).parquet(movesDir)
    val moves = spark.read.parquet(movesDir)

    // final routing folds the move outcomes back in: a verified-copy
    // failure turns an 'archive' row into a quarantine row. Joined on
    // notify_path — the unique per-row key (delivery_name may collide
    // within a batch).
    val finalRouted = routed.join(moves, Seq("notify_path"), "left_outer")
      .withColumn("final_status",
        when(col("outcome") === "archive_ok", "archive")
          .otherwise("quarantine"))
      .withColumn("reject_msg", coalesce(col("reject_msg"),
        when(col("outcome") === "copy_failed",
          concat(lit("copy verification failed after "), col("attempts"),
            lit(" tries")))
          .when(col("outcome") === "src_missing",
            lit("payload file missing at move time"))))

    // S6/S18: registration is SPLIT into the reference's two tables —
    // file metadata (register_file_data, save:160: filetype, digests,
    // sizes, provenance task) and file location (register_file_in_archive,
    // save:193: where in WHICH archive the file physically sits). They
    // evolve independently: a relocation/rebalance rewrites only the
    // location table; a metadata backfill touches only the metadata table.
    // Both are laid out partitioned by nite, mirroring the monitor's
    // per-nite registry queries (monitor:259-266 loops nites issuing one
    // query each) — a per-nite scan prunes to matching directories
    // (PartitionFilters) instead of reading the full history. The dup
    // anti-join is NOT nite-pruned on purpose: a duplicate may arrive any
    // number of nites after the original, so it must see the whole table.
    val archived = finalRouted.where(col("final_status") === "archive")
    archived
      .select(col("delivery_name").as("filename"), col("filetype"),
        col("actual_md5").as("md5sum"), col("actual_size").as("filesize"),
        col("delivered_at"), col("task_id"),
        Derived.niteOf(col("delivered_at")).as("nite"))
      .write.mode(SaveMode.Append).partitionBy("nite")
      .parquet(cfg.registryDir)
    // location LAST among registrations, mirroring the reference's order
    // (save:160 register_file_data before the move, save:193
    // register_file_in_archive after). Crash-retry between the two
    // appends is safe either way: the dup check unions BOTH tables'
    // filenames (any registration trace ⇒ never re-archive), so the
    // retry quarantines the half-registered file as a duplicate — an
    // audit row, never a silent drop or a double archive.
    archived
      .select(col("delivery_name").as("filename"),
        lit(cfg.archiveName).as("archive_name"), col("archive_path"),
        Derived.niteOf(col("delivered_at")).as("nite"))
      .write.mode(SaveMode.Append).partitionBy("nite")
      .parquet(cfg.locationTableDir)
    val badRows = finalRouted.where(col("final_status") === "quarantine")
      .select(col("task_id"), col("delivered_at").as("delivery_date"),
        col("delivery_name").as("orig_filename"),
        // uniq_fullname names the file physically placed in quarantine; a
        // source that vanished before the move OR a notify with no
        // adjacent payload placed nothing there, so the audit row must
        // not reference a nonexistent quarantine file
        when(col("outcome").isin("src_missing", "no_payload"),
          lit(null).cast("string"))
          .otherwise(Derived.basenameOf(col("quarantine_path")))
          .as("uniq_fullname"),
        current_timestamp().as("rejected_date"), col("reject_msg").as("rejected_msg"),
        col("actual_size").as("filesize"), col("filetype"))
    // P9/J4 (save:274-278): the bad-file table's schema may drift over
    // time (columns added or retired operationally); append whatever
    // intersects the table's CURRENT columns instead of failing
    existingSchema(spark, cfg.badFileDir) match {
      case Some(schema) =>
        graft.functions.ScaleUtils.projectOnto(badRows, schema)
          .write.mode(SaveMode.Append).parquet(cfg.badFileDir)
      case None =>
        badRows.write.mode(SaveMode.Append).parquet(cfg.badFileDir)
    }

    // offset commit: notify files removed only after tables are durable
    routed.select("notify_path")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = FileSystem.get(hadoopConf.value)
        rows.foreach { row =>
          fs.delete(new Path(new java.net.URI(row.getString(0)).getPath), false)
        }
      }

    // one job for both tallies (not a count() per branch)
    val counts = finalRouted.groupBy(col("final_status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    IngestReport(counts.getOrElse("archive", 0L),
      counts.getOrElse("quarantine", 0L))
  }

  /** Copy src→dst, then re-read dst and compare its md5 to the expected
    * digest — the reference's torn-copy defense (save:84-112). Up to
    * maxTries attempts with a sleep between them; a mismatching
    * destination is deleted before the retry. Returns the attempt number
    * that verified, or 0 when every attempt failed (dst left absent).
    * With no expected md5 the first copy is trusted (ref save:100-101). */
  private[graft] def copyVerify(fs: FileSystem, src: Path, dst: Path,
      expectedMd5: Option[String], maxTries: Int, sleepMs: Long,
      conf: org.apache.hadoop.conf.Configuration,
      fault: Option[CopyFault] = None): Int = {
    var attempt = 1
    while (attempt <= maxTries) {
      fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true, conf)
      fault.foreach(f => f(attempt, fs, dst))
      expectedMd5 match {
        case None => return attempt
        case Some(md5) =>
          if (md5Of(fs, dst) == md5) return attempt
          fs.delete(dst, false)
          if (attempt < maxTries && sleepMs > 0) Thread.sleep(sleepMs)
      }
      attempt += 1
    }
    0
  }

  /** Streaming md5 of a file's bytes (hex, lowercase). */
  private[graft] def md5Of(fs: FileSystem, p: Path): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { digest.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    digest.digest().map("%02x".format(_)).mkString
  }

  private def moveTo(fs: FileSystem, src: Path, dst: Path,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, true, true, conf)
  }

  /** Read-back gate for append-target tables — the shared rule lives in
    * [[graft.functions.ScaleUtils.hasParquetData]] (a zero-row append or
    * killed write leaves a dir `spark.read.parquet` throws on). */
  private def hasParquetFiles(spark: SparkSession, dir: String): Boolean =
    graft.functions.ScaleUtils.hasParquetData(spark, dir)

  /** Schema of an existing non-empty parquet dir, None when absent. */
  private def existingSchema(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    if (hasParquetFiles(spark, dir)) Some(spark.read.parquet(dir).schema)
    else None

  private def loadRegistry(spark: SparkSession, cfg: Config): DataFrame = {
    // Duplicate check reads the LOCATION table (ref save:155
    // is_file_in_archive — "in the archive" is the duplicate criterion),
    // UNIONED with the metadata table's filenames: pre-split deployments
    // have only the metadata table (upgrade must not forget the entire
    // dup history), and a crash between the two appends leaves metadata
    // without location — conservative rule: any registration trace means
    // never re-archive. Hadoop FS probe (not java.io.File): the tables
    // may live on HDFS/S3; only the scheme-resolved FS knows.
    def filenames(dir: String): Option[DataFrame] =
      if (hasParquetFiles(spark, dir))
        Some(spark.read.parquet(dir).select(col("filename")))
      else None
    // distinct: a registered file appears in BOTH tables — without it the
    // dup-check left join would multiply each paired row
    (filenames(cfg.locationTableDir) ++ filenames(cfg.registryDir))
      .reduceOption(_ union _).map(_.distinct())
      .getOrElse {
        import spark.implicits._
        Seq.empty[String].toDF("filename")
      }
  }

  /** Structured-streaming wrapper: file source over the stage dir,
    * micro-batches via Trigger.AvailableNow, each batch handled by the
    * same batch core (SURVEY §2.8 — cron ≙ trigger, notify deletion ≙
    * offset commit). */
  def runStream(spark: SparkSession, cfg: Config, checkpoint: String): Unit = {
    // streaming sources require an explicit schema — binaryFile's is fixed
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val stream = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.dbb")
      .option("recursiveFileLookup", "true").load(cfg.stageDir)
    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        runBatch(spark, cfg)
        maybeCompact(spark, cfg, batchId + 1)
      }
      .start()
    query.awaitTermination()
  }

  /** Registry compaction hook: called by [[runStream]] after each batch
    * (and usable from a driver batch loop) — every `compactEveryBatches`
    * completed batches the nite-partitioned registry is rewritten to
    * target-sized files. Correctness does not depend on it (registry
    * CONTENT is unchanged); only listing/scan overhead does. */
  def maybeCompact(spark: SparkSession, cfg: Config, batchesDone: Long): Unit =
    if (cfg.compactEveryBatches > 0 &&
        batchesDone % cfg.compactEveryBatches == 0) {
      // both per-batch-append tables accumulate small files. No exists
      // probe here: compactParquet resolves its own FileSystem per path
      // (cross-filesystem layouts stay safe) and is a (0,0) no-op on an
      // absent or parquet-less dir — one guard, owned by the callee
      Seq(cfg.registryDir, cfg.locationTableDir).foreach { dir =>
        graft.functions.ScaleUtils.compactParquet(spark, dir,
          cfg.compactTargetFileBytes)
      }
    }

  case class IngestReport(archived: Long, quarantined: Long)
}
