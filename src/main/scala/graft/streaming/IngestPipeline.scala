package graft.streaming

import org.apache.hadoop.fs.{FileSystem, FileUtil, LocalFileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import graft.functions.{Concurrently, Derived, FitsHeader}

/** The ingest pipeline — reference E1 (`save_DBB_stagein_to_DBB.py`,
  * SURVEY.md §3.E1) re-expressed as a set-oriented Spark program.
  *
  * The reference processes one file at a time in a Python loop with
  * exception-driven routing (save:120-217). Here each per-file step is a
  * whole-DataFrame stage that *emits an error column instead of throwing*
  * (SURVEY §7.4.3); rows route to the archive branch or the dead-letter
  * branch at the end. Replays are no-ops because the duplicate check looks
  * every name up in the registry (J2, save:155-157) — this is what makes
  * `foreachBatch` idempotent and the pipeline exactly-once from the
  * reader's perspective (SURVEY §2.8).
  *
  * Each payload is read once: one scan of the stage dir projects every
  * file to (path, mtime, size, md5, keyword verdict, notify fields), and
  * only that narrow row travels on. Stages (reference lines in parens):
  *  1. pair notify ↔ payload by stripped `.dbb` path (save:318-319)
  *  2. parse `key = value` notify records (save:49-56)
  *  3. classify filetype (save:36-45); unknown → reject
  *  4. duplicate check vs registry (save:155-157)
  *  5. md5 verify payload vs declared (save:100-109, 170-177)
  *  6. FITS keyword-contract validation (save:158; etc/decam_src_keywords.txt)
  *  7. route: good → archive move + the TWO registration appends — file
  *            metadata (save:160) and file location (save:193, the
  *            dup-check table) — mirroring the reference's split
  *            bad  → quarantine move + bad_file append (save:221-293)
  *
  * Archive moves (S15): when the archive shares the stage dir's
  * FileSystem, a guarded rename — atomic, so it cannot tear — after
  * checking the payload still has the scan's size and mtime. Across
  * FileSystems (the reference's case: DTS moves files across mounts,
  * save:84-112), or when the guard or the rename fails, a copy whose
  * destination is re-md5'd against the scan's digest, with retries.
  */
object IngestPipeline {

  /** One ingest deployment: its directories, task id and policies. The
    * keyword contract defaults to the
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
    * Input: one binaryFile-shaped DataFrame of every staged file (`path`,
    * `modificationTime`, `content`): notify files (`*.dbb`, key=value
    * text) and payload files side by side, plus the current registry
    * (column `filename`). Output: one row per notify with `status`
    * ('archive' | 'quarantine'), `reject_msg`, `archive_path`, the
    * scan-time payload digest and size, and the payload's mtime (the
    * rename guard's witness). */
  def plan(spark: SparkSession, files: DataFrame, registry: DataFrame,
      cfg: Config): DataFrame = {
    // stage 1, inside the scan: every staged file is projected to a
    // narrow row before anything else touches it, so each payload byte
    // is read exactly once (md5, size and the FITS header parse share
    // that read) and no `content` column ever reaches an exchange.
    // The pairing key is the path with `.dbb` stripped — the reference's
    // rule (save:318-319: notify and payload sit side by side; the
    // payload IS the notify path minus the suffix). Pairing on the full
    // path (not the basename) keeps the relationship 1:1 even when a
    // recursive stage layout carries the same delivery_name in two
    // directories: each notify row owns exactly its own payload file, so
    // the move stage can never archive one file and then try to
    // quarantine the same (already-consumed) path for the duplicate.
    val isNotify = col("path").endsWith(".dbb")
    val pairKey = regexp_replace(col("path"), "\\.dbb$", "")
    val isRaw = Derived.filetypeOf(Derived.basenameOf(pairKey)) === "raw"
    val scanned = files.select(
      Derived.basenameOf(pairKey).as("delivery_name"), pairKey.as("pair_key"),
      col("path"), isNotify.as("is_notify"), col("modificationTime").as("mtime"),
      // stage 2: `key = value` notify records (save:49-56)
      when(isNotify, expr("str_to_map(regexp_replace(cast(content as string), " +
        "'\\\\s*=\\\\s*', '='), '\n', '=')")).as("kv"),
      when(!isNotify, md5(col("content"))).as("actual_md5"),
      when(!isNotify, length(col("content"))).as("actual_size"),
      when(!isNotify && isRaw, udfHduKeys(col("content"))).as("hdu_keys"))
    val narrow = scanned.select(col("delivery_name"), col("pair_key"),
      col("path"), col("is_notify"), col("mtime"),
      lower(trim(element_at(col("kv"), "md5sum"))).as("declared_md5"),
      trim(element_at(col("kv"), "filesize")).cast("long").as("declared_size"),
      col("actual_md5"), col("actual_size"),
      keywordVerdict(col("hdu_keys"), cfg).as("keyword_msg"),
      lit(false).as("registered"))

    // stage 4 input: the registry's names ride the same shuffle as the
    // staged files. The registry is the one table that grows without
    // bound (every file ever ingested), so it is never broadcast: its
    // names are hash-partitioned on delivery_name next to the stage rows,
    // and a per-name window flags the duplicates — no join at all.
    val registered = registry.select(col("filename").as("delivery_name"),
      lit(true).as("registered"))

    // One shuffle keyed by delivery_name serves the duplicate flag, the
    // notify↔payload pairing (grouped on the full stripped path, a
    // sub-key of the name) and the first-wins rank below: hash
    // partitioning on delivery_name satisfies all three.
    val byName = Window.partitionBy(col("delivery_name"))
    val paired = narrow.unionByName(registered, allowMissingColumns = true)
      .repartition(col("delivery_name"))
      .withColumn("dup", max(col("registered")).over(byName))
      .where(!col("registered"))
      .groupBy(col("delivery_name"), col("pair_key"))
      .agg(
        max(when(col("is_notify"), col("path"))).as("notify_path"),
        max(when(col("is_notify"), col("mtime"))).as("delivered_at"),
        max(col("declared_md5")).as("declared_md5"),
        max(col("declared_size")).as("declared_size"),
        max(when(!col("is_notify"), col("path"))).as("payload_path"),
        max(when(!col("is_notify"), unix_millis(col("mtime"))))
          .as("payload_mtime_ms"),
        max(col("actual_md5")).as("actual_md5"),
        max(col("actual_size")).as("actual_size"),
        max(col("keyword_msg")).as("keyword_msg"),
        max(col("dup")).as("dup"))
      // a payload without a notify is not a delivery (yet)
      .where(col("notify_path").isNotNull)

    // S2/T1 (save:315-316): files are handled in notify-mtime order, so
    // when one batch carries the same delivery_name twice (e.g. recursive
    // stage layouts), the EARLIEST delivery wins and later ones are
    // duplicates. Set-oriented rendering of "process in mtime order":
    // a keyed first-wins rank — global sorting would serialize the batch
    // at scale and ordering only matters within a name collision anyway.
    // stage 3: classify; stage 4: duplicate check; stage 5: md5 and size
    // (existence check P2: a notify without an adjacent payload is a
    // reject); stage 6: the keyword verdict computed in the scan.
    val checked = paired
      .withColumn("delivery_seq", row_number().over(
        byName.orderBy(col("delivered_at"), col("notify_path"))))
      .withColumn("filetype", Derived.filetypeOf(col("delivery_name")))
      .withColumn("reject_msg",
        when(col("payload_path").isNull, "payload file missing")
          .when(col("filetype").isNull, "unknown filetype")
          .when(col("dup"), "duplicate file")
          .when(col("delivery_seq") > 1, "duplicate file")
          .when(col("declared_md5").isNotNull
            && col("actual_md5") =!= col("declared_md5"), "md5 mismatch")
          .when(col("declared_size").isNotNull
            && col("actual_size") =!= col("declared_size"), "filesize mismatch")
          .when(col("filetype") === "raw", col("keyword_msg")))

    // stage 7: routing + target paths. The archive path comes from the
    // dirPatterns dim (filetype → ${var} template, ref save:180-184) — a
    // config-sized map, looked up as a literal — interpolated against the
    // per-file metadata map.
    val meta = map(
      lit("filetype"), coalesce(col("filetype"), lit("unknown")),
      lit("name"), col("delivery_name"),
      lit("yearmon"), Derived.yearMonthOf(col("delivered_at")))
    checked
      .withColumn("status",
        when(col("reject_msg").isNull, "archive").otherwise("quarantine"))
      .withColumn("archive_path",
        when(col("reject_msg").isNull, concat(lit(cfg.archiveDir + "/"),
          Derived.interpolate(
            coalesce(element_at(typedLit(cfg.dirPatterns), col("filetype")),
              lit("${filetype}/${name}")), meta))))
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
          // notify path (the row key of the manifest)
          lit("."), substring(md5(col("notify_path").cast("binary")), 1, 8)))
      .withColumn("task_id", lit(cfg.taskId))
      .drop("pair_key", "keyword_msg", "dup")
  }

  /** Stage 6: FITS keyword-contract validation, driven from the contract
    * TABLE (KeywordContract, ref etc/decam_src_keywords.txt consumed at
    * save:158,212-215) — the R-flagged slices per HDU kind become literal
    * arrays in the plan (the broadcast form of a 264-row dim), and
    * array_except is the per-HDU anti-join (contract-required MINUS
    * parsed keys) evaluated row-locally, so validation adds no shuffle.
    * `hduKeys` is element 0 = primary keys, 1+ = extension keys; null
    * (not a raw payload) gives null. The oracled q_keyword_contract
    * exercises the same anti-join as an explicit join-based plan. */
  private def keywordVerdict(hduKeys: Column, cfg: Config): Column = {
    def required(keys: Seq[String]) = lit(keys.distinct.toArray).cast("array<string>")
    val reqPrimary = required(cfg.contract.filter(_.primary == "R").map(_.keyword))
    val reqExt = required(cfg.contract.filter(_.extension == "R").map(_.keyword))
    val missing = concat(
      // primary HDU: required-primary minus parsed primary keys; an
      // unparseable payload (no HDUs) is missing all of them
      when(size(hduKeys) >= 1, array_except(reqPrimary, element_at(hduKeys, 1)))
        .otherwise(reqPrimary),
      // each extension HDU: required-extension minus its keys
      array_distinct(flatten(transform(slice(hduKeys, lit(2), size(hduKeys)),
        ks => array_except(reqExt, ks)))))
    when(hduKeys.isNotNull, concat(lit("missing required keywords: "),
      nullif(array_join(missing, ","), lit(""))))
  }

  /** Per-HDU header keyword extraction as a UDF over the binary payload —
    * the one per-row kernel; everything around it stays relational.
    * Element 0 = primary header keys, elements 1+ = extension HDU keys. */
  private val udfHduKeys =
    udf((bytes: Array[Byte]) =>
      if (bytes == null) null
      else FitsHeader.parseAll(bytes).map(_.keys.toArray).toArray)

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

  /** Execute one micro-batch: route, perform distributed file moves, and
    * append the registry / bad-file tables. Safe to re-run (the duplicate
    * check turns replays into quarantine rows only if the notify file
    * still exists).
    *
    * Commit order mirrors the reference (save:189-198): 0) the write-ahead
    * manifest, 1) move files, 2) append registry / bad-file tables, 3)
    * delete notify files LAST — the notify file is the offset token, so
    * any crash before step 3 leaves it in place and the batch retries. A
    * retried half-done batch degrades safely: an already-moved payload
    * re-scans as "payload file missing" with the notify preserved in the
    * audit trail (same edge behavior as the reference), never a silent
    * registration loss. */
  def runBatch(spark: SparkSession, cfg: Config): IngestReport = {
    validateLayout(cfg)
    val routed = moveFiles(spark, cfg, writeManifest(spark, cfg))
    register(spark, cfg, routed)
    commitNotifies(spark, routed)
  }

  /** Stages 1-7: one scan of the stage dir, planned and written as the
    * write-ahead manifest (scratch parquet) BEFORE any destructive move:
    * the move stage and every append read the durable manifest, never
    * the source files, so deletion cannot race a lazy re-scan — and a
    * crash mid-move leaves a replayable manifest rather than half-vanished
    * inputs. Returns the manifest, read back under the schema it was
    * written with (no schema-inference job). */
  private[graft] def writeManifest(spark: SparkSession, cfg: Config): DataFrame = {
    // Invalidate Spark's shared file-status cache for the stage dir: files
    // are moved/deleted/re-created between micro-batches, and stale
    // listings (old size/mtime) would poison this batch's scan.
    spark.catalog.refreshByPath(cfg.stageDir)
    // Recursive: delivery trees may nest (the same delivery_name can then
    // legally appear in two subdirectories — the duplicate case).
    val files = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(cfg.stageDir)
    graft.functions.ScaleUtils.stored(
      plan(spark, files, loadRegistry(spark, cfg), cfg), cfg.registryDir + "_batch")
  }

  /** Distributed move with the per-file outcome folded into the manifest
    * rows (S15, save:84-112). An archive row whose payload sits on the
    * archive's FileSystem is renamed, after a guard: its size and mtime
    * must still equal the scan's, so the registered md5 and size describe
    * the bytes that land in the archive. Everywhere else — another
    * FileSystem, a guard mismatch, a rename that fails — the payload is
    * copied and the copy re-md5'd against the scan's digest ([[copyVerify]]);
    * a torn copy is deleted and retried ≤ maxCopyTries, and on exhaustion
    * the source is moved to quarantine and the row re-routes to the
    * bad-file table. Every path resolves its own FileSystem (scheme kept),
    * so a stage, archive or quarantine dir on a non-default scheme is
    * moved on the right one. The routed rows (manifest columns plus
    * `outcome`, `attempts`, `final_status`, `rejected_at_ms`, folded
    * `reject_msg`) are materialized to parquet so this side-effecting
    * stage executes exactly once; every later step reads that one table. */
  private[graft] def moveFiles(spark: SparkSession, cfg: Config,
      manifest: DataFrame): DataFrame = {
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val in = manifest.schema
    val out = in.add("outcome", StringType).add("attempts", IntegerType)
      .add("final_status", StringType).add("rejected_at_ms", LongType)
    val Seq(iStatus, iPayload, iMtime, iMd5, iSize, iArchive, iQuar, iMsg) =
      Seq("status", "payload_path", "payload_mtime_ms", "actual_md5",
        "actual_size", "archive_path", "quarantine_path", "reject_msg")
        .map(in.fieldIndex)
    val maxTries = cfg.maxCopyTries
    val sleepMs = cfg.copyRetrySleepMs
    val fault = cfg.copyFault
    val movesDir = cfg.registryDir + "_batch_moves"
    graft.functions.ScaleUtils.stored(manifest.mapPartitions { rows =>
      val conf = hadoopConf.value
      rows.map { r =>
        val (outcome, attempts) = Option(r.getString(iPayload)) match {
          case None => ("no_payload", 0)
          case Some(p) =>
            val src = new Path(p)
            val fs = src.getFileSystem(conf)
            // tolerate a source that vanished between scan and move
            // (crash-retry of a half-moved batch): route to the
            // bad-file table without throwing mid-batch — a throw here
            // would abort AFTER some moves already happened.
            if (!fs.exists(src)) ("src_missing", 0)
            else if (r.getString(iStatus) == "archive") {
              val tries = archive(fs, src, new Path(r.getString(iArchive)),
                r.getString(iMd5), r.getInt(iSize), r.getLong(iMtime),
                maxTries, sleepMs, conf, fault)
              if (tries > 0) ("archive_ok", tries)
              else {
                moveTo(fs, src, new Path(r.getString(iQuar)), conf)
                ("copy_failed", maxTries)
              }
            } else {
              moveTo(fs, src, new Path(r.getString(iQuar)), conf)
              ("quarantined", 1)
            }
        }
        val msg = Option(r.getString(iMsg)).getOrElse(outcome match {
          case "copy_failed" => s"copy verification failed after $attempts tries"
          case "src_missing" => "payload file missing at move time"
          case _ => null
        })
        // a reject is stamped when its file is handled, as the reference
        // inserts each bad-file row while it handles that file
        // (save:280-289)
        val archived = outcome == "archive_ok"
        Row.fromSeq(r.toSeq.updated(iMsg, msg) ++ Seq(outcome, attempts,
          if (archived) "archive" else "quarantine",
          if (archived) null else System.currentTimeMillis()))
      }
    }(Encoders.row(out)), movesDir)
  }

  /** Archive one payload that exists at `src`: a guarded rename when
    * `dst` is on the same FileSystem and the file still has the scan's
    * size and mtime, else [[copyVerify]] against the scan's md5 (the
    * source is deleted once a copy verifies). Returns the attempt that
    * succeeded (a rename is attempt 1), or 0 when every copy failed. */
  private def archive(fs: FileSystem, src: Path, dst: Path, md5: String,
      size: Int, mtimeMs: Long, maxTries: Int, sleepMs: Long,
      conf: org.apache.hadoop.conf.Configuration,
      fault: Option[CopyFault]): Int = {
    val dstFs = dst.getFileSystem(conf)
    val renamed = fs.getUri == dstFs.getUri && {
      val st = fs.getFileStatus(src)
      st.getLen == size && st.getModificationTime == mtimeMs && {
        fs.mkdirs(dst.getParent)
        renameOnly(fs, src, dst)
      }
    }
    if (renamed) 1
    else {
      val tries = copyVerify(fs, src, dstFs, dst, Some(md5), maxTries,
        sleepMs, conf, fault)
      if (tries > 0) fs.delete(src, false)
      tries
    }
  }

  /** Rename that never degrades to a copy. Hadoop's local filesystem
    * falls back to an unverified copy-and-delete when rename(2) fails —
    * exactly the cross-mount layout the copy-verify arm exists for — so
    * local paths move through java.nio's ATOMIC_MOVE, which fails
    * instead, and take their checksum sidecar along. False sends the
    * caller to its copy arm. */
  private def renameOnly(fs: FileSystem, src: Path, dst: Path): Boolean =
    fs match {
      case local: LocalFileSystem =>
        def file(p: Path) = local.pathToFile(p).toPath
        def move(s: Path, d: Path) = scala.util.Try(java.nio.file.Files.move(
          file(s), file(d), java.nio.file.StandardCopyOption.ATOMIC_MOVE))
        val moved = move(src, dst).isSuccess
        // the data moved: a checksum sidecar left behind would fail the
        // next read of a new file staged under the same name
        val crc = local.getChecksumFile(src)
        if (moved && java.nio.file.Files.exists(file(crc)))
          move(crc, local.getChecksumFile(dst))
            .recover { case _ => java.nio.file.Files.deleteIfExists(file(crc)) }
        moved
      case _ => fs.rename(src, dst)
    }

  /** S6/S18: registration is SPLIT into the reference's two tables —
    * file metadata (register_file_data, save:160: filetype, digests,
    * sizes, provenance task) and file location (register_file_in_archive,
    * save:193: where in WHICH archive the file physically sits). They
    * evolve independently: a relocation/rebalance rewrites only the
    * location table; a metadata backfill touches only the metadata table.
    * Both are laid out partitioned by nite, mirroring the monitor's
    * per-nite registry queries (monitor:259-266 loops nites issuing one
    * query each) — a per-nite scan prunes to matching directories
    * (PartitionFilters) instead of reading the full history. The dup
    * check is NOT nite-pruned on purpose: a duplicate may arrive any
    * number of nites after the original, so it must see the whole table.
    * Rejects append to the bad-file table. All three read `routed`, the
    * one table the move stage wrote, and append to three different
    * directories, so they run as one concurrent wave
    * ([[graft.functions.Concurrently.all]]): the call returns once all
    * three are durable, or rethrows the first failure after every append
    * has stopped. */
  private[graft] def register(spark: SparkSession, cfg: Config,
      routed: DataFrame): Unit = {
    val archived = routed.where(col("final_status") === "archive")
    val metadata = archived
      .select(col("delivery_name").as("filename"), col("filetype"),
        col("actual_md5").as("md5sum"), col("actual_size").as("filesize"),
        col("delivered_at"), col("task_id"),
        Derived.niteOf(col("delivered_at")).as("nite"))
    val location = archived
      .select(col("delivery_name").as("filename"),
        lit(cfg.archiveName).as("archive_name"), col("archive_path"),
        Derived.niteOf(col("delivered_at")).as("nite"))
    val badRows = routed.where(col("final_status") === "quarantine")
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
        timestamp_millis(col("rejected_at_ms")).as("rejected_date"),
        col("reject_msg").as("rejected_msg"),
        col("actual_size").as("filesize"), col("filetype"))
    // The reference registers metadata before the move (save:160) and the
    // location after it (save:193); here the three appends run at once,
    // so a crash can leave either registration without the other.
    // Crash-retry is safe in both cases: the dup check reads BOTH tables'
    // filenames (any registration trace ⇒ never re-archive), so the retry
    // quarantines the half-registered file as a duplicate — an audit row,
    // never a silent drop or a double archive.
    Concurrently.all(spark, Seq(
      () => metadata.write.mode(SaveMode.Append).partitionBy("nite")
        .parquet(cfg.registryDir),
      () => location.write.mode(SaveMode.Append).partitionBy("nite")
        .parquet(cfg.locationTableDir),
      // P9/J4 (save:274-278): the bad-file table's schema may drift over
      // time (columns added or retired operationally); append whatever
      // intersects the table's CURRENT columns instead of failing — the
      // one table whose schema is read, not known
      () => existingSchema(spark, cfg.badFileDir)
        .fold(badRows)(graft.functions.ScaleUtils.projectOnto(badRows, _))
        .write.mode(SaveMode.Append).parquet(cfg.badFileDir)))
  }

  /** Offset commit: notify files are removed only after the tables are
    * durable; the same pass tallies the routed rows (one job for the
    * deletes and both counts). Each notify path resolves its own
    * FileSystem, so a stage dir on a non-default scheme is drained. */
  private[graft] def commitNotifies(spark: SparkSession,
      routed: DataFrame): IngestReport = {
    import spark.implicits._
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val (archived, quarantined) = routed.select("notify_path", "final_status")
      .as[(String, String)]
      .mapPartitions { rows =>
        val conf = hadoopConf.value
        var a, q = 0L
        rows.foreach { case (notify, status) =>
          val p = new Path(notify)
          p.getFileSystem(conf).delete(p, false)
          if (status == "archive") a += 1 else q += 1
        }
        Iterator((a, q))
      }.collect().foldLeft((0L, 0L)) { case ((a, q), (x, y)) => (a + x, q + y) }
    IngestReport(archived, quarantined)
  }

  /** Copy src→dst, then re-read dst and compare its md5 to the expected
    * digest — the reference's torn-copy defense (save:84-112), the only
    * arm that can move a file between FileSystems. Up to maxTries
    * attempts with a sleep between them; a mismatching destination is
    * deleted before the retry. Returns the attempt number that verified,
    * or 0 when every attempt failed (dst left absent). With no expected
    * md5 the first copy is trusted (ref save:100-101). */
  private[graft] def copyVerify(srcFs: FileSystem, src: Path,
      dstFs: FileSystem, dst: Path, expectedMd5: Option[String],
      maxTries: Int, sleepMs: Long, conf: org.apache.hadoop.conf.Configuration,
      fault: Option[CopyFault] = None): Int = {
    var attempt = 1
    while (attempt <= maxTries) {
      dstFs.mkdirs(dst.getParent)
      FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf)
      fault.foreach(f => f(attempt, dstFs, dst))
      expectedMd5 match {
        case None => return attempt
        case Some(md5) =>
          if (md5Of(dstFs, dst) == md5) return attempt
          dstFs.delete(dst, false)
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

  /** Quarantine move: rename when `dst` is on the same FileSystem, else
    * (or when the rename fails) copy and delete the source. */
  private def moveTo(fs: FileSystem, src: Path, dst: Path,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val dstFs = dst.getFileSystem(conf)
    dstFs.mkdirs(dst.getParent)
    if (fs.getUri != dstFs.getUri || !renameOnly(fs, src, dst))
      FileUtil.copy(fs, src, dstFs, dst, true, true, conf)
  }

  /** Schema of an existing non-empty parquet dir, None when absent: the
    * footer of its newest data file (by modification time, then name),
    * read on the driver — no Spark job. Spark stores its own schema in
    * the footer metadata; a file from another writer converts from its
    * parquet schema, as the reader's own inference does. */
  private def existingSchema(spark: SparkSession, dir: String)
      : Option[StructType] = {
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = graft.functions.ScaleUtils
      .parquetDataFiles(root.getFileSystem(conf), root)
    files.maxByOption(st => (st.getModificationTime, st.getPath.getName))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        val meta = try r.getFooter.getFileMetaData finally r.close()
        Option(meta.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          .map(json => org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[StructType])
          .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
      }
  }

  private def loadRegistry(spark: SparkSession, cfg: Config): DataFrame = {
    // Duplicate check reads the LOCATION table (ref save:155
    // is_file_in_archive — "in the archive" is the duplicate criterion),
    // UNIONED with the metadata table's filenames: pre-split deployments
    // have only the metadata table (upgrade must not forget the entire
    // dup history), and a crash during the concurrent appends can leave
    // either registration without the other — conservative rule: any
    // registration trace means never re-archive. A name in both tables
    // appears twice; the dup flag is a per-name max, so that multiplies
    // nothing. Hadoop FS probe (not
    // java.io.File): the tables may live on HDFS/S3; only the
    // scheme-resolved FS knows. Both tables are written by this pipeline,
    // so they are read under the one column needed (no schema-inference
    // job per batch).
    def filenames(dir: String): Option[DataFrame] =
      if (graft.functions.ScaleUtils.hasParquetData(spark, dir))
        Some(spark.read.schema("filename STRING").parquet(dir)
          .select(col("filename")))
      else None
    (filenames(cfg.locationTableDir) ++ filenames(cfg.registryDir))
      .reduceOption(_ union _)
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
