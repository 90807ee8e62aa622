package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import graft.functions.FitsHeader
import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.Config
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end ingest (reference E1): temp stage-in dir with notify/payload
  * pairs exercising every routing branch, then conservation + idempotence
  * invariants (SURVEY §5.2). */
class IngestPipelineSpec extends SparkSpec {

  private def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  /** The reference's notify-file body for a payload — ONE definition so
    * a format change cannot silently miss a fixture. */
  private def notifyBytesFor(payload: Array[Byte]): Array[Byte] =
    s"md5sum = ${md5hex(payload)}\nfilesize = ${payload.length}\n".getBytes

  /** Full required-primary card set per the keyword contract table. */
  private def primaryCards: Seq[(String, String)] =
    graft.sources.KeywordContract.requiredPrimary.map(_ -> "v")

  /** Full required-extension card set per the keyword contract table. */
  private def extCards: Seq[(String, String)] =
    graft.sources.KeywordContract.requiredExtension.map(_ -> "1")

  private def writeFixtures(stage: Path): Unit = {
    def put(name: String, bytes: Array[Byte]): Unit =
      Files.write(stage.resolve(name), bytes)
    def notifyFor(name: String, bytes: Array[Byte], md5: Option[String] = None)
        : Unit =
      put(name + ".dbb", md5 match {
        case None => notifyBytesFor(bytes)
        case Some(m) => s"md5sum = $m\nfilesize = ${bytes.length}\n".getBytes
      })

    // good FITS with every contract-required primary keyword, written
    // through Hadoop's local FileSystem: it leaves a `.crc` sidecar that
    // the archive move must take along
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    val out = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .create(new org.apache.hadoop.fs.Path(stage.resolve("DECam_00000001.fits.fz").toString))
    out.write(good); out.close()
    notifyFor("DECam_00000001.fits.fz", good)
    // manifest (no keyword contract)
    val man = """{"nite": "20240115"}""".getBytes
    put("manifest_SN1.json", man); notifyFor("manifest_SN1.json", man)
    // bad md5
    val badMd5 = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    put("DECam_00000002.fits.fz", badMd5)
    notifyFor("DECam_00000002.fits.fz", badMd5, Some("0" * 32))
    // missing required keyword (no RA)
    val noRa = FitsHeader.render(
      Seq("SIMPLE" -> "T") ++ primaryCards.filterNot(_._1 == "RA"))
    put("DECam_00000003.fits.fz", noRa); notifyFor("DECam_00000003.fits.fz", noRa)
    // unknown filetype
    val junk = "hello".getBytes
    put("junk.txt", junk); notifyFor("junk.txt", junk)
    // notify without payload
    Files.write(stage.resolve("DECam_00000009.fits.fz.dbb"),
      "md5sum = abc\n".getBytes)
  }

  /** `dir` on the spec's second local scheme (`xfs://`, registered in the
    * session's Hadoop conf): a different FileSystem from the stage dir's,
    * so moves into it take the copy-verify arm. */
  private def onXfs(dir: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.xfs.impl", classOf[XfsFileSystem].getName)
    "xfs://" + Paths.get(dir).toAbsolutePath
  }

  private def mkConfig(): (Path, Config) = {
    val root = Files.createTempDirectory("ingest")
    val stage = Files.createDirectory(root.resolve("stage"))
    (stage, Config(
      stageDir = stage.toString,
      archiveDir = root.resolve("archive").toString,
      quarantineDir = root.resolve("bad").toString,
      registryDir = root.resolve("registry").toString,
      badFileDir = root.resolve("bad_file").toString))
  }

  test("routing: good files archived, bad files quarantined, conservation") {
    val (stage, cfg) = mkConfig()
    writeFixtures(stage)
    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 2, "good FITS + manifest")
    assert(report.quarantined == 4, "bad md5, missing keyword, junk, no payload")

    // conservation: every notify consumed, each payload in exactly one place
    assert(stage.toFile.listFiles().isEmpty, "stage dir fully drained")
    val registry = spark.read.parquet(cfg.registryDir)
    assert(registry.count() == 2)
    val reg = registry.collect().map(_.getAs[String]("filename")).toSet
    assert(reg == Set("DECam_00000001.fits.fz", "manifest_SN1.json"))
    // two-table registration (S18): metadata carries file data, the
    // location table carries (archive_name, archive_path) — 1:1 rows
    assert(!registry.columns.contains("archive_path"),
      "metadata table must not carry location")
    val loc = spark.read.parquet(cfg.locationTableDir)
    assert(loc.collect().map(_.getAs[String]("filename")).toSet == reg)
    assert(loc.collect().forall(_.getAs[String]("archive_name")
      == cfg.archiveName))
    loc.collect().foreach(r => assert(Files.exists(
      Paths.get(r.getAs[String]("archive_path"))), "location rows point at real files"))
    assert(Files.exists(
      Paths.get(cfg.archiveDir, "raw", "DECam_00000001.fits.fz")))
    assert(Files.exists(
      Paths.get(cfg.archiveDir, "snmanifest", "manifest_SN1.json")))
    // the sidecar moved with its file: a checksummed read still verifies
    val archivedFits = new org.apache.hadoop.fs.Path(
      Paths.get(cfg.archiveDir, "raw", "DECam_00000001.fits.fz").toString)
    val localFs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(localFs.exists(localFs.getChecksumFile(archivedFits)))
    val in = localFs.open(archivedFits)
    try assert(in.readAllBytes().length > 0) finally in.close()

    val bad = spark.read.parquet(cfg.badFileDir)
    val msgs = bad.collect().map(r => r.getAs[String]("orig_filename") ->
      r.getAs[String]("rejected_msg")).toMap
    assert(msgs("DECam_00000002.fits.fz") == "md5 mismatch")
    assert(msgs("DECam_00000003.fits.fz").contains("missing required keywords"))
    assert(msgs("DECam_00000003.fits.fz").contains("RA"))
    assert(msgs("junk.txt") == "unknown filetype")
    assert(msgs("DECam_00000009.fits.fz") == "payload file missing")
  }

  test("idempotence: replaying an already-registered file is a duplicate") {
    val (stage, cfg) = mkConfig()
    writeFixtures(stage)
    IngestPipeline.runBatch(spark, cfg)
    // redeliver the same good file
    val good = FitsHeader.render(Seq("SIMPLE" -> "T", "DATE-OBS" -> "x",
      "FILTER" -> "g", "RA" -> "5"))
    Files.write(stage.resolve("DECam_00000001.fits.fz"), good)
    Files.write(stage.resolve("DECam_00000001.fits.fz.dbb"),
      notifyBytesFor(good))
    val second = IngestPipeline.runBatch(spark, cfg)
    assert(second.archived == 0)
    assert(second.quarantined == 1)
    val registry = spark.read.parquet(cfg.registryDir)
    assert(registry.where(col("filename") === "DECam_00000001.fits.fz").count() == 1)
    val dupMsgs = spark.read.parquet(cfg.badFileDir)
      .where(col("rejected_msg") === "duplicate file").count()
    assert(dupMsgs == 1)
  }

  test("configFromFile parses the reference's key = value format") {
    val root = Files.createTempDirectory("cfg")
    val cfgFile = root.resolve("save.cfg")
    Files.write(cfgFile,
      """# comment line
        |delivery_notice_dir = /stage/in
        |archive_dir = /archive
        |bad_file_dir = /quarantine
        |registry_dir = /registry
        |bad_file_table_dir = /bad_file
        |dts_task_id = 3001
        |extraneous_key = ignored = with = equals
        |""".stripMargin.getBytes)
    val cfg = IngestPipeline.configFromFile(cfgFile.toString)
    assert(cfg.stageDir == "/stage/in")
    assert(cfg.archiveDir == "/archive")
    assert(cfg.quarantineDir == "/quarantine")
    assert(cfg.registryDir == "/registry")
    assert(cfg.badFileDir == "/bad_file")
    assert(cfg.taskId == 3001L)
    val err = intercept[IllegalArgumentException] {
      IngestPipeline.configFromFile {
        val p = root.resolve("short.cfg")
        Files.write(p, "delivery_notice_dir = /x\n".getBytes); p.toString
      }
    }
    assert(err.getMessage.contains("archive_dir"))
  }

  test("configFromFile: a non-integer dts_task_id names the file and key") {
    val cfgFile = Files.createTempDirectory("cfgbad").resolve("save.cfg")
    Files.write(cfgFile,
      """delivery_notice_dir = /stage/in
        |archive_dir = /archive
        |bad_file_dir = /quarantine
        |registry_dir = /registry
        |bad_file_table_dir = /bad_file
        |dts_task_id = 30x1
        |""".stripMargin.getBytes)
    val err = intercept[IllegalArgumentException] {
      IngestPipeline.configFromFile(cfgFile.toString)
    }
    assert(!err.isInstanceOf[NumberFormatException],
      s"a bare parse error escaped: $err")
    assert(err.getMessage.contains(cfgFile.toString) &&
      err.getMessage.contains("dts_task_id") &&
      err.getMessage.contains("30x1"), err.getMessage)
  }

  test("registry layout: nite-partitioned, per-nite scans prune (S6)") {
    val (stage, cfg) = mkConfig()
    writeFixtures(stage)
    IngestPipeline.runBatch(spark, cfg)
    // layout on disk: hive-style nite= directories
    assert(new java.io.File(cfg.registryDir).listFiles()
      .exists(_.getName.startsWith("nite=")), "registry must be nite-partitioned")
    val reg = spark.read.parquet(cfg.registryDir)
    // partition-type inference may surface nite as int or string —
    // compare through a cast, which references only the partition column
    // and therefore still prunes
    val nites = reg.select(col("nite").cast("string")).distinct().collect()
      .map(_.getString(0))
    assert(nites.nonEmpty && nites.forall(_.matches("\\d{8}")))
    // the monitor-style per-nite IN-list scan must reach the scan as a
    // PARTITION filter (directory pruning), not a data filter
    val planStr = reg.where(col("nite").cast("string").isin(nites.toSeq: _*))
      .queryExecution.executedPlan.toString
    val partFilters = planStr.linesIterator
      .flatMap(_.split("PartitionFilters: ").drop(1)).mkString
    assert(partFilters.nonEmpty && !partFilters.startsWith("[]")
        && partFilters.takeWhile(_ != ']').contains("nite"),
      s"nite filter must appear INSIDE a non-empty PartitionFilters list " +
        s"(an empty list plus a post-scan data filter also mentions nite):\n$planStr")
  }

  test("keyword contract: extension HDUs validated against the R-ext flags") {
    val (stage, cfg) = mkConfig()
    // multi-HDU file: complete primary + one complete extension → archive
    val goodMulti = FitsHeaderSpec.renderMulti(Seq(primaryCards, extCards))
    Files.write(stage.resolve("DECam_00000010.fits.fz"), goodMulti)
    Files.write(stage.resolve("DECam_00000010.fits.fz.dbb"),
      notifyBytesFor(goodMulti))
    // multi-HDU file: complete primary, extension 2 missing GAINA/GAINB
    val badExt = FitsHeaderSpec.renderMulti(Seq(primaryCards, extCards,
      extCards.filterNot(c => c._1 == "GAINA" || c._1 == "GAINB")))
    Files.write(stage.resolve("DECam_00000011.fits.fz"), badExt)
    Files.write(stage.resolve("DECam_00000011.fits.fz.dbb"),
      notifyBytesFor(badExt))

    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 1)
    assert(report.quarantined == 1)
    val msg = spark.read.parquet(cfg.badFileDir)
      .where(col("orig_filename") === "DECam_00000011.fits.fz")
      .head().getAs[String]("rejected_msg")
    assert(msg.contains("missing required keywords"))
    assert(msg.contains("GAINA") && msg.contains("GAINB"))
    assert(!msg.contains("RA,"), "primary keys all present")
  }

  test("archive layout is data-driven via the dirPatterns dim") {
    val (stage, cfg0) = mkConfig()
    val cfg = cfg0.copy(dirPatterns = Map(
      "raw"        -> "exp/${yearmon}/${name}",
      "snmanifest" -> "${filetype}/${name}"))
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    Files.write(stage.resolve("DECam_00000021.fits.fz"), good)
    Files.write(stage.resolve("DECam_00000021.fits.fz.dbb"),
      notifyBytesFor(good))
    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 1)
    val archived = spark.read.parquet(cfg.locationTableDir)
      .head().getAs[String]("archive_path")
    // layout changed by config alone: exp/<yyyy>/<MM>/<name>
    assert(archived.matches(
      s"${cfg.archiveDir}/exp/\\d{4}/\\d{2}/DECam_00000021\\.fits\\.fz"),
      archived)
    assert(Files.exists(Paths.get(archived)))
  }

  test("copyVerify: clean copy verifies on attempt 1; torn copy retries") {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("cv")
    // source on the default FS, destinations on the second scheme: the
    // cross-FileSystem copy the archive stage runs
    val srcFs = FileSystem.get(conf)
    val dstDir = onXfs(dir.toString)
    val fs = new HPath(dstDir).getFileSystem(conf)
    val src = dir.resolve("src.bin")
    val bytes = "payload-bytes".getBytes
    Files.write(src, bytes)
    val expected = md5hex(bytes)

    // clean: one attempt
    val dst1 = new HPath(s"$dstDir/out1")
    assert(IngestPipeline.copyVerify(srcFs, new HPath(src.toString), fs, dst1,
      Some(expected), 5, 0L, conf) == 1)
    assert(Files.exists(dir.resolve("out1")))

    // torn on attempts 1-2, clean on 3
    val tornTwice = new IngestPipeline.CopyFault {
      def apply(attempt: Int, fs: FileSystem, dst: HPath): Unit =
        if (attempt <= 2) {
          val out = fs.create(dst, true)
          out.write("garbage".getBytes); out.close()
        }
    }
    val dst2 = new HPath(s"$dstDir/out2")
    assert(IngestPipeline.copyVerify(srcFs, new HPath(src.toString), fs, dst2,
      Some(expected), 5, 0L, conf, Some(tornTwice)) == 3)

    // torn every time: fails after maxTries, destination removed
    val tornAlways = new IngestPipeline.CopyFault {
      def apply(attempt: Int, fs: FileSystem, dst: HPath): Unit = {
        val out = fs.create(dst, true)
        out.write("garbage".getBytes); out.close()
      }
    }
    val dst3 = new HPath(s"$dstDir/out3")
    assert(IngestPipeline.copyVerify(srcFs, new HPath(src.toString), fs, dst3,
      Some(expected), 4, 0L, conf, Some(tornAlways)) == 0)
    assert(!Files.exists(dir.resolve("out3")), "failed copy cleaned up")
  }

  test("copy-verify exhaustion re-routes the file to quarantine") {
    val (stage, cfg0) = mkConfig()
    val alwaysTorn = new IngestPipeline.CopyFault {
      def apply(attempt: Int, fs: org.apache.hadoop.fs.FileSystem,
          dst: org.apache.hadoop.fs.Path): Unit =
        if (dst.getName.contains("00000031")) {
          val out = fs.create(dst, true)
          out.write("garbage".getBytes); out.close()
        }
    }
    // the archive on another FileSystem: moves take the copy-verify arm
    val cfg = cfg0.copy(archiveDir = onXfs(cfg0.archiveDir), maxCopyTries = 3,
      copyRetrySleepMs = 0L, copyFault = Some(alwaysTorn))
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    for (n <- Seq("DECam_00000030.fits.fz", "DECam_00000031.fits.fz")) {
      Files.write(stage.resolve(n), good)
      Files.write(stage.resolve(n + ".dbb"),
        notifyBytesFor(good))
    }
    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 1, "untouched file archives")
    assert(report.quarantined == 1, "torn file quarantined")
    val reg = spark.read.parquet(cfg.registryDir)
      .collect().map(_.getAs[String]("filename")).toSet
    assert(reg == Set("DECam_00000030.fits.fz"))
    val badRow = spark.read.parquet(cfg.badFileDir)
      .where(col("orig_filename") === "DECam_00000031.fits.fz").head()
    assert(badRow.getAs[String]("rejected_msg")
      == "copy verification failed after 3 tries")
    // source preserved in quarantine, not lost
    val uniq = badRow.getAs[String]("uniq_fullname")
    assert(uniq.startsWith("DECam_00000031.fits.fz."))
    val quarFiles = java.nio.file.Files.walk(Paths.get(cfg.quarantineDir))
      .filter(java.nio.file.Files.isRegularFile(_))
      .toArray.toSeq.map(_.toString)
    assert(quarFiles.exists(_.endsWith("/" + uniq)),
      s"the audited quarantine file must physically exist, found $quarFiles")
    assert(stage.toFile.listFiles().isEmpty, "stage drained")
  }

  test("archive on another FileSystem: moves resolve each path's own scheme") {
    // the archive on the second scheme: every move must open the
    // destination on ITS FileSystem (the default FS rejects an xfs:// path)
    // and the notify deletes must still drain the stage dir
    val (stage, cfg0) = mkConfig()
    val cfg = cfg0.copy(archiveDir = onXfs(cfg0.archiveDir))
    writeFixtures(stage)
    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 2 && report.quarantined == 4)
    assert(stage.toFile.listFiles().isEmpty, "stage dir fully drained")
    val local = Paths.get(cfg0.archiveDir, "raw", "DECam_00000001.fits.fz")
    assert(Files.exists(local))
    val paths = spark.read.parquet(cfg.locationTableDir).collect()
      .map(_.getAs[String]("archive_path"))
    assert(paths.length == 2 && paths.forall(_.startsWith("xfs:///")),
      paths.mkString(", "))
    val reg = spark.read.parquet(cfg.registryDir)
      .where(col("filename") === "DECam_00000001.fits.fz").head()
    assert(reg.getAs[String]("md5sum") == md5hex(Files.readAllBytes(local)))
  }

  test("rename guard: a payload changed after the scan is copy-verified, not renamed") {
    import java.nio.file.attribute.FileTime
    val (stage, cfg0) = mkConfig()
    val cfg = cfg0.copy(maxCopyTries = 2, copyRetrySleepMs = 0L)
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    val Seq(kept, grown, rewritten) =
      Seq(70, 71, 72).map(i => f"DECam_000000$i%02d.fits.fz")
    Seq(kept, grown, rewritten).foreach { n =>
      Files.write(stage.resolve(n), good)
      Files.write(stage.resolve(n + ".dbb"), notifyBytesFor(good))
    }
    val manifest = IngestPipeline.writeManifest(spark, cfg)
    // after the scan: one payload grows, one keeps its size but gets
    // other bytes and a later mtime
    Files.write(stage.resolve(grown), good ++ "tail".getBytes)
    val before = Files.getLastModifiedTime(stage.resolve(rewritten)).toMillis
    Files.write(stage.resolve(rewritten), good.map(b => (b ^ 1).toByte))
    Files.setLastModifiedTime(stage.resolve(rewritten),
      FileTime.fromMillis(before + 5000L))
    val routed = IngestPipeline.moveFiles(spark, cfg, manifest)
    IngestPipeline.register(spark, cfg, routed)
    val report = IngestPipeline.commitNotifies(spark, routed)
    assert(report.archived == 1 && report.quarantined == 2)
    // the unchanged payload: archived with the scan's md5 and size
    val reg = spark.read.parquet(cfg.registryDir).collect()
    assert(reg.map(_.getAs[String]("filename")).toSeq == Seq(kept))
    assert(reg.head.getAs[String]("md5sum") == md5hex(good))
    assert(reg.head.getAs[Int]("filesize") == good.length)
    assert(Files.readAllBytes(Paths.get(cfg.archiveDir, "raw", kept)).toSeq
      == good.toSeq)
    // the changed ones went through copy-verify and failed it
    val msgs = spark.read.parquet(cfg.badFileDir).collect()
      .map(r => r.getAs[String]("orig_filename") -> r.getAs[String]("rejected_msg"))
      .toMap
    assert(msgs == Map(grown -> "copy verification failed after 2 tries",
      rewritten -> "copy verification failed after 2 tries"), msgs)
    assert(!Files.exists(Paths.get(cfg.archiveDir, "raw", grown)) &&
      !Files.exists(Paths.get(cfg.archiveDir, "raw", rewritten)))
    assert(stage.toFile.listFiles().isEmpty, "stage drained")
  }

  test("same scheme, another mount: the rename fails over to a verified copy") {
    // Hadoop's local rename would silently copy across mounts; the
    // archive stage must see the failed rename and verify its copy. The
    // stage dir sits on the temp dir's mount, the archive on /dev/shm.
    val shm = Paths.get("/dev/shm")
    val (stage, cfg0) = mkConfig()
    assume(Files.isDirectory(shm) && Files.isWritable(shm) &&
      Files.getFileStore(shm) != Files.getFileStore(stage),
      "needs a writable /dev/shm on another mount than the temp dir")
    val archive = Files.createTempDirectory(shm, "ingest_archive")
    try {
      val torn = new IngestPipeline.CopyFault {
        def apply(attempt: Int, fs: org.apache.hadoop.fs.FileSystem,
            dst: org.apache.hadoop.fs.Path): Unit = {
          val out = fs.create(dst, true)
          out.write("garbage".getBytes); out.close()
        }
      }
      val cfg = cfg0.copy(archiveDir = archive.toString, maxCopyTries = 2,
        copyRetrySleepMs = 0L, copyFault = Some(torn))
      val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
      Files.write(stage.resolve("DECam_00000080.fits.fz"), good)
      Files.write(stage.resolve("DECam_00000080.fits.fz.dbb"), notifyBytesFor(good))
      val report = IngestPipeline.runBatch(spark, cfg)
      assert(report.archived == 0 && report.quarantined == 1)
      assert(spark.read.parquet(cfg.badFileDir).head()
        .getAs[String]("rejected_msg") == "copy verification failed after 2 tries")
      assert(stage.toFile.listFiles().isEmpty, "stage drained")
    } finally {
      val walk = Files.walk(archive)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  test("intra-batch duplicates: earliest delivery wins, later quarantined") {
    import spark.implicits._
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    val notifyBytes =
      notifyBytesFor(good)
    val files = Seq(
      ("file:///s/a/x.fits.fz.dbb", notifyBytes,
        new java.sql.Timestamp(2000L)),
      ("file:///s/b/x.fits.fz.dbb", notifyBytes,
        new java.sql.Timestamp(1000L)),
      ("file:///s/a/x.fits.fz", good, new java.sql.Timestamp(2000L)),
      ("file:///s/b/x.fits.fz", good, new java.sql.Timestamp(1000L)))
      .toDF("path", "content", "modificationTime")
    val registry = Seq.empty[String].toDF("filename")
    val (_, cfg) = mkConfig()
    val planned = IngestPipeline.plan(spark, files, registry, cfg)
      .select("notify_path", "status", "reject_msg").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // mtime 1000 (delivered first) wins; mtime 2000 is the duplicate
    assert(planned("file:///s/b/x.fits.fz.dbb") == ("archive", null))
    assert(planned("file:///s/a/x.fits.fz.dbb") ==
      ("quarantine", "duplicate file"))
  }

  test("runBatch: recursive-stage duplicate drains BOTH payload files") {
    // The same delivery_name staged in two subdirectories — each notify
    // must pair with ITS OWN payload, the winner archives its file, the
    // duplicate quarantines its file, and no move can throw because the
    // other row already consumed the path (the r3-advice failure mode).
    import java.nio.file.attribute.FileTime
    val (stage, cfg) = mkConfig()
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    val dirA = Files.createDirectory(stage.resolve("a"))
    val dirB = Files.createDirectory(stage.resolve("b"))
    for (d <- Seq(dirA, dirB)) {
      Files.write(d.resolve("DECam_00000040.fits.fz"), good)
      Files.write(d.resolve("DECam_00000040.fits.fz.dbb"),
        notifyBytesFor(good))
    }
    // deterministic winner: a's notify delivered first (mtime order)
    Files.setLastModifiedTime(dirA.resolve("DECam_00000040.fits.fz.dbb"),
      FileTime.fromMillis(1000000000L))
    Files.setLastModifiedTime(dirB.resolve("DECam_00000040.fits.fz.dbb"),
      FileTime.fromMillis(2000000000L))

    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 1, "earliest delivery archives")
    assert(report.quarantined == 1, "later same-name delivery quarantined")

    // conservation: every physical file drained from the stage tree
    val leftover = java.nio.file.Files.walk(stage)
      .filter(java.nio.file.Files.isRegularFile(_))
      .toArray.toSeq
    assert(leftover.isEmpty, s"stage tree fully drained, found $leftover")
    assert(Files.exists(
      Paths.get(cfg.archiveDir, "raw", "DECam_00000040.fits.fz")))
    assert(spark.read.parquet(cfg.registryDir).count() == 1)
    val badRow = spark.read.parquet(cfg.badFileDir).head()
    assert(badRow.getAs[String]("rejected_msg") == "duplicate file")
    // the duplicate's own payload was preserved in quarantine
    val quar = java.nio.file.Files.walk(Paths.get(cfg.quarantineDir))
      .filter(java.nio.file.Files.isRegularFile(_))
      .toArray.toSeq.filterNot(_.toString.contains("/.")) // hadoop .crc sidecars
    assert(quar.size == 1, s"duplicate payload in quarantine, found $quar")
  }

  test("runBatch: equal-mtime duplicates keep BOTH quarantine payloads") {
    // a copied staging tree preserves timestamps, so two duplicate
    // deliveries can share (name, mtime) exactly — their quarantine
    // paths must still differ (notify-path digest suffix) or the second
    // move silently overwrites the first payload's evidence
    import java.nio.file.attribute.FileTime
    val (stage, cfg) = mkConfig()
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    val dirs = Seq("a", "b", "c").map(d =>
      Files.createDirectory(stage.resolve(d)))
    dirs.foreach { d =>
      Files.write(d.resolve("DECam_00000050.fits.fz"), good)
      Files.write(d.resolve("DECam_00000050.fits.fz.dbb"),
        notifyBytesFor(good))
    }
    // a delivered first (wins); b and c share the SAME later mtime
    Files.setLastModifiedTime(dirs(0).resolve("DECam_00000050.fits.fz.dbb"),
      FileTime.fromMillis(1000000000L))
    for (d <- dirs.drop(1))
      Files.setLastModifiedTime(d.resolve("DECam_00000050.fits.fz.dbb"),
        FileTime.fromMillis(2000000000L))
    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 1 && report.quarantined == 2)
    val quar = java.nio.file.Files.walk(Paths.get(cfg.quarantineDir))
      .filter(java.nio.file.Files.isRegularFile(_))
      .toArray.toSeq.filterNot(_.toString.contains("/."))
    assert(quar.size == 2,
      s"both duplicate payloads must survive in quarantine, found $quar")
    val uniqs = spark.read.parquet(cfg.badFileDir)
      .collect().map(_.getAs[String]("uniq_fullname")).toSet
    assert(uniqs.size == 2 && uniqs.forall(_ != null),
      s"audit rows must cite two distinct quarantine files: $uniqs")
  }

  test("bad-file appends survive target-table schema drift (projectOnto)") {
    import spark.implicits._
    val (stage, cfg) = mkConfig()
    // the operational bad-file table drifted: gained operator_note,
    // lost filesize/delivery_date/rejected_date/filetype
    Seq((0L, "seed.txt", "seed.txt.0", "seed msg", "checked"))
      .toDF("task_id", "orig_filename", "uniq_fullname", "rejected_msg",
        "operator_note")
      .write.parquet(cfg.badFileDir)
    Files.write(stage.resolve("junk.txt"), "x".getBytes)
    Files.write(stage.resolve("junk.txt.dbb"),
      "md5sum = 9dd4e461268c8034f5c8564e155c67a6\nfilesize = 1\n".getBytes)
    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.quarantined == 1)
    val bad = spark.read.parquet(cfg.badFileDir)
    assert(bad.columns.toSet == Set("task_id", "orig_filename",
      "uniq_fullname", "rejected_msg", "operator_note"))
    val row = bad.where(col("orig_filename") === "junk.txt").head()
    assert(row.getAs[String]("rejected_msg") == "unknown filetype")
    assert(row.isNullAt(row.fieldIndex("operator_note")),
      "target-only column null-filled")
  }

  test("registry dup-check is not a forced broadcast (unbounded table)") {
    // With auto-broadcast disabled, no BroadcastExchange may appear in the
    // plan: the registry grows without bound, so the only acceptable
    // broadcasts are the ones AQE itself chooses from observed sizes.
    import spark.implicits._
    withAutoBroadcastOff {
      val files = Seq(("file:///s/a.fits.fz.dbb",
        "md5sum = 0\nfilesize = 1\n".getBytes,
        new java.sql.Timestamp(1000L)),
        ("file:///s/a.fits.fz", "x".getBytes, new java.sql.Timestamp(1000L)))
        .toDF("path", "content", "modificationTime")
      val registry = Seq("b.fits.fz").toDF("filename")
      val (_, cfg) = mkConfig()
      val planStr = IngestPipeline.plan(spark, files, registry, cfg)
        .queryExecution.executedPlan.toString
      assert(!planStr.contains("BroadcastExchange"),
        s"registry side must not be hint-broadcast:\n$planStr")
    }
  }

  test("one batch scans the stage dir once and shuffles no payload bytes") {
    // every plan the batch executes, AQE stages included: exactly one
    // binaryFile scan (both pairing sides come from it) and no exchange
    // carrying a binary column (md5, size and the header parse run
    // inside the scan, so `content` never reaches a shuffle)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.BinaryType
    val (stage, cfg) = mkConfig()
    writeFixtures(stage)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val report =
      try {
        val r = IngestPipeline.runBatch(spark, cfg)
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
        r
      } finally spark.listenerManager.unregister(listener)
    assert(report.archived == 2 && report.quarantined == 4)
    val helper = new AdaptiveSparkPlanHelper {}
    val nodes = plans.asScala.toSeq.flatMap(p => helper.collect(p) { case n => n })
    val stageScans = nodes.collect {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] &&
          s.relation.location.rootPaths.exists(_.toUri.getPath == stage.toString) => s
    }
    assert(stageScans.size == 1,
      s"the stage dir must be scanned once per batch, saw ${stageScans.size}")
    val binaryExchanges = nodes.collect {
      case e: Exchange if e.output.exists(_.dataType == BinaryType) => e
    }
    assert(binaryExchanges.isEmpty,
      s"payload bytes crossed an exchange:\n${binaryExchanges.mkString("\n")}")
  }

  private def withAutoBroadcastOff[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("nested output dirs under the stage dir are rejected loudly") {
    // the recursive stage scan would re-ingest quarantine/registry files
    // as payloads every batch (ADVICE r4) — config error, not a crash loop
    val root = Files.createTempDirectory("nested")
    val stage = Files.createDirectory(root.resolve("stage"))
    val bad = Config(
      stageDir = stage.toString,
      archiveDir = root.resolve("archive").toString,
      quarantineDir = stage.resolve("bad").toString, // nested!
      registryDir = root.resolve("registry").toString,
      badFileDir = root.resolve("bad_file").toString)
    val err = intercept[IllegalArgumentException] {
      IngestPipeline.runBatch(spark, bad)
    }
    assert(err.getMessage.contains("bad_file_dir"))
    assert(err.getMessage.contains("must not nest"))
    // non-nested sibling dirs pass validation
    IngestPipeline.validateLayout(bad.copy(
      quarantineDir = root.resolve("bad").toString))
  }

  test("an all-quarantined batch leaves readable state for the next batch") {
    // batch 1 archives NOTHING: the zero-row appends create registry and
    // location dirs holding only _SUCCESS, and a naive exists-check would
    // make batch 2's spark.read.parquet throw (unable to infer schema),
    // killing the stream. Batch 2 must run normally.
    val (stage, cfg) = mkConfig()
    Files.write(stage.resolve("junk1.txt"), "x".getBytes)
    Files.write(stage.resolve("junk1.txt.dbb"),
      "md5sum = 9dd4e461268c8034f5c8564e155c67a6\nfilesize = 1\n".getBytes)
    val first = IngestPipeline.runBatch(spark, cfg)
    assert(first.archived == 0 && first.quarantined == 1)
    // compaction hook must also tolerate the parquet-less dirs
    IngestPipeline.maybeCompact(spark, cfg.copy(compactEveryBatches = 1), 1)
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    Files.write(stage.resolve("DECam_00000060.fits.fz"), good)
    Files.write(stage.resolve("DECam_00000060.fits.fz.dbb"),
      notifyBytesFor(good))
    val second = IngestPipeline.runBatch(spark, cfg)
    assert(second.archived == 1 && second.quarantined == 0)
  }

  test("upgrade path: a legacy metadata-only registry still catches dups") {
    // pre-split deployments have only the metadata table; after upgrade
    // the dup check must not forget that history (location table absent)
    import spark.implicits._
    val (stage, cfg) = mkConfig()
    Seq(("DECam_00000050.fits.fz", "raw"))
      .toDF("filename", "filetype")
      .write.parquet(cfg.registryDir) // legacy table, no location dir
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    Files.write(stage.resolve("DECam_00000050.fits.fz"), good)
    Files.write(stage.resolve("DECam_00000050.fits.fz.dbb"),
      notifyBytesFor(good))
    val report = IngestPipeline.runBatch(spark, cfg)
    assert(report.archived == 0 && report.quarantined == 1,
      "historically-registered file must quarantine as a duplicate")
    assert(spark.read.parquet(cfg.badFileDir).head()
      .getAs[String]("rejected_msg") == "duplicate file")
  }

  test("cross-filesystem path overlap is not nesting") {
    // same paths on DIFFERENT filesystems must pass validation; same
    // filesystem nesting must still fail
    val ok = Config(
      stageDir = "s3a://stage-bucket/dts",
      archiveDir = "s3a://data-bucket/dts/archive",
      quarantineDir = "hdfs://nn/dts/bad",
      registryDir = "hdfs://nn/dts/registry",
      badFileDir = "hdfs://nn/dts/bad_file")
    IngestPipeline.validateLayout(ok)
    val bad = ok.copy(quarantineDir = "s3a://stage-bucket/dts/bad")
    val err = intercept[IllegalArgumentException] {
      IngestPipeline.validateLayout(bad)
    }
    assert(err.getMessage.contains("bad_file_dir"))
  }

  test("registry compaction: batch loop shrinks files, contents unchanged") {
    val (stage, cfg0) = mkConfig()
    val cfg = cfg0.copy(compactEveryBatches = 3)
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    def stageFile(n: Int): Unit = {
      Files.write(stage.resolve(f"DECam_000001$n%02d.fits.fz"), good)
      Files.write(stage.resolve(f"DECam_000001$n%02d.fits.fz.dbb"),
        notifyBytesFor(good))
    }
    def registryFiles(): Int = {
      val it = java.nio.file.Files.walk(Paths.get(cfg.registryDir))
      try it.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally it.close()
    }
    // three batches, each appends its own file set to the same nite dir
    (1 to 3).foreach { b =>
      stageFile(b)
      IngestPipeline.runBatch(spark, cfg)
      IngestPipeline.maybeCompact(spark, cfg, b)
    }
    // cadence: batches 1-2 did not compact (file count grew per batch);
    // batch 3 did — the registry is back to ~one file per nite dir
    val contents = spark.read.parquet(cfg.registryDir)
      .select(col("filename"), col("nite").cast("string")).collect().toSet
    assert(contents.size == 3, "all three files registered")
    assert(registryFiles() <= 2,
      s"compaction must shrink the per-batch file pileup, have ${registryFiles()}")
    // the location table compacts on the same cadence, contents intact
    val locFiles = {
      val it = java.nio.file.Files.walk(Paths.get(cfg.locationTableDir))
      try it.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally it.close()
    }
    assert(locFiles <= 2, s"location table must compact too, have $locFiles")
    assert(spark.read.parquet(cfg.locationTableDir).count() == 3)
    // one more batch after compaction still reads + appends correctly
    stageFile(4)
    IngestPipeline.runBatch(spark, cfg)
    assert(spark.read.parquet(cfg.registryDir).count() == 4)
  }

  test("src_missing at move time: bad-file row has NULL uniq_fullname") {
    // A payload that vanishes between scan and move (crash-retry shape,
    // ADVICE r4): the audit row must not name a quarantine file that was
    // never created. Deterministic trigger: force the move stage into ONE
    // task (file-split knobs), then a copy fault fired by the first
    // archive row deletes every OTHER staged payload — rows after it in
    // the same task see their source gone.
    val (stage, cfg0) = mkConfig()
    val good = FitsHeader.render(Seq("SIMPLE" -> "T") ++ primaryCards)
    val names = (0 to 2).map(i => f"DECam_000002$i%02d.fits.fz")
    names.foreach { n =>
      Files.write(stage.resolve(n), good)
      Files.write(stage.resolve(n + ".dbb"),
        notifyBytesFor(good))
    }
    val stageDir = stage.toString
    val vandal = new IngestPipeline.CopyFault {
      def apply(attempt: Int, fs: org.apache.hadoop.fs.FileSystem,
          dst: org.apache.hadoop.fs.Path): Unit =
        names.filterNot(dst.getName.startsWith)
          .foreach(n => fs.delete(
            new org.apache.hadoop.fs.Path(s"$stageDir/$n"), false))
    }
    // the fault fires in the copy arm: archive on another FileSystem
    val cfg = cfg0.copy(archiveDir = onXfs(cfg0.archiveDir),
      copyFault = Some(vandal))
    val prevOpenCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val prevMinPart = spark.conf.getOption("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    val report =
      try IngestPipeline.runBatch(spark, cfg)
      finally {
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpenCost)
        prevMinPart match {
          case Some(v) => spark.conf.set("spark.sql.files.minPartitionNum", v)
          // previously unset: leaving "1" pinned would collapse every
          // later suite's file scans to one partition
          case None => spark.conf.unset("spark.sql.files.minPartitionNum")
        }
      }
    assert(report.archived == 1, "first-moved row archives before the fault bites")
    assert(report.quarantined == 2, "vandalized rows route to the bad-file table")
    val badRows = spark.read.parquet(cfg.badFileDir).collect()
    assert(badRows.forall(_.getAs[String]("rejected_msg")
      == "payload file missing at move time"))
    assert(badRows.forall(_.isNullAt(badRows.head.fieldIndex("uniq_fullname"))),
      "no bad-file row may name a quarantine file that was never created")
  }

  test("streaming wrapper drains the stage dir via AvailableNow") {
    val (stage, cfg0) = mkConfig()
    // compaction hook wired through the stream path (fires after batch 1)
    val cfg = cfg0.copy(compactEveryBatches = 1)
    writeFixtures(stage)
    val checkpoint = Files.createTempDirectory("ckpt").toString
    IngestPipeline.runStream(spark, cfg, checkpoint)
    assert(stage.toFile.listFiles().isEmpty)
    assert(spark.read.parquet(cfg.registryDir).count() == 2)
    assert(spark.read.parquet(cfg.locationTableDir).count() == 2)
  }
}

/** A second local scheme, `xfs://`, on the same disk: another FileSystem
  * (by URI) than the default `file://`, for specs whose archive must not
  * share the stage dir's FileSystem. */
class XfsFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("xfs:///")
  override def getScheme: String = "xfs"
}
