package graft.tools

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import graft.functions.FitsHeader
import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.Config

/** Usage example / smoke driver for the ingest pipeline: stages a few
  * notify+payload pairs in a temp dir (one of each routing class), runs a
  * batch, prints the report and the resulting registry/bad-file tables.
  *
  * Run: sbt "runMain graft.tools.IngestDemo"
  */
object IngestDemo {
  private def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession()

    val root = Files.createTempDirectory("ingest_demo")
    val stage = Files.createDirectory(root.resolve("stage"))
    def put(name: String, bytes: Array[Byte], declaredMd5: Option[String] = None)
        : Unit = {
      Files.write(stage.resolve(name), bytes)
      Files.write(stage.resolve(name + ".dbb"),
        s"md5sum = ${declaredMd5.getOrElse(md5hex(bytes))}\nfilesize = ${bytes.length}\n"
          .getBytes)
    }
    if (args.contains("--retry")) {
      // simulate a crash window: payload was already moved in a previous
      // attempt, the notify file (the offset token) survived
      Files.write(stage.resolve("DECam_00000050.fits.fz.dbb"),
        "md5sum = abc\nfilesize = 10\n".getBytes)
    } else if (!args.contains("--empty")) {
      put("DECam_00000042.fits.fz", FitsHeader.render(Seq("SIMPLE" -> "T",
        "DATE-OBS" -> "2024-01-15T03:21:00", "FILTER" -> "g DECam", "RA" -> "54.2")))
      put("manifest_SN7.json", """{"nite":"20240115"}""".getBytes)
      put("DECam_00000043.fits.fz", FitsHeader.render(Seq("DATE-OBS" -> "x",
        "FILTER" -> "r", "RA" -> "1")), declaredMd5 = Some("0" * 32))
    }

    val cfg = Config(stage.toString, root.resolve("archive").toString,
      root.resolve("quarantine").toString, root.resolve("registry").toString,
      root.resolve("bad_file").toString)
    val report = IngestPipeline.runBatch(spark, cfg)
    println(s"[demo] archived=${report.archived} quarantined=${report.quarantined}")
    println("[demo] registry (file metadata):")
    spark.read.parquet(cfg.registryDir)
      .select("filename", "filetype", "md5sum", "filesize").show(false)
    println("[demo] file locations:")
    spark.read.parquet(cfg.locationTableDir)
      .select("filename", "archive_name", "archive_path").show(false)
    println("[demo] bad_file:")
    spark.read.parquet(cfg.badFileDir)
      .select("orig_filename", "rejected_msg", "uniq_fullname").show(false)
    spark.stop()
  }
}
