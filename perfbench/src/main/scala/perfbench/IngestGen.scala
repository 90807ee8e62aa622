package perfbench

import java.security.MessageDigest
import graft.functions.FitsHeader
import graft.sources.KeywordContract

/** Seeded generator of stage-in deliveries for the `ingest` workload.
  *
  * One batch is a set of notify/payload pairs as the reference's delivery
  * side drops them (`<name>` plus `<name>.dbb` carrying `md5sum` and
  * `filesize`). Every batch carries each reject class at a fixed count, so
  * the share of rejects is the same in every batch, and every delivered
  * notify has a recorded expected route and reason. The bytes, names and
  * modification times depend only on (seed, batch index). */
object IngestGen {

  /** A file to place under the stage dir, at `rel`, with this mtime. */
  final case class GenFile(rel: String, bytes: Array[Byte], mtimeMs: Long)

  /** Expected outcome of one delivered notify: `reason` is None for an
    * archived file and the bad-file table's `rejected_msg` otherwise. */
  final case class Expect(name: String, notifyRel: String,
      reason: Option[String]) {
    def archived: Boolean = reason.isEmpty
  }

  final case class Batch(index: Int, files: Seq[GenFile],
      expect: Seq[Expect]) {
    /** Bytes of the payload files the batch delivers. */
    def payloadBytes: Long =
      files.filterNot(_.rel.endsWith(".dbb")).map(_.bytes.length.toLong).sum
    /** FITS payloads, in delivery order, for the header-parse kernel. */
    def fitsPayloads: Seq[Array[Byte]] =
      files.filter(f => f.rel.endsWith(".fits.fz")).map(_.bytes)
  }

  /** Delivered notifies per batch. The batch shape is a synthetic choice
    * (see the README's "Inputs"): 200 files of about 112 KB on average, the
    * batch a scratch run of `runBatch` on a 4-core guest timed at 4.2-4.9 s. */
  val NotifiesPerBatch = 200

  /** One in this many good FITS payloads is multi-MB (2-2.25 MB of data);
    * the others carry 40-96 KB. The multi-MB files hold about a third of a
    * batch's payload bytes, so per-byte and per-file costs both show. */
  val LargeEvery = 60

  val Md5Mismatch = "md5 mismatch"
  val SizeMismatch = "filesize mismatch"
  val UnknownType = "unknown filetype"
  val MissingKeyword = "missing required keywords: "
  val NoPayload = "payload file missing"
  val Duplicate = "duplicate file"

  /** Batch 0 is delivered during set-up; from batch 1 on every batch also
    * re-delivers a name archived by the batch before it. */
  def rejectClasses(index: Int): Seq[String] =
    Seq(Md5Mismatch, SizeMismatch, UnknownType, MissingKeyword, NoPayload,
      "in-batch " + Duplicate) ++
      (if (index > 0) Seq("re-delivered " + Duplicate) else Nil)

  private val BaseMs = 1767268800000L // 2026-01-01T12:00:00Z

  def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def notifyBytes(md5: String, size: Long): Array[Byte] =
    s"md5sum = $md5\nfilesize = $size\n".getBytes("US-ASCII")

  private def fitsName(index: Int, i: Int): String =
    f"DECam_${index * 1000 + i + 1}%08d.fits.fz"

  /** A multi-HDU FITS payload: a primary header carrying every
    * contract-required primary keyword (minus `drop`), then 1-3 IMAGE
    * extensions with the required extension keywords and a seeded data
    * section of `dataBytes` in total. */
  private def fits(rnd: java.util.SplittableRandom, dataBytes: Int,
      drop: Option[String]): Array[Byte] = {
    val primary = Seq("SIMPLE" -> "T", "BITPIX" -> "8", "NAXIS" -> "0") ++
      KeywordContract.requiredPrimary.filterNot(drop.contains)
        .map(k => k -> s"v${rnd.nextInt(1000)}")
    val nExt = 1 + rnd.nextInt(3)
    val out = new java.io.ByteArrayOutputStream(dataBytes + 4 * 2880 * 2)
    out.write(FitsHeader.render(primary))
    (0 until nExt).foreach { e =>
      val len = dataBytes / nExt
      val hdr = Seq("XTENSION" -> "IMAGE", "BITPIX" -> "8", "NAXIS" -> "1",
        "NAXIS1" -> len.toString, "PCOUNT" -> "0", "GCOUNT" -> "1",
        "EXTNAME" -> s"CCD$e") ++
        KeywordContract.requiredExtension.map(k => k -> s"${rnd.nextInt(100)}")
      out.write(FitsHeader.render(hdr))
      val data = new Array[Byte](len)
      var j = 0
      while (j < len) { data(j) = rnd.nextInt(256).toByte; j += 1 }
      out.write(data)
      out.write(new Array[Byte]((2880 - len % 2880) % 2880))
    }
    out.toByteArray
  }

  /** Batch `index` of the delivery stream for `seed`. */
  def batch(seed: Long, index: Int): Batch = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + index)
    val files = Seq.newBuilder[GenFile]
    val expect = Seq.newBuilder[Expect]
    val t0 = BaseMs + index * 60000L
    var slot = 0
    def nextMs(): Long = { slot += 1; t0 + slot * 10L }
    def deliver(rel: String, payload: Option[Array[Byte]], md5: String,
        size: Long, reason: Option[String]): Unit = {
      val ms = nextMs()
      payload.foreach(p => files += GenFile(rel, p, ms))
      files += GenFile(rel + ".dbb", notifyBytes(md5, size), ms)
      expect += Expect(rel.split('/').last, rel + ".dbb", reason)
    }
    // sizes vary around fixed means, so every batch moves about the
    // same number of bytes whatever the seed
    def smallBytes(): Int = 40 * 1024 + rnd.nextInt(56 * 1024)
    def good(name: String, bytes: Array[Byte]): Unit =
      deliver(name, Some(bytes), md5hex(bytes), bytes.length, None)

    val nRejects = rejectClasses(index).size
    val nManifests = 3
    val nGood = NotifiesPerBatch - nRejects - nManifests
    var firstGood: Option[(String, Array[Byte])] = None
    (0 until nGood).foreach { i =>
      val size =
        if (i % LargeEvery == LargeEvery - 1) 2 * 1024 * 1024 + rnd.nextInt(256 * 1024)
        else smallBytes()
      val bytes = fits(rnd, size, None)
      if (firstGood.isEmpty) firstGood = Some(fitsName(index, i) -> bytes)
      good(fitsName(index, i), bytes)
    }
    (0 until nManifests).foreach { i =>
      val body = s"""{"nite": "${20260101 + index}", "field": "X${rnd.nextInt(10)}", "expnums": [${
        (0 until 8).map(_ => rnd.nextInt(1000000)).mkString(", ")}]}"""
      good(s"manifest_SN-X$index-$i.json", body.getBytes("UTF-8"))
    }
    // reject classes, one each, after the good files
    val base = 900
    val md5Bad = fits(rnd, smallBytes(), None)
    deliver(fitsName(index, base), Some(md5Bad), "0" * 32, md5Bad.length,
      Some(Md5Mismatch))
    val sizeBad = fits(rnd, smallBytes(), None)
    deliver(fitsName(index, base + 1), Some(sizeBad), md5hex(sizeBad),
      sizeBad.length + 1L, Some(SizeMismatch))
    val junk = Array.fill(512 + rnd.nextInt(4096))(rnd.nextInt(256).toByte)
    deliver(s"notes_${index}_0.txt", Some(junk), md5hex(junk), junk.length,
      Some(UnknownType))
    val dropped = KeywordContract.requiredPrimary(
      rnd.nextInt(KeywordContract.requiredPrimary.size))
    val noKw = fits(rnd, smallBytes(), Some(dropped))
    deliver(fitsName(index, base + 2), Some(noKw), md5hex(noKw), noKw.length,
      Some(MissingKeyword + dropped))
    deliver(fitsName(index, base + 3), None, "0" * 32, 0L, Some(NoPayload))
    // same name twice in one batch: the later notify (in a subdirectory)
    // loses to the earlier one, which is among the good files above
    val (dupName, dupBytes) = firstGood.get
    deliver("dup/" + dupName, Some(dupBytes), md5hex(dupBytes),
      dupBytes.length, Some(Duplicate))
    if (index > 0) {
      // the previous batch's first good name, archived there
      val again = fits(rnd, smallBytes(), None)
      deliver(fitsName(index - 1, 0), Some(again), md5hex(again),
        again.length, Some(Duplicate))
    }
    Batch(index, files.result(), expect.result())
  }
}
