package graft

import graft.operators.MultimodalOps
import graft.operators.MultimodalOps.{MediaFile, DecodeStub}
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** Stored-frame count of an AVI (container walk only, no decode). */
  private def storedFrames(content: Array[Byte]): Int =
    MultimodalOps.AviMjpegCodec.frameChunks(content).length

  private def media(n: Int, bytesPer: Int = 100) =
    spark.createDataset((0 until n).map { i =>
      MediaFile(i.toLong, if (i % 2 == 0) "image" else "audio",
        Array.fill(bytesPer + i)((i % 251).toByte), Map("k" -> s"v$i"))
    })

  test("extractFeatures: schema, determinism, batch independence") {
    val ds = media(10)
    val a = MultimodalOps.extractFeatures(ds, batchSize = 3).collect()
      .sortBy(_.media_id)
    val b = MultimodalOps.extractFeatures(ds, batchSize = 64).collect()
      .sortBy(_.media_id)
    // batch size must not change results (pure per-row kernel)
    assert(a.map(_.feature.toSeq).toSeq == b.map(_.feature.toSeq).toSeq)
    assert(a.forall(_.decode_ok))
    assert(a.forall(_.feature.length == 16))
    // histogram normalized: sums to ~1
    a.foreach(f => assert(math.abs(f.feature.sum - 1.0f) < 1e-3))
    // stub dims arithmetic
    val f0 = a.head
    assert(f0.width == 1 + (f0.byte_len % 64).toInt)
  }

  test("empty payload routes decode_ok=false") {
    val ds = spark.createDataset(Seq(
      MediaFile(1L, "image", Array.emptyByteArray, Map())))
    val f = MultimodalOps.extractFeatures(ds).collect().head
    assert(!f.decode_ok)
    assert(f.feature.forall(_ == 0f))
  }

  test("frame sampling: every-k frames per media, deterministic sigs") {
    val ds = media(6)
    val frames = MultimodalOps.sampleFrames(ds, everyK = 2).collect()
    val byMedia = frames.groupBy(_.media_id)
    ds.collect().foreach { m =>
      val expected = (0 until DecodeStub.dims(m.content.length)._3 by 2).size
      assert(byMedia(m.media_id).length == expected)
    }
    val again = MultimodalOps.sampleFrames(ds, everyK = 2).collect()
    assert(frames.map(f => (f.media_id, f.frame_idx, f.frame_sig)).toSet ==
      again.map(f => (f.media_id, f.frame_idx, f.frame_sig)).toSet)
  }

  test("codec seam: an injected codec replaces the stub end to end") {
    // a fake "real" codec with fixed dims and a trivial signature — the
    // engine plumbing (batching, flatMap sampling, schema) must route
    // every row through it without touching DecodeStub
    object FixedCodec extends MultimodalOps.MediaCodec {
      def decode(m: MediaFile) = MultimodalOps.MediaFeatures(
        m.media_id, m.kind, 0L, 320, 200, 4, decode_ok = true,
        Array.fill(16)(0.0625f))
      def frameCount(m: MediaFile) = 4
      def frameSig(m: MediaFile, idx: Int) = 1000L + idx
    }
    val ds = media(5)
    val feats = MultimodalOps.extractFeatures(ds, codec = FixedCodec).collect()
    assert(feats.forall(f => f.width == 320 && f.height == 200))
    val frames = MultimodalOps.sampleFrames(ds, everyK = 2, codec = FixedCodec)
      .collect()
    assert(frames.length == 5 * 2, "4 frames every 2 = 2 samples per media")
    assert(frames.forall(f => f.frame_sig == 1000L + f.frame_idx))
  }

  test("media query surface matches the stub arithmetic") {
    val meta = MultimodalOps.mediaMeta(spark, sfDir)
    val viaKernel = MultimodalOps
      .extractFeatures(MultimodalOps.mediaFromDocuments(spark, sfDir))
      .select(col("media_id"), col("width").as("kw"), col("height").as("kh"))
    val joined = meta.join(viaKernel, Seq("media_id"))
    assert(joined.where(col("width") =!= col("kw")
      || col("height") =!= col("kh")).count() == 0)
  }

  // --- real javax.imageio kernel ---------------------------------------

  private def checkerImage(w: Int, h: Int): java.awt.image.BufferedImage = {
    // left half black (luminance 0 -> bin 0), right half white (255 -> 15)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xFFFFFF)
    img
  }

  private def encode(img: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("real PNG decode end to end: true dims, exact luminance histogram") {
    val png = encode(checkerImage(32, 16), "png")
    val ds = spark.createDataset(Seq(
      MediaFile(7L, "image", png, Map("fmt" -> "png"))))
    val f = MultimodalOps.extractFeatures(ds).collect().head
    assert(f.decode_ok && f.width == 32 && f.height == 16 && f.n_frames == 1)
    assert(f.byte_len == png.length.toLong)
    // half the pixels land in bin 0, half in bin 15 — exactly
    assert(f.feature(0) == 0.5f && f.feature(15) == 0.5f, f.feature.toSeq)
    assert((1 to 14).forall(f.feature(_) == 0f))
  }

  test("real decode: JPEG and BMP dims; PNG<->BMP re-encodes share sigs") {
    val img = checkerImage(24, 24)
    for (fmt <- Seq("jpg", "bmp")) {
      val m = MediaFile(1L, "image", encode(img, fmt), Map())
      val f = MultimodalOps.ImageIoCodec.decode(m)
      assert(f.decode_ok && f.width == 24 && f.height == 24, s"$fmt: $f")
    }
    // lossless re-encode preserves pixels => identical frame signatures,
    // the collision mediaNearDup's shared-signature join counts on
    val a = MultimodalOps.ImageIoCodec
      .frameSigs(MediaFile(1L, "image", encode(img, "png"), Map()), 1)
    val b = MultimodalOps.ImageIoCodec
      .frameSigs(MediaFile(2L, "image", encode(img, "bmp"), Map()), 1)
    assert(a == b && a.nonEmpty, s"$a vs $b")
    // and different pixels give a different signature
    val c = MultimodalOps.ImageIoCodec
      .frameSigs(MediaFile(3L, "image", encode(checkerImage(24, 12), "png"),
        Map()), 1)
    assert(a != c)
  }

  test("undecodable payload falls back to the byte path bit-identically") {
    val m = MediaFile(9L, "audio",
      "no image reader accepts plain text bytes".getBytes("UTF-8"), Map())
    val real = MultimodalOps.ImageIoCodec.decode(m)
    val stub = DecodeStub.decode(m)
    assert(real.copy(feature = null) == stub.copy(feature = null))
    assert(real.feature.toSeq == stub.feature.toSeq)
    assert(MultimodalOps.ImageIoCodec.frameSigs(m, 2) ==
      DecodeStub.frameSigs(m, 2))
  }

  // --- real javax.sound kernel ------------------------------------------

  /** Deterministic 16-bit PCM serialized into a real container via the
    * JDK's own writers (WAV is little-endian PCM, AIFF big-endian —
    * `bigEndian` must match the container family). `samples` is
    * channel-interleaved. */
  private def pcm16(samples: Array[Short], channels: Int, bigEndian: Boolean,
      fileType: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    val bytes = new Array[Byte](samples.length * 2)
    for (i <- samples.indices) {
      val s = samples(i)
      if (bigEndian) {
        bytes(2 * i) = (s >> 8).toByte; bytes(2 * i + 1) = s.toByte
      } else {
        bytes(2 * i) = s.toByte; bytes(2 * i + 1) = (s >> 8).toByte
      }
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16,
      channels, channels * 2, 8000f, bigEndian)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(bytes),
      fmt, samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, fileType, bos)
    bos.toByteArray
  }

  private val Wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
  private val Aiff = javax.sound.sampled.AudioFileFormat.Type.AIFF

  test("real WAV decode end to end: channels/bits/windows, exact histogram") {
    // 1024 samples at -32768 (code 0 -> bin 0), 1024 at +32512 (code 255
    // -> bin 15): two full windows, histogram split exactly in half
    val samples =
      (Array.fill(1024)(-32768) ++ Array.fill(1024)(32512)).map(_.toShort)
    val wav = pcm16(samples, 1, bigEndian = false, Wave)
    val ds = spark.createDataset(Seq(
      MediaFile(11L, "audio", wav, Map("fmt" -> "wav"))))
    val f = MultimodalOps.extractFeatures(ds).collect().head
    assert(f.decode_ok && f.width == 1 && f.height == 16 && f.n_frames == 2,
      s"$f")
    assert(f.byte_len == wav.length.toLong)
    assert(f.feature(0) == 0.5f && f.feature(15) == 0.5f, f.feature.toSeq)
    assert((1 to 14).forall(f.feature(_) == 0f))
  }

  test("stereo WAV: channels average into the mono amplitude plane") {
    // every frame L=+25600, R=-25600 -> integer average 0 -> code 128 ->
    // bin 8, exactly
    val frames = 2048
    val inter = new Array[Short](frames * 2)
    for (i <- 0 until frames) {
      inter(2 * i) = 25600.toShort; inter(2 * i + 1) = (-25600).toShort
    }
    val f = MultimodalOps.JavaSoundCodec.decode(
      MediaFile(1L, "audio", pcm16(inter, 2, bigEndian = false, Wave), Map()))
    assert(f.decode_ok && f.width == 2 && f.height == 16 && f.n_frames == 2,
      s"$f")
    assert(f.feature(8) == 1.0f, f.feature.toSeq)
  }

  test("WAV<->AIFF re-encodes of the same PCM share window signatures") {
    var x = 48271L
    val samples = Array.fill(3000) {
      x = (x * 48271) % 2147483647L; ((x % 65536) - 32768).toShort
    }
    val a = MultimodalOps.JavaSoundCodec.frameSigs(
      MediaFile(1L, "audio", pcm16(samples, 1, bigEndian = false, Wave),
        Map()), 1)
    val b = MultimodalOps.JavaSoundCodec.frameSigs(
      MediaFile(2L, "audio", pcm16(samples, 1, bigEndian = true, Aiff),
        Map()), 1)
    assert(a == b && a.nonEmpty, s"$a vs $b")
    // different PCM -> different signatures
    val c = MultimodalOps.JavaSoundCodec.frameSigs(
      MediaFile(3L, "audio",
        pcm16(samples.reverse, 1, bigEndian = false, Wave), Map()), 1)
    assert(a != c)
  }

  test("JdkMediaCodec routes by container: PNG->image, WAV->audio, text->stub") {
    val png = MediaFile(1L, "declared-audio", encode(checkerImage(16, 8),
      "png"), Map())
    val fp = MultimodalOps.JdkMediaCodec.decode(png)
    assert(fp.decode_ok && fp.width == 16 && fp.height == 8,
      "content routing must ignore the declared kind")
    val wav = MediaFile(2L, "declared-image",
      pcm16(Array.fill[Short](512)(1000), 1, bigEndian = false, Wave), Map())
    val fw = MultimodalOps.JdkMediaCodec.decode(wav)
    assert(fw.decode_ok && fw.width == 1 && fw.height == 16
      && fw.n_frames == 1, s"$fw")
    assert(MultimodalOps.JdkMediaCodec.frameSigs(wav, 1) ==
      MultimodalOps.JavaSoundCodec.frameSigs(wav, 1))
    val txt = MediaFile(3L, "audio",
      "neither reader family accepts text".getBytes("UTF-8"), Map())
    val ft = MultimodalOps.JdkMediaCodec.decode(txt)
    val stub = DecodeStub.decode(txt)
    assert(ft.copy(feature = null) == stub.copy(feature = null))
    assert(ft.feature.toSeq == stub.feature.toSeq)
    assert(MultimodalOps.JdkMediaCodec.frameSigs(txt, 2) ==
      DecodeStub.frameSigs(txt, 2))
  }

  test("synthesized WAV corpus: every doc takes the REAL audio decode path") {
    val media = MultimodalOps.wavFromDocuments(spark, sfDir)
    val feats = MultimodalOps.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    // real decode shape on every row: mono, 16-bit, true window count —
    // the byte fallback would report length-derived pseudo-dims instead
    assert(feats.forall(f => f.decode_ok && f.width == 1 && f.height == 16))
    // decode of (b-128)*256 samples recovers the text bytes: check one
    // doc's histogram against the text computed directly
    val doc = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").where(length(col("text")) > 0)
      .orderBy("doc_id").limit(1).collect().head
    val text = doc.getString(1)
    val expected = new Array[Float](16)
    text.getBytes("US-ASCII").foreach(b => expected((b & 0xFF) / 16) += 1f)
    (0 until 16).foreach(i => expected(i) /= text.length)
    val got = feats.find(_.media_id == doc.getLong(0)).get
    assert(got.feature.toSeq == expected.toSeq,
      s"real decode must recover the text byte histogram")
    assert(got.n_frames == math.max(1, (text.length + 1023) / 1024))
  }

  // --- real MJPEG-AVI video kernel ---------------------------------------

  /** Minimal RIFF/AVI wrapper: the frames land as `00dc` chunks under
    * `LIST movi`, plus a decoy `LIST hdrl` the walker must skip. */
  private def mjpegAvi(frames: Seq[Array[Byte]]): Array[Byte] = {
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("ISO-8859-1")); bb.putInt(payload.length)
      bb.put(payload)
      bb.array()
    }
    def list(formType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", formType.getBytes("ISO-8859-1") ++ body)
    val hdrl = list("hdrl", chunk("avih", Array.fill[Byte](56)(0)))
    val movi = list("movi",
      frames.flatMap(f => chunk("00dc", f)).toArray)
    chunk("RIFF", "AVI ".getBytes("ISO-8859-1") ++ hdrl ++ movi)
  }

  test("real MJPEG-AVI decode: dims, frame count, per-frame JPEG sigs") {
    val jpegs = Seq(encode(checkerImage(32, 16), "jpg"),
      encode(checkerImage(32, 16), "jpg"),
      encode(checkerImage(16, 32), "jpg"))
    val avi = MediaFile(5L, "video", mjpegAvi(jpegs), Map())
    val f = MultimodalOps.AviMjpegCodec.decode(avi)
    assert(f.decode_ok && f.width == 32 && f.height == 16
      && f.n_frames == 3, s"$f")
    assert(math.abs(f.feature.sum - 1.0f) < 1e-3)
    // per-frame signatures equal the SAME JPEG bytes decoded through
    // the image path (identical pixel decode + hash) — the collision a
    // re-muxed MJPEG produces in the shared-signature near-dup join
    val sigs = MultimodalOps.AviMjpegCodec.frameSigs(avi, 1)
    val direct = jpegs.map(j => MultimodalOps.ImageIoCodec
      .frameSigs(MediaFile(0L, "image", j, Map()), 1).head._2)
    assert(sigs.map(_._2) == direct, s"$sigs vs $direct")
    assert(sigs.head._2 == sigs(1)._2 && sigs.head._2 != sigs(2)._2,
      "identical frames collide, the rotated frame does not")
    // every-2nd sampling decodes only the sampled frames
    assert(MultimodalOps.AviMjpegCodec.frameSigs(avi, 2).map(_._1)
      == Seq(0, 2))
    // the router picks the AVI family from the RIFF form type
    assert(MultimodalOps.JdkMediaCodec.decode(avi).n_frames == 3)
  }

  test("hostile AVI degrades to the byte path, never throws") {
    // RIFF/AVI header with garbage body: no movi chunks -> stub
    val junk = MediaFile(6L, "video",
      "RIFF....AVI garbage that is not chunked at all".getBytes("UTF-8"),
      Map())
    // (bytes 4-7 are sizes; accepts() only needs RIFF + AVI<space>)
    val f = MultimodalOps.AviMjpegCodec.decode(junk)
    val stub = DecodeStub.decode(junk)
    assert(f.copy(feature = null) == stub.copy(feature = null))
    // torn mid-JPEG: container walks, JPEG decode fails -> stub
    val good = mjpegAvi(Seq(encode(checkerImage(8, 8), "jpg")))
    val torn = MediaFile(7L, "video", good.take(good.length / 2), Map())
    val ft = MultimodalOps.AviMjpegCodec.decode(torn)
    assert(ft.feature.length == 16 && ft.byte_len == torn.content.length)
  }

  // --- perceptual dHash ----------------------------------------------------

  /** Gray image from a luminance grid (row-major, 0..255). */
  private def grayImage(w: Int, h: Int, lum: Int => Int)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = lum(y * w + x) & 0xFF
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  test("dHash: resized copy hashes identically, re-encode collides") {
    val base = (i: Int) => (i * 37 + (i / 9) * 11) % 256
    val small = grayImage(9, 8, base)
    val dhSmall = MultimodalOps.dHash64(small).get
    assert(dhSmall.length == 64 && dhSmall.forall(c => c == '0' || c == '1'))
    // 2x pixel-replicated resize: each dHash cell averages 4 identical
    // values -> identical hash (the invariance exact-signature matching
    // misses, the reason dHash exists)
    val big = grayImage(18, 16,
      i => base((i / 18 / 2) * 9 + (i % 18) / 2))
    assert(MultimodalOps.dHash64(big).get == dhSmall)
    // and THROUGH a real re-encode: PNG of the resized copy, decoded by
    // the real reader, still collides
    val png = encode(big, "png")
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(MultimodalOps.dHash64(decoded).get == dhSmall)
    // a genuinely different image does not collide
    val other = grayImage(9, 8, i => base(71 - i))
    assert(MultimodalOps.dHash64(other).get != dhSmall)
    // below the 9x8 grid there is no gradient field
    assert(MultimodalOps.dHash64(grayImage(4, 4, base)).isEmpty)
  }

  test("dHash near-dup: bmp synthesis round-trips, banded match finds edits") {
    // documents corpus: d1 and d2 share their first 72 chars (resized/
    // re-encoded copy analog -> identical dHash), d3 differs from d1 in
    // ONE char (few gradient bits flip -> within the Hamming bar), d4
    // is unrelated, d5 is too short to hash
    val prefix = ('a' to 'z').mkString * 3 // 78 chars
    val rows = Seq(
      (1L, prefix, "en", "web"),
      (2L, prefix + " trailing bytes beyond the grid are ignored", "en", "web"),
      (3L, prefix.updated(30, 'Z'), "en", "web"),
      (4L, "The quick brown fox jumps over the lazy dog. " * 3, "en", "web"),
      (5L, "too short", "en", "web"))
    val dir = "/tmp/graft_dhash_spec"
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the synthesized BMP REALLY decodes and its luma IS the text bytes
    val sigs = MultimodalOps.imageDHash(spark, dir).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("dhash")).toMap
    assert(sigs.keySet == Set(1L, 2L, 3L, 4L), "short doc drops, rest hash")
    assert(sigs(1L) == sigs(2L), "same first 72 bytes -> same dHash")
    val pairs = MultimodalOps.imageDHashNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)) &&
      pairs((1L, 3L)) <= MultimodalOps.DHashHammingBar.toLong &&
      pairs((1L, 3L)) > 0L, s"one-char edit lands within the bar: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc matches nothing")
  }

  test("spectral whash: AC bits brightness-invariant, noise within the bar") {
    val base = (i: Int) => (i * 37 + (i / 9) * 11) % 200
    val img = grayImage(9, 8, base)
    val wh = MultimodalOps.wHash64(img).get
    assert(wh.length == 64 && wh.forall(c => c == '0' || c == '1'))
    // uniform +20 brightness: every AC coefficient's ±1 signs cancel the
    // shift exactly — only the DC bit (index 0) may record it
    val bright = grayImage(9, 8, i => base(i) + 20)
    val whB = MultimodalOps.wHash64(bright).get
    assert(wh.substring(1) == whB.substring(1),
      "AC spectrum signs must be exactly invariant to uniform brightness")
    // single-pixel noise: each coefficient moves by at most the delta,
    // so only signs already near zero flip — the GLOBAL robustness the
    // local-gradient dHash lacks
    val noisy = grayImage(9, 8, i => if (i == 30) base(30) + 40 else base(i))
    val whN = MultimodalOps.wHash64(noisy).get
    val ham = wh.zip(whN).count { case (a, b) => a != b }
    assert(ham <= MultimodalOps.DHashHammingBar,
      s"single-pixel noise must stay within the bar, got $ham")
    // a genuinely different image separates
    val other = MultimodalOps.wHash64(grayImage(9, 8, i => base(71 - i))).get
    assert(wh.zip(other).count { case (a, b) => a != b } >
      MultimodalOps.DHashHammingBar)
    // below the 8x8 grid there is no spectrum
    assert(MultimodalOps.wHash64(grayImage(4, 4, base)).isEmpty)
  }

  test("whash near-dup: synthesis round-trips, banded match finds copies") {
    val prefix = ('a' to 'z').mkString * 3 // 78 chars
    val rows = Seq(
      (1L, prefix, "en", "web"),
      (2L, prefix + " trailing bytes beyond the grid are ignored", "en", "web"),
      (3L, "The quick brown fox jumps over the lazy dog. " * 3, "en", "web"),
      (4L, "too short", "en", "web"))
    val dir = "/tmp/graft_whash_spec"
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sigs = MultimodalOps.imageWHash(spark, dir).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("whash")).toMap
    assert(sigs.keySet == Set(1L, 2L, 3L), "short doc drops, rest hash")
    assert(sigs(1L) == sigs(2L), "same first 72 bytes -> same whash")
    val pairs = MultimodalOps.imageWHashNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc matches nothing")
  }

  test("audio fingerprint: gain-scaled copy collides, through a real decode") {
    val need = (MultimodalOps.AfpBits + 1) * MultimodalOps.AfpWindow
    // amplitude codes with deviations in [-50, 50] so a 2x gain never
    // clips the 8-bit plane
    val base = Array.tabulate(need)(i => 128 + (i * 17 % 101) - 50)
    val fp = MultimodalOps.audioFp64(base).get
    assert(fp.length == 64 && fp.forall(c => c == '0' || c == '1'))
    // uniform gain: every window energy scales by 4, every gradient
    // SIGN is unchanged -> identical fingerprint (the invariance exact
    // window-signature matching misses, the reason the fp exists)
    val gained = base.map(c => 128 + 2 * (c - 128))
    assert(MultimodalOps.audioFp64(gained).get == fp)
    // and THROUGH a real WAV encode/decode round-trip of the gained twin
    val samples = gained.map(c => ((c - 128) * 256).toShort)
    val wav = pcm16(samples, 1, bigEndian = false, Wave)
    val pcm = MultimodalOps.JavaSoundCodec.tryPcm(wav).get
    assert(MultimodalOps.audioFp64(pcm.codes).get == fp)
    // different content does not collide; short clips do not hash
    assert(MultimodalOps.audioFp64(base.reverse).get != fp)
    assert(MultimodalOps.audioFp64(base.take(need - 1)).isEmpty)
  }

  test("audio fp near-dup: wav synthesis round-trips, banded match finds edits") {
    // d1 and d2 share their first 260 chars (re-gained copy analog ->
    // identical fp), d3 differs in ONE char (<=2 window energies move,
    // <=2 gradient bits flip -> within the bar), d4 too short
    val need = (MultimodalOps.AfpBits + 1) * MultimodalOps.AfpWindow
    val prefix = ('a' to 'z').mkString * 10 // 260 chars
    val rows = Seq(
      (1L, prefix, "en", "web"),
      (2L, prefix + " trailing bytes beyond the budget are ignored", "en", "web"),
      (3L, prefix.updated(130, 'Z'), "en", "web"),
      (4L, "too short", "en", "web"))
    val dir = "/tmp/graft_afp_spec"
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sigs = MultimodalOps.audioFingerprint(spark, dir).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("afp")).toMap
    assert(sigs.keySet == Set(1L, 2L, 3L), "short doc drops, rest hash")
    assert(sigs(1L) == sigs(2L), s"same first $need bytes -> same fp")
    val pairs = MultimodalOps.audioFpNearDup(spark, dir).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)) &&
      pairs((1L, 3L)) <= MultimodalOps.DHashHammingBar.toLong,
      s"one-char edit lands within the bar: $pairs")
  }

  test("scene changes: repeated frame reads zero delta, cut flagged, " +
      "raw gray raster bypasses the ICC curve") {
    // frame0 == frame1 (identical 72-char blocks -> delta 0, no cut),
    // frame2 jumps far away (every pixel moves 'a'->'z', 25 each ->
    // delta 1800 >= the 1152 bar)
    val block = "abcdefgh".repeat(9)              // 72 chars
    val far = "z".repeat(72)
    val rows = Seq(
      (1L, block + block + far, "en", "web"),
      (2L, "too short for three frames", "en", "web"))
    val dir = "/tmp/graft_scene_spec"
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = MultimodalOps.sceneChanges(spark, dir).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("frame_idx")) ->
        (r.getAs[Long]("delta_sum"), r.getAs[Boolean]("is_change"))).toMap
    assert(got.keySet == Set((1L, 1), (1L, 2)), "short doc drops")
    assert(got((1L, 1)) == (0L, false), s"identical frames: $got")
    val jump = block.map(c => math.abs(c - 'z')).sum.toLong
    assert(got((1L, 2)) == (jump, true), s"cut detected exactly: $got")
    // the exactness hinges on lumaRaw: the gray raster's stored sample
    // comes back verbatim where getRGB would gamma-curve it
    val avi = MultimodalOps.aviFromDocuments(spark, dir)
      .filter(col("media_id") === 1L).collect().head
    val f0 = MultimodalOps.AviMjpegCodec.decodedAll(avi.content).get.head
    assert(MultimodalOps.ImageIoCodec.lumaRaw(f0).take(8).toSeq ==
      "abcdefgh".map(_.toInt), "raw samples are the text bytes")
    assert(MultimodalOps.ImageIoCodec.luma(f0).take(8).toSeq !=
      "abcdefgh".map(_.toInt),
      "getRGB path really does curve gray (the reason lumaRaw exists)")
  }

  test("decompression bomb: huge declared dims fall back before pixel read") {
    // a syntactically valid PNG signature + IHDR declaring 50000x50000
    // (2.5 GPix): luma() would allocate a multi-GB int raster if the
    // codec trusted the header. The dims check must reject BEFORE any
    // pixel read and degrade to the byte path.
    val bb = java.nio.ByteBuffer.allocate(8 + 25) // sig + IHDR chunk
    bb.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    bb.putInt(13) // IHDR length
    val ihdr = java.nio.ByteBuffer.allocate(17)
    ihdr.put("IHDR".getBytes("ISO-8859-1"))
    ihdr.putInt(50000).putInt(50000) // width, height
    ihdr.put(8.toByte).put(2.toByte) // bit depth, color type RGB
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte)
    val ihdrBytes = ihdr.array()
    bb.put(ihdrBytes, 4, 13)
    val crc = new java.util.zip.CRC32
    crc.update(ihdrBytes, 0, 17)
    bb.putInt(crc.getValue.toInt)
    val bomb = MediaFile(9L, "image", bb.array(), Map())
    val f = MultimodalOps.ImageIoCodec.decode(bomb) // must not OOM/throw
    val stub = DecodeStub.decode(bomb)
    assert(f.copy(feature = null) == stub.copy(feature = null),
      "bombed dims must take the byte fallback")
    assert(MultimodalOps.ImageIoCodec.readCapped(bomb.content).isEmpty)
  }

  test("deeply nested LIST bomb: bounded walk, no StackOverflowError") {
    // ~100k nested 12-byte LIST headers: a recursive walker would
    // overflow the JVM stack (an Error, which escapes the
    // degrade-to-stub Exception handlers and kills the executor task).
    // The iterative walker must terminate with the stub row.
    val depth = 100000
    val bb = java.nio.ByteBuffer.allocate(12 + depth * 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ISO-8859-1"))
    bb.putInt(8 + depth * 12)
    bb.put("AVI ".getBytes("ISO-8859-1"))
    (0 until depth).foreach { i =>
      bb.put("LIST".getBytes("ISO-8859-1"))
      bb.putInt(4 + (depth - 1 - i) * 12) // each LIST wraps the rest
      bb.put("rec ".getBytes("ISO-8859-1"))
    }
    val bomb = MediaFile(8L, "video", bb.array(), Map())
    val f = MultimodalOps.AviMjpegCodec.decode(bomb) // must not throw
    val stub = DecodeStub.decode(bomb)
    assert(f.copy(feature = null) == stub.copy(feature = null))
    assert(storedFrames(bomb.content) == 0)
    // the depth CAP (not just iteration) is what bounds work: a movi
    // list buried under the cap still yields its frames, one below the
    // cap does not — pin the bound so a refactor cannot silently
    // reintroduce unbounded descent
    def nest(n: Int, core: Array[Byte]): Array[Byte] =
      (0 until n).foldLeft(core) { (b, _) =>
        val out = java.nio.ByteBuffer.allocate(12 + b.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.put("LIST".getBytes("ISO-8859-1")).putInt(4 + b.length)
        out.put("rec ".getBytes("ISO-8859-1")).put(b)
        out.array()
      }
    def rewrap(body: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("ISO-8859-1")).putInt(4 + body.length)
      out.put("AVI ".getBytes("ISO-8859-1")).put(body)
      out.array()
    }
    val frame = {
      val p = "xx".getBytes("ISO-8859-1")
      val c = java.nio.ByteBuffer.allocate(8 + p.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      c.put("00dc".getBytes("ISO-8859-1")).putInt(p.length).put(p)
      c.array()
    }
    assert(storedFrames(
      rewrap(nest(10, frame))) == 1, "within the cap: frames found")
    assert(storedFrames(
      rewrap(nest(40, frame))) == 0, "beyond the cap: descent stops")
  }

  test("torn WAV container degrades safely, never throws") {
    val wav = pcm16(Array.fill[Short](2048)(123), 1, bigEndian = false, Wave)
    val torn = MediaFile(4L, "audio", wav.take(50), Map())
    // header parses but the body is truncated: the codec must either
    // decode the surviving prefix or fall back to the byte path — both
    // terminate with a well-formed row
    val f = MultimodalOps.JavaSoundCodec.decode(torn)
    assert(f.byte_len == 50L && f.feature.length == 16)
    assert(math.abs(f.feature.sum - 1.0f) < 1e-3 || f.feature.forall(_ == 0f))
    val sigs = MultimodalOps.JavaSoundCodec.frameSigs(torn, 1)
    assert(sigs.nonEmpty)
  }

  test("media near-dup: shared frames match, the df-cap kills common frames") {
    // media 1 and 2 share two frame signatures (a near-copy); media 3
    // shares only one with each (below the bar). Every media ALSO
    // carries signature 555, present in all 2100 media — df far above
    // max(100, n/20) = 105, so the cap must drop it BEFORE the
    // self-join (without the cap this fixture alone would produce
    // ~4.4M pair rows).
    val planted = Seq(
      (1L, 0, 10L), (1L, 2, 20L), (1L, 4, 30L),
      (2L, 0, 10L), (2L, 2, 20L), (2L, 4, 99L),
      (3L, 0, 10L), (3L, 2, 77L))
    val common = (1L to 2100L).map(i => (i + 1000L, 6, 555L))
    val frames = (planted ++ common)
      .toDF("media_id", "frame_idx", "frame_sig")
    val got = MultimodalOps.mediaNearDupOf(frames)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("best_match") == 2L
      && got(1L).getAs[Long]("shared_frames") == 2L, s"${got(1L)}")
    assert(got(2L).getAs[Long]("best_match") == 1L)
    assert(got(3L).isNullAt(got(3L).fieldIndex("best_match")),
      "one shared frame is below the bar")
    // the common-frame media matched nothing: signature 555 was capped
    val commonMatched = got.collect {
      case (id, r) if id > 1000L && !r.isNullAt(r.fieldIndex("best_match")) => id
    }
    assert(commonMatched.isEmpty,
      s"df-capped signature must generate no pairs: $commonMatched")
  }

  test("video near-dup: resized re-encode aligns every frame through " +
      "the real codec; one shared still is below the run bar") {
    import spark.implicits._
    // three distinct 9x8 frames
    val f = (k: Int) => (i: Int) => (i * 37 + (i / 9) * 11 + k * 53) % 256
    val frames = (0 until 3).map(k => grayImage(9, 8, f(k)))
    // the re-encoded copy: every frame 2x pixel-replicated (a resize
    // preserving dHash) and re-wrapped in a NEW container
    val resized = (0 until 3).map(k => grayImage(18, 16,
      i => f(k)((i / 18 / 2) * 9 + (i % 18) / 2)))
    // shares ONLY frame 1 with the original (a common still/ident)
    val oneShared = Seq(grayImage(9, 8, f(7)), grayImage(9, 8, f(1)),
      grayImage(9, 8, f(9)))
    val unrelated = (0 until 3).map(k => grayImage(9, 8, f(20 + k)))
    val vids = Seq(
      10L -> frames, 11L -> resized, 12L -> oneShared, 13L -> unrelated)
      .map { case (id, fs) => (id, mjpegAvi(fs.map(encode(_, "bmp")))) }
    // the REAL RIFF walk + REAL decode + dHash — the kernel's exact path
    val fhash = vids.flatMap { case (id, bytes) =>
      MultimodalOps.AviMjpegCodec.decodedAll(bytes).get
        .zipWithIndex.flatMap { case (img, i) =>
          MultimodalOps.dHash64(img).map(dh => (id, i, dh))
        }
    }.toDF("media_id", "frame_idx", "fhash")
    assert(fhash.count() == 12L, "all 4 videos decode all 3 frames")
    val got = MultimodalOps.videoDHashNearDupOf(fhash)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(10L).getAs[Long]("best_match") == 11L
      && got(10L).getAs[Long]("max_run") == 3L
      && got(10L).getAs[Long]("aligned_frames") == 3L, s"${got(10L)}")
    assert(got(11L).getAs[Long]("best_match") == 10L)
    assert(got(12L).isNullAt(got(12L).fieldIndex("best_match")),
      "one shared still is below the temporal run bar")
    assert(got(13L).isNullAt(got(13L).fieldIndex("best_match")))
    assert(got.values.forall(_.getAs[Long]("n_frames") == 3L))
  }

  test("video near-dup: head-trimmed re-encode aligns on a diagonal " +
      "through the real codec") {
    import spark.implicits._
    val f = (k: Int) => (i: Int) => (i * 37 + (i / 9) * 11 + k * 53) % 256
    val frames = (0 until 3).map(k => grayImage(9, 8, f(k)))
    // the trimmed copy: the FIRST frame dropped (the most common real
    // video-dup transformation) — its frame i is the original's i+1,
    // so no frame matches at EQUAL index; only the d = +1 diagonal
    // (original idx − copy idx) carries the 2-frame run
    val trimmed = frames.drop(1)
    // genuinely different GRADIENT STRUCTURE, not a brightness shift of
    // the f family — dHash is deliberately brightness-invariant, so
    // `f(k + const)` frames are near-copies to it (correct behavior,
    // wrong fixture for "unrelated")
    val unrelated = (0 until 3).map(k =>
      grayImage(9, 8, i => ((i * i) * (k + 3) + i * 29 + k * 97) % 256))
    val vids = Seq(20L -> frames, 21L -> trimmed, 22L -> unrelated)
      .map { case (id, fs) => (id, mjpegAvi(fs.map(encode(_, "bmp")))) }
    val fhash = vids.flatMap { case (id, bytes) =>
      MultimodalOps.AviMjpegCodec.decodedAll(bytes).get
        .zipWithIndex.flatMap { case (img, i) =>
          MultimodalOps.dHash64(img).map(dh => (id, i, dh))
        }
    }.toDF("media_id", "frame_idx", "fhash")
    val got = MultimodalOps.videoDHashNearDupOf(fhash)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(20L).getAs[Long]("best_match") == 21L
      && got(20L).getAs[Long]("max_run") == 2L
      && got(20L).getAs[Long]("aligned_frames") == 2L, s"${got(20L)}")
    assert(got(21L).getAs[Long]("best_match") == 20L)
    assert(got(22L).isNullAt(got(22L).fieldIndex("best_match")))
  }

  test("banded Hamming df-cap: 2,000+ shared flat signatures generate " +
      "no candidate pairs; distinctive near-dups still match") {
    import spark.implicits._
    // a flat (black/blank/silent) payload hashes to the all-zeros
    // signature in EVERY 16-bit band, so without the occupancy cap
    // this fixture alone puts C(2100,2) ≈ 2.2M pairs through the
    // Hamming verify. The cap (max(100, n/20) = 105 here) drops the
    // common band values BEFORE the join.
    val flat = "0" * 64
    // a true near-dup pair: distinctive signature, copy 2 bits off
    // (within the bar) with 3 of 4 bands still exact
    val sigA = ("10" * 8) + ("01" * 8) + ("0011" * 4) + ("1100" * 4)
    val sigB = sigA.updated(17, '0').updated(19, '0')
    val sigs = (Seq((1L, sigA), (2L, sigB)) ++
      (1L to 2100L).map(i => (i + 1000L, flat)))
      .toDF("media_id", "dhash")
    val got = MultimodalOps.bandedHamming64(sigs, "dhash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L)),
      s"only the planted distinctive pair may survive: ${got.toSeq}")
  }
}
