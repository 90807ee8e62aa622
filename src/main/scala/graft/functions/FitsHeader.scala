package graft.functions

import scala.collection.immutable.ListMap

/** Minimal FITS header parser — the one genuinely custom kernel in the
  * engine (SURVEY.md §2.9, §7.3). FITS headers are a sequence of 80-byte
  * ASCII "cards" (`KEYWORD = value / comment`), terminated by an `END`
  * card; no external library is needed.
  *
  * The reference delegates header extraction to filetype plugin classes
  * (/root/reference/bin/save_DBB_stagein_to_DBB.py:160, cfg:18-19) driven
  * by the keyword contract table etc/decam_src_keywords.txt; here the
  * parse is a pure JVM function used from `Dataset.map` over `binaryFile`
  * rows — per-row compute with no shuffle, scales linearly with files.
  */
object FitsHeader {

  val CardLen = 80

  val BlockLen = 2880

  /** Parse EVERY HDU header — primary plus extensions. Data blocks between
    * headers are skipped using the FITS size rule
    * |BITPIX|/8 × GCOUNT × (PCOUNT + Π NAXISn), rounded up to the 2880-byte
    * block. Extension HDUs are recognized by their mandatory leading
    * XTENSION card (the primary by SIMPLE); anything else ends the scan.
    * This is what lets the keyword contract's extension-flag column
    * (etc/decam_src_keywords.txt, `R` in the third field) be validated
    * per extension HDU, as the reference's filetype plugins do. */
  def parseAll(bytes: Array[Byte]): Seq[Map[String, String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    var off = 0
    var done = false
    while (!done && off + CardLen <= bytes.length) {
      val lead = new String(bytes, off, CardLen, "US-ASCII")
        .substring(0, 8).trim
      if (lead == "SIMPLE" || lead == "XTENSION") {
        val (hdr, next) = parseFrom(bytes, off)
        out += hdr
        // clamp the declared data-block skip to the buffer: a corrupt or
        // hostile NAXIS/BITPIX product must never move the offset past
        // the end (or, via overflow, BACKWARDS — the parse would then
        // loop or crash instead of the file being quarantined)
        val skip = dataBlockBytes(hdr, isPrimary = out.size == 1)
        off = next + math.min(skip, (bytes.length - next).toLong).toInt
      } else done = true
    }
    out.toSeq
  }

  /** One HDU's header cards from `start` as an ordered keyword → value
    * map, and the offset past its last header block. Stops at the END
    * card or when bytes run out. Values keep their raw text form; quoted
    * strings are unquoted, trailing comments (`/ ...`) stripped.
    * Comment-ish cards (COMMENT, HISTORY, blank keyword) are skipped. */
  private def parseFrom(bytes: Array[Byte], start: Int)
      : (Map[String, String], Int) = {
    var out = ListMap.empty[String, String]
    var off = start
    var done = false
    while (!done && off + CardLen <= bytes.length) {
      val card = new String(bytes, off, CardLen, "US-ASCII")
      val keyword = card.substring(0, math.min(8, card.length)).trim
      if (keyword == "END") done = true
      else if (keyword.nonEmpty && keyword != "COMMENT" && keyword != "HISTORY"
          && card.length > 9 && card.charAt(8) == '=') {
        out = out.updated(keyword, parseValue(card.substring(9)))
      }
      off += CardLen
    }
    // header occupies whole 2880-byte blocks (incl. the END card's block)
    val blocks = (off - start + BlockLen - 1) / BlockLen
    (out, start + blocks * BlockLen)
  }

  /** Declared data-block size in bytes (Long — header values are
    * untrusted input, and a hostile product must saturate, not wrap). */
  private def dataBlockBytes(hdr: Map[String, String], isPrimary: Boolean)
      : Long = {
    def num(k: String, dflt: Long): Long =
      hdr.get(k).flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        .getOrElse(dflt)
    val naxis = num("NAXIS", 0L)
    if (naxis <= 0L || naxis > 999L) 0L
    else {
      val shape = (1L to naxis).map(i => num(s"NAXIS$i", 0L))
      if (shape.exists(_ <= 0L)) 0L
      else {
        val gcount = if (isPrimary) 1L else num("GCOUNT", 1L)
        val pcount = if (isPrimary) 0L else num("PCOUNT", 0L)
        // exact product in BigInt: Long multiplication of hostile values
        // wraps negative, which would move the parse offset backwards.
        // abs in BigInt too — math.abs(Long.MinValue) is NEGATIVE and
        // would evade the saturation below (ADVICE r4)
        val bytes = (BigInt(num("BITPIX", 8L)).abs / 8) *
          BigInt(math.max(0L, gcount)) *
          (BigInt(math.max(0L, pcount)) + shape.map(BigInt(_)).product)
        val blocks = (bytes + (BlockLen - 1)) / BlockLen * BlockLen
        blocks.max(BigInt(0)).min(BigInt(Long.MaxValue)).toLong
      }
    }
  }

  private def parseValue(raw: String): String = {
    val s = raw.trim
    if (s.startsWith("'")) {
      // quoted string: ends at the next single quote ('' escapes a quote)
      val sb = new StringBuilder
      var i = 1
      var closed = false
      while (i < s.length && !closed) {
        val c = s.charAt(i)
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { sb += '\''; i += 2 }
          else { closed = true; i += 1 }
        } else { sb += c; i += 1 }
      }
      sb.result().trim
    } else {
      // numeric / logical: strip trailing comment
      val slash = s.indexOf('/')
      (if (slash >= 0) s.substring(0, slash) else s).trim
    }
  }

  /** Render a keyword→value map as a FITS header byte block (for tests and
    * fixtures): 80-byte cards + END, padded to a 2880-byte block. */
  def render(kv: Seq[(String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    kv.foreach { case (k, v) =>
      val isNum = v.nonEmpty && v.forall(c => c.isDigit || "+-.eE".contains(c))
      val value = if (isNum) v else s"'$v'"
      sb.append(s"%-8s= %s".format(k.take(8), value).padTo(CardLen, ' ').take(CardLen))
    }
    sb.append("END".padTo(CardLen, ' '))
    val block = math.max(2880, ((sb.length + 2879) / 2880) * 2880)
    sb.append(" " * (block - sb.length))
    sb.result().getBytes("US-ASCII")
  }
}
