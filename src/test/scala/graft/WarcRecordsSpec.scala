package graft

import graft.functions.WarcRecords

/** [[graft.functions.WarcRecords]] — WARC container splitter. The
  * oracled row is q_warc_extract (3-record column-expression
  * synthesis, shared fingerprint with q_html_extract); this pins the
  * gzip member path and the hostile-input posture the oracle can't
  * reach: truncated payloads, bad Content-Length, garbage prefixes,
  * caps. */
class WarcRecordsSpec extends SparkSpec {

  private def bytes(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  private def rec(typ: String, payload: String,
      extra: String = "", length: Option[String] = None): String = {
    val len = length.getOrElse(payload.length.toString)
    s"WARC/1.0\r\nWARC-Type: $typ\r\n${extra}Content-Length: $len" +
      s"\r\n\r\n$payload\r\n\r\n"
  }

  private def gzip(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes(s)); gz.close()
    bos.toByteArray
  }

  test("two well-formed records split with all fields parsed") {
    val file = rec("warcinfo", "software: graft") +
      rec("response", "HTTP/1.1 200 OK\r\n\r\n<html>x</html>",
        extra = "WARC-Target-URI: http://e.com/1\r\n" +
          "Content-Type: application/http;msgtype=response\r\n")
    val rs = WarcRecords.split(bytes(file))
    assert(rs.size == 2)
    assert(rs(0).warcType == "warcinfo" && !rs(0).truncated)
    assert(new String(rs(0).payload) == "software: graft")
    assert(rs(0).declaredLength == 15L && rs(0).offset == 0L)
    assert(rs(1).warcType == "response")
    assert(rs(1).targetUri == "http://e.com/1")
    assert(rs(1).contentType == "application/http;msgtype=response")
    assert(!rs(1).truncated)
  }

  test("header names are case-insensitive; values trim") {
    val file = "WARC/1.0\r\nwarc-type:  Response \r\n" +
      "CONTENT-LENGTH: 2\r\n\r\nok\r\n\r\n"
    val rs = WarcRecords.split(bytes(file))
    assert(rs.size == 1 && rs.head.warcType == "response")
    assert(new String(rs.head.payload) == "ok")
  }

  test("gzip: per-record members and whole-file gzip split identically") {
    val r1 = rec("warcinfo", "a")
    val r2 = rec("metadata", "bb")
    val plain = WarcRecords.split(bytes(r1 + r2))
    val members = WarcRecords.split(gzip(r1) ++ gzip(r2))
    val whole = WarcRecords.split(gzip(r1 + r2))
    for (rs <- Seq(members, whole)) {
      assert(rs.size == 2)
      assert(rs.map(_.warcType) == plain.map(_.warcType))
      assert(rs.map(r => new String(r.payload)) ==
        plain.map(r => new String(r.payload)))
    }
  }

  test("truncated payload: short file walks to EOF and flags") {
    val file = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 100\r\n\r\nonly-ten-b"
    val rs = WarcRecords.split(bytes(file))
    assert(rs.size == 1)
    assert(rs.head.truncated)
    assert(rs.head.declaredLength == 100L)
    assert(new String(rs.head.payload) == "only-ten-b")
  }

  test("bad Content-Length scans to the next record boundary, flagged") {
    val file = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: abc\r\n\r\nbody-of-unknown-size\r\n\r\n" +
      rec("metadata", "m")
    val rs = WarcRecords.split(bytes(file))
    assert(rs.size == 2, rs.map(_.warcType))
    assert(rs(0).declaredLength == -1L && rs(0).truncated)
    assert(new String(rs(0).payload).startsWith("body-of-unknown-size"))
    // the following record is still found and intact
    assert(rs(1).warcType == "metadata" && !rs(1).truncated)
    assert(new String(rs(1).payload) == "m")
    // a missing Content-Length behaves the same way
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\nxx\r\n\r\n" +
      rec("metadata", "m")
    val rs2 = WarcRecords.split(bytes(noLen))
    assert(rs2.size == 2 && rs2(0).declaredLength == -1L &&
      rs2(0).truncated && rs2(1).warcType == "metadata")
  }

  test("negative Content-Length is invalid, not a huge copy") {
    val file = "WARC/1.0\r\nWARC-Type: m\r\nContent-Length: -5\r\n\r\nxy"
    val rs = WarcRecords.split(bytes(file))
    assert(rs.size == 1 && rs.head.declaredLength == -1L &&
      rs.head.truncated)
  }

  test("garbage before the first version line is skipped; WARC/ inside a sized payload never splits") {
    val payload = "contains\nWARC/1.0 lookalike at line start"
    val file = "noise noise\r\n" + rec("response", payload)
    val rs = WarcRecords.split(bytes(file))
    assert(rs.size == 1)
    assert(new String(rs.head.payload) == payload)
  }

  test("empty, null, and non-WARC inputs yield no records") {
    assert(WarcRecords.split(Array.emptyByteArray).isEmpty)
    assert(WarcRecords.split(null).isEmpty)
    assert(WarcRecords.split(bytes("just some text")).isEmpty)
    // torn gzip never throws
    assert(WarcRecords.split(gzip(rec("m", "x")).take(5)).isEmpty)
  }

  test("record cap bounds a hostile many-record file and flags the hit") {
    val many = rec("metadata", "p") * (WarcRecords.MaxRecords + 10)
    val (rs, capped) = WarcRecords.splitCapped(bytes(many))
    assert(rs.size == WarcRecords.MaxRecords && capped)
    // an uncapped file never flags
    assert(!WarcRecords.splitCapped(bytes(rec("metadata", "p")))._2)
  }

  test("gunzip sizing survives large inputs; torn member keeps prior members") {
    // a corrupt SECOND gzip member must not discard the first member's
    // records (the documented torn-trailing-member posture)
    val good = gzip(rec("warcinfo", "kept"))
    val torn = gzip(rec("metadata", "lost")).dropRight(6)
    val rs = WarcRecords.split(good ++ torn)
    assert(rs.nonEmpty && rs.head.warcType == "warcinfo")
    assert(new String(rs.head.payload) == "kept")
  }

  test("digest capture + verify seam: hex algos, CommonCrawl " +
      "sha1-base32, and the nothing-to-check cases") {
    def md = java.security.MessageDigest.getInstance(_: String)
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val payload = "the payload bytes"
    val md5hex = hex(md("MD5").digest(bytes(payload)))
    val ok = WarcRecords.split(bytes(rec("response", payload,
      extra = s"WARC-Payload-Digest: md5:$md5hex\r\n"))).head
    assert(ok.payloadDigest == s"md5:$md5hex")
    assert(WarcRecords.verifyDigest(ok).contains(true))
    val bad = ok.copy(payloadDigest = "md5:" + ("0" * 32))
    assert(WarcRecords.verifyDigest(bad).contains(false))
    // CommonCrawl convention: sha1 rendered base32 (32 chars, RFC 4648)
    val sha1 = md("SHA-1").digest(bytes(payload))
    val b32 = {
      val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
      val bits = sha1.flatMap(b =>
        (7 to 0 by -1).map(i => (b >> i) & 1))
      bits.grouped(5).map(g =>
        alpha(g.foldLeft(0)((a, x) => (a << 1) | x))).mkString
    }
    assert(b32.length == 32)
    val cc = ok.copy(payloadDigest = s"sha1:$b32")
    assert(WarcRecords.verifyDigest(cc).contains(true))
    assert(WarcRecords.verifyDigest(
      ok.copy(payloadDigest = s"sha1:${hex(sha1)}")).contains(true))
    // nothing-to-check: no digest, unknown algo, truncated payload
    assert(WarcRecords.verifyDigest(ok.copy(payloadDigest = "")).isEmpty)
    assert(WarcRecords.verifyDigest(
      ok.copy(payloadDigest = "blake3:aa")).isEmpty)
    assert(WarcRecords.verifyDigest(ok.copy(truncated = true)).isEmpty)
  }

  test("quarantine route: verifyDigest re-verify splits kept from " +
      "corrupted records") {
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(bytes(s)).map("%02x".format(_)).mkString
    val good = rec("response", "clean-payload",
      extra = "WARC-Target-URI: http://e.com/ok\r\n" +
        s"WARC-Payload-Digest: md5:${md5hex("clean-payload")}\r\n")
    // declared digest of the CLEAN bytes, rotted bytes written —
    // Content-Length matches, so only the digest disagrees
    val rotted = rec("response", "rotted-payload",
      extra = "WARC-Target-URI: http://e.com/bad\r\n" +
        s"WARC-Payload-Digest: md5:${md5hex("clean-payload")}\r\n")
    val rows = WarcRecords.split(bytes(good + rotted))
      .map { r =>
        val verdict = WarcRecords.verifyDigest(
          r.payloadDigest, r.payload, r.truncated) match {
          case Some(true) => "ok"
          case Some(false) => "quarantine"
          case None => "unchecked"
        }
        r.targetUri -> verdict
      }.toMap
    assert(rows == Map("http://e.com/ok" -> "ok",
      "http://e.com/bad" -> "quarantine"))
  }

  test("httpCharset + decode: declared charset honored, quoted and " +
      "parameterized forms, body never scanned, unknown falls back") {
    import WarcRecords.{httpCharset, decode}
    assert(httpCharset(bytes("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=windows-1252\r\n\r\nbody"))
      == "windows-1252")
    assert(httpCharset(bytes("HTTP/1.1 200 OK\r\n" +
      "content-type: text/html;charset=\"UTF-8\"; q=1\r\n\r\n"))
      == "utf-8")
    assert(httpCharset(bytes("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html\r\n\r\ncharset=sneaky-in-body")) == "")
    assert(httpCharset(bytes("not http")) == "")
    assert(httpCharset(null) == "")
    // cp1252 curly quote: 0x93 decodes to U+201C under the declaration,
    // U+FFFD under the UTF-8 fallback
    val b = Array[Byte]('a'.toByte, 0x93.toByte, 'b'.toByte)
    assert(decode(b, "windows-1252") == "a“b")
    assert(decode(b, "") == "a�b")
    assert(decode(b, "no-such-charset") == "a�b")
    assert(decode(null, "utf-8") == "")
  }

  test("revisit headers parse: refers-to angle-stripped, empty payload") {
    val file = "WARC/1.0\r\nWARC-Type: revisit\r\n" +
      "WARC-Record-ID: <urn:uuid:rev-9>\r\n" +
      "WARC-Refers-To: <urn:uuid:resp-8>\r\n" +
      "WARC-Profile: http://netpreserve.org/warc/1.0/revisit/" +
      "identical-payload-digest\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    val rs = WarcRecords.split(bytes(file))
    assert(rs.size == 1)
    assert(rs.head.warcType == "revisit" && !rs.head.truncated)
    assert(rs.head.recordId == "urn:uuid:rev-9")
    assert(rs.head.refersTo == "urn:uuid:resp-8")
    assert(rs.head.payload.isEmpty)
  }

  test("httpBody: status + body; CRLF and LF header terminators") {
    val (s1, b1) = WarcRecords.httpBody(
      bytes("HTTP/1.1 404 Not Found\r\nX: y\r\n\r\nbody"))
    assert(s1 == 404 && new String(b1) == "body")
    val (s2, b2) = WarcRecords.httpBody(bytes("HTTP/1.0 200 OK\n\nb2"))
    assert(s2 == 200 && new String(b2) == "b2")
    // non-HTTP passes through untouched
    val (s3, b3) = WarcRecords.httpBody(bytes("plain payload"))
    assert(s3 == -1 && new String(b3) == "plain payload")
    // header block with no terminator: status parsed, empty body
    val (s4, b4) = WarcRecords.httpBody(bytes("HTTP/1.1 301 Moved\r\nL: u"))
    assert(s4 == 301 && b4.isEmpty)
    // mangled status is -1, never a throw
    val (s5, _) = WarcRecords.httpBody(bytes("HTTP/1.1 abc\r\n\r\nx"))
    assert(s5 == -1)
    assert(WarcRecords.httpBody(null)._1 == -1)
  }

  test("httpHeaderValue: case-insensitive, trimmed, head-only, total") {
    val p = bytes("HTTP/1.1 301 Moved\r\nLOCATION:  http://e.com/next " +
      "\r\nX-Other: z\r\n\r\nLocation: http://body-leak/")
    assert(WarcRecords.httpHeaderValue(p, "location")
      == "http://e.com/next")
    assert(WarcRecords.httpHeaderValue(p, "x-other") == "z")
    // absent header, body occurrences never read
    assert(WarcRecords.httpHeaderValue(p, "retry-after") == "")
    // non-HTTP payloads and nulls answer empty, never throw
    assert(WarcRecords.httpHeaderValue(bytes("plain"), "location") == "")
    assert(WarcRecords.httpHeaderValue(null, "location") == "")
    assert(WarcRecords.httpHeaderValue(p, null) == "")
  }
}
