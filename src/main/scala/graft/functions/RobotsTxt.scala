package graft.functions

import scala.collection.mutable.ArrayBuffer

/** robots.txt parser + path matcher (RFC 9309) — the crawl-side
  * admission rule a web-corpus pipeline evaluates BEFORE a fetch ever
  * produces a WARC record (and re-evaluates offline when curating a
  * crawl it didn't run itself: "would this capture be allowed under
  * the host's current rules" is a standard compliance/quality signal).
  * Reference surface: the reference's keyword-contract validity check
  * (`etc/decam_src_keywords.txt`-driven admission) is the same shape —
  * a per-source rule file gating which payloads may proceed; robots is
  * that contract for crawl data. Same kernel discipline as
  * [[WarcRecords]]/[[HtmlText]]: a pure-JVM single-pass walker over
  * untrusted bytes, total (never throws), spec-pinned on hostile
  * inputs.
  *
  * What it implements (RFC 9309 + the de-facto extensions every major
  * crawler honors):
  *
  *  - **Lines**: UTF-8 text (malformed sequences → U+FFFD), optional
  *    leading BOM stripped, `\r?\n` line ends, `#` comments to EOL,
  *    surrounding whitespace trimmed. Directive names are
  *    case-insensitive (`user-agent`, `allow`, `disallow`,
  *    `crawl-delay`, `sitemap`).
  *  - **Groups**: consecutive `User-agent:` lines stack onto one group
  *    (a group may name several products); the first non-UA directive
  *    closes the agent list and subsequent rules attach to that group.
  *    Rules before any group are ignored; `Sitemap:` is file-level.
  *    `Crawl-delay` is group-level (last value wins; not in RFC 9309
  *    but honored by Bing/Yandex — surfaced, the caller decides).
  *  - **Group selection** ([[groupFor]]): the groups whose product
  *    token equals the caller's (case-insensitive, EXACT token — RFC
  *    9309 §2.2.1; `graftbot-images` is NOT a match for `graftbot`),
  *    merged; else the `*` groups, merged; else no rules (→ allowed).
  *  - **Path match** ([[matches]]): patterns anchor at path start,
  *    `*` matches any octet run, a TRAILING `$` anchors the end (a
  *    non-trailing `$` is literal — the Google semantics RFC 9309
  *    adopted). An EMPTY pattern matches nothing (the `Disallow:`
  *    allow-all convention). Compile-free backtracking char walk — no
  *    per-row regex compile on the hot path.
  *  - **Precedence** ([[isAllowed]]): the matching rule with the
  *    longest pattern (octet length as written) wins; a length tie
  *    goes to `allow`; no matching rule → allowed.
  *
  * Scale shape: robots files are per-host and tiny (the RFC requires
  * parsers to accept at least 500 KiB — [[MaxBytes]] caps the walk
  * there), so the parse side is a map over the ≤|domains| registry
  * relation, and verdict evaluation rides the document scan as a
  * broadcast-joined map using the per-host rule arrays — no shuffle,
  * no per-row pattern compile (see `UrlOps.robotsFilter`). */
object RobotsTxt {

  /** Parse cap — RFC 9309 §2.5 requires processing at least 500 KiB;
    * bytes past the cap are ignored (the RFC's own posture). */
  val MaxBytes = 512 * 1024

  /** One rule as written: allow/disallow + raw pattern. Precedence
    * length is `pattern.length` (octets as written, `*`/`$`
    * included). */
  final case class Rule(allow: Boolean, pattern: String)

  /** One group: the stacked product tokens (lowercased), its rules in
    * file order, and the last `Crawl-delay` seen in the group (-1 if
    * none). */
  final case class Group(agents: Vector[String], rules: Vector[Rule],
      crawlDelay: Long)

  /** A parsed file: groups in file order + file-level sitemap URLs. */
  final case class RobotsFile(groups: Vector[Group],
      sitemaps: Vector[String])

  /** Total parse over untrusted bytes — never throws. */
  def parse(bytes: Array[Byte]): RobotsFile = {
    if (bytes == null || bytes.length == 0) return RobotsFile(Vector.empty, Vector.empty)
    val capped =
      if (bytes.length > MaxBytes) java.util.Arrays.copyOf(bytes, MaxBytes)
      else bytes
    var s = new String(capped, java.nio.charset.StandardCharsets.UTF_8)
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s = s.substring(1)

    val groups = ArrayBuffer.empty[Group]
    val sitemaps = ArrayBuffer.empty[String]
    var agents = ArrayBuffer.empty[String]
    var rules = ArrayBuffer.empty[Rule]
    var delay = -1L
    var open = false        // a group exists to attach rules to
    var stacking = false    // last directive was user-agent

    def flush(): Unit = {
      if (open) groups += Group(agents.toVector, rules.toVector, delay)
      agents = ArrayBuffer.empty; rules = ArrayBuffer.empty
      delay = -1L; open = false; stacking = false
    }

    var i = 0
    val n = s.length
    while (i < n) {
      var eol = i
      while (eol < n && s.charAt(eol) != '\n' && s.charAt(eol) != '\r') eol += 1
      var line = s.substring(i, eol)
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val name = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          name match {
            case "user-agent" =>
              if (!stacking) flush()
              agents += value.toLowerCase
              open = true; stacking = true
            case "allow" | "disallow" if open =>
              rules += Rule(name == "allow", value); stacking = false
            case "crawl-delay" if open =>
              stacking = false
              try {
                val v = java.lang.Long.parseLong(value)
                if (v >= 0) delay = v
              } catch { case _: NumberFormatException => () }
            case "sitemap" =>
              // file-level; closes agent stacking but not the group
              if (value.nonEmpty) sitemaps += value
              stacking = false
            case _ => stacking = false // unknown directive: ignored
          }
        } else stacking = false // junk line without ':' — ignored
      }
      // empty/comment-only lines do NOT close a group (RFC 9309: only
      // a new user-agent run starts a new group)
      i = eol
      if (i < n && s.charAt(i) == '\r') i += 1
      if (i < n && s.charAt(i) == '\n') i += 1
    }
    flush()
    RobotsFile(groups.toVector, sitemaps.toVector)
  }

  /** The effective rules for a product token: exact-match groups
    * merged, else `*` groups merged, else empty (→ everything
    * allowed). */
  def groupFor(file: RobotsFile, agent: String): Vector[Rule] =
    selectGroups(file, agent).flatMap(_.rules)

  /** The effective crawl delay for a product token: the last delay
    * declared among its selected groups, -1 when none. */
  def delayFor(file: RobotsFile, agent: String): Long = {
    val ds = selectGroups(file, agent).map(_.crawlDelay).filter(_ >= 0)
    if (ds.isEmpty) -1L else ds.last
  }

  private def selectGroups(file: RobotsFile, agent: String): Vector[Group] = {
    val tok = if (agent == null) "" else agent.toLowerCase
    val exact = file.groups.filter(_.agents.contains(tok))
    if (exact.nonEmpty) exact
    else file.groups.filter(_.agents.contains("*"))
  }

  /** Longest-match verdict over a rule set (RFC 9309 §2.2.2): the
    * matching rule with the longest pattern wins, ties go to allow,
    * no match → allowed. Scored as `plen*2 + allowBit` so one integer
    * max carries both the length ordering and the tie rule — the same
    * formulation the SQL oracle uses, so the two implementations can
    * only agree by both being longest-match. */
  def isAllowed(rules: Seq[Rule], path: String): Boolean = {
    var best = -1L
    rules.foreach { r =>
      if (matches(r.pattern, path)) {
        val score = r.pattern.length.toLong * 2 + (if (r.allow) 1 else 0)
        if (score > best) best = score
      }
    }
    best < 0 || (best % 2 == 1)
  }

  /** Anchored wildcard match: `*` spans any run, a trailing `$`
    * anchors the end, empty patterns match nothing. Compile-free
    * greedy-with-backtrack walk (the classic glob algorithm) — safe to
    * run per document row. */
  def matches(pattern: String, path: String): Boolean = {
    if (pattern == null || pattern.isEmpty) return false
    if (path == null) return false
    val anchored = pattern.charAt(pattern.length - 1) == '$'
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    var p = 0; var t = 0
    var starP = -1; var starT = -1
    val pn = pat.length; val tn = path.length
    while (t < tn) {
      if (p < pn && (pat.charAt(p) == path.charAt(t))) { p += 1; t += 1 }
      else if (p < pn && pat.charAt(p) == '*') { starP = p; p += 1; starT = t }
      else if (starP >= 0) { p = starP + 1; starT += 1; t = starT }
      else return false
      if (p == pn && t < tn) {
        if (!anchored) return true          // prefix consumed — match
        if (starP >= 0) { p = starP + 1; starT += 1; t = starT } // need end anchor: backtrack
        else return false
      }
    }
    while (p < pn && pat.charAt(p) == '*') p += 1
    p == pn
  }
}
