package graft

import org.apache.spark.sql.functions._
import graft.functions.RobotsTxt
import graft.functions.RobotsTxt.Rule
import graft.operators.UrlOps

/** [[graft.functions.RobotsTxt]] — RFC 9309 parser + matcher. The
  * oracled rows are q_robots_rules / q_robots_census /
  * q_robots_filter (DuckDB predicts parse + longest-match verdicts
  * from the planted arithmetic); this pins the kernel edges the
  * fixture can't reach — hostile inputs, matcher/LIKE equivalence,
  * group-selection corners. */
class RobotsTxtSpec extends SparkSpec {

  /** The SQL LIKE twin of a robots pattern (`*`→`%`, LIKE metachars
    * escaped with `\`, a trailing `%` unless `$`-anchored); None for the
    * empty pattern (matches nothing). */
  private def likePattern(pattern: String): Option[String] = {
    if (pattern == null || pattern.isEmpty) return None
    val anchored = pattern.charAt(pattern.length - 1) == '$'
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val sb = new java.lang.StringBuilder(pat.length + 8)
    pat.foreach {
      case '*' => sb.append('%')
      case c @ ('%' | '_' | '\\') => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    if (!anchored) sb.append('%')
    Some(sb.toString)
  }

  private def b(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("groups: stacked agents, blank lines don't close, file-level sitemap") {
    val f = RobotsTxt.parse(b(
      "# hdr\nUser-agent: a\nUser-agent: b\nDisallow: /x\n\n" +
        "Allow: /y\nSitemap: https://e.org/s.xml\n" +
        "User-agent: c\nDisallow: /z\n"))
    assert(f.groups.size == 2)
    assert(f.groups(0).agents == Vector("a", "b"))
    // the blank line does NOT close the group; the sitemap line is
    // file-level and also doesn't close it
    assert(f.groups(0).rules == Vector(Rule(false, "/x"), Rule(true, "/y")))
    assert(f.groups(1).agents == Vector("c"))
    assert(f.sitemaps == Vector("https://e.org/s.xml"))
  }

  test("directive names case-insensitive; comments and padding strip") {
    val f = RobotsTxt.parse(b(
      "USER-AGENT: *\ndisallow:   /a   # trailing comment\nALLOW: /b\n"))
    assert(f.groups.head.rules == Vector(Rule(false, "/a"), Rule(true, "/b")))
  }

  test("BOM strips; CRLF; empty Disallow kept but matches nothing") {
    val f = RobotsTxt.parse(b(
      "\uFEFF" + "User-agent: *\r\nDisallow:\r\nDisallow: /a\r\n"))
    assert(f.groups.size == 1)
    assert(f.groups.head.rules == Vector(Rule(false, ""), Rule(false, "/a")))
    assert(!RobotsTxt.matches("", "/anything"))
    assert(RobotsTxt.isAllowed(Vector(Rule(false, "")), "/anything"))
  }

  test("rules before any group are ignored; junk lines skip") {
    val f = RobotsTxt.parse(b(
      "Disallow: /early\nnot a directive\nUser-agent: *\nAllow: /ok\n"))
    assert(f.groups.head.rules == Vector(Rule(true, "/ok")))
  }

  test("group selection: exact token only, case-insensitive, else *") {
    val f = RobotsTxt.parse(b(
      "User-agent: *\nDisallow: /star\n\n" +
        "User-agent: graftbot\nDisallow: /bot\n\n" +
        "User-agent: graftbot-images\nDisallow: /img\n"))
    assert(RobotsTxt.groupFor(f, "GraftBot").map(_.pattern) == Vector("/bot"))
    assert(RobotsTxt.groupFor(f, "graftbot-images").map(_.pattern)
      == Vector("/img"))
    // exact token: 'graftbot' must NOT pick up the -images group, and
    // an unknown agent falls back to *
    assert(RobotsTxt.groupFor(f, "otherbot").map(_.pattern) == Vector("/star"))
    // same-token groups MERGE (RFC 9309 §2.2.1)
    val m = RobotsTxt.parse(b(
      "User-agent: x\nDisallow: /a\n\nUser-agent: x\nDisallow: /b\n"))
    assert(RobotsTxt.groupFor(m, "x").map(_.pattern) == Vector("/a", "/b"))
  }

  test("crawl-delay: group-level, last wins, invalid/negative ignored") {
    val f = RobotsTxt.parse(b(
      "User-agent: *\nCrawl-delay: 3\nCrawl-delay: 9\n\n" +
        "User-agent: g\nCrawl-delay: junk\nCrawl-delay: -4\n"))
    assert(RobotsTxt.delayFor(f, "any") == 9L)
    assert(RobotsTxt.delayFor(f, "g") == -1L)
  }

  test("precedence: longest match wins, length tie goes to allow") {
    val rules = Vector(Rule(false, "/docs/"), Rule(true, "/docs/1"),
      Rule(false, "/docs/12"))
    assert(!RobotsTxt.isAllowed(rules, "/docs/2"))
    assert(RobotsTxt.isAllowed(rules, "/docs/13"))
    assert(!RobotsTxt.isAllowed(rules, "/docs/123"))
    assert(RobotsTxt.isAllowed(
      Vector(Rule(false, "/a"), Rule(true, "/b")), "/c"),
      "no matching rule -> allowed")
    assert(RobotsTxt.isAllowed(
      Vector(Rule(false, "/ab"), Rule(true, "/a*")), "/ab"),
      "equal pattern length: allow wins the tie")
    assert(RobotsTxt.isAllowed(Vector.empty, "/x"))
  }

  test("matcher: anchors, wildcards, backtracking") {
    assert(RobotsTxt.matches("/docs/1", "/docs/12"))
    assert(!RobotsTxt.matches("/docs/2", "/docs/12"))
    assert(RobotsTxt.matches("/docs/*2$", "/docs/12"))
    assert(RobotsTxt.matches("/docs/*2$", "/docs/2"))
    assert(!RobotsTxt.matches("/docs/*2$", "/docs/21"))
    assert(RobotsTxt.matches("/a*c", "/abc/d"))
    assert(RobotsTxt.matches("/a*b*c$", "/aXbXbYc"))
    assert(RobotsTxt.matches("*", "/x"))
    assert(RobotsTxt.matches("$", "") && !RobotsTxt.matches("$", "/x"))
  }

  test("hostile inputs: total function") {
    assert(RobotsTxt.parse(null).groups.isEmpty)
    assert(RobotsTxt.parse(Array.emptyByteArray).groups.isEmpty)
    RobotsTxt.parse(Array.tabulate(4096)(i => (i * 31).toByte)) // no throw
    // cap: bytes past MaxBytes are ignored
    val big = (new StringBuilder)
      .append("User-agent: *\n")
      .append("#").append("x".repeat(RobotsTxt.MaxBytes)).append("\n")
      .append("Disallow: /past-cap\n").toString
    val f = RobotsTxt.parse(b(big))
    assert(f.groups.head.rules.isEmpty,
      "a rule past the 512 KiB cap must not parse")
  }

  test("matcher ≡ SQL LIKE under likePattern (fuzz, fixed seed)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "ab/1"
    def randStr(n: Int): String =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val cases = (1 to 300).map { _ =>
      val core = Seq.fill(rnd.nextInt(4))(
        randStr(rnd.nextInt(3)) + (if (rnd.nextBoolean()) "*" else "")
      ).mkString
      val pat = "/" + core + (if (rnd.nextBoolean()) "$" else "")
      val path = "/" + randStr(rnd.nextInt(6))
      (pat, path)
    }.distinct
    import spark.implicits._
    val df = cases.map { case (pat, path) =>
      (pat, path, likePattern(pat).orNull) }
      .toDF("pat", "path", "lp")
    val got = df.select(col("pat"), col("path"),
        coalesce(expr("path LIKE lp"), lit(false)).as("sql_like"))
      .collect()
    got.foreach { r =>
      val (pat, path, sqlLike) =
        (r.getString(0), r.getString(1), r.getBoolean(2))
      assert(RobotsTxt.matches(pat, path) == sqlLike,
        s"matcher/LIKE disagree on pat=$pat path=$path")
    }
  }

  test("fixture round-trip: filter verdicts re-derive from parsed rules") {
    import spark.implicits._
    val got = UrlOps.robotsFilter(spark, sfDir).collect()
    assert(got.length > 0)
    // recompute each verdict from a fresh parse of the domain's bytes
    val bodies = UrlOps.robotsDocs(
        graft.sources.Tables.documents(spark, sfDir))
      .as[(String, Array[Byte])].collect().toMap
    got.foreach { r =>
      val (id, src, path) = (r.getLong(0), r.getString(1), r.getString(2))
      val f = RobotsTxt.parse(bodies(src))
      assert(r.getBoolean(3) ==
        RobotsTxt.isAllowed(RobotsTxt.groupFor(f, "wanderer"), path),
        s"allowed_any mismatch doc=$id")
      assert(r.getBoolean(4) ==
        RobotsTxt.isAllowed(RobotsTxt.groupFor(f, "graftbot"), path),
        s"allowed_bot mismatch doc=$id")
      assert(r.getLong(5) == RobotsTxt.delayFor(f, "wanderer"))
      assert(r.getLong(6) == RobotsTxt.delayFor(f, "graftbot"))
    }
    // the planted classes all appear: both verdicts, a bot-specific
    // group, a BOM domain, a stacked-agent domain
    assert(got.exists(_.getBoolean(3)) && got.exists(!_.getBoolean(3)))
    assert(got.exists(r => r.getBoolean(4) != r.getBoolean(3)) ||
      got.exists(r => r.getLong(6) != r.getLong(5)),
      "the graftbot group must change SOME verdict or delay")
  }
}
