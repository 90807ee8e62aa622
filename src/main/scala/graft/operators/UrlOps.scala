package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] URL DEDUP-KEY canonicalization — the aggressive second level
  * of the URL story: [[CurationOps.canonicalizeUrl]] is the
  * DISPLAY-canonical form (scheme preserved — `http://x` and
  * `https://x` stay distinct URLs), used by the funnel's crawl-dedup
  * stage; THIS module derives the DEDUP KEY, where the same page
  * crawled as `http://` and `https://`, with and without `www.`, with
  * default ports, trailing slashes, tracking parameters (`utm_*`,
  * `ref`, `fbclid`, `gclid`) and fragments must all COLLAPSE — the key
  * URL-keyed dedup and the domain link-graph family ([[GraphOps]])
  * stand on. The reference's closest surface is path templating
  * (`${var}` expansion); this is its inverse — reducing a messy
  * identifier to its canonical key.
  *
  * Everything here is PURE built-in column expressions (regexp over
  * the RFC 3986 delimiters, split / filter / array_join over the query
  * string) — codegen'd, no custom kernels — with a DuckDB twin built
  * from the same regexes, so both engines canonicalize independently
  * and the hashes must agree.
  *
  * Canonical form (the dedup-key convention, deliberately aggressive):
  * scheme folded to `https`, host lowercased with `www.` and default
  * ports (`:80`/`:443`) stripped (non-default ports are KEPT — they
  * address a different server), ONE trailing slash stripped from the
  * path, tracking parameters dropped (other parameters keep their
  * original order — reordering would need a stance on duplicate keys),
  * fragment dropped (never sent to the server).
  *
  * The corpus carries no URL column, so one is SYNTHESIZED per doc
  * from (doc_id, source) in six planted variants (scheme case, www,
  * ports, trailing slash, utm/ref junk, fragments) — every variant of
  * a doc canonicalizes to the same URL, which is exactly the planted
  * regime the dedup query grades.
  *
  * Scale shape: canonicalization is a pure map riding in the scan's
  * codegen'd projection; [[urlKeyDedup]] is the standard fingerprint
  * hash-groupBy on the canonical key — at 100 TB this is exact dedup's
  * shuffle with a canonical key instead of a raw one. */
object UrlOps {

  /** Tracking parameters to drop — name match before `=` (or a bare
    * name with no value). */
  val TrackingParams = "^(utm_[^=]*|ref|fbclid|gclid)(=|$)"
  private val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*://"

  /** Synthesized URL for a doc under planted variant `v` (0..5) —
    * same canonical form for every v. */
  private def variantUrl(v: Column, docId: Column, src: Column): Column = {
    val path = concat(lit("/docs/"), docId.cast("string"))
    val host = concat(lit("www."), src, lit(".example.org"))
    when(v === 0, concat(lit("https://"), host, path))
      .when(v === 1, concat(lit("HTTP://"), upper(host), lit(":80"),
        path, lit("/")))
      .when(v === 2, concat(lit("https://"), host, lit(":443"), path,
        lit("?utm_source=feed&utm_campaign=c")))
      .when(v === 3, concat(lit("http://"), host, path,
        lit("?id=7&utm_medium=email&ref=x#frag")))
      .when(v === 4, concat(lit("https://"), host, path,
        lit("?a=1&b=2")))
      .otherwise(concat(lit("http://"), src, lit(".example.org"), path))
  }

  /** The per-doc synthesized URL (variant = doc_id % 6). */
  def synthUrl(docId: Column, src: Column): Column =
    variantUrl((docId % 6).cast("int"), docId, src)

  /** SQL twin of [[variantUrl]] over an expression for v. */
  private def variantUrlSql(v: String): String =
    s"""CASE $v
       |  WHEN 0 THEN 'https://www.' || source || '.example.org/docs/' || doc_id
       |  WHEN 1 THEN 'HTTP://WWW.' || upper(source) || '.EXAMPLE.ORG:80/docs/' || doc_id || '/'
       |  WHEN 2 THEN 'https://www.' || source || '.example.org:443/docs/' || doc_id || '?utm_source=feed&utm_campaign=c'
       |  WHEN 3 THEN 'http://www.' || source || '.example.org/docs/' || doc_id || '?id=7&utm_medium=email&ref=x#frag'
       |  WHEN 4 THEN 'https://www.' || source || '.example.org/docs/' || doc_id || '?a=1&b=2'
       |  ELSE 'http://' || source || '.example.org/docs/' || doc_id
       |END""".stripMargin.replaceAll("\n\\s*", " ")

  /** SQL twin of [[synthUrl]] (reads `doc_id`, `source`). */
  val synthUrlSql: String = variantUrlSql("CAST(doc_id % 6 AS INT)")

  /** URL minus its scheme. */
  private def rest(url: Column): Column =
    regexp_replace(url, SchemeRe, "")

  /** Canonical host: lowercase, default ports and `www.` stripped. */
  def canonicalHost(url: Column): Column =
    regexp_replace(
      regexp_replace(lower(regexp_extract(rest(url), "^([^/?#]+)", 1)),
        ":(80|443)$", ""),
      "^www\\.", "")

  /** Canonical path: one trailing slash stripped (root → empty). */
  private def canonicalPath(url: Column): Column =
    regexp_replace(regexp_extract(rest(url), "^[^/?#]+([^?#]*)", 1),
      "/$", "")

  /** Query string with tracking parameters dropped, order preserved.
    *
    * Pure regexp surgery (r17 — replaces the lambda `filter`, whose
    * HOF predicate never codegens and evaluated its child tree
    * interpreted): pad the query with `&` sentinels, then one global
    * replace removes every `&` that introduces a tracking segment OR
    * an empty segment — the `(?=&)` lookahead leaves the next
    * boundary in place so consecutive dropped segments collapse in a
    * single pass — and a final trim strips the sentinel boundary `&`s.
    * Segment-name semantics are [[TrackingParams]]' exactly (`utm_*`,
    * `ref`, `fbclid`, `gclid`, name-anchored, with or without a
    * value); the DuckDB oracle keeps its independent `list_filter`
    * formulation, so the gate re-proves the equivalence on every
    * fixture variant. */
  private def keptQuery(url: Column): Column =
    regexp_replace(
      regexp_replace(
        concat(lit("&"),
          regexp_extract(url, "^[^?#]*\\?([^#]*)", 1), lit("&")),
        "&(?:(?:utm_[^=&]*|ref|fbclid|gclid)(?:=[^&]*)?)?(?=&)", ""),
      "^&+|&+$", "")

  /** The full canonical URL. The query-string arm references
    * [[keptQuery]] exactly ONCE — `nullif(concat("?", kept), "?")`
    * folds the empty case without a second evaluation the CASE form
    * would pay. */
  def canonicalUrl(url: Column): Column =
    concat(lit("https://"), canonicalHost(url), canonicalPath(url),
      coalesce(nullif(concat(lit("?"), keptQuery(url)), lit("?")),
        lit("")))

  /** SQL twin of [[canonicalHost]] over a URL expression. */
  def canonicalHostSqlOf(url: String): String =
    s"""regexp_replace(regexp_replace(
       |  lower(regexp_extract(regexp_replace($url,
       |    '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^([^/?#]+)', 1)),
       |  ':(80|443)$$', ''), '^www\\.', '')""".stripMargin
      .replaceAll("\n\\s*", " ")

  /** SQL twin of [[canonicalUrl]] over a URL expression. */
  def canonicalUrlSqlOf(url: String): String = {
    val path =
      s"""regexp_replace(regexp_extract(regexp_replace($url,
         |  '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |  '^[^/?#]+([^?#]*)', 1), '/$$', '')""".stripMargin
        .replaceAll("\n\\s*", " ")
    // DuckDB's array_to_string([]) is NULL, not '' — coalesce, or every
    // query-free URL's canonical form nulls out through ||
    val kept =
      s"""coalesce(array_to_string(list_filter(string_split(
         |  regexp_extract($url, '^[^?#]*\\?([^#]*)', 1), '&'),
         |  x -> NOT regexp_matches(x, '$TrackingParams')
         |       AND x <> ''), '&'), '')""".stripMargin
        .replaceAll("\n\\s*", " ")
    s"'https://' || ${canonicalHostSqlOf(url)} || $path || " +
      s"(CASE WHEN $kept = '' THEN '' ELSE '?' || $kept END)"
  }

  /** ORACLED CANONICALIZATION — per doc: the synthesized messy URL,
    * its canonical form and canonical host, graded against DuckDB
    * running the same regex/list pipeline independently. Every
    * doc_id % 6 variant class appears; a planted mix of scheme case,
    * www, default ports, trailing slashes, tracking params and
    * fragments must all fold. */
  def urlCanonical(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        synthUrl(col("doc_id"), col("source")).as("url"))
      .select(col("doc_id"), col("url"),
        canonicalUrl(col("url")).as("canon_url"),
        canonicalHost(col("url")).as("host"))

  /** URL-KEYED EXACT DEDUP — the planted twin regime: each doc appears
    * under TWO different junk variants (ids 2·doc_id / 2·doc_id+1,
    * variants rotating through the query-free classes {0,1,2,5}), raw
    * URLs always byte-different, canonical URLs always equal. One row
    * per canonical URL: representative id, member count, distinct raw
    * forms — every group must be a caught pair (n_raw = 2), which the
    * oracle recomputes from the same planted structure.
    *
    * Scale shape: hash-groupBy on the canonical key (the exact-dedup
    * shuffle); the canonicalization rides in the scan projection. */
  def urlKeyDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    // variant classes whose canonical form carries no query string —
    // any two of them collapse
    def cls(k: Column): Column =
      when(k === 0, lit(0)).when(k === 1, lit(1))
        .when(k === 2, lit(2)).otherwise(lit(5))
    val corpus = base.select((col("doc_id") * 2).as("id"),
        variantUrl(cls(col("doc_id") % 4), col("doc_id"), col("source"))
          .as("url"))
      .unionAll(base.select((col("doc_id") * 2 + 1).as("id"),
        variantUrl(cls((col("doc_id") + 1) % 4), col("doc_id"),
          col("source")).as("url")))
    corpus
      .groupBy(canonicalUrl(col("url")).as("canon_url"))
      .agg(min(col("id")).as("rep_id"),
        count(lit(1)).as("n_members"),
        countDistinct(col("url")).as("n_raw"))
      .select(col("canon_url"), col("rep_id"), col("n_members"),
        col("n_raw"))
  }

  // --- robots.txt: crawl-admission rules (RFC 9309) -------------------

  /** The product token the "specific group" verdicts evaluate for. */
  private val BotAgent = "graftbot"

  /** Per-domain planted integer: the numeric suffix of `source`
    * (`src13` → 13) — the arithmetic every robots plant varies on,
    * recomputed by the oracle as `CAST(substr(source, 4) AS INT)`. */
  private def domInt: Column = substring(col("source"), 4, 8).cast("int")

  /** Deterministic robots.txt synthesis per DOMAIN (the [[synthUrl]]
    * host surface: one file per `source`) — the `warcDocs` discipline
    * for the crawl-admission layer. Each body is assembled from column
    * expressions keyed on the domain's numeric suffix `d`, so DuckDB
    * predicts every parse/verdict outcome from the same arithmetic
    * while Spark PARSES the bytes with [[graft.functions.RobotsTxt]]:
    *
    *  - a `*` group: `Disallow: /docs/` (len 6), `Allow: /docs/1`
    *    (len 7, even d only), `Disallow: /docs/1<d%10>` (len 8), a
    *    wildcard+anchor allow (pattern `/docs/` + star + `<(d+3)%10>`
    *    + `<d%10>` + dollar, len 10 — a two-digit ending that fires
    *    WITHIN a domain and OUTRANKS the len-8 disallow), an empty
    *    `Disallow:` (matches nothing, d%6=4 only), `Crawl-delay: <d%7>`
    *  - a `graftbot` group (d%4=1): `Disallow: /docs/` +
    *    `Allow: /docs/<d%10>` — REPLACES the `*` group for that agent
    *  - a stacked two-agent group (d%5=2): `graftbot-images` +
    *    `graftbot-news`, `Disallow: /` — exact-token selection must
    *    NOT match it for `graftbot`
    *  - one `Sitemap:` line, file-level
    *
    * Parser-only variance (no oracle effect): a UTF-8 BOM (d%6=5),
    * lowercase `user-agent:` (d%3=0), a directive rendered
    * `disallow:` (d%3=2), double-spaced rule values (d%3=1), and a
    * trailing `# comment` on the wildcard rule (d%5=3). */
  private[graft] def robotsDocs(docs: DataFrame): DataFrame = {
    val d = domInt
    val host = concat(col("source"), lit(".example.org"))
    val body = concat(
      when(d % 6 === 5, lit("\uFEFF")).otherwise(lit("")),
      lit("# robots fixture for "), host, lit("\n"),
      when(d % 3 === 0, lit("user-agent: *\n"))
        .otherwise(lit("User-agent: *\n")),
      when(d % 3 === 2, lit("disallow: /docs/\n"))
        .otherwise(lit("Disallow: /docs/\n")),
      when(d % 2 === 0, lit("Allow: /docs/1\n")).otherwise(lit("")),
      concat(
        when(d % 3 === 1, lit("Disallow:  /docs/1"))
          .otherwise(lit("Disallow: /docs/1")),
        (d % 10).cast("string"), lit("\n")),
      concat(lit("Allow: /docs/*"), ((d + 3) % 10).cast("string"),
        (d % 10).cast("string"),
        when(d % 5 === 3, lit("$ # tail comment\n")).otherwise(lit("$\n"))),
      when(d % 6 === 4, lit("Disallow:\n")).otherwise(lit("")),
      concat(lit("Crawl-delay: "), (d % 7).cast("string"), lit("\n")),
      lit("\n"),
      when(d % 4 === 1,
        concat(lit("User-agent: graftbot\nDisallow: /docs/\nAllow: /docs/"),
          (d % 10).cast("string"), lit("\n\n"))).otherwise(lit("")),
      when(d % 5 === 2,
        lit("User-agent: graftbot-images\nUser-agent: graftbot-news\n" +
          "Disallow: /\n\n")).otherwise(lit("")),
      lit("Sitemap: https://"), host, lit("/sitemap.xml\n"))
    docs.select(col("source")).distinct()
      .select(col("source"), body.cast("binary").as("robots"))
  }

  /** ORACLED RULE EXTRACTION — one row per (domain, agent, rule) out
    * of the real parser ([[graft.functions.RobotsTxt.parse]]): group
    * structure, stacked agents, rule order-independent row set, raw
    * patterns and their precedence lengths — all predicted by DuckDB
    * from the planted arithmetic. A mis-parsed directive name, a
    * dropped empty rule, a comment leaking into a pattern, or a BOM
    * breaking the first line all change the row set. */
  def robotsRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    robotsDocs(Tables.documents(spark, dir))
      .as[(String, Array[Byte])]
      .flatMap { case (src, bytes) =>
        val f = graft.functions.RobotsTxt.parse(bytes)
        f.groups.flatMap(g => g.agents.flatMap(a => g.rules.map(r =>
          (src, a, r.allow, r.pattern, r.pattern.length))))
      }
      .toDF("source", "agent", "is_allow", "pattern", "plen")
  }

  /** ORACLED PARSE CENSUS — per domain: group/agent/rule/sitemap
    * counts and the `*` group's crawl delay, straight off the parsed
    * structure (the robots twin of the WARC record census). */
  def robotsCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    robotsDocs(Tables.documents(spark, dir))
      .as[(String, Array[Byte])]
      .map { case (src, bytes) =>
        val f = graft.functions.RobotsTxt.parse(bytes)
        (src, f.groups.size, f.groups.map(_.agents.size).sum,
          f.groups.map(_.rules.size).sum, f.sitemaps.size,
          graft.functions.RobotsTxt.delayFor(f, "anybot"))
      }
      .toDF("source", "n_groups", "n_agents", "n_rules", "n_sitemaps",
        "delay_star")
  }

  /** ORACLED CRAWL-ADMISSION VERDICTS — the headline robots query:
    * every document's path evaluated under RFC 9309 longest-match for
    * TWO product tokens (an agent with no specific group → the `*`
    * group; `graftbot` → its own group where one exists), plus the
    * effective crawl delays. DuckDB re-implements longest-match
    * independently: a planted-rule relation, LIKE matching, and the
    * same `plen*2 + allowBit` integer argmax — the two engines can
    * only agree by both being longest-match with allow-wins-ties.
    *
    * Scale shape (the reason this is NOT a join to an exploded rule
    * relation): robots files parse ONCE per domain into per-agent rule
    * arrays (≤|domains| rows — registry-sized), which broadcast-join
    * onto the document scan; the verdict is a compile-free wildcard
    * walk per row. One broadcast hash join + map — the document side
    * never shuffles, never amplifies, never compiles a regex. */
  def robotsFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val perHost = robotsDocs(docs)
      .as[(String, Array[Byte])]
      .map { case (src, bytes) =>
        val f = graft.functions.RobotsTxt.parse(bytes)
        def pack(rs: Vector[graft.functions.RobotsTxt.Rule]) =
          rs.map(r => (r.allow, r.pattern))
        (src, pack(graft.functions.RobotsTxt.groupFor(f, "anybot")),
          pack(graft.functions.RobotsTxt.groupFor(f, BotAgent)),
          graft.functions.RobotsTxt.delayFor(f, "anybot"),
          graft.functions.RobotsTxt.delayFor(f, BotAgent))
      }
      .toDF("source", "rules_any", "rules_bot", "delay_any", "delay_bot")
    docs
      .select(col("doc_id"), col("source"),
        concat(lit("/docs/"), col("doc_id").cast("string")).as("path"))
      .join(broadcast(perHost), Seq("source"))
      .select(col("doc_id"), col("source"), col("path"),
        col("rules_any"), col("rules_bot"),
        col("delay_any"), col("delay_bot"))
      .as[(Long, String, String, Seq[(Boolean, String)],
        Seq[(Boolean, String)], Long, Long)]
      .map { case (id, src, path, any, bot, dAny, dBot) =>
        def verdict(rs: Seq[(Boolean, String)]) =
          graft.functions.RobotsTxt.isAllowed(
            rs.map(t => graft.functions.RobotsTxt.Rule(t._1, t._2)), path)
        (id, src, path, verdict(any), verdict(bot), dAny, dBot)
      }
      .toDF("doc_id", "source", "path", "allowed_any", "allowed_bot",
        "delay_any", "delay_bot")
  }

  /** ORACLED POLITENESS BUDGET — the fetch-planning rollup a crawler
    * runs over the verdicts: per host, how many of its URLs are
    * fetchable under the `*` group and how long a polite sequential
    * fetch takes (one fetch per `max(crawl_delay, 1)` seconds — the
    * floor models the default inter-request spacing when no delay is
    * declared). Composes [[robotsFilter]]'s verdict map with one
    * domain-sized groupBy — the partial aggregate folds the doc side
    * map-side, so the exchange carries ≤|domains| rows. */
  def crawlPoliteness(spark: SparkSession, dir: String): DataFrame =
    robotsFilter(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("allowed_any"), 1L).otherwise(0L)).as("n_allowed"),
        min(col("delay_any")).as("delay"))
      .select(col("source"), col("n_docs"), col("n_allowed"),
        col("delay"),
        (col("n_allowed") * greatest(col("delay"), lit(1L)))
          .as("crawl_seconds"))

  // --- sitemaps: discovery feed (sitemaps.org protocol) ---------------

  /** Bloom geometry for the discovery gate — the
    * [[DedupOps.BloomDeclBits]] census discipline applied to the URL
    * frontier (declared size, deterministic chained-md5 positions, so
    * the oracle recomputes every verdict including false positives). */
  val SitemapBloomBits = 1 << 16
  val SitemapBloomHashes = 3

  /** One `<url>` entry, assembled column-wise so DuckDB predicts the
    * parsed fields from the same arithmetic. */
  private def sitemapEntry(src: Column, id: Column): Column =
    concat(lit("<url><loc>https://"), src, lit(".example.org/docs/"),
      id.cast("string"),
      lit("</loc><lastmod>2026-01-"),
      lpad(((id % 28) + 1).cast("string"), 2, "0"),
      lit("</lastmod><changefreq>"),
      when(id % 3 === 0, lit("daily"))
        .when(id % 3 === 1, lit("weekly")).otherwise(lit("monthly")),
      lit("</changefreq><priority>0."), (id % 10).cast("string"),
      lit("</priority></url>"))

  /** Deterministic sitemap synthesis per domain (the sitemaps.org
    * `<urlset>` convention the robots `Sitemap:` line points at): ten
    * entries for KNOWN pages (ids `d + 20j` — exactly the domain's
    * docs) plus `d%4 + 1` entries for pages the corpus has never seen
    * (ids offset to 50M — outside every replica range), each with
    * planted lastmod/changefreq/priority. The discovery queries grade
    * exactly this known/new split. */
  private[graft] def sitemapDocs(docs: DataFrame): DataFrame = {
    val d = domInt
    val existing = transform(sequence(lit(0), lit(9)),
      j => sitemapEntry(col("source"), d + j * 20))
    val fresh = transform(sequence(lit(0), d % 4),
      k => sitemapEntry(col("source"), k + d * 100 + lit(50000000)))
    docs.select(col("source")).distinct()
      .select(col("source"), concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
        array_join(concat(existing, fresh), "\n"),
        lit("\n</urlset>\n")).as("sitemap"))
  }

  /** ORACLED SITEMAP PARSE — pure built-in regexes over the XML (the
    * q_url_canonical discipline: codegen'd expressions, no kernel —
    * sitemaps are machine-generated, so the regex-over-entry walk is
    * the standard treatment; hostile containers go through the WARC
    * kernel path instead). Per entry: loc, lastmod, changefreq,
    * priority ×10 — every field predicted by DuckDB from the planted
    * arithmetic, so an entry-boundary error, a greedy regex, or a
    * dropped field breaks the row set. The entry explode is map-side;
    * nothing shuffles. */
  def sitemapParse(spark: SparkSession, dir: String): DataFrame =
    // explode_outer + null-drop: avoids the Generate pruning filter
    // re-running the regexp walk over the synthesized sitemap per row
    // (see TextOps.explodeNN; extracted entries are never null)
    sitemapDocs(Tables.documents(spark, dir))
      .select(col("source"),
        explode_outer(expr(
          "regexp_extract_all(sitemap, '<url>(.*?)</url>', 1)"))
          .as("entry"))
      .where(col("entry").isNotNull)
      .select(col("source"),
        regexp_extract(col("entry"), "<loc>([^<]*)</loc>", 1).as("loc"),
        regexp_extract(col("entry"), "<lastmod>([^<]*)</lastmod>", 1)
          .as("lastmod"),
        regexp_extract(col("entry"),
          "<changefreq>([^<]*)</changefreq>", 1).as("changefreq"),
        regexp_extract(col("entry"),
          "<priority>0\\.([0-9])</priority>", 1).cast("int")
          .as("priority_x10"))

  /** ORACLED FRONTIER DISCOVERY — which sitemap URLs are NEW to the
    * corpus, answered the way a 100 TB frontier must: a NATIVE bloom
    * filter over the known-URL fingerprints (one partial-aggregated
    * pass, 8 KiB of bits) probed per listed URL through the codegen'd
    * membership expression — `definitely_new` needs NO join at all
    * (the no-false-negative contract), and only the `might_contain`
    * residue would go to an exact verify. The exact `is_known` column
    * is the grading aid (the [[DedupOps.bloomProbe]] shape), and the
    * oracle recomputes the bloom POSITIONS from the same chained-md5
    * idiom — false positives are graded exactly, not bounded. */
  def sitemapDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val known = docs.select(concat(lit("https://"), col("source"),
        lit(".example.org/docs/"), col("doc_id").cast("string"))
        .as("loc"))
      .select(col("loc"), md5(col("loc")).as("fp"))
    val words = known.agg(graft.plans.BloomFilter.bloomAgg(spark)(
      col("fp"), SitemapBloomBits, SitemapBloomHashes))
      .head().getSeq[Long](0).toArray
    sitemapParse(spark, dir)
      .select(col("source"), col("loc"), md5(col("loc")).as("fp"))
      .withColumn("might_contain",
        graft.plans.BloomFilter.bloomContains(spark)(
          typedLit(words), col("fp"), SitemapBloomHashes))
      .join(known.select(col("fp"), lit(true).as("present")).distinct(),
        Seq("fp"), "left")
      .select(col("source"), col("loc"), col("might_contain"),
        coalesce(col("present"), lit(false)).as("is_known"),
        (!col("might_contain")).as("definitely_new"))
  }

  /** ORACLED FRONTIER RANKING — the crawl-scheduling rollup: per host,
    * listed/new counts and a politeness-adjusted priority
    * (`n_new · 1000 div max(crawl_delay, 1)` — hosts with much
    * undiscovered content and permissive delays first; integer
    * truncating division so both engines agree bit-for-bit).
    * Composes the sitemap discovery verdicts with the robots
    * crawl-delay — three families in one plan, all exchanges
    * domain-sized. */
  def frontierRank(spark: SparkSession, dir: String): DataFrame = {
    val disc = sitemapDiscovery(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_listed"),
        sum(when(!col("might_contain"), 1L).otherwise(0L)).as("n_new"))
    val pol = crawlPoliteness(spark, dir)
      .select(col("source"), col("delay"))
    disc.join(pol, Seq("source"))
      .select(col("source"), col("n_listed"), col("n_new"), col("delay"),
        expr("n_new * 1000 div greatest(delay, 1)").as("priority"))
  }

  // --- eTLD+1: public-suffix registrable domain -----------------------

  /** The planted public-suffix list — the Mozilla-PSL rule grammar in
    * miniature: normal rules, ONE wildcard rule (`*.wild.test` — every
    * label directly under it is a public suffix) and its exception
    * (`!except.wild.test` — cancels the wildcard for that name). At
    * 100 TB the real ~10k-rule list rides the same broadcast. */
  private[graft] val PslRules = Seq(
    ("org", "normal"), ("test", "normal"), ("co.test", "normal"),
    ("example.org", "normal"), ("wild.test", "wildcard"),
    ("except.wild.test", "exception"))

  /** Longest candidate depth considered (the real PSL's deepest rule
    * is 4 labels). */
  private val MaxPslLabels = 4

  /** The last `k` labels of a host — `""` when the host has fewer
    * (regexp only matches with enough labels, so no validity guard is
    * needed downstream). Shared regex family with the DuckDB twin. */
  private def candExpr(host: Column, k: Int): Column =
    if (k == 1) regexp_extract(host, "([^.]+)$", 1)
    else regexp_extract(host, s"((?:[^.]+\\.){${k - 1}}[^.]+)$$", 1)

  private def candSql(k: Int): String =
    if (k == 1) raw"regexp_extract(host, '([^.]+)$$', 1)"
    else raw"regexp_extract(host, '((?:[^.]+\.){${k - 1}}[^.]+)$$', 1)"

  /** Synthesized host per doc — seven planted shapes over independent
    * moduli (`doc_id % 7` picks the shape, `% 5` the site), chosen so
    * THREE shapes (bare, `www.`, `a.b.`) collapse onto the same
    * `site<k>.org` registrable — the subdomain fold the operator
    * exists for — plus a private-section suffix (`example.org`), a
    * wildcard-suffix host, the wildcard's exception, and a host that
    * IS a public suffix (registrable NULL). */
  private[graft] def synthPslHost(docId: Column): Column = {
    val k = (docId % 5).cast("string")
    when(docId % 7 === 0, concat(lit("site"), k, lit(".org")))
      .when(docId % 7 === 1, concat(lit("www.site"), k, lit(".org")))
      .when(docId % 7 === 2, concat(lit("a.b.site"), k, lit(".org")))
      .when(docId % 7 === 3,
        concat(lit("a.b.site"), k, lit(".example.org")))
      .when(docId % 7 === 4, concat(lit("www.site"), k, lit(".co.test")))
      .when(docId % 7 === 5,
        concat(lit("deep.site"), k, lit(".wild.test")))
      .otherwise(when(docId % 14 === 6, lit("co.test"))
        .otherwise(lit("except.wild.test")))
  }

  private val synthPslHostSql: String =
    """CASE CAST(doc_id % 7 AS INT)
      |  WHEN 0 THEN 'site' || CAST(doc_id % 5 AS VARCHAR) || '.org'
      |  WHEN 1 THEN 'www.site' || CAST(doc_id % 5 AS VARCHAR) || '.org'
      |  WHEN 2 THEN 'a.b.site' || CAST(doc_id % 5 AS VARCHAR) || '.org'
      |  WHEN 3 THEN 'a.b.site' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
      |  WHEN 4 THEN 'www.site' || CAST(doc_id % 5 AS VARCHAR) || '.co.test'
      |  WHEN 5 THEN 'deep.site' || CAST(doc_id % 5 AS VARCHAR) || '.wild.test'
      |  ELSE CASE WHEN doc_id % 14 = 6 THEN 'co.test' ELSE 'except.wild.test' END
      |END""".stripMargin.replaceAll("\n\\s*", " ")

  /** ORACLED eTLD+1 DERIVATION — per doc: the host, its public suffix
    * under the planted list, and the REGISTRABLE domain (eTLD+1 — the
    * "site" every subdomain folds to; NULL when the host itself is a
    * public suffix). Full PSL precedence: exception beats wildcard
    * beats normal-by-length, default rule `*` (psl_len 1) when nothing
    * matches, a wildcard only fires when the matched label exists.
    * DuckDB re-derives everything through its own joins over the same
    * rule relation.
    *
    * Scale shape: candidate suffixes are bounded column regexes (the
    * PSL's deepest rule bounds the depth at 4), matched by FOUR
    * broadcast joins against the rule dim — the document side never
    * shuffles, and the whole derivation is codegen'd expressions (no
    * kernel, no UDF). The canonical-host fold upstream is
    * [[canonicalHost]]; this is the level below it. */
  def etld1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val psl = PslRules.toDF("suffix", "kind")
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), synthPslHost(col("doc_id")).as("host"))
      .withColumn("n", size(split(col("host"), "\\.")))
    val withCands = (1 to MaxPslLabels).foldLeft(base) { (df, k) =>
      df.withColumn(s"c$k", candExpr(col("host"), k))
    }
    val joined = (1 to MaxPslLabels).foldLeft(withCands) { (df, k) =>
      df.join(broadcast(psl.select(col("suffix").as(s"s$k"),
          col("kind").as(s"k$k"))),
        col(s"c$k") === col(s"s$k"), "left").drop(s"s$k")
    }
    val exL = greatest(
      when(col("k1") === "exception", lit(0)),
      when(col("k2") === "exception", lit(1)),
      when(col("k3") === "exception", lit(2)),
      when(col("k4") === "exception", lit(3)))
    val ruleL = greatest(lit(1),
      when(col("k1") === "normal", lit(1)).otherwise(lit(0)),
      when(col("k2") === "normal", lit(2)).otherwise(lit(0)),
      when(col("k3") === "normal", lit(3)).otherwise(lit(0)),
      when(col("k4") === "normal", lit(4)).otherwise(lit(0)),
      when(col("k1") === "wildcard" && col("n") >= 2, lit(2))
        .otherwise(lit(0)),
      when(col("k2") === "wildcard" && col("n") >= 3, lit(3))
        .otherwise(lit(0)),
      when(col("k3") === "wildcard" && col("n") >= 4, lit(4))
        .otherwise(lit(0)),
      when(col("k4") === "wildcard" && col("n") >= 5, lit(5))
        .otherwise(lit(0)))
    val psLen = coalesce(exL, ruleL)
    def labelAt(l: Column): Column =
      when(l === 1, col("c1")).when(l === 2, col("c2"))
        .when(l === 3, col("c3")).when(l === 4, col("c4"))
    joined.select(col("doc_id"), col("host"),
      col("n").cast("int").as("n_labels"),
      psLen.cast("int").as("psl_len"),
      labelAt(psLen).as("public_suffix"),
      when(col("n") > psLen, labelAt(psLen + 1)).as("registrable"))
  }

  /** ORACLED REGISTRABLE-DOMAIN ROLLUP — the fold's purpose made
    * visible: hosts/docs per registrable domain (the planted `www.` /
    * `a.b.` / bare shapes of each `site<k>.org` must land in ONE
    * group). The hash-groupBy is the family's only shuffle. */
  def etld1Group(spark: SparkSession, dir: String): DataFrame =
    etld1(spark, dir)
      .where(col("registrable").isNotNull)
      .groupBy(col("registrable"))
      .agg(countDistinct(col("host")).as("n_hosts"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("rep_doc"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_url_canonical" -> (urlCanonical(_, _)),
    "q_url_key_dedup" -> (urlKeyDedup(_, _)),
    "q_robots_rules" -> (robotsRules(_, _)),
    "q_robots_census" -> (robotsCensus(_, _)),
    "q_robots_filter" -> (robotsFilter(_, _)),
    "q_crawl_politeness" -> (crawlPoliteness(_, _)),
    "q_sitemap_parse" -> (sitemapParse(_, _)),
    "q_sitemap_discovery" -> (sitemapDiscovery(_, _)),
    "q_frontier_rank" -> (frontierRank(_, _)),
    "q_etld1" -> (etld1(_, _)),
    "q_etld1_group" -> (etld1Group(_, _)))

  private val clsSql =
    "CASE WHEN %s IN (0, 1, 2) THEN %s ELSE 5 END"

  /** Shared oracle CTE chain for the eTLD+1 family: DuckDB re-derives
    * suffix candidates, rule matches, and PSL precedence through its
    * own joins over the same planted rule relation. */
  private val etld1Ctes: String = {
    val pslValues = PslRules
      .map { case (s, k) => s"('$s', '$k')" }.mkString(", ")
    s"""psl(suffix, kind) AS (VALUES $pslValues),
       |hosts AS (SELECT doc_id, $synthPslHostSql AS host FROM documents),
       |cands AS (
       |  SELECT doc_id, host, len(string_split(host, '.')) AS n,
       |    ${candSql(1)} AS c1, ${candSql(2)} AS c2,
       |    ${candSql(3)} AS c3, ${candSql(4)} AS c4
       |  FROM hosts),
       |matched AS (
       |  SELECT c.*, p1.kind AS k1, p2.kind AS k2, p3.kind AS k3,
       |    p4.kind AS k4
       |  FROM cands c
       |  LEFT JOIN psl p1 ON c.c1 = p1.suffix
       |  LEFT JOIN psl p2 ON c.c2 = p2.suffix
       |  LEFT JOIN psl p3 ON c.c3 = p3.suffix
       |  LEFT JOIN psl p4 ON c.c4 = p4.suffix),
       |scored AS (
       |  SELECT doc_id, host, n, c1, c2, c3, c4,
       |    greatest(CASE WHEN k1 = 'exception' THEN 0 END,
       |      CASE WHEN k2 = 'exception' THEN 1 END,
       |      CASE WHEN k3 = 'exception' THEN 2 END,
       |      CASE WHEN k4 = 'exception' THEN 3 END) AS ex_l,
       |    greatest(1,
       |      CASE WHEN k1 = 'normal' THEN 1 ELSE 0 END,
       |      CASE WHEN k2 = 'normal' THEN 2 ELSE 0 END,
       |      CASE WHEN k3 = 'normal' THEN 3 ELSE 0 END,
       |      CASE WHEN k4 = 'normal' THEN 4 ELSE 0 END,
       |      CASE WHEN k1 = 'wildcard' AND n >= 2 THEN 2 ELSE 0 END,
       |      CASE WHEN k2 = 'wildcard' AND n >= 3 THEN 3 ELSE 0 END,
       |      CASE WHEN k3 = 'wildcard' AND n >= 4 THEN 4 ELSE 0 END,
       |      CASE WHEN k4 = 'wildcard' AND n >= 5 THEN 5 ELSE 0 END)
       |      AS rule_l
       |  FROM matched),
       |etld AS (
       |  SELECT doc_id, host, CAST(n AS INT) AS n_labels,
       |    CAST(coalesce(ex_l, rule_l) AS INT) AS psl_len,
       |    CASE coalesce(ex_l, rule_l) WHEN 1 THEN c1 WHEN 2 THEN c2
       |      WHEN 3 THEN c3 WHEN 4 THEN c4 END AS public_suffix,
       |    CASE WHEN n > coalesce(ex_l, rule_l) THEN
       |      CASE coalesce(ex_l, rule_l) + 1 WHEN 2 THEN c2
       |        WHEN 3 THEN c3 WHEN 4 THEN c4 END
       |    END AS registrable
       |  FROM scored)""".stripMargin
  }

  /** Shared oracle CTEs for the sitemap family: the planted listed
    * rows (known + new ids per domain) and their rendered fields —
    * DuckDB predicts what Spark must PARSE back out of the XML. */
  private val sitemapEntryCtes: String =
    """listed AS (
      |  SELECT source, d + 20 * j AS id
      |  FROM (SELECT source, d, unnest(range(0, 10)) AS j FROM doms) t1
      |  UNION ALL
      |  SELECT source, 50000000 + d * 100 + k AS id
      |  FROM (SELECT source, d, unnest(range(0, d % 4 + 1)) AS k
      |        FROM doms) t2),
      |entries AS (
      |  SELECT source,
      |    'https://' || source || '.example.org/docs/' ||
      |      CAST(id AS VARCHAR) AS loc,
      |    '2026-01-' || lpad(CAST(id % 28 + 1 AS VARCHAR), 2, '0')
      |      AS lastmod,
      |    CASE CAST(id % 3 AS INT) WHEN 0 THEN 'daily'
      |      WHEN 1 THEN 'weekly' ELSE 'monthly' END AS changefreq,
      |    CAST(id % 10 AS INT) AS priority_x10
      |  FROM listed)""".stripMargin

  /** Bloom verdict CTEs over the sitemap rows — the q_bloom_probe
    * idiom: known-URL fingerprints, their chained-md5 positions, and
    * per-listed-URL membership recomputed exactly (FPs included). */
  private val sitemapVerdictCtes: String = {
    val arms = (0 until SitemapBloomHashes).map(i =>
      graft.plans.CountMinSketch.bucketSql(i, "fp", SitemapBloomBits))
    val contained = arms.map(a => s"($a) IN (SELECT pos FROM bpos)")
      .mkString(" AND ")
    s"""kfp AS (
       |  SELECT md5('https://' || source || '.example.org/docs/' ||
       |    CAST(doc_id AS VARCHAR)) AS fp
       |  FROM documents),
       |bpos AS (SELECT DISTINCT pos
       |  FROM kfp, unnest([${arms.mkString(", ")}]) AS u(pos)),
       |lfp AS (SELECT source, loc, md5(loc) AS fp FROM entries),
       |verd AS (
       |  SELECT source, loc, $contained AS might_contain,
       |    fp IN (SELECT fp FROM kfp) AS is_known
       |  FROM lfp)""".stripMargin
  }

  /** Shared oracle CTE: the domain relation with its planted integer. */
  private val robotsDomsCte =
    "doms AS (SELECT DISTINCT source, CAST(substr(source, 4) AS INT) " +
      "AS d FROM documents)"

  /** Oracle rule relation — one arm per planted (agent, rule) class,
    * derived from the SAME arithmetic [[robotsDocs]] renders into the
    * bytes the real parser walks. */
  private val robotsRulesArms = Seq(
    "SELECT source, '*' AS agent, FALSE AS is_allow, " +
      "'/docs/' AS pattern, 6 AS plen FROM doms",
    "SELECT source, '*', TRUE, '/docs/1', 7 FROM doms WHERE d % 2 = 0",
    "SELECT source, '*', FALSE, '/docs/1' || CAST(d % 10 AS VARCHAR), " +
      "8 FROM doms",
    "SELECT source, '*', TRUE, '/docs/*' || CAST((d + 3) % 10 AS VARCHAR) " +
      "|| CAST(d % 10 AS VARCHAR) || '$', 10 FROM doms",
    "SELECT source, '*', FALSE, '', 0 FROM doms WHERE d % 6 = 4",
    "SELECT source, 'graftbot', FALSE, '/docs/', 6 FROM doms WHERE d % 4 = 1",
    "SELECT source, 'graftbot', TRUE, '/docs/' || CAST(d % 10 AS VARCHAR), " +
      "7 FROM doms WHERE d % 4 = 1",
    "SELECT source, 'graftbot-images', FALSE, '/', 1 FROM doms " +
      "WHERE d % 5 = 2",
    "SELECT source, 'graftbot-news', FALSE, '/', 1 FROM doms " +
      "WHERE d % 5 = 2").mkString(" UNION ALL ")

  /** Oracle EFFECTIVE-rule relation for the filter verdicts: per
    * evaluation scope (`any` = the `*` group; `bot` = graftbot's own
    * group where planted, else the `*` group — RFC 9309 group
    * selection re-expressed as arithmetic), patterns already in their
    * LIKE form (`*`→`%`, trailing `%` unless `$`-anchored — the
    * translation RobotsTxtSpec pins against the matcher, derived
    * independently here). The empty planted rule matches nothing and
    * is omitted. */
  private val robotsEffArms = Seq(
    "SELECT source, 'any' AS scope, FALSE AS is_allow, " +
      "'/docs/%' AS like_pat, 6 AS plen FROM doms",
    "SELECT source, 'any', TRUE, '/docs/1%', 7 FROM doms WHERE d % 2 = 0",
    "SELECT source, 'any', FALSE, '/docs/1' || CAST(d % 10 AS VARCHAR) " +
      "|| '%', 8 FROM doms",
    "SELECT source, 'any', TRUE, '/docs/%' || CAST((d + 3) % 10 AS VARCHAR)" +
      " || CAST(d % 10 AS VARCHAR), 10 FROM doms",
    "SELECT source, 'bot', FALSE, '/docs/%', 6 FROM doms WHERE d % 4 = 1",
    "SELECT source, 'bot', TRUE, '/docs/' || CAST(d % 10 AS VARCHAR) " +
      "|| '%', 7 FROM doms WHERE d % 4 = 1",
    "SELECT source, 'bot', FALSE, '/docs/%', 6 FROM doms WHERE d % 4 <> 1",
    "SELECT source, 'bot', TRUE, '/docs/1%', 7 FROM doms " +
      "WHERE d % 4 <> 1 AND d % 2 = 0",
    "SELECT source, 'bot', FALSE, '/docs/1' || CAST(d % 10 AS VARCHAR) " +
      "|| '%', 8 FROM doms WHERE d % 4 <> 1",
    "SELECT source, 'bot', TRUE, '/docs/%' || CAST((d + 3) % 10 AS VARCHAR)" +
      " || CAST(d % 10 AS VARCHAR), 10 FROM doms WHERE d % 4 <> 1").mkString(" UNION ALL ")

  def oracles: Map[String, String] = Map(
    "q_url_canonical" ->
      s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents)
         |SELECT doc_id, url,
         |  ${canonicalUrlSqlOf("url")} AS canon_url,
         |  ${canonicalHostSqlOf("url")} AS host
         |FROM u""".stripMargin,
    "q_url_key_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id * 2 AS id,
         |    ${variantUrlSql(clsSql.format(
               "CAST(doc_id % 4 AS INT)", "CAST(doc_id % 4 AS INT)"))}
         |      AS url
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1 AS id,
         |    ${variantUrlSql(clsSql.format(
               "CAST((doc_id + 1) % 4 AS INT)",
               "CAST((doc_id + 1) % 4 AS INT)"))} AS url
         |  FROM documents)
         |SELECT ${canonicalUrlSqlOf("url")} AS canon_url,
         |  min(id) AS rep_id,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw
         |FROM corpus GROUP BY 1""".stripMargin,
    "q_robots_rules" ->
      s"""WITH $robotsDomsCte
         |SELECT source, agent, is_allow, pattern, plen
         |FROM ($robotsRulesArms) r""".stripMargin,
    "q_robots_census" ->
      s"""WITH $robotsDomsCte
         |SELECT source,
         |  1 + CASE WHEN d % 4 = 1 THEN 1 ELSE 0 END
         |    + CASE WHEN d % 5 = 2 THEN 1 ELSE 0 END AS n_groups,
         |  1 + CASE WHEN d % 4 = 1 THEN 1 ELSE 0 END
         |    + CASE WHEN d % 5 = 2 THEN 2 ELSE 0 END AS n_agents,
         |  3 + CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END
         |    + CASE WHEN d % 6 = 4 THEN 1 ELSE 0 END
         |    + CASE WHEN d % 4 = 1 THEN 2 ELSE 0 END
         |    + CASE WHEN d % 5 = 2 THEN 1 ELSE 0 END AS n_rules,
         |  1 AS n_sitemaps,
         |  CAST(d % 7 AS BIGINT) AS delay_star
         |FROM doms""".stripMargin,
    "q_robots_filter" ->
      s"""WITH $robotsDomsCte,
         |eff AS ($robotsEffArms),
         |paths AS (
         |  SELECT doc_id, source, '/docs/' || CAST(doc_id AS VARCHAR)
         |    AS path
         |  FROM documents),
         |scored AS (
         |  SELECT p.doc_id, e.scope,
         |    max(e.plen * 2 + CASE WHEN e.is_allow THEN 1 ELSE 0 END)
         |      AS best
         |  FROM paths p
         |  JOIN eff e ON p.source = e.source AND p.path LIKE e.like_pat
         |  GROUP BY 1, 2)
         |SELECT p.doc_id, p.source, p.path,
         |  coalesce(max(CASE WHEN s.scope = 'any' THEN s.best END) % 2 = 1,
         |    TRUE) AS allowed_any,
         |  coalesce(max(CASE WHEN s.scope = 'bot' THEN s.best END) % 2 = 1,
         |    TRUE) AS allowed_bot,
         |  CAST(min(d.d % 7) AS BIGINT) AS delay_any,
         |  CAST(min(CASE WHEN d.d % 4 = 1 THEN -1 ELSE d.d % 7 END)
         |    AS BIGINT) AS delay_bot
         |FROM paths p
         |JOIN doms d ON p.source = d.source
         |LEFT JOIN scored s ON s.doc_id = p.doc_id
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_crawl_politeness" ->
      s"""WITH $robotsDomsCte,
         |eff AS ($robotsEffArms),
         |paths AS (
         |  SELECT doc_id, source, '/docs/' || CAST(doc_id AS VARCHAR)
         |    AS path
         |  FROM documents),
         |scored AS (
         |  SELECT p.doc_id, e.scope,
         |    max(e.plen * 2 + CASE WHEN e.is_allow THEN 1 ELSE 0 END)
         |      AS best
         |  FROM paths p
         |  JOIN eff e ON p.source = e.source AND p.path LIKE e.like_pat
         |  GROUP BY 1, 2),
         |verd AS (
         |  SELECT p.doc_id, p.source, d.d,
         |    coalesce(max(CASE WHEN s.scope = 'any' THEN s.best END)
         |      % 2 = 1, TRUE) AS allowed_any
         |  FROM paths p
         |  JOIN doms d ON p.source = d.source
         |  LEFT JOIN scored s ON s.doc_id = p.doc_id
         |  GROUP BY 1, 2, 3)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN allowed_any THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_allowed,
         |  CAST(min(d % 7) AS BIGINT) AS delay,
         |  CAST(sum(CASE WHEN allowed_any THEN 1 ELSE 0 END)
         |    * greatest(min(d % 7), 1) AS BIGINT) AS crawl_seconds
         |FROM verd GROUP BY 1""".stripMargin,
    "q_sitemap_parse" ->
      s"""WITH $robotsDomsCte,
         |$sitemapEntryCtes
         |SELECT source, loc, lastmod, changefreq, priority_x10
         |FROM entries""".stripMargin,
    "q_sitemap_discovery" ->
      s"""WITH $robotsDomsCte,
         |$sitemapEntryCtes,
         |$sitemapVerdictCtes
         |SELECT source, loc, might_contain, is_known,
         |  NOT might_contain AS definitely_new
         |FROM verd""".stripMargin,
    "q_frontier_rank" ->
      s"""WITH $robotsDomsCte,
         |$sitemapEntryCtes,
         |$sitemapVerdictCtes
         |SELECT v.source, CAST(count(*) AS BIGINT) AS n_listed,
         |  CAST(sum(CASE WHEN NOT might_contain THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_new,
         |  CAST(min(dd.d % 7) AS BIGINT) AS delay,
         |  CAST(sum(CASE WHEN NOT might_contain THEN 1 ELSE 0 END)
         |    * 1000 // greatest(min(dd.d % 7), 1) AS BIGINT) AS priority
         |FROM verd v
         |JOIN doms dd ON v.source = dd.source
         |GROUP BY 1""".stripMargin,
    "q_etld1" ->
      s"""WITH $etld1Ctes
         |SELECT doc_id, host, n_labels, psl_len, public_suffix,
         |  registrable
         |FROM etld""".stripMargin,
    "q_etld1_group" ->
      s"""WITH $etld1Ctes
         |SELECT registrable,
         |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS rep_doc
         |FROM etld WHERE registrable IS NOT NULL
         |GROUP BY 1""".stripMargin)
}
