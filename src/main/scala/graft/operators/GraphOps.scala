package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Link-graph curation analytics — domain-authority signals for
  * web-corpus quality weighting. Real curation pipelines (CC-Net /
  * RefinedWeb lineage, public recipes) weight documents by the
  * REPUTATION of their origin domain, and the standard reputation
  * signal is the hyperlink graph: PageRank over domains, degree
  * censuses, and reciprocal-link ("link farm") ratios. The reference
  * has no graph surface (it routes files by name only); this family is
  * the [EXT] complement to [[CurationOps]]' mixture planners — the
  * authority scores it produces feed sampling quotas directly
  * ([[authorityQuota]]).
  *
  * The corpus carries no real hyperlinks, so the doc-level edge list is
  * SYNTHESIZED deterministically from exact integer arithmetic on
  * `doc_id` (the planted-structure discipline of the AVI / PDF
  * fixtures): the doc's source (rank `r` of `n`) links to source
  * `(r + 1 + (doc_id mod (n-1))) mod n` — never itself, cycling over
  * every other domain, so edge weights vary by construction and BOTH
  * engines derive the identical graph independently.
  *
  * All scores are EXACT INTEGER UNITS (the Cohen's-kappa discipline):
  * PageRank mass is scaled to [[Scale]] = 10^12 and every iteration
  * uses only `*`, `+`, and truncating integer division (`div` in Spark,
  * `//` in DuckDB — both truncate toward zero on the non-negative
  * values here), so the oracle match is bit-exact with zero float
  * tolerance. Damping 0.85 is the rational 17/20.
  *
  * Scale shape: ONE shuffle over docs aggregates the doc-level edges to
  * the weighted DOMAIN graph (|domains| ~ 10^6-10^7 at 100 TB — a
  * million-fold reduction from the doc count); the graph and node list
  * are `localCheckpoint`ed once ([[DedupOps.mergeGroups]] block
  * discipline) so the [[Iters]] rank iterations never re-derive the
  * doc scan, and each iteration is one equi-join + one partial-agg
  * shuffle of the SMALL graph. The rank census window runs over the
  * ≤|domains| distinct-source relation, never the corpus.
  */
object GraphOps {

  /** Total PageRank mass in integer units (10^12): per-node ranks stay
    * well inside BIGINT through `17 * r` and `r * w` intermediates. */
  val Scale = 1000000000000L

  /** Fixed rank iterations — enough for the cycle-structured synthetic
    * graph to separate hubs from leaves; the oracle unrolls the same
    * count as chained CTEs. */
  val Iters = 5

  /** Authority-quota budget: quotas are integer shares of this. */
  val QuotaBudget = 100000L

  /** The corpus with its `source` column replaced by the DOMAIN NODE
    * id: the canonical host of the doc's (synthesized) URL, through
    * the real [[UrlOps]] pipeline — scheme/case/port/`www.` junk all
    * folds before the graph ever sees a node name (VERDICT r15
    * item 4: the link-graph family now stands on a URL surface, not a
    * bare label). Oracles run the same regex chain in DuckDB. */
  private[graft] def docsWithDomain(spark: SparkSession,
      dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("source",
        UrlOps.canonicalHost(UrlOps.synthUrl(col("doc_id"), col("source"))))

  /** SQL twin of [[docsWithDomain]] as a CTE body. */
  private val gdocSql: String =
    "SELECT doc_id, lang, " +
      UrlOps.canonicalHostSqlOf("(" + UrlOps.synthUrlSql + ")") +
      " AS source FROM documents"

  /** Per-domain census — the ONE corpus aggregate the whole family
    * derives its node dimension from, eagerly checkpointed so ranks,
    * registry joins, and doc counts all reuse it WITHOUT re-scanning
    * the doc table (the multimodal single-decode discipline applied to
    * scans: before this, q_authority_quota paid five corpus passes
    * where two suffice — one census + one edge pass). */
  private[graft] def srcCensus(spark: SparkSession, dir: String): DataFrame =
    docsWithDomain(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true)

  /** Sources ranked 0..n-1 by name over a census — the node relation.
    *
    * TWO-PHASE rank (the [[CurationOps.fixedKSample]] sub-bucket
    * discipline, VERDICT r15 item 1): a bare
    * `dense_rank().over(Window.orderBy("source"))` plans ONE task
    * sorting the whole registry — fine for a census, a funnel at this
    * family's own 10^6-10^7-domain target. Instead rows bucket on an
    * ORDER-CONSISTENT key (the 2-char name prefix: `a < b` implies
    * `prefix(a) <= prefix(b)`, so bucket order + within-bucket order
    * IS the global order), phase 1 ranks inside each bucket in
    * parallel, and phase 2 adds the bucket's cumulative offset —
    * computed WINDOWLESS as a broadcast inequality self-join of the
    * ≤|alphabet|² bucket histogram. Census rows are distinct per
    * source (and non-null by the documents contract), so the offset
    * row_number is exactly the old dense_rank — result- and
    * oracle-identical, with no partition-less Window anywhere in the
    * plan (PlanAssertionsSpec pins this). Worst-case skew is one
    * shared prefix — a window over that bucket's slice, never the
    * registry. */
  private[graft] def ranksFrom(census: DataFrame): DataFrame = {
    val src = census.select(col("source"))
      .withColumn("bkt", substring(col("source"), 1, 2))
    val within = src.withColumn("rn",
      row_number().over(
        Window.partitionBy(col("bkt")).orderBy(col("source"))))
    val hist = src.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
    val off = hist.select(col("bkt"))
      .join(broadcast(hist.select(col("bkt").as("b2"), col("bn"))),
        col("b2") < col("bkt"), "left")
      .groupBy(col("bkt"))
      .agg(coalesce(sum(col("bn")), lit(0L)).as("off"))
    within.join(broadcast(off), "bkt")
      .select(col("source"),
        (col("off") + col("rn") - 1).cast("bigint").as("rk"))
      // every graph query references the registry 4-5 times (edge join,
      // node dim, teleport sizing, name join-backs) — materialize the
      // ≤|domains| relation ONCE or the two-phase subplan re-executes
      // per reference (measured 3× on the whole family at sf0.01)
      .localCheckpoint(true)
  }

  /** Ranked sources straight from the corpus (one census pass). */
  private[graft] def srcRanks(spark: SparkSession, dir: String): DataFrame =
    ranksFrom(srcCensus(spark, dir))

  /** Doc-level synthetic edges of `docs` under a given domain REGISTRY
    * (the ranked node dimension — fixed so batch folds and one-shot
    * derivations agree), aggregated to the weighted graph (s, t, w) in
    * rank space — ONE pass over the docs. */
  private[graft] def domainEdgesOf(docs: DataFrame,
      registry: DataFrame): DataFrame = {
    val nn = registry.agg(count(lit(1)).as("n"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(registry), "source")
      .crossJoin(broadcast(nn))
      // greatest(n-1, 1): a single-domain registry degenerates to a
      // self-loop in BOTH engines instead of Spark nulling the % 0 and
      // DuckDB erroring on it — engine-identical even when degenerate
      .withColumn("t",
        expr("(rk + 1 + (doc_id % greatest(n - 1, 1))) % n"))
      .groupBy(col("rk").as("s"), col("t"))
      .agg(count(lit(1)).as("w"))
  }

  /** WEIGHTED DOMAIN LINK GRAPH — (src, dst, n_links) in names: the
    * doc→domain aggregation every downstream graph op iterates on.
    * ≤ n·(n-1) rows regardless of corpus size. */
  def linkGraph(spark: SparkSession, dir: String): DataFrame = {
    val rk = srcRanks(spark, dir)
    domainEdgesOf(docsWithDomain(spark, dir), rk)
      .join(broadcast(rk.select(col("source").as("src"), col("rk").as("s"))), "s")
      .join(broadcast(rk.select(col("source").as("dst"), col("rk").as("t"))), "t")
      .select(col("src"), col("dst"), col("w").as("n_links"))
  }

  /** The iteration core over ANY (s, t, w) edge relation and node
    * registry — shared by the one-shot queries. The edge+outdegree relation and node list are localCheckpointed
    * ONCE so the iteration plan never re-derives its inputs, and each
    * of the [[Iters]] rounds is a join + partial agg over the tiny
    * graph. r'(v) = (3·S) div (20·n) +
    * (17 · Σ_u (r(u)·w(u,v)) div out(u)) div 20 — all truncating
    * integer ops, bit-identical in both engines. */
  private[graft] def rankItersFrom(e: DataFrame,
      registry: DataFrame): DataFrame =
    rankLoop(e, uniformNodes(registry))

  /** The uniform teleport vector over a registry: (node, r0, tel) with
    * r0 = S div n and tel = (3·S) div (20·n). */
  private[graft] def uniformNodes(registry: DataFrame): DataFrame =
    registry.select(col("rk").as("node"))
      .crossJoin(broadcast(registry.agg(count(lit(1)).as("n"))))
      .select(col("node"), expr(s"$Scale div n").as("r0"),
        expr(s"(3 * $Scale) div (20 * n)").as("tel"))

  /** (s, t, w) edges with each source's total out-weight `ow`. */
  private[graft] def withOutWeight(e: DataFrame): DataFrame =
    e.join(e.groupBy(col("s")).agg(sum(col("w")).as("ow")), "s")

  /** Driver-side [[rankLoop]] over collected (s, t, w, ow) edges and
    * (node, r0, tel) rows — the IDENTICAL integer recurrence
    * (divide-before-multiply contribution, truncating 17/20 damping;
    * Long sums are order-exact), parity spec-pinned in GraphOpsSpec. */
  private def rankLoopDriver(spark: SparkSession,
      edgeRows: Array[org.apache.spark.sql.Row],
      nodeRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val nodesArr = nodeRows.map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2)))
    var r = scala.collection.mutable.LongMap.empty[Long]
    nodesArr.foreach { case (n, r0, _) => r(n) = r0 }
    for (_ <- 1 to Iters) {
      val cs = scala.collection.mutable.LongMap.empty[Long]
      edgeRows.foreach { row =>
        val s = row.getLong(0); val t = row.getLong(1)
        val w = row.getLong(2); val ow = row.getLong(3)
        // inner-join semantics: an edge whose source is not a registry
        // node contributes nothing
        r.get(s).foreach { rs =>
          val c = (rs / ow) * w + ((rs % ow) * w) / ow
          cs(t) = cs.getOrElse(t, 0L) + c
        }
      }
      val r2 = scala.collection.mutable.LongMap.empty[Long]
      nodesArr.foreach { case (n, _, tel) =>
        r2(n) = tel + (17L * cs.getOrElse(n, 0L)) / 20L
      }
      r = r2
    }
    import spark.implicits._
    nodesArr.map { case (n, _, _) => (n, r(n)) }.toSeq.toDF("node", "r")
  }

  /** The damped iteration over ANY teleport vector: `nodes` carries
    * (node, r0, tel) — uniform for [[pageRank]], seed-restricted for
    * [[pageRankSeeded]] — and each round is
    * r'(v) = tel(v) + (17 · Σ contrib) div 20. */
  private def rankLoop(e: DataFrame, nodesIn: DataFrame): DataFrame = {
    val ew = withOutWeight(e).localCheckpoint(true)
    val nodes = nodesIn.localCheckpoint(true)
    // SMALL-GRAPH CUTOVER (r19): when the checkpointed edge and node
    // relations fit ScaleUtils.DriverMaxRows (and are the all-Long shape
    // every caller passes), collect them and run the identical integer
    // recurrence locally — the bounded limit probes read the LOCAL
    // checkpoint blocks, never the upstream chain. A domain graph is
    // ≤ |domains|² rows, so real corpora sit far below the bound.
    // Interleaved A/B in OPTIMIZATION_r19.md §5; the checkpoints are
    // freed here since the returned local frame no longer reads them.
    val allLong = (ew.select(col("s"), col("t"), col("w"), col("ow"))
        .schema.fields ++ nodes.schema.fields)
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    def probe(df: DataFrame) = graft.functions.ScaleUtils.collectAtMost(
      df, graft.functions.ScaleUtils.DriverMaxRows)
    val local = if (!allLong) None else for {
      eRows <- probe(ew.select(col("s"), col("t"), col("w"), col("ow")))
      nRows <- probe(nodes.select(col("node"), col("r0"), col("tel")))
    } yield rankLoopDriver(e.sparkSession, eRows, nRows)
    local match {
      case Some(out) =>
        Seq(ew, nodes).flatMap(graft.functions.ScaleUtils.checkpointRdds)
          .foreach(_.unpersist(false))
        out
      case None => rankLoopDistributed(ew, nodes)
    }
  }

  /** The distributed damped iteration: [[Iters]] join + partial-agg
    * rounds over (s, t, w, ow) edges ([[withOutWeight]]) and
    * (node, r0, tel) nodes — the at-scale arm of [[rankLoop]], and the
    * parity reference for its driver recurrence. */
  private[graft] def rankLoopDistributed(ew: DataFrame,
      nodes: DataFrame): DataFrame = {
    var r = nodes.select(col("node"), col("r0").as("r"))
    for (_ <- 1 to Iters) {
      // name-resolved join condition: `node` exists only on the rank
      // side, `s` only on the edge side — dataset-qualified refs would
      // trip DetectAmbiguousSelfJoin once ew sits in both lineages
      val contrib = r.join(ew, col("node") === col("s"))
        // divide-before-multiply form of (r*w) div ow — the identity
        // r*w = (r div ow)*ow*w + (r mod ow)*w makes it EXACTLY equal
        // for the non-negative operands here (the oracle keeps the
        // plain form), while the intermediates shrink from r·w
        // (overflows BIGINT once rank ~ Scale meets w ~ 10^7) to
        // (r div ow)·w ≤ r and (r mod ow)·w < ow² — safe while any
        // single domain emits < 3·10^9 links (ow² < Long.Max), vs
        // < 9·10^6 before (ADVICE r15)
        .select(col("t"),
          expr("(r div ow) * w + (((r % ow) * w) div ow)").as("c"))
        .groupBy(col("t").as("node")).agg(sum(col("c")).as("cs"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr("tel + ((17 * coalesce(cs, 0)) div 20)").as("r"))
    }
    r
  }

  /** DOMAIN AUTHORITY — integer PageRank per source: (source, rank_u).
    * Hubs that the doc_id cycle favors rank measurably above leaves;
    * Σ rank_u ≈ [[Scale]] minus deterministic truncation loss. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val rk = srcRanks(spark, dir)
    rankItersFrom(domainEdgesOf(docsWithDomain(spark, dir), rk), rk)
      .join(broadcast(rk), col("node") === col("rk"))
      .select(col("source"), col("r").as("rank_u"))
  }

  /** SEEDED (PERSONALIZED) PAGERANK — topic-conditioned authority: the
    * teleport mass lands ONLY on a SEED set of domains (here: sources
    * whose docs are majority-'en' — the "build me a medical/code/
    * English corpus" personalization, seeds derived from data the
    * engine already has), so rank measures proximity to the topic
    * through the link structure (Page et al. 1999's personalization
    * vector, public). Same exact-integer recurrence with
    * tel(v) = seed(v) ? (3·S) div (20·|seed|) : 0 and the matching r0;
    * `greatest(|seed|, 1)` keeps an empty seed set engine-identical
    * (all-zero ranks) instead of a divide-by-zero. One corpus census
    * pass + one edge pass, like the uniform form. */
  def pageRankSeeded(spark: SparkSession, dir: String): DataFrame = {
    val census = docsWithDomain(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .localCheckpoint(true)
    val rk = ranksFrom(census)
    val seeded = rk.join(broadcast(census), "source")
      .select(col("source"), col("rk"),
        (col("n_en") * 2 > col("n_docs")).as("seed"))
    val ns = seeded.agg(greatest(
      sum(when(col("seed"), 1L).otherwise(0L)), lit(1L)).as("ns"))
    val nodes = seeded.crossJoin(broadcast(ns))
      .select(col("rk").as("node"),
        expr(s"CASE WHEN seed THEN $Scale div ns ELSE 0 END").as("r0"),
        expr(s"CASE WHEN seed THEN (3 * $Scale) div (20 * ns) ELSE 0 END")
          .as("tel"))
    rankLoop(domainEdgesOf(docsWithDomain(spark, dir), rk), nodes)
      .join(broadcast(seeded), col("node") === col("rk"))
      .select(col("source"), col("seed"), col("r").as("rank_u"))
  }

  /** RECIPROCAL-LINK CENSUS — the link-farm signal: per source, out/in
    * degree and weight, and the count/weight of RECIPROCATED edges
    * (u→v where v→u exists; reciprocal weight is Σ least(w_uv, w_vu)).
    * A domain whose links are mostly mutual with its targets is the
    * classic spam-farm shape. One self-join of the ≤n² domain graph. */
  def linkReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val rk = srcRanks(spark, dir)
    val e = domainEdgesOf(docsWithDomain(spark, dir), rk)
      .localCheckpoint(true)
    val out = e.groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("n_out"), sum(col("w")).as("out_w"))
    val in = e.groupBy(col("t").as("node"))
      .agg(count(lit(1)).as("n_in"), sum(col("w")).as("in_w"))
    val b = e.select(col("s").as("bs"), col("t").as("bt"), col("w").as("bw"))
    val recip = e.join(b, col("s") === col("bt") && col("t") === col("bs"))
      .groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("n_recip"),
        sum(least(col("w"), col("bw"))).as("recip_w"))
    out.join(in, Seq("node"), "full")
      .join(recip, Seq("node"), "left")
      .join(broadcast(rk), col("node") === col("rk"))
      .select(col("source"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        coalesce(col("recip_w"), lit(0L)).as("recip_w"))
  }

  /** AUTHORITY-WEIGHTED SAMPLING QUOTA — the op the family feeds
    * [[CurationOps]] with: each source's integer share of
    * [[QuotaBudget]] proportional to its PageRank
    * (`(rank_u · budget) div Σ rank`), next to its doc count so the
    * mixture planner can cap at availability. */
  def authorityQuota(spark: SparkSession, dir: String): DataFrame = {
    val census = srcCensus(spark, dir)
    val rk = ranksFrom(census)
    val pr = rankItersFrom(domainEdgesOf(docsWithDomain(spark, dir), rk), rk)
      .join(broadcast(rk), col("node") === col("rk"))
      .select(col("source"), col("r").as("rank_u"))
      .localCheckpoint(true)
    val tot = pr.agg(sum(col("rank_u")).as("tot"))
    pr.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"(rank_u * $QuotaBudget) div tot"))
      .join(broadcast(census), "source")
      .select(col("source"), col("n_docs"), col("quota"))
  }

  /** DOMAIN SCORECARD — the one-row-per-domain card a curation run
    * reads before setting mixture quotas: doc count and language
    * spread from the census, integer PageRank and its quota share,
    * and in/out link mass from the graph — every signal the family
    * computes, assembled on the ≤|domains| node dimension. ONE corpus
    * census + ONE edge pass (both checkpointed and reused); everything
    * else is node- or graph-sized. */
  def domainCard(spark: SparkSession, dir: String): DataFrame = {
    val census = docsWithDomain(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
      .localCheckpoint(true)
    val rk = ranksFrom(census)
    val e = domainEdgesOf(docsWithDomain(spark, dir), rk)
      .localCheckpoint(true)
    val pr = rankItersFrom(e, rk)
      .localCheckpoint(true)
    val tot = pr.agg(sum(col("r")).as("tot"))
    val out = e.groupBy(col("s").as("node")).agg(sum(col("w")).as("out_w"))
    val in = e.groupBy(col("t").as("node")).agg(sum(col("w")).as("in_w"))
    pr.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"(r * $QuotaBudget) div tot"))
      .join(out, Seq("node"), "left")
      .join(in, Seq("node"), "left")
      .join(broadcast(rk), col("node") === col("rk"))
      .join(broadcast(census), "source")
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("r").as("rank_u"), col("quota"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
  }

  // ------------------------------------------------------------------
  // content-derived edges (VERDICT r17 item 1): the graph PARSED out of
  // real HTML bytes instead of synthesized from arithmetic
  // ------------------------------------------------------------------

  /** The corpus as REAL HTML pages with a PLANTED CONTENT OUTLINK: each
    * doc's [[TextOps.htmlDocs]] page (nav, link farm, relative anchors
    * and all) gains one absolute `<a href>` whose target domain is the
    * exact `(rk + 1 + doc_id % (n-1)) % n` arithmetic the synthetic
    * edge list uses — so the graph PARSED from the markup must equal
    * the graph PREDICTED from the math (the q_html_extract discipline:
    * DuckDB derives the edge set from planted arithmetic while Spark
    * walks the bytes; a walker that misses the anchor, mis-scans the
    * href attribute, skips the `&amp;` entity in its query string, or
    * leaks a relative/boilerplate link breaks the row set). The target
    * host is planted `www.`-prefixed with a tracking-free query so the
    * [[UrlOps.canonicalHost]] fold is genuinely exercised. */
  private[graft] def linkedPages(spark: SparkSession, dir: String,
      rk: DataFrame): DataFrame = {
    val nn = rk.agg(count(lit(1)).as("n"))
    val tgt = rk.select(col("rk").as("t_rk"), col("source").as("t_host"))
    val docs = docsWithDomain(spark, dir)
      .join(broadcast(rk), "source")
      .crossJoin(broadcast(nn))
      .withColumn("t_rk",
        expr("(rk + 1 + (doc_id % greatest(n - 1, 1))) % n"))
      .join(broadcast(tgt), "t_rk")
    TextOps.htmlDocs(docs, extra = concat(
      lit("<div class=\"refs\"><a href=\"https://www."), col("t_host"),
      lit("/ref?id="), col("doc_id").cast("string"),
      // anchor TEXT is planted from the same arithmetic (ref<id%7>),
      // so the anchor-text aggregation is predictable per target too
      lit("&amp;s=1\">ref"), (col("doc_id") % 7).cast("string"),
      lit("</a></div>")), keep = Seq("source"))
  }

  /** Content-derived weighted edges (s, t, w) in rank space: walk every
    * page with the real [[graft.functions.HtmlText]] extractor (hrefs
    * kept — map-only, the same pass boilerplate removal already pays),
    * keep absolute links only (relative nav/farm anchors address the
    * SAME site — no edge), fold each target through
    * [[UrlOps.canonicalHost]], and aggregate under the registry.
    * Identical plan shape to [[domainEdgesOf]]: one doc scan →
    * ≤|domains|² rows; hosts absent from the registry drop at the
    * broadcast join (none here — targets are planted registry
    * members). */
  private[graft] def contentEdges(spark: SparkSession, dir: String,
      rk: DataFrame): DataFrame = {
    import spark.implicits._
    linkedPages(spark, dir, rk)
      .select(col("source"), col("html")).as[(String, String)]
      .flatMap { case (src, html) =>
        graft.functions.HtmlText.extractWithLinks(html)._2.iterator
          .filter { h =>
            val l = h.toLowerCase
            l.startsWith("http://") || l.startsWith("https://")
          }
          .map(h => (src, h))
      }
      .toDF("source", "href")
      .withColumn("t_host", UrlOps.canonicalHost(col("href")))
      .join(broadcast(rk), "source")
      .join(broadcast(rk.select(col("source").as("th"), col("rk").as("t"))),
        col("t_host") === col("th"))
      .groupBy(col("rk").as("s"), col("t"))
      .agg(count(lit(1)).as("w"))
  }

  /** CONTENT-DERIVED LINK GRAPH — (src, dst, n_links) parsed from the
    * HTML: the [[linkGraph]] row set rebuilt from bytes. The oracle is
    * the synthetic edge SQL verbatim — two genuinely independent
    * derivations of the same graph. */
  def linkGraphContent(spark: SparkSession, dir: String): DataFrame = {
    val rk = srcRanks(spark, dir)
    contentEdges(spark, dir, rk)
      .join(broadcast(rk.select(col("source").as("src"), col("rk").as("s"))), "s")
      .join(broadcast(rk.select(col("source").as("dst"), col("rk").as("t"))), "t")
      .select(col("src"), col("dst"), col("w").as("n_links"))
  }

  /** PAGERANK OVER CONTENT-DERIVED EDGES — the authority family run on
    * the graph parsed out of the markup (the production shape: a crawl
    * has no planted arithmetic, only bytes). Same [[rankItersFrom]]
    * core, same integer recurrence, oracled against the synthetic
    * PageRank SQL. */
  def pageRankContent(spark: SparkSession, dir: String): DataFrame = {
    val rk = srcRanks(spark, dir)
    rankItersFrom(contentEdges(spark, dir, rk), rk)
      .join(broadcast(rk), col("node") === col("rk"))
      .select(col("source"), col("r").as("rank_u"))
  }

  /** ANCHOR-TEXT AGGREGATION — the classic web-IR target description
    * (how the rest of the web NAMES a page; the signal search engines
    * index beside the page's own text, and a crawl-curation pipeline
    * uses as a domain-topic prior): per target domain, the anchor
    * terms of every content outlink pointing at it, with counts. The
    * walker emits (href, anchor text) pairs in the same pass the
    * extraction already pays; the target folds through
    * [[UrlOps.canonicalHost]]; one hash aggregate on (dst, term).
    * The fixture plants both sides from doc_id arithmetic, so DuckDB
    * predicts every (target, term, n) row without parsing markup.
    * Scale shape: map-only parse + ONE partial-aggregated exchange
    * over ≤|domains|·|terms| groups. */
  def anchorText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rk = srcRanks(spark, dir)
    linkedPages(spark, dir, rk)
      .select(col("html")).as[String]
      .flatMap { html =>
        graft.functions.HtmlText.extractWithAnchors(html)._2.iterator
          .filter { case (h, _) =>
            val l = h.toLowerCase
            l.startsWith("http://") || l.startsWith("https://")
          }
      }
      .toDF("href", "term")
      .withColumn("t_host", UrlOps.canonicalHost(col("href")))
      .join(broadcast(rk.select(col("source").as("dst"))),
        col("t_host") === col("dst"))
      .groupBy(col("dst"), col("term"))
      .agg(count(lit(1)).as("n"))
  }

  /** Docs the authority-weighted sampler targets overall. */
  val SampleTarget = 2000L

  /** AUTHORITY-WEIGHTED SAMPLING — the op that makes the rank table
    * ACT on the corpus (the CC-Net-style "sample by domain
    * reputation" pass): each domain's target doc count is its integer
    * PageRank share of [[SampleTarget]], converted to a 24-bit keep
    * rate against the domain's availability, and every doc draws the
    * deterministic md5 coin ([[CurationOps.stratifiedSample]]'s
    * determinism contract — stable under retries/replays/engines).
    * Output: per domain, availability, target and the docs actually
    * kept (binomial around the target — the oracle recomputes the
    * identical coins, so the match is exact, not statistical).
    *
    * Scale shape: the rank table and rates are node-sized (broadcast);
    * the corpus pays ONE scan with the coin in the projection and one
    * per-domain rollup — the stratified-sample shuffle with an
    * authority-derived rate column. */
  def authoritySample(spark: SparkSession, dir: String): DataFrame = {
    val census = srcCensus(spark, dir)
    val rk = ranksFrom(census)
    val pr = rankItersFrom(domainEdgesOf(docsWithDomain(spark, dir), rk), rk)
      .join(broadcast(rk), col("node") === col("rk"))
      .select(col("source"), col("r").as("rank_u"))
      .localCheckpoint(true)
    val tot = pr.agg(sum(col("rank_u")).as("tot"))
    val rates = pr.crossJoin(broadcast(tot))
      .join(broadcast(census), "source")
      .withColumn("target_docs",
        expr(s"(rank_u * $SampleTarget) div tot"))
      .withColumn("rate24",
        least(expr("(target_docs * 16777216) div n_docs"),
          lit(16777216L)))
      .select(col("source"), col("n_docs"), col("target_docs"),
        col("rate24"))
    docsWithDomain(spark, dir).select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .withColumn("coin24", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10)" +
          " as bigint)"))
      .groupBy(col("source"), col("n_docs"), col("target_docs"))
      .agg(sum(when(col("coin24") < col("rate24"), 1L).otherwise(0L))
        .as("n_kept"))
  }

  // ------------------------------------------------------------------
  // driver contract
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_link_graph" -> (linkGraph(_, _)),
    "q_link_graph_content" -> (linkGraphContent(_, _)),
    "q_pagerank" -> (pageRank(_, _)),
    "q_pagerank_content" -> (pageRankContent(_, _)),
    "q_anchor_text" -> (anchorText(_, _)),
    "q_pagerank_seeded" -> (pageRankSeeded(_, _)),
    "q_link_reciprocity" -> (linkReciprocity(_, _)),
    "q_authority_quota" -> (authorityQuota(_, _)),
    "q_domain_card" -> (domainCard(_, _)),
    "q_authority_sample" -> (authoritySample(_, _)))

  /** Shared oracle CTE prologue: node ranks, n, the synthetic doc
    * edges, and the weighted domain graph — the `//` twin of the Scala
    * expressions above, kept in lockstep. */
  private def baseCtes: String =
    s"""gdoc AS ($gdocSql),
       |rk AS (SELECT source, CAST(dense_rank() OVER (ORDER BY source) - 1 AS BIGINT) AS rk
       |       FROM (SELECT DISTINCT source FROM gdoc)),
       |nn AS (SELECT count(*) AS n FROM rk),
       |ed AS (SELECT r.rk AS s,
       |              ((r.rk + 1 + (d.doc_id % greatest((SELECT n FROM nn) - 1, 1)))
       |               % (SELECT n FROM nn)) AS t
       |       FROM gdoc d JOIN rk r ON d.source = r.source),
       |e AS (SELECT s, t, count(*) AS w FROM ed GROUP BY 1, 2)""".stripMargin

  /** r0..r[[Iters]] unrolled as chained CTEs — the same integer
    * recurrence, `//` for `div`. */
  private def rankCtes: String = {
    val iters = (1 to Iters).map { i =>
      s"""c$i AS (SELECT ew.t AS node, CAST(sum((p.r * ew.w) // ew.ow) AS BIGINT) AS cs
         |        FROM r${i - 1} p JOIN ew ON p.rk = ew.s GROUP BY 1),
         |r$i AS (SELECT rk.rk,
         |          ((3 * $Scale) // (20 * (SELECT n FROM nn)))
         |          + ((17 * coalesce(c$i.cs, 0)) // 20) AS r
         |        FROM rk LEFT JOIN c$i ON rk.rk = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""ow AS (SELECT s, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
       |ew AS (SELECT e.s, e.t, e.w, ow.ow FROM e JOIN ow ON e.s = ow.s),
       |r0 AS (SELECT rk, ($Scale // (SELECT n FROM nn)) AS r FROM rk),
       |$iters""".stripMargin
  }

  /** Seeded twin of [[rankCtes]]: the teleport lands only on the
    * majority-'en' seed flags of `sd`, `greatest(ns, 1)` guarding the
    * empty-seed case exactly like the Scala side. */
  private def seededRankCtes: String = {
    val iters = (1 to Iters).map { i =>
      s"""sc$i AS (SELECT ew.t AS node, CAST(sum((p.r * ew.w) // ew.ow) AS BIGINT) AS cs
         |         FROM sr${i - 1} p JOIN ew ON p.rk = ew.s GROUP BY 1),
         |sr$i AS (SELECT sd.rk,
         |           (CASE WHEN sd.seed
         |              THEN (3 * $Scale) // (20 * (SELECT ns FROM nsd))
         |              ELSE 0 END)
         |           + ((17 * coalesce(sc$i.cs, 0)) // 20) AS r
         |         FROM sd LEFT JOIN sc$i ON sd.rk = sc$i.node)""".stripMargin
    }.mkString(",\n")
    s"""scn AS (SELECT source, count(*) AS n_docs,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_en
       |        FROM gdoc GROUP BY 1),
       |sd AS (SELECT rk.source, rk.rk, (scn.n_en * 2 > scn.n_docs) AS seed
       |       FROM rk JOIN scn ON rk.source = scn.source),
       |nsd AS (SELECT greatest(
       |          CAST(sum(CASE WHEN seed THEN 1 ELSE 0 END) AS BIGINT), 1)
       |          AS ns FROM sd),
       |ow AS (SELECT s, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
       |ew AS (SELECT e.s, e.t, e.w, ow.ow FROM e JOIN ow ON e.s = ow.s),
       |sr0 AS (SELECT rk, CASE WHEN seed
       |          THEN $Scale // (SELECT ns FROM nsd) ELSE 0 END AS r
       |        FROM sd),
       |$iters""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_pagerank_seeded" ->
      s"""WITH $baseCtes,
         |$seededRankCtes
         |SELECT sd.source, sd.seed, sr$Iters.r AS rank_u
         |FROM sr$Iters JOIN sd ON sr$Iters.rk = sd.rk
         |""".stripMargin,
    "q_link_graph" ->
      s"""WITH $baseCtes
         |SELECT s.source AS src, t.source AS dst, CAST(e.w AS BIGINT) AS n_links
         |FROM e JOIN rk s ON e.s = s.rk JOIN rk t ON e.t = t.rk
         |""".stripMargin,
    // the content twin's oracle IS the synthetic edge SQL: DuckDB
    // predicts the edge set from the planted arithmetic while Spark
    // parses it out of the HTML bytes — two independent derivations
    "q_link_graph_content" ->
      s"""WITH $baseCtes
         |SELECT s.source AS src, t.source AS dst, CAST(e.w AS BIGINT) AS n_links
         |FROM e JOIN rk s ON e.s = s.rk JOIN rk t ON e.t = t.rk
         |""".stripMargin,
    "q_pagerank" ->
      s"""WITH $baseCtes,
         |$rankCtes
         |SELECT rk.source, r$Iters.r AS rank_u
         |FROM r$Iters JOIN rk ON r$Iters.rk = rk.rk
         |""".stripMargin,
    "q_pagerank_content" ->
      s"""WITH $baseCtes,
         |$rankCtes
         |SELECT rk.source, r$Iters.r AS rank_u
         |FROM r$Iters JOIN rk ON r$Iters.rk = rk.rk
         |""".stripMargin,
    // anchor-text rows predicted from the same planted arithmetic the
    // Spark side PARSES out of the markup: target = the edge target,
    // term = 'ref' || doc_id % 7
    "q_anchor_text" ->
      s"""WITH $baseCtes,
         |ed2 AS (SELECT d.doc_id,
         |          ((r.rk + 1 + (d.doc_id % greatest((SELECT n FROM nn) - 1, 1)))
         |           % (SELECT n FROM nn)) AS t
         |        FROM gdoc d JOIN rk r ON d.source = r.source)
         |SELECT tk.source AS dst,
         |  'ref' || CAST(e2.doc_id % 7 AS VARCHAR) AS term,
         |  count(*) AS n
         |FROM ed2 e2 JOIN rk tk ON e2.t = tk.rk
         |GROUP BY 1, 2
         |""".stripMargin,
    "q_link_reciprocity" ->
      s"""WITH $baseCtes,
         |o AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS n_out,
         |             CAST(sum(w) AS BIGINT) AS out_w FROM e GROUP BY 1),
         |i AS (SELECT t AS node, CAST(count(*) AS BIGINT) AS n_in,
         |             CAST(sum(w) AS BIGINT) AS in_w FROM e GROUP BY 1),
         |rc AS (SELECT a.s AS node, CAST(count(*) AS BIGINT) AS n_recip,
         |              CAST(sum(least(a.w, b.w)) AS BIGINT) AS recip_w
         |       FROM e a JOIN e b ON a.s = b.t AND a.t = b.s GROUP BY 1)
         |SELECT rk.source,
         |       coalesce(o.n_out, 0) AS n_out, coalesce(o.out_w, 0) AS out_w,
         |       coalesce(i.n_in, 0) AS n_in, coalesce(i.in_w, 0) AS in_w,
         |       coalesce(rc.n_recip, 0) AS n_recip,
         |       coalesce(rc.recip_w, 0) AS recip_w
         |FROM rk LEFT JOIN o ON rk.rk = o.node
         |        LEFT JOIN i ON rk.rk = i.node
         |        LEFT JOIN rc ON rk.rk = rc.node
         |""".stripMargin,
    "q_authority_quota" ->
      s"""WITH $baseCtes,
         |$rankCtes,
         |pr AS (SELECT rk.source, r$Iters.r AS rank_u
         |       FROM r$Iters JOIN rk ON r$Iters.rk = rk.rk),
         |tot AS (SELECT CAST(sum(rank_u) AS BIGINT) AS tot FROM pr),
         |nd AS (SELECT source, count(*) AS n_docs FROM gdoc GROUP BY 1)
         |SELECT pr.source, nd.n_docs,
         |       (pr.rank_u * $QuotaBudget) // (SELECT tot FROM tot) AS quota
         |FROM pr JOIN nd ON pr.source = nd.source
         |""".stripMargin,
    "q_domain_card" ->
      s"""WITH $baseCtes,
         |$rankCtes,
         |pr AS (SELECT rk.rk, rk.source, r$Iters.r AS rank_u
         |       FROM r$Iters JOIN rk ON r$Iters.rk = rk.rk),
         |tot AS (SELECT CAST(sum(rank_u) AS BIGINT) AS tot FROM pr),
         |cns AS (SELECT source, count(*) AS n_docs,
         |          CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |        FROM gdoc GROUP BY 1),
         |outw AS (SELECT s AS node, CAST(sum(w) AS BIGINT) AS out_w
         |         FROM e GROUP BY 1),
         |inw AS (SELECT t AS node, CAST(sum(w) AS BIGINT) AS in_w
         |        FROM e GROUP BY 1)
         |SELECT pr.source, cns.n_docs, cns.n_langs, pr.rank_u,
         |       (pr.rank_u * $QuotaBudget) // (SELECT tot FROM tot) AS quota,
         |       coalesce(outw.out_w, 0) AS out_w,
         |       coalesce(inw.in_w, 0) AS in_w
         |FROM pr JOIN cns ON pr.source = cns.source
         |LEFT JOIN outw ON pr.rk = outw.node
         |LEFT JOIN inw ON pr.rk = inw.node
         |""".stripMargin,
    "q_authority_sample" ->
      s"""WITH $baseCtes,
         |$rankCtes,
         |pr AS (SELECT rk.source, r$Iters.r AS rank_u
         |       FROM r$Iters JOIN rk ON r$Iters.rk = rk.rk),
         |tot AS (SELECT CAST(sum(rank_u) AS BIGINT) AS tot FROM pr),
         |cns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM gdoc GROUP BY 1),
         |rates AS (SELECT pr.source, cns.n_docs,
         |    (pr.rank_u * $SampleTarget) // (SELECT tot FROM tot)
         |      AS target_docs,
         |    least(((pr.rank_u * $SampleTarget) // (SELECT tot FROM tot))
         |      * 16777216 // cns.n_docs, 16777216) AS rate24
         |  FROM pr JOIN cns ON pr.source = cns.source)
         |SELECT rt.source, rt.n_docs, rt.target_docs,
         |  CAST(sum(CASE WHEN
         |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
         |      AS BIGINT) < rt.rate24 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept
         |FROM gdoc d JOIN rates rt ON d.source = rt.source
         |GROUP BY 1, 2, 3
         |""".stripMargin)
}
