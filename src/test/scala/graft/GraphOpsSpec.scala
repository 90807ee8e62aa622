package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** [[graft.operators.GraphOps]] — link-graph domain authority. The
  * oracled rows are q_link_graph / q_pagerank / q_link_reciprocity /
  * q_authority_quota; this pins the graph-construction invariants and
  * the integer-PageRank conservation properties the oracle match
  * rests on. */
class GraphOpsSpec extends SparkSpec {

  test("link graph: no self-loops, every source has out-edges") {
    val g = GraphOps.linkGraph(spark, sfDir)
    assert(g.where(col("src") === col("dst")).isEmpty,
      "edge synthesis must never target the origin domain")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nSrc = docs.select("source").distinct().count()
    assert(g.select("src").distinct().count() == nSrc)
    // edge weights recompose to the doc count: one edge per doc
    val totW = g.agg(sum(col("n_links"))).head().getLong(0)
    assert(totW == docs.count())
  }

  test("rank loop: driver cutover equals the distributed iteration") {
    // the r19 small-graph cutover (GraphOps.rankLoopDriver) must produce
    // the bit-identical integer ranks the distributed loop computes —
    // the loop arm is called by name on the same inputs
    val rk = GraphOps.srcRanks(spark, sfDir)
    val e = GraphOps.domainEdgesOf(GraphOps.docsWithDomain(spark, sfDir), rk)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = ranks(GraphOps.rankItersFrom(e, rk))
    val dist = ranks(GraphOps.rankLoopDistributed(
      GraphOps.withOutWeight(e), GraphOps.uniformNodes(rk)))
    assert(driver.nonEmpty)
    assert(driver == dist,
      s"driver union of ${driver.size} ranks must equal distributed")
  }

  test("pagerank: mass conservation and teleport floor, exact ints") {
    val pr = GraphOps.pageRank(spark, sfDir)
    val n = pr.count()
    val floor = (3L * GraphOps.Scale) / (20L * n)
    assert(pr.where(col("rank_u") < floor).isEmpty,
      "every node keeps at least the teleport share")
    val tot = pr.agg(sum(col("rank_u"))).head().getLong(0)
    // truncation loss per iteration: < 1 unit per EDGE at the
    // (r*w) div ow contribution, plus < 1 per node at each of the
    // tel and 17·cs div 20 sites; the initial r0 = Scale div n loses
    // < 1 per node. Slack derived from the ACTUAL graph size, not the
    // fixture's edge shape (ADVICE r15: the old (Iters+1)·3·n bound
    // under-counted per-edge loss)
    val m = GraphOps.linkGraph(spark, sfDir).count()
    assert(tot <= GraphOps.Scale)
    assert(tot > GraphOps.Scale - (n + GraphOps.Iters * (m + 2 * n)),
      s"mass $tot drifted too far from ${GraphOps.Scale} " +
        s"(n=$n, edges=$m)")
    // the cycle construction must separate ranks (not a uniform fixpoint)
    assert(pr.select("rank_u").distinct().count() > 1)
  }

  test("seeded pagerank: teleport mass lands only on seeds, topical tilt") {
    val pr = GraphOps.pageRankSeeded(spark, sfDir)
    val n = pr.count()
    val seeds = pr.where(col("seed")).count()
    assert(seeds > 0 && seeds < n, "fixture needs a proper seed subset")
    // a non-seed node earns rank ONLY through in-links (tel = 0)
    val floor = (3L * GraphOps.Scale) / (20L * seeds)
    assert(pr.where(col("seed") && col("rank_u") < floor).isEmpty,
      "every seed keeps at least its teleport share")
    // seeds hold a disproportionate rank share vs their population share
    val agg = pr.agg(
      sum(when(col("seed"), col("rank_u")).otherwise(0L)),
      sum(col("rank_u"))).head()
    val (seedMass, total) = (agg.getLong(0), agg.getLong(1))
    assert(seedMass * n > total * seeds,
      s"seed mass $seedMass/$total must exceed population share $seeds/$n")
    assert(total <= GraphOps.Scale)
  }

  test("reciprocity: bounded by degree, weights by out mass") {
    val rc = GraphOps.linkReciprocity(spark, sfDir)
    assert(rc.where(col("n_recip") > col("n_out")).isEmpty)
    assert(rc.where(col("recip_w") > col("out_w")).isEmpty)
    assert(rc.where(col("n_in") === 0 && col("n_out") === 0).isEmpty,
      "every domain participates in the synthetic graph")
  }

  test("two-phase registry rank == dense_rank, 0..n-1 dense") {
    // the distributed ranksFrom must reproduce the single-window
    // dense_rank EXACTLY — ranks dense from 0 with no gaps, ordered
    // by source name — or every rank-space edge the family synthesizes
    // shifts
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val rk = GraphOps.srcRanks(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // node ids are canonical hosts of the synthesized URL surface
    val expected = docs.select("source").distinct()
      .collect().map(_.getString(0) + ".example.org").sorted.zipWithIndex
      .map { case (s, i) => s -> i.toLong }.toMap
    assert(rk == expected, s"two-phase ranks diverged: $rk")
  }

  test("authority quota: integer shares sum within budget") {
    val q = GraphOps.authorityQuota(spark, sfDir)
    val tot = q.agg(sum(col("quota"))).head().getLong(0)
    assert(tot <= GraphOps.QuotaBudget)
    assert(tot > GraphOps.QuotaBudget - q.count(),
      "truncation loses < 1 unit per source")
    assert(q.where(col("quota") <= 0).isEmpty,
      "positive ranks must earn positive quotas")
  }
}
