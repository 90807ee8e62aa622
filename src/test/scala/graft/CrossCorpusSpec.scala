package graft

import graft.operators.{DedupOps, VectorOps}
import org.apache.spark.sql.functions._

/** Round-10 cross-corpus reports: the source-overlap matrix (who
  * duplicates with whom), the cluster×source balance table, and
  * margin-based bitext mining. */
class CrossCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("source overlap: multiplicity pair math on planted groups") {
    // group 10: srcA×2 + srcB×1 → (A,A):1 pair, (A,B):2 pairs
    // group 20: srcB×2        → (B,B):1 pair
    // group 30: srcC×1        → no pairs anywhere (singleton source)
    val groups = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 30L)).toDF("doc_id", "rep_id")
    val prov = Seq((1L, "srcA"), (2L, "srcA"), (3L, "srcB"), (4L, "srcB"),
      (5L, "srcB"), (6L, "srcC")).toDF("doc_id", "source")
    val got = DedupOps.sourceOverlapFrom(groups, prov).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_pairs"))).toMap
    assert(got == Map(
      ("srcA", "srcA") -> (1L, 1L),
      ("srcA", "srcB") -> (1L, 2L),
      ("srcB", "srcB") -> (1L, 1L)))
  }

  test("source overlap: pair totals reconcile with group sizes on sf data") {
    // sum over the matrix = sum over groups of C(size, 2): both count
    // every unordered member pair exactly once
    val groups = DedupOps.textDedupGroups(spark, sfDir)
    val prov = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    val matrixPairs = DedupOps.sourceOverlapFrom(groups, prov)
      .agg(sum(col("n_pairs"))).head.getLong(0)
    val groupPairs = groups.groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2"))).head.getLong(0)
    assert(matrixPairs == groupPairs && matrixPairs > 0,
      s"matrix $matrixPairs vs groups $groupPairs")
  }

  test("sketched overlap: planted shared shingles, exact + contract") {
    // srcA and srcB share exactly the shingles of one common sentence;
    // srcC shares nothing with either
    val common = "the quick brown fox jumps over the lazy dog tonight"
    val rows = Seq(
      (1L, common + " alpha beta gamma delta epsilon", "en", "srcA"),
      (2L, common + " zeta eta theta iota kappa", "en", "srcB"),
      (3L, "completely unrelated text with its own private words here",
        "en", "srcC"))
    val dir = "/tmp/graft_sketch_overlap_spec"
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.sketchShingleOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("exact_overlap"), r.getAs[Boolean]("overlap_within_bounds")))
      .toMap
    // zero-overlap pairs stay in the matrix
    assert(got.keySet == Set(("srcA", "srcB"), ("srcA", "srcC"),
      ("srcB", "srcC")))
    // shared shingles = 3-grams fully inside the common sentence:
    // 10 common tokens -> 8 shared trigrams (the 2 bridge trigrams into
    // each doc's own suffix differ)
    assert(got(("srcA", "srcB"))._1 == 8L, s"got $got")
    assert(got(("srcA", "srcC"))._1 == 0L && got(("srcB", "srcC"))._1 == 0L)
    assert(got.values.forall(_._2), "every estimate inside its budget")
    // the production arm over a STORED sketch table serves the same
    // estimates: tiny sets sit in the sketch's exact regime
    val docs = graft.sources.Tables.documents(spark, dir)
    DedupOps.sourceShingleSketches(docs)
      .write.mode("overwrite").parquet(s"$dir/sketches.parquet")
    val est = DedupOps.sketchOverlapOf(
        spark.read.parquet(s"$dir/sketches.parquet")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("est_overlap")).toMap
    assert(est(("srcA", "srcB")) == 8L && est(("srcA", "srcC")) == 0L,
      s"stored sketches stay exact on small sets: $est")
  }

  test("sketched overlap: agrees with exact within budget on sf data") {
    val got = DedupOps.sketchShingleOverlap(spark, sfDir).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Boolean]("overlap_within_bounds")),
      "every pair's estimate lands inside the 3-sigma triangle budget")
    assert(got.exists(_.getAs[Long]("exact_overlap") > 0),
      "the sf corpus has genuinely shared shingles across sources")
  }

  test("cluster balance: shares are exact ppm of consistent totals") {
    val got = VectorOps.clusterSourceBalance(spark, sfDir)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // cl_total is the sum of its cluster's n_docs, every share is
    // n_docs·1e6 div cl_total, and shares sum to ≤ 1e6 per cluster
    // (truncation loses < |sources| ppm)
    val byCluster = rows.groupBy(_.getAs[Int]("cluster"))
    for ((cl, rs) <- byCluster) {
      val total = rs.head.getAs[Long]("cl_total")
      assert(rs.map(_.getAs[Long]("n_docs")).sum == total, s"cluster $cl")
      for (r <- rs)
        assert(r.getAs[Long]("share_ppm") ==
          r.getAs[Long]("n_docs") * 1000000L / total)
      val s = rs.map(_.getAs[Long]("share_ppm")).sum
      assert(s <= 1000000L && s > 1000000L - rs.size, s"cluster $cl: $s")
    }
    // every embedded doc lands in exactly one cell
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    val expected = VectorOps.kmeansAssign(spark, sfDir)
      .join(graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id")), col("vec_id") === col("doc_id"))
      .count()
    assert(nDocs == expected)
  }

  test("ann recall: full probe = exact recall 1.0; defaults bounded") {
    // probing every cell makes the IVF search exhaustive over the
    // guarded corpus — recall must be exactly 1.0, not approximately
    val full = VectorOps.annRecall(spark, sfDir, nprobe = 8, cells = 8)
      .collect()
    assert(full.nonEmpty)
    for (r <- full) {
      assert(r.getAs[Long]("n_true") == 5L)
      assert(r.getAs[Double]("recall") == 1.0, s"full probe: $r")
    }
    // the default 3/8 probe is a genuine subset: recall in [0, 1] and
    // the integer arithmetic n_hits·1e4 div n_true is exact
    for (r <- VectorOps.annRecall(spark, sfDir).collect()) {
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= r.getAs[Long]("n_true"))
      assert(r.getAs[Double]("recall") ==
        (hits * 10000L / r.getAs[Long]("n_true")).toDouble / 10000.0)
    }
  }

  test("matryoshka recall: the full-dim prefix is the identity (1.0); " +
      "truncation recall is monotone-safe in [0, 1]") {
    // d' = 64 runs the exact same search as the ground truth
    for (r <- VectorOps.matryoshkaRecall(spark, sfDir,
        dims = Seq(64)).collect()) {
      assert(r.getAs[Double]("recall") == 1.0, s"full prefix: $r")
    }
    for (r <- VectorOps.matryoshkaRecall(spark, sfDir).collect()) {
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= r.getAs[Long]("n_true"))
      assert(r.getAs[Double]("recall") ==
        (hits * 10000L / r.getAs[Long]("n_true")).toDouble / 10000.0)
    }
  }

  test("cluster keywords: two-phase top-k equals the plain-window rank") {
    import org.apache.spark.sql.expressions.Window
    val got = VectorOps.clusterKeywords(spark, sfDir)
    // reference: the same scored relation ranked by one global window
    // (fine at spec scale; the operator avoids it for the funnel)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val perDoc = docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfq = perDoc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ctf = perDoc
      .join(VectorOps.kmeansAssign(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("cluster")), Seq("doc_id"))
      .groupBy(col("cluster"), col("tok")).agg(sum(col("tf")).as("ctf"))
    val want = ctf.join(dfq, Seq("tok"))
      .withColumn("score_ppm", expr("ctf * 1000000 div df"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("score_ppm").desc, col("tok"))).cast("int"))
      .where(col("rank") <= VectorOps.ClusterTopK)
      .select(col("cluster"), col("rank"), col("tok"), col("ctf"),
        col("df"), col("score_ppm"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "two-phase and plain-window rankings must agree row-for-row")
    assert(got.count() > 0)
  }

  test("bitext margin: planted translation pair mined, hub rejected") {
    // 2-dim toy space. Probe 0 (en): target 100 at cosine 1.0, target
    // 101 orthogonal → margin 1.0, accepted. Probe 50 (en): two equal
    // targets at the same angle → margin 0, rejected (hub/copy case).
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (50L, Array(0.0f, 1.0f)),
      (100L, Array(2.0f, 0.0f)), (101L, Array(0.0f, 3.0f)),
      (102L, Array(0.0f, 5.0f))).toDF("vec_id", "embedding")
    val langs = Seq((0L, "en"), (50L, "en"), (100L, "fr"), (101L, "fr"),
      (102L, "fr")).toDF("doc_id", "lang")
    val dot = graft.plans.DotProductLong.dotLong(spark) _
    val quantized = vecs
      .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qe"))
      .withColumn("nrm", dot(col("qe"), col("qe")))
    val got = VectorOps.bitextMineFrom(spark, quantized, langs, "en", "fr")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 2)
    assert(got(0L).getAs[Long]("best_id") == 100L
      && got(0L).getAs[Double]("best_sim") == 1.0
      && got(0L).getAs[Double]("margin") == 1.0
      && got(0L).getAs[Boolean]("accept"))
    // probe 50: both fr targets on its own axis → sims 1.0 and 1.0,
    // tie-break best_id = 101, margin 0 → rejected despite max cosine
    assert(got(50L).getAs[Long]("best_id") == 101L
      && got(50L).getAs[Double]("margin") == 0.0
      && !got(50L).getAs[Boolean]("accept"))
  }

  test("detector venn: cell totals reconcile with each detector's own count") {
    val cells = DedupOps.detectorAgreement(spark, sfDir).collect()
    assert(cells.nonEmpty)
    def tot(flag: String): Long =
      cells.filter(_.getAs[Boolean](flag)).map(_.getAs[Long]("n_pairs")).sum
    // marginals must equal what each detector reports alone
    assert(tot("minhash") == DedupOps.textDupPairs(spark, sfDir).count())
    assert(tot("simhash") ==
      DedupOps.simhashPairs(spark, sfDir).count())
    assert(tot("cosine") == DedupOps.cosineNearDup(spark, sfDir).count())
    // a pair reaches the venn only through some detector
    assert(!cells.exists(r => !r.getAs[Boolean]("minhash")
      && !r.getAs[Boolean]("simhash") && !r.getAs[Boolean]("cosine")))
  }

  test("hubness: census covers the guarded corpus, occurrences reconcile") {
    val got = VectorOps.hubness(spark, sfDir, k = 5).collect()
    // every guarded vector reports exactly one row (this sf has no
    // zero-norm vectors, so guarded = whole table)
    val nGuarded = graft.sources.Tables.embeddings(spark, sfDir).count()
    assert(got.length == nGuarded.toInt)
    // total citations = sum of top-k list lengths (≤ k per query, with
    // equality when every query has ≥ k candidates)
    val totalOcc = got.map(_.getAs[Long]("n_occ")).sum
    assert(totalOcc > 0 && totalOcc <= 5L * got.length)
    for (r <- got)
      assert(r.getAs[Boolean]("hub") ==
        (r.getAs[Long]("n_occ") >= 2L * 5L))
    // hubs must be the exception, not the norm (sanity of the bar)
    assert(got.count(_.getAs[Boolean]("hub")) < got.length / 2)
  }

  test("hubness auto: corpus-sized cells, same census contract") {
    // at sf0.001 (500 vectors) ivfCells(n) = 22 — a genuinely different
    // quantizer than the declared cells=8, same invariants
    val got = VectorOps.hubnessAuto(spark, sfDir).collect()
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    assert(got.length == n.toInt)
    val totalOcc = got.map(_.getAs[Long]("n_occ")).sum
    assert(totalOcc > 0 && totalOcc <= 5L * got.length)
    for (r <- got)
      assert(r.getAs[Boolean]("hub") == (r.getAs[Long]("n_occ") >= 10L))
  }

  test("bitext margin: probe/target languages enforced on sf data") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val langOf = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = VectorOps.bitextMine(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(langOf(r.getLong(0)) == "en")
      assert(langOf(r.getAs[Long]("best_id")) == "fr")
      assert(r.getLong(0) % VectorOps.BitextQueryMod == 0)
      assert(r.getAs[Double]("margin") >= 0.0)
    }
  }
}
