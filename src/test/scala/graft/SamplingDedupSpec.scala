package graft

import graft.operators.{CurationOps, DedupOps}
import org.apache.spark.sql.functions._

/** Properties of the round-5 [EXT] additions: deterministic stratified
  * sampling (corpus mixture building) and SimHash banded near-dup. */
class SamplingDedupSpec extends SparkSpec {

  /** Single-window reference form of [[CurationOps.fixedKSample]] — the
    * equality baseline for its two-phase plan. */
  private def fixedKSamplePlain(df: org.apache.spark.sql.DataFrame,
      idCol: String, stratumCol: String, k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("rk"), col(idCol))
    df.withColumn("rk", md5(col(idCol).cast("string").cast("binary")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rk")
  }

  /** An id below every RDD created after this call. */
  private def rddMark(): Int = spark.sparkContext.emptyRDD[Int].id

  /** Persistent RDDs created after `mark`: a call's own blocks, whatever
    * an earlier test's blocks do meanwhile (the context cleaner frees
    * those on GC, which a global before/after count would mistake for
    * this call freeing its own). */
  private def persistedSince(mark: Int): Int =
    spark.sparkContext.getPersistentRDDs.keys.count(_ > mark)

  test("stratified sample: deterministic, rate-accurate, stratum-sensitive") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val total = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def kept(): Map[String, Long] =
      CurationOps.stratifiedSample(docs, "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25), 0.1)
        .groupBy(col("lang")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val k1 = kept()
    assert(k1 == kept(), "hash-based selection must be replay-identical")
    // rates hold within binomial noise (sf0.001 strata are small; 4 sigma)
    for ((lang, n) <- total if n >= 20) {
      val rate = Map("en" -> 0.5, "de" -> 0.25).getOrElse(lang, 0.1)
      val got = k1.getOrElse(lang, 0L).toDouble / n
      val sigma = math.sqrt(rate * (1 - rate) / n)
      assert(math.abs(got - rate) <= 4 * sigma + 0.02,
        s"$lang: kept $got of $n, wanted ~$rate")
    }
    // rate 0 keeps nothing; rate 1 keeps everything
    assert(CurationOps.stratifiedSample(docs, "doc_id", "lang",
      Map.empty, 0.0).count() == 0)
    assert(CurationOps.stratifiedSample(docs, "doc_id", "lang",
      Map.empty, 1.0).count() == docs.count())
    // a 100% threshold must sort ABOVE every possible md5 prefix — a
    // clamped "ffffffff" with the strict < would drop the 2^-32 tail
    // whose md5 prefix is exactly ffffffff (absent at this sf, but real
    // at corpus scale — this pins the sentinel, not the luck)
    assert(CurationOps.rateHex(1.0) > "ffffffff")
    assert(CurationOps.rateHex(2.0) > "ffffffff")
    assert(CurationOps.rateHex(math.nextAfter(1.0, 0.0)) == "ffffffff",
      "just-below-1.0 still maps to the top hex threshold")
  }

  test("fixed-k sample: exact quota, two-phase == plain window, skew-safe") {
    import spark.implicits._
    // strata: big (40 rows), exact-k (5), small (2) — and a HOT stratum
    // holding 10x the rest, the case the sub-bucket phase exists for
    val rows = (1L to 40L).map(i => (i, "big")) ++
      (41L to 45L).map(i => (i, "atk")) ++
      (46L to 47L).map(i => (i, "tiny")) ++
      (100L to 499L).map(i => (i, "hot"))
    val df = rows.toDF("doc_id", "lang")
    val k = 5
    def asMap(got: org.apache.spark.sql.DataFrame) =
      got.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("lang")) -> r.getAs[Int]("rn")).toMap
    val twoPhase = asMap(CurationOps.fixedKSample(df, "doc_id", "lang", k)
      .select(col("doc_id"), col("lang"), col("rn")))
    val plain = asMap(fixedKSamplePlain(df, "doc_id", "lang", k)
      .select(col("doc_id"), col("lang"), col("rn")))
    assert(twoPhase == plain,
      "the salted two-phase plan must be result-identical to one window")
    val perStratum = twoPhase.keySet.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perStratum == Map("big" -> 5, "atk" -> 5, "tiny" -> 2, "hot" -> 5),
      s"exactly min(k, n) per stratum: $perStratum")
    // ranks are 1..min(k,n) with no gaps, and the picks are exactly the
    // k smallest md5 ranks — the determinism contract
    assert(twoPhase.values.toSeq.sorted ==
      Seq(1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 4, 4, 4, 5, 5, 5))
    val expectBig = (1L to 40L)
      .sortBy(i => java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString)
      .take(k).toSet
    assert(twoPhase.keySet.filter(_._2 == "big").map(_._1) == expectBig,
      "picks are the k smallest md5(id) ranks")
    // replay-identical
    assert(asMap(CurationOps.fixedKSample(df, "doc_id", "lang", k)
      .select(col("doc_id"), col("lang"), col("rn"))) == twoPhase)
  }

  test("cosine near-dup: planted duplicate recovered, threshold enforced") {
    import spark.implicits._
    // 120 seeded random vectors + vec 1000 = vec 0 scaled by 1.05 (signs
    // preserved -> collides with vec 0 in EVERY sign table; cosine = 1
    // up to quantization). Deterministic seed: the spec pins banding
    // behavior, not luck.
    val rnd = new scala.util.Random(42)
    val base = (0 until 120).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val planted = base :+ (1000L, base.head._2.map(x => x * 1.05f))
    val df = planted.toDF("vec_id", "embedding")
    val got = DedupOps.cosineNearDupCore(spark, df, r = 6, nTables = 8,
      threshold = 0.9).collect()
    assert(got.length == 1 && got.head.getLong(0) == 0L
      && got.head.getLong(1) == 1000L,
      s"planted pair (0,1000) must be the only >=0.9 pair, got ${got.toSeq}")
    assert(got.head.getAs[Double]("sim") >= 0.999)
    // pair orientation invariant: id_a < id_b on the real table too.
    // nonEmpty first — the threshold is calibrated to yield pairs at
    // every sf (3 at sf0.001), and an empty result would make the two
    // foralls below vacuously green
    val real = DedupOps.cosineNearDup(spark, sfDir).collect()
    assert(real.nonEmpty, "calibrated threshold must yield pairs at this sf")
    assert(real.forall(r => r.getLong(0) < r.getLong(1)))
    assert(real.forall(_.getAs[Double]("sim") >= DedupOps.CosineDupThreshold - 1e-4))
    intercept[IllegalArgumentException] {
      DedupOps.cosineNearDupCore(spark, df, r = 16, nTables = 8, threshold = 0.9)
    }
  }

  test("connected components: chain resolves to min label, non-convergence loud") {
    import spark.implicits._
    // path 1-2-3-4-5 (diameter 4: min label must PROPAGATE, one hop per
    // iteration — catches an off-by-one that only single-hop graphs hide)
    // plus the disjoint pair (10, 11)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    // ~5 iterations of the distributed loop run here; each eagerly
    // localCheckpoints — superseded checkpoints must be FREED as the
    // loop advances (only the final labels checkpoint may remain
    // pinned), or executor storage grows with iteration count in a
    // long-lived session
    val mark = rddMark()
    val got = DedupOps.connectedComponentsDistributed(edges, maxIters = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = persistedSince(mark)
    assert(kept <= 1, s"superseded iteration checkpoints must be " +
      s"unpersisted ($kept persistent RDDs remain)")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    assert(got == want)
    assert(DedupOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    // an iteration bound below the diameter must throw, never return a
    // half-propagated labeling — the loop's contract (the driver
    // union-find always converges)
    intercept[IllegalStateException] {
      DedupOps.connectedComponentsDistributed(edges, maxIters = 2)
    }
    // real-table groups: every rep is a member of its own group and the
    // minimum of the members mapped to it
    val groups = DedupOps.dedupGroups(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(groups.nonEmpty)
    val byRep = groups.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byRep.forall { case (rep, members) => members.min == rep })
    // the text chain obeys the same invariant, and its groups agree with
    // the exact-dup signal: this testdata contains exact text duplicates
    // (dedupExact n_uniq < n_docs), which are jaccard-1 pairs, so the
    // resolved groups must be non-empty with rep = member min
    val tg = DedupOps.textDedupGroups(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val exact = graft.operators.TextOps.dedupExact(spark, sfDir).head()
    if (exact.getAs[Long]("n_uniq_text") < exact.getAs[Long]("n_docs"))
      assert(tg.nonEmpty, "exact text dups must resolve into groups")
    val tgByRep = tg.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(tgByRep.forall { case (rep, members) => members.min == rep })
  }

  test("connected components: matches a union-find reference on random graphs") {
    import spark.implicits._
    // fixed seeds (replay-identical): random multigraphs with self-loop-
    // free edges, checked against a driver-side union-find that keeps the
    // set MINIMUM as the root — the same canonical labeling CC promises
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(10)
      val edges = Seq.fill(8 + rnd.nextInt(8))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.map(x => x -> find(x)).toMap
        val got = DedupOps.connectedComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"seed $seed: $got vs $want")
      }
    }
  }

  test("connectedComponents: driver union-find equals the distributed " +
      "loop on planted and randomized graphs") {
    import spark.implicits._
    def labeling(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // planted: a diameter-4 path (propagation order matters), a pair,
    // and a triangle whose min arrives via the later edge
    val planted = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (21L, 22L), (22L, 20L), (20L, 21L))
      .toDF("id_a", "id_b")
    def loop(df: org.apache.spark.sql.DataFrame) =
      labeling(DedupOps.connectedComponentsDistributed(df, maxIters = 50))
    assert(labeling(DedupOps.connectedComponents(planted)) == loop(planted),
      "driver path must equal the distributed loop on the planted graph")
    for (seed <- 11 to 14) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(12)
      val edges = Seq.fill(8 + rnd.nextInt(14))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val df = edges.toDF("id_a", "id_b")
        assert(labeling(DedupOps.connectedComponents(df)) == loop(df),
          s"seed $seed")
      }
    }
  }

  test("connectedComponents: checkpoint blocks freed (no storage leak)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 4L), (2L, 3L)).toDF("id_a", "id_b")
    // the loop checkpoints one frame per iteration (4 here: the path
    // 1-2-3-4 propagates in three steps, plus the converged pass);
    // everything superseded must be freed as the loop advances. Only the
    // FINAL labels' checkpoint may outlive the call (the returned frame
    // reads it) — if the LogicalRDD capture ever stopped matching, every
    // iteration would leak and this count would jump.
    val mark = rddMark()
    DedupOps.connectedComponentsDistributed(edges, maxIters = 50).collect()
    val kept = persistedSince(mark)
    assert(kept <= 1, s"at most the final labels' checkpoint may remain: $kept")
    // the entry point frees its edge-list checkpoint; the driver arm's
    // labels are a local frame
    val entryMark = rddMark()
    DedupOps.connectedComponents(edges).collect()
    assert(persistedSince(entryMark) == 0,
      "the edge-list checkpoint must be freed")
  }

  test("mergeGroups: incremental merge equals the full-chain recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def cc(edges: Seq[(Long, Long)]) =
      DedupOps.connectedComponents(edges.toDF("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("comp").as("rep_id"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t0 = Seq((1L, 2L), (3L, 4L), (10L, 11L), (20L, 21L))
    // t1 exercises every merge shape: bridge two existing components
    // (2-3), extend one with a new node (4-30), a brand-new component
    // (40-41), and a fully-redundant edge (10-11)
    val t1 = Seq((2L, 3L), (4L, 30L), (40L, 41L), (10L, 11L))
    assert(collect(DedupOps.mergeGroups(cc(t0), t1.toDF("id_a", "id_b")))
      == collect(cc(t0 ++ t1)),
      "merge(full(t0), t1) must equal full(t0 ++ t1)")
    // randomized splits of random graphs (fixed seed — deterministic)
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val all = Seq.fill(30)(
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2)
      val (a, b) = all.splitAt(all.size / 2)
      assert(collect(DedupOps.mergeGroups(cc(a), b.toDF("id_a", "id_b")))
        == collect(cc(a ++ b)), s"trial $trial: merge must equal recompute")
    }
  }

  test("contamination: asymmetric containment flags quoted benchmark text") {
    import spark.implicits._
    // benchmark doc fully QUOTED inside a much longer corpus doc:
    // containment = 1.0 (every benchmark shingle present) even though
    // jaccard is low — the case the symmetric near-dup operators miss
    val benchText = "alpha beta gamma delta epsilon zeta"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, s"prefix words here $benchText and a long tail of other words " +
        "padding padding padding padding padding padding"),
      (101L, "wholly unrelated content with nothing shared at all"))
      .toDF("doc_id", "text")
    val got = DedupOps.contaminationCore(bench, corpus, DedupOps.ContaminationBar)
      .collect()
    assert(got.length == 1 && got.head.getLong(0) == 100L
      && got.head.getLong(1) == 1L
      && got.head.getAs[Double]("containment") == 1.0,
      s"quoted benchmark must flag doc 100 at containment 1.0, got ${got.toSeq}")
  }

  test("simhash near-dup: candidates verified, params guarded") {
    val pairs = DedupOps.simhashNearDup(spark, sfDir).collect()
    assert(pairs.forall(_.getAs[Long]("hamming") <= 3),
      "only pairs within the Hamming budget survive the verify")
    // exact duplicate texts (dedupExact reports fewer uniques than docs
    // on this testdata) must surface as hamming-0 pairs
    val exact = graft.operators.TextOps.dedupExact(spark, sfDir).head()
    if (exact.getAs[Long]("n_uniq_text") < exact.getAs[Long]("n_docs"))
      assert(pairs.exists(_.getAs[Long]("hamming") == 0L),
        "exact text dups must collide at hamming 0")
    intercept[IllegalArgumentException] {
      DedupOps.simhashNearDup(spark, sfDir, maxHamming = 4, bands = 4)
    }
  }

  test("simhash band-value space grows with corpus size (VERDICT r5 #1)") {
    // below one band-value's occupancy target: historical floor (8 bits
    // per band, 32-bit signature) — small corpora are bit-unchanged
    assert(DedupOps.simhashBandLen(1L) == 8)
    assert(DedupOps.simhashBandLen(500L) == 8)
    // exactly at the 2^8-value capacity (64 docs/value * 256 values)
    assert(DedupOps.simhashBandLen(64L * 256) == 8)
    // one past it: the band space must GROW (this is the property the
    // fixed-width version lacked — occupancy would grow with n instead)
    assert(DedupOps.simhashBandLen(64L * 256 + 1) == 9)
    assert(DedupOps.simhashBandLen(64L * 512) == 9)
    assert(DedupOps.simhashBandLen(64L * 512 + 1) == 10)
    // past the OLD 3-family ceiling (24 bits/band ≈ 4×10⁹ docs): the
    // width keeps growing — a 100 TB text corpus (~5×10¹⁰ docs) gets
    // 30-bit bands (VERDICT r6 #2: the generator lifts the family cap)
    assert(DedupOps.simhashBandLen(4_295_000_000L) == 27,
      "4.3e9 docs needs 27-bit bands — beyond the old 24-bit family cap")
    assert(DedupOps.simhashBandLen(50_000_000_000L) == 30)
    // cap: 40 bits/band = 160-bit signature from 5 chained families
    assert(DedupOps.SimhashMaxFamilies == 5)
    assert(DedupOps.simhashBandLen(Long.MaxValue / 2) == DedupOps.SimhashMaxBandLen)
    // derived occupancy stays at the target across the growth range
    (10 to 45).foreach { e =>
      val n = 1L << e
      val bl = DedupOps.simhashBandLen(n)
      assert(bl == DedupOps.SimhashMaxBandLen || (n + 63) / 64 <= (1L << bl),
        s"n=$n bandLen=$bl: band-value space must cover n/target values")
    }
  }

  test("simhash near-dup recovers a planted pair at multi-family widths") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "en", base),
      (2L, "en", base + " tail"), // near-dup of 1: most shingles shared
      (3L, "en", (100 to 160).map(i => s"z$i").mkString(" ")),
      (4L, "en", (200 to 260).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "lang", "text")
    // bandLen 12 → 48-bit signature: bits 33..48 come from the SECOND
    // md5 family, so this exercises the chained-digest path end to end
    val pairs = DedupOps.simhashNearDupCore(docs, bandLen = 12,
        bands = DedupOps.SimhashBands, maxHamming = 3)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("min_id_a") == 1L),
      s"planted near-dup (1,2) must survive banding+verify, got ${pairs.toSeq}")
    // the unrelated docs must not produce pairs beyond the planted one
    assert(pairs.map(_.getAs[Long]("n_pairs")).sum == 1L,
      s"only the planted pair is within hamming 3, got ${pairs.toSeq}")
    // bandLen 28 → 112-bit signature: bits 97..112 come from the
    // GENERATED fourth family ("z3|" — the post-r6 extension past the
    // fixed 3-prefix table), same planted-pair recovery contract
    val wide = DedupOps.simhashNearDupCore(docs, bandLen = 28,
        bands = DedupOps.SimhashBands, maxHamming = 3)
      .collect()
    assert(wide.exists(r => r.getAs[Long]("min_id_a") == 1L),
      s"planted near-dup must survive at 4-family width, got ${wide.toSeq}")
    assert(wide.map(_.getAs[Long]("n_pairs")).sum == 1L,
      s"only the planted pair at 4-family width, got ${wide.toSeq}")
    // and the guard now admits widths up to the 5-family ceiling only
    intercept[IllegalArgumentException] {
      DedupOps.simhashNearDupCore(docs,
        bandLen = DedupOps.SimhashMaxBandLen + 1,
        bands = DedupOps.SimhashBands, maxHamming = 3)
    }
  }

  test("leak-free split: dup families never straddle train/val") {
    val split = DedupOps.leakFreeSplit(spark, sfDir).collect()
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(split.length.toLong == nDocs, "one verdict per document")
    // every duplicate family sits wholly on one side
    split.groupBy(_.getAs[Long]("rep_id")).values.foreach { g =>
      assert(g.map(_.getAs[String]("side")).distinct.length == 1,
        s"family straddles the split: ${g.mkString("; ")}")
    }
    // both sides populated (md5-deterministic ~10% val share)
    val bySide = split.groupBy(_.getAs[String]("side"))
      .view.mapValues(_.length).toMap
    assert(bySide.getOrElse("train", 0) > 0 && bySide.getOrElse("val", 0) > 0,
      s"sides: $bySide")
    // cross-check against the group table directly: every member's side
    // equals its representative's side
    val sideOf = split.map(r => r.getLong(0) -> r.getAs[String]("side")).toMap
    DedupOps.textDedupGroups(spark, sfDir).collect().foreach { r =>
      assert(sideOf(r.getLong(0)) == sideOf(r.getLong(1)),
        s"member ${r.getLong(0)} split from rep ${r.getLong(1)}")
    }
  }

  test("lsh recall: planted probe duplicates recovered at recall 1e6") {
    import spark.implicits._
    // 4 identical pairs anchored on probe ids (multiples of 5) + noise
    // docs with disjoint vocabularies that clear no bar
    val dup = (1 to 4).flatMap { i =>
      val t = (1 to 30).map(j => s"p${i}w${(i * 7 + j) % 13}").mkString(" ")
      Seq((i * 10L, "en", t), (i * 10L + 1L, "en", t))
    }
    val noise = (1 to 10).map(i => (2000L + i, "en",
      (1 to 25).map(j => s"n${i}x${(i * 11 + j) % 17}").mkString(" ")))
    val r = DedupOps.lshRecallCore(spark,
      (dup ++ noise).toDF("doc_id", "lang", "text")).collect()
    assert(r.length == 1 && r.head.getString(0) == "en", r.mkString("; "))
    val row = r.head
    // each planted pair contributes exactly one probe-side truth pair
    // (10i is a probe, 10i+1 is not); identical docs share EVERY band
    // key, so the banding recovers all of them — recall exactly 1e6
    assert(row.getAs[Long]("n_truth") == 4L, s"truth: $row")
    assert(row.getAs[Long]("n_found") == 4L, s"found: $row")
    assert(row.getAs[Long]("recall_ppm") == 1000000L, s"recall: $row")
    assert(row.getAs[Long]("n_candidates") >= row.getAs[Long]("n_found"),
      s"candidates must cover found pairs: $row")
  }

  test("lsh recall on the corpus: bounds hold, recall is measured") {
    DedupOps.lshRecall(spark, sfDir).collect().foreach { row =>
      val (t, f) = (row.getAs[Long]("n_truth"), row.getAs[Long]("n_found"))
      assert(t >= 1L, s"grouped truth row cannot be empty: $row")
      assert(f >= 0L && f <= t, s"found outside [0, truth]: $row")
      assert(row.getAs[Long]("recall_ppm") == f * 1000000L / t)
      assert(row.getAs[Long]("n_candidates") >= 0L)
    }
  }

  test("dup token share: headline reconciles with the canonical picks") {
    val row = DedupOps.dupTokenShare(spark, sfDir).collect().head
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    val nMembers = DedupOps.textDedupGroups(spark, sfDir).count()
    val nGroups = DedupOps.canonicalDocs(spark, sfDir).count()
    assert(row.getAs[Long]("n_docs") == nDocs)
    // drops = every group member except its one keep
    assert(row.getAs[Long]("n_dropped_docs") == nMembers - nGroups,
      s"drops must complement the keeps: $row ($nMembers members, " +
        s"$nGroups groups)")
    assert(row.getAs[Long]("tok_dropped") <= row.getAs[Long]("tok_total"))
    assert(row.getAs[Long]("drop_share_ppm") ==
      row.getAs[Long]("tok_dropped") * 1000000L / row.getAs[Long]("tok_total"))
  }

  test("group purity: totals reconcile, pair groups sit at the dup bar") {
    val groups = DedupOps.textDedupGroups(spark, sfDir).collect()
    val purity = DedupOps.groupPurity(spark, sfDir).collect()
    // every non-rep member is audited exactly once
    val nMembers = groups.count(r => r.getLong(0) != r.getLong(1))
    assert(purity.map(_.getAs[Long]("n_members")).sum.toInt == nMembers,
      s"audited ${purity.map(_.getAs[Long]("n_members")).sum} of $nMembers")
    purity.foreach { row =>
      val (avg, mn) = (row.getAs[Long]("avg_jac10k"),
        row.getAs[Long]("min_jac10k"))
      assert(mn >= 0L && mn <= avg && avg <= 10000L, s"jac order: $row")
      // a size-2 group IS its one verified edge: member↔rep jaccard
      // cleared the 0.85 bar by construction
      if (row.getAs[Long]("group_size") == 2L)
        assert(mn >= 8500L, s"pair group below the dup bar: $row")
    }
    // planted over-chain: A≈B≈C with A∩C = ∅ must surface as jac 0 in
    // the size-3 bucket, not vanish in an inner join
    import spark.implicits._
    val groupsDf = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "rep_id")
    val shared = (1 to 20).map(j => s"s$j").mkString(" ")
    val docs = Seq(
      (1L, "en", (1 to 25).map(j => s"a$j").mkString(" ") + " " + shared),
      (2L, "en", shared),
      (3L, "en", (1 to 25).map(j => s"c$j").mkString(" "))
    ).toDF("doc_id", "lang", "text")
    val p = DedupOps.groupPurityFrom(groupsDf, docs).collect()
    assert(p.length == 1 && p.head.getAs[Long]("group_size") == 3L)
    assert(p.head.getAs[Long]("n_members") == 2L)
    assert(p.head.getAs[Long]("min_jac10k") == 0L,
      s"zero-overlap member must audit as jac 0: ${p.head}")
  }

  test("triangle census: cliques transitive, chains not, each counted once") {
    import spark.implicits._
    // a 4-clique (4 triangles, degrees 3,3,3,3 -> 12 wedges) plus a
    // 3-chain (0 triangles, degrees 1,2,1 -> 1 wedge)
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((10L, 11L), (11L, 12L))
    val out = DedupOps.triangleCensusOf(
      (clique ++ chain).toDF("id_a", "id_b")).head()
    assert(out.getAs[Long]("n_edges") == 8L)
    assert(out.getAs[Long]("n_wedges") == 13L)
    assert(out.getAs[Long]("n_triangles") == 4L)
    // 3*4*10000 div 13 = 9230
    assert(out.getAs[Int]("transitivity_x10k") == 9230)
    // pure chain: wedges without closure -> transitivity 0
    val chainOnly = DedupOps.triangleCensusOf(
      chain.toDF("id_a", "id_b")).head()
    assert(chainOnly.getAs[Long]("n_triangles") == 0L)
    assert(chainOnly.getAs[Int]("transitivity_x10k") == 0)
    // empty graph: the zero-wedge guard
    val empty = DedupOps.triangleCensusOf(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).head()
    assert(empty.getAs[Long]("n_edges") == 0L)
    assert(empty.getAs[Int]("transitivity_x10k") == 0)
  }
}
