package graft

import graft.functions.ScaleUtils
import graft.operators.{DedupOps, TextOps, VectorOps}
import org.scalatest.funsuite.AnyFunSuite

/** The n→signDims bucketing policy: buckets ∝ corpus size, so per-bucket
  * all-pairs work stays ~linear overall. */
class AnnPolicySpec extends AnyFunSuite with SparkSpec {

  test("annSignDims grows with corpus size, floored at 6, capped at 16") {
    assert(DedupOps.annSignDims(1L) == 6)
    assert(DedupOps.annSignDims(500L) == 6)       // sf0.01
    assert(DedupOps.annSignDims(4096L) == 6)      // 64 buckets x 64 docs
    assert(DedupOps.annSignDims(4097L) == 7)      // first step up
    assert(DedupOps.annSignDims(1000000L) == 14)
    assert(DedupOps.annSignDims(100000000000L) == 16) // cap
    // floor 0 (per-label sub-bucketing): under the occupancy target the
    // block keeps ONE bucket — the search degenerates to exact
    assert(DedupOps.annSignDims(10L, floor = 0) == 0)
    assert(DedupOps.annSignDims(64L, floor = 0) == 0)
    assert(DedupOps.annSignDims(65L, floor = 0) == 1)
    assert(DedupOps.annSignDims(4097L, floor = 0) == 7)
  }

  test("exact→LSH cutovers dispatch by size (small corpus = exact plan)") {
    val dir = sfDir
    // below the limits both autos must return the EXACT formulation's rows
    val exactJac = TextOps.jaccardBestMatch(spark, dir).collect().toSet
    val autoJac = DedupOps.jaccardBestAuto(spark, dir).collect().toSet
    assert(autoJac == exactJac, "small corpus must take the exact path")
    val exactNn = VectorOps.nnWithinLabel(spark, dir).collect().toSet
    val autoNn = VectorOps.nnPerLabelAuto(spark, dir).collect().toSet
    assert(autoNn == exactNn, "small blocks must take the exact path")
    // the gates' own inputs put this corpus below both limits
    assert(ScaleUtils.footerRowCount(spark, s"$dir/documents.parquet")
      <= DedupOps.ExactPairsLimit)
    val block = VectorOps.maxLabelBlock(spark, dir)
    assert(block <= VectorOps.ExactBlockLimit)
    // the arms past the limits, called by name (each has its own oracle
    // row, q_jaccard_lsh and q_nn_label_ann): the LSH arm answers in the
    // exact arm's schema, and a largest block under the occupancy
    // target keeps one sign bucket, so the bucketed arm is exact here
    assert(DedupOps.jaccardLshBest(spark, dir).columns.toSeq ==
      TextOps.jaccardBestMatch(spark, dir).columns.toSeq)
    assert(DedupOps.annSignDims(block, floor = 0) == 0)
    val bucketedNn = VectorOps.nnLabelBucketed(spark, dir)
    assert(bucketedNn.columns.contains("bucket"))
    assert(bucketedNn.drop("bucket").collect().toSet == exactNn,
      "one bucket per label must reproduce the exact within-label search")
  }

  test("global ANN: bucketed→IVF cutover flips at the bucket-space cap") {
    // the synthetic boundary: the last corpus size the 2^16-bucket space
    // carries at the occupancy target, and the first one past it
    val boundary = DedupOps.AnnTargetPerBucket * DedupOps.AnnMaxBuckets
    assert(!DedupOps.annBucketSaturated(boundary),
      "at exactly target×AnnMaxBuckets the bucketed plan still holds occupancy")
    assert(DedupOps.annBucketSaturated(boundary + 1),
      "one vector past the cap the bucket space saturates")
    // below saturation annAuto IS annBucketed, bit-identical
    val auto = DedupOps.annAuto(spark, sfDir).collect().toSet
    val bucketed = DedupOps.annBucketed(spark, sfDir).collect().toSet
    assert(auto == bucketed, "below the cutover the auto must take the " +
      "sign-bucket plan unchanged")
    // the arm past saturation, called by name with the cell count the
    // auto would size: the trained-IVF query plan
    val n = ScaleUtils.footerRowCount(spark, s"$sfDir/embeddings.parquet")
    val ivf = VectorOps.annIvfKmeans(spark, sfDir, cells = DedupOps.ivfCells(n))
    assert(ivf.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "sim"))
    assert(ivf.count() > 0)
    // the trained branch sizes its cells to the corpus: exact-integer √n
    // (floor), floored at the declared query's 8 cells, capped at 2^16
    assert(DedupOps.ivfCells(1L) == 8)
    assert(DedupOps.ivfCells(63L) == 8)
    assert(DedupOps.ivfCells(100L) == 10)
    assert(DedupOps.ivfCells(10000L) == 100)
    assert(DedupOps.ivfCells(10001L) == 100)       // floor(√10001)
    assert(DedupOps.ivfCells((1L << 32) + 1) == (1 << 16)) // cap
    for (n <- Seq(100L, 5000L, 123456L, 999999999L)) {
      val c = DedupOps.ivfCells(n).toLong
      assert(c == (1 << 16) || (c * c <= n && (c + 1) * (c + 1) > n),
        s"n=$n cells=$c must be floor(sqrt(n)) before the clamp")
    }
  }

  test("PQ ANN: on a clustered corpus the ADC top-1 shares the cluster") {
    import spark.implicits._
    // 4 well-separated directions + small noise — the structure real
    // embedding corpora have and the synthetic testdata deliberately
    // lacks (annPq's scaladoc records the unclustered-recall numbers)
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(4, 64)((c, d) => if (d % 4 == c) 1.0f else 0.05f)
    val rows = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, s"l$c",
        base(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("pqspec").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorOps.annPq(spark, dir).collect()
    assert(got.count(_.getAs[Int]("rank") == 1) == 5, "5 queries answered")
    got.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("neighbor_id")
      assert(q % 4 == n % 4,
        s"query $q (cluster ${q % 4}) got top-1 $n (cluster ${n % 4})")
    }
    // deterministic training + integer scoring: a rerun is identical
    val again = VectorOps.annPq(spark, dir).collect()
    assert(got.map(_.toSeq).sortBy(_.toString).toSeq
      == again.map(_.toSeq).sortBy(_.toString).toSeq)
    // refine: exact re-rank of the ADC shortlist also lands in-cluster,
    // and its sims are exact quantized cosines (≤ 1.0, rank-1 highest)
    val refined = VectorOps.annPqRefine(spark, dir).collect()
    refined.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Long]("query_id") % 4 == r.getAs[Long]("neighbor_id") % 4)
      assert(r.getAs[Double]("sim") <= 1.0)
    }
  }

  test("k-means: centroid update never increases inertia (Lloyd invariant)") {
    def inertia(iters: Int): Long =
      VectorOps.kmeansAssign(spark, sfDir, iters = iters)
        .agg(org.apache.spark.sql.functions.sum("dist2")).head().getLong(0)
    val i1 = inertia(1)
    val i2 = inertia(2)
    assert(i2 <= i1, s"inertia must not increase: iter1=$i1 iter2=$i2")
  }

  test("k-means: plan depth is bounded across iterations (lineage checkpoint)") {
    // Each Lloyd iteration checkpoints the k-row centroid set, so the
    // assignment plan is always emb ⨯ leaf — training 10 iterations must
    // NOT deepen the analyzed plan vs training 2 (the r3 lineage-growth
    // defect: ~linear plan growth per iteration, analysis blow-up by ~10
    // iters). Depth here = analyzed-plan tree height.
    def depth(iters: Int): Int = {
      def h(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
        1 + (if (p.children.isEmpty) 0
             else p.children.map(c =>
               h(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max)
      h(VectorOps.kmeansAssign(spark, sfDir, k = 4, iters = iters)
        .queryExecution.analyzed)
    }
    val d2 = depth(2)
    val d10 = depth(10)
    assert(d10 == d2, s"plan depth must not grow with iterations: " +
      s"iters=2 -> $d2, iters=10 -> $d10")
    // and 10 iterations still refine or hold inertia vs 2 (values sane)
    val i10 = VectorOps.kmeansAssign(spark, sfDir, k = 4, iters = 10)
      .agg(org.apache.spark.sql.functions.sum("dist2")).head().getLong(0)
    val i2 = VectorOps.kmeansAssign(spark, sfDir, k = 4, iters = 2)
      .agg(org.apache.spark.sql.functions.sum("dist2")).head().getLong(0)
    assert(i10 <= i2, s"more iterations must not increase inertia: $i2 -> $i10")
  }

  test("maxLabelBlock follows a rewrite that keeps the row count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("blockspec").toString
    def write(labels: Seq[String]): Unit =
      labels.zipWithIndex.map { case (l, i) =>
        (i.toLong, l, Seq.fill(64)(i.toFloat + 1f)) }
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(Seq("a", "a", "a", "b"))
    assert(VectorOps.maxLabelBlock(spark, dir) == 3)
    // same 4 rows, new labels: the gate must see the new largest block
    write(Seq("a", "a", "a", "a"))
    assert(VectorOps.maxLabelBlock(spark, dir) == 4)
  }

  test("vector near-dup: banded→IVF cutover flips at the bucket-space cap") {
    import spark.implicits._
    // below saturation the auto IS the banded plan, bit-identical — the
    // regime every test SF sits in (and what q_cosine_neardup oracles)
    val banded = DedupOps.cosineNearDup(spark, sfDir).collect().toSet
    val auto = DedupOps.cosineNearDupAuto(spark, sfDir).collect().toSet
    assert(auto == banded, "below the cutover the near-dup auto must take " +
      "the banded sign-LSH plan unchanged")
    // the arm past saturation, called by name on a planted clustered
    // fixture at the auto's √n cell count: candidates must come from
    // probed IVF cells and still recover the planted near-dup
    val rnd = new scala.util.Random(17)
    val base = Array.tabulate(4, 64)((c, d) => if (d % 4 == c) 1.0f else 0.05f)
    val rows = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, s"l$c",
        base(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    } :+ (80L, "l0", base(0).toSeq) :+ (81L, "l0", base(0).map(_ * 1.001f).toSeq)
    val dir = java.nio.file.Files.createTempDirectory("ndspec").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = DedupOps.cosineNearDupIvfCore(spark,
      graft.sources.Tables.embeddings(spark, dir),
      DedupOps.ivfCells(rows.size.toLong), DedupOps.NearDupNProbe, 0.9)
    val ivf = pairs.collect()
    assert(ivf.exists(r => r.getAs[Long]("id_a") == 80L
        && r.getAs[Long]("id_b") == 81L),
      s"the planted near-identical pair (80,81) must be recovered, " +
        s"got ${ivf.length} pairs")
    // the verify tail is EXACT: every emitted pair must truly clear the
    // threshold under the same milli-quantized cosine, i.e. the IVF
    // branch's pairs are a subset of the brute-force truth set
    val q = rows.map { case (id, _, e) =>
      id -> e.map(x => math.round(x.toDouble * 1000)).toArray }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble)
        * math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val truth = (for {
      i <- q.keys; j <- q.keys if i < j && cos(q(i), q(j)) >= 0.9
    } yield (i, j)).toSet
    val got = ivf.map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got.subsetOf(truth),
      s"IVF pairs must all clear the exact threshold: ${got.diff(truth)}")
    assert(got.nonEmpty && truth.nonEmpty)
    // dedup groups resolve these pairs: the IVF arm's pairs must still
    // put the planted pair in one component
    val groups = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp"))
      .toMap
    assert(groups.contains(80L) && groups(80L) == groups(81L),
      "planted pair must share a component under the IVF branch")
  }

  test("expected bucket occupancy stays bounded under the policy") {
    for (n <- Seq(100L, 10000L, 1000000L, 50000000L)) {
      val buckets = 1L << DedupOps.annSignDims(n)
      val occupancy = n.toDouble / buckets
      // ≤ target (up to the 2x ceil rounding) until the 16-dim cap binds
      if (DedupOps.annSignDims(n) < 16)
        assert(occupancy <= DedupOps.AnnTargetPerBucket * 2,
          s"n=$n occupancy=$occupancy")
    }
  }
}
