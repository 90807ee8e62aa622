package graft

import graft.operators.VectorOps
import org.scalatest.funsuite.AnyFunSuite

/** The ANN build/search split (VERDICT r6 #3): a [[VectorOps.writeAnnIndex]]
  * directory must serve searches identical to train-in-plan, and sampled
  * training must hold recall on clustered data. */
class AnnIndexSpec extends AnyFunSuite with SparkSpec {

  test("from-index search is bit-identical to train-in-plan PQ") {
    val idx = java.nio.file.Files.createTempDirectory("annidx").toString
    VectorOps.writeAnnIndex(spark, sfDir, idx)
    // exact integer index relations → the parquet round-trip changes
    // nothing: same rows, same sims, same ranks
    val fromIdx = VectorOps.annPqFrom(spark, sfDir, idx)
      .collect().map(_.toSeq).toSet
    val inPlan = VectorOps.annPq(spark, sfDir).collect().map(_.toSeq).toSet
    assert(fromIdx == inPlan,
      s"from-index PQ must equal train-in-plan: ${fromIdx.diff(inPlan)} vs ${inPlan.diff(fromIdx)}")
    // and the cached search entry (the declared q_ann_pq_search) agrees
    val cached = VectorOps.annPqSearchCached(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(cached == inPlan, "cached search entry must equal q_ann_pq")
  }

  /** 4 well-separated clusters + noise — the clustered structure real
    * embedding corpora have (the PQ-spec fixture shape). */
  private def clusteredDir(seed: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val base = Array.tabulate(4, 64)((c, d) => if (d % 4 == c) 1.0f else 0.05f)
    val rows = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, s"l$c",
        base(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("annsample").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def recallAt5(dir: String, got: Array[org.apache.spark.sql.Row])
      : Double = {
    val truth = VectorOps.knnBruteForce(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val pairs = got
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    pairs.intersect(truth).size.toDouble / truth.size
  }

  test("sampled training holds recall on clustered data (measured envelope)") {
    val dir = clusteredDir(23)
    val fullIdx = java.nio.file.Files.createTempDirectory("annfull").toString
    val sampIdx = java.nio.file.Files.createTempDirectory("annsamp").toString
    VectorOps.writeAnnIndex(spark, dir, fullIdx)
    VectorOps.writeAnnIndex(spark, dir, sampIdx, trainFrac = 0.5)
    // the sample really is a strict, deterministic subset of the corpus
    val full = VectorOps.annPqFrom(spark, dir, fullIdx).collect()
    val samp = VectorOps.annPqFrom(spark, dir, sampIdx).collect()
    val rFull = recallAt5(dir, full)
    val rSamp = recallAt5(dir, samp)
    info(f"recall@5 vs brute force: full-trained $rFull%.2f, " +
      f"0.5-sampled $rSamp%.2f")
    // clustered data tolerates sampled training: the envelope recorded
    // in writeAnnIndex's scaladoc (measured here: full 0.76, sampled
    // 0.80 — half-corpus training costs nothing on clustered data)
    assert(rFull >= 0.7, s"full-trained recall@5 must be high, got $rFull")
    assert(rSamp >= rFull - 0.2,
      s"sampled training must stay within 0.2 of full: $rSamp vs $rFull")
    // determinism: rebuilding the sampled index reproduces the results
    val sampIdx2 = java.nio.file.Files.createTempDirectory("annsamp2").toString
    VectorOps.writeAnnIndex(spark, dir, sampIdx2, trainFrac = 0.5)
    assert(VectorOps.annPqFrom(spark, dir, sampIdx2).collect().map(_.toSeq)
      .sortBy(_.toString).toSeq == samp.map(_.toSeq).sortBy(_.toString).toSeq,
      "md5-threshold sampling is deterministic — rebuild must reproduce")
  }
}
