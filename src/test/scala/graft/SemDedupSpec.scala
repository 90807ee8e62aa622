package graft

import graft.operators.DedupOps
import org.apache.spark.sql.Row

/** Round-9 SemDeDup: cluster-scoped semantic dedup over embeddings. */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  test("planted clusters: exact duplicates dropped, spread members kept") {
    // two well-separated clusters (seeds = the 2 lowest ids); within
    // each, members are ~0.2-0.3 cosine apart (below the 0.45 bar)
    // except one planted exact duplicate of the seed
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),       // cluster A seed
      (1L, Seq(0f, 0f, 1f, 0f)),       // cluster B seed
      (2L, Seq(1f, 0f, 0f, 0f)),       // exact dup of 0 → dropped
      (3L, Seq(0.3f, 0.954f, 0f, 0f)), // in A, cos 0.3 to 0/2 → kept
      (4L, Seq(0f, 0f, 0.2f, 0.98f)),  // in B, cos 0.2 to 1 → kept
      (5L, Seq(0f, 0f, 1f, 0f)))       // exact dup of 1 → dropped
      .toDF("vec_id", "embedding")
    val got = DedupOps.semDedupCore(spark, emb,
      threshold = DedupOps.CosineDupThreshold, cells = 2, trainIters = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 6)
    def dupOf(r: Row): Option[Long] =
      if (r.isNullAt(r.fieldIndex("sem_dup_of"))) None
      else Some(r.getAs[Long]("sem_dup_of"))
    assert(Seq(0L, 1L, 3L, 4L).forall(i => got(i).getAs[Boolean]("kept")))
    assert(!got(2L).getAs[Boolean]("kept") && dupOf(got(2L)) == Some(0L))
    assert(!got(5L).getAs[Boolean]("kept") && dupOf(got(5L)) == Some(1L))
    // duplicates co-cluster with their canonical (identical vectors
    // can never split across cells)
    assert(got(2L).getAs[Int]("cluster") == got(0L).getAs[Int]("cluster"))
    assert(got(5L).getAs[Int]("cluster") == got(1L).getAs[Int]("cluster"))
  }

  test("corpus invariants at sf0.001: dup_of is lower-id and co-clustered") {
    val rows = DedupOps.semDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val cluster = rows.map(r => r.getLong(0) -> r.getAs[Int]("cluster")).toMap
    rows.foreach { r =>
      val kept = r.getAs[Boolean]("kept")
      if (!kept) {
        val id = r.getLong(0)
        val of = r.getAs[Long]("sem_dup_of")
        assert(of < id, s"canonical must be lower-id: $r")
        assert(cluster(of) == cluster(id), s"dup across clusters: $r")
      } else assert(r.isNullAt(r.fieldIndex("sem_dup_of")))
    }
  }

  test("auto entry: corpus-sized cells, every drop clears the exact bar") {
    import org.apache.spark.sql.functions.{col, transform => atransform}
    val rows = DedupOps.semDedupAuto(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val dropped = rows.filter(r => !r.getAs[Boolean]("kept"))
      .map(r => (r.getLong(0), r.getAs[Long]("sem_dup_of")))
    // recompute each dropped pair's cosine from the raw embeddings —
    // the auto entry may block differently than the 8-cell oracle, but
    // a drop is only ever legitimate at sim >= threshold
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), atransform(col("embedding"),
        x => org.apache.spark.sql.functions.round(x.cast("double") * 1000))
        .as("q"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    dropped.foreach { case (id, of) =>
      val (a, b) = (emb(id), emb(of))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val sim = dot / (math.sqrt(a.map(x => x * x).sum)
        * math.sqrt(b.map(x => x * x).sum))
      assert(sim >= DedupOps.CosineDupThreshold,
        s"auto drop ($id <- $of) below the bar: $sim")
    }
  }

  test("cluster-balanced sample: thinning bounds and determinism") {
    val a = graft.operators.VectorOps.clusterBalancedSample(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(a.nonEmpty)
    a.values.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      val size = r.getAs[Long]("n_vectors")
      assert(kept >= 1L && kept <= size, s"bad keep count: $r")
      // a cluster at or under the target keeps EVERY vector (sentinel
      // threshold), larger ones are thinned below their size
      if (size <= graft.operators.VectorOps.ClusterSampleTarget)
        assert(kept == size, s"small cluster must keep all: $r")
    }
    // md5 placement: a second run selects the identical sample
    val b = graft.operators.VectorOps.clusterBalancedSample(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.toSeq).toMap
    assert(a.view.mapValues(_.toSeq).toMap == b)
  }

  test("zero-norm vectors train but never drop or get dropped") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 0f, 0f, 0f)), // zero-norm: scores nothing
      (2L, Seq(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = DedupOps.semDedupCore(spark, emb, 0.45, 2, 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("kept"))
    assert(!got(2L).getAs[Boolean]("kept")
      && got(2L).getAs[Long]("sem_dup_of") == 0L)
  }

  test("chunk-level: a copied passage is dropped, distinct passages kept") {
    // three one-chunk docs (exactly ChunkTokens tokens each): doc 1
    // copies doc 0's passage verbatim — identical hashed bag-of-words
    // vectors, cosine 1.0 ≥ the 0.9 bar; doc 2 shares no vocabulary
    val tA = (1 to 64).map(i => s"alpha$i").mkString(" ")
    val tC = (1 to 64).map(i => s"omega$i").mkString(" ")
    val docs = Seq((0L, "en", tA), (1L, "en", tA), (2L, "en", tC))
      .toDF("doc_id", "lang", "text")
    val got = DedupOps.chunkSemDedupOf(spark, docs, cells = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(got.size == 3, s"one verdict per chunk: ${got.keySet}")
    assert(got((0L, 0)).getAs[Boolean]("kept"))
    val copied = got((1L, 0))
    assert(!copied.getAs[Boolean]("kept"), s"copied passage must drop: $copied")
    assert(copied.getAs[Long]("dup_doc_id") == 0L
      && copied.getAs[Int]("dup_chunk_id") == 0)
    assert(got((2L, 0)).getAs[Boolean]("kept"))
  }

  test("chunk-level auto sizing: every drop clears the exact bar") {
    import org.apache.spark.sql.functions.col
    // auto cells may block differently than the declared 8-cell shape,
    // but a DROP is only ever legitimate against the exact cosine bar —
    // re-verify every one from the hashed embeddings themselves
    val rows = DedupOps.chunkSemDedupAuto(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val emb = graft.operators.VectorOps.hashEmbedOf(
      graft.operators.CurationOps.chunkedToks(
        graft.sources.Tables.documents(spark, sfDir))
        .select((col("doc_id") * DedupOps.ChunkVecSpan + col("chunk_id"))
          .as("vec_id"), col("ctoks").as("toks")))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    rows.filter(r => !r.getAs[Boolean]("kept")).foreach { r =>
      val id = r.getLong(0) * DedupOps.ChunkVecSpan + r.getInt(1)
      val of = r.getAs[Long]("dup_doc_id") * DedupOps.ChunkVecSpan +
        r.getAs[Int]("dup_chunk_id")
      assert(cos(emb(id), emb(of)) >= DedupOps.ChunkSemDupThreshold - 1e-9,
        s"drop below the bar: $r")
    }
  }

  test("chunk-level at sf0.001: one verdict per chunk, canonical lower-id") {
    val rows = DedupOps.chunkSemDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val packed = r.getLong(0) * DedupOps.ChunkVecSpan + r.getInt(1)
      if (!r.getAs[Boolean]("kept")) {
        val dup = r.getAs[Long]("dup_doc_id") * DedupOps.ChunkVecSpan +
          r.getAs[Int]("dup_chunk_id")
        assert(dup < packed, s"canonical must be lower packed id: $r")
      } else assert(r.isNullAt(r.fieldIndex("dup_doc_id")))
    }
    val nChunks = graft.operators.CurationOps.chunkDocs(spark, sfDir).count()
    assert(rows.length.toLong == nChunks,
      "every chunk gets a verdict — none lost in the embed/cluster path")
  }
}
