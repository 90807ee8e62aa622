package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

class NbQualitySpec extends SparkSpec {
  import spark.implicits._

  test("log2x8: exact eighth-octave codes, monotone") {
    val df = Seq(1L, 2L, 8L, 13L, 1000L, 1000000000L).toDF("x")
      .select(col("x"), TextOps.log2x8(col("x")).as("c"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 0L)   // bin "1"    -> 0*8 + 0
    assert(got(2L) == 8L)   // bin "10"   -> 1*8 + 0
    assert(got(8L) == 24L)  // bin "1000" -> 3*8 + 0
    assert(got(13L) == 29L) // bin "1101" -> 3*8 + 0b101
    // monotone over a dense range
    val codes = spark.range(1, 5000)
      .select(TextOps.log2x8(col("id")).as("c")).collect().map(_.getLong(0))
    assert(codes.zip(codes.tail).forall { case (a, b) => a <= b })
  }

  private val posDocs = Seq(
    "the quick brown fox jumps over the lazy dog and runs into a large " +
      "field of green grass while birds sing songs above the tall trees",
    "the small boat sails over calm water and drifts into a quiet bay " +
      "of blue waves while fish swim under the wooden hull near shore",
    "the old clock ticks over slow hours and winds into a steady beat " +
      "of soft sounds while gears turn inside the brass case all night")

  private val negDocs = Seq(
    "xqzt blarg vrump zzkt fnord wibble snark gruft plonk zibber quux " +
      "drazl kwyjibo mxyzptlk vworp skree blort fizzle krunk wubba zort " +
      "gnarf thwip snikt bamf",
    "blarg xqzt zzkt vrump wibble fnord gruft snark zibber plonk drazl " +
      "quux vworp kwyjibo skree mxyzptlk blort fizzle wubba krunk zort " +
      "thwip gnarf bamf snikt",
    "zzkt vrump xqzt blarg fnord wibble snark gruft zibber plonk quux " +
      "drazl vworp skree kwyjibo blort mxyzptlk fizzle krunk zort wubba " +
      "gnarf thwip snikt bamf")

  private def corpus = (posDocs.zipWithIndex.map { case (t, i) =>
    (i.toLong, "en", t)
  } ++ negDocs.zipWithIndex.map { case (t, i) =>
    (100L + i, "en", t)
  }).toDF("doc_id", "lang", "text")

  test("distilled NB separates the planted classes and matches its labels") {
    val out = TextOps.nbQualityCore(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 6)
    // heuristic labels: prose docs pass (stopwords, length, quality),
    // gibberish fails the stopword floor
    posDocs.indices.foreach(i =>
      assert(out(i.toLong).getAs[Long]("heur_pos") == 1L, s"pos doc $i"))
    negDocs.indices.foreach(i =>
      assert(out(100L + i).getAs[Long]("heur_pos") == 0L, s"neg doc $i"))
    // the trained model agrees on this cleanly-separated vocabulary
    out.values.foreach { r =>
      assert(r.getAs[Long]("nb_pos") == r.getAs[Long]("heur_pos"),
        s"nb verdict must match on separated vocab: $r")
    }
    // scores are signed consistently, not just thresholded at the bar
    posDocs.indices.foreach(i =>
      assert(out(i.toLong).getAs[Long]("nb_score") > 0L))
    negDocs.indices.foreach(i =>
      assert(out(100L + i).getAs[Long]("nb_score") < 0L))
  }

  test("deterministic: identical scores across runs") {
    val a = TextOps.nbQualityCore(corpus).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("nb_score"))).sortBy(_._1).toSeq
    val b = TextOps.nbQualityCore(corpus).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("nb_score"))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("zero-token documents drop out of the scored relation") {
    val withEmpty = corpus.union(Seq((999L, "en", "")).toDF(
      "doc_id", "lang", "text"))
    val ids = TextOps.nbQualityCore(withEmpty).collect().map(_.getLong(0))
    assert(!ids.contains(999L) && ids.length == 6)
  }

  test("train/apply split: stored model scores held-out docs") {
    val (w, prior) = TextOps.nbTrain(corpus)
    // scoring the training corpus through the split equals the
    // self-contained form
    val a = TextOps.nbQualityCore(corpus).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("nb_score"))).toSet
    val b = TextOps.nbScoreFrom(corpus, w, prior).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("nb_score"))).toSet
    assert(a == b)
    // a held-out doc built from the positive class's vocabulary scores
    // positive against the STORED model (no retraining)
    val held = Seq((500L, "en",
      "the quick brown fox sails over calm water and drifts into a " +
        "quiet field of green grass while birds swim near the tall " +
        "trees all night")).toDF("doc_id", "lang", "text")
    val s = TextOps.nbScoreFrom(held, w, prior).collect().head
    assert(s.getAs[Long]("nb_score") > 0L, s"$s")
  }

  test("calibration binning floors negatives into their own octave bins") {
    // the q_nb_calibration binning: a - pmod(a, 16) is FLOOR division
    // ×16 for negatives too — plain integer division truncates toward
    // zero and would fold scores -15..15 into one bucket
    val df = Seq(-17L, -16L, -1L, 0L, 15L, 16L).toDF("s")
      .select(col("s"), (col("s") - pmod(col("s"), lit(16L))).as("bin"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(-17L) == -32L && got(-16L) == -16L && got(-1L) == -16L)
    assert(got(0L) == 0L && got(15L) == 0L && got(16L) == 16L)
  }

  test("eval confusion sums to the corpus") {
    val ev = TextOps.nbQuality(spark, sfDir)
    val row = TextOps.nbQualityEval(spark, sfDir)
      .agg(sum("n_docs"), sum("n_agree")).collect().head
    val total = ev.count()
    assert(row.getLong(0) == total)
    assert(row.getLong(1) <= total && row.getLong(1) >= 0)
  }
}
