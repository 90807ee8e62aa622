package graft

import graft.operators.TextOps

/** Pins the batched BPE trainer's contract: exact sequential-greedy
  * equivalence on disjoint prefixes (and on the real test corpus), the
  * stop-at-conflict batch boundary, and the ≥1k-merge scale demo the
  * one-collect-per-merge sequential loop cannot reasonably run. */
class BpeBatchedSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential BPE with a caller-chosen merge budget — one pair-count
    * job per merge, the reference order the batched trainer must
    * reproduce. Returns (merges, final words, base vocabulary). */
  private def bpeLoopOverN(docs: org.apache.spark.sql.DataFrame, iters: Int)
      : (Seq[(Long, String, Long)], org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val base = TextOps.sentinelVocab(docs).persist()
    val merges = Seq.newBuilder[(Long, String, Long)]
    var words = base
    var rank = 1
    var exhausted = false
    while (rank <= iters && !exhausted) {
      val syms = split(trim(col("w")), "  ")
      val top = TextOps.explodeNN(words, filter(
          zip_with(syms, slice(syms, 2, Int.MaxValue - 8),
            (a, b) => concat(a, lit(" "), b)),
          p => p.isNotNull), "pair", col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pair"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val pair = top(0).getString(0)
        merges += ((rank.toLong, pair, top(0).getLong(1)))
        words = words.withColumn("w", replace(col("w"),
          lit(" " + pair.replace(" ", "  ") + " "),
          lit(" " + pair.replace(" ", "") + " ")))
        rank += 1
      }
    }
    (merges.result(), words, base)
  }

  private def docsOf(words: Seq[(String, Int)]) =
    words.flatMap { case (w, n) => Seq.fill(n)(w) }
      .grouped(50).map(_.mkString(" ")).toSeq.toDF("text")

  test("disjoint top pairs: one batched round equals the sequential order") {
    // three two-char words with distinct letters and strictly ordered
    // frequencies — the whole prefix is symbol-disjoint, so one round
    // must admit all three merges in sequential-greedy order
    val docs = docsOf(Seq("aa" -> 30, "bb" -> 20, "cc" -> 10))
    val batched = TextOps.bpeLoopBatchedOver(docs, 3, 256)
    val (seq3, _, base) = bpeLoopOverN(docs, 3)
    base.unpersist(false)
    assert(batched == seq3, s"$batched vs $seq3")
    assert(batched.map(_._2) == Seq("a a", "b b", "c c"))
  }

  test("conflicting pair stops the batch; later rounds pick it up") {
    // "b c" shares a symbol with the round-1 argmax "a b": the walk must
    // stop there (admitting ONLY "a b" — count 20 at the boundary kills
    // the strict filter for nothing else ranks above it), then round 2
    // admits the now-disjoint "b c" and "d e" together. The total order
    // must still be exactly the sequential trainer's.
    val docs = docsOf(Seq("ab" -> 30, "bc" -> 20, "de" -> 10))
    val batched = TextOps.bpeLoopBatchedOver(docs, 3, 256)
    val (seq3, _, base) = bpeLoopOverN(docs, 3)
    base.unpersist(false)
    assert(batched == seq3, s"$batched vs $seq3")
    assert(batched.map(_._2) == Seq("a b", "b c", "d e"))
    assert(batched.map(_._3) == Seq(30L, 20L, 10L))
  }

  test("real corpus: batched == sequential at the declared 8 merges") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("text"))
    val batched = TextOps.bpeLoopBatchedOver(docs, TextOps.BpeMergeIters, 256)
    val (seq8, _, base) =
      bpeLoopOverN(docs, TextOps.BpeMergeIters)
    base.unpersist(false)
    assert(batched == seq8)
  }

  test("scale demo: a 1000-merge vocabulary trains, and fertility drops") {
    // deterministic corpus shaped for FAT batches: distinct per-word
    // counts (500-i) so pair counts rarely tie at the strict boundary,
    // and a wide 52-letter alphabet of (lower, upper) digram words so
    // consecutive top pairs are usually symbol-disjoint — each word
    // (c1 c2)×6 mints ~4 rules (pair, 2-gram, 4-gram, 12-gram), 500
    // words ≈ 2000 available rules
    val words = (0 until 500).map { i =>
      val c1 = ('a' + i % 26).toChar
      val c2 = ('A' + (i / 26) % 26).toChar
      (s"$c1$c2" * 6) -> (500 - i)
    }
    val docs = docsOf(words)
    // skip-conflicts scale mode: strictness caps batches near
    // sqrt(|alphabet|) on this deliberately small 52-letter alphabet
    // (the exact-equivalence price); a large vocabulary trains strict = false
    val t0 = System.nanoTime()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val merges = TextOps.bpeLoopBatchedOver(docs, 1000, 256,
      strict = false, rounds += _)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"trained ${merges.size} merges in $sec%.1f s over ${rounds.size} rounds (max batch ${rounds.max})")
    assert(rounds.size <= 60,
      s"expected fat batches, got ${rounds.size} rounds")
    assert(merges.size == 1000, s"exhausted at ${merges.size}")
    assert(merges.map(_._1) == (1L to 1000L), "ranks must be dense 1..1000")
    // within a round the admitted counts are non-increasing by
    // construction; across the whole table the first rule is the
    // global argmax
    assert(merges.head._3 == merges.map(_._3).max)
    // fertility: applying the trained table to the corpus vocabulary
    // must compress it (fewer symbols than characters)
    val vocab = docs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("tok"))
      .groupBy($"tok")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .select($"tok",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(" "),
          org.apache.spark.sql.functions.array_join(
            org.apache.spark.sql.functions.split($"tok", ""), "  "),
          org.apache.spark.sql.functions.lit(" ")).as("w"),
        $"cnt")
    val seg = TextOps.applyMerges(vocab, merges.map(_._2))
      .selectExpr("sum(cnt * size(split(trim(w), '  '))) AS sym",
        "sum(cnt * length(tok)) AS chars")
      .head()
    val (sym, chars) = (seg.getLong(0), seg.getLong(1))
    info(s"fertility: $sym symbols over $chars chars")
    assert(sym < chars / 2,
      s"1000 merges must at least halve the symbol count: $sym vs $chars")
  }
}
