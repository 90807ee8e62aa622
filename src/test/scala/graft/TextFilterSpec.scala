package graft

import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, Row}

/** Round-9 text-filter additions: the Gopher-style rule filter (each rule
  * tripped by a planted document, independently of the others) and the
  * unigram-LM document score (hand-computed on a tiny corpus). */
class TextFilterSpec extends SparkSpec {
  import spark.implicits._

  private def rules(rows: Seq[(Long, String, String)]): Map[Long, Row] =
    TextOps.gopherRulesCore(rows.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap

  test("gopher rules: each rule trips on its own planted document") {
    // base: 25 distinct-ish 4-char words incl. stopwords, no repetition
    val clean = ("the and " + (1 to 23).map(i => f"wd$i%02d").mkString(" "))
    val got = rules(Seq(
      (1L, "en", clean),
      // too short: 5 words
      (2L, "en", "the and word more last"),
      // avg word length 1 (< 3): single-char words
      (3L, "en", ("the and " + (1 to 23).map(_ => "a b").mkString(" "))),
      // no stopwords
      (4L, "en", (1 to 25).map(i => f"wd$i%02d").mkString(" ")),
      // top-token fraction 26/50 > 0.2, dup bigrams too
      (5L, "en", ("the and " + Seq.fill(48)("spam").mkString(" ")))))
    assert(got(1L).getAs[Boolean]("pass"), s"clean doc must pass: ${got(1L)}")
    assert(!got(2L).getAs[Boolean]("word_count_ok")
      && got(2L).getAs[Boolean]("avg_len_ok"))
    assert(!got(3L).getAs[Boolean]("avg_len_ok")
      && got(3L).getAs[Boolean]("word_count_ok"))
    assert(!got(4L).getAs[Boolean]("stop_ok")
      && got(4L).getAs[Boolean]("word_count_ok")
      && got(4L).getAs[Boolean]("avg_len_ok"))
    assert(!got(5L).getAs[Boolean]("top_ok")
      && !got(5L).getAs[Boolean]("dup_ok"))
    assert(Seq(2L, 3L, 4L, 5L).forall(i => !got(i).getAs[Boolean]("pass")))
  }

  test("pii scan: planted identifiers counted, redaction changes only them") {
    import org.apache.spark.sql.functions.md5
    val docs = Seq(
      (1L, "en", "contact alice@example.com or bob.smith@mail.co now"),
      (2L, "en", "call 555-123-4567 or 555.987.6543 today"),
      (3L, "en", "server at 10.0.0.1 answers"),
      (4L, "en", "a perfectly clean document"))
      .toDF("doc_id", "lang", "text")
    val raw = docs.select($"doc_id", md5($"text".cast("binary")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.piiScanCore(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_emails") == 2L
      && got(1L).getAs[Boolean]("has_pii"))
    assert(got(2L).getAs[Long]("n_phones") == 2L
      && got(2L).getAs[Long]("n_ips") == 0L, s"dotted phone is not an ip: ${got(2L)}")
    assert(got(3L).getAs[Long]("n_ips") == 1L
      && got(3L).getAs[Long]("n_phones") == 0L)
    assert(!got(4L).getAs[Boolean]("has_pii"))
    // redaction is the identity exactly on the clean doc
    assert(got(4L).getAs[String]("redacted_fp") == raw(4L))
    Seq(1L, 2L, 3L).foreach { i =>
      assert(got(i).getAs[String]("redacted_fp") != raw(i),
        s"pii doc $i must change under redaction")
    }
    // the redacted text itself scans clean (placeholders carry no PII)
    val redacted = Seq((9L, "en",
      "contact <EMAIL> or <EMAIL> now call <PHONE> at <IP>"))
      .toDF("doc_id", "lang", "text")
    val re = TextOps.piiScanCore(redacted).head
    assert(!re.getAs[Boolean]("has_pii"))
  }

  test("repeat scrub: repeated runs removed, clean and short docs identity") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "en", "a b c a b c d"), // 3-gram "a b c" repeats at pos 3 → 3,4,5 drop
      (2L, "en", "x y z w"),       // no repeats → identity
      (3L, "en", "p q"),           // shorter than the gram → identity
      (4L, "en", "a a a a a"))     // periodic: everything after pos 0 covered
      .toDF("doc_id", "lang", "text")
    val got = TextOps.repeatScrubCore(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_removed") == 3L
      && got(1L).getAs[String]("scrubbed_fp") == md5hex("a b c d"),
      s"repeat span must drop: ${got(1L)}")
    assert(got(2L).getAs[Long]("n_removed") == 0L
      && got(2L).getAs[String]("scrubbed_fp") == md5hex("x y z w"))
    assert(got(3L).getAs[Long]("n_removed") == 0L
      && got(3L).getAs[String]("scrubbed_fp") == md5hex("p q"))
    assert(got(4L).getAs[Long]("n_removed") == 4L
      && got(4L).getAs[String]("scrubbed_fp") == md5hex("a"))
  }

  test("redaction is idempotent: placeholders carry no residual matches") {
    // mixed corpus: every PII kind, adjacency cases, and clean noise —
    // deterministic construction, no random seed
    val texts = (0 until 200).map { i =>
      s"u$i@ex$i.com w$i ${100 + i % 900}-12${i % 10}-4567 " +
        s"10.${i % 256}.0.${i % 256} tok$i plain words here"
    } ++ Seq("no identifiers at all", "<EMAIL> already redacted")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, "en", t) }
      .toDF("doc_id", "lang", "text")
    // the projection piiScan fingerprints its scrubbed text with
    def redact(df: DataFrame) =
      df.withColumn("text", TextOps.redactText($"text"))
    val once = redact(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val twice = redact(redact(docs))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(once == twice, "redact(redact(x)) must equal redact(x)")
    // and the once-redacted corpus scans clean
    assert(TextOps.piiScanCore(redact(docs))
      .where($"has_pii").count() == 0L)
  }

  test("vocab card: hand-computed type/token stats") {
    val docs = Seq((1L, "en", "a a b"), (2L, "fr", "x y z x"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.vocabCardCore(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = got("en")
    assert(en.getAs[Long]("n_tokens") == 3L && en.getAs[Long]("n_types") == 2L
      && en.getAs[Long]("n_hapax") == 1L
      && en.getAs[Long]("ttr_ppm") == 666666L
      && en.getAs[Long]("hapax_ppm") == 500000L, s"en: $en")
    val fr = got("fr")
    assert(fr.getAs[Long]("n_tokens") == 4L && fr.getAs[Long]("n_types") == 3L
      && fr.getAs[Long]("n_hapax") == 2L
      && fr.getAs[Long]("ttr_ppm") == 750000L
      && fr.getAs[Long]("hapax_ppm") == 666666L, s"fr: $fr")
  }

  test("ppl buckets: thirds bounded and strictly score-ordered") {
    val rows = TextOps.pplBuckets(spark, sfDir).collect()
    val n = rows.length
    assert(n > 0)
    def scores(b: String): Array[Long] = rows
      .filter(_.getAs[String]("bucket") == b).map(_.getAs[Long]("avg_tok_ppm"))
    val (h, m, t) = (scores("head"), scores("middle"), scores("tail"))
    assert(h.length + m.length + t.length == n)
    // thirds are CEILINGS (ties fall to the next bucket, never split)
    assert(h.length <= n / 3, s"head ${h.length} of $n")
    assert(h.length + m.length <= 2 * n / 3)
    assert(h.nonEmpty && m.nonEmpty && t.nonEmpty,
      "sf0.001 scores spread over all three buckets")
    assert(h.min >= m.max && m.min >= t.max,
      "buckets must be score-ordered: every head >= every middle >= every tail")
  }

  test("vocab drift: identical halves are exactly 0, disjoint vocab high") {
    val same = Seq((0L, "en", "a b c d"), (1L, "en", "a b c d"),
      (2L, "en", "a b c d"), (3L, "en", "a b c d"))
      .toDF("doc_id", "lang", "text")
    assert(TextOps.vocabDriftCore(same).head.getAs[Long]("tv_ppm") == 0L)
    val disjoint = Seq((0L, "en", "pa pb pc"), (1L, "en", "qa qb qc"))
      .toDF("doc_id", "lang", "text")
    val tv = TextOps.vocabDriftCore(disjoint).head.getAs[Long]("tv_ppm")
    assert(tv >= 600000L, s"disjoint vocabularies must read as drift: $tv")
  }

  test("empty corpus: every round-9 operator returns empty, never throws") {
    import org.apache.spark.sql.functions.lit
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    assert(TextOps.lmScoreCore(empty).count() == 0L)
    assert(TextOps.gopherRulesCore(empty).count() == 0L)
    assert(TextOps.winnowFingerprintCore(empty).count() == 0L)
    assert(graft.operators.CurationOps.dsirWeightsCore(empty).count() == 0L)
    // round-10 ops on the same empty relation
    assert(TextOps.piiScanCore(empty).count() == 0L)
    assert(TextOps.repeatScrubCore(empty).count() == 0L)
    assert(TextOps.pplBucketsCore(empty).count() == 0L)
    assert(TextOps.tfidfKeywordsCore(empty).count() == 0L)
    assert(TextOps.vocabCardCore(empty).count() == 0L)
    assert(TextOps.bpeEncodeWith(spark, empty, empty).count() == 0L)
    assert(graft.operators.DedupOps.chunkSemDedupOf(spark, empty).count() == 0L)
    // the drift card's global aggregate emits its one (0, null, null,
    // null) row on empty input — defined, not a throw
    assert(TextOps.vocabDriftCore(empty).head.getAs[Long]("n_buckets") == 0L)
    // the dir-based histogram walkers on a zero-row documents table
    val dir = java.nio.file.Files.createTempDirectory("emptycorp").toString
    empty.withColumn("source", lit("s"))
      .withColumn("n_chars", lit(0L))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.operators.CurationOps.qualityBudgetFloor(spark, dir)
      .count() == 0L)
    assert(graft.operators.CurationOps.corpusReport(spark, dir).count() == 0L)
    assert(TextOps.shingleNovelty(spark, dir).count() == 0L)
    assert(TextOps.winnowOverlapBest(spark, dir).count() == 0L)
  }

  test("gopher rules: empty doc fails closed, no div-by-zero") {
    val got = rules(Seq((1L, "en", "")))
    assert(!got(1L).getAs[Boolean]("pass")
      && !got(1L).getAs[Boolean]("word_count_ok")
      && !got(1L).getAs[Boolean]("avg_len_ok"))
  }

  test("winnowing: a shared 6-token run guarantees a shared fingerprint") {
    // MOSS guarantee: window(4) + gram(3) - 1 = 6 consecutive shared
    // tokens force at least one common window-min; disjoint contexts
    // around the run must not matter
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, "en", s"one two three $run four five six"),
      (2L, "en", s"seven eight nine ten $run eleven"),
      (3L, "en", "totally different content with no overlap at all"),
      (4L, "en", "so"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.winnowFingerprintCore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def fps(id: Long) = got(id).getSeq[String](got(id).fieldIndex("fps")).toSet
    assert((fps(1L) & fps(2L)).nonEmpty,
      "docs sharing a 6-token run must share a fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs must not collide")
    // short doc: one whole-text gram, one fingerprint
    assert(got(4L).getAs[Long]("n_grams") == 1L
      && got(4L).getAs[Long]("n_fps") == 1L)
    // density: winnowing keeps ~2/(window+1) of positions; never more
    // fingerprints than grams
    got.values.foreach(r =>
      assert(r.getAs[Long]("n_fps") <= r.getAs[Long]("n_grams")))
  }

  test("winnow df-cap: a ubiquitous boilerplate run surfaces no pairs") {
    // MOSS's over-common-fingerprint drop: the same boilerplate page
    // (license text, nav chrome) planted 120 times (every fingerprint's
    // df 120 > WinnowDfBar 100) would otherwise make the fp equi-join
    // emit all ~120²/2 pairs on those keys. With the cap, the
    // boilerplate fingerprints leave candidate generation entirely:
    // only the genuine duplicate pair (two identical non-boilerplate
    // docs, df 2) survives — the pair relation stays linear in real
    // overlap, not quadratic in boilerplate reach.
    val page = "all rights reserved by the publisher redistribution " +
      "of this page in any form requires prior written permission"
    val boiler = (1 to 120).map(i => (i.toLong, "en", page))
    val dup = "genuinely matching content that appears exactly twice here"
    val docs = (boiler ++ Seq((201L, "en", dup), (202L, "en", dup)))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.winnowOverlapBestCore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(201L, 202L),
      s"only the genuine duplicates may emit rows, got ${got.keySet}")
    assert(got(201L).getAs[Long]("best_match") == 202L
      && got(202L).getAs[Long]("best_match") == 201L)
    assert(got(201L).getAs[Double]("best_overlap") == 1.0)
  }

  test("lm score: hand-computed ppm on a planted corpus") {
    // counts: a=2 b=2 c=1, total 5 → ppm a,b=400000 c=200000
    val docs = Seq((1L, "en", "a a b"), (2L, "en", "b c"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.lmScoreCore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_tok") == 3L)
    assert(got(1L).getAs[Long]("avg_tok_ppm") == 400000L)
    assert(got(1L).getAs[Long]("min_tok_ppm") == 400000L)
    assert(got(2L).getAs[Long]("avg_tok_ppm") == 300000L)
    assert(got(2L).getAs[Long]("min_tok_ppm") == 200000L)
  }

  test("freq spectrum: hand-computed octaves on a planted corpus") {
    // counts: a=4 (bucket 2), b=2 (bucket 1), c=1, d=1 (bucket 0); total 8
    val docs = Seq((1L, "en", "a a a a b"), (2L, "en", "b c d"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.freqSpectrumCore(docs).collect()
      .map(r => r.getAs[Int]("freq_bucket") -> r).toMap
    assert(got.size == 3)
    assert(got(0).getAs[Long]("n_types") == 2L
      && got(0).getAs[Long]("n_occ") == 2L
      && got(0).getAs[Long]("share_ppm") == 250000L)
    assert(got(1).getAs[Long]("n_types") == 1L
      && got(1).getAs[Long]("min_cnt") == 2L)
    assert(got(2).getAs[Long]("n_types") == 1L
      && got(2).getAs[Long]("n_occ") == 4L
      && got(2).getAs[Long]("share_ppm") == 500000L)
    assert(TextOps.freqSpectrumCore(
      Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text"))
      .count() == 0L)
  }

  test("snapshot diff: hand-computed churn, dup-insensitive, symmetric") {
    // old = {A, B, C}, new = {B, C, D, E} (by content, dups collapse;
    // 'c ' trims to the same fp as 'c')
    val oldSnap = Seq((1L, "doc a"), (2L, "doc b"), (3L, "c"), (4L, "doc a"))
      .toDF("doc_id", "text")
    val newSnap = Seq((5L, "doc b"), (6L, "c "), (7L, "doc d"), (8L, "doc e"))
      .toDF("doc_id", "text")
    val r = TextOps.snapshotDiffOf(oldSnap, newSnap).head
    assert(r.getAs[Long]("n_old") == 3L && r.getAs[Long]("n_new") == 4L)
    assert(r.getAs[Long]("n_common") == 2L)
    assert(r.getAs[Long]("n_added") == 2L && r.getAs[Long]("n_removed") == 1L)
    assert(r.getAs[Long]("n_union") == 5L)
    assert(r.getAs[Long]("churn_ppm") == 3L * 1000000L / 5L)
    // identical snapshots: zero churn; fully disjoint: full churn
    assert(TextOps.snapshotDiffOf(oldSnap, oldSnap).head
      .getAs[Long]("churn_ppm") == 0L)
    assert(TextOps.snapshotDiffOf(oldSnap,
        Seq((9L, "doc z")).toDF("doc_id", "text")).head
      .getAs[Long]("churn_ppm") == 1000000L)
  }

  test("cross-doc scrub: owner keeps, others scrubbed, wall-to-wall empties") {
    // "c1 c2 c3" spans 7 docs (> bar 5); doc 1 owns it
    val docs = (Seq((1L, "u1 u2 c1 c2 c3 u3"), (7L, "c1 c2 c3")) ++
      (2L to 6L).map(k => (k, s"v$k c1 c2 c3 w$k")))
      .toDF("doc_id", "text")
    val got = TextOps.crossDocScrubCore(docs, docBar = 5L).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size == 7)
    // owner: untouched
    assert(got(1L).getAs[Long]("n_removed") == 0L)
    // carriers: exactly the 3 shared tokens go
    for (k <- 2L to 6L) {
      assert(got(k).getAs[Int]("n_tok") == 5 &&
        got(k).getAs[Long]("n_removed") == 3L, s"doc $k: ${got(k)}")
    }
    // wall-to-wall boilerplate non-owner scrubs to EMPTY (the drop signal)
    assert(got(7L).getAs[Long]("n_removed") == 3L
      && got(7L).getAs[Int]("n_tok") == 3
      && got(7L).getAs[String]("scrubbed_fp") ==
        "d41d8cd98f00b204e9800998ecf8427e")
    // under the bar nothing is scrubbed
    val calm = TextOps.crossDocScrubCore(
      Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text"), 5L)
    assert(calm.collect().forall(_.getAs[Long]("n_removed") == 0L))
  }

  test("signal agreement: cells partition the scored corpus exactly") {
    val cells = TextOps.signalAgreement(spark, sfDir).collect()
    assert(cells.nonEmpty)
    val n = cells.map(_.getAs[Long]("n_docs")).sum
    // every scored doc lands in exactly one cell
    assert(n == graft.sources.Tables.documents(spark, sfDir).count())
    // shares are exact truncating ppm of that total and sum to ~1e6
    for (r <- cells)
      assert(r.getAs[Long]("share_ppm") ==
        r.getAs[Long]("n_docs") * 1000000L / n)
    val s = cells.map(_.getAs[Long]("share_ppm")).sum
    assert(s <= 1000000L && s > 1000000L - cells.length)
    // bucket vocabularies are the two signals' own
    assert(cells.forall(r =>
      Set("high", "mid", "low")(r.getAs[String]("q_bucket")) &&
      Set("head", "middle", "tail")(r.getAs[String]("lm_bucket"))))
  }

  test("kneser-ney heldout: all three smoothing branches, hand-computed") {
    // Train (ids 1-3): bigrams ab:2 ba:2 ac:1 ca:1 -> N_types=4;
    // c_a: a=3 b=2 c=1; fan: a=2 b=1 c=1; cont: a=2 b=1 c=1.
    // Held doc 10 "a b z a": seen pair (541666), unseen w2 z (0 - the
    // continuation-zero branch), unseen CONTEXT z (cont(a)*1e6 div 4 =
    // 500000 - the context-fallback branch). Held doc 20 "b a b":
    // ba = 5e6 div 8 + 6e6 div 32 = 812500, ab = 541666.
    val docs = Seq(
      (1L, "en", "a b a c"), (2L, "en", "b a b"), (3L, "en", "c a"),
      (10L, "en", "a b z a"), (20L, "en", "b a b"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.knHeldoutCore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(10L, 20L), "only held-out docs are scored")
    assert(got(10L).getAs[Long]("n_bigrams") == 3L)
    // (541666 + 0 + 500000) div 3
    assert(got(10L).getAs[Long]("avg_kn_ppm") == 347222L)
    assert(got(10L).getAs[Long]("min_kn_ppm") == 0L)
    assert(got(10L).getAs[Long]("n_unseen") == 2L)
    assert(got(20L).getAs[Long]("n_bigrams") == 2L)
    assert(got(20L).getAs[Long]("avg_kn_ppm") == 677083L) // 1354166 div 2
    assert(got(20L).getAs[Long]("min_kn_ppm") == 541666L)
    assert(got(20L).getAs[Long]("n_unseen") == 0L)
  }

  test("kneser-ney heldout: conditionals per context sum below 1e6") {
    // smoothing must keep each context's outgoing mass a probability:
    // for every held bigram, its ppm is within [0, 1e6]
    val r = TextOps.knHeldoutScore(spark, sfDir).collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x.getAs[Long]("min_kn_ppm") >= 0L))
    assert(r.forall(x => x.getAs[Long]("avg_kn_ppm") <= 1000000L))
  }

  test("bigram score: hand-computed conditionals on a planted corpus") {
    // bigrams: doc1 [a b, b a, a b], doc2 [b a, a c]
    // c_ab: "a b"=2 "b a"=2 "a c"=1; first-position counts a=3, b=2
    // cond_ppm: "a b"=666666, "b a"=1000000, "a c"=333333
    val docs = Seq((1L, "en", "a b a b"), (2L, "en", "b a c"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.bigramScoreCore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_bigrams") == 3L)
    assert(got(1L).getAs[Long]("avg_cond_ppm") == 777777L) // 2333332 div 3
    assert(got(1L).getAs[Long]("min_cond_ppm") == 666666L)
    assert(got(2L).getAs[Long]("n_bigrams") == 2L)
    assert(got(2L).getAs[Long]("avg_cond_ppm") == 666666L)
    assert(got(2L).getAs[Long]("min_cond_ppm") == 333333L)
    // a 1-token doc contributes no bigrams and emits no row
    assert(TextOps.bigramScoreCore(
      Seq((3L, "en", "solo")).toDF("doc_id", "lang", "text")).count() == 0L)
  }

  test("collocations: contingency lift and min-count floor, hand-computed") {
    // "x y"×5 and "y x"×4 → only (x,y) clears the floor;
    // lift = 5·9·1e6 div (5·5) = 1800000
    val docs = Seq((1L, "en", "x y x y x y x y x y"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.collocationsCore(docs).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("w1") == "x" && r.getAs[String]("w2") == "y")
    assert(r.getAs[Long]("c_ab") == 5L && r.getAs[Long]("c_a1") == 5L
      && r.getAs[Long]("c_b2") == 5L)
    assert(r.getAs[Long]("lift_ppm") == 1800000L)
  }

  test("tfidf keywords: hand-computed ranks on a planted corpus") {
    // df: a=2 b=1 c=2 d=1; doc 1 tf: a=2 b=1 c=1 →
    //   a: 2e6/2 = 1000000, b: 1e6/1 = 1000000, c: 1e6/2 = 500000
    //   tie at 1e6 breaks on token asc → rank1=a, rank2=b, rank3=c
    // doc 2 tf: c=1 d=2 a=1 → d: 2000000, a: 500000, c: 500000
    //   → rank1=d, rank2=a (tie on 500000, 'a' < 'c'), rank3=c
    val docs = Seq((1L, "en", "a a b c"), (2L, "en", "c d d a"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.tfidfKeywordsCore(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Int]("rank")) -> r).toMap
    assert(got.size == 6)
    assert(got((1L, 1)).getAs[String]("tok") == "a"
      && got((1L, 1)).getAs[Long]("score_ppm") == 1000000L)
    assert(got((1L, 2)).getAs[String]("tok") == "b")
    assert(got((1L, 3)).getAs[String]("tok") == "c"
      && got((1L, 3)).getAs[Long]("score_ppm") == 500000L)
    assert(got((2L, 1)).getAs[String]("tok") == "d"
      && got((2L, 1)).getAs[Long]("score_ppm") == 2000000L)
    assert(got((2L, 2)).getAs[String]("tok") == "a")
    assert(got((2L, 3)).getAs[String]("tok") == "c")
  }

  test("gopherShapeFail: parity with the rule table's shape columns") {
    // the funnel's one-expression flag and gopherRulesCore's per-flag
    // columns must never drift: fail ⇔ NOT(word_count ∧ avg_len ∧ stop)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val flags = TextOps.gopherRulesCore(docs)
      .withColumn("expect_fail",
        !(org.apache.spark.sql.functions.col("word_count_ok")
          && org.apache.spark.sql.functions.col("avg_len_ok")
          && org.apache.spark.sql.functions.col("stop_ok")))
      .select("doc_id", "expect_fail")
    val direct = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      TextOps.gopherShapeFail(org.apache.spark.sql.functions.col("text"))
        .as("fail"))
    val joined = flags.join(direct, "doc_id")
    assert(joined.where("expect_fail <> fail").count() == 0L,
      "funnel rule flag drifted from the rule table")
    assert(joined.count() > 0L)
  }

  test("shingle novelty: first-seen content owns its shingles") {
    val rows = TextOps.shingleNovelty(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // the lowest doc_id owns every shingle it carries (nothing earlier
    // exists), so its novelty is exactly 1.0
    val minId = byId.keys.min
    assert(byId(minId).getAs[Double]("novel_frac") == 1.0)
    rows.foreach { r =>
      val f = r.getAs[Double]("novel_frac")
      assert(f >= 0.0 && f <= 1.0 && r.getAs[Long]("n_sh") >= 1L
        && r.getAs[Long]("n_novel") <= r.getAs[Long]("n_sh"), s"bad row: $r")
    }
    // novelty must decrease in aggregate for later docs (shared corpus
    // vocabulary): the top half of ids cannot out-novel the bottom half
    val (lo, hi) = rows.partition(_.getLong(0) <= byId.keys.toSeq.sorted
      .apply(rows.length / 2))
    def avg(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("novel_frac")).sum / rs.length
    assert(avg(lo) > avg(hi), "earlier docs must average more novel")
  }

  test("lm score: atypical vocabulary ranks below typical at sf0.001") {
    val rows = TextOps.lmScore(spark, sfDir).collect()
    assert(rows.length > 0)
    // every score is a valid mean of per-token probabilities
    rows.foreach { r =>
      val avg = r.getAs[Long]("avg_tok_ppm")
      assert(avg >= 0L && avg <= TextOps.LmPpmUnit, s"ppm out of range: $r")
      assert(r.getAs[Long]("min_tok_ppm") <= avg)
    }
  }
}
