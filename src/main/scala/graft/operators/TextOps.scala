package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §2.2 P23, §2.4 A11): token/quality statistics, heuristic
  * language ID, document fingerprinting, exact dedup, and word-set Jaccard
  * near-dup. Everything is built-in-function compositions — no UDFs — so
  * the whole pipeline stays inside whole-stage codegen and scales linearly.
  *
  * Near-dup uses the explode + equi-join + group pattern (token-blocked),
  * which is the shuffle-friendly shape; the quadratic-free MinHash/LSH and
  * SimHash variants live in [[DedupOps]].
  */
object TextOps {

  /** Whitespace tokens, empties dropped (engine-portable). */
  private[graft] def toks(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  /** Explode an expensive array EXPRESSION without paying for it twice
    * (r18, guide §1.2): plain `explode(arr)` makes Catalyst insert the
    * Generate pruning filter `size(arr) > 0 AND isnotnull(arr)`, and
    * predicate pushdown inlines the whole array tree into that Filter —
    * interpreted HOFs like [[toks]]/[[shingles3]] then evaluate per row
    * TWICE, with the duplicate pass pushed below any exchange (measured
    * on the dedup spine: bandKeys 1.89 → 0.68 s at sf0.1). When the
    * array's ELEMENTS are provably non-null (split/concat/array_join/md5
    * results — every tokenizer in this file), `explode_outer` + a cheap
    * IS-NOT-NULL filter on the OUTPUT column is row-identical: the only
    * padded row outer-explode adds comes from an empty/null array, and
    * its output is null exactly then. The filter sits ABOVE the Generate
    * as a column ref — nothing re-evaluates the array.
    *
    * CALLER CONTRACT (ADVICE r18): array elements MUST be non-null — a
    * null ELEMENT's exploded row is indistinguishable from the padding
    * row and gets silently dropped, where plain explode would emit it.
    * Every call site in this repo passes arrays built from
    * split/concat/array_join/md5/sequence results (never-null by
    * construction); a caller with nullable elements must use plain
    * explode and eat the pruning-filter cost. */
  private[graft] def explodeNN(df: DataFrame, arr: Column, alias: String,
      keep: Column*): DataFrame =
    df.select(keep :+ explode_outer(arr).as(alias): _*)
      .where(col(alias).isNotNull)

  /** chars/4 token estimate — the ONE definition every token-accounting
    * query shares (tokenEstimate, seq packing, source profile); the SQL
    * twin below must stay in lockstep. */
  private[operators] def tokEst(c: Column): Column =
    ceil(length(c).cast("double") / 4).cast("long")

  private[operators] val tokEstSql: String =
    "CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT)"

  /** Normalized content fingerprint — shared by fingerprint, dedupExact
    * and sourceProfile so their duplicate counts can never drift. */
  private[operators] def contentFp(c: Column): Column =
    md5(lower(trim(c)).cast("binary"))

  private[operators] val contentFpSql: String = "md5(lower(trim(text)))"

  /** Positional n-grams of `arr`: every window of n consecutive elements
    * joined by one space, in order, duplicates kept — the one definition
    * of "an n-gram" every dedup, contamination, scrub and LM signal keys
    * on. Under n elements gives an empty array, a null array gives null,
    * and no element is ever null (the [[explodeNN]] contract) as long as
    * `arr`'s own elements are non-null, as every tokenizer here
    * guarantees.
    *
    * `arr` is bound ONCE per row as the lambda variable of a one-element
    * transform: Catalyst does not CSE into lambda bodies, so a window
    * sliced from an unmaterialized `arr` (a [[toks]] expression, say)
    * would re-tokenize the text per window. Up to 4-grams the zip-shift
    * form (zip against the 1..n-1 shifted slices; the shorter side's
    * null pad drops in the filter) is cheaper; it pays one more zip_with
    * pass per extra element, while the per-window `slice` form barely
    * moves with n. Distinct grams of 40k documents on local[4], medians
    * of 9 interleaved runs, zip-shift vs slice: n=3 1.18 vs 1.43 s, n=5
    * 2.12 vs 2.08 s, n=7 2.40 vs 1.95 s, n=13 3.42 vs 2.19 s. A shifted
    * slice's length is `size(t)`: an `Int.MaxValue - 8` "to the end"
    * length overflows start + length from start 10 on and silently
    * yields an EMPTY array. */
  private[graft] def grams(arr: Column, n: Int): Column = {
    require(n >= 1, s"gram width must be positive, got $n")
    def windows(t: Column): Column =
      if (n <= 4) filter((2 to n).foldLeft(t)((acc, k) =>
          zip_with(acc, slice(t, lit(k), size(t)), (x, y) => concat(x, lit(" "), y))),
        g => g.isNotNull)
      else when(size(t) >= n, transform(sequence(lit(1), size(t) - (n - 1)),
          i => array_join(slice(t, i, lit(n)), " ")))
        .otherwise(slice(t, 1, 0))
    element_at(transform(array(arr), windows _), 1)
  }

  /** Positional 3-grams of `t`, or one whole-text gram for docs under 3
    * tokens — the shared unit of [[shingles3]] and
    * [[winnowFingerprintCore]]. */
  private def grams3OrWhole(t: Column): Column =
    when(size(t) >= 3, grams(t, 3)).otherwise(array(array_join(t, " ")))

  /** Distinct 3-gram word shingles (the MinHash/Jaccard unit). Word-level
    * sets degenerate on small vocabularies — every doc looks like every
    * other; 3-grams carry word order, so similarity concentrates on real
    * near-dups and shingle-blocked joins stop exploding. Docs shorter than
    * 3 tokens fall back to one whole-text shingle. */
  def shingles3(text: Column): Column = array_distinct(grams3OrWhole(toks(text)))

  /** DuckDB rendering of [[shingles3]] — must stay semantically identical. */
  val shingles3Sql: String = {
    val t = "list_filter(string_split(text, ' '), t -> t <> '')"
    s"""list_distinct(CASE WHEN len($t) >= 3
       |    THEN list_transform(range(1, len($t) - 1),
       |           i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2])
       |    ELSE [array_to_string($t, ' ')] END)""".stripMargin
  }

  /** Per-document token statistics — token counting + shape stats. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).as("n_tokens"),
        size(array_distinct(toks(col("text")))).as("n_uniq_tokens"),
        length(col("text")).as("len"))
      // empty docs: Spark's /0 yields NULL but DuckDB yields +inf —
      // guard to NULL on both sides
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          round((col("len") - (col("n_tokens") - 1)).cast("double")
            / col("n_tokens"), 4)))
      .drop("len")

  /** Vocabulary rows kept by [[vocab]] — a corpus frequency table is
    * top-k by construction (the tail is unbounded noise). */
  val VocabTopK = 100

  /** Corpus vocabulary/frequency table — the statistic a tokenizer
    * trainer (BPE seed vocab) or corpus health check starts from: token →
    * (total occurrences, containing docs), top-[[VocabTopK]] by a TOTAL
    * order (count desc, token asc) so the cut boundary is deterministic
    * in any engine. Scale shape: explode → one hash aggregation with
    * map-side combine; the top-k is `orderBy.limit` →
    * TakeOrderedAndProject (k rows per partition shuffle, never a global
    * sort). */
  def vocab(spark: SparkSession, dir: String): DataFrame =
    explodeNN(Tables.documents(spark, dir), toks(col("text")), "token",
      col("doc_id"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(VocabTopK)

  /** Pair rows kept by [[bpePairs]] — the merge-candidate table is
    * top-k by construction (BPE only ever merges the most frequent). */
  val BpeTopK = 50

  /** BPE merge-pair statistics — the tokenizer trainer's inner-loop
    * statistic: the frequency of every ADJACENT SYMBOL PAIR inside
    * whitespace tokens (the first BPE iteration over the character
    * vocabulary; subsequent iterations re-run this over the merged
    * symbols). Top-[[BpeTopK]] by a TOTAL order (count desc, pair asc)
    * so the cut is deterministic in any engine.
    *
    * Scale shape: pairs are per-row array expressions (chars zipped
    * against their 1-shift — duplicates kept, BPE counts occurrences),
    * then one hash aggregation with map-side combine and a
    * TakeOrderedAndProject — linear, no window. Characters here are
    * code points on the Spark side and DuckDB characters on the oracle
    * side: identical on this corpus (ASCII); a multilingual deployment
    * pins a byte-level alphabet first (standard byte-level BPE). */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    explodeNN(
      explodeNN(Tables.documents(spark, dir), toks(col("text")), "tok"),
      grams(split(col("tok"), ""), 2), "pair")
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("pair"))
      .limit(BpeTopK)

  /** Merge iterations [[bpeMerges]] runs — enough for the loop to reach
    * real multi-character merges (the interesting regime: iteration 1 is
    * [[bpePairs]]' top row, later iterations merge previously-merged
    * symbols) while keeping the unrolled DuckDB twin readable. */
  val BpeMergeIters = 8

  /** The full BPE MERGE LOOP — iterates [[bpePairs]]' statistic the way a
    * tokenizer trainer does: count adjacent symbol pairs, apply the most
    * frequent merge everywhere, re-count over the merged symbols,
    * [[BpeMergeIters]] times. Emits the ranked merge table
    * (merge_rank, pair, n_occ) — the artifact a BPE trainer ships; n_occ
    * is the pair's pre-merge count (the statistic the rank was chosen
    * by), per the reference BPE formulation. Rank order is a TOTAL order
    * (count desc, pair asc), so the chosen merge — and therefore every
    * subsequent iteration — is deterministic in any engine.
    *
    * Representation: the corpus is reduced ONCE to its distinct
    * whitespace tokens weighted by frequency (pair counts over
    * (word, freq) equal pair counts over every occurrence), and each
    * word's symbol sequence is encoded as a single string with every
    * symbol wrapped in sentinel spaces (`"abc"` → `" a  b  c "` —
    * symbols never contain spaces, [[toks]] split on them). Under that
    * encoding, applying merge (A, B) is a LITERAL string replace of
    * `" A  B "` with `" AB "`: each symbol occurrence owns its wrappers,
    * so a pattern can never straddle a symbol boundary (`["ba","a"]`
    * encodes as `" ba  a "`, which `" a  a "` cannot match), and the
    * left-to-right non-overlapping semantics both engines' `replace`
    * implement IS greedy BPE merging (`"aaaa"` → `[aa, aa]`). No regex,
    * no lookbehind (DuckDB's RE2 has none), no UDF.
    *
    * Scale shape: the corpus-sized work is the single initial
    * explode + hash-agg; every iteration after that is one hash
    * aggregation plus a top-1 TakeOrderedAndProject over the cached
    * VOCABULARY (distinct tokens — millions of rows at 100 TB, not
    * billions), with the i applied merges living as nested `replace`
    * expressions inside whole-stage codegen. The per-iteration driver
    * round-trip is one row (the argmax) — BPE is inherently sequential
    * in the merge order; the statistic itself is always distributed. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = bpeLoop(spark, dir)
    merges.toDF("merge_rank", "pair", "n_occ").orderBy(col("merge_rank"))
  }

  /** The frequency-weighted vocabulary of a corpus in SENTINEL-SPACE
    * encoding — (tok, w, cnt) where `w` wraps every symbol in spaces
    * (`"abc"` → `" a  b  c "`; see [[bpeMerges]] for why that makes
    * merge application a literal string replace). The shared entry
    * relation of both the TRAIN path ([[bpeLoop]]) and the APPLY path
    * ([[bpeEncode]]). */
  private[graft] def sentinelVocab(docs: DataFrame): DataFrame =
    explodeNN(docs, toks(col("text")), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .select(col("tok"),
        concat(lit(" "), array_join(split(col("tok"), ""), "  "),
          lit(" ")).as("w"), col("cnt"))

  /** Nested-replace depth one projection of [[applyMerges]] may carry.
    * Catalyst recurses per StringReplace node (dataType/codegen walk
    * the child chain), so an UNCHUNKED 1000-merge apply overflows the
    * JVM stack — found by the 1k-merge demo, fixed by flushing the
    * projection every [[BpeApplyChunk]] merges. */
  val BpeApplyChunk = 64

  /** Apply a STORED merge table (rank-ordered pairs from [[bpeMerges]]/
    * [[bpeMergesBatched]]) to a sentinel-space vocabulary — the
    * tokenizer-APPLY projection: the same nested literal replaces the
    * trainer's loop uses, with the merges supplied instead of trained.
    * Vocabulary-sized, inside whole-stage codegen; this is the
    * per-shard kernel a data pipeline ships to encode new corpora with
    * a frozen tokenizer. Merges apply [[BpeApplyChunk]] per projection
    * with an eager localCheckpoint between chunks (CollapseProject
    * would otherwise re-nest every chunk into one expression tree —
    * rank order within and across chunks is preserved, so the result
    * is identical to the single-projection form the ≤64-merge declared
    * queries still take). */
  private[graft] def applyMerges(vocab: DataFrame,
      merges: Seq[String]): DataFrame = {
    def chunk(df: DataFrame, pairs: Seq[String]): DataFrame =
      pairs.foldLeft(df) { (d, pair) =>
        d.withColumn("w", replace(col("w"),
          lit(" " + pair.replace(" ", "  ") + " "),
          lit(" " + pair.replace(" ", "") + " ")))
      }
    if (merges.size <= BpeApplyChunk) chunk(vocab, merges)
    else merges.grouped(BpeApplyChunk).foldLeft(vocab) { (df, g) =>
      chunk(df, g).localCheckpoint()
    }
  }

  /** Shared core of the BPE family: the merge loop over the
    * materialized frequency-weighted vocabulary. Returns (ranked
    * merges, the post-loop vocabulary still in sentinel-space encoding
    * with its original `tok` column — callers that return a plan
    * READING the vocabulary rely on its internal checkpoint under the
    * harness clearCache contract).
    *
    * SERVED BY THE STRICT-BATCHED TRAINER (r19): the per-merge
    * sequential loop paid one driver round-trip per merge; the strict
    * batched walk admits every disjoint prefix pair per round and is
    * EXACTLY the sequential table ([[bpeMergesBatched]]'s strict
    * contract, BpeBatchedSpec whole-corpus equality, and the
    * q_bpe_merges oracle still pins the sequential SQL unroll), with
    * the final vocabulary state definitionally identical (same
    * replaces, same rank order). Measured (OPTIMIZATION_r19.md §8,
    * interleaved, sf0.1): 4 rounds vs 8 jobs, loop med 1.275 → 0.558 s;
    * table equality asserted in the same run. */
  private def bpeLoop(spark: SparkSession, dir: String)
      : (Seq[(Long, String, Long)], DataFrame) =
    bpeLoopOver(spark, Tables.documents(spark, dir))

  /** [[bpeLoop]] over any (text) relation — split out so the encode
    * path can TRAIN on one split and APPLY to another. */
  private def bpeLoopOver(spark: SparkSession, docs: DataFrame)
      : (Seq[(Long, String, Long)], DataFrame) =
    bpeLoopBatchedState(docs, BpeMergeIters, BpeBatchCap, strict = true)

  /** Batch cap per round of [[bpeMergesBatched]] — the most merges one
    * pair-count job may admit. Bounds both the driver collect
    * (batchCap+1 rows) and the nested-replace depth applied per round. */
  val BpeBatchCap = 256

  /** BATCHED BPE trainer — the scale fix for [[bpeMerges]]'s
    * one-driver-round-trip-per-merge shape (8 merges = 8 jobs is fine;
    * a 50k-merge production vocabulary would mean 50k sequential Spark
    * jobs). Each ROUND runs ONE distributed pair-count job and admits a
    * PREFIX of the (count desc, pair asc)-ordered pair list:
    *
    *  - the top pair is always admitted — it IS the sequential argmax;
    *  - each further pair is admitted while it shares no symbol, and no
    *    concatenated merge RESULT, with any pair already admitted this
    *    round (disjoint merges commute textually — neither replace can
    *    touch the other's occurrences), the walk STOPPING at the first
    *    conflict rather than skipping it (skipping would reorder
    *    against the sequential trainer: a higher-count conflicting pair
    *    means the recount could promote a successor above the rest of
    *    the prefix);
    *  - of that prefix, pairs are kept only while their count STRICTLY
    *    exceeds the count at the stop boundary (C) — the occurrences
    *    this round's merges redistribute all come from pairs at or
    *    after the boundary, so the kept pairs' greedy order is
    *    insensitive to the recount the sequential trainer would run.
    *
    * Admitted merges apply as the same nested sentinel-space replaces
    * as [[bpeMerges]], the vocabulary frame is eagerly
    * `localCheckpoint`-ed each round so lineage depth stays bounded at
    * one round's replaces across hundreds of rounds, and the loop
    * repeats until `nMerges` or pair exhaustion.
    *
    * Contract (default `strict = true`): when each round's admitted
    * prefix is symbol-disjoint and no pre-existing vocabulary symbol
    * equals an admitted concatenation, the batched merge table is
    * EXACTLY the sequential trainer's (BpeBatchedSpec pins both a
    * planted prefix and whole-corpus equality with [[bpeMerges]] at 8
    * merges — also the q_bpe_batched oracle, which reuses the
    * sequential SQL unroll); adversarial count ties at the boundary
    * only shrink the batch, never reorder it. Strictness bounds the
    * batch by the first conflict, which on a SMALL symbol alphabet
    * caps batches near √|alphabet| (birthday bound) early in training;
    * `strict = false` switches to the standard top-m-NON-CONFLICTING
    * approximation — conflicting pairs are skipped, not stopped at —
    * which keeps batches at the cap and stays fully deterministic
    * (same total order, same disjointness rule) at the cost of exact
    * greedy-order equivalence. Production vocabularies (50k merges
    * over a large symbol space) run `strict = false`; the declared
    * 8-merge query keeps the strict default.
    *
    * Scale shape: rounds ≈ nMerges / achieved batch, each one pair-count
    * job over the cached vocabulary plus a (batchCap+1)-row collect —
    * a 50k-merge vocabulary at batch ~200 is ~250 jobs, not 50k. */
  def bpeMergesBatched(spark: SparkSession, dir: String,
      nMerges: Int = BpeMergeIters,
      batchCap: Int = BpeBatchCap, strict: Boolean = true): DataFrame = {
    import spark.implicits._
    bpeLoopBatchedOver(Tables.documents(spark, dir), nMerges, batchCap,
        strict)
      .toDF("merge_rank", "pair", "n_occ").orderBy(col("merge_rank"))
  }

  /** [[bpeMergesBatched]] over any (text) relation — split out so specs
    * can plant vocabularies with known pair structure. Returns the
    * ranked merge triples. */
  private[graft] def bpeLoopBatchedOver(docs: DataFrame, nMerges: Int,
      batchCap: Int, strict: Boolean = true,
      onRound: Int => Unit = _ => ()): Seq[(Long, String, Long)] =
    bpeLoopBatchedState(docs, nMerges, batchCap, strict, onRound)._1

  /** [[bpeLoopBatchedOver]] returning the final VOCABULARY STATE too —
    * the trained table the fertility/symbol cards project from, so a
    * big-vocab run needs no second 16k-replace re-apply pass. */
  private[graft] def bpeLoopBatchedState(docs: DataFrame, nMerges: Int,
      batchCap: Int, strict: Boolean = true,
      onRound: Int => Unit = _ => ())
      : (Seq[(Long, String, Long)], DataFrame) = {
    var words = sentinelVocab(docs).localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, Long)]
    var rank = 1L
    var exhausted = false
    // replaces applied since the last lineage reset: checkpoint only
    // once ~2×BpeApplyChunk accumulate — replaying ≤128 codegen'd
    // string replaces per job is far cheaper than a materialization
    // job per (often small) round
    var pending = 0
    while (rank <= nMerges && !exhausted) {
      val top = explodeNN(words, grams(split(trim(col("w")), "  "), 2),
          "pair", col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pair"))
        .limit(batchCap + 1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // walk the ordered list; STRICT mode stops at the first
        // symbol/result clash (exact-equivalence contract), SKIP mode
        // passes over clashes and keeps collecting disjoint pairs (the
        // standard top-m-non-conflicting approximation — deterministic,
        // near-greedy, fat batches on small alphabets)
        val used = scala.collection.mutable.Set.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        var stopCount = -1L // count at the stop boundary (C); -1 = open
        var i = 0
        while (i < math.min(top.length, batchCap) && stopCount < 0) {
          val pair = top(i).getString(0)
          val cnt = top(i).getLong(1)
          val sp = pair.indexOf(' ')
          val (a, b) = (pair.substring(0, sp), pair.substring(sp + 1))
          if (i == 0 || (!used(a) && !used(b) && !used(a + b))) {
            prefix += ((pair, cnt))
            used += a; used += b; used += (a + b)
          } else if (strict) stopCount = cnt
          i += 1
        }
        if (stopCount < 0)
          stopCount = if (top.length > i) top(i).getLong(1) else 0L
        val kept =
          if (!strict) prefix.toSeq
          else {
            val s = prefix.toSeq.filter { case (_, c) => c > stopCount }
            if (s.isEmpty) prefix.toSeq.take(1) else s
          }
        val admitted = kept.take((nMerges - rank + 1).toInt)
        admitted.foreach { case (p, c) =>
          merges += ((rank, p, c)); rank += 1
        }
        onRound(admitted.size)
        // applyMerges chunks + checkpoints internally past BpeApplyChunk;
        // below that, defer the lineage reset until enough replaces
        // accumulate to be worth a materialization job
        val applied = applyMerges(words, admitted.map(_._1))
        if (admitted.size > BpeApplyChunk) { words = applied; pending = 0 }
        else {
          pending += admitted.size
          if (pending >= 2 * BpeApplyChunk) {
            words = applied.localCheckpoint(); pending = 0
          } else words = applied
        }
      }
    }
    (merges.result(), words)
  }

  /** The SEGMENTED VOCABULARY under the trained merges — what the
    * tokenizer the merge loop trained actually DOES to text: each
    * distinct corpus token with its symbol sequence after all
    * [[BpeMergeIters]] merges (and its corpus frequency). This is the
    * loop's own working state projected out (decode the sentinel-space
    * encoding back to a symbol array), so segmentation is definitionally
    * consistent with [[bpeMerges]] — there is no second
    * apply-the-merges implementation to drift.
    *
    * Scale shape: identical to [[bpeMerges]] up to the final projection
    * (vocabulary-sized, nested codegen'd replaces); encoding a NEW
    * corpus with a trained merge table is the same projection with the
    * merges supplied instead of trained. */
  def bpeSegmented(spark: SparkSession, dir: String): DataFrame = {
    val (_, words) = bpeLoop(spark, dir)
    // symbols rendered space-joined (symbols never contain spaces —
    // [[toks]] split on them), the oracle-comparable flat form the other
    // set-valued queries use
    words.select(col("tok"), col("cnt"),
      array_join(split(trim(col("w")), "  "), " ").as("symbols"),
      size(split(trim(col("w")), "  ")).as("n_symbols"))
  }

  /** The doc_id parity split [[bpeEncode]] trains on: even ids are the
    * TRAINING corpus, odd ids the NEW corpus the stored merges encode —
    * a deterministic stand-in for "yesterday's tokenizer, today's
    * data". */
  val BpeTrainParity = 0

  /** Tokenizer-APPLY entry point (VERDICT r9 #5) — encode a NEW corpus
    * with a STORED merge table: train [[BpeMergeIters]] merges on the
    * even-doc_id split ([[BpeTrainParity]]), then segment the HELD-OUT
    * (odd-id) corpus by applying those merges as a frozen artifact via
    * [[applyMerges]] — no retraining, the projection a production
    * pipeline runs per shard with the tokenizer shipped to every
    * executor. Emits the held-out segmented vocabulary in
    * [[bpeSegmented]]'s shape (tok, cnt, symbols, n_symbols); unseen
    * tokens fall through to their character segmentation exactly as a
    * real BPE does below the merge table.
    *
    * Scale shape: training cost is the [[bpeLoop]] shape over the train
    * split; the APPLY side is one explode + hash-agg to the held-out
    * vocabulary and then [[BpeMergeIters]] nested codegen'd replaces —
    * linear, no join, no driver round-trips beyond the trainer's own
    * per-iteration argmax. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bpeEncodeWith(spark,
      docs.where(pmod(col("doc_id"), lit(2)) === BpeTrainParity),
      docs.where(pmod(col("doc_id"), lit(2)) =!= BpeTrainParity))
  }

  /** [[bpeEncode]] with explicit train/apply corpora — split out so the
    * consistency spec can encode the TRAINING corpus itself and assert
    * it reproduces [[bpeSegmented]] exactly. */
  private[graft] def bpeEncodeWith(spark: SparkSession, trainDocs: DataFrame,
      applyDocs: DataFrame): DataFrame = {
    val (merges, _) = bpeLoopOver(spark, trainDocs)
    applyMerges(sentinelVocab(applyDocs), merges.map(_._2))
      .select(col("tok"), col("cnt"),
        array_join(split(trim(col("w")), "  "), " ").as("symbols"),
        size(split(trim(col("w")), "  ")).as("n_symbols"))
  }

  /** Per-document token count under the TRAINED tokenizer — the precise
    * version of [[tokenEstimate]]'s chars/4 heuristic: each document's
    * whitespace tokens joined to the segmented vocabulary
    * ([[bpeSegmented]]'s state), n_bpe_tokens = Σ n_symbols. This is the
    * number a trainer actually budgets by (sequence packing, mixture
    * token accounting); the chars/4 estimate stays for the paths that
    * must not pay a join.
    *
    * Scale shape: one corpus-side explode + equi-join against the
    * VOCABULARY-sized segmentation (broadcastable at real corpus
    * shapes) + per-doc re-aggregation. The est/actual pair in one row
    * makes the estimator's bias measurable per doc. */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val (_, words) = bpeLoop(spark, dir)
    val seg = words.select(col("tok"),
      size(split(trim(col("w")), "  ")).as("n_symbols"))
    explodeNN(Tables.documents(spark, dir), toks(col("text")), "tok",
        col("doc_id"))
      .join(seg, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_symbols")).as("n_bpe_tokens"))
  }

  /** Tokenizer FERTILITY report — the per-language efficiency card a
    * tokenizer evaluation ships: how many trained-BPE tokens a word
    * costs (`fertility_100`, 1e-2 units) and how many characters one
    * BPE token carries (`chars_per_token_100`), per language. High
    * fertility on a language = the merge table under-serves it — the
    * signal that drives per-language merge budgets in multilingual
    * tokenizer training. Ratios are integer-exact in 1e-2 units
    * (long-safe to ~9×10¹⁶ corpus tokens — far past a 100 TB corpus's
    * ~2.5×10¹³); counts are exact sums.
    *
    * Scale shape: [[bpeTokenCount]]'s explode ⋈ vocabulary join (the
    * segmentation side is vocabulary-sized, broadcastable) re-grouped
    * to the ~handful of languages — one extra hash agg over the same
    * scan. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val (_, words) = bpeLoop(spark, dir)
    bpeFertilityOf(Tables.documents(spark, dir), words)
  }

  /** [[bpeFertility]] over any trained vocabulary state (the loop's
    * `words` frame) — split out so the batched big-vocab trainer
    * (16k+ merges; README "Production-size BPE vocabulary trained")
    * publishes the SAME card off its trained table. */
  private[graft] def bpeFertilityOf(docs: DataFrame, words: DataFrame)
      : DataFrame = {
    val seg = words.select(col("tok"),
      size(split(trim(col("w")), "  ")).as("n_symbols"))
    explodeNN(docs, toks(col("text")), "tok", col("lang"))
      .join(seg, Seq("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_symbols")).as("n_bpe_tokens"),
        sum(length(col("tok")).cast("long")).as("n_chars"))
      .withColumn("fertility_100",
        expr("n_bpe_tokens * 100 div n_words"))
      .withColumn("chars_per_token_100",
        expr("n_chars * 100 div n_bpe_tokens"))
  }

  /** Symbol rows kept by [[bpeSymbolVocab]]. */
  val BpeSymbolTopK = 50

  /** Corpus frequency of the POST-MERGE symbol vocabulary — the
    * trained-tokenizer analogue of [[vocab]]: multi-character merged
    * symbols ranked alongside the surviving single characters (the
    * table a trainer inspects to judge whether N merges bought
    * compression). Top-[[BpeSymbolTopK]] by a total order. */
  def bpeSymbolVocab(spark: SparkSession, dir: String): DataFrame = {
    val (_, words) = bpeLoop(spark, dir)
    words.select(explode(split(trim(col("w")), "  ")).as("symbol"),
        col("cnt"))
      .groupBy(col("symbol")).agg(sum(col("cnt")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("symbol"))
      .limit(BpeSymbolTopK)
  }

  // --- unigram-LM (SentencePiece-style) tokenizer ---

  /** Longest candidate piece the unigram trainer considers. */
  val UniMaxPiece = 4

  /** Multi-char candidates the SEED vocabulary keeps (plus every
    * single character, which is never pruned — segmentability). */
  val UniSeedK = 48

  /** Multi-char pieces each EM round's M-step keeps. */
  val UniVocabTarget = 32

  /** Words are truncated to this many chars before the DP — bounds the
    * unrolled oracle and the kernel alike (a real corpus caps token
    * length anyway; this fixture's longest word is 8). */
  val UniMaxWordLen = 16

  /** EM (segment → re-estimate → prune) rounds after seeding. */
  val UniEmRounds = 2

  /** Driver-side twin of [[log2x8]] — same minimal-binary-string read,
    * byte-identical (`Long.toBinaryString` IS `bin()`), so costs
    * computed on the collected vocab match the engines' column math. */
  private[graft] def log2x8Long(x: Long): Long = {
    val s = java.lang.Long.toBinaryString(x)
    val f = (s.substring(1) + "000").substring(0, 3)
    (s.length - 1) * 8L + (f.charAt(0) - '0') * 4 +
      (f.charAt(1) - '0') * 2 + (f.charAt(2) - '0')
  }

  /** The frequency-weighted (truncated) word relation — the unigram
    * family's ONE corpus reduction, exactly [[sentinelVocab]]'s scale
    * shape without the sentinel encoding. */
  private[graft] def uniWords(docs: DataFrame): DataFrame =
    explodeNN(docs, toks(col("text")), "t")
      .select(substring(col("t"), 1, UniMaxWordLen).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /** Corpus-weighted counts of every substring of length
    * 1..[[UniMaxPiece]] — the seed statistic (the practical stand-in
    * for SentencePiece's suffix-array candidate enumeration; public
    * algorithm, Kudo 2018). Vocabulary-sized input, ≤ len·4 rows per
    * word out, one hash agg. */
  private def uniSubCounts(words: DataFrame): DataFrame =
    words.select(col("tok"), col("cnt"),
        explode(sequence(lit(1), length(col("tok")))).as("st"))
      .select(col("tok"), col("cnt"), col("st"),
        explode(sequence(lit(1), lit(UniMaxPiece))).as("l"))
      .where(col("st") + col("l") - 1 <= length(col("tok")))
      .select(expr("substring(tok, st, l)").as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))

  /** Integer piece costs from a collected (piece, uses) vocabulary:
    * cost(p) = log2x8(Σ(uses+1)) − log2x8(uses(p)+1) — a fixed-point
    * −log prob with Laplace smoothing (kept single chars may have zero
    * uses). Non-negative, monotone-decreasing in frequency, and
    * bit-identical to the SQL twin's column math. */
  private def uniCosts(rows: Seq[(String, Long)]): Map[String, Long] = {
    val lt = log2x8Long(rows.iterator.map(_._2 + 1).sum)
    rows.iterator.map { case (p, n) => p -> (lt - log2x8Long(n + 1)) }
      .toMap
  }

  /** Viterbi segmentation of one (truncated) word under additive
    * integer piece costs — the E-step kernel. DP key at position j:
    * min over piece length l of
    * `(best(j−l) + cost) · 8 + (UniMaxPiece − l)` — the low bits make
    * ties resolve to the LONGEST piece deterministically, and the SQL
    * twin's plain `MIN` over the same encoded key picks the identical
    * path. Single chars are always in the vocabulary, so every
    * position is reachable. */
  private[graft] def uniViterbi(tok: String,
      cost: scala.collection.Map[String, Long]): List[String] = {
    val n = tok.length
    val best = new Array[Long](n + 1)
    val choice = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var bkey = Long.MaxValue
      var l = 1
      val lMax = math.min(UniMaxPiece, j)
      while (l <= lMax) {
        cost.get(tok.substring(j - l, j)) match {
          case Some(c) =>
            val key = (best(j - l) + c) * 8 + (UniMaxPiece - l)
            if (key < bkey) bkey = key
          case None =>
        }
        l += 1
      }
      require(bkey != Long.MaxValue,
        s"unigram vocab lost a single char of <$tok> — unsegmentable")
      best(j) = bkey / 8
      choice(j) = UniMaxPiece - (bkey % 8).toInt
      j += 1
    }
    var pos = n
    var out = List.empty[String]
    while (pos > 0) {
      val l = choice(pos)
      out = tok.substring(pos - l, pos) :: out
      pos -= l
    }
    out
  }

  /** Distributed E-step: one map over the word relation with the
    * BROADCAST cost table (vocab-sized by construction) — the
    * [[graft.functions.FitsHeader]] kernel shape; no shuffle beyond
    * the usage re-aggregation the caller adds. */
  private def uniSegments(words: DataFrame,
      cost: Map[String, Long]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cost)
    words.select(col("tok"), col("cnt")).as[(String, Long)]
      .map { case (tok, cnt) => (tok, cnt, uniViterbi(tok, bc.value)) }
      .toDF("tok", "cnt", "pieces")
  }

  /** UNIGRAM-LM TRAINER (SentencePiece-style hard-EM, Kudo 2018, in
    * exact integer fixed-point): seed with frequent substrings + all
    * single chars, then [[UniEmRounds]] rounds of Viterbi-segment →
    * count usage → keep top-[[UniVocabTarget]] multi-char pieces (+
    * chars) → re-score. Deterministic end to end: total orders on
    * every cut, [[log2x8]] costs, tie-broken DP — the DuckDB oracle
    * unrolls the same rounds as chained CTEs and must match hashes.
    *
    * Scale shape: the corpus is touched ONCE ([[uniWords]]); each EM
    * round is one vocab-broadcast map over the distinct-word relation
    * plus one usage hash-agg, with a vocab-sized driver collect for
    * the cost table (the [[bpeMergesBatched]] one-job-per-round
    * discipline — rounds are fixed at 2, not vocab-sized). Returns the
    * final vocabulary (piece, uses), its cost table, and the
    * CHECKPOINTED word relation training segmented — consumers that
    * segment the same corpus under the trained costs (encode,
    * fertility/coverage cards) read the checkpoint instead of
    * re-deriving [[uniWords]]'s explode+agg pass (r19, guide §1.2;
    * blocks are released by the harness clearCache/unpersist contract
    * between reps). */
  private[graft] def uniTrain(spark: SparkSession, docs: DataFrame)
      : (DataFrame, Map[String, Long], DataFrame) = {
    import spark.implicits._
    val words = uniWords(docs).localCheckpoint(true)
    // SMALL-VOCABULARY CUTOVER (r19, the CcDriverMaxEdges reasoning):
    // every trainer relation after uniWords is VOCABULARY-sized (the
    // corpus was already collapsed to distinct truncated words), yet
    // the distributed rounds pay ~6 checkpoint/collect jobs. Below the
    // bound, collect the word table once from its checkpoint and run
    // the identical integer EM locally — same substring enumeration,
    // same uniViterbi kernel, same (n desc, piece asc) total orders
    // (piece compared as unsigned UTF-8 bytes, Spark's string order).
    // Parity spec-pinned (UnigramSpec); driverMaxWords = 0 forces the
    // distributed rounds. A 100 TB corpus's distinct-word relation
    // exceeds the bound and trains distributed, unchanged.
    graft.functions.ScaleUtils.collectAtMost(words, UniDriverMaxWords) match {
      case Some(rows) => uniTrainDriver(spark,
        rows.map(r => (r.getString(0), r.getLong(1))), words)
      case None => uniTrainDistributed(spark, words)
    }
  }

  /** Word-table bound for [[uniTrain]]'s driver cutover: 2²⁰ distinct
    * truncated words ≈ 24 MB collected — broadcast-build-side scale
    * (the cost table derived from it is broadcast anyway). */
  private[graft] val UniDriverMaxWords: Int = 1 << 20

  /** The distributed EM rounds over a checkpointed word relation — the
    * at-scale path, and the parity reference for the driver cutover. */
  private[graft] def uniTrainDistributed(spark: SparkSession,
      words: DataFrame): (DataFrame, Map[String, Long], DataFrame) = {
    import spark.implicits._
    val chars = words
      .select(explode(split(col("tok"), "")).as("piece")).distinct()
      .localCheckpoint(true)
    val sub = uniSubCounts(words).localCheckpoint(true)
    var vocab = sub.where(length(col("piece")) > 1)
      .orderBy(col("n").desc, col("piece")).limit(UniSeedK)
      .unionAll(sub.join(chars, Seq("piece")))
    var cost = uniCosts(vocab.as[(String, Long)].collect().toSeq)
    for (_ <- 1 to UniEmRounds) {
      val usage = uniSegments(words, cost)
        .select(explode(col("pieces")).as("piece"), col("cnt"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
        .localCheckpoint(true)
      vocab = usage.where(length(col("piece")) > 1)
        .orderBy(col("n").desc, col("piece")).limit(UniVocabTarget)
        .unionAll(chars.join(usage, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("n"), lit(0L)).as("n")))
      cost = uniCosts(vocab.as[(String, Long)].collect().toSeq)
    }
    (vocab, cost, words)
  }

  /** Spark's string sort order (UTF8String: unsigned byte comparison of
    * the UTF-8 encoding) — the driver-side twin, so local top-K picks
    * the identical rows. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side [[uniTrainDistributed]] over a collected word table —
    * identical integer EM (substring seed census, [[uniViterbi]]
    * E-step, (n desc, piece asc) prune with [[utf8Lt]] as the piece
    * order). Long sums are order-exact; [[uniCosts]] was always
    * driver-side. */
  private def uniTrainDriver(spark: SparkSession,
      w: Array[(String, Long)], words: DataFrame)
      : (DataFrame, Map[String, Long], DataFrame) = {
    import spark.implicits._
    val ord: Ordering[(String, Long)] = new Ordering[(String, Long)] {
      def compare(a: (String, Long), b: (String, Long)): Int =
        if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
        else if (a._1 == b._1) 0
        else if (utf8Lt(a._1, b._1)) -1 else 1
    }
    val chars: Seq[String] =
      w.iterator.flatMap(_._1.split("").iterator.filter(_.nonEmpty))
        .toSet.toSeq
    def topPlusChars(counts: scala.collection.Map[String, Long], k: Int,
        charN: String => Long): Seq[(String, Long)] =
      counts.iterator.filter(_._1.length > 1).toSeq.sorted(ord).take(k) ++
        chars.map(c => c -> charN(c))
    // substring seed census (uniSubCounts' enumeration, locally)
    val sub = scala.collection.mutable.HashMap.empty[String, Long]
    w.foreach { case (tok, cnt) =>
      var st = 0
      while (st < tok.length) {
        var l = 1
        val lMax = math.min(UniMaxPiece, tok.length - st)
        while (l <= lMax) {
          val p = tok.substring(st, st + l)
          sub(p) = sub.getOrElse(p, 0L) + cnt
          l += 1
        }
        st += 1
      }
    }
    // seed: top-UniSeedK multi-char substrings + chars AT their
    // substring counts. The distributed form is an INNER join of sub
    // with chars — every char of a word IS one of its length-1
    // substrings, so the filter below never actually drops (kept for
    // strict join faithfulness)
    var vocab = sub.iterator.filter(_._1.length > 1).toSeq.sorted(ord)
      .take(UniSeedK) ++
      chars.filter(sub.contains).map(c => c -> sub(c))
    var cost = uniCosts(vocab)
    for (_ <- 1 to UniEmRounds) {
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      w.foreach { case (tok, cnt) =>
        uniViterbi(tok, cost).foreach { p =>
          usage(p) = usage.getOrElse(p, 0L) + cnt
        }
      }
      vocab = topPlusChars(usage, UniVocabTarget,
        c => usage.getOrElse(c, 0L))
      cost = uniCosts(vocab)
    }
    (vocab.toDF("piece", "n"), cost, words)
  }

  /** ORACLED UNIGRAM VOCABULARY — the trained piece table: (piece,
    * n_uses, cost8), the artifact a unigram trainer ships (the other
    * mainstream tokenizer family next to [[bpeMerges]]' BPE). */
  def unigramVocab(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, _, _) = uniTrain(spark, Tables.documents(spark, dir))
    val tot = vocab.agg(sum(col("n") + 1).as("tot"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("n").as("n_uses"),
        (log2x8(col("tot")) - log2x8(col("n") + 1)).as("cost8"))
  }

  /** ORACLED UNIGRAM ENCODE — the frozen-tokenizer apply: every
    * distinct (truncated) word Viterbi-segmented under the final
    * costs: (tok, cnt, pieces, n_pieces). */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (_, cost, words) = uniTrain(spark, docs)
    uniSegments(words, cost)
      .select(col("tok"), col("cnt"),
        array_join(col("pieces"), " ").as("pieces"),
        size(col("pieces")).as("n_pieces"))
  }

  /** Materialize-once home of the TRAINED unigram vocabulary — the
    * tokenizer build/search split (the persisted-ANN-index
    * discipline): a production pipeline trains ONCE, ships the
    * (piece, uses, cost8) table, and every shard encodes from the
    * stored artifact without retraining. */
  private def prodUnigramPath(spark: SparkSession, dir: String): String =
    graft.functions.MaterializeCache.getOrWrite("prod_unigram", dir) {
      out =>
        val (vocab, _, _) = uniTrain(spark, Tables.documents(spark, dir))
        val tot = vocab.agg(sum(col("n") + 1).as("tot"))
        vocab.crossJoin(broadcast(tot))
          .select(col("piece"), col("n").as("n_uses"),
            (log2x8(col("tot")) - log2x8(col("n") + 1)).as("cost8"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$out/unigram_vocab")
    }

  /** PRODUCTION unigram encode — the frozen-tokenizer apply a real run
    * executes: Viterbi over the STORED vocabulary table (trained and
    * materialized once), never the training chain. Result-identical
    * to [[unigramEncode]] (the stored costs ARE the trained costs), so
    * it reuses that query's oracle — the green row grades the
    * serve-from-artifact plan itself. */
  /** The frozen tokenizer artifact's cost table, loaded once from the
    * materialized vocabulary — (piece → cost8), [[UniVocabTarget]]-
    * bounded, broadcast by every consumer. */
  private[graft] def prodUnigramCosts(spark: SparkSession,
      dir: String): Map[String, Long] =
    spark.read
      .parquet(s"${prodUnigramPath(spark, dir)}/unigram_vocab")
      .select(col("piece"), col("cost8"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def prodUnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val cost = prodUnigramCosts(spark, dir)
    uniSegments(uniWords(Tables.documents(spark, dir)), cost)
      .select(col("tok"), col("cnt"),
        array_join(col("pieces"), " ").as("pieces"),
        size(col("pieces")).as("n_pieces"))
  }

  /** TOKENIZER COMPARISON CARD — [[bpeFertility]]'s per-language
    * fertility for BOTH trained families side by side: BPE merges vs
    * the unigram-LM vocabulary over the same corpus. The signal a
    * multilingual tokenizer bake-off reads: whichever scheme costs
    * fewer tokens per word on a language serves it better. Integer
    * 1e-2 units throughout. */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (_, cost, uwords) = uniTrain(spark, docs)
    val useg = uniSegments(uwords, cost)
      .select(col("tok").as("utok"), size(col("pieces")).as("n_uni"))
    // the returned plan READS the loop's vocabulary — leave the base
    // frame cached (the bpeFertility contract; harness clears caches)
    val (_, words) = bpeLoop(spark, dir)
    val bseg = words.select(col("tok").as("btok"),
      size(split(trim(col("w")), "  ")).as("n_bpe"))
    explodeNN(docs, toks(col("text")), "w0", col("lang"))
      .join(bseg, col("w0") === col("btok"))
      .join(useg, substring(col("w0"), 1, UniMaxWordLen) === col("utok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_bpe")).as("n_bpe_tokens"),
        sum(col("n_uni").cast("long")).as("n_uni_tokens"))
      .withColumn("bpe_fertility_100",
        expr("n_bpe_tokens * 100 div n_words"))
      .withColumn("uni_fertility_100",
        expr("n_uni_tokens * 100 div n_words"))
  }

  /** UNIGRAM COVERAGE CARD — the OOV-pressure signal a tokenizer
    * evaluation reads next to fertility: per language, how much of the
    * encoded stream falls back to SINGLE-CHAR pieces (the unigram
    * analogue of byte-fallback rate — a language whose words the
    * learned pieces don't cover burns sequence length on characters).
    * Integer 1e-2 units: char_piece_rate_100 = char-pieces·100 div
    * pieces. Same scale shape as [[tokenizerCompare]] minus the BPE
    * arm. */
  def unigramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (_, cost, uwords) = uniTrain(spark, docs)
    val useg = uniSegments(uwords, cost)
      .select(col("tok").as("utok"),
        size(col("pieces")).as("n_uni"),
        size(filter(col("pieces"), p => length(p) === 1))
          .as("n_char_pieces"))
    explodeNN(docs, toks(col("text")), "w0", col("lang"))
      .join(useg, substring(col("w0"), 1, UniMaxWordLen) === col("utok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_uni").cast("long")).as("n_pieces"),
        sum(col("n_char_pieces").cast("long")).as("n_char_pieces"))
      .withColumn("char_piece_rate_100",
        expr("n_char_pieces * 100 div n_pieces"))
  }

  /** BPE-ish token estimate: regex word pieces + the chars/4 heuristic. */
  def tokenEstimate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(split(col("text"), "[^a-zA-Z0-9]+"), t => t =!= ""))
          .as("n_words"),
        tokEst(col("text")).as("n_tokens_est"))

  /** Heuristic language ID: stopword-marker counts per language, argmax
    * with a deterministic precedence. Cross-tabbed against the labeled
    * lang — the reconciliation-report shape of monitor:338-366. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val en = regexp_count(col("text"), lit("\\b(the|a|of|and)\\b"))
    val de = regexp_count(col("text"), lit("\\b(der|die|das|und)\\b"))
    val es = regexp_count(col("text"), lit("\\b(el|la|los|que)\\b"))
    val fr = regexp_count(col("text"), lit("\\b(le|les|des|est)\\b"))
    // fan-out before the 4 per-row regex censuses — identity at scale
    graft.functions.ScaleUtils.fanOutScan(
        Tables.documents(spark, dir), col("doc_id"))
      .withColumn("lang_pred",
        when(en >= de && en >= es && en >= fr && en > 0, "en")
          .when(de >= es && de >= fr && de > 0, "de")
          .when(es >= fr && es > 0, "es")
          .when(fr > 0, "fr")
          .otherwise("unk"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Quality floor (1e-4 units) below which a curation pass drops a
    * document — THE shared constant: the streaming admission gate and
    * the batch curation funnel both reference it, so the two can never
    * silently classify the same document differently. Lenient (well
    * below the "low" bucket bar at 5000): admission screens garbage,
    * the curation pass decides mixtures.
    *
    * Calibration (measured on the planted fixtures in CurationPackSpec
    * with [[quality10k]]): the garbage classes this floor exists
    * to screen — token spam, thin repeats, punctuation soup,
    * low-diversity junk — top out at 2740 (2740/2700/700/1950), while
    * clean prose bottoms at 6464, so 3000 sits in the measured empty
    * band with margin on both sides rather than being a bare constant.
    * Known reach limit: keyboard mash of UNIQUE tokens scores as
    * diverse text (~7000) — no lexical-ratio score separates it; a
    * deployment screens that class with the language-ID cross-check
    * ([[langId]]'s 'unk' bucket), not this floor. */
  val QualityFloor10k = 3000L

  /** Exact integer division for NON-NEGATIVE operands as a composable
    * expression: (a - a%b)/b — a-a%b is a multiple of b, so the double
    * division is exact. Lets per-row scores stay single expressions
    * (`expr("a div b")` needs named columns). */
  private def divPos(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** 1e-4-unit quality score of a text column as ONE per-row expression
    * — [[qualityScore]] and the streaming admission gate share it, so
    * the two can never drift.
    *
    * INTEGER-exact: the score is rational with denominator 1000*nTok
    * (weights 0.3/0.4/0.2/0.2 over count ratios), so compute the exact
    * numerator in longs and TRUNCATE to 1e-4 units with integer div.
    * A double rendition hit a cross-engine rounding-mode edge at sf0.1:
    * q = 0.53575 exactly — Spark's round() half-ups the shortest decimal
    * repr (0.5358), DuckDB rounds the binary value just under the half
    * (0.5357). Truncation of an exact integer has no such edge. */
  private[graft] def quality10k(text: Column): Column = {
    val nTok = size(toks(text))
    val nUniq = size(array_distinct(toks(text)))
    val nPunct = length(text) - length(regexp_replace(text, "[.,!?;:]", ""))
    val nStop = regexp_count(text, lit("\\b(the|a|of|and|in|to)\\b"))
    val tok = greatest(nTok, lit(1)).cast("long")
    val numer = lit(3L) * least(nTok, lit(100)).cast("long") * tok +
      lit(400L) * nUniq.cast("long") +
      lit(200L) * (tok - least(nPunct.cast("long"), tok)) +
      lit(100L) * least(lit(2L) * nStop.cast("long"), tok)
    divPos(numer * 10L, tok)
  }

  /** Quality score: length saturation, lexical diversity, punctuation and
    * stopword ratios folded into one [0,1]-ish score with buckets. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    // fan-out before the per-row quality regexes — identity at scale
    graft.functions.ScaleUtils.fanOutScan(
        Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), quality10k(col("text")).as("q10k"))
      .select(col("doc_id"),
        (col("q10k").cast("double") / 10000.0).as("quality"),
        when(col("q10k") >= 7000, "high")
          .when(col("q10k") >= 5000, "mid")
          .otherwise("low").as("bucket"))

  /** PER-LANGUAGE QUALITY PERCENTILES — the cross-lingual calibration
    * step before any global quality floor: a raw score distribution
    * differs by language (stopword lists, punctuation norms), so
    * mixing decisions should compare a doc against ITS OWN language's
    * distribution. pct_ppm = rank_below·10⁶ div (n−1) (min-rank
    * competition percentile; ties share a rank, integer-exact, 0 for
    * singleton strata).
    *
    * Scale shape — the HISTOGRAM TRICK, not a corpus sort: q10k is a
    * BOUNDED integer ∈ [0, 10⁴], so ranks come from the per-(lang,
    * score) count relation (≤ |langs|·10⁰⁰¹ rows however large the
    * corpus), one tiny cumulative window over it, and a BROADCAST join
    * back onto the scan. A window over the corpus would range-sort
    * 100 TB per language; this plan's only corpus-sized work is one
    * hash aggregate and one map-side broadcast probe. */
  def qualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), quality10k(col("text")).as("q10k"))
    val hist = scored.groupBy(col("lang"), col("q10k"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("q10k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("lang"))
    val ranks = hist
      .withColumn("cum_before", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .withColumn("n_total", sum(col("c")).over(wAll))
      .select(col("lang"), col("q10k"),
        when(col("n_total") > 1,
          expr("cum_before * 1000000L div (n_total - 1)"))
          .otherwise(lit(0L)).as("pct_ppm"))
    scored.join(broadcast(ranks), Seq("lang", "q10k"))
      .select(col("doc_id"), col("lang"), col("q10k"), col("pct_ppm"))
  }

  /** Repetition bars above which a document is flagged (the
    * Gopher-rules neighborhood: a fifth of the mass in one token or in
    * duplicated bigrams marks boilerplate/spam). In 1e-4 units — the
    * flags compare exact integers, never doubles. */
  val TopWordBar10k = 2000L
  val Dup2gramBar10k = 2000L

  /** Gopher-style repetition signals — the quality filter family that
    * catches boilerplate and keyboard-mash spam: the fraction of tokens
    * that are the single most frequent token, and the fraction of word
    * bigrams that are duplicates of an earlier bigram in the same doc.
    *
    * Scale shape: every signal is a per-row array computation — NO
    * shuffle anywhere (contrast the explode→groupBy formulation, which
    * shuffles the full token stream). The most-frequent-token count is
    * one pass over the sorted token array (max run length via
    * `aggregate`); fractions are exact-integer truncations to 1e-4
    * units, so both engines binary-agree (same trick as
    * [[qualityScore]]). */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    // fan-out before the per-row run-length work — identity at scale
    repetitionCore(graft.functions.ScaleUtils.fanOutScan(
      Tables.documents(spark, dir), col("doc_id")))

  /** Top-token fraction in 1e-4 units as one per-row expression: max run
    * length over the SORTED tokens = count of the most frequent token.
    * State: (prev token, current run, best run). toks() drops empties,
    * so the "" init can never match a token. */
  private[graft] def topWord10k(text: Column): Column = {
    val t = toks(text)
    val topCnt = aggregate(array_sort(t),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    divPos(topCnt * 10000L, greatest(size(t).cast("long"), lit(1L)))
  }

  /** Duplicate-bigram fraction in 1e-4 units as one per-row expression
    * (positional bigrams, duplicates kept). */
  private[graft] def dup2gram10k(text: Column): Column = {
    val g2 = grams(toks(text), 2)
    divPos((size(g2) - size(array_distinct(g2))).cast("long") * 10000L,
      greatest(size(g2).cast("long"), lit(1L)))
  }

  /** The repetition admission flag as one boolean expression — shared by
    * [[repetitionCore]] and the streaming admission gate. */
  private[graft] def repetitiveFlag(text: Column): Column =
    topWord10k(text) > TopWordBar10k || dup2gram10k(text) > Dup2gramBar10k

  /** [[repetition]] over any (doc_id, lang, text) relation. */
  def repetitionCore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        topWord10k(col("text")).as("top10k"),
        dup2gram10k(col("text")).as("dup10k"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("top10k").cast("double") / 10000.0).as("top_word_frac"),
        (col("dup10k").cast("double") / 10000.0).as("dup_2gram_frac"),
        (col("top10k") > TopWordBar10k || col("dup10k") > Dup2gramBar10k)
          .as("repetitive"))

  /** Unit of the unigram-LM probability scores: parts-per-million.
    * ppm keeps the long arithmetic overflow-free to ~9×10^12
    * occurrences of a single token (cnt·10^6 < 2^63) — past a 100 TB
    * corpus's top token — where 1e-9 units would overflow; the trade is
    * that tokens rarer than 1-in-a-million score 0 ppm (they dominate
    * min_tok_ppm, which is exactly the out-of-vocabulary signal the
    * filter wants). */
  val LmPpmUnit = 1000000L

  /** Unigram language-model document scoring — the integer-exact shape
    * of the KenLM/CCNet perplexity filter: train the corpus unigram
    * distribution, score each document by the MEAN corpus probability
    * of its tokens (ppm units, truncating division). Atypical-vocabulary
    * documents (spam, mash, wrong-language) score low; min_tok_ppm
    * flags single out-of-distribution tokens. A real deployment scores
    * against an n-gram LM trained on a REFERENCE corpus (wiki); the
    * machinery is identical — swap the counts relation.
    *
    * Scale shape: one explode + hash-agg builds the vocabulary (map-side
    * combine; vocab rows ≪ corpus rows), a 1-row total broadcast turns
    * counts into probabilities, and the score join is explode ⋈ vocab —
    * broadcastable until the vocabulary outgrows executors, then a
    * shuffle-hash join keyed on the token (high-frequency skew is AQE's
    * textbook split). All integer: cnt·ppm div total, then sum div n. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreCore(Tables.documents(spark, dir))

  /** [[lmScore]] over any (doc_id, lang, text) relation — split out so
    * specs can hand-compute the scores on a planted corpus. */
  private[graft] def lmScoreCore(docs: DataFrame): DataFrame = {
    val ex = explodeNN(docs, toks(col("text")), "tok",
      col("doc_id"), col("lang"))
    val counts = ex.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val probs = counts.crossJoin(broadcast(total))
      .select(col("tok"), expr(s"cnt * $LmPpmUnit div total").as("ppm"))
    ex.join(probs, Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), sum(col("ppm")).as("ppm_sum"),
        min(col("ppm")).as("min_tok_ppm"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr("ppm_sum div n_tok").as("avg_tok_ppm"), col("min_tok_ppm"))
  }

  /** Probability unit for the NB classifier's token likelihoods (parts
    * per billion — wide enough that the rarest Laplace-smoothed token
    * still receives a nonzero code at any tested corpus size). */
  val NbPpb = 1000000000L

  /** Eighth-octave integer log2: `8·⌊log2 x⌋ + top-3-mantissa-bits` —
    * monotone in x, ~±9% resolution, and EXACT cross-engine (both
    * engines render minimal binary strings, so the mantissa bits read
    * off the same characters). The fixed-point currency all NB weights
    * are denominated in; the coarse `length(bin(x))-1` octave trick
    * (freqSpectrum) is too blunt for likelihood RATIOS, where a factor
    * of 2 of resolution loses most of the signal. */
  private[graft] def log2x8(x: Column): Column = {
    val s = bin(x)
    val f = rpad(substring(s, 2, 3), 3, "0")
    ((length(s) - 1) * 8
      + (ascii(substring(f, 1, 1)) - 48) * 4
      + (ascii(substring(f, 2, 1)) - 48) * 2
      + (ascii(substring(f, 3, 1)) - 48)).cast("long")
  }

  /** DuckDB twin of [[log2x8]] over an integral SQL expression. */
  private[operators] def log2x8Sql(x: String): String =
    s"""(CAST((length(bin($x)) - 1) * 8
       |  + (ascii(substr(rpad(substr(bin($x), 2, 3), 3, '0'), 1, 1)) - 48) * 4
       |  + (ascii(substr(rpad(substr(bin($x), 2, 3), 3, '0'), 2, 1)) - 48) * 2
       |  + (ascii(substr(rpad(substr(bin($x), 2, 3), 3, '0'), 3, 1)) - 48)
       |  AS BIGINT))""".stripMargin

  /** NAIVE BAYES quality classifier, DISTILLED from the heuristic
    * labels — the learned-filter stage of a CCNet/GPT-3-shaped pipeline:
    * the hand rules ([[gopherShapeFail]] + the [[QualityFloor10k]] bar)
    * weakly label the corpus, a multinomial NB trains on those labels in
    * one aggregation pass, and every document gets a model score that
    * GENERALIZES the rules (a doc full of low-quality-class vocabulary
    * scores negative even when it happens to clear every hard rule).
    * All arithmetic is integer ([[log2x8]] fixed-point log-likelihoods,
    * Laplace +1 smoothing in [[NbPpb]] units), so the trained weights
    * and scores hash-match the DuckDB oracle exactly.
    *
    * Measured (sf0.01 Verify dump, 500 docs): 79.8% verdict agreement
    * with the labels it trained on; recall of heuristic positives 99%
    * (379/383 TP, 4 FN), with the disagreement almost entirely
    * vocabulary-positive docs that trip one hard rule (97 FP) — the
    * expected distillation asymmetry: token evidence generalizes, hard
    * cutoffs don't.
    *
    * Scale shape: [[lmScore]]'s skeleton with a class axis — one
    * explode + hash-agg builds per-class token counts (map-side
    * combine), totals and the class prior broadcast as 1-row frames,
    * and scoring is the explode ⋈ weights equi-join (broadcastable
    * until the vocabulary outgrows executors, then shuffle-hash keyed
    * on the token). Training IS one pass; no iteration, no driver-side
    * state. */
  def nbQuality(spark: SparkSession, dir: String): DataFrame =
    nbQualityCore(Tables.documents(spark, dir))

  /** The weak-label projection shared by training and scoring. */
  private def nbLabeled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("text"),
      when(!gopherShapeFail(col("text")) &&
        quality10k(col("text")) >= QualityFloor10k, 1L).otherwise(0L)
        .as("pos"))

  /** One-pass NB TRAINING — the MATERIALIZABLE model: (weights(tok, w),
    * prior(prior_w)). A production run writes both tables once (the
    * curationRun discipline) and every scorer — batch rescoring,
    * [[graft.streaming.StreamingAnalytics.nbGate]] on the ingest path —
    * derives from the stored model instead of re-training per use. */
  def nbTrain(docs: DataFrame): (DataFrame, DataFrame) = {
    val labeled = nbLabeled(docs)
    val ex = explodeNN(labeled, toks(col("text")), "tok", col("pos"))
    val cnts = ex.groupBy(col("tok")).agg(
      sum(col("pos")).as("cnt_pos"),
      sum(lit(1L) - col("pos")).as("cnt_neg"))
    val tots = cnts.agg(sum(col("cnt_pos")).as("tot_pos"),
      sum(col("cnt_neg")).as("tot_neg"), count(lit(1)).as("vsize"))
    val w = cnts.crossJoin(broadcast(tots))
      .select(col("tok"),
        (log2x8(expr(s"(cnt_pos + 1) * $NbPpb div (tot_pos + vsize)")) -
          log2x8(expr(s"(cnt_neg + 1) * $NbPpb div (tot_neg + vsize)")))
          .as("w"))
    val prior = labeled.agg(
      (log2x8(sum(col("pos")) + lit(1L)) -
        log2x8(sum(lit(1L) - col("pos")) + lit(1L))).as("prior_w"))
    (w, prior)
  }

  /** Scoring against a (possibly stored) model — the apply side of
    * [[nbTrain]]. INNER join on the weight table: scoring the training
    * corpus itself, every token is in-vocabulary by construction (this
    * is what the oracle pins); out-of-vocabulary-tolerant scoring for
    * NEW data is the gate's variant
    * ([[graft.streaming.StreamingAnalytics.nbGate]] left-joins with
    * weight 0 for unseen tokens). */
  def nbScoreFrom(docs: DataFrame, weights: DataFrame,
      prior: DataFrame): DataFrame =
    explodeNN(nbLabeled(docs), toks(col("text")), "tok",
        col("doc_id"), col("lang"), col("pos"))
      .join(weights, Seq("tok"))
      .groupBy(col("doc_id"), col("lang"), col("pos"))
      .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("w_sum"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("lang"), col("pos").as("heur_pos"),
        col("n_tok"), (col("w_sum") + col("prior_w")).as("nb_score"),
        when(col("w_sum") + col("prior_w") > 0, 1L).otherwise(0L)
          .as("nb_pos"))

  /** [[nbQuality]] over any (doc_id, lang, text) relation — split out so
    * specs can plant a corpus with known vocabulary separation. The
    * self-contained composition train ∘ score; identical plan to the
    * pre-split form (the explode subtree was already evaluated once per
    * consumer). */
  private[graft] def nbQualityCore(docs: DataFrame): DataFrame = {
    val (w, prior) = nbTrain(docs)
    nbScoreFrom(docs, w, prior)
  }

  /** NB CALIBRATION histogram — nb_score bucketed by octave (16 log2x8
    * units = one factor of 4 in likelihood ratio) × heuristic label.
    * The picture that justifies a deployment's `nbMinScore` choice: how
    * separated the two label populations are, where the mass sits, and
    * how much of each class any threshold trades away. Floor-division
    * binning via pmod so negative scores bin consistently in both
    * engines (truncating division splits the zero bucket). */
  def nbCalibration(spark: SparkSession, dir: String): DataFrame =
    nbQuality(spark, dir)
      .groupBy((col("nb_score") - pmod(col("nb_score"), lit(16L)))
        .as("score_bin"), col("heur_pos"))
      .agg(count(lit(1)).as("n_docs"))

  /** Most-discriminative tokens per class — the learned filter's "model
    * card": the k tokens with the largest positive and largest negative
    * weights, deterministic tie-break on the token. The interpretability
    * artifact a review reads next to [[nbCalibration]] ("WHY does the
    * model reject"); also the drift tripwire — a retrain whose top
    * tokens shift wholesale signals label or corpus drift before any
    * accuracy metric moves. TakeOrderedAndProject over the vocabulary
    * relation (top-k never sorts the full vocab globally). */
  def nbTopTokens(spark: SparkSession, dir: String, k: Int = 20)
      : DataFrame = {
    val (w, _) = nbTrain(Tables.documents(spark, dir))
    w.orderBy(col("w").desc, col("tok").asc).limit(k)
      .withColumn("side", lit("pos"))
      .unionByName(
        w.orderBy(col("w").asc, col("tok").asc).limit(k)
          .withColumn("side", lit("neg")))
  }

  /** Distillation audit: per-language confusion of the NB verdict
    * against the heuristic labels it trained on. High agreement means
    * the learned filter can replace the rule cascade at the margin;
    * the off-diagonal cells are exactly the documents where vocabulary
    * evidence and hand rules disagree — the review queue. */
  def nbQualityEval(spark: SparkSession, dir: String): DataFrame =
    nbQuality(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("heur_pos")).as("n_heur_pos"),
        sum(col("nb_pos")).as("n_nb_pos"),
        sum(when(col("heur_pos") === col("nb_pos"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("heur_pos") === 1L && col("nb_pos") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("heur_pos") === 0L && col("nb_pos") === 1L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("heur_pos") === 1L && col("nb_pos") === 0L, 1L)
          .otherwise(0L)).as("fn"))

  /** TOKEN FREQUENCY SPECTRUM — Zipf's-second-law histogram (types per
    * frequency octave): vocabulary counts bucketed by floor(log₂ cnt),
    * with per-octave type counts, occurrence sums and corpus share. The
    * vocabulary-shape statistic that distinguishes a healthy corpus
    * (long hapax tail, smooth octave decay) from OCR garbage (bloated
    * singleton tail) or template spam (mass parked in few high
    * octaves); read next to [[vocabCard]]'s scalar summaries.
    *
    * Deliberately the FREQUENCY spectrum, not the rank-frequency curve:
    * per-token rank needs a global total-order window (one task owns
    * the whole vocabulary — the forbidden funnel), while the octave
    * bucket is a per-row bit-length expression and the histogram is one
    * hash aggregation — fully distributed at any vocabulary size, and
    * the two curves carry the same Zipf information. Integer-exact:
    * bucket = length(bin(cnt)) − 1, shares in truncating ppm. */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame =
    freqSpectrumCore(Tables.documents(spark, dir))

  /** [[freqSpectrum]] over any (doc_id, lang, text) relation. */
  private[graft] def freqSpectrumCore(docs: DataFrame): DataFrame = {
    val counts = explodeNN(docs, toks(col("text")), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts
      .withColumn("freq_bucket", (length(bin(col("cnt"))) - 1).cast("int"))
      .groupBy(col("freq_bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("n_occ"),
        min(col("cnt")).as("min_cnt"), max(col("cnt")).as("max_cnt"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr(s"n_occ * $LmPpmUnit div total"))
      .drop("total")
  }

  /** QUALITY-SIGNAL AGREEMENT — the contingency table between the two
    * independent quality axes every curation pipeline runs (the
    * heuristic [[qualityScore]] bucket and the [[pplBuckets]] unigram-LM
    * third): per (quality bucket, LM third) cell, document count and
    * integer-ppm share. Diagonal mass (high↔head, low↔tail) means the
    * signals corroborate and either can gate alone; a hot off-diagonal
    * cell (high-quality/tail) is the population to eyeball before
    * trusting either filter — typically valid-but-rare vocabulary the
    * LM punishes, or spam the shape heuristics miss.
    *
    * Scale shape: both signal chains are linear (per-row expressions;
    * lm-score's vocab join); the contingency is one doc_id equi-join +
    * a ≤ 9-row aggregation with a broadcast 1-row total. */
  def signalAgreement(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(spark, dir)
      .select(col("doc_id"), col("bucket").as("q_bucket"))
    val p = pplBuckets(spark, dir)
      .select(col("doc_id"), col("bucket").as("lm_bucket"))
    val j = q.join(p, Seq("doc_id"))
      .groupBy(col("q_bucket"), col("lm_bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val total = j.agg(sum(col("n_docs")).as("total"))
    j.crossJoin(broadcast(total))
      .withColumn("share_ppm", expr(s"n_docs * $LmPpmUnit div total"))
      .drop("total")
  }

  /** Positional bigram relation (doc_id, lang, w1, bg) over a documents
    * frame — the shared base of [[bigramScore]] and [[collocations]];
    * docs under 2 tokens emit no rows. */
  private def bigramRel(docs: DataFrame): DataFrame =
    explodeNN(docs, grams(toks(col("text")), 2), "bg",
        col("doc_id"), col("lang"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))

  /** BIGRAM CONDITIONAL-LM document scoring — the order-2 upgrade of
    * [[lmScore]]'s unigram filter: train corpus bigram conditionals
    * p(w₂|w₁) = c(w₁w₂)·10⁶ div c(w₁·) (ppm, truncating — the
    * denominator is the FIRST-POSITION count, so conditionals per w₁
    * sum to ≤ 10⁶ by construction) and score each document by its mean
    * and minimum bigram conditional. Word-salad that passes the unigram
    * filter (common words, nonsense order) scores low here — exactly
    * the failure mode order-0 scoring cannot see; min_cond_ppm flags a
    * single never-followed transition. A deployment trains the
    * conditional table on a REFERENCE corpus — same machinery, swap the
    * counts relation.
    *
    * Scale shape: [[lmScore]]'s skeleton one order up — bigram vocab
    * hash-agg (map-side combine), conditioning counts as a second agg
    * over the SAME exploded relation, one equi-join on w1 (vocab-sized
    * both sides), scoring join explode ⋈ conditionals on the bigram
    * key, per-doc re-aggregation. All-integer ppm arithmetic. */
  def bigramScore(spark: SparkSession, dir: String): DataFrame =
    bigramScoreCore(Tables.documents(spark, dir))

  /** [[bigramScore]] over any (doc_id, lang, text) relation. */
  private[graft] def bigramScoreCore(docs: DataFrame): DataFrame = {
    val ex = bigramRel(docs)
    val cb = ex.groupBy(col("bg"))
      .agg(count(lit(1)).as("c_ab"), first(col("w1")).as("w1"))
    val cw = ex.groupBy(col("w1")).agg(count(lit(1)).as("c_a"))
    val pr = cb.join(cw, Seq("w1"))
      .select(col("bg"), expr(s"c_ab * $LmPpmUnit div c_a").as("cond_ppm"))
    ex.join(pr, Seq("bg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cond_ppm")).as("s"),
        min(col("cond_ppm")).as("min_cond_ppm"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        expr("s div n_bigrams").as("avg_cond_ppm"), col("min_cond_ppm"))
  }

  /** Occurrence floor below which a bigram is noise, not a collocation. */
  val CollocMinCount = 5L

  /** Collocations reported by [[collocations]]. */
  val CollocTopK = 20

  /** COLLOCATION MINING — the top bigrams by pointwise-mutual-
    * information LIFT: lift = p(w₁w₂) / (p(w₁·)·p(·w₂)) with all three
    * probabilities from the bigram table's own contingency marginals
    * (first-position, second-position), reported in exact ppm units.
    * The phrase-mining statistic a tokenizer team reads before adding
    * multi-word entries, and a corpus-QA surface for template artifacts
    * (a synthetic phrase stitched into many documents tops this list
    * long before any dedup bar fires). The [[CollocMinCount]] floor
    * drops one-off pairings whose lift is pure noise.
    *
    * Scale shape: three hash aggregations over one exploded relation +
    * two vocab-sized equi-joins; the lift arithmetic runs in
    * DECIMAL(38,0) (c_ab·N_bg·10⁶ reaches ~10³² at 100 TB scale — past
    * long range, inside decimal exactly; both engines truncate to the
    * same integer) and the final top-[[CollocTopK]] is an ORDER BY +
    * LIMIT — TakeOrderedAndProject, never a global window. */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsCore(Tables.documents(spark, dir))

  /** [[collocations]] over any (doc_id, lang, text) relation. */
  private[graft] def collocationsCore(docs: DataFrame): DataFrame = {
    val ex = bigramRel(docs)
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val total = ex.agg(count(lit(1)).as("n_bg"))
    val cb = ex.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= CollocMinCount)
    val c1 = ex.groupBy(col("w1")).agg(count(lit(1)).as("c_a1"))
    val c2 = ex.groupBy(col("w2")).agg(count(lit(1)).as("c_b2"))
    cb.join(c1, Seq("w1")).join(c2, Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm",
        expr(s"""CAST(CAST(c_ab AS DECIMAL(38,0)) * n_bg * $LmPpmUnit
                 div (CAST(c_a1 AS DECIMAL(38,0)) * c_b2) AS BIGINT)"""))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a1"), col("c_b2"),
        col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
  }

  /** Held-out split for [[knHeldoutScore]]: doc_id ≡ 0 (mod this) is
    * scored, the rest trains — deterministic and scale-free, so the
    * held-out side always contains bigrams the trained table has never
    * seen (the case the smoothing exists for). */
  val KnHeldMod = 10

  /** KNESER-NEY-SMOOTHED bigram LM with HELD-OUT scoring — the
    * principled form of the CCNet reference-perplexity filter. The
    * existing [[bigramScore]] self-trains, so every bigram it scores is
    * in its own table and the unseen-bigram path never runs; here the
    * model trains on ~90% of the corpus ([[KnHeldMod]]) and scores the
    * held-out rest, where unseen transitions are routine and the score
    * quality hinges on the smoothing:
    *
    *   p_KN(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *               + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N_types
    *
    * with discount D = 3/4 (the standard fixed discount) and the
    * continuation distribution N₁₊(·w₂)/N_types — "how many distinct
    * contexts precede w₂" — as the backoff, which is Kneser-Ney's whole
    * point (a token frequent only inside one collocation backs off
    * LOW). An entirely-unseen context w₁ falls back to the continuation
    * distribution itself; an unseen continuation w₂ scores 0 — the
    * out-of-distribution signal `min_kn_ppm` surfaces.
    *
    * INTEGER-EXACT in ppm: D = 3/4 clears denominators —
    * the discounted term is `max(4·c_ab − 3, 0)·10⁶ div (4·c_a)` and
    * the backoff term `3·fan·cont·10⁶ div (4·c_a·N_types)` — one
    * truncating division each, summed AFTER dividing (both operands
    * non-negative, so Spark `div` ≡ DuckDB `//`). The backoff numerator
    * `3·fan·cont·10⁶` is bounded by 3·|vocab|²·10⁶ — inside long to
    * ~10⁶ vocabulary; past that promote to DECIMAL(38,0) exactly as
    * [[collocations]] does its lift.
    *
    * Scale shape: [[bigramScore]]'s skeleton plus two vocab-sized
    * aggregations (fan-out N₁₊(w₁·) and continuation N₁₊(·w₂) are both
    * counts over the bigram-types table — one row per distinct bigram,
    * never a count-distinct over occurrences) and a 1-row N_types
    * broadcast; scoring is the exploded held-out relation left-joined
    * against vocab-sized tables on bigram / w₁ / w₂ keys. */
  def knHeldoutScore(spark: SparkSession, dir: String): DataFrame =
    knHeldoutCore(Tables.documents(spark, dir))

  /** [[knHeldoutScore]] over any (doc_id, lang, text) relation. */
  private[graft] def knHeldoutCore(docs: DataFrame): DataFrame = {
    val isHeld = col("doc_id") % KnHeldMod === 0
    val train = bigramRel(docs.where(!isHeld))
    val held = bigramRel(docs.where(isHeld))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    // bigram TYPES table: c_ab per bigram; fan-out and continuation are
    // row-counts over it (distinct-by-construction, no count-distinct)
    val cab = train.groupBy(col("bg"))
      .agg(count(lit(1)).as("c_ab"), first(col("w1")).as("w1"))
    val ca = train.groupBy(col("w1")).agg(count(lit(1)).as("c_a"))
    val fan = cab.groupBy(col("w1")).agg(count(lit(1)).as("fan"))
    val cont = cab
      .select(substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("cont"))
    val ntypes = cab.agg(count(lit(1)).as("n_types"))
    val scored = held
      .join(cab.select(col("bg"), col("c_ab")), Seq("bg"), "left")
      .join(ca, Seq("w1"), "left")
      .join(fan, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(ntypes))
      .withColumn("kn_ppm", expr(
        s"""CASE
           |  WHEN c_a IS NULL THEN
           |    coalesce(cont, 0L) * $LmPpmUnit div n_types
           |  ELSE
           |    greatest(4 * coalesce(c_ab, 0L) - 3, 0L) * $LmPpmUnit
           |      div (4 * c_a)
           |    + 3 * fan * coalesce(cont, 0L) * $LmPpmUnit
           |      div (4 * c_a * n_types)
           |END""".stripMargin))
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("kn_ppm")).as("s"),
        min(col("kn_ppm")).as("min_kn_ppm"),
        sum(when(col("c_ab").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        expr("s div n_bigrams").as("avg_kn_ppm"), col("min_kn_ppm"),
        col("n_unseen"))
  }

  /** Counter budget for [[sketchBounds]] — smaller than this corpus's
    * per-language vocabulary (31), so counters churn: the eviction and
    * offset-decrement paths of the sketch run on every partition. */
  val SketchK = 16

  /** SKETCH-BOUND audit of the Misra-Gries token census
    * ([[graft.plans.MisraGriesTopK]]) — the GROUPED use of the custom
    * `TypedImperativeAggregate` (one bounded sketch per language, built
    * in one pass with map-side partial merges) graded by its
    * deterministic contract: per language, the exact token total and
    * vocabulary, the count of guaranteed-heavy tokens (cnt > n/(k+1)),
    * `all_present` (every such token is in the sketch — vacuously true
    * on a flat corpus, load-bearing on a skewed one), and `all_bounded`
    * (EVERY surviving counter undercounts its token's true frequency by
    * at most n/(k+1) — the per-item Misra-Gries bound, non-vacuous
    * regardless of skew since the sketch always holds counters). Which
    * near-bar counters survive is merge-order-dependent; the booleans
    * are not. A broken merge (overcount) or eviction (lost heavy token)
    * flips a boolean and fails the hash.
    *
    * Scale shape: sketch pass = one partial-aggregated scan, ≤ k
    * counters per partition per language over the shuffle; the exact
    * side exists to GRADE the sketch (at 100 TB one runs the sketch
    * alone — that asymmetry is the operator's point). */
  def sketchBounds(spark: SparkSession, dir: String): DataFrame = {
    val mg = graft.plans.MisraGriesTopK.mgTopK(spark) _
    val ex = explodeNN(Tables.documents(spark, dir), toks(col("text")),
      "tok", col("lang"))
    val sk = ex.groupBy(col("lang"))
      .agg(mg(col("tok"), SketchK).as("sketch"))
      .select(col("lang"), explode(col("sketch")).as("e"))
      .select(col("lang"), col("e.tok").as("tok"), col("e.est").as("est"))
    val exact = ex.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val tot = exact.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tok"), count(lit(1)).as("vocab"))
    val heavyStats = exact.join(tot, Seq("lang"))
      .where(col("cnt") * (SketchK + 1) > col("n_tok"))
      .join(sk.select(col("lang"), col("tok"), col("est")),
        Seq("lang", "tok"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_heavy"),
        min(col("est").isNotNull).as("all_present"))
    val boundStats = sk
      .join(exact, Seq("lang", "tok"), "left")
      .join(tot.select(col("lang"), col("n_tok")), Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(col("cnt").isNotNull && col("est") <= col("cnt")
        && (col("cnt") - col("est")) * (SketchK + 1) <= col("n_tok"))
        .as("all_bounded"))
    tot.join(heavyStats, Seq("lang"), "left")
      .join(boundStats, Seq("lang"))
      .select(col("lang"), col("n_tok"), col("vocab"),
        coalesce(col("n_heavy"), lit(0L)).as("n_heavy"),
        coalesce(col("all_present"), lit(true)).as("all_present"),
        col("all_bounded"))
  }

  /** Count-Min geometry: 4 hash rows (one md5 digest's four 8-hex
    * slices) × 256 counters — 8 KB of state; ε = e/w ≈ 1% of the
    * stream as the standard overestimate envelope. */
  val CmDepth = 4
  val CmWidth = 256

  /** Deep geometry (VERDICT r12 item 6): d = 6 crosses the chained-
    * digest boundary — rows 4–5 read the `'1|'`-prefixed SECOND md5
    * digest ([[graft.plans.CountMinSketch.buckets]]), so a green
    * counter-exact oracle at this depth proves the chain, not just the
    * original 4-slice form. δ = e^−6 ≈ 0.25% per point query. */
  val CmDepthDeep = 6

  /** A token no corpus document contains — the negative probe of
    * [[countMinEst]] (its exact count is 0; its estimate is whatever
    * collision mass its buckets carry, and must still overestimate). */
  val CmUnseenToken = "qq_never_token"

  /** The COUNT-MIN TABLE itself ([[graft.plans.CountMinSketch]]):
    * (row, bucket, cnt) for every non-empty counter after one
    * partial-aggregated pass over the token stream. CM is fully
    * deterministic under unordered merges (bucket sums commute), so —
    * unlike the Misra-Gries contract queries — the oracle recomputes
    * EVERY counter from scratch and the hash grades the aggregate's
    * actual arithmetic, update path and merge path both.
    *
    * Scale shape: one scan, d·w longs per partition over the shuffle,
    * constant-size output. The exact census this replaces shuffles the
    * vocabulary. */
  def countMinTable(spark: SparkSession, dir: String): DataFrame =
    cmTableAtDepth(spark, dir, CmDepth)

  /** [[countMinTable]] at [[CmDepthDeep]] — the chained-digest depths
    * the d ≤ 4 form couldn't reach, graded by the same counter-exact
    * oracle (rows ≥ 4 recompute from the prefixed second digest). */
  def countMinDeepTable(spark: SparkSession, dir: String): DataFrame =
    cmTableAtDepth(spark, dir, CmDepthDeep)

  private def cmTableAtDepth(spark: SparkSession, dir: String,
      depth: Int): DataFrame = {
    val cm = graft.plans.CountMinSketch.countMin(spark) _
    explodeNN(Tables.documents(spark, dir), toks(col("text")), "tok")
      .agg(cm(col("tok"), depth, CmWidth).as("sk"))
      .select(posexplode(col("sk")).as(Seq("pos", "cnt")))
      .where(col("cnt") > 0)
      .select(expr(s"CAST(pos div $CmWidth AS BIGINT)").as("row_i"),
        expr(s"CAST(pos % $CmWidth AS BIGINT)").as("bucket"),
        col("cnt"))
  }

  /** POINT-FREQUENCY ESTIMATES from the count-min sketch: for each
    * probe token (the [[Bm25Query]] terms plus a deliberately unseen
    * one), `est = min_i sk[i·w + h_i(tok)]` next to the exact count and
    * the CM guarantee `est ≥ exact` (collisions only ever ADD). The
    * estimates are deterministic, so they cross the oracle as values —
    * the DuckDB twin recomputes the same md5-slice buckets and minimum.
    *
    * The probe arithmetic runs in the SQL md5/conv idiom on the Spark
    * side too, pinning the JVM kernel ([[graft.plans.CountMinSketch
    * .buckets]]) and the column expression to the same bytes. */
  def countMinEst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cm = graft.plans.CountMinSketch.countMin(spark) _
    val ex = explodeNN(Tables.documents(spark, dir), toks(col("text")),
      "tok")
    val sk = ex.agg(cm(col("tok"), CmDepth, CmWidth).as("sk"))
    val probes = (Bm25Query :+ CmUnseenToken).toDF("tok")
    val est = least((0 until CmDepth).map { i =>
      expr(s"""sk[CAST(conv(substring(md5(cast(tok AS binary)),
              |  ${1 + 8 * i}, 8), 16, 10) % $CmWidth AS INT)
              |  + ${i * CmWidth}]""".stripMargin)
    }: _*)
    val exact = ex.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    probes.crossJoin(broadcast(sk))
      .withColumn("est", est)
      .join(exact, Seq("tok"), "left")
      .select(col("tok"), coalesce(col("cnt"), lit(0L)).as("exact_cnt"),
        col("est"), (col("est") >= coalesce(col("cnt"), lit(0L)))
          .as("over_ok"))
  }

  /** JOIN-SIZE ESTIMATION by count-min inner product — the planner
    * statistic CM was built for (Cormode & Muthukrishnan §4.2): the
    * size of an equi-join on a key equals the inner product of the two
    * sides' frequency vectors, and `min_i Σ_b A_i[b]·B_i[b]` bounds it
    * from ABOVE (collisions only add cross terms). Demonstrated on the
    * [[KnHeldMod]] train/held token streams: two 8 KB sketches answer
    * "how many (train, held) token matches would a join produce"
    * without touching the vocabulary — at 100 TB that is two one-pass
    * aggregates and a driver-side dot product, vs an exact answer that
    * shuffles both vocabularies.
    *
    * The per-row dot product runs through [[graft.plans.DotProductLong]]
    * (the codegen'd kernel the similarity family hot-loops); both the
    * estimate and the exact size are deterministic and cross the
    * oracle as values, with the overestimate contract as the boolean.
    * Long-range: Σ cnt_a·cnt_b ≤ n_a·n_b ≈ 10²⁸ at 100 TB — past long;
    * the oracle-checked demo stays at probe scale, and the scaladoc'd
    * production form promotes the products to DECIMAL(38,0) exactly as
    * [[collocations]] does. */
  def countMinJoinSize(spark: SparkSession, dir: String): DataFrame = {
    val cm = graft.plans.CountMinSketch.countMin(spark) _
    val dot = graft.plans.DotProductLong.dotLong(spark) _
    val isHeld = col("doc_id") % KnHeldMod === 0
    def toksOf(held: Boolean) = explodeNN(
      Tables.documents(spark, dir).where(if (held) isHeld else !isHeld),
      toks(col("text")), "tok")
    val skA = toksOf(held = false)
      .agg(cm(col("tok"), CmDepth, CmWidth).as("sk_a"))
    val skB = toksOf(held = true)
      .agg(cm(col("tok"), CmDepth, CmWidth).as("sk_b"))
    val est = least((0 until CmDepth).map { i =>
      dot(slice(col("sk_a"), i * CmWidth + 1, CmWidth),
        slice(col("sk_b"), i * CmWidth + 1, CmWidth))
    }: _*)
    val exact = toksOf(held = false).groupBy(col("tok"))
      .agg(count(lit(1)).as("c_a"))
      .join(toksOf(held = true).groupBy(col("tok"))
        .agg(count(lit(1)).as("c_b")), Seq("tok"))
      .agg(sum(col("c_a") * col("c_b")).as("exact_size"))
    skA.crossJoin(broadcast(skB))
      .withColumn("est_size", est)
      .crossJoin(broadcast(exact))
      .select(col("exact_size"), col("est_size"),
        (col("est_size") >= col("exact_size")).as("over_ok"))
  }

  /** PSI bucket width over the bounded q10k domain → 21 buckets. */
  val PsiBucketWidth = 500L

  /** Bucket count (q10k ∈ [0, 10⁴] inclusive). */
  val PsiBuckets: Long = 10000L / PsiBucketWidth + 1

  /** POPULATION STABILITY INDEX — the ML-ops drift metric between a
    * reference and a current corpus slice (here the deterministic
    * doc_id parity split; in production, yesterday's snapshot vs
    * today's): per quality bucket, Σ (p − q)·ln(p/q). Rendered
    * INTEGER-EXACT in the repo's fixed-point currency — shares in
    * smoothed ppm, logs through [[log2x8]] (eighth-octave resolution,
    * bit-identical cross-engine) — so each bucket's contribution is
    * `(p_ppm − q_ppm) · (log2x8(p_ppm) − log2x8(q_ppm))`:
    * both factors share a sign (the log is monotone), so contributions
    * stay non-negative exactly like real PSI. Counts are +1-smoothed
    * over the FULL 21-bucket spine (empty buckets exist as rows), the
    * standard PSI guard against log-of-zero. Units: ppm ×
    * eighth-octaves — a fixed rescale of nats, so thresholds calibrate
    * once and transfer.
    *
    * Scale shape: one quality pass + one 21-key hash aggregate; the
    * spine join and totals are constant-size. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), quality10k(col("text")).as("q10k"))
      .withColumn("bucket", expr(s"q10k div $PsiBucketWidth"))
    val cnts = scored.groupBy(col("bucket"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
        .as("n_ref"),
        sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_cur"))
    val spine = spark.range(PsiBuckets).select(col("id").as("bucket"))
    val full = spine.join(cnts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = full.agg(sum(col("n_ref")).as("tot_ref"),
      sum(col("n_cur")).as("tot_cur"))
    full.crossJoin(broadcast(tot))
      .withColumn("p_ppm",
        expr(s"(n_ref + 1) * 1000000 div (tot_ref + $PsiBuckets)"))
      .withColumn("q_ppm",
        expr(s"(n_cur + 1) * 1000000 div (tot_cur + $PsiBuckets)"))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        col("p_ppm"), col("q_ppm"),
        ((col("p_ppm") - col("q_ppm")) *
          (log2x8(col("p_ppm")) - log2x8(col("q_ppm"))))
          .as("psi_contrib"))
  }

  /** Keywords kept per document by [[tfidfKeywords]]. */
  val TfidfTopK = 5

  /** Per-document TOP-K KEYWORD extraction by rarity-weighted term
    * relevance — the TF-IDF report a curation pipeline attaches to each
    * document for topic routing, index previews, and eyeball QA of
    * cluster labels. The score is integer-exact: `tf · 10⁶ div df`
    * (term frequency over corpus document frequency) — idf enters as
    * the exact reciprocal document frequency rather than its log, which
    * keeps the whole statistic in long arithmetic (the repo-wide
    * cross-engine discipline: both engines would agree on `ln` only to
    * 1 ulp, and a hash-compared rank must never hinge on a rounding
    * coin-flip). Ranking within a document is monotone in tf and in
    * 1/df exactly as TF-IDF is; only the relative weighting of the two
    * axes differs from the log form.
    *
    * Scale shape: tf is one hash aggregation over the exploded relation
    * (map-side partial combine); df is a count over tf (one row per
    * (doc, tok) — count IS document frequency, no count-distinct); the
    * score join is tf ⋈ df on the token — broadcastable until the
    * vocabulary outgrows executors, then a shuffle-hash join with AQE
    * skew split (the [[lmScore]] join shape). The top-k window
    * partitions by doc_id — high-cardinality, so no funnel: every task
    * ranks only its own documents' ~vocabulary rows. */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    tfidfKeywordsCore(Tables.documents(spark, dir))

  /** [[tfidfKeywords]] over any (doc_id, lang, text) relation — split
    * out so specs can hand-score a planted corpus. */
  private[graft] def tfidfKeywordsCore(docs: DataFrame): DataFrame = {
    val tf = explodeNN(docs, toks(col("text")), "tok",
        col("doc_id"), col("lang"))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_ppm").desc, col("tok").asc)
    tf.join(df, Seq("tok"))
      .withColumn("score_ppm", expr(s"tf * $LmPpmUnit div df"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("lang"), col("rank"), col("tok"),
        col("tf"), col("df"), col("score_ppm"))
  }

  /** Fixed query-term set for [[bm25TopK]] — one rare term (high idf)
    * and two common ones, so the ranking exercises both the idf spread
    * and the tf-saturation curve on this corpus. */
  val Bm25Query: Seq[String] = Seq("dup", "spark", "key")

  /** Documents returned by [[bm25TopK]]. */
  val Bm25TopK = 20

  /** Fixed-point scale for the BM25 idf: idf8 is denominated in
    * eighth-octaves ([[log2x8]] units) of (2N+2)/(2df+1) — the
    * Robertson-Sparck-Jones idf `ln((N-df+0.5)/(df+0.5)+1)` with the
    * log base and a constant factor absorbed into the unit. 2^20 of
    * headroom keeps three mantissa bits of the ratio. */
  private[operators] val Bm25FpScale = 1L << 20

  /** log2x8(2^20) — the constant subtracted to re-zero the fixed point. */
  private[operators] val Bm25FpLog = 160L

  /** BM25 RANKED RETRIEVAL — score every document against a fixed
    * query-term set and return the global top-[[Bm25TopK]]: the lexical
    * counterpart of the ANN search family (a curation pipeline uses it
    * to pull topical slices, audit dedup groups by keyword, and as the
    * sparse arm of hybrid retrieval — see CurationOps.rrfFusion).
    *
    * INTEGER-EXACT BM25 (k1 = 1.2, b = 0.75): the repo-wide
    * cross-engine discipline (no floating `ln`, no float sums whose
    * order could differ between engines). Two substitutions keep every
    * intermediate a long:
    *   - idf enters in [[log2x8]] eighth-octave units:
    *     `idf8 = log2x8((2N+2)·2^20 div (2df+1)) − 160` — monotone in
    *     the real idf, ±9% resolution, exact in both engines;
    *   - avgdl enters as the integer `S div N` (corpus tokens over
    *     corpus docs), so the tf-saturation denominator
    *     `tf + k1·(1−b+b·dl/avgdl)` cross-multiplies to the all-long
    *     `(10·A·tf + 3·A + 9·dl)` with numerator `idf8·22·A·tf`
    *     (k1, b folded: ×10A turns 1.2·(0.25+0.75·dl/A) into 3A+9dl).
    *     A is bounded by document length — never corpus size — so the
    *     numerator stays ≤ idf8·22·A·tf ≪ 2^63 at any corpus scale.
    *
    * Scale shape: one aggregation pass over the tokenized corpus
    * computes N, S and every df (map-side partial combine, one tiny
    * row out); the 1-row stats broadcast back onto the scoring scan
    * (per-doc tf is an array filter over the row's own tokens — no
    * exploded join); the tail is TakeOrderedAndProject (per-partition
    * top-k, driver merges k×P candidate rows). Two full scans, zero
    * shuffles of corpus-sized data. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(Tables.documents(spark, dir), Bm25Query)
      .orderBy(col("bm25_x8").desc, col("doc_id").asc)
      .limit(Bm25TopK)
      .select(col("doc_id"), col("lang"), col("bm25_x8"))

  /** Every document with its integer BM25 score against `terms` —
    * [[bm25TopK]] without the top-k tail, reused by the RRF fusion.
    * Statistics (N, S, every df) come from one aggregation pass over
    * the same scan; [[bm25TopKFrom]] serves them from a stored index
    * instead. */
  private[graft] def bm25Scored(docs: DataFrame,
      terms: Seq[String]): DataFrame = {
    val tk = bm25Tokenized(docs)
    val dfCols = sum(col("dl")).as("s_tok") +: terms.zipWithIndex.map {
      case (t, i) =>
        sum(when(array_contains(col("tk"), lit(t)), 1L).otherwise(0L))
          .as(s"df_$i")
    }
    val stats = tk.agg(count(lit(1)).cast("long").as("n_docs"), dfCols: _*)
    bm25ScoredWith(tk, stats, terms)
  }

  /** Every document scored against EACH term SEPARATELY — one stats pass
    * and one scoring pass for the whole term set, emitting (term_idx,
    * doc_id, lang, dl, bm25_x8) with bm25_x8 identical to
    * `bm25Scored(docs, Seq(term))` for that term alone: per-term df/tf
    * enter the same all-long formula, and n_docs/s_tok/avgdl do not
    * depend on the term set. Replaces a per-term caller loop's
    * 2·|terms| corpus passes with 2 (guide §1.2 "remove unnecessary
    * passes") — [[graft.operators.CurationOps.retrievalEval]]'s lexical
    * arms were 10 scans of the salted corpus as a 5-way union. The
    * unpivot is one `stack` generator over the scored row (terms×rows
    * output, no shuffle). */
  private[graft] def bm25ScoredPerTerm(docs: DataFrame,
      terms: Seq[String]): DataFrame = {
    val tk = bm25Tokenized(docs)
    val dfCols = sum(col("dl")).as("s_tok") +: terms.zipWithIndex.map {
      case (t, i) =>
        sum(when(array_contains(col("tk"), lit(t)), 1L).otherwise(0L))
          .as(s"df_$i")
    }
    val stats = tk.agg(count(lit(1)).cast("long").as("n_docs"), dfCols: _*)
    val withTf = terms.zipWithIndex.foldLeft(
      tk.crossJoin(broadcast(stats))
        .withColumn("avgdl", expr("s_tok div n_docs"))) {
      case (d, (t, i)) =>
        d.withColumn(s"tf_$i",
            size(filter(col("tk"), x => x === lit(t))).cast("long"))
          .withColumn(s"idf8_$i",
            log2x8(expr(
              s"(2 * n_docs + 2) * $Bm25FpScale div (2 * df_$i + 1)"))
              - lit(Bm25FpLog))
    }
    val stackArgs = terms.indices.map { i =>
      s"""$i, CAST((CASE WHEN tf_$i > 0
         |  THEN (idf8_$i * 22 * avgdl * tf_$i)
         |       div (10 * avgdl * tf_$i + 3 * avgdl + 9 * dl)
         |  ELSE 0 END) AS BIGINT)""".stripMargin
    }.mkString(", ")
    withTf.select(col("doc_id"), col("lang"), col("dl"),
      expr(s"stack(${terms.size}, $stackArgs) as (term_idx, bm25_x8)"))
  }

  /** (doc_id, lang, tk, dl) — the scoring scan both BM25 forms share. */
  private def bm25Tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), toks(col("text")).as("tk"))
      .withColumn("dl", size(col("tk")).cast("long"))

  /** Score a tokenized corpus against a 1-row stats relation
    * (n_docs, s_tok, df_0..df_k) — the stats row broadcasts onto the
    * scan regardless of where it came from (inline aggregate or the
    * stored [[bm25Index]]). */
  private def bm25ScoredWith(tk: DataFrame, stats: DataFrame,
      terms: Seq[String]): DataFrame = {
    val withTf = terms.zipWithIndex.foldLeft(
      tk.crossJoin(broadcast(stats))
        .withColumn("avgdl", expr("s_tok div n_docs"))) {
      case (d, (t, i)) =>
        d.withColumn(s"tf_$i",
            size(filter(col("tk"), x => x === lit(t))).cast("long"))
          .withColumn(s"idf8_$i",
            log2x8(expr(
              s"(2 * n_docs + 2) * $Bm25FpScale div (2 * df_$i + 1)"))
              - lit(Bm25FpLog))
    }
    val score = terms.indices.map { i =>
      s"""(CASE WHEN tf_$i > 0
         |  THEN (idf8_$i * 22 * avgdl * tf_$i)
         |       div (10 * avgdl * tf_$i + 3 * avgdl + 9 * dl)
         |  ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    withTf.withColumn("bm25_x8", expr(s"CAST($score AS BIGINT)"))
      .select(col("doc_id"), col("lang"), col("dl"), col("bm25_x8"))
  }

  /** DuckDB CTEs rendering [[bm25Scored]] over `documents` — ends in
    * relation `bm25sc(doc_id, lang, bm25_x8)`; shared by the
    * q_bm25_topk and q_rrf_fusion oracles so the lexical arm can never
    * drift between them. */
  private[operators] def bm25CtesSql(terms: Seq[String]): String =
    bm25CtesSqlOver("documents", terms, "")

  /** [[bm25CtesSql]] over an arbitrary source relation with a CTE-name
    * suffix, so several instantiations (one per eval query) can share
    * one statement — ends in `bm25sc$sfx(doc_id, lang, bm25_x8)`. */
  private[operators] def bm25CtesSqlOver(src: String, terms: Seq[String],
      sfx: String): String = {
    val t = "list_filter(string_split(text, ' '), x -> x <> '')"
    val dfs = terms.zipWithIndex.map { case (t0, i) =>
      s"CAST(sum(CASE WHEN list_contains(t, '$t0') THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    }.mkString(",\n    ")
    val tfs = terms.zipWithIndex.map { case (t0, i) =>
      s"CAST(len(list_filter(t, x -> x = '$t0')) AS BIGINT) AS tf_$i"
    }.mkString(",\n    ")
    val idfs = terms.indices.map { i =>
      s"${log2x8Sql(s"(2 * n_docs + 2) * $Bm25FpScale // (2 * df_$i + 1)")} - $Bm25FpLog AS idf8_$i"
    }.mkString(",\n    ")
    val score = terms.indices.map { i =>
      s"""(CASE WHEN tf_$i > 0
         |      THEN (idf8_$i * 22 * avgdl * tf_$i)
         |           // (10 * avgdl * tf_$i + 3 * avgdl + 9 * dl)
         |      ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    s"""bmtk$sfx AS (SELECT doc_id, lang, $t AS t,
       |    CAST(len($t) AS BIGINT) AS dl FROM $src),
       |bmst$sfx AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS s_tok,
       |    $dfs
       |  FROM bmtk$sfx),
       |bmtf$sfx AS (SELECT doc_id, lang, dl, s_tok // n_docs AS avgdl,
       |    n_docs,
       |    $tfs,
       |    $idfs
       |  FROM bmtk$sfx, bmst$sfx),
       |bm25sc$sfx AS (SELECT doc_id, lang, dl,
       |    CAST($score AS BIGINT) AS bm25_x8
       |  FROM bmtf$sfx)""".stripMargin
  }

  // --- persisted BM25 statistics (the lexical index) -----------------

  /** Materialize the corpus's lexical index once per corpus content per
    * JVM ([[graft.functions.MaterializeCache]]): the
    * FULL-VOCABULARY document-frequency table (`df/`: tok, df — any
    * future query serves from it, not just today's terms) and the 1-row
    * corpus stats (`stats/`: n_docs, s_tok). One corpus scan at build;
    * [[bm25TopKFrom]] then serves any query with ONE scan (scoring)
    * instead of two — the same build/serve split the ANN index family
    * uses ([[VectorOps.writeAnnIndex]]). At 100 TB the df table is
    * vocabulary-sized (millions of rows, kilobyte-scale per-term) and
    * the per-query slice of it broadcasts. */
  private[graft] def bm25Index(spark: SparkSession, dir: String): String =
    graft.functions.MaterializeCache.getOrWrite("bm25_index", dir) { out =>
      val tk = bm25Tokenized(Tables.documents(spark, dir))
      tk.select(col("doc_id"), explode(array_distinct(col("tk"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$out/df")
      tk.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("dl")).as("s_tok"))
        .write.mode("overwrite").parquet(s"$out/stats")
    }

  /** [[bm25TopK]] served from a STORED index — the production plan: the
    * query's df slice is a tiny filtered read of the vocabulary table
    * (a term the index never saw scores df = 0, so a stale index fails
    * toward high idf, never toward silence), pivoted to the 1-row stats
    * shape and broadcast onto the single scoring scan. Result-identical
    * to the self-contained form by construction (same stats values,
    * same scoring expression), so the declared query reuses
    * q_bm25_topk's oracle — the green row grades the serve plan. */
  def bm25TopKFrom(spark: SparkSession, dir: String,
      indexDir: String): DataFrame = {
    val terms = Bm25Query
    val dfSlice = spark.read.parquet(s"$indexDir/df")
      .where(col("tok").isin(terms: _*))
    val dfRow = dfSlice.agg(
      coalesce(max(when(col("tok") === terms.head, col("df"))), lit(0L))
        .as("df_0"),
      terms.zipWithIndex.drop(1).map { case (t, i) =>
        coalesce(max(when(col("tok") === t, col("df"))), lit(0L))
          .as(s"df_$i")
      }: _*)
    val stats = spark.read.parquet(s"$indexDir/stats").crossJoin(dfRow)
    bm25ScoredWith(bm25Tokenized(Tables.documents(spark, dir)), stats, terms)
      .orderBy(col("bm25_x8").desc, col("doc_id").asc)
      .limit(Bm25TopK)
      .select(col("doc_id"), col("lang"), col("bm25_x8"))
  }

  /** The index-served form as a declared query ([[bm25Index]] built
    * lazily per dir per JVM — the prodCurationFunnel discipline). */
  def prodBm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25TopKFrom(spark, dir, bm25Index(spark, dir))

  /** Gopher-style rule bars (word-level subset — this corpus has no
    * line structure or non-word symbols, so the line/symbol/ellipsis
    * rules of the published set are vacuous here; the repetition rules
    * reuse [[TopWordBar10k]]/[[Dup2gramBar10k]] so the filter and the
    * repetition report can never disagree). */
  val GopherMinTok = 20L
  val GopherMaxTok = 10000L
  val GopherMinAvgLen = 3L
  val GopherMaxAvgLen = 10L
  val GopherMinStop = 2L

  /** The three NON-repetition Gopher rules (word-count bounds, mean
    * word length, stopword floor) as ONE boolean FAIL expression — the
    * curation funnel's rule stage evaluates this in its main projection
    * (the top-token/dup-bigram rules are deliberately absent: the
    * funnel's repetitive stage precedes the rule stage and already
    * catches exactly those docs under the same bars). Parity with
    * [[gopherRulesCore]]'s per-flag columns is spec-pinned. */
  private[graft] def gopherShapeFail(text: Column): Column = {
    val nTok = size(toks(text)).cast("long")
    val chars = length(replace(text, lit(" "), lit(""))).cast("long")
    val nStop = regexp_count(text, lit("\\b(the|a|of|and|in|to)\\b"))
      .cast("long")
    !(nTok >= GopherMinTok && nTok <= GopherMaxTok &&
      chars >= lit(GopherMinAvgLen) * nTok &&
      chars <= lit(GopherMaxAvgLen) * nTok && nTok > 0 &&
      nStop >= GopherMinStop)
  }

  /** Gopher-style quality RULE FILTER — the hard-cutoff sibling of the
    * soft [[qualityScore]]: each document gets one boolean per rule
    * (word-count bounds, mean-word-length bounds, stopword floor,
    * top-token and duplicate-bigram caps) plus the conjunction. Rule
    * filters are the first curation stage a Gopher/RefinedWeb-shaped
    * pipeline runs because each rule is cheap and explainable; the
    * per-rule columns are what an ablation report aggregates.
    *
    * Scale shape: every rule is a per-row expression (the repetition
    * fractions reuse the run-length/array forms — no shuffle anywhere);
    * mean word length compares exact integers (3n ≤ chars ≤ 10n), never
    * a float ratio. Linear, fully codegen'd. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    // fan-out before the per-row rule expressions — identity at scale
    gopherRulesCore(graft.functions.ScaleUtils.fanOutScan(
      Tables.documents(spark, dir), col("doc_id")))

  /** [[gopherRules]] over any (doc_id, lang, text) relation — split out
    * so specs can plant documents that trip each rule separately. */
  private[graft] def gopherRulesCore(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t).cast("long")
    // sum of word lengths = chars minus spaces (single-space corpus;
    // toks drops empties so runs of spaces only shrink the sum, same
    // as the oracle's replace)
    val chars = length(replace(col("text"), lit(" "), lit(""))).cast("long")
    val nStop = regexp_count(col("text"), lit("\\b(the|a|of|and|in|to)\\b"))
    docs.select(col("doc_id"), col("lang"), nTok.as("n_tok"),
        chars.as("chars"), nStop.cast("long").as("n_stop"),
        topWord10k(col("text")).as("top10k"),
        dup2gram10k(col("text")).as("dup10k"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("n_tok") >= GopherMinTok && col("n_tok") <= GopherMaxTok)
          .as("word_count_ok"),
        (col("chars") >= lit(GopherMinAvgLen) * col("n_tok")
          && col("chars") <= lit(GopherMaxAvgLen) * col("n_tok")
          && col("n_tok") > 0).as("avg_len_ok"),
        (col("n_stop") >= GopherMinStop).as("stop_ok"),
        (col("top10k") <= TopWordBar10k).as("top_ok"),
        (col("dup10k") <= Dup2gramBar10k).as("dup_ok"))
      .withColumn("pass",
        col("word_count_ok") && col("avg_len_ok") && col("stop_ok")
          && col("top_ok") && col("dup_ok"))
  }

  /** A shingle counts as boilerplate when its document frequency
    * exceeds max([[BoilerplateDocBar]], docs/[[BoilerplateFracDiv]]) —
    * the RELATIVE part is what makes the bar scale-stable: an absolute
    * bar alone flags ever more of a growing corpus (at web scale nearly
    * every common phrase clears any constant), while "appears in > 1%
    * of documents" keeps the boiler set the high-frequency tail at any
    * size. The absolute floor guards tiny corpora where 1% < a handful
    * of docs. */
  val BoilerplateDocBar = 5L
  val BoilerplateFracDiv = 100L

  /** A doc with more than this fraction (1e-4 units) of boilerplate
    * shingles is flagged for scrubbing. */
  val BoilerplateHeavyBar10k = 3000L

  /** Cross-document BOILERPLATE scan — the shingle-granularity analogue
    * of line-level dedup (CCNet/RefinedWeb scrub the lines shared across
    * many pages; this corpus has no line structure, so the 3-gram
    * shingle is the repetition unit): a shingle appearing in >
    * [[BoilerplateDocBar]] distinct docs is boilerplate, and each doc
    * reports what fraction of its shingles that covers.
    *
    * Scale shape: [[shingles3]] is distinct-per-doc, so the document
    * frequency is a plain count over the exploded relation (no
    * count-distinct shuffle); the boilerplate set is tiny by
    * construction (high-frequency tail) and AQE turns the join back
    * into a broadcast. Linear in corpus size end to end. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateCore(Tables.documents(spark, dir), BoilerplateDocBar)

  /** [[boilerplate]] over any (doc_id, lang, text) relation. The
    * effective bar is max(docBar, n_docs/[[BoilerplateFracDiv]]), with
    * the corpus size arriving as a broadcast 1-row aggregate — never a
    * driver-side count job. */
  def boilerplateCore(docs: DataFrame, docBar: Long): DataFrame = {
    // NO fan-out here (r18, measured): both shingle consumers sit above
    // the same groupBy/join exchange (ReuseExchange), so the added
    // repartition stage read 1.05-1.25x against flat controls
    // explode_outer: shingles3 is total (never null/empty) — row-identical
    // to explode, but no pruning Filter re-evaluating the shingle tree
    // per row (see DedupOps.explodedDocs)
    val ex = docs
      .select(col("doc_id"), col("lang"),
        explode_outer(shingles3(col("text"))).as("sh"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    // shingles3 is array_distinct: one row per (doc, shingle) pair, so
    // count(1) IS the document frequency
    val boiler = ex.groupBy(col("sh"))
      .agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(total))
      .where(col("nd") >
        greatest(lit(docBar), expr(s"n_total div $BoilerplateFracDiv")))
      .select(col("sh"))
    val perDoc = ex.join(boiler, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    docs
      .select(col("doc_id"), col("lang"),
        size(shingles3(col("text"))).cast("long").as("n_sh"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("b10k", expr("n_boiler * 10000 div greatest(n_sh, 1)"))
      .select(col("doc_id"), col("lang"), col("n_sh"), col("n_boiler"),
        (col("b10k").cast("double") / 10000.0).as("boiler_frac"),
        (col("b10k") > BoilerplateHeavyBar10k).as("boiler_heavy"))
  }

  /** Shingle-level NOVELTY — the inverse signal of [[boilerplate]]: per
    * document, the fraction of its distinct 3-gram shingles whose
    * lowest-id carrier is the document itself (first-seen content).
    * Curation mixes rank novel documents up and quote-heavy documents
    * down; the same statistic over crawl SNAPSHOTS (owner = earliest
    * snapshot) is the novelty curve a recrawl scheduler reads.
    *
    * Scale shape: identical skeleton to [[graft.operators.CurationOps
    * .chunkDedupOf]] at shingle granularity — owner resolution is one
    * hash aggregate on the shingle (partial min combines map-side),
    * joined back on the same key, then one per-doc re-aggregation;
    * fractions are integer-exact 1e-4 truncations. */
  def shingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    // explode_outer: shingles3 is total — see DedupOps.explodedDocs;
    // fan-out before the shingle pass — identity at scale
    val ex = graft.functions.ScaleUtils.fanOutScan(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode_outer(shingles3(col("text"))).as("sh"))
    val owners = ex.groupBy(col("sh")).agg(min(col("doc_id")).as("owner_id"))
    ex.join(owners, Seq("sh"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("doc_id") === col("owner_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("nov10k", expr("n_novel * 10000 div n_sh"))
      .select(col("doc_id"), col("lang"), col("n_sh"), col("n_novel"),
        (col("nov10k").cast("double") / 10000.0).as("novel_frac"))
  }

  /** Per-language EXACT token-length quantiles (p50/p90/p99) via the
    * histogram trick: the corpus collapses to a (lang, n_tok) count
    * histogram in one hash aggregation, and the quantile selection runs
    * a window over the HISTOGRAM — thousands of rows at any corpus
    * size, never the corpus itself (the naive per-lang rank window is
    * the low-cardinality funnel; `percentile_approx` trades exactness
    * for one pass — this keeps both, because the metric is
    * integer-valued). Selection is pure integer arithmetic:
    * pXX = min n_tok with 100·cum ≥ XX·total. */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, dir)
      .select(col("lang"), size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("n_tok"))
      .agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("n_tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    def pick(p: Int): Column =
      min(when(col("cum") * 100 >= col("total") * p, col("n_tok")))
        .as(s"p$p")
    hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .groupBy(col("lang"))
      .agg(max(col("total")).as("n_docs"), pick(50), pick(90), pick(99))
  }

  /** Winnowing window: each fingerprint is the min gram hash over
    * [[WinnowWindow]] consecutive positions, guaranteeing any match of
    * ≥ window+gram−1 tokens shares a fingerprint (the MOSS guarantee). */
  val WinnowWindow = 4

  /** MOSS over-common-fingerprint drop, absolute floor: a fingerprint
    * present in more than max([[WinnowDfBar]],
    * docs/[[WinnowDfFracDiv]]) documents is boilerplate (license
    * headers, nav chrome) — MOSS itself excludes such fingerprints as
    * carrying no authorship signal, and the overlap equi-join would go
    * quadratic on exactly those keys. */
  val WinnowDfBar = 100L

  /** Fractional arm of the winnow df cap (docs div this). */
  val WinnowDfFracDiv = 20L

  /** WINNOWED robust fingerprints — the MOSS/winnowing document
    * signature: hash every POSITIONAL 3-gram (duplicates and order
    * kept, unlike [[shingles3]]), then keep the minimum hash of each
    * [[WinnowWindow]]-position window. The selected set is position-
    * robust — any sufficiently long shared run between two documents
    * selects at least one common fingerprint regardless of where it
    * sits — which is the guarantee bag-of-shingles sampling lacks.
    * Emits per doc: gram/fingerprint counts, the winnowed density, and
    * `robust_fp` (md5 of the sorted fingerprint set) — equal robust_fp
    * ⇒ near-identical content; the exploded fingerprint relation is the
    * overlap-join key for a plagiarism-style pass.
    *
    * Scale shape: entirely per-row array expressions (no shuffle): the
    * gram hashes materialize ONCE as a named array column — Catalyst
    * does not CSE into lambda bodies, so the window-min transform
    * slices that column, costing O(len·window) per row. Docs shorter
    * than window+2 tokens collapse to one whole-window fingerprint
    * (mirrored in the oracle). */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintCore(Tables.documents(spark, dir)).drop("fps")

  /** [[winnowFingerprint]] over any (doc_id, lang, text) relation,
    * KEEPING the exploded-ready `fps` array column — specs assert the
    * shared-run guarantee on it, and an overlap join explodes it. */
  private[graft] def winnowFingerprintCore(docsIn: DataFrame): DataFrame = {
    // fan-out before the per-row gram-hash + window-min walk (O(len*W)
    // interpreted HOFs) — identity at scale (see ScaleUtils.fanOutScan)
    val docs = graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        grams3OrWhole(toks(col("text"))).as("grams"))
      .withColumn("h", transform(col("grams"), g => md5(g.cast("binary"))))
      .withColumn("fps", expr(
        s"array_distinct(transform(" +
          s"sequence(1, greatest(size(h) - ${WinnowWindow - 1}, 1)), " +
          s"i -> array_min(slice(h, i, $WinnowWindow))))"))
      .select(col("doc_id"), col("lang"),
        size(col("h")).cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        md5(array_join(array_sort(col("fps")), " ").cast("binary"))
          .as("robust_fp"),
        col("fps"))
  }

  /** Minimum shared contiguous run, in TOKENS, that [[sharedSpans]]
    * reports. Lee et al. ("Deduplicating Training Data") use 50 tokens
    * for web-scale corpora; the declared query pins a corpus-sized bar
    * so the synthetic tables exercise the span math (the bar is the
    * single knob a production run raises). */
  val SpanBarTokens = 15

  /** EXACT SUBSTRING-RUN DEDUP — the Lee et al. "Deduplicating Training
    * Data" pass: for every document pair sharing a contiguous run of
    * ≥ [[SpanBarTokens]] tokens, report the MAXIMAL shared span length
    * and where it sits in each document. [[winnowOverlapBest]] only
    * detects that some ≥6-token run exists and scores the pair
    * fractionally; this pass measures the actual span — the artifact an
    * exact-substring dedup acts on (clip or drop the repeated span).
    *
    * Suffix arrays are the single-machine formulation; the
    * shuffle-native equivalent used here is positional-gram DIAGONAL
    * RUNS: hash every positional 3-gram (the winnow gram relation
    * without window-min), equi-join on the hash, and coalesce matches
    * per (pair, pa−pb diagonal) into maximal runs of consecutive
    * positions (the classic island trick: pos − row_number is constant
    * exactly on a consecutive run). A shared run of S tokens is S−2
    * consecutive matching grams on one diagonal — span = run + 2,
    * exact, wherever the run sits.
    *
    * Scale shape: docs shorter than the bar are pruned before anything
    * (a span needs that many tokens on BOTH sides); the gram-hash array
    * materializes once per doc and is eagerly checkpointed before the
    * explode (the winnowOverlap HOF-pushdown lesson); over-common grams
    * are dropped by the same df cap as the winnow chain (boilerplate
    * runs are [[crossDocScrub]]'s job — counting them as pair evidence
    * would square the join); the diagonal window partitions on the
    * high-cardinality (pair, diag) key. At 100 TB run
    * [[sharedSpansCandidates]] — the same core with the positional
    * join bounded to winnowed-fingerprint candidate pairs (every
    * ≥bar-token span pair shares winnowed fingerprints by the MOSS
    * guarantee, so the result is identical — spec-pinned). */
  def sharedSpans(spark: SparkSession, dir: String): DataFrame =
    sharedSpansCore(spark, Tables.documents(spark, dir), SpanBarTokens)

  /** CANDIDATE-RESTRICTED [[sharedSpans]] — the 100 TB execution: the
    * positional-gram self-join is the pass's only superlinear risk, so
    * restrict it to pairs the winnowed-fingerprint join already
    * surfaces ([[winnowOverlapBest]]'s candidate relation — every
    * ≥bar-token shared run selects common fingerprints by the MOSS
    * guarantee, so candidate recall for qualifying pairs is total and
    * the result is IDENTICAL to the direct form, spec-pinned). The
    * restriction lands as a broadcastable-or-shuffled semi-join of the
    * match relation on (id_a, id_b) — gram pairs outside the candidate
    * set never reach the diagonal window. */
  def sharedSpansCandidates(spark: SparkSession, dir: String): DataFrame =
    sharedSpansCandidatesCore(spark, Tables.documents(spark, dir),
      SpanBarTokens)

  private[graft] def sharedSpansCandidatesCore(spark: SparkSession,
      docs: DataFrame, barTokens: Int): DataFrame = {
    val fps = winnowFingerprintCore(docs)
      .select(col("doc_id"), col("fps"))
      .localCheckpoint(true)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val cand = fps.select(col("doc_id").as("id_a"), col("fp"))
      .join(fps.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    sharedSpansCore(spark, docs, barTokens, Some(cand))
  }

  /** [[sharedSpans]] over any (doc_id, text) relation — split out so
    * specs can plant runs of known length and position. `candidates`
    * (id_a < id_b), when given, bounds the match relation — the
    * [[sharedSpansCandidates]] production restriction. */
  private[graft] def sharedSpansCore(spark: SparkSession, docs: DataFrame,
      barTokens: Int, candidates: Option[DataFrame] = None): DataFrame =
    spanRunsCore(spark, docs, barTokens, candidates)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("span_tokens")).as("span_tokens"),
        max_by(struct(col("sa"), col("sb")),
          struct(col("span_tokens"), (-col("sa")).as("nsa"),
            (-col("sb")).as("nsb"))).as("at"))
      .select(col("id_a"), col("id_b"), col("span_tokens"),
        (col("at.sa") + 1).cast("long").as("start_a"),
        (col("at.sb") + 1).cast("long").as("start_b"))

  /** Every qualifying (≥ bar tokens) maximal shared run with both
    * 0-based gram offsets — the relation BOTH the per-pair report
    * ([[sharedSpansCore]]) and the scrub action ([[spanScrubCore]])
    * consume, so "what was measured" and "what gets removed" can never
    * disagree. */
  private def spanRunsCore(spark: SparkSession, docsIn: DataFrame,
      barTokens: Int, candidates: Option[DataFrame]): DataFrame = {
    // fan-out before the per-row positional-gram md5 walk the checkpoint
    // materializes — identity at scale (see ScaleUtils.fanOutScan)
    val docs = graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
    val t = toks(col("text"))
    val pgArr = docs
      .where(size(t) >= barTokens)
      .select(col("doc_id"),
        transform(grams(t, 3), g => md5(g.cast("binary"))).as("h"))
      .localCheckpoint(true)
    val pg = pgArr
      .select(col("doc_id"), posexplode(col("h")))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val hot = pg.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(total))
      .where(col("nd") >
        greatest(lit(WinnowDfBar), expr(s"n_total div $WinnowDfFracDiv")))
      .select(col("h"))
    val kept = pg.join(hot, Seq("h"), "left_anti")
    // with candidates: prune each join SIDE to docs appearing in some
    // candidate pair (docs sharing no winnowed fingerprint with anyone
    // never enter the positional join at all), then bound the match
    // relation to the exact candidate pairs
    val (keptA, keptB) = candidates match {
      case Some(c) => (
        kept.join(c.select(col("id_a").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi"),
        kept.join(c.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi"))
      case None => (kept, kept)
    }
    val m0 = keptA
      .select(col("doc_id").as("id_a"), col("pos").as("pa"), col("h"))
      .join(keptB.select(col("doc_id").as("id_b"), col("pos").as("pb"),
        col("h")), Seq("h"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val m = candidates match {
      case Some(c) => m0.join(c, Seq("id_a", "id_b"), "left_semi")
      case None => m0
    }
    val wI = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    val runs = m
      .withColumn("island", col("pa") - row_number().over(wI))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run"),
        min(col("pa")).as("sa"), min(col("pb")).as("sb"))
      .withColumn("span_tokens", col("run") + lit(2L))
      .where(col("span_tokens") >= barTokens)
    runs
  }

  /** CROSS-DOCUMENT SPAN SCRUB — the ACTION of the Lee et al. pass
    * ([[sharedSpans]] measures; this removes): every token of the
    * LATER document (id_b of each id_a < id_b pair — the same
    * first-keeps convention as [[crossDocScrub]]'s owner rule) covered
    * by a qualifying ≥ bar-token shared run is dropped; one copy of
    * every long shared span survives the corpus. Overlapping spans
    * from different partners union per position. Emits
    * [[repeatScrub]]'s schema (doc_id, n_tok, n_removed, scrubbed_fp)
    * so the three scrubs (intra-doc repeats, corpus boilerplate,
    * cross-doc spans) compose by the same projection.
    *
    * Scale shape: the runs relation is [[sharedSpans]]'s own
    * intermediate (candidate-boundable the same way); the removal is
    * the repeat-scrub skeleton — span explode (span-sized, not
    * corpus-sized), (doc, pos) anti-join, ordered reassembly agg. */
  def spanScrub(spark: SparkSession, dir: String): DataFrame =
    spanScrubCore(spark, Tables.documents(spark, dir), SpanBarTokens)

  /** [[spanScrub]] over any (doc_id, text) relation. */
  private[graft] def spanScrubCore(spark: SparkSession, docs: DataFrame,
      barTokens: Int): DataFrame = {
    val covered = spanRunsCore(spark, docs, barTokens, None)
      .select(col("id_b").as("doc_id"),
        explode(sequence(col("sb"), col("sb") + col("run") + lit(1)))
          .as("pos"))
      .distinct()
    val toksed = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .where(size(col("t")) > 0)
    val pos = toksed.select(col("doc_id"), posexplode(col("t")))
      .withColumnRenamed("col", "tok")
    val scrub = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").cast("binary")).as("fp"))
    toksed.select(col("doc_id"), size(col("t")).as("n_tok"))
      .join(scrub, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("fp"), md5(lit("").cast("binary"))).as("scrubbed_fp"))
  }

  /** Best OVERLAP match per document over the winnowed fingerprints —
    * the plagiarism-detector pass [[winnowFingerprint]] feeds: join on
    * shared fingerprints, score each pair by CONTAINMENT
    * (shared / min(|fps_a|, |fps_b|) — a short doc fully quoted inside
    * a long one scores 1.0, where Jaccard dilutes), arg-max per doc.
    * Position-robust: the MOSS guarantee means any ≥ 6-token shared run
    * contributes at least one joined row, wherever it sits in either
    * document.
    *
    * Scale shape: the fingerprint relation is ~2/(window+1) the size of
    * the gram relation, and the equi-join on the 32-char fp is the
    * blocked/sub-quadratic formulation (same skeleton as
    * [[jaccardBestMatch]]'s shingle join, on a 2.5× thinner relation);
    * ties break on the full total order (overlap desc, id asc). Docs
    * sharing no fingerprint with anyone emit no row — identical in the
    * oracle.
    *
    * The exploded fingerprint relation is MATERIALIZED (eager
    * `localCheckpoint`) before the self-join: Spark pushes the
    * join-key null filter below the deriving projections, which
    * inlines the whole gram-hash chain into the per-window-position
    * lambda — O(L²) interpreted HOF work per document, on BOTH join
    * branches (the r9 plan defect: 43 s at sf0.1 on 5 k docs). The
    * checkpointed relation is ~4 rows/doc of (id, count, hash) — far
    * smaller than the text it derives from — and the derivation runs
    * exactly once. PlanAssertionsSpec pins the no-HOF-below-the-join
    * property.
    *
    * Fingerprints above the df cap (max([[WinnowDfBar]],
    * docs div [[WinnowDfFracDiv]]) documents) are dropped from BOTH
    * candidate generation and the shared count — boilerplate must not
    * surface pairs or count as overlap evidence — while the containment
    * denominator keeps the full |fps|. The hot set is tiny by
    * construction (high-frequency tail), so the anti-join broadcasts. */
  def winnowOverlapBest(spark: SparkSession, dir: String): DataFrame =
    winnowOverlapBestCore(Tables.documents(spark, dir))

  /** [[winnowOverlapBest]] over any (doc_id, lang, text) relation. */
  private[graft] def winnowOverlapBestCore(docs: DataFrame): DataFrame = {
    // checkpoint BEFORE the explode: the non-outer Generate makes
    // InferFiltersFromGenerate add `size(fps) > 0` beneath it, and
    // predicate pushdown inlines that through the deriving projections
    // into a per-row Filter over the raw text — the O(L²) chain again,
    // this time below the checkpoint. Materializing the per-doc array
    // first leaves the inferred filter a cheap size() over a stored
    // column.
    val all = winnowFingerprintCore(docs)
      .select(col("doc_id"), col("n_fps"), col("fps"))
      .localCheckpoint(true)
      .select(col("doc_id"), col("n_fps"), explode(col("fps")).as("fp"))
    // fps is array_distinct per doc: count(1) IS the document frequency
    val total = docs.agg(count(lit(1)).as("n_total"))
    val hot = all.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(total))
      .where(col("nd") >
        greatest(lit(WinnowDfBar), expr(s"n_total div $WinnowDfFracDiv")))
      .select(col("fp"))
    val fps = all.join(hot, Seq("fp"), "left_anti")
    val a = fps.select(col("doc_id").as("id_a"), col("n_fps").as("n_a"),
      col("fp"))
    val b = fps.select(col("doc_id").as("id_b"), col("n_fps").as("n_b"),
      col("fp"))
    a.join(b, Seq("fp"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"), first(col("n_a")).as("n_a"),
        first(col("n_b")).as("n_b"))
      .withColumn("ov", col("shared").cast("double")
        / least(col("n_a"), col("n_b")))
      .groupBy(col("id_a").as("doc_id"))
      .agg(max_by(col("id_b"), struct(col("ov"), -col("id_b")))
          .as("best_match"),
        round(max(col("ov")), 4).as("best_overlap"))
  }

  /** Document fingerprinting: content hash of the normalized text plus a
    * bag-of-words canonical hash (order-insensitive). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        contentFp(col("text")).as("content_fp"),
        md5(array_join(array_sort(array_distinct(toks(col("text")))), " ")
          .cast("binary")).as("bag_fp"))

  /** Exact-dedup summary — A11: total vs distinct by full text, normalized
    * fingerprint, and 40-char prefix (cheap candidate key). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_uniq_text"),
        countDistinct(contentFp(col("text")))
          .as("n_uniq_fp"),
        countDistinct(substring(col("text"), 1, 40)).as("n_uniq_prefix40"))

  /** 3-gram Jaccard best-match per document — n-gram Jaccard near-dup in
    * its exact form. Shape: explode distinct shingles → equi-join on
    * (lang, shingle) → group per pair counting shared shingles → Jaccard
    * from integer set sizes (exact rational, engine-portable) → arg-max
    * per doc. The shingle equi-join is the blocked/shuffle-friendly
    * formulation; LSH replaces it beyond ~10^7 docs (see DedupOps).
    * Docs sharing no shingle with anyone have no best match (dropped) —
    * identical in the oracle. */
  def jaccardBestMatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), shingles3(col("text")).as("tset"))
      .withColumn("n_tok", size(col("tset")))
    // deliberately NOT persisted: the self-join's branches re-derive
    // shingles from the column-pruned scan (2x compute of a cheap
    // expression) — measured within host noise of caching locally, and
    // recompute-from-scan beats materializing a ~10x exploded relation
    // at 100 TB; no CacheManager entry can leak in a long-lived session.
    // explode_outer: shingles3 is total — see DedupOps.explodedDocs
    val exploded = docs.select(col("doc_id"), col("lang"), col("n_tok"),
      explode_outer(col("tset")).as("tok"))
    val a = exploded.select(col("doc_id").as("id_a"), col("lang"),
      col("n_tok").as("n_a"), col("tok"))
    val b = exploded.select(col("doc_id").as("id_b"), col("lang"),
      col("n_tok").as("n_b"), col("tok"))
    // full (asymmetric) self-join: each unordered pair appears once per
    // direction, so the per-doc arg-max needs no union — a union of two
    // selects over the pair aggregate would run the join+agg twice.
    val pairs = a.join(b, Seq("lang", "tok"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"), first(col("n_a")).as("n_a"),
        first(col("n_b")).as("n_b"))
      .withColumn("jac", col("shared").cast("double")
        / (col("n_a") + col("n_b") - col("shared")))
    pairs.groupBy(col("id_a").as("doc_id"))
      .agg(max_by(col("id_b"), struct(col("jac"), -col("id_b"))).as("best_match"),
        round(max(col("jac")), 4).as("best_jac"))
  }

  /** CCNet-style PERPLEXITY BUCKETS — split the corpus into
    * head/middle/tail THIRDS by the unigram-LM document score
    * ([[lmScore]]'s `avg_tok_ppm`; higher = more typical text): the
    * partition CCNet trains different-quality model variants on and the
    * standard knob for "keep head+middle, drop tail". Thresholds come
    * from the integer score HISTOGRAM walked top-down (the
    * [[graft.operators.CurationOps.qualityBudgetFloor]] trick — windows
    * over thousands of histogram rows at any corpus size, never the
    * corpus); a histogram row lands wholly in one bucket, so ties never
    * split and the assignment is deterministic in both engines. A
    * boundary score-row bigger than a remaining third falls to the next
    * bucket (NULL threshold compares false) — thirds are targets, not
    * exact counts.
    *
    * Scale shape: [[lmScore]]'s linear chain + one histogram agg + a
    * broadcast 1-row threshold join. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame =
    pplBucketsCore(Tables.documents(spark, dir))

  /** [[pplBuckets]] over any (doc_id, lang, text) relation. */
  private[graft] def pplBucketsCore(docs: DataFrame): DataFrame = {
    val scored = lmScoreCore(docs)
      .select(col("doc_id"), col("lang"), col("avg_tok_ppm"))
    val wTop = Window.orderBy(col("avg_tok_ppm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val th = scored.groupBy(col("avg_tok_ppm")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(wTop))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .agg(min(when(expr("cum <= total div 3"), col("avg_tok_ppm"))).as("t1"),
        min(when(expr("cum <= 2 * total div 3"), col("avg_tok_ppm")))
          .as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("lang"), col("avg_tok_ppm"),
        when(col("avg_tok_ppm") >= col("t1"), "head")
          .when(col("avg_tok_ppm") >= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** VOCABULARY HEALTH CARD — per-language type/token statistics a
    * corpus release reports: token and type counts, hapax legomena
    * (types seen once — crawl noise and OCR garbage inflate this), the
    * type-token ratio and hapax share in ppm. Two hash aggregations,
    * integer-exact; groups exist only with ≥ 1 token so the divisions
    * are total. */
  def vocabCard(spark: SparkSession, dir: String): DataFrame =
    vocabCardCore(Tables.documents(spark, dir))

  /** [[vocabCard]] over any (lang, text) relation. */
  private[graft] def vocabCardCore(docs: DataFrame): DataFrame =
    explodeNN(docs, toks(col("text")), "tok", col("lang"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_ppm", expr(s"n_types * $LmPpmUnit div n_tokens"))
      .withColumn("hapax_ppm", expr(s"n_hapax * $LmPpmUnit div n_types"))

  /** Corpus DRIFT monitor — total-variation distance (ppm) between the
    * hashed-token distributions of two corpus snapshots, here the
    * even/odd doc_id splits as the deterministic stand-in for
    * "yesterday's crawl vs today's" (swap the predicate for real
    * snapshot columns). Buckets are the [[graft.operators.CurationOps]]
    * DSIR discipline: 2-hex md5 prefixes, string-keyed, 256 of them —
    * the distribution fits one broadcast row set at any corpus size,
    * and TV distance is the integer-exact half-L1 over bucket ppms.
    * TV ≈ 0 ⇒ the snapshots are exchangeable; a jump is the alarm that
    * retrains mixtures before quality moves. */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame =
    vocabDriftCore(Tables.documents(spark, dir))

  /** [[vocabDrift]] over any (doc_id, text) relation. */
  private[graft] def vocabDriftCore(docs: DataFrame): DataFrame =
    tvOfBucketCounts(explodeNN(docs, toks(col("text")), "tok",
        pmod(col("doc_id"), lit(2)).as("split"))
      .withColumn("bucket", substring(md5(col("tok").cast("binary")), 1, 2))
      .groupBy(col("bucket"))
      .agg(sum(when(col("split") === 0, 1L).otherwise(0L)).as("p_cnt"),
        sum(when(col("split") === 1, 1L).otherwise(0L)).as("q_cnt")))

  /** SNAPSHOT CONTENT CHURN — the doc-granularity sibling of
    * [[vocabDrift]]'s distribution alarm: how many distinct documents
    * (by normalized content fingerprint — [[contentFp]], the exact-dedup
    * key, so "same document" means the same thing here and in the dedup
    * census) two corpus snapshots share, added, and dropped, plus the
    * churn rate in exact ppm of the fingerprint union. The recrawl
    * scheduler's primary: distribution drift says the LANGUAGE moved,
    * churn says the DOCUMENTS moved — a full re-host relocation has
    * ~10⁶ churn with near-zero vocab drift, and template injection the
    * reverse. The declared query reads the even/odd doc_id halves as
    * its two snapshots (the [[vocabDrift]] convention); a deployment
    * passes two real snapshots to [[snapshotDiffOf]].
    *
    * Scale shape: two distinct-fingerprint hash aggs + one full outer
    * equi-join on the fp + a 1-row aggregation — linear, and the fp
    * relation is bounded by distinct content, not corpus rows. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    snapshotDiffOf(docs.where(pmod(col("doc_id"), lit(2)) === 0),
      docs.where(pmod(col("doc_id"), lit(2)) === 1))
  }

  /** [[snapshotDiff]] over two explicit (…, text) snapshot relations. */
  def snapshotDiffOf(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(contentFp(col("text")).as("fp")).distinct()
      .withColumn("in_old", lit(true))
    val n = newSnap.select(contentFp(col("text")).as("fp")).distinct()
      .withColumn("in_new", lit(true))
    o.join(n, Seq("fp"), "full_outer")
      .select(coalesce(col("in_old"), lit(false)).as("in_old"),
        coalesce(col("in_new"), lit(false)).as("in_new"))
      .agg(
        sum(when(col("in_old"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("in_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("in_old") && col("in_new"), 1L).otherwise(0L))
          .as("n_common"),
        sum(when(!col("in_old") && col("in_new"), 1L).otherwise(0L))
          .as("n_added"),
        sum(when(col("in_old") && !col("in_new"), 1L).otherwise(0L))
          .as("n_removed"),
        count(lit(1)).as("n_union"))
      .withColumn("churn_ppm",
        expr(s"(n_added + n_removed) * $LmPpmUnit div greatest(n_union, 1)"))
  }

  /** Hashed token-bucket counts of a corpus — (bucket, cnt), the
    * 256-row distribution summary [[vocabDrift]] compares and the
    * streaming drift monitor persists per batch. */
  private[graft] def tokenBuckets(docs: DataFrame): DataFrame =
    explodeNN(docs, toks(col("text")), "tok")
      .select(substring(md5(col("tok").cast("binary")), 1, 2).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** TV distance over two PRECOMPUTED bucket-count tables — the
    * streaming entry ([[graft.streaming.StreamingAnalytics]] compares
    * each micro-batch against the maintained corpus distribution);
    * arithmetic shared with [[vocabDriftCore]] so the two monitors can
    * never disagree. */
  private[graft] def tvDistanceOf(p: DataFrame, q: DataFrame): DataFrame =
    tvOfBucketCounts(
      p.select(col("bucket"), col("cnt").as("p_cnt"))
        .join(q.select(col("bucket"), col("cnt").as("q_cnt")),
          Seq("bucket"), "full_outer")
        .select(col("bucket"), coalesce(col("p_cnt"), lit(0L)).as("p_cnt"),
          coalesce(col("q_cnt"), lit(0L)).as("q_cnt")))

  /** Shared TV tail: (bucket, p_cnt, q_cnt) → one row (n_buckets,
    * p_total, q_total, tv_ppm), integer-exact half-L1 over bucket
    * ppms. A GLOBAL aggregate, so an empty corpus yields the one
    * (0, null, null, null) envelope row — matching its SQL oracle's
    * aggregate-without-GROUP-BY shape. */
  private def tvOfBucketCounts(per: DataFrame): DataFrame = {
    val tot = per.agg(sum(col("p_cnt")).as("p_total"),
      sum(col("q_cnt")).as("q_total"))
    per.crossJoin(broadcast(tot))
      .select(
        expr(s"p_cnt * $LmPpmUnit div greatest(p_total, 1)").as("p_ppm"),
        expr(s"q_cnt * $LmPpmUnit div greatest(q_total, 1)").as("q_ppm"),
        col("p_total"), col("q_total"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("p_total")).as("p_total"), max(col("q_total")).as("q_total"),
        expr("sum(abs(p_ppm - q_ppm)) div 2").as("tv_ppm"))
  }

  /** PII surface patterns — deliberately simple, lookaround-free
    * classes so the Java (Spark) and RE2 (DuckDB) regex dialects agree
    * character-for-character. A production deployment layers locale
    * packs and checksum validators (Luhn etc.) on the same shape. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
  val PiiIpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scan + redaction audit — the privacy pass every released
    * training corpus runs: count email / phone / IPv4 surface forms per
    * document and fingerprint the REDACTED text (matches replaced by
    * typed placeholders, longest-pattern first so a phone can never be
    * half-eaten by the IP rule). `redacted_fp` equals the content
    * fingerprint of the original exactly when the document is clean —
    * so "what would redaction change?" is an equi-join away, and the
    * redacted corpus can be materialized by re-running the same
    * replacement chain. One projection, codegen'd regex — linear at
    * any scale, no shuffle. */
  def piiScan(spark: SparkSession, dir: String): DataFrame =
    // fan-out before the per-row regex census — identity at scale
    piiScanCore(graft.functions.ScaleUtils.fanOutScan(
      Tables.documents(spark, dir), col("doc_id")))

  /** The redaction projection itself — typed placeholders, longest
    * pattern first; shared by [[piiScanCore]]'s fingerprint and
    * [[redactedDocs]] (the exportable corpus), so the audit fp and the
    * exported text can never disagree. */
  private[graft] def redactText(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit(PiiEmailRe), lit("<EMAIL>")),
      lit(PiiPhoneRe), lit("<PHONE>")),
      lit(PiiIpRe), lit("<IP>"))

  /** A corpus with its `text` column REDACTED — the frame the last-mile
    * export ([[graft.operators.CurationOps.writeTrainingShards]])
    * consumes when the release policy requires scrubbed identifiers:
    * `writeTrainingShards(spark, redactedDocs(admitted), …)`. Same
    * schema in, same schema out; every other column passes through. */
  def redactedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text", redactText(col("text")))

  /** [[piiScan]] over any (doc_id, text) relation — split out so specs
    * can plant documents carrying each PII kind. */
  private[graft] def piiScanCore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(PiiEmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PiiPhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(PiiIpRe)).cast("long").as("n_ips"),
      md5(redactText(col("text")).cast("binary")).as("redacted_fp"))
      .withColumn("has_pii",
        col("n_emails") + col("n_phones") + col("n_ips") > 0)

  /** Width of the repeated-run window [[repeatScrub]] removes. */
  val RepeatGramN = 3

  /** Intra-document repeated n-gram REMOVAL — the scrub artifact
    * (complement of [[repetition]]'s metrics): every token covered by a
    * NON-FIRST occurrence of a [[RepeatGramN]]-gram already seen
    * earlier in the same document is dropped, and the document is
    * reassembled from the survivors in order. Emits (doc_id, n_tok,
    * n_removed, scrubbed_fp) — the fingerprint equals the content
    * fingerprint of the de-repeated text, so a scrubbed corpus
    * materializes by the same projection. Deterministic: "first
    * occurrence wins" needs no tie-break, and position 0 is never
    * covered (a repeat starts strictly after its first occurrence), so
    * no document scrubs to empty.
    *
    * Scale shape: positional grams are one transform + posexplode
    * (linear in corpus tokens); first-occurrence is a hash agg on
    * (doc, gram); coverage is an explode of width-[[RepeatGramN]]
    * spans; the kept set is a left-anti join on (doc, pos). The only
    * per-doc state is the reassembly collect_list — bounded by document
    * length, the same envelope every per-doc array op in this module
    * documents (chunk upstream for pathological lengths). */
  def repeatScrub(spark: SparkSession, dir: String): DataFrame =
    repeatScrubCore(Tables.documents(spark, dir))

  /** [[repeatScrub]] over any (doc_id, text) relation: a gram occurrence
    * is covered when the same gram starts earlier in the document. */
  private[graft] def repeatScrubCore(docsIn: DataFrame): DataFrame =
    scrubCovered(docsIn) { (_, pg) =>
      val first = pg.groupBy(col("doc_id"), col("g"))
        .agg(min(col("s")).as("s0"))
      pg.join(first, Seq("doc_id", "g")).where(col("s") > col("s0"))
    }

  /** The skeleton [[repeatScrubCore]] and [[crossDocScrubCore]] share:
    * the positional [[RepeatGramN]]-gram relation `pg` (doc_id, s, g), the
    * tokens covered by the (doc_id, s) gram starts `coveredStarts`
    * picks from it, and the reassembly of the surviving tokens in order
    * into (doc_id, n_tok, n_removed, scrubbed_fp). */
  private def scrubCovered(docsIn: DataFrame)(
      coveredStarts: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // fan-out before the per-row gram assembly — identity at scale
    val docs = graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
    val toksed = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .where(size(col("t")) > 0)
    val pos = toksed.select(col("doc_id"), posexplode_outer(col("t")))
      .where(col("col").isNotNull).withColumnRenamed("col", "tok")
    // posexplode_outer + null-drop: plain posexplode plants a pruning
    // Filter that re-evaluates the whole gram expression per row (see
    // explodeNN); gram elements are never null
    val pg = toksed.where(size(col("t")) >= RepeatGramN)
      .select(col("doc_id"), posexplode_outer(grams(col("t"), RepeatGramN)))
      .where(col("col").isNotNull)
      .select(col("doc_id"), col("pos").as("s"), col("col").as("g"))
    val covered = coveredStarts(docs, pg)
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + (RepeatGramN - 1))).as("pos"))
      .distinct()
    val scrub = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").cast("binary")).as("fp"))
    toksed.select(col("doc_id"), size(col("t")).as("n_tok"))
      .join(scrub, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("fp"), md5(lit("").cast("binary"))).as("scrubbed_fp"))
  }

  /** CROSS-DOCUMENT boilerplate REMOVAL — the scrub action the
    * [[boilerplate]] report exists for (the n-gram rendering of
    * CCNet/RefinedWeb line-dedup: this corpus has no line structure, so
    * the positional 3-gram is the repetition unit): every token covered
    * by a 3-gram whose corpus document frequency clears the
    * [[BoilerplateDocBar]]/[[BoilerplateFracDiv]] bar — the SAME bar
    * the report uses, so measure and act can never disagree — is
    * dropped from every document EXCEPT the gram's owner (min doc_id,
    * the [[graft.operators.CurationOps.chunkDedupOf]] first-keeps
    * convention: one copy of shared content survives the corpus).
    * Emits (doc_id, n_tok, n_removed, scrubbed_fp) — [[repeatScrub]]'s
    * schema, so the two scrubs compose by the same projection. Unlike
    * the intra-doc scrub, a non-owner document of wall-to-wall
    * boilerplate CAN scrub to empty — its fingerprint is md5("") and
    * n_removed = n_tok, which is exactly the drop signal.
    *
    * Scale shape: [[repeatScrubCore]]'s linear skeleton with the
    * first-occurrence hash agg swapped for a corpus df agg over the
    * distinct (doc, gram) relation (count IS the df — no
    * count-distinct); the over-common set is tiny by construction
    * (high-frequency tail), so its join back is broadcastable; coverage
    * explode + anti-join + ordered reassembly as before. */
  def crossDocScrub(spark: SparkSession, dir: String): DataFrame =
    crossDocScrubCore(Tables.documents(spark, dir), BoilerplateDocBar)

  /** [[crossDocScrub]] over any (doc_id, text) relation: a gram
    * occurrence is covered when the gram clears the corpus df bar and
    * the document is not the gram's owner. */
  private[graft] def crossDocScrubCore(docsIn: DataFrame,
      docBar: Long): DataFrame =
    scrubCovered(docsIn) { (docs, pg) =>
      val total = docs.agg(count(lit(1)).as("n_total"))
      val common = pg.select(col("doc_id"), col("g")).distinct()
        .groupBy(col("g"))
        .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("owner"))
        .crossJoin(broadcast(total))
        .where(col("nd") >
          greatest(lit(docBar), expr(s"n_total div $BoilerplateFracDiv")))
        .select(col("g"), col("owner"))
      pg.join(common, Seq("g")).where(col("doc_id") =!= col("owner"))
    }

  // --- Unicode normalization (graft_nfc / graft_strip_accents) ---

  /** Decomposed-form suffix (NFD: base letters + combining marks) and
    * its composed twin — the planted mixed-form corpus for the
    * normalization queries. Byte-DIFFERENT, visually identical; the
    * DuckDB oracle synthesizes the same strings via chr() codepoints,
    * so Spark's normalizer and DuckDB's utf8proc must agree byte for
    * byte for the hashes to match. */
  private[graft] val NormSufDecomposed =
    "café français nuñez séance"
  private[graft] val NormSufComposed =
    "café français nuñez séance"
  private val normSufDecomposedSql =
    "'cafe' || chr(769) || ' franc' || chr(807) || 'ais nun' || " +
      "chr(771) || 'ez se' || chr(769) || 'ance'"
  private val normSufComposedSql =
    "'caf' || chr(233) || ' fran' || chr(231) || 'ais nu' || " +
      "chr(241) || 'ez s' || chr(233) || 'ance'"

  /** Per-doc variant text with a mixed Unicode form: even doc_ids carry
    * the DECOMPOSED suffix, odd the COMPOSED one. */
  private def normVariant: Column =
    concat(substring(col("text"), 1, 40), lit(" "),
      when(col("doc_id") % 2 === 0, lit(NormSufDecomposed))
        .otherwise(lit(NormSufComposed)))

  /** ORACLED NORMALIZATION KERNELS — the codegen'd
    * [[graft.plans.NfcNormalize]] / [[graft.plans.StripAccents]]
    * expressions over a synthesized mixed-form corpus, graded against
    * DuckDB's independent `nfc_normalize` / `strip_accents`
    * (utf8proc): per doc, whether NFC changed the text (true exactly
    * for the decomposed half), the NFC fingerprint (composed and
    * decomposed twins converge), the accent-stripped fingerprint
    * (both collapse to ASCII), and the codepoint shrink.
    *
    * Scale shape: pure map — one codegen'd projection over the scan,
    * no shuffle; the `isNormalized`/ASCII fast paths make the
    * already-clean majority of a real corpus allocation-free. */
  def unicodeNorm(spark: SparkSession, dir: String): DataFrame = {
    val nfc = graft.plans.UnicodeNormalize.nfcCol(spark) _
    val strip = graft.plans.UnicodeNormalize.stripAccentsCol(spark) _
    Tables.documents(spark, dir)
      .select(col("doc_id"), normVariant.as("v"))
      .select(col("doc_id"),
        (nfc(col("v")) =!= col("v")).as("changed"),
        md5(nfc(col("v")).cast("binary")).as("nfc_fp"),
        md5(strip(col("v")).cast("binary")).as("ascii_fp"),
        (length(col("v")) - length(nfc(col("v")))).as("cp_shrink"))
  }

  /** NORMALIZATION-AWARE EXACT DEDUP — the gap the kernels close: a
    * corpus holding a composed and a decomposed rendering of the same
    * document (ids 2·doc_id / 2·doc_id+1) de-duplicates on
    * `md5(graft_nfc(text))`. Raw byte hashing sees every row as
    * unique; NFC grouping pairs each twin. Output is one row per
    * group: representative id, member count, how many RAW fingerprints
    * the group spans, and whether only normalization caught it
    * (n_raw > 1 — true for every group here, the planted regime).
    *
    * Scale shape: same as exact dedup — one hash-groupBy on the md5
    * key, the normalizer rides inside the scan's codegen'd projection;
    * at 100 TB this is the standard fingerprint shuffle with a
    * canonical key instead of a raw one. */
  def normDedup(spark: SparkSession, dir: String): DataFrame = {
    val nfc = graft.plans.UnicodeNormalize.nfcCol(spark) _
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), normVariant.as("v"))
    val corpus = base.select((col("doc_id") * 2).as("id"),
        when(col("doc_id") % 2 === 0, col("v"))
          .otherwise(regexp_replace(col("v"), NormSufComposed,
            NormSufDecomposed)).as("v"))
      .union(base.select((col("doc_id") * 2 + 1).as("id"),
        when(col("doc_id") % 2 === 0,
            regexp_replace(col("v"), NormSufDecomposed, NormSufComposed))
          .otherwise(col("v")).as("v")))
    corpus
      .groupBy(md5(nfc(col("v")).cast("binary")).as("norm_fp"))
      .agg(min(col("id")).as("rep_id"),
        count(lit(1)).as("n_members"),
        countDistinct(md5(col("v").cast("binary"))).as("n_raw"))
      .select(col("rep_id"), col("n_members"), col("n_raw"),
        (col("n_raw") > 1).as("caught_norm_only"))
  }

  /** Cyrillic confusables for the six Latin letters with pixel-identical
    * twins in common fonts (а е о р с х, U+0430/0435/043E/0440/0441/
    * 0445) — the standard homoglyph-spoof alphabet. The fold direction
    * maps Cyrillic → Latin. */
  private[graft] val HomoglyphCyr = "аеорсх"
  private[graft] val HomoglyphLat = "aeopcx"
  private val homoglyphCyrSql =
    Seq(0x430, 0x435, 0x43e, 0x440, 0x441, 0x445)
      .map(c => s"chr($c)").mkString(" || ")

  /** HOMOGLYPH-FOLD DEDUP — the adversarial sibling of [[normDedup]]:
    * a spam/spoof pipeline evades exact dedup by swapping Latin
    * letters for pixel-identical Cyrillic confusables; the canonical
    * key folds them back (`translate` — a BUILT-IN, codegen'd; no
    * custom expression needed) composed with [[graft.plans.NfcNormalize]]
    * so form-spoofing and confusable-spoofing fall together. Planted
    * corpus: every doc appears clean (id 2k) and spoofed (id 2k+1,
    * Latin→Cyrillic on an 80-char prefix); raw md5 sees 2 documents,
    * the folded key pairs them. A group whose prefix holds no foldable
    * letter stays a singleton pair with n_raw = 1 — caught_fold_only
    * records exactly where folding (not identity) did the work.
    *
    * Scale shape: identical to exact dedup — one hash-groupBy on the
    * canonical-key md5; folding rides in the scan projection. */
  def homoglyphDedup(spark: SparkSession, dir: String): DataFrame = {
    val nfc = graft.plans.UnicodeNormalize.nfcCol(spark) _
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 80).as("v"))
    val corpus = base
      .select((col("doc_id") * 2).as("id"), col("v"))
      .union(base.select((col("doc_id") * 2 + 1).as("id"),
        translate(col("v"), HomoglyphLat, HomoglyphCyr).as("v")))
    corpus
      .groupBy(md5(translate(nfc(col("v")), HomoglyphCyr, HomoglyphLat)
        .cast("binary")).as("fold_fp"))
      .agg(min(col("id")).as("rep_id"),
        count(lit(1)).as("n_members"),
        countDistinct(md5(col("v").cast("binary"))).as("n_raw"))
      .select(col("rep_id"), col("n_members"), col("n_raw"),
        (col("n_raw") > 1).as("caught_fold_only"))
  }

  // --- encoding repair (mojibake unwind) ---

  /** Planted clean suffix and its once/twice-mangled renderings —
    * accents, an em-dash and a Windows-1252 special (€, byte 0x80)
    * so the repair must traverse BOTH the Latin-1 range and the
    * 0x80-0x9F table (the twice-mangled form even contains the sloppy
    * C1 control U+009D). The mangles were derived OFFLINE with
    * Python's cp1252 codec, never [[graft.plans.EncodingRepair]]
    * itself, and the SQL twins assemble the same strings from chr()
    * codepoints — two independent implementations on both the mangle
    * and the repair side. */
  private[graft] val MojiClean =
    " caf\u00e9 fran\u00e7ais \u2014 na\u00efve \u20acstore"
  private[graft] val MojiOnce =
    " caf\u00c3\u00a9 fran\u00c3\u00a7ais \u00e2\u20ac\u201d " +
      "na\u00c3\u00afve \u00e2\u201a\u00acstore"
  private[graft] val MojiTwice =
    " caf\u00c3\u0192\u00c2\u00a9 fran\u00c3\u0192\u00c2" +
      "\u00a7ais \u00c3\u00a2\u00e2\u201a\u00ac\u00e2\u20ac" +
      "\u009d na\u00c3\u0192\u00c2\u00afve \u00c3\u00a2\u00e2" +
      "\u20ac\u0161\u00c2\u00acstore"
  private val mojiCleanSql =
    "' caf' || chr(233) || ' fran' || chr(231) || 'ais ' || " +
      "chr(8212) || ' na' || chr(239) || 've ' || chr(8364) || 'store'"
  private val mojiOnceSql =
    "' caf' || chr(195) || chr(169) || ' fran' || chr(195) || " +
      "chr(167) || 'ais ' || chr(226) || chr(8364) || chr(8221) || " +
      "' na' || chr(195) || chr(175) || 've ' || chr(226) || " +
      "chr(8218) || chr(172) || 'store'"
  private val mojiTwiceSql =
    "' caf' || chr(195) || chr(402) || chr(194) || chr(169) || " +
      "' fran' || chr(195) || chr(402) || chr(194) || chr(167) || " +
      "'ais ' || chr(195) || chr(162) || chr(226) || chr(8218) || " +
      "chr(172) || chr(226) || chr(8364) || chr(157) || ' na' || " +
      "chr(195) || chr(402) || chr(194) || chr(175) || 've ' || " +
      "chr(195) || chr(162) || chr(226) || chr(8364) || chr(353) || " +
      "chr(194) || chr(172) || 'store'"

  /** ORACLED ENCODING REPAIR — the [[graft.plans.FixMojibake]] kernel
    * over a planted mixed-health corpus: doc_id % 3 picks a
    * once-mangled (0), twice-mangled (1) or clean (2) suffix on an
    * ASCII prefix. Per doc: the raw fingerprint (graded against
    * DuckDB's independently chr()-assembled mangle — pins that the
    * fixture really is mojibake), the repaired fingerprint (must equal
    * the chr()-assembled CLEAN text — pins that the unwind restored
    * the original bytes, double mangles included), whether the kernel
    * fired, and the char shrink.
    *
    * Scale shape: pure map — one codegen'd projection over the scan,
    * no shuffle; clean rows cost one refused round-trip, ASCII rows
    * nothing ([[graft.plans.EncodingRepair.fix]] fast path). */
  def encodingRepair(spark: SparkSession, dir: String): DataFrame = {
    val fixf = graft.plans.EncodingRepair.fixCol(spark) _
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          when(col("doc_id") % 3 === 0, lit(MojiOnce))
            .when(col("doc_id") % 3 === 1, lit(MojiTwice))
            .otherwise(lit(MojiClean))).as("v"))
      .withColumn("f", fixf(col("v")))
      .select(col("doc_id"),
        md5(col("v").cast("binary")).as("raw_fp"),
        md5(col("f").cast("binary")).as("fixed_fp"),
        (col("f") =!= col("v")).as("repaired"),
        (length(col("v")) - length(col("f"))).cast("int").as("cp_shrink"))
  }

  /** Decomposed (NFD) twin of [[MojiClean]] and ITS mangles — the
    * clean-pipeline fixture where repair and normalization both have
    * real work on the same rows. Derived offline like the composed
    * set; raw NFD REFUSES repair (combining marks are outside the
    * sloppy-cp1252 image), which is exactly the planted %3==2 arm. */
  private[graft] val MojiNfd =
    " cafe\u0301 franc\u0327ais \u2014 nai\u0308ve \u20acstor" +
      "e"
  private[graft] val MojiNfdOnce =
    " cafe\u00cc\u0081 franc\u00cc\u00a7ais \u00e2\u20ac" +
      "\u201d nai\u00cc\u02c6ve \u00e2\u201a\u00acstore"
  private[graft] val MojiNfdTwice =
    " cafe\u00c3\u0152\u00c2\u0081 franc\u00c3\u0152\u00c2" +
      "\u00a7ais \u00c3\u00a2\u00e2\u201a\u00ac\u00e2\u20ac" +
      "\u009d nai\u00c3\u0152\u00cb\u2020ve \u00c3\u00a2\u00e2" +
      "\u20ac\u0161\u00c2\u00acstore"

  /** ORACLED CLEANING PIPELINE — the first-stage text-cleaning pass a
    * 100 TB corpus actually runs, COMPOSED in one codegen'd
    * projection: mojibake repair ([[graft.plans.FixMojibake]]) → NFC
    * ([[graft.plans.NfcNormalize]]) → homoglyph fold (built-in
    * translate) — zero shuffles, zero extra scans. Planted dirt per
    * doc: doc_id % 3 picks a once-/twice-mangled or raw DECOMPOSED
    * suffix (repair unwinds the first two, refuses the third — NFD's
    * combining marks are outside the sloppy-cp1252 image), and the
    * unmangled rows with odd ids get a Cyrillic-spoofed prefix (only
    * they — a spoofed prefix would make the repair refuse the whole
    * string, which is the kernel's documented conservatism). Every
    * row converges to the SAME canonical bytes: prefix + the composed
    * clean suffix — md5-pinned by the oracle, per-stage fire flags
    * recomputed from the planted residues. */
  def cleanPipeline(spark: SparkSession, dir: String): DataFrame = {
    val fixf = graft.plans.EncodingRepair.fixCol(spark) _
    val nfc = graft.plans.UnicodeNormalize.nfcCol(spark) _
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 2 && col("doc_id") % 2 === 1,
            translate(substring(col("text"), 1, 40),
              HomoglyphLat, HomoglyphCyr))
            .otherwise(substring(col("text"), 1, 40)),
          when(col("doc_id") % 3 === 0, lit(MojiNfdOnce))
            .when(col("doc_id") % 3 === 1, lit(MojiNfdTwice))
            .otherwise(lit(MojiNfd))).as("v"))
      .withColumn("f", fixf(col("v")))
      .withColumn("nrm", nfc(col("f")))
      .withColumn("folded", translate(col("nrm"), HomoglyphCyr, HomoglyphLat))
      .select(col("doc_id"),
        (col("f") =!= col("v")).as("repaired"),
        (col("nrm") =!= col("f")).as("renormalized"),
        (col("folded") =!= col("nrm")).as("refolded"),
        md5(col("folded").cast("binary")).as("clean_fp"))
  }

  // --- multi-pattern keyword tagging (Aho-Corasick kernel) ---

  /** Demonstration blocklist: corpus words, multi-word phrases, and
    * deliberately OVERLAPPING substrings ("at" inside "data"/"batch",
    * "can" inside "scan", "a" everywhere) — the regime where per-term
    * `contains` is O(len·dict) and token joins can't see phrases at
    * all. A real deployment swaps in its blocklist/taxonomy file. */
  val KeywordDict: Seq[String] = Seq(
    "data", "at", "ta", "a", "scan", "can", "table scan", "batch",
    "atch", "merge", "sort merge", "stream", "join", "in", "window",
    "dow", "spark", "park", "row", "order")

  private def keywordDictSql: String =
    KeywordDict.map(t => s"'$t'").mkString("[", ", ", "]")

  /** The KERNEL's relational shape: (doc_id, term, n) for every
    * dictionary term occurring in the document — ALL occurrences,
    * overlapping included, exact on characters. One automaton scan per
    * document: O(len + matches) whatever the dictionary size
    * ([[graft.functions.AhoCorasick]] — driver-built, broadcast,
    * report-chain counting). No shuffle: a pure per-partition map. */
  def keywordMatches(docs: DataFrame, dict: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(graft.functions.AhoCorasick(dict))
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        bc.value.hits(Option(t).getOrElse(""))
          .map { case (term, n) => (id, term, n) }
      }
      .toDF("doc_id", "term", "n")
  }

  /** ORACLED kernel output over the demonstration dictionary — DuckDB
    * recomputes every count with a per-position substring scan (its
    * O(len·dict) shape is exactly what the automaton exists to avoid;
    * at oracle scale it is affordable and INDEPENDENT). */
  def keywordHits(spark: SparkSession, dir: String): DataFrame =
    keywordMatches(Tables.documents(spark, dir), KeywordDict)

  /** Doc-level tagging rollup: total matches, distinct terms hit, the
    * dominant term (max count, lexicographic tie-break — total order),
    * and a density flag (≥1 match per 100 chars, integer math). Both
    * aggregations shuffle on doc_id — one exchange, reused. */
  def keywordTag(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val m = keywordMatches(docs, KeywordDict)
    val byDoc = m.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_matches"),
        count(lit(1)).as("n_terms"),
        expr("min_by(term, struct(-n, term))").as("top_term"))
    docs.select(col("doc_id"), length(col("text")).as("n_chars"))
      .join(byDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("top_term"), lit("")).as("top_term"),
        (coalesce(col("n_matches"), lit(0L)) * 100 >= col("n_chars"))
          .as("flagged"))
  }

  /** KEYWORD SCRUB — the ACTION twin of [[keywordTag]] (the repo's
    * detector/action pairing: repeat→repeatScrub, spans→spanScrub,
    * boilerplate→crossDocScrub): mask every character covered by ANY
    * dictionary match. Masking the UNION of matched spans is the only
    * semantics deterministic under arbitrary overlap ("table scan"
    * ∪ "scan" ∪ "can" cover the same chars whatever the match order),
    * and keeps offsets stable (length-preserving '*' fill) so spans
    * recorded against the original text stay valid. Same single
    * automaton scan as the tag ([[graft.functions.AhoCorasick
    * .coverMask]]); map-only, no shuffle.
    *
    * Arithmetic is CODEPOINT-based (ADVICE r12): the cover mask is
    * UTF-16-indexed (the automaton walks Java chars), but n_chars /
    * n_masked / the rebuilt string iterate by codepoint so they share
    * the DuckDB oracle's — and sibling [[keywordTag]]'s — codepoint
    * semantics on non-BMP text. A surrogate-pair codepoint masks to ONE
    * '*' (it is one character in both engines); with the ASCII
    * dictionary the cover never lands on a surrogate anyway, but the
    * loop checks both halves so a future non-BMP dictionary term cannot
    * half-mask a pair. */
  def keywordScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      graft.functions.AhoCorasick(KeywordDict))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t0) =>
        val t = Option(t0).getOrElse("")
        val cover = bc.value.coverMask(t)
        val sb = new java.lang.StringBuilder(t.length)
        var nChars = 0 // Int: the oracle renders n_chars as INT
        var n = 0L
        var i = 0
        while (i < t.length) {
          val cp = t.codePointAt(i)
          val cc = Character.charCount(cp)
          nChars += 1
          if (cover(i) || (cc == 2 && cover(i + 1))) { sb.append('*'); n += 1L }
          else sb.appendCodePoint(cp)
          i += cc
        }
        (id, nChars, n, sb.toString)
      }
      .toDF("doc_id", "n_chars", "n_masked", "scrubbed")
      .select(col("doc_id"), col("n_chars"), col("n_masked"),
        md5(col("scrubbed").cast("binary")).as("scrubbed_fp"))
  }

  // --- HTML → text extraction (VERDICT r12 item 2) --------------------

  /** Deterministic REAL-HTML synthesis from the documents table — the
    * [[MultimodalOps]] fixture discipline (planted structure a DuckDB
    * oracle can recompute the EXPECTED EXTRACTION from, without parsing
    * HTML): each doc's whitespace tokens become a full page whose head
    * (title/script with doc-derived content/style), nav, link-farm div
    * (3 anchors, 100% link density) and footer are boilerplate the
    * kernel must drop, and whose h1 (tokens 1-5 joined with
    * `&amp;` entities), one inline-anchor paragraph ("see <a>t1</a> for
    * details" — 1 anchor, must be KEPT) and 10-token paragraphs (first
    * token wrapped in `&quot;`) are the content it must keep, entities
    * decoded. The corpus is ASCII with no `&<>"` (probed), so planted
    * tags/entities are the only markup. `extra` (default: empty —
    * existing fixtures stay byte-identical) is appended between the
    * link-farm div and the footer: the seam [[GraphOps]]'s
    * content-link fixture plants its outlink anchors through; `keep`
    * names input columns to carry through beside (doc_id, html). */
  private[operators] def htmlDocs(docsIn: DataFrame,
      extra: Column = lit(""), keep: Seq[String] = Nil): DataFrame = {
    // fan-out before the per-row HTML synthesis + walker — identity at
    // scale (see ScaleUtils.fanOutScan)
    val docs = graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
    // guarded: sequence(0, nP-1) would DESCEND for nP = 0 (docs of ≤ 5
    // tokens — absent from this corpus, but the guard keeps the
    // synthesis total); CaseWhen branches evaluate lazily
    val paras = when(expr("size(w) > 5"), array_join(transform(
      sequence(lit(0L), expr("(size(w) + 4) div 10") - 1),
      p => concat(
        lit("<p>&quot;"), element_at(col("w"), (p * 10 + 6).cast("int")),
        lit("&quot; "),
        array_join(slice(col("w"), (p * 10 + 7).cast("int"), lit(9)), " "),
        lit("</p>"))), "")).otherwise(lit(""))
    docs
      .withColumn("w", toks(col("text")))
      .select(col("doc_id") +: keep.map(col) :+ concat(
        lit("<html><head><title>t</title><script type=\"text/javascript\">" +
          "var s = \""),
        array_join(slice(col("w"), 1, 2), " "),
        lit("\";</script><style>.x{color:red}</style></head><body>" +
          "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a></nav>" +
          "<h1>"),
        array_join(slice(col("w"), 1, 5), " &amp; "),
        lit("</h1><p>see <a href=\"/d\">"), element_at(col("w"), 1),
        lit("</a> for details</p>"),
        paras,
        lit("<div><a href=\"/m\">more</a> <a href=\"/l\">links</a> " +
          "<a href=\"/r\">related</a></div>"),
        extra,
        lit("<footer>(c) 2026 corp</footer></body></html>")).as("html"): _*)
  }

  /** ORACLED extraction over the synthesized pages: the real
    * [[graft.functions.HtmlText]] walker runs on every page (map-only —
    * at 100 TB this is the first, embarrassingly parallel pass of the
    * ingest funnel), and DuckDB independently rebuilds the expected
    * line structure from the SAME token arithmetic — boilerplate
    * absent, entities decoded, the inline anchor inlined. A kernel that
    * leaks script/nav/farm/footer text, drops the kept anchor's line,
    * or mis-decodes an entity breaks the fingerprint. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    htmlDocs(Tables.documents(spark, dir))
      .as[(Long, String)]
      .map { case (id, html) =>
        (id, graft.functions.HtmlText.extract(html))
      }
      .toDF("doc_id", "extracted")
      .select(col("doc_id"),
        when(length(col("extracted")) === 0, lit(0))
          .otherwise(size(split(col("extracted"), "\n")))
          .cast("int").as("n_lines"),
        length(col("extracted")).cast("int").as("n_chars"),
        md5(col("extracted").cast("binary")).as("extracted_fp"))
  }

  // --- PDF → text extraction (VERDICT r14 item 6) ---------------------

  /** Characters per `Tj` chunk in the synthesized content stream. */
  private[operators] val PdfChunk = 80

  /** PDF literal-string escape: backslash first, then the parens. */
  private def pdfEsc(c: Column): Column =
    replace(replace(replace(c, lit("\\"), lit("\\\\")),
      lit("("), lit("\\(")), lit(")"), lit("\\)"))

  /** Deterministic REAL-PDF synthesis from the documents table — the
    * [[htmlDocs]] / q_scene_changes discipline (planted structure a
    * DuckDB oracle can recompute the EXPECTED EXTRACTION from, without
    * parsing PDF): each non-empty doc becomes a structurally valid
    * one-page PDF whose single uncompressed content stream shows the
    * doc text as [[PdfChunk]]-char chunks — chunk 1 as a `TJ` array of
    * its two halves with a kerning number between them (which the
    * kernel must skip), the remaining chunks as `Tj` ops. Built
    * entirely with column expressions (string assembly → binary cast),
    * so the payload is constructible in DuckDB too; the oracle checks
    * the round trip: extraction must re-concatenate the text EXACTLY
    * (escapes decoded), with the predicted operator count. The
    * FlateDecode path is spec-exercised (a column expression cannot
    * deflate; the kernel walk after inflate is identical). */
  private[operators] def pdfDocs(docs: DataFrame): DataFrame = {
    val half = PdfChunk / 2
    val nChunks = expr(s"(length(text) + ${PdfChunk - 1}) div $PdfChunk")
    val c1a = pdfEsc(col("text").substr(lit(1), lit(half)))
    val c1b = pdfEsc(col("text").substr(lit(half + 1), lit(half)))
    // guarded like htmlDocs: sequence(2, n) would DESCEND for n < 2
    val rest = when(nChunks >= 2, array_join(transform(
      sequence(lit(2L), nChunks),
      k => concat(lit("("),
        pdfEsc(col("text").substr(
          ((k - 1) * PdfChunk + 1).cast("int"), lit(PdfChunk))),
        lit(") Tj\n"))), "")).otherwise(lit(""))
    val content = concat(
      lit("BT /F1 12 Tf 72 720 Td [("), c1a, lit(") -250 ("), c1b,
      lit(")] TJ\n"), rest, lit("ET"))
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), concat(
        lit("%PDF-1.4\n" +
          "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
          "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
          "3 0 obj << /Type /Page /Parent 2 0 R " +
          "/MediaBox [0 0 612 792] /Contents 4 0 R >> endobj\n" +
          "4 0 obj << /Length "), length(content).cast("string"),
        lit(" >> stream\n"), content,
        lit("\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF"))
        .cast("binary").as("pdf"))
  }

  /** ORACLED extraction over the synthesized PDFs: the real
    * [[graft.functions.PdfText]] kernel walks every file (map-only —
    * the first pass of a document-ingest funnel, exactly like
    * [[htmlExtract]]), and DuckDB independently predicts the expected
    * text (= the doc text, chunking and escapes being
    * extraction-invariant) and the operator census from the same
    * arithmetic. A kernel that drops a chunk, shows kerning numbers,
    * mis-decodes an escape, or loses the TJ array breaks the
    * fingerprint. */
  def pdfExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pdfDocs(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .map { case (id, pdf) =>
        val r = graft.functions.PdfText.extract(pdf)
        (id, r.n_text_ops, r.n_streams, r.text)
      }
      .toDF("doc_id", "n_text_ops", "n_streams", "extracted")
      .select(col("doc_id"), col("n_text_ops"), col("n_streams"),
        length(col("extracted")).cast("int").as("n_chars"),
        md5(col("extracted").cast("binary")).as("extracted_fp"))
  }

  // --- WARC container ingest (VERDICT r16 item 4) ---------------------

  /** Deterministic REAL-WARC synthesis from the documents table — the
    * [[pdfDocs]] discipline one container further up the pipeline:
    * each doc becomes a structurally valid 3-record WARC file
    * (warcinfo, then an HTTP `response` record carrying the
    * [[htmlDocs]] page as its message body, then a `metadata` record
    * whose per-doc Content-Length varies with `doc_id % 1000` so the
    * length parse is exercised at every digit width). Built entirely
    * with column expressions (ASCII corpus ⇒ chars = octets), so
    * DuckDB constructs the identical payload arithmetic. The gzip
    * path is spec-exercised (a column expression cannot deflate; the
    * record walk after gunzip is identical — the [[pdfDocs]]
    * FlateDecode precedent). */
  /** One synthesized WARC record as a column expression: version line,
    * headers, Content-Length computed from the payload itself, body,
    * CRLF CRLF separator — shared by every WARC fixture. */
  private def warcRec(headers: Column, payload: Column): Column =
    concat(lit("WARC/1.0\r\n"), headers,
      lit("Content-Length: "), length(payload).cast("string"),
      lit("\r\n\r\n"), payload, lit("\r\n\r\n"))

  private[graft] def warcDocs(docsIn: DataFrame,
      fanOut: Boolean = true): DataFrame = {
    // fan-out before per-row container synthesis + kernel walk —
    // identity at scale (see ScaleUtils.fanOutScan). warcDigestDedup
    // opts out: its whole post-scan stage is one cheap header pick
    // before a partial aggregation, and the extra AQE stage measured
    // 0.30 -> 0.72 s there while the map-only consumers measured
    // 0.6-0.8x WITH the fan-out.
    val docs =
      if (fanOut)
        graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
      else docsIn
    def rec(headers: Column, payload: Column): Column =
      warcRec(headers, payload)
    val httpPayload = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
      col("html"))
    val meta = concat(lit("fetchTimeMs: "),
      (col("doc_id") % 1000).cast("string"))
    val info = lit("software: graft\r\nformat: WARC File Format 1.0")
    val did = col("doc_id").cast("string")
    // a request record precedes its response and references it by
    // WARC-Concurrent-To — the crawl convention the pairing query
    // joins on (wayback-style indexing); record ids embed the doc id
    // so both engines predict the join result from arithmetic
    val requestPayload = concat(lit("GET /docs/"), did,
      lit(" HTTP/1.1\r\nHost: example.com\r\n\r\n"))
    htmlDocs(docs).select(col("doc_id"), concat(
      rec(lit("WARC-Type: warcinfo\r\n" +
        "Content-Type: application/warc-fields\r\n"), info),
      rec(concat(lit("WARC-Type: request\r\n" +
        "WARC-Record-ID: <urn:uuid:req-"), did,
        lit(">\r\nWARC-Concurrent-To: <urn:uuid:resp-"), did,
        lit(">\r\nContent-Type: application/http;msgtype=request\r\n")),
        requestPayload),
      rec(concat(lit("WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:resp-"), did,
        lit(">\r\nWARC-Target-URI: http://example.com/doc/"), did,
        // the crawl-dedup key: consecutive doc pairs declare the SAME
        // payload digest (a re-crawl twin), so the digest-keyed dedup
        // has real duplicate classes to find; assembled column-wise in
        // both engines (md5 of the pair key's decimal rendering)
        lit("\r\nWARC-Payload-Digest: md5:"),
        md5((col("doc_id") - col("doc_id") % 2).cast("string")
          .cast("binary")),
        lit("\r\nContent-Type: application/http;msgtype=response\r\n")),
        httpPayload),
      rec(lit("WARC-Type: metadata\r\n" +
        "Content-Type: application/warc-fields\r\n"), meta))
      .cast("binary").as("warc"))
  }

  /** ORACLED WARC ingest over the synthesized files: the real
    * [[graft.functions.WarcRecords]] splitter walks every file
    * (map-only — the file-level fan-out a 100 TB crawl ingest starts
    * with), unwraps the response record's HTTP message, and feeds the
    * body to the SAME [[graft.functions.HtmlText]] kernel as
    * [[htmlExtract]] — whose oracle chain the DuckDB side reuses, so
    * a split boundary error (off-by-one Content-Length, CRLF leaked
    * into the body, HTTP headers not stripped) breaks the shared
    * fingerprint. The metadata record's declared length round-trips
    * per doc, the census pins the record/type/status structure, and
    * n_truncated pins that well-formed files never trip the
    * hostile-input paths. */
  def warcExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    warcDocs(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .map { case (id, warc) =>
        val recs = graft.functions.WarcRecords.split(warc)
        val resp = recs.find(_.warcType == "response")
        val (status, body) = resp
          .map(r => graft.functions.WarcRecords.httpBody(r.payload))
          .getOrElse((-1, Array.emptyByteArray))
        val metaLen = recs.find(_.warcType == "metadata")
          .map(_.declaredLength).getOrElse(-1L)
        // honor the declared Content-Type charset (r18 — this fixture
        // declares none → UTF-8, byte-identical to before; the planted
        // charset regime is q_warc_charset's)
        val cs = resp.map(r =>
          graft.functions.WarcRecords.httpCharset(r.payload)).getOrElse("")
        val text = graft.functions.HtmlText.extract(
          graft.functions.WarcRecords.decode(body, cs))
        (id, recs.size, recs.count(_.warcType == "response"), status,
          metaLen, recs.count(_.truncated), text)
      }
      .toDF("doc_id", "n_records", "n_response", "http_status",
        "meta_len", "n_truncated", "extracted")
      .select(col("doc_id"), col("n_records"), col("n_response"),
        col("http_status"), col("meta_len"), col("n_truncated"),
        length(col("extracted")).cast("int").as("n_chars"),
        md5(col("extracted").cast("binary")).as("extracted_fp"))
  }

  /** DIGEST-KEYED CRAWL DEDUP — the container-level exact dedup a web
    * pipeline runs BEFORE any decode (the CommonCrawl discipline:
    * response records carry `WARC-Payload-Digest`, and re-crawls of
    * unchanged pages share it — dedup trusts the header and never
    * hashes a payload): split the synthesized files, key the response
    * records on their declared digest, one hash-groupBy. The fixture
    * plants pair-shared digests (doc 2k and 2k+1 declare the same),
    * so every duplicate class is predicted by the oracle from the
    * same arithmetic — a header mis-parse, a dropped record, or a
    * wrong winner breaks the row set. Scale shape: map-only split +
    * one partial-aggregated exchange on the digest — exact dedup's
    * plan one container level up. The verify seam
    * ([[graft.functions.WarcRecords.verifyDigest]] — md5/sha1/sha256
    * hex + CommonCrawl sha1-base32) is spec-pinned; this query models
    * the trust-the-header fast path. */
  def warcDigestDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    warcDocs(Tables.documents(spark, dir), fanOut = false)
      .as[(Long, Array[Byte])]
      .flatMap { case (_, warc) =>
        graft.functions.WarcRecords.split(warc)
          .filter(_.warcType == "response")
          .map(r => (r.payloadDigest, r.targetUri))
      }
      .toDF("digest", "uri")
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("uri")).as("first_uri"))
  }

  /** Deterministic fixture for the DIGEST RE-VERIFY path: 2-record
    * files (warcinfo + response) whose response declares
    * `WARC-Payload-Digest: md5:<md5(clean payload)>` — but on the
    * planted stride `doc_id % 7 == 3` the WRITTEN payload is the clean
    * one plus a corruption suffix (Content-Length matches the written
    * bytes, so the record parses clean and only the DIGEST disagrees —
    * exactly a bit-rot / torn-transfer signature). Assembled entirely
    * with column expressions, so DuckDB synthesizes the identical
    * bytes and recomputes BOTH digests with its own native md5 — the
    * two-independent-implementations oracle. */
  private[operators] def warcVerifyDocs(docsIn: DataFrame): DataFrame = {
    // fan-out before per-row container synthesis + kernel walk —
    // identity at scale (see ScaleUtils.fanOutScan)
    val docs = graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
    def rec(headers: Column, payload: Column): Column =
      concat(lit("WARC/1.0\r\n"), headers,
        lit("Content-Length: "), length(payload).cast("string"),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
    val clean = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
      col("html"))
    val written = when(col("doc_id") % 7 === 3,
      concat(clean, lit(" CORRUPTED"))).otherwise(clean)
    val did = col("doc_id").cast("string")
    htmlDocs(docs).select(col("doc_id"), concat(
      rec(lit("WARC-Type: warcinfo\r\n" +
        "Content-Type: application/warc-fields\r\n"),
        lit("software: graft")),
      rec(concat(lit("WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:resp-"), did,
        lit(">\r\nWARC-Target-URI: http://example.com/doc/"), did,
        lit("\r\nWARC-Payload-Digest: md5:"),
        md5(clean.cast("binary")),
        lit("\r\nContent-Type: application/http;msgtype=response\r\n")),
        written))
      .cast("binary").as("warc"))
  }

  /** DIGEST RE-VERIFICATION AS A DECLARED QUERY (VERDICT r17 item 2) —
    * the ingest-side twin of the reference's md5-verify routing (P3)
    * one container level up: re-compute each kept response record's
    * payload digest with the real
    * [[graft.functions.WarcRecords.verifyDigest]] seam and ROUTE —
    * `ok` folds into the corpus, `quarantine` is the bit-rot/
    * torn-transfer route (the planted `doc_id % 7 == 3` corruption
    * stride). The output carries both the declared and the recomputed
    * digest so the oracle checks the HASHES THEMSELVES, not just the
    * verdict: DuckDB rebuilds the same payload bytes from the planted
    * arithmetic and runs its own native md5 over them — if either
    * engine's digest, the splitter's payload boundary, or the verdict
    * logic drifts, the row set breaks. Scale shape: map-only over the
    * container scan (one digest pass per kept record — bytes already
    * in hand), no shuffle at all. */
  def warcDigestVerify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    warcVerifyDocs(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .map { case (id, warc) =>
        val recs = graft.functions.WarcRecords.split(warc)
        val resp = recs.find(_.warcType == "response")
        val verdict = resp.map { r =>
          graft.functions.WarcRecords.verifyDigest(r) match {
            case Some(true) => "ok"
            case Some(false) => "quarantine"
            case None => "unchecked"
          }
        }.getOrElse("missing")
        val recomputed = resp.map { r =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(r.payload).map("%02x".format(_)).mkString
        }.getOrElse("")
        (id, recs.size, verdict,
          resp.map(_.payloadDigest).getOrElse(""), recomputed)
      }
      .toDF("doc_id", "n_records", "verdict", "declared_digest",
        "recomputed_md5")
  }

  /** REVISIT fixture — the CommonCrawl crawl-side dedup convention:
    * an unchanged re-crawl is written as a `revisit` record that
    * carries NO payload, only `WARC-Refers-To` naming the original
    * response record and the shared payload digest. Planted: even
    * docs are full responses, odd docs are revisits referring to
    * `resp-(doc_id - 1)` — so every reference resolves and both
    * engines predict the join from arithmetic. */
  private[operators] def warcRevisitFiles(docsIn: DataFrame): DataFrame = {
    // fan-out before per-row container synthesis + kernel walk —
    // identity at scale (see ScaleUtils.fanOutScan)
    val docs = graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
    val clean = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
      col("html"))
    val did = col("doc_id").cast("string")
    val refId = (col("doc_id") - 1).cast("string")
    val record = when(col("doc_id") % 2 === 0,
      warcRec(concat(lit("WARC-Type: response\r\n" +
        "WARC-Record-ID: <urn:uuid:resp-"), did,
        lit(">\r\nWARC-Target-URI: http://example.com/doc/"), did,
        lit("\r\nWARC-Payload-Digest: md5:"), md5(clean.cast("binary")),
        lit("\r\nContent-Type: application/http;msgtype=response\r\n")),
        clean))
      .otherwise(
        warcRec(concat(lit("WARC-Type: revisit\r\n" +
          "WARC-Record-ID: <urn:uuid:rev-"), did,
          lit(">\r\nWARC-Refers-To: <urn:uuid:resp-"), refId,
          lit(">\r\nWARC-Target-URI: http://example.com/doc/"), did,
          lit("\r\nWARC-Profile: http://netpreserve.org/warc/1.0/" +
            "revisit/identical-payload-digest\r\n")),
          lit("")))
    htmlDocs(docs).select(col("doc_id"),
      record.cast("binary").as("warc"))
  }

  /** REVISIT RESOLUTION (r18) — the ingest join a CommonCrawl-style
    * consumer runs to re-materialize deduplicated content: `revisit`
    * records carry no payload, so their content comes from the
    * referenced original (`WARC-Refers-To` → `WARC-Record-ID`, a
    * globally-unique equi-key — the q_warc_pairs plan shape: two
    * relations out of one map-only split, ONE key-partitioned join,
    * no window, no skew). Output pins the resolved payload's md5 per
    * revisit, which DuckDB recomputes by building the ORIGINAL's
    * payload from the same planted arithmetic — a resolution that
    * joins the wrong record, or a splitter that corrupts the original
    * payload, breaks the hash. */
  def warcRevisit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = warcRevisitFiles(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .flatMap { case (_, warc) =>
        graft.functions.WarcRecords.split(warc).map { r =>
          val payloadMd5 =
            java.security.MessageDigest.getInstance("MD5")
              .digest(r.payload).map("%02x".format(_)).mkString
          (r.warcType, r.recordId, r.refersTo, r.targetUri, payloadMd5)
        }
      }
      .toDF("warc_type", "record_id", "refers_to", "uri", "payload_md5")
    val originals = recs.where(col("warc_type") === "response")
      .select(col("record_id").as("orig_id"),
        col("uri").as("orig_uri"),
        col("payload_md5").as("resolved_md5"))
    recs.where(col("warc_type") === "revisit")
      .select(col("record_id").as("revisit_id"), col("refers_to"),
        col("uri").as("revisit_uri"))
      .join(originals, col("refers_to") === col("orig_id"))
      .select(col("revisit_id"), col("revisit_uri"),
        col("orig_uri"), col("resolved_md5"))
  }

  /** CHARSET-DECLARED fixture (VERDICT r17 item 6): one response
    * record per doc whose HTTP head declares — by `doc_id % 3` —
    * `charset=windows-1252` (body bytes cp1252: curly quotes 0x93/
    * 0x94), `charset=utf-8`, or NO charset parameter (both with UTF-8
    * bytes E2 80 9C / E2 80 9D). All three strides carry the SAME
    * logical text, so a decoder that honors the declaration extracts
    * identical characters everywhere, while unconditional UTF-8
    * garbles every cp1252 row (0x93 is an invalid UTF-8 byte →
    * U+FFFD). Assembled as BINARY column expressions (`unhex` for the
    * non-ASCII bytes), so Content-Lengths count octets exactly and
    * DuckDB predicts the decoded text from the same arithmetic. */
  private[operators] def warcCharsetDocs(docsIn: DataFrame): DataFrame = {
    // fan-out before per-row container synthesis + kernel walk —
    // identity at scale (see ScaleUtils.fanOutScan)
    val docs = graft.functions.ScaleUtils.fanOutScan(docsIn, col("doc_id"))
    def bin(c: Column): Column = c.cast("binary")
    val stride = col("doc_id") % 3
    val qL = when(stride === 0, unhex(lit("93")))
      .otherwise(unhex(lit("E2809C")))
    val qR = when(stride === 0, unhex(lit("94")))
      .otherwise(unhex(lit("E2809D")))
    val csDecl = when(stride === 0, lit("; charset=windows-1252"))
      .when(stride === 1, lit("; charset=utf-8"))
      .otherwise(lit(""))
    val tok1 = element_at(
      toks(col("text")), 1)
    val body = concat(bin(lit("<p>")), bin(tok1), bin(lit(" ")),
      qL, bin(lit("quoted")), qR, bin(lit("</p>")))
    val payload = concat(
      bin(concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html"),
        csDecl, lit("\r\n\r\n"))), body)
    docs.select(col("doc_id"), concat(
      bin(concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
        "Content-Type: application/http;msgtype=response\r\n" +
        "Content-Length: "), length(payload).cast("string"),
        lit("\r\n\r\n"))),
      payload, bin(lit("\r\n\r\n"))).as("warc"))
  }

  /** CHARSET-AWARE EXTRACTION — the q_warc_extract chain with the
    * declared-charset decode in the loop: split → unwrap → read the
    * `Content-Type` charset ([[graft.functions.WarcRecords
    * .httpCharset]]) → decode → extract. Every stride must land the
    * IDENTICAL extracted characters (the planted cp1252 curly quotes
    * decode to U+201C/U+201D exactly like the UTF-8 rows), which the
    * oracle pins per row: same fingerprint across strides, charset
    * echoed so the parse itself is graded. Map-only like every decode
    * kernel. */
  def warcCharset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    warcCharsetDocs(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .map { case (id, warc) =>
        val resp = graft.functions.WarcRecords.split(warc)
          .find(_.warcType == "response")
        val cs = resp.map(r =>
          graft.functions.WarcRecords.httpCharset(r.payload))
          .getOrElse("")
        val body = resp
          .map(r => graft.functions.WarcRecords.httpBody(r.payload)._2)
          .getOrElse(Array.emptyByteArray)
        val text = graft.functions.HtmlText.extract(
          graft.functions.WarcRecords.decode(body, cs))
        (id, cs, text)
      }
      .toDF("doc_id", "charset", "extracted")
      .select(col("doc_id"), col("charset"),
        length(col("extracted")).cast("int").as("n_chars"),
        md5(col("extracted").cast("binary")).as("extracted_fp"))
  }

  /** REQUEST↔RESPONSE PAIRING — the crawl-level twin of the
    * reference's notify↔payload pairing (S3): a request record names
    * its response via `WARC-Concurrent-To`, and wayback-style
    * indexing joins the two to attach the fetch context (verb,
    * request headers) to the payload. Split both relations out of the
    * container, then ONE equi-join on the referenced record id —
    * record ids are globally unique, so at 100 TB this is a plain
    * key-partitioned shuffle join (both sides derive from the same
    * map-only split; no window, no skew — ids are unique by
    * construction). The fixture's planted ids make every pair
    * predictable from doc_id arithmetic in both engines. */
  def warcPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = warcDocs(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .flatMap { case (_, warc) =>
        graft.functions.WarcRecords.split(warc).map { r =>
          val status =
            if (r.warcType == "response")
              graft.functions.WarcRecords.httpBody(r.payload)._1
            else -1
          val verb =
            if (r.warcType == "request") {
              val s = new String(r.payload,
                java.nio.charset.StandardCharsets.ISO_8859_1)
              val sp = s.indexOf(' ')
              if (sp > 0) s.substring(0, sp) else ""
            } else ""
          (r.warcType, r.recordId, r.concurrentTo, r.targetUri,
            status, verb)
        }
      }
      .toDF("warc_type", "record_id", "concurrent_to", "uri",
        "status", "verb")
    val requests = recs.where(col("warc_type") === "request")
      .select(col("record_id").as("req_id"),
        col("concurrent_to").as("resp_ref"), col("verb"))
    val responses = recs.where(col("warc_type") === "response")
      .select(col("record_id").as("resp_id"), col("uri"),
        col("status").as("http_status"))
    requests.join(responses, col("resp_ref") === col("resp_id"))
      .select(col("req_id"), col("resp_id"), col("verb"), col("uri"),
        col("http_status"))
  }

  /** Deterministic REDIRECT-CHAIN fixture: one response record per doc
    * at `http://example.com/doc/<id>`. Ids on the `% 5 == 0` stride
    * answer 200 with a body; every other id redirects (301 on even
    * ids, 302 on odd) to `id - 1` — chains of up to 4 hops down to the
    * stride terminal — EXCEPT the `% 9 == 7` stride, whose `Location`
    * points at ITSELF (the crawler-trap loop the resolver must refuse
    * to follow). Assembled column-wise, so DuckDB derives the same
    * (uri, status, location) relation from arithmetic and resolves it
    * with its own engine. */
  private[operators] def warcRedirectDocs(docs: DataFrame): DataFrame = {
    val did = col("doc_id")
    def uriOf(c: Column): Column =
      concat(lit("http://example.com/doc/"), c.cast("string"))
    val target = when(did % 9 === 7, did).otherwise(did - 1)
    val payload = when(did % 5 === 0,
      concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        "<html>ok "), did.cast("string"), lit("</html>")))
      .otherwise(concat(
        when(did % 2 === 0, lit("HTTP/1.1 301 Moved Permanently\r\n"))
          .otherwise(lit("HTTP/1.1 302 Found\r\n")),
        lit("Location: "), uriOf(target), lit("\r\n\r\n")))
    docs.select(col("doc_id"), warcRec(concat(
      lit("WARC-Type: response\r\nWARC-Target-URI: "), uriOf(did),
      lit("\r\nContent-Type: application/http;msgtype=response\r\n")),
      payload).cast("binary").as("warc"))
  }

  /** ORACLED REDIRECT RESOLUTION — the crawl-processing step between
    * capture and link/dedup analysis: follow each capture's
    * 301/302 `Location` chain to its terminal (bounded at 4 hops — the
    * crawler convention), refusing self-loops (a hop that lands on the
    * uri it left never advances). The kernel side parses status and
    * `Location` out of the real HTTP heads
    * ([[graft.functions.WarcRecords.httpHeaderValue]]); resolution is
    * 4 chained equi-joins over the checkpointed capture relation (the
    * bounded-iteration discipline — each hop shuffles on the uri key,
    * nothing quadratic). DuckDB resolves INDEPENDENTLY: a recursive
    * CTE walk over the same arithmetic-derived relation with the same
    * loop guard — two different resolution engines must land on the
    * same terminals, hop counts and stall states. */
  def warcRedirects(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = warcRedirectDocs(Tables.documents(spark, dir))
      .as[(Long, Array[Byte])]
      .flatMap { case (_, warc) =>
        graft.functions.WarcRecords.split(warc)
          .filter(_.warcType == "response")
          .map { r =>
            val (status, _) =
              graft.functions.WarcRecords.httpBody(r.payload)
            (r.targetUri, status,
              graft.functions.WarcRecords.httpHeaderValue(
                r.payload, "location"))
          }
      }
      .toDF("uri", "status", "loc")
      .localCheckpoint(true)
    val hop = recs.select(col("uri").as("r_uri"),
      col("status").as("r_status"), col("loc").as("r_loc"))
    var cur = recs.select(col("uri").as("start_uri"),
      col("uri").as("cur"), col("status"), col("loc"),
      lit(0).as("n_hops"))
    for (_ <- 1 to 4) {
      cur = cur
        .join(hop, col("loc") === col("r_uri") &&
          col("status").isin(301, 302) && col("r_uri") =!= col("cur"),
          "left")
        .select(col("start_uri"),
          coalesce(col("r_uri"), col("cur")).as("cur"),
          coalesce(col("r_status"), col("status")).as("status"),
          coalesce(col("r_loc"), col("loc")).as("loc"),
          (col("n_hops") +
            when(col("r_uri").isNotNull, 1).otherwise(0)).as("n_hops"))
    }
    cur.select(col("start_uri"), col("cur").as("final_uri"),
      col("n_hops"), col("status").as("final_status"),
      (col("status") === 200).as("resolved"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_stats"     -> textStats _,
    "q_html_extract"   -> htmlExtract _,
    "q_warc_extract"   -> warcExtract _,
    "q_warc_digest_dedup" -> warcDigestDedup _,
    "q_warc_digest_verify" -> warcDigestVerify _,
    "q_warc_charset"   -> warcCharset _,
    "q_warc_revisit"   -> warcRevisit _,
    "q_warc_pairs"     -> warcPairs _,
    "q_warc_redirects" -> warcRedirects _,
    "q_pdf_extract"    -> pdfExtract _,
    "q_token_estimate" -> tokenEstimate _,
    "q_vocab"          -> vocab _,
    "q_bpe_pairs"      -> bpePairs _,
    "q_bpe_merges"     -> bpeMerges _,
    "q_unigram_vocab"  -> unigramVocab _,
    "q_unigram_encode" -> unigramEncode _,
    "q_prod_unigram_encode" -> prodUnigramEncode _,
    "q_tokenizer_compare" -> tokenizerCompare _,
    "q_unigram_coverage" -> unigramCoverage _,
    "q_bpe_batched"    -> ((s: SparkSession, d: String) =>
      bpeMergesBatched(s, d)),
    "q_bpe_segmented"  -> bpeSegmented _,
    "q_bpe_encode"     -> bpeEncode _,
    "q_bpe_symbol_vocab" -> bpeSymbolVocab _,
    "q_bpe_token_count" -> bpeTokenCount _,
    "q_bpe_fertility"  -> bpeFertility _,
    "q_pii_scan"       -> piiScan _,
    "q_repeat_scrub"   -> repeatScrub _,
    "q_crossdoc_scrub" -> crossDocScrub _,
    "q_langid"         -> langId _,
    "q_quality_score"  -> qualityScore _,
    "q_quality_percentile" -> qualityPercentile _,
    "q_repetition"     -> repetition _,
    "q_lm_score"       -> lmScore _,
    "q_nb_quality"     -> nbQuality _,
    "q_nb_eval"        -> nbQualityEval _,
    "q_nb_calibration" -> nbCalibration _,
    "q_nb_top_tokens"  -> ((s, d) => nbTopTokens(s, d)),
    "q_tfidf_topk"     -> tfidfKeywords _,
    "q_bm25_topk"      -> bm25TopK _,
    "q_prod_bm25_topk" -> prodBm25TopK _,
    "q_freq_spectrum"  -> freqSpectrum _,
    "q_bigram_score"   -> bigramScore _,
    "q_kn_heldout"     -> knHeldoutScore _,
    "q_sketch_bounds"  -> sketchBounds _,
    "q_psi_drift"      -> psiDrift _,
    "q_countmin"       -> countMinTable _,
    "q_countmin_deep"  -> countMinDeepTable _,
    "q_countmin_est"   -> countMinEst _,
    "q_cm_joinsize"    -> countMinJoinSize _,
    "q_collocations"   -> collocations _,
    "q_ppl_buckets"    -> pplBuckets _,
    "q_signal_agreement" -> signalAgreement _,
    "q_vocab_card"     -> vocabCard _,
    "q_vocab_drift"    -> vocabDrift _,
    "q_snapshot_diff"  -> snapshotDiff _,
    "q_unicode_norm"   -> unicodeNorm _,
    "q_encoding_repair" -> encodingRepair _,
    "q_clean_pipeline" -> cleanPipeline _,
    "q_norm_dedup"     -> normDedup _,
    "q_keyword_hits"   -> keywordHits _,
    "q_keyword_tag"    -> keywordTag _,
    "q_homoglyph_dedup" -> homoglyphDedup _,
    "q_keyword_scrub"  -> keywordScrub _,
    "q_gopher_rules"   -> gopherRules _,
    "q_boilerplate"    -> boilerplate _,
    "q_shingle_novelty" -> shingleNovelty _,
    "q_winnow_fp"      -> winnowFingerprint _,
    "q_winnow_overlap" -> winnowOverlapBest _,
    "q_shared_spans"   -> sharedSpans _,
    "q_shared_spans_cand" -> sharedSpansCandidates _,
    "q_span_scrub"     -> spanScrub _,
    "q_length_quantiles" -> lengthQuantiles _,
    "q_fingerprint"    -> fingerprint _,
    "q_dedup_exact"    -> dedupExact _,
    "q_jaccard_best"   -> jaccardBestMatch _,
  )

  private[operators] val toksSql =
    "list_filter(string_split(text, ' '), t -> t <> '')"

  /** DuckDB twin of [[lmScoreCore]] (ends in `lms(doc_id, lang, n_tok,
    * avg_tok_ppm, min_tok_ppm)`) — shared by the q_lm_score and
    * q_ppl_buckets oracles so the scoring chain cannot drift. */
  private lazy val lmScoreCtes: String =
    s"""ex AS (
       |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents),
       |cnt AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY tok),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
       |pr AS (SELECT tok, cnt * $LmPpmUnit // total AS ppm FROM cnt, tot),
       |lms AS (
       |  SELECT doc_id, lang, count(*) AS n_tok,
       |    CAST(sum(ppm) AS BIGINT) // count(*) AS avg_tok_ppm,
       |    CAST(min(ppm) AS BIGINT) AS min_tok_ppm
       |  FROM ex JOIN pr USING (tok)
       |  GROUP BY doc_id, lang)""".stripMargin

  /** DuckDB twin of [[nbQualityCore]] (ends in
    * `nbq(doc_id, lang, heur_pos, n_tok, nb_score, nb_pos)`) — shared by
    * the q_nb_quality and q_nb_eval oracles so the training chain cannot
    * drift. */
  private lazy val nbQualityCtes: String =
    s"""q AS ($quality10kSql),
       |base AS (
       |  SELECT doc_id, lang, text,
       |    CAST(len($toksSql) AS BIGINT) AS n_tok,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
       |    CAST(length(regexp_extract_all(text,
       |      '\\b(the|a|of|and|in|to)\\b')) AS BIGINT) AS n_stop
       |  FROM documents),
       |lbl AS (
       |  SELECT b.doc_id, b.lang, b.text,
       |    CASE WHEN b.n_tok >= $GopherMinTok AND b.n_tok <= $GopherMaxTok
       |      AND b.chars >= $GopherMinAvgLen * b.n_tok
       |      AND b.chars <= $GopherMaxAvgLen * b.n_tok
       |      AND b.n_tok > 0 AND b.n_stop >= $GopherMinStop
       |      AND q.q10k >= $QualityFloor10k
       |    THEN 1 ELSE 0 END AS pos
       |  FROM base b JOIN q USING (doc_id)),
       |nex AS (SELECT doc_id, lang, pos, unnest($toksSql) AS tok FROM lbl),
       |ncnt AS (SELECT tok, CAST(sum(pos) AS BIGINT) AS cnt_pos,
       |         CAST(sum(1 - pos) AS BIGINT) AS cnt_neg
       |         FROM nex GROUP BY tok),
       |ntot AS (SELECT CAST(sum(cnt_pos) AS BIGINT) AS tot_pos,
       |         CAST(sum(cnt_neg) AS BIGINT) AS tot_neg,
       |         CAST(count(*) AS BIGINT) AS vsize FROM ncnt),
       |nw AS (SELECT tok,
       |    ${log2x8Sql(s"CAST((cnt_pos + 1) * $NbPpb // (tot_pos + vsize) AS BIGINT)")}
       |  - ${log2x8Sql(s"CAST((cnt_neg + 1) * $NbPpb // (tot_neg + vsize) AS BIGINT)")}
       |    AS w
       |  FROM ncnt, ntot),
       |npri AS (SELECT
       |    ${log2x8Sql("CAST(sum(pos) + 1 AS BIGINT)")}
       |  - ${log2x8Sql("CAST(sum(1 - pos) + 1 AS BIGINT)")} AS prior_w
       |  FROM lbl),
       |nbq AS (
       |  SELECT e.doc_id, e.lang, CAST(e.pos AS BIGINT) AS heur_pos,
       |    CAST(count(*) AS BIGINT) AS n_tok,
       |    CAST(sum(nw.w) AS BIGINT) + (SELECT prior_w FROM npri)
       |      AS nb_score,
       |    CASE WHEN CAST(sum(nw.w) AS BIGINT)
       |        + (SELECT prior_w FROM npri) > 0
       |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nb_pos
       |  FROM nex e JOIN nw USING (tok)
       |  GROUP BY e.doc_id, e.lang, e.pos)""".stripMargin

  /** DuckDB twin of [[pplBucketsCore]] (a complete query — consumers
    * nest it as a derived table), shared by the q_ppl_buckets and
    * q_signal_agreement oracles. */
  private lazy val pplBucketsSql: String =
    s"""WITH $lmScoreCtes,
       |hist AS (SELECT avg_tok_ppm, count(*) AS n FROM lms
       |         GROUP BY avg_tok_ppm),
       |c AS (SELECT avg_tok_ppm, n,
       |    CAST(sum(n) OVER (ORDER BY avg_tok_ppm DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(n) OVER () AS BIGINT) AS total
       |  FROM hist),
       |t AS (SELECT
       |    min(CASE WHEN cum <= total // 3 THEN avg_tok_ppm END) AS t1,
       |    min(CASE WHEN cum <= 2 * total // 3 THEN avg_tok_ppm END) AS t2
       |  FROM c)
       |SELECT s.doc_id, s.lang, s.avg_tok_ppm,
       |  CASE WHEN s.avg_tok_ppm >= t.t1 THEN 'head'
       |       WHEN s.avg_tok_ppm >= t.t2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM lms s, t""".stripMargin

  /** DuckDB twin of [[bpeMerges]] — the merge loop UNROLLED into
    * [[BpeMergeIters]] CTE levels (SQL has no iteration; the level count
    * is a compile-time constant, so unrolling is exact, not an
    * approximation). Level i: pair counts over level i-1's words → top-1
    * by the same total order → apply the merge with the same
    * sentinel-space literal `replace`. The one-row `m{i}` CTE joins back
    * in as a scalar (the SQL rendering of the Spark loop's collect). */
  /** Sentinel-space encoding of `tok` as a DuckDB expression (the SQL
    * twin of [[sentinelVocab]]'s `w` column). */
  private val sentinelEncSql = "' ' || array_to_string(list_transform(" +
    "range(1, length(tok) + 1), i -> tok[CAST(i AS INT)]), '  ') || ' '"

  /** [[bpeLevelsSql]] with the training corpus restricted by `where` —
    * the parameterized form the encode twin needs (train on one split,
    * apply to the other). */
  private def bpeLevelsSqlOver(where: String): String = {
    val levels = (1 to BpeMergeIters).map { i =>
      val p = i - 1
      s"""s$i AS (SELECT string_split(trim(w), '  ') AS s, cnt FROM w$p),
         |p$i AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occ
         |  FROM (SELECT unnest(list_transform(range(1, len(s)),
         |          j -> s[CAST(j AS INT)] || ' ' || s[CAST(j + 1 AS INT)]))
         |          AS pair, cnt
         |        FROM s$i)
         |  GROUP BY pair),
         |m$i AS (SELECT CAST($i AS BIGINT) AS merge_rank, pair, n_occ
         |  FROM p$i ORDER BY n_occ DESC, pair LIMIT 1),
         |w$i AS (SELECT tok, replace(w, ' ' || replace(pair, ' ', '  ') || ' ',
         |    ' ' || replace(pair, ' ', '') || ' ') AS w, cnt
         |  FROM w$p, m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (
       |  SELECT tok, $sentinelEncSql AS w, count(*) AS cnt
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents
       |        WHERE $where)
       |  GROUP BY tok),
       |$levels""".stripMargin
  }

  private val bpeLevelsSql: String = bpeLevelsSqlOver("TRUE")

  private val bpeMergesSql: String =
    s"""$bpeLevelsSql
       |${(1 to BpeMergeIters)
          .map(i => s"SELECT merge_rank, pair, n_occ FROM m$i")
          .mkString("\nUNION ALL\n")}
       |ORDER BY merge_rank""".stripMargin

  private val bpeSegmentedSql: String =
    s"""$bpeLevelsSql
       |SELECT tok, cnt,
       |  array_to_string(string_split(trim(w), '  '), ' ') AS symbols,
       |  CAST(len(string_split(trim(w), '  ')) AS INT) AS n_symbols
       |FROM w$BpeMergeIters""".stripMargin

  /** DuckDB twin of [[bpeEncode]] — the merge loop unrolled over the
    * EVEN-doc_id training split, then the APPLY chain e0..eN: the
    * held-out (odd-id) vocabulary pushed through each stored merge as a
    * literal replace. LEFT JOIN ON TRUE + CASE keeps an EXHAUSTED level
    * (empty m_i — every training word one symbol) an identity step, the
    * same no-op the Spark loop's early exit produces. */
  private val bpeEncodeSql: String = {
    val applies = (1 to BpeMergeIters).map { i =>
      val p = i - 1
      s"""e$i AS (SELECT e.tok,
         |    CASE WHEN m.pair IS NULL THEN e.w
         |         ELSE replace(e.w, ' ' || replace(m.pair, ' ', '  ') || ' ',
         |           ' ' || replace(m.pair, ' ', '') || ' ') END AS w,
         |    e.cnt
         |  FROM e$p e LEFT JOIN m$i m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""${bpeLevelsSqlOver("doc_id % 2 = 0")},
       |e0 AS (
       |  SELECT tok, $sentinelEncSql AS w, count(*) AS cnt
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents
       |        WHERE doc_id % 2 = 1)
       |  GROUP BY tok),
       |$applies
       |SELECT tok, cnt,
       |  array_to_string(string_split(trim(w), '  '), ' ') AS symbols,
       |  CAST(len(string_split(trim(w), '  ')) AS INT) AS n_symbols
       |FROM e$BpeMergeIters""".stripMargin
  }

  private val bpeTokenCountSql: String =
    s"""$bpeLevelsSql,
       |seg AS (SELECT tok, len(string_split(trim(w), '  ')) AS n_symbols
       |        FROM w$BpeMergeIters)
       |SELECT d.doc_id, CAST(sum(s.n_symbols) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents) d
       |JOIN seg s USING (tok)
       |GROUP BY d.doc_id""".stripMargin

  private val bpeFertilitySql: String =
    s"""$bpeLevelsSql,
       |seg AS (SELECT tok, len(string_split(trim(w), '  ')) AS n_symbols
       |        FROM w$BpeMergeIters)
       |SELECT d.lang, count(*) AS n_words,
       |  CAST(sum(s.n_symbols) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(d.tok)) AS BIGINT) AS n_chars,
       |  CAST(sum(s.n_symbols) AS BIGINT) * 100 // count(*) AS fertility_100,
       |  CAST(sum(length(d.tok)) AS BIGINT) * 100
       |    // CAST(sum(s.n_symbols) AS BIGINT) AS chars_per_token_100
       |FROM (SELECT lang, unnest($toksSql) AS tok FROM documents) d
       |JOIN seg s USING (tok)
       |GROUP BY d.lang""".stripMargin

  // --- unigram-LM oracle (the EM rounds unrolled as chained CTEs) ---

  /** DuckDB 1.x INLINES single-reference CTEs — in this unrolled DP
    * chain each level references up to 4 prior levels, so inlining is
    * EXPONENTIAL (and each leaf re-opens the parquet: "too many open
    * files" before the planner even finishes). Force materialization
    * per CTE; each is at most vocabulary-sized.
    *
    * The rewrite is anchored to CTE HEADS of this chain's `u…` naming
    * convention (ADVICE r16: a blanket `" AS ("` replace would
    * silently mangle any future spliced fragment that aliases a
    * column before a parenthesized expression) — every CTE in the
    * unigram chain starts with `u` and nothing else in the spliced
    * text matches `<u-identifier> AS (`. */
  private val UniCteHead = "\\b(u[a-z0-9_]*) AS \\(".r
  private def uniMat(ctes: String): String =
    UniCteHead.replaceAllIn(ctes,
      m => java.util.regex.Matcher.quoteReplacement(
        m.group(1) + " AS MATERIALIZED ("))


  /** Prologue: truncated word relation, char alphabet, substring seed
    * counts, the seed vocabulary `uv0` — the `//`-twin of [[uniWords]]
    * / [[uniSubCounts]] / the seed cut in [[uniTrain]]. */
  private def uniBaseSql: String =
    s"""uw AS (SELECT substr(tok, 1, $UniMaxWordLen) AS tok,
       |         CAST(count(*) AS BIGINT) AS cnt
       |       FROM (SELECT unnest($toksSql) AS tok FROM documents)
       |       GROUP BY 1),
       |uch AS (SELECT DISTINCT substr(tok, st, 1) AS piece
       |        FROM (SELECT tok,
       |                CAST(unnest(range(1, length(tok) + 1)) AS INT) AS st
       |              FROM uw)),
       |upos AS (SELECT tok, cnt,
       |           CAST(unnest(range(1, length(tok) + 1)) AS INT) AS st
       |         FROM uw),
       |upl AS (SELECT tok, cnt, st,
       |          CAST(unnest(range(1, ${UniMaxPiece + 1})) AS INT) AS l
       |        FROM upos),
       |usub AS (SELECT substr(tok, st, l) AS piece,
       |           CAST(SUM(cnt) AS BIGINT) AS n
       |         FROM upl WHERE st + l - 1 <= length(tok) GROUP BY 1),
       |uv0 AS (SELECT piece, n FROM (
       |          SELECT piece, n FROM usub WHERE length(piece) > 1
       |          ORDER BY n DESC, piece LIMIT $UniSeedK)
       |        UNION ALL
       |        SELECT s.piece, s.n FROM usub s
       |        JOIN uch c ON s.piece = c.piece),
       |${uniCostSql(0)}""".stripMargin

  /** Cost CTEs `ut$v`/`uc$v` over vocabulary `uv$v` — the Laplace
    * fixed-point scoring of [[uniCosts]]. */
  private def uniCostSql(v: Int): String =
    s"""ut$v AS (SELECT CAST(SUM(n + 1) AS BIGINT) AS tot FROM uv$v),
       |uc$v AS (SELECT piece,
       |  ${log2x8Sql(s"(SELECT tot FROM ut$v)")}
       |    - ${log2x8Sql("n + 1")} AS cost FROM uv$v)""".stripMargin

  /** One unrolled E-step `r` (costs `uc${r - 1}`): forward Viterbi
    * levels `uf${r}_j` (the MIN over the same
    * `(best + cost)·8 + (max − l)` key the kernel uses), the level
    * union `udp$r`, the backward path walk `ug${r}_j`, emitted pieces
    * `upu$r`, and usage counts `uus$r`. */
  private def uniRoundSql(r: Int): String = {
    val c = s"uc${r - 1}"
    val fwd = (1 to UniMaxWordLen).map { j =>
      val prevs = (math.max(0, j - UniMaxPiece) until j)
        .map(p => s"SELECT * FROM uf${r}_$p").mkString(" UNION ALL ")
      s"""uf${r}_$j AS (
         |  SELECT w.tok, CAST($j AS INT) AS pos,
         |    MIN((p.bkey // 8 + c.cost) * 8
         |        + ($UniMaxPiece - ($j - p.pos))) AS bkey
         |  FROM uw w
         |  JOIN ($prevs) p ON p.tok = w.tok
         |  JOIN $c c ON c.piece = substr(w.tok, p.pos + 1, $j - p.pos)
         |  WHERE length(w.tok) >= $j
         |  GROUP BY w.tok)""".stripMargin
    }.mkString(",\n")
    val bwd = (1 to UniMaxWordLen).map { j =>
      s"""ug${r}_$j AS (
         |  SELECT g.tok, g.cnt,
         |    CAST(g.pos - ($UniMaxPiece - CAST(d.bkey % 8 AS INT))
         |      AS INT) AS pos,
         |    substr(g.tok,
         |      g.pos - ($UniMaxPiece - CAST(d.bkey % 8 AS INT)) + 1,
         |      $UniMaxPiece - CAST(d.bkey % 8 AS INT)) AS piece
         |  FROM ug${r}_${j - 1} g
         |  JOIN udp$r d ON d.tok = g.tok AND d.pos = g.pos
         |  WHERE g.pos > 0)""".stripMargin
    }.mkString(",\n")
    s"""uf${r}_0 AS (SELECT tok, CAST(0 AS INT) AS pos,
       |  CAST(0 AS BIGINT) AS bkey FROM uw),
       |$fwd,
       |udp$r AS (${(1 to UniMaxWordLen)
        .map(j => s"SELECT tok, pos, bkey FROM uf${r}_$j")
        .mkString(" UNION ALL ")}),
       |ug${r}_0 AS (SELECT tok, cnt, CAST(length(tok) AS INT) AS pos
       |  FROM uw),
       |$bwd,
       |upu$r AS (${(1 to UniMaxWordLen)
        .map(j => s"SELECT tok, cnt, piece, pos FROM ug${r}_$j")
        .mkString(" UNION ALL ")}),
       |uus$r AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n
       |  FROM upu$r GROUP BY 1)""".stripMargin
  }

  /** M-step `r`: vocabulary `uv$r` (top multi-char pieces + the full
    * alphabet with 0-coalesced usage) and its costs. */
  private def uniPruneSql(r: Int): String =
    s"""uv$r AS (SELECT piece, n FROM (
       |          SELECT piece, n FROM uus$r WHERE length(piece) > 1
       |          ORDER BY n DESC, piece LIMIT $UniVocabTarget)
       |        UNION ALL
       |        SELECT c.piece, CAST(coalesce(u.n, 0) AS BIGINT) AS n
       |        FROM uch c LEFT JOIN uus$r u ON u.piece = c.piece),
       |${uniCostSql(r)}""".stripMargin

  /** Seed + both EM rounds — shared chain of all three unigram
    * oracles (CTE list only; callers prepend WITH or splice). */
  private def uniTrainSql: String = uniMat(
    s"""$uniBaseSql,
       |${uniRoundSql(1)},
       |${uniPruneSql(1)},
       |${uniRoundSql(2)},
       |${uniPruneSql(2)}""".stripMargin)

  private def unigramVocabSql: String =
    s"""WITH $uniTrainSql
       |SELECT v.piece, v.n AS n_uses, c.cost AS cost8
       |FROM uv$UniEmRounds v JOIN uc$UniEmRounds c USING (piece)
       |""".stripMargin

  private def unigramEncodeSql: String =
    s"""WITH $uniTrainSql,
       |${uniMat(uniRoundSql(3))}
       |SELECT tok, cnt, string_agg(piece, ' ' ORDER BY pos) AS pieces,
       |  CAST(count(*) AS INT) AS n_pieces
       |FROM upu3 GROUP BY tok, cnt
       |""".stripMargin

  private def unigramCoverageSql: String =
    s"""WITH $uniTrainSql,
       |${uniMat(uniRoundSql(3))},
       |useg AS (SELECT tok, CAST(count(*) AS INT) AS n_uni,
       |           CAST(sum(CASE WHEN length(piece) = 1 THEN 1 ELSE 0 END)
       |             AS INT) AS n_char_pieces
       |         FROM upu3 GROUP BY tok)
       |SELECT d.lang, count(*) AS n_words,
       |  CAST(sum(u.n_uni) AS BIGINT) AS n_pieces,
       |  CAST(sum(u.n_char_pieces) AS BIGINT) AS n_char_pieces,
       |  CAST(sum(u.n_char_pieces) AS BIGINT) * 100
       |    // CAST(sum(u.n_uni) AS BIGINT) AS char_piece_rate_100
       |FROM (SELECT lang, unnest($toksSql) AS tok FROM documents) d
       |JOIN useg u ON u.tok = substr(d.tok, 1, $UniMaxWordLen)
       |GROUP BY d.lang""".stripMargin

  private def tokenizerCompareSql: String =
    s"""$bpeLevelsSql,
       |$uniTrainSql,
       |${uniMat(uniRoundSql(3))},
       |useg AS (SELECT tok, CAST(count(*) AS INT) AS n_uni
       |         FROM upu3 GROUP BY tok),
       |bseg AS (SELECT tok, len(string_split(trim(w), '  ')) AS n_bpe
       |         FROM w$BpeMergeIters)
       |SELECT d.lang, count(*) AS n_words,
       |  CAST(sum(b.n_bpe) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(u.n_uni) AS BIGINT) AS n_uni_tokens,
       |  CAST(sum(b.n_bpe) AS BIGINT) * 100 // count(*)
       |    AS bpe_fertility_100,
       |  CAST(sum(u.n_uni) AS BIGINT) * 100 // count(*)
       |    AS uni_fertility_100
       |FROM (SELECT lang, unnest($toksSql) AS tok FROM documents) d
       |JOIN bseg b ON b.tok = d.tok
       |JOIN useg u ON u.tok = substr(d.tok, 1, $UniMaxWordLen)
       |GROUP BY d.lang""".stripMargin

  private val bpeSymbolVocabSql: String =
    s"""$bpeLevelsSql
       |SELECT symbol, CAST(sum(cnt) AS BIGINT) AS n_occ
       |FROM (SELECT unnest(string_split(trim(w), '  ')) AS symbol, cnt
       |      FROM w$BpeMergeIters)
       |GROUP BY symbol
       |ORDER BY n_occ DESC, symbol
       |LIMIT $BpeSymbolTopK""".stripMargin

  /** DuckDB rendering of [[gopherRulesCore]] (doc_id, lang, n_tok,
    * per-rule booleans, pass) — shared by the q_gopher_rules oracle
    * and CurationOps's corpus report, so the rule table can never
    * drift between them. */
  private[operators] lazy val gopherRulesSql: String =
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
         |    CAST(length(regexp_extract_all(text,
         |      '\\b(the|a|of|and|in|to)\\b')) AS BIGINT) AS n_stop
         |  FROM documents),
         |f AS (SELECT doc_id, tok, count(*) AS c
         |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
         |      GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS top_cnt FROM f GROUP BY 1),
         |g AS (SELECT doc_id, len(toks) AS n_tok,
         |    CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)),
         |             i -> toks[i] || ' ' || toks[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END AS g2
         |  FROM t),
         |m AS (SELECT t.doc_id, t.lang, CAST(g.n_tok AS BIGINT) AS n_tok,
         |    t.chars, t.n_stop,
         |    coalesce(top.top_cnt, 0) * 10000
         |      // greatest(g.n_tok, 1) AS top10k,
         |    (len(g2) - len(list_distinct(g2))) * 10000
         |      // greatest(len(g2), 1) AS dup10k
         |  FROM t JOIN g ON g.doc_id = t.doc_id
         |  LEFT JOIN top ON t.doc_id = top.doc_id)
         |SELECT doc_id, lang, n_tok,
         |  (n_tok >= $GopherMinTok AND n_tok <= $GopherMaxTok)
         |    AS word_count_ok,
         |  (chars >= $GopherMinAvgLen * n_tok
         |   AND chars <= $GopherMaxAvgLen * n_tok AND n_tok > 0)
         |    AS avg_len_ok,
         |  n_stop >= $GopherMinStop AS stop_ok,
         |  top10k <= $TopWordBar10k AS top_ok,
         |  dup10k <= $Dup2gramBar10k AS dup_ok,
         |  ((n_tok >= $GopherMinTok AND n_tok <= $GopherMaxTok)
         |   AND (chars >= $GopherMinAvgLen * n_tok
         |        AND chars <= $GopherMaxAvgLen * n_tok AND n_tok > 0)
         |   AND n_stop >= $GopherMinStop
         |   AND top10k <= $TopWordBar10k
         |   AND dup10k <= $Dup2gramBar10k) AS pass
         |FROM m""".stripMargin

  /** Shared-run CTE chain of the span family (ends in
    * `runs(id_a, id_b, span_tokens, start_a, start_b)`, one row per
    * qualifying maximal run) — one definition for the measuring
    * oracles (q_shared_spans[_cand]) and the scrub oracle
    * (q_span_scrub), mirroring the Scala-side spanRunsCore reuse. */
  private lazy val spanRunsCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |d AS (SELECT doc_id, tk FROM t WHERE len(tk) >= $SpanBarTokens),
         |g AS (SELECT doc_id,
         |    list_transform(range(1, len(tk) - 1),
         |      i -> md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS h
         |  FROM d),
         |pg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         h[CAST(i AS INT)] AS hh
         |       FROM (SELECT doc_id, h,
         |               unnest(range(1, len(h) + 1)) AS i FROM g)),
         |tot AS (SELECT count(*) AS n_total FROM t),
         |hot AS (SELECT hh FROM (
         |          SELECT hh, count(*) AS nd
         |          FROM (SELECT DISTINCT doc_id, hh FROM pg) GROUP BY hh)
         |        CROSS JOIN tot
         |        WHERE nd > greatest($WinnowDfBar,
         |                            n_total // $WinnowDfFracDiv)),
         |k AS (SELECT * FROM pg WHERE hh NOT IN (SELECT hh FROM hot)),
         |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
         |      FROM k a JOIN k b
         |        ON a.hh = b.hh AND a.doc_id < b.doc_id),
         |r AS (SELECT id_a, id_b, diag, pa, pb,
         |        pa - row_number() OVER (PARTITION BY id_a, id_b, diag
         |                                ORDER BY pa) AS island
         |      FROM m),
         |runs AS (SELECT id_a, id_b,
         |           CAST(count(*) + 2 AS BIGINT) AS span_tokens,
         |           CAST(min(pa) AS BIGINT) AS start_a,
         |           CAST(min(pb) AS BIGINT) AS start_b
         |         FROM r GROUP BY id_a, id_b, diag, island
         |         HAVING count(*) + 2 >= $SpanBarTokens)""".stripMargin

  /** DuckDB twin of the shared-span pass — one definition for both
    * the direct (q_shared_spans) and candidate-restricted
    * (q_shared_spans_cand) declared queries, which are result-identical
    * by the MOSS candidate-recall guarantee. */
  private lazy val sharedSpansSql: String =
    s"""WITH $spanRunsCtes
       |SELECT id_a, id_b, span_tokens, start_a, start_b FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id_a, id_b
         |    ORDER BY span_tokens DESC, start_a, start_b) AS rn
         |  FROM runs)
         |WHERE rn = 1""".stripMargin

  /** DuckDB twin of [[spanScrubCore]]: the runs chain + the
    * repeat-scrub reassembly skeleton over the LATER doc of each pair. */
  private lazy val spanScrubSql: String =
    s"""WITH $spanRunsCtes,
       |cov AS (SELECT DISTINCT id_b AS doc_id, pos FROM (
       |    SELECT id_b,
       |      unnest(range(start_b - 1, start_b - 1 + span_tokens)) AS pos
       |    FROM runs)),
       |tt AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
       |p0 AS (SELECT doc_id, unnest(range(n)) AS pos, tk FROM tt),
       |p AS (SELECT doc_id, pos, tk[CAST(pos + 1 AS INT)] AS tok FROM p0),
       |kk AS (SELECT p.doc_id, p.pos, p.tok
       |      FROM p LEFT JOIN cov
       |        ON cov.doc_id = p.doc_id AND cov.pos = p.pos
       |      WHERE cov.pos IS NULL),
       |sc AS (SELECT doc_id, count(*) AS n_kept,
       |         md5(array_to_string(list(tok ORDER BY pos), ' ')) AS fp
       |       FROM kk GROUP BY doc_id)
       |SELECT tt.doc_id, CAST(tt.n AS INT) AS n_tok,
       |  CAST(tt.n - coalesce(sc.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(sc.fp, md5('')) AS scrubbed_fp
       |FROM tt LEFT JOIN sc ON sc.doc_id = tt.doc_id""".stripMargin

  /** Shared variant CTE for the normalization oracles — MUST stay in
    * lockstep with [[normVariant]]; suffixes are synthesized from
    * chr() codepoints so the JSON round-trip can never re-normalize
    * them. */
  private val normVariantCte =
    s"""v AS (SELECT doc_id,
       |  substr(text, 1, 40) || ' ' ||
       |  CASE WHEN doc_id % 2 = 0 THEN $normSufDecomposedSql
       |       ELSE $normSufComposedSql END AS v
       |FROM documents)""".stripMargin

  /** RAW page + HTTP payload synthesis twin of [[htmlDocs]] (byte-exact,
    * unlike [[htmlAggCte]]'s extraction view) ending in
    * `wv(doc_id, clean)` — the clean response payload string both
    * digest oracles hash with DuckDB's native md5. Must stay in
    * lockstep with the Spark synthesis character for character. */
  private val warcPayloadCtes =
    """wtok AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |wbase AS (SELECT doc_id, t, len(t) AS n FROM wtok),
      |wpp AS (SELECT doc_id, t, unnest(range((n + 4) // 10)) AS p
      |        FROM wbase WHERE n > 5),
      |wpar AS (SELECT doc_id, string_agg(
      |    '<p>&quot;' || list_extract(t, p * 10 + 6) || '&quot; ' ||
      |    coalesce(array_to_string(
      |      list_slice(t, p * 10 + 7, p * 10 + 15), ' '), '') ||
      |    '</p>', '' ORDER BY p) AS paras
      |  FROM wpp GROUP BY doc_id),
      |whtml AS (SELECT b.doc_id,
      |    '<html><head><title>t</title><script type="text/javascript">var s = "' ||
      |    coalesce(array_to_string(list_slice(b.t, 1, 2), ' '), '') ||
      |    '";</script><style>.x{color:red}</style></head><body><nav><a href="/">home</a> <a href="/about">about</a></nav><h1>' ||
      |    coalesce(array_to_string(list_slice(b.t, 1, 5), ' &amp; '), '') ||
      |    '</h1><p>see <a href="/d">' || list_extract(b.t, 1) ||
      |    '</a> for details</p>' || coalesce(wp.paras, '') ||
      |    '<div><a href="/m">more</a> <a href="/l">links</a> <a href="/r">related</a></div><footer>(c) 2026 corp</footer></body></html>'
      |      AS html
      |  FROM wbase b LEFT JOIN wpar wp ON wp.doc_id = b.doc_id),
      |wv AS (SELECT doc_id,
      |    'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
      |    'Content-Type: text/html' || chr(13) || chr(10) ||
      |    chr(13) || chr(10) || html AS clean
      |  FROM whtml)""".stripMargin

  /** Shared expected-extraction chain for the [[htmlDocs]] synthesis —
    * rebuilds the kept lines (h1, inline-anchor paragraph, body
    * paragraphs) from the SAME token arithmetic the Spark synthesis
    * uses, ending in `agg(doc_id, n_lines, txt)`. Used by BOTH
    * q_html_extract and q_warc_extract so the two gates can never
    * drift on what "correct extraction" means. */
  private val htmlAggCte =
    """tok AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |base AS (SELECT doc_id, t, len(t) AS n FROM tok),
      |h1 AS (SELECT doc_id, 0 AS ord,
      |         array_to_string(list_slice(t, 1, 5), ' & ') AS line
      |       FROM base WHERE n >= 1),
      |see AS (SELECT doc_id, 1 AS ord,
      |          'see ' || list_extract(t, 1) || ' for details' AS line
      |        FROM base WHERE n >= 1),
      |pp AS (SELECT doc_id, t, n, unnest(range((n + 4) // 10)) AS p
      |       FROM base WHERE n > 5),
      |para AS (SELECT doc_id, p + 2 AS ord,
      |    '"' || list_extract(t, p * 10 + 6) || '"' ||
      |    CASE WHEN n >= p * 10 + 7
      |      THEN ' ' || array_to_string(
      |             list_slice(t, p * 10 + 7, p * 10 + 15), ' ')
      |      ELSE '' END AS line
      |  FROM pp),
      |lines AS (SELECT * FROM h1 UNION ALL SELECT * FROM see
      |          UNION ALL SELECT * FROM para),
      |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
      |          string_agg(line, chr(10) ORDER BY ord) AS txt
      |        FROM lines GROUP BY doc_id)""".stripMargin

  /** Per-(doc, term) occurrence counts, the independent O(len·dict)
    * way: one candidate start position at a time. */
  private val keywordCountsCte =
    s"""terms AS (SELECT unnest($keywordDictSql) AS term),
       |m AS (SELECT doc_id, term,
       |  length(list_filter(
       |    range(length(text) - length(term) + 1),
       |    i -> substr(text, CAST(i + 1 AS INT), length(term)) = term))
       |    AS n
       |FROM documents CROSS JOIN terms)""".stripMargin

  /** Counter-exact count-min oracle at `depth` hash rows: one union arm
    * per row, each recomputing its bucket through
    * [[graft.plans.CountMinSketch.bucketSql]] (rows ≥ 4 read the
    * chained prefixed digests). */
  private def cmTableOracle(depth: Int): String = {
    val arms = (0 until depth).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS row_i,
         |  ${graft.plans.CountMinSketch.bucketSql(i, "tok", CmWidth)}
         |    AS bucket
         |FROM ex""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ex AS (SELECT unnest($toksSql) AS tok FROM documents),
       |rows AS ($arms)
       |SELECT row_i, bucket, count(*) AS cnt
       |FROM rows GROUP BY 1, 2""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the expected EXTRACTION rebuilt from the planted token structure
    // (never by parsing HTML): h1 = tokens 1-5 joined ' & ' (the
    // decoded &amp; entities), the kept inline-anchor line, then
    // 10-token paragraphs whose first token carries decoded quotes;
    // nav/script/style/link-farm/footer never appear
    "q_html_extract" ->
      s"""WITH $htmlAggCte
        |SELECT d.doc_id, coalesce(a.n_lines, 0) AS n_lines,
        |  CAST(coalesce(length(a.txt), 0) AS INT) AS n_chars,
        |  coalesce(md5(a.txt), md5('')) AS extracted_fp
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    // WARC spine: record census constants from the 3-record synthesis,
    // the metadata record's per-doc Content-Length from the same
    // arithmetic, and the response body's extraction through the SAME
    // agg chain as q_html_extract — a split boundary error (off-by-one
    // Content-Length, leaked CRLF, unstripped HTTP header) breaks the
    // shared fingerprint
    // redirect resolution re-implemented INDEPENDENTLY: a recursive
    // walk over the arithmetic-derived (uri, status, location)
    // relation with the same self-loop guard and 4-hop bound — two
    // resolution engines must agree on terminals, hop counts, stalls
    "q_warc_redirects" ->
      """WITH RECURSIVE recs AS (
        |  SELECT 'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
        |      AS uri,
        |    CASE WHEN doc_id % 5 = 0 THEN 200
        |         WHEN doc_id % 2 = 0 THEN 301 ELSE 302 END AS status,
        |    CASE WHEN doc_id % 5 = 0 THEN ''
        |         ELSE 'http://example.com/doc/' ||
        |           CAST(CASE WHEN doc_id % 9 = 7 THEN doc_id
        |                ELSE doc_id - 1 END AS VARCHAR) END AS loc
        |  FROM documents),
        |walk AS (
        |  SELECT uri AS start_uri, uri AS cur, status, loc,
        |    0 AS n_hops
        |  FROM recs
        |  UNION ALL
        |  SELECT w.start_uri, r.uri, r.status, r.loc, w.n_hops + 1
        |  FROM walk w JOIN recs r ON w.loc = r.uri
        |  WHERE w.status IN (301, 302) AND r.uri <> w.cur
        |    AND w.n_hops < 4)
        |SELECT start_uri, arg_max(cur, n_hops) AS final_uri,
        |  CAST(max(n_hops) AS INT) AS n_hops,
        |  arg_max(status, n_hops) AS final_status,
        |  arg_max(status, n_hops) = 200 AS resolved
        |FROM walk GROUP BY 1""".stripMargin,
    "q_warc_extract" ->
      s"""WITH $htmlAggCte
        |SELECT d.doc_id, 4 AS n_records, 1 AS n_response,
        |  200 AS http_status,
        |  CAST(13 + length(CAST(d.doc_id % 1000 AS VARCHAR)) AS BIGINT)
        |    AS meta_len,
        |  0 AS n_truncated,
        |  CAST(coalesce(length(a.txt), 0) AS INT) AS n_chars,
        |  coalesce(md5(a.txt), md5('')) AS extracted_fp
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    // digest classes predicted from the same pair arithmetic the
    // synthesis plants; first_uri is a pure string min in both engines
    "q_warc_digest_dedup" ->
      """SELECT 'md5:' || md5(CAST(doc_id - doc_id % 2 AS VARCHAR))
        |    AS digest,
        |  count(*) AS n_copies,
        |  min('http://example.com/doc/' || CAST(doc_id AS VARCHAR))
        |    AS first_uri
        |FROM documents GROUP BY 1""".stripMargin,
    // the RAW page synthesis twin (byte-exact, unlike htmlAggCte's
    // extraction view) so DuckDB's native md5 recomputes BOTH digests
    // over the same payload bytes the Spark fixture wrote — declared
    // over the clean payload, recomputed over the written (possibly
    // corruption-suffixed) one
    "q_warc_digest_verify" ->
      s"""WITH $warcPayloadCtes
        |SELECT doc_id, 2 AS n_records,
        |  CASE WHEN doc_id % 7 = 3 THEN 'quarantine' ELSE 'ok' END
        |    AS verdict,
        |  'md5:' || md5(clean) AS declared_digest,
        |  md5(CASE WHEN doc_id % 7 = 3 THEN clean || ' CORRUPTED'
        |      ELSE clean END) AS recomputed_md5
        |FROM wv""".stripMargin,
    // revisit resolution predicted from the pairing arithmetic: odd
    // docs revisit doc_id - 1; the resolved payload md5 is DuckDB's
    // own md5 over the ORIGINAL's synthesized payload bytes
    "q_warc_revisit" ->
      s"""WITH $warcPayloadCtes
        |SELECT 'urn:uuid:rev-' || CAST(r.doc_id AS VARCHAR)
        |    AS revisit_id,
        |  'http://example.com/doc/' || CAST(r.doc_id AS VARCHAR)
        |    AS revisit_uri,
        |  'http://example.com/doc/' || CAST(r.doc_id - 1 AS VARCHAR)
        |    AS orig_uri,
        |  md5(o.clean) AS resolved_md5
        |FROM documents r JOIN wv o ON o.doc_id = r.doc_id - 1
        |WHERE r.doc_id % 2 = 1""".stripMargin,
    // all three charset strides must extract the IDENTICAL characters
    // (chr(8220)/chr(8221) = the curly quotes the cp1252 bytes decode
    // to); the charset echo pins the Content-Type parameter parse
    "q_warc_charset" ->
      """WITH ct AS (SELECT doc_id,
        |    list_extract(list_filter(string_split(text, ' '),
        |      x -> x <> ''), 1) AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'windows-1252'
        |       WHEN 1 THEN 'utf-8' ELSE '' END AS charset,
        |  CAST(length(tok || ' ' || chr(8220) || 'quoted' || chr(8221))
        |    AS INT) AS n_chars,
        |  md5(tok || ' ' || chr(8220) || 'quoted' || chr(8221))
        |    AS extracted_fp
        |FROM ct""".stripMargin,
    // every planted pair predicted from doc_id arithmetic
    "q_warc_pairs" ->
      """SELECT 'urn:uuid:req-' || CAST(doc_id AS VARCHAR) AS req_id,
        |  'urn:uuid:resp-' || CAST(doc_id AS VARCHAR) AS resp_id,
        |  'GET' AS verb,
        |  'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |  200 AS http_status
        |FROM documents""".stripMargin,
    // extraction round-trip: chunking and string escaping are
    // extraction-invariant, so the expected text IS the doc text; one
    // show op per chunk (the TJ array counts once)
    "q_pdf_extract" ->
      s"""SELECT doc_id,
         |  CAST((length(text) + ${PdfChunk - 1}) // $PdfChunk AS INT)
         |    AS n_text_ops,
         |  1 AS n_streams,
         |  CAST(length(text) AS INT) AS n_chars,
         |  md5(text) AS extracted_fp
         |FROM documents WHERE length(text) > 0""".stripMargin,
    "q_keyword_hits" ->
      s"""WITH $keywordCountsCte
         |SELECT doc_id, term, CAST(n AS BIGINT) AS n
         |FROM m WHERE n > 0""".stripMargin,
    // union-of-spans cover rebuilt per character (the crossdoc_scrub
    // per-position idiom), '*'-filled, re-hashed
    "q_keyword_scrub" ->
      s"""WITH terms AS (SELECT unnest($keywordDictSql) AS term),
         |pairs AS (SELECT d.doc_id, d.text, t.term, length(t.term) AS len
         |          FROM documents d CROSS JOIN terms t),
         |cand AS (SELECT doc_id, text, term, len,
         |           unnest(range(length(text) - len + 1)) AS i
         |         FROM pairs),
         |mpos AS (SELECT doc_id, i AS s, len FROM cand
         |         WHERE substr(text, CAST(i + 1 AS INT), len) = term),
         |cov AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, s + o AS pos FROM (
         |    SELECT doc_id, s, unnest(range(len)) AS o FROM mpos))),
         |chars AS (SELECT doc_id, unnest(range(length(text))) AS pos,
         |            text FROM documents),
         |outc AS (
         |  SELECT c.doc_id, c.pos,
         |    CASE WHEN v.pos IS NULL
         |      THEN substr(c.text, CAST(c.pos + 1 AS INT), 1)
         |      ELSE '*' END AS ch,
         |    CASE WHEN v.pos IS NULL THEN 0 ELSE 1 END AS m
         |  FROM chars c LEFT JOIN cov v
         |    ON v.doc_id = c.doc_id AND v.pos = c.pos),
         |g AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_masked,
         |        md5(string_agg(ch, '' ORDER BY pos)) AS fp
         |      FROM outc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars,
         |  coalesce(g.n_masked, 0) AS n_masked,
         |  coalesce(g.fp, md5('')) AS scrubbed_fp
         |FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id""".stripMargin,
    "q_keyword_tag" ->
      s"""WITH $keywordCountsCte,
         |hit AS (SELECT * FROM m WHERE n > 0),
         |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_matches,
         |          CAST(count(*) AS BIGINT) AS n_terms
         |        FROM hit GROUP BY doc_id),
         |top AS (SELECT doc_id, term AS top_term FROM (
         |  SELECT doc_id, term,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY n DESC, term) AS rk
         |  FROM hit) WHERE rk = 1)
         |SELECT d.doc_id,
         |  coalesce(agg.n_matches, 0) AS n_matches,
         |  coalesce(agg.n_terms, 0) AS n_terms,
         |  coalesce(top.top_term, '') AS top_term,
         |  coalesce(agg.n_matches, 0) * 100 >= length(d.text) AS flagged
         |FROM documents d
         |LEFT JOIN agg ON agg.doc_id = d.doc_id
         |LEFT JOIN top ON top.doc_id = d.doc_id""".stripMargin,
    "q_homoglyph_dedup" ->
      s"""WITH base AS (SELECT doc_id, substr(text, 1, 80) AS v
         |              FROM documents),
         |corpus AS (
         |  SELECT doc_id * 2 AS id, v FROM base
         |  UNION ALL
         |  SELECT doc_id * 2 + 1 AS id,
         |    translate(v, 'aeopcx', $homoglyphCyrSql) AS v
         |  FROM base)
         |SELECT min(id) AS rep_id,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(DISTINCT md5(v)) AS BIGINT) AS n_raw,
         |  count(DISTINCT md5(v)) > 1 AS caught_fold_only
         |FROM corpus
         |GROUP BY md5(translate(nfc_normalize(v),
         |                       $homoglyphCyrSql, 'aeopcx'))""".stripMargin,
    "q_unicode_norm" ->
      s"""WITH $normVariantCte
         |SELECT doc_id,
         |  nfc_normalize(v) <> v AS changed,
         |  md5(nfc_normalize(v)) AS nfc_fp,
         |  md5(strip_accents(v)) AS ascii_fp,
         |  CAST(length(v) - length(nfc_normalize(v)) AS INT) AS cp_shrink
         |FROM v""".stripMargin,
    "q_encoding_repair" ->
      s"""WITH mv AS (SELECT doc_id,
         |    substr(text, 1, 40) ||
         |      CASE doc_id % 3 WHEN 0 THEN $mojiOnceSql
         |                      WHEN 1 THEN $mojiTwiceSql
         |                      ELSE $mojiCleanSql END AS v,
         |    substr(text, 1, 40) || $mojiCleanSql AS f
         |  FROM documents)
         |SELECT doc_id, md5(v) AS raw_fp, md5(f) AS fixed_fp,
         |  (doc_id % 3) < 2 AS repaired,
         |  CAST(length(v) - length(f) AS INT) AS cp_shrink
         |FROM mv""".stripMargin,
    "q_clean_pipeline" ->
      s"""SELECT doc_id,
         |  (doc_id % 3) < 2 AS repaired,
         |  TRUE AS renormalized,
         |  (doc_id % 3 = 2 AND doc_id % 2 = 1
         |   AND regexp_matches(substr(text, 1, 40), '[aeopcx]'))
         |    AS refolded,
         |  md5(substr(text, 1, 40) || $mojiCleanSql) AS clean_fp
         |FROM documents""".stripMargin,
    "q_norm_dedup" ->
      s"""WITH $normVariantCte,
         |corpus AS (
         |  SELECT doc_id * 2 AS id,
         |    CASE WHEN doc_id % 2 = 0 THEN v
         |         ELSE replace(v, $normSufComposedSql,
         |                      $normSufDecomposedSql) END AS v
         |  FROM v
         |  UNION ALL
         |  SELECT doc_id * 2 + 1 AS id,
         |    CASE WHEN doc_id % 2 = 0
         |         THEN replace(v, $normSufDecomposedSql,
         |                      $normSufComposedSql)
         |         ELSE v END AS v
         |  FROM v)
         |SELECT min(id) AS rep_id,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(count(DISTINCT md5(v)) AS BIGINT) AS n_raw,
         |  count(DISTINCT md5(v)) > 1 AS caught_norm_only
         |FROM corpus GROUP BY nfc_normalize(v)""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id, lang,
         |  length($toksSql) AS n_tokens,
         |  length(list_distinct($toksSql)) AS n_uniq_tokens,
         |  CASE WHEN length($toksSql) > 0
         |    THEN round(CAST(length(text) - (length($toksSql) - 1) AS DOUBLE)
         |               / length($toksSql), 4) END AS avg_token_len
         |FROM documents""".stripMargin,
    // the LIMIT boundary is safe cross-engine because the ORDER BY is a
    // total order (count desc, token asc — no ties possible)
    "q_vocab" ->
      s"""SELECT token, count(*) AS n_occurrences,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |GROUP BY token
         |ORDER BY n_occurrences DESC, token
         |LIMIT $VocabTopK""".stripMargin,
    // character pairs via 1-based string indexing; duplicates kept
    // (BPE counts occurrences); LIMIT boundary is a total order
    "q_bpe_pairs" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |p AS (SELECT unnest(list_transform(range(1, length(tok)),
         |        i -> tok[CAST(i AS INT)] || ' ' || tok[CAST(i + 1 AS INT)]))
         |        AS pair
         |      FROM t)
         |SELECT pair, count(*) AS n_pairs FROM p GROUP BY pair
         |ORDER BY n_pairs DESC, pair
         |LIMIT $BpeTopK""".stripMargin,
    "q_bpe_merges" -> bpeMergesSql,
    "q_unigram_vocab" -> unigramVocabSql,
    "q_unigram_encode" -> unigramEncodeSql,
    "q_prod_unigram_encode" -> unigramEncodeSql,
    "q_tokenizer_compare" -> tokenizerCompareSql,
    "q_unigram_coverage" -> unigramCoverageSql,
    // the batched trainer must reproduce the sequential greedy order on
    // this corpus — same oracle as q_bpe_merges, different engine path
    "q_bpe_batched" -> bpeMergesSql,
    "q_bpe_fertility" -> bpeFertilitySql,
    // grams/positions/coverage mirror the Spark shapes; the kept-token
    // reassembly uses list(ORDER BY pos) = array_sort(struct(pos, tok))
    "q_repeat_scrub" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |tt AS (SELECT doc_id, t, len(t) AS n FROM t WHERE len(t) > 0),
         |p0 AS (SELECT doc_id, unnest(range(n)) AS pos, t FROM tt),
         |p AS (SELECT doc_id, pos, t[CAST(pos + 1 AS INT)] AS tok FROM p0),
         |g0 AS (SELECT doc_id, unnest(range(n - ${RepeatGramN - 1})) AS s, t
         |       FROM tt WHERE n >= $RepeatGramN),
         |g AS (SELECT doc_id, s,
         |    array_to_string(
         |      t[CAST(s + 1 AS INT):CAST(s + $RepeatGramN AS INT)], ' ') AS gm
         |  FROM g0),
         |f AS (SELECT doc_id, gm, min(s) AS s0 FROM g GROUP BY doc_id, gm),
         |cov AS (SELECT DISTINCT doc_id, pos FROM (
         |    SELECT g.doc_id, unnest(range(g.s, g.s + $RepeatGramN)) AS pos
         |    FROM g JOIN f ON f.doc_id = g.doc_id AND f.gm = g.gm
         |    WHERE g.s > f.s0)),
         |k AS (SELECT p.doc_id, p.pos, p.tok
         |      FROM p LEFT JOIN cov
         |        ON cov.doc_id = p.doc_id AND cov.pos = p.pos
         |      WHERE cov.pos IS NULL),
         |sc AS (SELECT doc_id, count(*) AS n_kept,
         |         md5(array_to_string(list(tok ORDER BY pos), ' ')) AS fp
         |       FROM k GROUP BY doc_id)
         |SELECT tt.doc_id, CAST(tt.n AS INT) AS n_tok,
         |  CAST(tt.n - coalesce(sc.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(sc.fp, md5('')) AS scrubbed_fp
         |FROM tt LEFT JOIN sc ON sc.doc_id = tt.doc_id""".stripMargin,
    // the repeat-scrub skeleton with first-occurrence swapped for the
    // boilerplate df bar; owner (min doc_id) keeps its copy
    "q_crossdoc_scrub" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |tt AS (SELECT doc_id, t, len(t) AS n FROM t WHERE len(t) > 0),
         |p0 AS (SELECT doc_id, unnest(range(n)) AS pos, t FROM tt),
         |p AS (SELECT doc_id, pos, t[CAST(pos + 1 AS INT)] AS tok FROM p0),
         |g0 AS (SELECT doc_id, unnest(range(n - ${RepeatGramN - 1})) AS s, t
         |       FROM tt WHERE n >= $RepeatGramN),
         |g AS (SELECT doc_id, s,
         |    array_to_string(
         |      t[CAST(s + 1 AS INT):CAST(s + $RepeatGramN AS INT)], ' ') AS gm
         |  FROM g0),
         |tot AS (SELECT count(*) AS n_total FROM documents),
         |cm AS (SELECT gm, count(*) AS nd, min(doc_id) AS owner
         |       FROM (SELECT DISTINCT doc_id, gm FROM g)
         |       GROUP BY gm),
         |boiler AS (SELECT gm, owner FROM cm, tot
         |  WHERE nd > GREATEST($BoilerplateDocBar,
         |                      n_total // $BoilerplateFracDiv)),
         |cov AS (SELECT DISTINCT doc_id, pos FROM (
         |    SELECT g.doc_id, unnest(range(g.s, g.s + $RepeatGramN)) AS pos
         |    FROM g JOIN boiler b ON b.gm = g.gm
         |    WHERE g.doc_id <> b.owner)),
         |k AS (SELECT p.doc_id, p.pos, p.tok
         |      FROM p LEFT JOIN cov
         |        ON cov.doc_id = p.doc_id AND cov.pos = p.pos
         |      WHERE cov.pos IS NULL),
         |sc AS (SELECT doc_id, count(*) AS n_kept,
         |         md5(array_to_string(list(tok ORDER BY pos), ' ')) AS fp
         |       FROM k GROUP BY doc_id)
         |SELECT tt.doc_id, CAST(tt.n AS INT) AS n_tok,
         |  CAST(tt.n - coalesce(sc.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(sc.fp, md5('')) AS scrubbed_fp
         |FROM tt LEFT JOIN sc ON sc.doc_id = tt.doc_id""".stripMargin,
    // RE2 'g' flag = Spark regexp_replace's always-global semantics;
    // counts taken on the ORIGINAL text, so replacement order can't
    // affect them
    "q_pii_scan" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CAST(length(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT)
         |      AS n_emails,
         |    CAST(length(regexp_extract_all(text, '$PiiPhoneRe')) AS BIGINT)
         |      AS n_phones,
         |    CAST(length(regexp_extract_all(text, '$PiiIpRe')) AS BIGINT)
         |      AS n_ips,
         |    md5(regexp_replace(regexp_replace(regexp_replace(text,
         |      '$PiiEmailRe', '<EMAIL>', 'g'),
         |      '$PiiPhoneRe', '<PHONE>', 'g'),
         |      '$PiiIpRe', '<IP>', 'g')) AS redacted_fp
         |  FROM documents)
         |SELECT doc_id, n_emails, n_phones, n_ips, redacted_fp,
         |  n_emails + n_phones + n_ips > 0 AS has_pii
         |FROM p""".stripMargin,
    "q_bpe_segmented" -> bpeSegmentedSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_bpe_symbol_vocab" -> bpeSymbolVocabSql,
    "q_bpe_token_count" -> bpeTokenCountSql,
    "q_token_estimate" ->
      """SELECT doc_id,
        |  length(list_filter(string_split_regex(text, '[^a-zA-Z0-9]+'),
        |                     t -> t <> '')) AS n_words,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS n_tokens_est
        |FROM documents""".stripMargin,
    "q_langid" ->
      """WITH scored AS (SELECT lang,
        |  length(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS en,
        |  length(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS de,
        |  length(regexp_extract_all(text, '\b(el|la|los|que)\b')) AS es,
        |  length(regexp_extract_all(text, '\b(le|les|des|est)\b')) AS fr
        |FROM documents)
        |SELECT lang, CASE
        |    WHEN en >= de AND en >= es AND en >= fr AND en > 0 THEN 'en'
        |    WHEN de >= es AND de >= fr AND de > 0 THEN 'de'
        |    WHEN es >= fr AND es > 0 THEN 'es'
        |    WHEN fr > 0 THEN 'fr'
        |    ELSE 'unk' END AS lang_pred,
        |  count(*) AS n_docs
        |FROM scored GROUP BY 1, 2""".stripMargin,
    "q_quality_score" -> qualityScoreSql,
    // min-rank competition percentile off the bounded-score histogram;
    // integer ppm, ties share a rank, singleton strata read 0
    "q_quality_percentile" ->
      s"""WITH q AS ($quality10kSql),
         |s AS (SELECT q.doc_id, d.lang, q.q10k
         |      FROM q JOIN documents d USING (doc_id)),
         |h AS (SELECT lang, q10k, count(*) AS c FROM s GROUP BY 1, 2),
         |r AS (SELECT lang, q10k,
         |    coalesce(sum(c) OVER (PARTITION BY lang ORDER BY q10k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before,
         |    sum(c) OVER (PARTITION BY lang) AS n_total
         |  FROM h)
         |SELECT s.doc_id, s.lang, s.q10k,
         |  CAST(CASE WHEN r.n_total > 1
         |       THEN cum_before * 1000000 // (r.n_total - 1)
         |       ELSE 0 END AS BIGINT) AS pct_ppm
         |FROM s JOIN r ON r.lang = s.lang AND r.q10k = s.q10k""".stripMargin,
    // the oracle computes the top-token count relationally (unnest →
    // per-token counts → max) — same result as the Spark run-length
    // pass; fractions use the identical integer-truncation arithmetic
    "q_repetition" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id, tok, count(*) AS c
         |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
         |      GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS top_cnt FROM f GROUP BY 1),
         |g AS (SELECT doc_id, lang, len(toks) AS n_tok,
         |    CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)),
         |             i -> toks[i] || ' ' || toks[i+1])
         |      ELSE CAST([] AS VARCHAR[]) END AS g2
         |  FROM t),
         |m AS (SELECT g.doc_id, g.lang, CAST(g.n_tok AS BIGINT) AS n_tok,
         |    coalesce(top.top_cnt, 0) * 10000
         |      // greatest(g.n_tok, 1) AS top10k,
         |    (len(g2) - len(list_distinct(g2))) * 10000
         |      // greatest(len(g2), 1) AS dup10k
         |  FROM g LEFT JOIN top ON g.doc_id = top.doc_id)
         |SELECT doc_id, lang, n_tok,
         |  CAST(top10k AS DOUBLE) / 10000.0 AS top_word_frac,
         |  CAST(dup10k AS DOUBLE) / 10000.0 AS dup_2gram_frac,
         |  (top10k > $TopWordBar10k OR dup10k > $Dup2gramBar10k) AS repetitive
         |FROM m""".stripMargin,
    // sum(ppm) is HUGEINT in DuckDB — cast to BIGINT before the floor
    // div; all operands non-negative, so // matches Spark's div
    "q_lm_score" ->
      s"""WITH $lmScoreCtes
         |SELECT doc_id, lang, n_tok, avg_tok_ppm, min_tok_ppm
         |FROM lms""".stripMargin,
    // NB distilled from the heuristic labels: eighth-octave fixed-point
    // log-likelihood weights (log2x8 — same minimal-binary-string
    // mantissa read in both engines), Laplace +1 in ppb units; all
    // operands non-negative before the one floor division
    "q_nb_quality" ->
      s"""WITH $nbQualityCtes
         |SELECT doc_id, lang, heur_pos, n_tok, nb_score, nb_pos
         |FROM nbq""".stripMargin,
    // octave binning through pmod so negative scores floor-bin the same
    // way in both engines (plain integer division truncates toward zero
    // and would fold bins -15..15 together)
    "q_nb_calibration" ->
      s"""WITH $nbQualityCtes
         |SELECT nb_score - ((nb_score % 16 + 16) % 16) AS score_bin,
         |  heur_pos, count(*) AS n_docs
         |FROM nbq GROUP BY 1, 2""".stripMargin,
    // top-k discriminative tokens, deterministic tok tie-break at the
    // limit boundary in both engines
    "q_nb_top_tokens" ->
      s"""WITH $nbQualityCtes
         |SELECT * FROM (
         |  (SELECT tok, w, 'pos' AS side FROM nw
         |   ORDER BY w DESC, tok ASC LIMIT 20)
         |  UNION ALL
         |  (SELECT tok, w, 'neg' AS side FROM nw
         |   ORDER BY w ASC, tok ASC LIMIT 20))""".stripMargin,
    "q_nb_eval" ->
      s"""WITH $nbQualityCtes
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(heur_pos) AS BIGINT) AS n_heur_pos,
         |  CAST(sum(nb_pos) AS BIGINT) AS n_nb_pos,
         |  CAST(sum(CASE WHEN heur_pos = nb_pos THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_agree,
         |  CAST(sum(CASE WHEN heur_pos = 1 AND nb_pos = 1 THEN 1 ELSE 0
         |    END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN heur_pos = 0 AND nb_pos = 1 THEN 1 ELSE 0
         |    END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN heur_pos = 1 AND nb_pos = 0 THEN 1 ELSE 0
         |    END) AS BIGINT) AS fn
         |FROM nbq GROUP BY lang""".stripMargin,
    // positional bigrams via range-index (the repeat-scrub idiom);
    // conditionals are first-position-count ppm, truncating
    "q_bigram_score" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
         |bgp AS (
         |  SELECT doc_id, lang,
         |    t[CAST(i + 1 AS INT)] || ' ' || t[CAST(i + 2 AS INT)] AS bg,
         |    t[CAST(i + 1 AS INT)] AS w1
         |  FROM (SELECT doc_id, lang, unnest(range(len(t) - 1)) AS i, t
         |        FROM t WHERE len(t) >= 2)),
         |cb AS (SELECT bg, any_value(w1) AS w1, count(*) AS c_ab
         |       FROM bgp GROUP BY bg),
         |cw AS (SELECT w1, count(*) AS c_a FROM bgp GROUP BY w1),
         |pr AS (SELECT bg, c_ab * $LmPpmUnit // c_a AS cond_ppm
         |       FROM cb JOIN cw USING (w1))
         |SELECT doc_id, lang, count(*) AS n_bigrams,
         |  CAST(sum(cond_ppm) AS BIGINT) // count(*) AS avg_cond_ppm,
         |  CAST(min(cond_ppm) AS BIGINT) AS min_cond_ppm
         |FROM bgp JOIN pr USING (bg)
         |GROUP BY doc_id, lang""".stripMargin,
    // PSI rebuilt bucket-by-bucket: same parity split, +1-smoothed ppm
    // shares over the full spine, fixed-point logs — integer-exact
    "q_psi_drift" ->
      s"""WITH q AS ($quality10kSql),
         |b AS (SELECT doc_id, q10k // $PsiBucketWidth AS bucket FROM q),
         |c AS (SELECT bucket,
         |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_ref,
         |    CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_cur
         |  FROM b GROUP BY bucket),
         |sp AS (SELECT unnest(range($PsiBuckets)) AS bucket),
         |f AS (SELECT sp.bucket, coalesce(c.n_ref, 0) AS n_ref,
         |    coalesce(c.n_cur, 0) AS n_cur
         |  FROM sp LEFT JOIN c USING (bucket)),
         |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
         |    CAST(sum(n_cur) AS BIGINT) AS tot_cur FROM f),
         |pq AS (SELECT bucket, n_ref, n_cur,
         |    (n_ref + 1) * 1000000 // (tot_ref + $PsiBuckets) AS p_ppm,
         |    (n_cur + 1) * 1000000 // (tot_cur + $PsiBuckets) AS q_ppm
         |  FROM f CROSS JOIN t)
         |SELECT bucket, n_ref, n_cur, p_ppm, q_ppm,
         |  CAST((p_ppm - q_ppm) *
         |    (${log2x8Sql("p_ppm")} - ${log2x8Sql("q_ppm")})
         |    AS BIGINT) AS psi_contrib
         |FROM pq""".stripMargin,
    // the count-min table recomputed counter-by-counter: one union arm
    // per hash row — CM is merge-order-independent, so the oracle
    // grades the aggregate's actual counters, not a contract envelope
    "q_countmin" -> cmTableOracle(CmDepth),
    // same, at the chained-digest depth: arms 4-5 recompute from the
    // '1|'-prefixed second md5 digest, grading the digest chain itself
    "q_countmin_deep" -> cmTableOracle(CmDepthDeep),
    // point estimates: same buckets, min over rows, next to exact
    // counts; est values are deterministic and cross the oracle
    "q_countmin_est" -> {
      val probeRows = (Bm25Query :+ CmUnseenToken)
        .map(t => s"('$t')").mkString(", ")
      val estArms = (0 until CmDepth).map { i =>
        s"""coalesce((SELECT cnt FROM cm WHERE row_i = $i AND bucket =
           |  ${graft.plans.CountMinSketch.bucketSql(i, "p.tok", CmWidth)}), 0)"""
          .stripMargin
      }.mkString(",\n    ")
      s"""WITH ex AS (SELECT unnest($toksSql) AS tok FROM documents),
         |rows AS (${(0 until CmDepth).map { i =>
        s"""SELECT $i AS row_i,
           |  ${graft.plans.CountMinSketch.bucketSql(i, "tok", CmWidth)}
           |    AS bucket FROM ex""".stripMargin
      }.mkString("\nUNION ALL\n")}),
         |cm AS (SELECT row_i, bucket, count(*) AS cnt
         |  FROM rows GROUP BY 1, 2),
         |probes(tok) AS (VALUES $probeRows),
         |exact AS (SELECT tok, count(*) AS cnt FROM ex GROUP BY 1)
         |SELECT p.tok,
         |  CAST(coalesce(e.cnt, 0) AS BIGINT) AS exact_cnt,
         |  CAST(least(
         |    $estArms) AS BIGINT) AS est,
         |  least($estArms) >= coalesce(e.cnt, 0) AS over_ok
         |FROM probes p LEFT JOIN exact e ON e.tok = p.tok""".stripMargin
    },
    // join-size estimation: CM inner product (min over rows of the
    // bucket-table dot product) vs the exact Σ c_a·c_b — both
    // deterministic values, overestimate contract as the boolean
    "q_cm_joinsize" -> {
      def armsOf(rel: String) = (0 until CmDepth).map { i =>
        s"""SELECT $i AS row_i,
           |  ${graft.plans.CountMinSketch.bucketSql(i, "tok", CmWidth)}
           |    AS bucket FROM $rel""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH exa AS (SELECT unnest($toksSql) AS tok FROM documents
         |  WHERE doc_id % $KnHeldMod <> 0),
         |exb AS (SELECT unnest($toksSql) AS tok FROM documents
         |  WHERE doc_id % $KnHeldMod = 0),
         |cma AS (SELECT row_i, bucket, count(*) AS cnt
         |  FROM (${armsOf("exa")}) GROUP BY 1, 2),
         |cmb AS (SELECT row_i, bucket, count(*) AS cnt
         |  FROM (${armsOf("exb")}) GROUP BY 1, 2),
         |dots AS (SELECT a.row_i,
         |    CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dp
         |  FROM cma a JOIN cmb b USING (row_i, bucket) GROUP BY 1),
         |ex AS (SELECT CAST(sum(a.c_a * b.c_b) AS BIGINT) AS exact_size
         |  FROM (SELECT tok, count(*) AS c_a FROM exa GROUP BY 1) a
         |  JOIN (SELECT tok, count(*) AS c_b FROM exb GROUP BY 1) b
         |    USING (tok))
         |SELECT exact_size, (SELECT min(dp) FROM dots) AS est_size,
         |  (SELECT min(dp) FROM dots) >= exact_size AS over_ok
         |FROM ex""".stripMargin
    },
    // Misra-Gries grouped-sketch contract: per-lang exact totals +
    // heavy census; the presence/bound booleans are provably TRUE
    // (vacuous presence on this flat corpus, real bound checks on the
    // <= k surviving counters)
    "q_sketch_bounds" ->
      s"""WITH ex AS (SELECT lang, unnest($toksSql) AS tok FROM documents),
         |cnt AS (SELECT lang, tok, count(*) AS cnt FROM ex GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tok,
         |    count(*) AS vocab FROM cnt GROUP BY 1)
         |SELECT t.lang, t.n_tok, t.vocab,
         |  (SELECT count(*) FROM cnt c WHERE c.lang = t.lang
         |     AND c.cnt * ${SketchK + 1} > t.n_tok) AS n_heavy,
         |  true AS all_present, true AS all_bounded
         |FROM tot t""".stripMargin,
    // Kneser-Ney bigram smoothing on a train/held-out split: discounted
    // term + continuation backoff, D=3/4 cleared to all-integer ppm;
    // fan-out and continuation are row-counts over the bigram-TYPES CTE
    "q_kn_heldout" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
         |bgp AS (
         |  SELECT doc_id, lang,
         |    t[CAST(i + 1 AS INT)] || ' ' || t[CAST(i + 2 AS INT)] AS bg,
         |    t[CAST(i + 1 AS INT)] AS w1,
         |    t[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT doc_id, lang, unnest(range(len(t) - 1)) AS i, t
         |        FROM t WHERE len(t) >= 2)),
         |tr AS (SELECT * FROM bgp WHERE doc_id % $KnHeldMod <> 0),
         |he AS (SELECT * FROM bgp WHERE doc_id % $KnHeldMod = 0),
         |cab AS (SELECT bg, any_value(w1) AS w1, count(*) AS c_ab
         |        FROM tr GROUP BY bg),
         |ca AS (SELECT w1, count(*) AS c_a FROM tr GROUP BY w1),
         |fan AS (SELECT w1, count(*) AS fan FROM cab GROUP BY w1),
         |cont AS (SELECT string_split(bg, ' ')[2] AS w2,
         |    count(*) AS cont FROM cab GROUP BY 1),
         |nt AS (SELECT count(*) AS n_types FROM cab),
         |sc AS (SELECT h.doc_id, h.lang, c.c_ab,
         |    CASE
         |      WHEN a.c_a IS NULL THEN
         |        coalesce(o.cont, 0) * $LmPpmUnit // n_types
         |      ELSE
         |        greatest(4 * coalesce(c.c_ab, 0) - 3, 0) * $LmPpmUnit
         |          // (4 * a.c_a)
         |        + 3 * f.fan * coalesce(o.cont, 0) * $LmPpmUnit
         |          // (4 * a.c_a * n_types)
         |    END AS kn_ppm
         |  FROM he h
         |  LEFT JOIN cab c ON c.bg = h.bg
         |  LEFT JOIN ca a ON a.w1 = h.w1
         |  LEFT JOIN fan f ON f.w1 = h.w1
         |  LEFT JOIN cont o ON o.w2 = h.w2
         |  CROSS JOIN nt)
         |SELECT doc_id, lang, count(*) AS n_bigrams,
         |  CAST(sum(kn_ppm) AS BIGINT) // count(*) AS avg_kn_ppm,
         |  CAST(min(kn_ppm) AS BIGINT) AS min_kn_ppm,
         |  CAST(sum(CASE WHEN c_ab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unseen
         |FROM sc GROUP BY doc_id, lang""".stripMargin,
    // contingency-marginal PMI lift in HUGEINT (the DECIMAL(38,0) twin),
    // min-count floor, top-20 by (lift desc, w1, w2)
    "q_collocations" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bgp AS (
         |  SELECT t[CAST(i + 1 AS INT)] AS w1, t[CAST(i + 2 AS INT)] AS w2
         |  FROM (SELECT unnest(range(len(t) - 1)) AS i, t
         |        FROM t WHERE len(t) >= 2)),
         |tot AS (SELECT count(*) AS n_bg FROM bgp),
         |cb AS (SELECT w1, w2, count(*) AS c_ab FROM bgp
         |       GROUP BY w1, w2 HAVING count(*) >= $CollocMinCount),
         |c1 AS (SELECT w1, count(*) AS c_a1 FROM bgp GROUP BY w1),
         |c2 AS (SELECT w2, count(*) AS c_b2 FROM bgp GROUP BY w2)
         |SELECT w1, w2, c_ab, c_a1, c_b2,
         |  CAST(CAST(c_ab AS HUGEINT) * n_bg * $LmPpmUnit
         |    // (CAST(c_a1 AS HUGEINT) * c_b2) AS BIGINT) AS lift_ppm
         |FROM cb JOIN c1 USING (w1) JOIN c2 USING (w2), tot
         |ORDER BY lift_ppm DESC, w1, w2
         |LIMIT $CollocTopK""".stripMargin,
    // octave = length(bin(cnt)) - 1 (exact floor log2 in both engines)
    "q_freq_spectrum" ->
      s"""WITH cnt AS (
         |  SELECT tok, count(*) AS cnt FROM (
         |    SELECT unnest($toksSql) AS tok FROM documents)
         |  GROUP BY tok),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt)
         |SELECT CAST(length(bin(cnt)) - 1 AS INT) AS freq_bucket,
         |  count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_occ,
         |  min(cnt) AS min_cnt, max(cnt) AS max_cnt,
         |  CAST(sum(cnt) AS BIGINT) * $LmPpmUnit // any_value(total)
         |    AS share_ppm
         |FROM cnt, tot
         |GROUP BY freq_bucket""".stripMargin,
    // integer idf surrogate: tf·1e6 // df, rank ties on token ascending
    "q_tfidf_topk" ->
      s"""WITH ex AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, lang, tok, count(*) AS tf
         |       FROM ex GROUP BY doc_id, lang, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |s AS (SELECT doc_id, lang, tok, tf, df,
         |    tf * $LmPpmUnit // df AS score_ppm
         |  FROM tf JOIN df USING (tok))
         |SELECT doc_id, lang, CAST(rank AS INT) AS rank, tok,
         |  tf, df, score_ppm
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_ppm DESC, tok ASC) AS rank FROM s)
         |WHERE rank <= $TfidfTopK""".stripMargin,
    // integer-exact BM25 (log2x8 idf, integer-avgdl saturation) —
    // CTEs shared with q_rrf_fusion's lexical arm
    "q_bm25_topk" ->
      s"""WITH ${bm25CtesSql(Bm25Query)}
         |SELECT doc_id, lang, bm25_x8 FROM bm25sc
         |ORDER BY bm25_x8 DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin,
    // index-served twin: same stats values, same scoring expression —
    // the oracle grades the serve plan against the one-shot semantics
    "q_prod_bm25_topk" ->
      s"""WITH ${bm25CtesSql(Bm25Query)}
         |SELECT doc_id, lang, bm25_x8 FROM bm25sc
         |ORDER BY bm25_x8 DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin,
    // thresholds from the score histogram walked top-down (the
    // quality-floor trick); a NULL threshold (first row bigger than a
    // third) makes its CASE arm false on both sides
    "q_ppl_buckets" -> pplBucketsSql,
    // both signal chains nest in their own WITH scope; shares are
    // integer-truncated ppm of the scored-doc total
    "q_signal_agreement" ->
      s"""WITH q AS (
         |  SELECT doc_id, bucket AS q_bucket FROM ($qualityScoreSql)),
         |p AS (
         |  SELECT doc_id, bucket AS lm_bucket FROM ($pplBucketsSql)),
         |j AS (SELECT q_bucket, lm_bucket, count(*) AS n_docs
         |      FROM q JOIN p USING (doc_id) GROUP BY q_bucket, lm_bucket),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM j)
         |SELECT q_bucket, lm_bucket, n_docs,
         |  n_docs * $LmPpmUnit // total AS share_ppm
         |FROM j, tot""".stripMargin,
    "q_vocab_card" ->
      s"""SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hapax,
         |  count(*) * $LmPpmUnit // CAST(sum(c) AS BIGINT) AS ttr_ppm,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * $LmPpmUnit // count(*) AS hapax_ppm
         |FROM (SELECT lang, tok, count(*) AS c
         |      FROM (SELECT lang, unnest($toksSql) AS tok FROM documents)
         |      GROUP BY lang, tok)
         |GROUP BY lang""".stripMargin,
    // even/odd halves as the two snapshots (the vocab-drift convention);
    // churn in exact ppm of the fingerprint union
    "q_snapshot_diff" ->
      s"""WITH o AS (SELECT DISTINCT $contentFpSql AS fp FROM documents
         |           WHERE doc_id % 2 = 0),
         |n AS (SELECT DISTINCT $contentFpSql AS fp FROM documents
         |      WHERE doc_id % 2 = 1),
         |j AS (SELECT o.fp IS NOT NULL AS in_old, n.fp IS NOT NULL AS in_new
         |      FROM o FULL JOIN n ON o.fp = n.fp),
         |agg AS (SELECT
         |    CAST(sum(CASE WHEN in_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         |    CAST(sum(CASE WHEN in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |    CAST(sum(CASE WHEN in_old AND in_new THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_common,
         |    CAST(sum(CASE WHEN NOT in_old AND in_new THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_added,
         |    CAST(sum(CASE WHEN in_old AND NOT in_new THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_removed,
         |    count(*) AS n_union
         |  FROM j)
         |SELECT *, (n_added + n_removed) * $LmPpmUnit
         |  // GREATEST(n_union, 1) AS churn_ppm
         |FROM agg""".stripMargin,
    "q_vocab_drift" ->
      s"""WITH b AS (
         |  SELECT doc_id % 2 AS split, substr(md5(tok), 1, 2) AS bucket
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)),
         |per AS (SELECT bucket,
         |    CAST(sum(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS p_cnt,
         |    CAST(sum(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS q_cnt
         |  FROM b GROUP BY bucket),
         |tot AS (SELECT CAST(sum(p_cnt) AS BIGINT) AS p_total,
         |               CAST(sum(q_cnt) AS BIGINT) AS q_total FROM per),
         |pp AS (SELECT
         |    p_cnt * $LmPpmUnit // greatest(p_total, 1) AS p_ppm,
         |    q_cnt * $LmPpmUnit // greatest(q_total, 1) AS q_ppm,
         |    p_total, q_total
         |  FROM per, tot)
         |SELECT count(*) AS n_buckets, max(p_total) AS p_total,
         |  max(q_total) AS q_total,
         |  CAST(sum(abs(p_ppm - q_ppm)) AS BIGINT) // 2 AS tv_ppm
         |FROM pp""".stripMargin,
    // top-token count computed relationally (unnest -> counts -> max),
    // same as the q_repetition oracle; the rule compares are the exact
    // integer forms of the Spark flags
    "q_gopher_rules" -> gopherRulesSql,
    "q_boilerplate" ->
      s"""WITH ex AS (
         |  SELECT doc_id, lang, unnest(tset) AS sh
         |  FROM (SELECT doc_id, lang, $shingles3Sql AS tset FROM documents)),
         |boiler AS (
         |  SELECT sh FROM ex GROUP BY sh
         |  HAVING count(*) > greatest($BoilerplateDocBar,
         |    (SELECT count(*) FROM documents) // $BoilerplateFracDiv)),
         |per_doc AS (
         |  SELECT doc_id, count(*) AS n_boiler
         |  FROM ex JOIN boiler USING (sh) GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id, lang, CAST(length($shingles3Sql) AS BIGINT) AS n_sh
         |  FROM documents),
         |m AS (
         |  SELECT b.doc_id, b.lang, b.n_sh,
         |    coalesce(p.n_boiler, 0) AS n_boiler,
         |    coalesce(p.n_boiler, 0) * 10000 // greatest(b.n_sh, 1) AS b10k
         |  FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id)
         |SELECT doc_id, lang, n_sh, n_boiler,
         |  CAST(b10k AS DOUBLE) / 10000.0 AS boiler_frac,
         |  b10k > $BoilerplateHeavyBar10k AS boiler_heavy
         |FROM m""".stripMargin,
    // positional 3-grams (duplicates kept), per-window list_min over the
    // materialized hash list; DuckDB's inclusive slice h[i:i+w-1] is
    // Spark's slice(h, i, w); both clamp at the tail
    // positional-gram diagonal runs: pos - row_number is constant on a
    // consecutive run (island trick); span = run + 2; same df cap and
    // total order as the winnow chain. The _cand twin runs the
    // candidate-restricted production plan — identical result by the
    // MOSS guarantee, so it shares this oracle verbatim.
    "q_shared_spans" -> sharedSpansSql,
    "q_shared_spans_cand" -> sharedSpansSql,
    "q_span_scrub" -> spanScrubSql,
    "q_winnow_fp" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, lang,
         |    CASE WHEN len(tk) >= 3
         |      THEN list_transform(range(1, len(tk) - 1),
         |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |      ELSE [array_to_string(tk, ' ')] END AS grams
         |  FROM t),
         |h AS (SELECT doc_id, lang,
         |    list_transform(grams, x -> md5(x)) AS h FROM g),
         |w AS (SELECT doc_id, lang, h,
         |    list_distinct(list_transform(
         |      range(1, greatest(len(h) - ${WinnowWindow - 2}, 2)),
         |      i -> list_min(h[i:i + ${WinnowWindow - 1}]))) AS fps
         |  FROM h)
         |SELECT doc_id, lang,
         |  CAST(len(h) AS BIGINT) AS n_grams,
         |  CAST(len(fps) AS BIGINT) AS n_fps,
         |  md5(array_to_string(list_sort(fps), ' ')) AS robust_fp
         |FROM w""".stripMargin,
    // same unordered-pair + symmetric-argmax shape as the jaccard
    // oracle, over the winnowed fingerprint relation; containment
    // scoring (shared / min) — ties break (overlap desc, id asc)
    "q_winnow_overlap" ->
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id,
         |    CASE WHEN len(tk) >= 3
         |      THEN list_transform(range(1, len(tk) - 1),
         |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
         |      ELSE [array_to_string(tk, ' ')] END AS grams
         |  FROM t),
         |h AS (SELECT doc_id, list_transform(grams, x -> md5(x)) AS h
         |      FROM g),
         |w AS (SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(1, greatest(len(h) - ${WinnowWindow - 2}, 2)),
         |      i -> list_min(h[i:i + ${WinnowWindow - 1}]))) AS fps
         |  FROM h),
         |e AS (SELECT doc_id, len(fps) AS n, unnest(fps) AS fp FROM w),
         |tot AS (SELECT count(*) AS n_total FROM t),
         |hot AS (SELECT fp FROM (SELECT fp, count(*) AS nd
         |                        FROM e GROUP BY fp) CROSS JOIN tot
         |        WHERE nd > greatest($WinnowDfBar,
         |                            n_total // $WinnowDfFracDiv)),
         |k AS (SELECT * FROM e WHERE fp NOT IN (SELECT fp FROM hot)),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
         |    any_value(a.n) AS n_a, any_value(b.n) AS n_b
         |  FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sym AS (
         |  SELECT id_a AS doc_id, id_b AS cand,
         |    CAST(shared AS DOUBLE) / least(n_a, n_b) AS ov FROM pairs
         |  UNION ALL
         |  SELECT id_b AS doc_id, id_a AS cand,
         |    CAST(shared AS DOUBLE) / least(n_a, n_b) AS ov FROM pairs)
         |SELECT doc_id, cand AS best_match, round(max_ov, 4) AS best_overlap
         |FROM (SELECT doc_id, cand, ov,
         |        max(ov) OVER (PARTITION BY doc_id) AS max_ov,
         |        row_number() OVER (PARTITION BY doc_id
         |                           ORDER BY ov DESC, cand ASC) AS rn
         |      FROM sym)
         |WHERE rn = 1""".stripMargin,
    // owner = min doc_id per shingle (hash agg), joined back — the
    // same skeleton as the q_chunk_dedup oracle at shingle granularity
    "q_shingle_novelty" ->
      s"""WITH ex AS (
         |  SELECT doc_id, lang, unnest(tset) AS sh
         |  FROM (SELECT doc_id, lang, $shingles3Sql AS tset
         |        FROM documents)),
         |own AS (SELECT sh, min(doc_id) AS owner_id FROM ex GROUP BY sh),
         |m AS (
         |  SELECT e.doc_id, e.lang, count(*) AS n_sh,
         |    CAST(sum(CASE WHEN e.doc_id = o.owner_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM ex e JOIN own o ON o.sh = e.sh
         |  GROUP BY e.doc_id, e.lang)
         |SELECT doc_id, lang, n_sh, n_novel,
         |  CAST(n_novel * 10000 // n_sh AS DOUBLE) / 10000.0 AS novel_frac
         |FROM m""".stripMargin,
    "q_length_quantiles" ->
      s"""WITH hist AS (
         |  SELECT lang, CAST(length($toksSql) AS BIGINT) AS n_tok,
         |    count(*) AS n
         |  FROM documents GROUP BY 1, 2),
         |c AS (
         |  SELECT lang, n_tok, n,
         |    sum(n) OVER (PARTITION BY lang ORDER BY n_tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(n) OVER (PARTITION BY lang) AS total
         |  FROM hist)
         |SELECT lang, CAST(max(total) AS BIGINT) AS n_docs,
         |  min(CASE WHEN cum * 100 >= total * 50 THEN n_tok END) AS p50,
         |  min(CASE WHEN cum * 100 >= total * 90 THEN n_tok END) AS p90,
         |  min(CASE WHEN cum * 100 >= total * 99 THEN n_tok END) AS p99
         |FROM c GROUP BY lang""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id, $contentFpSql AS content_fp,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS bag_fp
         |FROM documents""".stripMargin,
    "q_dedup_exact" ->
      s"""SELECT count(*) AS n_docs,
        |  count(DISTINCT text) AS n_uniq_text,
        |  count(DISTINCT $contentFpSql) AS n_uniq_fp,
        |  count(DISTINCT substr(text, 1, 40)) AS n_uniq_prefix40
        |FROM documents""".stripMargin,
    "q_jaccard_best" -> jaccardBestSql,
  )

  /** DuckDB rendering of [[quality10k]] — (doc_id, q10k) with the EXACT
    * integer score; consumers that threshold or rank on quality use
    * this directly (no double round-trip can ever sit on a boundary). */
  private[operators] lazy val quality10kSql: String =
    s"""WITH f AS (SELECT doc_id,
       |  length($toksSql) AS n_tok,
       |  length(list_distinct($toksSql)) AS n_uniq,
       |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       |  length(regexp_extract_all(text, '\\b(the|a|of|and|in|to)\\b')) AS n_stop
       |FROM documents)
       |SELECT doc_id,
       |  (10 * (3 * least(n_tok, 100) * greatest(n_tok, 1)
       |         + 400 * n_uniq
       |         + 200 * (greatest(n_tok, 1) - least(n_punct, greatest(n_tok, 1)))
       |         + 100 * least(2 * n_stop, greatest(n_tok, 1))))
       |    // greatest(n_tok, 1) AS q10k
       |FROM f""".stripMargin

  /** DuckDB rendering of [[qualityScore]] (doc_id, quality, bucket) —
    * shared with DedupOps's q_canonical_docs, which scores dup-group
    * members with the same formula. */
  private[operators] lazy val qualityScoreSql: String =
    s"""SELECT doc_id, CAST(q10k AS DOUBLE) / 10000.0 AS quality,
       |  CASE WHEN q10k >= 7000 THEN 'high'
       |       WHEN q10k >= 5000 THEN 'mid' ELSE 'low' END AS bucket
       |FROM ($quality10kSql)""".stripMargin

  /** Exact all-pairs Jaccard oracle — shared with DedupOps's q_jaccard_auto
    * (below the cutover the auto entry point IS this query). */
  private[operators] lazy val jaccardBestSql: String =
      s"""WITH docs AS (
         |  SELECT doc_id, lang, $shingles3Sql AS tset
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id, lang, length(tset) AS n_tok, unnest(tset) AS tok
         |  FROM docs),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
         |    any_value(a.n_tok) AS n_a, any_value(b.n_tok) AS n_b
         |  FROM ex a JOIN ex b ON a.lang = b.lang AND a.tok = b.tok
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sym AS (
         |  SELECT id_a AS doc_id, id_b AS cand,
         |    CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jac FROM pairs
         |  UNION ALL
         |  SELECT id_b AS doc_id, id_a AS cand,
         |    CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jac FROM pairs)
         |SELECT doc_id, cand AS best_match, round(max_jac, 4) AS best_jac
         |FROM (SELECT doc_id, cand, jac, max(jac) OVER (PARTITION BY doc_id) AS max_jac,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, cand ASC) AS rn
         |      FROM sym)
         |WHERE rn = 1""".stripMargin
}
