package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.DotProductLong
import graft.sources.Tables

/** [EXT] Similarity-search operators over the embeddings table
  * (SURVEY.md §2.3 J14, §2.6 T5): brute-force cosine top-k as the exact
  * baseline, centroid aggregation, and nearest-neighbor within a blocking
  * key. The dot-product kernel is a native codegen'd Catalyst expression
  * ([[graft.plans.DotProductLong]]); everything else is built-in
  * expressions.
  *
  * Oracle-parity note: cross-engine float summation order is not
  * guaranteed, so oracled queries quantize elements to integer
  * milli-units first — dot products and norms become exact integer
  * arithmetic, and the final cosine is one deterministic double division.
  */
object VectorOps {

  /** Elementwise quantization to integer milli-units (exact cross-engine). */
  private[graft] def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Cosine over quantized vectors: exact integer dot / double norms. */
  private def cosineQ(dot: (Column, Column) => Column)
      (a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b).cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** vec_id, label, quantized embedding + its norm. */
  private def quantized(spark: SparkSession, dir: String): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qe"))
      .withColumn("nrm", dot(col("qe"), col("qe")))
  }

  /** Dimensionality of [[hashEmbedOf]]'s hashed bag-of-words space: one
    * bucket per md5 leading hex digit. */
  private[graft] val HashEmbedDims = 16

  /** Hashed bag-of-words EMBEDDING — the feature-hashing trick: each
    * token lands in one of [[HashEmbedDims]] buckets by its md5 leading
    * hex digit, signed by the next digit, and a text's embedding is the
    * signed bucket-count vector. Deterministic, vocabulary-free, and
    * cross-engine exact (buckets stay STRING-keyed hex digits — no
    * hex→int conversion to diverge, the [[graft.operators.CurationOps]]
    * DSIR bucket discipline); signed buckets make collisions cancel in
    * expectation, so inner products track token-overlap similarity —
    * the signal chunk-level semantic dedup needs in a sandbox with no
    * encoder model. A production deployment swaps this kernel for a
    * real encoder's vectors; downstream consumers
    * ([[graft.operators.DedupOps.chunkSemDedup]]) only ever see
    * (vec_id, embedding).
    *
    * Scale shape: one explode + a bucket-sum hash aggregation (≤
    * [[HashEmbedDims]] rows per vec_id, partial-aggregated map-side) +
    * one map-assembly aggregation per vec_id — linear, no join. Input:
    * (vec_id, toks) — toks elements MUST be non-null (the explodeNN
    * caller contract, ADVICE r18): a null token would be silently
    * dropped from the bag instead of hashed, changing the embedding
    * with no error. Every current caller passes split/slice results
    * (never-null by construction). */
  private[graft] def hashEmbedOf(toksFrame: DataFrame): DataFrame =
    // explodeNN: the toks column is usually an unmaterialized expression
    // chain (e.g. chunk slices) that a plain explode's pruning filter
    // would re-evaluate per row — see TextOps.explodeNN
    graft.operators.TextOps.explodeNN(toksFrame, col("toks"), "tok",
        col("vec_id"))
      .withColumn("h", md5(col("tok").cast("binary")))
      .select(col("vec_id"), substring(col("h"), 1, 1).as("b"),
        when(substring(col("h"), 2, 1) < "8", 1L).otherwise(-1L).as("s"))
      .groupBy(col("vec_id"), col("b")).agg(sum(col("s")).as("v"))
      .groupBy(col("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("v")))).as("m"))
      .select(col("vec_id"),
        transform(array("0123456789abcdef".map(c => lit(c.toString)): _*),
          c => coalesce(element_at(col("m"), c), lit(0L)).cast("float"))
          .as("embedding"))

  /** Two-phase top-k by (sim desc, id asc) per query — the scale-safe
    * replacement for `row_number().over(partitionBy(query_id))`: query_id
    * has ~nQueries values, so that window shuffles EVERY scored corpus
    * row of a query into one task (the docids-per-lang funnel in
    * disguise). Phase 1 ranks per (query, input partition); the rank
    * filter sits directly on the window, so Spark inserts a PARTIAL
    * WindowGroupLimit below the exchange (pinned by PlanAssertionsSpec) —
    * at most k rows per query leave each input partition, making shuffle
    * VOLUME k × queries × P rows, not the corpus. Phase 2 merges the
    * ≤ k × P candidates per query.
    *
    * Ordering is exact: sims are rounded to 4 decimals, so
    * `-round(sim·10⁴)` is an integer sort key strictly monotone in
    * (sim desc), avoiding the −0.0 double-negation trap; ties break on
    * neighbor id ascending — identical to the window form and the oracle.
    * Expects columns (query_id, neighbor_id, sim); emits rank 1..k. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("pid"))
      .orderBy(col("neg"), col("neighbor_id"))
    val local = scored
      .withColumn("pid", spark_partition_id())
      .withColumn("neg", (-round(col("sim") * 10000)).cast("long"))
      .withColumn("rn", row_number().over(wLocal))
      .where(col("rn") <= k)
    local.groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(
        struct(col("neg"), col("neighbor_id").as("id"), col("sim")))), 1, k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.sim").as("sim"))
  }

  /** Shared broadcast-queries × partitioned-corpus cosine search tail:
    * split on vec_id, round-4 quantized cosine, two-phase top-k.
    * Expects (vec_id, vec, nrm); used by [[knnBruteForce]] and
    * [[annSq8]] so a scoring fix can never diverge between them.
    *
    * Zero-norm guard lives HERE (not per caller): a vector whose
    * quantized form is all zeros has no cosine — left in, its NULL sim
    * would sort NULLS FIRST into rank 1 through topKPerQuery's neg key.
    * Both engines exclude such rows (the oracles carry the same
    * `nrm > 0` filter). */
  private def cosineTopKSplit(vecs0: DataFrame,
      dot: (Column, Column) => Column, k: Int, nQueries: Int): DataFrame = {
    val vecs = vecs0.where(col("nrm") > 0)
    val queries = vecs.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("vec").as("q_vec"),
        col("nrm").as("q_nrm"))
    val scored = vecs.where(col("vec_id") >= nQueries)
      .crossJoin(broadcast(queries))
      .withColumn("sim",
        round(cosineQ(dot)(col("q_vec"), col("vec"), col("q_nrm"), col("nrm")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
    topKPerQuery(scored, k)
  }

  /** Brute-force cosine top-k — J14/T5 baseline: a small query set is
    * broadcast against the full corpus; per-query top-k via the two-phase
    * merge ([[topKPerQuery]] — never a per-query window funnel). At
    * cluster scale the corpus side stays partitioned and only the
    * queries move — no shuffle of the big side. */
  def knnBruteForce(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    cosineTopKSplit(quantized(spark, dir)
      .select(col("vec_id"), col("qe").as("vec"), col("nrm")),
      dot, k, nQueries)
  }

  /** Scalar-quantization (int8) ANN — the standard first compression
    * step before product quantization: each dimension gets a symmetric
    * scale (max |x| over the corpus), vectors become int8 code arrays
    * (4× smaller than float32, integer-SIMD-scorable), and top-k ranks
    * by the INTEGER code dot product — no doubles anywhere past the
    * encoder, so the ordering is exact and engine-portable.
    *
    * Scale shape: the 64 per-dim scales are one tiny aggregate
    * broadcast to the encoder; scoring is the same broadcast-queries ×
    * partitioned-corpus shape as [[knnBruteForce]] with the two-phase
    * top-k tail. Encoding uses floor (not round) so no half-tie can
    * split engines; a constant zero dimension encodes to 0.
    *
    * Accuracy (measured, sf0.01): max cosine error 0.072 over ALL
    * query×corpus pairs; an exact twin still lands at sim 1.0 rank 1,
    * and any top-1 whose margin clears the error envelope survives —
    * only statistically-tied tails reorder (this synthetic data has
    * 3e-4 neighbor gaps; real embeddings have far larger margins).
    *
    * A vector whose code quantizes to ALL ZEROS (possible when one
    * outlier per dim stretches the scale) has no cosine — it is
    * excluded from search on both sides rather than dividing by zero
    * (the shared [[cosineTopKSplit]] guard). */
  def annSq8(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    // eager localCheckpoint: the 64-double scale row is computed ONCE —
    // without it both the query and corpus branches re-instantiate the
    // full posexplode + aggregate subtree (64×N exploded rows, twice)
    val scales = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(greatest(max(col("x").cast("double")), -min(col("x").cast("double")))
        .as("s"))
      .agg(array_sort(collect_list(struct(col("d"), col("s")))).as("ds"))
      .select(transform(col("ds"), e => e.getField("s")).as("scales"))
      .localCheckpoint(true)
    val coded = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(scales))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("scales"), (x, s) =>
          when(s > lit(0.0),
            least(lit(127L), greatest(lit(-128L),
              floor(x.cast("double") / s * 128))))
            .otherwise(lit(0L))).as("code"))
    // cosine over the CODES (same metric as the exact baseline, so the
    // only approximation is the quantization itself)
    cosineTopKSplit(coded
      .withColumn("nrm", dot(col("code"), col("code")))
      .select(col("vec_id"), col("code").as("vec"), col("nrm")),
      dot, k, nQueries)
  }

  /** PQ geometry: m subvectors of 64/m dims each, ksub centroids per
    * subspace. m=8 × ksub=16 → codes are 8 nibbles (4 bytes/vector in a
    * packed layout — 16× smaller than sq8, 64× smaller than float32),
    * the standard next compression step after [[annSq8]]'s int8. */
  val PqSubvectors = 8
  val PqSubDim = 8
  val PqCodebookSize = 16
  val PqTrainIters = 2

  /** Product-quantized ANN (IVFADC shape, inner-product variant) —
    * VERDICT r5 #4: vectors are cut into [[PqSubvectors]] subvectors,
    * each subspace gets its own [[PqCodebookSize]]-centroid Lloyd
    * codebook (trained with the [[kmeansCore]] recipe run over ALL
    * slices in one plan: cluster key = (slice, centroid), seeds = the
    * first ksub vectors' slices, integer-exact updates), and a vector's
    * CODE is its per-slice nearest centroid. Search is
    * asymmetric-distance (ADC) by LOOKUP TABLE: each query computes one
    * tiny (slice, centroid) → (integer dot, centroid norm²) table
    * against the codebooks; a candidate's approximate cosine needs only
    * its codes — sim ≈ Σ ip / (√q_nrm · √Σ c_nrm), the reconstruction
    * ⟨q, recon(x)⟩ cosine (‖recon‖² is exactly the sum of its slice
    * norms). The L2 form is one identity away (d² = q_nrm + c_nrm −
    * 2·ip); the IP/cosine form is used so recall is directly comparable
    * to [[knnBruteForce]]. Candidates come from the probed cells of the
    * SAME trained coarse quantizer as [[annIvfKmeans]].
    *
    * Scale shape: codebooks are m × ksub tiny rows (broadcast both in
    * training-assignment and scoring); the ADC table is nQueries × m ×
    * ksub rows (broadcast); codes are the corpus's compressed
    * representation (n × m ids — the relation a packed engine stores in
    * 4 bytes/vector) and never leave their partitions except through
    * the per-(query, neighbor) partial-aggregated sum; training
    * lineage is checkpointed per iteration like [[kmeansCore]]. A
    * production deployment trains codebooks on a deterministic sample
    * (CurationOps.stratifiedSample's md5-threshold filter); the
    * declared query trains on the full corpus so the DuckDB twin is
    * exact.
    *
    * Everything through the score numerator/denominator is exact
    * integer arithmetic; one correctly-rounded double division per
    * candidate, round-4 for ranking — bit-identical cross-engine.
    * Zero-norm reconstructions (all-zero codes) are excluded like
    * [[cosineTopKSplit]]'s guard, mirrored in the oracle.
    *
    * Accuracy (measured, sf0.01, nprobe 3/8): recall@5 vs
    * [[knnBruteForce]] = 10/25 (0.40), against a probe ceiling of
    * 23/25 ([[annIvfKmeans]], exact in-cell scoring, same cells). The
    * gap is the corpus, not the operator: these synthetic embeddings
    * are near-uniform random — the no-structure worst case for ANY
    * vector quantizer (subspace centroids collapse toward the origin
    * and reconstructions keep little of a random vector's direction;
    * widening the geometry measures the same — m=16/dsub=4 also 10/25,
    * ksub=32 worse at 5/25). Real embedding corpora cluster, which is
    * what codebooks encode. The standard refine step — exact re-rank
    * of the ADC shortlist, O(shortlist) extra dots per query — recovers
    * the probe ceiling and is one composition away ([[knnBruteForce]]'s
    * scoring over the shortlist); recorded here rather than built so
    * the declared query stays the pure lookup-table path. */
  def annPq(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5, nprobe: Int = 3, cells: Int = 8): DataFrame =
    topKPerQuery(annPqScored(spark, dir, nQueries, nprobe, cells), k)

  /** Subvector relation of a quantized frame: (vec_id, s, sub, sub_nrm),
    * one row per [[PqSubvectors]] slice. */
  private def slicedOf(spark: SparkSession, emb: DataFrame): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    emb.select(col("vec_id"), explode(array(
        (0 until PqSubvectors).map { s =>
          struct(lit(s).as("s"),
            slice(col("qe"), s * PqSubDim + 1, PqSubDim).as("sub"))
        }: _*)).as("sv"))
      .select(col("vec_id"), col("sv.s").as("s"), col("sv.sub").as("sub"))
      .withColumn("sub_nrm", dot(col("sub"), col("sub")))
  }

  /** Per-slice nearest-codeword assignment: integer L2², ties → smallest
    * centroid id (total order, so min_by can never tie). */
  private def pqAssign(spark: SparkSession, sliced: DataFrame,
      cs: DataFrame): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    sliced.join(broadcast(cs), Seq("s"))
      .withColumn("d2",
        col("sub_nrm") + col("c_nrm") - lit(2L) * dot(col("sub"), col("cent")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("cl"), struct(col("d2"), col("cl"))).as("cl"),
        first(col("sub")).as("sub"))
  }

  /** Per-slice Lloyd codebook training over a (train) subvector relation
    * — (s, cl, cent, c_nrm), [[PqCodebookSize]] codewords per slice, all
    * slices in ONE plan. Seeds are the slices of the ksub lowest vec_ids
    * PRESENT (same rationale as [[kmeansCoreOf]]'s seeding — a sampled
    * training frame has gaps, and `vec_id < ksub` would under-seed). */
  private[graft] def pqCodebooks(spark: SparkSession,
      trainSliced: DataFrame, iters: Int = PqTrainIters): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val seedIds = trainSliced.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(PqCodebookSize)
    var cents = trainSliced.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("s"), col("vec_id").cast("int").as("cl"),
        col("sub").as("cent"), col("sub_nrm").as("c_nrm"))
      .localCheckpoint(true)
    for (_ <- 1 until iters) {
      cents = pqAssign(spark, trainSliced, cents)
        .select(col("s"), col("cl"), posexplode(col("sub")))
        .groupBy(col("s"), col("cl"), col("pos"))
        .agg(sum(col("col")).as("sm"), count(lit(1)).as("n"))
        .withColumn("c", expr("sm div n"))
        .groupBy(col("s"), col("cl"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("s"), col("cl"),
          transform(col("pc"), x => x.getField("c")).as("cent"))
        .withColumn("c_nrm", dot(col("cent"), col("cent")))
        .localCheckpoint(true)
    }
    cents
  }

  /** Encode a subvector relation against trained codebooks:
    * (vec_id, s, cl) — the corpus's 4-byte/vector compressed form. */
  private[graft] def pqEncode(spark: SparkSession, sliced: DataFrame,
      cents: DataFrame): DataFrame =
    pqAssign(spark, sliced, cents).select(col("vec_id"), col("s"), col("cl"))

  /** ADC scoring against an ALREADY-BUILT index (coarse centroids, cell
    * assignments, PQ codebooks, codes) — the search half of the
    * build/search split: one lookup table per query against the
    * broadcast codebooks, probed-cell candidate selection, and the
    * per-(query, neighbor) partial-aggregated code sum. Identical
    * arithmetic whether the index frames come fresh from training
    * ([[annPqScored]]) or from parquet ([[annPqFrom]]). */
  private def adcScore(spark: SparkSession, emb: DataFrame,
      coarse: DataFrame, assignments: DataFrame, cents: DataFrame,
      codes: DataFrame, nQueries: Int, nprobe: Int): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    // ADC lookup table: (query, slice, code) → integer dot + recon norm²
    val dtab = slicedOf(spark, emb.where(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("s"), col("sub"))
      .join(broadcast(cents), Seq("s"))
      .select(col("query_id"), col("s"), col("cl"),
        dot(col("sub"), col("cent")).as("ip"), col("c_nrm"))
    // coarse probe: same integer-L2² rule as annIvfKmeans
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cell_d2").asc, col("cluster").asc)
    val probed = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("nrm").as("q_nrm"))
      .crossJoin(broadcast(coarse))
      .withColumn("cell_d2",
        col("q_nrm") + col("c_nrm") - lit(2L) * dot(col("q_qe"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wProbe))
      .where(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("q_nrm"), col("cluster"))
    probed
      .join(assignments.where(col("vec_id") >= nQueries)
        .select(col("cluster"), col("vec_id").as("neighbor_id")), Seq("cluster"))
      .join(codes.select(col("vec_id").as("neighbor_id"), col("s"), col("cl")),
        Seq("neighbor_id"))
      .join(broadcast(dtab), Seq("query_id", "s", "cl"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("ip")).as("ipsum"), sum(col("c_nrm")).as("rn"),
        first(col("q_nrm")).as("qn"))
      .where(col("rn") > 0 && col("qn") > 0)
      .withColumn("sim", round(col("ipsum").cast("double")
        / (sqrt(col("qn").cast("double")) * sqrt(col("rn").cast("double"))), 4))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** The ADC-scored candidate frame (query_id, neighbor_id, sim) behind
    * [[annPq]] — shared with [[annPqRefine]] so the shortlist and the
    * declared pure-PQ query can never drift. Trains in-plan (the
    * declared query's self-contained-oracle shape); the build-once
    * production posture is [[writeAnnIndex]] + [[annPqFrom]]. */
  private def annPqScored(spark: SparkSession, dir: String,
      nQueries: Int, nprobe: Int, cells: Int): DataFrame = {
    val emb = quantized(spark, dir)
    val (assigned, coarse) = kmeansCore(spark, dir, cells, PqTrainIters)
    val sliced = slicedOf(spark, emb)
    val cents = pqCodebooks(spark, sliced)
    val codes = pqEncode(spark, sliced, cents)
    adcScore(spark, emb, coarse,
      assigned.select(col("vec_id"), col("cluster")), cents, codes,
      nQueries, nprobe)
  }

  /** PQ shortlist size the refine step re-ranks exactly — 20× the
    * answer k. The knob trades exact dots per query against recall;
    * measured curve at sf0.01 (recall@5 vs brute force, probe ceiling
    * 0.92): shortlist 25 → 0.72, 50 → 0.80, 100 → 0.88. Even 100 exact
    * dots per query is O(shortlist) work — nothing corpus-sized. */
  val PqRefineShortlist = 100

  /** PQ + REFINE — the standard two-stage the [[annPq]] scaladoc
    * records: the ADC lookup-table pass produces a cheap shortlist
    * (top-[[PqRefineShortlist]] per query by approximate cosine), and
    * only those rows are re-scored with the EXACT quantized cosine
    * before the final top-k. Costs shortlist extra exact dots per query
    * — nothing corpus-sized — and recovers most of the probe ceiling
    * the pure code path gives up on hard (unclustered) data: measured
    * at sf0.01, recall@5 vs [[knnBruteForce]] is 22/25 = 0.88 vs pure
    * PQ's 0.40 (probe ceiling 0.92; see [[PqRefineShortlist]] for the
    * shortlist→recall curve). Same output schema as [[annPq]]; sim is
    * the exact quantized cosine. */
  def annPqRefine(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5, nprobe: Int = 3, cells: Int = 8,
      shortlist: Int = PqRefineShortlist): DataFrame =
    refineShortlist(spark, quantized(spark, dir),
      annPqScored(spark, dir, nQueries, nprobe, cells), nQueries, k,
      shortlist)

  /** Exact re-rank tail of [[annPqRefine]]: top-`shortlist` of the ADC scores per query,
    * re-scored with the exact quantized cosine, final top-k. */
  private def refineShortlist(spark: SparkSession, emb: DataFrame,
      scored: DataFrame, nQueries: Int, k: Int, shortlist: Int): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val short = topKPerQuery(scored, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val queries = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("nrm").as("q_nrm"))
    val exact = short
      .join(emb.select(col("vec_id").as("neighbor_id"), col("qe"),
        col("nrm")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .where(col("nrm") > 0 && col("q_nrm") > 0)
      .withColumn("sim",
        round(cosineQ(dot)(col("q_qe"), col("qe"), col("q_nrm"), col("nrm")), 4))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    topKPerQuery(exact, k)
  }

  /** BUILD half of the ANN build/search split (VERDICT r6 #3: PQ/IVF
    * retrained per invocation is pure waste across queries — at 10⁹
    * vectors the Lloyd passes dominate every search). Materializes the
    * four index relations as parquet under `indexDir`:
    *
    *  - `coarse_centroids` (cluster, centroid, c_nrm) — the trained
    *    coarse quantizer ([[kmeansCoreOf]], [[PqTrainIters]] iterations)
    *  - `assignments` (vec_id, cluster) — every corpus vector's cell
    *  - `pq_codebooks` (s, cl, cent, c_nrm) — per-slice codewords
    *  - `pq_codes` (vec_id, s, cl) — the 4-byte/vector compressed corpus
    *
    * `trainFrac` < 1 trains BOTH quantizers on a deterministic
    * md5-threshold sample ([[CurationOps.stratifiedSample]]'s filter —
    * stable under retries and across engines, no rand()) while still
    * assigning/encoding the FULL corpus — the production posture
    * [[annPq]]'s scaladoc records (training cost drops ×frac; the
    * centroids see an unbiased subset). Measured on the planted
    * 4-cluster fixture (AnnIndexSpec): recall@5 vs brute force is 0.76
    * full-trained and 0.80 at trainFrac 0.5 — half-corpus training
    * costs nothing on clustered data (the envelope the spec pins is
    * sampled ≥ full − 0.2), which is why ANN libraries train coarse
    * quantizers on samples by default.
    *
    * All values are exact integers (longs/arrays), so the parquet
    * round-trip changes nothing: searching a full-trained index is
    * BIT-IDENTICAL to the train-in-plan [[annPq]] (spec-pinned). */
  def writeAnnIndex(spark: SparkSession, dir: String, indexDir: String,
      cells: Int = 8, trainFrac: Double = 1.0,
      trainIters: Int = PqTrainIters): Unit =
    writeAnnIndexFrom(spark, quantized(spark, dir), indexDir, cells,
      trainFrac, trainIters)

  /** [[writeAnnIndex]] over an already-quantized (vec_id, qe, nrm)
    * corpus frame — the entry a maintained pipeline calls when its
    * vector corpus is a TABLE (e.g. the curated-ingest `sem_vectors`),
    * not a parquet dir of raw embeddings. */
  def writeAnnIndexFrom(spark: SparkSession, emb: DataFrame,
      indexDir: String, cells: Int = 8, trainFrac: Double = 1.0,
      trainIters: Int = PqTrainIters): Unit = {
    val trainEmb =
      if (trainFrac >= 1.0) emb
      else CurationOps.stratifiedSample(emb, "vec_id", "vec_id",
        Map.empty, trainFrac)
    val (_, coarse) = kmeansCoreOf(spark, trainEmb, cells, trainIters)
    val assignments = assignToCents(spark, emb, coarse)
      .select(col("vec_id"), col("cluster"))
    val cents = pqCodebooks(spark, slicedOf(spark, trainEmb), trainIters)
    val codes = pqEncode(spark, slicedOf(spark, emb), cents)
    coarse.write.mode("overwrite").parquet(s"$indexDir/coarse_centroids")
    assignments.write.mode("overwrite").parquet(s"$indexDir/assignments")
    cents.write.mode("overwrite").parquet(s"$indexDir/pq_codebooks")
    codes.write.mode("overwrite").parquet(s"$indexDir/pq_codes")
  }

  // explicit index schemas: reads never infer (footer scan per search,
  // and inference cannot read a zero-row table) — the corpus-index
  // convention (StreamingAnalytics.loadCorpusIndex)
  import org.apache.spark.sql.types._
  private val CoarseSchema = StructType(Seq(
    StructField("cluster", IntegerType), StructField("centroid",
      ArrayType(LongType)), StructField("c_nrm", LongType)))
  private val AssignSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cluster", IntegerType)))
  private val CodebookSchema = StructType(Seq(
    StructField("s", IntegerType), StructField("cl", IntegerType),
    StructField("cent", ArrayType(LongType)), StructField("c_nrm", LongType)))
  private val CodesSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("s", IntegerType),
    StructField("cl", IntegerType)))

  /** Read-back side of [[writeAnnIndex]]:
    * (coarse, assignments, codebooks, codes). */
  def loadAnnIndex(spark: SparkSession, indexDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = (
    spark.read.schema(CoarseSchema).parquet(s"$indexDir/coarse_centroids"),
    spark.read.schema(AssignSchema).parquet(s"$indexDir/assignments"),
    spark.read.schema(CodebookSchema).parquet(s"$indexDir/pq_codebooks"),
    spark.read.schema(CodesSchema).parquet(s"$indexDir/pq_codes"))

  /** SEARCH half of the build/search split: [[annPq]]'s ADC scoring
    * against a [[writeAnnIndex]] directory — no training in the plan,
    * so per-query cost is the lookup table + probed-cell code scan.
    * On a full-trained index the results are bit-identical to
    * [[annPq]] (spec-pinned). */
  def annPqFrom(spark: SparkSession, dir: String, indexDir: String,
      k: Int = 5, nQueries: Int = 5, nprobe: Int = 3): DataFrame = {
    val (coarse, assignments, cents, codes) = loadAnnIndex(spark, indexDir)
    topKPerQuery(adcScore(spark, quantized(spark, dir), coarse, assignments,
      cents, codes, nQueries, nprobe), k)
  }

  /** Search-only PQ entry for the declared-query/bench surface: builds
    * the index ONCE per corpus STATE into a deterministic scratch
    * location, then every invocation is pure [[annPqFrom]] search — so
    * bench reps measure SEARCH latency (the first cold rep pays the
    * build; min is the search-only signal). Staleness and identity are
    * both carried by the cache key: an md5 of the RAW corpus path (no
    * lossy sanitizing — distinct dirs can never collide) plus the
    * (name, length, mtime) of every embeddings data file, so a
    * regenerated corpus at the same path AND size still rebuilds. The
    * key also names the index layout (`layout=flat`: no partition level
    * under the per-vector tables), so an index cached in an older layout
    * is rebuilt, never read under the wrong schema.
    * Build completion is a `_COMPLETE` sentinel written after all four
    * tables commit — a killed half-built index is rebuilt, never
    * silently served as empty tables (the explicit read schemas would
    * otherwise mask it). Full-corpus training → bit-identical to
    * [[annPq]], same oracle. */
  def annPqSearchCached(spark: SparkSession, dir: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val stamp = src.getFileSystem(hconf).listStatus(src)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$stamp|layout=flat".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val idx = System.getProperty("java.io.tmpdir") + s"/graft_ann_index/$key"
    val done = new org.apache.hadoop.fs.Path(s"$idx/_COMPLETE")
    val fs = done.getFileSystem(hconf)
    if (!fs.exists(done)) {
      writeAnnIndex(spark, dir, idx)
      fs.create(done, true).close()
    }
    annPqFrom(spark, dir, idx)
  }

  /** Nearest neighbor within a blocking key (label) — the "embedding
    * near-dup" shape: per-label self-join instead of a global cross
    * product; each block is independent and parallel. */
  def nnWithinLabel(spark: SparkSession, dir: String): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    // zero-norm guard: same exclusion as cosineTopKSplit (NULL cosine
    // would rank first / split engines); mirrored in the oracle
    val emb = quantized(spark, dir).where(col("nrm") > 0)
    val a = emb.select(col("label"), col("vec_id").as("id_a"),
      col("qe").as("qe_a"), col("nrm").as("nrm_a"))
    val b = emb.select(col("label"), col("vec_id").as("id_b"),
      col("qe").as("qe_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("sim",
        round(cosineQ(dot)(col("qe_a"), col("qe_b"), col("nrm_a"), col("nrm_b")), 4))
      .groupBy(col("label"), col("id_a"))
      .agg(max_by(col("id_b"), struct(col("sim"), -col("id_b"))).as("nn_id"),
        max(col("sim")).as("nn_sim"))
      .select(col("label"), col("id_a").as("vec_id"), col("nn_id"),
        col("nn_sim"))
  }

  /** Scale-safe sibling of [[nnWithinLabel]]: blocks on (label,
    * sign-bucket) instead of label alone. Label cardinality is a
    * CONSTANT, so per-label blocks grow O(n²) with the corpus; the
    * sign-bucket sub-key (axis-aligned random-projection LSH, same
    * family as [[DedupOps.annBucketed]]) splits each label block into
    * buckets whose count grows with the LARGEST label block
    * ([[DedupOps.annSignDims]] of max per-label count, FLOOR 0: blocks
    * under the occupancy target keep one bucket and the search stays
    * exact — buckets only activate once a block outgrows the target),
    * holding expected per-block pair work ≈ O(n · target). Approximate
    * past the cutover: the nearest neighbor is found within the same
    * (label, bucket) only — the standard ANN recall trade, deterministic
    * and fully oracled. */
  def nnLabelBucketed(spark: SparkSession, dir: String): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val dims = DedupOps.annSignDims(maxLabelBlock(spark, dir), floor = 0)
    // zero-norm guard mirrored in the oracle (see nnWithinLabel)
    val emb = quantized(spark, dir).where(col("nrm") > 0)
      .withColumn("bucket", array_join(
        transform(slice(col("qe"), 1, dims),
          x => when(x >= 0, "1").otherwise("0")), ""))
    val a = emb.select(col("label"), col("bucket"), col("vec_id").as("id_a"),
      col("qe").as("qe_a"), col("nrm").as("nrm_a"))
    val b = emb.select(col("label"), col("bucket"), col("vec_id").as("id_b"),
      col("qe").as("qe_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label", "bucket"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("sim",
        round(cosineQ(dot)(col("qe_a"), col("qe_b"), col("nrm_a"), col("nrm_b")), 4))
      .groupBy(col("label"), col("bucket"), col("id_a"))
      .agg(max_by(col("id_b"), struct(col("sim"), -col("id_b"))).as("nn_id"),
        max(col("sim")).as("nn_sim"))
      .select(col("label"), col("bucket"), col("id_a").as("vec_id"),
        col("nn_id"), col("nn_sim"))
  }

  /** k-means (Lloyd) in exact integer milli-units — trains the coarse
    * quantizer the IVF path wants on unlabeled corpora (label centroids
    * are the untrained fallback; VERDICT r2 measured their recall cost on
    * unclustered data). Everything stays integer-exact so the whole
    * training loop is oracle-able: seeds are the first k vectors
    * (deterministic), assignment minimizes L2² = nrm_a + nrm_c - 2·dot
    * (integers; ties break on cluster id), new centroids are per-dim
    * `sum div count` (truncating integer division). Each iteration is
    * one broadcast of k centroids + one shuffle of (vector, cluster)
    * assignments — the textbook scalable shape; iterations are a fixed
    * small count, not driver loops over data. */
  def kmeansAssign(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2): DataFrame = kmeansCore(spark, dir, k, iters)._1

  /** Lloyd core: returns (final assignment, final centroids).
    *
    * Lineage control (VERDICT r3 item on iterative growth): each updated
    * centroid set is `localCheckpoint`ed (eager) — k tiny rows
    * materialized per iteration, so iteration i's plan is always
    * `emb ⨯ checkpointed-cents` (CONSTANT depth) instead of a chain of i
    * crossJoin+agg rounds that blows up analysis/codegen at the 10-20
    * iterations real training wants. Integer-exact values are unchanged
    * by materialization, so the 2-iter oracle stays bit-identical. */
  private def kmeansCore(spark: SparkSession, dir: String, k: Int,
      iters: Int): (DataFrame, DataFrame) =
    kmeansCoreOf(spark, quantized(spark, dir), k, iters)

  /** [[kmeansCore]] over ANY quantized (vec_id, qe, nrm) frame — split out
    * so the vector NEAR-DUP path ([[DedupOps.cosineNearDupAuto]]'s
    * saturated branch) can train the same coarse quantizer on the frame
    * it deduplicates (and specs can train on planted fixtures). Seeds are
    * the k lowest ids PRESENT (TakeOrderedAndProject, k rows) — NOT
    * `vec_id < k`, which on a frame whose low ids were filtered away
    * (zero-norm guard, sparse ids) would yield ZERO centroids and a
    * silently empty training: on the dense-from-0 corpus tables the two
    * seed sets are identical rows, so the declared oracles are unchanged.
    * Cluster ids are the seed vec_ids cast to int (dense corpora: 0..k-1;
    * callers with ids past Int.MaxValue would need a remap first). */
  private[graft] def kmeansCoreOf(spark: SparkSession, emb: DataFrame, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val dot = DotProductLong.dotLong(spark) _
    var cents = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("cluster"),
        col("qe").as("centroid"), col("nrm").as("c_nrm"))
    def assign(cs: DataFrame): DataFrame = assignToCents(spark, emb, cs)
    for (_ <- 1 until iters) {
      cents = assign(cents)
        .select(col("cluster"), posexplode(col("qe")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .withColumn("c", expr("s div n"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cluster"),
          transform(col("pc"), x => x.getField("c")).as("centroid"))
        .withColumn("c_nrm", dot(col("centroid"), col("centroid")))
        .localCheckpoint(true)
    }
    (assign(cents), cents)
  }

  /** One-pass nearest-centroid assignment of a quantized frame to a
    * centroid set (cluster, centroid, c_nrm): the Lloyd assignment step,
    * split out so [[writeAnnIndex]] can assign the FULL corpus to
    * sample-trained centroids. Broadcast centroids, integer L2², ties →
    * smallest cluster id; window key is vec_id (high cardinality). */
  private[graft] def assignToCents(spark: SparkSession, emb: DataFrame,
      cs: DataFrame): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val wMin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("dist2").asc, col("cluster").asc)
    emb.crossJoin(broadcast(cs))
      .withColumn("dist2",
        col("nrm") + col("c_nrm") - lit(2L) * dot(col("qe"), col("centroid")))
      .withColumn("rk", row_number().over(wMin))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("cluster"), col("qe"), col("dist2"))
  }

  /** IVF search over the TRAINED quantizer: [[annIvf]]'s probe/search
    * shape, but cells come from [[kmeansCore]] instead of labels — the
    * honest unlabeled-corpus path. Probing minimizes the same integer L2²
    * the training used; search scores cosine within probed cells only.
    * Measured recall@5 vs brute force at nprobe 3/8 on sf0.01: 0.92 with
    * the trained cells vs 0.56 with untrained label centroids — two Lloyd
    * iterations buy the recall the r2 verdict noted was missing. */
  def annIvfKmeans(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5, nprobe: Int = 3, cells: Int = 8,
      trainIters: Int = 2): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val (assigned, cents) = kmeansCore(spark, dir, cells, trainIters)
    // zero-norm guard on the SEARCH sides only — training (kmeansCore)
    // keeps every vector; mirrored in the oracle's q/mem CTEs
    val emb = quantized(spark, dir).where(col("nrm") > 0)
    val queries = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("nrm").as("q_nrm"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cell_d2").asc, col("cluster").asc)
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("cell_d2",
        col("q_nrm") + col("c_nrm") - lit(2L) * dot(col("q_qe"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wProbe))
      .where(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("q_qe"), col("q_nrm"), col("cluster"))
    val members = assigned.where(col("vec_id") >= nQueries)
      .join(emb.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cluster"), col("vec_id").as("neighbor_id"), col("qe"),
        col("nrm"))
    topKPerQuery(probed.join(members, Seq("cluster"))
      .withColumn("sim",
        round(cosineQ(dot)(col("q_qe"), col("qe"), col("q_nrm"), col("nrm")), 4))
      .select(col("query_id"), col("neighbor_id"), col("sim")), k)
  }

  /** Kept-per-cluster target of the declared cluster-balanced sample. */
  val ClusterSampleTarget = 40L

  /** CLUSTER-BALANCED sampling — the diversity-preserving sampler
    * (SemDeDup/DataComp-style): k-means the embeddings, then keep at
    * most ~[[ClusterSampleTarget]] vectors per cluster by thinning each
    * cluster at rate target/size. Mega-clusters (near-duplicate blobs,
    * template content) stop dominating the sample while small clusters
    * survive whole — the embedding-space analogue of
    * [[graft.operators.CurationOps.stratifiedSample]]'s per-language
    * mixture.
    *
    * Determinism with DATA-DRIVEN rates: stratifiedSample embeds its
    * thresholds as literals; here the rate depends on the cluster SIZE,
    * so the md5 threshold is computed as a COLUMN — rate32 =
    * target·2^32 div size rendered to 8 hex digits via format_string
    * (identical rendering in both engines), with the above-every-hex
    * sentinel 'g' when size ≤ target (the rateHex ≥ 1 contract: a whole
    * cluster kept must include the 2^-32 md5-prefix tail). Keep iff
    * substr(md5(vec_id), 1, 8) < threshold — stable under retries,
    * replays and engines.
    *
    * Scale shape: Lloyd training (shared core), one broadcast join of
    * the cluster-size relation (k rows), one filter, one summary agg —
    * no corpus shuffle beyond the training pass. Emits per cluster:
    * size, kept count, and the kept-id envelope. */
  def clusterBalancedSample(spark: SparkSession, dir: String,
      target: Long = ClusterSampleTarget, cells: Int = 8,
      trainIters: Int = 2): DataFrame = {
    val (assigned, _) = kmeansCore(spark, dir, cells, trainIters)
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"))
    val threshold = when(col("n_vectors") <= target, lit("g"))
      .otherwise(format_string("%08x",
        expr(s"${target}L * 4294967296L div n_vectors")))
    assigned.select(col("vec_id"), col("cluster"))
      .join(broadcast(sizes), Seq("cluster"))
      .where(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 8)
        < threshold)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_vectors")).as("n_vectors"),
        min(col("vec_id")).as("min_kept_id"),
        max(col("vec_id")).as("max_kept_id"))
  }

  /** Embeddings HEALTH CARD — the per-label sanity report a vector
    * pipeline checks before indexing: counts, exact integer norm
    * statistics (milli² units — sum, truncated mean, min/max) and the
    * zero-norm count (vectors cosine can never score; every search
    * path guards them, this is where the guard's reach is visible).
    * One projection + one hash aggregation; linear at any scale.
    * `sum_nrm_milli2` is long-exact to ~9×10⁹ unit-norm vectors per
    * label (nrm ≈ 10⁹ milli² each); past that envelope Spark's sum over
    * LongType does NOT widen — it wraps (or throws under ANSI) — so a
    * deployment approaching it must widen explicitly
    * (`sum(col("nrm").cast("decimal(38,0)"))`); the DuckDB oracle's
    * HUGEINT sum is cast back to BIGINT, so both engines agree exactly
    * inside the envelope. The per-vector stats and the truncated mean
    * stay in range regardless. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("nrm")).as("sum_nrm_milli2"),
        sum(when(col("nrm") === 0, 1L).otherwise(0L)).as("n_zero_norm"),
        min(col("nrm")).as("min_nrm"), max(col("nrm")).as("max_nrm"))
      .withColumn("avg_nrm", expr("sum_nrm_milli2 div n_vectors"))

  /** Training summary per cluster: size + inertia (sum of L2² in exact
    * milli² units) — the numbers a quantizer-quality report shows. */
  def kmeansSummary(spark: SparkSession, dir: String): DataFrame =
    kmeansAssign(spark, dir)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("dist2")).as("inertia_milli2"))

  /** TOPIC-BALANCE-BY-SOURCE report — the cluster × source contingency
    * table a mixture designer reads before setting per-source sampling
    * rates: assign every embedded document to its trained k-means
    * cluster ([[kmeansAssign]] — embeddings align with documents by id,
    * the [[graft.operators.CurationOps.curationSummary]] convention),
    * join the document's source, and emit per (cluster, source) the
    * document count and its integer-exact share of the cluster
    * (ppm, truncating). A source monopolizing a cluster (share → 10⁶)
    * is the over-representation signal source caps act on; a cluster
    * with uniform shares is topic-diverse.
    *
    * Scale shape: the contingency relation is ≤ clusters × sources rows
    * — sub-linear the moment the per-(cluster,source) count aggregates
    * (map-side partial combine); cluster totals re-aggregate THAT
    * relation and broadcast back onto it, so nothing after the first
    * hash-agg touches corpus-sized data. The doc⋈assignment join is
    * id-keyed (AQE shuffle join; either side broadcastable when small). */
  def clusterSourceBalance(spark: SparkSession, dir: String): DataFrame = {
    val assigned = kmeansAssign(spark, dir)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val cs = assigned.join(docs, Seq("doc_id"))
      .groupBy(col("cluster"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cs.groupBy(col("cluster"))
      .agg(sum(col("n_docs")).as("cl_total"))
    cs.join(broadcast(totals), Seq("cluster"))
      .withColumn("share_ppm", expr("n_docs * 1000000 div cl_total"))
      .select(col("cluster"), col("source"), col("n_docs"), col("cl_total"),
        col("share_ppm"))
  }

  /** Per-label centroid in exact milli-units: posexplode to (dim, value),
    * integer sums per (label, dim). The partial-aggregation tree is
    * shuffle-efficient (combine on map side) and exact at any scale. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(quantize(col("embedding"))))
      .where(col("pos") < 8)
      .groupBy(col("label"), col("pos").as("dim"))
      .agg(sum(col("col")).as("sum_milli"), count(lit(1)).as("n"))

  /** Keywords kept per cluster by [[clusterKeywords]]. */
  val ClusterTopK = 5

  /** CLUSTER KEYWORD LABELS — the human-readable tags a clustering
    * report attaches to each k-means cell: per cluster, the top-k
    * tokens by rarity-weighted cluster frequency (cluster tf · 10⁶ div
    * corpus document frequency — [[graft.operators.TextOps
    * .tfidfKeywords]]'s integer idf surrogate lifted from documents to
    * clusters). Tokens every cluster shares (stopwords, boilerplate)
    * score low through the df denominator; what surfaces is what makes
    * the cluster THAT cluster — the label a mixture designer or an
    * eyeball-QA pass actually reads.
    *
    * Scale shape: cluster tf is one hash aggregation over the exploded
    * assignment⋈documents join (map-side combine; output ≤ clusters ×
    * vocab); df aggregates the per-doc distinct relation (corpus-wide,
    * the tfidf definition — shared semantics, so a token's rarity means
    * the same thing in both reports). The top-k is TWO-PHASE on the
    * LOW-cardinality cluster key (partial rank per input partition →
    * merge of ≤ k·P candidates) — a plain window here would funnel
    * every cluster's whole vocabulary through one task. */
  def clusterKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val assigned = kmeansAssign(spark, dir)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val perDoc = TextOps.explodeNN(docs, TextOps.toks(col("text")), "tok",
        col("doc_id"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = perDoc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ctf = perDoc.join(assigned, Seq("doc_id"))
      .groupBy(col("cluster"), col("tok")).agg(sum(col("tf")).as("ctf"))
    val scored = ctf.join(df, Seq("tok"))
      .withColumn("score_ppm", expr("ctf * 1000000 div df"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"), col("pid"))
      .orderBy(col("neg"), col("tok"))
    scored
      .withColumn("pid", spark_partition_id())
      .withColumn("neg", -col("score_ppm"))
      .withColumn("rn", row_number().over(wLocal))
      .where(col("rn") <= ClusterTopK)
      .groupBy(col("cluster"))
      .agg(slice(array_sort(collect_list(struct(col("neg"), col("tok"),
        col("ctf"), col("df"), col("score_ppm")))), 1, ClusterTopK).as("top"))
      .select(col("cluster"), posexplode(col("top")))
      .select(col("cluster"), (col("pos") + 1).cast("int").as("rank"),
        col("col.tok").as("tok"), col("col.ctf").as("ctf"),
        col("col.df").as("df"), col("col.score_ppm").as("score_ppm"))
  }

  /** ANN RECALL SELF-EVALUATION — the accuracy harness an ANN
    * deployment ships with: run the trained-IVF search
    * ([[annIvfKmeans]]) and the exact brute-force baseline
    * ([[knnBruteForce]]) over the SAME probe set and report, per query,
    * how many of the true top-k the index recovered (recall@k in exact
    * 1e-4 units). The statistic that decides nprobe/cells before anyone
    * trusts the index — measured, not guessed, and runnable on a
    * production corpus sample at any time.
    *
    * Scale shape: both chains are the already-bounded probe-set
    * searches (broadcast queries; IVF probes only ~nprobe/cells of the
    * corpus); the comparison joins two k·|probes|-row relations on
    * (query_id, neighbor_id) and re-aggregates per query — negligible
    * next to the searches themselves. The left join keeps queries the
    * ANN returned nothing for (recall 0, not a dropped row). */
  def annRecall(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5, nprobe: Int = 3, cells: Int = 8): DataFrame = {
    val exact = knnBruteForce(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    val ann = annIvfKmeans(spark, dir, k, nQueries, nprobe, cells)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    exact.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall",
        expr("n_hits * 10000 div n_true").cast("double") / 10000.0)
  }

  /** Truncation prefixes for [[matryoshkaRecall]] (full dim is 64). */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32)

  /** MATRYOSHKA TRUNCATION RECALL — the dimension-cost lever of modern
    * embedding serving (Kusupati et al.: MRL-trained models pack
    * coarse-to-fine signal into prefixes, so serving can keep only the
    * first d′ dims for a 64/d′ memory and bandwidth saving): for each
    * prefix length in [[MatryoshkaDims]], run the SAME brute-force
    * cosine top-k over prefix-truncated vectors and measure recall@k
    * against the full-dimension ground truth — the curve that tells an
    * index operator which truncation is safe BEFORE re-encoding 100 TB.
    * Un-MRL-trained synthetic embeddings (these) show the pessimistic
    * baseline — measured mean recall@5 at sf0.01: 0.08 at d′=8, 0.08
    * at 16, 0.32 at 32 (signal is spread uniformly across dims, so
    * truncation is lossy; MRL-trained vectors concentrate it) — the
    * harness, not the curve, is the deliverable.
    *
    * Scale shape: one [[knnBruteForce]]-shaped pass per prefix (the
    * broadcast-queries × partitioned-corpus split with the two-phase
    * top-k tail — truncation SHRINKS the per-row dot), plus a join of
    * k·queries-sized relations. Same recall arithmetic as
    * [[annRecall]]: exact integer `div` on both engines. A vector
    * whose PREFIX quantizes to all zeros has no truncated cosine and
    * is excluded from that prefix's search (the cosineTopKSplit
    * guard), mirrored by the oracle's per-prefix norm filter. */
  def matryoshkaRecall(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 5, dims: Seq[Int] = MatryoshkaDims): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val exact = knnBruteForce(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    val truncated = dims.map { d =>
      val vecs = quantized(spark, dir)
        .select(col("vec_id"), slice(col("qe"), 1, d).as("vec"))
        .withColumn("nrm", dot(col("vec"), col("vec")))
      cosineTopKSplit(vecs, dot, k, nQueries)
        .select(lit(d).as("dims"), col("query_id"), col("neighbor_id"),
          lit(1L).as("hit"))
    }.reduce(_ union _)
    import spark.implicits._
    val dimsDf = dims.toDF("dims")
    exact.crossJoin(broadcast(dimsDf))
      .join(truncated, Seq("dims", "query_id", "neighbor_id"), "left")
      .groupBy(col("dims"), col("query_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall",
        expr("n_hits * 10000 div n_true").cast("double") / 10000.0)
  }

  /** [[hubness]] flags a vector once it appears in at least this many
    * other vectors' top-k lists (2k: twice the expectation under a
    * symmetric neighbor relation). */
  val HubBarFactor = 2

  /** k-OCCURRENCE HUBNESS census — the embedding-space pathology check
    * (Radovanović et al.: in high dimensions a few "hub" points appear
    * in a disproportionate share of nearest-neighbor lists, and
    * mined-pair quality collapses around them): for EVERY vector, how
    * many OTHER vectors' top-k lists it appears in (n_occ), with the
    * hub flag at n_occ ≥ [[HubBarFactor]]·k. The margin criterion in
    * [[bitextMine]] rejects hub matches pair-by-pair; this census finds
    * the hubs themselves — the vectors an embedding-health report
    * quarantines before any mining pass.
    *
    * Scale shape: all-pairs brute force would be the corpus crossed
    * with itself — forbidden shape; instead every vector searches the
    * TRAINED IVF index ([[kmeansCoreOf]] cells, broadcast centroids,
    * nprobe-of-cells membership join), so pair work is ~n·nprobe·n/cells
    * — n^1.5 when cells ≈ √n, which is what the [[hubnessAuto]] product
    * entry point enforces (this declared form pins cells = 8 for the
    * oracle, the [[DedupOps.semDedupAuto]] convention). The
    * k-occurrence count is then one hash aggregation over the top-k
    * relation (k·n rows), left-joined back so never-cited vectors
    * report 0, not absence. n_occ is DEFINED on the index's top-k (the
    * lists a mining pass would actually consume), so the census and the
    * miner see the same neighbor relation. */
  def hubness(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3, cells: Int = 8, trainIters: Int = 2): DataFrame =
    hubnessWithCells(spark, dir, k, nprobe, cells, trainIters)

  /** Product entry point for [[hubness]] with CORPUS-SIZED cells — the
    * [[graft.operators.DedupOps.semDedupAuto]] sizing policy: the
    * declared query pins cells = 8 for the oracle, but at fixed cells
    * the probed-membership join is n·(nprobe/cells)·n — quadratic.
    * Footer-driven cells ≈ √n keeps expected cell occupancy ≈ √n and
    * census pair work ~n·nprobe·√n. Measured on the 8× sf0.1 replica:
    * the fixed-cell form went 2.7 s → 67 s (quadratic bite); this form
    * stays on the n^1.5 envelope. */
  def hubnessAuto(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 3): DataFrame = {
    val n = graft.functions.ScaleUtils.footerRowCount(
      spark, s"$dir/embeddings.parquet")
    hubnessWithCells(spark, dir, k, nprobe, DedupOps.ivfCells(n),
      trainIters = 2)
  }

  private def hubnessWithCells(spark: SparkSession, dir: String, k: Int,
      nprobe: Int, cells: Int, trainIters: Int): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val (assigned, cents) = kmeansCore(spark, dir, cells, trainIters)
    val emb = quantized(spark, dir).where(col("nrm") > 0)
    // every guarded vector probes its nprobe nearest trained cells
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("pdist").asc, col("cluster").asc)
    val probe = emb
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("nrm").as("q_nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("pdist", col("q_nrm") + col("c_nrm")
        - lit(2L) * dot(col("q_qe"), col("centroid")))
      .withColumn("rk", row_number().over(wProbe))
      .where(col("rk") <= nprobe)
      .select(col("query_id"), col("q_qe"), col("q_nrm"), col("cluster"))
    val mem = assigned
      .join(emb.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cluster"), col("vec_id").as("neighbor_id"),
        col("qe"), col("nrm"))
    val scored = probe.join(mem, Seq("cluster"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        round(cosineQ(dot)(col("q_qe"), col("qe"), col("q_nrm"), col("nrm")), 4))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    val occ = topKPerQuery(scored, k)
      .groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("n_occ"))
    emb.select(col("vec_id"), col("label")).join(occ, Seq("vec_id"), "left")
      .withColumn("n_occ", coalesce(col("n_occ"), lit(0L)))
      .withColumn("hub", col("n_occ") >= HubBarFactor.toLong * k)
  }

  /** Probe-set sampler for [[bitextMine]]'s declared query: every
    * [[BitextQueryMod]]-th source-language vector id (deterministic,
    * coin-free — the repo-wide no-rand discipline). */
  val BitextQueryMod = 50L

  /** Acceptance bars for [[bitextMine]]: minimum best-match cosine and
    * minimum margin over the runner-up, in exact 1e-4 units. The
    * standard mined-bitext operating point: a high-sim match whose
    * runner-up is nearly as close is a COPY cluster, not a translation
    * pair — margin, not raw cosine, is what separates them. */
  val BitextMinSim4 = 5000L
  val BitextMinMargin4 = 500L

  /** CROSS-LINGUAL BITEXT MINING (margin-based) — the LASER/CCMatrix
    * alignment pass a multilingual training pipeline runs over a
    * sentence-embedding space: for each probe document in the source
    * language, find its best and runner-up cosine matches among
    * TARGET-language documents (languages joined from the documents
    * table by the id-alignment convention), and score the pair by the
    * absolute MARGIN best − runner-up. High-margin pairs are mined as
    * translations; low-margin high-sim matches are generic/hub vectors
    * the margin criterion exists to reject. Margins are computed in
    * exact 1e-4 integer units from the 4-dp-rounded sims (no second
    * float rounding to diverge cross-engine); a probe with no runner-up
    * margins against 0.
    *
    * Scale shape: the probe set is broadcast against the id-partitioned
    * target corpus ([[knnBruteForce]]'s shape) with the two-phase top-k
    * tail — here the declared exact baseline over a sampled probe set;
    * the full-corpus production pass serves candidates from the
    * persisted ANN index ([[annPqSearchFrom]]) and scores margins on the refined
    * top-2, the same build-once/search-many split as q_ann_pq_search. */
  def bitextMine(spark: SparkSession, dir: String, srcLang: String = "en",
      tgtLang: String = "fr"): DataFrame =
    bitextMineFrom(spark, quantized(spark, dir),
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      srcLang, tgtLang)

  /** [[bitextMine]] over any quantized (vec_id, qe, nrm) frame and a
    * (doc_id, lang) relation — split out so specs can plant vector
    * fixtures with known margins. */
  private[graft] def bitextMineFrom(spark: SparkSession, emb0: DataFrame,
      langs: DataFrame, srcLang: String, tgtLang: String): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    val emb = emb0.where(col("nrm") > 0)
      .join(langs, col("vec_id") === col("doc_id"))
    val probes = emb
      .where(col("lang") === srcLang && col("vec_id") % BitextQueryMod === 0)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("nrm").as("q_nrm"))
    val targets = emb.where(col("lang") === tgtLang)
      .select(col("vec_id").as("neighbor_id"), col("qe"), col("nrm"))
    val scored = targets.crossJoin(broadcast(probes))
      .withColumn("sim",
        round(cosineQ(dot)(col("q_qe"), col("qe"), col("q_nrm"), col("nrm")), 4))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    topKPerQuery(scored, 2)
      .groupBy(col("query_id"))
      .agg(max(when(col("rank") === 1, col("neighbor_id"))).as("best_id"),
        max(when(col("rank") === 1, col("sim"))).as("best_sim"),
        max(when(col("rank") === 2, col("sim"))).as("runner_sim"))
      .withColumn("b4", round(col("best_sim") * 10000).cast("long"))
      .withColumn("m4", col("b4")
        - coalesce(round(col("runner_sim") * 10000).cast("long"), lit(0L)))
      .select(col("query_id"), col("best_id"), col("best_sim"),
        (col("m4").cast("double") / 10000.0).as("margin"),
        (col("b4") >= BitextMinSim4 && col("m4") >= BitextMinMargin4)
          .as("accept"))
  }

  /** IVF-style ANN: the label centroids act as the coarse quantizer
    * (inverted-file cells). Each query scores all centroids (tiny), keeps
    * its `nprobe` nearest cells, and searches only vectors in those cells
    * — the corpus-side scan shrinks by ~nprobe/ncells. Exact integer
    * arithmetic end-to-end (milli-quantized), so fully oracled.
    *
    * At cluster scale: centroids are broadcast, the corpus stays
    * partitioned by cell, and only (query × probed-cell) pairs shuffle.
    *
    * Measured recall@5 vs knnBruteForce at nprobe=3/10 cells on the
    * sf0.01 testdata: ~2.8/5 average — the synthetic embeddings are
    * unclustered (random labels → centroids near zero), the worst case
    * for any IVF. On clustered corpora the coarse quantizer is k-means
    * and recall at the same probe ratio is far higher; recall→100% as
    * nprobe→ncells by construction. */
  def annIvf(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 5,
      nprobe: Int = 3): DataFrame = {
    val dot = DotProductLong.dotLong(spark) _
    // zero-norm guard on the search relation; the label-centroid
    // training below reads the raw table and keeps every vector
    val emb = quantized(spark, dir).where(col("nrm") > 0)
    // coarse quantizer: per-label centroid in milli-units (sum div count)
    val cents = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(quantize(col("embedding"))))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("s div n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label").as("cell"),
        transform(col("pc"), x => x.getField("c")).as("centroid"))
      .withColumn("c_nrm", dot(col("centroid"), col("centroid")))
    val queries = emb.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("nrm").as("q_nrm"))
    // probe assignment: nprobe nearest cells per query by centroid cosine
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cell_sim").desc, col("cell").asc)
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("cell_sim",
        round(cosineQ(dot)(col("q_qe"), col("centroid"), col("q_nrm"), col("c_nrm")), 4))
      .withColumn("cell_rank", row_number().over(wProbe))
      .where(col("cell_rank") <= nprobe)
      .select(col("query_id"), col("q_qe"), col("q_nrm"), col("cell"))
    // search only the probed cells; two-phase top-k tail (no window funnel)
    topKPerQuery(probed.join(emb.where(col("vec_id") >= nQueries)
        .select(col("label").as("cell"), col("vec_id").as("neighbor_id"),
          col("qe"), col("nrm")), Seq("cell"))
      .withColumn("sim",
        round(cosineQ(dot)(col("q_qe"), col("qe"), col("q_nrm"), col("nrm")), 4))
      .select(col("query_id"), col("neighbor_id"), col("sim")), k)
  }

  /** Max per-label block size for which the exact within-label self-join
    * is still the right plan (b² pairs per block; 8192² ≈ 67M scored
    * pairs is comfortably one stage on a cluster). Beyond it the
    * sign-bucketed variant bounds the block size instead. */
  val ExactBlockLimit = 8192L

  /** Product entry point for within-label NN with the ENFORCED
    * exact→bucketed cutover, decided by the LARGEST label block (the
    * unit the quadratic cost actually grows on — total corpus size is
    * the wrong signal when labels are skewed). */
  def nnPerLabelAuto(spark: SparkSession, dir: String,
      exactLimit: Long = ExactBlockLimit): DataFrame =
    if (maxLabelBlock(spark, dir) <= exactLimit) nnWithinLabel(spark, dir)
    else nnLabelBucketed(spark, dir)

  /** Driver-side cache of the max per-label block size: the cutover
    * signal is consulted on EVERY auto invocation, and the underlying
    * groupBy is a real scan at 100 TB — run it once per table STATE (it
    * needs per-group counts, which parquet footers cannot supply). The
    * cache key includes the footer row count (a cheap driver metadata
    * read), so appends/compactions invalidate the entry instead of the
    * cutover decision going stale as the corpus grows. */
  private val maxBlockCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private[graft] def maxLabelBlock(spark: SparkSession, dir: String): Long = {
    val rows = graft.functions.ScaleUtils.footerRowCount(
      spark, s"$dir/embeddings.parquet")
    // one entry per dir, REPLACED when the row count moves — stale table
    // states never pile up in a long-lived session
    maxBlockCache.compute(dir, (_, prev) =>
      if (prev != null && prev._1 == rows) prev
      else (rows, Tables.embeddings(spark, dir)
        .groupBy(col("label")).count()
        .agg(max(col("count"))).head().getLong(0)))._2
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_cosine"   -> ((s: SparkSession, d: String) => knnBruteForce(s, d)),
    "q_kmeans"       -> kmeansSummary _,
    "q_cluster_balance" -> clusterSourceBalance _,
    "q_bitext_margin" -> ((s: SparkSession, d: String) => bitextMine(s, d)),
    "q_ann_ivf_kmeans" -> ((s: SparkSession, d: String) => annIvfKmeans(s, d)),
    "q_ann_recall"   -> ((s: SparkSession, d: String) => annRecall(s, d)),
    "q_matryoshka_recall" ->
      ((s: SparkSession, d: String) => matryoshkaRecall(s, d)),
    "q_cluster_keywords" -> clusterKeywords _,
    "q_hubness"      -> ((s: SparkSession, d: String) => hubness(s, d)),
    "q_hubness_auto" -> ((s: SparkSession, d: String) => hubnessAuto(s, d)),
    "q_nn_per_label" -> nnWithinLabel _,
    "q_nn_label_ann" -> nnLabelBucketed _,
    "q_centroids"    -> centroids _,
    "q_embedding_stats" -> embeddingStats _,
    "q_cluster_sample" -> ((s: SparkSession, d: String) =>
      clusterBalancedSample(s, d)),
    "q_ann_ivf"      -> ((s: SparkSession, d: String) => annIvf(s, d)),
    "q_ann_sq8"      -> ((s: SparkSession, d: String) => annSq8(s, d)),
    "q_ann_pq"       -> ((s: SparkSession, d: String) => annPq(s, d)),
    "q_ann_pq_refine" -> ((s: SparkSession, d: String) => annPqRefine(s, d)),
    // the build/search split's SEARCH half (index built once into a
    // corpus-keyed scratch dir): full-corpus training makes it
    // bit-identical to q_ann_pq — same oracle — and benching it records
    // the search-only latency the persisted index buys (warm-rep min)
    "q_ann_pq_search" -> annPqSearchCached _,
    // the PRODUCT entry point (enforced exact→bucketed cutover): below the
    // cutover it must be bit-identical to the exact form — same oracle —
    // and benching it keeps the auto path measured, not just declared
    "q_nn_auto"      -> ((s: SparkSession, d: String) => nnPerLabelAuto(s, d)),
  )

  private val qSql = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** Lloyd-iteration CTE chain (quantize n → seeds c0 → assign a0 →
    * update c1 → assign a1) over ANY (vec_id, qe) source CTE at any
    * dimensionality — the parameterized form the chunk-embedding
    * SemDeDup twin needs. Seeds are the `cellsSql` LOWEST vec_ids
    * present (rank filter, the SQL rendering of [[kmeansCoreOf]]'s
    * TakeOrderedAndProject seeding); the pinned oracles pass the
    * literal 8, the `_auto` twins a scalar subquery over
    * [[ivfCellsCtes]] so the oracle sizes cells exactly like the
    * footer-driven product entry points. */
  private[operators] def kmeansCtesOverSql(src: String, dims: Int,
      cellsSql: String = "8"): String =
    s"""n AS (SELECT vec_id, qe, list_dot_product(qe, qe) AS nrm FROM $src),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, qe AS centroid,
       |         nrm AS c_nrm
       |       FROM (SELECT vec_id, qe, nrm,
       |               row_number() OVER (ORDER BY vec_id) AS seed_rk FROM n)
       |       WHERE seed_rk <= $cellsSql),
       |a0 AS (
       |  SELECT vec_id, cluster, qe, dist2 FROM (
       |    SELECT v.vec_id, c.cluster, v.qe,
       |      v.nrm + c.c_nrm - 2 * list_dot_product(v.qe, c.centroid) AS dist2,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.nrm + c.c_nrm - 2 * list_dot_product(v.qe, c.centroid) ASC,
       |                 c.cluster ASC) AS rk
       |    FROM n v CROSS JOIN c0 c)
       |  WHERE rk = 1),
       |g1 AS (
       |  SELECT cluster, i,
       |    CAST(sum(qe[CAST(i + 1 AS INT)]) AS BIGINT) AS s, count(*) AS cnt
       |  FROM a0, range($dims) t(i) GROUP BY cluster, i),
       |c1 AS (
       |  SELECT cluster,
       |    list(CASE WHEN s >= 0 THEN s // cnt ELSE -((-s) // cnt) END
       |         ORDER BY i) AS centroid
       |  FROM g1 GROUP BY cluster),
       |c1n AS (SELECT cluster, centroid,
       |          list_dot_product(centroid, centroid) AS c_nrm FROM c1),
       |a1 AS (
       |  SELECT vec_id, cluster, dist2 FROM (
       |    SELECT v.vec_id, c.cluster,
       |      v.nrm + c.c_nrm - 2 * list_dot_product(v.qe, c.centroid) AS dist2,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.nrm + c.c_nrm - 2 * list_dot_product(v.qe, c.centroid) ASC,
       |                 c.cluster ASC) AS rk
       |    FROM n v CROSS JOIN c1n c)
       |  WHERE rk = 1)""".stripMargin

  /** Shared Lloyd-iteration CTE chain over the EMBEDDINGS table, reused
    * by the q_kmeans, q_ann_ivf_kmeans and q_semdedup oracles. */
  private[operators] lazy val kmeansCtesSql: String =
    s"""emb AS (SELECT vec_id, $qSql AS qe FROM embeddings),
       |${kmeansCtesOverSql("emb", 64)}""".stripMargin

  /** DuckDB mirror of [[graft.operators.DedupOps.ivfCells]] over a
    * counted source CTE — the cell-count law the footer-driven `_auto`
    * entry points apply, rendered in SQL so CORRECTNESS can grade the
    * corpus-sized plans: exact integer sqrt from the double seed with
    * the same single-step division fixup (the double conversion is
    * exact and IEEE sqrt correctly rounded for n ≪ 2^52, so the seed is
    * off by at most one — one CASE per direction converges exactly like
    * the Scala loop in that regime), clamped to [8, 2^16]. Ends in
    * `cellsz(k)`. */
  private[operators] def ivfCellsCtes(srcCnt: String): String =
    s"""cnt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM $srcCnt),
       |cellsz AS (
       |  SELECT greatest(8, least(65536,
       |    CASE WHEN c1 + 1 <= nn // (c1 + 1) THEN c1 + 1 ELSE c1 END)) AS k
       |  FROM (
       |    SELECT nn, CASE WHEN c0 > nn // c0 THEN c0 - 1 ELSE c0 END AS c1
       |    FROM (SELECT nn, greatest(1,
       |        CAST(floor(sqrt(CAST(nn AS DOUBLE))) AS BIGINT)) AS c0
       |      FROM cnt)))""".stripMargin

  /** [[kmeansCtesSql]] with CORPUS-SIZED cells — the oracle twin of the
    * footer-driven `_auto` product entry points ([[hubnessAuto]],
    * [[graft.operators.DedupOps.semDedupAuto]]): cells =
    * ivfCells(count(embeddings)) ≈ √n instead of the pinned 8. */
  private[operators] lazy val kmeansAutoCtesSql: String =
    s"""emb AS (SELECT vec_id, $qSql AS qe FROM embeddings),
       |${ivfCellsCtes("emb")},
       |${kmeansCtesOverSql("emb", 64, "(SELECT k FROM cellsz)")}""".stripMargin

  /** Probe/search + k-occurrence tail of the hubness oracle, over any
    * Lloyd CTE prefix (`n`/`a1`/`c1n`) — shared by q_hubness (pinned 8
    * cells) and q_hubness_auto (corpus-sized cells) so the census logic
    * cannot drift between the demonstration and the production shape. */
  private lazy val hubnessTailSql: String =
    s"""q AS (SELECT vec_id AS query_id, qe AS q_qe, nrm AS q_nrm
       |      FROM n WHERE nrm > 0),
       |probe AS (
       |  SELECT query_id, q_qe, q_nrm, cluster FROM (
       |    SELECT query_id, q_qe, q_nrm, c.cluster,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY q_nrm + c.c_nrm - 2 * list_dot_product(q_qe, c.centroid) ASC,
       |                 c.cluster ASC) AS rk
       |    FROM q CROSS JOIN c1n c)
       |  WHERE rk <= 3),
       |mem AS (
       |  SELECT a.cluster, a.vec_id AS neighbor_id, v.qe, v.nrm
       |  FROM a1 a JOIN n v ON v.vec_id = a.vec_id AND v.nrm > 0),
       |scored AS (
       |  SELECT p.query_id, m.neighbor_id,
       |    round(CAST(list_dot_product(p.q_qe, m.qe) AS DOUBLE)
       |      / (sqrt(CAST(p.q_nrm AS DOUBLE)) * sqrt(CAST(m.nrm AS DOUBLE))), 4) AS sim
       |  FROM probe p JOIN mem m
       |    ON p.cluster = m.cluster AND m.neighbor_id <> p.query_id),
       |topk AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank
       |    FROM scored)
       |  WHERE rank <= 5),
       |occ AS (SELECT neighbor_id AS vec_id, count(*) AS n_occ
       |        FROM topk GROUP BY neighbor_id)
       |SELECT e0.vec_id, e0.label,
       |  coalesce(o.n_occ, 0) AS n_occ,
       |  coalesce(o.n_occ, 0) >= ${HubBarFactor * 5} AS hub
       |FROM embeddings e0
       |JOIN n ON n.vec_id = e0.vec_id AND n.nrm > 0
       |LEFT JOIN occ o ON o.vec_id = e0.vec_id""".stripMargin

  /** Trained-IVF probe/search chain (q → probe → mem → scored) over the
    * [[kmeansCtesSql]] CTEs — shared by the q_ann_ivf_kmeans and
    * q_ann_recall oracles so the searched index cannot drift between
    * the search and its own accuracy harness. */
  private lazy val ivfKmeansScoredCtes: String =
    s"""q AS (SELECT vec_id AS query_id, qe AS q_qe, nrm AS q_nrm
       |      FROM n WHERE vec_id < 5 AND nrm > 0),
       |probe AS (
       |  SELECT query_id, q_qe, q_nrm, cluster FROM (
       |    SELECT query_id, q_qe, q_nrm, c.cluster,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY q_nrm + c.c_nrm - 2 * list_dot_product(q_qe, c.centroid) ASC,
       |                 c.cluster ASC) AS rk
       |    FROM q CROSS JOIN c1n c)
       |  WHERE rk <= 3),
       |mem AS (
       |  SELECT a.cluster, a.vec_id AS neighbor_id, v.qe, v.nrm
       |  FROM a1 a JOIN n v ON v.vec_id = a.vec_id
       |  WHERE a.vec_id >= 5 AND v.nrm > 0),
       |scored AS (
       |  SELECT p.query_id, m.neighbor_id,
       |    round(CAST(list_dot_product(p.q_qe, m.qe) AS DOUBLE)
       |      / (sqrt(CAST(p.q_nrm AS DOUBLE)) * sqrt(CAST(m.nrm AS DOUBLE))), 4) AS sim
       |  FROM probe p JOIN mem m ON p.cluster = m.cluster)""".stripMargin

  /** Exact within-label NN oracle — shared by q_nn_per_label and the auto
    * entry point q_nn_auto (below the cutover they are the same query). */
  private lazy val nnPerLabelSql: String =
    s"""WITH emb AS (
       |  SELECT vec_id, label, $qSql AS qe FROM embeddings),
       |n AS (SELECT * FROM (
       |    SELECT vec_id, label, qe, list_dot_product(qe, qe) AS nrm FROM emb)
       |  WHERE nrm > 0),
       |scored AS (
       |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(CAST(list_dot_product(a.qe, b.qe) AS DOUBLE)
       |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))), 4) AS sim
       |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id)
       |SELECT label, id_a AS vec_id, id_b AS nn_id, max_sim AS nn_sim FROM (
       |  SELECT label, id_a, id_b, sim,
       |    max(sim) OVER (PARTITION BY label, id_a) AS max_sim,
       |    row_number() OVER (PARTITION BY label, id_a
       |                       ORDER BY sim DESC, id_b ASC) AS rn
       |  FROM scored)
       |WHERE rn = 1""".stripMargin

  /** Shared PQ CTE chain (coarse kmeans + per-slice codebooks + codes
    * + probe + ADC table), ending in `sims(query_id, neighbor_id,
    * sim)` — reused by the q_ann_pq and q_ann_pq_refine oracles. */
  private lazy val pqSimsCtes: String =
    s"""$kmeansCtesSql,
         |sv AS (
         |  SELECT vec_id, s,
         |    qe[CAST(s * $PqSubDim + 1 AS INT):CAST((s + 1) * $PqSubDim AS INT)] AS sub
         |  FROM n, range($PqSubvectors) t(s)),
         |svn AS (SELECT vec_id, s, sub,
         |          list_dot_product(sub, sub) AS sub_nrm FROM sv),
         |p0 AS (SELECT s, CAST(vec_id AS INT) AS cl, sub AS cent,
         |         sub_nrm AS c_nrm FROM svn WHERE vec_id < $PqCodebookSize),
         |pa0 AS (
         |  SELECT vec_id, s, cl, sub FROM (
         |    SELECT v.vec_id, v.s, c.cl, v.sub,
         |      row_number() OVER (PARTITION BY v.vec_id, v.s
         |        ORDER BY v.sub_nrm + c.c_nrm - 2 * list_dot_product(v.sub, c.cent) ASC,
         |                 c.cl ASC) AS rk
         |    FROM svn v JOIN p0 c ON c.s = v.s)
         |  WHERE rk = 1),
         |pg1 AS (
         |  SELECT s, cl, i, CAST(sum(sub[CAST(i + 1 AS INT)]) AS BIGINT) AS sm,
         |    count(*) AS cnt
         |  FROM pa0, range($PqSubDim) t(i) GROUP BY 1, 2, 3),
         |pc1 AS (
         |  SELECT s, cl,
         |    list(CASE WHEN sm >= 0 THEN sm // cnt ELSE -((-sm) // cnt) END
         |         ORDER BY i) AS cent
         |  FROM pg1 GROUP BY 1, 2),
         |pc1n AS (SELECT s, cl, cent,
         |           list_dot_product(cent, cent) AS c_nrm FROM pc1),
         |codes AS (
         |  SELECT vec_id, s, cl FROM (
         |    SELECT v.vec_id, v.s, c.cl,
         |      row_number() OVER (PARTITION BY v.vec_id, v.s
         |        ORDER BY v.sub_nrm + c.c_nrm - 2 * list_dot_product(v.sub, c.cent) ASC,
         |                 c.cl ASC) AS rk
         |    FROM svn v JOIN pc1n c ON c.s = v.s)
         |  WHERE rk = 1),
         |q AS (SELECT vec_id AS query_id, qe AS q_qe, nrm AS q_nrm
         |      FROM n WHERE vec_id < 5),
         |probe AS (
         |  SELECT query_id, q_nrm, cluster FROM (
         |    SELECT query_id, q_nrm, c.cluster,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY q_nrm + c.c_nrm - 2 * list_dot_product(q_qe, c.centroid) ASC,
         |                 c.cluster ASC) AS rk
         |    FROM q CROSS JOIN c1n c)
         |  WHERE rk <= 3),
         |dtab AS (
         |  SELECT v.vec_id AS query_id, v.s, c.cl,
         |    CAST(list_dot_product(v.sub, c.cent) AS BIGINT) AS ip, c.c_nrm
         |  FROM svn v JOIN pc1n c ON c.s = v.s
         |  WHERE v.vec_id < 5),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    CAST(sum(d.ip) AS BIGINT) AS ipsum,
         |    CAST(sum(d.c_nrm) AS BIGINT) AS rn,
         |    any_value(p.q_nrm) AS qn
         |  FROM probe p
         |  JOIN a1 a ON a.cluster = p.cluster AND a.vec_id >= 5
         |  JOIN codes cd ON cd.vec_id = a.vec_id
         |  JOIN dtab d ON d.query_id = p.query_id AND d.s = cd.s AND d.cl = cd.cl
         |  GROUP BY 1, 2),
         |sims AS (
         |  SELECT query_id, neighbor_id,
         |    round(CAST(ipsum AS DOUBLE)
         |      / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(rn AS DOUBLE))), 4) AS sim
         |  FROM scored WHERE rn > 0 AND qn > 0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_nn_per_label" -> nnPerLabelSql,
    "q_nn_auto" -> nnPerLabelSql,
    "q_knn_cosine" ->
      s"""WITH emb AS (
         |  SELECT vec_id, $qSql AS qe FROM embeddings),
         |n AS (SELECT * FROM (
         |    SELECT vec_id, qe, list_dot_product(qe, qe) AS nrm FROM emb)
         |  WHERE nrm > 0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    round(CAST(list_dot_product(q.qe, e.qe) AS DOUBLE)
         |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(e.nrm AS DOUBLE))), 4) AS sim
         |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id >= 5)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin,
    // full-dim brute-force ground truth vs per-prefix truncated
    // brute force; prefixes via 1-based inclusive list slicing (same
    // semantics as Spark's slice), per-prefix zero-norm exclusion
    "q_matryoshka_recall" ->
      s"""WITH emb AS (
         |  SELECT vec_id, $qSql AS qe FROM embeddings),
         |n AS (SELECT * FROM (
         |    SELECT vec_id, qe, list_dot_product(qe, qe) AS nrm FROM emb)
         |  WHERE nrm > 0),
         |bscored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    round(CAST(list_dot_product(q.qe, e.qe) AS DOUBLE)
         |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(e.nrm AS DOUBLE))),
         |      4) AS sim
         |  FROM n q JOIN n e ON q.vec_id < 5 AND e.vec_id >= 5),
         |truek AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM bscored) WHERE rank <= 5),
         |dlist AS (SELECT unnest([${MatryoshkaDims.mkString(", ")}])
         |            AS dims),
         |t AS (SELECT d.dims, e.vec_id, e.qe[1:d.dims] AS tv,
         |        list_dot_product(e.qe[1:d.dims], e.qe[1:d.dims]) AS tn
         |      FROM emb e CROSS JOIN dlist d),
         |tq AS (SELECT * FROM t WHERE vec_id < 5 AND tn > 0),
         |tc AS (SELECT * FROM t WHERE vec_id >= 5 AND tn > 0),
         |tscored AS (
         |  SELECT q.dims, q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(CAST(list_dot_product(q.tv, c.tv) AS DOUBLE)
         |      / (sqrt(CAST(q.tn AS DOUBLE)) * sqrt(CAST(c.tn AS DOUBLE))),
         |      4) AS sim
         |  FROM tq q JOIN tc c ON q.dims = c.dims),
         |tk AS (SELECT dims, query_id, neighbor_id, 1 AS hit FROM (
         |    SELECT dims, query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY dims, query_id
         |                         ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM tscored) WHERE rank <= 5)
         |SELECT d.dims, x.query_id,
         |  CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(coalesce(sum(tk.hit), 0) AS BIGINT) AS n_hits,
         |  CAST((coalesce(sum(tk.hit), 0) * 10000) // count(*) AS DOUBLE)
         |    / 10000.0 AS recall
         |FROM truek x CROSS JOIN dlist d
         |LEFT JOIN tk ON tk.dims = d.dims AND tk.query_id = x.query_id
         |  AND tk.neighbor_id = x.neighbor_id
         |GROUP BY 1, 2""".stripMargin,
    // two unrolled Lloyd iterations; integer division in the centroid
    // update is trunc-toward-zero to match Spark's `div` on negatives
    "q_kmeans" ->
      s"""WITH $kmeansCtesSql
         |SELECT cluster, count(*) AS n_vectors,
         |  CAST(sum(dist2) AS BIGINT) AS inertia_milli2
         |FROM a1 GROUP BY cluster""".stripMargin,
    // every guarded vector searches the trained IVF cells; k-occurrence
    // counts over the top-5 relation, never-cited vectors report 0
    "q_hubness" ->
      s"""WITH $kmeansCtesSql,
         |$hubnessTailSql""".stripMargin,
    // the same census over CORPUS-SIZED cells (ivfCells(n) ≈ √n — the
    // footer-driven plan that holds the n^1.5 envelope at scale)
    "q_hubness_auto" ->
      s"""WITH $kmeansAutoCtesSql,
         |$hubnessTailSql""".stripMargin,
    // cluster tf over the assignment join, df over the corpus-wide
    // per-doc relation (the q_tfidf_topk rarity definition)
    "q_cluster_keywords" ->
      s"""WITH $kmeansCtesSql,
         |pd AS (SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${TextOps.toksSql}) AS tok
         |        FROM documents)
         |  GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, count(*) AS df FROM pd GROUP BY tok),
         |ctf AS (SELECT a.cluster, p.tok, CAST(sum(p.tf) AS BIGINT) AS ctf
         |        FROM pd p JOIN a1 a ON a.vec_id = p.doc_id
         |        GROUP BY a.cluster, p.tok),
         |s AS (SELECT cluster, tok, ctf, df, ctf * 1000000 // df AS score_ppm
         |      FROM ctf JOIN dfq USING (tok))
         |SELECT cluster, CAST(rank AS INT) AS rank, tok, ctf, df, score_ppm
         |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY score_ppm DESC, tok ASC) AS rank FROM s)
         |WHERE rank <= $ClusterTopK""".stripMargin,
    // probe = every 50th en vector, targets = all fr vectors; margins in
    // exact 1e-4 units recovered from the 4-dp sims (no re-rounding)
    "q_bitext_margin" ->
      s"""WITH emb AS (SELECT vec_id, $qSql AS qe FROM embeddings),
         |n AS (SELECT * FROM (
         |    SELECT vec_id, qe, list_dot_product(qe, qe) AS nrm FROM emb)
         |  WHERE nrm > 0),
         |l AS (SELECT n.vec_id, n.qe, n.nrm, d.lang
         |      FROM n JOIN documents d ON d.doc_id = n.vec_id),
         |q AS (SELECT vec_id AS query_id, qe AS q_qe, nrm AS q_nrm
         |      FROM l WHERE lang = 'en' AND vec_id % $BitextQueryMod = 0),
         |t AS (SELECT vec_id AS neighbor_id, qe, nrm FROM l
         |      WHERE lang = 'fr'),
         |scored AS (
         |  SELECT q.query_id, t.neighbor_id,
         |    round(CAST(list_dot_product(q.q_qe, t.qe) AS DOUBLE)
         |      / (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(t.nrm AS DOUBLE))), 4) AS sim
         |  FROM q CROSS JOIN t),
         |r AS (SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rk FROM scored),
         |agg AS (
         |  SELECT query_id,
         |    max(CASE WHEN rk = 1 THEN neighbor_id END) AS best_id,
         |    max(CASE WHEN rk = 1 THEN sim END) AS best_sim,
         |    max(CASE WHEN rk = 2 THEN sim END) AS runner_sim
         |  FROM r WHERE rk <= 2 GROUP BY query_id),
         |m AS (
         |  SELECT query_id, best_id, best_sim,
         |    CAST(round(best_sim * 10000) AS BIGINT) AS b4,
         |    CAST(round(best_sim * 10000) AS BIGINT)
         |      - coalesce(CAST(round(runner_sim * 10000) AS BIGINT), 0) AS m4
         |  FROM agg)
         |SELECT query_id, best_id, best_sim,
         |  CAST(m4 AS DOUBLE) / 10000.0 AS margin,
         |  (b4 >= $BitextMinSim4 AND m4 >= $BitextMinMargin4) AS accept
         |FROM m""".stripMargin,
    // same trained assignment joined to the document's source; shares
    // are integer-truncated ppm of the cluster total
    "q_cluster_balance" ->
      s"""WITH $kmeansCtesSql,
         |j AS (SELECT a.cluster, d.source
         |      FROM a1 a JOIN documents d ON d.doc_id = a.vec_id),
         |cs AS (SELECT cluster, source, count(*) AS n_docs
         |       FROM j GROUP BY cluster, source),
         |ct AS (SELECT cluster, CAST(sum(n_docs) AS BIGINT) AS cl_total
         |       FROM cs GROUP BY cluster)
         |SELECT cs.cluster, cs.source, cs.n_docs, ct.cl_total,
         |  cs.n_docs * 1000000 // ct.cl_total AS share_ppm
         |FROM cs JOIN ct USING (cluster)""".stripMargin,
    // same trained cells, IVF probe (min L2^2, the training metric) +
    // within-cell cosine search
    "q_ann_ivf_kmeans" ->
      s"""WITH $kmeansCtesSql,
         |$ivfKmeansScoredCtes
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin,
    // ANN top-5 (the q_ann_ivf_kmeans chain) left-joined against the
    // exact brute-force top-5 over the same probes; recall in exact
    // 1e-4 units
    "q_ann_recall" ->
      s"""WITH $kmeansCtesSql,
         |$ivfKmeansScoredCtes,
         |annk AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM scored)
         |  WHERE rank <= 5),
         |bscored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    round(CAST(list_dot_product(q.q_qe, e.qe) AS DOUBLE)
         |      / (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(e.nrm AS DOUBLE))), 4) AS sim
         |  FROM q JOIN n e ON e.vec_id >= 5 AND e.nrm > 0),
         |truek AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM bscored)
         |  WHERE rank <= 5),
         |j AS (
         |  SELECT t.query_id, count(*) AS n_true,
         |    CAST(sum(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits
         |  FROM truek t LEFT JOIN annk a
         |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY t.query_id)
         |SELECT query_id, n_true, n_hits,
         |  CAST(n_hits * 10000 // n_true AS DOUBLE) / 10000.0 AS recall
         |FROM j""".stripMargin,
    // dims derive from the max per-label block via the same integer-exact
    // bit-length formula as DedupOps.annSignDims
    "q_nn_label_ann" ->
      s"""WITH d AS (
         |  SELECT GREATEST(0, LEAST(16,
         |    CASE WHEN (mx + ${DedupOps.AnnTargetPerBucket - 1}) // ${DedupOps.AnnTargetPerBucket} <= 1 THEN 0
         |         ELSE CAST(length(bin(((mx + ${DedupOps.AnnTargetPerBucket - 1}) // ${DedupOps.AnnTargetPerBucket}) - 1)) AS INT)
         |    END)) AS dims
         |  FROM (SELECT max(c) AS mx FROM
         |        (SELECT count(*) AS c FROM embeddings GROUP BY label))),
         |emb AS (SELECT vec_id, label, $qSql AS qe FROM embeddings),
         |kb AS (
         |  SELECT * FROM (
         |    SELECT vec_id, label, qe, list_dot_product(qe, qe) AS nrm,
         |      coalesce(array_to_string(list_transform(qe[1:(SELECT dims FROM d)],
         |        x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), ''), '') AS bucket
         |    FROM emb)
         |  WHERE nrm > 0),
         |scored AS (
         |  SELECT a.label, a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(CAST(list_dot_product(a.qe, b.qe) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))), 4) AS sim
         |  FROM kb a JOIN kb b ON a.label = b.label AND a.bucket = b.bucket
         |    AND a.vec_id <> b.vec_id)
         |SELECT label, bucket, id_a AS vec_id, id_b AS nn_id, max_sim AS nn_sim
         |FROM (
         |  SELECT label, bucket, id_a, id_b, sim,
         |    max(sim) OVER (PARTITION BY label, id_a) AS max_sim,
         |    row_number() OVER (PARTITION BY label, id_a
         |                       ORDER BY sim DESC, id_b ASC) AS rn
         |  FROM scored)
         |WHERE rn = 1""".stripMargin,
    // per-cluster thinning threshold as a COLUMN: printf('%08x') is the
    // same 8-hex rendering as Spark's format_string; sentinel 'g' for
    // whole-cluster keeps (above every hex prefix)
    "q_cluster_sample" ->
      s"""WITH $kmeansCtesSql,
         |sizes AS (SELECT cluster, count(*) AS n_vectors
         |          FROM a1 GROUP BY cluster),
         |th AS (SELECT cluster, n_vectors,
         |    CASE WHEN n_vectors <= $ClusterSampleTarget THEN 'g'
         |         ELSE printf('%08x',
         |           $ClusterSampleTarget * 4294967296 // n_vectors) END
         |      AS threshold
         |  FROM sizes),
         |kept AS (
         |  SELECT a.vec_id, a.cluster, t.n_vectors
         |  FROM a1 a JOIN th t ON t.cluster = a.cluster
         |  WHERE substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8) < t.threshold)
         |SELECT cluster, count(*) AS n_kept,
         |  any_value(n_vectors) AS n_vectors,
         |  min(vec_id) AS min_kept_id, max(vec_id) AS max_kept_id
         |FROM kept GROUP BY cluster""".stripMargin,
    // integer norm stats; sums widen to HUGEINT — cast before the //
    "q_embedding_stats" ->
      s"""WITH n AS (
         |  SELECT label, CAST(list_dot_product(q, q) AS BIGINT) AS nrm
         |  FROM (SELECT label, $qSql AS q FROM embeddings))
         |SELECT label, count(*) AS n_vectors,
         |  CAST(sum(nrm) AS BIGINT) AS sum_nrm_milli2,
         |  CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_zero_norm,
         |  min(nrm) AS min_nrm, max(nrm) AS max_nrm,
         |  CAST(sum(nrm) AS BIGINT) // count(*) AS avg_nrm
         |FROM n GROUP BY label""".stripMargin,
    "q_centroids" ->
      s"""SELECT label, CAST(i AS INT) AS dim,
         |  CAST(sum(qe[CAST(i + 1 AS INT)]) AS BIGINT) AS sum_milli,
         |  count(*) AS n
         |FROM (SELECT label, $qSql AS qe FROM embeddings), range(8) t(i)
         |GROUP BY 1, 2""".stripMargin,
    // integer division in the centroid is trunc-toward-zero on both sides:
    // Spark `div` truncates; the oracle uses trunc() explicitly because
    // engine-native integer division semantics differ on negatives.
    // int8 scalar quantization: floor-encoded symmetric codes, cosine
    // over the codes (integer dot/norms, one double division, round-4)
    "q_ann_sq8" ->
      s"""WITH dims AS (
         |  SELECT d, greatest(CAST(max(x) AS DOUBLE), -CAST(min(x) AS DOUBLE)) AS s
         |  FROM (SELECT unnest(range(len(embedding))) AS d,
         |          unnest(embedding) AS x FROM embeddings)
         |  GROUP BY d),
         |sl AS (SELECT list(s ORDER BY d) AS sl FROM dims),
         |coded AS (
         |  SELECT vec_id,
         |    list_transform(range(1, len(embedding) + 1),
         |      i -> CASE WHEN sl[CAST(i AS INT)] > 0
         |        THEN least(127, greatest(-128,
         |          CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |            / sl[CAST(i AS INT)] * 128) AS BIGINT)))
         |        ELSE 0 END) AS code
         |  FROM embeddings, sl),
         |n AS (SELECT vec_id, code,
         |    CAST(list_dot_product(code, code) AS BIGINT) AS nrm FROM coded
         |  WHERE CAST(list_dot_product(code, code) AS BIGINT) > 0),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round(CAST(list_dot_product(a.code, b.code) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))),
         |      4) AS sim
         |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id >= 5)
         |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, sim
         |FROM (SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |WHERE rn <= 5""".stripMargin,
    // PQ/IVFADC: per-slice Lloyd codebooks over the SAME kmeans CTE
    // recipe (trunc-toward-zero centroid division), codes = per-slice
    // argmin, ADC lookup table per query, probed coarse cells only;
    // integer numerator/denominator, one double division, round-4
    "q_ann_pq" ->
      s"""WITH $pqSimsCtes
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |WHERE rank <= 5""".stripMargin,
    // refine: exact quantized cosine over the ADC top-PqRefineShortlist
    // shortlist only
    "q_ann_pq_refine" ->
      s"""WITH $pqSimsCtes,
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, neighbor_id ASC) AS rk
         |    FROM sims)
         |  WHERE rk <= $PqRefineShortlist),
         |exact AS (
         |  SELECT s.query_id, s.neighbor_id,
         |    round(CAST(list_dot_product(q.qe, e.qe) AS DOUBLE)
         |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(e.nrm AS DOUBLE))), 4) AS sim
         |  FROM short s
         |  JOIN n q ON q.vec_id = s.query_id
         |  JOIN n e ON e.vec_id = s.neighbor_id
         |  WHERE q.nrm > 0 AND e.nrm > 0)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM exact)
         |WHERE rank <= 5""".stripMargin,
    // search half of the build/search split: full-corpus-trained index →
    // bit-identical to the train-in-plan q_ann_pq, so the SAME twin SQL
    // is the oracle (parity additionally spec-pinned in AnnIndexSpec)
    "q_ann_pq_search" ->
      s"""WITH $pqSimsCtes
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |WHERE rank <= 5""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH emb AS (
         |  SELECT vec_id, label, $qSql AS qe FROM embeddings),
         |n AS (SELECT vec_id, label, qe, list_dot_product(qe, qe) AS nrm FROM emb),
         |cd AS (
         |  SELECT label, i,
         |    CAST(trunc(CAST(sum(qe[CAST(i + 1 AS INT)]) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM n, range(64) t(i)
         |  GROUP BY label, i),
         |cents AS (
         |  SELECT label AS cell, list(c ORDER BY i) AS centroid
         |  FROM cd GROUP BY label),
         |cn AS (SELECT cell, centroid, list_dot_product(centroid, centroid) AS c_nrm
         |       FROM cents),
         |q AS (SELECT vec_id AS query_id, qe AS q_qe, nrm AS q_nrm
         |      FROM n WHERE vec_id < 5 AND nrm > 0),
         |probe AS (
         |  SELECT query_id, q_qe, q_nrm, cell FROM (
         |    SELECT query_id, q_qe, q_nrm, cell,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY cell_sim DESC, cell ASC) AS cr
         |    FROM (
         |      SELECT q.query_id, q.q_qe, q.q_nrm, cn.cell,
         |        round(CAST(list_dot_product(q.q_qe, cn.centroid) AS DOUBLE)
         |          / (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(cn.c_nrm AS DOUBLE))), 4)
         |          AS cell_sim
         |      FROM q, cn))
         |  WHERE cr <= 3),
         |scored AS (
         |  SELECT p.query_id, e.vec_id AS neighbor_id,
         |    round(CAST(list_dot_product(p.q_qe, e.qe) AS DOUBLE)
         |      / (sqrt(CAST(p.q_nrm AS DOUBLE)) * sqrt(CAST(e.nrm AS DOUBLE))), 4) AS sim
         |  FROM probe p JOIN n e ON e.label = p.cell AND e.vec_id >= 5
         |    AND e.nrm > 0)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin,
  )
}
