package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Fuzzy matching / entity resolution — near-identical RECORD
  * dedup at the character level (typos, OCR noise, hand-keyed names),
  * the short-string complement of the token-level near-dup families:
  * MinHash/Jaccard live on documents, this lives on the `name`-sized
  * strings where one wrong character IS the duplicate class.
  *
  * The candidate generation is FastSS-style DELETION-NEIGHBORHOOD
  * blocking (Bocek et al. 2007, public algorithm): each record emits
  * its name plus every single-character deletion of it; two strings
  * within edit distance 1 (substitution, insertion, or deletion)
  * necessarily share a key — a substitution shares the deletion at the
  * edited position, an insertion/deletion shares the shorter string
  * itself — so the equi-join on keys is a COMPLETE dist-≤1 candidate
  * set, never all-pairs. Candidates then verify with `levenshtein`
  * (built-in on BOTH engines — Spark's dynamic-program vs DuckDB's own
  * implementation, the two-independent-implementations oracle
  * discipline), keeping exactly the dist = 1 pairs (dist 0 is exact
  * dedup's business).
  *
  * Fixture: names are each doc's first 3 tokens; every
  * [[FuzzyTwinMod]]-th doc plants a twin record (id + [[TwinOffset]])
  * whose name carries a substitution at position [[TypoPos]] — the
  * planted recall floor. Organic dist-1 pairs between real names
  * count too (that is the censused reality of blocking).
  *
  * Scale shape: keys per record = len+1 (bounded by the name length),
  * one equi-join on the key, one distinct, one verify — shuffle
  * volume O(records · len), never O(records²). At 100 TB of records
  * the block census ([[RelationalOps.skewProfile]] on the key) guards
  * against a degenerate hot key (e.g. all-empty names).
  */
object FuzzyOps {

  /** Every this-many-th doc plants a typo twin. */
  val FuzzyTwinMod = 7

  /** Twin ids live TwinOffset above their original. */
  val TwinOffset = 10000000L

  /** 1-based position of the planted substitution. */
  val TypoPos = 3

  /** Records under resolution: (id, name) — base names from the first
    * 3 tokens, plus the planted typo twins. */
  private[graft] def records(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("w", TextOps.toks(col("text")))
      .where(size(col("w")) >= 3)
      .select(col("doc_id").as("id"),
        array_join(slice(col("w"), 1, 3), " ").as("name"))
    val twins = base
      .where(col("id") % FuzzyTwinMod === 0)
      .select((col("id") + TwinOffset).as("id"),
        concat(col("name").substr(lit(1), lit(TypoPos - 1)),
          // guarantee the twin differs: if the original already has a
          // 'q' at TypoPos, substitute 'z' instead (ADVICE r14 — a
          // byte-identical twin is dist-0 and escapes the recall floor)
          when(col("name").substr(lit(TypoPos), lit(1)) === "q",
            lit("z")).otherwise(lit("q")),
          col("name").substr(lit(TypoPos + 1),
            length(col("name")))).as("name"))
    base.unionByName(twins)
  }

  /** The deletion-neighborhood keys of one name: the name itself plus
    * every single-character deletion. */
  private def delKeys(name: org.apache.spark.sql.Column) =
    concat(array(name), transform(sequence(lit(1), length(name)),
      p => concat(name.substr(lit(1), p - 1),
        name.substr(p + 1, length(name)))))

  /** DIST-1 PAIR RESOLUTION — deletion-neighborhood block → distinct
    * candidate pairs → `levenshtein` verify at exactly 1. Pairs orient
    * id_a < id_b; planted twins surface as (id, id + [[TwinOffset]]). */
  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    val recs = records(spark, dir)
      .withColumn("k", explode(delKeys(col("name"))))
    val a = recs.select(col("id").as("id_a"), col("name").as("name_a"),
      col("k"))
    val b = recs.select(col("id").as("id_b"), col("name").as("name_b"),
      col("k"))
    a.join(b, Seq("k"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .where(col("dist") === 1)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** RESOLUTION CENSUS — the one-row report: records, candidate pairs
    * the blocking admitted, verified dist-1 pairs, and how many of the
    * planted twins were recovered (the recall floor — must equal the
    * planted count: the deletion neighborhood is COMPLETE for
    * dist ≤ 1). */
  def fuzzyCensus(spark: SparkSession, dir: String): DataFrame = {
    val stats = records(spark, dir).agg(
      count(lit(1)).as("n_records"),
      sum(when(col("id") >= TwinOffset, 1L).otherwise(0L))
        .as("n_planted"))
    fuzzyPairs(spark, dir)
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("id_b") === col("id_a") + TwinOffset, 1L)
          .otherwise(0L)), lit(0L)).as("n_planted_found"))
      .crossJoin(broadcast(stats))
      .select(col("n_records"), col("n_pairs"), col("n_planted_found"),
        col("n_planted"))
  }

  /** ENTITY CLUSTERS — verified pairs resolved to connected components
    * ([[DedupOps.connectedComponents]], the checkpointed min-label
    * walk): transitive closure IS record linkage's semantics — A~B and
    * B~C cluster {A, B, C} even though dist(A, C) may be 2. Labels are
    * the cluster-minimum id, so the canonical record per entity is
    * `WHERE rec_id = rep_id`. Oracled against a DuckDB recursive-CTE
    * walk of the same pair relation (the q_merge_groups discipline). */
  def fuzzyGroups(spark: SparkSession, dir: String): DataFrame =
    DedupOps.connectedComponents(
      fuzzyPairs(spark, dir).select(col("id_a"), col("id_b")))
      .select(col("id").as("rec_id"), col("comp").as("rep_id"))

  /** Every this-many-th record "arrives late" in the incremental demo. */
  val FuzzyDeltaMod = 9

  /** INCREMENTAL RESOLUTION — the plan a 100 TB entity store actually
    * runs when a batch arrives: the DELTA's deletion keys probe the
    * EXISTING key table only (delta ⋈ existing — never existing ⋈
    * existing re-derivation, never delta-internal pairs; those resolved
    * when their records arrived). At scale the existing side is a
    * STORED, bucketed key table maintained across batches (the
    * [[DedupOps.mergeGroups]] posture); the demo splits the record set
    * deterministically so the oracle can recompute both sides. Output
    * orients (id_new, id_old). Shuffle O(|delta|·len) — batch-sized,
    * not corpus-sized. */
  def fuzzyIncremental(spark: SparkSession, dir: String): DataFrame = {
    val keyed = records(spark, dir)
      .withColumn("k", explode(delKeys(col("name"))))
    val isDelta = col("id") % FuzzyDeltaMod === 0
    val delta = keyed.where(isDelta)
      .select(col("id").as("id_new"), col("name").as("name_new"), col("k"))
    val existing = keyed.where(!isDelta)
      .select(col("id").as("id_old"), col("name").as("name_old"), col("k"))
    delta.join(existing, Seq("k"))
      .select(col("id_new"), col("id_old"), col("name_new"),
        col("name_old"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_new"), col("name_old")))
      .where(col("dist") === 1)
      .select(col("id_new"), col("id_old"), col("dist"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fuzzy_pairs"  -> fuzzyPairs _,
    "q_fuzzy_census" -> fuzzyCensus _,
    "q_fuzzy_groups" -> fuzzyGroups _,
    "q_fuzzy_incremental" -> fuzzyIncremental _)

  /** Records + deletion keys in DuckDB; ends in
    * `fk(id, name, k)`. p = 0 is the identity key. */
  private val recordsCte: String =
    s"""ftok AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |fbase AS (SELECT doc_id AS id,
       |    array_to_string(w[1:3], ' ') AS name
       |  FROM ftok WHERE len(w) >= 3),
       |ftwin AS (SELECT id + $TwinOffset AS id,
       |    substr(name, 1, ${TypoPos - 1}) ||
       |      CASE WHEN substr(name, $TypoPos, 1) = 'q'
       |           THEN 'z' ELSE 'q' END ||
       |      substr(name, ${TypoPos + 1}, length(name)) AS name
       |  FROM fbase WHERE id % $FuzzyTwinMod = 0),
       |frec AS (SELECT * FROM fbase UNION ALL SELECT * FROM ftwin),
       |fk AS (SELECT id, name,
       |    CASE WHEN u.p = 0 THEN name
       |      ELSE substr(name, 1, CAST(u.p - 1 AS INT)) ||
       |        substr(name, CAST(u.p + 1 AS INT), length(name)) END AS k
       |  FROM frec, unnest(range(0, length(name) + 1)) AS u(p))""".stripMargin

  private val pairsCte: String =
    s"""cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    a.name AS name_a, b.name AS name_b
       |  FROM fk a JOIN fk b ON a.k = b.k AND a.id < b.id),
       |pr AS (SELECT id_a, id_b,
       |    CAST(levenshtein(name_a, name_b) AS INT) AS dist
       |  FROM cand WHERE levenshtein(name_a, name_b) = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_fuzzy_pairs" ->
      s"""WITH $recordsCte,
         |$pairsCte
         |SELECT id_a, id_b, dist FROM pr""".stripMargin,
    "q_fuzzy_groups" ->
      s"""WITH RECURSIVE $recordsCte,
         |$pairsCte,
         |adjf AS (SELECT id_a AS src, id_b AS dst FROM pr
         |         UNION ALL SELECT id_b, id_a FROM pr),
         |walkf(id, comp) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM adjf)
         |  UNION
         |  SELECT a.dst, w.comp FROM walkf w JOIN adjf a ON a.src = w.id)
         |SELECT id AS rec_id, min(comp) AS rep_id
         |FROM walkf GROUP BY id""".stripMargin,
    // asymmetric delta ⋈ existing probe, same verify
    "q_fuzzy_incremental" ->
      s"""WITH $recordsCte,
         |icand AS (SELECT DISTINCT a.id AS id_new, b.id AS id_old,
         |    a.name AS name_new, b.name AS name_old
         |  FROM fk a JOIN fk b ON a.k = b.k
         |  WHERE a.id % $FuzzyDeltaMod = 0 AND b.id % $FuzzyDeltaMod <> 0)
         |SELECT id_new, id_old,
         |  CAST(levenshtein(name_new, name_old) AS INT) AS dist
         |FROM icand WHERE levenshtein(name_new, name_old) = 1""".stripMargin,
    "q_fuzzy_census" ->
      s"""WITH $recordsCte,
         |$pairsCte
         |SELECT (SELECT count(*) FROM frec) AS n_records,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(sum(CASE WHEN id_b = id_a + $TwinOffset
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_found,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ftwin) AS n_planted
         |FROM pr""".stripMargin)
}
