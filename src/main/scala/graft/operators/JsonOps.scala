package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Semi-structured (JSON) ingest operators — the parse layer a
  * real event/metadata feed crosses before any relational operator can
  * touch it: schema-declared extraction (`from_json`), path probes
  * (`get_json_object`), nested-array flattening, malformed-row
  * admission, and the schema-drift census that catches producers
  * changing their payloads. The reference's nearest analogue is its
  * key=value notification parser (SURVEY §2 S4, `q_kv_parse`); JSON is
  * what that becomes in any modern pipeline.
  *
  * The oracle here is STRONGER than the usual recompute-from-planted-
  * arithmetic: both engines parse the SAME synthesized JSON bytes with
  * their own independent parsers (Spark's Jackson vs DuckDB's yyjson)
  * and must agree on every typed extraction, null, and validity verdict
  * — the [[graft.plans.UnicodeNormalize]] two-independent-
  * implementations discipline. The fixture ([[jsonDocsOf]]) builds each
  * document's payload from planted token arithmetic (corpus is ASCII
  * with no `"` or `\` — probed by the [[TextOps.htmlDocs]] fixture —
  * so no escaping ambiguity), with three planted fault/drift axes:
  * every [[JsonMissMod]]-th doc omits `score` (optional-field null),
  * every [[JsonExtraMod]]-th doc carries an undeclared `extra` key
  * (schema drift the declared schema ignores but the drift census
  * sees), and every [[JsonBadMod]]-th doc is TRUNCATED mid-payload
  * (malformed-row admission: PERMISSIVE parse nulls it, the validity
  * flag routes it).
  *
  * Scale shape: everything is map-side expression work over one scan
  * (Jackson parse inside codegen) except the tag census and drift
  * rollup (tiny-key hash aggregates). At 100 TB the parse divides by
  * executors like every decode kernel.
  */
object JsonOps {

  /** Every this-many-th doc omits the optional `score` field. */
  val JsonMissMod = 5

  /** Every this-many-th doc carries an undeclared `extra` key. */
  val JsonExtraMod = 3

  /** Every this-many-th doc is truncated 2 bytes short (malformed). */
  val JsonBadMod = 11

  /** The declared extraction schema (Spark DDL). */
  val JsonSchema =
    "id BIGINT, tags ARRAY<STRING>, meta STRUCT<lang: STRING, n: BIGINT>, " +
      "score BIGINT"

  /** Deterministic JSON synthesis from the documents table:
    * (doc_id, j) where j is the payload described above. The full
    * payload is materialized as a named column first so the truncation
    * branch references it without re-deriving the concat (the
    * HOF-no-CSE discipline). */
  private[graft] def jsonDocsOf(docs: DataFrame): DataFrame = {
    val w = TextOps.toks(col("text"))
    val tags = array_join(transform(slice(w, 1, 3),
      t => concat(lit("\""), t, lit("\""))), ",")
    val full = concat(
      lit("{\"id\": "), col("doc_id").cast("string"),
      lit(", \"tags\": ["), tags,
      lit("], \"meta\": {\"lang\": \""), col("lang"),
      lit("\", \"n\": "), size(w).cast("string"), lit("}"),
      when(col("doc_id") % JsonMissMod =!= 0,
        concat(lit(", \"score\": "), (col("doc_id") % 100).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % JsonExtraMod === 0, lit(", \"extra\": \"x\""))
        .otherwise(lit("")),
      lit("}"))
    docs
      .where(size(w) >= 1)
      .withColumn("j0", full)
      .select(col("doc_id"),
        when(col("doc_id") % JsonBadMod === 0,
          expr("substring(j0, 1, length(j0) - 2)")).otherwise(col("j0"))
          .as("j"))
  }

  /** SCHEMA-DECLARED PARSE — `from_json` with [[JsonSchema]] in
    * PERMISSIVE mode: malformed payloads null every field, the
    * validity flag is "the mandatory id extracted", optional `score`
    * nulls where omitted, the undeclared `extra` key is silently
    * ignored (that is the declared-schema contract; [[jsonDrift]] is
    * where drift becomes visible). One codegen'd Jackson parse per
    * row, map-side. */
  def jsonParse(spark: SparkSession, dir: String): DataFrame =
    jsonDocsOf(Tables.documents(spark, dir))
      .withColumn("p", from_json(col("j"), JsonSchema,
        new java.util.HashMap[String, String]()))
      .select(col("doc_id"),
        col("p.id").isNotNull.as("valid"),
        col("p.id").as("id_field"),
        when(col("p.tags").isNotNull, size(col("p.tags")))
          .otherwise(lit(null)).cast("int").as("n_tags"),
        col("p.meta.lang").as("meta_lang"),
        col("p.meta.n").as("meta_n"),
        col("p.score").as("score"))

  /** NESTED-ARRAY FLATTEN — explode the parsed `tags` array and census
    * tag frequency across valid payloads: the "array column → relation"
    * step every semi-structured pipeline runs. Tag cardinality is the
    * corpus vocabulary's head — a hash aggregate after map-side
    * combine. */
  def jsonFlatten(spark: SparkSession, dir: String): DataFrame =
    jsonDocsOf(Tables.documents(spark, dir))
      .withColumn("p", from_json(col("j"), JsonSchema,
        new java.util.HashMap[String, String]()))
      .where(col("p.id").isNotNull)
      .select(explode(col("p.tags")).as("tag"))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n_occurrences"))

  /** SCHEMA-DRIFT CENSUS — per top-level key: how many payloads carry
    * it (`get_json_object` path probes, independent of the declared
    * schema — this is what SEES the undeclared `extra` key and the
    * missing `score`s). The one-row-per-key rollup is the monitor a
    * streaming ingest alarms on when a producer changes shape. */
  def jsonDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = jsonDocsOf(Tables.documents(spark, dir))
    val keys = Seq("id", "tags", "meta", "score", "extra")
    // ONE scan (ADVICE r14): all key probes are columns of a single
    // map-side pass, folded to one global row by partial aggregation,
    // then unpivoted driver-cheap with stack — the earlier per-key
    // union re-synthesized and re-scanned the JSON once per key.
    val sums = keys.map { k =>
      sum(when(get_json_object(col("j"), s"$$.$k").isNotNull, 1L)
        .otherwise(0L)).as(s"n_$k")
    } :+ count(lit(1)).as("n_docs")
    val one = docs.agg(sums.head, sums.tail: _*)
    val stackArgs = keys.map(k => s"'$k', n_$k").mkString(", ")
    one.selectExpr(
        s"stack(${keys.size}, $stackArgs) AS (key, n_present)", "n_docs")
      .withColumn("present_pct",
        expr("CAST(n_present * 100 div n_docs AS INT)"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_json_parse"   -> jsonParse _,
    "q_json_flatten" -> jsonFlatten _,
    "q_json_drift"   -> jsonDrift _)

  /** The same payload synthesis in DuckDB string arithmetic; ends in
    * `jd(doc_id, j)`. Both engines then PARSE these bytes with their
    * own JSON machinery. */
  private val jsonCte: String =
    s"""tok AS (SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |built AS (SELECT doc_id,
       |    '{"id": ' || doc_id ||
       |    ', "tags": [' || array_to_string(
       |      list_transform(w[1:3], x -> '"' || x || '"'), ',') ||
       |    '], "meta": {"lang": "' || lang ||
       |    '", "n": ' || len(w) || '}' ||
       |    CASE WHEN doc_id % $JsonMissMod <> 0
       |      THEN ', "score": ' || (doc_id % 100) ELSE '' END ||
       |    CASE WHEN doc_id % $JsonExtraMod = 0
       |      THEN ', "extra": "x"' ELSE '' END ||
       |    '}' AS j0
       |  FROM tok WHERE len(w) >= 1),
       |jd AS (SELECT doc_id,
       |    CASE WHEN doc_id % $JsonBadMod = 0
       |      THEN substr(j0, 1, length(j0) - 2) ELSE j0 END AS j
       |  FROM built)""".stripMargin

  val oracles: Map[String, String] = Map(
    // DuckDB's yyjson must agree with Spark's Jackson on every typed
    // extraction, null, and validity verdict over the same bytes
    // extraction runs only over the json_valid subset (DuckDB's CASE
    // does not shield json_extract from malformed rows — vectorized
    // eager evaluation), joined back so invalid rows null every field
    "q_json_parse" ->
      s"""WITH $jsonCte,
         |v AS (SELECT doc_id, j FROM jd WHERE json_valid(j)),
         |g AS (SELECT doc_id,
         |    CAST(json_extract(j, '$$.id') AS BIGINT) AS id_field,
         |    CAST(json_array_length(json_extract(j, '$$.tags')) AS INT)
         |      AS n_tags,
         |    json_extract_string(j, '$$.meta.lang') AS meta_lang,
         |    CAST(json_extract(j, '$$.meta.n') AS BIGINT) AS meta_n,
         |    CAST(json_extract(j, '$$.score') AS BIGINT) AS score
         |  FROM v)
         |SELECT jd.doc_id,
         |  g.doc_id IS NOT NULL AND g.id_field IS NOT NULL AS valid,
         |  g.id_field, g.n_tags, g.meta_lang, g.meta_n, g.score
         |FROM jd LEFT JOIN g USING (doc_id)""".stripMargin,
    // tags fixed at <= 3 by synthesis: three positional arms
    "q_json_flatten" ->
      s"""WITH $jsonCte,
         |v AS (SELECT j FROM jd
         |  WHERE json_valid(j) AND json_extract(j, '$$.id') IS NOT NULL),
         |t AS (SELECT json_extract_string(j, '$$.tags[0]') AS tag FROM v
         |  UNION ALL
         |  SELECT json_extract_string(j, '$$.tags[1]') FROM v
         |  UNION ALL
         |  SELECT json_extract_string(j, '$$.tags[2]') FROM v)
         |SELECT tag, count(*) AS n_occurrences
         |FROM t WHERE tag IS NOT NULL GROUP BY tag""".stripMargin,
    "q_json_drift" ->
      s"""WITH $jsonCte,
         |k(key) AS (VALUES ('id'), ('tags'), ('meta'), ('score'),
         |  ('extra')),
         |probe AS (SELECT k.key,
         |    CASE WHEN json_valid(j)
         |      AND json_extract(j, '$$.' || k.key) IS NOT NULL
         |      THEN 1 ELSE 0 END AS present
         |  FROM jd CROSS JOIN k)
         |SELECT key, CAST(sum(present) AS BIGINT) AS n_present,
         |  count(*) AS n_docs,
         |  CAST(sum(present) * 100 // count(*) AS INT) AS present_pct
         |FROM probe GROUP BY key""".stripMargin)
}
