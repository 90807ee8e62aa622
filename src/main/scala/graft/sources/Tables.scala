package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor directory.
  * All scans go through here so that read-side options (and, at cluster
  * scale, partitioned registry layouts — SURVEY.md §4 "partition pruning")
  * are controlled in one place. Column pruning and predicate pushdown are
  * left to Catalyst: callers `.select`/`.where` and the parquet scan only
  * reads what survives.
  *
  * Schemas are resolved once per session and file state: a parquet read
  * without a schema starts one footer-reading Spark job (60–90 ms warm),
  * one with a known schema starts none, and a monitor render alone loads
  * nine tables. The one resolver behind [[load]] and [[parquet]] keys
  * each resolved schema by the path plus the (name, length, modification
  * time) of every file under it
  * ([[graft.functions.ScaleUtils.fileState]]), so a rewritten table gets
  * a new key and is resolved again. It is the only schema-inferring
  * parquet read in the engine: a table you wrote comes back from the
  * call that wrote it ([[graft.functions.ScaleUtils.stored]],
  * [[graft.functions.MaterializeCache.table]]), and every other table
  * whose schema the caller does not hold is read through here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type FileState = (String, Seq[(String, Long, Long)])

  /** Resolved schemas per session (weakly held: a stopped session's
    * entries go with it); a table's schema depends on session settings
    * such as `nanosAsLong`, so sessions never share an entry. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[FileState, StructType]]())

  /** `name`'s testdata table read under its known schema ([[parquet]]). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved(spark, s"$dir/$name.parquet") {
      // the flag must be in place before the first read of events
      if (name == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }

  /** The parquet table at `path` — one file, or a directory, hive
    * partitions (`nite=…`) included — read under its known schema. For
    * a table whose schema the caller does not hold; a table the caller
    * just wrote comes back from the call that wrote it
    * ([[graft.functions.ScaleUtils.stored]]). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    resolved(spark, path)(())

  /** The one resolver. A miss runs `beforeFirstRead`, then the one
    * schema-inferring read of the session and file state; concurrent
    * first loads of one path wait for that single read. A missing path
    * keys as empty, so the inferring read raises the reader's own
    * path-not-found error and nothing is cached. */
  private def resolved(spark: SparkSession, path: String)
      (beforeFirstRead: => Unit): DataFrame = {
    val files = graft.functions.ScaleUtils.fileState(path,
      spark.sparkContext.hadoopConfiguration)
    val schema = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
      .computeIfAbsent((path, files), _ => {
        beforeFirstRead
        spark.read.parquet(path).schema
      })
    spark.read.schema(schema).parquet(path)
  }

  /** events.parquet carries TIMESTAMP(NANOS). Depending on the Spark
    * build this reads back one of two ways, and we normalize BOTH to a
    * session-zoned microsecond TimestampType column:
    *   - older builds honor `spark.sql.legacy.parquet.nanosAsLong` and
    *     surface a raw nanosecond LongType → truncate to micros with
    *     integral `div` (`/` would go through double and lose precision
    *     above 2^53; ns epoch values are ~1.7e18);
    *   - newer builds read NANOS natively as TIMESTAMP_NTZ (micros,
    *     floor-truncated — same integer division) and ignore the legacy
    *     flag → cast NTZ to TimestampType (wall time interpreted in the
    *     session zone; Verify/Bench pin UTC, matching the oracle's
    *     naive-timestamp formatting).
    * Branching on the READ-BACK type (not the Spark version string)
    * keeps this correct under either reader; the type comes from the
    * resolved schema, so the branch starts no job. [[load]] sets the legacy
    * flag once per session, when the session first resolves the file. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
