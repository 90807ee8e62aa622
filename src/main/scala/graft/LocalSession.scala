package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every main (Bench,
  * Verify, the tools) and the test suites take their session from here,
  * so master, shuffle width, AQE, time zone and UI settings cannot drift
  * between copies. */
object LocalSession {
  /** Core count: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core, AQE
    * on, UTC session time and no UI (`getOrCreate`: an active session
    * is returned as is). */
  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop EVERYTHING a finished run can have pinned in executor memory.
    *
    * `catalog.clearCache()` alone is not enough (VERDICT r16 item 2):
    * the LSH/CC chain queries `localCheckpoint(true)` their iteration
    * state, and checkpoint blocks live as persisted RDDs OUTSIDE the
    * catalog cache — they are only freed when the JVM happens to GC the
    * RDD reference and the ContextCleaner notices. Late in a 271-query
    * suite those orphaned MEMORY_AND_DISK blocks accumulate against the
    * 16 g heap and G1 starts stalling whole reps (q_merge_groups
    * recorded min 5.7 / max 123.7 s in r16 on an unchanged plan).
    * Between runs every Dataset from the previous run is dead — the
    * next run rebuilds from the query function — so unpersisting every
    * persistent RDD is safe and makes block release deterministic
    * instead of GC-timed. Blocking=true so the release can't overlap
    * (and contaminate) the next timed run. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
