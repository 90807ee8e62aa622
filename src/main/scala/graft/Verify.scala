package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names: verify only that subset (iteration aid;
    // the driver passes exactly two args and gets the full suite)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would otherwise verify nothing and exit green")
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist()/localCheckpoint() must not leak across
      // the suite — checkpoint blocks live OUTSIDE the catalog cache
      LocalSession.release(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => Bench.jsonString(k) + ": " + Bench.jsonString(v) }
      .mkString("{", ",", "}")
    // Subset runs write a DISTINCTLY-NAMED manifest and remove the full
    // one (and vice versa): overwriting oracle_sql.json with a subset
    // while a prior full run's parquet outputs sit in the same outDir
    // would let a later check pass gate only the subset yet read as a
    // full green run (ADVICE r5).
    val (manifest, stale) =
      if (only.isEmpty) ("oracle_sql.json", "oracle_sql_subset.json")
      else ("oracle_sql_subset.json", "oracle_sql.json")
    Files.deleteIfExists(Paths.get(s"$outDir/$stale"))
    Files.writeString(Paths.get(s"$outDir/$manifest"), json)
    if (only.nonEmpty)
      System.err.println(s"[verify] SUBSET run (${only.size} queries) — " +
        s"manifest written to $manifest, not oracle_sql.json")
    spark.stop()
  }
}
