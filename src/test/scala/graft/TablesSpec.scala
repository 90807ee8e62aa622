package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.IntegerType
import graft.sources.Tables

/** `Tables.load` resolves each table file's schema once per session and
  * file state: an unchanged file reads under the known schema without a
  * Spark job, and a rewritten file is resolved again. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** `df` as the single parquet file `dir/t.parquet`, replacing it. */
  private def put(dir: Path, df: DataFrame): Unit = {
    val out = Files.createTempDirectory("tables-part").resolve("d")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("an unchanged file reads without a job; a rewritten one is resolved again") {
    val dir = Files.createTempDirectory("tables")
    put(dir, Seq((1L, "a")).toDF("id", "s"))
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("id", "s"))
    assert(jobsDuring(Tables.load(spark, dir.toString, "t").schema) == 0,
      "the second load of an unchanged file must reuse its schema")
    put(dir, Seq((2L, "b", 3.5)).toDF("id", "s", "x"))
    val again = Tables.load(spark, dir.toString, "t")
    assert(again.columns.toSeq == Seq("id", "s", "x"),
      "a rewritten file must not read under the cached schema")
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((2L, "b", 3.5)))
  }

  test("events: the read-back ts branch starts no job once resolved") {
    Tables.events(spark, sfDir)
    assert(jobsDuring(Tables.events(spark, sfDir).schema) == 0)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("a hive-partitioned directory resolves its partition column as a " +
      "schema-less read types it") {
    val dir = Files.createTempDirectory("tables-hive").resolve("registry").toString
    Seq(("a.fits", 20260812), ("b.fits", 20260812), ("c.fits", 20260813))
      .toDF("filename", "nite").write.partitionBy("nite").parquet(dir)
    val inferred = spark.read.parquet(dir)
    val resolved = Tables.parquet(spark, dir)
    assert(resolved.schema == inferred.schema)
    assert(resolved.schema("nite").dataType == IntegerType,
      "the registry's nite partition reads back as an inferred int")
    assert(jobsDuring(Tables.parquet(spark, dir).schema) == 0,
      "the second read of an unchanged directory must reuse its schema")
    assert(resolved.as[(String, Int)].collect().sorted.toSeq ==
      Seq(("a.fits", 20260812), ("b.fits", 20260812), ("c.fits", 20260813)))
  }
}
