package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.sources.Tables

/** `Tables.load` resolves each table file's schema once per session and
  * file state: an unchanged file reads under the known schema without a
  * Spark job, and a rewritten file is resolved again. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusAccess.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

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
}
