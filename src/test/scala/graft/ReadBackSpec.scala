package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import graft.functions.{MaterializeCache, ScaleUtils}

/** A table the engine writes comes back from the call that wrote it, under
  * the schema it was written with: [[ScaleUtils.stored]]'s read-back and a
  * warm [[MaterializeCache.table]] hit start no Spark job, where a
  * schema-less `spark.read.parquet` of the same directory starts one to
  * read a footer. */
class ReadBackSpec extends SparkSpec {
  import spark.implicits._

  private def written: DataFrame =
    Seq((1L, "a", 2.5), (2L, "b", -1.0), (3L, null, 0.0)).toDF("id", "s", "x")

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def tmp(name: String): String =
    Files.createTempDirectory("readback").resolve(name).toString

  test("stored: the read-back starts no job beyond the write") {
    val plain = tmp("plain")
    val writeJobs = jobsDuring(written.write.mode("overwrite").parquet(plain))
    var inferred: DataFrame = null
    assert(jobsDuring { inferred = spark.read.parquet(plain) } == 1,
      "a schema-less read infers its schema with one job")
    var back: DataFrame = null
    val storedJobs = jobsDuring { back = ScaleUtils.stored(written, tmp("stored")) }
    assert(storedJobs == writeJobs, "stored runs the write's jobs and no more")
    assert(back.schema == inferred.schema)
    assert(rows(back) == rows(written))
  }

  test("MaterializeCache.table: a warm hit builds nothing and starts no job") {
    val corpus = Files.createTempDirectory("readback_corpus").toString
    Files.write(java.nio.file.Paths.get(corpus, "part-0.parquet"), Array[Byte](1))
    var builds = 0
    def table = MaterializeCache.table("spec_readback", corpus) {
      builds += 1; written
    }
    val cold = table
    var warm: DataFrame = null
    assert(jobsDuring { warm = table } == 0, "a warm hit must start no job")
    assert(builds == 1)
    assert(rows(warm) == rows(written) && rows(cold) == rows(written))
    val dir = MaterializeCache.getOrWrite("spec_readback", corpus) { _ =>
      fail("the key is already written") }
    var inferred: DataFrame = null
    // a table's home is `<dir>/<name>`, and table names it by its tag
    val path = s"$dir/spec_readback"
    assert(jobsDuring { inferred = spark.read.parquet(path) } == 1,
      "the same table read without its schema starts one job")
    assert(warm.schema == inferred.schema)
  }
}
