package graft

import graft.operators.{MonitorOps, ReconOps, RelationalOps, TextOps, VectorOps}
import org.apache.spark.sql.functions._

/** Reference invariants (SURVEY §5.2): the monitor's documented contract
  * "Never extra if delivered=False, but missing if delivered=True"
  * (monitor:5), set-difference disjointness, and sanity properties of the
  * EXT operators. */
class ReconInvariantsSpec extends SparkSpec {

  test("missing and extra partitions are disjoint (monitor:1022-1030)") {
    val st = ReconOps.expstate(spark, sfDir).collect()
      .map(r => r.getAs[String]("expstate") -> r.getAs[Long]("n_orders")).toMap
    // every order lands in exactly one state
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(st.values.sum == total)
    // 'extra' only from undelivered, 'missing' only from delivered —
    // encoded in the CASE; check both states actually partition
    assert(st.keySet.subsetOf(Set("ok", "missing", "extra", "not delivered")))
  }

  test("skip-marking keeps exactly one row per (user, type) unskipped (W1)") {
    val df = ReconOps.skipDuplicates(spark, sfDir)
    val kept = df.where(!col("skip")).groupBy("user_id", "event_type").count()
    assert(kept.where(col("count") =!= 1).count() == 0)
    // total conservation
    assert(df.count() ==
      spark.read.parquet(s"$sfDir/events.parquet").count())
  }

  /** The per-nite summary as three aggregates left-joined on nite. */
  private def joinedSummary(dir: String) =
    ReconOps.niteRollup(spark, dir)
      .join(ReconOps.errorsPerNite(spark, dir), Seq("nite"), "left_outer")
      .join(MonitorOps.unionAccumulate(spark, dir), Seq("nite"), "left_outer")
      .select(col("nite"), col("n_events"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"),
        coalesce(col("n_flagged_users"), lit(0L)).as("n_flagged_users"),
        col("sum_value"))

  private def summaryRows(df: org.apache.spark.sql.DataFrame) =
    df.select("nite", "n_events", "n_errors", "n_flagged_users", "sum_value")
      .collect().map(_.toSeq).sortBy(r => Option(r.head).map(_.toString))
      .toSeq

  test("niteSummary equals the joined A2/A4/A10 summary row for row") {
    import spark.implicits._
    assert(summaryRows(ReconOps.niteSummary(spark, sfDir)) ==
      summaryRows(joinedSummary(sfDir)))
    // nite 20240501: a flagged event with a null user (a distinct row of
    // its own), a repeated flagged user; 20240502: no error or purchase;
    // 20240503: purchases but no error; a null ts forms a null nite
    val dir = java.nio.file.Files.createTempDirectory("nite-summary")
    Seq[(Long, String, java.lang.Long, String, Double)](
      (1L, "2024-05-01 16:00:00", 1L, "error", 1.25),
      (2L, "2024-05-01 17:00:00", null, "error", 2.0),
      (3L, "2024-05-02 09:00:00", 1L, "purchase", 0.5),
      (4L, "2024-05-01 18:00:00", 2L, "purchase", 3.0),
      (5L, "2024-05-01 19:00:00", 3L, "click", 4.0),
      (6L, "2024-05-02 16:00:00", 3L, "click", 1.0),
      (7L, "2024-05-02 17:00:00", 4L, "view", 1.0),
      (8L, "2024-05-03 16:00:00", 5L, "purchase", 2.5),
      (9L, "2024-05-03 17:00:00", 5L, "purchase", 2.5),
      (10L, null, 7L, "error", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(dir.resolve("events.parquet").toString)
    val d = dir.toString
    val summary = summaryRows(ReconOps.niteSummary(spark, d))
    val (nullNite, dated) = summary.partition(_.head == null)
    assert(dated == summaryRows(joinedSummary(d)).filter(_.head != null))
    assert(dated.map(_.take(4)) == Seq(
      Seq("20240501", 5L, 2L, 3L),
      Seq("20240502", 2L, 0L, 0L),
      Seq("20240503", 2L, 0L, 1L)))
    // the join cannot match a null nite; the one aggregate counts it,
    // as errorsPerNite and unionAccumulate do on their own
    def nullCount(df: org.apache.spark.sql.DataFrame) =
      df.where(col("nite").isNull).collect().map(_.getLong(1)).toSeq
    assert(nullNite.map(_.take(4)) == Seq(Seq(null, 1L, 1L, 1L)))
    assert(nullCount(ReconOps.errorsPerNite(spark, d)) == Seq(1L))
    assert(nullCount(MonitorOps.unionAccumulate(spark, d)) == Seq(1L))
  }

  test("top-k is a subset of the filtered set, ordered desc (T3)") {
    val rows = RelationalOps.topkErrors(spark, sfDir).collect()
    assert(rows.length == 20)
    val ts = rows.map(_.getAs[String]("ts_sec"))
    assert(ts.sameElements(ts.sorted(Ordering[String].reverse)))
  }

  test("jaccard best-match is symmetric-safe and within [0,1]") {
    val rows = TextOps.jaccardBestMatch(spark, sfDir).collect()
    rows.foreach { r =>
      val j = r.getAs[Double]("best_jac")
      assert(j >= 0.0 && j <= 1.0)
      assert(r.getAs[Long]("best_match") != r.getAs[Long]("doc_id"))
    }
  }

  test("knn: self excluded, k rows per query, sim within [-1,1]") {
    val rows = VectorOps.knnBruteForce(spark, sfDir).collect()
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.values.forall(_.length == 5))
    rows.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") >= 5)
      val s = r.getAs[Double]("sim")
      assert(s >= -1.0 && s <= 1.0)
    }
  }
}
