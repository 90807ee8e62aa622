package graft

import org.apache.spark.sql.DataFrame
import graft.tools.QueryProbe

/** The interleaved A/B runner: parity is checked before any timing, equal
  * arms get one timing per round, and a throwing arm reports a failure
  * instead of a time. */
class QueryProbeSpec extends SparkSpec {

  private def q1 = SparkEntry.queries("q1_pricing")(spark, sfDir)

  /** An arm that counts how often it was built. */
  private def counted(mk: => DataFrame) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    (n, () => { n.incrementAndGet(); mk })
  }

  test("arms with different rows throw before any timing") {
    val (na, a) = counted(q1)
    val (nb, b) = counted(q1.limit(1))
    val e = intercept[IllegalArgumentException](
      QueryProbe.ab(spark, Seq("all" -> a, "one" -> b), 3))
    assert(e.getMessage.contains("parity"))
    assert(na.get == 1 && nb.get == 1, "only the untimed runs happened")
  }

  test("equal arms (rows in another order) each return 3 timings") {
    val (na, a) = counted(q1)
    val (nb, b) = counted(q1.repartition(3).orderBy(q1.columns.last))
    val out = QueryProbe.ab(spark, Seq("a" -> a, "b" -> b), 3)
    assert(out.map(_._1) == Seq("a", "b"))
    out.foreach { case (name, r) =>
      assert(r.exists(ts => ts.size == 3 && ts.forall(_ >= 0)), s"$name: $r")
    }
    assert(na.get == 4 && nb.get == 4, "one untimed run + 3 rounds each")
  }

  test("a throwing arm surfaces as a failure, not a timing") {
    val boom = () => spark.range(5).selectExpr("assert_true(id < 0) AS x")
    val out = QueryProbe.ab(spark, Seq("ok" -> (() => q1), "boom" -> boom), 3)
      .toMap
    assert(out("ok").exists(_.size == 3))
    assert(out("boom").isLeft, out("boom"))
    // a lone arm has no parity check; its failure still is not a time
    val solo = QueryProbe.ab(spark, Seq("boom" -> boom), 3)
    assert(solo.head._2.isLeft)
  }
}
