package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** A query that throws is a failure, never a timing: it lands in the
  * record's `failed` block and in no per-query map or total, and the
  * tail line counts it while staying inside its budget. */
class BenchRecordSpec extends SparkSpec {

  private val om = new ObjectMapper()

  test("a throwing query lands in failed, not in queries, mins or totals") {
    val measured = Bench.measure(spark, sfDir, Seq(
      "q_ok" -> ((s, _) => s.range(10).toDF()),
      "q_boom" -> ((s, _) => s.range(3).selectExpr("assert_true(id < 0)"))),
      reps = 1, refMins = Map("q_boom" -> 1.0))
    val m = measured.toMap
    assert(m("q_boom").isLeft, m("q_boom"))
    val ok = m("q_ok").toOption.get
    assert(ok.size == 5, "every query gets at least 5 reps")
    val rec = Bench.record(measured, Seq("prod_materialize" -> Left("boom")),
      Map("q_boom" -> 1.0), reps = 1, cpus = 4, sfDir, "BENCH_SUBSET.json")
    val full = om.readTree(rec.full)
    Seq("queries", "mins", "triples").foreach { k =>
      assert(full.get(k).has("q_ok") && !full.get(k).has("q_boom"), k)
    }
    assert(full.get("failed").get("q_boom").asText().contains("is not true"))
    assert(full.get("failed").has("prod_materialize"))
    assert(!full.get("prod").has("prod_materialize"))
    assert(full.get("value").asDouble() == Bench.median(ok))
    assert(full.get("total_min").asDouble() == ok.min)
    assert(full.get("contamination").get("ref_queries").asInt() == 0)
    val tail = om.readTree(rec.tail)
    assert(tail.get("failed_n").asInt() == 2)
    assert(!tail.get("queries").has("q_boom"))
    assert(tail.get("rest_n").asInt() + tail.get("queries").size() == 1)
  }

  test("the tail line stays in its 1840-char budget with failures counted") {
    val measured = (1 to 600).map { i =>
      f"q_some_long_query_name_$i%04d" ->
        (if (i % 7 == 0) Left("x" * 500) else Right(Seq(1000.0 + i, 2000.0)))
    }
    val rec = Bench.record(measured, Nil, Map.empty, reps = 3, cpus = 32,
      "/data/sf0.1", "BENCH_FULL.json")
    assert(rec.tail.length <= 1840, rec.tail.length)
    val tail = om.readTree(rec.tail)
    assert(tail.get("failed_n").asInt() == 600 / 7)
    assert(tail.get("rest_n").asInt() + tail.get("queries").size() ==
      600 - 600 / 7)
  }
}
