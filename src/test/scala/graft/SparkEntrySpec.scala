package graft

/** Contract guards for the driver-facing catalog: every query declared in
  * [[SparkEntry.queries]] must carry a DuckDB oracle (round 3 reached
  * 100% oracle coverage — this pins it), the flagship entry must
  * return rows on the smallest scale factor, and every session is built
  * by [[LocalSession]]. */
class SparkEntrySpec extends SparkSpec {

  test("every catalog query has a DuckDB oracle (no silent rows-only)") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"missing oracles: ${(queries -- oracles).toSeq.sorted.mkString(", ")}; " +
        s"orphan oracles: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SparkSession.builder( appears once in src/main/scala: LocalSession") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    assert(files.size > 1)
    val hits = files.flatMap { f =>
      val n = "SparkSession\\.builder\\(".r
        .findAllMatchIn(Files.readString(f)).size
      List.fill(n)(f.getFileName.toString)
    }
    assert(hits == List("LocalSession.scala"), hits)
  }
}
