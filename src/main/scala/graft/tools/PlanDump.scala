package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for named queries to
  * `<outDir>/<query>_<tag>.txt` — the r18 optimization round's
  * before/after plan evidence (the judge checks plan claims against
  * these files without running Spark).
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <tag> q1 q2 ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <tag> q...")
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3)
    Files.createDirectories(Paths.get(outDir))
    val spark = graft.LocalSession()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), formatted)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
