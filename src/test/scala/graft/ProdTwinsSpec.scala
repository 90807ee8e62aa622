package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import graft.operators.{CurationOps, DedupOps}

/** One production curation path: the curation-derived `q_prod_*` twins
  * read the tables [[CurationOps.curationRun]] wrote for their corpus
  * ([[CurationOps.materialized]]), and Bench's prod group times the same
  * derivation list over a run it writes, so the oracled twins and the
  * timed group cannot drift apart. */
class ProdTwinsSpec extends SparkSpec {

  private def rows(df: DataFrame) = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
  }

  /** The file paths a frame's plan scans. */
  private def leafPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq("<non-file relation>")
      }
      case other => Seq(s"<non-scan leaf: ${other.nodeName}>")
    }

  /** The `q_prod_*` keys derived from `curationRun`'s tables. */
  private val curationTwins =
    (DedupOps.prodQueries.keySet ++ CurationOps.prodQueries.keySet) -
      "q_prod_sketch_overlap"

  test("the twins scan the tables of one curationRun of their corpus") {
    // a fresh copy of the corpus is a key no earlier spec has written
    val corpus = Files.createTempDirectory("prod_twins_corpus")
    Files.list(Paths.get(sfDir)).forEach(f =>
      Files.copy(f, corpus.resolve(f.getFileName)))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def runDirs: Set[Path] = {
      val s = Files.list(tmp)
      try s.filter(_.getFileName.toString.startsWith("graft_curation_run"))
        .toArray.map(_.asInstanceOf[Path]).toSet
      finally s.close()
    }
    val before = runDirs
    val funnel = SparkEntry.queries("q_prod_curation_funnel")(spark, corpus.toString)
    val split = SparkEntry.queries("q_prod_leakfree_split")(spark, corpus.toString)
    val run = CurationOps.materialized(spark, corpus.toString)
    val made = runDirs -- before
    assert(made.size == 1, s"curationRun must run once, wrote $made")
    val runDir = made.head.toString
    Seq("q_prod_curation_funnel" -> funnel, "q_prod_leakfree_split" -> split)
      .foreach { case (name, df) =>
        val paths = leafPaths(df)
        assert(paths.exists(_.contains(runDir)), s"$name must scan $runDir")
        assert(paths.forall(p => p.contains(runDir) || p.contains(corpus.toString)),
          s"$name scans only the run's tables and its corpus, got $paths")
      }
    assert(leafPaths(funnel).forall(_.contains(runDir)))
    assert(rows(funnel) == rows(run("funnel")),
      "the prod funnel is the run's funnel table")
    // the canonical picks are the table the run stored, not a second
    // quality pass over the corpus
    val canonical =
      SparkEntry.queries("q_prod_canonical_docs")(spark, corpus.toString)
    assert(!leafPaths(canonical).exists(_.contains("documents.parquet")),
      s"q_prod_canonical_docs must not scan the corpus: ${leafPaths(canonical)}")
    assert(rows(canonical) == rows(run("canonical")),
      "the prod canonical picks are the run's canonical table")
  }

  test("Bench's prod group times curationRun and the twins' derivations") {
    val prod = Bench.prodGroup(spark, sfDir, reps = 1)
    prod.foreach { case (name, r) => assert(r.isRight, s"$name: $r") }
    val names = prod.map(_._1)
    assert(names.head == "prod_materialize")
    assert(names.size == 1 + curationTwins.size)
    assert(names.tail.toSet == curationTwins.map(_.stripPrefix("q_")))
  }
}
