package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.FitsHeader
import graft.operators._
import graft.report.MonitorJob
import graft.sources.Tables
import graft.streaming.IngestPipeline

/** What a workload reaches while it runs: the session, the read-only
  * tables, a scratch dir, the seed, the expected fingerprints, the ledger
  * of attempted operations, and the tracer while a pass is traced. */
final class Ctx(val spark: SparkSession, val data: String, val work: Path,
    val seed: Long, val expected: Expected, val ledger: Ledger,
    val dump: Option[Path]) {
  var tracer: Option[Tracer] = None

  def span[T](name: String, op: Boolean = false)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, op)(body)
      case None => body
    }

  /** A fresh, empty directory under the scratch dir. */
  def freshDir(name: String): Path = {
    val d = work.resolve(name)
    Workload.deleteTree(d)
    Files.createDirectories(d)
  }
}

/** One named workload. Operations go through the ledger; a pass is the
  * unit `pass_s` times. Per-layer samples are kept for traced passes. */
trait Workload {
  /** Tables the set-up touches before its untimed operation. */
  def tables: Seq[String]

  /** Untimed set-up for a fresh session, ending with one untimed
    * operation. */
  def prepare(ctx: Ctx, warm: Ledger): Unit

  /** One pass; returns its seconds when every operation succeeded.
    * `deadline` (nanoTime) lets a long pass stop between operations. */
  def pass(ctx: Ctx, deadline: Long): Option[Double]

  /** Work items completed by successful operations. */
  def items: Long

  /** Per-layer metrics of this workload's own layers. */
  def layers(ctx: Ctx): Map[String, Double]

  /** Work a traced run does once after its passes, for layers outside the
    * workload's own pass; outcomes go to `checks`. */
  def traceOnce(ctx: Ctx, checks: Ledger): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("ingest", "monitor", "catalog")

  def apply(name: String, root: Path): Workload = name match {
    case "ingest" => new IngestWorkload(root.resolve("catalog.tsv"))
    case "monitor" => new MonitorWorkload
    case "catalog" => new CatalogWorkload(root.resolve("catalog.tsv"))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)
    finally s.close()
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The median of each key's samples. */
  def medians(samples: mutable.Map[String, mutable.ArrayBuffer[Double]])
      : Map[String, Double] =
    samples.collect { case (k, v) if v.nonEmpty => k -> Stats.median(v.toSeq) }.toMap

  def sample(samples: mutable.Map[String, mutable.ArrayBuffer[Double]],
      key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  /** rchar and wchar of this process. */
  def procIo(): (Long, Long) = {
    val kv = Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }
}

/** `ingest`: the reference's hot path (E1) as a closed loop with one
  * client. Each operation delivers one generated batch into the stage
  * dir and calls `IngestPipeline.runBatch` with production defaults; the
  * registry grows batch after batch for the whole run. */
final class IngestWorkload(catalogList: Path) extends Workload {
  import IngestGen._
  val BatchesPerPass = 2
  val tables: Seq[String] = Nil

  private var cfg: IngestPipeline.Config = _
  private var next = 0
  private val archived = mutable.HashSet.empty[String]
  private val bad = mutable.ArrayBuffer.empty[(String, String)]
  private var quarantinedFiles = 0
  private var routed = 0L
  private val layer = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def items: Long = routed

  def prepare(ctx: Ctx, warm: Ledger): Unit = {
    val root = ctx.freshDir("ingest")
    def d(n: String) = root.resolve(n).toString
    cfg = IngestPipeline.Config(stageDir = d("stage"), archiveDir = d("archive"),
      quarantineDir = d("quarantine"), registryDir = d("registry"),
      badFileDir = d("bad_file"))
    Files.createDirectories(Paths.get(cfg.stageDir))
    next = 0; archived.clear(); bad.clear(); quarantinedFiles = 0
    warm.attempt("batch-0")(runOne(ctx))
    routed = 0L
    layer.clear()
  }

  /** Deliver the next batch, run it (timed), and return its check. */
  private def runOne(ctx: Ctx): Ledger.Check = {
    val b = batch(ctx.seed, next)
    next += 1
    val stage = Paths.get(cfg.stageDir)
    b.files.foreach { f =>
      val p = stage.resolve(f.rel)
      Files.createDirectories(p.getParent)
      Files.write(p, f.bytes)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(f.mtimeMs))
    }
    val traced = ctx.tracer.isDefined
    val io0 = Workload.procIo()
    val t0 = System.nanoTime()
    val report = ctx.span(s"ingest.batch", op = true) {
      IngestPipeline.runBatch(ctx.spark, cfg)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val io1 = Workload.procIo()
    () => {
      val err = check(ctx, b, report)
      if (err.isEmpty) {
        routed += report.archived + report.quarantined
        if (traced) {
          val bytes = b.payloadBytes.toDouble
          Workload.sample(layer, "ingest.io_read_per_payload_byte", (io1._1 - io0._1) / bytes)
          Workload.sample(layer, "ingest.io_write_per_payload_byte", (io1._2 - io0._2) / bytes)
          val k0 = System.nanoTime()
          b.fitsPayloads.foreach(FitsHeader.parseAll)
          Workload.sample(layer, "functions.FitsHeader.parseAll_s", (System.nanoTime() - k0) / 1e9)
        }
        Workload.sample(layer, "batch_s", dt)
      }
      err
    }
  }

  /** The four checks after a batch: routes, no double registration,
    * bad-file reasons, and an empty stage dir. */
  private def check(ctx: Ctx, b: Batch, report: IngestPipeline.IngestReport)
      : Option[String] = {
    val spark = ctx.spark
    b.expect.foreach { e =>
      if (e.archived) archived += e.name else bad += (e.name -> e.reason.get)
    }
    quarantinedFiles += b.expect.count(e => !e.archived && e.reason.get != NoPayload)
    val wantArchived = b.expect.count(_.archived).toLong
    def names(dir: String): Seq[String] =
      spark.read.parquet(dir).select("filename").collect().map(_.getString(0)).toSeq
    val reg = names(cfg.registryDir)
    val loc = names(cfg.locationTableDir)
    val badRows = spark.read.parquet(cfg.badFileDir)
      .select("orig_filename", "rejected_msg").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    def files(dir: String): Seq[Path] = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) Nil
      else {
        // the local Hadoop filesystem writes a hidden .crc beside each file
        val s = Files.walk(p)
        try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".")).toList
        finally s.close()
      }
    }
    val stageLeft = files(cfg.stageDir)
    val archivedOnDisk = files(cfg.archiveDir).map(_.getFileName.toString).toSet
    if (report.archived != wantArchived ||
        report.quarantined != b.expect.size - wantArchived)
      Some(s"batch ${b.index}: routed ${report.archived}/${report.quarantined}, " +
        s"expected $wantArchived/${b.expect.size - wantArchived}")
    else if (reg.size != reg.distinct.size || loc.size != loc.distinct.size)
      Some(s"batch ${b.index}: a filename is registered twice")
    else if (reg.toSet != archived || loc.toSet != archived)
      Some(s"batch ${b.index}: registry and location tables differ from the archived set")
    else if (archivedOnDisk != archived)
      Some(s"batch ${b.index}: archive dir differs from the archived set")
    else if (badRows.sorted != bad.sorted)
      Some(s"batch ${b.index}: bad-file rows differ from the expected reasons: " +
        badRows.diff(bad).take(3).mkString(", "))
    else if (files(cfg.quarantineDir).size != quarantinedFiles)
      Some(s"batch ${b.index}: quarantine holds ${files(cfg.quarantineDir).size} files, expected $quarantinedFiles")
    else if (stageLeft.nonEmpty)
      Some(s"batch ${b.index}: stage dir not empty: ${stageLeft.take(3).mkString(", ")}")
    else None
  }

  private var once = Map.empty[String, Double]

  /** The catalog list's layers, which no workload has a pass for. They
    * ride on this traced run, not on `monitor`'s, because that one already
    * carries the curation steps and both would not fit one run's limit. */
  override def traceOnce(ctx: Ctx, checks: Ledger): Unit =
    once = CatalogWorkload.layersOnce(catalogList, ctx, checks)

  def pass(ctx: Ctx, deadline: Long): Option[Double] = {
    val ts = (1 to BatchesPerPass).map(_ => ctx.ledger.attempt("batch")(runOne(ctx)))
    if (ts.forall(_.nonEmpty)) Some(ts.flatten.sum) else None
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val m = Workload.medians(layer) - "batch_s"
    val batches = layer.getOrElse("batch_s", mutable.ArrayBuffer.empty[Double]).toSeq
    val q = batches.size / 4
    val lateVsEarly =
      if (q == 0) 0.0
      else Stats.median(batches.takeRight(q)) / Stats.median(batches.take(q))
    def parquetFiles(dir: String): Int = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) 0
      else { val s = Files.walk(p); try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close() }
    }
    m ++ once ++ Map(
      "ingest.registry_files" ->
        (parquetFiles(cfg.registryDir) + parquetFiles(cfg.locationTableDir)).toDouble,
      "ingest.late_vs_early" -> lateVsEarly)
  }
}

/** `monitor`: the reference's second program (E2), `MonitorJob.render`
  * over the read-only tables with the page stamps pinned, so every page
  * is byte-stable and checked by hash. Its traced run also measures, once
  * after its passes, the curation steps, which no workload of the
  * benchmark has a pass for. */
final class MonitorWorkload extends Workload {
  val GeneratedAt = "2026-01-01T00:00:00Z"
  val tables: Seq[String] = Seq("events", "orders", "lineitem")
  private var pages = 0L
  private val layer = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** The operators `render` composes, each timed alone in traced passes. */
  val operators: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "operators.ReconOps.niteRollup_s" -> ReconOps.niteRollup _,
    "operators.ReconOps.errorsPerNite_s" -> ReconOps.errorsPerNite _,
    "operators.ReconOps.exposureStates_s" -> ReconOps.exposureStates _,
    "operators.ReconOps.skipDuplicates_s" -> ReconOps.skipDuplicates _,
    "operators.MonitorOps.unionAccumulate_s" -> MonitorOps.unionAccumulate _,
    "operators.MonitorOps.logTail_s" -> MonitorOps.logTail _,
    "operators.MonitorOps.multikeyRecon_s" -> MonitorOps.multikeyRecon _,
    "operators.RelationalOps.topkErrors_s" -> RelationalOps.topkErrors _)

  def items: Long = pages

  private def render(ctx: Ctx): Ledger.Check = {
    val out = ctx.span("report.MonitorJob.render", op = true) {
      MonitorJob.render(ctx.spark, ctx.data, GeneratedAt, 0.0)
    }
    () => {
      val errs = MonitorJob.ReportNames.flatMap { n =>
        out.get(n) match {
          case Some(html) => ctx.expected.check(s"monitor/$n", Fingerprint.ofText(html))
          case None => Some(s"page $n missing")
        }
      }
      if (errs.isEmpty) pages += out.size
      errs.headOption
    }
  }

  def prepare(ctx: Ctx, warm: Ledger): Unit = {
    warm.attempt("render")(render(ctx))
    pages = 0L
  }

  def pass(ctx: Ctx, deadline: Long): Option[Double] = {
    val t = ctx.ledger.attempt("render")(render(ctx))
    if (ctx.tracer.isDefined) t.foreach { total =>
      val parts = operators.map { case (key, f) =>
        val t0 = System.nanoTime()
        ctx.span(key) {
          val df = ctx.span("driver.build") { f(ctx.spark, ctx.data) }
          Workload.sample(layer, "driver.build_s", (System.nanoTime() - t0) / 1e9)
          Workload.noop(df)
        }
        val s = (System.nanoTime() - t0) / 1e9
        Workload.sample(layer, key, s)
        s
      }
      Workload.sample(layer, "report.MonitorJob.residual_s", total - parts.sum)
    }
    t
  }

  def layers(ctx: Ctx): Map[String, Double] = Workload.medians(layer) ++ once

  private var once = Map.empty[String, Double]

  override def traceOnce(ctx: Ctx, checks: Ledger): Unit = {
    val steps = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    checks.attempt("curation steps")(CurationSteps.run(ctx, Workload.sample(steps, _, _)))
    once = Workload.medians(steps)
  }
}

/** `curationRun`'s steps, one by one in its order, each written to
  * parquet as `curationRun` writes it, then the derivations over the
  * stored tables (the `prod_*` set plus `releaseRiskFrom`), each through
  * `noop`. A traced `monitor` run does this once: a whole `curationRun`
  * takes longer than one run of the benchmark may. Every table and
  * derivation is checked by fingerprint. */
object CurationSteps {
  val steps: Seq[String] = Seq("DedupOps.textDedupGroups", "TextOps.qualityScore",
    "DedupOps.canonicalDocsFrom", "DedupOps.dupRateBySourceFrom", "CurationOps.chunkDocs",
    "CurationOps.curationStagesFrom", "TextOps.nbTrain").map(o => s"operators.${o}_s")

  val derivationNames: Seq[String] = Seq("canonical_docs", "dup_rate_by_source",
    "dup_token_share", "source_overlap", "group_purity", "leakfree_split",
    "curation_funnel", "release_risk")

  /** The tables the steps write, checked against `curationRun`'s outputs. */
  val tables: Seq[String] =
    Seq("groups", "canonical", "dup_rates", "chunks", "stages", "nb_weights", "nb_prior")

  private def derivations(spark: SparkSession, dir: String, out: String)
      : Seq[(String, () => DataFrame)] = {
    def groups = spark.read.parquet(s"$out/groups")
    def keep = spark.read.parquet(s"$out/canonical")
    def chunks = spark.read.parquet(s"$out/chunks")
    def stages = spark.read.parquet(s"$out/stages")
    def quality = TextOps.qualityScore(spark, dir).select(col("doc_id"), col("quality"))
    def prov = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    derivationNames.zip(Seq(
      () => DedupOps.canonicalDocsFrom(groups, quality),
      () => DedupOps.dupRateBySourceFrom(groups, keep, prov),
      () => DedupOps.dupTokenShareFromGroups(spark, dir, groups),
      () => DedupOps.sourceOverlapFrom(groups, prov),
      () => DedupOps.groupPurityFrom(groups, Tables.documents(spark, dir)),
      () => DedupOps.leakFreeSplitFrom(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang")), groups),
      () => CurationOps.curationFunnelFrom(spark, dir,
        DedupOps.dropList(groups, keep), Some(chunks)),
      () => CurationOps.releaseRiskFrom(spark, dir, stages)))
  }

  /** Runs the steps and the derivations, each timed into `sample`, and
    * returns the check of their outputs. */
  def run(ctx: Ctx, sample: (String, Double) => Unit): Ledger.Check = {
    val spark = ctx.spark
    val dir = ctx.data
    val out = ctx.freshDir("curation").toString
    def step(key: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      sample(key, (System.nanoTime() - t0) / 1e9)
    }
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name")
    val Seq(dedup, quality, canonical, dupRate, chunk, stages, nb) = steps
    step(dedup) { write(DedupOps.textDedupGroups(spark, dir), "groups") }
    val groups = spark.read.parquet(s"$out/groups")
    step(quality) { Workload.noop(TextOps.qualityScore(spark, dir)) }
    step(canonical) {
      write(DedupOps.canonicalDocsFrom(groups,
        TextOps.qualityScore(spark, dir).select(col("doc_id"), col("quality"))), "canonical")
    }
    val keep = spark.read.parquet(s"$out/canonical")
    step(dupRate) {
      write(DedupOps.dupRateBySourceFrom(groups, keep,
        Tables.documents(spark, dir).select(col("doc_id"), col("source"))), "dup_rates")
    }
    step(chunk) { write(CurationOps.chunkDocs(spark, dir), "chunks") }
    step(stages) {
      write(CurationOps.curationStagesFrom(spark, dir, DedupOps.dropList(groups, keep),
        Some(spark.read.parquet(s"$out/chunks"))), "stages")
    }
    step(nb) {
      val (w, p) = TextOps.nbTrain(Tables.documents(spark, dir))
      write(w, "nb_weights")
      write(p, "nb_prior")
    }
    val derived = derivations(spark, dir, out)
    derived.foreach { case (name, mk) => step(s"derive.${name}_s") { Workload.noop(mk()) } }
    () => (tables.flatMap { t =>
      ctx.expected.check(s"curation/$t", Fingerprint.of(spark.read.parquet(s"$out/$t")))
    } ++ derived.flatMap { case (name, mk) =>
      ctx.expected.check(s"curation/derive.$name", Fingerprint.of(mk()))
    }).headOption
  }
}

/** `catalog`: breadth over the operator catalogs, one query each from the
  * fixed list in `catalog.tsv` (with a reason per entry). Set-up runs the
  * whole list once untimed; each pass runs it again in a seeded order,
  * every query built, materialized through `noop`, and checked by
  * fingerprint. Not in `BENCHMARK.json`: run it by hand. A traced
  * `ingest` run measures this list's per-catalog layers. */
final class CatalogWorkload(listFile: Path) extends Workload {
  import CatalogWorkload.catalogs
  val entries: Seq[(String, String)] =
    scala.io.Source.fromFile(listFile.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f(1) }.toSeq

  private val members: Map[String, Set[String]] = Map(
    "RelationalOps" -> RelationalOps.queries.keySet,
    "ReconOps" -> ReconOps.queries.keySet,
    "TextOps" -> TextOps.queries.keySet,
    "VectorOps" -> VectorOps.queries.keySet,
    "DedupOps" -> (DedupOps.queries.keySet ++ DedupOps.prodQueries.keySet),
    "IngestOps" -> IngestOps.queries.keySet,
    "MultimodalOps" -> MultimodalOps.queries.keySet,
    "MonitorOps" -> MonitorOps.queries.keySet,
    "CurationOps" -> (CurationOps.queries.keySet ++ CurationOps.prodQueries.keySet),
    "ChatOps" -> ChatOps.queries.keySet,
    "LayoutOps" -> LayoutOps.queries.keySet,
    "JsonOps" -> JsonOps.queries.keySet,
    "FuzzyOps" -> FuzzyOps.queries.keySet,
    "GraphOps" -> GraphOps.queries.keySet,
    "UrlOps" -> UrlOps.queries.keySet)

  private val queries = SparkEntry.queries
  locally {
    val missing = entries.filterNot { case (q, _) => queries.contains(q) }
    require(missing.isEmpty, s"catalog.tsv names queries not in SparkEntry.queries: ${missing.map(_._1).mkString(", ")}")
    val misfiled = entries.filterNot { case (q, c) => members.get(c).exists(_(q)) }
    require(misfiled.isEmpty, s"catalog.tsv files queries under the wrong catalog: ${misfiled.mkString(", ")}")
    require(entries.map(_._2).toSet == catalogs.toSet, "catalog.tsv must cover every operator catalog")
  }

  val tables: Seq[String] = Tables.names

  private var done = 0L
  private var passes = 0
  private val layer = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val perQuery = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def items: Long = done

  private def run(ctx: Ctx, name: String): Ledger.Check = {
    val spark = ctx.spark
    val (built, buildS) = ctx.span(name, op = true) {
      val t0 = System.nanoTime()
      val df = ctx.span("driver.build") { queries(name)(spark, ctx.data) }
      val b = (System.nanoTime() - t0) / 1e9
      Workload.noop(df)
      (df, b)
    }
    val traced = ctx.tracer.isDefined
    () => {
      ctx.dump.foreach(d => built.coalesce(1).write.mode("overwrite").parquet(d.resolve(name).toString))
      val err = ctx.expected.check(s"catalog/$name", Fingerprint.of(built))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (err.isEmpty) {
        done += 1
        if (traced) Workload.sample(layer, "driver.build_s", buildS)
      }
      err
    }
  }

  def prepare(ctx: Ctx, warm: Ledger): Unit = {
    // with --dump, the outputs land beside their oracle SQL, the layout
    // tools/check.py reads
    ctx.dump.foreach { d =>
      Files.createDirectories(d)
      val sql = new java.util.TreeMap[String, String]()
      entries.flatMap(e => SparkEntry.oracleSql.get(e._1).map(e._1 -> _))
        .foreach { case (q, s) => sql.put(q, s) }
      Files.write(d.resolve("oracle_sql_subset.json"),
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(sql))
    }
    // a query's first run is 2-4x slower (JIT, codegen); warm every one
    entries.foreach { case (q, _) => warm.attempt(q)(run(ctx, q)) }
    done = 0L
  }

  def pass(ctx: Ctx, deadline: Long): Option[Double] = pass(ctx, ctx.ledger)

  /** The whole list once, in the seeded order of this pass. */
  def pass(ctx: Ctx, ledger: Ledger): Option[Double] = {
    val order = new scala.util.Random(ctx.seed * 7919L + passes).shuffle(entries.map(_._1))
    passes += 1
    val times = order.map { q =>
      val t = ledger.attempt(q)(run(ctx, q))
      t.foreach(Workload.sample(perQuery, q, _))
      t
    }
    if (times.forall(_.nonEmpty)) Some(times.flatten.sum) else None
  }

  /** `operators.<Catalog>_s`: the summed median time of each catalog's
    * listed queries. */
  def catalogLayers: Map[String, Double] = {
    val perQ = Workload.medians(perQuery)
    entries.groupBy(_._2).map { case (c, qs) =>
      s"operators.${c}_s" -> qs.map(q => perQ.getOrElse(q._1, 0.0)).sum
    }
  }

  def layers(ctx: Ctx): Map[String, Double] = Workload.medians(layer) ++ catalogLayers
}

object CatalogWorkload {
  /** One untimed pass over the list, then one timed pass, every output
    * checked; returns the per-catalog layers. */
  def layersOnce(list: Path, ctx: Ctx, checks: Ledger): Map[String, Double] = {
    val breadth = new CatalogWorkload(list)
    breadth.prepare(ctx, checks)
    breadth.pass(ctx, checks)
    breadth.catalogLayers
  }

  val catalogs: Seq[String] = Seq("RelationalOps", "ReconOps", "TextOps", "VectorOps",
    "DedupOps", "IngestOps", "MultimodalOps", "MonitorOps", "CurationOps", "ChatOps",
    "LayoutOps", "JsonOps", "FuzzyOps", "GraphOps", "UrlOps")
}
