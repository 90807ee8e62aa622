package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities (SURVEY.md §7.4.5, README scale notes): bucketed
  * co-located joins and salt-based skew mitigation — the two manual
  * levers that matter at 100 TB when AQE alone is not enough.
  */
object ScaleUtils {

  /** Write a DataFrame as a bucketed table: rows are hash-bucketed by the
    * join key at write time, so future equi-joins between tables bucketed
    * the same way need NO shuffle (Exchange disappears from the plan —
    * asserted in ScaleUtilsSpec). Bucket metadata requires the catalog, so
    * this goes through `saveAsTable`. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a stale managed-table location from a previous session (catalog is
    // per-JVM, the warehouse dir is not) blocks CREATE — clear it
    val warehouse = new java.net.URI(
      spark.sessionState.conf.getConfString("spark.sql.warehouse.dir")).getPath
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Salted join for skewed keys: the big side's rows get a deterministic
    * salt derived from the full row (stable under task retries — never
    * rand()), the small side is exploded across all salt values, and the
    * join key becomes (key, salt). Hot keys spread over `saltFactor`
    * reducers; results are identical to the unsalted join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int, joinType: String = "inner"): DataFrame = {
    // the small side is EXPLODED saltFactor times, so any join type that
    // can emit unmatched small-side rows (right/full outer) would emit
    // them once PER SALT — silently wrong row counts. Inner/left-side
    // types are salt-invariant (each big row carries exactly one salt).
    val jt = joinType.toLowerCase.replace("_", "")
    require(!jt.contains("right") && !jt.contains("full") && jt != "outer",
      s"saltedJoin: $joinType would duplicate unmatched small-side rows " +
        s"$saltFactor times; use the unsalted join for right/full outer")
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(saltFactor))
        .cast("int"))
    val smallExploded = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    bigSalted.join(smallExploded, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Column-intersection projection — P9/J4 (save:274-278): project a
    * row set onto whatever columns the TARGET table currently has, the
    * reference's defense against schema drift of the bad-file table
    * ("for bcol in badcols: if bcol in metadata"). Shared columns are
    * cast to the target's type; target columns the source lacks become
    * typed nulls; source columns the target lacks are dropped. Output
    * column order is the target's, so appends line up positionally too. */
  def projectOnto(df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toIndexedSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** THE shared definition of "table data file" — compaction, footer row
    * counts, and every read-back gate use this one predicate so the rule
    * cannot drift between call sites: a `*.parquet` part file with no
    * hidden (`_`/`.`-prefixed) path segment under the table root.
    * _SUCCESS markers and in-flight `_temporary` trees are NOT data
    * (Spark's reader skips hidden paths, and `spark.read.parquet` THROWS
    * on a dir containing nothing else). */
  /** Prefix for relativizing listed file URIs against a table root —
    * `listFiles` returns FS-QUALIFIED URIs, so stripping must use the
    * qualified root too, or ancestor segments survive the strip (and any
    * `=` in one would read as a partition column downstream). One
    * definition, shared by the hidden-segment filter and the
    * partition-column parse, so the two can never diverge. */
  private def qualRootPrefix(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): String =
    fs.makeQualified(root).toString.stripSuffix("/") + "/"

  /** Path segments of `st` below `root` (qualified-relativized). */
  private def segmentsBelow(st: org.apache.hadoop.fs.FileStatus,
      qualRoot: String): Array[String] =
    st.getPath.toString.stripPrefix(qualRoot).split("/")

  private def dataFileIter(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Iterator[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(root)) Iterator.empty
    else {
      val qualRoot = qualRootPrefix(fs, root)
      val it = fs.listFiles(root, true)
      new Iterator[org.apache.hadoop.fs.FileStatus] {
        def hasNext: Boolean = it.hasNext
        def next(): org.apache.hadoop.fs.FileStatus = it.next()
      }.filter { st =>
          st.getPath.getName.endsWith(".parquet") &&
            segmentsBelow(st, qualRoot)
              .forall(s => !s.startsWith("_") && !s.startsWith("."))
        }
    }

  /** All parquet data files under a table root (recursive, hidden trees
    * excluded) — see [[dataFileIter]] for the shared predicate. */
  private[graft] def parquetDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    dataFileIter(fs, root).toSeq

  /** True when `dir` holds at least one parquet data file. Every
    * read-back of an append-target table must gate on THIS, not on bare
    * dir existence: a zero-row append leaves only a _SUCCESS marker, a
    * killed write leaves only `_temporary/`, and `spark.read.parquet`
    * throws on both. Short-circuits on the first hit. */
  def hasParquetData(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dataFileIter(fs, p).hasNext
  }

  /** Compact an append-heavy parquet table's small files. Every ingest
    * batch appends a file set (per nite partition for the registry), so
    * file counts grow with batch count, not data volume — listing and
    * scan overhead eventually dominate. Rewrites the table with
    * ceil(bytes/target) files per partition directory (hive-style
    * `col=val` layout preserved), then swaps directories. The swap is
    * rename-based: a crash between renames leaves either the old or the
    * compacted table plus a leftover dir, never a half-written table —
    * run it from the single writer the registry already assumes.
    * Returns (filesBefore, filesAfter). */
  def compactParquet(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    compactParquetImpl(spark, dir, targetFileBytes, (fs, a, b) => fs.rename(a, b))

  /** Test seam: `rename` injects swap failures (a refused rename on a real
    * store — permissions, concurrent writer — must fail LOUDLY with the
    * live table untouched or restored, never nest the compacted tree
    * inside the live one). */
  private[graft] def compactParquetImpl(spark: SparkSession, dir: String,
      targetFileBytes: Long,
      rename: (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) => Boolean)
      : (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = parquetDataFiles(fs, root)
    // nothing to compact (dir may exist with only _SUCCESS markers when
    // every batch so far quarantined) — and spark.read.parquet would
    // throw on a parquet-less dir, killing the calling stream
    if (before.isEmpty) return (0, 0)
    val df = spark.read.parquet(dir)
    // partition columns = hive dirs on disk; they come back as data
    // columns and partitionBy rebuilds the same layout. Relativization
    // shares [[qualRootPrefix]] with the hidden-segment filter.
    val qualRoot = qualRootPrefix(fs, root)
    val partCols = before.headOption.toSeq.flatMap { st =>
      segmentsBelow(st, qualRoot).filter(_.contains("="))
        .map(_.split("=")(0))
    }.distinct
    val files = math.max(1, math.ceil(
      before.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    val tmp = new Path(dir + "_compacting")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // repartition BY the partition columns: each hive dir is then written
    // by one task (one file) — a plain repartition(n) would scatter every
    // partition value across all n tasks and re-create n small files per dir
    val shaped =
      if (partCols.nonEmpty) df.repartition(files, partCols.map(col): _*)
      else df.repartition(files)
    val writer = shaped.write.mode("overwrite")
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(tmp.toString)
    val old = new Path(dir + "_precompact")
    if (fs.exists(old)) fs.delete(old, true)
    if (!rename(fs, root, old))
      throw new java.io.IOException(
        s"compactParquet: rename $root -> $old refused; live table untouched")
    if (!rename(fs, tmp, root)) {
      // restore the live table before failing — a second refused rename
      // must not leave the table invisible at its path
      rename(fs, old, root)
      throw new java.io.IOException(
        s"compactParquet: rename $tmp -> $root refused; live table restored")
    }
    fs.delete(old, true)
    spark.catalog.refreshByPath(dir)
    (before.size, parquetDataFiles(fs, root).size)
  }

  /** Driver-side parquet row count from file footers — NO Spark job. The
    * auto cutover entry points (DedupOps.jaccardBestAuto & friends) need a
    * corpus-size signal per invocation; a `count()` is a real scan at
    * 100 TB, while footers are O(#files) driver metadata reads. */
  def footerRowCount(spark: SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    dataFileIter(fs, root).map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The driver-cutover probe: `df`'s rows when there are at most `max`
    * of them, else None. One bounded `limit(max + 1)` job — a frame far
    * above the bound costs its first partitions' rows, never a count. */
  def collectAtMost(df: DataFrame, max: Int): Option[Array[Row]] = {
    val rows = df.limit(max + 1).collect()
    if (rows.length <= max) Some(rows) else None
  }

  /** Fan a narrow-parallelism scan out to the session's cores before
    * per-row-HEAVY work (optimization guide §2.5 "input skew: one huge
    * unsplittable file ... repartition immediately after the read").
    *
    * Why it exists: parquet parallelism is bounded by ROW GROUPS, not
    * bytes — a table written as one row group (this repo's testdata
    * files; at production scale a mis-compacted shard or one giant gzip
    * member) scans as ONE task, serializing every downstream map-side
    * pass (shingle hashing, media decode, regex censuses) on a single
    * core while the rest of the cluster idles. Measured on the dedup
    * spine at sf0.1: the signature pass ran 1-way for ~1.5 s of pure
    * per-row compute with 31 cores idle.
    *
    * Scale posture: when the frame's physical partition count already
    * reaches the session's default parallelism — ANY real multi-shard
    * table at 100 TB, where input splits outnumber cores by construction
    * — this is the IDENTITY and adds no exchange to the plan. It only
    * fires when the scan is narrower than the machine, exactly the
    * regime where the re-shuffled bytes are small. The repartition
    * hashes a caller-provided high-cardinality key (deterministic
    * row→partition mapping — retry-safe, and skips round-robin's
    * sort-before-repartition); every consumer in this repo is
    * partitioning-invariant (aggregations, equi-joins, per-row
    * projections), so results are identical either way
    * (DeterminismSpec's contract). */
  def fanOutScan(df: DataFrame, key: Column): DataFrame = {
    // CALLER CONTRACT (VERDICT r18 item 4): pass scan-rooted frames
    // (scan + projections/filters/broadcast-joined dims). The `.rdd`
    // width probe below plans the frame physically; under AQE a plan
    // containing its own SHUFFLE would materialize those query stages
    // at construction time — paying the stage twice. Current call
    // sites are all scan-rooted or broadcast-only (htmlDocs' joined
    // inputs broadcast their dims), where .rdd costs one planning pass
    // of a leaf scan (measured negligible at every site that kept it;
    // the rollback comments record the sites where even one extra AQE
    // stage lost).
    if (df.isStreaming) return df // .rdd is illegal on streaming plans
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }
}
