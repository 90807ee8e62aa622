package graft

import graft.functions.ScaleUtils

class ScaleUtilsSpec extends SparkSpec {

  test("projectOnto: intersect, cast, null-fill, target column order") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val src = Seq((1, "a", 2.5)).toDF("id", "name", "extra")
    val target = StructType(Seq(
      StructField("name", StringType),       // shared, same type
      StructField("id", LongType),           // shared, needs cast int->long
      StructField("added", StringType)))     // target-only -> typed null
    val out = ScaleUtils.projectOnto(src, target)
    assert(out.columns.toSeq == Seq("name", "id", "added"), "target order")
    assert(out.schema("id").dataType == LongType, "cast to target type")
    val row = out.head()
    assert(row.getString(0) == "a" && row.getLong(1) == 1L && row.isNullAt(2))
  }

  test("compactParquet merges append-accumulated small files, layout kept") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/reg"
    // simulate 6 ingest batches, each appending its own file set per nite
    (1 to 6).foreach { b =>
      Seq((b.toLong, s"f$b.fits", "20240101"), (b.toLong, s"g$b.fits", "20240102"))
        .toDF("task_id", "filename", "nite")
        .repartition(2)
        .write.mode("append").partitionBy("nite").parquet(dir)
    }
    val before = spark.read.parquet(dir)
      .select($"task_id", $"filename", $"nite".cast("string")).collect().toSet
    val (nBefore, nAfter) = ScaleUtils.compactParquet(spark, dir)
    assert(nBefore > nAfter, s"expected fewer files, got $nBefore -> $nAfter")
    // hive layout preserved, content identical
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("nite=")))
    val after = spark.read.parquet(dir)
      .select($"task_id", $"filename", $"nite".cast("string")).collect().toSet
    assert(after == before)
  }

  test("compactParquet: refused rename fails loudly, live table untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compactfail").toString + "/reg"
    (1 to 3).foreach { b =>
      Seq((b.toLong, s"f$b.fits", "20240101"))
        .toDF("task_id", "filename", "nite")
        .write.mode("append").partitionBy("nite").parquet(dir)
    }
    val before = spark.read.parquet(dir)
      .select($"task_id", $"filename", $"nite".cast("string")).collect().toSet

    // first rename (root -> precompact) refused: must throw, live intact
    val e1 = intercept[java.io.IOException] {
      ScaleUtils.compactParquetImpl(spark, dir, 128L * 1024 * 1024,
        (_, _, _) => false)
    }
    assert(e1.getMessage.contains("refused"))
    spark.catalog.refreshByPath(dir)
    assert(spark.read.parquet(dir)
      .select($"task_id", $"filename", $"nite".cast("string"))
      .collect().toSet == before, "live table untouched after refused swap")

    // second rename (tmp -> root) refused: must throw AND restore the
    // live table (never leave the path empty or nest tmp inside it)
    var calls = 0
    val e2 = intercept[java.io.IOException] {
      ScaleUtils.compactParquetImpl(spark, dir, 128L * 1024 * 1024,
        (fs, a, b) => { calls += 1; if (calls == 2) false else fs.rename(a, b) })
    }
    assert(e2.getMessage.contains("restored"))
    spark.catalog.refreshByPath(dir)
    assert(spark.read.parquet(dir)
      .select($"task_id", $"filename", $"nite".cast("string"))
      .collect().toSet == before, "live table restored after mid-swap failure")
  }

  test("compactParquet: '=' in an ancestor dir is not a partition column") {
    import spark.implicits._
    // an unpartitioned table living under .../run=7/... — the bogus
    // inference bug read 'run' as a partition column from the ancestor
    val root = java.nio.file.Files.createTempDirectory("compacteq")
    val dir = root.resolve("run=7").resolve("reg").toString
    (1 to 3).foreach { b =>
      Seq((b.toLong, s"f$b.fits")).toDF("task_id", "filename")
        .write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir).collect().toSet
    val (nBefore, nAfter) = ScaleUtils.compactParquet(spark, dir)
    assert(nBefore > nAfter)
    assert(spark.read.parquet(dir).collect().toSet == before)
    // no hive partition dirs fabricated from the ancestor segment
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("run=")))
  }

  test("compactParquet: a dir with no parquet files is a no-op, not a crash") {
    // an all-quarantined run creates the table dir with only _SUCCESS;
    // the stream's compaction hook must not die on it
    val dir = java.nio.file.Files.createTempDirectory("compactempty")
    java.nio.file.Files.createFile(dir.resolve("_SUCCESS"))
    assert(ScaleUtils.compactParquet(spark, dir.toString) == (0, 0))
  }

  test("hasParquetData / footerRowCount: one data-file rule, hidden trees excluded") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("datafiles")
    val dir = root.resolve("tbl").toString

    // absent dir and bare-dir-with-markers are both "no data" — the gate
    // every append-target read-back relies on (spark.read.parquet throws
    // on both layouts)
    assert(!ScaleUtils.hasParquetData(spark, dir), "absent dir has no data")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    assert(!ScaleUtils.hasParquetData(spark, dir), "_SUCCESS alone is not data")

    // a killed write's in-flight _temporary tree contains *.parquet files
    // that Spark's reader would never surface — the footer count and the
    // gate must skip them identically, or footerRowCount over-reports
    // vs the count() it stands in for
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write
      .mode("append").parquet(dir)
    val realCount = ScaleUtils.footerRowCount(spark, dir)
    assert(realCount == 2L)
    val tmp = java.nio.file.Paths.get(dir, "_temporary", "0")
    java.nio.file.Files.createDirectories(tmp)
    val stray = java.nio.file.Paths.get(
      new java.net.URI(spark.read.parquet(dir).inputFiles.head))
    java.nio.file.Files.copy(stray, tmp.resolve("part-inflight.parquet"))
    assert(ScaleUtils.footerRowCount(spark, dir) == realCount,
      "_temporary tree must not inflate the footer count")
    assert(ScaleUtils.hasParquetData(spark, dir))
    // and compaction sees the same file set (it would otherwise count the
    // in-flight copy as a live file and duplicate its rows on rewrite)
    ScaleUtils.compactParquet(spark, dir)
    assert(spark.read.parquet(dir).count() == 2L,
      "compaction must not absorb rows from the in-flight tree")
  }

  test("the listStatus walk finds the files listFiles found, and a file root by its own name") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileStatus, Path}
    import java.nio.file.{Files, Paths}
    val conf = spark.sparkContext.hadoopConfiguration
    // a hidden ancestor and an ancestor holding '=' above the table root
    val anc = Files.createTempDirectory("lister").resolve(".work").resolve("run=7")
    val tbl = anc.resolve("tbl")
    (1 to 2).foreach { b =>
      Seq((b.toLong, "20240101"), (b.toLong, "20240102")).toDF("id", "nite")
        .write.mode("append").partitionBy("nite").parquet(tbl.toString)
    }
    val part = Files.walk(tbl).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.createDirectories(tbl.resolve("_temporary/0/nite=20240103"))
    Files.copy(part, tbl.resolve("_temporary/0/nite=20240103/part-inflight.parquet"))
    Files.copy(part, tbl.resolve("nite=20240101/.hidden.parquet"))
    Files.write(tbl.resolve("notes.txt"), "x".getBytes)
    val single = anc.resolve("one.parquet")
    Files.copy(part, single)

    val fs = new Path(tbl.toString).getFileSystem(conf)
    def listed(root: java.nio.file.Path): Seq[FileStatus] = {
      val it = fs.listFiles(new Path(root.toString), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    // the data-file rule as it read over listFiles: no hidden segment
    // below the qualified root
    def oldRule(root: java.nio.file.Path): Set[String] = {
      val qualRoot = fs.makeQualified(new Path(root.toString)).toString
        .stripSuffix("/") + "/"
      listed(root).map(_.getPath.toString).filter { p =>
        p.endsWith(".parquet") && p.stripPrefix(qualRoot).split("/")
          .forall(s => !s.startsWith("_") && !s.startsWith("."))
      }.toSet
    }
    def walked(root: java.nio.file.Path): Set[String] =
      ScaleUtils.parquetDataFiles(fs, new Path(root.toString))
        .map(_.getPath.toString).toSet

    val data = walked(tbl)
    assert(data.size == 4 && data.forall(_.contains("/nite=2024010")), data)
    assert(data == oldRule(tbl))
    // a single-file root is judged by its own name: the hidden ancestor,
    // which the old rule's strip left in place, no longer hides it
    assert(oldRule(single).isEmpty)
    assert(walked(single) == Set(fs.makeQualified(new Path(single.toString)).toString))
    assert(ScaleUtils.footerRowCount(spark, single.toString) == 1L)
    assert(walked(anc.resolve("absent")).isEmpty)
    // unfiltered, the walk keys Tables' resolver: every file listFiles saw
    def key(sts: Seq[FileStatus]) =
      sts.map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
    assert(key(ScaleUtils.filesUnder(fs, new Path(tbl.toString)).toSeq) == key(listed(tbl)))
  }

  test("footerRowCount matches count() without running a job") {
    val dir = s"$sfDir/orders.parquet"
    val expected = graft.sources.Tables.orders(spark, sfDir).count()
    assert(ScaleUtils.footerRowCount(spark, dir) == expected)
  }

  test("collectAtMost: the bound's rows come back, bound+1 rows go to the loop") {
    import spark.implicits._
    // the driver cutovers' dispatch edge: the probe reads bound+1 rows
    val two = Seq(1L, 2L).toDF("id")
    assert(ScaleUtils.collectAtMost(two, 2).map(_.map(_.getLong(0)).toSet)
      .contains(Set(1L, 2L)))
    assert(ScaleUtils.collectAtMost(Seq(1L, 2L, 3L).toDF("id"), 2).isEmpty)
  }
}
