package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Provenance tasks — reference E3
  * (`create_task_save_DBB_stagein_to_DBB.py:35-39`, SURVEY.md §3.E3):
  * a lineage root is created once per deployment; every ingested row and
  * every dead-letter row is stamped with its `task_id` (save:280, 345).
  *
  * Spark shape: a small `tasks` parquet registry; `createTask` appends a
  * row and returns the id; the ingest pipeline carries the id as a
  * literal column (lineage column), so per-row provenance is a free
  * equi-join against `tasks` at query time.
  */
object Provenance {

  /** Bound on id-claim retries in [[createTask]] — distinguishes a
    * contended sequence (each retry advances past a concurrently
    * claimed id) from a filesystem that fails every create. */
  val MaxIdClaimAttempts = 1000

  /** Append a new task row and return its id. Mirrors create_task +
    * FILE_REGISTRATION insert; the "registration" here is the task row
    * itself plus the prov message.
    *
    * Concurrency: ids are CLAIMED, not guessed — the max+1 seed is only
    * a starting point, and the claim is an atomic
    * `create(path, overwrite = false)` of a marker under
    * `$tasksDir/_ids/`; a concurrent creator that claimed the same id
    * raises FileAlreadyExists and this creator advances to the next id.
    * Atomic-create holds on the filesystems the reference ran against
    * (local, HDFS; also ABFS) — an object store without conditional
    * create still needs an external sequence, as before. Single-writer
    * behavior is unchanged (seed id claims on the first try). */
  def createTask(spark: SparkSession, tasksDir: String, name: String,
      provMsg: String): Long = {
    val existing = loadTasks(spark, tasksDir)
    val seed = existing.agg(coalesce(max(col("task_id")), lit(0L)))
      .head().getLong(0) + 1
    val idsDir = new org.apache.hadoop.fs.Path(s"$tasksDir/_ids")
    val fs = idsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(idsDir)
    var id = seed
    var claimed = false
    var attempts = 0
    while (!claimed) {
      attempts += 1
      require(attempts <= MaxIdClaimAttempts,
        s"could not claim a task id after $MaxIdClaimAttempts attempts " +
          s"(from seed $seed) — filesystem refusing atomic creates?")
      val marker = new org.apache.hadoop.fs.Path(idsDir, s"id-$id")
      try {
        // Hadoop's LOCAL create(overwrite = false) is check-then-act —
        // two racers can both pass the exists() probe (observed in the
        // concurrent spec). O_CREAT|O_EXCL via java.nio IS atomic on
        // the local filesystem; HDFS/ABFS create is atomic at the
        // namenode and takes the Hadoop path.
        if (fs.getScheme == "file")
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(marker.toUri.getPath))
        else fs.create(marker, false).close()
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => id += 1
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => id += 1
        // some FS impls signal an existing target with a plain
        // IOException rather than the typed subclass
        case _: java.io.IOException if fs.exists(marker) => id += 1
      }
    }
    // the row lands via stage-then-rename, NOT a shared-directory
    // append: concurrent appends to one target share a
    // `_temporary/0/` staging dir and one job's commit deletes it
    // under the other (observed as FileNotFound on the part file in
    // the concurrent spec). Each task stages under its own id-unique
    // dir and the commit is a single atomic file rename.
    import spark.implicits._
    val stage = new org.apache.hadoop.fs.Path(s"$tasksDir/_stage/id-$id")
    Seq((id, name, provMsg))
      .toDF("task_id", "name", "prov_msg")
      .withColumn("created_at", current_timestamp())
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val target = new org.apache.hadoop.fs.Path(tasksDir, s"task-$id.parquet")
    // a prior attempt that crashed between rename and stage cleanup can
    // leave a stale target, and some FS impls report rename-onto-existing
    // as a silent `false` — which would return the id WITHOUT recording
    // the row. Clear any stale target (the id marker guarantees no OTHER
    // writer owns it), then require the rename to actually succeed.
    if (fs.exists(target)) fs.delete(target, false)
    require(fs.rename(part, target),
      s"provenance commit failed: rename $part -> $target returned false")
    fs.delete(stage, true)
    id
  }

  def loadTasks(spark: SparkSession, tasksDir: String): DataFrame = {
    // Gate on actual parquet data, not bare dir existence: a createTask
    // killed mid-append leaves only `_temporary/` (or _SUCCESS), and
    // spark.read.parquet on that dir throws — which would permanently
    // brick task creation. Shared rule with every other append-target
    // table (ScaleUtils.hasParquetData); Hadoop FS probe, so the tasks
    // table may live on HDFS/S3 (java.nio only sees local paths).
    // createTask writes every row, so the table is read under its known
    // schema (no schema-inference job)
    if (graft.functions.ScaleUtils.hasParquetData(spark, tasksDir))
      spark.read
        .schema("task_id BIGINT, name STRING, prov_msg STRING, created_at TIMESTAMP")
        .parquet(tasksDir)
    else {
      import spark.implicits._
      Seq.empty[(Long, String, String)].toDF("task_id", "name", "prov_msg")
        .withColumn("created_at", current_timestamp())
    }
  }
}
