package graft.functions

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-JVM materialize-once cache for the `q_prod_*` twins (ADVICE r12):
  * the prod queries serve derivative reports from a STORED parquet table
  * written once per corpus dir, and this object owns the once-ness.
  *
  *  1. **Content-keyed**: the cache key includes a fingerprint of the
  *     corpus dir (relative path + size + mtime of every data file), so
  *     a dir whose contents change within a JVM re-materializes instead
  *     of silently serving stale tables.
  *  2. **Cleaned up**: a shutdown hook removes every temp dir this cache
  *     creates, so repeated JVMs leak no `graft_*` directories.
  *  3. **Scoped**: the local-temp-path design is a LOCAL-MODE harness
  *     convenience — the declared-query gate requires each query to be
  *     self-contained, so the "stored table" must be synthesized inside
  *     the JVM. A real cluster deployment runs
  *     [[graft.operators.CurationOps.curationRun]] against an EXPLICIT
  *     shared `outDir` on distributed storage and serves the `*From`
  *     entry points from there.
  *
  * A table you wrote comes back from the call that wrote it: [[table]]
  * writes through [[ScaleUtils.stored]] and keeps the written schema
  * with the path, so its callers neither write nor read parquet, and a
  * warm hit starts no Spark job. [[getOrWrite]] is the primitive under
  * it, for a build that writes several tables into one directory.
  */
object MaterializeCache {
  // CompletableFuture memoization, NOT computeIfAbsent(write): the write
  // callbacks nest (prodCurationFunnel's stage lambda calls
  // materializedGroups, which is itself a getOrWrite on "prod_groups"),
  // and computeIfAbsent's contract forbids touching other mappings of the
  // same map from inside the mapping function — two keys landing in one
  // bin would throw IllegalStateException("Recursive update") (ADVICE
  // r13). putIfAbsent reserves the key without holding any bin lock, so
  // the write runs unlocked and may freely getOrWrite OTHER keys; a
  // concurrent caller of the same key blocks on the future instead.
  private val cache =
    new ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[String]]()
  private val created = ConcurrentHashMap.newKeySet[Path]()
  /** The schema each [[table]] was written with, by its path. */
  private val schemas = new ConcurrentHashMap[String, StructType]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach(p => deleteRecursively(p))
  }, "graft-materialize-cache-cleanup"))

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p))
        Files.list(p).forEach(c => deleteRecursively(c))
      Files.deleteIfExists(p)
    } catch { case _: Throwable => () }

  /** Cheap content fingerprint of a local corpus dir: md5 over the
    * sorted (relative-path, size, mtime) triples of every regular file.
    * Never reads file bytes — at any corpus size this is one directory
    * walk of metadata, and parquet writers always bump size/mtime. */
  private[graft] def fingerprint(dir: String): String = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return "absent"
    val md = java.security.MessageDigest.getInstance("MD5")
    val files = {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      finally s.close()
    }
    files.map { p =>
      s"${root.relativize(p)}|${Files.size(p)}|" +
        s"${Files.getLastModifiedTime(p).toMillis}"
    }.sorted.foreach(line => md.update((line + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The materialized-table dir for (`tag`, `dir`, current contents):
    * on first call per key, creates a temp dir, runs `write` into it,
    * and registers it for shutdown cleanup; later calls with an
    * unchanged corpus return the same path instantly. `write` runs at
    * most once per key (computeIfAbsent's contract). */
  def getOrWrite(tag: String, dir: String)(write: String => Unit): String = {
    val key = s"$tag|$dir|${fingerprint(dir)}"
    // Retry loop (ADVICE r14): a waiter blocked on a future whose write
    // FAILS must loop back to putIfAbsent and attempt the write itself —
    // computeIfAbsent semantics, where a failed mapping is discarded and
    // the next caller recomputes — rather than rethrowing the loser's
    // error. The failing writer still sees its own original exception.
    while (true) {
      val fresh = new java.util.concurrent.CompletableFuture[String]()
      val prior = cache.putIfAbsent(key, fresh)
      if (prior == null) {
        try {
          val out = Files.createTempDirectory(s"graft_$tag")
          created.add(out)
          write(out.toString)
          fresh.complete(out.toString)
          return out.toString
        } catch {
          case t: Throwable =>
            cache.remove(key, fresh) // let a later caller retry the write
            fresh.completeExceptionally(t)
            throw t
        }
      } else {
        try return prior.join()
        catch {
          case _: java.util.concurrent.CompletionException
             | _: java.util.concurrent.CancellationException =>
            () // the writer we waited on failed; loop and retry
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The table `build` produces for (`tag`, `dir`, current contents),
    * written once through [[getOrWrite]] and read back under the schema
    * it was written with. `build` runs only on the first call per key,
    * and may itself read other tables of this cache; a warm hit reads
    * the stored table and starts no Spark job. */
  def table(tag: String, dir: String)(build: => DataFrame): DataFrame = {
    val path = getOrWrite(tag, dir) { out =>
      schemas.put(out, ScaleUtils.stored(build, out).schema)
    }
    SparkSession.active.read.schema(schemas.get(path)).parquet(path)
  }
}
