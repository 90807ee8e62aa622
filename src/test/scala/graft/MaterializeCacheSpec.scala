package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import graft.functions.{MaterializeCache, ScaleUtils}

/** [[graft.functions.MaterializeCache]] — the once-per-(tag, corpus
  * state) materialize registry behind every `q_prod_*` twin. Pins the
  * ADVICE r13 fix: a write callback may NEST another getOrWrite on a
  * different key (a build that reads another cached table from inside
  * its own write), which the earlier computeIfAbsent form forbade —
  * CHM's contract disallows updating other mappings from inside the
  * mapping function and throws IllegalStateException("Recursive update")
  * when the two keys share a bin. The CompletableFuture reservation
  * pattern runs the write unlocked, so nesting is always legal. The key's
  * corpus state is [[graft.functions.ScaleUtils.fileState]], on any
  * filesystem scheme. */
class MaterializeCacheSpec extends AnyFunSuite {

  private def tmpCorpus(): String = {
    val d = Files.createTempDirectory("graft_mc_spec")
    Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    d.toFile.deleteOnExit()
    d.toString
  }

  test("write runs once per key; second call returns the same path") {
    val dir = tmpCorpus()
    var writes = 0
    val p1 = MaterializeCache.getOrWrite("spec_once", dir) { _ => writes += 1 }
    val p2 = MaterializeCache.getOrWrite("spec_once", dir) { _ => writes += 1 }
    assert(writes == 1)
    assert(p1 == p2)
  }

  test("nested getOrWrite from inside a write callback is legal") {
    val dir = tmpCorpus()
    var innerWrites = 0
    var innerPath: String = null
    val outer = MaterializeCache.getOrWrite("spec_outer", dir) { out =>
      // the outer materialize depends on another cached table and
      // resolves it from inside its own write
      innerPath = MaterializeCache.getOrWrite("spec_inner", dir) { _ =>
        innerWrites += 1
      }
      Files.write(java.nio.file.Paths.get(out, "marker"),
        innerPath.getBytes("UTF-8"))
    }
    assert(innerWrites == 1)
    assert(innerPath != null && innerPath != outer)
    // the inner key is properly cached, not just tolerated
    val again = MaterializeCache.getOrWrite("spec_inner", dir) { _ =>
      innerWrites += 1
    }
    assert(innerWrites == 1)
    assert(again == innerPath)
  }

  test("a failed write releases the key so a later caller retries") {
    val dir = tmpCorpus()
    var attempts = 0
    intercept[RuntimeException] {
      MaterializeCache.getOrWrite("spec_fail", dir) { _ =>
        attempts += 1; throw new RuntimeException("boom")
      }
    }
    MaterializeCache.getOrWrite("spec_fail", dir) { _ => attempts += 1 }
    assert(attempts == 2)
  }

  test("a waiter blocked on a failing writer retries the write itself " +
      "instead of rethrowing the loser's error (ADVICE r14)") {
    val dir = tmpCorpus()
    val writerEntered = new java.util.concurrent.CountDownLatch(1)
    val waiterBlocked = new java.util.concurrent.CountDownLatch(1)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => {
      intercept[RuntimeException] {
        MaterializeCache.getOrWrite("spec_waiter", dir) { _ =>
          attempts.incrementAndGet()
          writerEntered.countDown()
          // hold the key until the waiter is provably blocked on it
          assert(waiterBlocked.await(10,
            java.util.concurrent.TimeUnit.SECONDS))
          throw new RuntimeException("writer boom")
        }
      }
    })
    writer.start()
    assert(writerEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
    @volatile var waiterResult: String = null
    val waiter = new Thread(() => {
      // second caller: lands on the in-flight future, sees its
      // failure, and must RETRY (computeIfAbsent semantics), not throw
      waiterResult = MaterializeCache.getOrWrite("spec_waiter", dir) {
        _ => attempts.incrementAndGet()
      }
    })
    waiter.start()
    Thread.sleep(200) // let the waiter reach join() on the live future
    waiterBlocked.countDown()
    writer.join(10000); waiter.join(10000)
    assert(waiterResult != null, "the waiter must recover with a path")
    assert(attempts.get == 2, "writer failed once, waiter rewrote once")
  }

  test("content fingerprint changes when the corpus dir changes") {
    val dir = tmpCorpus()
    val conf = new Configuration()
    val f1 = ScaleUtils.fileState(dir, conf)
    Files.write(java.nio.file.Paths.get(dir, "part-1.parquet"),
      Array[Byte](9))
    val f2 = ScaleUtils.fileState(dir, conf)
    assert(f1 != f2)
    assert(ScaleUtils.fileState(dir + "-absent", conf).isEmpty)
  }

  test("a corpus given as a file: URI that is rewritten is written again") {
    val dir = tmpCorpus()
    val uri = java.nio.file.Paths.get(dir).toUri.toString
    var writes = 0
    MaterializeCache.getOrWrite("spec_uri", uri) { _ => writes += 1 }
    MaterializeCache.getOrWrite("spec_uri", uri) { _ => writes += 1 }
    assert(writes == 1)
    Files.write(java.nio.file.Paths.get(dir, "part-0.parquet"),
      Array[Byte](4, 5, 6, 7))
    MaterializeCache.getOrWrite("spec_uri", uri) { _ => writes += 1 }
    assert(writes == 2, "a rewritten corpus must not be served stale tables")
  }
}
