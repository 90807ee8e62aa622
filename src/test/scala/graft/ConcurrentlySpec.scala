package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.functions.Concurrently

/** The one driver-side concurrency helper with thunks of any type: the
  * monitor's sections are frames, ingest's registration appends are
  * `Unit` writes. */
class ConcurrentlySpec extends SparkSpec {

  test("Unit writes run as one wave; the caller's local property reaches every job") {
    import spark.implicits._
    val sc = spark.sparkContext
    val key = "graft.test.concurrently.caller"
    val seen = mutable.ArrayBuffer.empty[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(job.properties).flatMap(p => Option(p.getProperty(key)))
      }
    }
    val root = Files.createTempDirectory("concurrently")
    val dirs = (0 until 3).map(i => root.resolve(s"t$i").toString)
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "wave-1")
    val out =
      try {
        val units = Concurrently.all(spark, dirs.zipWithIndex.map { case (d, i) =>
          () => Seq(i.toLong).toDF("id").write.parquet(d)
        })
        ListenerBusAccess.drain(sc)
        units
      } finally {
        sc.setLocalProperty(key, null)
        sc.removeSparkListener(listener)
      }
    assert(out.size == 3)
    assert(dirs.zipWithIndex.forall { case (d, i) =>
      spark.read.schema("id LONG").parquet(d).as[Long].collect().toSeq == Seq(i.toLong)
    })
    assert(seen.size >= 3, s"${seen.size} jobs for three writes")
    assert(seen.forall(_.contains("wave-1")),
      s"${seen.count(!_.contains("wave-1"))} of ${seen.size} jobs lost the property")
  }
}
