package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session — one per suite (lazy), [[LocalSession]] at a fixed 4
  * cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession(4)

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusAccess.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }
}
