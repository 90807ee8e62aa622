package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session — one per suite (lazy), [[LocalSession]] at a fixed 4
  * cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession(4)

  val sfDir = "/root/testdata/sf0.001"
}
