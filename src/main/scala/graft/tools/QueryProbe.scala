package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{Bench, LocalSession, SparkEntry}

/** The interleaved A/B runner. Arms are declared query names
  * ([[SparkEntry.queries]]) or registered closures ([[extras]]). Every arm
  * runs once untimed; with two or more arms each must return the first
  * arm's rows (compared as an order-insensitive multiset) before anything
  * is timed. Then [[Rounds]] interleaved rounds run, the arm order
  * reversing every round so host drift hits all arms alike, and min /
  * median / max per arm is printed. Usage:
  *   runMain graft.tools.QueryProbe <sfDir> arm1 [arm2 ...]
  *
  * The formatted plan of a declared query is `graft.tools.PlanDump`'s;
  * plain timing of a query subset is `graft.Bench`'s
  * (`runMain graft.Bench q1 q2` writes BENCH_SUBSET.json).
  */
object QueryProbe {
  /** Odd, so the median is a true order statistic. */
  val Rounds = 9

  /** The `_hot` fixture relation (every even user folds onto id 0). */
  private def hotEvents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.events(s, d)
      .select(expr(graft.operators.ReconOps.HotUidSql).as("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"))
  }

  /** Product entry points that are not declared queries (auto-sized
    * variants etc.) but whose scale behavior the runner must measure. */
  val extras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_hubness_auto" -> ((s, d) => graft.operators.VectorOps.hubnessAuto(s, d)),
    "x_semdedup_auto" -> ((s, d) => graft.operators.DedupOps.semDedupAuto(s, d)),
    // plain-vs-salted A/B on the HOT-KEY remap — measures the salted
    // decomposition's payoff in the regime it exists for (the auto
    // queries only ever run ONE branch, so the loser is otherwise
    // never timed on skewed data)
    "x_sessionize_hot_plain" -> ((s, d) =>
      graft.operators.ReconOps.sessionizeOf(hotEvents(s, d))),
    "x_sessionize_hot_salted" -> ((s, d) =>
      graft.operators.ReconOps.sessionizeSaltedOf(hotEvents(s, d),
        graft.operators.ReconOps.AsofSaltBucketUs)))

  /** A frame's rows as a multiset (binary cells compared by content). */
  private def rowBag(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.map(r => Row.fromSeq(r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    })).groupMapReduce(identity)(_ => 1)(_ + _)

  /** Runs each arm once untimed, checks parity (two or more arms: a
    * mismatch throws before any timing), then `reps` interleaved timed
    * rounds. Per arm: `Right(reps timings)`, or `Left(error)` once the
    * arm throws — a failed arm is never timed again. */
  def ab(spark: SparkSession, arms: Seq[(String, () => DataFrame)],
      reps: Int): Seq[(String, Either[String, Seq[Double]])] = {
    val parity = arms.size > 1
    val bags = arms.map { case (_, mk) =>
      var bag = Map.empty[Row, Int]
      Bench.timedRep(spark) {
        if (parity) bag = rowBag(mk()) else Bench.sink(mk())
      }.map(_ => bag)
    }
    val ok = arms.map(_._1).zip(bags).collect { case (n, Right(b)) => n -> b }
    ok.drop(1).foreach { case (name, bag) =>
      require(bag == ok.head._2, s"parity: arm $name returns other rows " +
        s"than ${ok.head._1} (${bag.values.sum} vs ${ok.head._2.values.sum})")
    }
    if (parity && ok.size > 1)
      println(s"[probe] parity ok: ${ok.size} arms, " +
        s"${ok.head._2.values.sum} rows each")
    val times = bags.map(_.map(_ => Vector.empty[Double])).toArray
    (0 until reps).foreach { round =>
      val order = if (round % 2 == 0) arms.indices else arms.indices.reverse
      order.foreach { i =>
        times(i) = times(i).flatMap(ts =>
          Bench.timedRep(spark)(Bench.sink(arms(i)._2())).map(ts :+ _))
      }
    }
    arms.map(_._1).zip(times)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val all = SparkEntry.queries ++ extras
    val unknown = names.filterNot(all.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"usage: QueryProbe <sfDir> arm1 [arm2 ...] — arms are declared " +
        s"queries or ${extras.keys.toSeq.sorted.mkString(", ")}; " +
        s"unknown: ${unknown.mkString(", ")}")
    val spark = LocalSession()
    ab(spark, names.map(n => n -> (() => all(n)(spark, sfDir))), Rounds)
      .foreach {
        case (n, Right(ts)) => println(f"[probe] $n%-28s min ${ts.min}%.3f" +
          f"  med ${Bench.median(ts)}%.3f  max ${ts.max}%.3f s")
        case (n, Left(e)) => println(s"[probe] $n FAILED: $e")
      }
    spark.stop()
  }
}
