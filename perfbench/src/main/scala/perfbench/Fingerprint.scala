package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprints of outputs, compared with the stored
  * expected fingerprints (`expected.tsv`: key, then value). */
object Fingerprint {

  /** Row count plus the sum of per-row xxhash64 values, exact in
    * decimal. Doubles are rounded to 6 places and complex values go
    * through JSON, so the hash does not depend on row order, partial
    * aggregation shape, or a map's entry order. */
  def of(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$h"
  }

  def ofText(s: String): String = IngestGen.md5hex(s.getBytes("UTF-8"))

  def load(path: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
}

/** Compares fingerprints with the expected set, or records them when the
  * benchmark runs with `--record`. */
final class Expected(path: java.nio.file.Path, record: Boolean) {
  private val known = Fingerprint.load(path)
  private val recorded = scala.collection.mutable.TreeMap.empty[String, String]

  def check(key: String, actual: String): Option[String] =
    if (record) recorded.put(key, actual) match {
      // a key seen twice in one recording run must read the same both times
      case Some(before) if before != actual =>
        Some(s"$key: fingerprint $actual, earlier in this run $before")
      case _ => None
    }
    else known.get(key) match {
      case Some(want) if want == actual => None
      case Some(want) => Some(s"$key: fingerprint $actual, expected $want")
      case None => Some(s"$key: no expected fingerprint stored")
    }

  /** Writes the recorded fingerprints over the file, keeping entries of
    * other workloads. */
  def save(): Unit = if (record) {
    val all = known ++ recorded
    val body = all.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
    java.nio.file.Files.write(path,
      ("# key\trows:hash (tables) or md5 (pages)\n" + body.mkString("\n") + "\n")
        .getBytes("UTF-8"))
  }
}
