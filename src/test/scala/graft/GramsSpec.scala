package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** [[TextOps.grams]] against a plain Scala `sliding(n)` reference: every
  * width on both sides of the builder's form switch (2, 3, 10, 13),
  * arrays of 0, 1, n-1, n and n+7 tokens with repeats, the input given
  * both as a column reference and as an unmaterialized [[TextOps.toks]]
  * expression. From 10 on, a zip-shift slice of length
  * `Int.MaxValue - 8` overflows to an empty array, so those widths pin
  * the overflow away too. */
class GramsSpec extends SparkSpec {
  import spark.implicits._

  private val Widths = Seq(2, 3, 10, 13)

  /** n-gram reference: positional windows, duplicates kept, none below n
    * (Scala's `sliding` returns one short window there). */
  private def ref(t: Seq[String], n: Int): Seq[String] =
    if (t.length < n) Nil else t.sliding(n).map(_.mkString(" ")).toSeq

  /** Texts of 0, 1, n-1, n and n+7 tokens over a 3-word vocabulary (so
    * grams repeat), with doubled and edge spaces for toks to drop. */
  private def texts(n: Int): Seq[(Long, String)] =
    Seq(0, 1, n - 1, n, n + 7).distinct.zipWithIndex.map { case (len, i) =>
      val words = (0 until len).map(k => Seq("a", "bb", "a", "c")(k % 4))
      (i.toLong, words.mkString(" ", "  ", " "))
    }

  private def tokens(text: String): Seq[String] =
    text.split(" ").filter(_.nonEmpty).toSeq

  for (n <- Widths) test(s"grams($n) == sliding($n), column ref and toks expression") {
    val docs = texts(n).toDF("id", "text")
      .withColumn("t", TextOps.toks(col("text")))
    val want = texts(n).map { case (id, text) => id -> ref(tokens(text), n) }.toMap
    for ((form, arr) <- Seq("column" -> col("t"),
        "expression" -> TextOps.toks(col("text")))) {
      val got = docs.select(col("id"), TextOps.grams(arr, n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got == want, s"n=$n over a $form")
    }
  }

  for (n <- Widths) test(s"explodeNN over grams($n) emits exactly the reference rows") {
    val docs = texts(n).toDF("id", "text")
    val got = TextOps.explodeNN(docs, TextOps.grams(TextOps.toks(col("text")), n),
        "g", col("id"))
      .as[(Long, String)].collect().toSeq.sortBy(identity)
    val want = texts(n).flatMap { case (id, text) =>
      ref(tokens(text), n).map(id -> _) }.sortBy(identity)
    assert(want.nonEmpty && got == want, s"n=$n")
  }

  test("grams of a null array is null") {
    val got = Seq((1L, None: Option[String])).toDF("id", "text")
      .select(TextOps.grams(TextOps.toks(col("text")), 2).as("g2"),
        TextOps.grams(TextOps.toks(col("text")), 13).as("g13"))
      .head()
    assert(got.isNullAt(0) && got.isNullAt(1))
  }
}
