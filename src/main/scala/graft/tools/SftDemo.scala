package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{ChatOps, CurationOps}

/** Usage example / smoke driver for the SFT surface end to end — the
  * last mile between a curated corpus and an instruction-tuning run:
  * conversation synthesis → role-alternation admission → loss-mask
  * token accounting → ChatML render → sequence packing → shard export.
  * Run: sbt "runMain graft.tools.SftDemo [sfDir]" */
object SftDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession()

    // 1. admission: only structurally valid conversations train
    val valid = ChatOps.chatValidate(spark, sfDir)
    println("[demo] admission gate verdicts:")
    valid.groupBy(col("valid")).agg(count(lit(1)).as("n"))
      .orderBy(col("valid")).show(false)
    val admitted = valid.where(col("valid")).select(col("doc_id"))

    // 2. loss-mask accounting over the admitted set — the token budget
    //    an SFT run plans with
    val mask = ChatOps.lossMask(spark, sfDir)
      .join(admitted, Seq("doc_id"))
    println("[demo] admitted token budget (assistant-only mask):")
    mask.agg(count(lit(1)).as("n_convs"),
      sum(col("n_tok_total")).as("total_toks"),
      sum(col("n_tok_loss")).as("loss_toks"),
      expr("CAST(sum(n_tok_loss) * 100 div sum(n_tok_total) AS INT)")
        .as("mask_density_pct")).show(false)

    // 3. render census (the exact bytes a tokenizer would consume)
    println("[demo] render census (first 5 admitted):")
    ChatOps.chatRender(spark, sfDir).join(admitted, Seq("doc_id"))
      .orderBy(col("doc_id")).show(5, false)

    // 4. pack admitted conversations into training sequences
    println("[demo] per-language packing report:")
    ChatOps.chatPack(spark, sfDir).orderBy(col("lang")).show(false)

    // 5. shard export of the admitted set (the trainer's input files)
    val shardDir = java.nio.file.Files.createTempDirectory("sftdemo").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .join(admitted, Seq("doc_id"))
    CurationOps.writeTrainingShards(spark, docs, shardDir, shards = 4)
    println(s"[demo] shard audit under $shardDir:")
    CurationOps.auditTrainingShards(spark, shardDir)
      .orderBy(col("shard")).show(false)

    spark.stop()
  }
}
