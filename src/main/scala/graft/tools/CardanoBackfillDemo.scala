package graft.tools

import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.cardano._

/** Runnable end-to-end demo of the cardano backfill (EP1+EP2 over the
  * offline fixture chain): lake + warehouse under a scratch dir, full
  * DAG, then the reference's analytics (Q6-Q8) over the loaded tables.
  *
  * Usage: runMain graft.tools.CardanoBackfillDemo [startHeight endHeight]
  */
object CardanoBackfillDemo {
  def main(args: Array[String]): Unit = {
    val (start, end) =
      if (args.length >= 2) (args(0).toLong, args(1).toLong) else (1L, 200L)
    val spark = graft.core.Session.local(8)

    val root = java.nio.file.Files.createTempDirectory("cardano_demo").toString
    println(s"[demo] working under $root")
    val pipelines = new Pipelines(
      spark,
      new Lake(spark, s"$root/lake"),
      s"$root/warehouse",
      new Watermarks(spark, s"$root/status"),
      new BlockfrostSource.FixtureBackend,
      batchSize = 50)

    pipelines.runFull(start, end)

    Seq("cardano_blocks", "cardano_block_transactions", "cardano_transactions",
      "cardano_tx_output_amount",
      "cardano_tx_utxo", "cardano_tx_utxo_input", "cardano_tx_utxo_input_amount",
      "cardano_tx_utxo_output", "cardano_tx_utxo_output_amount")
      .foreach(t => println(f"[demo] $t%-34s ${pipelines.readTable(t).count()}%8d rows"))

    println("[demo] tx output_amount per-unit rollup (the sixth entity):")
    pipelines.readTable("cardano_tx_output_amount")
      .groupBy(col("unit"))
      .agg(count(lit(1)).as("n_outputs"), sum(col("quantity")).as("volume"))
      .orderBy(col("unit"))
      .show(truncate = false)

    val in = pipelines.readTable("cardano_tx_utxo_input")
    val inAmt = pipelines.readTable("cardano_tx_utxo_input_amount")
    val txs = pipelines.readTable("cardano_transactions")
    println("[demo] Q6 top protocols by tx count:")
    Analytics.topProtocolsByTxCount(in, 5).show(truncate = false)
    println("[demo] Q7 txs missing UTXO rows: " +
      Analytics.txMissingUtxo(txs, in).count())
    println("[demo] Q8 top protocols by lovelace volume:")
    Analytics.topProtocolsByVolume(in, inAmt, 5).show(truncate = false)
    spark.stop()
  }
}
