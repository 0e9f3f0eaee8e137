package graft.cardano

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The backfill DAGs (SURVEY §3 EP1/EP2), Spark-first.
  *
  * Reference shape: per-batch loops of four sequential stages, stitched
  * through the database (blocks → block_tx → tx → utxo;
  * `cardano_blocks_and_block_tx_pipeline_w_param.py`,
  * `cardano_transactions_full_pipeline_w_params.py`). Here each stage is
  * one DataFrame job; the cross-stage handoff is a direct DataFrame (the
  * raw zone is still materialized for audit parity); the DB-driven
  * fan-outs (Q3/Q4 `WHERE ... IN`) become joins against the loaded
  * tables. Batch loops stay driver loops over height ranges — the ranges
  * themselves are `spark.range` partitioned across the cluster.
  *
  * Idempotency: every warehouse write goes through
  * [[IdempotentSink.upsertParquet]] keyed on [[Schemas.conflictKeys]];
  * watermarks make re-runs skip completed work entirely. FK ordering
  * (parent before child — `s3_to_db_cardano_tx_utxo_pipeline.py:142-209`)
  * binds only what readers can see, so a stage that loads several tables
  * ([[runTransactions]]: transactions → output_amount; [[runUtxos]]:
  * `cardano_tx_utxo` → input, output → input_amount, output_amount)
  * STAGES all of their merge deltas as one concurrent group
  * ([[graft.core.Par]]; each delta reads only its own table's keys) and
  * then PUBLISHES them by rename in FK order, so no child table ever
  * commits before its parent. A failed stage publishes nothing. The
  * batch's watermarks are written after the last publish.
  */
final class Pipelines(
    spark: SparkSession,
    lake: Lake,
    warehouse: String,
    watermarks: Watermarks,
    backend: BlockfrostSource.Backend,
    batchSize: Int = 2000) {

  import spark.implicits._

  private def table(name: String): String = s"$warehouse/$name"

  /** Merge a batch into `tables`, listed parent before child: every
    * delta staged as one concurrent group, then published in list order.
    */
  private def load(tables: (DataFrame, String)*): Unit =
    graft.core.Par.all(tables.map { case (df, name) => () =>
      IdempotentSink.stage(spark, df, table(name), Schemas.conflictKeys(name))
    }: _*).foreach(IdempotentSink.publish(spark, _))

  /** A warehouse table, read under its declared schema (no inference). */
  def readTable(name: String): DataFrame =
    spark.read.schema(Schemas.warehouse(name)).parquet(table(name))

  /** Re-read exactly the batch directory the fetch just wrote (never a
    * whole-zone glob: re-scanning the full raw zone per batch is O(B²)
    * file opens over a B-batch backfill).
    */
  private def loadRawBatch(entity: String, endBlock: Long,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(lake.rawDir(entity, endBlock))

  /** Record a loaded batch's watermarks (K4): the block mark and the
    * lake→warehouse file mark, taken from the files actually loaded
    * (Q2 — one listing call, no Spark job). MUST run only after the
    * warehouse merge is published: recording first would mark a failed
    * load complete and make watermark-driven incremental readers (S7,
    * `readRawJsonSince`) skip the batch forever.
    */
  private def recordLoaded(entity: String, table: String, endBlock: Long): Unit =
    watermarks.recordBatch(table, endBlock,
      graft.core.Fs.latestModification(spark, lake.rawDir(entity, endBlock)))

  /** EP1 stage a+b: blocks → raw zone → DTO → warehouse merge. The fetch
    * fans out over `spark.range`; the watermark makes completed batches
    * no-ops on re-run.
    */
  def runBlocks(start: Long, end: Long): Unit = {
    val from = math.max(start, watermarks.highestExportedBlock("cardano_blocks") + 1)
    batches(from, end).foreach { case (a, b) =>
      val heights = spark.range(a, b + 1).map(java.lang.Long.valueOf(_))
      val raw = BlockfrostSource.fetchBlocks(heights, backend)
      lake.writeRawJson(raw, "blocks", b)
      val dto = Transforms.blockDto(loadRawBatch("blocks", b, Schemas.rawBlock))
      load(dto -> "cardano_blocks")
      recordLoaded("blocks", "cardano_blocks", b)
    }
  }

  /** EP1 stage c+d: block-transactions. */
  def runBlockTxs(start: Long, end: Long): Unit = {
    val from = math.max(start, watermarks.highestExportedBlock("cardano_block_transactions") + 1)
    batches(from, end).foreach { case (a, b) =>
      val heights = spark.range(a, b + 1).map(java.lang.Long.valueOf(_))
      val raw = BlockfrostSource.fetchBlockTxs(heights, backend)
      lake.writeRawJson(raw, "block_tx", b)
      val dto = Transforms.blockTransactionsDto(
        loadRawBatch("block_tx", b, Schemas.rawBlockTransactions))
      load(dto -> "cardano_block_transactions")
      recordLoaded("block_tx", "cardano_block_transactions", b)
    }
  }

  /** EP2 stage a+b: transactions. The hash fan-out reads the loaded
    * block_tx table for the height range (reference Q3's `WHERE block IN
    * (...)` — here a pushed-down range filter + explode of the native
    * array column).
    */
  def runTransactions(start: Long, end: Long): Unit = {
    val from = math.max(start, watermarks.highestExportedBlock("cardano_transactions") + 1)
    batches(from, end).foreach { case (a, b) =>
      val hashes = readTable("cardano_block_transactions")
        .filter(col("block").between(a, b))
        .select(explode(col("tx_hash")).as("hash"))
        .as[String]
      val raw = BlockfrostSource.fetchTransactions(hashes, backend)
      lake.writeRawJson(raw, "transactions", b)
      val raw0 = loadRawBatch("transactions", b, Schemas.rawTransaction)
      // the sixth entity: the raw batch's nested output_amount array,
      // exploded and published right after its parent (FK order) — the
      // table the reference declares but never loads (see
      // Transforms.transactionOutputAmountDto)
      load(Transforms.transactionDto(raw0) -> "cardano_transactions",
        Transforms.transactionOutputAmountDto(raw0) -> "cardano_tx_output_amount")
      recordLoaded("transactions", "cardano_transactions", b)
    }
  }

  /** EP2 stage c+d: UTXOs — fan out over loaded tx hashes (reference Q4),
    * normalize the nested docs (T4), stage the five tables at once and
    * publish them in FK order.
    */
  def runUtxos(start: Long, end: Long): Unit = {
    val from = math.max(start, watermarks.highestExportedBlock("cardano_tx_utxo") + 1)
    batches(from, end).foreach { case (a, b) =>
      val hashes = readTable("cardano_transactions")
        .filter(col("block_height").between(a, b))
        .select(col("hash")).as[String]
      val raw = BlockfrostSource.fetchTxUtxos(hashes, backend)
      lake.writeRawJson(raw, "transaction_utxo", b)
      val docs = loadRawBatch("transaction_utxo", b, Schemas.rawTxUtxo)
      val t = Transforms.normalizeUtxo(docs)
      load(t.utxo -> "cardano_tx_utxo",
        t.inputs -> "cardano_tx_utxo_input", t.outputs -> "cardano_tx_utxo_output",
        t.inputAmounts -> "cardano_tx_utxo_input_amount",
        t.outputAmounts -> "cardano_tx_utxo_output_amount")
      recordLoaded("transaction_utxo", "cardano_tx_utxo", b)
    }
  }

  /** Full EP1+EP2 backfill for a height range. */
  def runFull(start: Long, end: Long): Unit = {
    runBlocks(start, end)
    runBlockTxs(start, end)
    runTransactions(start, end)
    runUtxos(start, end)
  }

  private def batches(start: Long, end: Long): Seq[(Long, Long)] =
    if (start > end) Seq.empty
    else (start to end by batchSize).map(a => (a, math.min(a + batchSize - 1, end)))
}

/** The analytics the reference runs against the loaded star-ish schema
  * (SURVEY §2.4 Q6-Q8; `README.md:102-122`) as library functions over the
  * warehouse tables.
  */
object Analytics {

  /** Q6: top-10 protocols (reference scripts) by transaction count. */
  def topProtocolsByTxCount(txUtxoInput: DataFrame, k: Int = 10): DataFrame =
    txUtxoInput
      .filter(col("reference_script_hash").isNotNull)
      .groupBy(col("reference_script_hash"))
      .agg(count(lit(1)).as("tx_count"))
      .orderBy(col("tx_count").desc, col("reference_script_hash"))
      .limit(k)

  /** Q7: ingestion-gap audit — transactions with no UTXO input rows
    * (left anti-join).
    */
  def txMissingUtxo(transactions: DataFrame, txUtxoInput: DataFrame): DataFrame =
    transactions
      .join(txUtxoInput.select(col("hash")), Seq("hash"), "left_anti")
      .select(col("hash"), col("block_height"))
      .orderBy(col("block_height"), col("hash"))

  /** Q8 (completed placeholder): top-10 protocols by lovelace volume —
    * decimal-exact sum, input join input_amount on parent_id.
    */
  def topProtocolsByVolume(txUtxoInput: DataFrame, txUtxoInputAmount: DataFrame,
      k: Int = 10): DataFrame =
    txUtxoInput
      .filter(col("reference_script_hash").isNotNull)
      .select(col("id"), col("reference_script_hash"))
      .join(txUtxoInputAmount.filter(col("unit") === "lovelace")
        .select(col("parent_id").as("id"), col("quantity")), Seq("id"))
      .groupBy(col("reference_script_hash"))
      .agg(sum(col("quantity")).as("volume"))
      .orderBy(col("volume").desc, col("reference_script_hash"))
      .limit(k)
}
