package graft.cardano

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Every warehouse read declares its schema ([[Schemas.warehouse]]), so
  * the DTOs that write the tables must produce exactly that schema: a
  * read with a declared schema turns a renamed column into silent
  * nulls, and a changed type into a failed scan.
  */
class WarehouseSchemaSpec extends SparkSpec {

  /** Names, order and types (nullability is not kept by parquet reads). */
  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  private lazy val dtos: Map[String, DataFrame] = {
    import spark.implicits._
    val fx = new BlockfrostSource.FixtureBackend
    def raw(schema: StructType, json: Seq[String]) =
      spark.read.schema(schema).json(json.toDS())
    val h = 5L // carries two transactions
    val hashes = spark.read.schema(Schemas.rawBlockTransactions)
      .json(fx.blockTxs(h).toSeq.toDS()).head().getSeq[String](1)
    val txs = raw(Schemas.rawTransaction, hashes.flatMap(fx.tx))
    val utxo = Transforms.normalizeUtxo(raw(Schemas.rawTxUtxo, hashes.flatMap(fx.txUtxo)))
    Map(
      "cardano_blocks" -> Transforms.blockDto(raw(Schemas.rawBlock, fx.block(h).toSeq)),
      "cardano_block_transactions" ->
        Transforms.blockTransactionsDto(raw(Schemas.rawBlockTransactions, fx.blockTxs(h).toSeq)),
      "cardano_transactions" -> Transforms.transactionDto(txs),
      "cardano_tx_output_amount" -> Transforms.transactionOutputAmountDto(txs),
      "cardano_tx_utxo" -> utxo.utxo,
      "cardano_tx_utxo_input" -> utxo.inputs,
      "cardano_tx_utxo_input_amount" -> utxo.inputAmounts,
      "cardano_tx_utxo_output" -> utxo.outputs,
      "cardano_tx_utxo_output_amount" -> utxo.outputAmounts)
  }

  test("each DTO's output is its warehouse table's declared schema") {
    assert(dtos.keySet == Schemas.warehouse.keySet)
    dtos.foreach { case (t, df) =>
      assert(shape(df.schema) == shape(Schemas.warehouse(t)), t)
    }
  }

  test("a renamed DTO column breaks the match and reads back as null") {
    val renamed = dtos("cardano_blocks").withColumnRenamed("fees", "fee")
    assert(shape(renamed.schema) != shape(Schemas.blocks))
    val path = tmpDir("schema") + "/t"
    renamed.write.parquet(path)
    val back = spark.read.schema(Schemas.blocks).parquet(path)
    assert(back.count() == 1 && back.head().isNullAt(back.schema.fieldIndex("fees")))
  }
}
