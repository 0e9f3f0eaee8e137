package graft.cardano

import org.apache.spark.sql.types._

/** Entity schemas for the Cardano lakehouse — one `StructType` per entity,
  * shared by readers, writers and encoders (schema-on-read with explicit
  * schema, never inference; SURVEY §1.1).
  *
  * Shapes mirror the reference's pydantic/SQLAlchemy double declaration
  * collapsed into one source of truth:
  *  - raw API records: `/root/reference/src/models/blockfrost_models/
  *    raw_cardano_blocks.py:4-25`, `raw_cardano_transactions.py:10-44`,
  *    `cardano_transaction_utxo.py:5-52`
  *  - relational DDL: `/root/reference/database_management/cardano/
  *    cardano_tables.py:22-244`
  *
  * Type decisions (SURVEY §1.3):
  *  - heights/slots: LongType (IntegerType in the reference DDL — unsafe
  *    at chain scale, documented deviation);
  *  - on-chain amounts (`output`, `fees`, `deposit`, `quantity`): ingest
  *    StringType (Blockfrost returns strings), cast DecimalType(38,0) in
  *    DTOs — `cardano_tables.py:112,169,211` Numeric(38,0); NEVER double;
  *  - unix seconds → TimestampType under UTC session tz
  *    (`cardano_blocks.py:36`);
  *  - surrogate keys: deterministic sha2-based StringType, not uuid4 —
  *    replays dedup correctly (SURVEY §7.3, deviation from
  *    `cardano_transactions_utxo_dto.py:61-65`).
  */
object Schemas {

  // ---- raw zone (API-shaped) -------------------------------------------

  /** GET /blocks/{height} — raw_cardano_blocks.py:4-25. */
  val rawBlock: StructType = StructType(Seq(
    StructField("time", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("slot", LongType, nullable = false),
    StructField("epoch", LongType, nullable = true),
    StructField("epoch_slot", LongType, nullable = true),
    StructField("slot_leader", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("tx_count", LongType, nullable = false),
    StructField("output", StringType, nullable = true),
    StructField("fees", StringType, nullable = true),
    StructField("block_vrf", StringType, nullable = true),
    StructField("op_cert", StringType, nullable = true),
    StructField("op_cert_counter", StringType, nullable = true),
    StructField("previous_block", StringType, nullable = true),
    StructField("next_block", StringType, nullable = true),
    StructField("confirmations", LongType, nullable = false)))

  /** GET /blocks/{height}/txs wrapped with height —
    * cardano_block_transactions.py:4-24.
    */
  val rawBlockTransactions: StructType = StructType(Seq(
    StructField("block_height", LongType, nullable = false),
    StructField("tx_hash", ArrayType(StringType, containsNull = false), nullable = false)))

  /** GET /txs/{hash} — raw_cardano_transactions.py:10-44. */
  val rawTransaction: StructType = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("block", StringType, nullable = false),
    StructField("block_height", LongType, nullable = false),
    StructField("block_time", LongType, nullable = false),
    StructField("slot", LongType, nullable = false),
    StructField("index", LongType, nullable = false),
    StructField("output_amount", ArrayType(StructType(Seq(
      StructField("unit", StringType, nullable = false),
      StructField("quantity", StringType, nullable = false))), containsNull = false),
      nullable = true),
    StructField("fees", StringType, nullable = false),
    StructField("deposit", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("invalid_before", StringType, nullable = true),
    StructField("invalid_hereafter", StringType, nullable = true),
    StructField("utxo_count", LongType, nullable = false),
    StructField("withdrawal_count", LongType, nullable = false),
    StructField("mir_cert_count", LongType, nullable = false),
    StructField("delegation_count", LongType, nullable = false),
    StructField("stake_cert_count", LongType, nullable = false),
    StructField("pool_update_count", LongType, nullable = false),
    StructField("pool_retire_count", LongType, nullable = false),
    StructField("asset_mint_or_burn_count", LongType, nullable = false),
    StructField("redeemer_count", LongType, nullable = false),
    StructField("valid_contract", BooleanType, nullable = false)))

  private val amount = StructType(Seq(
    StructField("unit", StringType, nullable = false),
    StructField("quantity", StringType, nullable = false)))

  /** GET /txs/{hash}/utxos — cardano_transaction_utxo.py:5-52 (nested
    * inputs/outputs each with nested amounts).
    */
  val rawTxUtxo: StructType = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("inputs", ArrayType(StructType(Seq(
      StructField("address", StringType, nullable = false),
      StructField("amount", ArrayType(amount, containsNull = false), nullable = false),
      StructField("tx_hash", StringType, nullable = false),
      StructField("output_index", LongType, nullable = false),
      StructField("data_hash", StringType, nullable = true),
      StructField("inline_datum", StringType, nullable = true),
      StructField("reference_script_hash", StringType, nullable = true),
      StructField("collateral", BooleanType, nullable = false),
      StructField("reference", BooleanType, nullable = true))), containsNull = false),
      nullable = false),
    StructField("outputs", ArrayType(StructType(Seq(
      StructField("address", StringType, nullable = false),
      StructField("amount", ArrayType(amount, containsNull = false), nullable = false),
      StructField("output_index", LongType, nullable = false),
      StructField("data_hash", StringType, nullable = true),
      StructField("inline_datum", StringType, nullable = true),
      StructField("collateral", BooleanType, nullable = false),
      StructField("reference_script_hash", StringType, nullable = true),
      StructField("consumed_by_tx", StringType, nullable = true))), containsNull = false),
      nullable = false)))

  // ---- warehouse zone (DTO/table-shaped) -------------------------------

  val lovelace: DecimalType = DecimalType(38, 0)

  /** cardano_blocks — cardano_tables.py:22-48 (PK height). */
  val blocks: StructType = StructType(Seq(
    StructField("time", TimestampType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("slot", LongType, nullable = false),
    StructField("epoch", LongType, nullable = true),
    StructField("epoch_slot", LongType, nullable = true),
    StructField("slot_leader", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("tx_count", LongType, nullable = false),
    StructField("output", lovelace, nullable = true),
    StructField("fees", lovelace, nullable = true),
    StructField("block_vrf", StringType, nullable = true),
    StructField("op_cert", StringType, nullable = true),
    StructField("op_cert_counter", StringType, nullable = true),
    StructField("previous_block", StringType, nullable = true),
    StructField("next_block", StringType, nullable = true),
    StructField("confirmations", LongType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_block_transactions — cardano_tables.py:50-63 (PK block;
    * tx_hash is a native array, no CSV munging — SURVEY §2.2 K5).
    */
  val blockTransactions: StructType = StructType(Seq(
    StructField("block", LongType, nullable = false),
    StructField("tx_hash", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_transactions — cardano_tables.py:65-99 (PK hash; DTO drops
    * nested output_amount, cardano_transactions.py:22).
    */
  val transactions: StructType = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("block", StringType, nullable = false),
    StructField("block_height", LongType, nullable = false),
    StructField("block_time", TimestampType, nullable = false),
    StructField("slot", LongType, nullable = false),
    StructField("index", LongType, nullable = false),
    StructField("fees", lovelace, nullable = false),
    StructField("deposit", lovelace, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("invalid_before", StringType, nullable = true),
    StructField("invalid_hereafter", StringType, nullable = true),
    StructField("utxo_count", LongType, nullable = false),
    StructField("withdrawal_count", LongType, nullable = false),
    StructField("mir_cert_count", LongType, nullable = false),
    StructField("delegation_count", LongType, nullable = false),
    StructField("stake_cert_count", LongType, nullable = false),
    StructField("pool_update_count", LongType, nullable = false),
    StructField("pool_retire_count", LongType, nullable = false),
    StructField("asset_mint_or_burn_count", LongType, nullable = false),
    StructField("redeemer_count", LongType, nullable = false),
    StructField("valid_contract", BooleanType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_tx_output_amount — cardano_tables.py:101-119. The
    * reference DECLARES this table but never populates it: its DTO is
    * broken (cardano_transactions_output_amount.py:22-23 reads
    * `input.unit`/`input.quantity`, fields the raw transaction model
    * only carries inside the `output_amount` ARRAY) and no pipeline
    * loads it. Completed here the way the README's unwritten Q8 was:
    * the raw array (rawTransaction above) explodes to one row per
    * (tx, unit) with a deterministic sha2 id replacing the reference's
    * uuid4 (the T4 discipline — replays must merge, not duplicate).
    */
  val txOutputAmount: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("unit", StringType, nullable = false),
    StructField("quantity", lovelace, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_tx_utxo — cardano_tables.py:121-131 (PK hash). */
  val txUtxo: StructType = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_tx_utxo_input — cardano_tables.py:133-161 (PK id;
    * Blockfrost input tx_hash renamed tx_utxo_hash).
    */
  val txUtxoInput: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("address", StringType, nullable = false),
    StructField("tx_utxo_hash", StringType, nullable = false),
    StructField("output_index", LongType, nullable = false),
    StructField("data_hash", StringType, nullable = true),
    StructField("inline_datum", StringType, nullable = true),
    StructField("reference_script_hash", StringType, nullable = true),
    StructField("collateral", BooleanType, nullable = false),
    StructField("reference", BooleanType, nullable = true),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_tx_utxo_input_amount — cardano_tables.py:163-176 (PK id,
    * FK parent_id → input.id).
    */
  val txUtxoInputAmount: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("parent_id", StringType, nullable = false),
    StructField("unit", StringType, nullable = false),
    StructField("quantity", lovelace, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_tx_utxo_output — cardano_tables.py:178-203. */
  val txUtxoOutput: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("hash", StringType, nullable = false),
    StructField("address", StringType, nullable = false),
    StructField("output_index", LongType, nullable = false),
    StructField("data_hash", StringType, nullable = true),
    StructField("inline_datum", StringType, nullable = true),
    StructField("collateral", BooleanType, nullable = false),
    StructField("reference_script_hash", StringType, nullable = true),
    StructField("consumed_by_tx", StringType, nullable = true),
    StructField("created_at", TimestampType, nullable = false)))

  /** cardano_tx_utxo_output_amount — cardano_tables.py:205-218. */
  val txUtxoOutputAmount: StructType = txUtxoInputAmount

  /** The nine warehouse tables by name: the one schema every warehouse
    * read declares ([[Pipelines.readTable]], the merge's existing-key
    * read), so no read pays a parquet footer-inference job. The DTOs
    * ([[Transforms]]) produce exactly these columns, in this order and
    * with these types (`WarehouseSchemaSpec` pins it: a read with a
    * declared schema turns a renamed column into silent nulls).
    */
  val warehouse: Map[String, StructType] = Map(
    "cardano_blocks" -> blocks,
    "cardano_block_transactions" -> blockTransactions,
    "cardano_transactions" -> transactions,
    "cardano_tx_output_amount" -> txOutputAmount,
    "cardano_tx_utxo" -> txUtxo,
    "cardano_tx_utxo_input" -> txUtxoInput,
    "cardano_tx_utxo_input_amount" -> txUtxoInputAmount,
    "cardano_tx_utxo_output" -> txUtxoOutput,
    "cardano_tx_utxo_output_amount" -> txUtxoOutputAmount)

  /** provider_to_s3_import_status — cardano_tables.py:233-244. */
  val providerImportStatus: StructType = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("block_height", LongType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** s3_to_db_import_status — cardano_tables.py:220-231. */
  val lakeImportStatus: StructType = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("file_modified_date", TimestampType, nullable = false),
    StructField("created_at", TimestampType, nullable = false)))

  /** Conflict (primary) keys per table — the merge keys of the idempotent
    * sink (the per-DAO merge clauses under src/dao/; SURVEY §2.2 K3).
    */
  val conflictKeys: Map[String, Seq[String]] = Map(
    "cardano_blocks" -> Seq("height"),
    "cardano_block_transactions" -> Seq("block"),
    "cardano_transactions" -> Seq("hash"),
    "cardano_tx_output_amount" -> Seq("id"),
    "cardano_tx_utxo" -> Seq("hash"),
    "cardano_tx_utxo_input" -> Seq("id"),
    "cardano_tx_utxo_input_amount" -> Seq("id"),
    "cardano_tx_utxo_output" -> Seq("id"),
    "cardano_tx_utxo_output_amount" -> Seq("id"),
    "provider_to_s3_import_status" -> Seq("table", "block_height"),
    "s3_to_db_import_status" -> Seq("table", "file_modified_date"))
}
