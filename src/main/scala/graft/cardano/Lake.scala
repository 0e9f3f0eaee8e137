package graft.cardano

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Lake zone layout + incremental readers (SURVEY §2.1 S5-S7, §2.2
  * K1/K2).
  *
  * Layout mirrors the reference's deterministic S3 prefixes
  * (`cardano_blocks_to_s3_pipeline.py:66`,
  * `s3_to_db_cardano_tx_utxo_pipeline.py:108-124`):
  *
  * {{{
  *   <root>/cardano/<entity>/raw/<endBlock>/          JSON (batch files)
  * }}}
  *
  * The transformed zone is the parquet warehouse the pipelines merge
  * into ([[IdempotentSink.upsertParquet]]).
  *
  * The height-keyed directory layout is the partition-pruning analogue:
  * at scale, raw zones written `partitionBy(batchEnd)` let Catalyst prune
  * entire batches on height-range predicates.
  *
  * Incremental reads (S7): `modifiedAfter` pushes the watermark filter
  * into file LISTING — files at or older than the watermark are never
  * opened, the exact semantics of `s3_file_explorer.py:48` (strictly
  * newer). New-watermark tracking (T7) reads the `_metadata` hidden
  * column instead of re-listing.
  */
final class Lake(spark: SparkSession, root: String) {

  def rawDir(entity: String, endBlock: Long): String =
    s"$root/cardano/$entity/raw/$endBlock"

  /** K1: write one raw-zone JSON batch (array-of-records file shape, as
    * the reference's exporter produced — one batch per directory).
    */
  def writeRawJson(df: DataFrame, entity: String, endBlock: Long): String = {
    val dir = rawDir(entity, endBlock)
    df.write.mode(SaveMode.Overwrite).json(dir)
    dir
  }

  /** S5: schema-first read of every raw batch of an entity. */
  def readRawJson(entity: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(s"$root/cardano/$entity/raw/*")

  /** S7: raw batches strictly newer than the watermark; listing-level
    * pruning via modifiedAfter (strictly after the given instant, ms
    * precision — the reference's strictly-greater comparison at
    * s3_file_explorer.py:48).
    */
  def readRawJsonSince(entity: String, schema: StructType, watermark: Option[Timestamp]): DataFrame = {
    val base = spark.read.schema(schema)
    val reader = watermark match {
      case Some(ts) =>
        base.option("modifiedAfter",
          ts.toInstant.atZone(java.time.ZoneOffset.UTC)
            .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")))
      case None => base
    }
    reader.json(s"$root/cardano/$entity/raw/*")
  }

  /** T7: the new watermark — max file modification time of whatever a
    * read actually touched (hidden `_metadata` column; no extra listing).
    */
  def maxFileModification(df: DataFrame): Option[Timestamp] =
    Option(df.select(max(col("_metadata.file_modification_time"))).head().getTimestamp(0))
}
