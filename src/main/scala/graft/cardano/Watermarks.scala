package graft.cardano

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Watermark store for incremental, idempotent re-runs (SURVEY §2.1
  * S9/Q1/Q2, §2.2 K4): per-table high-water marks — highest exported
  * block height and newest loaded file timestamp.
  *
  * Reference: `provider_to_s3_import_status_dao.py:56-69` (coalesce-max
  * read, insert per batch) and `s3_to_db_import_status_dao.py:40-79`.
  *
  * Backed by two tiny append-only parquet tables (KB-sized no matter
  * the data volume — one row per batch). A mark is read as a top-1 of
  * the table's filtered column under its declared schema: one Spark job,
  * no footer inference, no exchange. An absent store answers Q1/Q2
  * (`0` / `None`) from one existence check, with no job at all. In a
  * deployment this would be the same code over a JDBC table.
  */
final class Watermarks(spark: SparkSession, root: String) {

  private val providerPath = s"$root/provider_to_s3_import_status"
  private val lakePath = s"$root/s3_to_db_import_status"

  /** The newest `column` value recorded for `table`; None while the
    * store or the table's rows are absent.
    */
  private def newest(path: String, schema: StructType, table: String,
      column: String): Option[Row] =
    if (!graft.core.Fs.exists(spark, path)) None
    else spark.read.schema(schema).parquet(path)
      .filter(col("table") === table)
      .select(col(column))
      .orderBy(col(column).desc)
      .head(1).headOption

  /** Q1: `SELECT coalesce(max(block_height), 0) WHERE "table" = t`. */
  def highestExportedBlock(table: String): Long =
    newest(providerPath, Schemas.providerImportStatus, table, "block_height")
      .fold(0L)(_.getLong(0))

  /** Q2: `SELECT max(file_modified_date) WHERE "table" = t`. */
  def latestLoadedFileDate(table: String): Option[Timestamp] =
    newest(lakePath, Schemas.lakeImportStatus, table, "file_modified_date")
      .map(_.getTimestamp(0))

  private def append(path: String, schema: StructType, row: Row): Unit =
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
      .write.mode(SaveMode.Append).parquet(path)

  /** K4: record a completed provider→lake export batch. */
  def recordBlockExport(table: String, height: Long): Unit =
    append(providerPath, Schemas.providerImportStatus,
      Row(table, height, new Timestamp(System.currentTimeMillis())))

  /** K4: record a completed lake→warehouse file load. */
  def recordFileLoad(table: String, fileModified: Timestamp): Unit =
    append(lakePath, Schemas.lakeImportStatus,
      Row(table, fileModified, new Timestamp(System.currentTimeMillis())))

  /** K4 for one completed batch: its block mark and (when the batch
    * loaded files) its file mark, written as one concurrent group. Call
    * it only after the batch's merge is published. Either record may
    * land alone if the other's write fails:
    *   - block mark alone: the next run skips the batch, and an S7
    *     reader (`Lake.readRawJsonSince`) still sees its files as newer
    *     than the lagging file mark and reloads them — the PK merge makes
    *     that reload insert nothing;
    *   - file mark alone: the block mark still says the batch is not
    *     done, so it re-runs and its merge inserts nothing, as after any
    *     crash before the marks.
    */
  def recordBatch(table: String, height: Long, fileModified: Option[Timestamp]): Unit =
    graft.core.Par.run(
      (() => recordBlockExport(table, height)) +:
        fileModified.toSeq.map(ts => () => recordFileLoad(table, ts)): _*)
}
