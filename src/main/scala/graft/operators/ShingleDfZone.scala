package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted shingle document-frequency zone — the corpus-wide stop-
  * shingle statistics maintained INCREMENTALLY, so the df cap
  * ([[Dedup.capShingles]]'s discipline) survives the move to the
  * incremental posture: [[SignatureZone.incrementalPairs]] must not
  * recompute corpus-wide document frequencies per delta (that would
  * rescan history), so without this zone it runs uncapped and a hot
  * boilerplate shingle shared by f history documents costs f candidate
  * rows per delta probe. With it, the hot-shingle DROP LIST is one
  * zone read.
  *
  * Zone layout:
  *
  *   - `zoneDir/meta`: one row `(shingle_n)` — the shingle width is a
  *     property of the zone, fixed at creation (the [[SignatureZone]]
  *     geometry argument: df counts of 2-shingles and 3-shingles must
  *     never mix).
  *   - `zoneDir/rows`: `(shingle, cnt, batch_id)` — each ingest batch
  *     appends its OWN per-shingle document counts (delta-only work:
  *     `Dedup.shingles` over the batch, one partial-aggregated count).
  *
  * The reader sums per-batch counts into exact corpus df: document
  * frequency is additive over DISJOINT batches (each document lives in
  * exactly one ingest batch, so its shingle containment is counted
  * exactly once). Replay idempotency is by BATCH KEY, not structure: a
  * replayed `foreachBatch` batch re-appends byte-identical
  * `(shingle, cnt, batch_id)` rows, and the reader's DISTINCT absorbs
  * them before the sum — the same exactness argument as st21's md5
  * minima, transposed from a min-semilattice to keyed addition.
  * Callers must therefore feed DISJOINT batches under STABLE batch ids
  * (Structured Streaming's `foreachBatch` batchId contract; a batch
  * appended twice under two different ids would double-count).
  *
  * Scale shape: appends are delta-sized partial aggregations; the df
  * read is one hash-partitioned sum over (distinct batch, shingle)
  * rows; the hot list (df > cap) is the SMALL residue — at cap ≈ √n at
  * most total-occurrences/√n shingles qualify — and is the only thing
  * dedup consumers join against. At deployment scale the rows table is
  * periodically FOLDED (sum-aggregate rewritten under one retired
  * batch epoch, published as a new generation by
  * [[ShardedWriter.compactParquet]]; reads and appends resolve it
  * through [[Zone]]), which keeps the read proportional to distinct
  * shingles, not batch count.
  */
object ShingleDfZone {

  /** Create an empty zone with fixed shingle width (the [[Zone.create]]
    * guard: mixed-width counts are meaningless — rebuild instead).
    */
  private[operators] def zone(zoneDir: String) =
    Zone.at("ShingleDfZone", zoneDir, rows = "rows", id = "shingle", cluster = "shingle")

  def create(spark: SparkSession, zoneDir: String, shingleN: Int): Unit =
    zone(zoneDir).create(spark) {
      val n = shingleWidth(spark, zoneDir)
      if (n == shingleN) None
      else Some((s"$n-shingle counts", s"shingle_n=$shingleN (incompatible counts)"))
    } {
      import spark.implicits._
      Seq(shingleN).toDF("shingle_n")
        .write.mode(SaveMode.Overwrite).parquet(s"$zoneDir/meta")
    }

  /** Zone meta — a driver-side 1-row read (the watermark altitude),
    * served from the fingerprint-guarded cache
    * ([[graft.core.MetaReads]] — the width is fixed at creation).
    */
  def shingleWidth(spark: SparkSession, zoneDir: String): Int =
    graft.core.MetaReads.row(spark, s"$zoneDir/meta").getAs[Int]("shingle_n")

  /** Append one DISJOINT batch's per-shingle document counts under a
    * stable batch id. `delta` must expose `doc_id` and `text`.
    */
  def append(delta: DataFrame, zoneDir: String, batchId: Long): Unit = {
    val spark = delta.sparkSession
    zone(zoneDir).append(spark) {
      Dedup.shingles(delta, col("doc_id"), col("text"), shingleWidth(spark, zoneDir))
        .groupBy(col("shingle")).agg(count(lit(1)).as("cnt"))
        .withColumn("batch_id", lit(batchId))
    }
  }

  /** Exact corpus document frequency per shingle: DISTINCT absorbs
    * replayed batches (byte-identical rows under the same batch id),
    * then per-batch counts sum — df is additive over disjoint batches.
    * Empty zone (created, never appended) reads as an empty frame.
    */
  def df(spark: SparkSession, zoneDir: String): DataFrame =
    zone(zoneDir).rows(spark).fold(
      spark.range(0).select(col("id").cast("string").as("shingle"), col("id").as("df")))(
      _.distinct().groupBy(col("shingle")).agg(sum(col("cnt")).as("df")))

  /** The hot-shingle drop list: shingles whose corpus df EXCEEDS the
    * cap. This is what dedup consumers anti-join against — small next
    * to the shingle universe (at cap ≈ √n, at most occurrences/√n
    * rows qualify).
    */
  def hot(spark: SparkSession, zoneDir: String, cap: Long): DataFrame =
    df(spark, zoneDir).filter(col("df") > cap).select(col("shingle"))
}
