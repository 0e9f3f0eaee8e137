package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted sliding-window occurrence counts — the INCREMENTAL posture
  * for exact-substring dedup (d33/d34): the batch operator re-hashes
  * the entire corpus per run, which at 100 TB means re-reading all
  * history text for every arriving delta; a deployment instead stores
  * each ingested batch's per-window-hash OCCURRENCE counts once and
  * gates each delta against all of history by probing the stored
  * counts — history text is never read again. The
  * [[ShingleDfZone]] pattern with two deliberate differences: counts
  * are per OCCURRENCE, not per document (within-doc repeats are
  * duplication under the exact-substring rule), and rows store the
  * 60-bit window HASH, not the window text (20-token windows would
  * make the zone text-sized; 8-byte hashes keep it metadata-like, and
  * the downstream consumer only ever needs equality).
  *
  * Zone layout:
  *   - `zoneDir/meta`: one row `(w)` — the window width is zone
  *     geometry (counts of different widths are meaningless together;
  *     same-width re-create is a true no-op, width change under rows
  *     is refused).
  *   - `zoneDir/rows`: `(batch_id, h, cnt)`, append-only — per-batch
  *     counts under a stable batch id; the reader DISTINCTs (a
  *     replayed batch's rows are byte-identical) then sums (occurrence
  *     counts are additive over disjoint batches).
  *
  * Admission-timeline semantics of [[incrementalSpans]]: a DELTA
  * window is duplicated iff its corpus-so-far occurrence count
  * (stored history + the delta's own occurrences) is ≥ 2 — exactly
  * d33's rule over history∪delta, so the incremental spans provably
  * EQUAL the batch recompute restricted to delta documents
  * (SubstringDedupSpec pins it; history documents keep the fates they
  * were admitted under, the c8 boundary). Scale shape: delta-only
  * hashing (one expression), one h-keyed probe of the stored counts
  * with the DELTA side building (history streams), island merge over
  * marked delta positions only.
  */
object WindowZone {

  /** Create an empty zone with fixed window width (the [[Zone.create]]
    * guard).
    */
  def create(spark: SparkSession, zoneDir: String, w: Int): Unit = {
    require(w >= 2, s"window width must be >= 2 (got $w)")
    zone(zoneDir).create(spark) {
        val old = width(spark, zoneDir)
        if (old == w) None
        else Some((s"$old-token window counts", s"w=$w (incompatible counts)"))
      } {
        import spark.implicits._
        Seq(w).toDF("w").write.mode(SaveMode.Overwrite).parquet(s"$zoneDir/meta")
      }
  }

  private[operators] def zone(zoneDir: String) =
    Zone.at("WindowZone", zoneDir, rows = "rows", id = "h", cluster = "h")

  /** Zone meta — a driver-side 1-row read (the watermark altitude),
    * served from the fingerprint-guarded cache
    * ([[graft.core.MetaReads]] — the width is fixed at creation).
    */
  def width(spark: SparkSession, zoneDir: String): Int =
    graft.core.MetaReads.row(spark, s"$zoneDir/meta").getAs[Int]("w")

  /** Append one DISJOINT batch's per-hash occurrence counts under a
    * stable batch id. `delta` must expose `doc_id` and `text`.
    */
  def append(delta: DataFrame, zoneDir: String, batchId: Long): Unit = {
    val spark = delta.sparkSession
    zone(zoneDir).append(spark) {
      Dedup.windowHashes(delta, col("doc_id"), col("text"), width(spark, zoneDir))
        .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
        .withColumn("batch_id", lit(batchId))
    }
  }

  /** Exact corpus occurrence count per window hash: DISTINCT absorbs
    * replayed batches, per-batch counts sum. Empty zone reads empty.
    */
  def counts(spark: SparkSession, zoneDir: String): DataFrame =
    zone(zoneDir).rows(spark).fold(
      spark.range(0).select(col("id").as("h"), col("id").as("hist_cnt")))(
      _.distinct().groupBy(col("h")).agg(sum(col("cnt")).as("hist_cnt")))

  /** A DELTA's maximal duplicated spans against history∪delta — d33's
    * rule served from the stored counts ([[incrementalSpans]] ≡ the
    * batch recompute restricted to delta docs, spec-pinned). `delta`
    * must expose `doc_id` and `text`; output as d33.
    */
  def incrementalSpans(delta: DataFrame, zoneDir: String): DataFrame = {
    val spark = delta.sparkSession
    val w = width(spark, zoneDir)
    val wins = graft.core.Caches.persistTracked(
      Dedup.windowHashes(delta, col("doc_id"), col("text"), w))
    val deltaCnt = wins.groupBy(col("h")).agg(count(lit(1)).as("delta_cnt"))
    // delta-sized build side probes the corpus-scaled stored counts
    val dupH = deltaCnt.hint("shuffle_hash")
      .join(counts(spark, zoneDir), Seq("h"), "left")
      .filter(col("delta_cnt") + coalesce(col("hist_cnt"), lit(0L)) >= 2L)
      .select(col("h"))
    val marked = wins.join(dupH.hint("shuffle_hash"), Seq("h"))
      .select(col("doc_id"), col("s"))
    Dedup.mergeWindowSpans(marked, w)
  }
}
