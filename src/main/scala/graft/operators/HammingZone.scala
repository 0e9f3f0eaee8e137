package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted Hamming-signature zone — the MULTIMODAL member of the
  * incremental-dedup zone family: text has the MinHash band zone
  * ([[SignatureZone]], d22) and vectors the SRP index ([[AnnIndexZone]],
  * d23); any modality that reduces to a ≤64-bit Hamming-space signature
  * (SimHash text, pHash images, the m6 audio energy fingerprint) gets
  * its incremental posture here. The batch operator
  * ([[Dedup.hammingPairs]], the Manku/Jain/Sarma WWW'07 pigeonhole
  * blocking) re-derives every signature per session — which for media
  * means RE-DECODING the entire history per delta; a deployment instead
  * stores each ingested item's signature chunks once and dedups each
  * delta against all of history by probing the stored chunks, never
  * touching history bytes again.
  *
  * Zone layout:
  *
  *   - `zoneDir/meta`: one row `(bits, max_hamming, chunks)` — the
  *     pigeonhole geometry is a PROPERTY of the zone, fixed at creation
  *     (chunk boundaries of stored and probing rows must align forever;
  *     the [[SignatureZone]] geometry argument). `chunks > max_hamming`
  *     keeps recall EXACT, not probabilistic: two signatures within
  *     max_hamming bits differ in at most max_hamming chunks, so they
  *     MUST agree exactly on at least one chunk.
  *   - `zoneDir/rows`: `(doc_id, c, v, sig)` — one row per chunk, the
  *     full signature carried alongside (8 bytes) so VERIFICATION never
  *     re-decodes history media: the exact Hamming distance is one
  *     xor+popcount over stored longs.
  *
  * Maintenance is DELTA-ONLY (each batch appends its own chunk rows —
  * `EventStream.streamHammingZone` maintains the zone from a
  * checkpointed stream); replay idempotency is STRUCTURAL (the read
  * side DISTINCTs candidates and the signature lookup, so duplicate
  * rows from a replayed batch change nothing). Deletes, the live-rows
  * read and OPTIMIZE are the shared [[Zone]] lifecycle.
  *
  * Scale shape of [[incrementalPairs]]: chunking the delta is a narrow
  * codegen'd projection; the zone probe is one (c, v)-keyed shuffled
  * hash join (both sides scale with data — the DELTA side builds, the
  * zone streams; bucket sizes are corpus/2^bitsPerChunk per chunk);
  * verification touches stored signatures for CANDIDATE docs only
  * (semi-join). Per-delta cost ∝ delta + chunk-bucket collisions,
  * never history size — and never a second decode of history bytes.
  */
object HammingZone {

  private[operators] def zone(zoneDir: String) =
    Zone.at("HammingZone", zoneDir, rows = "rows", id = "doc_id", cluster = "v")

  /** Create an empty zone with fixed pigeonhole geometry (the
    * [[Zone.create]] guard: chunk boundaries of stored rows must align
    * with every probe's).
    */
  def create(spark: SparkSession, zoneDir: String,
      bits: Int = 60, maxHamming: Int = 5, chunks: Int = 6): Unit = {
    require(chunks > maxHamming, "pigeonhole guarantee needs chunks > maxHamming")
    require(bits % chunks == 0, s"chunks must divide the $bits-bit signature")
    zone(zoneDir).create(spark) {
      val (ob, oh, oc) = meta(spark, zoneDir)
      if ((ob, oh, oc) == ((bits, maxHamming, chunks))) None
      else Some((s"bits=$ob max_hamming=$oh chunks=$oc",
        s"bits=$bits max_hamming=$maxHamming chunks=$chunks"))
    } {
      import spark.implicits._
      Seq((bits, maxHamming, chunks)).toDF("bits", "max_hamming", "chunks")
        .write.mode(SaveMode.Overwrite).parquet(s"$zoneDir/meta")
    }
  }

  /** Zone meta — a driver-side 1-row read (the watermark altitude),
    * served from the fingerprint-guarded cache
    * ([[graft.core.MetaReads]] — geometry is fixed at creation).
    */
  def meta(spark: SparkSession, zoneDir: String): (Int, Int, Int) = {
    val r = graft.core.MetaReads.row(spark, s"$zoneDir/meta")
    (r.getAs[Int]("bits"), r.getAs[Int]("max_hamming"), r.getAs[Int]("chunks"))
  }

  /** One frame's chunk rows under a fixed geometry: (doc_id, c, v, sig)
    * — a narrow codegen'd projection ([[Dedup.hammingPairs]]'s chunk
    * derivation, unsigned shifts so a negative full-width hash cannot
    * smear its sign bit). `sigs` must expose `doc_id` and `sig`.
    */
  private def chunkRows(sigs: DataFrame, bits: Int, chunks: Int): DataFrame = {
    val bitsPer = bits / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("c"),
        expr(s"shiftrightunsigned(sig, ${c * bitsPer}) & $mask").as("v"))
    }
    sigs.select(col("doc_id"), col("sig"), explode(array(chunkCols: _*)).as("ch"))
      .select(col("doc_id"), col("ch.c").as("c"), col("ch.v").as("v"), col("sig"))
  }

  /** Append one delta's chunk rows — the per-batch maintenance step
    * (delta-only work; the caller derives `sig` from the batch's media,
    * history is never re-decoded).
    */
  def append(sigs: DataFrame, zoneDir: String): Unit = {
    val spark = sigs.sparkSession
    zone(zoneDir).append(spark) {
      val (bits, _, chunks) = meta(spark, zoneDir)
      chunkRows(sigs.select(col("doc_id"), col("sig")), bits, chunks)
    }
  }

  /** Create + index an existing corpus in one call (the batch-backfill
    * path); refuses a populated zone ([[Zone.requireEmpty]]).
    */
  def build(spark: SparkSession, sigs: DataFrame, zoneDir: String,
      bits: Int = 60, maxHamming: Int = 5, chunks: Int = 6): Unit = {
    zone(zoneDir).requireEmpty(spark)
    create(spark, zoneDir, bits, maxHamming, chunks)
    append(sigs, zoneDir)
  }

  /** Tombstone documents ([[Zone.delete]]), honored by
    * [[incrementalPairs]]. `ids` must expose `doc_id`.
    */
  def delete(ids: DataFrame, zoneDir: String): Unit = zone(zoneDir).delete(ids)

  /** Whether the zone stores tombstone rows ([[Zone.tombstoned]]). */
  def tombstoned(spark: SparkSession, zoneDir: String): Boolean =
    zone(zoneDir).tombstoned(spark)

  /** OPTIMIZE ([[Zone.optimize]]), rewritten chunk-value-clustered.
    * Returns (filesBefore, filesAfter).
    */
  def optimize(spark: SparkSession, zoneDir: String,
      targetRowsPerFile: Long = 4 << 20): (Int, Int) =
    zone(zoneDir).optimize(spark, targetRowsPerFile)

  /** Verified near-dup pairs of a DELTA against the stored zone AND
    * within itself — [[Dedup.hammingPairs]]'s incremental posture:
    *
    *   1. delta chunk rows under the zone's geometry (delta-only,
    *      narrow);
    *   2. candidate pairs sharing a chunk (c, v) ([[Zone.candidatePairs]]);
    *   3. exact Hamming verification from STORED signatures — history
    *      media is never re-decoded; candidate docs' sigs arrive via
    *      semi-join (candidate-sized, never history-sized).
    *
    * Recall is pigeonhole-EXACT for pairs within max_hamming (the
    * geometry guarantees a shared chunk), so the result equals the
    * all-pairs filter — what the d26 oracle replays. An empty zone
    * degrades to delta-internal pairs. `delta` must expose `doc_id`
    * and `sig`. Output: (doc_a, doc_b, hamming), hamming ≤ the zone's
    * max_hamming, at least one delta member per pair.
    *
    * `maxZoneDocId`: the self-exclusion cut ([[Zone.live]]) — a
    * checkpoint-replayed batch whose own chunk rows already landed
    * decides as if they had not.
    */
  def incrementalPairs(delta: DataFrame, zoneDir: String,
      maxZoneDocId: Option[Long] = None): DataFrame = {
    val spark = delta.sparkSession
    val (bits, maxH, chunks) = meta(spark, zoneDir)
    val zoneLive = zone(zoneDir).liveRows(spark, maxZoneDocId)
    val (cand, candIds) = zone(zoneDir).candidatePairs(
      chunkRows(delta.select(col("doc_id"), col("sig")), bits, chunks),
      zoneLive, Seq("c", "v"), "doc_a", "doc_b")
    // verification signatures: the delta's own plus the ZONE's stored
    // ones for candidate docs only — DISTINCT absorbs both the 1-row-
    // per-chunk duplication and replayed appends
    val sigs = graft.core.Caches.persistTracked(
      zoneLive.fold(delta.select(col("doc_id"), col("sig")))(zc =>
          delta.select(col("doc_id"), col("sig"))
            .union(zc.select(col("doc_id"), col("sig"))))
        .join(candIds, Seq("doc_id"), "left_semi")
        .distinct())
    cand
      .hint("shuffle_hash")
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .hint("shuffle_hash")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxH)
  }
}
