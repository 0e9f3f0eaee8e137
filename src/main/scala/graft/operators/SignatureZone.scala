package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band-signature zone — the STORAGE side of the
  * near-dup dedup family, completing the zone ladder (sketch / stats /
  * bloom / ANN index) for text dedup. [[Dedup.lshVerifiedPairs]] derives
  * signatures per session, which at 100 TB means re-shingling the ENTIRE
  * corpus every time a new crawl slice arrives; a deployment instead
  * keeps the band rows on disk and dedups each DELTA against all of
  * history by probing the stored bands (Broder's MinHash and the
  * banding construction are published algorithms — Broder 1997;
  * Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3).
  *
  * Zone layout:
  *
  *   - `zoneDir/meta`: one row `(shingle_n, k, bands)` — the signature
  *     geometry is a PROPERTY of the zone, fixed at creation (delta
  *     probes and stored bands must hash identically forever; the
  *     [[AnnIndexZone]] plane-count reasoning verbatim). The hash family
  *     itself is constant ([[Dedup.minhash]]'s universal family over
  *     md5), so the three integers alone reconstruct it on any engine.
  *   - `zoneDir/bands`: `(doc_id, band, bh)` rows, append-only — k/bands
  *     rows per document (brief strings), metadata-sized next to text.
  *
  * Maintenance is DELTA-ONLY: each ingest batch appends its own band
  * rows (shingle → minhash → band over the batch — nothing rescans;
  * `EventStream.streamSignatureZone` maintains the zone from a
  * checkpointed stream). Replay idempotency is STRUCTURAL: the read
  * side ([[incrementalPairs]]) generates candidates through a
  * DISTINCT-ed pair join, so duplicate band rows from a replayed batch
  * cannot change any result.
  *
  * Scale shape of [[incrementalPairs]]: band derivation touches only
  * the delta; the zone probe is one band-keyed shuffled hash join
  * (delta bands vs stored bands — the small side is the delta, but both
  * scale with data, so `shuffle_hash`, never a corpus broadcast);
  * verification re-reads text for CANDIDATE documents only (a doc_id
  * semi-join against the corpus — point lookups once the documents
  * table carries zone-map stats), so the history cost is proportional
  * to band-bucket collisions, never to history size. At deployment
  * scale the zone is additionally OPTIMIZEd ([[optimize]] — replay
  * duplicates folded, the per-batch file storm compacted, crash-safe)
  * and its bands staged DISK-BUCKETED on (band, bh)
  * ([[bucketedBandsTable]], the q64/d20 layout move), so the probe
  * join consumes the bucketed scan with zero zone-side Exchange — the
  * d25 posture, staleness-guarded against post-staging appends.
  */
object SignatureZone {

  private[operators] def zone(zoneDir: String) =
    Zone.at("SignatureZone", zoneDir, rows = "bands", id = "doc_id", cluster = "bh")

  /** Create an empty zone with fixed signature geometry (the
    * [[Zone.create]] guard). The df-cap binding is geometry too: bands
    * of capped and uncapped shingle sets hash differently, and a
    * different [[ShingleDfZone]] with the same cap drops a DIFFERENT
    * hot-shingle set than the stored bands were hashed with, so the
    * guard compares the full (cap, df_dir) binding.
    */
  def create(spark: SparkSession, zoneDir: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      capDf: Option[(Long, String)] = None): Unit = {
    require(k % bands == 0, "k must divide into equal bands")
    zone(zoneDir).create(spark) {
      val (on, ok, ob) = meta(spark, zoneDir)
      val cap = capInfo(spark, zoneDir)
      if ((on, ok, ob) != ((shingleN, k, bands)))
        Some((s"shingle_n=$on k=$ok bands=$ob",
          s"shingle_n=$shingleN k=$k bands=$bands"))
      else if (cap != capDf) Some((s"df-cap binding $cap", s"binding $capDf"))
      else None
    } {
      import spark.implicits._
      Seq((shingleN, k, bands, capDf.map(_._1), capDf.map(_._2)))
        .toDF("shingle_n", "k", "bands", "cap", "df_dir")
        .write.mode(SaveMode.Overwrite).parquet(s"$zoneDir/meta")
    }
  }

  /** Zone meta — a driver-side 1-row read (the watermark altitude),
    * served from the fingerprint-guarded cache (geometry is fixed at
    * creation, so per-batch re-reads in the loops are pure overhead —
    * [[graft.core.MetaReads]]).
    */
  def meta(spark: SparkSession, zoneDir: String): (Int, Int, Int) = {
    val r = graft.core.MetaReads.row(spark, s"$zoneDir/meta")
    (r.getAs[Int]("shingle_n"), r.getAs[Int]("k"), r.getAs[Int]("bands"))
  }

  /** The zone's df-cap binding, if it is a CAPPED zone: (cap, df zone
    * dir). Tolerates pre-cap meta files (3-column schema) — those zones
    * are uncapped by construction.
    */
  def capInfo(spark: SparkSession, zoneDir: String): Option[(Long, String)] = {
    val r = graft.core.MetaReads.row(spark, s"$zoneDir/meta")
    if (!r.schema.fieldNames.contains("cap")) None
    else if (r.isNullAt(r.fieldIndex("cap"))) None
    else Some((r.getAs[Long]("cap"), r.getAs[String]("df_dir")))
  }

  /** The hot-shingle drop frame for a capped zone (None ⇒ uncapped).
    * Read per call — the df zone is itself append-only, so the list a
    * probe sees is the df state as of the probe (c9's ordering appends
    * a delta's own df only AFTER its decisions materialize, so the cap
    * set stays the HISTORY df — the stop-list-refresh posture: a
    * shingle that only becomes hot inside one delta still probes,
    * bounded by that delta's own band buckets, and the next rebuild or
    * compaction refreshes the snapshot).
    */
  private def dropList(spark: SparkSession, zoneDir: String): Option[DataFrame] =
    capInfo(spark, zoneDir).map { case (cap, dfDir) =>
      ShingleDfZone.hot(spark, dfDir, cap)
    }

  /** Apply a drop list to a shingle frame. The hot list is the SMALL
    * residue (df > cap), but it still scales with the corpus — a
    * shuffled hash anti-join, never an assumed broadcast (AQE upgrades
    * it when a run's list happens to be tiny).
    */
  private def dropHot(sh: DataFrame, drop: Option[DataFrame]): DataFrame =
    // hint the RIGHT side: a left-anti join builds on the right, and
    // the hot list is the side that should build (small residue)
    drop.fold(sh)(d =>
      sh.join(d.hint("shuffle_hash"), Seq("shingle"), "left_anti"))

  /** One delta's band rows under the zone's fixed geometry: shingle →
    * (optional hot-shingle drop) → minhash → band, touching only the
    * delta. `delta` must expose `doc_id` and `text`.
    */
  private def deltaBandRows(delta: DataFrame, shingleN: Int, k: Int,
      bands: Int, drop: Option[DataFrame]): DataFrame =
    Dedup.bandRows(
      Dedup.minhash(
        dropHot(
          Dedup.shingles(delta, col("doc_id"), col("text"), shingleN),
          drop), k),
      k, bands)

  /** Append one delta's band rows — the per-batch maintenance step.
    * A capped zone caps the batch's shingles against its df zone first
    * (signatures must hash over the same universe as every stored
    * band).
    */
  def append(delta: DataFrame, zoneDir: String): Unit = {
    val spark = delta.sparkSession
    zone(zoneDir).append(spark) {
      val (n, k, b) = meta(spark, zoneDir)
      deltaBandRows(delta, n, k, b, dropList(spark, zoneDir))
    }
  }

  /** Create + index an existing corpus in one call (the batch-backfill
    * path); refuses a populated zone ([[Zone.requireEmpty]]).
    */
  def build(spark: SparkSession, docs: DataFrame, zoneDir: String,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4): Unit = {
    zone(zoneDir).requireEmpty(spark)
    create(spark, zoneDir, shingleN, k, bands)
    append(docs, zoneDir)
  }

  /** [[build]] with a df-cap binding: the zone is CREATED bound to a
    * [[ShingleDfZone]] and a cap, and every band row — this backfill's
    * and every later [[append]]'s — is derived from shingles with the
    * hot list (df > cap) dropped, restoring [[Dedup.capShingles]]'s
    * stop-shingle discipline in the incremental posture. The df zone
    * must already cover the same corpus `docs` covers (the calibration
    * pass runs before indexing); the binding is part of the zone's
    * geometry — see [[create]]'s guard.
    */
  def buildCapped(spark: SparkSession, docs: DataFrame, zoneDir: String,
      dfZoneDir: String, cap: Long,
      shingleN: Int = 3, k: Int = 16, bands: Int = 4): Unit = {
    zone(zoneDir).requireEmpty(spark, "buildCapped()")
    create(spark, zoneDir, shingleN, k, bands, Some((cap, dfZoneDir)))
    append(docs, zoneDir)
  }

  /** Tombstone documents ([[Zone.delete]]): a deleted doc's stored
    * bands can no longer produce candidates, so re-ingesting its content
    * is admitted instead of blocked on a dead keeper. `ids` must expose
    * `doc_id`.
    */
  def delete(ids: DataFrame, zoneDir: String): Unit = zone(zoneDir).delete(ids)

  /** Whether the zone stores tombstone rows ([[Zone.tombstoned]]). */
  def tombstoned(spark: SparkSession, zoneDir: String): Boolean =
    zone(zoneDir).tombstoned(spark)

  /** OPTIMIZE the band zone ([[Zone.optimize]]): replay duplicates and
    * tombstones folded, the per-batch file storm compacted into
    * bh-clustered shards — the maintenance pass a deployment schedules
    * like c3's lake OPTIMIZE and d21's index OPTIMIZE (SignatureZoneSpec
    * pins the result hash across it). Returns (filesBefore, filesAfter).
    */
  def optimize(spark: SparkSession, zoneDir: String,
      targetRowsPerFile: Long = 4 << 20): (Int, Int) =
    zone(zoneDir).optimize(spark, targetRowsPerFile)

  // session-scoped staleness ledger for bucketed band tables: table
  // name -> the bands dir's listing fingerprint at staging time. Lives
  // exactly as long as the tables themselves (scratch warehouse), so a
  // fresh session can never see a stale entry.
  private val stagedTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Stage the zone's DISTINCT band rows as a DISK-BUCKETED table on
    * (band, bh) — the q64/d20 layout move applied to the probe join:
    * the bucketed scan IS the hash partitioning the join requires, so
    * the zone side joins with ZERO Exchange and only the delta's bands
    * move ([[incrementalPairs]]'s `bandsTable` option consumes it;
    * PlanShapeSpec pins the plan property). The table records the
    * bands dir's listing fingerprint; a probe against a table staged
    * before later appends fails LOUDLY (the d21 staleness discipline —
    * never a silent partial read). Returns the table name.
    */
  def bucketedBandsTable(spark: SparkSession, zoneDir: String,
      buckets: Int = 8): String = {
    val t = "sigzone_bands_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    // fingerprint BEFORE reading the dir for staging: an append landing
    // DURING the staging read may or may not make it into the table, so
    // recording the post-read fingerprint would bless a genuinely stale
    // table (TOCTOU); with the pre-read fingerprint such an append makes
    // the staleness guard fail loudly instead — the safe direction
    val z = zone(zoneDir)
    val fp = graft.core.Fs.fingerprint(spark, z.rowsDir)
    Generations.read(spark, z.rowsDir).distinct()
      .write.format("parquet").bucketBy(buckets, "band", "bh").saveAsTable(t)
    stagedTables.put(t, (zoneDir, fp)): Unit
    t
  }

  private def freshBandsTable(spark: SparkSession, zoneDir: String,
      table: String): DataFrame = {
    val staged = stagedTables.get(table)
    require(staged != null,
      s"bands table $table was not staged by bucketedBandsTable in this " +
        "session — a table of unknown provenance cannot be trusted to " +
        "mirror the zone")
    val (dir, fp) = staged
    require(dir == zoneDir,
      s"bands table $table was staged from zone $dir, not $zoneDir")
    val now = graft.core.Fs.fingerprint(spark, zone(zoneDir).rowsDir)
    require(now == fp,
      s"bands table $table is STALE: the zone's bands dir changed since " +
        "staging (appends or an optimize ran) — re-stage with " +
        "bucketedBandsTable before probing, or probe the dir directly")
    spark.table(table)
  }

  /** Verified near-dup pairs of a DELTA against the stored zone AND
    * within itself — the incremental posture of
    * [[Dedup.lshVerifiedPairs]]: history is never re-shingled; its band
    * rows come from the zone, and its text is touched only for
    * candidate documents.
    *
    *   1. delta band rows (delta-only work, the zone's geometry);
    *   2. candidate pairs sharing a (band, bh) ([[Zone.candidatePairs]]:
    *      replayed band rows and a zone that already holds the delta
    *      change nothing);
    *   3. exact-Jaccard verification over the candidate documents'
    *      shingles only (`corpus` supplies text by doc_id semi-join —
    *      candidate-sized, not history-sized).
    *
    * Signatures follow the ZONE's cap posture: an uncapped zone runs
    * the d3 discipline (band-bucket sizes bound the candidate join); a
    * CAPPED zone (built via [[buildCapped]] against a
    * [[ShingleDfZone]]) drops hot shingles (df > cap) from the delta's
    * band derivation AND from the verification shingle sets — the
    * stop-shingle df cap without recomputing corpus-wide frequencies
    * (the df zone is maintained incrementally; the drop list is one
    * zone read). Verification and banding share ONE cap set, so the
    * result equals the capped BATCH pipeline (d8's discipline) run
    * over the same pre-capped universe — the equivalence
    * SignatureZoneSpec pins. An empty zone (created, never appended)
    * degrades to delta-internal pairs only — the read side tolerates
    * the missing bands dir.
    *
    * Output: (doc_a, doc_b, n_common, jaccard) for verified pairs with
    * at least one delta member, `jaccard >= minJaccard`.
    */
  def incrementalPairs(corpus: DataFrame, delta: DataFrame, zoneDir: String,
      minJaccard: Double, bandsTable: Option[String] = None,
      maxZoneDocId: Option[Long] = None): DataFrame = {
    // maxZoneDocId: the self-exclusion cut ([[Zone.live]]). Direct
    // probes (d22/st20's full-corpus postures) pass None and keep
    // their zone-may-hold-the-delta invariance semantics.
    val spark = corpus.sparkSession
    val (n, k, b) = meta(spark, zoneDir)
    val drop = dropList(spark, zoneDir)
    // a staged bucketed table serves the probe with zero zone-side
    // Exchange (freshness-guarded); otherwise the parquet dir.
    // Tombstones are subtracted LIVE on either path (the tombstone dir
    // is outside the bands fingerprint, so deletes never invalidate a
    // staged table — they are honored on read)
    val stored = bandsTable.fold(zone(zoneDir).liveRows(spark, maxZoneDocId))(t =>
      Some(zone(zoneDir).live(freshBandsTable(spark, zoneDir, t), maxZoneDocId)))
    // verification reads text for candidate documents ONLY — the pair
    // ids are the access pattern, never the history table
    val (cand, candIds) = zone(zoneDir).candidatePairs(
      deltaBandRows(delta, n, k, b, drop), stored, Seq("band", "bh"), "doc_a", "doc_b")
    // a capped zone verifies over the SAME capped universe it banded —
    // jaccard over mixed universes would not match any batch twin
    val sh = graft.core.Caches.persistTracked(dropHot(
      Dedup.shingles(
        corpus.join(candIds, Seq("doc_id"), "left_semi"),
        col("doc_id"), col("text"), n), drop))
    Dedup.verifyJaccard(cand, sh, minJaccard)
  }
}
