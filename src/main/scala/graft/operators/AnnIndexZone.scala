package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SRP-LSH ANN index — the STORAGE side of the similarity
  * family ([[Similarity.lshTopK]] derives planes and buckets per
  * session; at 100 TB the index must live on disk and be maintained
  * incrementally, like the sketch/stats/bloom zones). Zone layout:
  *
  *   - `zoneDir/meta`:  one row `(n_planes, dims)` — the plane count is
  *     a PROPERTY of the zone, fixed at creation (query-side probes and
  *     index-side buckets must hash with the same planes forever; a
  *     re-derivation per corpus growth step would orphan every stored
  *     bucket). Capacity planning picks it: planes derive from the
  *     EXPECTED corpus size via [[Similarity.derivePlanes]], exactly
  *     how a deployment sizes an IVF/LSH index ahead of backfill. The
  *     hyperplanes themselves need no storage — they are md5-derived
  *     constants ([[Similarity.planeWeights]]), so `n_planes` alone
  *     reconstructs them on any engine.
  *   - `zoneDir/index`: `(vec_id, bucket)` rows, append-only.
  *
  * Maintenance is DELTA-ONLY: each ingest batch appends its own
  * vectors' assignments (one narrow codegen'd projection — nothing
  * rescans). Replay idempotency is STRUCTURAL, the sketch zone's set
  * semantics: the read side consumes the index through a semi-join, so
  * a replayed batch's duplicate `(vec_id, bucket)` rows cannot change
  * any query result (pinned with the maintenance path in
  * SimilaritySpec; `EventStream.streamAnnIndex` maintains the zone from
  * a checkpointed stream with an overlap-replay source).
  *
  * Scale shape of [[topK]]: the index scan is metadata-light (two longs
  * per vector); the probe list is query-side and broadcast; the
  * candidate ids (expected (planes+1)·bucketSize rows) broadcast into a
  * semi-join, so the corpus scan stays narrow and never shuffles — the
  * per-query cost is the index scan + k-ish candidate rows, not the
  * corpus. At deployment scale the index table would itself be
  * bucketed/z-ordered by `bucket` so the probe reads a file subset
  * (the ZoneMap composition); the query shape here already only ever
  * JOINS on bucket, so that layout drops in without a plan change.
  */
object AnnIndexZone {

  private[operators] def zone(zoneDir: String) =
    Zone.at("AnnIndexZone", zoneDir, rows = "index", id = "vec_id", cluster = "bucket")

  /** Create an empty zone sized for `expectedCount` vectors (the
    * [[Zone.create]] guard over `(n_planes, dims)`: probes hashing with
    * new planes against rows hashed with the old ones would return
    * silently WRONG top-k results). Returns the plane count.
    */
  def create(spark: SparkSession, zoneDir: String, expectedCount: Long,
      dims: Int = 64, targetBucketSize: Long = 32,
      minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    val planes = Similarity.derivePlanes(
      expectedCount, targetBucketSize, minPlanes, maxPlanes)
    zone(zoneDir).create(spark) {
      val (oldPlanes, oldDims) = meta(spark, zoneDir)
      if ((oldPlanes, oldDims) == ((planes, dims))) None
      else Some((s"planes=$oldPlanes dims=$oldDims", s"planes=$planes dims=$dims"))
    } {
      import spark.implicits._
      Seq((planes, dims)).toDF("n_planes", "dims")
        .write.mode(SaveMode.Overwrite).parquet(s"$zoneDir/meta")
    }
    planes
  }

  /** Zone meta — a driver-side 1-row read (the watermark altitude),
    * served from the fingerprint-guarded cache
    * ([[graft.core.MetaReads]] — geometry is fixed at creation).
    */
  def meta(spark: SparkSession, zoneDir: String): (Int, Int) = {
    val r = graft.core.MetaReads.row(spark, s"$zoneDir/meta")
    (r.getAs[Int]("n_planes"), r.getAs[Int]("dims"))
  }

  /** Append one delta's bucket assignments under the zone's fixed plane
    * count — one narrow codegen'd projection over the delta, nothing
    * rescanned. `delta` must expose `vec_id` and `embedding`.
    */
  def appendIndex(delta: DataFrame, zoneDir: String): Unit = {
    val spark = delta.sparkSession
    Similarity.ensure(spark)
    zone(zoneDir).append(spark) {
      val (planes, dims) = meta(spark, zoneDir)
      delta.select(col("vec_id"),
        Similarity.srpBucket(col("embedding"), planes, dims).as("bucket"))
    }
  }

  /** Create + index an existing corpus in one call (the batch-backfill
    * path; the capacity is the corpus itself unless given).
    */
  def build(spark: SparkSession, emb: DataFrame, zoneDir: String,
      dims: Int = 64, targetBucketSize: Long = 32,
      minPlanes: Int = 4, maxPlanes: Int = 24,
      knownCount: Option[Long] = None): Int = {
    zone(zoneDir).requireEmpty(spark, appendWith = "appendIndex")
    val planes = create(spark, zoneDir, knownCount.getOrElse(emb.count()),
      dims, targetBucketSize, minPlanes, maxPlanes)
    appendIndex(emb, zoneDir)
    planes
  }

  /** Tombstone vectors ([[Zone.delete]]), honored by [[topK]] and
    * [[incrementalPairs]]. `ids` must expose `vec_id`.
    */
  def delete(ids: DataFrame, zoneDir: String): Unit = zone(zoneDir).delete(ids)

  /** Whether the zone stores tombstone rows ([[Zone.tombstoned]]). */
  def tombstoned(spark: SparkSession, zoneDir: String): Boolean =
    zone(zoneDir).tombstoned(spark)

  /** OPTIMIZE the index zone ([[Zone.optimize]]): the index is rewritten
    * bucket-clustered (each file then covers a tight, disjoint bucket
    * span) and per-file bucket min/max stats are persisted. After this,
    * [[topK]] plans its probe's file subset from the #files-row stats
    * table and opens ~1 file per probe instead of scanning the index.
    * Later [[appendIndex]] deltas must be re-covered with
    * `ZoneMap.appendStats` (the staleness guard fails the probe loudly
    * otherwise — never a silent partial read).
    * Returns (filesBefore, filesAfter).
    */
  def optimize(spark: SparkSession, zoneDir: String,
      targetRowsPerFile: Long = 4 << 20): (Int, Int) =
    zone(zoneDir).optimize(spark, targetRowsPerFile, () =>
      ZoneMap.buildStats(spark, zone(zoneDir).rowsDir, s"$zoneDir/stats", Seq("bucket")))

  /** Verified near-dup pairs of a DELTA against the stored index AND
    * within itself — the EMBEDDING-side twin of
    * [[SignatureZone.incrementalPairs]], closing the incremental
    * posture for semantic dedup (d7/d15 re-bucket the whole corpus per
    * session; a deployment probes its persisted index with each delta):
    *
    *   1. delta bucket assignments under the zone's fixed planes (one
    *      narrow codegen'd projection — delta-only work);
    *   2. candidate pairs sharing a bucket ([[Zone.candidatePairs]]);
    *   3. exact cosine verification over candidate VECTORS only
    *      (`corpus` supplies embeddings by vec_id semi-join —
    *      candidate-sized, never history-sized).
    *
    * The candidate rule is same-bucket co-location (the d7 IVF-cell
    * rule transposed to SRP buckets) — deliberately NOT topK's
    * Hamming-1 multi-probe, which widens single-query recall but
    * would multiply pair-probe cost by (planes+1)² for a recall band
    * the verification threshold dominates. Scale shape: the index
    * probe is one bucket-keyed shuffled hash join (delta side builds
    * — per-batch-sized); history embeddings are touched per-candidate.
    * An empty index degrades to delta-internal pairs.
    *
    * Output: (vec_a, vec_b, cos_sim) for verified pairs with at least
    * one delta member, `cos_sim >= minCos`.
    */
  def incrementalPairs(corpus: DataFrame, delta: DataFrame, zoneDir: String,
      minCos: Double, maxZoneVecId: Option[Long] = None): DataFrame = {
    // maxZoneVecId: the self-exclusion cut ([[Zone.live]])
    val spark = corpus.sparkSession
    Similarity.ensure(spark)
    val (planes, dims) = meta(spark, zoneDir)
    val (cand, candIds) = zone(zoneDir).candidatePairs(
      delta.select(col("vec_id"),
        Similarity.srpBucket(col("embedding"), planes, dims).as("bucket")),
      zone(zoneDir).liveRows(spark, maxZoneVecId), Seq("bucket"), "vec_a", "vec_b")
    // exact verification touches candidate vectors only
    val emb = graft.core.Caches.persistTracked(
      corpus.join(candIds, Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm")))
    cand
      .hint("shuffle_hash")
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("vec_a"))
      .hint("shuffle_hash")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Multi-probe ANN top-k served FROM THE STORED ZONE — result-
    * identical to [[Similarity.lshTopK]]'s in-session derivation (same
    * plane constants, same Hamming-1 probe set, same exact cosine
    * re-rank; each vector lives in exactly one stored bucket, so the
    * semi-join also absorbs any replayed duplicate index rows).
    * `query` is ONE row `(qvec)` — the single-query contract d5/d6
    * share (the final cross join and the stats-planned path's 1-row
    * probe derivation both assume it); a query BATCH goes through
    * [[Similarity.batchTopKWithPlanes]]'s formulation instead.
    *
    * On an [[optimize]]d zone (a `stats` table exists) the index read
    * is STATS-PLANNED: the query's probe buckets are derived with one
    * 1-row driver read (the watermark altitude) and only the files
    * whose bucket range can hold a probe are opened
    * ([[ZoneMap.statsPlanFilesAnyOf]] — OR-of-points planning over
    * file metadata). An un-optimized zone scans the index table; both
    * paths return identical rows (SimilaritySpec pins it, plus the
    * file skipping).
    */
  def topK(corpus: DataFrame, query: DataFrame, zoneDir: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    Similarity.ensure(spark)
    val (planes, dims) = meta(spark, zoneDir)
    // materialize the one query row ONCE: the caller's frame is often a
    // corpus filter, and referencing it from the probe derivation, the
    // stats planner, and the final cross join would re-scan it three
    // times per query — a LocalRelation costs one tiny job total
    import spark.implicits._
    val qrow = query.select(col("qvec")).limit(1).collect()
    require(qrow.nonEmpty,
      "AnnIndexZone.topK needs exactly one query row; the query frame " +
        "produced zero rows (e.g. a corpus filter that matched nothing)")
    val qv: Seq[Float] = qrow(0).getSeq[Float](0)
    val q1 = Seq(Tuple1(qv)).toDF("qvec")
    // a created-but-never-appended zone has no index dir yet: an empty
    // index legitimately yields zero candidates
    val index = zone(zoneDir).plannedLiveRows(spark, s"$zoneDir/stats", "bucket", {
      val qb = q1
        .select(Similarity.srpBucket(col("qvec"), planes, dims).as("qb"))
        .head().getLong(0)
      (0 until planes).map(p => qb ^ (1L << p)) :+ qb
    }).getOrElse(spark.range(0).select(col("id").as("vec_id"), col("id").as("bucket")))
    val probes = q1
      .withColumn("qbucket", Similarity.srpBucket(col("qvec"), planes, dims))
      .select(col("qvec"), explode(array(
        (0 until planes).map(p => col("qbucket").bitwiseXOR(lit(1L << p))) :+
          col("qbucket"): _*)).as("pb"))
    val cand = index
      .join(broadcast(probes.select(col("pb"))), col("bucket") === col("pb"))
      .select(col("vec_id"))
    corpus.join(broadcast(cand), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q1))
      .select(col("vec_id"),
        Similarity.cosine(col("embedding"), col("qvec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }
}
