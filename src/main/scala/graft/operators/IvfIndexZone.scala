package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Persisted IVF-flat ANN index — the TRAINED-quantizer scale path for
  * similarity search, completing the ANN family: [[Similarity.lshTopK]]
  * / [[AnnIndexZone]] partition the vector space with data-independent
  * random hyperplanes; IVF (inverted-file) partitions it with centroids
  * FITTED to the corpus ([[Similarity.kmeansFit]]'s exact integer
  * Lloyd), so cells track the data's actual density — the structure
  * FAISS/Milvus deploy at billion-vector scale. A query probes its
  * `nprobe` NEAREST cells instead of one hash bucket and its Hamming
  * neighbors, giving a recall knob that needs no re-indexing: recall
  * grows monotonically in `nprobe`, and `nprobe = k` degenerates to
  * exact brute force (IvfIndexZoneSpec pins that equality bit-for-bit
  * against [[Similarity.bruteForceTopK]]).
  *
  * Zone layout (the [[AnnIndexZone]] discipline):
  *
  *   - `zoneDir/centroids`: k rows `(cid, centroid: array<long>)` — the
  *     fitted coarse quantizer IS the geometry, fixed at creation
  *     (stored list rows are assignments under exactly these centroids;
  *     re-fitting under stored rows would orphan every list, so
  *     [[create]] refuses it — geometry changes go through
  *     [[ZoneRebuild]]). Centroids are quantized longs
  *     ([[Similarity.kmeansFit]]'s +1-shift grid), so assignment is
  *     bit-deterministic and a SQL oracle replays it exactly.
  *   - `zoneDir/lists`: `(vec_id, cid)` rows, append-only — the
  *     inverted lists, row-oriented so maintenance is delta-sized.
  *   - `zoneDir/tombstones` / `zoneDir/stats`: deletes ([[Zone]]) and
  *     the per-file cid min/max that [[optimize]] persists.
  *
  * Maintenance is DELTA-ONLY: [[append]] assigns a batch against the
  * stored centroids as k literal-centroid codegen'd distance folds
  * ([[Similarity.assignToCentroids]] — ZERO shuffle, no history read,
  * no Lloyd re-run; `EventStream.streamIvfIndex` maintains the zone
  * from a checkpointed stream). Replay idempotency is STRUCTURAL: each
  * vector has exactly one home cell, so the read side's DISTINCT
  * absorbs replayed duplicate rows.
  *
  * Scale shape of [[topK]] — unlike [[AnnIndexZone.topK]]'s
  * single-query contract, the query side is a FRAME (a retrieval
  * service's whole query batch rides one plan): probing is
  * expression-only (k literal distances + `array_sort` + `slice` per
  * query row — no shuffle, no driver loop); the lists probe is one
  * cid-keyed join with the tiny probe set broadcast (≤ nq·nprobe
  * rows); exact cosine touches CANDIDATE vectors only via one
  * vec_id-keyed shuffled-hash join (corpus streams, candidates build);
  * the final per-query top-k is a window riding the q_id partitioning.
  * Per-batch cost ∝ nq · nprobe · n/k candidate rows — never the
  * corpus² cross product, and on an [[optimize]]d zone the lists read
  * opens only the files whose cid range can hold a probed cell
  * (metadata-planned, ≤ k distinct cells regardless of query count).
  *
  * Reference scope: the reference has no vector surface at all (SURVEY
  * §2.5) — this is part of the training-data/RAG engine layer built on
  * top, sharing d18's fitted centroids with the admission stack (c10
  * assigns documents to THESE cells at admission, so curation clusters
  * and retrieval cells can be the same partition of the space).
  */
object IvfIndexZone {

  private[operators] def zone(zoneDir: String) = Zone.at("IvfIndexZone", zoneDir,
    rows = "lists", id = "vec_id", cluster = "cid", meta = "centroids")

  /** Create an empty zone under FIXED fitted centroids (the
    * [[Zone.create]] guard: a different quantizer over stored lists is
    * refused).
    */
  def create(spark: SparkSession, zoneDir: String,
      cents: Seq[Array[Long]]): Unit = {
    require(cents.nonEmpty, "IVF zone needs at least one centroid")
    zone(zoneDir).create(spark) {
      if (centroids(spark, zoneDir).map(_.toSeq) == cents.map(_.toSeq)) None
      else Some(("a different fitted quantizer", "these centroids"))
    } {
      Similarity.saveCentroids(spark, cents, s"$zoneDir/centroids")
    }
  }

  /** The stored coarse quantizer — a k·dims driver read (the watermark
    * altitude).
    */
  def centroids(spark: SparkSession, zoneDir: String): Seq[Array[Long]] =
    Similarity.loadCentroids(spark, s"$zoneDir/centroids")

  /** Append one delta's cell assignments — k literal-centroid codegen'd
    * distance folds over the delta, zero shuffle, zero history reads.
    * `delta` must expose `vec_id` and `embedding`.
    */
  def append(delta: DataFrame, zoneDir: String): Unit = {
    val spark = delta.sparkSession
    zone(zoneDir).append(spark) {
      Similarity.assignToCentroids(delta, centroids(spark, zoneDir))
        .select(col("vec_id"), col("cid"))
    }
  }

  /** Fit + create + index an existing corpus in one call (the
    * batch-backfill path); refuses a populated zone
    * ([[Zone.requireEmpty]]).
    */
  def build(spark: SparkSession, emb: DataFrame, zoneDir: String,
      k: Int = 8, iters: Int = 3): Seq[Array[Long]] = {
    zone(zoneDir).requireEmpty(spark)
    val cents = Similarity.kmeansFit(emb, k, iters)
    create(spark, zoneDir, cents)
    append(emb, zoneDir)
    cents
  }

  /** Tombstone vectors ([[Zone.delete]]). `ids` must expose `vec_id`. */
  def delete(ids: DataFrame, zoneDir: String): Unit = zone(zoneDir).delete(ids)

  /** OPTIMIZE ([[Zone.optimize]]): the lists rewritten cid-clustered,
    * then per-file cid min/max stats persisted — after which [[topK]]
    * opens ~the files holding probed cells instead of the table.
    * Returns (filesBefore, filesAfter).
    */
  def optimize(spark: SparkSession, zoneDir: String,
      targetRowsPerFile: Long = 4 << 20): (Int, Int) =
    zone(zoneDir).optimize(spark, targetRowsPerFile, () =>
      ZoneMap.buildStats(spark, zone(zoneDir).rowsDir, s"$zoneDir/stats", Seq("cid")))

  /** Per-row probe cells under literal centroids: sort the k
    * (dist, cid) structs lexicographically — (dist asc, cid asc), the
    * assignment tiebreak — and keep the first `nprobe`. Pure codegen'd
    * expression over `qv` (a quantized long array column).
    */
  private def probeCells(qv: Column, cents: Seq[Array[Long]],
      nprobe: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, cid) =>
      struct(
        VectorExpressions.sqdist(qv, array(c.toSeq.map(lit(_)): _*)).as("dist"),
        lit(cid.toLong).as("cid"))
    }: _*)
    slice(array_sort(scored), 1, nprobe)
  }

  /** The probe + candidate stage shared by [[topK]] and the IVF-PQ
    * composition ([[PqZone.ivfAdcTopK]]): DISTINCT `(q_id, vec_id)`
    * candidates — each query's probed cells' live members. Returns an
    * EMPTY frame for a created-but-never-appended zone.
    */
  private[operators] def candidateIds(queries: DataFrame, zoneDir: String,
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    Similarity.ensure(spark)
    val cents = centroids(spark, zoneDir)
    require(nprobe >= 1 && nprobe <= cents.size,
      s"nprobe must be in [1, ${cents.size}] (got $nprobe)")
    // quantize + probe: expression-only per query row (k literal
    // distance folds, one array_sort) — no shuffle, any query count
    val probes = graft.core.Caches.persistTracked(queries
      .select(col("q_id"),
        explode(probeCells(
          expr("transform(qvec, x -> floor((CAST(x AS DOUBLE) + 1.0D) * 1048576.0D))"),
          cents, nprobe)).as("p"))
      .select(col("q_id"), col("p.cid").as("cid")))
    // stats-planned lists read: the probed cell set is ≤ k values no
    // matter how many queries ride the batch (cells, not queries, are
    // the metadata key), so the planning collect is bounded by the
    // quantizer size — the watermark altitude
    val lists = zone(zoneDir).plannedLiveRows(spark, s"$zoneDir/stats", "cid",
        probes.select(col("cid")).distinct().collect().map(_.getLong(0)).toSeq)
      .getOrElse(spark.range(0).select(col("id").as("vec_id"), col("id").as("cid")))
    // candidates: one cid-keyed join, probe side broadcast (nq·nprobe
    // rows); DISTINCT absorbs replayed duplicate list rows
    lists
      .join(broadcast(probes), Seq("cid"))
      .select(col("q_id"), col("vec_id")).distinct()
  }

  /** ANN top-k for a QUERY FRAME `(q_id, qvec)` against the stored
    * zone: each query probes its `nprobe` nearest cells, exact cosine
    * re-ranks the probed cells' members, top-k per query by
    * (cos_sim desc, vec_id). Output `(q_id, vec_id, cos_sim, nn_rank)`.
    *
    * `nprobe = k` (all cells probed) is EXACT brute force; smaller
    * `nprobe` trades the boundary-cell recall band for reading only
    * nprobe/k of the corpus — the IVF contract, spec-pinned.
    */
  def topK(corpus: DataFrame, queries: DataFrame, zoneDir: String,
      k: Int, nprobe: Int): DataFrame = {
    val cand = candidateIds(queries, zoneDir, nprobe)
    // exact cosine over candidate vectors only: corpus streams through
    // one vec_id-keyed shuffled-hash join (candidates build)
    cosineTopK(corpus.select(col("vec_id"), col("embedding"))
      .hint("shuffle_hash")
      .join(cand, Seq("vec_id")), queries, k)
  }

  /** Exact-cosine top-k of candidate rows `(vec_id, embedding, q_id)`:
    * the tiny query frame broadcasts in by q_id. Output
    * `(q_id, vec_id, cos_sim, nn_rank)`.
    */
  private[operators] def cosineTopK(cand: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    rank(cand
      .join(broadcast(queries.select(col("q_id"), col("qvec"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        Similarity.cosine(col("embedding"), col("qvec")).as("cos_sim")),
      col("cos_sim").desc, k)

  /** The per-query top-k by `by` then vec_id, as a window riding the
    * q_id partitioning; `nn_rank` is 1-based.
    */
  private[operators] def rank(scored: DataFrame, by: Column, k: Int): DataFrame =
    scored.withColumn("nn_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(by, col("vec_id").asc)).cast("long"))
      .filter(col("nn_rank") <= k)
}
