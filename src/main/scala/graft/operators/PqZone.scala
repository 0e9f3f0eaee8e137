package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Persisted product-quantization (PQ) codes — the MEMORY side of
  * billion-scale ANN, completing the FAISS-style stack next to
  * [[IvfIndexZone]] (the routing side): the embedding space splits
  * into `m` subspaces, each subspace gets its own small codebook
  * ([[Similarity.kmeansFit]]'s exact integer Lloyd on the subvectors),
  * and every corpus vector is stored as `m` code ids — m bytes-ish per
  * vector instead of dims·4, which is what lets the scored
  * representation of a 100 TB corpus live in RAM/fast storage.
  * Queries score candidates ASYMMETRICALLY (ADC): the query computes
  * one lookup table per subspace (distance from its subvector to each
  * codebook entry — m·k values, expression-only), and a candidate's
  * distance is m table lookups summed — the raw corpus vectors are
  * never touched after encoding.
  *
  * Everything is EXACT integer arithmetic on the shared quantization
  * grid (`floor((x+1)·2^20)`): codebooks, code assignment (the
  * (dist, cid) tiebreak), the LUTs, and the ADC sums are all
  * bit-deterministic, so unlike float PQ implementations the whole
  * structure — training included — hash-matches a SQL replay. The
  * approximation is the REPRESENTATION (vectors snap to the nearest
  * product-codebook corner), never nondeterminism.
  *
  * Zone layout:
  *   - `zoneDir/books`: `(s, cid, centroid: array<long>)` — m·k rows;
  *     the codebooks ARE the geometry, fixed at creation ([[create]]
  *     refuses a different codebook set over stored codes; re-training
  *     goes through [[ZoneRebuild]]).
  *   - `zoneDir/codes`: `(vec_id, codes: array<long>)`, append-only.
  *   - `zoneDir/tombstones`: deleted vec_ids, folded by [[optimize]].
  *
  * Maintenance is DELTA-ONLY ([[append]]: m·k literal-centroid
  * codegen'd distance folds over the batch — zero shuffle, no history
  * reads); replay idempotency is STRUCTURAL (one deterministic code
  * row per vector; the read side DISTINCTs — except on a freshly
  * compacted zone, where [[optimize]]'s listing-fingerprint stamp
  * proves the table duplicate-free and the dedup exchange is skipped
  * entirely; see [[readableCodes]]).
  *
  * Scale shape of [[adcTopK]]: the LUTs are computed ON THE QUERY
  * FRAME (m·k sqdist expressions per query row, before broadcast);
  * the codes table streams through ONE broadcast nested-loop-free
  * cross join against the tiny LUT frame (nq rows), each output row
  * costing m integer lookups; the per-query top-k is a window on the
  * q_id partitioning. [[ivfAdcTopK]] composes the two zones: the IVF
  * probe bounds the scan to nprobe/k of the codes and ADC scores the
  * survivors — the full IVF-PQ pipeline, raw embeddings touched by
  * NEITHER stage after training.
  *
  * Reference scope: no vector surface exists in the reference (SURVEY
  * §2.5); this is the training-data/RAG engine layer, sharing the
  * integer-Lloyd machinery with d18/c10/d28.
  */
object PqZone {

  /** Fit per-subspace codebooks: `m` independent integer-Lloyd runs on
    * the subvector slices (each a handful of narrow scans — see
    * [[Similarity.kmeansFit]]). `dims` must split evenly into `m`.
    */
  def fit(emb: DataFrame, m: Int = 4, k: Int = 8, iters: Int = 2,
      dims: Int = 64): Seq[Seq[Array[Long]]] = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    // the m subspace chains are INDEPENDENT deterministic Lloyd fits —
    // run them as concurrent driver threads (§2.6): each chain is
    // k seeding TakeOrdered jobs + (iters-1) recompute collects of a
    // tiny frame, all driver-latency-bound, so overlapping them cuts
    // the fit wall ~m× without touching any result (round-18 JobProfile:
    // the sequential seeding heads were c16's single largest cost)
    val books = new Array[Seq[Array[Long]]](m)
    graft.core.Par.run((0 until m).map(s => () => {
      books(s) = Similarity.kmeansFit(
        emb.select(col("vec_id"),
          slice(col("embedding"), s * dsub + 1, dsub).as("embedding")),
        k, iters)
    }): _*)
    books.toSeq
  }

  private[operators] def zone(zoneDir: String) = Zone.at("PqZone", zoneDir,
    rows = "codes", id = "vec_id", cluster = "vec_id", meta = "books")

  /** Create an empty zone under FIXED codebooks (the [[Zone.create]]
    * guard: different codebooks over stored codes are refused).
    */
  def create(spark: SparkSession, zoneDir: String,
      books: Seq[Seq[Array[Long]]]): Unit = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "PQ zone needs at least one codebook with at least one code")
    zone(zoneDir).create(spark) {
      if (loadBooks(spark, zoneDir).map(_.map(_.toSeq)) == books.map(_.map(_.toSeq))) None
      else Some(("different codebooks", "these codebooks"))
    } {
      import spark.implicits._
      books.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (c, cid) => (s, cid.toLong, c.toSeq) }
      }.toDF("s", "cid", "centroid")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$zoneDir/books")
    }
  }

  /** The stored codebooks — an m·k·dsub driver read (the watermark
    * altitude; a few KB).
    */
  def loadBooks(spark: SparkSession, zoneDir: String): Seq[Seq[Array[Long]]] =
    // served from the fingerprint-guarded cache (graft.core.MetaReads):
    // a retrain's overwrite lands new part files and misses
    graft.core.MetaReads.rows(spark, s"$zoneDir/books")
      .groupBy(_.getAs[Int]("s")).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getAs[Long]("cid"))
        .map(_.getAs[scala.collection.Seq[Long]]("centroid").toArray).toSeq)

  /** Quantized subvector slice `s` of a raw float-array column. */
  private def qslice(vec: Column, s: Int, dsub: Int): Column =
    expr(s"transform(slice(${vec.toString()}, ${s * dsub + 1}, $dsub), " +
      "x -> floor((CAST(x AS DOUBLE) + 1.0D) * 1048576.0D))")

  /** Per-subspace argmin code under literal codebooks — the encode
    * expression: m·k codegen'd distance folds, (dist, cid) tiebreak
    * via lexicographic `array_min` (the [[Similarity]] assignment
    * rule, which the oracle's row_number replays).
    */
  private def codeExpr(vec: Column, books: Seq[Seq[Array[Long]]],
      dsub: Int): Column =
    array(books.zipWithIndex.map { case (book, s) =>
      val qs = qslice(vec, s, dsub)
      array_min(array(book.zipWithIndex.map { case (c, cid) =>
        struct(
          VectorExpressions.sqdist(qs, array(c.toSeq.map(lit(_)): _*)).as("dist"),
          lit(cid.toLong).as("cid"))
      }: _*)).getField("cid")
    }: _*)

  /** Append one delta's codes — encode is one narrow codegen'd
    * projection (m·k literal distance folds), zero shuffle, nothing
    * rescanned. `delta` must expose `vec_id` and `embedding`.
    */
  def append(delta: DataFrame, zoneDir: String, dims: Int = 64): Unit = {
    val spark = delta.sparkSession
    Similarity.ensure(spark)
    zone(zoneDir).append(spark) {
      val books = loadBooks(spark, zoneDir)
      delta.select(col("vec_id"),
        codeExpr(col("embedding"), books, dims / books.size).as("codes"))
    }
  }

  /** Fit + create + encode an existing corpus (the batch-backfill
    * path); refuses a populated zone ([[Zone.requireEmpty]]).
    */
  def build(spark: SparkSession, emb: DataFrame, zoneDir: String,
      m: Int = 4, k: Int = 8, iters: Int = 2,
      dims: Int = 64): Seq[Seq[Array[Long]]] = {
    zone(zoneDir).requireEmpty(spark)
    val books = fit(emb, m, k, iters, dims)
    create(spark, zoneDir, books)
    append(emb, zoneDir, dims)
    books
  }

  /** Tombstone vectors ([[Zone.delete]]). `ids` must expose `vec_id`. */
  def delete(ids: DataFrame, zoneDir: String): Unit = zone(zoneDir).delete(ids)

  /** The readable code table with replay dedup SKIPPED when provably
    * unnecessary: [[optimize]] stamps the compacted listing's
    * fingerprint under `zoneDir/clean`; while the codes listing still
    * matches it, the table is exactly the compaction's DISTINCT output
    * and the read needs no dedup exchange AT ALL (the scan feeds the
    * ADC scoring directly — the posture a maintained deployment runs).
    * Any later append changes the listing, the stamp goes stale, and
    * the read falls back to DISTINCT — never a silent double-count.
    * Encoding is deterministic, so duplicates can only be bitwise
    * replays; DISTINCT on (vec_id, codes) is exact dedup.
    */
  private def readableCodes(spark: SparkSession, zoneDir: String): DataFrame = {
    val z = zone(zoneDir)
    val codes = Generations.read(spark, z.rowsDir)
      .select(col("vec_id"), col("codes"))
    val marker = s"$zoneDir/clean"
    val clean = graft.core.Fs.hasParquetFiles(spark, marker) &&
      graft.core.MetaReads.row(spark, marker).getString(0) ==
        graft.core.Fs.fingerprint(spark, z.rowsDir)
    z.live(if (clean) codes else codes.distinct())
  }

  /** OPTIMIZE ([[Zone.optimize]]): the codes rewritten vec_id-clustered
    * (tight per-file id spans for the re-rank point lookups), then the
    * compacted listing stamped under `zoneDir/clean` — reads skip the
    * dedup exchange while the stamp is fresh (a crash before the stamp
    * just leaves the DISTINCT fallback in place — safe either way).
    * Returns (filesBefore, filesAfter).
    */
  def optimize(spark: SparkSession, zoneDir: String,
      targetRowsPerFile: Long = 4 << 20): (Int, Int) =
    zone(zoneDir).optimize(spark, targetRowsPerFile, () => {
      import spark.implicits._
      Seq(graft.core.Fs.fingerprint(spark, zone(zoneDir).rowsDir))
        .toDF("codes_fingerprint").coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$zoneDir/clean")
    })

  /** The query-side LUT columns (`lut0..lut{m-1}`): per subspace, the
    * integer distance from the query's subvector to EVERY codebook
    * entry — m·k sqdist expressions per query row, computed once
    * before the broadcast.
    */
  private def withLuts(queries: DataFrame,
      books: Seq[Seq[Array[Long]]], dsub: Int): DataFrame =
    books.zipWithIndex.foldLeft(queries) { case (df, (book, s)) =>
      df.withColumn(s"lut$s", array(book.map { c =>
        VectorExpressions.sqdist(qslice(col("qvec"), s, dsub),
          array(c.toSeq.map(lit(_)): _*))
      }: _*))
    }

  /** The ADC sum over a `codes` array column: m table lookups. */
  private def adcExpr(m: Int): Column =
    (0 until m).map { s =>
      element_at(col(s"lut$s"),
        (element_at(col("codes"), s + 1) + 1L).cast("int"))
    }.reduce(_ + _)

  /** Asymmetric-distance top-k over the WHOLE code table: every
    * candidate costs m integer lookups against the query's LUTs —
    * the corpus's raw vectors are never read. Output
    * `(q_id, vec_id, adc_dist, nn_rank)`, ranked (adc asc, vec_id).
    *
    * CONTRACT — this is the flat-scan posture (FAISS IndexPQ): the
    * crossJoin scores the ENTIRE code table per query, by definition.
    * It is for SMALL corpora (the codes fit a few partitions) and for
    * re-ranking an already-bounded candidate set — never the corpus
    * read path at scale. Corpus-scale callers MUST route first:
    * [[ivfAdcTopK]] bounds the scan to the probed cells' codes and is
    * the production posture ([[refinedTopK]] for the exact-refined
    * one). PqZoneSpec pins this requirement.
    */
  def adcTopK(queries: DataFrame, zoneDir: String, k: Int,
      dims: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    Similarity.ensure(spark)
    val books = loadBooks(spark, zoneDir)
    val m = books.size
    val codes = readableCodes(spark, zoneDir)
    IvfIndexZone.rank(codes.crossJoin(
        broadcast(withLuts(queries, books, dims / m)
          .select(col("q_id") +: (0 until m).map(s => col(s"lut$s")): _*)))
      .select(col("q_id"), col("vec_id"), adcExpr(m).as("adc_dist")),
      col("adc_dist").asc, k)
  }

  /** The IVF-PQ composition: [[IvfIndexZone]] routes (each query's
    * nprobe nearest cells bound the scan), PQ scores (ADC over the
    * survivors' codes) — after training, NEITHER stage touches a raw
    * embedding. Output as [[adcTopK]].
    */
  def ivfAdcTopK(queries: DataFrame, pqZoneDir: String, ivfZoneDir: String,
      k: Int, nprobe: Int, dims: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    Similarity.ensure(spark)
    val books = loadBooks(spark, pqZoneDir)
    val m = books.size
    val cand = IvfIndexZone.candidateIds(queries, ivfZoneDir, nprobe)
    val codes = readableCodes(spark, pqZoneDir)
    // codes stream; the candidate set builds (probed-cells-sized)
    IvfIndexZone.rank(codes.hint("shuffle_hash").join(cand, Seq("vec_id"))
      .join(broadcast(withLuts(queries, books, dims / m)
        .select(col("q_id") +: (0 until m).map(s => col(s"lut$s")): _*)),
        Seq("q_id"))
      .select(col("q_id"), col("vec_id"), adcExpr(m).as("adc_dist")),
      col("adc_dist").asc, k)
  }

  /** The three-stage production retrieval pipeline: IVF routes, ADC
    * shortlists the routed candidates to the top `r` per query, and
    * EXACT cosine re-ranks only the shortlist — so the refine stage
    * reads at most nq·r raw vectors no matter the corpus size (the
    * shortlist broadcasts into the corpus join). With `r` ≥ the probed
    * candidate count this degenerates to [[IvfIndexZone.topK]] exactly
    * (PqZoneSpec pins it). Output `(q_id, vec_id, cos_sim, nn_rank)`.
    */
  def refinedTopK(corpus: DataFrame, queries: DataFrame, pqZoneDir: String,
      ivfZoneDir: String, k: Int, r: Int, nprobe: Int,
      dims: Int = 64): DataFrame = {
    val shortlist = ivfAdcTopK(queries, pqZoneDir, ivfZoneDir, r, nprobe,
      dims).select(col("q_id"), col("vec_id"))
    IvfIndexZone.cosineTopK(corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), Seq("vec_id")), queries, k)
  }
}
