package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Balanced, clustered output sharding — the sink-side discipline that
  * keeps a 100 TB corpus readable: uniform file sizes (no small-files
  * storm, no straggler shards) and per-file key clustering (parquet
  * min/max zone maps stay selective, so downstream range predicates
  * prune files instead of scanning them).
  *
  * The reference writes one JSON object per fetch batch into its lake
  * (batching at `cardano_blocks_and_block_tx_pipeline_w_param.py:46` —
  * file size there is whatever the batch happened to be); this is the
  * engine-grade replacement for columnar zones.
  *
  * Mechanism, in order of what it buys:
  *   - `repartitionByRange(files, key)`: sampled range boundaries give
  *     ~equal ROW counts per shard for ANY key distribution (a skewed
  *     or sparse id domain breaks hash/width schemes; sampling does
  *     not), and make shard ranges key-disjoint;
  *   - `sortWithinPartitions(key)`: rows inside a shard are clustered,
  *     so each parquet row-group's min/max covers a tight key span —
  *     that is what makes zone-map pruning effective downstream;
  *   - `maxRecordsPerFile`: a hard per-file cap so even a mis-sampled
  *     heavy shard splits into bounded files instead of one straggler
  *     (the split preserves sortedness, so clustering survives).
  *
  * `knownCount` skips the sizing scan when the caller already knows the
  * row count (table stats, a prior action) — the same seam as
  * `sequencePack`/`batchTopK`. An approximate count only shifts file
  * COUNT targets; the per-file cap still bounds every file.
  */
object ShardedWriter {

  /** Write `df` as balanced parquet shards clustered on `key`; returns
    * the shard (range-partition) count.
    */
  def writeSharded(df: DataFrame, path: String, key: Column,
      targetRowsPerFile: Long, knownCount: Option[Long] = None): Int = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val n = knownCount.getOrElse(df.count())
    val shards = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
      .min(Int.MaxValue.toLong).toInt
    df.repartitionByRange(shards, key)
      .sortWithinPartitions(key)
      .write
      .option("maxRecordsPerFile", targetRowsPerFile)
      .mode("overwrite")
      .parquet(path)
    shards
  }

  /** Compact a parquet directory in place — the OPTIMIZE pass every
    * streaming ingestion needs: micro-batches land one-file-per-
    * trigger-per-partition (the small-files storm that makes listing
    * and scan-task scheduling the bottleneck long before I/O), and this
    * rewrite folds them into [[writeSharded]]'s balanced clustered
    * layout.
    *
    * Crash safety is [[Generations]]' one-step commit: the rewrite of
    * the current generation lands complete as the next one (source
    * fully read — the write is the action) and is published by
    * creating its marker. A crash before the marker leaves the current
    * generation serving; one after it leaves the new generation
    * serving; either residue is swept by the next call. Readers and
    * appends of `dir` must resolve through [[Generations.resolve]].
    * Concurrency is a single-writer assumption: an append racing the
    * rewrite lands in the generation being replaced.
    *
    * Returns (filesBefore, filesAfter). `knownCount` skips
    * [[writeSharded]]'s sizing scan when the caller already knows the
    * row count (the same seam writeSharded itself exposes).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      key: Column, targetRowsPerFile: Long,
      knownCount: Option[Long] = None,
      transform: DataFrame => DataFrame = identity): (Int, Int) = {
    val src = Generations.resolve(spark, dir)
    val before = parquetCount(spark, src)
    // absent dir or metadata-only residue (zero part files): nothing to
    // fold, and spark.read.parquet could not even infer a schema
    if (before == 0) return (0, 0)
    // `transform` lets append-only zones FOLD ROWS in the same
    // crash-safe pass (DISTINCT away replayed band rows, min-aggregate
    // md5 keepers) — callers must pass only transforms the zone's read
    // semantics absorb, so the rewrite stays result-invisible.
    // Persist the folded frame when the sizing scan needs it: without
    // the cache, writeSharded's count() and the write each run the
    // whole fold (the dedup shuffle computed twice per OPTIMIZE —
    // measured round 17); with it the fold runs once and the write
    // consumes the cached blocks (MEMORY_AND_DISK — zone-sized, spills
    // rather than OOMs, exactly the storage the second computation's
    // shuffle would have cost).
    val frame0 = transform(spark.read.parquet(src))
    val frame =
      if (knownCount.isDefined) frame0
      else frame0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the new generation has its own path, so no cached plan over the
    // replaced one can answer a later read of `dir`
    val gen =
      try Generations.publish(spark, dir)(
        writeSharded(frame, _, key, targetRowsPerFile, knownCount): Unit)
      finally if (knownCount.isEmpty) frame.unpersist(): Unit
    (before, parquetCount(spark, gen))
  }

  /** Z-order OPTIMIZE: [[compactParquet]] keyed on the Morton
    * interleave ([[graft.functions.ZOrder2]]) of two dimensions after
    * min-max scaling each onto a 16-bit grid. Raw interleaving of
    * unequal-width domains degenerates to the wider one's plain sort —
    * a month of epoch seconds spans ~2^21 distinct values against an id
    * domain of ~2^8, so every code comparison would be decided by the
    * seconds' high bits and the id dimension would never prune. Scaling
    * both dimensions from their actual min/max onto [0, 2^16) gives
    * them equal weight in the interleave — the same per-column range
    * normalization Delta/Iceberg OPTIMIZE ZORDER applies before
    * interleaving. 2^32 grid cells means grid granularity never binds
    * before file count does; ties within a cell only cost pruning
    * resolution, never correctness. The stats pre-read is a
    * column-pruned 2-column agg (footer-stats cheap next to the full
    * rewrite that follows) and carries the row count with it, so the
    * rewrite's file sizing never pays a separate counting scan.
    *
    * Returns (filesBefore, filesAfter); (0, 0) when there is nothing to
    * fold or a dimension is all-null (no meaningful scale exists).
    */
  def compactZorder2(spark: org.apache.spark.sql.SparkSession, dir: String,
      dimA: String, dimB: String, targetRowsPerFile: Long): (Int, Int) =
    compactZorder(spark, dir, Seq(dimA, dimB), targetRowsPerFile, 65535L)(cells =>
      graft.functions.LayoutExpressions.zorder2(cells(0), cells(1)))

  /** K-dimensional Z-order OPTIMIZE — [[compactZorder2]] generalized to
    * any column list (2..8 dims) via [[graft.functions.ZOrderN]]: the
    * same one-scan stats pre-read min-max scales EVERY dimension onto
    * the shared `2^(63/K)` grid, so each weighs equally in the
    * interleave and a K-rectangle predicate prunes files on all K
    * dimensions. Same one-step generation commit, same
    * knownCount-from-stats sizing. Prefer [[compactZorder2]] for two
    * dimensions (its five-round spread is the unrolled fast path).
    */
  def compactZorderN(spark: org.apache.spark.sql.SparkSession, dir: String,
      dims: Seq[String], targetRowsPerFile: Long): (Int, Int) = {
    require(dims.length >= 2 && dims.length <= 8,
      s"compactZorderN takes 2..8 dimensions, got ${dims.length}")
    compactZorder(spark, dir, dims, targetRowsPerFile, (1L << (63 / dims.length)) - 1)(
      cells => graft.functions.LayoutExpressions.zorderN(cells: _*))
  }

  /** The Z-order OPTIMIZE both entries share: one stats scan (each
    * dimension's min and max, and the row count), each dimension
    * min-max scaled onto `[0, gridMax]`, the cells interleaved, and
    * [[compactParquet]] sized by the scanned count.
    */
  private def compactZorder(spark: org.apache.spark.sql.SparkSession, dir: String,
      dims: Seq[String], targetRowsPerFile: Long, gridMax: Long)(
      interleave: Seq[Column] => Column): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val src = Generations.resolve(spark, dir)
    if (parquetCount(spark, src) == 0) return (0, 0)
    val aggs = dims.flatMap(d =>
      Seq(min(col(d)).cast("long"), max(col(d)).cast("long"))) :+ count(lit(1))
    val stats = spark.read.parquet(src).agg(aggs.head, aggs.tail: _*).head()
    if (dims.indices.exists(i => stats.isNullAt(2 * i))) return (0, 0)
    def scaled(c: String, mn: Long, mx: Long): Column =
      if (mx <= mn) lit(0L)
      // ratio-first in double: multiply-first long math would overflow
      // for spans above ~2^48 (e.g. epoch-micros over years) and wrap
      // into wrong cells. (x-mn)/span is in [0,1], IEEE division and
      // multiply are monotone, and the truncating cast IS floor for
      // non-negatives — so cells stay ordered for EVERY long span, at
      // worst losing sub-cell resolution on astronomically wide domains
      else ((col(c).cast("long") - lit(mn)).cast("double") / lit((mx - mn).toDouble)
        * lit(gridMax.toDouble)).cast("long")
    val key = interleave(dims.zipWithIndex.map { case (d, i) =>
      scaled(d, stats.getLong(2 * i), stats.getLong(2 * i + 1)) })
    compactParquet(spark, dir, key, targetRowsPerFile,
      knownCount = Some(stats.getLong(2 * dims.length)))
  }

  private def parquetCount(spark: org.apache.spark.sql.SparkSession, p: String): Int = {
    val (fs, hp) = graft.core.Fs.resolve(spark, p)
    if (!fs.exists(hp)) 0
    else fs.listStatus(hp).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }
}
