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
    * Crash-safety is rename-based staging, the same discipline as the
    * JDBC staging table: the rewrite lands complete in `<dir>.compact`
    * (source fully read — the write is the action), then publishes via
    * two directory renames (dir → `.pre-compact`, staging → dir) and
    * drops the retired copy. A crash before the first rename leaves the
    * source untouched (stale staging is re-overwritten next run); a
    * crash BETWEEN the renames leaves `dir` absent with the data intact
    * in `.pre-compact`, and one after the publish leaves a stale
    * `.pre-compact` beside the new `dir` — the next call settles either
    * state first ([[recoverInterrupted]]), so the windows are
    * self-healing, not just documented. Concurrency is a single-writer
    * assumption; a transactional table format replaces the whole rename
    * protocol with a metadata commit at deployment.
    *
    * Returns (filesBefore, filesAfter). `knownCount` skips
    * [[writeSharded]]'s sizing scan when the caller already knows the
    * row count (the same seam writeSharded itself exposes).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      key: Column, targetRowsPerFile: Long,
      knownCount: Option[Long] = None,
      transform: DataFrame => DataFrame = identity): (Int, Int) = {
    recoverInterrupted(spark, dir)
    val before = parquetCount(spark, dir)
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
    val frame0 = transform(spark.read.parquet(dir))
    val frame =
      if (knownCount.isDefined) frame0
      else frame0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val staging = dir + ".compact"
    val retired = dir + ".pre-compact"
    try writeSharded(frame, staging, key, targetRowsPerFile, knownCount)
    finally if (knownCount.isEmpty) frame.unpersist(): Unit
    val (fs, _) = graft.core.Fs.resolve(spark, dir)
    require(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(retired)), s"retire rename failed: $dir")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(dir)), s"publish rename failed: $staging")
    graft.core.Fs.deleteRecursively(spark, retired)
    // an in-place rewrite MUST invalidate the session's caches for the
    // path: a frame persisted over the pre-rewrite files canonicalizes
    // equal to a post-rewrite read of the same path (same root, same
    // schema), so without this the CacheManager would silently serve
    // the RETIRED data to every later reader — stale listings and
    // cached plans both drop here
    spark.catalog.refreshByPath(dir)
    (before, parquetCount(spark, dir))
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
      dimA: String, dimB: String, targetRowsPerFile: Long): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    recoverInterrupted(spark, dir)
    if (parquetCount(spark, dir) == 0) return (0, 0)
    val stats = spark.read.parquet(dir)
      .agg(min(col(dimA)).cast("long"), max(col(dimA)).cast("long"),
        min(col(dimB)).cast("long"), max(col(dimB)).cast("long"),
        count(lit(1)))
      .head()
    if (stats.isNullAt(0) || stats.isNullAt(2)) return (0, 0)
    def scaled(c: String, mn: Long, mx: Long): Column =
      if (mx <= mn) lit(0L)
      // ratio-first in double: multiply-first long math would overflow
      // for spans above ~2^48 (e.g. epoch-micros over years) and wrap
      // into wrong cells. (x-mn)/span is in [0,1], IEEE division and
      // multiply are monotone, and the truncating cast IS floor for
      // non-negatives — so cells stay ordered for EVERY long span, at
      // worst losing sub-cell resolution on astronomically wide domains
      else ((col(c).cast("long") - lit(mn)).cast("double") / lit((mx - mn).toDouble)
        * lit(65535.0)).cast("long")
    val key = graft.functions.LayoutExpressions.zorder2(
      scaled(dimA, stats.getLong(0), stats.getLong(1)),
      scaled(dimB, stats.getLong(2), stats.getLong(3)))
    compactParquet(spark, dir, key, targetRowsPerFile,
      knownCount = Some(stats.getLong(4)))
  }

  /** K-dimensional Z-order OPTIMIZE — [[compactZorder2]] generalized to
    * any column list (2..8 dims) via [[graft.functions.ZOrderN]]: the
    * same one-scan stats pre-read min-max scales EVERY dimension onto
    * the shared `2^(63/K)` grid, so each weighs equally in the
    * interleave and a K-rectangle predicate prunes files on all K
    * dimensions. Same crash-safe rename protocol, same
    * knownCount-from-stats sizing. Prefer [[compactZorder2]] for two
    * dimensions (its five-round spread is the unrolled fast path).
    */
  def compactZorderN(spark: org.apache.spark.sql.SparkSession, dir: String,
      dims: Seq[String], targetRowsPerFile: Long): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    require(dims.length >= 2 && dims.length <= 8,
      s"compactZorderN takes 2..8 dimensions, got ${dims.length}")
    recoverInterrupted(spark, dir)
    if (parquetCount(spark, dir) == 0) return (0, 0)
    val aggs = dims.flatMap(d =>
      Seq(min(col(d)).cast("long"), max(col(d)).cast("long"))) :+ count(lit(1))
    val stats = spark.read.parquet(dir).agg(aggs.head, aggs.tail: _*).head()
    if (dims.indices.exists(i => stats.isNullAt(2 * i))) return (0, 0)
    val gridMax = (1L << (63 / dims.length)) - 1
    def scaled(c: String, mn: Long, mx: Long): Column =
      if (mx <= mn) lit(0L)
      // ratio-first in double — same overflow-free monotone scaling as
      // compactZorder2, onto this K's per-dimension grid
      else ((col(c).cast("long") - lit(mn)).cast("double") / lit((mx - mn).toDouble)
        * lit(gridMax.toDouble)).cast("long")
    val key = graft.functions.LayoutExpressions.zorderN(
      dims.zipWithIndex.map { case (d, i) =>
        scaled(d, stats.getLong(2 * i), stats.getLong(2 * i + 1)) }: _*)
    compactParquet(spark, dir, key, targetRowsPerFile,
      knownCount = Some(stats.getLong(2 * dims.length)))
  }

  private def parquetCount(spark: org.apache.spark.sql.SparkSession, p: String): Int = {
    val (fs, hp) = graft.core.Fs.resolve(spark, p)
    if (!fs.exists(hp)) 0
    else fs.listStatus(hp).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Settle what a crashed [[compactParquet]] left behind; afterwards no
    * `.pre-compact` exists. The staging dir `.compact` tells the windows
    * apart, since the publish rename consumes it:
    *   - retired copy, no `dir`: the crash landed between the renames —
    *     restore it instead of treating the table as empty;
    *   - retired copy, `dir` AND staging: the same crash, after which an
    *     append recreated `dir` — move the retired parts into `dir`
    *     (rename by name, so a re-run after a crash mid-move moves the
    *     rest), or dropping the retired copy would lose every row it
    *     holds;
    *   - retired copy and `dir`, no staging: the publish completed and
    *     the retired copy is stale — drop it (folding it in would
    *     duplicate every row).
    */
  private def recoverInterrupted(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (fs, dirP) = graft.core.Fs.resolve(spark, dir)
    val retired = dir + ".pre-compact"
    val retiredP = new org.apache.hadoop.fs.Path(retired)
    if (!fs.exists(retiredP)) return
    if (!fs.exists(dirP))
      require(fs.rename(retiredP, dirP),
        s"interrupted-publish recovery rename failed: $retiredP -> $dirP")
    else {
      if (fs.exists(new org.apache.hadoop.fs.Path(dir + ".compact")))
        graft.core.Fs.moveParts(spark, retired, dir)
      graft.core.Fs.deleteRecursively(spark, retired)
    }
  }
}
