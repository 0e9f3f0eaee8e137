package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Explicit zone maps: a PERSISTED per-file min/max stats table and a
  * driver-side file planner that reads only the files whose range
  * intersects the query box — the data-skipping architecture Delta and
  * Iceberg keep in their transaction logs, reproduced on plain parquet.
  *
  * Parquet footers already carry row-group min/max, but at 100 TB the
  * difference matters: footer-based skipping still LISTS and OPENS
  * every file (one S3 GET per footer, millions of round trips before
  * the first data byte), while a stats table is one KB-to-MB-scale scan
  * — one row per file — after which the driver hands Spark the exact
  * file list. This is why every lakehouse format moved stats out of the
  * footers and into metadata; [[buildStats]]/[[prunedRead]] is that
  * move as a library operator, composing with
  * [[ShardedWriter.compactZorder2]]: z-order makes per-file ranges
  * TIGHT in every clustered dimension, which is what makes min/max
  * pruning selective in all of them at once (s13_zonemap_skip proves
  * the composition end-to-end; ZoneMapSpec pins the file-hit counts).
  *
  * Every data-dir read resolves the dir's current generation
  * ([[Generations]]) in [[data]], so a dir a compaction rewrote is read
  * as its committed rows; stats record the generation's file paths.
  *
  * Staleness contract: the stats table is a snapshot of the data dir at
  * build time. [[prunedRead]] fails loudly if the dir has gained files
  * the stats don't cover (a file the planner doesn't know about could
  * silently satisfy the predicate) — the single-writer discipline every
  * other staged layout here assumes; a transactional format replaces
  * the rebuild with a metadata commit per write.
  */
object ZoneMap {

  /** The shared staleness gate every planner runs before trusting its
    * metadata: the data dir's CURRENT file set must equal the set the
    * metadata table covers. A FILE-SET comparison, not a count —
    * same-count churn (compaction replacing one file with another) must
    * fail as loudly as an append, or an uncovered file silently never
    * reads.
    */
  private def requireFresh(spark: SparkSession, dataDir: String,
      known: Set[String], what: String, rebuild: String): Unit = {
    val actual = data(spark, dataDir).inputFiles.toSet
    require(actual == known, {
      val extra = actual -- known
      val gone = known -- actual
      s"$what stale for $dataDir — rebuild $rebuild" +
        (if (extra.nonEmpty) s"; uncovered files: ${extra.take(3).mkString(", ")}" else "") +
        (if (gone.nonEmpty) s"; $rebuild for missing files: ${gone.take(3).mkString(", ")}" else "")
    })
  }

  /** One scan of `dataDir` → stats parquet at `statsDir`: one row per
    * data file with `(file, n_rows, min_<c>, max_<c>, ...)` for each
    * requested column, in the column's NATIVE type — numeric, string
    * (lexical order), date and timestamp ranges all prune (the same
    * typed min/max parquet keeps per row group and Delta keeps per
    * file). The stats output is #files rows — tiny at any data scale
    * (a million-file table is a ~100 MB stats table), and the
    * aggregation is a partial-agg shuffle keyed on file name, so it
    * moves one row per (file, partition-slice).
    */
  def buildStats(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String]): Unit =
    statsAgg(data(spark, dataDir), cols)
      .write.mode(SaveMode.Overwrite).parquet(statsDir)

  private def statsAgg(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zone map needs at least one stats column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental stats maintenance: scan ONLY the data files the stats
    * table does not cover yet and append their rows — the nightly loop
    * that keeps zone maps current without rescanning the table (the
    * same only-the-delta discipline as the sketch zone's watermark
    * append; a transactional format does this inside the write commit).
    * Files present in stats but gone from the directory still fail at
    * [[prunedRead]] — a delete/compaction rewrote history, and only a
    * rebuild can prove which stats rows are still true. Returns the
    * number of newly covered files (0 = up to date).
    */
  def appendStats(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String]): Long =
    appendUncovered(spark, dataDir, statsDir)(statsAgg(_, cols))

  /** Append the per-file rows of the data files `metaDir` does not
    * cover yet; returns how many files that was.
    */
  private def appendUncovered(spark: SparkSession, dataDir: String,
      metaDir: String)(perFile: DataFrame => DataFrame): Long = {
    val covered = spark.read.parquet(metaDir)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val fresh = data(spark, dataDir).inputFiles.filterNot(covered)
    if (fresh.isEmpty) return 0L
    perFile(spark.read.parquet(fresh.toIndexedSeq: _*))
      .write.mode(SaveMode.Append).parquet(metaDir)
    fresh.length.toLong
  }

  /** Read only the files whose `[min, max]` stats intersect every
    * `(column, lo, hi)` bound (inclusive). Planning is DRIVER-SIDE over
    * the #files-row stats table — the same place Delta's log replay or
    * an Iceberg manifest scan runs, and the same argument for why it is
    * not a bottleneck: the planning input is file metadata, not data.
    * Files with a null min/max (all-null column) are kept — null
    * stats prove nothing, so skipping them would be wrong.
    *
    * The returned frame still needs the caller's row-level predicate on
    * top (pruning is file-granular); what it saves is ever opening the
    * files the predicate cannot reach.
    */
  def prunedRead(spark: SparkSession, dataDir: String, statsDir: String,
      bounds: Seq[(String, Any, Any)]): DataFrame = {
    val stats = spark.read.parquet(statsDir)
    // `lit` gives the bound the caller's type; the comparison then runs
    // under the stats column's native ordering (numeric, lexical
    // string, date) — same typed semantics the row-level filter will
    // apply inside the surviving files
    val keep = bounds.foldLeft(stats) { case (df, (c, lo, hi)) =>
      df.filter(col(s"min_$c").isNull ||
        !(col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi)))
    }
    // driver-side: one short string per SURVIVING file
    val files = keep.select(col("file")).collect().map(_.getString(0))
    requireFresh(spark, dataDir,
      stats.select(col("file")).collect().map(_.getString(0)).toSet,
      "zone map", "stats")
    readFiles(spark, dataDir, files)
  }

  /** The planned `files` of `dataDir` as one frame; no file can match:
    * an empty frame, schema preserved from the dir.
    */
  private def readFiles(spark: SparkSession, dataDir: String,
      files: Seq[String]): DataFrame =
    if (files.isEmpty) data(spark, dataDir).filter(lit(false))
    else spark.read.parquet(files: _*)

  /** The current rows of `dataDir` (the one place ZoneMap reads data). */
  private def data(spark: SparkSession, dataDir: String): DataFrame =
    Generations.read(spark, dataDir)

  /** The read of a zone's rows once OPTIMIZE persisted `statsDir`
    * (`points` are computed only then): the files whose `column` range
    * can hold any of `points` ([[statsPlanFilesAnyOf]]). Without stats,
    * or with stats of a generation a later compaction replaced (a crash
    * before the stats rebuild), the whole dir — those stats prove
    * nothing about the current files.
    */
  private[operators] def statsPlannedRead(spark: SparkSession, dataDir: String,
      statsDir: String, column: String, points: => Seq[Long]): DataFrame = {
    val stats =
      if (!graft.core.Fs.exists(spark, statsDir)) Seq.empty
      else statsRanges(spark, statsDir, column)
    if (!Generations.holdsAny(spark, dataDir, stats.map(_.getString(0))))
      data(spark, dataDir)
    else readFiles(spark, dataDir, planAnyOf(spark, dataDir, stats, points))
  }

  /** Stats-planned POINT-SET file planning: the files whose `[min_c,
    * max_c]` range contains ANY of the probe points — the disjunctive
    * sibling of [[prunedRead]]'s conjunctive box (a multi-probe lookup
    * keyed on a CLUSTERED column wants OR-of-points, which a range box
    * cannot express). Driver-side over the #files-row stats table with
    * the same file-set staleness guard; null-stats files are kept (null
    * proves nothing). Returns the surviving file list — empty means no
    * file can hold any probe.
    */
  def statsPlanFilesAnyOf(spark: SparkSession, dataDir: String,
      statsDir: String, column: String, points: Seq[Long]): Seq[String] =
    planAnyOf(spark, dataDir, statsRanges(spark, statsDir, column), points)

  /** The `(file, min, max)` rows of `column` in the stats table. */
  private def statsRanges(spark: SparkSession, statsDir: String,
      column: String): Seq[org.apache.spark.sql.Row] =
    spark.read.parquet(statsDir)
      .select(col("file"), col(s"min_$column").cast("long").as("mn"),
        col(s"max_$column").cast("long").as("mx"))
      .collect().toSeq

  private def planAnyOf(spark: SparkSession, dataDir: String,
      rows: Seq[org.apache.spark.sql.Row], points: Seq[Long]): Seq[String] = {
    requireFresh(spark, dataDir, rows.map(_.getString(0)).toSet,
      "zone map", "stats")
    rows.collect {
      case r if r.isNullAt(1) || r.isNullAt(2) => r.getString(0)
      case r if points.exists(p => r.getLong(1) <= p && p <= r.getLong(2)) =>
        r.getString(0)
    }.toIndexedSeq
  }

  /** The POINT-LOOKUP half of data skipping: one scan of `dataDir` →
    * a per-file Bloom filter over `keyCol` persisted at `bloomDir`
    * (one row per file: file, n_rows, bloom bytes). Min/max stats
    * prune RANGES; on a high-cardinality key whose values are spread
    * across every file (any hash-fragmented ingest), every file's
    * [min, max] spans the whole domain and zone maps prune nothing —
    * a bloom answers "could key k be in this file" with no false
    * negatives, which is exactly what Delta/Iceberg bloom indexes and
    * parquet bloom pages exist for. `expectedItemsPerFile` sizes each
    * filter (~3% fp at that cardinality); a filter is KBs, so the
    * bloom table stays metadata-sized at any file count.
    */
  def buildBlooms(spark: SparkSession, dataDir: String, bloomDir: String,
      keyCol: String, expectedItemsPerFile: Int): Unit =
    bloomAgg(data(spark, dataDir), keyCol, expectedItemsPerFile)
      .write.mode(SaveMode.Overwrite).parquet(bloomDir)

  private def bloomAgg(df: DataFrame, keyCol: String,
      expectedItemsPerFile: Int): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.SketchExpressions
          .bloomAgg(col(keyCol), expectedItemsPerFile).as("bloom"))

  /** Incremental bloom maintenance — [[appendStats]]'s discipline for
    * the membership zone: scan ONLY the data files the bloom table does
    * not cover yet and append their rows. Blooms are per-file and never
    * rewritten, so append-only ingest composes exactly as with min/max
    * stats; deletes/compactions still force a rebuild (the staleness
    * guard fails loudly). Returns the number of newly covered files.
    */
  def appendBlooms(spark: SparkSession, dataDir: String, bloomDir: String,
      keyCol: String, expectedItemsPerFile: Int): Long =
    appendUncovered(spark, dataDir, bloomDir)(bloomAgg(_, keyCol, expectedItemsPerFile))

  /** Read only the files whose Bloom filter might contain `key` —
    * driver-side planning over the #files-row bloom table (the
    * [[prunedRead]] altitude argument), with the same file-SET
    * staleness guard. No false negatives: every file actually holding
    * the key survives; false positives only cost extra opened files at
    * the filter's fp rate. The caller still applies the row-level
    * equality predicate on top.
    */
  def bloomPrunedRead(spark: SparkSession, dataDir: String, bloomDir: String,
      key: Long): DataFrame = {
    readFiles(spark, dataDir, bloomPlanFiles(spark, dataDir, bloomDir, Seq(key))(key))
  }

  /** Batch bloom planning: ONE pass over the bloom table answers every
    * probe key's candidate-file list (the driver deserializes each
    * filter once and tests all keys against it — a lookup workload of K
    * keys costs one metadata scan, not K). Same file-set staleness
    * guard as the single-key read; callers typically union the distinct
    * surviving files into one scan with an IN filter on top.
    */
  def bloomPlanFiles(spark: SparkSession, dataDir: String, bloomDir: String,
      keys: Seq[Long]): Map[Long, Seq[String]] =
    bloomPlanFilesAny(spark, dataDir, bloomDir, keys)
      .map { case (k, fs) => k.asInstanceOf[Long] -> fs }

  /** [[bloomPlanFiles]] for any key type the aggregate ingests: Long /
    * Int probe the long path, String / Array[Byte] their own — the
    * reference's PKs are hex-hash STRINGS (`cardano_tables.py`), so a
    * membership zone keyed on them must plan string probes natively,
    * not through a lossy cast. Probe typing MUST match build typing
    * (a long built as a long and probed as its decimal string would
    * miss — the filter hashes raw bytes); mismatched types fail the
    * probe loudly rather than silently returning no files.
    */
  def bloomPlanFilesAny(spark: SparkSession, dataDir: String, bloomDir: String,
      keys: Seq[Any]): Map[Any, Seq[String]] = {
    import org.apache.spark.util.sketch.BloomFilter
    val rows = spark.read.parquet(bloomDir)
      .select(col("file"), col("bloom")).collect()
    requireFresh(spark, dataDir, rows.map(_.getString(0)).toSet,
      "bloom zone", "blooms")
    val loaded = rows.map { r =>
      r.getString(0) -> BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
    }
    def might(bf: BloomFilter, k: Any): Boolean = k match {
      case l: Long => bf.mightContainLong(l)
      case i: Int => bf.mightContainLong(i.toLong)
      case s: String => bf.mightContainString(s)
      case b: Array[Byte] => bf.mightContainBinary(b)
      case other => throw new IllegalArgumentException(
        s"bloom probe type ${other.getClass.getName} not supported " +
          "(long/int/string/binary — must match the build column's type)")
    }
    keys.map(k =>
      k -> loaded.collect { case (f, bf) if might(bf, k) => f }
        .toIndexedSeq).toMap
  }
}
