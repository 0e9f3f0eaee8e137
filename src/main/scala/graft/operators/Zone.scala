package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, greatest, least}

import graft.core.Fs

/** The lifecycle every persisted zone shares, owned in one place. A zone
  * is a META dir (its geometry — band/plane/chunk counts, a window
  * width, fitted centroids or codebooks — fixed at creation), an
  * append-only ROWS dir, and a TOMBSTONE dir of deleted ids. Each zone
  * object keeps only what is its own: its meta schema and the
  * comparison of it, its preconditions, its row derivation and its
  * probes. The steps below are the rest:
  *
  *   - [[create]]: rows WITHOUT meta is a corrupt zone (a crash inside
  *     a meta overwrite) and is refused; a geometry change under stored
  *     rows is refused, since probes would hash differently from the
  *     stored rows and silently miss (it would orphan every stored
  *     row — a geometry change is a rebuild, [[ZoneRebuild]]); a
  *     same-geometry re-create is a true no-op, because rewriting meta
  *     is delete-then-write and its crash window is exactly the corrupt
  *     state; an EMPTY zone may change geometry.
  *   - [[requireEmpty]]: create is idempotent but append is not, so a
  *     build (create + append of a whole corpus) over stored rows is
  *     refused instead of doubling the table.
  *   - [[delete]]: a delete is itself an ingest event — id rows appended
  *     to the tombstone dir. Replay-stable: duplicate tombstone rows
  *     change nothing, readers anti-join.
  *   - [[live]]: stored rows minus tombstoned ids (a deletes-sized
  *     anti-join, skipped while the tombstone dir holds no parquet
  *     file), plus the admission layer's optional SELF-EXCLUSION cut.
  *     Under the admission-timeline contract a zone covers strictly
  *     smaller ids than the delta probing it, so a stored row at or
  *     above the delta's minimum id is a replayed copy of the CURRENT
  *     batch (`foreachBatch` is at-least-once: a crash after the
  *     feedback appends replays the decide) and must not generate
  *     candidates against it. The cut is a pushed-down scalar filter —
  *     zero new exchanges, a no-op on a clean zone.
  *   - [[append]] and [[rows]]: the rows dir is written and read only
  *     here, through [[Generations.resolve]] — OPTIMIZE rewrites it as
  *     a new generation.
  *   - [[create]], [[requireEmpty]] and [[append]] first restore a zone
  *     an interrupted [[ZoneRebuild]] cutover left retired, so none of
  *     them recreates it empty beside the retired copy.
  *   - [[optimize]]: snapshot the tombstone LISTING, rewrite the rows as
  *     their live rows DISTINCTed (replay duplicates and deleted ids
  *     folded for good) clustered on the cluster column through
  *     [[ShardedWriter.compactParquet]]'s one-step generation commit,
  *     delete only the SNAPSHOTTED tombstone files, then run the zone's
  *     after-hook (stats, a clean stamp). Result-invisible: readers
  *     already DISTINCT and subtract tombstones. A tombstone appended
  *     while the pass runs lands outside the snapshot and survives to
  *     the next pass (clearing it would resurrect the deleted id). A
  *     crash between the commit and the clear re-applies the same
  *     tombstones next pass — idempotent. A crash anywhere leaves one
  *     committed generation serving every read and append.
  *
  * `tombstoneId` names the tombstone column when it differs from the
  * rows' `id` (the md5 keeper zone tombstones `doc_id` against
  * `keeper_id` rows).
  */
private[operators] final case class Zone(kind: String, dir: String,
    metaDir: String, rowsDir: String, tombstonesDir: String,
    id: String, cluster: String, tombstoneId: String) {

  /** The create guard. `conflict` compares the stored meta with the
    * requested geometry: None when equal, else (stored, requested)
    * descriptions for the refusal. It is read only when meta exists.
    * `writeMeta` runs unless meta already holds the requested geometry.
    */
  def create(spark: SparkSession)(conflict: => Option[(String, String)])(
      writeMeta: => Unit): Unit = {
    ZoneRebuild.recoverInterrupted(spark, dir)
    val hasMeta = Fs.exists(spark, metaDir)
    lazy val mismatch = conflict
    if (Fs.exists(spark, rowsDir)) {
      require(hasMeta,
        s"$kind $dir holds rows but no ${metaName} (corrupt zone — likely " +
          "an interrupted meta write); drop the zone and re-index rather " +
          "than re-creating over rows of unknown geometry")
      require(mismatch.isEmpty,
        s"$kind $dir already holds rows under ${mismatch.get._1}; " +
          s"re-creating with ${mismatch.get._2} would orphan every stored " +
          "row — drop the zone and re-index (ZoneRebuild) to change its geometry")
    }
    if (!hasMeta || mismatch.nonEmpty) writeMeta
  }

  /** The build guard: refuse to re-append a whole corpus over stored
    * rows, a retired zone's included.
    */
  def requireEmpty(spark: SparkSession, op: String = "build()",
      appendWith: String = "append"): Unit = {
    ZoneRebuild.recoverInterrupted(spark, dir)
    require(!Fs.exists(spark, rowsDir),
      s"$kind $dir already holds rows; $op would re-append the entire " +
        s"corpus on top of them — use $appendWith for deltas, or drop the " +
        "zone first for a full rebuild")
  }

  /** Tombstone the ids in `ids` (it must expose the tombstone column). */
  def delete(ids: DataFrame): Unit =
    ids.select(col(tombstoneId)).write
      .mode(SaveMode.Append).parquet(tombstonesDir)

  /** Whether any tombstone rows are stored (a listing, no job). */
  def tombstoned(spark: SparkSession): Boolean = Fs.hasParquetFiles(spark, tombstonesDir)

  /** `rows` minus tombstoned ids, then `id < below` when a cut is given. */
  def live(rows: DataFrame, below: Option[Long] = None): DataFrame = {
    val spark = rows.sparkSession
    val alive =
      if (!tombstoned(spark)) rows
      else rows.join(
        spark.read.parquet(tombstonesDir)
          .select(if (tombstoneId == id) col(id) else col(tombstoneId).as(id))
          .distinct(),
        Seq(id), "left_anti")
    below.fold(alive)(m => alive.filter(col(id) < m))
  }

  /** Append the frame `rows` builds (after the restore, so a meta read
    * inside it sees the restored zone).
    */
  def append(spark: SparkSession)(rows: => DataFrame): Unit = {
    ZoneRebuild.recoverInterrupted(spark, dir)
    rows.write.mode(SaveMode.Append).parquet(Generations.resolve(spark, rowsDir))
  }

  /** The stored rows, tombstones not applied; None while the zone holds
    * no rows.
    */
  def rows(spark: SparkSession): Option[DataFrame] =
    if (!Fs.exists(spark, rowsDir)) None else Some(Generations.read(spark, rowsDir))

  /** [[live]] over the stored rows; None while the zone holds no rows. */
  def liveRows(spark: SparkSession, below: Option[Long] = None): Option[DataFrame] =
    rows(spark).map(live(_, below))

  /** [[live]] over the stored rows of the files whose `column` range can
    * hold any of `points` ([[ZoneMap.statsPlannedRead]] over `statsDir`);
    * None while the zone holds no rows.
    */
  def plannedLiveRows(spark: SparkSession, statsDir: String, column: String,
      points: => Seq[Long]): Option[DataFrame] =
    if (!Fs.exists(spark, rowsDir)) None
    else Some(live(ZoneMap.statsPlannedRead(spark, rowsDir, statsDir, column, points)))

  /** OPTIMIZE; returns (filesBefore, filesAfter), (0, 0) for a zone
    * that holds no rows. `after` runs once the tombstones are cleared.
    */
  def optimize(spark: SparkSession, targetRowsPerFile: Long,
      after: () => Unit = () => ()): (Int, Int) = {
    if (!Fs.exists(spark, rowsDir)) return (0, 0)
    val snap = Fs.listFilePaths(spark, tombstonesDir)
    val res = ShardedWriter.compactParquet(spark, rowsDir, col(cluster),
      targetRowsPerFile, transform = rows => live(rows).distinct())
    Fs.deleteFilesThenDirIfEmpty(spark, tombstonesDir, snap)
    after()
    res
  }

  /** The candidate stage of the pair probes (`incrementalPairs` of
    * [[SignatureZone]], [[AnnIndexZone]] and [[HammingZone]]): DISTINCT
    * id pairs, oriented (least, greatest) into columns `(a, b)`, of
    * delta rows that share every `keys` value with a `stored` live zone
    * row (None: an empty zone) or with another delta row. DISTINCT
    * absorbs replayed duplicate rows, and a zone that already holds the
    * delta yields the same pairs. Both sides scale with data, so both
    * joins are shuffled hash joins with the DELTA side building (a
    * per-batch-sized hash map, never a history-sized one); a bucketed
    * zone table then joins with zero zone-side Exchange. Returns the
    * pairs and their DISTINCT ids (column `id`). The delta rows and the
    * pairs are tracked-persisted: each has two consumers.
    */
  def candidatePairs(deltaRows: DataFrame, stored: Option[DataFrame],
      keys: Seq[String], a: String, b: String): (DataFrame, DataFrame) = {
    val d = graft.core.Caches.persistTracked(deltaRows)
    def on(l: String, r: String): Column =
      keys.map(k => col(s"$l.$k") === col(s"$r.$k")).reduce(_ && _)
    val internal = d.as("a")
      .hint("shuffle_hash")
      .join(d.as("b"), on("a", "b") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as(a), col(s"b.$id").as(b))
    val cand = graft.core.Caches.persistTracked(stored.fold(internal) { z =>
      z.as("z")
        .join(d.as("d").hint("shuffle_hash"),
          on("z", "d") && col(s"z.$id") =!= col(s"d.$id"))
        .select(least(col(s"z.$id"), col(s"d.$id")).as(a),
          greatest(col(s"z.$id"), col(s"d.$id")).as(b))
        .union(internal)
    }.distinct())
    (cand, cand.select(col(a).as(id)).union(cand.select(col(b).as(id))).distinct())
  }

  private def metaName: String = metaDir.substring(metaDir.lastIndexOf('/') + 1)
}

private[operators] object Zone {

  /** A zone laid out under one dir: `<dir>/<meta>`, `<dir>/<rows>` and
    * `<dir>/tombstones`, tombstoned by its own id column.
    */
  def at(kind: String, dir: String, rows: String, id: String,
      cluster: String, meta: String = "meta"): Zone =
    Zone(kind, dir, s"$dir/$meta", s"$dir/$rows", s"$dir/tombstones",
      id, cluster, id)
}
