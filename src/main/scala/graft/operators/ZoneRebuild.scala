package graft.operators

import org.apache.spark.sql.SparkSession

/** Side-by-side zone REBUILD with a fingerprint-guarded atomic cutover
  * — the operational move when a corpus outgrows its zone geometry.
  * Every persisted zone ([[SignatureZone]], [[AnnIndexZone]],
  * [[HammingZone]], [[IvfIndexZone]], [[PqZone]], [[ShingleDfZone]],
  * [[WindowZone]]) fixes its geometry/capacity at creation and —
  * correctly — REFUSES in-place changes ([[Zone.create]]'s guard):
  * stored rows hashed under one geometry are unreadable under another,
  * so the guard fails loudly. The md5 keeper zone has no geometry to
  * change, but is rebuilt the same way to fold its sibling tombstones.
  * What a deployment then does is exactly this: build the
  * new-geometry zone COMPLETE at a staging path from the
  * live corpus, verify the old zone did not move while the rebuild
  * read it, and publish with two directory renames. The old zone
  * serves every reader until the instant of the swap.
  *
  * Crash semantics (a rename publish of the whole zone dir — meta,
  * rows and tombstones together, the unit a rows-dir generation
  * ([[Generations]]) cannot cover):
  *   - crash DURING the build: the old zone is untouched and serving;
  *     the stale staging dir is deleted and re-built by the next run;
  *   - crash BETWEEN the two renames: the zone dir is absent with the
  *     data intact in `<dir>.retired` — the next [[rebuild]], [[Zone]]
  *     create or append (or an explicit [[recoverInterrupted]])
  *     detects exactly that state and renames the retired zone back,
  *     so the OLD zone resumes serving (never an empty or half-new
  *     zone, and never one a create recreated empty beside it);
  *   - crash AFTER the second rename: the new zone is live; the
  *     leftover retired copy is dropped by the next run.
  *
  * The FINGERPRINT GUARD narrows the lost-append window to the swap
  * itself: the guard dirs' listing fingerprints are taken BEFORE the
  * build reads the corpus, re-checked after the build, and re-checked
  * once more IMMEDIATELY before the retire rename (after the retired-
  * dir cleanup, the last slow step) — an append or delete landing
  * anywhere in the build or pre-publish window fails the cutover
  * loudly (re-run the rebuild over the grown corpus) instead of being
  * silently dropped by the swap. What remains uncovered is exactly the
  * two renames: an append racing THOSE is torn no matter what a
  * listing check says, so single-writer per zone is REQUIRED for the
  * publish instant (quiesce appends across [[publishVerified]]), as
  * with every rename publish; a transactional table format replaces
  * the protocol with a metadata commit at deployment.
  */
object ZoneRebuild {

  /** Rebuild the zone at `zoneDir`: `build` must construct the complete
    * replacement at the staging path it is given. `guardDirs` are the
    * directories whose listing must not change between the pre-build
    * fingerprint and the swap (default: the zone dir itself — covers
    * meta, rows, and in-zone tombstones); `retireDirs` are extra
    * sibling paths dropped after a successful cutover (e.g. the md5
    * zone's `<dir>.tombstones`, which the rebuild folds into the new
    * zone and must not re-apply to it).
    */
  def rebuild(spark: SparkSession, zoneDir: String,
      guardDirs: Seq[String] = Nil, retireDirs: Seq[String] = Nil)(
      build: String => Unit): Unit = {
    recoverInterrupted(spark, zoneDir)
    val staging = zoneDir + ".rebuild"
    val retired = zoneDir + ".retired"
    val guards = if (guardDirs.nonEmpty) guardDirs else Seq(zoneDir)
    val fpBefore = guards.map(graft.core.Fs.fingerprint(spark, _))
    graft.core.Fs.deleteRecursively(spark, staging)
    build(staging)
    require(guards.map(graft.core.Fs.fingerprint(spark, _)) == fpBefore,
      s"zone $zoneDir changed while the rebuild was reading it (an " +
        "append or delete landed mid-build); cutting over would lose " +
        "it — re-run the rebuild over the current corpus")
    publishVerified(spark, zoneDir, staging, guards, fpBefore, retireDirs)
  }

  /** The cutover tail: clean up any stale retired copy (the slow step),
    * re-verify the guard fingerprints IMMEDIATELY before the retire
    * rename — so the unguarded window is the two renames alone, not
    * build-to-swap — and publish. Factored out of [[rebuild]] so the
    * last-instant guard is testable in isolation: a failed final check
    * leaves the OLD zone serving and the staging copy intact.
    */
  private[graft] def publishVerified(spark: SparkSession, zoneDir: String,
      staging: String, guards: Seq[String], fpBefore: Seq[String],
      retireDirs: Seq[String]): Unit = {
    val retired = zoneDir + ".retired"
    val (fs, _) = graft.core.Fs.resolve(spark, zoneDir)
    graft.core.Fs.deleteRecursively(spark, retired)
    require(guards.map(graft.core.Fs.fingerprint(spark, _)) == fpBefore,
      s"zone $zoneDir changed between the rebuild and the cutover (an " +
        "append or delete landed pre-publish); swapping would lose it " +
        "— the old zone is still serving, re-run the rebuild")
    require(fs.rename(new org.apache.hadoop.fs.Path(zoneDir),
      new org.apache.hadoop.fs.Path(retired)), s"retire rename failed: $zoneDir")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging),
      new org.apache.hadoop.fs.Path(zoneDir)), s"publish rename failed: $staging")
    graft.core.Fs.deleteRecursively(spark, retired)
    retireDirs.foreach(graft.core.Fs.deleteRecursively(spark, _))
    // the swap replaced every file under the path: drop cached plans
    // and listings so no reader is served the retired zone
    spark.catalog.refreshByPath(zoneDir)
  }

  /** Complete an interrupted cutover: zone dir absent but the retired
    * copy present means a crash landed between the two renames —
    * restore the OLD zone (the staging copy, if complete, is simply
    * rebuilt by the next run; restoring is always safe, publishing a
    * possibly-torn staging is not).
    */
  def recoverInterrupted(spark: SparkSession, zoneDir: String): Unit = {
    val (fs, dirP) = graft.core.Fs.resolve(spark, zoneDir)
    val retiredP = new org.apache.hadoop.fs.Path(zoneDir + ".retired")
    if (!fs.exists(dirP) && fs.exists(retiredP))
      require(fs.rename(retiredP, dirP),
        s"interrupted-cutover recovery rename failed: $retiredP -> $dirP")
  }
}
