package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The geometry-rebuild pipeline: side-by-side re-index + fingerprint-
  * guarded atomic cutover. Pins the four contracts: a same-geometry
  * rebuild is answer-invisible; a new-geometry rebuild answers exactly
  * like a freshly-built new-geometry zone; a crash between the two
  * cutover renames leaves the OLD zone serving (after recovery); an
  * append landing mid-build fails the cutover loudly instead of being
  * silently dropped.
  */
class ZoneRebuildSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def pairsOf(zone: String, delta: org.apache.spark.sql.DataFrame) =
    SignatureZone.incrementalPairs(docs, delta, zone, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("same-geometry rebuild is invisible; new geometry equals a fresh build; crash recovery serves the old zone") {
    val d = docs
    val cut = d.count() * 4L / 5L
    val hist = d.filter(col("doc_id") < cut)
    val delta = d.filter(col("doc_id") >= cut)
    val z = tmpDir("rebuild") + "/z"
    SignatureZone.build(spark, hist, z, shingleN = 3, k = 16, bands = 4)
    val before = pairsOf(z, delta)
    assert(before.nonEmpty)

    // 1. same-geometry rebuild (the compaction-equivalent): invisible
    ZoneRebuild.rebuild(spark, z) { staging =>
      SignatureZone.build(spark, hist, staging, shingleN = 3, k = 16, bands = 4)
    }
    assert(pairsOf(z, delta) == before, "same-geometry rebuild changed answers")
    assert(!graft.core.Fs.exists(spark, z + ".rebuild"))
    assert(!graft.core.Fs.exists(spark, z + ".retired"))

    // 2. geometry change — what create() on the populated zone refuses
    // in place — goes through the rebuild; the cut-over zone must
    // answer exactly like a zone freshly built with the new geometry
    intercept[IllegalArgumentException] {
      SignatureZone.create(spark, z, shingleN = 3, k = 32, bands = 8)
    }
    ZoneRebuild.rebuild(spark, z) { staging =>
      SignatureZone.build(spark, hist, staging, shingleN = 3, k = 32, bands = 8)
    }
    assert(SignatureZone.meta(spark, z) == ((3, 32, 8)), "meta not cut over")
    val fresh = tmpDir("rebuildref") + "/z"
    SignatureZone.build(spark, hist, fresh, shingleN = 3, k = 32, bands = 8)
    val after = pairsOf(z, delta)
    assert(after == pairsOf(fresh, delta),
      "rebuilt zone diverged from a fresh new-geometry build")

    // 3. crash between the two renames: zone dir gone, retired copy
    // present — recovery restores the OLD zone, answers unchanged
    val (fs, zp) = graft.core.Fs.resolve(spark, z)
    require(fs.rename(zp, new org.apache.hadoop.fs.Path(z + ".retired")))
    assert(!graft.core.Fs.exists(spark, z))
    ZoneRebuild.recoverInterrupted(spark, z)
    assert(graft.core.Fs.exists(spark, z) &&
      !graft.core.Fs.exists(spark, z + ".retired"))
    assert(pairsOf(z, delta) == after, "recovered zone does not serve")

    // 4. an append landing mid-build fails the cutover loudly
    val e = intercept[IllegalArgumentException] {
      ZoneRebuild.rebuild(spark, z) { staging =>
        SignatureZone.build(spark, hist, staging, shingleN = 3, k = 32, bands = 8)
        // the ingest path races the rebuild: a delta lands in the OLD
        // zone after the rebuild's corpus read
        SignatureZone.append(delta.limit(1), z)
      }
    }
    assert(e.getMessage.contains("changed while the rebuild"))
    // the old zone (now including the raced append) is still serving
    assert(SignatureZone.meta(spark, z) == ((3, 32, 8)))
    graft.core.Caches.release()
  }

  test("last-instant guard: an append landing AFTER the build but before the swap fails the publish") {
    // the TOCTOU window the build-window fingerprint alone leaves open:
    // the build completes clean, and an append lands while the cutover
    // is still cleaning up the stale retired copy. publishVerified
    // re-fingerprints immediately before the retire rename, so the
    // raced append fails the publish instead of vanishing in the swap.
    val d = docs
    val cut = d.count() * 4L / 5L
    val hist = d.filter(col("doc_id") < cut)
    val delta = d.filter(col("doc_id") >= cut)
    val z = tmpDir("lastinstant") + "/z"
    SignatureZone.build(spark, hist, z, shingleN = 3, k = 16, bands = 4)
    val before = pairsOf(z, delta)
    val staging = z + ".rebuild"
    val fpBefore = Seq(graft.core.Fs.fingerprint(spark, z))
    SignatureZone.build(spark, hist, staging, shingleN = 3, k = 16, bands = 4)
    // fpBefore is still current here — rebuild()'s post-build check
    // would pass. NOW the race lands:
    SignatureZone.append(delta.limit(1), z)
    val e = intercept[IllegalArgumentException] {
      ZoneRebuild.publishVerified(spark, z, staging, Seq(z), fpBefore, Nil)
    }
    assert(e.getMessage.contains("between the rebuild and the cutover"))
    // the old zone (with the raced append) is intact and serving, and
    // the staging copy survives for a retried rebuild to replace
    assert(graft.core.Fs.exists(spark, staging))
    assert(Generations.read(spark, s"$z/bands").count() >
      Generations.read(spark, s"$staging/bands").count(),
      "the raced append is missing from the old zone")
    assert(pairsOf(z, delta).toSet.subsetOf(before.toSet) ||
      before.toSet.subsetOf(pairsOf(z, delta).toSet))
    graft.core.Caches.release()
  }

  test("a create or an append after a crash between the cutover renames restores the retired zone") {
    val d = docs
    val cut = d.count() * 4L / 5L
    val hist = d.filter(col("doc_id") < cut)
    val delta = d.filter(col("doc_id") >= cut)
    def crash(zone: String): Unit = {
      val (fs, p) = graft.core.Fs.resolve(spark, zone)
      require(fs.rename(p, new org.apache.hadoop.fs.Path(zone + ".retired")))
    }
    def restored(zone: String): Boolean =
      graft.core.Fs.exists(spark, zone) && !graft.core.Fs.exists(spark, zone + ".retired")
    val z = tmpDir("retiredwindow") + "/z"
    SignatureZone.build(spark, hist, z, shingleN = 3, k = 16, bands = 4)
    val rows = SignatureZone.zone(z).liveRows(spark).map(_.count())
    val before = pairsOf(z, delta)
    // a same-geometry create must not recreate the zone empty beside
    // the retired copy (the next rebuild would then drop that copy)
    crash(z)
    SignatureZone.create(spark, z, shingleN = 3, k = 16, bands = 4)
    assert(restored(z), "create left the retired zone retired")
    assert(SignatureZone.zone(z).liveRows(spark).map(_.count()) == rows)
    assert(pairsOf(z, delta) == before, "the restored zone answers differently")
    // a zone append restores it before it reads the zone's meta
    crash(z)
    SignatureZone.append(delta.limit(1), z)
    assert(restored(z) && SignatureZone.zone(z).liveRows(spark).map(_.count()).exists(_ > rows.get))
    // the md5 keeper zone has no meta: an append would recreate it
    val m = tmpDir("retiredmd5") + "/md5"
    Dedup.md5ZoneAppend(hist, col("text"), col("doc_id"), m)
    val n = Dedup.md5ZoneRead(spark, m).count()
    crash(m)
    Dedup.md5ZoneAppend(delta, col("text"), col("doc_id"), m)
    assert(restored(m) && Dedup.md5ZoneRead(spark, m).count() == n + delta.count(),
      "the md5 append lost the retired keeper rows")
    graft.core.Caches.release()
  }

  test("md5 zone rebuild folds sibling tombstones and retires them") {
    import spark.implicits._
    val z = tmpDir("md5rebuild") + "/md5"
    Dedup.md5ZoneAppend(docs, col("text"), col("doc_id"), z)
    Dedup.md5ZoneDelete(Seq(1L, 2L).toDF("doc_id"), z)
    val before = Dedup.md5ZoneRead(spark, z)
      .groupBy(col("text_md5")).agg(min(col("keeper_id")).as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    ZoneRebuild.rebuild(spark, z,
        guardDirs = Seq(z, z + ".tombstones"),
        retireDirs = Seq(z + ".tombstones")) { staging =>
      Dedup.md5ZoneRead(spark, z).distinct().write.parquet(staging)
    }
    assert(!graft.core.Fs.exists(spark, z + ".tombstones"),
      "folded tombstones must not re-apply to the rebuilt zone")
    val after = Dedup.md5ZoneRead(spark, z)
      .groupBy(col("text_md5")).agg(min(col("keeper_id")).as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before, "rebuild changed the live keeper map")
  }
}
