package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Maintenance-edge invariants of the persisted zones: the
  * snapshot-scoped tombstone clear (a tombstone appended concurrently
  * with OPTIMIZE must survive the pass), the full cap-binding geometry
  * guard, empty-tombstone-dir tolerance, and ANN-index replay folding.
  */
class ZoneMaintenanceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("tombstone appended between OPTIMIZE's snapshot and clear survives the clear") {
    import spark.implicits._
    val z = tmpDir("tombrace") + "/z"
    SignatureZone.build(spark, docs, z)
    // the interleaving the fix closes, emulated at the primitive level
    // (optimize = snapshot → fold → clear; the ingest path's delete can
    // land between the snapshot and the clear):
    SignatureZone.delete(Seq(1L).toDF("doc_id"), z)               // pre-snapshot
    val snap = graft.core.Fs.listFilePaths(spark, s"$z/tombstones")
    SignatureZone.delete(Seq(2L).toDF("doc_id"), z)               // concurrent
    graft.core.Fs.deleteFilesThenDirIfEmpty(spark, s"$z/tombstones", snap)
    // the concurrent tombstone (doc 2) must still be live: the dir
    // survived the clear because it was not empty, and readers drop 2
    assert(graft.core.Fs.hasParquetFiles(spark, s"$z/tombstones"),
      "snapshot-scoped clear discarded the concurrently-appended tombstone")
    val live = spark.read.parquet(s"$z/tombstones")
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(live == Set(2L), s"expected only the concurrent tombstone, got $live")
    // and the NEXT optimize folds it in for good
    val (fb, fa) = SignatureZone.optimize(spark, z)
    assert(fa <= fb && fa > 0)
    assert(!graft.core.Fs.exists(spark, s"$z/tombstones"),
      "quiescent optimize should clear the tombstone dir entirely")
    assert(Generations.read(spark, s"$z/bands")
      .filter(col("doc_id") === 2L).count() == 0,
      "the surviving tombstone was not folded by the next optimize")
  }

  test("capped-zone geometry guard compares the FULL (cap, df_dir) binding") {
    val root = tmpDir("capguard")
    val dfA = s"$root/dfA"
    val dfB = s"$root/dfB"
    val hist = docs.limit(50)
    ShingleDfZone.create(spark, dfA, 3)
    ShingleDfZone.append(hist, dfA, batchId = 0L)
    ShingleDfZone.create(spark, dfB, 3)
    ShingleDfZone.append(hist, dfB, batchId = 0L)
    val z = s"$root/z"
    SignatureZone.buildCapped(spark, hist, z, dfA, cap = 50L)
    // same-binding re-create stays idempotent
    SignatureZone.create(spark, z, capDf = Some((50L, dfA)))
    // same cap, DIFFERENT df zone: the silent-miss path the guard closes
    val e = intercept[IllegalArgumentException] {
      SignatureZone.create(spark, z, capDf = Some((50L, dfB)))
    }
    assert(e.getMessage.contains("binding"))
  }

  test("zone readers tolerate an existing-but-empty tombstone dir") {
    import spark.implicits._
    val root = tmpDir("emptytomb")
    val md5Zone = s"$root/md5"
    Dedup.md5ZoneAppend(docs, col("text"), col("doc_id"), md5Zone)
    val before = Dedup.md5ZoneRead(spark, md5Zone).count()
    // the state a snapshot-scoped clear can leave behind when it raced
    // a marker-only write: dir present, zero parquet files
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(md5Zone + ".tombstones")): Unit
    assert(Dedup.md5ZoneRead(spark, md5Zone).count() == before,
      "empty tombstone dir changed the md5 zone read")
    val z = s"$root/sig"
    SignatureZone.build(spark, docs.limit(50), z)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$z/tombstones")): Unit
    val delta = docs.filter(col("doc_id") < 10)
    assert(SignatureZone.incrementalPairs(docs, delta, z, 0.8).count() >= 0)
    val ann = s"$root/ann"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    AnnIndexZone.build(spark, emb, ann): Unit
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$ann/tombstones")): Unit
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    assert(AnnIndexZone.topK(emb, q, ann, 5).count() == 5,
      "empty tombstone dir broke the ANN zone read")
    graft.core.Caches.release()
  }

  test("same-geometry re-create of a populated zone is a true no-op (no meta rewrite crash window)") {
    import spark.implicits._
    val root = tmpDir("recreate")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val sigs = Seq((1L, 37L)).toDF("doc_id", "sig")
    // one row per zone: its meta dir, how to populate it, a same-geometry
    // re-create, a geometry change, and a build over its rows (if any).
    // A crash inside an Overwrite meta rewrite leaves rows-without-meta
    // — the state every zone's corrupt-zone guard refuses as
    // unrecoverable — so an idempotent re-create must not TOUCH meta:
    // the listing fingerprint (names, sizes, mtimes) must be identical
    case class Guarded(name: String, meta: String, populate: () => Unit,
        recreate: () => Unit, change: () => Unit, build: Option[() => Unit])
    val sig = s"$root/sig"
    val ann = s"$root/ann"
    val ham = s"$root/ham"
    val dfz = s"$root/df"
    val win = s"$root/win"
    val ivf = s"$root/ivf"
    val pq = s"$root/pq"
    lazy val cents = IvfIndexZone.centroids(spark, ivf)
    lazy val books = PqZone.loadBooks(spark, pq)
    val zones = Seq(
      Guarded("SignatureZone", s"$sig/meta",
        () => SignatureZone.build(spark, docs.limit(40), sig),
        () => SignatureZone.create(spark, sig),
        () => SignatureZone.create(spark, sig, shingleN = 2),
        Some(() => SignatureZone.build(spark, docs.limit(40), sig))),
      Guarded("AnnIndexZone", s"$ann/meta",
        () => AnnIndexZone.build(spark, emb, ann): Unit,
        () => AnnIndexZone.create(spark, ann, emb.count()): Unit,
        () => AnnIndexZone.create(spark, ann, emb.count(), dims = 32): Unit,
        Some(() => AnnIndexZone.build(spark, emb, ann): Unit)),
      Guarded("HammingZone", s"$ham/meta",
        () => { HammingZone.create(spark, ham); HammingZone.append(sigs, ham) },
        () => HammingZone.create(spark, ham),
        () => HammingZone.create(spark, ham, maxHamming = 3, chunks = 4),
        Some(() => HammingZone.build(spark, sigs, ham))),
      Guarded("ShingleDfZone", s"$dfz/meta",
        () => {
          ShingleDfZone.create(spark, dfz, 3)
          ShingleDfZone.append(docs.limit(10), dfz, batchId = 0L)
        },
        () => ShingleDfZone.create(spark, dfz, 3),
        () => ShingleDfZone.create(spark, dfz, 2),
        None),
      Guarded("WindowZone", s"$win/meta",
        () => {
          WindowZone.create(spark, win, 5)
          WindowZone.append(docs.limit(10), win, batchId = 0L)
        },
        () => WindowZone.create(spark, win, 5),
        () => WindowZone.create(spark, win, 6),
        None),
      Guarded("IvfIndexZone", s"$ivf/centroids",
        () => IvfIndexZone.build(spark, emb, ivf, k = 3, iters = 1): Unit,
        () => IvfIndexZone.create(spark, ivf, cents),
        () => IvfIndexZone.create(spark, ivf, cents.map(_.map(_ + 1L))),
        Some(() => IvfIndexZone.build(spark, emb, ivf, k = 3, iters = 1): Unit)),
      Guarded("PqZone", s"$pq/books",
        () => PqZone.build(spark, emb, pq, m = 2, k = 2, iters = 1): Unit,
        () => PqZone.create(spark, pq, books),
        () => PqZone.create(spark, pq, books.map(_.map(_.map(_ + 1L)))),
        Some(() => PqZone.build(spark, emb, pq, m = 2, k = 2, iters = 1): Unit)))
    zones.foreach { z =>
      z.populate()
      val fp = graft.core.Fs.fingerprint(spark, z.meta)
      z.recreate()
      assert(graft.core.Fs.fingerprint(spark, z.meta) == fp,
        s"${z.name} re-create rewrote meta")
      val orphan = intercept[IllegalArgumentException] { z.change() }
      assert(orphan.getMessage.contains("orphan"), s"${z.name}: ${orphan.getMessage}")
      assert(graft.core.Fs.fingerprint(spark, z.meta) == fp,
        s"${z.name} refused geometry change still touched meta")
      z.build.foreach { b =>
        val e = intercept[IllegalArgumentException] { b() }
        assert(e.getMessage.contains("already holds rows"), s"${z.name}: ${e.getMessage}")
      }
      graft.core.Fs.deleteRecursively(spark, z.meta)
      val corrupt = intercept[IllegalArgumentException] { z.recreate() }
      assert(corrupt.getMessage.contains("corrupt"), s"${z.name}: ${corrupt.getMessage}")
    }
    // geometry change on an EMPTY zone still legitimately rewrites
    val ham2 = s"$root/ham2"
    HammingZone.create(spark, ham2, bits = 60, maxHamming = 5, chunks = 6)
    HammingZone.create(spark, ham2, bits = 60, maxHamming = 3, chunks = 4)
    assert(HammingZone.meta(spark, ham2) == ((60, 3, 4)),
      "empty-zone geometry change was silently ignored")
    graft.core.Caches.release()
  }

  test("snapshot-scoped clear sweeps empty subdirectory scaffolds but spares occupied ones") {
    val root = tmpDir("sweep")
    val fsDir = s"$root/tomb"
    val p = java.nio.file.Paths.get(fsDir)
    // the state an aborted/committed Spark job can leave: real parquet
    // files at the top plus a _temporary scaffold the file snapshot
    // never lists
    java.nio.file.Files.createDirectories(p.resolve("_temporary/0"))
    java.nio.file.Files.write(p.resolve("part-0.parquet"), Array[Byte](1))
    java.nio.file.Files.write(p.resolve("part-1.parquet"), Array[Byte](2))
    val snap = graft.core.Fs.listFilePaths(spark, fsDir)
    assert(snap.size == 2, s"snapshot saw $snap")
    graft.core.Fs.deleteFilesThenDirIfEmpty(spark, fsDir, snap)
    assert(!graft.core.Fs.exists(spark, fsDir),
      "empty _temporary scaffold blocked the quiescent clear forever")
    // occupied subdir: a concurrent writer's in-flight file must
    // survive, and so must the scaffold holding it
    java.nio.file.Files.createDirectories(p.resolve("_temporary/0"))
    java.nio.file.Files.write(p.resolve("part-2.parquet"), Array[Byte](3))
    val snap2 = graft.core.Fs.listFilePaths(spark, fsDir)
    java.nio.file.Files.write(
      p.resolve("_temporary/0/inflight.parquet"), Array[Byte](4))
    graft.core.Fs.deleteFilesThenDirIfEmpty(spark, fsDir, snap2)
    assert(graft.core.Fs.exists(spark, s"$fsDir/_temporary/0/inflight.parquet"),
      "sweep deleted a concurrent writer's in-flight file")
    assert(!graft.core.Fs.exists(spark, s"$fsDir/part-2.parquet"),
      "snapshot files were not deleted")
  }

  test("AnnIndexZone.optimize folds replayed duplicate index rows") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val z = tmpDir("annfold") + "/z"
    AnnIndexZone.build(spark, emb, z): Unit
    AnnIndexZone.appendIndex(emb, z) // a full replay
    val n = emb.count()
    assert(Generations.read(spark, s"$z/index").count() == 2 * n)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val before = AnnIndexZone.topK(emb, q, z, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (fb, fa) = AnnIndexZone.optimize(spark, z)
    assert(fa <= fb && fa > 0)
    assert(Generations.read(spark, s"$z/index").count() == n,
      "optimize left replayed duplicate (vec_id, bucket) rows in the index")
    val after = AnnIndexZone.topK(emb, q, z, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "replay folding changed the topK result")
    graft.core.Caches.release()
  }
}
