package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Seeded lifecycle property test of the tombstoned zones (Signature,
  * AnnIndex, Hamming, IvfIndex, Pq and the md5 keeper zone): random
  * append / replay / delete / OPTIMIZE sequences under fixed seeds, with
  * crashes injected at the two durable OPTIMIZE boundaries —
  *
  *   - after the compaction publish, before the tombstone clear
  *     (emulated by restoring the tombstone files the clear removed);
  *   - between [[ShardedWriter.compactParquet]]'s two renames (emulated
  *     by leaving `<rows>.pre-compact`, a stale `<rows>.compact` and no
  *     `<rows>`), followed by an append that recreates `<rows>` and by
  *     further random calls until the next OPTIMIZE.
  *
  * After every call — right after a crash too — the zone's live id set
  * ([[Zone.liveRows]], which reads rows parked in `<rows>.pre-compact`)
  * must equal a plain Scala model: appended ids minus deleted ids. Ids
  * are fresh per append (the admission-timeline contract) and a replay
  * re-appends the batch just appended (at-least-once delivery).
  */
class ZoneLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"))
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** A zone under test: its layout, and its public lifecycle calls. */
  private case class Subject(name: String, layout: String => Zone,
      create: String => Unit, append: (String, Seq[Long]) => Unit,
      delete: (String, Seq[Long]) => Unit, optimize: String => Unit)

  private def ids(col0: String, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF(col0)
  }
  private def docRows(xs: Seq[Long]) = docs.filter(col("doc_id").isin(xs: _*))
  private def vecRows(xs: Seq[Long]) = emb.filter(col("vec_id").isin(xs: _*))
  private val target = 64L

  private val subjects = Seq(
    Subject("SignatureZone", SignatureZone.zone,
      SignatureZone.create(spark, _),
      (z, xs) => SignatureZone.append(docRows(xs), z),
      (z, xs) => SignatureZone.delete(ids("doc_id", xs), z),
      z => SignatureZone.optimize(spark, z, target): Unit),
    Subject("AnnIndexZone", AnnIndexZone.zone,
      AnnIndexZone.create(spark, _, 100L): Unit,
      (z, xs) => AnnIndexZone.appendIndex(vecRows(xs), z),
      (z, xs) => AnnIndexZone.delete(ids("vec_id", xs), z),
      z => AnnIndexZone.optimize(spark, z, target): Unit),
    Subject("HammingZone", HammingZone.zone,
      HammingZone.create(spark, _),
      (z, xs) => HammingZone.append(ids("doc_id", xs)
        .select(col("doc_id"), (col("doc_id") * 7919L).as("sig")), z),
      (z, xs) => HammingZone.delete(ids("doc_id", xs), z),
      z => HammingZone.optimize(spark, z, target): Unit),
    Subject("IvfIndexZone", IvfIndexZone.zone,
      IvfIndexZone.create(spark, _,
        Seq.tabulate(3)(c => Array.fill(64)((c + 1).toLong << 19))),
      (z, xs) => IvfIndexZone.append(vecRows(xs), z),
      (z, xs) => IvfIndexZone.delete(ids("vec_id", xs), z),
      z => IvfIndexZone.optimize(spark, z, target): Unit),
    Subject("PqZone", PqZone.zone,
      PqZone.create(spark, _,
        Seq.tabulate(2)(_ => Seq.tabulate(2)(c => Array.fill(32)((c + 1).toLong << 20)))),
      (z, xs) => PqZone.append(vecRows(xs), z),
      (z, xs) => PqZone.delete(ids("vec_id", xs), z),
      z => PqZone.optimize(spark, z, target): Unit),
    Subject("md5 zone", Dedup.md5Zone, _ => (),
      (z, xs) => Dedup.md5ZoneAppend(docRows(xs), col("text"), col("doc_id"), z),
      (z, xs) => Dedup.md5ZoneDelete(ids("doc_id", xs), z),
      z => Dedup.optimizeMd5Zone(spark, z, target): Unit))

  private def liveIds(z: Zone): Set[Long] =
    z.liveRows(spark).fold(Set.empty[Long])(
      _.select(col(z.id)).distinct().collect().map(_.getLong(0)).toSet)

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    val all = try walk.iterator().asScala.toList finally walk.close()
    all.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
  }

  private sealed trait Op
  private case object Append extends Op
  private case object Replay extends Op
  private case object Delete extends Op
  private case object Optimize extends Op
  private case object CrashAfterPublish extends Op
  private case object CrashBetweenRenames extends Op

  /** `n` random ops with both crash kinds at random positions; the
    * crash between the renames is always followed by an append.
    */
  private def opsFor(rnd: scala.util.Random, n: Int): Seq[Op] = {
    val pool = Seq(Append, Append, Append, Replay, Delete, Delete, Optimize)
    val base = Seq.fill(n)(pool(rnd.nextInt(pool.size)))
    val crashes = Seq(Seq(CrashAfterPublish), Seq(CrashBetweenRenames, Append))
    crashes.foldLeft(base) { (ops, c) =>
      val at = 1 + rnd.nextInt(ops.size)
      (ops.take(at) ++ c) ++ ops.drop(at)
    }
  }

  for (s <- subjects; seed <- Seq(11L, 29L))
  test(s"${s.name}: random append/delete/OPTIMIZE with injected crashes keeps the live set (seed $seed)") {
    val rnd = new scala.util.Random(seed)
    val root = tmpDir("lifecycle")
    val zd = s"$root/z"
    val z = s.layout(zd)
    s.create(zd)
    val appended = scala.collection.mutable.LinkedHashSet.empty[Long]
    val deleted = scala.collection.mutable.Set.empty[Long]
    var next = 0L
    var last = Seq.empty[Long]
    var lastWasAppend = false
    def check(step: String): Unit = {
      val live = liveIds(z)
      val model = (appended -- deleted).toSet
      assert(live == model, s"${s.name} seed $seed after $step: live $live != model $model")
    }
    opsFor(rnd, 10).zipWithIndex.foreach { case (op0, i) =>
      val op =
        if (appended.isEmpty) Append
        else if (op0 == Replay && !lastWasAppend) Append
        else op0
      op match {
        case Append =>
          last = (next until next + 3 + rnd.nextInt(5)).map(_.toLong)
          next += last.size
          s.append(zd, last)
          appended ++= last
        case Replay => s.append(zd, last)
        case Delete =>
          val xs = Seq.fill(1 + rnd.nextInt(3))(appended.toSeq(rnd.nextInt(appended.size)))
          s.delete(zd, xs)
          deleted ++= xs
        case Optimize => s.optimize(zd)
        case CrashAfterPublish =>
          val tomb = Paths.get(z.tombstonesDir)
          val saved = Paths.get(s"$root/tombstones.saved")
          val had = Files.exists(tomb)
          if (had) copyTree(tomb, saved)
          s.optimize(zd)
          if (had) {
            graft.core.Fs.deleteRecursively(spark, z.tombstonesDir)
            copyTree(saved, tomb)
            graft.core.Fs.deleteRecursively(spark, saved.toString)
          }
        case CrashBetweenRenames =>
          val rows = Paths.get(z.rowsDir)
          if (Files.exists(rows)) {
            Files.move(rows, Paths.get(z.rowsDir + ".pre-compact"))
            copyTree(Paths.get(z.rowsDir + ".pre-compact"), Paths.get(z.rowsDir + ".compact"))
          }
      }
      lastWasAppend = op == Append
      check(s"op $i ($op)")
    }
    s.optimize(zd)
    check("the final OPTIMIZE")
    assert(!graft.core.Fs.hasParquetFiles(spark, z.tombstonesDir),
      s"${s.name}: a quiescent OPTIMIZE left tombstone files")
    assert(!graft.core.Fs.exists(spark, z.rowsDir + ".pre-compact"))
    graft.core.Caches.release()
  }

  test("a stale retired copy beside a completed publish is not read twice") {
    val zd = tmpDir("lifecycle") + "/z"
    val z = SignatureZone.zone(zd)
    SignatureZone.create(spark, zd)
    SignatureZone.append(docRows(0L until 12L), zd)
    SignatureZone.optimize(spark, zd, target)
    val rows = z.liveRows(spark).get.count()
    // the crash after the publish rename, before the retired copy's delete
    copyTree(Paths.get(z.rowsDir), Paths.get(z.rowsDir + ".pre-compact"))
    assert(z.liveRows(spark).get.count() == rows)
    // the crash between the renames, then an append: both dirs are read
    graft.core.Fs.deleteRecursively(spark, z.rowsDir + ".pre-compact")
    Files.move(Paths.get(z.rowsDir), Paths.get(z.rowsDir + ".pre-compact"))
    copyTree(Paths.get(z.rowsDir + ".pre-compact"), Paths.get(z.rowsDir + ".compact"))
    assert(z.liveRows(spark).get.count() == rows)
    SignatureZone.append(docRows(12L until 15L), zd)
    assert(liveIds(z) == (0L until 15L).toSet)
  }
}
