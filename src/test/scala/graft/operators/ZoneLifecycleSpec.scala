package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Seeded lifecycle property test of the tombstoned zones (Signature,
  * AnnIndex, Hamming, IvfIndex, Pq and the md5 keeper zone): random
  * append / replay / delete / OPTIMIZE sequences under fixed seeds, with
  * crashes injected at the durable OPTIMIZE boundaries —
  *
  *   - after the compaction commit, before the tombstone clear
  *     (emulated by restoring the tombstone files the clear removed);
  *   - the next generation written, its marker not
  *     ([[CompactionCrash.BeforeCommit]]);
  *   - the marker committed, the replaced generation or flat files not
  *     swept and nothing after the commit run
  *     ([[CompactionCrash.BeforeSweep]]).
  *
  * The last two are each followed by an append and further random
  * calls. After every call — right after a crash too — the zone's live
  * id set ([[Zone.liveRows]]) must equal a plain Scala model: appended
  * ids minus deleted ids. Ids are fresh per append (the
  * admission-timeline contract) and a replay re-appends the batch just
  * appended (at-least-once delivery). A test per reader that bypassed
  * the live-rows read before generations existed checks its answers in
  * both crash states.
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

  private def copyTree(from: Path, to: Path): Unit = CompactionCrash.copyTree(from, to)

  /** The dirs a zone's OPTIMIZE touches: the zone dir, and the md5
    * zone's sibling tombstones.
    */
  private def state(z: Zone): Seq[String] =
    Seq(z.dir, z.tombstonesDir).filterNot(_.startsWith(z.dir + "/")).distinct

  /** OPTIMIZE `zd` as if it crashed at `at`; a no-op on a zone without
    * rows (nothing to commit).
    */
  private def crashedOptimize(s: Subject, z: Zone, zd: String, root: String,
      at: CompactionCrash.Point): Unit =
    if (graft.core.Fs.hasParquetFiles(spark, z.rowsDir)) {
      val scratch = Files.createTempDirectory(Paths.get(root), "crash").toString
      CompactionCrash.run(spark, z.rowsDir, state(z), scratch, at)(s.optimize(zd))
    }

  private sealed trait Op
  private case object Append extends Op
  private case object Replay extends Op
  private case object Delete extends Op
  private case object Optimize extends Op
  private case object CrashAfterPublish extends Op
  private case object CrashBeforeCommit extends Op
  private case object CrashBeforeSweep extends Op

  /** `n` random ops with every crash kind at a random position; the
    * crashes inside the commit are each followed by an append.
    */
  private def opsFor(rnd: scala.util.Random, n: Int): Seq[Op] = {
    val pool = Seq(Append, Append, Append, Replay, Delete, Delete, Optimize)
    val base = Seq.fill(n)(pool(rnd.nextInt(pool.size)))
    val crashes = Seq(Seq(CrashAfterPublish), Seq(CrashBeforeCommit, Append),
      Seq(CrashBeforeSweep, Append))
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
        case CrashBeforeCommit => crashedOptimize(s, z, zd, root, CompactionCrash.BeforeCommit)
        case CrashBeforeSweep => crashedOptimize(s, z, zd, root, CompactionCrash.BeforeSweep)
      }
      lastWasAppend = op == Append
      check(s"op $i ($op)")
    }
    s.optimize(zd)
    check("the final OPTIMIZE")
    assert(!graft.core.Fs.hasParquetFiles(spark, z.tombstonesDir),
      s"${s.name}: a quiescent OPTIMIZE left tombstone files")
    // one generation and its marker: a read that skips the resolver
    // sees no rows
    val gen = Generations.resolve(spark, z.rowsDir)
    val entries = Files.list(Paths.get(z.rowsDir))
    val names = try entries.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.endsWith(".crc")).toList finally entries.close()
    assert(gen != z.rowsDir && names.size == 2 &&
      names.contains(Paths.get(z.rowsDir).relativize(Paths.get(gen)).getName(0).toString),
      s"${s.name}: a quiescent OPTIMIZE left $names")
    graft.core.Caches.release()
  }

  // The zone readers that once read only the rows dir (ANN top-k, the
  // IVF probe, PQ codes, the band probes, the df and window counts)
  // answer in both crash states of a compaction exactly as before it.
  private def docSpan(r: Range) = docs.filter(col("doc_id").between(r.head, r.last))
  private def vecSpan(r: Range) = emb.filter(col("vec_id").between(r.head, r.last))
  private def queries = vecSpan(3 to 3).union(vecSpan(40 to 40))
    .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
  private val readerTarget = 16L

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A reader under test: how to build its zone, its answer, and the
    * compaction of its rows dir.
    */
  private case class Reader(name: String, zone: String => Zone,
      build: String => Unit, answer: String => Seq[String], compact: String => Unit)

  private val readers = Seq(
    Reader("AnnIndexZone.topK", AnnIndexZone.zone,
      zd => {
        AnnIndexZone.create(spark, zd, 100L)
        AnnIndexZone.appendIndex(vecSpan(0 until 60), zd)
        AnnIndexZone.appendIndex(vecSpan(0 until 30), zd)
      },
      zd => sorted(AnnIndexZone.topK(emb, vecSpan(5 to 5).select(col("embedding").as("qvec")),
        zd, 5)),
      zd => AnnIndexZone.optimize(spark, zd, readerTarget): Unit),
    Reader("the IVF probe", IvfIndexZone.zone,
      zd => IvfIndexZone.build(spark, vecSpan(0 until 80), zd, k = 4, iters = 2): Unit,
      zd => sorted(IvfIndexZone.topK(emb, queries, zd, k = 5, nprobe = 2)),
      zd => IvfIndexZone.optimize(spark, zd, readerTarget): Unit),
    Reader("PqZone codes", PqZone.zone,
      zd => {
        PqZone.build(spark, vecSpan(0 until 80), zd, m = 2, k = 4, iters = 1)
        PqZone.append(vecSpan(0 until 20), zd)
      },
      zd => sorted(PqZone.adcTopK(queries, zd, 5)),
      zd => PqZone.optimize(spark, zd, readerTarget): Unit),
    Reader("SignatureZone bands", SignatureZone.zone,
      zd => SignatureZone.build(spark, docSpan(0 until 60), zd),
      zd => sorted(SignatureZone.incrementalPairs(docs, docSpan(60 until 90), zd, 0.3)) ++
        sorted(SignatureZone.incrementalPairs(docs, docSpan(60 until 90), zd, 0.3,
          bandsTable = Some(SignatureZone.bucketedBandsTable(spark, zd)))),
      zd => SignatureZone.optimize(spark, zd, readerTarget): Unit),
    Reader("ShingleDfZone counts", ShingleDfZone.zone,
      zd => {
        ShingleDfZone.create(spark, zd, 3)
        ShingleDfZone.append(docSpan(0 until 40), zd, 0L)
        ShingleDfZone.append(docSpan(40 until 80), zd, 1L)
      },
      zd => sorted(ShingleDfZone.df(spark, zd)),
      zd => ShardedWriter.compactParquet(spark, ShingleDfZone.zone(zd).rowsDir,
        col("shingle"), readerTarget): Unit),
    Reader("WindowZone counts", WindowZone.zone,
      zd => {
        WindowZone.create(spark, zd, 5)
        WindowZone.append(docSpan(0 until 40), zd, 0L)
        WindowZone.append(docSpan(40 until 80), zd, 1L)
      },
      zd => sorted(WindowZone.counts(spark, zd)),
      zd => ShardedWriter.compactParquet(spark, WindowZone.zone(zd).rowsDir,
        col("h"), readerTarget): Unit))

  for (r <- readers)
  test(s"${r.name} answers alike before and after each compaction crash") {
    val root = tmpDir("crashreaders")
    val zd = s"$root/z"
    r.build(zd)
    val expected = r.answer(zd)
    def check(step: String): Unit =
      assert(r.answer(zd) == expected, s"${r.name} after $step")
    def crash(at: CompactionCrash.Point): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(root), "crash").toString
      CompactionCrash.run(spark, r.zone(zd).rowsDir, Seq(zd), scratch, at)(r.compact(zd))
    }
    // from the flat layout; then over a compacted (stats-carrying)
    // generation, uncommitted and unswept in turn
    crash(CompactionCrash.BeforeSweep)
    check("a crash before the sweep of the flat files")
    r.compact(zd)
    check("a clean compaction")
    crash(CompactionCrash.BeforeCommit)
    check("a crash before the commit")
    crash(CompactionCrash.BeforeSweep)
    check("a crash before the sweep of a generation")
    r.compact(zd)
    check("the compaction after it")
    graft.core.Caches.release()
  }
}
