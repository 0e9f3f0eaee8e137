package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted MinHash signature zone: storage-posture invariance
  * (history zone ≡ full-corpus zone ≡ replay-appended zone), semantics
  * vs the in-session banding operators, degraded-input paths, and the
  * geometry guards.
  */
class SignatureZoneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("incrementalPairs: zone postures are invisible; semantics match the in-session operators") {
    val d = docs
    val cut = d.count() * 4L / 5L
    val hist = d.filter(col("doc_id") < cut)
    val delta = d.filter(col("doc_id") >= cut)

    def got(zone: String) = SignatureZone
      .incrementalPairs(d, delta, zone, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(p => (p._1, p._2))

    // posture 1: batch-built history zone (d22's shape)
    val z1 = tmpDir("sigzone1") + "/z"
    SignatureZone.build(spark, hist, z1)
    val expected = got(z1)

    // reference semantics: the in-session LSH candidates over the FULL
    // corpus (uncapped, d3's operators), restricted to delta-member
    // pairs, verified by the exact all-pairs Jaccard (uncapped d2 mode)
    val sig = Dedup.minhash(Dedup.shingles(d, col("doc_id"), col("text"), 3), 16)
    val cand = Dedup.lshCandidatePairs(sig, 16, 4).filter(col("doc_b") >= cut)
    val sh = Dedup.shingles(d, col("doc_id"), col("text"), 3)
    val ref = cand.join(Dedup.jaccardPairs(sh, 0.8, maxDocFreq = None),
        Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(p => (p._1, p._2))
    assert(expected.nonEmpty, "degenerate fixture: no verified pairs at all")
    assert(expected == ref, "zone-served pairs diverge from the in-session operators")

    // posture 2: a zone that already holds the delta (a maintainer that
    // appended before querying) — the cross leg subsumes the internal
    // leg, DISTINCT absorbs it, result identical
    val z2 = tmpDir("sigzone2") + "/z"
    SignatureZone.build(spark, d, z2)
    assert(got(z2) == expected, "full-corpus zone diverged")

    // posture 3: replayed appends (duplicate band rows) are structurally
    // invisible
    SignatureZone.append(hist, z2)
    assert(got(z2) == expected, "replayed append changed the result")

    // posture 4: created-but-never-appended zone degrades to
    // delta-internal pairs only (here: the expected pairs whose BOTH
    // members are delta docs), not a crash
    val z3 = tmpDir("sigzone3") + "/z"
    SignatureZone.create(spark, z3)
    assert(got(z3) == expected.filter(_._1 >= cut), "empty zone != internal-only pairs")

    // posture 5: OPTIMIZE folds z2's replay duplicates and file storm,
    // result-invisible
    val rows = Generations.read(spark, s"$z2/bands").count()
    val (fb, fa) = SignatureZone.optimize(spark, z2)
    assert(fa <= fb && fa > 0, s"optimize produced $fa of $fb files")
    assert(Generations.read(spark, s"$z2/bands").count() < rows,
      "optimize failed to fold the replayed duplicate band rows")
    assert(got(z2) == expected, "optimize changed the result")

    // posture 6: the probe served from the DISK-BUCKETED bands table is
    // result-identical, its zone side joins with zero Exchange, and a
    // post-staging append trips the staleness guard loudly
    val t = SignatureZone.bucketedBandsTable(spark, z2)
    val bucketed = SignatureZone.incrementalPairs(d, delta, z2, 0.8, Some(t))
    val p = bucketed.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), s"probe did not read the bucketed table\n$p")
    assert(
      bucketed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(x => (x._1, x._2)) == expected,
      "bucketed-table probe diverged")
    SignatureZone.append(hist.limit(1), z2)
    val e = intercept[IllegalArgumentException] {
      SignatureZone.incrementalPairs(d, delta, z2, 0.8, Some(t)).collect() }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("c9 loop invariant: slice-wise appends leave the zones batch-built-equivalent after every round") {
    // the multi-delta admission loop's zone contract: after appending
    // slices 0..k, (a) the band table equals SignatureZone.build over
    // corpus-through-k (append is associative over slices — band rows
    // are a per-document pure function of the fixed geometry), and
    // (b) the min-aggregated md5 zone equals exactByContent over
    // corpus-through-k (min is a semilattice over per-slice minima).
    val d = docs
    val n = d.count()
    val bounds = (0 to 5).map(k => n * k / 5L)
    val root = tmpDir("c9zoneinv")
    val sig = s"$root/sig"
    val md5Zone = s"$root/md5"
    SignatureZone.create(spark, sig)
    for (k <- 0 until 5) {
      val slice = d.filter(col("doc_id") >= bounds(k) &&
        col("doc_id") < bounds(k + 1))
      SignatureZone.append(slice, sig)
      Dedup.exactByContent(slice, col("text"), col("doc_id"))
        .select(col("text_md5"), col("keeper_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(md5Zone)
      val through = d.filter(col("doc_id") < bounds(k + 1))
      // (a) band-table equivalence vs a fresh batch build through k
      val batchZone = tmpDir(s"c9zoneinv-batch$k") + "/z"
      SignatureZone.build(spark, through, batchZone)
      val looped = Generations.read(spark, s"$sig/bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSeq.sorted
      val batch = Generations.read(spark, s"$batchZone/bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSeq.sorted
      assert(looped == batch, s"band table diverged from batch build after round $k")
      // (b) md5-zone min-agg equivalence vs exactByContent through k
      val loopedMd5 = spark.read.parquet(md5Zone)
        .groupBy(col("text_md5")).agg(min(col("keeper_id")).as("keeper_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      val batchMd5 = Dedup.exactByContent(through, col("text"), col("doc_id"))
        .select(col("text_md5"), col("keeper_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(loopedMd5 == batchMd5, s"md5 zone diverged from batch dedup after round $k")
    }
    // OPTIMIZE the md5 zone (fold 5 per-slice appends into min-keeper
    // rows): the min-aggregated read must be unchanged
    val before = spark.read.parquet(md5Zone)
      .groupBy(col("text_md5")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val (mb, ma) = Dedup.optimizeMd5Zone(spark, md5Zone)
    assert(ma <= mb && ma > 0, s"md5 optimize produced $ma of $mb files")
    val after = Generations.read(spark, md5Zone)
      .groupBy(col("text_md5")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(after == before, "md5 optimize changed the min-aggregated read")
  }

  test("capped zone: df-zone cap bites, capped-incremental == capped-batch, replay keyed on batchId") {
    import spark.implicits._
    // Fixture where the cap MATTERS (the sf corpora have no shingle
    // above the √n cap, so the registered d24 entry exercises the
    // plumbing but not the drop): 20 history docs share a boilerplate
    // sentence (its internal shingles reach df=20 > cap=5); doc 20
    // shares ONLY boilerplate with history doc 2 (uncapped jaccard
    // ~0.71 — a boilerplate-faked near-dup), doc 21 genuinely near-dups
    // history doc 3 with no boilerplate at all.
    val bp = "the quick brown fox jumps over the lazy dog again and again"
    val hist = (0 until 20).map {
      case 2 => (2L, s"$bp apple banana")
      case 3 => (3L, "cherry date elderberry fig grape honey island jungle kiwi lemon mango nutmeg")
      case i => (i.toLong, s"$bp filler$i extra$i")
    }
    val delta = Seq(
      (20L, s"$bp cherry date"), // shares only boilerplate with doc 2
      (21L, "cherry date elderberry fig grape honey island jungle kiwi lemon mango nut"))
    val corpus = (hist ++ delta).toDF("doc_id", "text")
    val histDf = corpus.filter(col("doc_id") < 20)
    val deltaDf = corpus.filter(col("doc_id") >= 20)
    val root = tmpDir("cappedzone")
    val cap = 5L
    val thr = 0.5

    // df zone over history, fed as two DISJOINT batches under distinct
    // ids — then a REPLAY of batch 1 (same id, byte-identical rows)
    // which the DISTINCT-then-sum read must absorb
    ShingleDfZone.create(spark, s"$root/df", shingleN = 3)
    ShingleDfZone.append(histDf.filter(col("doc_id") < 10), s"$root/df", 0L)
    ShingleDfZone.append(histDf.filter(col("doc_id") >= 10), s"$root/df", 1L)
    val dfBefore = ShingleDfZone.df(spark, s"$root/df")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    ShingleDfZone.append(histDf.filter(col("doc_id") >= 10), s"$root/df", 1L)
    val dfAfter = ShingleDfZone.df(spark, s"$root/df")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(dfAfter == dfBefore, "replayed batch changed the df zone")
    val exact = Dedup.shingles(histDf, col("doc_id"), col("text"), 3)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(dfBefore == exact, "summed zone df != direct corpus df")
    assert(exact.exists(_._2 > cap), "fixture degenerate: no hot shingle")

    // capped zone vs uncapped zone over the same history
    SignatureZone.buildCapped(spark, histDf, s"$root/sig", s"$root/df", cap)
    SignatureZone.build(spark, histDf, s"$root/siguncapped")
    def pairsOf(zone: String) = SignatureZone
      .incrementalPairs(corpus, deltaDf, zone, thr)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val capped = pairsOf(s"$root/sig")
    val uncapped = pairsOf(s"$root/siguncapped")
    assert(uncapped.contains((2L, 20L)), "boilerplate pair missing uncapped")
    assert(!capped.contains((2L, 20L)), "cap failed to drop the boilerplate-faked pair")
    assert(capped.contains((3L, 21L)), "genuine near-dup lost under the cap")

    // capped-incremental == capped-batch: the batch pipeline (d8's
    // discipline) over the SAME pre-capped universe, restricted to
    // delta-member pairs
    val hot = ShingleDfZone.hot(spark, s"$root/df", cap)
    val cappedSh = Dedup.shingles(corpus, col("doc_id"), col("text"), 3)
      .join(hot, Seq("shingle"), "left_anti")
    val cand = Dedup.lshCandidatePairs(Dedup.minhash(cappedSh, 16), 16, 4)
      .filter(col("doc_b") >= 20)
    val batch = cand
      .join(Dedup.jaccardPairs(cappedSh, thr, maxDocFreq = None), Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(capped == batch, s"capped incremental $capped != capped batch $batch")

    // cap binding is zone geometry: flipping the cap under stored
    // bands must refuse
    val e = intercept[IllegalArgumentException] {
      SignatureZone.create(spark, s"$root/sig") }
    assert(e.getMessage.contains("cap"), e.getMessage)
  }

  test("tombstones: delete doc → re-admit its content → kept; per-doc rows keep co-holders blocking; replay + compaction stable") {
    import spark.implicits._
    // Quality-passing, mutually dissimilar history docs; 5 and 7 share
    // content C (the co-holder case), and the delta doc 100 re-ingests
    // exactly C.
    val c = "the cat and the dog of the house is in the town near the river and the hill"
    val hist = (0 until 10).map {
      case 5 => (5L, c)
      case 7 => (7L, c)
      case i => (i.toLong,
        s"the unique subject number$i is of the kind$i and the sort$i in the place$i of area$i")
    }
    val corpus = (hist :+ ((100L, c))).toDF("doc_id", "text")
    val histDf = corpus.filter(col("doc_id") < 100)
    val delta = corpus.filter(col("doc_id") === 100)
    val root = tmpDir("tombstones")
    val md5Zone = s"$root/md5"
    val sigZone = s"$root/sig"
    Dedup.md5ZoneAppend(histDf, col("text"), col("doc_id"), md5Zone)
    SignatureZone.build(spark, histDf, sigZone)
    def fate(): (String, Any) = {
      val r = graft.queries.TrainingData
        .admissionDecisions(spark, corpus, delta, md5Zone, sigZone)
        .filter(col("doc_id") === 100).head()
      (r.getString(1), if (r.isNullAt(2)) null else r.getLong(2))
    }
    assert(fate() == (("exact_dup", 5L)), "baseline: blocked on keeper 5")

    // delete keeper 5 from both zones: the CO-HOLDER 7 must now block
    // (per-doc md5 rows — collapsed minima would wrongly free C here)
    Dedup.md5ZoneDelete(Seq(5L).toDF("doc_id"), md5Zone)
    SignatureZone.delete(Seq(5L).toDF("doc_id"), sigZone)
    assert(fate() == (("exact_dup", 7L)), "co-holder 7 must still block")

    // delete the last holder: the content is genuinely gone → kept
    // (both exact AND near-dup gates must release: doc 100's text is
    // identical to the deleted docs', so a live band row would fate it
    // near_dup even with the md5 rows gone)
    Dedup.md5ZoneDelete(Seq(7L).toDF("doc_id"), md5Zone)
    SignatureZone.delete(Seq(7L).toDF("doc_id"), sigZone)
    assert(fate() == (("kept", null)), "re-admitted content must be kept")

    // replayed deletes change nothing
    Dedup.md5ZoneDelete(Seq(5L, 7L).toDF("doc_id"), md5Zone)
    SignatureZone.delete(Seq(5L, 7L).toDF("doc_id"), sigZone)
    assert(fate() == (("kept", null)), "replayed deletes moved the fate")

    // compaction folds the tombstones in for good and clears them;
    // the decision must not move
    assert(Dedup.optimizeMd5Zone(spark, md5Zone)._2 > 0)
    assert(SignatureZone.optimize(spark, sigZone)._2 > 0)
    assert(!graft.core.Fs.exists(spark, md5Zone + ".tombstones"))
    assert(!graft.core.Fs.exists(spark, s"$sigZone/tombstones"))
    assert(fate() == (("kept", null)), "compaction moved the fate")
    assert(Generations.read(spark, md5Zone)
      .filter(col("keeper_id").isin(5L, 7L)).count() == 0,
      "compaction left dead md5 rows")
    assert(Generations.read(spark, s"$sigZone/bands")
      .filter(col("doc_id").isin(5L, 7L)).count() == 0,
      "compaction left dead band rows")
  }

  test("geometry guards: populated zones refuse re-create, re-build, and corrupt meta") {
    val z = tmpDir("sigzone4") + "/z"
    SignatureZone.build(spark, docs.limit(10), z)
    // same-geometry re-create is idempotent
    SignatureZone.create(spark, z)
    // geometry change on a populated zone must refuse
    val e1 = intercept[IllegalArgumentException] {
      SignatureZone.create(spark, z, shingleN = 2) }
    assert(e1.getMessage.contains("orphan"), e1.getMessage)
    // repeated build would double the band table — must refuse
    val e2 = intercept[IllegalArgumentException] {
      SignatureZone.build(spark, docs.limit(10), z) }
    assert(e2.getMessage.contains("append"), e2.getMessage)
    // band rows with no meta = corrupt zone — create must not stamp
    // fresh geometry over rows of unknown geometry
    graft.core.Fs.deleteRecursively(spark, s"$z/meta")
    val e3 = intercept[IllegalArgumentException] { SignatureZone.create(spark, z) }
    assert(e3.getMessage.contains("corrupt"), e3.getMessage)
  }
}
