package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{AnnIndexZone, Dedup, SignatureZone, Similarity}

/** st25's zone-state invariant: the three zones left by the streamed
  * admission loop (decide → emit → feed back per micro-batch, deletes
  * riding batch 2, OPTIMIZE at the end) must equal zones BATCH-BUILT
  * over the live ingested corpus — same band set, same md5 keeper map,
  * same SRP index. Fate-for-fate answer equivalence after every round
  * is proven by the driver oracle (st25's slice-tagged replay); this
  * spec pins the STATE so a maintenance regression (a lost append, an
  * over-eager tombstone fold, a double-applied replay) cannot hide
  * behind a coincidentally-equal answer.
  */
class SemanticLoopSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streamed admission loop leaves zones equal to batch-built over the live corpus") {
    import graft.queries.TrainingData.{minhashBands, minhashK, shingleN}
    val root = java.nio.file.Files.createTempDirectory("st25spec")
    val fates = EventStream.runSemanticAdmissionLoop(spark, dir, root)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val e = emb.count()
    // rounds 1..3 each decided a quarter of the embedded window
    assert(fates.count() == e - e / 4,
      "fates must cover every delta doc across the three rounds")
    assert(fates.select(col("round")).distinct().count() == 3)
    // the live ingested corpus: the embedded window minus the docs
    // batch 2 deleted (ids % 17 == 3 below the slice-2 boundary)
    val live = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < e &&
        !(col("doc_id") % 17 === 3 && col("doc_id") < e * 2 / 4))

    // md5 zone ≡ exact-by-content over the live corpus
    val zoneKeepers = Dedup.md5ZoneRead(spark, root.resolve("md5").toString)
      .groupBy(col("text_md5")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batchKeepers = Dedup.exactByContent(live, col("text"), col("doc_id"))
      .select(col("text_md5"), col("keeper_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(zoneKeepers == batchKeepers, "md5 zone diverged from batch-built")

    // signature zone ≡ band rows over the live corpus (OPTIMIZE already
    // folded replays and tombstones, so the stored set is exact)
    val zoneBands = graft.operators.Generations.read(spark, root.resolve("sig").toString + "/bands")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val batchBands = Dedup.bandRows(
        Dedup.minhash(
          Dedup.shingles(live, col("doc_id"), col("text"), shingleN), minhashK),
        minhashK, minhashBands)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(zoneBands == batchBands, "signature zone diverged from batch-built")

    // ANN index ≡ SRP assignments of the live vectors under the zone's
    // fixed plane count
    Similarity.ensure(spark)
    val (planes, dims) = AnnIndexZone.meta(spark, root.resolve("ann").toString)
    val zoneIndex = graft.operators.Generations.read(spark, root.resolve("ann").toString + "/index")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIndex = emb
      .join(live.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), Similarity.srpBucket(col("embedding"), planes, dims).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zoneIndex == batchIndex, "ANN index diverged from batch-built")

    // all tombstones were folded for good by the closing OPTIMIZE
    assert(!graft.core.Fs.exists(spark, root.resolve("sig").toString + "/tombstones"))
    assert(!graft.core.Fs.exists(spark, root.resolve("md5").toString + ".tombstones"))
    assert(!graft.core.Fs.exists(spark, root.resolve("ann").toString + "/tombstones"))
    graft.core.Caches.release()
    graft.core.Fs.deleteRecursively(spark, root.toString)
  }

  test("a replayed batch decides identically AFTER its own feedback appends (crash-replay soundness)") {
    import graft.operators.{AnnIndexZone, Dedup, SignatureZone}
    import graft.queries.TrainingData.{minhashBands, minhashK, shingleN}
    // foreachBatch is at-least-once: a crash AFTER the zone appends but
    // BEFORE the checkpoint commit replays the batch, which then
    // re-decides against zones that already contain its OWN rows. The
    // decision must not change: the exact stage's least(hist, delta_min)
    // absorbs the delta's own md5 rows (zone ∪ delta minimum ==
    // least of the two minima), and both probe operators are
    // posture-invariant to a zone already holding the delta
    // (SignatureZoneSpec/HammingZoneSpec posture 2). This pins the
    // whole three-gate DECIDE step under that replay.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val e = emb.count()
    val cut = e / 2
    val hist = docs.filter(col("doc_id") < cut)
    val delta = docs.filter(col("doc_id") >= cut && col("doc_id") < e)
    val z = tmpDir("replaydecide")
    SignatureZone.create(spark, s"$z/sig", shingleN, minhashK, minhashBands)
    SignatureZone.append(hist, s"$z/sig")
    Dedup.md5ZoneAppend(hist, col("text"), col("doc_id"), s"$z/md5")
    AnnIndexZone.create(spark, s"$z/ann", expectedCount = e): Unit
    AnnIndexZone.appendIndex(
      emb.join(hist.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
      s"$z/ann")
    def decide() = graft.queries.TrainingData
      .semanticAdmissionDecisions(spark, docs, emb, delta,
        s"$z/md5", s"$z/sig", s"$z/ann")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val clean = decide()
    assert(clean.exists(_._2 != "kept"), "degenerate fixture: nothing gated")
    // the crash-point state: the batch's own feedback already landed
    SignatureZone.append(delta, s"$z/sig")
    Dedup.md5ZoneAppend(delta, col("text"), col("doc_id"), s"$z/md5")
    AnnIndexZone.appendIndex(
      emb.join(delta.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
      s"$z/ann")
    assert(decide() == clean,
      "replayed decide diverged after the batch's own zone appends")
    graft.core.Caches.release()
  }
}
