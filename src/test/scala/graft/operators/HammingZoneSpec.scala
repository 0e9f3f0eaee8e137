package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted Hamming-signature zone: storage-posture invariance
  * (history zone ≡ full-corpus zone ≡ replay-appended ≡ OPTIMIZEd),
  * semantics vs the in-session [[Dedup.hammingPairs]], tombstoned
  * deletes, and the geometry guard.
  */
class HammingZoneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // m6's audio fingerprints — the real d26 signal
  private def sigs = graft.queries.TrainingData.audioSigs(
    spark.read.parquet(s"$dir/documents.parquet"))

  test("incrementalPairs: zone postures are invisible; semantics match hammingPairs") {
    val s = graft.core.Caches.persistTracked(sigs)
    val cut = spark.read.parquet(s"$dir/documents.parquet").count() * 4L / 5L
    val hist = s.filter(col("doc_id") < cut)
    val delta = s.filter(col("doc_id") >= cut)

    def got(zone: String) = HammingZone.incrementalPairs(delta, zone)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(p => (p._1, p._2))

    // posture 1: batch-built history zone (d26's shape)
    val z1 = tmpDir("hamzone1") + "/z"
    HammingZone.build(spark, hist, z1)
    val expected = got(z1)
    assert(expected.nonEmpty, "degenerate fixture: no delta-crossing pairs")

    // reference semantics: the in-session pigeonhole operator over the
    // FULL corpus, restricted to pairs with a delta member (ids are
    // ordered, so doc_b >= cut is exactly that)
    val ref = Dedup.hammingPairs(
        s.withColumnRenamed("sig", "h"), "h", bits = 60,
        maxHamming = graft.queries.TrainingData.audioHammingMax,
        chunks = graft.queries.TrainingData.audioHammingChunks)
      .filter(col("doc_b") >= cut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(p => (p._1, p._2))
    assert(expected == ref, "zone-served pairs diverge from hammingPairs")

    // posture 2: zone already holding the delta; posture 3: replayed
    // append — both absorbed structurally
    val z2 = tmpDir("hamzone2") + "/z"
    HammingZone.build(spark, s, z2)
    assert(got(z2) == expected, "full-corpus zone diverged")
    HammingZone.append(hist, z2)
    assert(got(z2) == expected, "replayed append changed the result")

    // posture 4: OPTIMIZE folds the replay duplicates, result-invisible
    val rows = Generations.read(spark, s"$z2/rows").count()
    val (fb, fa) = HammingZone.optimize(spark, z2)
    assert(fa <= fb && fa > 0)
    assert(Generations.read(spark, s"$z2/rows").count() < rows,
      "optimize failed to fold replayed duplicate chunk rows")
    assert(got(z2) == expected, "optimize changed the result")

    // posture 5: a tombstoned doc stops producing candidates — probe
    // with a delta that reaches the victim only THROUGH the zone (a
    // doc still present in the probing delta would re-pair via the
    // internal leg, which is correct: tombstones mask STORED state)
    import spark.implicits._
    val bs = expected.map(_._2)
    val delta2 = s.filter(col("doc_id").isin(bs: _*))
    def got2() = HammingZone.incrementalPairs(delta2, z2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(p => (p._1, p._2))
    val expected2 = got2()
    val victim = expected2.collectFirst {
      case (a, _, _) if !bs.contains(a) => a
    }.getOrElse(fail("no zone-only pair member to tombstone"))
    HammingZone.delete(Seq(victim).toDF("doc_id"), z2)
    assert(got2() == expected2.filterNot(p =>
      p._1 == victim || p._2 == victim),
      "tombstoned doc still produced candidates")

    // posture 6: empty zone degrades to delta-internal pairs
    val z3 = tmpDir("hamzone3") + "/z"
    HammingZone.create(spark, z3)
    assert(got(z3) == expected.filter(_._1 >= cut),
      "empty zone != internal-only pairs")
    graft.core.Caches.release()
  }

  test("geometry guard refuses re-creating a populated zone differently") {
    val z = tmpDir("hamguard") + "/z"
    HammingZone.build(spark, sigs, z)
    HammingZone.create(spark, z) // same geometry: idempotent
    val e = intercept[IllegalArgumentException] {
      HammingZone.create(spark, z, bits = 60, maxHamming = 3, chunks = 4)
    }
    assert(e.getMessage.contains("orphan"))
    graft.core.Caches.release()
  }
}
