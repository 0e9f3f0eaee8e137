package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics of the corpus-wide batch ANN ([[Similarity.batchTopK]]):
  * multi-probe top-k must equal a brute-force ranking over all
  * Hamming-≤1 bucket pairs, neighbors never come from buckets further
  * than one plane flip away, ranks are dense from 1, and the plane
  * count derives from the corpus size.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dims = 64
  private lazy val corpus = {
    // Deterministic small corpus: 40 vectors derived from their id.
    val rows = (0 until 40).map { id =>
      (id.toLong, (0 until dims).map(i => ((id * 31 + i * 7) % 19 - 9).toFloat / 9f).toArray)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** Brute-force reference: all pairs whose buckets differ in at most
    * one plane bit, ranked (cos desc, id) per vector — computed with the
    * interpreted fold (bit-identical to the codegen'd DotProduct by
    * VectorExpressionsSpec).
    */
  private def reference(nPlanes: Int, k: Int): Seq[(Long, Long, Long, Double)] = {
    val bucketed = corpus.select(
      col("vec_id"),
      Similarity.srpBucket(col("embedding"), nPlanes, dims).as("bucket"),
      col("embedding"))
    val a = bucketed.select(col("bucket"), col("vec_id"), col("embedding").as("ea"))
    val b = bucketed.select(col("bucket").as("bb"), col("vec_id").as("nb"),
      col("embedding").as("eb"))
    a.join(b, expr("bit_count(bucket ^ bb) <= 1") && col("vec_id") =!= col("nb"))
      .select(col("vec_id"), col("nb"),
        Similarity.cosine(col("ea"), col("eb")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (vid, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(k).zipWithIndex.map {
          case ((_, nb, cos), i) => (vid, (i + 1).toLong, nb, cos)
        }
      }.sortBy(t => (t._1, t._2))
  }

  test("batchTopK equals brute force over Hamming-1 bucket pairs (multi-probe recall)") {
    val k = 3
    val nPlanes = 2
    val got = Similarity.batchTopKWithPlanes(corpus, nPlanes, k, dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))

    assert(got.toSeq == reference(nPlanes, k))
    // dense ranks from 1 per vector
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong))
    }
    // no self-pairs
    assert(got.forall(t => t._1 != t._3))
    // multi-probe matters on this corpus: some top-k neighbor crosses a
    // bucket boundary (otherwise the test would not exercise the probes)
    val buckets = corpus.select(col("vec_id"),
      Similarity.srpBucket(col("embedding"), nPlanes, dims).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.exists(t => buckets(t._1) != buckets(t._3)),
      "corpus produced no cross-bucket neighbors; weaken the test data")
  }

  test("maxBucket drops over-dense buckets before pairwise work") {
    val nPlanes = 2
    // cap 0 removes every vector (all buckets have >= 1 member)
    assert(Similarity.batchTopKWithPlanes(corpus, nPlanes, 3, dims,
      maxBucket = Some(0L)).count() == 0)
    // a cap above the largest bucket changes nothing
    val uncapped = Similarity.batchTopKWithPlanes(corpus, nPlanes, 3, dims).collect().length
    assert(Similarity.batchTopKWithPlanes(corpus, nPlanes, 3, dims,
      maxBucket = Some(1000L)).collect().length == uncapped)
    // a binding cap excludes members of over-dense buckets from BOTH
    // sides (they neither query nor serve as neighbors)
    val sizes = corpus.select(
        Similarity.srpBucket(col("embedding"), nPlanes, dims).as("b"))
      .groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cap = sizes.values.max - 1
    val dropped = corpus.select(col("vec_id"),
        Similarity.srpBucket(col("embedding"), nPlanes, dims).as("b"))
      .collect().filter(r => sizes(r.getLong(1)) > cap).map(_.getLong(0)).toSet
    assert(dropped.nonEmpty)
    val capped = Similarity.batchTopKWithPlanes(corpus, nPlanes, 3, dims,
      maxBucket = Some(cap)).collect()
    assert(capped.forall(r => !dropped.contains(r.getLong(0)) && !dropped.contains(r.getLong(2))))
  }

  test("derivePlanes holds expected bucket size constant as the corpus grows") {
    import Similarity.derivePlanes
    for (n <- Seq(1L, 500L, 5000L, 1000000L, 10000000000L)) {
      val p = derivePlanes(n)
      assert(p >= 4 && p <= 24, s"n=$n p=$p")
      if (p < 24) assert((32L << p) >= n, s"n=$n p=$p under-partitioned")
      if (p > 4) assert((32L << (p - 1)) < n, s"n=$n p=$p over-partitioned")
    }
    // the SFs the driver checks: 500 vectors -> 16 buckets, 5000 -> 256
    assert(derivePlanes(500) == 4)
    assert(derivePlanes(5000) == 8)
    // monotone in n
    val ps = Seq(10L, 100L, 10000L, 100000000L).map(derivePlanes(_))
    assert(ps == ps.sorted)
  }

  test("AnnIndexZone.incrementalPairs: zone postures invisible; semantics match the in-session bucketing") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val cut = n * 4L / 5L
    val delta = emb.filter(col("vec_id") >= cut)
    def got(z: String) = AnnIndexZone
      .incrementalPairs(emb, delta, z, minCos = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(p => (p._1, p._2))

    // posture 1: history-only zone (d23's shape), capacity-planned for
    // the full corpus
    val z1 = tmpDir("annpairs1") + "/z"
    AnnIndexZone.create(spark, z1, expectedCount = n)
    AnnIndexZone.appendIndex(emb.filter(col("vec_id") < cut), z1)
    val expected = got(z1)

    // reference semantics: the in-session bucket assignment over the
    // FULL corpus, same-bucket pairs with a delta member, exact cosine
    val (planes, dims) = AnnIndexZone.meta(spark, z1)
    val b = emb.select(col("vec_id"),
      Similarity.srpBucket(col("embedding"), planes, dims).as("bucket"))
    val nf = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val ref = b.as("a")
      .join(b.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(col("b.vec_id") >= cut)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .join(nf.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), Seq("vec_a"))
      .join(nf.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(p => (p._1, p._2))
    assert(expected.nonEmpty, "degenerate fixture: no verified pairs")
    assert(expected == ref, "zone-served pairs diverge from in-session bucketing")

    // posture 2: zone already holds the delta + a replayed append —
    // the DISTINCT-ed candidate join absorbs both
    val z2 = tmpDir("annpairs2") + "/z"
    AnnIndexZone.create(spark, z2, expectedCount = n)
    AnnIndexZone.appendIndex(emb, z2)
    AnnIndexZone.appendIndex(emb.filter(col("vec_id") < cut), z2)
    assert(got(z2) == expected, "full/replayed zone diverged")

    // posture 3: empty index degrades to delta-internal pairs
    val z3 = tmpDir("annpairs3") + "/z"
    AnnIndexZone.create(spark, z3, expectedCount = n)
    assert(got(z3) == expected.filter(_._1 >= cut), "empty zone != internal-only pairs")

    // tombstones: deleting a history vector removes exactly its pairs
    // (replay-stable), and optimize folds the tombstone in for good
    import spark.implicits._
    val dead = expected.head._1 // a history endpoint of a verified pair
    AnnIndexZone.delete(Seq(dead).toDF("vec_id"), z1)
    AnnIndexZone.delete(Seq(dead).toDF("vec_id"), z1) // replay
    val afterDelete = got(z1)
    assert(afterDelete == expected.filterNot(p => p._1 == dead || p._2 == dead),
      "tombstoned vector still produces candidates")
    assert(AnnIndexZone.optimize(spark, z1)._2 > 0)
    assert(!graft.core.Fs.exists(spark, s"$z1/tombstones"))
    assert(Generations.read(spark, s"$z1/index")
      .filter(col("vec_id") === dead).count() == 0,
      "compaction left dead index rows")
    assert(got(z1) == afterDelete, "compaction moved the pair set")
  }

  test("AnnIndexZone: zone-served topK ≡ in-session lshTopK; delta append + replay are invisible") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val zone = tmpDir("annzone") + "/z"
    val n = emb.count()
    // batch-built zone ≡ the in-session derivation
    AnnIndexZone.build(spark, emb, zone, knownCount = Some(n))
    def got(z: String) = AnnIndexZone.topK(emb, query, z, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expected = Similarity.lshTopK(emb, query, 10, knownCount = Some(n))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(expected.nonEmpty && got(zone) == expected)
    // incrementally-built zone (create ahead at full capacity, append
    // two deltas with an overlapping replay) answers identically:
    // structural idempotency — the semi-join absorbs duplicate rows
    val zone2 = tmpDir("annzone2") + "/z"
    AnnIndexZone.create(spark, zone2, expectedCount = n)
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    AnnIndexZone.appendIndex(emb.filter(col("vec_id") < half), zone2)
    AnnIndexZone.appendIndex(emb, zone2) // full replay of the first delta
    assert(got(zone2) == expected)

    // OPTIMIZE: bucket-clustered rewrite + stats — results unchanged,
    // and the probe now opens a strict subset of the index files
    AnnIndexZone.optimize(spark, zone2, targetRowsPerFile = math.max(1L, n / 8))
    assert(got(zone2) == expected, "optimize changed the probe result")
    val total = Generations.read(spark, s"$zone2/index").inputFiles.length
    val (planes, dims) = AnnIndexZone.meta(spark, zone2)
    val qb = query.select(Similarity.srpBucket(col("qvec"), planes, dims).as("qb"))
      .head().getLong(0)
    val planned = graft.operators.ZoneMap.statsPlanFilesAnyOf(spark,
      s"$zone2/index", s"$zone2/stats", "bucket",
      (0 until planes).map(p => qb ^ (1L << p)) :+ qb)
    assert(total > 1 && planned.size < total,
      s"optimized probe pruned nothing (${planned.size}/$total files)")

    // a delta appended AFTER optimize: the stale stats must fail the
    // probe loudly; re-covering the delta with appendStats restores it
    AnnIndexZone.appendIndex(emb.limit(1), zone2)
    val e = intercept[IllegalArgumentException] { got(zone2) }
    assert(e.getMessage.contains("stale"), e.getMessage)
    assert(graft.operators.ZoneMap.appendStats(spark,
      s"$zone2/index", s"$zone2/stats", Seq("bucket")) >= 1L)
    assert(got(zone2) == expected, "post-append probe diverged")

    // build() on a zone that already holds index rows must REFUSE —
    // create is idempotent but appendIndex is not, so a repeated build
    // would silently double the index on every call
    val eb = intercept[IllegalArgumentException] {
      AnnIndexZone.build(spark, emb, zone, knownCount = Some(n)) }
    assert(eb.getMessage.contains("appendIndex"), eb.getMessage)

    // topK on a created-but-never-appended zone: an empty index yields
    // zero candidates — an empty frame with the output schema, not a
    // path-not-found AnalysisException on the missing index dir
    val zone3 = tmpDir("annzone3") + "/z"
    AnnIndexZone.create(spark, zone3, expectedCount = n)
    val empty = AnnIndexZone.topK(emb, query, zone3, 10)
    assert(empty.columns.toSeq == Seq("vec_id", "cos_sim"))
    assert(empty.count() == 0L)
  }
}
