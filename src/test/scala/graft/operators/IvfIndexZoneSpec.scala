package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IVF-flat index zone: the trained-quantizer ANN contract.
  * Pins (1) `nprobe = k` ≡ exact brute force bit-for-bit — the
  * approximation is exactly which candidates are scored, nothing
  * else; (2) recall monotone in nprobe with the home cell always
  * probed first (rank-1 is the query itself); (3) the fitted-centroid
  * geometry guard incl. the no-meta-rewrite idempotent re-create;
  * (4) structural replay idempotency, OPTIMIZE folding, tombstoned
  * deletes, and stats-planned file skipping — one result across all
  * three storage postures.
  */
class IvfIndexZoneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def queries(n: Int): DataFrame = emb.filter(col("vec_id") < n)
    .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))

  private def hits(zone: String, nprobe: Int, k: Int = 10): Map[Long, Seq[(Long, Double)]] =
    IvfIndexZone.topK(emb, queries(5), zone, k, nprobe)
      .orderBy(col("q_id"), col("nn_rank"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  private def bruteTruth(k: Int = 10): Map[Long, Seq[(Long, Double)]] =
    (0L until 5L).map { q =>
      q -> Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === q).select(col("embedding").as("qvec")), k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap

  test("nprobe = k probes every cell and equals exact brute force; recall is monotone in nprobe") {
    val zone = tmpDir("ivf") + "/z"
    IvfIndexZone.build(spark, emb, zone, k = 8, iters = 3)
    val truth = bruteTruth()
    assert(hits(zone, nprobe = 8) == truth,
      "all-cells IVF diverged from exact brute force")
    val recalls = Seq(1, 2, 4, 8).map { np =>
      val h = hits(zone, np)
      (0L until 5L).map { q =>
        h.getOrElse(q, Nil).map(_._1).toSet
          .intersect(truth(q).map(_._1).toSet).size
      }.sum / 50.0
    }
    assert(recalls == recalls.sorted, s"recall not monotone in nprobe: $recalls")
    assert(recalls.last == 1.0)
    assert(recalls.head > 0.0, "home cell must at least find the query itself")
    // the home cell is always the first probe: rank-1 is the query
    val h1 = hits(zone, nprobe = 1)
    (0L until 5L).foreach { q =>
      assert(h1(q).head._1 == q && h1(q).head._2 > 0.999,
        s"query $q did not find itself at rank 1 with nprobe=1")
    }
    graft.core.Caches.release()
  }

  test("geometry guard: different centroids over stored lists refused; same-centroid re-create is a no-op") {
    val zone = tmpDir("ivfguard") + "/z"
    val cents = IvfIndexZone.build(spark, emb, zone, k = 4, iters = 2)
    val fp = graft.core.Fs.fingerprint(spark, s"$zone/centroids")
    IvfIndexZone.create(spark, zone, cents)
    assert(graft.core.Fs.fingerprint(spark, s"$zone/centroids") == fp,
      "idempotent re-create rewrote the centroid table")
    val refit = cents.map(_.map(_ + 1L))
    val e = intercept[IllegalArgumentException] {
      IvfIndexZone.create(spark, zone, refit)
    }
    assert(e.getMessage.contains("orphan"))
    intercept[IllegalArgumentException] { IvfIndexZone.build(spark, emb, zone) }
    graft.core.Caches.release()
  }

  test("replayed appends are result-invisible; OPTIMIZE folds them and plans probes to a file subset") {
    val zone = tmpDir("ivfopt") + "/z"
    IvfIndexZone.build(spark, emb, zone, k = 8, iters = 3)
    val before = hits(zone, nprobe = 2)
    IvfIndexZone.append(emb, zone) // a full replay
    val n = emb.count()
    assert(Generations.read(spark, s"$zone/lists").count() == 2 * n)
    assert(hits(zone, nprobe = 2) == before,
      "replayed duplicate list rows changed the topK result")
    // target n/4 rows per file → a handful of cid-disjoint shards (the
    // two big append files shard FINER here, so skipping is testable;
    // fa <= fb is the storm-folding contract, pinned for AnnIndexZone)
    val (_, fa) = IvfIndexZone.optimize(spark, zone, math.max(1L, n / 4))
    assert(fa > 1, s"optimize produced $fa files — need >1 to observe skipping")
    assert(Generations.read(spark, s"$zone/lists").count() == n,
      "optimize left replayed duplicate (vec_id, cid) rows")
    assert(hits(zone, nprobe = 2) == before,
      "cid-clustered rewrite changed the topK result")
    // single-cell probe planned from stats opens a strict file subset
    val all = graft.core.Fs.listFilePaths(spark, s"$zone/lists")
      .filter(_.endsWith(".parquet"))
    val oneCell = ZoneMap.statsPlanFilesAnyOf(
      spark, s"$zone/lists", s"$zone/stats", "cid", Seq(0L))
    assert(oneCell.nonEmpty && oneCell.size < all.size,
      s"stats planning opened ${oneCell.size} of ${all.size} files — no skipping")
    graft.core.Caches.release()
  }

  test("tombstoned deletes leave results immediately and fold for good at OPTIMIZE") {
    import spark.implicits._
    val zone = tmpDir("ivfdel") + "/z"
    IvfIndexZone.build(spark, emb, zone, k = 8, iters = 3)
    // rank-2 of query 0 (rank-1 is q0 itself)
    val victim = hits(zone, nprobe = 8)(0L)(1)._1
    IvfIndexZone.delete(Seq(victim).toDF("vec_id"), zone)
    val after = hits(zone, nprobe = 8)
    assert(!after.values.flatten.map(_._1).toSet.contains(victim),
      "tombstoned vector still produced candidates")
    IvfIndexZone.optimize(spark, zone): Unit
    assert(!graft.core.Fs.exists(spark, s"$zone/tombstones"),
      "quiescent optimize should clear the tombstone list")
    assert(Generations.read(spark, s"$zone/lists")
      .filter(col("vec_id") === victim).count() == 0,
      "tombstone was not folded out of the lists")
    assert(hits(zone, nprobe = 8) == after)
    graft.core.Caches.release()
  }

  test("plan shape: probes broadcast into the lists join; per-query top-k is group-limited before the window exchange") {
    val zone = tmpDir("ivfplan") + "/z"
    IvfIndexZone.build(spark, emb, zone, k = 8, iters = 3)
    val p = IvfIndexZone.topK(emb, queries(5), zone, 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the ≤ nq·nprobe probe rows must be the BROADCAST side of the
    // cid-keyed lists join (a shuffled probe join would exchange the
    // lists table per query batch)
    assert(p.contains("BroadcastHashJoin"), p)
    // Spark's rank-limit pushdown must keep per-partition top-k AHEAD
    // of the q_id window exchange — without it the exchange carries
    // every scored candidate instead of partitions·nq·k rows
    assert(p.contains("WindowGroupLimit"), p)
    graft.core.Caches.release()
  }

  test("quantizer growth goes through ZoneRebuild: rebuilt zone equals a fresh fit at the new k") {
    val d = emb
    val z = tmpDir("ivfrebuild") + "/z"
    IvfIndexZone.build(spark, d, z, k = 4, iters = 2)
    // outgrown: create() refuses the re-fit in place...
    val refit = Similarity.kmeansFit(d, 8, 3)
    intercept[IllegalArgumentException] { IvfIndexZone.create(spark, z, refit) }
    // ...so the deployment rebuilds side-by-side and cuts over
    ZoneRebuild.rebuild(spark, z) { staging =>
      IvfIndexZone.build(spark, d, staging, k = 8, iters = 3): Unit
    }
    val fresh = tmpDir("ivfrebuildref") + "/z"
    IvfIndexZone.build(spark, d, fresh, k = 8, iters = 3)
    assert(hits(z, nprobe = 2) == hits(fresh, nprobe = 2),
      "rebuilt zone diverged from a fresh new-geometry build")
    assert(!graft.core.Fs.exists(spark, z + ".rebuild") &&
      !graft.core.Fs.exists(spark, z + ".retired"))
    graft.core.Caches.release()
  }

  test("a created-but-empty zone answers zero rows with the output shape") {
    val zone = tmpDir("ivfempty") + "/z"
    IvfIndexZone.create(spark, zone, Seq(Array.fill(64)(1048576L)))
    val out = IvfIndexZone.topK(emb, queries(2), zone, 10, 1)
    assert(out.columns.toSeq ==
      Seq("q_id", "vec_id", "cos_sim", "nn_rank"))
    assert(out.count() == 0)
    graft.core.Caches.release()
  }
}
