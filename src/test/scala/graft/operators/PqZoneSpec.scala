package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The PQ code zone: the asymmetric-distance contract. Pins (1) the
  * self-reconstruction identity — ADC(q → q's own codes) equals the
  * sum of q's per-subspace assignment distances (the quantization
  * residual), tying the LUT path and the encode path to the same
  * arithmetic; (2) `ivfAdcTopK` with all cells probed ≡ the full ADC
  * scan — the router bounds WHICH codes are scored, never how; (3)
  * measured recall@10 against exact cosine; (4) codebook geometry
  * guard + idempotent re-create; (5) replay folding, OPTIMIZE, and
  * tombstoned deletes.
  */
class PqZoneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def queries(n: Int): DataFrame = emb.filter(col("vec_id") < n)
    .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))

  private def adcRows(zone: String, k: Int = 10): Seq[(Long, Long, Long, Long)] =
    PqZone.adcTopK(queries(5), zone, k)
      .orderBy(col("q_id"), col("nn_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  test("self-reconstruction: ADC(q, q) is the sum of q's per-subspace assignment distances") {
    val zone = tmpDir("pqself") + "/z"
    val books = PqZone.build(spark, emb, zone, m = 4, k = 8, iters = 2)
    val dsub = 16
    // per-subspace assignment distance of vector 0, via the SAME
    // assignment operator the encoder uses
    val residual = (0 until 4).map { s =>
      Similarity.assignToCentroids(
          emb.filter(col("vec_id") === 0).select(col("vec_id"),
            slice(col("embedding"), s * dsub + 1, dsub).as("embedding")),
          books(s))
        .head().getLong(1)
    }.sum
    val self = PqZone.adcTopK(queries(1), zone, 1)
      .filter(col("vec_id") === 0).head()
    assert(self.getLong(2) == residual,
      s"ADC(0,0) = ${self.getLong(2)} but the encode-side residual is $residual")
    assert(self.getLong(3) == 1L, "a vector must be its own ADC rank-1")
    graft.core.Caches.release()
  }

  test("IVF-PQ with all cells probed equals the full ADC scan; measured recall@10 vs exact cosine") {
    val pq = tmpDir("pqivf") + "/pq"
    val ivf = tmpDir("pqivf") + "/ivf"
    PqZone.build(spark, emb, pq, m = 8, k = 8, iters = 2)
    IvfIndexZone.build(spark, emb, ivf, k = 8, iters = 3)
    val full = adcRows(pq)
    val routedAll = PqZone.ivfAdcTopK(queries(5), pq, ivf, 10, nprobe = 8)
      .orderBy(col("q_id"), col("nn_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(routedAll == full,
      "all-cells IVF-PQ diverged from the full ADC scan")
    // routed nprobe=2 results are a subset of each query's cell-bounded
    // candidates scored identically: every returned (q, v, adc) must
    // appear in the full scan's scores with the same adc value
    val fullByQv = full.map(t => (t._1, t._2) -> t._3).toMap ++
      PqZone.adcTopK(queries(5), pq, Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val routed2 = PqZone.ivfAdcTopK(queries(5), pq, ivf, 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    routed2.foreach { case (q, v, d) =>
      assert(fullByQv((q, v)) == d, s"routed ADC($q,$v)=$d != full ${fullByQv((q, v))}")
    }
    // the refine stage degenerates correctly: with r covering every
    // routed candidate, route → ADC-shortlist → exact-refine IS the
    // exact-on-probed-cells search (IvfIndexZone.topK) — ADC decided
    // nothing, only bounded what exact cosine re-read
    val qs = queries(5)
    val refined = PqZone.refinedTopK(emb, qs, pq, ivf, 10,
        r = Int.MaxValue, nprobe = 2)
      .orderBy(col("q_id"), col("nn_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val exact = IvfIndexZone.topK(emb, qs, ivf, 10, nprobe = 2)
      .orderBy(col("q_id"), col("nn_rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(refined == exact,
      "full-width refine diverged from exact search over the probed cells")
    // measured recall@10 of the full ADC scan against exact cosine
    // (the test embeddings are unit-norm, so cosine and the ADC's L2
    // rank identically) — deterministic on the fixed corpus. 8×8
    // codes are 24 bits over 64 dims: they recover the PLANTED
    // near-dup structure; the remaining exact neighbors are
    // noise-level (cos ≈ 0.1 on ~orthogonal unit vectors), which no
    // product code can rank — the floor reflects that, and the
    // selves+planted hits are ~6× the 10-random-picks baseline
    val truth = (0L until 5L).map { q =>
      q -> Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === q).select(col("embedding").as("qvec")), 10)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    val hits = full.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(truth(q)).size
    }.sum
    assert(hits >= 10, s"ADC recall@10 collapsed: $hits/50 exact-cosine hits")
    assert(full.groupBy(_._1).forall { case (q, rows) =>
      rows.minBy(_._4)._2 == q
    }, "every query must be its own ADC rank-1")
    graft.core.Caches.release()
  }

  test("contract: adcTopK is the flat-scan posture; ivfAdcTopK bounds the code scan with equi-joins") {
    // adcTopK's scaladoc REQUIRES corpus-scale callers to route via
    // ivfAdcTopK — pin the structural difference so the contract can't
    // silently rot: the flat path cartesians codes × query LUTs (its
    // definition), the routed path must reach the score through
    // equi-joins only (vec_id candidates, q_id LUT attach).
    val pq = tmpDir("pqposture") + "/pq"
    val ivf = tmpDir("pqposture") + "/ivf"
    PqZone.build(spark, emb, pq, m = 4, k = 8, iters = 1)
    IvfIndexZone.build(spark, emb, ivf, k = 8, iters = 1)
    val flat = PqZone.adcTopK(queries(2), pq, 5)
      .queryExecution.executedPlan.toString
    assert(flat.contains("BroadcastNestedLoopJoin") ||
      flat.contains("CartesianProduct"), flat)
    val routed = PqZone.ivfAdcTopK(queries(2), pq, ivf, 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!routed.contains("BroadcastNestedLoopJoin") &&
      !routed.contains("CartesianProduct"), routed)
    graft.core.Caches.release()
  }

  test("codebook geometry guard; replay folding; OPTIMIZE; tombstoned deletes") {
    import spark.implicits._
    val zone = tmpDir("pqmaint") + "/z"
    val books = PqZone.build(spark, emb, zone, m = 4, k = 8, iters = 2)
    val fp = graft.core.Fs.fingerprint(spark, s"$zone/books")
    PqZone.create(spark, zone, books)
    assert(graft.core.Fs.fingerprint(spark, s"$zone/books") == fp,
      "idempotent re-create rewrote the codebooks")
    val e = intercept[IllegalArgumentException] {
      PqZone.create(spark, zone, books.map(_.map(_.map(_ + 1L))))
    }
    assert(e.getMessage.contains("orphan"))
    val before = adcRows(zone)
    PqZone.append(emb, zone) // a full replay
    val n = emb.count()
    assert(Generations.read(spark, s"$zone/codes").count() == 2 * n)
    assert(adcRows(zone) == before,
      "replayed duplicate code rows changed the ADC result")
    val (_, fa) = PqZone.optimize(spark, zone, math.max(1L, n / 4))
    assert(fa > 0)
    assert(Generations.read(spark, s"$zone/codes").count() == n,
      "optimize left replayed duplicate code rows")
    assert(adcRows(zone) == before)
    val victim = before.filter(_._1 == 0L)(1)._2
    PqZone.delete(Seq(victim).toDF("vec_id"), zone)
    assert(!adcRows(zone).exists(_._2 == victim),
      "tombstoned vector still scored")
    PqZone.optimize(spark, zone): Unit
    assert(!graft.core.Fs.exists(spark, s"$zone/tombstones"))
    assert(Generations.read(spark, s"$zone/codes")
      .filter(col("vec_id") === victim).count() == 0)
    graft.core.Caches.release()
  }

  test("the compaction-freshness stamp skips the dedup exchange and goes stale on append") {
    val zone = tmpDir("pqclean") + "/z"
    PqZone.build(spark, emb, zone, m = 4, k = 8, iters = 2)
    val before = adcRows(zone)
    PqZone.optimize(spark, zone): Unit
    // fresh stamp: the codes scan feeds ADC with NO dedup aggregate
    val cleanPlan = PqZone.adcTopK(queries(5), zone, 10)
      .queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("HashAggregate"),
      s"clean-zone ADC read still pays the dedup exchange:\n$cleanPlan")
    assert(adcRows(zone) == before)
    // a post-compaction replay lands duplicate rows AND stales the
    // stamp — the read must fall back to DISTINCT, never double-count
    PqZone.append(emb, zone)
    val dirtyPlan = PqZone.adcTopK(queries(5), zone, 10)
      .queryExecution.executedPlan.toString
    assert(dirtyPlan.contains("HashAggregate"),
      "stale stamp was trusted — replayed duplicates would double-count")
    assert(adcRows(zone) == before,
      "post-compaction replay changed the ADC result")
    graft.core.Caches.release()
  }
}
