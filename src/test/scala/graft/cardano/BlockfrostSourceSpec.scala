package graft.cardano

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

import graft.SparkSpec

/** Answers as the fixture chain does, after failing the first `failures`
  * attempts at each key; logs every attempt (partition, key, time) under
  * `run` in the companion — task closures get deserialized copies of the
  * backend, and a local-mode session runs them all in this JVM.
  */
final class FlakyBackend(run: String, failures: Int) extends BlockfrostSource.Backend {
  private val inner = new BlockfrostSource.FixtureBackend
  private def attempt(key: String)(answer: => Option[String]): Option[String] = {
    FlakyBackend.log.add((run, TaskContext.getPartitionId(), key, System.nanoTime()))
    val n = FlakyBackend.counts.computeIfAbsent(s"$run/$key", _ => new AtomicInteger)
      .incrementAndGet()
    if (n <= failures) throw new java.io.IOException(s"transient failure $n at $key")
    answer
  }
  override def block(h: Long): Option[String] = attempt(h.toString)(inner.block(h))
  override def blockTxs(h: Long): Option[String] = attempt(h.toString)(inner.blockTxs(h))
  override def tx(hash: String): Option[String] = attempt(hash)(inner.tx(hash))
  override def txUtxo(hash: String): Option[String] = attempt(hash)(inner.txUtxo(hash))
}

object FlakyBackend {
  private val log = new ConcurrentLinkedQueue[(String, Int, String, Long)]()
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  /** (partition, key, nanoTime) of every attempt made under `run`. */
  def attempts(run: String): Seq[(Int, String, Long)] =
    log.asScala.toSeq.collect { case (`run`, p, k, t) => (p, k, t) }
}

class BlockfrostSourceSpec extends SparkSpec {

  /** Tx hashes the fixture chain answers for (height in the first 12 hex
    * chars, a per-tx number in the next 12).
    */
  private def txHashes(n: Int): Seq[String] =
    (1 to n).map(i => f"$i%012x" + f"${i * 7919}%052x")

  test("fixture backend fetch parses into the declared block schema") {
    import spark.implicits._
    val heights = spark.range(10, 20).map(java.lang.Long.valueOf(_))
    val blocks = BlockfrostSource.fetchBlocks(heights, new BlockfrostSource.FixtureBackend)
    // from_json yields all-nullable fields; compare names + types.
    assert(blocks.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Schemas.rawBlock.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(blocks.count() == 10)
    val h15 = blocks.filter(org.apache.spark.sql.functions.col("height") === 15).head()
    assert(h15.getAs[String]("hash").length == 64)
    assert(h15.getAs[Long]("tx_count") == 15 % 3)
  }

  test("chain linkage is consistent in the fixture backend") {
    import spark.implicits._
    val heights = spark.range(5, 8).map(java.lang.Long.valueOf(_))
    val blocks = BlockfrostSource.fetchBlocks(heights, new BlockfrostSource.FixtureBackend)
      .orderBy("height").collect()
    assert(blocks(1).getAs[String]("previous_block") == blocks(0).getAs[String]("hash"))
    assert(blocks(1).getAs[String]("next_block") == blocks(2).getAs[String]("hash"))
  }

  test("withRetry retries transient failures then succeeds") {
    var calls = 0
    val out = BlockfrostSource.withRetry(attempts = 5, baseDelayMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(out == 42 && calls == 3)
  }

  test("withRetry exhausts attempts and rethrows") {
    var calls = 0
    val e = intercept[RuntimeException] {
      BlockfrostSource.withRetry(attempts = 4, baseDelayMs = 1) {
        calls += 1
        throw new RuntimeException("permanent")
      }
    }
    assert(e.getMessage == "permanent" && calls == 4)
  }

  test("rate limiter paces calls within a partition") {
    val rl = new BlockfrostSource.RateLimiter(100) // 10ms interval
    val t0 = System.nanoTime()
    (1 to 5).foreach(_ => rl.acquire())
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs >= 35) // 4 paced gaps of ~10ms after the first call
  }

  test("every fetch spreads its keys over defaultParallelism partitions") {
    import spark.implicits._
    val slots = spark.sparkContext.defaultParallelism
    val keys = txHashes(3 * slots)
    val narrow = keys.toDS().coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    val run = java.util.UUID.randomUUID().toString
    val fanned = BlockfrostSource.fetchTransactions(narrow, new FlakyBackend(run, 0))
    val got = fanned.collect().map(_.toString).sorted.toSeq
    assert(FlakyBackend.attempts(run).map(_._1).distinct.size == slots)
    assert(FlakyBackend.attempts(run).size == keys.size)
    val plain = BlockfrostSource.fetchTransactions(keys.toDS(), new BlockfrostSource.FixtureBackend)
      .collect().map(_.toString).sorted.toSeq
    assert(got.size == keys.size && got == plain)
  }

  test("retries are paced: every attempt takes a limiter token") {
    import spark.implicits._
    val rps = 20
    val intervalNanos = 1000000000L / rps
    val keys = txHashes(8)
    val run = java.util.UUID.randomUUID().toString
    // fails twice per key: the 10/15 ms retry backoff alone would hit the
    // endpoint well inside the 50 ms pace
    val rows = BlockfrostSource.fetchTransactions(keys.toDS(), new FlakyBackend(run, 2), rps)
      .count()
    assert(rows == keys.size)
    val attempts = FlakyBackend.attempts(run)
    assert(attempts.groupBy(_._2).values.map(_.size).toSet == Set(3))
    attempts.groupBy(_._1).values.foreach { inPartition =>
      val times = inPartition.map(_._3).sorted
      val gaps = times.zip(times.tail).map { case (a, b) => b - a }
      // grants are >= the interval apart; 1 ms covers the (microsecond)
      // jitter between a grant and the backend call that logs it
      assert(gaps.forall(_ >= intervalNanos - 1000000L), gaps.map(_ / 1000000))
    }
  }
}
