package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{CompactionCrash, Generations, ShardedWriter}

/** The balanced-shard sink contract: bounded file sizes, key-disjoint
  * clustered shards (the zone-map property), lossless round-trip.
  */
class ShardedWriterSpec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq

  test("every file bounded by the cap; shards balanced; round-trip lossless") {
    val out = tmpDir("shardw") + "/docs"
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val n = docs.count()
    val shards = ShardedWriter.writeSharded(docs, out, col("doc_id"), 100L)
    assert(shards == ((n + 99) / 100).toInt)

    val files = parquetFiles(out)
    val sizes = files.map(f => spark.read.parquet(f).count())
    assert(sizes.sum == n)
    assert(sizes.forall(_ <= 100L), sizes.mkString(","))
    // balanced: range sampling should keep files near-target, not a few
    // giants plus dust (allow slack for sampled boundary wobble)
    assert(files.size <= math.ceil(n / 100.0).toInt + 2, s"${files.size} files for $n rows")

    // round-trip equality (values, not just counts)
    val back = spark.read.parquet(out)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
  }

  test("zone-map property: per-file doc_id spans are disjoint and internally sorted") {
    val out = tmpDir("shardz") + "/docs"
    ShardedWriter.writeSharded(
      Tables(spark, "/root/testdata/sf0.001", "documents"), out, col("doc_id"), 64L)
    val spans = parquetFiles(out).map { f =>
      val ids = spark.read.parquet(f).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"unsorted rows inside $f")
      (ids.min, ids.max)
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlapping spans $hi >= $lo")
      case _ => ()
    }
  }

  test("compaction: small-files storm folds into bounded shards, rows conserved") {
    import spark.implicits._
    val dir = tmpDir("compact") + "/ingested"
    // simulate micro-batch landings: 40 tiny appends of 25 rows each
    val all = (0 until 1000).map(i => (i.toLong, s"v$i"))
    all.grouped(25).foreach { batch =>
      batch.toDF("id", "payload").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val beforeFiles = parquetFiles(dir)
    assert(beforeFiles.size >= 40, s"expected a small-files storm, got ${beforeFiles.size}")

    val (before, after) = ShardedWriter.compactParquet(
      spark, dir, org.apache.spark.sql.functions.col("id"), 250L)
    assert(before == beforeFiles.size)
    assert(after <= 5, s"$after files after compaction") // 1000/250 + straddle slack
    // the rows moved into the committed generation; the flat files are
    // swept, so a read that skips the resolver finds no part file
    val current = Generations.resolve(spark, dir)
    assert(current != dir && parquetFiles(dir).isEmpty)
    assert(parquetFiles(current).size == after)
    // contents identical
    val back = Generations.read(spark, dir)
    assert(back.count() == 1000L)
    assert(back.as[(Long, String)].collect().toSet == all.toSet)
    // compaction restored the clustered layout: disjoint sorted id spans
    val spans = parquetFiles(current).map { f =>
      val ids = spark.read.parquet(f).select("id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted)
      (ids.min, ids.max)
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo)
      case _ => ()
    }
  }

  test("a crash before the commit: the uncommitted generation never serves and is swept") {
    import spark.implicits._
    val dir = tmpDir("compactcrash") + "/data"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .repartition(4).write.parquet(dir)
    // a previous run died after writing its generation, before the marker
    intercept[IllegalStateException] {
      Generations.publish(spark, dir) { gen =>
        (1 to 10).map(i => (-i.toLong, "stale")).toDF("id", "payload").write.parquet(gen)
        throw new IllegalStateException("crash before the commit")
      }
    }
    def ids = Generations.read(spark, dir).select("id").as[Long].collect().toSeq.sorted
    assert(Generations.resolve(spark, dir) == dir && ids == (1 to 100).map(_.toLong))

    val (before, after) = ShardedWriter.compactParquet(
      spark, dir, org.apache.spark.sql.functions.col("id"), 50L)
    assert(before >= 4 && after <= 3)
    assert(ids == (1 to 100).map(_.toLong), "stale generation rows must never publish")
    assert(Files.list(Paths.get(dir)).iterator().asScala
      .count(!_.getFileName.toString.endsWith(".crc")) == 2,
      "the committed generation and its marker are all that remain")
  }

  test("a crash after the commit: readers see the new generation only; the next compaction sweeps the old files") {
    import spark.implicits._
    val dir = tmpDir("compactmid") + "/data"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .repartition(4).write.parquet(dir)
    val key = org.apache.spark.sql.functions.col("id")
    CompactionCrash.run(spark, dir, Seq(dir), tmpDir("compactmidx"),
      CompactionCrash.BeforeSweep)(ShardedWriter.compactParquet(spark, dir, key, 50L): Unit)
    // the replaced flat files are still there, and no reader counts them
    assert(parquetFiles(dir).size >= 4)
    def ids = Generations.read(spark, dir).select("id").as[Long].collect().toSeq.sorted
    assert(ids == (1 to 100).map(_.toLong))

    val (before, after) = ShardedWriter.compactParquet(spark, dir, key, 50L)
    assert(before <= 3 && after <= 3, s"($before, $after)")
    assert(parquetFiles(dir).isEmpty, "the replaced flat files were not swept")
    assert(ids == (1 to 100).map(_.toLong))
  }

  test("an append after either crash lands in the serving generation and survives the next compaction") {
    import spark.implicits._
    val key = org.apache.spark.sql.functions.col("id")
    def rows(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    def ids(dir: String) = Generations.read(spark, dir).select("id").as[Long].collect().toSeq
    for (at <- Seq(CompactionCrash.BeforeCommit, CompactionCrash.BeforeSweep)) {
      val dir = tmpDir("compactappend") + "/data"
      rows(1 to 100).repartition(4).write.parquet(dir)
      // compacted once, so the crash lands between two generations
      ShardedWriter.compactParquet(spark, dir, key, 50L)
      CompactionCrash.run(spark, dir, Seq(dir), tmpDir("compactappendx"), at)(
        ShardedWriter.compactParquet(spark, dir, key, 50L): Unit)
      rows(101 to 120).write.mode("append").parquet(Generations.resolve(spark, dir))
      assert(ids(dir).sorted == (1 to 120).map(_.toLong), s"after $at and an append")
      ShardedWriter.compactParquet(spark, dir, key, 50L)
      assert(ids(dir).sorted == (1 to 120).map(_.toLong),
        s"rows appended after $at must survive the next compaction, once each")
    }
  }

  test("compaction no-ops on an absent or part-file-free directory") {
    val missing = tmpDir("compactnoop") + "/never-written"
    assert(ShardedWriter.compactParquet(
      spark, missing, org.apache.spark.sql.functions.col("id"), 100L) == ((0, 0)))
    assert(!new java.io.File(missing).exists)
    val metaOnly = tmpDir("compactnoop") + "/meta-only"
    Files.createDirectories(Paths.get(metaOnly))
    Files.write(Paths.get(metaOnly, "_SUCCESS"), Array.emptyByteArray)
    assert(ShardedWriter.compactParquet(
      spark, metaOnly, org.apache.spark.sql.functions.col("id"), 100L) == ((0, 0)))
    assert(Files.exists(Paths.get(metaOnly, "_SUCCESS"))) // untouched
  }

  test("skewed sparse keys still shard balanced (range sampling, not key width)") {
    import spark.implicits._
    val out = tmpDir("shards") + "/skew"
    // snowflake-style sparse ids: width-based bucketing would collapse
    // these into one bucket; range boundaries from sampling do not
    val df = (1 to 1000).map(i => (1L << 40) + i * 7919L).toDF("doc_id")
    ShardedWriter.writeSharded(df, out, col("doc_id"), 100L)
    val sizes = parquetFiles(out).map(f => spark.read.parquet(f).count())
    assert(sizes.sum == 1000L && sizes.forall(_ <= 100L))
    assert(sizes.size <= 12, sizes.mkString(","))
  }
}
