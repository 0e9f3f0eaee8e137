package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.ShardedWriter

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
    // no staging/retired residue; contents identical
    assert(!new java.io.File(dir + ".compact").exists)
    assert(!new java.io.File(dir + ".pre-compact").exists)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000L)
    assert(back.as[(Long, String)].collect().toSet == all.toSet)
    // compaction restored the clustered layout: disjoint sorted id spans
    val spans = parquetFiles(dir).map { f =>
      val ids = spark.read.parquet(f).select("id").collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted)
      (ids.min, ids.max)
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo)
      case _ => ()
    }
  }

  test("compaction recovers from a prior crash's staging/retired residue") {
    import spark.implicits._
    val dir = tmpDir("compactcrash") + "/data"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .repartition(4).write.parquet(dir)
    // a previous run died mid-flight: stale staging AND retired copies
    (1 to 10).map(i => (-i.toLong, "stale")).toDF("id", "payload")
      .write.parquet(dir + ".compact")
    Files.createDirectories(Paths.get(dir + ".pre-compact"))
    Files.write(Paths.get(dir + ".pre-compact", "junk"), Array[Byte](1))

    val (before, after) = ShardedWriter.compactParquet(
      spark, dir, org.apache.spark.sql.functions.col("id"), 50L)
    assert(before >= 4 && after <= 3)
    assert(!new java.io.File(dir + ".compact").exists)
    assert(!new java.io.File(dir + ".pre-compact").exists)
    val ids = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(ids == (1 to 100).map(_.toLong).toSet, "stale staging rows must never publish")
  }

  test("compaction recovers an interrupted publish (dir absent, .pre-compact holds the data)") {
    import spark.implicits._
    val dir = tmpDir("compactmid") + "/data"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .repartition(4).write.parquet(dir)
    // simulate a crash BETWEEN the two publish renames: the table dir is
    // gone, the retired copy holds the only data (plus stale staging)
    Files.move(Paths.get(dir), Paths.get(dir + ".pre-compact"))
    (1 to 10).map(i => (-i.toLong, "stale")).toDF("id", "payload")
      .write.parquet(dir + ".compact")
    assert(!new java.io.File(dir).exists)

    val (before, after) = ShardedWriter.compactParquet(
      spark, dir, org.apache.spark.sql.functions.col("id"), 50L)
    // the retired copy was restored (4 files) and then compacted
    assert(before >= 4 && after <= 3, s"($before, $after)")
    assert(!new java.io.File(dir + ".compact").exists)
    assert(!new java.io.File(dir + ".pre-compact").exists)
    val ids = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(ids == (1 to 100).map(_.toLong).toSet,
      "recovery must republish the retired data, never the stale staging")
  }

  test("compaction after an interrupted publish: rows appended meanwhile join the retired rows; a stale retired copy is not re-added") {
    import spark.implicits._
    val key = org.apache.spark.sql.functions.col("id")
    def rows(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    def ids(dir: String) = spark.read.parquet(dir).select("id").as[Long].collect().toSeq
    // crash between the renames, then an append recreates the dir
    val dir = tmpDir("compactappend") + "/data"
    rows(1 to 100).repartition(4).write.parquet(dir)
    Files.move(Paths.get(dir), Paths.get(dir + ".pre-compact"))
    rows(1 to 100).write.parquet(dir + ".compact")
    rows(101 to 120).write.mode("append").parquet(dir)
    ShardedWriter.compactParquet(spark, dir, key, 50L)
    assert(ids(dir).sorted == (1 to 120).map(_.toLong),
      "the rows parked in .pre-compact must survive an append before the next compaction")
    assert(!new java.io.File(dir + ".pre-compact").exists)
    // crash after the publish: the retired copy still holds the same rows
    val pk = tmpDir("compactstale") + "/data"
    rows(1 to 100).repartition(4).write.parquet(pk)
    ShardedWriter.compactParquet(spark, pk, key, 50L)
    rows(1 to 100).write.parquet(pk + ".pre-compact")
    ShardedWriter.compactParquet(spark, pk, key, 50L)
    assert(ids(pk).sorted == (1 to 100).map(_.toLong),
      "a retired copy left after a completed publish must not be folded back in")
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
