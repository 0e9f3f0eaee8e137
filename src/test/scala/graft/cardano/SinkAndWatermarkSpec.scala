package graft.cardano

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** K3/Q5 idempotent merge + S9/K4 watermark semantics. */
class SinkAndWatermarkSpec extends SparkSpec {

  test("upsertParquet: double load inserts zero new rows (idempotency)") {
    import spark.implicits._
    val path = tmpDir("sink") + "/t"
    val batch = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("pk", "v")
    val first = IdempotentSink.upsertParquet(spark, batch, path, Seq("pk"))
    assert(first.inserted == 3)
    val second = IdempotentSink.upsertParquet(spark, batch, path, Seq("pk"))
    assert(second.inserted == 0 && second.conflictSkipped == 3)
    assert(spark.read.parquet(path).count() == 3)
  }

  test("upsertParquet: overlapping batch inserts only fresh keys") {
    import spark.implicits._
    val path = tmpDir("sink") + "/t"
    IdempotentSink.upsertParquet(spark,
      Seq((1L, "a"), (2L, "b")).toDF("pk", "v"), path, Seq("pk"))
    val stats = IdempotentSink.upsertParquet(spark,
      Seq((2L, "B"), (3L, "c"), (3L, "c-dup")).toDF("pk", "v"), path, Seq("pk"))
    assert(stats.inserted == 1) // only pk=3, deduped within batch, 2 skipped
    val rows = spark.read.parquet(path).orderBy("pk").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).getString(1) == "b") // conflict-skip keeps the original
  }

  test("upsertParquet: deltas publish flat into the table dir; a no-op reload adds no file") {
    import spark.implicits._
    val root = tmpDir("sink")
    val path = root + "/t"
    IdempotentSink.upsertParquet(spark,
      Seq((1L, "a"), (2L, "b")).toDF("pk", "v"), path, Seq("pk"))
    val more = Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("pk", "v")
    assert(IdempotentSink.upsertParquet(spark, more, path, Seq("pk")).inserted == 2)
    val published = graft.core.Fs.fingerprint(spark, path)
    assert(IdempotentSink.upsertParquet(spark, more, path, Seq("pk")).inserted == 0)
    assert(graft.core.Fs.fingerprint(spark, path) == published)
    // no delta dir left beside the table
    assert(new java.io.File(root).list().toSeq == Seq("t"))
    // every part file at the table's top level: the '<t>/*.parquet'
    // layout readers rely on
    val parts = graft.core.Fs.listFilePaths(spark, path).filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty)
    assert(parts.forall(f => new org.apache.hadoop.fs.Path(f).getParent.getName == "t"), parts)
    assert(spark.read.parquet(s"$path/*.parquet").orderBy("pk").as[(Long, String)].collect()
      .toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("pgMergeStatements emits staging DDL + conflict-skip merge + drop") {
    val (staging, stmts) = IdempotentSink.pgMergeStatements(
      "cardano_blocks", Seq("height", "hash"), Seq("height"), "abc")
    assert(staging == "stg_cardano_blocks_abc")
    assert(stmts.head.contains("LIKE cardano_blocks"))
    // Regular (unlogged) staging table, never a session-local TEMPORARY —
    // executors load staging over their own connections.
    assert(!stmts.head.toUpperCase.contains("TEMPORARY"))
    assert(stmts(1).contains("""ON CONFLICT ("height") DO NOTHING"""))
    assert(stmts(1).contains("""DISTINCT ON ("height")"""))
    assert(stmts(2).startsWith("DROP TABLE"))
  }

  test("watermarks: empty store defaults, then tracks maxima") {
    val wm = new Watermarks(spark, tmpDir("wm"))
    assert(wm.highestExportedBlock("cardano_blocks") == 0L)
    assert(wm.latestLoadedFileDate("cardano_blocks").isEmpty)
    wm.recordBlockExport("cardano_blocks", 2000L)
    wm.recordBlockExport("cardano_blocks", 4000L)
    wm.recordBlockExport("other_table", 9999L)
    assert(wm.highestExportedBlock("cardano_blocks") == 4000L)
    wm.recordFileLoad("cardano_blocks", Timestamp.valueOf("2026-01-02 03:04:05"))
    wm.recordFileLoad("cardano_blocks", Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(wm.latestLoadedFileDate("cardano_blocks")
      .contains(Timestamp.valueOf("2026-01-02 03:04:05")))
  }

  test("lake: incremental read skips files at or before the watermark") {
    import spark.implicits._
    val lake = new Lake(spark, tmpDir("lake"))
    lake.writeRawJson(Seq((1L, "x")).toDF("height", "v"), "blocks", 100L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("height",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val all = lake.readRawJson("blocks", schema)
    assert(all.count() == 1)
    val wmark = lake.maxFileModification(all)
    assert(wmark.isDefined)
    // Nothing newer than the watermark itself:
    assert(lake.readRawJsonSince("blocks", schema, wmark).count() == 0)
    // Everything newer than (watermark - 1h):
    val earlier = new Timestamp(wmark.get.getTime - 3600 * 1000)
    assert(lake.readRawJsonSince("blocks", schema, Some(earlier)).count() == 1)
  }
}
