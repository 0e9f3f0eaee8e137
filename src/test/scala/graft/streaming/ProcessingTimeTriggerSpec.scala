package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Substantiates the claim every streaming scaladoc makes: the same
  * windowed-aggregation plan the driver checks under AvailableNow runs
  * UNBOUNDED under a ProcessingTime trigger — new files arriving
  * mid-run feed new micro-batches, the watermark advances across real
  * (not replay) batches, and watermark-expired window state is evicted.
  */
class ProcessingTimeTriggerSpec extends SparkSpec {

  test("windowed agg under ProcessingTime: mid-run file arrival, watermark advance, state eviction") {
    import spark.implicits._
    val src = tmpDir("pt_src")
    val out = tmpDir("pt_out") + "/changelog"
    val ckpt = tmpDir("pt_ckpt")

    def eventsDf(rows: Seq[(String, String)]) =
      rows.toDF("ts_str", "event_type")
        .select(to_timestamp(col("ts_str")).as("ts"), col("event_type"))

    // File A: one 6h window on 2024-01-01 with 3 events.
    eventsDf(Seq(
      ("2024-01-01 00:10:00", "click"),
      ("2024-01-01 01:00:00", "click"),
      ("2024-01-01 04:00:00", "purchase")))
      .coalesce(1).write.mode("append").parquet(src)

    val schema = spark.read.parquet(src).schema
    val agg = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("cnt"))

    val q = agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      q.processAllAvailable()

      // Mid-run arrival: a second file two days later. Its events push
      // the watermark past file A's window end.
      eventsDf(Seq(
        ("2024-01-03 00:30:00", "click"),
        ("2024-01-03 00:45:00", "click")))
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()

      // Watermark advance + eviction happen in the FOLLOWING (possibly
      // no-data) micro-batch — wait for its progress event instead of
      // assuming timing. A loaded host can delay the no-data batch well
      // past the trigger cadence, so the deadline is generous.
      def stateRows: Option[Long] =
        Option(q.lastProgress).flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
      ProgressWait(spark)(_.until(90)(stateRows.exists(_ <= 1)))

      // Watermark advanced across real micro-batches: past file A's
      // window end (2024-01-01 06:00), to file B's max event time - 1h.
      val wm = java.time.Instant.parse(q.lastProgress.eventTime.get("watermark"))
      assert(wm.isAfter(java.time.Instant.parse("2024-01-01T06:00:00Z")), wm)
      // …and the expired 2024-01-01 window was EVICTED from the store:
      // only file B's live window remains in state.
      assert(stateRows.contains(1L), s"state rows: $stateRows")
    } finally q.stop()

    // The changelog compacts to the batch answer over BOTH files — the
    // mid-run file really flowed through the running query.
    assert(Files.exists(Paths.get(out)))
    val counts = spark.read.parquet(out)
      .groupBy(col("window")).agg(max(col("cnt")).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w"), col("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("2024-01-01 00:00" -> 3L, "2024-01-03 00:00" -> 2L), counts)
  }
}
