package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

class EventStreamSpec extends SparkSpec {

  test("windowed counts equal the batch equivalent") {
    val streamed = EventStream.windowedCounts(spark, "/root/testdata/sf0.001")
    val batch = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("cnt"))
      .orderBy(col("wstart"), col("event_type"))
    assert(streamed.collect().toSeq == batch.collect().toSeq)
  }

  test("flatMapGroupsWithState sessionization matches batch sessions; non-final sessions all emitted") {
    val dir = "/root/testdata/sf0.001"
    val emitted = EventStream.sessionizeStream(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // Batch truth: fold each user's sorted event times on >30min gaps.
    val gap = 1800L * 1000000L
    val byUser = graft.core.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val expected = byUser.flatMap { case (u, ts) =>
      val sessions = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
      var start = ts.head; var end = ts.head; var n = 1L
      ts.tail.foreach { t =>
        if (t - end <= gap) { end = t; n += 1 }
        else { sessions += ((u, start, end, n)); start = t; end = t; n = 1L }
      }
      sessions += ((u, start, end, n))
      sessions
    }.toSet
    val lastPerUser = expected.groupBy(_._1).view.mapValues(_.maxBy(_._2)).values.toSet

    // Every emitted session is a real batch session…
    assert(emitted.subsetOf(expected),
      s"phantom sessions: ${emitted.diff(expected).take(3)}")
    // …and everything except possibly each user's final (still-open or
    // not-yet-timed-out) session was emitted.
    assert((expected -- lastPerUser).subsetOf(emitted),
      s"missing closed sessions: ${(expected -- lastPerUser -- emitted).take(3)}")
    assert(emitted.nonEmpty)
  }

  test("stateful plans are state-backend-agnostic: RocksDB provider yields identical results") {
    // The default HDFS-backed store keeps all state on the JVM heap — at
    // 100 TB keyspaces the store must spill; RocksDB is the production
    // backend for large state. Same plan, same results, config-only swap.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = "/root/testdata/sf0.001"
      val deduped = EventStream.dedupedEvents(spark, dir)
      val expected = graft.core.Tables.events(spark, dir)
        .select(col("event_id")).distinct().count()
      assert(deduped.count() == expected)
      assert(deduped.select("event_id").distinct().count() == expected)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("st3 defaults to RocksDB (unbounded-keyspace cutover) and matches batch truth") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val dir = "/root/testdata/sf0.001"
    // Capture state-operator custom metrics: only the RocksDB provider
    // emits rocksdb* keys, so their presence proves the election engaged
    // end-to-end (not just that a conf was set and restored).
    val metricKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(s => metricKeys.addAll(s.customMetrics.keySet()): Unit)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      assert(spark.conf.getOption(EventStream.UnboundedStateBackendConf).isEmpty)
      val got = EventStream.userRunningStats(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // Batch truth folds the same per-row arithmetic (math.round ties
      // away from the SQL round's behavior on negative halves — so fold,
      // don't re-derive in SQL).
      val expected = graft.core.Tables.events(spark, dir)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("m"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (u, rows) =>
          (u, rows.length.toLong,
            rows.map(r => math.round(r._2 * 100)).sum,
            rows.map(_._3).max)
        }
        .toSeq.sortBy(_._1)
      assert(got.toSeq == expected)
      // Listener delivery is async: wait for the progress events.
      ProgressWait(spark)(_.until(15)(metricKeys.asScala.exists(_.startsWith("rocksdb"))))
      assert(metricKeys.asScala.exists(_.startsWith("rocksdb")),
        s"no rocksdb state-store metrics observed; saw: ${metricKeys.asScala.take(10)}")
    } finally spark.streams.removeListener(listener)
  }

  test("unbounded-keyspace backend conf: heap opts out, junk value fails fast") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set(EventStream.UnboundedStateBackendConf, "heap")
    try {
      // Same results on the heap store (the small-keyspace opt-out path).
      assert(EventStream.userRunningStats(spark, dir).count() > 0)
      spark.conf.set(EventStream.UnboundedStateBackendConf, "junk")
      intercept[IllegalArgumentException] {
        EventStream.userRunningStats(spark, dir).count()
      }: Unit
    } finally spark.conf.unset(EventStream.UnboundedStateBackendConf)
  }

  test("st10 transformWithState matches st3's mapGroupsWithState results") {
    val dir = "/root/testdata/sf0.001"
    val viaTws = EventStream.userRunningStatsTtl(spark, dir).collect().toSeq
    val viaMgws = EventStream.userRunningStats(spark, dir).collect().toSeq
    assert(viaTws.nonEmpty)
    assert(viaTws == viaMgws)
  }

  test("transformWithState TTL: expired state restarts the fold (bounded-state contract)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val src = tmpDir("tws_src")
    val out = tmpDir("tws_out") + "/log"
    val ckpt = tmpDir("tws_ckpt")
    // Two files for the same user; maxFilesPerTrigger=1 makes them two
    // micro-batches, and the 400ms sleep after each batch's write puts
    // real wall-clock between their commits — far past the 100ms TTL,
    // so batch two must read ABSENT state and restart the fold.
    Seq((1L, 1.0, 1000L)).toDF("user_id", "value", "tsMicros")
      .coalesce(1).write.mode("append").parquet(src)
    Seq((1L, 2.0, 2000L), (1L, 3.0, 3000L)).toDF("user_id", "value", "tsMicros")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .as[EventStream.EventIn]
    val stats = in.groupByKey(_.user_id)
      .transformWithState(
        new EventStream.RunningStatsProcessor(Some(java.time.Duration.ofMillis(100))),
        TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF("user_id", "n_events", "value_cents", "last_ts_micros")
    val q = EventStream.withStateProvider(spark) {
      stats.writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
          Thread.sleep(400)
        }
        .option("checkpointLocation", ckpt)
        .start()
    }
    try {
      def dataBatches = q.recentProgress.count(_.numInputRows > 0)
      ProgressWait(spark)(_.until(60) { q.exception.foreach(throw _); dataBatches >= 2 })
      assert(dataBatches >= 2, "two data batches did not commit in time")
    } finally q.stop()
    // Snapshots: one per batch. With live state the second would read
    // (3, 600 cents); with the TTL honored it restarts at that batch's
    // rows only. Batch order is irrelevant — both splits are asserted.
    val snaps = spark.read.parquet(out)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(snaps == Set((1L, 100L), (2L, 500L)), s"state not expired: $snaps")
  }

  test("runDurable handles a zero-row result (metadata-only file sink)") {
    import spark.implicits._
    val src = tmpDir("empty_src")
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(src)
      .filter(col("id") < 0) // matches nothing
    val out = EventStream.runDurable(stream, "append")
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("foreachBatch ingestion into the idempotent sink is effectively-once") {
    import spark.implicits._
    val src = tmpDir("ing_src")
    val tgt = tmpDir("ing_tgt") + "/t"
    val ckpt = tmpDir("ing_ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pk", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))

    Seq((1L, "a"), (2L, "b")).toDF("pk", "v").write.mode("append").parquet(src)
    EventStream.ingestIncremental(spark, src, schema, tgt, Seq("pk"), ckpt)
    assert(spark.read.parquet(tgt).count() == 2)

    // New file with one overlapping key: only the fresh key lands.
    Seq((2L, "B2"), (3L, "c")).toDF("pk", "v").write.mode("append").parquet(src)
    EventStream.ingestIncremental(spark, src, schema, tgt, Seq("pk"), ckpt)
    val rows = spark.read.parquet(tgt).orderBy("pk").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).getString(1) == "b") // first write wins (conflict-skip)

    // Replay with a fresh checkpoint (simulated lost checkpoint): every
    // file re-feeds, but the PK merge keeps the table unchanged.
    EventStream.ingestIncremental(spark, src, schema, tgt, Seq("pk"), tmpDir("ing_ckpt2"))
    assert(spark.read.parquet(tgt).count() == 3)
  }

  test("st6 checkpointed ingest: re-running the same checkpoint adds zero rows") {
    // The restart-idempotency proof moved here from the st6 query body so
    // the benchmark times ONE ingest pass, not the re-proof.
    val (df, afterFirst, afterReplay) =
      EventStream.incrementalIngestWithReplay(spark, "/root/testdata/sf0.001")
    assert(afterFirst > 0)
    assert(afterReplay == afterFirst,
      s"replayed ingest changed the table: $afterFirst -> $afterReplay rows")
    assert(df.count() == afterFirst)
  }

  test("sessionizeStreamComplete yields an empty frame on an empty events table") {
    val dir = tmpDir("empty_events")
    // Write a zero-row events.parquet with the real nanos-long schema.
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("user_id") < 0)
      .write.parquet(s"$dir/events.parquet")
    val out = EventStream.sessionizeStreamComplete(spark, dir)
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq ==
      Seq("user_id", "start_micros", "end_micros", "n_events"))
    // the declarative twin shares the sentinel source and the guard
    val out9 = EventStream.sessionWindowAgg(spark, dir)
    assert(out9.count() == 0)
    assert(out9.schema.fieldNames.toSeq == out.schema.fieldNames.toSeq)
  }

  test("RocksDB changelog checkpoint: kill mid-stream, restart, state recovers exactly") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val src = tmpDir("rec_src")
    val out = tmpDir("rec_out") + "/log"
    val ckpt = tmpDir("rec_ckpt")
    // Four single-file micro-batches touching the same users: final truth
    // user 1 -> (n=3, cents 100+200+400=700, last=4000),
    // user 2 -> (n=2, cents 500-300=200,      last=3000).
    Seq(Seq((1L, 1.0, 1000L), (2L, 5.0, 1000L)), Seq((1L, 2.0, 2000L)),
        Seq((2L, -3.0, 3000L)), Seq((1L, 4.0, 4000L)))
      .foreach(_.toDF("user_id", "value", "tsMicros")
        .coalesce(1).write.mode("append").parquet(src))
    val schema = spark.read.parquet(src).schema
    def start() = EventStream.withStateProvider(spark) {
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        .as[EventStream.EventIn]
        .groupByKey(_.user_id)
        .transformWithState(
          new EventStream.RunningStatsProcessor(Some(java.time.Duration.ofHours(1))),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("user_id", "n_events", "value_cents", "last_ts_micros")
        .writeStream.outputMode("update")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
          Thread.sleep(300) // keep batches slow enough to kill between
        }
        .option("checkpointLocation", ckpt)
        .start()
    }
    def awaitDataBatches(q: org.apache.spark.sql.streaming.StreamingQuery, n: Int): Int = {
      def count = q.recentProgress.count(_.numInputRows > 0)
      ProgressWait(spark)(_.until(120) { q.exception.foreach(throw _); count >= n })
      count
    }
    // Run 1: KILL after the first data batch commits (mid-stream stop —
    // files remain unread). q.stop() after a commit models a crash at the
    // batch boundary; a crash inside a batch replays it, which the
    // append-snapshot compaction below absorbs (same CDC contract the
    // update-mode queries document).
    val q1 = start()
    try assert(awaitDataBatches(q1, 1) >= 1) finally q1.stop()
    // The kill must leave data unread, or this test proves nothing.
    val consumed = spark.read.parquet(out)
      .agg(max(col("n_events"))).head().getLong(0)
    assert(consumed < 3, s"run 1 consumed everything (n=$consumed) before the kill")
    // Changelog checkpointing really was on: RocksDB wrote per-batch
    // .changelog deltas (not just full .zip snapshots) under state/.
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    val changelogs = try walk.iterator().asScala.count(_.toString.endsWith(".changelog"))
      finally walk.close()
    assert(changelogs > 0, "no RocksDB changelog files under the checkpoint")
    // Run 2: restart from the SAME checkpoint; changelog replay over the
    // last snapshot must restore run 1's state so the folds CONTINUE
    // (n keeps counting from the recovered state, never restarts at 1).
    val q2 = start()
    try assert(awaitDataBatches(q2, 1) >= 1 &&
      ProgressWait(spark)(_.until(120) {
        q2.exception.foreach(throw _)
        spark.read.parquet(out)
          .filter(col("user_id") === 1L).agg(max(col("n_events"))).head().getLong(0) == 3L
      })) finally q2.stop()
    // Compact the snapshot log exactly like st3/st10 and compare to truth.
    val got = spark.read.parquet(out)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n"),
        max_by(col("value_cents"), col("n_events")).as("cents"),
        max_by(col("last_ts_micros"), col("n_events")).as("last"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 3L, 700L, 4000L), (2L, 2L, 200L, 3000L)), got.toString)
  }

  test("st13: streamed theta zone reproduces q48's exact retention (set-union idempotency)") {
    val dir = "/root/testdata/sf0.001"
    val direct = graft.queries.Relational.q48ThetaRetention(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val streamed = EventStream.streamSketchZone(spark, dir).collect()
    // the overlap source's second file replays EVERY row of the first —
    // if set union were not absorbing the duplicates (or the per-day
    // union across split batches were broken), these exact-mode counts
    // could not match the direct computation row for row
    assert(streamed.length == direct.size && streamed.nonEmpty)
    streamed.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == direct(r.getString(0)),
        s"day ${r.getString(0)}")
    }
  }

  test("staged sources restage when a source file is rewritten in place") {
    val dir = tmpDir("mut_src")
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.limit(200).coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp1")
    def install(from: String): Unit = {
      val part = new java.io.File(s"$dir/$from").listFiles()
        .find(f => f.isFile && f.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    install("tmp1")
    val first = EventStream.purchasesToFileSink(spark, dir).count()
    val stagedOld = EventStream.stagedDirsFor(s"single:$dir")
    assert(stagedOld.nonEmpty && stagedOld.forall(java.nio.file.Files.exists(_)))
    // Rewrite events.parquet IN PLACE (different rows, same path): the
    // staging cache key carries a size/mtime fingerprint, so the stream
    // must observe the fresh contents, not the stale staged copy.
    events.limit(600).coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp2")
    install("tmp2")
    val second = EventStream.purchasesToFileSink(spark, dir).count()
    val expected = Seq(200, 600).map(n =>
      events.limit(n).filter(col("event_type") === "purchase").count())
    assert(Seq(first, second) == expected,
      s"stale staged source served: got ${Seq(first, second)}, want $expected")
    // the superseded staged copy is evicted on replacement, not left to
    // accumulate until JVM exit — a rewriting session holds exactly one
    // staged copy per source
    val stagedNew = EventStream.stagedDirsFor(s"single:$dir")
    assert(stagedNew.nonEmpty && stagedNew.intersect(stagedOld).isEmpty)
    stagedOld.foreach(p => assert(!java.nio.file.Files.exists(p),
      s"superseded staged copy not reaped: $p"))
    assert(stagedNew.forall(java.nio.file.Files.exists(_)))
  }

  test("runDurableDrained drains an empty bounded source instead of spinning to the deadline") {
    val dir = tmpDir("empty_tws")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("user_id") < 0)
      .write.parquet(s"$dir/events.parquet")
    val t0 = System.nanoTime()
    val out = EventStream.userRunningStatsTtl(spark, dir)
    assert(out.count() == 0)
    assert((System.nanoTime() - t0) / 1e9 < 120,
      "empty bounded source should drain well before the 300s deadline")
  }

  test("streaming file source tracks processed files across restarts (S7 semantics)") {
    import spark.implicits._
    val src = tmpDir("stream_src")
    val ckpt = tmpDir("stream_ckpt")
    val out = tmpDir("stream_out")

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .parquet(src)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    spark.range(0, 10).toDF("id").write.parquet(s"$src/batch1")
    // File source needs a flat dir or glob; write files directly instead.
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(src))
    spark.range(0, 10).toDF("id").write.mode("append").parquet(src)
    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 10)

    // Re-run with no new data: checkpoint makes it a no-op (the
    // reference's watermark skip, with exactly-once file tracking).
    runOnce()
    assert(spark.read.parquet(out).count() == 10)

    // New file arrives: only the delta is processed.
    spark.range(100, 105).toDF("id").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(out).count() == 15)
  }

  /** The staged batch files of a source dir, in the order the file
    * source delivers them (modification time), after checking that the
    * mtimes are strictly ascending in that order.
    */
  private def deliveryOrder(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
      .sortBy(_._2)
    files.sliding(2).foreach {
      case Seq((a, ta), (b, tb)) => assert(ta < tb, s"$a and $b share mtime $ta")
      case _ => ()
    }
    files.map(_._1)
  }

  test("staged CDC sources deliver their batches in declared order (st23, st25)") {
    val dir = "/root/testdata/sf0.001"
    def batch(f: java.nio.file.Path) = spark.read.parquet(f.toString)
    def deletes(f: java.nio.file.Path) = batch(f).filter(col("op") === "D").count()
    // st23: the first half of history, then all of it plus the deletes
    val (src23, _, cut) = EventStream.stagedCdcHistorySource(spark, dir)
    val b23 = deliveryOrder(src23)
    assert(b23.size == 2)
    assert(deletes(b23(0)) == 0 && deletes(b23(1)) > 0)
    assert(batch(b23(0)).agg(max(col("doc_id"))).head().getLong(0) < cut / 2)
    // st25 (st29's copy): four ascending slices, deletes ride the third
    val (src25, _, _) = EventStream.stagedCdcLoopSource(spark, dir)
    val b25 = deliveryOrder(src25)
    assert(b25.size == 4)
    val dels = b25.map(deletes)
    assert(dels.indices.forall(i => (dels(i) > 0) == (i == 2)), s"deletes per batch: $dels")
    val firstIds = b25.map(f => batch(f).filter(col("op") === "I")
      .agg(min(col("doc_id"))).head().getLong(0))
    assert(firstIds == firstIds.sorted && firstIds.distinct.size == 4,
      s"slices out of order: $firstIds")
  }

  test("scoped reaps its root when the body throws") {
    var seen: java.nio.file.Path = null
    val e = intercept[IllegalStateException] {
      EventStream.scoped("scopedthrow") { root =>
        seen = root
        java.nio.file.Files.write(root.resolve("x"), Array[Byte](1))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(seen != null && !java.nio.file.Files.exists(seen), s"root not reaped: $seen")
  }

  test("a frame returned by scoped stays readable after its root is gone") {
    var seen: java.nio.file.Path = null
    val df = EventStream.scoped("scopedread") { root =>
      seen = root
      val out = root.resolve("data").toString
      spark.range(7).toDF("id").write.parquet(out)
      spark.read.parquet(out)
    }
    assert(!java.nio.file.Files.exists(seen), s"root not reaped: $seen")
    assert(df.orderBy(col("id")).collect().map(_.getLong(0)).toSeq == (0L until 7L))
  }
}
