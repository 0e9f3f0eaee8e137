package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.core.{Par, Scratch}
import graft.queries.{AdmissionZones, TrainingData}

/** Structured Streaming surface (SURVEY §2.5): the reference's
  * watermark-based incremental file pattern (S7+Q2) re-expressed as the
  * streaming file source — exactly-once file tracking via checkpoint
  * instead of a hand-rolled status table — plus event-time windowed
  * aggregation and stateful dedup.
  *
  * Batch-driven here via `Trigger.AvailableNow` into DURABLE parquet
  * sinks — append-mode queries use the transactional file sink
  * (exactly-once via its commit log), update-mode stateful queries land
  * each micro-batch's changed rows in an append-only parquet changelog
  * (the lakehouse CDC shape) that the reader compacts to final values.
  * Nothing depends on the driver-memory sink; the same plans run
  * unbounded against a live directory by swapping the trigger. At scale
  * the windowed agg shuffles on (window, key) with watermark-bounded
  * state; dedup state is bounded by the watermark too.
  */
object EventStream {

  /** Input/state rows for [[userRunningStats]] (top-level so Encoders
    * derive cleanly).
    */
  case class EventIn(user_id: Long, value: Double, tsMicros: Long)
  case class UserState(n: Long, cents: Long, lastTs: Long) {
    /** The running-stats fold st3 and st10 share (one oracle). */
    def fold(rows: Iterator[EventIn]): UserState = rows.foldLeft(this) { (s, r) =>
      UserState(s.n + 1, s.cents + math.round(r.value * 100), math.max(s.lastTs, r.tsMicros))
    }
  }
  // carries the watermarked `ts` column itself: event-time timeout
  // requires the watermark attribute to survive into the stateful
  // operator's child output (projecting it away fails analysis)
  case class SessIn(user_id: Long, ts: java.sql.Timestamp, tsMicros: Long)
  case class SessionState(start: Long, end: Long, n: Long)

  /** A [[graft.core.Scratch]] dir for checkpoints, sinks and staged
    * sources, also recorded in the running staged-source build (if any)
    * so the entry can reap it when superseded ([[stageSourceOnce]]).
    */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val dir = Paths.get(Scratch.dir(prefix))
    Option(buildingDirs.get()).foreach(_ += dir)
    dir
  }

  private def reap(p: java.nio.file.Path): Unit = Scratch.reap(p.toString)

  /** The scratch scope of one query: run `body` against a fresh scratch
    * root, materialize the frame it returns ONCE (eager
    * `localCheckpoint`) and reap the root, also when the body throws.
    * Materializing first is the condition every entry depends on: a
    * lazy frame over the root's zones, sinks or fates would read a
    * reaped directory.
    */
  private[streaming] def scoped(prefix: String)(
      body: java.nio.file.Path => DataFrame): DataFrame = {
    val root = scratchDir(prefix)
    try body(root).localCheckpoint() finally reap(root)
  }

  /** ONE 1-row aggregation over a CDC micro-batch yielding both batch
    * scalars every loop needs: the crash-replay self-exclusion cut (min
    * insert doc_id; Long.MaxValue when the batch has no inserts) and
    * whether the batch carries any delete rows. Folding the two into a
    * single pass lets the loops SKIP the per-zone tombstone writes on
    * delete-free batches (3-4 zone-dir writes of zero rows per batch —
    * pure fixed cost; appending nothing is a no-op by the zones'
    * append-only read semantics) without paying a separate existence
    * probe: the min-insert agg already ran per batch.
    */
  private def batchCutAndDeletes(batch: DataFrame): (Long, Boolean) = {
    val (cut, r) = TrainingData.selfExclusionCut(batch,
      when(col("op") === "I", col("doc_id")),
      Seq(count(when(col("op") === "D", lit(1)))))
    (cut, r.getLong(1) > 0L)
  }

  /** A CDC micro-batch split on `op`: its inserts projected to `cols`,
    * and its delete ids (`doc_id`).
    */
  private def insertsAndDeletes(batch: DataFrame, cols: String*): (DataFrame, DataFrame) =
    (batch.filter(col("op") === "I").select(cols.map(col): _*),
      batch.filter(col("op") === "D").select(col("doc_id")))

  /** Session-lifetime staged SOURCE directories keyed by (kind, source
    * dir): staging the fixture files a stream reads is SETUP — the
    * production analogue is a lake directory that already exists — so it
    * happens once per JVM, not inside every (timed) query run (the same
    * rule SourcesAndStreams applies to partitioned/bucketed layouts).
    * Checkpoints, state and sinks stay strictly per-run. Staged dirs are
    * reaped at JVM exit ([[graft.core.Scratch]]).
    *
    * Entries are keyed by base (kind + source path) and carry the
    * CONTENT FINGERPRINT ([[sourceFingerprint]]) of the files staged,
    * so a caller that rewrites a source file in place mid-session
    * misses the cache and gets a fresh staged copy and schema — no
    * source-dir-immutable-per-JVM assumption required. The superseded
    * fingerprint's staged copy is unreachable from that moment, so it
    * is reaped ON REPLACEMENT (not left for JVM exit): a long-lived
    * session that keeps rewriting sources holds exactly one staged
    * copy per (kind, path), never an unbounded backlog of orphans.
    * Both behaviors are spec-pinned by the in-place-rewrite test.
    * Eviction assumes the session's queries run sequentially (true for
    * Bench/Verify/specs): a stream still READING the superseded copy
    * when a concurrent caller re-stages the same base would lose its
    * files mid-batch — concurrent drivers over mutating sources need
    * refcounting here, not just fingerprint keys.
    */
  private val stagedSources =
    new java.util.concurrent.ConcurrentHashMap[String, StagedEntry]()

  private case class StagedEntry(fingerprint: String, value: AnyRef,
      dirs: Seq[java.nio.file.Path])

  /** Scratch dirs created while a staged-source build runs — captured
    * per thread so the entry knows what to reap when superseded.
    */
  private val buildingDirs =
    new ThreadLocal[scala.collection.mutable.ListBuffer[java.nio.file.Path]]

  private def stageSourceOnce[A <: AnyRef](base: String, fingerprint: String)(
      build: => A): A =
    stagedSources.compute(base, (_, old) => {
      if (old != null && old.fingerprint == fingerprint) old
      else {
        val buf = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]
        buildingDirs.set(buf)
        val v = try build finally buildingDirs.remove()
        // evict the previous fingerprint's staged copy — unreachable now
        if (old != null) old.dirs.foreach(reap)
        StagedEntry(fingerprint, v, buf.toList)
      }
    }).value.asInstanceOf[A]

  /** Spec seam: the scratch dirs currently staged under a cache base. */
  private[streaming] def stagedDirsFor(base: String): Seq[java.nio.file.Path] =
    Option(stagedSources.get(base)).map(_.dirs).getOrElse(Nil)

  /** Content fingerprint of the files behind a staged source: each
    * (path, size, mtime) under `paths` (flat listing — sources staged
    * here are single parquet files or flat dirs), md5-folded to a short
    * hex key component. Size+mtime is the same change signal the Spark
    * file source and Hadoop input formats key on; a byte-content hash
    * would re-read the source on every cache probe. Shared caveat with
    * those systems: a same-length in-place rewrite landing within the
    * filesystem's mtime granularity is invisible (the spec-pinned
    * rewrite test stamps a distinct mtime for exactly this reason).
    */
  private def sourceFingerprint(paths: String*): String = {
    val parts = paths.flatMap { p =>
      val f = new java.io.File(p)
      val files =
        if (f.isDirectory) {
          val listed = f.listFiles()
          // listFiles is null (not empty) for an unreadable or absent
          // dir — fail with the path, not an anonymous NPE
          require(listed != null, s"sourceFingerprint: cannot list $p")
          listed.filter(_.isFile).sortBy(_.getName).toSeq
        } else Seq(f)
      files.map(g => s"${g.getAbsolutePath}:${g.length}:${g.lastModified}")
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(parts.mkString("|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The staged source of a checkpointed maintainer: `build` yields the
    * ordered batch frames plus a scalar the caller needs (a cut, a
    * corpus size) and runs only on a cache miss. Each batch is staged as
    * one parquet file under one scratch dir, and the files get strictly
    * ascending mtimes in declared order: the file source orders
    * micro-batches by modification time, and fast sequential copies can
    * tie. Cached per JVM under `kind:dir` and the content fingerprint of
    * the `tables` (`<dir>/<table>.parquet`) the frames read
    * ([[stageSourceOnce]]). Returns the dir, the first batch's schema
    * and the scalar.
    */
  private def stageBatches[A](kind: String, dir: String, tables: String*)(
      build: => (Seq[DataFrame], A)): (String, StructType, A) =
    stageSourceOnce(s"$kind:$dir",
        sourceFingerprint(tables.map(t => s"$dir/$t.parquet"): _*)) {
      val (batches, scalar) = build
      val d = scratchDir(kind)
      batches.zipWithIndex.foreach { case (df, i) =>
        stageSingleFile(df, d, s"$i.parquet")
        Files.setLastModifiedTime(d.resolve(s"$i.parquet"),
          FileTime.fromMillis(1700000000000L + i * 1000L)): Unit
      }
      (d.toString, batches.head.schema, scalar)
    }

  /** The events table as a stream: nanos-as-long ts converted to a real
    * event-time timestamp column (same convention as
    * [[graft.core.Tables.events]]).
    */
  private def readEventsStaged(spark: SparkSession, dir: String): DataFrame = {
    // File-source needs a directory; stage the single parquet file.
    val (staged, schema) = stageSourceOnce(
        s"single:$dir", sourceFingerprint(s"$dir/events.parquet")) {
      val d = scratchDir("events_stream")
      Files.copy(
        Paths.get(s"$dir/events.parquet"),
        d.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      (d.toString, spark.read.parquet(s"$dir/events.parquet").schema)
    }
    val raw = spark.readStream.schema(schema).parquet(staged)
    tsAsTimestamp(raw, schema)
  }

  /** Land `ts` as session-zone TimestampType whatever the staged
    * encoding (nanos-long under the legacy conf, TIMESTAMP_NTZ from a
    * micros writer, native TIMESTAMP) — watermarks and `unix_micros`
    * hard-require TimestampType. Same dispatch as
    * [[graft.core.Tables.normalizeTs]] but schema-driven: a streaming
    * frame's own schema is authoritative for the staged files.
    */
  private def tsAsTimestamp(raw: DataFrame, schema: StructType): DataFrame =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }

  /** Stateful stages pay a fixed state-store commit cost PER shuffle
    * partition PER micro-batch (HDFS-backed store: delta file + fsync
    * each). With small per-key state the commit overhead dominates, so
    * pin the stateful stage to few partitions — the state partitioning is
    * fixed at the query's FIRST run by this conf and is independent of
    * the surrounding batch session's shuffle size. A real deployment with
    * large keyspaces raises it; these are the local defaults.
    *
    * Not thread-safe: the conf is session-scoped, so a query PLANNED
    * concurrently on the same SparkSession during the body would capture
    * the temporary value. All drivers here (Verify/Bench/specs) plan
    * sequentially; a concurrent caller should instead build its stream on
    * `spark.newSession()` with the conf set there.
    */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Run a streaming DataFrame to completion (AvailableNow) into a
    * DURABLE parquet sink and hand back the materialized result.
    *
    * `append` rides the transactional file sink (`_spark_metadata`
    * commit log → replayed batches are invisible to readers): the output
    * IS the result. `update` rides `foreachBatch` appending each
    * micro-batch's changed rows to a parquet changelog — the production
    * shape for stateful streams feeding a lake table (CDC log +
    * compaction view); the CALLER resolves snapshots to final values
    * (e.g. max of a monotone counter per key). No query here touches the
    * driver-memory sink, so results never pin driver heap and the same
    * wiring runs unbounded by swapping the trigger.
    */
  def runDurable(df: DataFrame, outputMode: String): DataFrame =
    runDurableWith(df, outputMode, drainAndStop = false)

  /** [[runDurable]] for queries whose stateful operator keeps scheduling
    * no-data micro-batches forever — observed live with
    * `transformWithState` in processing-time mode, where the engine
    * fires TTL-service batches indefinitely (~4/s on this host), so
    * `awaitTermination` under AvailableNow NEVER returns, and
    * `processAllAvailable` doesn't either (every service batch resets
    * its no-new-data latch). Termination is made explicit from query
    * PROGRESS instead: the bounded source delivers its data in ordinary
    * micro-batches, and once a batch that read rows has COMMITTED and a
    * later zero-input service batch proves nothing is pending, the query
    * is stopped. Identical data processed; service batches append zero
    * rows, which the snapshot compaction ignores anyway.
    */
  private[streaming] def runDurableDrained(df: DataFrame, outputMode: String): DataFrame =
    runDurableWith(df, outputMode, drainAndStop = true)

  private def runDurableWith(df: DataFrame, outputMode: String,
      drainAndStop: Boolean): DataFrame = scoped("sink") { root =>
    val out = root.resolve("data").toString
    val ckpt = root.resolve("ckpt").toString
    val writer = outputMode match {
      case "append" =>
        df.writeStream.format("parquet").option("path", out).outputMode("append")
      case mode =>
        df.writeStream.outputMode(mode).foreachBatch {
          (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(out)
        }
    }
    // The RAM-backed sink+checkpoint must not outlive the run, success
    // or failure ([[scoped]]). Read back with the stream's own schema: a
    // query whose batches produced ZERO rows leaves a sink with only the
    // `_spark_metadata` log (or, for foreachBatch with zero batches, no
    // directory at all), and schema inference over zero files fails.
    if (drainAndStop) {
      val q = writer.option("checkpointLocation", ckpt).start()
      try {
        // A progress is SETTLED when its batch read zero rows AND every
        // source reports nothing pending (endOffset caught up to
        // latestOffset). Basing the predicate on SOURCE OFFSETS — not
        // input rows alone — keeps it sound for rationed sources
        // (maxFilesPerTrigger): a TTL-service batch interleaved between
        // file batches reads zero rows, but its source still advertises
        // pending files (latestOffset ahead of endOffset), so it cannot
        // satisfy the predicate with data unread.
        def settled(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Boolean =
          p.numInputRows == 0 && p.sources.forall(s =>
            s.latestOffset == null || s.latestOffset == s.endOffset)
        // Drained = the LATEST progress is settled. For the BOUNDED
        // sources this runner contracts for (a staged fixture dir —
        // nothing arrives after start), one settled batch is a proof:
        // its planning-time listing saw every file the dir will ever
        // hold and its offsets are caught up. An unbounded deployment
        // would need consecutive settled batches to rule out arrivals
        // between planning and observation — measured here at ~+0.5 s
        // per run (one extra service-batch wait), which a bounded
        // replay should not pay. Also drains a source empty from the
        // start — no input-rows>0 precondition — provided batches fire
        // at all; a zero-state query over an empty dir may schedule NO
        // batches, which the no-progress fallback below covers from
        // query STATUS.
        def drained: Boolean =
          q.recentProgress.lastOption.exists(settled)
        // Fallback for the batchless-empty case: no micro-batch has
        // EVER run, the engine is demonstrably past initialization and
        // parked waiting for data (trigger inactive + a waiting status
        // message — the poll evidence; during first-batch planning or
        // listing the trigger is active / the message says
        // initializing, so a slow start cannot satisfy this), and 30s
        // of that state — well above this host's observed 8-12s
        // first-batch stalls — without data appearing.
        def emptyIdle(sinceStart: Long): Boolean =
          q.recentProgress.isEmpty && sinceStart > 30L * 1000000000L &&
            !q.status.isDataAvailable && !q.status.isTriggerActive &&
            q.status.message.toLowerCase(java.util.Locale.ROOT).contains("waiting")
        val t0 = System.nanoTime()
        val deadline = t0 + 300L * 1000000000L
        while (!drained && !emptyIdle(System.nanoTime() - t0) &&
            System.nanoTime() < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(50)
        }
        if (!drained && !emptyIdle(System.nanoTime() - t0))
          throw new IllegalStateException(
            "bounded source did not drain within deadline")
      } finally q.stop()
    } else {
      val q = writer
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    if (Files.exists(Paths.get(out)))
      df.sparkSession.read.schema(df.schema).parquet(out)
    else
      df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
  }

  /** Event-time windowed counts with a watermark (6h tumbling windows,
    * epoch-aligned so any engine reproduces the boundaries). Update-mode
    * changelog into parquet; a window's count is monotone across its
    * snapshots, so compaction is max(cnt) per (window, type).
    */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val events = readEventsStaged(spark, dir)
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val log = withStatePartitions(spark, 4)(runDurable(agg, "update"))
    log
      .groupBy(col("window"), col("event_type"))
      .agg(max(col("cnt")).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("cnt"))
      .orderBy(col("wstart"), col("event_type"))
  }

  /** Continuous lake→warehouse ingestion: streaming file source over a
    * raw directory, each micro-batch merged through the idempotent sink
    * (`foreachBatch` + PK anti-join merge). End-to-end effectively-once:
    * the checkpoint guarantees each file feeds exactly one batch, and the
    * PK merge makes a replayed batch (failure between sink write and
    * checkpoint commit) a no-op — the streaming upgrade of the
    * reference's watermark-table pattern (SURVEY §2.5).
    */
  def ingestIncremental(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      targetPath: String,
      keys: Seq[String],
      checkpoint: String,
      filesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream.schema(schema)
    filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString): Unit)
    val q = reader.parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.cardano.IdempotentSink.upsertParquet(
          batch.sparkSession, batch, targetPath, keys): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Conf key electing the state backend for UNBOUNDED-KEYSPACE stateful
    * queries (see [[withUnboundedKeyspaceState]]). Values: `rocksdb`
    * (default — scale-safe) or `heap` (explicit opt-out for
    * small-keyspace deployments where the heap store's zero-copy commit
    * wins; measured equal-or-faster at sf0.1 toy state).
    */
  val UnboundedStateBackendConf = "spark.graft.streaming.unboundedStateBackend"
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State-backend CUTOVER RULE, wired (not just documented): a stateful
    * query whose state NEVER EXPIRES — st3's running per-user stats,
    * O(distinct keys) forever, no timeout — must not default to the
    * HDFS-backed heap store, because that store keeps every key's state
    * in executor memory and a 100 TB keyspace (hundreds of millions of
    * users × ~32 state bytes) OOMs the executor long before the data is
    * exhausted. Such queries run on RocksDB (off-heap, spills to local
    * disk, state size bounded by disk not heap) UNLESS the caller sets
    * [[UnboundedStateBackendConf]] to `heap` — the right choice only
    * when the keyspace provably fits (benchmarks, bounded dimension
    * keys). WATERMARK-BOUNDED state (windowed aggs, dedup-within-
    * watermark, interval joins, session windows with timeouts) keeps the
    * session default: its size is set by the watermark horizon, not the
    * keyspace, so the heap store is safe at any corpus size.
    *
    * The election is scoped to the query body exactly like
    * [[withStatePartitions]] (same thread-safety caveat); the provider
    * is captured at the query's first start from the session conf.
    */
  private def withUnboundedKeyspaceState[A](spark: SparkSession)(body: => A): A =
    spark.conf.getOption(UnboundedStateBackendConf).getOrElse("rocksdb") match {
      case "heap" => body
      case "rocksdb" => withStateProvider(spark, RocksDbProvider)(body)
      case other => throw new IllegalArgumentException(
        s"$UnboundedStateBackendConf must be rocksdb|heap, got '$other'")
    }

  /** Arbitrary stateful processing via `mapGroupsWithState`: running
    * per-user aggregates (event count, value sum in exact cents, last
    * event time) maintained in typed state across micro-batches. The
    * custom-state API surface (GroupState, timeouts) the built-in
    * aggregations can't express.
    *
    * Running-stats-forever is the declared semantic (a TTL would change
    * it), so state is O(distinct users) with no expiry — this query is
    * the reason [[withUnboundedKeyspaceState]] exists, and it runs on
    * RocksDB by default (cutover rule documented there; spec runs it
    * end-to-end on RocksDB and pins parity with the batch truth).
    */
  def userRunningStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val out = runningStatsInput(spark, dir).groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[EventIn], state: GroupState[UserState]) =>
          val next = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue)).fold(rows)
          state.update(next)
          (user, next.n, next.cents, next.lastTs)
      }
    runningStatsFinal(withStatePartitions(spark, 4)(withUnboundedKeyspaceState(spark)(
      runDurable(out.toDF("user_id", "n_events", "value_cents", "last_ts_micros"), "update"))))
  }

  /** st3/st10's input: the staged events as typed [[EventIn]] rows. */
  private def runningStatsInput(spark: SparkSession, dir: String) = {
    import spark.implicits._
    readEventsStaged(spark, dir)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("tsMicros"))
      .as[EventIn]
  }

  /** st3/st10's answer from their changelog, which holds one state
    * snapshot per (user, micro-batch). n_events is strictly increasing
    * across a user's snapshots, so the row with max n_events IS the
    * final state — pick every column from that row with max_by.
    * (Independent max() per column would be wrong: value_cents is a
    * running sum, not monotone when values go negative, and per-column
    * maxes could mix snapshots.)
    */
  private def runningStatsFinal(snapshots: DataFrame): DataFrame =
    snapshots
      .groupBy(col("user_id"))
      .agg(
        max(col("n_events")).as("n_events"),
        max_by(col("value_cents"), col("n_events")).as("value_cents"),
        max_by(col("last_ts_micros"), col("n_events")).as("last_ts_micros"))
      .orderBy(col("user_id"))

  /** [[userRunningStats]] through the MODERN arbitrary-state API
    * (Spark 4 `transformWithState`): a [[RunningStatsProcessor]] with
    * ONE typed `ValueState` carrying a NATIVE per-state TTL — the
    * TTL-BOUNDED point on the state-bound spectrum this file covers
    * (watermark-bounded: st1/st2/st4/st9; TTL-bounded: here;
    * unbounded-forever: st3, which therefore defaults to RocksDB).
    * TTL eviction is the engine's, not hand-rolled timer code: expired
    * state reads as absent on the next access and its storage is
    * reclaimed by the store, so state size is bounded by keys ACTIVE
    * within the TTL window no matter how large the total key universe
    * grows — the semantics a production running-stats pipeline usually
    * actually wants (st3's run-forever contract is the special case
    * TTL=∞). `transformWithState` requires the RocksDB provider by
    * engine contract, which is set for the query's duration.
    *
    * With a TTL far longer than the bounded replay nothing expires, so
    * the default result equals st3's — st10 shares st3's oracle — and
    * the spec pins REAL expiry with a short TTL and forced wall-clock
    * between micro-batches.
    */
  def userRunningStatsTtl(spark: SparkSession, dir: String,
      ttl: Option[java.time.Duration] = Some(java.time.Duration.ofHours(1))): DataFrame = {
    import spark.implicits._
    val out = runningStatsInput(spark, dir).groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
    runningStatsFinal(withStatePartitions(spark, 4)(withStateProvider(spark)(
      runDurableDrained(out.toDF("user_id", "n_events", "value_cents", "last_ts_micros"), "update"))))
  }

  /** The `StatefulProcessor` behind [[userRunningStatsTtl]] — same fold
    * as st3's mapGroupsWithState body (identical per-row arithmetic, so
    * the two formulations share one oracle), with state declared
    * through the handle API and the TTL attached AT THE STATE VARIABLE,
    * not in user code (`None` → `TTLConfig.NONE`, the run-forever
    * st3 contract through the modern API — also the A/B lever that
    * priced TTL bookkeeping for SCALE.md). `exists()` doubles as the
    * expiry check: state past its TTL reads as absent and the fold
    * restarts from zero — exactly the bounded-state semantics
    * (spec-pinned with a short TTL). private[streaming] so the spec can
    * drive it through its own two-batch source with forced wall-clock
    * between batches.
    */
  private[streaming] class RunningStatsProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventIn, (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("userStats",
        org.apache.spark.sql.Encoders.product[UserState],
        ttl.fold(TTLConfig.NONE)(TTLConfig(_)))
    override def handleInputRows(user: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val next = (if (state.exists()) state.get()
        else UserState(0L, 0L, Long.MinValue)).fold(rows)
      state.update(next)
      Iterator.single((user, next.n, next.cents, next.lastTs))
    }
  }

  /** Pin the state-store provider for the query built in `body` —
    * `transformWithState` requires RocksDB by engine contract (state
    * TTL lives in the store's value layout). Same session-conf scoping
    * rules as [[withStatePartitions]].
    *
    * RocksDB queries also get CHANGELOG CHECKPOINTING: without it every
    * micro-batch uploads a full RocksDB snapshot to the checkpoint
    * location — O(total state) per batch, the known RocksDB commit
    * bottleneck once state is large (exactly the regime that chose
    * RocksDB in the first place); with it each batch persists only that
    * batch's changelog — O(batch delta) — and snapshots upload in the
    * background. Recovery replays changelogs over the last snapshot.
    * This is the production posture for large-state streaming; parity
    * is covered by the same specs that pin the provider swap.
    */
  private[streaming] def withStateProvider[A](spark: SparkSession,
      provider: String = RocksDbProvider)(body: => A): A = {
    val keys = Seq(
      "spark.sql.streaming.stateStore.providerClass" -> provider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        (provider == RocksDbProvider).toString)
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Event-time-ordered multi-file staged copy: range-partitioned on the
    * event time so the file source delivers micro-batches in time order
    * and the watermark actually advances BETWEEN batches. For
    * stream-stream joins this is load-bearing, not cosmetic: join state
    * is probed row-at-a-time (no codegen), so one giant batch compares
    * every left row against every buffered right row per key — O(|L|·|R|)
    * per key — while time-ordered batches keep only the interval window
    * of state alive (the steady-state shape of a real deployment).
    */
  private def stageSortedByTime(spark: SparkSession, dir: String, nFiles: Int): (String, StructType) =
    stageSourceOnce(
        s"sorted:$dir:$nFiles", sourceFingerprint(s"$dir/events.parquet")) {
      stageSortedFrames(spark.read.parquet(s"$dir/events.parquet"), nFiles)
    }

  private def stageSortedFrames(raw: DataFrame, nFiles: Int): (String, StructType) = {
    // Normalize ts BEFORE staging: the staged files then carry
    // TimestampType and every reader's watermark works unconditionally.
    val src = graft.core.Tables.normalizeTs(raw)
    val staged = scratchDir("events_sorted")
    val schema = src.schema
    src.repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(staged.toString)
    // The file source orders micro-batches by file MODIFICATION TIME, and
    // a parallel write stamps every part with the same mtime — which
    // would make batch order arbitrary and feed late rows into stateful
    // operators. part-NNNNN names follow the range order, so stamp
    // strictly increasing mtimes along them.
    val parts = new java.io.File(staged.toString).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 60000L): Unit
    }
    (staged.toString, schema)
  }

  private def readEventsSorted(spark: SparkSession, stagedDir: String, schema: StructType,
      filesPerTrigger: Int): DataFrame = {
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(stagedDir)
    tsAsTimestamp(raw, schema)
  }

  /** Stream-stream interval join: every purchase matched to the same
    * user's clicks within the preceding hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark expires join state (clicks older than watermark − 1h) as the
    * time-ordered micro-batches advance the watermark. Inner-join
    * matches emit immediately and input arrives in event-time order
    * (nothing is late), so the result equals the batch join — which is
    * what the oracle checks.
    */
  def purchaseClickJoin(spark: SparkSession, dir: String): DataFrame = {
    // ONE staged copy serves both sides: each readStream gets its own
    // source instance with independent file tracking over the same dir.
    val (staged, schema) = stageSortedByTime(spark, dir, 8)
    // Join state lives in 4 stores (left/right × key maps) per partition
    // per micro-batch commit — see [[withStatePartitions]].
    withStatePartitions(spark, 4) {
      val purchases = readEventsSorted(spark, staged, schema, filesPerTrigger = 4)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val clicks = readEventsSorted(spark, staged, schema, filesPerTrigger = 4)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      runDurable(joined, "append")
        .select(col("p_user").as("user_id"), col("p_id"), col("c_id"))
        .orderBy(col("p_id"), col("c_id"))
    }
  }

  /** Streaming sessionization via `flatMapGroupsWithState` (the
    * variable-arity custom-state API `mapGroupsWithState` can't express:
    * a group emits ZERO OR MORE completed sessions per batch). Sessions
    * split on >30 min gaps; a closed session is emitted inline as soon
    * as the user's next event arrives, and a dangling open session is
    * flushed by an event-time timeout once the (global) watermark passes
    * its gap horizon — so state per user is exactly one open session,
    * watermark-bounded.
    *
    * Emission contract (what the spec pins): every emitted session is
    * field-exact equal to the batch sessionization's, and every session
    * except possibly each user's final one (which may still be open, or
    * not yet timed out, when the bounded stream ends) is emitted.
    */
  def sessionizeStream(spark: SparkSession, dir: String): DataFrame = {
    val (staged, schema) = stageSortedByTime(spark, dir, 8)
    runSessionize(spark, staged, schema)
  }

  /** Streaming sessionization with an EXACT batch-equal result (st7):
    * same stateful operator as [[sessionizeStream]], but the staged
    * stream carries one far-future SENTINEL event per user (2h past the
    * global max, > the 30min gap), range-sorted into the FINAL
    * micro-batch. Every user's real last session is therefore closed
    * inline by its sentinel's arrival, so the emitted set equals batch
    * sessionization exactly — the property the oracle hash-checks. The
    * sentinel's own session never emits: no later event arrives, and its
    * event-time timeout lies beyond the final watermark. This is the
    * production recipe for draining a bounded replay through a
    * session operator without losing the tail.
    */
  def sessionizeStreamComplete(spark: SparkSession, dir: String): DataFrame =
    sentinelStaged(spark, dir) match {
      case None => emptySessionFrame(spark)
      case Some((staged, schema)) => runSessionize(spark, staged, schema)
    }

  private def emptySessionFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, Long, Long, Long)]
      .toDF("user_id", "start_micros", "end_micros", "n_events")
  }

  /** The sentinel-augmented, time-sorted staged source shared by the two
    * sessionization formulations (st7's custom-state operator, st9's
    * declarative `session_window`). None on an empty events table (max
    * over zero rows is NULL — callers yield an empty frame, not a
    * driver NPE).
    */
  private def sentinelStaged(spark: SparkSession, dir: String): Option[(String, StructType)] = {
    // Normalize ts up front (encoding-agnostic — see Tables.normalizeTs)
    // and do the sentinel arithmetic in micros on the normalized column.
    val src = graft.core.Tables.normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
    val maxMicrosOpt =
      Option(src.agg(max(unix_micros(col("ts")))).head().getAs[java.lang.Long](0))
    maxMicrosOpt.map { maxMicros =>
      val sentinelMicros = maxMicros.longValue() + 2L * 3600L * 1000000L
      val sentinels = src.select(col("user_id")).distinct()
        .select(src.schema.fields.map { f =>
          f.name match {
            case "user_id" => col("user_id")
            case "ts" => timestamp_micros(lit(sentinelMicros)).as("ts")
            case "event_id" => lit(-1L).cast(f.dataType).as("event_id")
            case other => lit(null).cast(f.dataType).as(other)
          }
        }: _*)
      stageSourceOnce(s"sentinel:$dir", sourceFingerprint(s"$dir/events.parquet")) {
        stageSortedFrames(src.unionByName(sentinels), 8)
      }
    }
  }

  /** Declarative streaming sessionization (st9): the BUILT-IN
    * `session_window` gap aggregation — the "compose built-ins" rung of
    * the ladder st7 climbs with `flatMapGroupsWithState`. Zero custom
    * state code: Spark's session-window operator merges events into
    * gap-bounded sessions and append mode emits a session once the
    * watermark passes its close; the same per-user sentinel drain closes
    * every real session before the bounded stream ends (the sentinel's
    * own session never emits — the watermark stops at its event time,
    * before its window end). Same exact batch-equality oracle as st7:
    * two formulations, one semantic, both hash-checked. The window's
    * `end` is last-event + gap by definition, so the gap is subtracted
    * back to report the last event time st7 reports.
    *
    * st9-vs-st7 cost finding (profiled sf0.1, 5 reps, same window):
    * st9 runs within ~10% of st7 (1.9-2.2 s vs 1.8-2.1 s steady; the
    * r5 bench's +29% included host noise). The residual delta is state
    * LAYOUT, not a plan flaw: `session_window` keeps one store row per
    * OPEN SESSION under a composite (key, start) and pays a
    * restore-merge-save cycle per batch, where st7's operator keeps one
    * state blob per user. The upstream mitigation —
    * `...sessionWindow.merge.sessions.in.local.partition=true`, which
    * pre-merges sessions map-side — was A/B-measured HERE and is
    * slower at these micro-batch sizes (2.2-2.5 s: the extra per-
    * partition sort costs more than the saved shuffle rows); it becomes
    * the right knob when batches carry many events per (user, session),
    * which this fixture's ~2 events/session does not.
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    sentinelStaged(spark, dir) match {
      case None => emptySessionFrame(spark)
      case Some((staged, schema)) =>
        val gapMicros = 1800L * 1000000L
        val out = withStatePartitions(spark, 4) {
          val in = readEventsSorted(spark, staged, schema, filesPerTrigger = 4)
            .withWatermark("ts", "0 seconds")
          val agg = in
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"))
          runDurable(agg, "append")
        }
        out.select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_micros"),
          (unix_micros(col("session_window.end")) - gapMicros).as("end_micros"),
          col("n_events"))
          .orderBy(col("user_id"), col("start_micros"))
    }

  private def runSessionize(spark: SparkSession, staged: String,
      schema: StructType): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapMicros = 1800L * 1000000L
    // 4 files/trigger over 8 staged files → 2 time-ordered micro-batches:
    // sessions still span a batch boundary (the cross-batch state
    // property under test) while state-store commits — the fixed cost
    // per partition per batch — happen twice, not four times. A live
    // deployment tunes the same knob via maxFilesPerTrigger.
    val in = readEventsSorted(spark, staged, schema, filesPerTrigger = 4)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsMicros"))
      .as[SessIn]
    val sessions = in.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (user, rows, state) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single((user, s.start, s.end, s.n))
        } else {
          val emitted = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
          var cur = state.getOption
          rows.map(_.tsMicros).toSeq.sorted.foreach { t =>
            cur match {
              case Some(s) if t - s.end <= gapMicros =>
                cur = Some(SessionState(s.start, t, s.n + 1))
              case Some(s) =>
                emitted += ((user, s.start, s.end, s.n))
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            // flush once the watermark passes end + gap (ms precision)
            state.setTimeoutTimestamp(s.end / 1000L + gapMicros / 1000L)
          }
          emitted.iterator
        }
      }
    val out = withStatePartitions(spark, 4)(runDurable(
      sessions.toDF("user_id", "start_micros", "end_micros", "n_events"), "append"))
    out.orderBy(col("user_id"), col("start_micros"))
  }

  /** Streaming transform into the parquet file sink with exactly-once
    * semantics (the sink's transaction log + the source checkpoint make
    * replayed batches idempotent). The output directory is read back as
    * a normal batch table, which is exactly how a downstream consumer
    * sees a streaming-written lake zone.
    */
  def purchasesToFileSink(spark: SparkSession, dir: String): DataFrame = {
    val filtered = readEventsStaged(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
    runDurable(filtered, "append").orderBy(col("event_id"))
  }

  /** Continuous ingestion made driver-checkable (st6): the reference's
    * watermark + `ON CONFLICT DO NOTHING` polling loop
    * (`cardano_block_dao.py:140-148` + the etl watermark table) as ONE
    * checkpointed stream. Two overlapping source files (the second
    * replays every key of the first) feed one-file micro-batches through
    * [[ingestIncremental]]'s foreachBatch PK-merge — effectively-once
    * end to end: the checkpoint dedups files, the PK merge dedups
    * replayed rows within a batch. The restart-idempotency half of the
    * proof (re-running the SAME checkpoint adds zero rows) lives in
    * EventStreamSpec via [[incrementalIngestWithReplay]] — a re-proof in
    * the query itself would bill a second full stream run to every
    * benchmark of one ingest pass.
    */
  def incrementalIngest(spark: SparkSession, dir: String): DataFrame =
    incrementalIngestRuns(spark, dir, replays = 0)._1

  /** st11: the st6 ingest pass followed by the table-maintenance
    * OPTIMIZE rewrite ([[graft.operators.ShardedWriter.compactParquet]])
    * — micro-batch landings leave one-file-per-trigger-per-partition
    * small files, compaction folds them into balanced event_id-clustered
    * shards, and the query returns the POST-compaction table. The oracle
    * is st6's (the full merged event set): the hash match proves the
    * rewrite is content-exact end-to-end, while the fold itself is
    * asserted inline (fewer files after than before) so a silently
    * no-op'd compaction fails the query, not just a spec. The layout
    * contract (per-file cap, disjoint sorted spans) is pinned in
    * ShardedWriterSpec.
    */
  def compactedIngest(spark: SparkSession, dir: String): DataFrame = scoped("st11") { root =>
    val (src, schema) = stagedOverlapSource(spark, dir)
    val target = root.resolve("data").toString
    ingestIncremental(
      spark, src, schema, target, Seq("event_id"), root.resolve("ckpt").toString,
      filesPerTrigger = Some(1))
    val n = spark.read.parquet(target).count()
    // Target ~4 shards, but never MORE files than the ingest left (at
    // toy scale two micro-batches can land as two already-large files;
    // a fixed shard count would then expand, not fold). Real
    // deployments size by bytes; rows are the local proxy.
    val preCount = spark.read.parquet(target).inputFiles.length
    val shards = math.min(4L, math.max(1L, preCount / 2L))
    val (before, after) = graft.operators.ShardedWriter.compactParquet(
      spark, target, col("event_id"), math.max(1L, (n + shards - 1) / shards))
    require(after < before,
      s"compaction did not fold the ingest layout ($before -> $after files)")
    graft.operators.Generations.read(spark, target).orderBy(col("event_id"))
  }

  /** st12: the reference's ACTUAL production loop — stream into a live
    * RELATIONAL warehouse with the idempotent staging+merge sink
    * (`cardano_block_dao.py:140-148`'s `COPY … ON CONFLICT DO NOTHING`
    * polling loop as one checkpointed stream). Same staged 2-file
    * overlapping source as st6, but each micro-batch goes through
    * [[graft.cardano.JdbcSink.upsertJdbc]] (distributed `df.write.jdbc`
    * staging table + single-transaction SQL merge) into embedded Derby;
    * the query returns the warehouse table read BACK over JDBC, so the
    * oracle hash-checks the entire stream→DB→read loop. Effectively-once
    * composes exactly as in st6: checkpoint dedups files, the DB-side PK
    * merge makes replayed batches no-ops. Scale notes: the merge
    * transaction is per-batch on the driver but the staging WRITE is
    * distributed (executor JDBC partitions); the single-partition
    * read-back is the local stand-in for a partitioned-column JDBC read.
    * Measured floor ~7 s at sf0.1: Derby itself writing ~200k rows
    * (staging + dedup clone + target) across the two batches — A/B'd
    * batchsize 10k and low-partition staging within noise, so the cost
    * is the embedded engine's row-write volume, not Spark-side shape.
    */
  def streamToJdbc(spark: SparkSession, dir: String): DataFrame = {
    import graft.cardano.JdbcSink
    val (src, schema) = stagedOverlapSource(spark, dir)
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // Default JDBC batchsize (1000) pays a statement-execution round per
    // 1000 rows; embedded Derby absorbs much larger batches fine.
    props.setProperty("batchsize", "10000")
    val name = s"st12_${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$name;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      """CREATE TABLE events_wh (
        |  "event_id" BIGINT PRIMARY KEY, "event_type" VARCHAR(32),
        |  "user_id" BIGINT, "cents" BIGINT)""".stripMargin): Unit
    finally c.close()
    try {
      runForeachBatchStream(spark, src, schema) { batch =>
        JdbcSink.upsertJdbc(batch, url, "events_wh",
          Seq("event_id"), props = props): Unit
      }
      spark.read.jdbc(url, "events_wh", props)
        .select(col("event_id"), col("event_type"), col("user_id"), col("cents"))
        .orderBy(col("event_id"))
        .localCheckpoint()
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
      catch { case _: java.sql.SQLException => () } // 08006 = expected drop signal
    }
  }

  /** st13: streaming MAINTENANCE of the theta sketch zone — the sketch
    * sibling of st6's row ingest. Each micro-batch of the same
    * overlapping 2-file source appends its per-day user sketches to the
    * zone ([[graft.operators.SketchZone.appendThetaBatch]] — no
    * watermark: days split across batches, so every batch lands its own
    * rows and the read side unions per day). Where st6 needs a PK merge
    * to absorb the replayed file, here idempotency is STRUCTURAL: a
    * theta sketch is a set, and set union absorbs duplicates — the
    * replayed batch changes nothing in any day's unioned sketch. The
    * query answers day-over-day retention/churn from the STORED zone
    * alone and hash-matches q48's exact oracle (exact-mode theta), so
    * the whole stream→zone→set-algebra loop is oracle-proved. At 100 TB
    * this is the nightly loop that keeps a retention dashboard current
    * without ever rescanning facts: the stream appends KB-sized rows,
    * the dashboard unions them.
    */
  def streamSketchZone(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SketchZone
    val (src, schema, _) = stagedDayOverlapSource(spark, dir)
    scoped("st13") { root =>
      val zone = root.resolve("zone").toString
      runForeachBatchStream(spark, src, schema) { batch =>
        SketchZone.appendThetaBatch(spark, batch, "day", "user_id", zone): Unit
      }
      SketchZone.retentionSeries(spark, zone)
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("active").as("active_users"),
          col("retained").as("retained_users"),
          col("churned").as("churned_users"))
        .orderBy(col("day"))
    }
  }

  /** st13's staged source: the st6 overlap shape (evens file, then ALL
    * rows) but carrying the event DAY — the column the sketch zone
    * aggregates on.
    */
  private def stagedDayOverlapSource(
      spark: SparkSession, dir: String): (String, StructType, Unit) =
    stageBatches("st13src", dir, "events") {
      val events = graft.core.Tables.events(spark, dir)
        .select(col("event_id"), to_date(col("ts")).as("day"), col("user_id"))
      (Seq(events.filter(col("event_id") % 2 === 0), events), ())
    }

  /** st14: streaming MAINTENANCE of the SCD2 dimension zone — the
    * versioned-dimension sibling of st13's sketch zone. Each micro-batch
    * of attribute-change rows is absorbed into a PK-dedup'd change LOG
    * (replays vanish in the anti-join, st6's machinery), then ONLY the
    * batch's keys have their version runs rebuilt from the log and ONLY
    * the key-buckets containing them are rewritten via dynamic partition
    * overwrite. The log is load-bearing for correctness, not bookkeeping:
    * a late row landing INSIDE an already-collapsed run must split it
    * (A@d1 collapsed over [d1,d5) + late B@d3 ⇒ A[d1,d3) B[d3,d5)
    * A[d5,…)), which no maintained-versions-only scheme can do — the
    * intermediate rows are already collapsed away (spec-pinned in
    * Scd2ZoneSpec). Per-batch cost is therefore ∝ touched keys' history
    * + touched buckets' rows, never dim size; untouched bucket files are
    * asserted byte-identical across batches. The final dim hash-matches
    * q51's from-scratch oracle: maintained ≡ rebuilt.
    */
  def streamScd2(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema, _) = stagedOrdersOverlapSource(spark, dir)
    scoped("st14") { root =>
      val log = root.resolve("log").toString
      val dim = root.resolve("dim").toString
      runForeachBatchStream(spark, src, schema) { batch =>
        scd2ApplyBatch(batch, log, dim): Unit
      }
      spark.read.parquet(dim)
        .select(col("o_custkey"), col("version"), col("priority"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("o_custkey"), col("version"))
    }
  }

  /** Key-bucket count for the SCD2 dim zone. Toy-sized here; at scale
    * this is the knob that makes a batch's rewrite surface proportional
    * to its key spread instead of the dimension's size.
    */
  private[graft] val scd2Buckets = 8

  /** One SCD2 maintenance step (st14's per-batch body; spec seam).
    * Returns the number of NEW log rows — 0 means the batch was a full
    * replay and the dim zone was left untouched. The touched-key set
    * comes from the merge DELTA, not the raw batch: in a partially
    * replayed batch, keys whose rows were all conflict-skipped have
    * nothing to rebuild, and deriving keys from the batch would rewrite
    * their buckets for no change — the per-batch cost claim (∝ touched
    * history + touched buckets) holds only delta-keyed.
    */
  private[graft] def scd2ApplyBatch(
      batch: DataFrame, log: String, dim: String): Long = {
    val s = batch.sparkSession
    // within-batch PK dedup, then the conflict-skip anti-join against
    // the stored log (upsertParquet's merge, inlined because the DELTA
    // itself — not just its count — drives the rebuild); materialized
    // before the append because the plan reads the log it extends
    val b = batch.dropDuplicates("o_orderkey")
    val fresh = (
      if (graft.core.Fs.exists(s, log))
        b.join(s.read.parquet(log), Seq("o_orderkey"), "left_anti")
      else b
    ).localCheckpoint()
    val inserted = fresh.count()
    if (inserted > 0) {
      fresh.write.mode("append").parquet(log)
      val keys = fresh.select(col("o_custkey")).distinct()
      // int, matching what partition-value inference reads back — a
      // long here would make the post-first-batch union type-mismatch
      val kb = pmod(col("o_custkey"), lit(scd2Buckets.toLong)).cast("int")
      val touched = s.read.parquet(log)
        .join(keys, Seq("o_custkey"), "left_semi")
      val rebuilt = graft.queries.Relational.scd2Collapse(touched)
        .withColumn("kb", kb)
      val next =
        if (graft.core.Fs.exists(s, dim)) {
          // partition-pruned: only buckets that contain a touched key
          // are read, and dynamic overwrite below replaces only them
          val buckets = keys.select(kb.as("kb")).distinct()
          s.read.parquet(dim)
            .join(buckets, Seq("kb"), "left_semi")
            .join(keys, Seq("o_custkey"), "left_anti")
            .unionByName(rebuilt.select(
              col("kb"), col("o_custkey"), col("version"), col("priority"),
              col("valid_from"), col("valid_to"), col("is_current")))
        } else rebuilt
      // the rewrite reads the same bucket dirs it replaces — materialize
      // before the overwrite (distributed), same rule as upsertParquet
      next.localCheckpoint()
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb")
        .parquet(dim)
    }
    inserted
  }

  /** st14's staged source: the st6 overlap shape (even order keys, then
    * ALL rows) over the ORDERS attribute history — the columns
    * [[graft.queries.Relational.scd2Collapse]] consumes.
    */
  private def stagedOrdersOverlapSource(
      spark: SparkSession, dir: String): (String, StructType, Unit) =
    stageBatches("st14src", dir, "orders") {
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderpriority").as("priority"),
          col("o_orderdate"), col("o_orderkey"))
      (Seq(orders.filter(col("o_orderkey") % 2 === 0), orders), ())
    }

  /** st16: streaming CDC apply — [[graft.queries.Relational.cdcApply]]'s
    * MERGE semantics (q57) maintained by the ingest loop itself, the
    * production CDC consumer: each micro-batch of change rows
    * (key, seq, op ∈ {'U','D'}, new_cents) is folded into a bucketed
    * snapshot with last-writer-wins ordered by the FULL (seq, op, cents)
    * struct — the same total order q57's batch oracle maximizes, so
    * maintained ≡ batch-applied by construction, whatever the batch
    * boundaries. The three disciplines that make it production-shaped:
    *
    *   - **seq guard, not file dedup**: a replayed batch's changes
    *     compare ≤ the stored struct and apply nothing — idempotency is
    *     semantic (st13's sketch-absorption argument for a NON-set
    *     state), and the no-change case skips the rewrite entirely
    *     (untouched files stay byte-identical, spec-pinned);
    *   - **tombstones**: a delete keeps its (key, seq, op='D') row so a
    *     late stale update CANNOT resurrect the key (the read side
    *     filters op='D'; age-based tombstone GC is the deployment knob);
    *   - **bucket-scoped rewrites**: the snapshot is hash-bucketed on
    *     the key and only buckets containing an APPLIED change rewrite
    *     via dynamic partition overwrite (st14's discipline) — per-batch
    *     cost ∝ touched buckets, never snapshot size.
    *
    * The final snapshot hash-matches q57's full-outer batch apply over
    * the same base + feed (minus the action classification, which is a
    * property of one batch boundary, not of the maintained state).
    */
  def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema) = stagedCdcFeedSource(spark, dir)
    scoped("st16") { root =>
      val snap = root.resolve("snap").toString
      // initial snapshot load: the base table as seq-0 upserts
      val kb = pmod(col("key"), lit(cdcBuckets.toLong)).cast("int")
      spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("key"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          lit(0L).as("seq"), lit("U").as("op"))
        .withColumn("kb", kb)
        .write.partitionBy("kb").parquet(snap)
      runForeachBatchStream(spark, src, schema) { batch =>
        cdcApplyBatch(batch, snap): Unit
      }
      spark.read.parquet(snap)
        .filter(col("op") =!= "D")
        .select(col("key").as("o_orderkey"), col("cents"))
        .orderBy(col("o_orderkey"))
    }
  }

  /** Key-bucket count for the CDC snapshot zone — st14's knob: rewrite
    * surface ∝ a batch's key spread, never snapshot size.
    */
  private[graft] val cdcBuckets = 8

  /** One CDC maintenance step (st16's per-batch body; spec seam).
    * Returns the number of APPLIED changes — 0 means every change in
    * the batch was stale (a replay) and the snapshot was not touched.
    */
  private[graft] def cdcApplyBatch(batch: DataFrame, snap: String): Long = {
    val s = batch.sparkSession
    // within-batch last-writer: the same lexicographic struct max as
    // q57's batch apply; small (one row per touched key), reused thrice
    val latest = batch
      .groupBy(col("key"))
      .agg(max(struct(col("seq"), col("op"), col("new_cents"))).as("last"))
      .select(col("key"), col("last.seq").as("c_seq"),
        col("last.op").as("c_op"), col("last.new_cents").as("c_cents"))
      .localCheckpoint()
    val kb = pmod(col("key"), lit(cdcBuckets.toLong)).cast("int")
    val buckets = latest.select(kb.as("kb")).distinct()
    // bucket-pruned snapshot read: only partitions a batch key hashes to
    val stored = s.read.parquet(snap).join(buckets, Seq("kb"), "left_semi")
    val joined = stored.drop("kb").join(latest, Seq("key"), "full_outer")
    // last-writer-wins on the FULL struct: stale and replayed changes
    // (≤ stored) apply nothing; a tombstone's struct keeps winning until
    // a genuinely newer change arrives
    val applies = col("c_seq").isNotNull && (col("seq").isNull ||
      struct(col("c_seq"), col("c_op"), col("c_cents")) >
        struct(col("seq"), col("op"), col("cents")))
    // ONE execution of the merge join: materialize with the applied
    // flag, read the changed count off the in-memory copy, and feed the
    // same copy to the rewrite — counting on `joined` and then writing
    // it would run the full-outer join twice per batch (and the
    // materialization also satisfies upsertParquet's read-what-you-
    // replace rule for the dynamic overwrite below)
    val next = joined.select(
      col("key"),
      when(applies, col("c_cents")).otherwise(col("cents")).as("cents"),
      when(applies, col("c_seq")).otherwise(col("seq")).as("seq"),
      when(applies, col("c_op")).otherwise(col("op")).as("op"),
      applies.as("_applied"))
      .withColumn("kb", kb)
      .localCheckpoint()
    val changed = next.filter(col("_applied")).count()
    if (changed > 0) {
      next.drop("_applied")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb")
        .parquet(snap)
    }
    changed
  }

  /** st16's staged source: q57's deterministic change feed (seq from
    * linenumber, deletes from returnflag, a keyspace-shifted slice as
    * genuinely new keys) split st6-style — early changes (seq ≤ 3),
    * then ALL changes (a full replay of the first file plus the rest).
    */
  private[streaming] def stagedCdcFeedSource(
      spark: SparkSession, dir: String): (String, StructType) = {
    val (src, schema, _) = stageBatches("st16src", dir, "lineitem") {
      val feed = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(
          when(col("l_partkey") % 10 === 0, col("l_orderkey") + 1000000L)
            .otherwise(col("l_orderkey")).as("key"),
          col("l_linenumber").cast("long").as("seq"),
          when(col("l_returnflag") === "R", lit("D")).otherwise(lit("U")).as("op"),
          round(col("l_extendedprice") * 100).cast("long").as("new_cents"))
      (Seq(feed.filter(col("seq") <= 3), feed), ())
    }
    (src, schema)
  }

  /** st17: streaming MAINTENANCE of the bloom zone — the membership
    * sibling of st15's min/max stats: each micro-batch PK-merges into
    * the data dir, then [[graft.operators.ZoneMap.appendBlooms]] builds
    * filters for the batch's delta files ONLY (never-covered files, the
    * same only-the-delta discipline; replays append no files and the
    * zone stays exact under the staleness guard). The read side plans a
    * batch of point lookups from the STORED bloom table in one metadata
    * pass ([[graft.operators.ZoneMap.bloomPlanFiles]]) and reads the
    * union of surviving files once — with the inline assert that the
    * plan actually skipped files (range-disjoint batch files + per-file
    * blooms make each id reachable from ~1 file). This closes the zone
    * family: sketch (st13), SCD2 (st14), min/max stats (st15), CDC
    * snapshot (st16) and membership (st17) all maintained by the ingest
    * loop itself.
    */
  def streamBloomZone(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZoneMap
    val (src, schema, _) = stagedRangeOverlapSource(spark, dir)
    scoped("st17") { root =>
      val target = root.resolve("data").toString
      val blooms = root.resolve("blooms").toString
      runForeachBatchStream(spark, src, schema)(
        mergeWithZoneMaps(_, target, stats = None, blooms = Some(blooms)))
      val total = spark.read.parquet(target).inputFiles.length
      val maxId = spark.read.parquet(target)
        .agg(max(col("event_id"))).head().getLong(0)
      val probes = (1L to 9L).map(i => i * maxId / 10).distinct
      val plan = ZoneMap.bloomPlanFiles(spark, target, blooms, probes)
      require(plan.values.map(_.size).sum < probes.size * total,
        s"streamed bloom zone pruned nothing ($total files)")
      val files = plan.values.flatten.toSeq.distinct
      spark.read.parquet(files: _*)
        .filter(col("event_id").isin(probes: _*))
        .select(col("event_id"), col("event_type"), col("cents"))
        .orderBy(col("event_id"))
    }
  }

  /** The zone-map maintainers' batch step (st15, st17, st18, c3): PK-merge
    * the batch into `target` on event_id, then bring the per-file stats
    * over `stats._2` and the event_id blooms current — built on the
    * first batch, then appended for never-covered files only.
    */
  private def mergeWithZoneMaps(batch: DataFrame, target: String,
      stats: Option[(String, Seq[String])], blooms: Option[String]): Unit = {
    import graft.operators.ZoneMap
    val s = batch.sparkSession
    graft.cardano.IdempotentSink.upsertParquet(s, batch, target, Seq("event_id")): Unit
    stats.foreach { case (dir, cols) =>
      if (graft.core.Fs.exists(s, dir)) ZoneMap.appendStats(s, target, dir, cols): Unit
      else ZoneMap.buildStats(s, target, dir, cols)
    }
    blooms.foreach { dir =>
      if (graft.core.Fs.exists(s, dir))
        ZoneMap.appendBlooms(s, target, dir, "event_id", 65536): Unit
      else ZoneMap.buildBlooms(s, target, dir, "event_id", 65536)
    }
  }

  /** st18: ONE ingest stream maintaining ALL the zones — st13's theta
    * sketches, st15's min/max stats, and st17's blooms each run their
    * own checkpointed stream, which triples the per-micro-batch
    * machinery cost (trigger, checkpoint commit, source listing) for
    * zones that could ride the same batch. Here a single `foreachBatch`
    * loop does the PK merge once and then brings all three zone tables
    * current from the same batch delta: the stats and bloom appends
    * scan only the merge's never-covered files (their shared
    * only-the-delta contract), and the sketch append is structurally
    * idempotent under the replayed batch (set union). The query answers
    * all three read shapes from the STORED zones alone — day-over-day
    * retention from KB-sized sketches, a range aggregate through the
    * stats-planned pruned read, point lookups through the bloom plan —
    * with real file skipping asserted inline for both planners.
    *
    * The combined entry must reproduce the SAME truth as the three
    * independent maintainers: its oracle is the UNION of st13's, st15's
    * and st17's oracle SQL (shared vals — the four gates cannot drift),
    * so a hash match here ≡ hash-matching each maintainer. At 100 TB
    * this is the difference between one ingest pipeline and three
    * parallel ones reading the same source thrice.
    */
  def streamAllZones(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{SketchZone, ZoneMap}
    val (src, schema, _) = stagedAllZonesSource(spark, dir)
    scoped("st18") { root =>
      val target = root.resolve("data").toString
      val stats = root.resolve("stats").toString
      val blooms = root.resolve("blooms").toString
      val sketch = root.resolve("sketch").toString
      runForeachBatchStream(spark, src, schema) { batch =>
        mergeWithZoneMaps(batch, target, Some(stats -> Seq("event_id")), Some(blooms))
        SketchZone.appendThetaBatch(batch.sparkSession, batch, "day", "user_id", sketch): Unit
      }
      val nul = lit(null).cast("long")
      // (1) retention/churn from the sketch zone alone (st13's read)
      val retention = SketchZone.retentionSeries(spark, sketch).select(
        lit("retention").as("section"),
        date_format(col("day"), "yyyy-MM-dd").as("k"),
        col("active").as("a"), col("retained").as("b"), col("churned").as("c"))
      val all = spark.read.parquet(target).inputFiles.length
      // one metadata read anchors BOTH derived query parameters: the
      // range bound (st15's read) and the lookup probes below
      val maxFromStats = spark.read.parquet(stats)
        .agg(max(col("max_event_id"))).head().getLong(0)
      // (2) the lower-quarter range aggregate through the stats plan
      // (st15's read), skipping asserted
      val hi = maxFromStats / 4
      val pruned = ZoneMap.prunedRead(spark, target, stats,
        Seq(("event_id", 0L, hi)))
      require(pruned.inputFiles.length < all,
        s"combined zone map pruned nothing (${pruned.inputFiles.length}/$all files)")
      val range = pruned.filter(col("event_id") <= hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("a"), sum(col("cents")).as("b"))
        .select(lit("range").as("section"), col("event_type").as("k"),
          col("a"), col("b"), nul.as("c"))
      // (3) decile point lookups through the bloom plan (st17's read) —
      // the probe anchor comes from the STATS ZONE, not a table scan:
      // max(max_event_id) over #files rows equals the table max (the
      // staleness guard proves the stats cover every file), and "from
      // the stored zones alone" must include the metadata the probes
      // derive from
      val probes = (1L to 9L).map(i => i * maxFromStats / 10).distinct
      val plan = ZoneMap.bloomPlanFiles(spark, target, blooms, probes)
      require(plan.values.map(_.size).sum < probes.size * all,
        s"combined bloom zone pruned nothing ($all files)")
      val files = plan.values.flatten.toSeq.distinct
      val lookup = spark.read.parquet(files: _*)
        .filter(col("event_id").isin(probes: _*))
        .select(lit("lookup").as("section"),
          col("event_id").cast("string").as("k"),
          col("cents").as("a"), nul.as("b"), nul.as("c"))
      retention.unionByName(range).unionByName(lookup)
        .orderBy(col("section"), col("k"))
    }
  }

  /** st18's staged source: the union of the columns the three zones
    * consume (sketch: day/user_id; stats+bloom: event_id; the range
    * aggregate: event_type/cents), split on the id RANGE like st15's —
    * time-ordered ingest lands each batch's files range-disjoint, which
    * is what makes the min/max skipping assertable.
    */
  private def stagedAllZonesSource(
      spark: SparkSession, dir: String): (String, StructType, Unit) =
    stageBatches("st18src", dir, "events") {
      val events = graft.core.Tables.events(spark, dir)
        .select(col("event_id"), to_date(col("ts")).as("day"),
          col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val half = events.agg(max(col("event_id"))).head().getLong(0) / 2
      (Seq(events.filter(col("event_id") < half), events), ())
    }

  /** c3: the lakehouse MAINTENANCE WEEKEND end-to-end — the composition
    * the round-8 pieces exist for, run as one pipeline: (1) checkpointed
    * ingest with zone-map stats maintained per batch (st6's PK merge +
    * st15's appendStats), (2) the OPTIMIZE rewrite z-ordering the
    * accumulated table on (user_id, sec) (q46's compaction, published
    * as a new generation in one commit step), (3) the stats REBUILD the rewrite forces —
    * history changed, so appendStats' never-covered-files contract is
    * exactly wrong here and prunedRead's staleness guard would fail
    * loudly against the old stats; only a rebuild proves which rows
    * remain true (SCALE.md's zone-map caveat, executed rather than
    * documented), and (4) the 2-D box answered through the rebuilt
    * stats with REAL pruning asserted inline — post-compaction files
    * are Morton tiles, tight in BOTH dimensions, so the box must not
    * open every file. The oracle computes the same box over the
    * ORIGINAL events table: the hash match proves
    * ingest → merge → rewrite → stats → pruned read content-exact end
    * to end. (The file-count FOLD claim lives in st11, the layout
    * tightness claims in LayoutExpressionsSpec/ZoneMapSpec — this query
    * pins the composition, not re-proofs of the parts.)
    */
  def lakeMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Generations, ShardedWriter, ZoneMap}
    val (src, schema, _) = stagedLakeSource(spark, dir)
    val statCols = Seq("user_id", "sec")
    scoped("c3") { root =>
      val target = root.resolve("data").toString
      val stats = root.resolve("stats").toString
      val statsRebuilt = root.resolve("stats-rebuilt").toString
      runForeachBatchStream(spark, src, schema)(
        mergeWithZoneMaps(_, target, Some(stats -> statCols), blooms = None))
      val n = spark.read.parquet(target).count()
      ShardedWriter.compactZorder2(
        spark, target, "user_id", "sec", math.max(1L, (n + 7) / 8)): Unit
      ZoneMap.buildStats(spark, target, statsRebuilt, statCols)
      val pruned = ZoneMap.prunedRead(spark, target, statsRebuilt,
        Seq(("user_id", 3L, 6L), ("sec", 1704844800L, 1705017599L)))
      val all = Generations.read(spark, target).inputFiles.length
      require(pruned.inputFiles.length < all,
        s"z-order + zone maps pruned nothing (${pruned.inputFiles.length}/$all files)")
      graft.queries.SourcesAndStreams.boxAgg(pruned
        .filter(col("user_id").between(3, 6) &&
          col("sec").between(1704844800L, 1705017599L)))
    }
  }

  /** c3's staged source: events projected to the lake schema
    * (event_id, user_id, sec, cents), lower id half then ALL rows (the
    * overlap-replay shape), so the ingest exercises both the merge and
    * the stats append before the maintenance pass.
    */
  private def stagedLakeSource(
      spark: SparkSession, dir: String): (String, StructType, Unit) =
    stageBatches("c3src", dir, "events") {
      val events = graft.core.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("sec"),
          round(col("value") * 100).cast("long").as("cents"))
      val half = events.agg(max(col("event_id"))).head().getLong(0) / 2
      (Seq(events.filter(col("event_id") < half), events), ())
    }

  /** st15: streaming MAINTENANCE of the zone-map stats table — the
    * data-skipping sibling of st13/st14's zones. Each micro-batch PK-
    * merges into the data dir (st6's machinery) and then brings the
    * per-file min/max stats table current ([[graft.operators.ZoneMap]]
    * — only never-covered files are scanned, so the stats append costs
    * the batch's delta, not the table). The read side answers a range
    * aggregate through [[graft.operators.ZoneMap.prunedRead]]: bounds
    * come from the STATS table alone (metadata altitude), and because
    * time-ordered ingest lands each batch's files range-disjoint (the
    * source splits on the id, not parity), the lower-quarter query
    * provably skips the later batch's files — asserted inline, not
    * assumed. Replay: the merged no-op appends no files, appendStats
    * returns 0, stats stay exact (the staleness guard would fail
    * loudly otherwise). At 100 TB this is data skipping kept current
    * by the ingest loop itself instead of a nightly rebuild.
    */
  def streamZoneMapIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZoneMap
    val (src, schema, _) = stagedRangeOverlapSource(spark, dir)
    val statCols = Seq("event_id")
    scoped("st15") { root =>
      val target = root.resolve("data").toString
      val stats = root.resolve("stats").toString
      runForeachBatchStream(spark, src, schema)(
        mergeWithZoneMaps(_, target, Some(stats -> statCols), blooms = None))
      // plan the query from stats alone: lower quarter of the id range
      val hi = spark.read.parquet(stats)
        .agg(max(col("max_event_id"))).head().getLong(0) / 4
      val pruned = ZoneMap.prunedRead(spark, target, stats,
        Seq(("event_id", 0L, hi)))
      // range-disjoint batches make skipping REAL: the second batch's
      // upper-half files must not survive the file plan
      val all = spark.read.parquet(target).inputFiles.length
      require(pruned.inputFiles.length < all,
        s"zone map pruned nothing (${pruned.inputFiles.length}/$all files)")
      pruned.filter(col("event_id") <= hi) // row-level predicate on top
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("event_type"))
    }
  }

  /** st19: the persisted ANN index zone
    * ([[graft.operators.AnnIndexZone]]) maintained FROM THE INGEST
    * STREAM — d19 builds the same zone as a batch backfill; here a
    * checkpointed `foreachBatch` loop appends each micro-batch's bucket
    * assignments (one narrow codegen'd projection per batch, nothing
    * rescanned — st13's delta-only discipline). The zone is CREATED
    * before the stream with its plane count derived from the expected
    * corpus size (capacity planning: the plane count is a property of
    * the zone, not of any batch — a per-batch re-derivation would
    * orphan every previously stored bucket). The source replays its
    * first slice inside the second (the overlap shape every streamed
    * maintainer here proves itself against); index replay idempotency
    * is STRUCTURAL — the read side semi-joins candidates, so duplicate
    * `(vec_id, bucket)` rows change nothing. The query then answers
    * d6's multi-probe top-10 from the STORED zone alone, hash-matching
    * d6's oracle end-to-end.
    */
  def streamAnnIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndexZone
    val (src, schema, total) = stagedEmbeddingSource(spark, dir)
    scoped("st19") { root =>
      val zone = root.resolve("annzone").toString
      AnnIndexZone.create(spark, zone, expectedCount = total): Unit
      runForeachBatchStream(spark, src, schema) { batch =>
        AnnIndexZone.appendIndex(batch, zone)
      }
      val emb = graft.core.Tables(spark, dir, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      AnnIndexZone.topK(emb, query, zone, 10)
    }
  }

  /** st27: the IVF-flat index zone ([[graft.operators.IvfIndexZone]])
    * maintained FROM THE INGEST STREAM — the trained-quantizer sibling
    * of st19. The coarse quantizer is FITTED BEFORE the stream opens
    * (from the corpus the deployment backfills with — the st19/st20
    * capacity-planning posture: cells are a property of the ZONE, and
    * a per-batch re-fit would orphan every stored list), then each
    * micro-batch appends its own cell assignments: k literal-centroid
    * codegen'd distance folds over the batch, zero shuffle, nothing
    * rescanned. The source replays the history slice inside the
    * full-corpus second batch, so the stored lists carry duplicate
    * rows; each vector has exactly ONE home cell, so the read side's
    * DISTINCT absorbs them (structural replay idempotency). The query
    * answers d28's five-query IVF top-10 from the STREAMED zone alone,
    * hash-matching d28's oracle end-to-end — streamed ≡ batch-built
    * for the fitted-quantizer index family.
    */
  def streamIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{IvfIndexZone, Similarity}
    val (src, schema, _) = stagedEmbeddingSource(spark, dir)
    scoped("st27") { root =>
      val zone = root.resolve("ivfzone").toString
      // quantizer size comes from TrainingData's shared constant (the
      // st20 discipline): the streamed zone must fit the same k cells
      // as the batch twin (d28) and the oracle's kmeansCtes
      val emb = graft.core.Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      IvfIndexZone.create(spark, zone,
        Similarity.kmeansFit(emb, graft.queries.TrainingData.ivfKmeansK, 3))
      runForeachBatchStream(spark, src, schema) { batch =>
        IvfIndexZone.append(batch, zone)
      }
      IvfIndexZone.topK(graft.core.Tables(spark, dir, "embeddings"),
          graft.queries.TrainingData.ivfQueries(spark, dir), zone,
          k = 10, nprobe = 2)
        .orderBy(col("q_id"), col("nn_rank"))
    }
  }

  /** st28: the PQ code zone ([[graft.operators.PqZone]]) maintained
    * FROM THE INGEST STREAM — the memory-side sibling of st27, closing
    * the streamed-maintainer symmetry for the whole vector stack
    * (every persisted vector zone now has batch, OPTIMIZEd, and
    * streamed postures). Codebooks are TRAINED before the stream opens
    * (the st27 quantizer argument: books are zone geometry; a
    * per-batch re-train would orphan every stored code), then each
    * micro-batch encodes ONLY its own vectors — m·k literal-centroid
    * codegen'd distance folds, zero shuffle, nothing rescanned. The
    * overlap-replay source leaves duplicate code rows; encoding is
    * deterministic (one code row value per vector), so the read side's
    * DISTINCT absorbs them. Answers d30's five-query ADC top-10 from
    * the streamed zone alone, hash-matching d30's oracle.
    */
  def streamPqCodes(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PqZone
    val (src, schema, _) = stagedEmbeddingSource(spark, dir)
    scoped("st28") { root =>
      val zone = root.resolve("pqzone").toString
      val emb = graft.core.Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      import graft.queries.TrainingData.{pqCodes, pqSubspaces}
      PqZone.create(spark, zone,
        PqZone.fit(emb, pqSubspaces, pqCodes, iters = 2))
      runForeachBatchStream(spark, src, schema) { batch =>
        PqZone.append(batch, zone)
      }
      PqZone.adcTopK(graft.queries.TrainingData.ivfQueries(spark, dir),
          zone, k = 10)
        .orderBy(col("q_id"), col("nn_rank"))
    }
  }

  /** st20: the persisted MinHash signature zone
    * ([[graft.operators.SignatureZone]]) maintained FROM THE INGEST
    * STREAM — d22 builds the same zone as a batch backfill over history;
    * here a checkpointed `foreachBatch` loop appends each micro-batch's
    * band rows (shingle → minhash → band over the batch only, nothing
    * rescanned — st13's delta-only discipline). The zone is CREATED
    * before the stream with its signature geometry fixed (a property of
    * the zone, never of a batch — the st19 capacity argument). The
    * source replays the history slice inside the full-corpus second
    * batch, so the stored band table carries duplicate rows AND the
    * delta's own bands; both are invisible to the read side
    * ([[graft.operators.SignatureZone.incrementalPairs]]'s DISTINCT-ed
    * candidate join — structural idempotency, and the cross leg
    * subsumes the internal leg's pairs when the zone already holds the
    * delta). The query then answers d22's incremental dedup from the
    * STREAMED zone alone, hash-matching d22's oracle end-to-end.
    */
  def streamSignatureZone(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SignatureZone
    val (src, schema, cut) = stagedDocumentSource(spark, dir)
    // geometry and threshold come from TrainingData's constants, NOT
    // re-hardcoded here: the streamed zone must hash identically to the
    // batch twin (d22) and the oracle — a local copy would desync them
    // silently the moment the shared constants moved
    import graft.queries.TrainingData.{jaccardThreshold, minhashBands, minhashK, shingleN}
    scoped("st20") { root =>
      val zone = root.resolve("sigzone").toString
      SignatureZone.create(spark, zone, shingleN, minhashK, minhashBands)
      runForeachBatchStream(spark, src, schema) { batch =>
        SignatureZone.append(batch, zone)
      }
      val docs = graft.core.Tables(spark, dir, "documents")
      val delta = docs.filter(col("doc_id") >= cut)
        .select(col("doc_id"), col("text"))
      SignatureZone.incrementalPairs(docs, delta, zone, jaccardThreshold)
        .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  /** st21: BOTH admission zones (exact-md5 + signature) maintained from
    * ONE checkpointed stream — the st18 consolidation discipline applied
    * to c8's curation gates. Each micro-batch appends its own band rows
    * (delta-only, st20's step) AND its own per-DOC md5 rows
    * (`Dedup.md5ZoneAppend` over the batch — an append-only zone whose
    * reader min-aggregates, so replayed batches and arbitrary batch
    * splits land the same global min-keeper: min is a semilattice, the
    * watermark-coalesce argument applied to content keys; per-doc
    * rather than per-batch-minima so tombstoned deletes stay exact —
    * see md5ZoneAppend's scaladoc). The source
    * replays the first half of HISTORY inside the full history slice —
    * the deployment timeline where ingest has processed history and the
    * DELTA is the next batch being admitted — and the query then runs
    * c8's decision core against the STREAMED zones, hash-matching c8's
    * oracle end-to-end.
    */
  def streamAdmissionZones(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema, cut) = stagedHistorySource(spark, dir)
    scoped("st21") { root =>
      val zones = AdmissionZones(root.toString)
      zones.create(spark)
      runForeachBatchStream(spark, src, schema)(batch => Par.run(zones.appends(batch): _*))
      // OPTIMIZE both zones before serving: fold the file-per-batch
      // storm and the overlap-replayed rows (the source replays the
      // first half of history inside the second batch, so BOTH folds
      // have real duplicates to collapse) — the maintenance pass a
      // deployment schedules; result-invisible because the readers
      // DISTINCT (bands) and min-aggregate (md5), which the oracle
      // hash then proves end-to-end
      zones.optimize(spark)
      val docs = graft.core.Tables(spark, dir, "documents")
      TrainingData.admissionDecisions(spark,
        docs, docs.filter(col("doc_id") >= cut), zones.md5, zones.sig)
    }
  }

  /** st24: ALL THREE admission zones (exact-md5 + signature + ANN
    * index) maintained from ONE checkpointed stream — st21's combined
    * loop extended with the vector modality, so the stream that feeds
    * c12's three-gate admission is one machinery cost, not three
    * (st18's consolidation argument applied to the admission family).
    * Each micro-batch appends its band rows and per-doc md5 rows
    * (st21's step) plus its documents' SRP bucket assignments — the
    * batch's vectors come from a semi-join against the embeddings
    * table (delta-sized per batch, never a corpus scan). The
    * overlap-replay source proves structural idempotency for all
    * three zones at once: bands and md5 minima as in st21, and
    * replayed (vec_id, bucket) rows are absorbed by the probe's
    * candidate DISTINCT (st19's argument). After the stream all three
    * zones are OPTIMIZEd (the replayed rows and the file-per-batch
    * storm genuinely fold), and c12's semantic admission decisions run
    * against the maintained zones — hash-matching c12's oracle, which
    * proves streamed ≡ batch-built for the whole three-zone family.
    *
    * The admission window is the EMBEDDED sub-corpus (c10/c12's rule):
    * the staged source carries only documents inside the embedded
    * range, because the vector gate needs delta AND history vectors.
    */
  def streamSemanticZones(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val embTotal = graft.core.Tables.countOf(spark, dir, "embeddings")
    val (src, schema, cut) = stagedEmbeddedHistorySource(spark, dir)
    scoped("st24") { root =>
      val zones = AdmissionZones(root.toString, Some(emb -> embTotal))
      zones.create(spark)
      runForeachBatchStream(spark, src, schema)(batch => Par.run(zones.appends(batch): _*))
      zones.optimize(spark)
      val docs = graft.core.Tables(spark, dir, "documents")
      TrainingData.semanticAdmissionDecisions(spark, docs, emb,
        docs.filter(col("doc_id") >= cut && col("doc_id") < embTotal),
        zones.md5, zones.sig, zones.annDir)
    }
  }

  /** st22: the shingle document-frequency zone
    * ([[graft.operators.ShingleDfZone]]) maintained FROM THE INGEST
    * STREAM — each micro-batch appends its OWN per-shingle document
    * counts keyed by the foreachBatch batchId (delta-only work; the
    * reader DISTINCTs then sums, so a checkpoint-replayed batch's
    * byte-identical rows are absorbed while disjoint batches add
    * exactly — st13's delta-only discipline with keyed addition in
    * place of the min semilattice). The source feeds history as two
    * DISJOINT id-range batches (df is additive over disjoint batches;
    * an overlap-replay source would double-count, which is why this
    * stream stages its own source shape). After the stream, the capped
    * signature zone is built BOUND to the streamed df zone (the
    * calibrate-then-index deployment order) and the query answers
    * d24's capped incremental dedup from the two streamed/derived
    * zones alone, hash-matching d24's oracle end-to-end.
    */
  def streamDfZone(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, ShingleDfZone, SignatureZone}
    val (src, schema, cut) = stagedDisjointHistorySource(spark, dir)
    import graft.queries.TrainingData.{jaccardThreshold, minhashBands, minhashK, shingleN}
    scoped("st22") { root =>
      val dfZone = root.resolve("df").toString
      val sigZone = root.resolve("sig").toString
      ShingleDfZone.create(spark, dfZone, shingleN)
      runForeachBatchStreamWithId(spark, src, schema) { (batch, id) =>
        ShingleDfZone.append(batch, dfZone, id)
      }
      val docs = graft.core.Tables(spark, dir, "documents")
      val cap = Dedup.deriveDocFreqCap(graft.core.Tables.countOf(spark, dir, "documents"))
      val hist = docs.filter(col("doc_id") < cut)
        .select(col("doc_id"), col("text"))
      SignatureZone.buildCapped(spark, hist, sigZone, dfZone, cap,
        shingleN, minhashK, minhashBands)
      val delta = docs.filter(col("doc_id") >= cut)
        .select(col("doc_id"), col("text"))
      SignatureZone.incrementalPairs(docs, delta, sigZone, jaccardThreshold)
        .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  /** st23: zone DELETES arriving THROUGH the ingest stream — the CDC
    * discipline (st16/q57) applied to the admission zones. Each
    * micro-batch carries upserts AND tombstones: inserts append their
    * band rows and per-doc md5 rows (st21's step), deletes append
    * tombstone rows to BOTH zones ([[graft.operators.SignatureZone
    * .delete]] / `Dedup.md5ZoneDelete` — a delete is itself just an
    * ingest event, append-only and replay-stable). The source replays
    * the first half of history inside the second batch (the overlap
    * shape every maintainer proves itself against: duplicate md5 rows
    * are absorbed by the min-agg read, duplicate bands by the DISTINCT
    * candidates, duplicate tombstones by the anti-join), and the
    * second batch deletes every history doc with `doc_id % 17 = 3` —
    * including docs inserted by the SAME batch (append-then-delete
    * within one batch nets to deleted). After the stream, BOTH zones
    * are OPTIMIZEd (tombstones folded in for good and cleared — the
    * retention GC executed in the streamed posture, result-invisible
    * by the reader contracts), and the admission decisions run against
    * the maintained zones — the oracle replays the same rule by
    * subtracting the deleted ids from the history keeper set and the
    * candidate a-side.
    */
  def streamZoneTombstones(spark: SparkSession, dir: String): DataFrame = {
    val (src, schema, cut) = stagedCdcHistorySource(spark, dir)
    scoped("st23") { root =>
      val zones = AdmissionZones(root.toString)
      zones.create(spark)
      runForeachBatchStream(spark, src, schema) { batch =>
        val (ins, dels) = insertsAndDeletes(batch, "doc_id", "text")
        // the four writes land in four disjoint dirs (bands, md5 rows,
        // and the two tombstone lists) and no decision reads between
        // them inside a batch — one concurrent group (§2.6)
        Par.run(zones.appends(ins) ++ zones.deletes(dels): _*)
      }
      // retention GC in the streamed posture: fold the tombstones (and
      // the per-batch file storm) for good before serving — independent
      // zones, concurrent compactions (§2.6); no zone may keep a
      // tombstone row past the fold
      zones.optimize(spark)
      val docs = graft.core.Tables(spark, dir, "documents")
      TrainingData.admissionDecisions(spark,
        docs, docs.filter(col("doc_id") >= cut), zones.md5, zones.sig)
    }
  }

  /** st25: the ADMISSION LOOP run FROM the checkpointed stream with all
    * three gates and tombstone traffic — the composition every prior
    * entry builds toward, and the production deployment shape: st21/
    * st24 maintain zones from a stream but decide once post-stream; c9
    * loops decisions with zone feedback but batch-side and text-gates-
    * only; st23 streams deletes but decides once. Here EVERY micro-
    * batch is one closed admission round:
    *
    *   1. apply the batch's tombstones to all THREE zones (deletes are
    *      corpus state as of this batch — its own decisions must not
    *      see dead history; st23's CDC discipline);
    *   2. DECIDE the batch's inserts through the three gates
    *      ([[graft.queries.TrainingData.semanticAdmissionDecisions]] —
    *      quality, exact-md5, signature near-dup, ANN semantic) against
    *      the zones AS LEFT BY PRIOR BATCHES, and EMIT the fates as the
    *      batch's output (written before any feedback — c9's
    *      write-then-append ordering inside `foreachBatch`: a lazy plan
    *      must never let a delta doc's own md5 block itself);
    *   3. feed back: append the batch's md5 rows, band rows, and SRP
    *      bucket assignments (zone coverage = ingested history
    *      regardless of fate, the c8/st21 rule).
    *
    * Batch 0 is the history backfill (ingest only — nothing decided,
    * c9's slice-0 rule); batches 1..3 are successive deltas over the
    * EMBEDDED window quarters (c10/c12's window rule); batch 2
    * additionally carries st23's delete traffic (every earlier-ingested
    * `doc_id % 17 = 3`). After the stream all three zones are
    * OPTIMIZEd (tombstones and the per-batch file storm fold — the
    * retention GC in the streamed posture, result-invisible because
    * the fates are already on disk and later probes read the folded
    * zones identically).
    *
    * The oracle replays all three rounds in ONE statement by slice-
    * tagging every stage (c9's construction) extended with the
    * slice-tagged SRP chain (c12's semantic gate per slice) and the
    * tombstone subtraction (st23's live rule, active from slice 2 on)
    * — the green hash proves the streamed loop's zone state after
    * round k answers exactly like a batch computation over
    * live-corpus-through-k, fate for fate, for ALL THREE modality
    * gates at once. `SemanticLoopSpec` additionally pins the looped
    * zone STATE itself ≡ batch-built over the live ingested corpus.
    *
    * Scale shape: per batch, everything c12 pins (delta-sized scoring
    * and bucket projection, zone-keyed shuffled-hash probes with the
    * delta building, candidate-sized verification, edge-touched CC);
    * deletes are tombstone appends (deletes-sized); the loop is
    * checkpointed micro-batch orchestration — per-batch cost grows
    * with the delta and its collisions against history, never with
    * history size.
    *
    * CRASH-REPLAY soundness: `foreachBatch` is at-least-once, so a
    * crash after the feedback appends but before the checkpoint commit
    * replays the batch — which then RE-DECIDES against zones already
    * holding its own rows. Posture-invariance alone does NOT cover
    * this (the probes' delta is the gated/kept SUBSET, so the batch's
    * non-kept rows in the zones would become same-batch blockers the
    * clean timeline never saw); the decide step therefore SELF-EXCLUDES
    * by the admission-timeline contract — zone rows at or above the
    * delta's minimum id are ignored (a pushed-down scalar filter in
    * `admissionDecisions`/`semanticAdmissionDecisions`). With that,
    * tombstone re-appends no-ops to the anti-join readers, and the
    * fate write mode=overwrite, a replayed batch rewrites byte-
    * identical fates — `SemanticLoopSpec` pins the decide step under
    * exactly that replay.
    */
  def streamSemanticAdmissionLoop(spark: SparkSession, dir: String): DataFrame =
    scoped("st25")(runSemanticAdmissionLoop(spark, dir, _))

  /** st25's core against a caller-owned root (the spec inspects the
    * zones the loop leaves behind; the public entry reaps them). The
    * answer is left lazy over the root's fates: the caller materializes
    * it once ([[scoped]]).
    */
  private[graft] def runSemanticAdmissionLoop(spark: SparkSession,
      dir: String, root: java.nio.file.Path): DataFrame = {
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val embTotal = graft.core.Tables.countOf(spark, dir, "embeddings")
    val (src, schema, _) = stagedCdcLoopSource(spark, dir)
    val fates = root.resolve("fates").toString
    val docs = graft.core.Tables(spark, dir, "documents")
    val zones = AdmissionZones(root.toString, Some(emb -> embTotal))
    zones.create(spark)
    runForeachBatchStreamWithId(spark, src, schema) { (batch, id) =>
      val (ins, dels) = insertsAndDeletes(batch, "doc_id", "text")
      // ONE 1-row agg per batch yields the self-exclusion cut and the
      // delete-presence flag ([[batchCutAndDeletes]]) — delete-free
      // batches skip the three zero-row tombstone writes outright
      val (selfCut, hasDels) = batchCutAndDeletes(batch)
      // tombstones FIRST: this batch's decisions see the corpus as of
      // this batch — dead history must not block re-admission. The
      // three zones' tombstone dirs are disjoint — concurrent jobs
      // (§2.6), ordering preserved GROUP-wise (all deletes join before
      // the decide below)
      if (hasDels) Par.run(zones.deletes(dels): _*)
      // decide (batch 0 is history backfill — nothing to decide) and
      // MATERIALIZE the fates before any feedback append; overwrite
      // makes a checkpoint-replayed batch rewrite identical fates.
      // The self-exclusion scalar is computed ONCE per batch and
      // threaded through both gates; ordered=false — the fates are
      // re-read and globally ordered after the stream
      if (id > 0) {
        TrainingData.semanticAdmissionDecisions(
            spark, docs, emb, ins, zones.md5, zones.sig, zones.annDir,
            selfCutOpt = Some(selfCut), ordered = false)
          .write.mode("overwrite").parquet(s"$fates/round=$id")
      }
      // ...then feed back: the batch joins ingested history (disjoint
      // zone dirs — concurrent, after the fates materialized above)
      Par.run(zones.appends(ins): _*)
      // one round's working set, not K (c9's release discipline)
      graft.core.Caches.release()
    }
    // retention GC in the streamed posture: fold tombstones + the
    // per-batch file storm for good (result-invisible: fates are on
    // disk; the folded zones answer later probes identically) —
    // independent zones, concurrent compactions (§2.6)
    zones.optimize(spark)
    TrainingData.roundFates(spark, fates).orderBy(col("doc_id"))
  }

  /** st29: the FULL STREAMED PRODUCTION PIPELINE — the terminal
    * deployment shape of the whole admission stack, the reference's
    * watermark ingest loop
    * (s3_to_db_cardano_blocks_pipeline.py:64-127) generalized to
    * training-data curation: every micro-batch runs one closed
    * curation round END TO END, from CDC traffic to a packed training
    * shard on disk.
    *
    * Per micro-batch:
    *   1. tombstones to all three zones (st25's CDC discipline);
    *   2. CALIBRATED four-gate decide — c13's per-source thresholds on
    *      the quality gate, then exact-md5, signature near-dup, and
    *      ANN semantic against the zones as left by prior batches
    *      ([[graft.queries.TrainingData.semanticAdmissionDecisions]]
    *      with `calThresholds` — the same code c13 gates with);
    *   3. fates written (overwrite — replay rewrites byte-identical);
    *   4. the batch's kept docs assign to the PERSISTED centroids of
    *      the last refresh (c10's literal-centroid codegen'd
    *      projection — zero shuffle, zero history reads);
    *   5. per-cluster token-budget cut + sequence packing
    *      ([[graft.queries.TrainingData.admissionShardTail]] — the
    *      SAME code c14 runs batch-side) and the round's SHARD written
    *      (overwrite, replay-idempotent);
    *   6. zone feedback: md5/band/SRP-bucket appends for every
    *      ingested row regardless of fate (the c8/st21 coverage rule).
    *
    * The DECISION state is refresh output trained BEFORE the stream
    * opens, over the batch-0 history slice (the st27/st28 rule —
    * thresholds and centroids are properties of the last refresh, not
    * of a batch; per-batch re-fits would make fates depend on replay
    * timing): c13's calibration thresholds and c10's Lloyd centroids,
    * both persisted and read back per batch.
    *
    * Batch 0 is history backfill (ingest only); batches 1..3 decide
    * the embedded window's quarters; batch 2 carries st23's delete
    * traffic. Post-stream, all three zones are OPTIMIZEd
    * (result-invisible — fates and shards are on disk).
    *
    * Output: one row per DECIDED document — the fates LEFT JOINed with
    * its shard row (cid/n_tokens/start_off/seq_start/seq_end NULL for
    * docs not selected into their round's shard). The oracle replays
    * the whole thing in one statement: st25's slice-tagged three-gate
    * loop with c13's threshold CTE swapped into the gate, then c14's
    * assignment + quota + packing chain PER SLICE — a green hash
    * proves the streamed pipeline's zone state, calibrated decisions,
    * and per-round shards all equal the batch semantics, round for
    * round.
    *
    * Scale shape: decide as c12/c13 pin it (delta-sized scoring, the
    * #sources-row threshold broadcast, zone-keyed shuffled-hash probes
    * with the delta building, candidate-sized verification); assign is
    * a narrow kept-delta projection; the shard tail is c14's pinned
    * exchange set (ONE cid exchange, ONE doc_id range exchange) over
    * the kept delta only. Per-batch cost ∝ delta + its collisions
    * against history — history text, vectors, and shards are never
    * re-read.
    */
  def streamProductionPipeline(spark: SparkSession, dir: String): DataFrame =
    scoped("st29")(runProductionPipeline(spark, dir, _))

  /** st30: st29 with the DECISION-STATE REFRESH closed into the loop —
    * the missing half of the refresh discipline (zone GEOMETRY already
    * grows through [[graft.operators.ZoneRebuild]]; the decision state
    * — c13's calibration thresholds and c10's centroids — previously
    * never refreshed inside any loop, so at 100 TB both drift with the
    * corpus). Here the loop runs a SCHEDULED re-fit at the batch-3
    * trigger, BEFORE that batch decides: both refresh outputs are
    * re-fitted over the GROWN live history (derived from the md5
    * zone's own keeper rows — ingested minus tombstoned, the state the
    * zones actually cover) and land through `ZoneRebuild.rebuild`'s
    * fingerprint-guarded atomic cutover. Rounds 1-2 decide and pack
    * with the slice-0 fit; round 3 provably uses the refreshed state
    * (the oracle replays BOTH threshold tables and BOTH centroid fits,
    * slice-routed — a green hash proves which fit served which round).
    *
    * Refresh-at-trigger-start, not at previous-batch-end, for REPLAY
    * soundness: the re-fit is deterministic (exact integer medians,
    * integer Lloyd) over the zone-covered live corpus BELOW the
    * delta's minimum id — the batch's own inserts are self-excluded
    * and the batch's tombstones are applied first, so a
    * checkpoint-replayed batch 3 whose zone feedback appends already
    * landed re-runs the rebuild into a value-identical swap and
    * re-decides identically (the id filter strips the replayed
    * appends; re-applied tombstones are no-ops under the zone
    * readers' anti-joins). A previous-batch-end refresh would instead
    * let a replayed batch 2 see state fitted AFTER its clean-timeline
    * decide. RefreshLoopSpec pins the swap-instant invariant
    * (same-history rebuild changes no decision), that round 3
    * diverges from the unrefreshed posture (the refresh BINDS), and
    * that a replayed batch-3 refresh+decide over crash-point zones
    * reproduces round 3's recorded fates exactly.
    */
  def streamRefreshLoop(spark: SparkSession, dir: String): DataFrame =
    scoped("st30")(runProductionPipeline(spark, dir, _, refreshAtBatch = Some(3L)))

  /** st31: st29 with the MEDIA modality closed into the loop — the
    * five-gate terminal shape (calibrated quality, exact-md5, text
    * near-dup, ANN semantic, Hamming media). The
    * [[graft.operators.HammingZone]] joins the per-batch zone set:
    * tombstones apply to it first like the others, each micro-batch
    * decodes ITS OWN audio rows exactly once (st26's rule — the
    * fingerprints feed both the survivors' gate probe and the feedback
    * append, so no row is decoded twice even within a batch), kept
    * survivors probe stored history signatures to `media_dup` fates
    * via the same CC pass (c17's gate), and the zone is OPTIMIZEd with
    * the rest post-stream. The media probe self-excludes at the
    * delta's minimum id, so a checkpoint-replayed batch whose own
    * chunk rows already landed decides identically (the st25
    * crash-replay contract extended to the fourth modality).
    */
  def streamMediaLoop(spark: SparkSession, dir: String): DataFrame =
    scoped("st31")(runProductionPipeline(spark, dir, _, mediaGate = true))

  /** st32: the TOKENIZER REFRESH closed into the streamed loop — the
    * last trained structure to get the zone + scheduled-re-fit
    * discipline every other decision state already has (thresholds
    * st30, centroids c10/st30, index geometry c16). x31 trains and c18
    * encodes batch-side; here the merge table is a PERSISTED ZONE
    * ([[graft.operators.Bpe.saveMerges]]) serving every micro-batch's
    * encode, and the loop runs a scheduled re-fit at the batch-3
    * trigger — without it, a growing corpus's vocabulary drifts and
    * the priced token budgets quietly rot.
    *
    * Per micro-batch: tombstones to the md5 zone FIRST (the zone's
    * keeper rows ARE the live-corpus record the re-fit reads — st30's
    * no-side-channel rule); at the refresh trigger, re-train the merge
    * table over the zone-covered live history BELOW the delta's
    * minimum id and cut over through [[graft.operators.ZoneRebuild]];
    * then ENCODE the batch's inserts under the zone's current table —
    * a k-row load inlined as a literal replace chain, zero joins, the
    * c18 projection verbatim ([[graft.queries.TrainingData
    * .bpeEncoded]]) — and write the round's priced rows (overwrite —
    * a replayed batch rewrites byte-identical rows); finally append
    * the batch's md5 rows (ingested-history coverage, the c8/st21
    * rule).
    *
    * Rounds 1-2 therefore encode under the slice-0 fit; round 3
    * provably encodes under the re-fit table: the oracle trains BOTH
    * chains (slice-0, and live-through-slice-2 = slices 0-2 minus
    * batch-2 tombstones — exactly the md5 zone's keeper state at the
    * trigger) and routes each round to its chain, so a green hash
    * proves which table served which round, token count for token
    * count. TokenizerLoopSpec pins the swap-instant invariant (a
    * same-history rebuild changes no count), that the refresh BINDS
    * (round 3 diverges from the unrefreshed posture), and crash-replay
    * determinism (a replayed batch-3 refresh+encode over crash-point
    * zones reproduces the recorded rows — the min-id self-exclusion
    * strips the replayed appends, re-applied tombstones are absorbed
    * by the zone reader's anti-join).
    *
    * CRASH-REPLAY soundness of the re-fit mirrors st30's argument
    * verbatim: deterministic training (exact integer pair counts,
    * fixed tiebreaks) over the live keeper set below the delta's min
    * id — the id filter is a no-op on the clean timeline and strips a
    * replayed batch's own pre-crash appends on the dirty one.
    *
    * Scale shape: the re-fit is x31's cost (ONE corpus-histogram pass
    * over live history, then metadata-sized merge iterations) run
    * beside the serving zone; per-batch encode is delta-sized and
    * join-free; md5 maintenance is delta-sized appends. Nothing
    * rescans history between refreshes.
    */
  def streamTokenizerLoop(spark: SparkSession, dir: String): DataFrame =
    scoped("st32")(runTokenizerLoop(spark, dir, _, refreshAtBatch = Some(3L)))

  /** st32's core against a caller-owned root (the spec inspects the
    * zones and replays the refresh; the public entry reaps them and
    * materializes the lazy answer once, [[scoped]]).
    */
  private[graft] def runTokenizerLoop(spark: SparkSession, dir: String,
      root: java.nio.file.Path,
      refreshAtBatch: Option[Long] = None): DataFrame = {
    import graft.operators.{Bpe, Dedup}
    val (src, schema, _) = stagedCdcLoopSource(spark, dir)
    val md5Zone = AdmissionZones(root.toString).md5
    val bpeZone = root.resolve("bpe").toString
    val priced = root.resolve("priced").toString
    val docs = graft.core.Tables(spark, dir, "documents")
    val histCut = graft.core.Tables.countOf(spark, dir, "embeddings") / 4L
    // the slice-0 fit, trained BEFORE the stream opens and persisted
    // (tokenizer state belongs to the last refresh, not to a batch)
    Bpe.saveMerges(spark, Bpe.train(docs.filter(col("doc_id") < histCut),
      col("text"), TrainingData.bpeVocabTop, TrainingData.bpeMerges), bpeZone)
    runForeachBatchStreamWithId(spark, src, schema) { (batch, id) =>
      val (ins, dels) = insertsAndDeletes(batch, "doc_id", "text")
      // tombstones FIRST: the re-fit reads the corpus as of this batch
      Dedup.md5ZoneDelete(dels, md5Zone)
      if (refreshAtBatch.contains(id)) {
        // scheduled re-fit at trigger START, self-excluding this
        // batch's own inserts at the delta's minimum id (st30's
        // replay-determinism rule)
        val live = liveHistory(spark, md5Zone, TrainingData.selfExclusionCut(ins)._1)
        graft.operators.ZoneRebuild.rebuild(spark, bpeZone) { staging =>
          Bpe.saveMerges(spark, Bpe.train(
            docs.join(live, Seq("doc_id"), "left_semi"), col("text"),
            TrainingData.bpeVocabTop, TrainingData.bpeMerges), staging)
        }
      }
      if (id > 0) {
        // encode under the zone's CURRENT table (whichever refresh
        // landed it) and materialize before the feedback append;
        // overwrite makes a replayed batch rewrite identical rows
        val merges = Bpe.loadMerges(spark, bpeZone)
        TrainingData.bpeEncoded(ins, merges)
          .write.mode("overwrite").parquet(s"$priced/round=$id")
      }
      // ...then feed back: the batch joins ingested history
      Dedup.md5ZoneAppend(ins, col("text"), col("doc_id"), md5Zone)
      graft.core.Caches.release()
    }
    // retention GC in the streamed posture (st25's closing discipline)
    AdmissionZones.optimizeAll("md5" -> (() => Dedup.optimizeMd5Zone(spark, md5Zone)))
    spark.read.parquet(priced)
      .select(col("doc_id"), col("round").cast("long").as("round"),
        col("n_words"), col("n_syms0"), col("n_bpe_tokens"),
        col("compression"))
      .orderBy(col("doc_id"))
  }

  /** st29/st30/st31's core against a caller-owned root (the specs
    * inspect zones and per-round shards; the public entries reap
    * them and materialize the lazy answer once, [[scoped]]).
    * `refreshAtBatch`: run the scheduled decision-state refresh at the
    * start of this batch id (st30); None = the slice-0 fit serves the
    * whole loop (st29). `mediaGate`: maintain the Hamming zone and
    * decide with the fifth (media) gate (st31).
    */
  private[graft] def runProductionPipeline(spark: SparkSession,
      dir: String, root: java.nio.file.Path,
      refreshAtBatch: Option[Long] = None,
      mediaGate: Boolean = false): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.core.Tables(spark, dir, "embeddings")
    val embTotal = graft.core.Tables.countOf(spark, dir, "embeddings")
    val (src, schema, _) = stagedCdcLoopSource(spark, dir)
    val fates = root.resolve("fates").toString
    val shards = root.resolve("shards").toString
    val docs = graft.core.Tables(spark, dir, "documents")
    val zones = AdmissionZones(root.toString, Some(emb -> embTotal), media = mediaGate)
    zones.create(spark)
    // the REFRESH outputs, trained over the batch-0 history slice
    // BEFORE the stream opens and persisted (decision state belongs to
    // the last refresh; a per-batch re-fit would tie fates to replay
    // timing and orphan prior rounds' shards)
    val histCut = embTotal / 4L
    TrainingData.calibrationThresholds(
        docs.filter(col("doc_id") < histCut)
          .select(col("doc_id"), col("source"), col("text")))
      .write.parquet(s"$root/cal")
    Similarity.saveCentroids(spark,
      Similarity.kmeansFit(emb.filter(col("vec_id") < histCut)),
      s"$root/cents")
    runForeachBatchStreamWithId(spark, src, schema) { (batch, id) =>
      val (ins, dels) = insertsAndDeletes(batch, "doc_id", "source", "text")
      // ONE 1-row agg per batch yields the self-exclusion cut for the
      // refresh and every decide gate AND whether this batch carries
      // deletes at all ([[batchCutAndDeletes]]) — delete-free batches
      // skip the per-zone tombstone writes outright (3-4 zero-row
      // fixed-cost writes per batch, measured round 18)
      val (selfCut, hasDels) = batchCutAndDeletes(batch)
      // tombstones FIRST (st25's rule: this batch's decisions see the
      // corpus as of this batch) — disjoint zone dirs, concurrent jobs
      // (§2.6); the whole group joins before the refresh/decide below
      if (hasDels) Par.run(zones.deletes(dels): _*)
      if (refreshAtBatch.contains(id)) {
        // The scheduled re-fit, at trigger START (before this batch's
        // decide), AFTER this batch's tombstones, SELF-EXCLUDING this
        // batch's own inserts at the delta's minimum id — the
        // HammingZone.incrementalPairs rule applied to the refresh.
        // That makes the re-fit replay-deterministic in both
        // directions a crash can skew it: a checkpoint-replayed batch
        // whose zone feedback appends already landed re-fits WITHOUT
        // its own keeper rows (the id filter, a no-op on the clean
        // timeline where every prior slice sits below the delta's
        // min), and re-applied tombstones are absorbed by the zone
        // reader's anti-join (append-only tombstones are idempotent).
        val live = liveHistory(spark, zones.md5, selfCut)
        // the two re-fits read the SAME persisted live set and land in
        // disjoint zone dirs — concurrent rebuilds (§2.6): the
        // threshold scan back-fills the Lloyd fit's driver-sequential
        // seeding tail
        Par.run(
          () => graft.operators.ZoneRebuild.rebuild(spark, s"$root/cal") { staging =>
            TrainingData.calibrationThresholds(
                docs.join(live, Seq("doc_id"), "left_semi")
                  .select(col("doc_id"), col("source"), col("text")))
              .write.parquet(staging)
          },
          () => graft.operators.ZoneRebuild.rebuild(spark, s"$root/cents") { staging =>
            Similarity.saveCentroids(spark, Similarity.kmeansFit(
              emb.join(live.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi")), staging)
          })
      }
      // decision state re-read per trigger: the last refresh's output,
      // whichever trigger it landed at (k-row reads — negligible)
      val cal = spark.read.parquet(s"$root/cal")
      val cents = Similarity.loadCentroids(spark, s"$root/cents")
      // the batch's audio decoded EXACTLY ONCE (st26's rule): these
      // fingerprints feed both the survivors' media probe and the
      // feedback append below
      val batchSigs = Option.when(mediaGate)(
        graft.core.Caches.persistTracked(TrainingData.audioSigs(ins)))
      if (id > 0) {
        // decide with the calibrated gate (and the media gate when the
        // Hamming zone rides along) and MATERIALIZE the fates before
        // any feedback append (c9's write-then-append ordering)
        val decided =
          if (mediaGate) TrainingData.mediaAdmissionDecisions(
            spark, docs, emb, ins, zones.md5, zones.sig, zones.annDir, zones.hamDir,
            calThresholds = Some(cal), deltaSigs = batchSigs,
            selfCutOpt = Some(selfCut), ordered = false)
          else TrainingData.semanticAdmissionDecisions(
            spark, docs, emb, ins, zones.md5, zones.sig, zones.annDir,
            calThresholds = Some(cal),
            selfCutOpt = Some(selfCut), ordered = false)
        decided.write.mode("overwrite").parquet(s"$fates/round=$id")
      }
      // the shard tail reads the fates BACK from disk — lineage
      // truncation (the c14 localCheckpoint rule: the tail's four
      // consumers must not each nest the full admission subtree).
      // It reads only fates/docs/emb/cents, the feedback appends write
      // only the zone dirs — disjoint, so the tail rides the SAME
      // concurrent group as the appends (§2.6 widened, round 18): the
      // write-then-append ordering only requires the FATES on disk
      // before any append, which the write above already guarantees.
      val shardTail: Seq[() => Unit] = if (id > 0) Seq(() => {
        val kept = spark.read.parquet(s"$fates/round=$id")
          .filter(col("fate") === "kept")
          .select(col("doc_id"), col("quality_score"))
        TrainingData.admissionShardTail(docs, kept,
            TrainingData.keptCids(emb, kept, cents))
          .write.mode("overwrite").parquet(s"$shards/round=$id")
      }) else Nil
      // ...then feed back: the batch joins ingested history (disjoint
      // zone dirs — concurrent, after the fates materialized)
      Par.run(shardTail ++ zones.appends(ins, batchSigs): _*)
      graft.core.Caches.release()
    }
    // retention GC in the streamed posture (st25's closing discipline)
    // — independent zones, concurrent compactions (§2.6)
    zones.optimize(spark)
    TrainingData.roundFates(spark, fates)
      .join(spark.read.parquet(shards)
        .select(col("doc_id"), col("cid"), col("n_tokens"),
          col("start_off"), col("seq_start"), col("seq_end")),
        Seq("doc_id"), "left")
      .orderBy(col("doc_id"))
  }

  /** The input of a scheduled decision-state re-fit (st30, st32): the
    * live history the md5 zone covers — its own keeper rows, ingested
    * minus tombstoned, exactly the state every gate probes (no
    * side-channel corpus knowledge) — below the delta's self-exclusion
    * `cut`, persisted for the re-fits that read it.
    */
  private def liveHistory(spark: SparkSession, md5Zone: String, cut: Long): DataFrame = {
    val live = graft.operators.Dedup.md5ZoneRead(spark, md5Zone)
      .select(col("keeper_id").as("doc_id")).distinct()
    graft.core.Caches.persistTracked(
      if (cut == Long.MaxValue) live else live.filter(col("doc_id") < lit(cut)))
  }

  /** The staged source of the admission loops (st25, st29-st32): the
    * EMBEDDED window in QUARTERS under an `op` column — batch 0 = slice
    * 0 (history backfill), batches 1..3 = slices 1..3 (successive
    * deltas); batch 2 additionally carries the delete traffic (every
    * earlier-ingested `doc_id % 17 = 3`, i.e. ids below the slice-2
    * boundary — rows with op = 'D' and empty source and text). Carries
    * the `source` column the calibrated gate keys on; the uncalibrated
    * loops ignore it.
    */
  private[streaming] def stagedCdcLoopSource(
      spark: SparkSession, dir: String): (String, StructType, Unit) =
    stageBatches("st29src", dir, "documents", "embeddings") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      val e = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val bounds = (1 to 3).map(k => e * k / 4L)
      def ins(slice: org.apache.spark.sql.Column) =
        docs.filter(slice).withColumn("op", lit("I"))
      val id = col("doc_id")
      val dels = docs.filter(id < bounds(1) && id % 17 === 3)
        .select(id, lit("").as("source"), lit("").as("text"), lit("D").as("op"))
      (Seq(ins(id < bounds(0)), ins(id >= bounds(0) && id < bounds(1)),
        ins(id >= bounds(1) && id < bounds(2)).unionAll(dels),
        ins(id >= bounds(2) && id < e)), ())
    }

  /** st26: the Hamming-signature zone ([[graft.operators.HammingZone]])
    * maintained FROM THE INGEST STREAM — each micro-batch DECODES ITS
    * OWN audio rows (m6's fingerprint, delta-only — the whole point of
    * the zone is that history media is never decoded twice) and appends
    * their signature chunk rows. The overlap-replay source (st20's
    * shape) proves structural idempotency: replayed chunk rows and a
    * zone that already holds the delta are both absorbed by the read
    * side's DISTINCTed candidates and signature lookup. After the
    * stream the zone is OPTIMIZEd (replays and the per-batch file storm
    * genuinely fold) and the query answers d26's incremental audio
    * dedup from the streamed zone alone, hash-matching d26's oracle.
    */
  def streamHammingZone(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.HammingZone
    import graft.queries.TrainingData.{audioHammingBits, audioHammingChunks, audioHammingMax}
    val (src, schema, cut) = stagedDocumentSource(spark, dir)
    scoped("st26") { root =>
      val zone = root.resolve("ham").toString
      HammingZone.create(spark, zone,
        audioHammingBits, audioHammingMax, audioHammingChunks)
      runForeachBatchStream(spark, src, schema) { batch =>
        HammingZone.append(graft.queries.TrainingData.audioSigs(batch), zone)
      }
      AdmissionZones.optimizeAll("hamming" -> (() => HammingZone.optimize(spark, zone)))
      val docs = graft.core.Tables(spark, dir, "documents")
      HammingZone.incrementalPairs(
          graft.queries.TrainingData.audioSigs(
            docs.filter(col("doc_id") >= cut)), zone)
        .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  /** st23's staged source: history in the overlap-replay shape with an
    * `op` column — batch a inserts the first half, batch b re-inserts
    * ALL of history and deletes every `doc_id % 17 = 3` (rows with
    * op = 'D' and empty text).
    */
  private[streaming] def stagedCdcHistorySource(
      spark: SparkSession, dir: String): (String, StructType, Long) =
    stageBatches("st23src", dir, "documents") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val cut = docs.count() * 4L / 5L
      val a = docs.filter(col("doc_id") < cut / 2)
        .withColumn("op", lit("I"))
      val b = docs.filter(col("doc_id") < cut)
        .withColumn("op", lit("I"))
        .unionAll(docs.filter(col("doc_id") < cut && col("doc_id") % 17 === 3)
          .select(col("doc_id"), lit("").as("text"), lit("D").as("op")))
      (Seq(a, b), cut)
    }

  /** st22's staged source: history (ids < cut) as two DISJOINT
    * id-range batches — the df zone's additivity contract (see
    * [[streamDfZone]]); replay protection is the batch KEY, exercised
    * at the operator spec level.
    */
  private def stagedDisjointHistorySource(
      spark: SparkSession, dir: String): (String, StructType, Long) =
    stageBatches("st22src", dir, "documents") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val cut = docs.count() * 4L / 5L
      (Seq(docs.filter(col("doc_id") < cut / 2),
        docs.filter(col("doc_id") >= cut / 2 && col("doc_id") < cut)), cut)
    }

  /** st21's staged source: HISTORY ONLY (ids < cut) in the overlap-
    * replay shape — first half of history, then all of it. The delta
    * (ids >= cut) never enters the stream: it is the batch being
    * ADMITTED by the read-side query, not yet part of the corpus the
    * zones describe. The zones' coverage domain is INGESTED history —
    * every history document regardless of quality or dedup fate (both
    * this builder and c8's batch twin index all of history, and the
    * oracle replays the same rule), so a delta doc can legitimately be
    * fated exact_dup/near_dup with `dup_of` pointing at a history doc
    * that was itself never admitted: duplicate-of-rejected is still
    * duplicate content, and blocking it keeps re-ingesting the same
    * rejected text from ever buying admission. What must NOT enter the
    * zones mid-decision is the DELTA itself (a delta md5 entering
    * ungated would let a low-quality delta doc block its own content
    * key); c9's loop appends each delta only AFTER its fates are
    * materialized.
    */
  private def stagedHistorySource(
      spark: SparkSession, dir: String): (String, StructType, Long) =
    stageBatches("st21src", dir, "documents") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val cut = docs.count() * 4L / 5L
      (Seq(docs.filter(col("doc_id") < cut / 2), docs.filter(col("doc_id") < cut)), cut)
    }

  /** st24's staged source: the EMBEDDED history slice (ids < 4/5 of
    * the embeddings count — c10/c12's window rule, so the read side's
    * vector gate has delta vectors at every SF) in st21's
    * overlap-replay shape: first half of that history, then all of it.
    * Fingerprints BOTH tables — the cut moves with the embeddings.
    */
  private def stagedEmbeddedHistorySource(
      spark: SparkSession, dir: String): (String, StructType, Long) =
    stageBatches("st24src", dir, "documents", "embeddings") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val cut =
        spark.read.parquet(s"$dir/embeddings.parquet").count() * 4L / 5L
      (Seq(docs.filter(col("doc_id") < cut / 2), docs.filter(col("doc_id") < cut)), cut)
    }

  /** st20's staged source: the documents table in the overlap-replay
    * shape — the history slice (first 4/5 by id, d22's cut), then ALL
    * rows (every history document replays and the delta arrives). Also
    * returns the cut for the read side's delta definition.
    */
  private def stagedDocumentSource(
      spark: SparkSession, dir: String): (String, StructType, Long) =
    stageBatches("st20src", dir, "documents") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val cut = docs.count() * 4L / 5L
      (Seq(docs.filter(col("doc_id") < cut), docs), cut)
    }

  /** st19's staged source: the embeddings table in the overlap-replay
    * shape (lower-id half, then ALL rows — every first-slice vector
    * replays). Also returns the corpus size for the zone's capacity
    * plan.
    */
  private def stagedEmbeddingSource(
      spark: SparkSession, dir: String): (String, StructType, Long) =
    stageBatches("st19src", dir, "embeddings") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
      (Seq(emb.filter(col("vec_id") < half), emb), emb.count())
    }

  /** st15's staged source: the overlap-replay shape (first file, then
    * ALL rows) split on the id RANGE instead of parity — time-ordered
    * ingest, where each batch's merged delta lands range-disjoint files
    * (what makes min/max skipping selective under streaming append).
    */
  private def stagedRangeOverlapSource(
      spark: SparkSession, dir: String): (String, StructType, Unit) =
    stageBatches("st15src", dir, "events") {
      val events = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val half = events.agg(max(col("event_id"))).head().getLong(0) / 2
      (Seq(events.filter(col("event_id") < half), events), ())
    }

  /** The st6/st11/st12 shared staged source: two overlapping parquet
    * files (evens, then ALL rows — every key of the first replays) under
    * one staged directory, the shape that makes any downstream PK merge
    * prove effectively-once. Staged once per JVM per content fingerprint.
    */
  private[graft] def stagedOverlapSource(
      spark: SparkSession, dir: String): (String, StructType) = {
    val (src, schema, _) = stageBatches("st6src", dir, "events") {
      val events = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
      (Seq(events.filter(col("event_id") % 2 === 0), events), ())
    }
    (src, schema)
  }

  /** The canonical checkpointed micro-batch driver: one file per
    * trigger, `AvailableNow`, each batch handed to `load`. This seam is
    * what lets st12's Derby warehouse loop and the live-PostgreSQL twin
    * (PostgresStreamLoopSpec) run the IDENTICAL stream — only the
    * warehouse transport differs.
    */
  private[graft] def runForeachBatchStream(
      spark: SparkSession, src: String, schema: StructType)(
      load: DataFrame => Unit): Unit =
    runForeachBatchStreamWithId(spark, src, schema)((batch, _) => load(batch))

  /** [[runForeachBatchStream]] exposing the foreachBatch batchId — for
    * maintainers whose replay idempotency is keyed on it (the
    * [[graft.operators.ShingleDfZone]] contract) rather than
    * structural.
    */
  private[graft] def runForeachBatchStreamWithId(
      spark: SparkSession, src: String, schema: StructType)(
      load: (DataFrame, Long) => Unit): Unit = {
    val root = scratchDir("fbstream")
    try {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch((batch: DataFrame, id: Long) => load(batch, id))
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally reap(root)
  }

  /** Spec seam: one ingest pass plus `1` replay against the same
    * checkpoint, returning (result, rowsAfterFirst, rowsAfterReplay) so
    * the caller can assert the replay was a no-op.
    */
  private[graft] def incrementalIngestWithReplay(
      spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val (df, counts) = incrementalIngestRuns(spark, dir, replays = 1)
    (df, counts.head, counts(1))
  }

  private def incrementalIngestRuns(
      spark: SparkSession, dir: String, replays: Int): (DataFrame, Seq[Long]) = {
    val (src, schema) = stagedOverlapSource(spark, dir)
    val counts = Seq.newBuilder[Long]
    val df = scoped("st6") { root =>
      val target = root.resolve("data").toString
      (0 to replays).foreach { _ =>
        ingestIncremental(
          spark, src, schema, target, Seq("event_id"), root.resolve("ckpt").toString,
          filesPerTrigger = Some(1))
        // the per-run count exists for the replay proof only — the plain
        // query (replays = 0) must not pay an extra job for it
        counts += (if (replays > 0) spark.read.parquet(target).count() else -1L)
      }
      spark.read.parquet(target).orderBy(col("event_id"))
    }
    (df, counts.result())
  }

  /** Stage `df` as a single named parquet file inside `destDir` (the
    * file-source staging twin of [[readEventsStaged]] for multi-file
    * sources with controlled contents).
    */
  private def stageSingleFile(df: DataFrame, destDir: java.nio.file.Path, name: String): Unit = {
    val tmp = scratchDir("stage1")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(f => f.isFile && f.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      Files.move(part.toPath, destDir.resolve(name), StandardCopyOption.REPLACE_EXISTING): Unit
    } finally reap(tmp)
  }

  /** Stream-static broadcast enrichment (st8): the streaming fact joined
    * to a STATIC dimension. Stateless — no watermark, no state store:
    * each micro-batch plans a broadcast hash join against the dim, the
    * production shape for reference-data enrichment at ingest time (at
    * 100 TB/day the fact never shuffles for the join; the dim rides the
    * broadcast).
    */
  def enrichedEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = graft.core.Tables.eventCategories.toDF("event_type", "category")
    val enriched = readEventsStaged(spark, dir)
      .join(broadcast(dim), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("category"),
        round(col("value") * 100).cast("long").as("cents"))
    runDurable(enriched, "append").orderBy(col("event_id"))
  }

  /** Stateful streaming dedup on the event key — the streaming twin of
    * the sink's PK conflict-skip. Uses `dropDuplicatesWithinWatermark`,
    * not `dropDuplicates`: with the key alone, plain dropDuplicates
    * keeps EVERY key ever seen (the watermark only evicts dedup state
    * when the event-time column is part of the keys — which would make
    * the key (id, ts), not id), so its state grows without bound on an
    * unbounded stream. WithinWatermark expires a key once the watermark
    * passes its event time + delay: state is bounded by the watermark
    * window regardless of key-universe size, and duplicates arriving
    * within the delay (the at-least-once redelivery window a real
    * source produces) are still dropped — the production contract.
    */
  def dedupedEvents(spark: SparkSession, dir: String): DataFrame = {
    val deduped = readEventsStaged(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"), col("user_id"))
    // 8 (not 4): dedup state holds the keys inside the watermark window
    // (bounded — that is dropDuplicatesWithinWatermark's point), but
    // per-event keys make it the largest state among the streaming
    // queries on this fixture, so it gets more state partitions.
    val out = withStatePartitions(spark, 8)(runDurable(deduped, "append"))
    out.orderBy(col("event_id"))
  }
}
