package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set-up (several times, each in a fresh
  * session), one closed-loop client timing whole operations, then an
  * optional traced window with the engine listeners attached. Raw
  * samples and per-layer metrics go to `--out` as JSON; perfbench/run.py
  * turns them into the reported metrics and runs the correctness checks.
  *
  * Usage: graft.perfbench.Main --workload W --input DIR --work DIR
  *   --out FILE --seconds S --trace 0|1 --cpus N --setups N
  *   [workload options]
  */
object Main {
  final case class Sample(name: String, startMs: Long, secs: Double, units: Long, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args("cpus")
    val workload: Workload = args("workload") match {
      case "etl_ticks" => new EtlTicks(args("start-height").toLong, args("base-blocks").toInt,
        args("tick-blocks").toInt)
      case "curation_stream" => new CurationStream(args("input"), args("docs").toLong)
      case w => sys.error(s"unknown workload $w")
    }

    // Set-up, several times: each a fresh session on a fresh stage; the
    // last one is kept.
    var spark: SparkSession = null
    val setupSecs = (1 to args("setups").toInt).map { k =>
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(work, cpus)
      workload.setup(spark, s"$work/stage$k")
      (System.nanoTime() - t0) / 1e9
    }
    // a failed warm-up is reported as one more failed operation
    val warmUp = {
      val t0 = System.nanoTime()
      val error = try { workload.warmUp(spark); None }
        catch { case e: Throwable => Some(errorClass(e)) }
      graft.core.Caches.release(blocking = true)
      Sample("warm_up", 0L, (System.nanoTime() - t0) / 1e9, 0L, error)
    }

    workload.checkpoint()
    val untraced = window(spark, workload, seconds, new Spans(false))
    var layers = Map.empty[String, Double]
    var tracedOps = Seq.empty[Sample]
    if (traced) {
      // The overhead baseline: an untraced window as warm as the traced
      // one that follows it. Both start from the state the untraced
      // window started from, so all three time the same operations.
      workload.rewind()
      val baseline = window(spark, workload, seconds, new Spans(false))
      workload.rewind()
      workload match {
        case e: EtlTicks => e.countFetches()
        case _ =>
      }
      FetchLedger.reset()
      val spans = new Spans(true)
      val ledger = new Ledger(spark)
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      ledger.attach()
      val fromMs = System.currentTimeMillis()
      tracedOps = window(spark, workload, seconds, spans)
      val toMs = System.currentTimeMillis()
      ledger.detach()
      val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      layers = engineMetrics(ledger, fromMs, toMs, tracedOps, cpus.toInt, spans) ++
        workload.layerMetrics(spans, tracedOps.count(_.error.isEmpty)) +
        ("jvm.heap_peak_mb" -> heapPeakMb) +
        ("trace.overhead_ratio" -> ratio(tracedOps, baseline))
      tracedOps = baseline ++ tracedOps
    }

    val extra = workload.finish(spark, s"$work/check")
    spark.stop()

    def sample(x: Sample): String =
      s"""{"name":${Io.q(x.name)},"secs":${x.secs},"units":${x.units},""" +
        s""""error":${x.error.map(Io.q).getOrElse("null")}}"""
    def samples(s: Seq[Sample]): String = s.map(sample).mkString("[", ",", "]")
    def nums(s: Seq[Double]): String = s.mkString("[", ",", "]")
    Io.write(args("out"),
      s"""{"setup_s":${nums(setupSecs)},"warm_up":${sample(warmUp)},"ops":${samples(untraced)},""" +
      s""""traced_ops":${samples(tracedOps)},""" +
      s""""extra":${extra.map { case (k, v) => s"${Io.q(k)}:${nums(v)}" }.mkString("{", ",", "}")},""" +
      s""""layers":${layers.toSeq.sortBy(_._1).map { case (k, v) => s"${Io.q(k)}:$v" }.mkString("{", ",", "}")}}""")
    // stray non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }

  def session(work: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One closed-loop client: start an operation, wait for it, repeat
    * until the window closes (at least one operation). A failed
    * operation is recorded with its error class; its time counts
    * against throughput but never as a latency sample.
    */
  def window(spark: SparkSession, w: Workload, seconds: Double, spans: Spans): Seq[Sample] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (out.isEmpty || System.nanoTime() < deadline) {
      System.gc()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val s = try {
        // the blocking release of tracked caches is part of the operation
        val op = try w.next(spark, spans)
          finally spans("caches_release")(graft.core.Caches.release(blocking = true))
        Sample(op.name, startMs, (System.nanoTime() - t0) / 1e9, op.units, None)
      } catch {
        case e: Throwable =>
          Sample("failed", startMs, (System.nanoTime() - t0) / 1e9, 0L, Some(errorClass(e)))
      }
      out += s
    }
    out.toSeq
  }

  def errorClass(e: Throwable): String = e match {
    case t: org.apache.spark.SparkThrowable if t.getCondition != null =>
      s"${e.getClass.getName}:${t.getCondition}"
    case _ if e.getCause != null && e.getCause.isInstanceOf[org.apache.spark.SparkThrowable] =>
      errorClass(e.getCause)
    case _ => e.getClass.getName
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def ratio(traced: Seq[Sample], untraced: Seq[Sample]): Double = {
    def ok(s: Seq[Sample]) = s.filter(_.error.isEmpty)
    val u = ok(untraced).map(_.secs).sum / math.max(ok(untraced).map(_.units).sum, 1L)
    val t = ok(traced).map(_.secs).sum / math.max(ok(traced).map(_.units).sum, 1L)
    if (u > 0) t / u else 0.0
  }

  /** Engine-level per-layer metrics of the traced window, per completed
    * operation (so runs with different operation counts compare).
    */
  private def engineMetrics(l: Ledger, fromMs: Long, toMs: Long, ops: Seq[Sample],
      slots: Int, spans: Spans): Map[String, Double] = {
    val n = math.max(ops.count(_.error.isEmpty), 1).toDouble
    val wallS = (toMs - fromMs) / 1000.0
    val driverOnlyS = (toMs - fromMs - l.jobBusyMs(fromMs, toMs)) / 1000.0
    val execRunS = l.executorRunMs / 1000.0
    // streaming phases: batches, their trigger/addBatch/walCommit, the
    // executions and jobs started while a trigger ran, and the tail
    // from the last trigger's end to the operation's return
    val batches = l.progress.size.toDouble
    val inTrigger = (t: Long) => l.progress.exists { case (s, d, _, _) => t >= s && t <= s + d }
    val postStreams = ops.filter(_.error.isEmpty).flatMap { s =>
      val end = s.startMs + s.secs * 1000
      val ends = l.progress.map(p => p._1 + p._2).filter(e => e >= s.startMs && e <= end)
      ends.maxOption.map(e => (end - e) / 1000.0)
    }
    val perBatch = (c: Double) => if (batches > 0) c / batches else 0.0
    Map(
      "spark.sql_executions" -> l.sqlExecutions / n,
      "spark.jobs" -> l.jobs / n,
      "spark.tasks" -> l.tasks / n,
      "spark.planning_s" -> l.planningMs / 1000.0 / n,
      "spark.driver_only_s" -> driverOnlyS / n,
      "spark.executor_run_s" -> execRunS / n,
      "spark.executor_cpu_s" -> l.executorCpuNs / 1e9 / n,
      "spark.gc_s" -> l.gcMs / 1000.0 / n,
      "spark.input_bytes" -> l.inputBytes / n,
      "spark.shuffle_read_bytes" -> l.shuffleReadBytes / n,
      "spark.shuffle_write_bytes" -> l.shuffleWriteBytes / n,
      "spark.spill_bytes" -> l.spillBytes / n,
      "spark.output_bytes" -> l.outputBytes / n,
      "spark.unattributed_s" -> math.max(0.0, wallS - driverOnlyS - execRunS / slots) / n,
      "core.caches_release_s" -> spans.seconds("caches_release") / n,
      "streaming.batches" -> batches / n,
      "streaming.trigger_p50_s" -> median(l.progress.map(_._2 / 1000.0).toSeq),
      "streaming.add_batch_s" -> perBatch(l.progress.map(_._3).sum / 1000.0),
      "streaming.wal_commit_s" -> perBatch(l.progress.map(_._4).sum / 1000.0),
      "streaming.executions_per_batch" -> perBatch(l.sqlStartTimes.count(inTrigger).toDouble),
      "streaming.jobs_per_batch" -> perBatch(l.jobStartTimes.count(inTrigger).toDouble),
      "streaming.post_stream_s" -> median(postStreams))
  }
}
