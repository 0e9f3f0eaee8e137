package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cardano.BlockfrostSource

/** Spans the benchmark records around its own calls into a layer.
  * Disabled spans cost one branch; enabled ones sum wall time per name.
  */
final class Spans(val enabled: Boolean) {
  private val nanos = mutable.LinkedHashMap.empty[String, Long]
  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f
      finally nanos(name) = nanos.getOrElse(name, 0L) + (System.nanoTime() - t0)
    }
  def seconds(name: String): Double = nanos.getOrElse(name, 0L) / 1e9
}

/** Engine-level ledger for one traced window: a SparkListener (jobs,
  * tasks, task metrics, SQL executions), a QueryExecutionListener
  * (planning phases) and a StreamingQueryListener (micro-batch
  * progress). Attached only for the traced window; the untraced window
  * runs with none of them registered.
  */
final class Ledger(spark: SparkSession) {
  var jobs, tasks, sqlExecutions = 0L
  var executorRunMs, executorCpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
  var planningMs = 0L
  private val jobStarts = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val sqlStartTimes = mutable.ArrayBuffer.empty[Long]
  val jobStartTimes = mutable.ArrayBuffer.empty[Long]
  /** (trigger start ms, trigger duration ms, addBatch ms, walCommit ms) */
  val progress = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Ledger.this.synchronized {
      jobs += 1; jobStarts(e.jobId) = e.time; jobStartTimes += e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Ledger.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Ledger.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        executorRunMs += m.executorRunTime
        executorCpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Ledger.this.synchronized {
        sqlExecutions += 1; sqlStartTimes += s.time
      }
      case _ =>
    }
  }

  private val executionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Ledger.this.synchronized {
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Ledger.this.synchronized {
        progress += ((start, ms("triggerExecution"), ms("addBatch"), ms("walCommit")))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the bus has delivered every event posted so far, then
    * unregister.
    */
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
  }

  /** Milliseconds of [from, to] during which at least one job ran. */
  def jobBusyMs(from: Long, to: Long): Long = {
    val clipped = jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

/** Process-wide fetch counters. The backend is serialized into every
  * fetch task, so the counters live here (local mode: tasks run in this
  * JVM) rather than in the backend instance.
  */
object FetchLedger {
  val calls = new LongAdder
  val nanos = new LongAdder
  val keys: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val perSecond = new ConcurrentHashMap[Long, LongAdder]()

  def reset(): Unit = { calls.reset(); nanos.reset(); keys.clear(); perSecond.clear() }

  def record(key: String, ns: Long): Unit = {
    calls.increment()
    nanos.add(ns)
    keys.add(key)
    perSecond.computeIfAbsent(System.currentTimeMillis() / 1000, _ => new LongAdder).increment()
  }

  def peakPerSecond: Long =
    perSecond.values.asScala.map(_.sum).maxOption.getOrElse(0L)
}

/** Counts every backend call (key, wall time) on its way to the wrapped
  * backend. Used only in traced windows.
  */
final class CountingBackend(inner: BlockfrostSource.Backend) extends BlockfrostSource.Backend {
  private def rec[T](key: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally FetchLedger.record(key, System.nanoTime() - t0)
  }
  override def block(h: Long): Option[String] = rec(s"block:$h")(inner.block(h))
  override def blockTxs(h: Long): Option[String] = rec(s"blockTxs:$h")(inner.blockTxs(h))
  override def tx(hash: String): Option[String] = rec(s"tx:$hash")(inner.tx(hash))
  override def txUtxo(hash: String): Option[String] = rec(s"txUtxo:$hash")(inner.txUtxo(hash))
}
