package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.cardano.{Analytics, BlockfrostSource, Lake, Pipelines, Watermarks}

/** One timed operation of a workload: its name and the units of work it
  * completed (blocks, documents).
  */
final case class Op(name: String, units: Long)

/** A workload: staged once per set-up, warmed up once, then driven by one
  * closed-loop client that calls [[next]] until the window closes. It
  * writes what its correctness checks need under `checkDir`, outside the
  * timed windows.
  */
trait Workload {
  /** Stage the inputs under `stage` (timed as set-up). */
  def setup(spark: SparkSession, stage: String): Unit
  /** Untimed by the window, reported on its own: what must run once
    * before operations are representative.
    */
  def warmUp(spark: SparkSession): Unit = ()
  /** Run the next operation (the whole of it is timed). */
  def next(spark: SparkSession, spans: Spans): Op
  /** Remember the state operations start from, so that [[rewind]] can
    * return to it: the windows of a traced run then time the same
    * operations over the same state.
    */
  def checkpoint(): Unit = ()
  def rewind(): Unit = ()
  /** Untimed work after the windows: extra measurements and the
    * artifacts the checks read. Returns extra named samples.
    */
  def finish(spark: SparkSession, checkDir: String): Map[String, Seq[Double]]
  /** Per-layer metrics this workload owns, from the traced window. */
  def layerMetrics(spans: Spans, ops: Int): Map[String, Double] = Map.empty
}

object Io {
  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }

  /** Relative paths of the regular files under `root`, sorted. */
  def files(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString).toSeq.sorted
      finally s.close()
    }
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def strings(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** Copy the tree at `from` to `to` (which must not exist). */
  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def rowsJson(rows: Seq[Row]): String =
    rows.map(r => r.toSeq.map(v => if (v == null) "null" else q(v.toString))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
}

/** The reference's Airflow cadence: ticks of new blocks, each a full
  * fetch → raw lake → transform → merge (`Pipelines.runFull` over the
  * fixture chain, default batch size), then the Q6/Q7/Q8 dashboard over
  * the freshly loaded tables, results read back to the client.
  */
final class EtlTicks(startHeight: Long, baseBlocks: Int, tickBlocks: Int) extends Workload {
  private var spark: SparkSession = _
  private var pipelines: Pipelines = _
  private var root: String = _
  private var nextHeight = 0L
  private var checkpointHeight = 0L
  private val dashboards = scala.collection.mutable.ArrayBuffer.empty[String]

  private def pipelinesOver(backend: BlockfrostSource.Backend) =
    new Pipelines(spark, new Lake(spark, s"$root/lake"), s"$root/warehouse",
      new Watermarks(spark, s"$root/status"), backend)

  /** Empty lake, warehouse and watermark store; the store is opened by
    * reading each stage's high-water mark, as every tick starts by doing.
    */
  def setup(s: SparkSession, stage: String): Unit = {
    spark = s
    root = stage
    Seq("lake", "warehouse", "status").foreach(d => Files.createDirectories(Paths.get(s"$stage/$d")))
    pipelines = pipelinesOver(new BlockfrostSource.FixtureBackend)
    val marks = new Watermarks(spark, s"$stage/status")
    Seq("cardano_blocks", "cardano_block_transactions", "cardano_transactions",
      "cardano_tx_utxo").foreach(marks.highestExportedBlock)
  }

  /** Load the base chain window and read the dashboard once. */
  override def warmUp(s: SparkSession): Unit = {
    pipelines.runFull(startHeight, startHeight + baseBlocks - 1)
    dashboard(new Spans(false)): Unit
    nextHeight = startHeight + baseBlocks
  }

  /** Swap in the counting backend for the traced window (same chain). */
  def countFetches(): Unit =
    pipelines = pipelinesOver(new CountingBackend(new BlockfrostSource.FixtureBackend))

  private def dashboard(spans: Spans): (Seq[Row], Seq[Row], Seq[Row]) = spans("dashboard") {
    val in = pipelines.readTable("cardano_tx_utxo_input")
    val inAmt = pipelines.readTable("cardano_tx_utxo_input_amount")
    val txs = pipelines.readTable("cardano_transactions")
    (Analytics.topProtocolsByTxCount(in).collect().toSeq,
      Analytics.txMissingUtxo(txs, in).collect().toSeq,
      Analytics.topProtocolsByVolume(in, inAmt).collect().toSeq)
  }

  def next(s: SparkSession, spans: Spans): Op = {
    val (a, b) = (nextHeight, nextHeight + tickBlocks - 1)
    // Pipelines.runFull(a, b), one stage at a time so each can be timed
    spans("run_blocks")(pipelines.runBlocks(a, b))
    spans("run_block_txs")(pipelines.runBlockTxs(a, b))
    spans("run_txs")(pipelines.runTransactions(a, b))
    spans("run_utxos")(pipelines.runUtxos(a, b))
    val (q6, q7, q8) = dashboard(spans)
    dashboards += s"""{"end":$b,"q6":${Io.rowsJson(q6)},"q7":${Io.rowsJson(q7)},"q8":${Io.rowsJson(q8)}}"""
    nextHeight = b + 1
    Op("tick", tickBlocks.toLong)
  }

  /** A copy of the lake, warehouse and watermark store beside them. */
  override def checkpoint(): Unit = {
    Io.deleteTree(s"$root.checkpoint")
    Io.copyTree(root, s"$root.checkpoint")
    checkpointHeight = nextHeight
  }

  override def rewind(): Unit = {
    Io.deleteTree(root)
    Io.copyTree(s"$root.checkpoint", root)
    nextHeight = checkpointHeight
  }

  def finish(s: SparkSession, checkDir: String): Map[String, Seq[Double]] = {
    // the no-op tick: re-run the base window (already loaded), three times
    val before = Io.files(root).filterNot(_.startsWith("lake/"))
    val noop = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      pipelines.runFull(startHeight, startHeight + baseBlocks - 1)
      (System.nanoTime() - t0) / 1e9
    }
    val after = Io.files(root).filterNot(_.startsWith("lake/"))
    Io.write(s"$checkDir/etl.json",
      s"""{"start":$startHeight,"end":${nextHeight - 1},"warehouse":${Io.q(s"$root/warehouse")},""" +
      s""""before_noop":${Io.strings(before)},"after_noop":${Io.strings(after)},""" +
      s""""ticks":${dashboards.mkString("[", ",", "]")}}""")
    Map("noop_tick_s" -> noop)
  }

  override def layerMetrics(spans: Spans, ops: Int): Map[String, Double] = {
    val per = math.max(ops, 1).toDouble
    val calls = FetchLedger.calls.sum.toDouble
    val files = Io.files(root)
    Map(
      "cardano.run_blocks_s" -> spans.seconds("run_blocks") / per,
      "cardano.run_block_txs_s" -> spans.seconds("run_block_txs") / per,
      "cardano.run_txs_s" -> spans.seconds("run_txs") / per,
      "cardano.run_utxos_s" -> spans.seconds("run_utxos") / per,
      "cardano.dashboard_s" -> spans.seconds("dashboard") / per,
      "cardano.fetch.calls" -> calls / per,
      "cardano.fetch.backend_s" -> FetchLedger.nanos.sum / 1e9 / per,
      "cardano.fetch.useful_ratio" -> (if (calls > 0) FetchLedger.keys.size / calls else 0.0),
      "cardano.fetch.peak_calls_per_s" -> FetchLedger.peakPerSecond.toDouble,
      "cardano.watermark_files" -> files.count(f => f.startsWith("status/") && f.endsWith(".parquet")).toDouble,
      "cardano.warehouse_files" -> files.count(f => f.startsWith("warehouse/") && f.endsWith(".parquet")).toDouble)
  }
}

/** st23's streamed curation zones: a checkpointed CDC stream of inserts
  * and deletes maintaining the md5 and MinHash-band zones (tombstones),
  * a post-stream OPTIMIZE folding them, then the admission decisions
  * served from the folded zones. One operation is one whole run over a
  * staged, seeded corpus, its decisions read back to the client. There
  * is no warm-up: the timed run is the JVM's first, as for a job
  * scheduled as a fresh process per run.
  */
final class CurationStream(input: String, docs: Long) extends Workload {
  private val name = "st23_stream_zone_tombstones"
  private var dir: String = _
  private var rows: Seq[Row] = Nil
  private var schema: StructType = _
  private var mismatched = 0

  def setup(spark: SparkSession, stage: String): Unit = {
    dir = stage
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$input/$t.parquet").write.parquet(s"$stage/$t.parquet")
    }
  }

  def next(spark: SparkSession, spans: Spans): Op = {
    val df = SparkEntry.queries(name)(spark, dir)
    val got = df.collect().toSeq
    if (schema == null) { rows = got; schema = df.schema }
    else if (got != rows) mismatched += 1
    Op("stream", docs)
  }

  def finish(spark: SparkSession, checkDir: String): Map[String, Seq[Double]] = {
    // no run returned decisions when every run failed: the check reports it
    val decided = schema != null
    if (decided)
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(s"$checkDir/decisions")
    Io.write(s"$checkDir/stream.json",
      s"""{"dir":${Io.q(dir)},"oracle":${Io.q(SparkEntry.oracleSql(name))},""" +
      s""""decided":$decided,"mismatched_runs":$mismatched}""")
    Map.empty
  }
}
