package graft.cardano

import java.sql.Timestamp
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The Spark jobs the ETL store runs, counted with a listener: the
  * watermark reads and the warehouse reads pay no schema-inference job,
  * and a stage's merges publish nothing when one of them fails.
  */
class EtlJobsSpec extends SparkSpec {

  /** Properties of every job started while `f` ran. */
  private def jobsDuring[A](f: => A): (A, Seq[Properties]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Properties]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new Properties())): Unit
    }
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.GraftBus.drain(sc)
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** Jobs outside any SQL execution: footer inference and the like. */
  private def outsideSql(jobs: Seq[Properties]): Seq[Properties] =
    jobs.filter(_.getProperty("spark.sql.execution.id") == null)

  test("watermark reads: no job on an absent store, exactly one on a present one") {
    val wm = new Watermarks(spark, tmpDir("wm"))
    val (q1, absent1) = jobsDuring(wm.highestExportedBlock("cardano_blocks"))
    val (q2, absent2) = jobsDuring(wm.latestLoadedFileDate("cardano_blocks"))
    assert(q1 == 0L && q2.isEmpty)
    assert(absent1.isEmpty && absent2.isEmpty, s"${absent1.size} + ${absent2.size} jobs")

    val ts = Timestamp.valueOf("2026-01-02 03:04:05")
    wm.recordBatch("cardano_blocks", 2000L, Some(ts))
    wm.recordBatch("cardano_blocks", 4000L, None)
    wm.recordBlockExport("other_table", 9999L)
    val (h, present1) = jobsDuring(wm.highestExportedBlock("cardano_blocks"))
    val (d, present2) = jobsDuring(wm.latestLoadedFileDate("cardano_blocks"))
    assert(h == 4000L && d.contains(ts))
    assert(present1.size == 1 && present2.size == 1,
      s"Q1 ran ${present1.size} jobs, Q2 ${present2.size}")
    // a table with no rows in a present store reads the defaults
    assert(wm.highestExportedBlock("cardano_tx_utxo") == 0L)
    assert(wm.latestLoadedFileDate("other_table").isEmpty)
  }

  test("readTable and a merge into an existing table run no inference job") {
    val root = tmpDir("etljobs")
    val p = new Pipelines(spark, new Lake(spark, s"$root/lake"), s"$root/warehouse",
      new Watermarks(spark, s"$root/status"), new BlockfrostSource.FixtureBackend,
      batchSize = 10)
    p.runBlocks(1, 10)
    val (blocks, readJobs) = jobsDuring(p.readTable("cardano_blocks"))
    assert(readJobs.isEmpty, s"readTable ran ${readJobs.size} jobs")
    assert(blocks.count() == 10)
    // the next batch merges into the existing table
    val (_, mergeJobs) = jobsDuring(p.runBlocks(11, 20))
    assert(mergeJobs.nonEmpty)
    assert(outsideSql(mergeJobs).isEmpty,
      s"${outsideSql(mergeJobs).size} of ${mergeJobs.size} jobs ran outside a SQL execution")
    assert(p.readTable("cardano_blocks").count() == 20)
  }

  /** The fixture chain with one input amount made non-numeric in every
    * UTXO doc, so only the input-amount merge fails (its decimal cast).
    */
  private final class BadInputAmounts extends BlockfrostSource.Backend {
    private val fixture = new BlockfrostSource.FixtureBackend
    def block(height: Long): Option[String] = fixture.block(height)
    def blockTxs(height: Long): Option[String] = fixture.blockTxs(height)
    def tx(hash: String): Option[String] = fixture.tx(hash)
    def txUtxo(hash: String): Option[String] =
      fixture.txUtxo(hash).map(_.replaceFirst("\"quantity\": \"", "\"quantity\": \"x"))
  }

  test("a failure staging one UTXO child publishes nothing; the re-run loads the batch") {
    val root = tmpDir("etlcrash")
    val wh = s"$root/warehouse"
    def over(backend: BlockfrostSource.Backend) =
      new Pipelines(spark, new Lake(spark, s"$root/lake"), wh,
        new Watermarks(spark, s"$root/status"), backend, batchSize = 25)
    val good = over(new BlockfrostSource.FixtureBackend)
    good.runBlocks(1, 50)
    good.runBlockTxs(1, 50)
    good.runTransactions(1, 50)
    good.runUtxos(1, 25)
    val dirs = Schemas.warehouse.keys.toSeq.sorted.map(t => s"$wh/$t") ++
      Seq("provider_to_s3_import_status", "s3_to_db_import_status").map(t => s"$root/status/$t")
    def state() = dirs.map(d => d -> graft.core.Fs.fingerprint(spark, d))
    val before = state()

    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try intercept[Exception](over(new BadInputAmounts).runUtxos(26, 50))
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    state().zip(before).foreach { case ((d, now), (_, was)) =>
      assert(now == was, s"$d changed although the stage failed")
    }

    good.runUtxos(26, 50)
    val txs = good.readTable("cardano_transactions").count()
    Seq("cardano_tx_utxo", "cardano_tx_utxo_input", "cardano_tx_utxo_output",
      "cardano_tx_utxo_output_amount").foreach { t =>
      assert(good.readTable(t).count() == txs, t)
    }
    val in = good.readTable("cardano_tx_utxo_input")
    val inAmt = good.readTable("cardano_tx_utxo_input_amount")
    assert(inAmt.count() > txs)
    assert(inAmt.join(in, inAmt("parent_id") === in("id"), "left_anti").count() == 0)
    assert(in.join(inAmt, in("id") === inAmt("parent_id"), "left_anti").count() == 0)
    val left = new java.io.File(wh).list().filter(_.contains(".delta-"))
    assert(left.isEmpty, left.mkString(", "))
    assert(new Watermarks(spark, s"$root/status").highestExportedBlock("cardano_tx_utxo") == 50L)
  }
}
