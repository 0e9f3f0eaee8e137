package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** [[Tables.widened]] decides from the planned splits of its input's
  * scans, so the probe runs no Spark job — counted with a listener.
  */
class WidenedJobsSpec extends SparkSpec {

  /** The number of jobs started while `f` ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.GraftBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("widened runs no job: a narrow join input widens, a wide input stays as it is") {
    import spark.implicits._
    val dir = tmpDir("widened")
    (0L until 100L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/docs")
    (0L until 100L by 3L).toDF("doc_id").coalesce(1).write.parquet(s"$dir/ids")
    val target = spark.sparkContext.defaultParallelism
    // a semi-join of two single-split scans: finalizing its AQE plan
    // would run the join's upstream stages
    val narrow = spark.read.parquet(s"$dir/docs")
      .join(spark.read.parquet(s"$dir/ids"), Seq("doc_id"), "left_semi")
    val (w, narrowJobs) = jobsDuring(Tables.widened(narrow))
    assert(narrowJobs == 0, s"the width probe ran $narrowJobs jobs")
    assert(w.rdd.getNumPartitions == target)
    assert(w.count() == narrow.count())

    val wide = spark.range(0L, 1000L, 1L, target * 2).toDF("doc_id")
    val (same, wideJobs) = jobsDuring(Tables.widened(wide))
    assert(wideJobs == 0 && (same eq wide))
  }
}
