package graft.tools

import graft.SparkEntry

/** Dev-only profiler: runs each query N times to separate JVM/codegen
  * warmup from steady-state, which Bench's single pass cannot see.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)
    // A/B seam for the streaming state backend (same knob as Bench).
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb")) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1))).foreach { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // noop sink like Bench (guide §1.4): count() would let the
        // optimizer prune lazy tails and under-measure
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally graft.core.Caches.release(blocking = true)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s ${times.map(t => f"$t%7.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
