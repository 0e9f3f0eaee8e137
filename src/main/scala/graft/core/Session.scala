package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-mode session every main and the test suite build, so
  * no entry point drifts from the settings the queries assume.
  */
object Session {

  /** Compiled-class cache size (Spark's default is 100). The cache is
    * keyed by (context classloader, code), and in local mode the driver
    * and the executor threads use different loaders, so every class
    * takes two entries. At 100 an ETL tick recompiled code it had
    * already compiled 123 times out of 156 (79 LRU evictions, 44
    * executor-loader twins), about 2.6 s of compiling. At 2000 one
    * `graft.Bench` pass at sf0.01 on 4 cores compiles 7015 classes
    * instead of 21535 (99 s of compiling instead of 258 s).
    */
  val CodegenCacheEntries = 2000

  /** A `local[cpus]` session (or the running one) with
    * `shuffle.partitions = cpus`, the graft SQL extensions, AQE, a UTC
    * session time zone, no UI, and:
    *   - `parquet.nanosAsLong`: events.parquet carries TIMESTAMP(NANOS),
    *     which [[Tables]] converts;
    *   - a scratch warehouse, so session-lifetime bucketed tables (s11,
    *     the staged zone tables) never land in the working directory;
    *   - shuffle/broadcast spill on RAM-backed scratch ([[Scratch]]);
    *   - a codegen cache of [[CodegenCacheEntries]] classes.
    * Logging is set to WARN.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", Scratch.dir("graft_wh"))
      .config("spark.local.dir", Scratch.sparkLocalDir())
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
