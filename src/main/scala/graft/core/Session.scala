package graft.core

import org.apache.spark.sql.SparkSession

/** The one local-mode session every main and the test suite build, so
  * no entry point drifts from the settings the queries assume.
  */
object Session {

  /** A `local[cpus]` session (or the running one) with
    * `shuffle.partitions = cpus`, the graft SQL extensions, AQE, a UTC
    * session time zone, no UI, and:
    *   - `parquet.nanosAsLong`: events.parquet carries TIMESTAMP(NANOS),
    *     which [[Tables]] converts;
    *   - a scratch warehouse, so session-lifetime bucketed tables (s11,
    *     the staged zone tables) never land in the working directory;
    *   - shuffle/broadcast spill on RAM-backed scratch ([[Scratch]]).
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
