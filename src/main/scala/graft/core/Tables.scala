package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Loaders for the driver-provided star schema (TESTDATA.md).
  *
  * Every query in [[graft.SparkEntry]] reads through here so the scan path
  * is uniform: explicit parquet reads, no schema inference surprises, and
  * Catalyst gets a clean `FileScan parquet` it can push filters/projections
  * into. At 100 TB these would be partitioned/bucketed tables behind the
  * same function — the query code does not change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The event_type → category reference dimension shared by every query
    * that enriches events (s10's DPP build side, st8's stream-static
    * join) AND inlined in their oracle SQL — one definition so a mapping
    * change is a one-site edit that the oracles then catch.
    */
  val eventCategories: Seq[(String, String)] = Seq(
    ("click", "browse"), ("view", "browse"), ("purchase", "conversion"),
    ("signup", "conversion"), ("error", "ops"))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive scan widening for COMPUTE-HEAVY per-row operators
    * (media decode, trained-BPE encode): when the input plan yields
    * fewer partitions than the session's default parallelism — the
    * single-row-group-file case, where a parquet scan is one task no
    * matter the core count — round-robin repartition up to it so the
    * expensive projection actually uses the machine. At deployment
    * scale input splits ≫ cores and this is a no-op branch (no added
    * exchange); it must ONLY wrap operators whose per-row cost
    * dominates a narrow shuffle of their input columns. Result-
    * invariant: every consumer is partitioning-independent by the
    * oracle contract (deterministic hash ranks, total output ORDER BY).
    * The input's width is its leaf scans' planned splits, which need no
    * job — `df.rdd`'s partition count would run AQE's upstream shuffles
    * once extra just to finalize the plan.
    */
  def widened(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plannedSplits(df.queryExecution.sparkPlan) < target) df.repartition(target)
    else df
  }

  /** The summed input splits of `plan`'s leaves, from file listings and
    * existing RDDs.
    */
  private def plannedSplits(plan: SparkPlan): Int = plan.collectLeaves().map {
    case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    case s: RDDScanExec => s.rdd.getNumPartitions
    case s: InMemoryTableScanExec => plannedSplits(s.relation.cachedPlan)
    case s: AdaptiveSparkPlanExec => plannedSplits(s.inputPlan)
    case s => math.max(1, s.outputPartitioning.numPartitions)
  }.sum

  // Base-table row counts keyed on the file's listing fingerprint —
  // the incremental cuts (count*4/5) and window bounds re-run a 1-row
  // count job at the head of nearly every training-data query and
  // every loop rep; caching the scalar per (path, fingerprint) turns
  // those into one FS listing each (the MetaReads discipline for the
  // scan side). Any rewrite of the file misses and recounts.
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** `apply(spark, dir, name).count()`, fingerprint-cached. */
  def countOf(spark: SparkSession, dir: String, name: String): Long = {
    val path = s"$dir/$name.parquet"
    val fp = Fs.fingerprint(spark, path)
    val hit = counts.get(path)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val n = spark.read.parquet(path).count()
      counts.put(path, (fp, n))
      n
    }
  }

  /** `events.ts` arrives in whatever encoding the fixture writer chose —
    * parquet TIMESTAMP(NANOS) read as a long under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (earlier generations),
    * TIMESTAMP_NTZ (a micros writer with isAdjustedToUTC=false — the
    * current generation), or native TIMESTAMP. Queries need ONE type, so
    * every encoding lands as session-zone TimestampType here. All
    * sessions run UTC, so the NTZ cast (wall clock interpreted in the
    * session zone) is instant-preserving and agrees with DuckDB's naive
    * read of the same column; the nanos path floors to micros, matching
    * DuckDB's ns→us truncation.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsSince(spark, dir, None)

  /** Normalize a `ts` column to session-zone TimestampType (see
    * [[events]]); no-op when it already is one.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Events newer than a watermark, with the comparison applied BEFORE
    * the TimestampType conversion: a filter on the raw column (long
    * nanos or NTZ) pushes into the parquet scan (PushedFilters:
    * GreaterThan(ts, …)), whereas filtering a converted expression
    * cannot. The 100 TB shape of "incremental scan skips old data at
    * the source".
    */
  def eventsSince(spark: SparkSession, dir: String, after: Option[java.sql.Timestamp]): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = apply(spark, dir, "events")
    val filtered = (df.schema("ts").dataType, after) match {
      case (_, None) => df
      case (org.apache.spark.sql.types.LongType, Some(ts)) =>
        val nanos = ts.getTime * 1000000L + (ts.getNanos % 1000000)
        df.filter(col("ts") > nanos)
      case (org.apache.spark.sql.types.TimestampNTZType, Some(ts)) =>
        // NTZ literal carrying the watermark's UTC wall clock (sessions
        // run UTC): same-type comparison keeps the parquet pushdown
        val ntz = ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        df.filter(col("ts") > lit(ntz))
      case (_, Some(ts)) => df.filter(col("ts") > lit(ts))
    }
    normalizeTs(filtered)
  }
}
