package graft.cardano

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent bulk load — the reference's one genuinely custom sink
  * (SURVEY §2.2 K3): `CREATE TEMP TABLE … COPY … INSERT … ON CONFLICT
  * (pk) DO NOTHING` in one transaction (`cardano_block_dao.py:93-148`).
  *
  * Spark-first re-expression, two backends sharing one merge semantic:
  *
  *  - [[mergeBatch]]: the pure relational core — within-batch PK dedup +
  *    left-anti join against existing keys. The anti-join shuffles BOTH
  *    sides on the PK — exactly the partitioning the append wants, and at
  *    100 TB the "existing keys" side is a column-pruned scan of just the
  *    key columns (never the full rows).
  *  - [[upsertParquet]]: lakehouse tables (used by tests and the offline
  *    pipelines here), split into [[stage]] and [[publish]] so a caller
  *    can stage several tables at once and publish them in FK order.
  *  - [[pgMergeStatements]]: the JDBC path — emits the staging-table DDL
  *    and the single `INSERT … SELECT … ON CONFLICT DO NOTHING` merge so
  *    a driver-side transaction can bracket multi-table FK-ordered loads
  *    (`s3_to_db_cardano_tx_utxo_pipeline.py:142-209`). Spark task
  *    retries can double-write into the STAGING table at most — the
  *    merge dedups on the deterministic PK, which is why surrogate ids
  *    are sha2-derived, not uuid4 (SURVEY §7.4 exactly-once).
  */
object IdempotentSink {

  final case class MergeStats(staged: Long, inserted: Long, conflictSkipped: Long)

  /** Within-batch dedup on the conflict key, then anti-join away rows
    * whose key already exists in the target (Q5 semantics).
    */
  def mergeBatch(staged: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame = {
    val deduped = staged.dropDuplicates(keys)
    val existingKeys = existing.select(keys.map(col): _*)
    deduped.join(existingKeys, keys, "left_anti")
  }

  /** A merge delta written beside its table, complete but not yet
    * visible to the table's readers; [[publish]] makes it visible.
    * `creates` marks the delta of a table that did not exist yet.
    */
  final case class StagedDelta(table: String, delta: String, creates: Boolean,
      stats: MergeStats)

  /** Load-merge-append into a parquet table (creates it if absent):
    * [[stage]] the delta, then [[publish]] it. Returns counts so callers
    * (and the idempotency spec) can assert re-loads insert zero.
    *
    * Crash windows: a crash while staging leaves the table untouched
    * and a stale `<table>.delta-*` sibling, swept by the table's next
    * stage. A crash mid-publish into an existing table leaves some of
    * the delta's files moved and the rest in the delta dir — the same
    * window a FileOutputCommitter v1 job commit (a per-file rename loop)
    * has; the batch's watermark is not yet written, so the re-run's
    * anti-join inserts what did not land, and its stage sweeps the
    * remains. Creating a table publishes by ONE directory rename, so the
    * table appears whole or not at all.
    */
  def upsertParquet(
      spark: SparkSession,
      staged: DataFrame,
      path: String,
      keys: Seq[String]): MergeStats = {
    val d = stage(spark, staged, path, keys)
    publish(spark, d)
    d.stats
  }

  /** Write the merge of `staged` into the table at `path` as ONE write
    * job, to a sibling delta dir (the merge plan reads the table, so it
    * cannot write into it): within-batch dedup, then — when the table
    * exists — the anti-join against its key columns, read under a
    * schema typed from `staged.schema` (no footer-inference job). Both
    * counts ride that job as observed metrics (staged rows before the
    * dedup/anti-join, surviving rows after) — no separate count()
    * actions, each of which would re-run the merge plan. First sweeps
    * the table's stale delta dirs, which a crashed stage or publish
    * left behind; this relies on the single-writer assumption every
    * sweep here makes (as [[graft.operators.Generations]] does). Tables
    * with no FK between them may be staged concurrently.
    */
  def stage(
      spark: SparkSession,
      staged: DataFrame,
      path: String,
      keys: Seq[String]): StagedDelta = {
    import org.apache.spark.sql.Observation
    sweepDeltas(spark, path)
    val creates = !graft.core.Fs.exists(spark, path)
    val inObs = Observation()
    val outObs = Observation()
    val in = staged.observe(inObs, count(lit(1)).as("n"))
    val fresh =
      if (creates) in.dropDuplicates(keys)
      else mergeBatch(in, spark.read
        .schema(StructType(keys.map(k => staged.schema(k))))
        .parquet(path), keys)
    val delta = s"$path.delta-${UUID.randomUUID().toString.take(8)}"
    fresh.observe(outObs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(delta)
    val stagedCount = inObs.get("n").asInstanceOf[Long]
    val inserted = outObs.get("n").asInstanceOf[Long]
    StagedDelta(path, delta, creates, MergeStats(stagedCount, inserted, stagedCount - inserted))
  }

  /** Make a staged delta visible: a new table by renaming the delta dir
    * to the table path, an existing one by RENAMING the delta's part
    * files into the table dir ([[graft.core.Fs.moveParts]]) — no second
    * job re-reading and rewriting what was just written. Part names
    * carry the write job's UUID, so they never collide with the
    * table's; the table stays flat (every part at its top level); a
    * delta of zero rows adds no file; the delta dir is always gone
    * afterwards.
    */
  def publish(spark: SparkSession, d: StagedDelta): Unit =
    if (d.creates) {
      val (fs, delta) = graft.core.Fs.resolve(spark, d.delta)
      require(fs.rename(delta, new Path(d.table)), s"publish rename failed: ${d.delta}")
    } else {
      if (d.stats.inserted > 0) graft.core.Fs.moveParts(spark, d.delta, d.table)
      graft.core.Fs.deleteRecursively(spark, d.delta)
    }

  private def sweepDeltas(spark: SparkSession, path: String): Unit = {
    val (fs, table) = graft.core.Fs.resolve(spark, path)
    val prefix = table.getName + ".delta-"
    val parent = table.getParent
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent, (p: Path) => p.getName.startsWith(prefix))
        .foreach(s => fs.delete(s.getPath, true): Unit)
  }

  /** Bucketed-table upsert — the scale layout for a hot merge target: the
    * table is bucketed on the conflict key, so the existing side of the
    * PK anti-join is ALREADY hash-partitioned on the key and the merge
    * shuffles only the incoming batch (one Exchange instead of two, and
    * the big side never moves — the dominant cost of a merge into a
    * 100 TB table). The delta is `localCheckpoint`ed before the append
    * because the plan reads the table it appends to (a cluster swaps in a
    * reliable checkpoint or a transactional table format).
    */
  def upsertBucketed(
      spark: SparkSession,
      staged: DataFrame,
      table: String,
      keys: Seq[String],
      numBuckets: Int = 8): MergeStats = {
    import org.apache.spark.sql.Observation
    val inObs = Observation()
    val outObs = Observation()
    val observed = staged.observe(inObs, count(lit(1)).as("n"))
    def bucketed(df: DataFrame) =
      df.write.format("parquet").bucketBy(numBuckets, keys.head, keys.tail: _*)
    if (!spark.catalog.tableExists(table)) {
      bucketed(observed.dropDuplicates(keys).observe(outObs, count(lit(1)).as("n")))
        .saveAsTable(table)
      val (s, i) = (inObs.get("n").asInstanceOf[Long], outObs.get("n").asInstanceOf[Long])
      MergeStats(s, i, s - i)
    } else {
      val fresh = mergeBatch(observed, spark.table(table), keys)
        .observe(outObs, count(lit(1)).as("n"))
        .localCheckpoint()
      val (s, i) = (inObs.get("n").asInstanceOf[Long], outObs.get("n").asInstanceOf[Long])
      if (i > 0) bucketed(fresh).mode(SaveMode.Append).saveAsTable(table)
      MergeStats(s, i, s - i)
    }
  }

  /** The Postgres merge plan: statements bracketing a `df.write.jdbc`
    * load of the staging table. Mirrors `cardano_block_dao.py:122-148`
    * with one deliberate change: the staging table is a REGULAR
    * (unlogged) uniquely-named table, never `CREATE TEMPORARY … ON COMMIT
    * DROP` — Postgres temp tables are session-local, and the distributed
    * load arrives over EXECUTOR connections which would each see their
    * own empty temp table. It is dropped explicitly after the merge
    * commits. Execution (Derby live in tests, Postgres in a deployment)
    * lives in [[JdbcSink]]; this emits the same statements for callers
    * that manage their own connection.
    */
  def pgMergeStatements(
      table: String,
      columns: Seq[String],
      keys: Seq[String],
      stagingSuffix: String = UUID.randomUUID().toString.replace("-", "")): (String, Seq[String]) = {
    val staging = s"stg_${table}_$stagingSuffix"
    val d = JdbcSink.PostgresDialect
    (staging,
      (d.createStagingSql(table, staging) +:
        d.preMergeSql(staging, columns, keys)) ++
        (d.mergeSql(table, staging, columns, keys) +: d.dropSql(staging)))
  }
}
