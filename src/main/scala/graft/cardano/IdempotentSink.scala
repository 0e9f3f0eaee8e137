package graft.cardano

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
  *    pipelines here).
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

  /** Load-merge-append into a parquet table (creates it if absent).
    * Returns counts so callers (and the idempotency spec) can assert
    * re-loads insert zero.
    *
    * Into an existing table the merge runs as ONE write job, to a
    * sibling delta directory (the merge plan reads the table, so it
    * cannot write into it), and the delta is published by RENAMING its
    * part files into the table directory ([[graft.core.Fs.moveParts]])
    * — no second job re-reading and rewriting what was just written.
    * Part names carry the write job's UUID, so they never collide with
    * the table's; the table stays flat (every part at its top level); a
    * reload that inserts zero rows adds no file; the delta dir is always
    * deleted. A crash mid-publish leaves some of the delta's files moved
    * and the rest in the delta dir — the same window a FileOutputCommitter
    * v1 job commit (a per-file rename loop) has; the batch's watermark is
    * not yet written, so the re-run's anti-join inserts what did not land.
    */
  def upsertParquet(
      spark: SparkSession,
      staged: DataFrame,
      path: String,
      keys: Seq[String]): MergeStats = {
    import org.apache.spark.sql.Observation
    val exists = graft.core.Fs.exists(spark, path)
    // Both counts ride the ONE write job as observed metrics (staged rows
    // before the dedup/anti-join, surviving rows after) — no separate
    // count() actions, each of which would re-run the merge plan and at
    // scale re-scan the inputs.
    val inObs = Observation()
    val outObs = Observation()
    def observed(df: DataFrame) =
      df.observe(inObs, count(lit(1)).as("n"))
    def counts(): (Long, Long) =
      (inObs.get("n").asInstanceOf[Long], outObs.get("n").asInstanceOf[Long])
    if (!exists) {
      observed(staged).dropDuplicates(keys)
        .observe(outObs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(path)
      val (stagedCount, inserted) = counts()
      MergeStats(stagedCount, inserted, stagedCount - inserted)
    } else {
      val existing = spark.read.parquet(path)
      val fresh = mergeBatch(observed(staged), existing, keys)
        .observe(outObs, count(lit(1)).as("n"))
      // The merge plan reads the same path it appends to, so materialize
      // the delta to a scratch dir first (distributed — never through the
      // driver), then publish its files by rename.
      val delta = s"$path.delta-${UUID.randomUUID().toString.take(8)}"
      fresh.write.mode(SaveMode.Overwrite).parquet(delta)
      val (stagedCount, inserted) = counts()
      if (inserted > 0) graft.core.Fs.moveParts(spark, delta, path)
      graft.core.Fs.deleteRecursively(spark, delta)
      MergeStats(stagedCount, inserted, stagedCount - inserted)
    }
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
