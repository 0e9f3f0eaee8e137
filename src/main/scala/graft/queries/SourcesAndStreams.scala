package graft.queries

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{StagedLayouts, Tables}
import graft.streaming.EventStream

/** Source round-trips (SURVEY §2.1 S5/S6: schema-first JSON and CSV
  * readers — the raw/transformed lake zones) and the Structured Streaming
  * surface (§2.5), all oracle-verifiable: each query lands data in the
  * alternate format, reads it back with an explicit schema, and
  * aggregates — equality with the parquet-side oracle proves the
  * round-trip lossless (timestamps included).
  */
object SourcesAndStreams {

  private def scratch(prefix: String): String =
    graft.core.Scratch.dir(prefix) + "/data"

  /** S5: raw-zone JSON with explicit schema (multiLine-less JSON lines,
    * schema-on-read — no inference in prod paths). The JSON copy is a
    * session-lifetime staged layout ([[graft.core.StagedLayouts]] — the raw zone a
    * production pipeline reads already exists; the WRITER surface is K1,
    * covered by Lake + c1): the timed query is the schema-first read.
    */
  def s5JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"), col("l_shipdate"))
    val path = StagedLayouts.once(spark, s"s5json:$dir") { () =>
      val p = scratch("s5json")
      src.write.mode(SaveMode.Overwrite).json(p)
      p
    }
    spark.read.schema(src.schema).json(path)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        (sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"),
        max(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("max_ship"))
      .orderBy(col("l_returnflag"))
  }

  /** S6: transformed-zone CSV with header + explicit schema (the
    * reference's CSV zone; engine default is parquet but the reader
    * surface stays supported).
    */
  def s6CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    // staged once per session — see s5JsonRoundtrip
    val path = StagedLayouts.once(spark, s"s6csv:$dir") { () =>
      val p = scratch("s6csv")
      src.write.mode(SaveMode.Overwrite).option("header", "true").csv(p)
      p
    }
    spark.read.schema(src.schema).option("header", "true").csv(path)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("cnt"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("sum_price"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("max_date"))
      .orderBy(col("o_orderstatus"))
  }

  /** S9: ORC round-trip — the third columnar/lake format surface (after
    * parquet and CSV/JSON): write ORC, read back schema-first, aggregate;
    * equality with the parquet-side oracle proves losslessness.
    */
  def s9OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_retailprice"))
    // staged once per session — see s5JsonRoundtrip
    val path = StagedLayouts.once(spark, s"s9orc:$dir") { () =>
      val p = scratch("s9orc")
      src.write.mode(SaveMode.Overwrite).orc(p)
      p
    }
    spark.read.schema(src.schema).orc(path)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("cnt"),
        (sum(round(col("p_retailprice") * 100).cast("long")) / 100.0).as("sum_price"),
        max(col("p_type")).as("max_type"))
      .orderBy(col("p_brand"))
  }

  /** S12: XML round-trip — Spark 4 folded the spark-xml connector into
    * core, making XML a first-class format of the built-in reader
    * surface; same lossless round-trip proof as s5/s6/s9 (write with a
    * rowTag, read back schema-first, aggregate; equality with the
    * parquet-side oracle proves it). Rounds out the format family:
    * parquet / JSON / CSV / ORC / XML.
    */
  def s12XmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"), col("c_name"))
    // staged once per session — see s5JsonRoundtrip
    val path = StagedLayouts.once(spark, s"s12xml:$dir") { () =>
      val p = scratch("s12xml")
      src.write.mode(SaveMode.Overwrite).option("rowTag", "customer").xml(p)
      p
    }
    spark.read.schema(src.schema).option("rowTag", "customer").xml(path)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        (sum(round(col("c_acctbal") * 100).cast("long")) / 100.0).as("sum_bal"),
        max(col("c_name")).as("max_name"))
      .orderBy(col("c_mktsegment"))
  }

  /** S8: read-side schema evolution (the reference's Alembic
    * block_time Integer→DateTime migration, b0673669b6c8, as a lake
    * read). Half of `orders` is written under a v1 schema (totalprice as
    * exact integer cents, BIGINT), half under v2 (DOUBLE dollars);
    * [[graft.cardano.SchemaEvolution.readVersioned]] reads both branches
    * under their own schemas, upgrades v1 in a narrow projection, and the
    * union must aggregate identically to the original table (the oracle
    * reads plain `orders` — equality proves v1 data survives the schema
    * change losslessly).
    */
  def s8SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.cardano.SchemaEvolution
    import org.apache.spark.sql.types._
    val root = scratch("s8evo")
    val orders = Tables(spark, dir, "orders")
    val v1 = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
    val v2 = orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    SchemaEvolution.write(v1, root, 1)
    SchemaEvolution.write(v2, root, 2)
    val versions = Seq(
      SchemaEvolution.Version(1,
        StructType(Seq(StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
          StructField("total_cents", LongType))),
        df => df.withColumn("o_totalprice", col("total_cents") / 100.0).drop("total_cents")),
      SchemaEvolution.Version(2,
        StructType(Seq(StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType))),
        identity))
    SchemaEvolution.readVersioned(spark, root, versions)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("cnt"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Streaming event-time windowed aggregation (epoch-aligned 6h
    * windows + watermark), run to completion via AvailableNow.
    */
  def st1StreamWindowAgg(spark: SparkSession, dir: String): DataFrame =
    EventStream.windowedCounts(spark, dir)

  /** Streaming stateful dedup on the event key. */
  def st2StreamDedup(spark: SparkSession, dir: String): DataFrame =
    EventStream.dedupedEvents(spark, dir)

  /** Arbitrary stateful processing (mapGroupsWithState running stats). */
  def st3StatefulStats(spark: SparkSession, dir: String): DataFrame =
    EventStream.userRunningStats(spark, dir)

  /** st3 through the modern `transformWithState` API with a native
    * state TTL (the TTL-bounded state shape) — same semantics on this
    * bounded replay (nothing expires inside the default TTL), same
    * oracle; real expiry is spec-pinned. See
    * [[EventStream.userRunningStatsTtl]].
    */
  def st10TtlStats(spark: SparkSession, dir: String): DataFrame =
    EventStream.userRunningStatsTtl(spark, dir)

  /** Stream-stream interval join (purchases × preceding-hour clicks). */
  def st4StreamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    EventStream.purchaseClickJoin(spark, dir)

  /** Streaming into a durable parquet sink, read back as a batch table
    * (every streaming query here lands in a durable sink — append-mode
    * file sink or update-mode parquet changelog; none ride the
    * driver-memory harness).
    */
  def st5StreamFileSink(spark: SparkSession, dir: String): DataFrame =
    EventStream.purchasesToFileSink(spark, dir)

  /** Checkpointed incremental ingestion with PK-merge — the reference's
    * watermark + ON CONFLICT loop end-to-end as a stream (the
    * same-checkpoint replay no-op proof lives in EventStreamSpec).
    */
  def st6IncrementalIngest(spark: SparkSession, dir: String): DataFrame =
    EventStream.incrementalIngest(spark, dir)

  /** The stream→live-relational-warehouse loop (checkpointed source,
    * per-batch staging+merge on embedded Derby, JDBC read-back) — the
    * reference's production pattern end-to-end, oracle-hash-checked.
    */
  def st12StreamJdbc(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamToJdbc(spark, dir)

  /** Streaming theta-zone maintenance: micro-batches append per-day
    * user sketches; retention/churn answered from the stored zone and
    * hash-checked against the exact oracle — replay idempotency is
    * structural (set union), not a PK merge.
    */
  def st13StreamSketchZone(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamSketchZone(spark, dir)

  /** Streaming SCD2-dimension maintenance: micro-batches of attribute
    * changes land in a PK-dedup'd change log, only touched keys'
    * versions rebuild, only touched key-buckets rewrite (dynamic
    * partition overwrite); the maintained dim hash-matches q51's
    * from-scratch oracle.
    */
  def st14StreamScd2(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamScd2(spark, dir)

  /** Streaming zone-map maintenance: each micro-batch PK-merges into the
    * data dir and appends per-file stats for its delta only; the range
    * aggregate is answered through the stats-planned pruned read, with
    * real file skipping asserted inline.
    */
  def st15StreamZonemap(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamZoneMapIngest(spark, dir)

  /** Streaming CDC apply: q57's MERGE semantics maintained per
    * micro-batch — full-struct last-writer-wins seq guard (replays apply
    * nothing and skip the rewrite), tombstoned deletes, bucket-scoped
    * dynamic-partition rewrites; the maintained snapshot hash-matches
    * the batch full-outer apply.
    */
  def st16StreamCdc(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamCdc(spark, dir)

  /** Streaming bloom-zone maintenance: each micro-batch PK-merges then
    * builds bloom filters for its delta files only; point lookups plan
    * from the stored bloom table in one metadata pass, with real file
    * skipping asserted inline — st15's membership sibling, closing the
    * streamed-zone family.
    */
  def st17StreamBloom(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamBloomZone(spark, dir)

  /** ONE ingest stream maintaining ALL the zones (sketch + min/max
    * stats + bloom) at a single micro-batch machinery cost, answering
    * all three read shapes from the stored zones with real skipping
    * asserted; the oracle is the UNION of st13/st15/st17's oracle SQL,
    * so a hash match here ≡ matching each independent maintainer.
    */
  def st18StreamAllZones(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamAllZones(spark, dir)

  /** The persisted ANN index zone maintained from a checkpointed
    * ingest stream (overlap-replay source, delta-only bucket appends,
    * structural replay idempotency), then d6's multi-probe top-10
    * answered from the STORED zone alone — hash-matching d6's oracle.
    */
  def st19StreamAnnIndex(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamAnnIndex(spark, dir)

  /** The IVF-flat index zone maintained from a checkpointed ingest
    * stream (quantizer fitted before the stream opens, delta-only cell
    * assignments per batch, structural replay idempotency), then d28's
    * five-query IVF top-10 answered from the STREAMED zone alone —
    * hash-matching d28's oracle.
    */
  def st27StreamIvfIndex(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamIvfIndex(spark, dir)

  /** The PQ code zone maintained from a checkpointed ingest stream
    * (codebooks trained before the stream opens, delta-only encoding
    * per batch, structural replay idempotency), then d30's five-query
    * ADC top-10 answered from the STREAMED zone alone — hash-matching
    * d30's oracle.
    */
  def st28StreamPqCodes(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamPqCodes(spark, dir)

  /** The persisted MinHash signature zone maintained from a
    * checkpointed ingest stream (overlap-replay source, delta-only band
    * appends, structural replay idempotency), then d22's incremental
    * near-dup dedup answered from the STREAMED zone alone —
    * hash-matching d22's oracle.
    */
  def st20StreamSignatureZone(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamSignatureZone(spark, dir)

  /** Both admission zones (exact-md5 + signature) maintained from ONE
    * checkpointed stream — st18's consolidation discipline applied to
    * c8's curation gates — then c8's per-delta admission decisions
    * answered from the STREAMED zones, hash-matching c8's oracle.
    */
  def st21StreamAdmissionZones(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamAdmissionZones(spark, dir)

  /** All three admission zones (md5 + signature + ANN index) maintained
    * from one checkpointed stream, then c12's three-gate semantic
    * admission answered from them — see
    * [[graft.streaming.EventStream.streamSemanticZones]].
    */
  def st24StreamSemanticZones(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamSemanticZones(spark, dir)

  /** The shingle document-frequency zone maintained from a checkpointed
    * stream (disjoint-batch appends keyed by batchId; reader sums),
    * then the capped signature zone built bound to it and d24's capped
    * incremental dedup answered from the streamed/derived zones —
    * hash-matching d24's oracle.
    */
  def st22StreamDfZone(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamDfZone(spark, dir)

  /** Zone deletes arriving THROUGH the ingest stream (CDC for the
    * admission zones): per-batch upserts append band + md5 rows,
    * per-batch deletes append tombstones to both zones; OPTIMIZE folds
    * the tombstones in for good (streamed retention GC) and the
    * admission decisions run against the maintained zones — the oracle
    * subtracts the deleted ids from history coverage.
    */
  def st23StreamZoneTombstones(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamZoneTombstones(spark, dir)

  /** The admission loop run FROM the checkpointed stream with all three
    * gates and tombstone traffic: per micro-batch — apply deletes,
    * decide through quality/exact/near-dup/semantic, EMIT fates, feed
    * the batch's zone rows back — see
    * [[graft.streaming.EventStream.streamSemanticAdmissionLoop]].
    */
  def st25StreamAdmissionLoop(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamSemanticAdmissionLoop(spark, dir)

  /** The FULL streamed production pipeline — per micro-batch:
    * calibrated four-gate decide → fates → persisted-centroid cluster
    * assignment → per-cluster token-budget cut → packed shard emit,
    * with zone feedback; the terminal deployment shape of the
    * admission stack — see
    * [[graft.streaming.EventStream.streamProductionPipeline]].
    */
  def st29StreamProduction(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamProductionPipeline(spark, dir)

  /** st29 with the decision-state refresh closed into the loop: at the
    * batch-3 trigger, c13's thresholds and c10's centroids re-fit over
    * the grown live history and land through ZoneRebuild's atomic
    * cutover — round 3 decides and packs with the refreshed state; see
    * [[graft.streaming.EventStream.streamRefreshLoop]].
    */
  def st30StreamRefreshLoop(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamRefreshLoop(spark, dir)

  /** st29 with the MEDIA modality closed into the loop — the five-gate
    * terminal shape: each micro-batch decodes its own audio once, kept
    * survivors probe the streamed Hamming zone to media_dup fates; see
    * [[graft.streaming.EventStream.streamMediaLoop]].
    */
  def st31StreamMediaLoop(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamMediaLoop(spark, dir)

  /** The tokenizer refresh closed into the streamed loop: the BPE merge
    * table is a persisted zone serving each micro-batch's encode, with
    * a scheduled re-fit over the grown live history cut over at the
    * batch-3 trigger — rounds 1-2 price under the slice-0 fit, round 3
    * provably under the refreshed table; see
    * [[graft.streaming.EventStream.streamTokenizerLoop]].
    */
  def st32StreamTokenizerLoop(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamTokenizerLoop(spark, dir)

  /** The Hamming-signature zone maintained from a checkpointed stream
    * (each batch decodes only ITS OWN audio rows), then d26's
    * incremental audio dedup answered from it — see
    * [[graft.streaming.EventStream.streamHammingZone]].
    */
  def st26StreamHammingZone(spark: SparkSession, dir: String): DataFrame =
    EventStream.streamHammingZone(spark, dir)

  /** The lakehouse maintenance weekend as ONE pipeline: checkpointed
    * ingest with per-batch zone-map stats, OPTIMIZE z-order rewrite,
    * the stats rebuild the rewrite forces, and the 2-D box answered
    * through the rebuilt stats with real pruning asserted inline; the
    * hash match against the original-table box proves the whole chain
    * content-exact.
    */
  def c3LakeMaintenance(spark: SparkSession, dir: String): DataFrame =
    EventStream.lakeMaintenance(spark, dir)

  /** st6's ingest followed by the compaction/OPTIMIZE rewrite; the hash
    * match against st6's oracle proves the rewrite content-exact, and
    * the query itself requires the file fold to have happened.
    */
  def st11CompactedIngest(spark: SparkSession, dir: String): DataFrame =
    EventStream.compactedIngest(spark, dir)

  /** Declarative sessionization via the built-in `session_window`
    * aggregation — st7's semantics with zero custom state code; exact
    * batch-equal via the same sentinel drain.
    */
  def st9SessionWindow(spark: SparkSession, dir: String): DataFrame =
    EventStream.sessionWindowAgg(spark, dir)

  /** Streaming sessionization (flatMapGroupsWithState + event-time
    * timeout) with per-user sentinel drain — emitted sessions equal
    * batch sessionization EXACTLY, hash-checked.
    */
  def st7StreamSessionize(spark: SparkSession, dir: String): DataFrame =
    EventStream.sessionizeStreamComplete(spark, dir)

  /** Stream-static broadcast enrichment: stateless per-batch broadcast
    * hash join against a reference dimension.
    */
  def st8StreamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    EventStream.enrichedEvents(spark, dir)

  /** The cardano backfill DAG end-to-end (EP1+EP2 over the deterministic
    * offline fixture chain) finishing with the reference's Q8 analytics.
    * Independent of the star schema — but the fixture chain is fully
    * deterministic (every field sha256-derived from the height), so the
    * expected output is a CONSTANT and the oracle is a VALUES table: the
    * driver hash-checks the whole ETL surface (S1-S4, K1/K2/K4, T2/T3,
    * Q8) against exact pinned aggregates, the engine twin of the
    * reference pinning expected rows in its DAO integration tests
    * (`integration_tests/src/dao/test_cardano_block_dao.py:48-67`). The
    * same constants are asserted in PipelinesSpec. Excluded from Bench
    * timing (pipeline, not query).
    */
  def c1CardanoBackfillQ8(spark: SparkSession, dir: String): DataFrame = {
    import graft.cardano._
    val root = java.nio.file.Files.createTempDirectory("c1_backfill").toString
    val pipelines = new Pipelines(
      spark,
      new Lake(spark, s"$root/lake"),
      s"$root/warehouse",
      new Watermarks(spark, s"$root/status"),
      new BlockfrostSource.FixtureBackend,
      batchSize = 50)
    pipelines.runFull(1, 60)
    // Long output on both sides: DuckDB decays DECIMAL(38,0) to float64 in
    // the driver's comparison path ("2383740.0" vs Spark's "2383740"), so
    // the hash could never match. Fixture volumes fit comfortably in a
    // long; exactness is unchanged.
    Analytics.topProtocolsByVolume(
        pipelines.readTable("cardano_tx_utxo_input"),
        pipelines.readTable("cardano_tx_utxo_input_amount"))
      .withColumn("volume", col("volume").cast("long"))
  }

  /** c1 family: the sixth warehouse entity — `cardano_tx_output_amount`,
    * the table the reference declares but never loads (broken DTO; see
    * [[graft.cardano.Transforms.transactionOutputAmountDto]]) —
    * populated by the fixture backfill's EP1 chain (blocks → block-txs
    * → transactions, whose raw batch carries the nested array) and
    * rolled up per unit. Constant oracle like c1's Q8: the fixture
    * chain is deterministic, so the exact (unit, n_outputs, volume)
    * rollup is pinned. `c1_` prefix = correctness-only by the
    * documented Bench contract (a full fixture-pipeline run measures
    * the HTTP stub, not the engine).
    */
  def c1CardanoOutputAmount(spark: SparkSession, dir: String): DataFrame = {
    import graft.cardano._
    val root = java.nio.file.Files.createTempDirectory("c1_outamt").toString
    val pipelines = new Pipelines(
      spark,
      new Lake(spark, s"$root/lake"),
      s"$root/warehouse",
      new Watermarks(spark, s"$root/status"),
      new BlockfrostSource.FixtureBackend,
      batchSize = 50)
    pipelines.runBlocks(1, 60)
    pipelines.runBlockTxs(1, 60)
    pipelines.runTransactions(1, 60)
    pipelines.readTable("cardano_tx_output_amount")
      .groupBy(col("unit"))
      .agg(count(lit(1)).as("n_outputs"),
        sum(col("quantity")).cast("long").as("volume"))
      .orderBy(col("unit"))
  }

  /** c4: the engine's data-skipping stack composed into the CARDANO
    * domain — the reference's own access patterns served from pruned
    * file sets. The reference's real analytics are point lookups and
    * scans keyed on tx/block hashes (`README.md:102-122`), and its
    * DB-driven fan-out (`cardano_transactions_to_s3_pipeline_w_param
    * .py:85-92`) is literally "fetch rows for these keys" — exactly
    * what the bloom/zone-map layer (s13/s14, proven on synthetic
    * `events`) exists to serve without opening every file.
    *
    * Pipeline (staged once per JVM — the warehouse is setup, the
    * skipping reads are the query):
    *   1. EP1+EP2 fixture backfill (heights 1-60, batch 15) loads the
    *      warehouse tables through the idempotent PK merge; each batch
    *      appends files whose block-height ranges are DISJOINT — the
    *      layout streaming ingest produces for free;
    *   2. zone-map stats on `cardano_transactions.block_height` and a
    *      bloom zone on `cardano_tx_utxo_input.hash` (the reference's
    *      PKs are hex-hash STRINGS — the string-probe bloom path),
    *      MAINTAINED incrementally: each backfill slice is followed by
    *      delta-only zone appends, with the append path asserted taken;
    *   3. the query: a height window (31-60) planned from the STATS
    *      table (early batches' files provably skipped, asserted), its
    *      tx hashes fanned out against the input table through the
    *      BLOOM plan (only files holding those hashes open, asserted),
    *      then (a) the by-hash lookup rows and (b) the reference's Q6
    *      top-k by tx count computed from the pruned read — both
    *      row-compared inline against the unpruned read (file skipping
    *      must lose nothing), and hash-checked by the driver against
    *      the pinned deterministic-chain oracle.
    *
    * At 100 TB this is the difference between a 1000-key fan-out
    * opening every warehouse file and opening ~the files that hold
    * those keys: planning runs over #files-row metadata tables, never
    * data. The pruned ≡ unpruned row-compare lives in ZoneMapSpec (the
    * [[c4Fanout]] seam), NOT in the query body: an inline full-scan
    * compare would bill the full scan to every execution — at a 100 TB
    * deployment that compare would itself be the bug — so c4 executes
    * (and Bench times) only the pruned plan. The fixture backfill is
    * staged once per session; what Bench measures per run is the
    * metadata planning + the pruned reads, the cost a deployment pays.
    */
  def c4CardanoSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.cardano.Analytics
    val inRows = c4Fanout(spark, pruned = true)
    val lookup = inRows.select(
      lit("lookup").as("section"), col("hash").as("k"),
      col("output_index").cast("long").as("v"))
    val q6 = Analytics.topProtocolsByTxCount(inRows).select(
      lit("q6_topk").as("section"), col("reference_script_hash").as("k"),
      col("tx_count").as("v"))
    lookup.unionByName(q6).orderBy(col("section"), col("k"))
  }

  /** c4's staged warehouse: fixture backfill (heights 1-60, batch 15)
    * with stats/bloom zones MAINTAINED per ingest slice, not built once
    * at the end — after each backfill slice lands its delta files, the
    * stats and bloom appends cover exactly the never-covered files
    * (st15/st17's only-the-delta discipline on the batch path; the
    * backfill's upserts are append-only, so the zones stay exact under
    * the staleness guard). Later slices MUST take the append path, and
    * that is asserted, not assumed.
    */
  private def c4Warehouse(spark: SparkSession): String = {
    import graft.cardano._
    import graft.operators.ZoneMap
    StagedLayouts.once(spark, "c4wh") { () =>
      val root = scratch("c4")
      val pipelines = new Pipelines(
        spark,
        new Lake(spark, s"$root/lake"),
        s"$root/warehouse",
        new Watermarks(spark, s"$root/status"),
        new BlockfrostSource.FixtureBackend,
        batchSize = 15)
      val txDir = s"$root/warehouse/cardano_transactions"
      val inDir = s"$root/warehouse/cardano_tx_utxo_input"
      Seq((1L, 15L), (16L, 30L), (31L, 45L), (46L, 60L)).foreach { case (a, b) =>
        pipelines.runFull(a, b)
        if (graft.core.Fs.exists(spark, s"$root/tx_stats")) {
          val fresh = ZoneMap.appendStats(spark, txDir, s"$root/tx_stats",
            Seq("block_height"))
          require(fresh > 0, s"slice $a-$b appended no tx stats files")
          val freshB = ZoneMap.appendBlooms(spark, inDir, s"$root/in_bloom",
            "hash", 1024)
          require(freshB > 0, s"slice $a-$b appended no bloom files")
        } else {
          ZoneMap.buildStats(spark, txDir, s"$root/tx_stats", Seq("block_height"))
          ZoneMap.buildBlooms(spark, inDir, s"$root/in_bloom", "hash", 1024)
        }
      }
      root
    }
  }

  /** The reference's by-hash fan-out over the c4 warehouse, both ways:
    * `pruned = true` is the production path — the height window planned
    * from the stats table alone, the probe hashes' input files planned
    * in ONE metadata pass over the bloom table, with file skipping
    * ASSERTED on both layers; `pruned = false` answers the same fan-out
    * from full scans (probes included — a stats-layer bug that lost tx
    * rows shows up as a differing probe set, not just differing input
    * rows). ZoneMapSpec row-compares the two; the c4 query executes
    * only the pruned path.
    */
  private[graft] def c4Fanout(spark: SparkSession, pruned: Boolean): DataFrame = {
    import graft.operators.ZoneMap
    val wh = c4Warehouse(spark)
    val txDir = s"$wh/warehouse/cardano_transactions"
    val inDir = s"$wh/warehouse/cardano_tx_utxo_input"
    if (pruned) {
      // height window planned from the stats table alone
      val txTotal = spark.read.parquet(txDir).inputFiles.length
      val prunedTx = ZoneMap.prunedRead(spark, txDir, s"$wh/tx_stats",
        Seq(("block_height", 31L, 60L)))
      require(prunedTx.inputFiles.length < txTotal,
        s"tx zone map pruned nothing (${prunedTx.inputFiles.length}/$txTotal files)")
      // the fan-out key set IS a driver-side list by nature (the
      // reference feeds fetched keys into per-key requests) — bounded
      // by the height window, same altitude as the zone planners
      val probes: Seq[Any] = prunedTx
        .filter(col("block_height").between(31L, 60L))
        .select(col("hash")).collect().map(_.getString(0)).toSeq
      val plan = ZoneMap.bloomPlanFilesAny(spark, inDir, s"$wh/in_bloom", probes)
      val hit = plan.values.flatten.toSeq.distinct
      val inTotal = spark.read.parquet(inDir).inputFiles.length
      require(hit.length < inTotal,
        s"input bloom zone pruned nothing (${hit.length}/$inTotal files)")
      spark.read.parquet(hit: _*).filter(col("hash").isInCollection(probes))
    } else {
      val probes: Seq[Any] = spark.read.parquet(txDir)
        .filter(col("block_height").between(31L, 60L))
        .select(col("hash")).collect().map(_.getString(0)).toSeq
      spark.read.parquet(inDir).filter(col("hash").isInCollection(probes))
    }
  }

  /** Dynamic partition pruning: the fact table lands partitioned on the
    * join key; the dim side's filter is on a NON-key attribute, so static
    * pruning can't apply — at runtime Spark turns the broadcast dim's key
    * set into a partition filter on the fact scan (`PartitionFilters:
    * [dynamicpruning#…]`, pinned by PlanShapeSpec). At 100 TB this is the
    * difference between scanning 2 of N date/type partitions and scanning
    * the table: pruning happens at the FILE level before any fact bytes
    * are read.
    */
  def s10DynamicPartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = StagedLayouts.once(spark, s"s10dpp|$dir") { () =>
      val p = scratch("s10dpp")
      Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.partitionBy("event_type").mode(SaveMode.Overwrite).parquet(p)
      p
    }
    val fact = spark.read.parquet(path)
    // The dim must be a SCANNED relation with a real (non-constant-folded)
    // filter on a non-key attribute — DPP keys off a selective predicate
    // in the build side's plan; an inline LocalRelation folds the filter
    // away and no pruning subquery is planned.
    val dimPath = StagedLayouts.once(spark, s"s10dim|$dir") { () =>
      val p = scratch("s10dim")
      Tables.eventCategories.toDF("event_type", "category")
        .write.mode(SaveMode.Overwrite).parquet(p)
      p
    }
    val dim = spark.read.parquet(dimPath)
    fact.join(broadcast(dim.filter(col("category") === "conversion")), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Bucketed co-located join: both sides land bucketed (8 buckets) on
    * their join key, so the join consumes bucket-aligned scans with ZERO
    * Exchange on either side — the pre-shuffled layout a 100 TB
    * fact↔fact join needs (broadcast is impossible, an ad-hoc shuffle
    * moves the whole table every query). The zero-shuffle plan property
    * is pinned by BucketedSinkSpec for the merge path; this query makes
    * the layout driver-visible end-to-end. The bucketed layout is staged
    * ONCE per session (the CREATE TABLE is setup, not the query — a
    * production table already lives bucketed); tables sit in the scratch
    * warehouse and vanish with the JVM.
    */
  def s11BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = StagedLayouts.once(spark, s"s11|$dir") { () =>
      val t = UUID.randomUUID().toString.replace("-", "").take(10)
      Tables(spark, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
        .write.format("parquet").bucketBy(8, "o_custkey").saveAsTable(s"s11_orders_$t")
      Tables(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .write.format("parquet").bucketBy(8, "c_custkey").saveAsTable(s"s11_customer_$t")
      t
    }
    spark.table(s"s11_orders_$tag")
      .join(spark.table(s"s11_customer_$tag"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** A hash-fragmented events copy (every file spans the full user and
    * time domain — exactly what a parallel ingest leaves) folded by
    * `compact(path, targetRowsPerFile)`, which must fold it; staged once
    * per session under `key`, as one OPTIMIZE'd production table serves
    * many queries.
    */
  private def compactedEventsCopy(spark: SparkSession, dir: String, key: String)(
      compact: (String, Long) => (Int, Int)): String =
    StagedLayouts.once(spark, s"$key:$dir") { () =>
      val p = scratch(key)
      val events = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("sec"),
          round(col("value") * 100).cast("long").as("cents"))
      val n = events.count()
      events.repartition(16).write.mode(SaveMode.Overwrite).parquet(p)
      val (before, after) = compact(p, math.max(1L, (n + 7) / 8))
      require(after < before,
        s"$key: z-order compaction must fold the fragmented layout: $before -> $after")
      p
    }

  /** The q46/s13 staged layout: the fragmented copy folded by 2-D
    * z-order compaction on (user_id, sec).
    */
  private def zorderedEventsCopy(spark: SparkSession, dir: String): String =
    compactedEventsCopy(spark, dir, "q46z")((p, target) =>
      graft.operators.ShardedWriter.compactZorder2(spark, p, "user_id", "sec", target))

  /** The box aggregate q46, q47, s13 and c3 answer. */
  private[graft] def boxAgg(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_box"),
      sum(col("cents")).as("cents_box"),
      countDistinct(col("user_id")).as("users_box"),
      min(col("event_id")).as("min_eid"),
      max(col("event_id")).as("max_eid"))

  /** Z-order-compacted layout end-to-end — the OPTIMIZE ZORDER pass a
    * 100 TB events table needs so BOTH per-user and per-time-range
    * predicates prune files. The staged layout is worst-case incoming
    * data: a hash-fragmented copy of events (every file spans the full
    * user and time domain — exactly what a parallel ingest leaves),
    * folded by [[graft.operators.ShardedWriter.compactZorder2]] on
    * (user_id, sec): min-max scaled to a shared 16-bit grid, Morton
    * interleaved ([[graft.functions.ZOrder2]]), rewritten as a new
    * generation published in one commit step
    * ([[graft.operators.Generations]]). The timed query is the 2-D box
    * aggregate the layout exists for — each compacted file holds a
    * tight Morton tile, so its zone maps bound BOTH dimensions and the
    * box touches a constant number of files regardless of table size
    * (file-hit counts pinned in LayoutExpressionsSpec, on these real
    * files). The oracle computes the same box over the ORIGINAL events
    * table — equality proves the whole stage-fragment-compact pipeline
    * content-exact where the query lands.
    */
  def q46ZorderCompact(spark: SparkSession, dir: String): DataFrame =
    // users 3..6 on 2024-01-10..11 UTC: selective in both dimensions
    boxAgg(graft.operators.Generations.read(spark, zorderedEventsCopy(spark, dir))
      .filter(col("user_id").between(3, 6) &&
        col("sec").between(1704844800L, 1705017599L)))

  /** [[q46ZorderCompact]]'s K-dimensional sibling: the same fragmented
    * events copy compacted by
    * [[graft.operators.ShardedWriter.compactZorderN]] on THREE
    * dimensions (user_id, sec, cents — each min-max scaled onto the
    * shared 2^21 grid and interleaved by the codegen'd
    * [[graft.functions.ZOrderN]]), answering a 3-rectangle aggregate
    * (user range × time range × amount band) from the compacted table
    * against an original-table oracle. The amount band is the
    * dimension a 2-D (user, time) layout cannot prune — exactly the
    * "top-spenders in a window" shape a 100 TB events table serves.
    */
  def q47Zorder3Compact(spark: SparkSession, dir: String): DataFrame = {
    val path = compactedEventsCopy(spark, dir, "q47z")((p, target) =>
      graft.operators.ShardedWriter.compactZorderN(
        spark, p, Seq("user_id", "sec", "cents"), target))
    // users 3..6, 2024-01-10..19 UTC, spend band 20.00..79.99
    boxAgg(graft.operators.Generations.read(spark, path)
      .filter(col("user_id").between(3, 6) &&
        col("sec").between(1704844800L, 1705708799L) &&
        col("cents").between(2000L, 7999L)))
  }

  /** Zone-map data skipping end-to-end — [[graft.operators.ZoneMap]]
    * composed with the z-order layout: per-file min/max stats are built
    * ONCE into a persisted stats table (one row per file — the
    * Delta/Iceberg metadata move, on plain parquet), and the 2-D box
    * query then reads ONLY the files the driver-side planner kept.
    * Z-order is what makes this selective in BOTH dimensions: each
    * compacted file is a tight Morton tile, so its min/max bounds both
    * user and time (ZoneMapSpec pins the file-hit count; the oracle over
    * the ORIGINAL table proves the pruned read misses nothing). At
    * 100 TB this is the scan path for every selective query: plan from
    * KB of stats, open a constant number of files.
    */
  def s13ZonemapSkip(spark: SparkSession, dir: String): DataFrame = {
    val path = zorderedEventsCopy(spark, dir)
    val statsDir = StagedLayouts.once(spark, s"s13stats:$dir") { () =>
      val sp = scratch("s13stats")
      graft.operators.ZoneMap.buildStats(spark, path, sp, Seq("user_id", "sec"))
      sp
    }
    // users 10..12 on 2024-01-20..24 UTC — a different box than q46, so
    // the two queries exercise different file subsets of the same layout
    boxAgg(graft.operators.ZoneMap.prunedRead(spark, path, statsDir,
        Seq(("user_id", 10L, 12L), ("sec", 1705708800L, 1706140799L)))
      // file pruning is file-granular: the row-level predicate still
      // applies on top (and pushes into the surviving files' scans)
      .filter(col("user_id").between(10, 12) &&
        col("sec").between(1705708800L, 1706140799L)))
  }

  /** Bloom-filter data skipping (s14) — the POINT-LOOKUP half of the
    * s13 story, on the layout where zone maps are provably USELESS: a
    * hash-fragmented copy of events (every file spans the whole id
    * range, exactly what a parallel ingest leaves), so any min/max
    * check keeps every file. Per-file Bloom filters over event_id
    * ([[graft.operators.ZoneMap.buildBlooms]] — KBs per file) let the
    * driver plan each lookup down to the one file that holds the key
    * plus fp-rate noise; no false negatives, so the pruned read misses
    * nothing (oracle over the original table proves it). The inline
    * assert requires real skipping — if the blooms degenerate (e.g.
    * undersized) the query FAILS rather than silently scanning
    * everything. At 100 TB this is the needle-in-haystack scan path:
    * ID lookups plan from a metadata-sized bloom table instead of
    * opening a million files.
    */
  def s14BloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val frag = StagedLayouts.once(spark, s"s14frag:$dir") { () =>
      val p = scratch("s14frag")
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(16)
        .write.mode(SaveMode.Overwrite).parquet(p)
      p
    }
    val bloomDir = StagedLayouts.once(spark, s"s14bloom:$dir") { () =>
      val bp = scratch("s14bloom")
      val n = spark.read.parquet(frag).count()
      graft.operators.ZoneMap.buildBlooms(
        spark, frag, bp, "event_id", math.max(64, (n / 16).toInt * 2))
      bp
    }
    val total = spark.read.parquet(frag).inputFiles.length
    // nine deterministic probe ids spread across the domain; ONE pass
    // over the bloom table plans all of them (K lookups = one metadata
    // scan), then one data scan over the union of surviving files
    val maxId = spark.read.parquet(frag)
      .agg(max(col("event_id"))).head().getLong(0)
    val probes = (1L to 9L).map(i => i * maxId / 10).distinct
    val plan = graft.operators.ZoneMap
      .bloomPlanFiles(spark, frag, bloomDir, probes)
    plan.foreach { case (id, files) =>
      require(files.length * 2 < total,
        s"bloom pruned nothing for id=$id (${files.length}/$total files)")
    }
    val files = plan.values.flatten.toSeq.distinct
    spark.read.parquet(files: _*)
      .filter(col("event_id").isin(probes: _*))
      .select(col("event_id"), col("user_id"), col("event_type"), col("cents"))
      .orderBy(col("event_id"))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s10_dpp" -> (s10DynamicPartitionPruning _),
    "s13_zonemap_skip" -> (s13ZonemapSkip _),
    "s14_bloom_skip" -> (s14BloomSkip _),
    "s11_bucketed_join" -> (s11BucketedJoin _),
    "s5_json_roundtrip" -> (s5JsonRoundtrip _),
    "s6_csv_roundtrip" -> (s6CsvRoundtrip _),
    "s8_schema_evolution" -> (s8SchemaEvolution _),
    "st1_stream_window_agg" -> (st1StreamWindowAgg _),
    "st2_stream_dedup" -> (st2StreamDedup _),
    "st3_stateful_stats" -> (st3StatefulStats _),
    "st10_ttl_stats" -> (st10TtlStats _),
    "st4_stream_stream_join" -> (st4StreamStreamJoin _),
    "st5_stream_file_sink" -> (st5StreamFileSink _),
    "st6_incremental_ingest" -> (st6IncrementalIngest _),
    "st11_compacted_ingest" -> (st11CompactedIngest _),
    "st12_stream_jdbc" -> (st12StreamJdbc _),
    "st13_stream_sketch_zone" -> (st13StreamSketchZone _),
    "st14_stream_scd2" -> (st14StreamScd2 _),
    "st15_stream_zonemap" -> (st15StreamZonemap _),
    "st16_stream_cdc" -> (st16StreamCdc _),
    "st17_stream_bloom" -> (st17StreamBloom _),
    "st18_stream_all_zones" -> (st18StreamAllZones _),
    "st19_stream_ann_index" -> (st19StreamAnnIndex _),
    "st20_stream_signature_zone" -> (st20StreamSignatureZone _),
    "st21_stream_admission_zones" -> (st21StreamAdmissionZones _),
    "st22_stream_df_zone" -> (st22StreamDfZone _),
    "st23_stream_zone_tombstones" -> (st23StreamZoneTombstones _),
    "st24_stream_semantic_zones" -> (st24StreamSemanticZones _),
    "st25_stream_admission_loop" -> (st25StreamAdmissionLoop _),
    "st29_stream_production" -> (st29StreamProduction _),
    "st30_stream_refresh_loop" -> (st30StreamRefreshLoop _),
    "st31_stream_media_loop" -> (st31StreamMediaLoop _),
    "st32_stream_tokenizer_loop" -> (st32StreamTokenizerLoop _),
    "st26_stream_hamming_zone" -> (st26StreamHammingZone _),
    "st27_stream_ivf_index" -> (st27StreamIvfIndex _),
    "st28_stream_pq_codes" -> (st28StreamPqCodes _),
    "c3_lake_maintenance" -> (c3LakeMaintenance _),
    "st7_stream_sessionize" -> (st7StreamSessionize _),
    "st9_session_window" -> (st9SessionWindow _),
    "st8_stream_static_join" -> (st8StreamStaticJoin _),
    "s9_orc_roundtrip" -> (s9OrcRoundtrip _),
    "s12_xml_roundtrip" -> (s12XmlRoundtrip _),
    "q46_zorder_compact" -> (q46ZorderCompact _),
    "q47_zorder3_compact" -> (q47Zorder3Compact _),
    "c1_cardano_backfill_q8" -> (c1CardanoBackfillQ8 _),
    "c1_cardano_output_amount" -> (c1CardanoOutputAmount _),
    "c4_cardano_skipping" -> (c4CardanoSkipping _))

  /** Bench-family tags for this registry's `c*` entries (see
    * [[graft.queries.TrainingData.families]]): the Cardano warehouse
    * and lakehouse-maintenance pipelines are BATCH work — plain scans,
    * joins, and rewrites with none of the admission family's
    * structural floors — so prefix-matching them into "composition"
    * would skew the subtotal the split exists to keep honest. c1_* are
    * correctness-only (never benched) but tagged for completeness.
    */
  val families: Map[String, String] = Map(
    "c1_cardano_backfill_q8" -> "batch",
    "c1_cardano_output_amount" -> "batch",
    "c3_lake_maintenance" -> "batch",
    "c4_cardano_skipping" -> "batch")

  /** The (user 3..6) × (2024-01-10..11 UTC) box over the ORIGINAL
    * events table — the oracle both q46 (z-order compaction) and c3
    * (the full maintenance pipeline) must reproduce from their rewritten
    * copies.
    */
  /** st15's oracle — the lower-quarter range aggregate; shared with
    * st18's `range` section so the two gates cannot drift.
    */
  private val zonemapRangeOracleSql: String =
    """WITH m AS (SELECT max(event_id) // 4 AS hi FROM events)
      |SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events, m
      |WHERE event_id >= 0 AND event_id <= m.hi
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** st17's oracle — the decile point lookups; shared with st18's
    * `lookup` section so the two gates cannot drift.
    */
  private val bloomLookupOracleSql: String =
    """WITH m AS (SELECT max(event_id) AS mx FROM events),
      |p AS (SELECT DISTINCT (r.i * m.mx) // 10 AS id
      |      FROM m, range(1, 10) r(i))
      |SELECT e.event_id, e.event_type,
      |  CAST(round(e.value * 100) AS BIGINT) AS cents
      |FROM events e JOIN p ON e.event_id = p.id
      |ORDER BY e.event_id""".stripMargin

  private val zorderBoxOracleSql: String =
    """SELECT count(*) AS n_box,
      | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_box,
      | count(DISTINCT user_id) AS users_box,
      | min(event_id) AS min_eid, max(event_id) AS max_eid
      |FROM events
      |WHERE user_id BETWEEN 3 AND 6
      |  AND CAST(floor(epoch(ts)) AS BIGINT)
      |      BETWEEN 1704844800 AND 1705017599""".stripMargin

  val oracles: Map[String, String] = Map(
    "s10_dpp" ->
      """SELECT event_type, count(*) AS cnt,
        | sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "s11_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // c4: the fixture chain is fully deterministic (every field
    // sha256-derived from the height), so the skipping pipeline's output
    // is a CONSTANT — pinned here and independently re-derived from the
    // fixture spec in python (heights 31-60: h%3 txs each, v = n%3,
    // scripts where n%5==0); c1's VALUES-oracle discipline.
    "c4_cardano_skipping" ->
      """SELECT section, k, CAST(v AS BIGINT) AS v FROM (VALUES
        |  ('lookup', '00000000001f6a99f36b5b7137562ebcd6dcb09a006f410dd60b2ea0b98da9e7', 0),
        |  ('lookup', '000000000020572c890d137c011a42e4f46ae63a17603ad5ed073f1568cb9d27', 1),
        |  ('lookup', '000000000020cfb32831d778efbb34808c2576903ece7f051ac96dd1cf6c22c6', 0),
        |  ('lookup', '00000000002230e8812da5bcee42c95acd2f2cc1f64dd48b95fadb945fff0e29', 0),
        |  ('lookup', '000000000023100458df58c4811c451bcce470d989133b6e03d90b7a8b202d4e', 0),
        |  ('lookup', '0000000000232ebd559cbd11a9b8abad891427a45d4b08630f4923319b49977c', 1),
        |  ('lookup', '000000000025b8ecfdd5b4d2f9b6179d583c91a8847b44603030f663df53303e', 1),
        |  ('lookup', '000000000026680e7970af41f87637929d6ae661193d7b0abe115689a5731a55', 0),
        |  ('lookup', '0000000000267876c46054ab8b761777e192640db6fd81d78641c60d8c4b6131', 2),
        |  ('lookup', '0000000000286e693fb0373821948ee59b2a895acb2345e0459b5ff4919b1677', 1),
        |  ('lookup', '000000000029a6fc9018fdc873383e9db3b10efb5314ecbd2d30c346177bcbfe', 1),
        |  ('lookup', '000000000029c6e83939d790679ffd85f0f8620d8929a4a9131841954670b515', 0),
        |  ('lookup', '00000000002becbd197951510b632935762284befce0af4b296b65da890c54a2', 1),
        |  ('lookup', '00000000002c4cb765f175db4dae4d19115b34c5036b9654d6db06ba6d27ce57', 1),
        |  ('lookup', '00000000002c5e649f900d90a52dc9f28a211bb4a4487a61d25cd380e0c5890c', 0),
        |  ('lookup', '00000000002e98eb6004a4814d256cfe2683e5498a86d703b4bd1cc694c6c6ac', 0),
        |  ('lookup', '00000000002f961ef010db3554f1e431bfef1888507e6ffb88f27b941a2addba', 0),
        |  ('lookup', '00000000002fe3b202db350404fb06493faa7f5a111fad110d455b3d07602c4f', 2),
        |  ('lookup', '00000000003170a4bb635c4ca940ef58be631548c13f716e911451b334341602', 1),
        |  ('lookup', '0000000000327e0a7bdcdedfa9be31cdcf9ab185bc1d310ca53ddea0afcbb898', 0),
        |  ('lookup', '000000000032dbb4cc158ce01ee68049da348911f388e0d03130ff2943bd30cf', 1),
        |  ('lookup', '000000000034026aeddd90f079833f24643bbedf813156c7b91072e9cd91e374', 2),
        |  ('lookup', '0000000000357c46880f47cdd5dcd8d05da0f6dc91d0c65739bfe00723cb5b29', 0),
        |  ('lookup', '000000000035f4eddef049dd5baebdee6b10115760da1293cc7fba74aaa88080', 1),
        |  ('lookup', '0000000000373ecab9d2156837b9f5c4c743c376abbaab214b2629a09c03c148', 1),
        |  ('lookup', '0000000000386b60063d67b4692ac70fb140d85a2f79ec26836b284c56da4aa9', 1),
        |  ('lookup', '000000000038c835a5dfae06369c6136c868e9c42dd80eccbf533ade5615ce59', 2),
        |  ('lookup', '00000000003afebe3df46826198b744f03e21dc4984b49025cc0e337840a5bcd', 0),
        |  ('lookup', '00000000003b02418f7a6891ceb41d48353bc655f6ec4428c1a198c3f6606b9b', 2),
        |  ('lookup', '00000000003ba9cb74f6c7feaffef254f09902f79655967f79eb640f300134da', 2),
        |  ('q6_topk', 'script1', 3),
        |  ('q6_topk', 'script3', 1),
        |  ('q6_topk', 'script4', 1),
        |  ('q6_topk', 'script5', 2))
        |  AS t(section, k, v)
        |ORDER BY section, k""".stripMargin,
    // Exact expected Q8 output of the fixture backfill over heights 1-60:
    // for each block h with h%3 txs, tx i has n = int(hash[12:24], 16);
    // inputs with n%5==0 carry reference_script_hash "script"+(n%7) and
    // lovelace quantity n%2000000 — summed per script, top-10 by volume.
    "c1_cardano_backfill_q8" ->
      """SELECT reference_script_hash, CAST(volume AS BIGINT) AS volume
        |FROM (VALUES
        |  ('script1', 2383740), ('script5', 2163185), ('script3', 945860),
        |  ('script6', 589875), ('script4', 121515))
        |  AS t(reference_script_hash, volume)
        |ORDER BY volume DESC, reference_script_hash""".stripMargin,
    // Exact expected output-amount rollup of the fixture backfill over
    // heights 1-60: block h carries h%3 txs (60 total), tx i in block h
    // has n = int(sha256("tx:h:i")[:12], 16) and ONE lovelace
    // output_amount of n % 1e9 — summed: 29757313830.
    "c1_cardano_output_amount" ->
      """SELECT 'lovelace' AS unit, CAST(60 AS BIGINT) AS n_outputs,
        |       CAST(29757313830 AS BIGINT) AS volume""".stripMargin,
    "s5_json_roundtrip" ->
      """SELECT l_returnflag, count(*) AS cnt,
        | sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
        | max(strftime(l_shipdate, '%Y-%m-%d')) AS max_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "s6_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price,
        | max(strftime(o_orderdate, '%Y-%m-%d')) AS max_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "s8_schema_evolution" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "st1_stream_window_agg" ->
      """SELECT strftime(make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600) * 1000000),
        |               '%Y-%m-%d %H:%M:%S') AS wstart,
        | event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    "st2_stream_dedup" ->
      "SELECT event_id, event_type, user_id FROM events ORDER BY event_id",
    // st13: the streamed theta zone must reproduce the exact retention
    // arithmetic (exact-mode sketches; replays absorbed by set union) —
    // the SAME oracle as q48, shared so the two gates cannot drift
    "st13_stream_sketch_zone" -> Relational.retentionOracleSql,
    // st19: the stream-maintained index must answer the probe exactly
    // like d6's in-session derivation (and d19's batch-built zone).
    "st19_stream_ann_index" -> TrainingData.oracles("d6_ann_lsh"),
    // st20 serves d22's incremental dedup from the streamed zone — the
    // maintenance path must be invisible in the result.
    "st20_stream_signature_zone" -> TrainingData.oracles("d22_incremental_dedup"),
    // st21 answers c8's admission decisions from the streamed zones.
    "st21_stream_admission_zones" -> TrainingData.oracles("c8_incremental_curation"),
    // st22 answers d24's capped incremental dedup from the streamed
    // df zone (and the capped signature zone bound to it).
    "st22_stream_df_zone" -> TrainingData.oracles("d24_incremental_dedup_capped"),
    // st24 answers c12's three-gate semantic admission from the three
    // streamed zones — the maintenance path must be invisible.
    "st24_stream_semantic_zones" -> TrainingData.oracles("c12_admission_semantic"),
    // st25: the streamed admission LOOP — c9's slice-tagged replay over
    // the embedded window's quarters, extended with the per-slice SRP
    // semantic gate and the slice-2 tombstone subtraction.
    "st25_stream_admission_loop" -> TrainingData.st25OracleSql,
    // st29: st25's slice-tagged loop replay with c13's threshold CTE in
    // the gate and c14's assignment/quota/packing chain per slice.
    "st29_stream_production" -> TrainingData.st29OracleSql,
    // st30: the same replay with the second (live slices 0-2) threshold
    // table and prefix-r Lloyd chain routed to round 3.
    "st30_stream_refresh_loop" -> TrainingData.st30OracleSql,
    // st31: the five-gate replay — c17's media chain per slice with
    // st25's tombstone live-rule, shard stages over five-gate kept.
    "st31_stream_media_loop" -> TrainingData.st31OracleSql,
    // st32: BOTH training chains (slice-0 fit and the live-through-
    // slice-2 re-fit) trained in one statement and slice-routed —
    // rounds 1-2 price under the first, round 3 under the second.
    "st32_stream_tokenizer_loop" -> TrainingData.st32OracleSql,
    // st26 answers d26's incremental audio dedup from the streamed
    // Hamming zone — the maintenance path must be invisible.
    "st26_stream_hamming_zone" -> TrainingData.oracles("d26_incremental_audio_dedup"),
    "st27_stream_ivf_index" -> TrainingData.oracles("d28_ivf_topk"),
    "st28_stream_pq_codes" -> TrainingData.oracles("d30_pq_topk"),
    // st23: c8's admission replay with the STREAM-DELETED history docs
    // (doc_id % 17 = 3) subtracted from the hist keeper set and the
    // candidate a-side — exactly what the tombstoned zones serve.
    "st23_stream_zone_tombstones" ->
      s"""WITH RECURSIVE
         |${TrainingData.admissionCtes(capped = false, histLive = "{ID} % 17 <> 3")}
         |${TrainingData.admissionFateSelect}""".stripMargin,
    "st14_stream_scd2" -> Relational.scd2OracleSql,
    // st16: the maintained CDC snapshot must equal q57's one-shot batch
    // apply over the same base + feed (same derivation, minus the
    // batch-boundary action classification)
    "st16_stream_cdc" ->
      """WITH base AS (SELECT o_orderkey AS key,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |ch AS (SELECT CASE WHEN l_partkey % 10 = 0 THEN l_orderkey + 1000000
        |              ELSE l_orderkey END AS key,
        |         l_linenumber AS seq,
        |         CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'U' END AS op,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS new_cents
        |       FROM lineitem),
        |last AS (SELECT key, op, new_cents FROM
        |           (SELECT *, row_number() OVER (PARTITION BY key
        |              ORDER BY seq DESC, op DESC, new_cents DESC) AS rn FROM ch)
        |         WHERE rn = 1)
        |SELECT coalesce(b.key, l.key) AS o_orderkey,
        |  CASE WHEN l.key IS NULL THEN b.cents ELSE l.new_cents END AS cents
        |FROM base b FULL OUTER JOIN last l ON b.key = l.key
        |WHERE l.key IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "st15_stream_zonemap" -> zonemapRangeOracleSql,
    // s13 reads its box through zone-map file pruning over the
    // z-ordered copy; the oracle reads the original table — equality
    // proves the pruned file set misses nothing.
    "s13_zonemap_skip" ->
      """SELECT count(*) AS n_box,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_box,
        | count(DISTINCT user_id) AS users_box,
        | min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events
        |WHERE user_id BETWEEN 10 AND 12
        |  AND CAST(floor(epoch(ts)) AS BIGINT)
        |      BETWEEN 1705708800 AND 1706140799""".stripMargin,
    // q46 reads the box from the z-order-COMPACTED copy; the oracle
    // reads it from the original table — equality proves the rewrite
    // content-exact where the query lands.
    "q46_zorder_compact" -> zorderBoxOracleSql,
    // s14: bloom-planned point lookups must return exactly the direct
    // lookup's rows (no false negatives by construction)
    "s14_bloom_skip" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |p AS (SELECT DISTINCT (r.i * m.mx) // 10 AS id
        |      FROM m, range(1, 10) r(i))
        |SELECT e.event_id, e.user_id, e.event_type,
        |  CAST(round(e.value * 100) AS BIGINT) AS cents
        |FROM events e JOIN p ON e.event_id = p.id
        |ORDER BY e.event_id""".stripMargin,
    // st17: the STREAMED bloom zone answers the same probes over the
    // merged table (s14's contract through the maintenance loop)
    "st17_stream_bloom" -> bloomLookupOracleSql,
    // st18: the combined maintainer must reproduce the SAME truth as
    // the three independent ones — its oracle is the UNION of st13's
    // (retention), st15's (stats-planned range) and st17's (bloom
    // lookups) oracle SQL, shared vals so the four gates cannot drift
    "st18_stream_all_zones" ->
      s"""SELECT 'retention' AS section, day AS k,
         |  active_users AS a, retained_users AS b, churned_users AS c
         |FROM (${Relational.retentionOracleSql})
         |UNION ALL
         |SELECT 'range', event_type, cnt, sum_cents, CAST(NULL AS BIGINT)
         |FROM ($zonemapRangeOracleSql)
         |UNION ALL
         |SELECT 'lookup', CAST(event_id AS VARCHAR), cents,
         |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |FROM ($bloomLookupOracleSql)
         |ORDER BY section, k""".stripMargin,
    // c3: the maintained, rewritten, stats-planned lake must land on the
    // SAME box as the original table — shared with q46 so the two gates
    // cannot drift
    "c3_lake_maintenance" -> zorderBoxOracleSql,
    // q47: the 3-rectangle from the 3-D-compacted copy vs the original
    "q47_zorder3_compact" ->
      """SELECT count(*) AS n_box,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_box,
        | count(DISTINCT user_id) AS users_box,
        | min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events
        |WHERE user_id BETWEEN 3 AND 6
        |  AND CAST(floor(epoch(ts)) AS BIGINT)
        |      BETWEEN 1704844800 AND 1705708799
        |  AND CAST(round(value * 100) AS BIGINT) BETWEEN 2000 AND 7999""".stripMargin,
    "st5_stream_file_sink" ->
      """SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "st6_incremental_ingest" ->
      """SELECT event_id, event_type, user_id,
        | CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin,
    // st12 = the same event set through the live-Derby staging+merge
    // warehouse loop and back over JDBC — identical truth again.
    "st12_stream_jdbc" ->
      """SELECT event_id, event_type, user_id,
        | CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin,
    // st11 = st6's ingest + the compaction rewrite: the SAME oracle —
    // a content-exact OPTIMIZE pass must not change the table.
    "st11_compacted_ingest" ->
      """SELECT event_id, event_type, user_id,
        | CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin,
    // st9 = st7's semantics via the built-in session_window operator —
    // the SAME oracle proves both formulations against one truth.
    "st9_session_window" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS m FROM events),
        |d AS (
        |  SELECT user_id, m,
        |    CASE WHEN lag(m) OVER (PARTITION BY user_id ORDER BY m) IS NULL
        |           OR m - lag(m) OVER (PARTITION BY user_id ORDER BY m) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |w AS (
        |  SELECT user_id, m,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY m
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM d)
        |SELECT user_id, min(m) AS start_micros, max(m) AS end_micros,
        |  count(*) AS n_events
        |FROM w GROUP BY user_id, sess ORDER BY user_id, start_micros""".stripMargin,
    "st7_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS m FROM events),
        |d AS (
        |  SELECT user_id, m,
        |    CASE WHEN lag(m) OVER (PARTITION BY user_id ORDER BY m) IS NULL
        |           OR m - lag(m) OVER (PARTITION BY user_id ORDER BY m) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |w AS (
        |  SELECT user_id, m,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY m
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM d)
        |SELECT user_id, min(m) AS start_micros, max(m) AS end_micros,
        |  count(*) AS n_events
        |FROM w GROUP BY user_id, sess ORDER BY user_id, start_micros""".stripMargin,
    "st8_stream_static_join" ->
      """SELECT event_id, event_type, category,
        | CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events
        |JOIN (VALUES ('click','browse'), ('view','browse'),
        |             ('purchase','conversion'), ('signup','conversion'),
        |             ('error','ops')) d(event_type, category)
        |  USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "st4_stream_stream_join" ->
      """SELECT p.user_id AS user_id, p.event_id AS p_id, c.event_id AS c_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY p_id, c_id""".stripMargin,
    "s9_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS cnt,
        | sum(CAST(round(p_retailprice * 100) AS BIGINT)) / 100.0 AS sum_price,
        | max(p_type) AS max_type
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "s12_xml_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        | sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS sum_bal,
        | max(c_name) AS max_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "st3_stateful_stats" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        | CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts_micros
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // st10 = st3 through transformWithState + TTL; nothing expires
    // within the default TTL on the bounded replay, so the oracle is
    // st3's (expiry itself is spec-pinned, not oracle-checkable).
    "st10_ttl_stats" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        | CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts_micros
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
