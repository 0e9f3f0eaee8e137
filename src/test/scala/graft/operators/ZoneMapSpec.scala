package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Zone-map contracts: stats correctness, the skip-vs-keep decision
  * (including the null-stats and stale-directory edges), and the
  * end-to-end composition with z-order — the file-hit counts that make
  * s13_zonemap_skip a data-SKIPPING query rather than a full scan with
  * extra steps.
  */
class ZoneMapSpec extends SparkSpec {

  import spark.implicits._

  /** 8 files range-partitioned on k: file i holds k in [i*100, i*100+99],
    * so per-file min/max are disjoint and pruning decisions are exact.
    */
  private def rangedLayout(): (String, String) = {
    val data = tmpDir("zmdata") + "/t"
    spark.range(800).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(8, col("k"))
      .write.parquet(data)
    val stats = tmpDir("zmstats") + "/s"
    ZoneMap.buildStats(spark, data, stats, Seq("k", "v"))
    (data, stats)
  }

  test("stats: one row per file with correct min/max") {
    val (data, stats) = rangedLayout()
    val s = spark.read.parquet(stats).collect()
    assert(s.length == spark.read.parquet(data).inputFiles.length)
    assert(s.map(_.getAs[Long]("n_rows")).sum == 800)
    s.foreach { r =>
      assert(r.getAs[Long]("min_k") <= r.getAs[Long]("max_k"))
      // v = 2k, so the v stats must track the k stats exactly
      assert(r.getAs[Long]("min_v") == 2 * r.getAs[Long]("min_k"))
      assert(r.getAs[Long]("max_v") == 2 * r.getAs[Long]("max_k"))
    }
  }

  test("pruned read opens only intersecting files and loses no rows") {
    val (data, stats) = rangedLayout()
    // k in [150, 250] intersects exactly two of the eight 100-wide files
    val pruned = ZoneMap.prunedRead(spark, data, stats, Seq(("k", 150L, 250L)))
    assert(pruned.inputFiles.length == 2,
      s"expected 2 files, opened ${pruned.inputFiles.length}")
    val got = pruned.filter(col("k").between(150, 250))
      .agg(count(lit(1)), sum(col("v"))).head()
    val want = spark.read.parquet(data).filter(col("k").between(150, 250))
      .agg(count(lit(1)), sum(col("v"))).head()
    assert(got.getLong(0) == 101 && got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
  }

  test("disjoint predicate yields an empty frame with the schema intact") {
    val (data, stats) = rangedLayout()
    val pruned = ZoneMap.prunedRead(spark, data, stats, Seq(("k", 5000L, 6000L)))
    assert(pruned.count() == 0)
    assert(pruned.columns.toSeq == Seq("k", "v"))
  }

  test("null stats keep the file (null proves nothing)") {
    val data = tmpDir("zmnull") + "/t"
    // one file all-null in k, one file with real values
    spark.range(10).select(lit(null).cast("long").as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(data)
    spark.range(10).select((col("id") + 100).as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(data)
    val stats = tmpDir("zmnullstats") + "/s"
    ZoneMap.buildStats(spark, data, stats, Seq("k"))
    // box [0, 50] misses the valued file but must still open the
    // null-stats file: its rows are unknowable from stats alone
    val pruned = ZoneMap.prunedRead(spark, data, stats, Seq(("k", 0L, 50L)))
    assert(pruned.inputFiles.length == 1)
    assert(pruned.filter(col("k").between(0, 50)).count() == 0)
  }

  test("a file added after the stats build fails loudly, never silently skips") {
    val (data, stats) = rangedLayout()
    spark.range(5).select((col("id") + 10000).as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(data)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.prunedRead(spark, data, stats, Seq(("k", 0L, 100L)))
    }
    assert(e.getMessage.contains("stale"))
  }

  test("native-typed stats: a STRING range prunes files lexically") {
    val data = tmpDir("zmstr") + "/t"
    // 4 files range-partitioned on a zero-padded string key: per-file
    // lexical [min,max] are disjoint
    spark.range(400)
      .select(format_string("k%03d", col("id")).as("s"), col("id").as("v"))
      .repartitionByRange(4, col("s"))
      .write.parquet(data)
    val stats = tmpDir("zmstrstats") + "/s"
    ZoneMap.buildStats(spark, data, stats, Seq("s"))
    val st = spark.read.parquet(stats)
    assert(st.schema("min_s").dataType == org.apache.spark.sql.types.StringType)
    val total = st.count()
    val pruned = ZoneMap.prunedRead(spark, data, stats,
      Seq(("s", "k150", "k249")))
    assert(pruned.inputFiles.length < total,
      s"string box must skip files: ${pruned.inputFiles.length} of $total")
    assert(pruned.filter(col("s").between("k150", "k249")).count() == 100)
  }

  test("appendStats covers only the new files; pruning works without a rebuild") {
    val (data, stats) = rangedLayout()
    val before = spark.read.parquet(stats)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    // two new files arrive (the nightly landing)
    spark.range(800, 1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(2, col("k"))
      .write.mode("append").parquet(data)
    assert(ZoneMap.appendStats(spark, data, stats, Seq("k", "v")) == 2)
    // replay safety: an immediate re-run appends nothing
    assert(ZoneMap.appendStats(spark, data, stats, Seq("k", "v")) == 0)
    val after = spark.read.parquet(stats)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(after.size == before.size + 2)
    // the incremental append never touched (or re-derived) old rows
    before.foreach { case (f, row) => assert(after(f) == row, f) }
    // and the refreshed stats immediately satisfy the staleness guard,
    // pruning into the NEW range without a full rebuild
    val pruned = ZoneMap.prunedRead(spark, data, stats, Seq(("k", 850L, 870L)))
    assert(pruned.inputFiles.length < after.size)
    assert(pruned.filter(col("k").between(850, 870)).count() == 21)
  }

  test("composition: z-ordered layout prunes on BOTH dimensions") {
    val dir = "/root/testdata/sf0.001"
    val data = tmpDir("zmz") + "/t"
    val events = graft.core.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"))
    val n = events.count()
    events.repartition(8).write.parquet(data)
    ShardedWriter.compactZorder2(spark, data, "user_id", "sec",
      math.max(1L, (n + 15) / 16))
    val total = Generations.read(spark, data).inputFiles.length
    assert(total >= 8, s"want a multi-file layout, got $total")
    val stats = tmpDir("zmzstats") + "/s"
    ZoneMap.buildStats(spark, data, stats, Seq("user_id", "sec"))

    // a 2-D box selective in both dimensions: a handful of Morton tiles
    val pruned = ZoneMap.prunedRead(spark, data, stats,
      Seq(("user_id", 3L, 6L), ("sec", 1704844800L, 1705017599L)))
    assert(pruned.inputFiles.length < total,
      s"2-D box must skip files: ${pruned.inputFiles.length} of $total")
    // and each dimension ALONE must also skip — the z-order promise
    val byUser = ZoneMap.prunedRead(spark, data, stats, Seq(("user_id", 3L, 6L)))
    val byTime = ZoneMap.prunedRead(spark, data, stats,
      Seq(("sec", 1704844800L, 1705017599L)))
    assert(byUser.inputFiles.length < total, "user-only box did not skip")
    assert(byTime.inputFiles.length < total, "time-only box did not skip")
    // no rows lost vs the unpruned read
    val want = Generations.read(spark, data)
      .filter(col("user_id").between(3, 6) &&
        col("sec").between(1704844800L, 1705017599L)).count()
    val got = pruned
      .filter(col("user_id").between(3, 6) &&
        col("sec").between(1704844800L, 1705017599L)).count()
    assert(got == want && want > 0)
  }

  /** Hash-fragmented layout — every file spans the full key domain, so
    * min/max pruning keeps everything and only blooms can skip.
    */
  private def fragmentedBloomLayout(): (String, String) = {
    val data = tmpDir("bloomdata") + "/t"
    // k ≡ i (mod 8) per file: every file's [min, max] spans the whole
    // domain BY CONSTRUCTION (round-robin repartition can leave
    // contiguous runs that min/max would still prune)
    spark.range(800).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(8, pmod(col("id"), lit(8)))
      .write.parquet(data)
    val blooms = tmpDir("bloomstats") + "/s"
    ZoneMap.buildBlooms(spark, data, blooms, "k", expectedItemsPerFile = 200)
    (data, blooms)
  }

  test("bloom: zone maps keep every fragmented file; blooms plan to ~1 per key, no rows lost") {
    val (data, blooms) = fragmentedBloomLayout()
    val total = spark.read.parquet(data).inputFiles.length
    assert(total == 8)
    // the control: min/max stats on this layout prune NOTHING
    val stats = tmpDir("bloomminmax") + "/s"
    ZoneMap.buildStats(spark, data, stats, Seq("k"))
    // mid-domain probe: every file's span covers it (a probe near the
    // domain edge can still dodge a residue file's min)
    assert(ZoneMap.prunedRead(spark, data, stats, Seq(("k", 401L, 401L)))
      .inputFiles.length == total, "fragmented layout should defeat min/max")
    // blooms: every probe finds its row, opening far fewer files
    var opened = 0
    for (k <- Seq(0L, 5L, 399L, 799L)) {
      val planned = ZoneMap.bloomPrunedRead(spark, data, blooms, k)
      opened += planned.inputFiles.length
      val rows = planned.filter(col("k") === k).collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("v") == k * 3,
        s"bloom lost key $k") // no false negatives, ever
    }
    assert(opened <= 4 * 3, s"blooms opened $opened files over 4 probes")
    // an absent key may open fp files but yields zero rows
    assert(ZoneMap.bloomPrunedRead(spark, data, blooms, 100000L)
      .filter(col("k") === 100000L).count() == 0)
  }

  test("bloom: a file added after the build fails loudly, never silently skips") {
    val (data, blooms) = fragmentedBloomLayout()
    spark.range(900, 910).select(col("id").as("k"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("append").parquet(data)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.bloomPrunedRead(spark, data, blooms, 905L)
    }
    assert(e.getMessage.contains("rebuild blooms"))
  }

  test("bloom: string keys plan natively (the reference's hash-string PKs)") {
    val data = tmpDir("bloomstr") + "/t"
    spark.range(400)
      .select(concat(lit("hash_"), col("id")).as("h"), col("id").as("v"))
      .repartitionByRange(4, pmod(col("id"), lit(4)))
      .write.parquet(data)
    val blooms = tmpDir("bloomstrz") + "/s"
    ZoneMap.buildBlooms(spark, data, blooms, "h", expectedItemsPerFile = 200)
    val total = spark.read.parquet(data).inputFiles.length
    val plan = ZoneMap.bloomPlanFilesAny(spark, data, blooms,
      Seq("hash_7", "hash_250", "absent"))
    assert(plan("hash_7").nonEmpty && plan("hash_7").size < total)
    assert(plan("hash_250").nonEmpty && plan("hash_250").size < total)
    // each present key's holding file must survive
    for (k <- Seq("hash_7", "hash_250"))
      assert(spark.read.parquet(plan(k): _*)
        .filter(col("h") === k).count() == 1, s"lost $k")
    // unsupported probe type fails loudly, never returns empty silently
    val e = intercept[IllegalArgumentException] {
      ZoneMap.bloomPlanFilesAny(spark, data, blooms, Seq(3.14))
    }
    assert(e.getMessage.contains("not supported"))
  }

  test("appendBlooms covers only the new files; lookups work without a rebuild") {
    val (data, blooms) = fragmentedBloomLayout()
    val before = spark.read.parquet(blooms).count()
    spark.range(900, 910).select(col("id").as("k"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("append").parquet(data)
    assert(ZoneMap.appendBlooms(spark, data, blooms, "k", 200) == 1L)
    assert(spark.read.parquet(blooms).count() == before + 1)
    // a key in the appended file: found, opening ~1 file
    val planned = ZoneMap.bloomPrunedRead(spark, data, blooms, 905L)
    assert(planned.inputFiles.length <= 3)
    assert(planned.filter(col("k") === 905L).count() == 1)
    // idempotent: nothing new -> zero appended
    assert(ZoneMap.appendBlooms(spark, data, blooms, "k", 200) == 0L)
  }

  test("c4 fan-out: the bloom/stats-planned read equals the unpruned read") {
    // relocated from the c4 query body (round-10): the query executes —
    // and Bench times — only the pruned plan; the lossless-skipping
    // proof lives here, where a full-scan compare belongs. The unpruned
    // twin re-derives its probe set from a full tx scan, so a stats
    // bug that lost tx rows diverges the sets too.
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("hash"), col("output_index").cast("long").as("oi"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pruned = key(graft.queries.SourcesAndStreams.c4Fanout(spark, pruned = true))
    val full = key(graft.queries.SourcesAndStreams.c4Fanout(spark, pruned = false))
    assert(pruned.nonEmpty, "fan-out returned no rows")
    assert(pruned == full, "bloom-planned fan-out diverged from the unpruned read")
  }
}
