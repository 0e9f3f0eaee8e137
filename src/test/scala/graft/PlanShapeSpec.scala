package graft

import graft.queries.Relational

/** Regression guards for the PLAN properties the 100 TB design depends
  * on — a query can stay result-correct while silently losing its
  * pushdown or broadcasting the wrong side, so the properties are pinned
  * here explicitly.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** The SET of hash-exchange key TUPLES in a plan string — every
    * `Exchange hashpartitioning(a#1, b#2, 32)` contributes "a,b" (expr
    * ids and the trailing partition count stripped). Tuples, not first
    * columns: a rogue SECONDARY key on an exchange (e.g. (band, rogue))
    * must fail the pin, which a first-column capture would let through.
    */
  private def exchangeKeyTuples(p: String): Set[String] =
    "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p)
      .map(_.group(1).split(",\\s*").toSeq
        .filterNot(_.matches("\\d+"))          // trailing numPartitions
        .map(_.replaceAll("#\\d+L?", ""))      // strip expr ids
        .mkString(","))
      .toSet

  test("q1: shipdate filter is pushed into the parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q9: watermark filter pushes on the RAW long ts column") {
    val p = plan("q9_incremental_scan")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"), p)
  }

  test("q6: dimension sides broadcast; fact side never exchanges before the join") {
    val p = plan("q6_volume_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    // top-k without a global sort materialization
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q3/q7: top-k plans use TakeOrderedAndProject, not a global Sort+Limit") {
    assert(plan("q3_topk_group_count").contains("TakeOrderedAndProject"))
    assert(plan("q7_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("d2: shingle self-join is a shuffled hash join (corpus side must never broadcast)") {
    val p = plan("d2_ngram_jaccard")
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("d22: zone probe and verify joins are shuffled hash joins (zone and delta both scale)") {
    val p = plan("d22_incremental_dedup")
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("q16: salted join builds its hash map from the replicated DIM side") {
    // BuildLeft here would allocate a fact-partition-sized hash map per
    // task — the round-7 audit caught exactly that (hint was on the fact
    // side). The dim×nSalts side is small by the operator's premise.
    val p = plan("q16_salted_skew_join")
    assert(p.contains("ShuffledHashJoin") && p.contains("BuildRight"), p)
    assert(!p.contains("BuildLeft"), p)
  }

  test("q20: chain-linkage validator contains no Window operator") {
    val p = plan("q20_chain_linkage")
    assert(!p.contains("Window"), p)
  }

  test("x12: corpus-sized window is bucket-partitioned; bucket offsets broadcast") {
    val p = plan("x12_sequence_pack")
    // the only windows are (a) partitioned by bkt over the corpus and
    // (b) unpartitioned over the tiny bucket-totals table, which must
    // come back via broadcast — never a corpus-sized shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window [sum(n_tokens#"), p)
    // the unpartitioned window may only see the OUTPUT of the per-bucket
    // aggregate (rows = bucket count, ~√N), never corpus-proportional
    // rows: the plan must aggregate on bkt before that window runs
    assert(p.contains("keys=[bkt"), p)
  }

  test("x12: knownCount seam skips the derivation scan without changing offsets") {
    import graft.core.Tables
    import graft.queries.TrainingData
    val docs = Tables(spark, dir, "documents")
    val exact = TrainingData.sequencePack(docs).collect()
    // A ~2x-off estimate lands on a different bucket COUNT, but bucket
    // boundaries are a partitioning detail: the two-level prefix sum is
    // exact for any bucket count, so the packed offsets must not move.
    val approx = TrainingData.sequencePack(docs, knownCount = Some(docs.count() * 2)).collect()
    assert(exact.sameElements(approx))
  }

  test("x12: bucket count derivation bounds both window levels at ~sqrt(N)") {
    import graft.queries.TrainingData.packBucketCount
    for (n <- Seq(1L, 500L, 50000L, 10000000000L); parts <- Seq(4, 32, 2000)) {
      val buckets = packBucketCount(n, parts)
      val sqrtN = math.max(math.ceil(math.sqrt(n.toDouble)).toLong, 1L)
      // level-2 window sees `buckets` rows; level-1 sees ~n/buckets rows
      // per balanced range partition — both bounded by max(parts, √N).
      assert(buckets <= math.max(parts.toLong, sqrtN), s"n=$n parts=$parts buckets=$buckets")
      assert(buckets >= math.min(parts.toLong, sqrtN), s"n=$n parts=$parts buckets=$buckets")
      assert(n / buckets <= sqrtN, s"n=$n parts=$parts rows/bucket=${n / buckets}")
    }
  }

  test("q23: grouping sets expand to ONE aggregation pass, not three scans") {
    val p = plan("q23_grouping_sets")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("d10: per-dim stats broadcast back; quantization is a projection") {
    val p = plan("d10_quantize_embeddings")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("s10: fact scan carries a runtime dynamic-partition-pruning filter") {
    val p = plan("s10_dpp")
    assert(p.contains("dynamicpruning"), p)
  }

  test("d11: simhash chunk self-join is a shuffled hash join") {
    assert(plan("d11_simhash_pairs").contains("ShuffledHashJoin"))
  }

  test("d13: batch-ANN local window rides the join's probe partitioning — no Exchange between join and first Window") {
    val p = plan("d13_batch_ann")
    assert(p.contains("ShuffledHashJoin"), p)
    // rank-limit pushdown prunes each group to top-k before the windows
    assert(p.contains("WindowGroupLimit"), p)
    // Two-level top-k: the LOCAL window (bottom-most, keyed pb+vec_id)
    // must reuse the join's hash partitioning — only Project/Sort/
    // WindowGroupLimit may sit between it and the join; a corpus-sized
    // Exchange there would mean the window failed to ride the join. The
    // GLOBAL window's Exchange above it carries only k·(planes+1) rows
    // per vector, which is the design.
    val join = p.indexOf("ShuffledHashJoin")
    val winLocal = p.lastIndexOf("Window ", join)
    assert(winLocal >= 0 && join > winLocal, p) // executedPlan prints top-down
    assert(!p.substring(winLocal, join).contains("Exchange"), p.substring(winLocal, join))
    // and it IS two-level: two Window operators in the plan
    assert("Window \\[".r.findAllIn(p).size == 2, p)
  }

  test("d7/d15 pair source: persisted celled projection feeds both join sides; shuffle-hash, no corpus broadcast") {
    // The d13 asserts' twins for the IVF pair pipeline d7 and d15 share:
    // the celled+normed projection must be read from the SAME cache on
    // both self-join sides (corpus scanned once), and the join must be
    // shuffle-hash — broadcasting a corpus-sized side could not exist at
    // 100 TB.
    val p = graft.queries.TrainingData.embeddingNeardupPairs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"), p)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
  }

  test("x25: span removal join never broadcasts the spans side") {
    // The span list is the output of a corpus-wide aggregation and
    // grows with the corpus (web-scale boilerplate ⇒ billions of span
    // rows at 100 TB) — broadcasting it is the d17 keeper-table trap.
    // The anti join must be a doc_id-keyed shuffled-hash join.
    val p = plan("x25_substring_clean")
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"), p)
    assert("ShuffledHashJoin \\[doc_id#\\d+L?\\], \\[doc_id#\\d+L?\\], LeftAnti, BuildRight".r
      .findFirstIn(p).isDefined, p)
    graft.core.Caches.release()
  }

  test("d4: simhash is a shuffle-free projection (no aggregate, no exchange before the sort)") {
    // SimHash60 collapsed the explode/vote aggregation pipeline; the
    // only exchange left is the presentation orderBy's range partition.
    val p = plan("d4_simhash")
    assert(!p.contains("HashAggregate"), p)
    assert(p.contains("simhash60("), p)
  }

  test("d7/d15: IVF cell count derives from corpus size (c ~ sqrt(n/dims), clamped)") {
    import graft.operators.Similarity.deriveCells
    // smallest c with c^2*dims >= n, so both IVF cost terms
    // (assignment n*c*dims, join n^2/c) grow sub-linearly
    for (n <- Seq(500L, 5000L, 5000000L, 1000000000L)) {
      val c = deriveCells(n, 64)
      if (c > 8) assert((c.toLong - 1) * (c - 1) * 64 < n, s"n=$n c=$c")
      if (c < 4096) assert(c.toLong * c * 64 >= n, s"n=$n c=$c")
    }
    assert(deriveCells(500, 64) == 8)    // sf0.01: clamped at the minimum
    assert(deriveCells(5000, 64) == 9)   // sf0.1: just past the clamp
    assert(deriveCells(1000000000L, 64) == 3953) // 1B vectors: ~4k cells
    assert(deriveCells(Long.MaxValue, 64) == 4096) // flat-assignment boundary
  }

  test("d13: plane count derives from corpus size (the x12 packBucketCount twin)") {
    import graft.operators.Similarity.derivePlanes
    // bucket count 2^p scales with N at constant expected membership
    for (n <- Seq(500L, 5000L, 5000000L, 10000000000L); target <- Seq(16L, 32L, 128L)) {
      val p = derivePlanes(n, target)
      if (p < 24) assert((target << p) >= n, s"n=$n target=$target p=$p")
      if (p > 4) assert((target << (p - 1)) < n, s"n=$n target=$target p=$p")
    }
    assert(derivePlanes(500) < derivePlanes(5000)) // sf0.01 vs sf0.1
  }

  test("q24: runtime bloom filter from the filtered dim is applied on the fact scan side") {
    val p = Relational.withConf(spark, Relational.bloomJoinConfs(): _*) {
      Relational.q24Plan(spark, dir).queryExecution.optimizedPlan.toString
    }
    assert(p.contains("might_contain"), p)
    assert(p.contains("bloom_filter_agg") || p.contains("BloomFilterAggregate"), p)
  }

  test("x15: vocab membership probe is a broadcast join — the corpus never shuffles for it") {
    val p = plan("x15_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p)
    // top-k vocab without a global sort materialization
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x16: LM probe joins broadcast the model; bigram-type table built once") {
    val p = plan("x16_lm_familiarity")
    // transitions + heads probes are broadcast joins (the model is
    // pruned/vocab-sized BY CONSTRUCTION); the corpus-sized bigram side
    // must never broadcast.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // heads and vocab derive from the SAME persisted bigram-type
    // aggregate the transitions were filtered from — one corpus-scan
    // aggregation total, visible as InMemoryRelation reuse.
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q26: correlated EXISTS plans as a semi join; scalar subquery planned once") {
    val p = plan("q26_subquery_sql")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("Subquery") || p.contains("subquery"), p)
  }

  test("q35: array HOFs run as one projection — no explode, no join, no aggregate") {
    val p = plan("q35_array_hof")
    assert(!p.contains("Generate"), p)   // explode would amplify the scan ~tokens-per-doc×
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("q36: lateral top-n decorrelates to a partitioned window, never a per-row re-execution") {
    val p = plan("q36_lateral_topn")
    assert(p.contains("Window"), p)      // DecorrelateInnerQuery → row_number ≤ 2
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p) // 25-row nation side broadcasts
  }

  test("q37: WITH RECURSIVE runs as an in-engine UnionLoop; the step is narrow (no Join)") {
    val p = plan("q37_recursive_cte")
    assert(p.contains("UnionLoop"), p)
    assert(!p.contains("Join"), p)     // the walk is projection+filter per level
  }

  test("q11: projection prunes the events scan to the referenced columns") {
    val p = plan("q11_dto_projection")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("props"), p) // unreferenced wide column stays out of the scan
  }

  test("q38: map build pre-aggregates before BOTH exchanges; HOFs stay in one projection") {
    val p = plan("q38_map_hof")
    // the scan reads only the two referenced columns (props/value/ts pruned)
    assert(p.contains("ReadSchema: struct<user_id:bigint,event_type:string>"), p)
    // both shuffles move pre-aggregated rows (≤ users×types wide), never raw events
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_collect_list"), p)
    // every per-user answer is computed OVER the map — no re-explode of entries
    assert(!p.contains("Generate"), p)
  }

  test("q39: gap-fill scans the base once; spine work is calendar-sized broadcast") {
    val p = plan("q39_gap_fill")
    // downstream of the checkpointed cell agg there is NO parquet scan:
    // bounds, spine and the fill join all derive from the tiny cells table
    assert(!p.contains("Scan parquet"), p)
    // the fill join broadcasts (both sides ≤ days×types rows)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
    assert(p.contains("explode(sequence("), p)
  }

  test("q40: RANGE frame over one user_id exchange; unused wide columns pruned") {
    val p = plan("q40_rolling_window")
    assert(p.contains("RangeFrame"), p)
    // exactly one ENSURE_REQUIREMENTS hash exchange feeds the window (the
    // trailing rangepartitioning exchange is the output ORDER BY contract)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("props") && !p.contains("event_type"), p)
  }

  test("q41: cut is a broadcast scalar; merge re-agg consumes the Union of partials") {
    val p = plan("q41_incr_agg_merge")
    // the max-day split joins as a broadcast 1-row scalar — no collect,
    // no shuffle of the fact side for the cutoff
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // snapshot-partial, delta-partial and the merge each aggregate:
    // 3 logical aggs = 6 physical partial/final HashAggregates, and the
    // merge consumes a Union of the two partial frames
    assert(p.contains("Union"), p)
    assert("HashAggregate".r.findAllIn(p).size == 6, p)
  }

  test("q42: all column stats in ONE aggregate — single scan, no Expand, stack unpivots") {
    val p = plan("q42_profile_stats")
    // one partial+final agg pair moving exactly one row (SortAggregate:
    // string min/max buffers are immutable, so the hash variant is
    // unavailable — with an empty grouping key the sort is over 1 row);
    // profiling more columns must never add scans or an Expand (q14's
    // multi-DISTINCT cost)
    assert("(Hash|Sort)Aggregate".r.findAllIn(p).size == 2, p)
    assert("FileScan".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Expand"), p)
    assert(p.contains("Generate stack"), p)
  }

  test("q43: morton code is a shuffle-free codegen'd projection") {
    val p = plan("q43_zorder_layout")
    // only the output ORDER BY exchanges; the interleave itself is map work
    assert("Exchange".r.findAllIn(p).size == 1 && p.contains("rangepartitioning"), p)
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p)
    assert(p.contains("zorder2(user_id"), p) // the expression, in a Project
  }

  test("q45: all funnel stages ride ONE user exchange — no self-joins") {
    val p = plan("q45_funnel")
    // K-stage funnel as K chained windows + the per-user rollup, all on
    // one hashpartitioning(user_id); the join-free formulation is the
    // whole point (each self-join would re-shuffle the facts)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert("Window".r.findAllIn(p).size == 3, p)
    assert(!p.contains("Join"), p)
  }

  test("q46: box predicates push into the compacted scan on BOTH dimensions") {
    // default metadata truncation (100 chars) cuts the PushedFilters
    // list before the sec bounds — widen it for this assertion
    spark.conf.set("spark.sql.maxMetadataStringLength", 1000)
    try {
      val p = plan("q46_zorder_compact")
      // the z-layout's whole value is that the scan can skip files/row
      // groups on either dimension — both range predicates must reach
      // the parquet reader, not evaluate post-scan
      assert(p.contains("PushedFilters: ["), p)
      assert(p.contains("GreaterThanOrEqual(user_id,3)") &&
        p.contains("LessThanOrEqual(user_id,6)"), p)
      assert(p.contains("GreaterThanOrEqual(sec,1704844800)") &&
        p.contains("LessThanOrEqual(sec,1705017599)"), p)
      // answered from the compacted table only — the original fact file
      // never appears in the plan
      assert(!p.contains("events.parquet"), p)
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("q44: both output branches read the checkpointed sketch table, not the facts") {
    val p = plan("q44_hll_merge")
    // the events scan happens once, inside the checkpoint job; the final
    // plan's Union branches must consume the materialized sketch rows
    assert(p.contains("Union"), p)
    assert(!p.contains("FileScan"), p)
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2, p)
  }

  test("q48: one fact scan; retention is sketch arithmetic after a day-keyed agg") {
    val p = plan("q48_theta_retention")
    // the sketch build is the only contact with the facts: one scan,
    // one partial+final agg pair keyed on day (fixed-size partial
    // sketches across the exchange), then Window + set-op projections
    // over #days rows — no join anywhere in the plan
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("graft_theta_sketch_agg"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q49: both output branches read the checkpointed sketch table (q44's shape)") {
    val p = plan("q49_kll_merge")
    assert(p.contains("Union"), p)
    assert(!p.contains("FileScan"), p)
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2, p)
  }

  test("q50: rolling distinct is ONE scan + a day-level window — no range self-join") {
    val p = plan("q50_rolling_distinct")
    // the classic formulation re-joins 7 days of facts per output day;
    // the sketch formulation must never plan a join at all
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("graft_theta_union_agg"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("x19: heavy hitters collapse to ONE sketch row before the explode") {
    val p = plan("x19_heavy_hitters")
    // tokenize → partial sketch per partition → single merged sketch →
    // explode of the top-items array: the only exchanges are the
    // global-agg gather and the output top-k
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("graft_freq_sketch_agg"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("x18: chunking is map-only — no exchange except the output sort, one Generate") {
    val p = plan("x18_chunk_split")
    // the only Exchange is the output ORDER BY's rangepartitioning: the
    // chunk expansion itself never shuffles the corpus
    assert("Exchange".r.findAllIn(p).size == 1 && p.contains("rangepartitioning"), p)
    assert("Generate posexplode".r.findAllIn(p).size == 1, p)
    assert(!p.contains("HashAggregate") && !p.contains("Join"), p)
  }

  test("x17: top-3 prunes BEFORE the doc_id exchange; n_docs broadcasts; one tokenize") {
    val p = plan("x17_tfidf_keywords")
    // rank-limit pushdown: a partial WindowGroupLimit upstream of the final
    // one means each map task ships ≤3 rows per doc into the exchange
    assert("WindowGroupLimit".r.findAllIn(p).size == 2, p)
    // the 1-row corpus count joins as a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus text is exploded exactly once (df rides the tf frame)
    assert("Generate explode".r.findAllIn(p).size == 1, p)
  }

  test("q51: SCD2 build runs lag, filter, row_number and lead on ONE key exchange") {
    val p = plan("q51_scd2_history")
    // one hashpartitioning(o_custkey) feeds all three window functions
    // (the run-collapse lag, then row_number+lead over the survivors);
    // the only other Exchange is the output ORDER BY's rangepartitioning.
    // A second hash exchange would mean the post-filter windows stopped
    // riding the first one — the naive join-successor formulation's cost.
    assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1, p)
    assert("Exchange".r.findAllIn(p).size == 2 && p.contains("rangepartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q52: expectations audit scans the fact exactly twice, no Expand, broadcast anti-probe") {
    val p = plan("q52_expectations")
    // all row rules + the uniqueness distinct fold into ONE lineitem
    // scan; the referential probe is the second; orders is the third
    // scan in the plan. More scans would mean per-rule passes returned.
    assert("FileScan parquet".r.findAllIn(p).size == 3, p)
    // single distinct spec must plan as a two-phase agg, never Expand
    // (Expand would multiply the fact scan by the rule count)
    assert(!p.contains("Expand"), p)
    assert("BroadcastHashJoin .*LeftAnti".r.findAllIn(p).nonEmpty, p)
  }

  test("q53: point-in-time enrichment is join-free — windowed union, one key exchange") {
    val p = plan("q53_pit_enrich")
    // the interval-join formulation would plan a Join (quadratic per key
    // under skew); the as-of composition must not
    assert(!p.contains("Join"), p)
    // exactly two key exchanges: the SCD2 dim build's window and the
    // as-of union's window — nothing re-shuffles beyond those
    assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 2, p)
  }

  test("q54: cohort assignment is a window, not a join-back; one user exchange") {
    val p = plan("q54_cohort_matrix")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("q55: basket self-join is a shuffled hash join; top-20 is TakeOrderedAndProject") {
    val p = plan("q55_copurchase_pairs")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q56: histogram bounds broadcast as a 1-row frame; binning is one agg pass") {
    val p = plan("q56_histogram")
    // min/max come back via BroadcastNestedLoopJoin (1 row), never a
    // collect or a fact-sized shuffle join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size == 4, p) // bounds + bins, partial/final each
  }

  test("c2: composed corpus pipeline moves the corpus through ONE content-hash exchange") {
    val p = plan("c2_training_corpus")
    assert(!p.contains("Join"), p)
    // quality filter and split are projections; dedup's window (on the
    // projected md5 attribute _w0) is the only corpus-sized exchange —
    // the other two are the 3-row agg and the output sort
    assert("Exchange hashpartitioning\\(_w0".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(p.contains("Window [min(doc_id"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("d17: keeper is a partial agg, never a window; join-back is shuffled hash") {
    val p = plan("d17_passage_dedup")
    // a row_number window PARTITION BY chunk would ship every occurrence
    // of a hot boilerplate passage into one task; the min-over-struct
    // keeper must collapse map-side instead
    assert(!p.contains("Window"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p) // keeper table is corpus-sized
    assert(p.contains("partial_min"), p)
  }

  test("q57: latest-per-key is a partial agg; apply is one full-outer join") {
    val p = plan("q57_cdc_apply")
    assert(!p.contains("Window"), p) // no row_number over the feed
    assert(p.contains("FullOuter"), p)
    assert("Join".r.findAllIn(p).size >= 1, p)
    assert(p.contains("partial_max"), p)
  }

  test("q60: ONE corpus scan; medians ride the cached daily frame") {
    // suite-order independence: other specs leave session-level caches
    // whose InMemoryRelation reprints would skew the counts below
    spark.catalog.clearCache()
    val p = plan("q60_anomaly_days")
    // med/dev/mad all reference the daily rollup through the cache —
    // every FileScan in the plan string must sit inside an
    // InMemoryRelation reprint (each reprint carries one); an UNCACHED
    // corpus scan would break the equality
    assert(p.contains("InMemoryTableScan"), p)
    assert("FileScan parquet".r.findAllIn(p).size ==
      "InMemoryRelation".r.findAllIn(p).size, p)
  }

  test("q59: oriented wedge join is shuffled-hash; top-20 is TakeOrderedAndProject") {
    val p = plan("q59_triangles")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q62: sessionize + rank + path agg ride ONE user exchange; top-10 is TakeOrderedAndProject") {
    val p = plan("q62_top_paths")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("q63: interval-union windows + both aggregations ride ONE user exchange") {
    val p = plan("q63_interval_union")
    // (user_id, island) and user_id clusterings are both satisfied by
    // the window's user_id hash partitioning — a second hash exchange
    // here would mean the island aggregation stopped reusing it
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("x21: weighted sample is one scan into TakeOrderedAndProject — no global sort, no exchange") {
    val p = plan("x21_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("x22: first-seen join is a shuffled hash join (firsts table is corpus-sized)") {
    val p = plan("x22_ngram_novelty")
    // one keeper row per DISTINCT shingle — corpus-sized, so broadcasting
    // it would ship the whole shingle universe to every task
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // first-occurrence MIN must combine map-side (partial_min before the
    // shingle exchange) — a hot boilerplate shingle collapses per task
    assert(p.contains("partial_min"), p)
  }

  test("c5: mix selection rides ONE source exchange — score, window, cut, and rollup") {
    val p = plan("c5_training_mix")
    // the quality-ordered running sum, the budget filter, and the
    // per-source rollup all key on source — the window's hash exchange
    // must serve every one of them
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("c6: candidates broadcast; corpus chunks only behind the semi-join; top-10 is TakeOrderedAndProject") {
    val p = plan("c6_hybrid_retrieval")
    // the k-row candidate set must broadcast into BOTH the chunking
    // semi-join and the score join — the corpus never shuffles to meet
    // a 20-row retrieval set
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c7: one exchange KIND per stage boundary — md5 dedup, cid mix window, bucketed packing") {
    val p = plan("c7_curation_pipeline")
    // The returned plan nests each persisted stage's cached plan (and
    // the printer replicates subtrees), so occurrence COUNTS are
    // meaningless — the robust invariant is the SET of hash-exchange
    // keys: one content-hash key (the exact-dedup window's projected
    // md5 attr), `doc_id` (the stage-handoff semi-joins — keeper sets
    // scale WITH the corpus, so a key-partitioned hash join, not a
    // broadcast, is the only shape that survives 100 TB; AQE upgrades
    // them to broadcast when a run's survivor set happens to be small),
    // `cid` (the cluster-quota mix window), and `bkt` (x12's packing
    // buckets). Any other key would mean a stage shuffles the corpus on
    // something its boundary doesn't require. Pair mining, CC, and
    // k-means run as their own eagerly-materialized jobs with their own
    // pinned shapes (d7/d15's, DedupClusterSpec's, KmeansSpec's).
    val keys = exchangeKeyTuples(p)
    assert(keys.size == 4 && keys("cid") && keys("bkt") && keys("doc_id") &&
      keys.exists(_.startsWith("_w")), s"exchange key tuples: $keys\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  /** Union of hash-exchange key tuples over EVERY SQL execution a
    * query's construction + noop run triggers. The decide chain's
    * stages (scored/exact/pairs) are EAGERLY localCheckpoint'ed since
    * round 18 (lineage truncation — the loop trio's dominant cost was
    * Catalyst re-planning 350-node persisted-but-untruncated trees per
    * micro-batch), so the admission boundaries no longer appear in the
    * FINAL plan: each stage executes as its own job with its own plan.
    * A listener over all executions preserves the original pin — the
    * same shuffles still happen, in stage plans instead of one tree.
    */
  private def allExecutionKeyTuples(name: String): Set[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // the execution-listener bus is async: wait until it is empty
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(l)
      graft.core.Caches.release()
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.flatMap(p => exchangeKeyTuples(p)).toSet
  }

  test("c8: exchange keys are exactly the admission boundaries — md5 stage, band probes, pair verify, id handoffs") {
    // prime the session-lifetime staged zones + count caches so the
    // listener below sees ONLY the per-delta decide executions, not the
    // one-time staging build
    plan("c8_incremental_curation")
    // Pin the SET of hash-exchange key TUPLES across ALL stage
    // executions (see allExecutionKeyTuples): `text_md5` (the exact
    // stage's window + zone probe), `(band, bh)` (the signature-zone
    // probe and internal self-join), `doc_a` / `(doc_b, shingle)` /
    // `(doc_id, shingle)` (candidate-pair verification's two
    // shingle-attach joins), `(doc_a, doc_b)` (the pair DISTINCT and
    // the common-shingle count), `doc_id` (stage handoffs and the CC
    // fixpoint's vertex key), `component` (CC resolution tail), and —
    // visible now that the CC fixpoint's per-round plans are captured
    // too — `src` / `dst` (the symmetric-edge label propagation; these
    // always executed as separate checkpointed jobs, the old final-plan
    // pin just could not see them). Any other key — including a rogue
    // secondary column on one of these exchanges — would mean a stage
    // shuffles the delta or history on something its boundary doesn't
    // require; in particular no corpus-content key beyond md5 and no
    // embedding-side key may appear (c8 never touches embeddings).
    val keys = allExecutionKeyTuples("c8_incremental_curation")
    val expected = Set("band,bh", "component", "doc_a", "doc_a,doc_b",
      "doc_b,shingle", "doc_id", "doc_id,shingle", "text_md5", "src", "dst")
    assert(keys == expected, s"exchange key tuples: $keys")
    // the truncated FINAL plan keeps only the fate-join tail's keys
    val tail = exchangeKeyTuples(plan("c8_incremental_curation"))
    assert(tail.subsetOf(Set("doc_id", "component")),
      s"unexpected tail exchange keys: $tail")
  }

  test("c10: centroid assignment adds NO exchange beyond the admission core and the kept-id handoff") {
    val p = plan("c10_admission_clusters")
    // the assignment itself is a literal-centroid projection — the only
    // NEW keys the composition may add over c8's pinned admission set
    // are the kept-id handoff into embeddings (vec_id); any other key
    // would mean the assignment shuffled the corpus or the model
    val keys = exchangeKeyTuples(p)
    val admission = Set("band,bh", "component", "doc_a", "doc_a,doc_b",
      "doc_b,shingle", "doc_id", "doc_id,shingle", "text_md5")
    assert((keys -- admission).subsetOf(Set("vec_id")),
      s"unexpected exchange keys beyond admission + vec_id: ${keys -- admission}\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c12: the semantic gate adds ONLY vector-side keys over c8's admission set") {
    val p = plan("c12_admission_semantic")
    val keys = exchangeKeyTuples(p)
    val admission = Set("band,bh", "component", "doc_a", "doc_a,doc_b",
      "doc_b,shingle", "doc_id", "doc_id,shingle", "text_md5")
    // the vector gate's only new boundaries: the kept-id handoff into
    // embeddings (vec_id — also the candidate-id semi-join), the SRP
    // bucket probe (the zone side and the delta-internal self-join),
    // the candidate-pair DISTINCT, and the two verification
    // vector-attach joins (vec_a / vec_b). Any other key would mean
    // the gate shuffled the corpus or history on something its
    // boundary doesn't require — in particular no text-content key
    // beyond the admission set may appear (the vector gate never
    // touches text).
    assert((keys -- admission).subsetOf(
      Set("vec_id", "bucket", "vec_a", "vec_b", "vec_a,vec_b")),
      s"unexpected exchange keys beyond admission + vector gate: ${keys -- admission}\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c17: the media gate adds ONLY Hamming-probe keys over c12's set") {
    // prime the staged zone set so the listener sees only the decide
    plan("c17_admission_media")
    // every execution of the five-gate decide, not only the truncated
    // final plan: c8's admission set (with the CC fixpoint's src/dst),
    // c12's vector-gate keys, and beyond them exactly the Hamming
    // probe's boundaries — the (c, v) chunk-bucket join, the DISTINCT
    // over the candidates' (doc_id, sig) rows, and the b-side signature
    // attach (doc_b; the a-side rides c8's doc_a). Any other key would
    // mean the media gate shuffled the corpus or history on something
    // its boundary doesn't require (it decodes survivors only, and
    // never touches text or vectors).
    val keys = allExecutionKeyTuples("c17_admission_media")
    val c12 = Set("band,bh", "component", "doc_a", "doc_a,doc_b",
      "doc_b,shingle", "doc_id", "doc_id,shingle", "text_md5", "src", "dst",
      "vec_id", "bucket", "vec_a", "vec_b", "vec_a,vec_b")
    assert((keys -- c12) == Set("c,v", "doc_id,sig", "doc_b"),
      s"exchange keys beyond c12's set: ${keys -- c12}")
    assert(keys("text_md5") && keys("bucket"), s"admission keys missing: $keys")
  }

  test("c11: capped admission adds ONLY the hot-shingle anti-join key over c8's set") {
    val p = plan("c11_admission_capped")
    val keys = exchangeKeyTuples(p)
    val admission = Set("band,bh", "component", "doc_a", "doc_a,doc_b",
      "doc_b,shingle", "doc_id", "doc_id,shingle", "text_md5")
    // the df cap's only new boundaries are the shingle-keyed anti-join
    // against the hot list and the df-zone reader's replay-absorbing
    // DISTINCT over its (shingle, cnt, batch_id) rows
    assert((keys -- admission).subsetOf(Set("shingle", "shingle,cnt,batch_id")),
      s"unexpected exchange keys beyond admission + df cap: ${keys -- admission}\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c13: the calibrated gate adds NO exchange over c8's admission set") {
    val p = plan("c13_admission_calibrated")
    val keys = exchangeKeyTuples(p)
    val admission = Set("band,bh", "component", "doc_a", "doc_a,doc_b",
      "doc_b,shingle", "doc_id", "doc_id,shingle", "text_md5")
    // the calibration threshold table is #sources rows riding a
    // BROADCAST join into the gate projection — it must never appear
    // as an exchange key (a source-keyed shuffle of the delta to meet
    // its own thresholds would be the wrong shape at any scale)
    assert(keys.subsetOf(admission),
      s"unexpected exchange keys beyond admission: ${keys -- admission}\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c14: the shard tail shuffles only on cid (quota window) and bkt (packing)") {
    val p = plan("c14_admission_shard")
    // the admission chain runs EAGERLY behind a localCheckpoint (the
    // lineage-truncation rule), so the served plan is exactly the tail:
    // kept-id handoffs (doc_id / vec_id hash joins — kept sets scale
    // with the delta, AQE upgrades small runs to broadcast), ONE
    // cid-keyed exchange for the per-cluster budget window, and x12's
    // bkt-keyed packing windows. Any other key means the tail shuffled
    // the corpus on something its boundary doesn't require.
    val keys = exchangeKeyTuples(p)
    assert(keys.subsetOf(Set("doc_id", "vec_id", "cid", "bkt")),
      s"unexpected exchange keys in the shard tail: $keys\n$p")
    assert(keys("cid") && keys("bkt"), s"missing tail boundary keys: $keys\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d26: the hamming-zone probe is a shuffled hash join with the delta building") {
    val p = plan("d26_incremental_audio_dedup")
    val keys = exchangeKeyTuples(p)
    // chunk-keyed probe (c, v), oriented-pair DISTINCT (doc_a, doc_b),
    // candidate-id and signature handoffs (doc_id / doc_a / doc_b) —
    // nothing else may shuffle (signatures are per-partition decode
    // output; verification is candidate-sized)
    assert(keys.subsetOf(Set("c,v", "doc_a,doc_b", "doc_id", "doc_a", "doc_b")),
      s"unexpected exchange keys: $keys\n$p")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d25: the zone probe consumes the bucketed band scan with zero zone-side Exchange") {
    val p = plan("d25_incremental_dedup_bucketed")
    // the probe must read the DISK-BUCKETED bands table...
    val scanAt = p.indexOf("Bucketed: true")
    assert(scanAt >= 0, s"no bucketed scan in the probe plan\n$p")
    // ...and the zone side must reach the join WITHOUT an Exchange: the
    // zone is the join's LEFT child, printed directly under the join
    // header, so the segment between the nearest ShuffledHashJoin above
    // the bucketed scan and the scan itself is exactly the zone-side
    // subtree — any Exchange there means the bucketing was not used
    val joinAt = p.lastIndexOf("ShuffledHashJoin", scanAt)
    assert(joinAt >= 0, s"bucketed scan not under a shuffled hash join\n$p")
    assert(!p.substring(joinAt, scanAt).contains("Exchange"),
      s"zone-side Exchange above the bucketed scan\n${p.substring(joinAt, scanAt)}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x20: stratum top-k window reads histogram-pruned input via a broadcast cutoff") {
    val p = plan("x20_group_sample")
    // the per-stratum byte cutoffs come back as a broadcast — the corpus
    // must never shuffle to meet its own metadata
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // the filter on the broadcast cutoff sits BELOW the ranking window's
    // exchange: prune-then-shuffle, not shuffle-then-prune
    val win = p.indexOf("Window [row_number()")
    val bhj = p.indexOf("BroadcastHashJoin")
    assert(win >= 0 && bhj > win, p)
  }

  test("x31: the word histogram is the only corpus pass — one partial-agg exchange on word, top-V as TakeOrdered") {
    val h = graft.operators.Bpe.wordHistogram(
      graft.core.Tables(spark, dir, "documents"),
      org.apache.spark.sql.functions.col("text"), 1024)
    val p = h.queryExecution.executedPlan.toString
    assert(exchangeKeyTuples(p) == Set("word"), p)
    // map-side combine before the exchange, top-V without a global sort
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c18: the trained-chain encode is a pure projection — no joins, no hash exchange, only the output sort") {
    val p = plan("c18_bpe_encode")
    assert(exchangeKeyTuples(p).isEmpty, p)
    assert(!p.contains("Join"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("c19: BPE pricing keeps the shard tail join-free inside — exactly c14's exchange set") {
    val p = plan("c19_bpe_shard_tail")
    // the trained chain is LITERALS in the projections that previously
    // held the whitespace regex, so swapping the pricer must not add a
    // single exchange key: the tail still shuffles only on cid (quota
    // window) and bkt (packing), plus the kept-id handoffs
    val keys = exchangeKeyTuples(p)
    assert(keys.subsetOf(Set("doc_id", "vec_id", "cid", "bkt")),
      s"unexpected exchange keys in the BPE-priced tail: $keys\n$p")
    assert(keys("cid") && keys("bkt"), s"missing tail boundary keys: $keys\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c20: pos and start_off ride ONE corpus exchange — (bkt, epoch) keys only, offsets broadcast") {
    val p = plan("c20_epoch_pack")
    // identical exchange set to x32: the token prefix sum must ride the
    // SAME (bkt,epoch) windows as the rank, not buy a second corpus
    // shuffle; per-epoch bucket offsets (now two accumulators wide)
    // still come back via broadcast
    assert(exchangeKeyTuples(p) == Set("bkt,epoch", "epoch"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // one fused Window hosts both accumulators: no second corpus-sized
    // window operator beyond the (bkt,epoch)-partitioned one
    assert(!p.contains("Window [row_number() windowspecdefinition(hk"), p)
  }

  test("x32: corpus-sized work exchanges only on (bkt, epoch); bucket offsets broadcast back") {
    val p = plan("x32_epoch_shuffle")
    // (bkt,epoch): the partitioned local-rank window + the (partial-
    // aggregated) bucket-count groupBy; epoch: the tiny offset window
    assert(exchangeKeyTuples(p) == Set("bkt,epoch", "epoch"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // no unpartitioned corpus window: every row_number window lists
    // partition columns
    assert(!p.contains("Window [row_number() windowspecdefinition(hk"), p)
  }
}
