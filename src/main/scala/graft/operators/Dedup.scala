package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every operator is a shingle-explode + key-partitioned
  * aggregation/join — the only shuffles are on shingle / band-hash /
  * doc-pair keys, all of which stay bounded because candidate generation
  * (LSH banding, shingle buckets) happens BEFORE any pairwise work. No
  * O(n^2) step ever materializes over the full corpus; pairwise Jaccard
  * runs only on co-bucketed candidates. That is the property that
  * survives a 100 TB corpus where n^2 does not.
  */
object Dedup {
  import TextOps.{h60, tokens}

  /** Exact dedup by content hash (reference Q5's PK-conflict-skip applied
    * to content): one hash-partitioned aggregation.
    */
  def exactByContent(df: DataFrame, text: Column, idCol: Column): DataFrame =
    df.groupBy(md5(text).as("text_md5"))
      .agg(min(idCol).as("keeper_id"), count(lit(1)).as("dup_cnt"))

  /** The md5 keeper zone — c8/st21/c9's exact-dedup history index: a
    * parquet dir ([[Generations]]-resolved, so read it through
    * [[md5ZoneRead]]) of `(text_md5, keeper_id)` rows, ONE PER
    * DOCUMENT (not per-batch minima: per-doc rows are what make
    * [[md5ZoneDelete]] exact — under collapsed minima, deleting the
    * min-id holder would silently un-block content that OTHER live
    * documents still carry, because their rows were folded away).
    * Readers min-aggregate after dropping tombstoned docs, so
    * per-batch splits, replays, and duplicate rows are all absorbed
    * (min is a semilattice). Tombstones (`doc_id` rows) live in the
    * sibling `<dir>.tombstones`; deletes, the live read and OPTIMIZE
    * are the shared [[Zone]] lifecycle (the zone has no meta: md5 is
    * its whole geometry).
    */
  def md5ZoneAppend(delta: DataFrame, text: Column, idCol: Column,
      dir: String): Unit =
    md5Zone(dir).append(delta.sparkSession)(
      delta.select(md5(text).as("text_md5"), idCol.as("keeper_id")))

  private[operators] def md5Zone(dir: String) = Zone("md5 zone", dir, metaDir = "",
    rowsDir = dir, tombstonesDir = dir + ".tombstones", id = "keeper_id",
    cluster = "text_md5", tombstoneId = "doc_id")

  /** Record document deletions against an md5 zone ([[Zone.delete]]). */
  def md5ZoneDelete(ids: DataFrame, dir: String): Unit = md5Zone(dir).delete(ids)

  /** Whether an md5 zone stores tombstone rows ([[Zone.tombstoned]]). */
  def md5ZoneTombstoned(spark: org.apache.spark.sql.SparkSession, dir: String): Boolean =
    md5Zone(dir).tombstoned(spark)

  /** The zone's live rows ([[Zone.liveRows]]): stored rows minus
    * tombstoned documents.
    */
  def md5ZoneRead(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    // an absent zone fails the plain read, as it always has
    md5Zone(dir).liveRows(spark).getOrElse(spark.read.parquet(dir))

  /** OPTIMIZE an append-only md5 keeper zone ([[Zone.optimize]]),
    * rewritten md5-clustered. Result-invisible: compacted and
    * uncompacted zones answer identically (SignatureZoneSpec pins it).
    * Returns (filesBefore, filesAfter).
    */
  def optimizeMd5Zone(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetRowsPerFile: Long = 4 << 20): (Int, Int) =
    md5Zone(dir).optimize(spark, targetRowsPerFile)

  /** Distinct token n-gram shingles per document: (id, shingle) rows.
    * `array_distinct` before the explode keeps the shuffle volume at
    * distinct-shingles, not token count.
    */
  def shingles(df: DataFrame, idCol: Column, text: Column, n: Int): DataFrame = {
    // Tokenize into its own projection first: referencing the `toks`
    // attribute inside the lambda evaluates the regex ONCE per row.
    // Inlining `tokens(text)` directly would re-run regexp_extract_all
    // per array element inside `slice` (O(tokens) regex evals per doc —
    // observed 50x slowdown in the physical plan).
    // Widen a narrow input first: tokenize+shingle is the expensive
    // per-row step and a single-split scan (micro-batch file, single-
    // row-group fixture) would run it as ONE task — no-op at scale
    // (graft.core.Tables.widened).
    val withToks = graft.core.Tables.widened(
      df.select(idCol.as("doc_id"), text.as("__t")))
      .select(col("doc_id"), tokens(col("__t")).as("toks"))
    val toks = col("toks")
    val grams = filter(
      transform(toks, (_, i) => array_join(slice(toks, i + 1, lit(n)), " ")),
      g => size(split(g, " ")) === n)
    withToks.select(col("doc_id"), explode(array_distinct(grams)).as("shingle"))
  }

  /** Per-POSITION sliding window hashes for exact-substring dedup
    * (d33/d34): `(doc_id, s, h)` with `s` the 1-based token start and
    * `h` the 60-bit hash of the `w` space-joined tokens from `s`.
    * Unlike [[shingles]] this keeps EVERY position (within-doc repeats
    * are duplication under the exact-substring rule) — the whole
    * derivation is one `transform` expression over the token array, so
    * no per-position rows exist before the single posexplode. Docs
    * shorter than `w` contribute nothing.
    */
  def windowHashes(df: DataFrame, idCol: Column, text: Column,
      w: Int): DataFrame =
    // same widening rule as [[shingles]]: the per-position md5 chain is
    // the expensive per-row step (no-op at scale)
    graft.core.Tables.widened(df.select(idCol.as("doc_id"), text.as("__t")))
      .select(col("doc_id"), tokens(col("__t")).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1L, n - ${w - 1}L), i -> " +
          s"CAST(conv(substring(md5(array_join(slice(t, CAST(i AS INT), $w), ' ')), 1, 15), 16, 10) AS BIGINT))"))
        .as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + 1L).as("s"), col("h"))

  /** Merge MARKED window positions into maximal duplicated spans:
    * overlapping or abutting `[s, s+w-1]` extents collapse (new island
    * iff a start lands past the running max end + 1 — q63's rule on
    * token intervals). `marked` must expose `doc_id` and `s`; output
    * `(doc_id, span_start, span_end, n_windows)` ordered. The window
    * runs over marked positions only (duplication-sized, ≪ corpus).
    */
  def mergeWindowSpans(marked: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byS = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    marked
      .withColumn("prev_max_end", max(col("s") + lit(w.toLong - 1)).over(
        byS.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_max_end").isNull ||
          col("s") > col("prev_max_end") + 1L, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + lit(w.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Stop-shingle document-frequency cap: drop shingles appearing in more
    * than `maxDocFreq` documents BEFORE any pairwise work. This is the
    * guard that keeps shingle self-joins from going quadratic at scale: a
    * single shingle shared by f documents contributes f²/2 join rows, so
    * one pathologically common shingle ("the end", a boilerplate header)
    * creates an O(corpus²) bucket. Capping bounds every bucket at
    * maxDocFreq²/2. Near-dup recall is unaffected in practice — true
    * near-dups share RARE shingles; a shingle present in thousands of
    * documents carries no similarity signal.
    *
    * Sizes/Jaccard downstream are computed over the capped shingle
    * universe, so the metric stays an exact Jaccard of the filtered sets.
    */
  /** Data-derived stop-shingle cap: max(50, ceil(√n)) for an
    * n-document corpus — the same derive-from-N rule the IVF cell
    * ([[Similarity.deriveCells]]) and SRP plane counts follow, closing
    * the last fixed blocking knob. Why grow with n at all: real
    * duplicate clusters scale with corpus size (boilerplate shared by a
    * fixed FRACTION of documents has df ∝ n), so a fixed cap silently
    * erodes near-dup recall as the corpus grows — at 100 TB a df-50 cap
    * would drop the very shingles that identify thousand-member
    * duplicate clusters. Why √n and not more: a surviving shingle at
    * the cap contributes cap²/2 ≈ n/2 self-join rows, so no single
    * shingle bucket ever exceeds linear-in-corpus work (buckets are
    * independent — embarrassingly parallel), which is the property that
    * keeps complete co-occurrence runnable at scale. The floor keeps
    * small corpora (n < 2500) on the long-pinned 50. Callers that
    * already know the corpus size pass it directly (the knownCount
    * seam); the registered queries derive it with one metadata-cheap
    * count.
    */
  def deriveDocFreqCap(n: Long): Long =
    math.max(50L, math.ceil(math.sqrt(n.toDouble)).toLong)

  def capShingles(sh: DataFrame, maxDocFreq: Long): DataFrame = {
    val keep = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select(col("shingle"))
    // Both sides scale with the corpus: shuffled hash join, not broadcast.
    sh.hint("shuffle_hash").join(keep, Seq("shingle"), "left_semi")
  }

  /** Candidate near-dup pairs by shingle co-occurrence with exact Jaccard.
    * Self-join on the shingle key (hash-partitioned). `maxDocFreq` caps
    * stop-shingle buckets before the join (see [[capShingles]]) and is
    * REQUIRED: the uncapped mode is quadratic in the largest shingle
    * bucket and exists only for exact small-corpus verification — opt in
    * explicitly with `None` (the d2 oracle query does) so a library user
    * can't ship the quadratic join by leaving a default in place.
    */
  def jaccardPairs(sh0: DataFrame, minJaccard: Double,
      maxDocFreq: Option[Long]): DataFrame = {
    // The shingle table feeds three subtrees (both self-join sides +
    // sizes); without an explicit persist each one re-runs tokenization
    // and the cap join (alias ids differ, so exchange reuse can't kick
    // in). Tracked: drivers release via graft.core.Caches after the
    // consuming action.
    val sh = graft.core.Caches.persistTracked(maxDocFreq.fold(sh0)(capShingles(sh0, _)))
    val a = sh.as("a")
    val b = sh.as("b")
    // Both sides are corpus-sized: force a shuffled hash join — a
    // broadcast here would ship the whole shingle table to every task
    // (and at 100 TB could not exist at all).
    val common = a.hint("shuffle_hash")
      .join(b, col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    withJaccard(common, sh, minJaccard)
  }

  /** `common` pairs `(doc_a, doc_b, n_common)` with their Jaccard over
    * the `(doc_id, shingle)` table `sh`, kept at `jaccard >= minJaccard`.
    */
  private def withJaccard(common: DataFrame, sh: DataFrame,
      minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash signature per document: k min-hashes of the shingle set in
    * one partial-aggregated pass. The shingle is md5-hashed ONCE
    * (projected to an attribute so the k aggregates share it); the k
    * hash functions are a universal family over that base —
    * `(h * (2s+1) + c_s) mod 2^30` — so signature cost is k
    * multiplications per row, not k cryptographic hashes. All arithmetic
    * stays below 2^36, exact in any engine's 64-bit integers.
    */
  val MinhashMod = 1073741824L // 2^30
  def minhash(sh: DataFrame, k: Int): DataFrame = {
    val withH = sh.select(col("doc_id"), (h60(col("shingle")) % MinhashMod).as("h"))
    val mins = (0 until k).map { s =>
      min((col("h") * (2 * s + 1) + (s * 12345 + 678)) % MinhashMod).as(s"mh$s")
    }
    withH.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH band rows over a minhash signature: one `(doc_id, band, bh)`
    * row per band, band hash = md5 of the band's minhashes. The
    * representation every banding consumer shares — [[lshCandidatePairs]]
    * self-joins it in-session; [[SignatureZone]] persists it as the
    * incremental-dedup index.
    */
  def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      struct(lit(b).as("band"), md5(concat_ws(":", parts: _*)).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bnd"))
      .select(col("doc_id"), col("bnd.band").as("band"), col("bnd.bh").as("bh"))
  }

  /** LSH banding over a minhash signature: docs sharing any band hash
    * are candidates. Pair generation is a self-join per band key —
    * bounded by bucket sizes, never all-pairs.
    */
  def lshCandidatePairs(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    // Both self-join sides read the banded table; persist (tracked) so
    // signature computation (the minhash aggregation upstream) runs once.
    val banded = graft.core.Caches.persistTracked(bandRows(sig, k, bands))
    val a = banded.as("a")
    val b = banded.as("b")
    // Same-size self-join: shuffled hash, not broadcast (see jaccardPairs).
    a.hint("shuffle_hash")
      .join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The production near-dup composition: LSH generates candidates, exact
    * Jaccard verifies them — so the expensive exact measure runs ONLY on
    * LSH-co-bucketed pairs, never on every shingle-sharing pair. With the
    * stop-shingle cap applied once up front, every stage is bounded:
    * signatures are one partial-aggregated pass, banding bounds candidate
    * buckets, and verification joins shingles to the (small) candidate
    * set on doc_id.
    *
    * Output: (doc_a, doc_b, n_common, jaccard) for verified pairs.
    */
  def lshVerifiedPairs(
      df: DataFrame,
      idCol: Column,
      text: Column,
      n: Int,
      k: Int,
      bands: Int,
      minJaccard: Double,
      maxDocFreq: Long): DataFrame = {
    // Four subtrees consume the capped shingle table (signatures, both
    // verify-join sides, sizes): persist it once (tracked) — at corpus
    // scale the alternative is 4x the tokenize+cap work, not a bigger
    // shuffle.
    val sh = graft.core.Caches.persistTracked(
      capShingles(shingles(df, idCol, text, n), maxDocFreq))
    verifyJaccard(lshCandidatePairs(minhash(sh, k), k, bands), sh, minJaccard)
  }

  /** Exact-Jaccard verification of candidate pairs `(doc_a, doc_b)` over
    * their `(doc_id, shingle)` table `sh` — shared by [[lshVerifiedPairs]]
    * and [[SignatureZone.incrementalPairs]]. Both docs' shingle sets
    * attach to each pair; the shingle equi-key makes the intersection a
    * join condition, the count the intersection size. The candidate
    * side is the small one but still scales with the corpus — shuffled
    * hash joins on doc_id. Output: (doc_a, doc_b, n_common, jaccard).
    */
  private[operators] def verifyJaccard(cand: DataFrame, sh: DataFrame,
      minJaccard: Double): DataFrame = {
    val common = cand
      .hint("shuffle_hash")
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .hint("shuffle_hash")
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    withJaccard(common, sh, minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** Connected components over near-dup pairs — the cluster-resolution
    * step every dedup pipeline needs after pair generation: near-dup is
    * not transitive, so (a,b) and (b,c) pairs must collapse into one
    * cluster with one canonical keeper before rows are dropped.
    *
    * Iterative min-label propagation (the standard distributed CC shape —
    * what large-star/small-star optimizes): every vertex starts as its
    * own component; each round takes the min over neighbors; fixpoint in
    * diameter(G) rounds. Near-dup graphs have tiny components, so this
    * converges in a handful of rounds; each round is ONE shuffle-join on
    * the vertex key plus a partial-aggregated min. The driver loop is
    * over rounds (plans), never rows; each round is localCheckpoint'ed so
    * peak live storage is a couple of label tables and lineage never
    * deepens. Throws if the fixpoint is not reached within `maxIter` —
    * returning partially-propagated labels would silently split true
    * clusters (and keep duplicate keepers), which a dedup pipeline must
    * never do; raise `maxIter` for graphs with longer chains.
    *
    * Output: (doc_id, component, cluster_size, is_keeper) for every
    * vertex; keeper = the component's minimum id (deterministic).
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Iterative algorithms must TRUNCATE LINEAGE each round, not just
    // cache: persist() short-circuits execution but the logical plan
    // still nests one round deeper every iteration and re-analysis goes
    // super-linear. localCheckpoint (eager) materializes the round and
    // replaces the plan with the materialized blocks; a cluster
    // deployment swaps in reliable checkpoint((HD)FS dir) — same shape.
    // Materialize the pair list ONCE (it is the output of a whole
    // candidate+verify pipeline), then derive both edge directions from
    // the materialized frame.
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    // Deriving the symmetric edge list per use is two NARROW scans of
    // the already-materialized pair blocks — strictly cheaper than the
    // second checkpoint job this used to run (each iteration's join
    // re-shuffles edges either way, so materializing them buys nothing).
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    ccResolve(vertices, edges, maxIter, hintBuild = false)
  }

  /** [[connectedComponents]] iterating from a DISK-bucketed symmetric
    * edge table `(src, dst)` bucketed by `dst` — q64's layout
    * discipline applied to the CC fixpoint. The in-memory variant's
    * `localCheckpoint`ed edge blocks evaporate on executor loss and
    * cannot exceed cluster memory; a table bucketed by dst IS the
    * persisted hash-partitioning, so every round's dst-keyed join
    * consumes the bucketed scan with ZERO Exchange on the edge side
    * (DedupClusterSpec pins the plan property) and only the
    * vertex-sized label table moves per round — the `shuffle_hash`
    * hint makes labels the build side so the edge scan streams.
    * The layout change must be invisible in the result: d20 shares
    * d9's oracle hash.
    */
  def connectedComponentsBucketed(vertices: DataFrame, edgeTable: String,
      maxIter: Int = 25): DataFrame =
    ccResolve(vertices, vertices.sparkSession.table(edgeTable), maxIter,
      hintBuild = true)

  /** The min-label fixpoint + keeper/size tail shared by the in-memory
    * and disk-bucketed variants. `hintBuild` marks the label side as
    * the `shuffle_hash` build so a bucketed edge scan streams unmoved.
    */
  private def ccResolve(vertices: DataFrame, edges: DataFrame, maxIter: Int,
      hintBuild: Boolean): DataFrame = {
    def hinted(labels: DataFrame): DataFrame =
      if (hintBuild) labels.hint("shuffle_hash") else labels
    // Only vertices touched by an edge can ever change label — iterate
    // over that (usually tiny) subgraph and union the untouched
    // singletons back at the end. At corpus scale this is the difference
    // between iterating over duplicates and iterating over everything.
    // Initial labels skip a whole join round: propagating self-labels one
    // step is algebraically least(self, min(neighbor)), one partial
    // aggregation over the edge list (which also IS the touched-vertex
    // set — no separate distinct()).
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("doc_id"), least(col("src"), col("nmin")).as("component"))
      .localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val nmin = edges
        .join(hinted(labels.select(col("doc_id").as("dst"), col("component").as("ncomp"))), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("ncomp")).as("nmin"))
      val next = labels
        .join(nmin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"),
          col("component").as("prev"))
        .localCheckpoint()
      // isEmpty (a take-1 over the just-checkpointed blocks), not
      // count(): the convergence probe needs existence, not a total —
      // count pays a partial+final aggregate exchange per round
      converged = next.filter(col("component") =!= col("prev")).isEmpty
      labels = next.drop("prev")
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component chains longer than maxIter; raise maxIter")
    val singletons = vertices.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    val all = labels.unionByName(singletons)
    val sizes = all.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (col("doc_id") === col("component")).as("is_keeper"))
  }

  /** Quality-aware keeper selection over PRECOMPUTED clusters — the
    * library seam between cluster resolution and the final keep/drop
    * decision, so a pipeline that already ran
    * [[lshVerifiedPairs]]→[[connectedComponents]] doesn't pay LSH twice
    * (the standalone d12 query recomputes them because every
    * driver-checked query must be self-contained).
    *
    * `clusters`: (doc_id, component, cluster_size) — connectedComponents'
    * shape; `quality`: (doc_id, quality_score). Ranking is a window
    * partitioned per component (parallel across clusters; cluster sizes
    * are bounded by construction upstream), doc_id as the deterministic
    * tiebreak. Output adds `keep` = this doc is its cluster's
    * highest-quality member.
    */
  def qualityKeeper(clusters: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("component"), col("cluster_size"),
        col("quality_score"), (col("rn") === 1).as("keep"))
  }

  /** SimHash near-dup pairs via pigeonhole LSH (the Manku/Jain/Sarma
    * WWW'07 web-dedup shape): split the 60-bit signature into `chunks`
    * contiguous chunks — two signatures within `maxHamming` bits differ
    * in at most `maxHamming` chunks, so with `chunks > maxHamming` they
    * MUST agree exactly on at least one chunk (pigeonhole; recall is
    * exact, not probabilistic). Candidates are a self-join on the
    * (chunk index, chunk value) key — bucket sizes are corpus/2^bitsPer
    * per chunk, never all-pairs — and the cheap exact Hamming distance
    * (one xor + popcount, codegen'd) verifies. The chunks/maxHamming
    * trade-off is inherent: a larger threshold needs more (smaller)
    * chunks, which coarsens buckets; 4×15-bit chunks (≤3 bits) is the
    * classic web-scale setting.
    *
    * Output: (doc_a, doc_b, hamming) for verified pairs.
    */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 3, chunks: Int = 4): DataFrame =
    hammingPairs(sig, "simhash", bits = 60, maxHamming, chunks)

  /** [[simhashPairs]] generalized to any ≤64-bit signature column —
    * the same pigeonhole blocking serves the 64-bit perceptual image
    * hash ([[Multimodal.PHash]], d16) unchanged. `shiftrightunsigned`
    * because a full-width 64-bit hash can be negative (an arithmetic
    * shift would smear the sign bit across every chunk); identical to
    * the former `>>` on the non-negative 60-bit simhash.
    */
  def hammingPairs(sig: DataFrame, hashCol: String, bits: Int,
      maxHamming: Int, chunks: Int): DataFrame = {
    require(chunks > maxHamming, "pigeonhole guarantee needs chunks > maxHamming")
    require(bits % chunks == 0, s"chunks must divide the $bits-bit signature")
    val bitsPer = bits / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val chunkCols = (0 until chunks).map { c =>
      struct(lit(c).as("c"),
        expr(s"shiftrightunsigned(`$hashCol`, ${c * bitsPer}) & $mask").as("v"))
    }
    // Both self-join sides read the chunked table; persist (tracked) so
    // the signature derivation upstream runs once.
    val chunked = graft.core.Caches.persistTracked(
      sig.select(col("doc_id"), col(hashCol).as("_h"), explode(array(chunkCols: _*)).as("ch"))
        .select(col("doc_id"), col("_h"), col("ch.c").as("c"), col("ch.v").as("v")))
    val a = chunked.as("a")
    val b = chunked.as("b")
    // Corpus-sized self-join: shuffled hash, not broadcast (see jaccardPairs).
    a.hint("shuffle_hash")
      .join(b, col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a._h ^ b._h)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // a close pair agrees on several chunks — one row per pair
      .distinct()
  }

  /** 60-bit SimHash per document: per-bit majority vote over distinct
    * token hashes, computed entirely inside the codegen'd
    * [[graft.functions.SimHash60]] expression — a SHUFFLE-FREE
    * projection (a filter + project, no Exchange). The earlier
    * formulation exploded 60 bit-rows per token through two
    * hash-aggregate shuffles; at corpus scale that made the signature
    * stage a shuffle bottleneck when it is naturally embarrassingly
    * parallel map work. Bit-identical to the explode formulation on the
    * SAME row set: token-less documents (empty / punctuation-only text)
    * produce no token rows under explode and no `sh` row in the DuckDB
    * oracles, so they are filtered here too rather than emitted with an
    * all-negative-vote hash of 0 — otherwise d4 gains rows and d11 gains
    * spurious hamming-0 pairs among empty docs. Row-set AND value parity
    * are pinned by TextExpressionsSpec's full-outer-join check.
    */
  def simhash(df: DataFrame, idCol: Column, text: Column): DataFrame =
    df.select(idCol.as("doc_id"), array_distinct(tokens(text)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExpressions.simhashOf(col("toks")).as("simhash"))

  /** Fuzzy matching via blocked edit distance, THREE blocking passes:
    * candidate pairs share a BLOCK key — their first token in pass one,
    * their LAST token in pass two, or (pass three) any member of the
    * DELETION-1 NEIGHBORHOOD of their second token (the token plus each
    * single-character deletion of it — the SymSpell key set: two tokens
    * within edit distance 1 always share such a key) — and pass a
    * length prefilter (|len_a − len_b| ≤ maxDist — a true edit-distance
    * lower bound, checked inside the join condition so most pairs die
    * before the O(n·m) Levenshtein runs); survivors are verified with
    * the codegen'd built-in threshold `levenshtein(l, r, maxDist)`,
    * which abandons the DP early (banded) once the distance exceeds the
    * threshold — a large constant-factor win on long strings with small
    * maxDist.
    *
    * Recall: a pair is reachable when its first token is intact, its
    * last token is intact, OR its second token moved by at most one
    * edit. A missed pair therefore needs ≥ 1 edit in the first token,
    * ≥ 1 in the last AND ≥ 2 in the second — total distance ≥ 4 — so
    * for the three-token titles d14 derives with maxDist ≤ 3, blocking
    * is COMPLETE over pairs whose tokenizations align 1:1 (the former
    * all-three-tokens-edited hole is closed: such a pair at dist 3 has
    * exactly one edit per token, and the middle token's deletion key
    * reaches it — spec-pinned). What remains out of reach: maxDist ≥ 4
    * pairs hitting all three tokens with ≥ 2 edits in the middle
    * (negative-pinned in FuzzyPairsSpec so a pass regression cannot
    * hide behind it), and edit scripts that restructure token
    * BOUNDARIES (inserting/deleting spaces realigns tokens, so
    * per-token reasoning does not apply) — the point where token
    * blocking ends and the ladder continues with PassJoin-style
    * positional substring keys. Pair lists from the passes are unioned
    * and deduped; `dist` is identical in all, so `distinct()` suffices.
    *
    * Scale: all-pairs edit distance is quadratic and unrunnable;
    * blocking bounds the join to per-block pairs, and `maxBlock` drops
    * degenerate blocks (a stop word as block key would otherwise go
    * quadratic — same role as [[capShingles]]'s stop-shingle cap), bound
    * per pass with its own pass's key (short titles land in pass
    * three's '' block, which the cap bounds like any other; deletion
    * keys multiply pass three's block table by ~|token|+1, a small
    * constant for word-length tokens). The block count bound is a
    * window partitioned by the block key, fully parallel.
    *
    * Plan shape: the three passes share ONE exploded block table with
    * (pass, key)-tagged keys — one persist, one cap window, one
    * self-join, one candidate `distinct()` BEFORE the Levenshtein
    * verify — instead of three windows + three joins + a union (the
    * tagged-key fusion measured ~30% faster at sf0.1 and removes two
    * Exchanges). Tagging keeps cap semantics per pass per key, exactly
    * the three-CTE formulation the DuckDB oracle runs.
    */
  def fuzzyPairs(df: DataFrame, idCol: Column, title: Column,
      maxDist: Int, maxBlock: Int): DataFrame = {
    val base = graft.core.Caches.persistTracked(
      df.select(idCol.as("doc_id"), title.as("title")))
    val tok2 = split_part(col("title"), lit(" "), lit(2))
    val taggedKeys = concat(
      array(
        struct(lit(1).as("p"), substring_index(col("title"), " ", 1).as("k")),
        struct(lit(2).as("p"), substring_index(col("title"), " ", -1).as("k"))),
      transform(deletion1Keys(tok2), k => struct(lit(3).as("p"), k.as("k"))))
    blockedDistanceMultiPass(base, taggedKeys, maxDist, maxBlock)
  }

  /** The deletion-1 neighborhood of `tok` as a distinct key array: the
    * token itself plus every single-character deletion. Two strings at
    * edit distance ≤ 1 share a member (substitution at i → both minus
    * position i; insertion/deletion → the shorter string itself), which
    * is what upgrades exact-key blocking to distance-1-tolerant
    * blocking at ~|token|+1 keys per row. An empty token yields just
    * [""] (sequence(1,0) degenerates to deletions of the empty string,
    * all "" — deduped).
    */
  private def deletion1Keys(tok: Column): Column =
    array_distinct(concat(
      transform(sequence(lit(1), length(tok)),
        i => concat(tok.substr(lit(1), i - 1), tok.substr(i + 1, length(tok)))),
      array(tok)))

  /** The fused blocking join of [[fuzzyPairs]] over an ARRAY of
    * (pass-tagged) block keys per row: explode the keys, cap per
    * exploded key (persist tracked — both self-join sides consume the
    * blocked+capped table; without it the block-count window runs
    * twice, same pattern as d7/d11/d13), self-join on shared keys —
    * and dedup candidate pairs BEFORE the Levenshtein verify, because
    * a close pair co-blocks under several keys (several passes, or
    * several shared deletion keys) and would otherwise be verified
    * once per shared key. The banded `levenshtein` returns −1 above
    * the threshold — filtered out.
    */
  private def blockedDistanceMultiPass(base: DataFrame, blockKeys: Column,
      maxDist: Int, maxBlock: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = graft.core.Caches.persistTracked(
      base.select(col("doc_id"), col("title"), explode(blockKeys).as("blk"))
        .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("blk"))))
        .filter(col("bn") <= maxBlock))
    val a = t.select(col("blk"), col("doc_id").as("doc_a"), col("title").as("ta"))
    val b = t.select(col("blk").as("blkb"), col("doc_id").as("doc_b"), col("title").as("tb"))
    a.hint("shuffle_hash")
      .join(b, col("blk") === col("blkb") && col("doc_a") < col("doc_b") &&
        abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("ta"), col("tb"))
      .distinct()
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }
}
