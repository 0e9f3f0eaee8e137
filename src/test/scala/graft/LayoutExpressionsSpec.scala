package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.LayoutExpressions
import graft.operators.{Generations, ShardedWriter}

/** The Z-order expression contract: bit-exact interleave (vs a bit-by-bit
  * reference), SQL-surface null semantics, and the layout win it exists
  * for — a 2-D box query touches fewer z-ordered shards than row-major
  * ones.
  */
class LayoutExpressionsSpec extends SparkSpec {

  /** Bit-by-bit reference: the definition, not the fast spread. */
  private def mortonRef(a: Long, b: Long): Long = {
    var out = 0L
    var i = 0
    while (i < 32) {
      out |= ((a >>> i) & 1L) << (2 * i)
      out |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  test("morton2 matches the bit-by-bit definition across the 31-bit domain") {
    val samples = Seq(0L, 1L, 2L, 3L, 63L, 64L, 1000003L, 0x12345678L,
      0x40000000L, (1L << 31) - 1)
    for (a <- samples; b <- samples)
      assert(LayoutExpressions.morton2(a, b) == mortonRef(a, b), s"($a, $b)")
    // interleave structure: a on even bits, b on odd
    assert(LayoutExpressions.morton2(LayoutExpressions.MaxDim, 0L) == 0x1555555555555555L)
    assert(LayoutExpressions.morton2(0L, LayoutExpressions.MaxDim) == 0x2AAAAAAAAAAAAAAAL)
  }

  test("domain guard: 2^31 boundary fails loudly, never silently mis-sorts") {
    val max = LayoutExpressions.MaxDim // 2^31 - 1: last encodable value
    // the top of the domain still encodes, non-negative, above all else
    val top = LayoutExpressions.morton2(max, max)
    assert(top == 0x3FFFFFFFFFFFFFFFL && top > 0L)
    for ((a, b) <- Seq((1L << 31, 0L), (0L, 1L << 31), (-1L, 0L),
        (0L, Long.MinValue), (Long.MaxValue, 0L))) {
      val e = intercept[IllegalArgumentException](LayoutExpressions.morton2(a, b))
      assert(e.getMessage.contains("out of range"), s"($a, $b): ${e.getMessage}")
    }
    // property at the boundary: for every in-domain value v, (v, *) and
    // (*, v) encode while (v + 2^31, *) throws — the sign-bit caveat is
    // structurally unreachable, not just documented
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vs = Gen.listOfN(200, Gen.choose(0L, max))
      .apply(Gen.Parameters.default, Seed(47L)).getOrElse(Nil)
    assert(vs.nonEmpty)
    vs.foreach { v =>
      assert(LayoutExpressions.morton2(v, max - v) >= 0L)
      intercept[IllegalArgumentException](LayoutExpressions.morton2(v + (1L << 31), 0L))
      intercept[IllegalArgumentException](LayoutExpressions.morton2(0L, v + (1L << 31)))
    }
    // the SQL surface (codegen path) enforces the same contract
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(1L << 31).toDF("a")
        .select(LayoutExpressions.zorder2($"a", org.apache.spark.sql.functions.lit(0L)))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => Option(c.getMessage).exists(_.contains("out of range"))))
  }

  test("property: deinterleave inverts morton2 over random in-domain inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def deinterleave(z: Long): (Long, Long) = {
      var a = 0L; var b = 0L; var i = 0
      while (i < 32) {
        a |= ((z >>> (2 * i)) & 1L) << i
        b |= ((z >>> (2 * i + 1)) & 1L) << i
        i += 1
      }
      (a, b)
    }
    val dim = Gen.choose(0L, LayoutExpressions.MaxDim)
    val pairs = Gen.listOfN(500, Gen.zip(dim, dim))
      .apply(Gen.Parameters.default, Seed(43L)).getOrElse(Nil)
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val z = LayoutExpressions.morton2(a, b)
      // the code is a bijection on the (domain-checked) dimensions
      assert(deinterleave(z) == ((a, b)), s"($a, $b)")
    }
  }

  test("SQL surface: graft_zorder2 codegen parity and null propagation") {
    import spark.implicits._
    val df = Seq((3L, 5L), (0L, 0L), (123456L, 654321L)).toDF("a", "b")
      .select(LayoutExpressions.zorder2($"a", $"b").as("z"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(mortonRef(3, 5), 0L, mortonRef(123456, 654321)))
    val withNull = spark.sql("SELECT graft_zorder2(CAST(NULL AS BIGINT), 1L) AS z")
    assert(withNull.collect().head.isNullAt(0))
  }

  test("z-order prunes BOTH dimensions; a single-column sort zero-prunes one") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // 64x64 grid; shard into 16 files of 256 rows under both layouts
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def filesHitting(dir: String, pred: Column): Int =
      Files.list(Paths.get(dir)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet"))
        .count(f => spark.read.parquet(f).filter(pred).limit(1).count() > 0)

    val zDir = tmpDir("zlay") + "/z"
    ShardedWriter.writeSharded(
      grid.withColumn("z", LayoutExpressions.zorder2($"x", $"y")),
      zDir, col("z"), 256L)
    val xMajorDir = tmpDir("zlay") + "/xm"
    ShardedWriter.writeSharded(grid, xMajorDir, col("x") * 64 + col("y"), 256L)

    val xStripe = $"x".between(8, 15)  // 8 columns, every y
    val yStripe = $"y".between(8, 15)  // 8 rows, every x
    val box = xStripe && yStripe       // aligned 8x8 tile

    // x-major fully prunes the sorted dimension but cannot prune y at
    // all: every shard holds 4 full x-columns, each containing y 8..15
    assert(filesHitting(xMajorDir, xStripe) <= 2)
    assert(filesHitting(xMajorDir, yStripe) == 16, "x-major must scan ALL shards for a y-stripe")
    // z-order: each stripe decomposes into 8 aligned 8x8 tiles = 8
    // morton intervals -> bounded shard hits for BOTH dimensions, and
    // the aligned box is ONE contiguous interval (64 rows, <= 2 shards)
    val zx = filesHitting(zDir, xStripe)
    val zy = filesHitting(zDir, yStripe)
    assert(math.max(zx, zy) <= 10, s"z-order stripes hit $zx/$zy shards")
    assert(filesHitting(zDir, box) <= 2)
  }

  test("zorderN: K=2 is bit-identical to morton2; K=3 matches the definition; domains enforced") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // K=2: 31 bits per dim, layout 2i/2i+1 — the same code as morton2
    val dim = Gen.choose(0L, LayoutExpressions.MaxDim)
    val pairs = Gen.listOfN(300, Gen.zip(dim, dim))
      .apply(Gen.Parameters.default, Seed(59L)).getOrElse(Nil)
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val z = LayoutExpressions.spreadN(a, 2, 0) | LayoutExpressions.spreadN(b, 2, 1)
      assert(z == LayoutExpressions.morton2(a, b), s"($a, $b)")
    }
    // K=3: bit-by-bit reference over the 21-bit domain
    def morton3Ref(a: Long, b: Long, c: Long): Long = {
      var out = 0L
      for (i <- 0 until 21) {
        out |= ((a >>> i) & 1L) << (3 * i)
        out |= ((b >>> i) & 1L) << (3 * i + 1)
        out |= ((c >>> i) & 1L) << (3 * i + 2)
      }
      out
    }
    val d3 = Gen.choose(0L, (1L << 21) - 1)
    val triples = Gen.listOfN(300, Gen.zip(d3, d3, d3))
      .apply(Gen.Parameters.default, Seed(61L)).getOrElse(Nil)
    assert(triples.nonEmpty)
    triples.foreach { case (a, b, c) =>
      val z = LayoutExpressions.spreadN(a, 3, 0) |
        LayoutExpressions.spreadN(b, 3, 1) | LayoutExpressions.spreadN(c, 3, 2)
      assert(z == morton3Ref(a, b, c) && z >= 0L, s"($a, $b, $c)")
    }
    // domain guard: bit 21 set (or negative) throws for K=3
    for (bad <- Seq(1L << 21, -1L, Long.MaxValue)) {
      val e = intercept[IllegalArgumentException](LayoutExpressions.spreadN(bad, 3, 0))
      assert(e.getMessage.contains("out of range"), s"$bad: ${e.getMessage}")
    }
    // SQL surface: codegen parity with the interpreted spread + null out
    import spark.implicits._
    val df = Seq((5L, 9L, 17L)).toDF("a", "b", "c")
      .select(LayoutExpressions.zorderN($"a", $"b", $"c").as("z"))
    assert(df.collect().head.getLong(0) == morton3Ref(5, 9, 17))
    val withNull = spark.sql(
      "SELECT graft_zordern(1L, CAST(NULL AS BIGINT), 2L) AS z")
    assert(withNull.collect().head.isNullAt(0))
  }

  test("compactZorderN clusters all THREE dimensions; every stripe prunes") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // 16x16x16 grid fragmented into 16 hash files, folded to 8 z-shards
    val grid = (for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 16)
      yield (x.toLong, y.toLong, z.toLong)).toDF("x", "y", "z")
    val dir = tmpDir("z3c") + "/g"
    grid.repartition(16).write.parquet(dir)
    val (before, after) =
      ShardedWriter.compactZorderN(spark, dir, Seq("x", "y", "z"), 512L)
    // ~8 range shards, but repartitionByRange's boundary sampling is
    // seeded by the rdd id — it varies with session history (suite
    // order), and a shard the sample overfilled splits at the
    // maxRecordsPerFile cap. The principled worst case is one split per
    // shard (2 x 8); observed 8-14 across orderings. The clustering
    // property itself is the stripe/box pruning pinned below, not the
    // exact file count.
    assert(before == 16 && after <= 16 && after < before)
    // content survives the rewrite
    assert(Generations.read(spark, dir).count() == 4096)
    def filesHitting(pred: Column): Int =
      Files.list(Paths.get(Generations.resolve(spark, dir))).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet"))
        .count(f => spark.read.parquet(f).filter(pred).limit(1).count() > 0)
    // a quarter-stripe in EACH dimension skips files — impossible for
    // any single-column sort, which scatters two of the three
    for (c <- Seq($"x", $"y", $"z"))
      assert(filesHitting(c.between(4, 7)) < after, c.toString)
    // the aligned 3-D box lands in a corner of the curve
    assert(filesHitting($"x".between(4, 7) && $"y".between(4, 7) && $"z".between(4, 7)) <= 2)
  }

  test("compactZorder2 folds real fragmented events; box query prunes BOTH dimensions") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    val src = "/root/testdata/sf0.001"
    val events = graft.core.Tables.events(spark, src)
      .select($"event_id", $"user_id", unix_timestamp($"ts").as("sec"))
    def fragment(path: String): Unit =
      events.repartition(16).write.mode("overwrite").parquet(path)
    def parquetFiles(dir: String): Seq[String] =
      Files.list(Paths.get(Generations.resolve(spark, dir))).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    def filesHitting(dir: String, pred: Column): Int =
      parquetFiles(dir)
        .count(f => spark.read.parquet(f).filter(pred).limit(1).count() > 0)

    // the compaction path: fragmented ingest layout -> z-order OPTIMIZE
    val zDir = tmpDir("zc") + "/z"
    fragment(zDir)
    val (before, after) =
      ShardedWriter.compactZorder2(spark, zDir, "user_id", "sec", 125L)
    assert(before == 16, s"expected the fragmented layout, saw $before files")
    assert(after <= 8 && after < before, s"compaction must fold: $before -> $after")

    // content-exact through the rewrite (full table, row-level)
    val got = Generations.read(spark, zDir)
      .orderBy($"event_id").collect().map(_.toSeq).toSeq
    val want = events.orderBy($"event_id").collect().map(_.toSeq).toSeq
    assert(got == want, "z-order compaction changed table content")

    // comparison layout: same OPTIMIZE but single-column (time) key
    val sDir = tmpDir("zc") + "/s"
    fragment(sDir)
    ShardedWriter.compactParquet(spark, sDir, col("sec"), 125L)

    // users 3..6, 2024-01-10..11 UTC (the q46 box)
    val userStripe = $"user_id".between(3, 6)
    val timeStripe = $"sec".between(1704844800L, 1705017599L)
    val sFiles = parquetFiles(sDir).size
    // time-sorted prunes its own dimension but EVERY file holds users
    // 3..6 somewhere, so a user predicate cannot skip any file
    assert(filesHitting(sDir, userStripe) == sFiles,
      "time-sorted layout should be un-prunable on the user dimension")
    // z-order: both single-dimension stripes skip files, and the 2-D
    // box lands in a handful of Morton tiles
    val zu = filesHitting(zDir, userStripe)
    val zb = filesHitting(zDir, userStripe && timeStripe)
    assert(zu < after, s"z layout must prune the user stripe: hit $zu of $after")
    assert(filesHitting(zDir, timeStripe) < after)
    assert(zb <= 3, s"2-D box should touch <=3 Morton tiles, hit $zb")
  }
}
