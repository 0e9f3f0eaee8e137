package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cardano.{BlockfrostSource, Schemas}

/** DataSource V2 reader for the Blockfrost fan-out (SURVEY §2.1 S1/S2 as
  * a first-class `spark.read.format("blockfrost")` source — the
  * "DataSource V2 reader" alternative SURVEY §2.5 names for I/O
  * sources).
  *
  * Spark-native structure:
  *  - height-range planning happens in [[BlockfrostScan.planInputPartitions]]:
  *    the `[start, end]` range splits into `numPartitions` contiguous
  *    slices, one `InputPartition` each — the cluster-parallel analogue
  *    of the reference's sequential asyncio loop
  *    (`cardano_blocks_to_s3_pipeline.py:58-61`);
  *  - each partition builds its own transport + rate limiter (the same
  *    per-partition client seam as the `mapPartitions` path, with the
  *    same paced retry, [[BlockfrostSource.paced]]) and parses
  *    the fetched JSON with Spark's own `JacksonParser` directly into
  *    `InternalRow`s — no driver hop, no RDD[String] detour;
  *  - column pruning is real: `SupportsPushDownRequiredColumns` hands the
  *    pruned schema to the parser, so unprojected fields are never
  *    materialized (`ReadSchema` in `.explain` shows the pruned struct).
  *
  * Options: `entity` = blocks|block_tx, `start`, `end`,
  * `numPartitions` (default 8), `rps` (default 50 per partition),
  * `transport` = fixture|http, `baseUrl`, `projectId` (http only).
  */
class BlockfrostDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "blockfrost"

  private def entity(options: CaseInsensitiveStringMap): String =
    options.getOrDefault("entity", "blocks")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    entity(options) match {
      case "blocks" => Schemas.rawBlock
      case "block_tx" => Schemas.rawBlockTransactions
      case other => throw new IllegalArgumentException(
        s"unsupported entity '$other' (blocks | block_tx; tx/utxo fan out over hashes — use BlockfrostSource)")
    }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BlockfrostTable(schema, properties.asScala.toMap)
}

final class BlockfrostTable(schema: StructType, properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"blockfrost(${properties.getOrElse("entity", "blocks")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // normalize keys to lowercase: table properties may carry original
    // casing while CaseInsensitiveStringMap lowercases
    new BlockfrostScanBuilder(schema,
      properties.map { case (k, v) => k.toLowerCase -> v } ++ options.asScala)
}

final class BlockfrostScanBuilder(fullSchema: StructType, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var readSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  // The height column that drives the fan-out range per entity.
  private val heightCol =
    if (options.getOrElse("entity", "blocks") == "block_tx") "block_height" else "height"

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Preserve declared field order/type from the full schema; an empty
    // projection (count(*)) keeps zero fields — the parser still counts rows.
    readSchema = requiredSchema

  /** For an API fan-out source, filter pushdown is not an optimization of
    * bytes read — it bounds the number of HTTP CALLS MADE. A height-range
    * predicate narrows `[start, end]` before partitions are planned, so
    * `load().filter(height between a and b)` fetches b−a+1 blocks, not
    * the whole configured range. All filters are also returned as
    * residual (Spark re-applies them post-scan), so pushdown can only
    * remove work, never rows.
    */
  // Only INTEGRAL values are pushable: truncating a fractional bound
  // (height < 10.5 → < 10) would over-narrow and drop rows the residual
  // filter can't bring back.
  private def intVal(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l)
    case i: java.lang.Integer => Some(i.toLong)
    case s: java.lang.Short => Some(s.toLong)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo(c, v) => c == heightCol && intVal(v).isDefined
      case GreaterThan(c, v) => c == heightCol && intVal(v).isDefined
      case GreaterThanOrEqual(c, v) => c == heightCol && intVal(v).isDefined
      case LessThan(c, v) => c == heightCol && intVal(v).isDefined
      case LessThanOrEqual(c, v) => c == heightCol && intVal(v).isDefined
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** [lo, hi] bounds implied by the pushed height predicates. */
  private def heightBounds: (Option[Long], Option[Long]) = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def raiseLo(v: Long): Unit = if (lo.forall(_ < v)) lo = Some(v)
    def lowerHi(v: Long): Unit = if (hi.forall(_ > v)) hi = Some(v)
    pushed.foreach {
      case EqualTo(_, v) => intVal(v).foreach { x => raiseLo(x); lowerHi(x) }
      case GreaterThan(_, v) => intVal(v).foreach(x => raiseLo(x + 1))
      case GreaterThanOrEqual(_, v) => intVal(v).foreach(raiseLo)
      case LessThan(_, v) => intVal(v).foreach(x => lowerHi(x - 1))
      case LessThanOrEqual(_, v) => intVal(v).foreach(lowerHi)
      case _ => ()
    }
    (lo, hi)
  }

  override def build(): Scan = {
    // User-option sanity is checked on the CONFIGURED range; a range made
    // empty by filter narrowing is a legitimate zero-row scan.
    val userStart = options.getOrElse("start", "1").toLong
    options.get("end").foreach(e =>
      require(e.toLong >= userStart, s"empty height range [$userStart, $e]"))
    val (lo, hi) = heightBounds
    val narrowed = options ++
      lo.map(v => "start" -> math.max(v, userStart).toString) ++
      hi.map(v => "end" -> options.get("end").fold(v)(e => math.min(v, e.toLong)).toString)
    new BlockfrostScan(readSchema, narrowed)
  }
}

final case class HeightRangePartition(from: Long, to: Long) extends InputPartition

final class BlockfrostScan(readSchema: StructType, options: Map[String, String])
    extends Scan with Batch {
  override def toBatch: Batch = this
  override def readSchema(): StructType = readSchema

  override def planInputPartitions(): Array[InputPartition] = {
    val start = options.getOrElse("start", "1").toLong
    val end = options.getOrElse("end", sys.error("option 'end' is required")).toLong
    val n = math.max(1, options.getOrElse("numpartitions",
      options.getOrElse("numPartitions", "8")).toInt)
    // Filter narrowing can legally empty the range → zero partitions.
    if (end < start) return Array.empty
    val total = end - start + 1
    val per = (total + n - 1) / n
    (0L until n.toLong)
      .map(i => (start + i * per, math.min(start + (i + 1) * per - 1, end)))
      .filter { case (a, b) => a <= b }
      .map { case (a, b) => HeightRangePartition(a, b): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BlockfrostReaderFactory(readSchema, options)
}

final class BlockfrostReaderFactory(readSchema: StructType, options: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HeightRangePartition]
    new BlockfrostPartitionReader(p, readSchema, options)
  }
}

/** Runs on the executor: one transport + rate limiter per partition,
  * JSON parsed straight to InternalRow with the PRUNED schema (fields
  * outside the projection are skipped by the parser).
  */
final class BlockfrostPartitionReader(
    part: HeightRangePartition,
    readSchema: StructType,
    options: Map[String, String]) extends PartitionReader[InternalRow] {

  private val backend: BlockfrostSource.Backend =
    options.getOrElse("transport", "fixture") match {
      case "fixture" => new BlockfrostSource.FixtureBackend
      case "http" => new BlockfrostSource.HttpBackend(
        options.getOrElse("baseurl", sys.error("option 'baseUrl' required for http")),
        options.get("projectid"))
      case other => throw new IllegalArgumentException(s"unknown transport '$other'")
    }
  private val fetch: Long => Option[String] = options.getOrElse("entity", "blocks") match {
    case "block_tx" => backend.blockTxs _
    case _ => backend.block _
  }
  private val limiter = new BlockfrostSource.RateLimiter(
    options.getOrElse("rps", "50").toInt)
  private val parser = new JacksonParser(
    readSchema, new JSONOptions(Map.empty[String, String], "UTC"), allowArrayAsStructs = true)

  private var h = part.from
  private var pending: Iterator[InternalRow] = Iterator.empty

  override def next(): Boolean = {
    while (!pending.hasNext && h <= part.to) {
      val json = BlockfrostSource.paced(limiter)(fetch(h))
      h += 1
      pending = json.iterator.flatMap(s =>
        parser.parse(s, CreateJacksonParser.string, UTF8String.fromString)).map(_.copy())
    }
    pending.hasNext
  }

  override def get(): InternalRow = pending.next()
  override def close(): Unit = ()
}
