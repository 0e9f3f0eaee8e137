package graft.cardano

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Rate-limited HTTP fan-out source (SURVEY §2.1 S1-S4): fetch
  * blocks/txs/UTXOs from a Blockfrost-shaped REST API, distributed over a
  * `Dataset` of keys.
  *
  * Where the reference fetches ONE request at a time on a single asyncio
  * loop (`cardano_blocks_to_s3_pipeline.py:58-61` — sequential awaits),
  * this fans the keys across the cluster: every fetch first spreads its
  * keys over `defaultParallelism` partitions, whatever partitioning they
  * inherited (a hash list read from a one-file table arrives as ONE
  * partition), and each partition runs its own rate-limited fetch loop.
  * The cluster-wide rate is therefore `defaultParallelism × rps` for
  * every stage, tunable to the API quota. Retry policy mirrors the
  * reference (5 attempts, exponential backoff with the base delays of
  * `get_block_from_s3.py:22-28`), and every attempt — retries included —
  * takes a limiter token ([[paced]]), so a failing endpoint is never hit
  * faster than the pace.
  *
  * The transport is pluggable ([[Backend]]): production wires an HTTP
  * client; tests and this zero-egress environment wire
  * [[FixtureBackend]], a deterministic synthetic chain. I/O stays in
  * `mapPartitions` (the idiomatic seam for per-partition clients —
  * connection reuse, rate limiter state); parsing back to columns goes
  * through `from_json` with the explicit entity schema so the result is a
  * normal columnar DataFrame.
  */
object BlockfrostSource {

  /** Transport abstraction: returns the raw JSON the API would serve, or
    * None for a 404.
    */
  trait Backend extends Serializable {
    def block(height: Long): Option[String]
    def blockTxs(height: Long): Option[String]
    def tx(hash: String): Option[String]
    def txUtxo(hash: String): Option[String]
  }

  /** Retry with exponential backoff (reference: 5 tries, 0.1s base, x1.5,
    * capped — `get_block_from_s3.py:22-28`; sleeps are capped tighter
    * here to keep tests fast).
    */
  private[graft] def withRetry[T](attempts: Int = 5, baseDelayMs: Long = 10)(f: => T): T = {
    var delay = baseDelayMs
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case t: Throwable =>
          last = t
          Thread.sleep(delay)
          delay = math.min(delay * 3 / 2, 500)
      }
      i += 1
    }
    throw last
  }

  /** Simple per-partition rate limiter: at most `rps` calls per second
    * within one partition (token pacing — any two grants are at least
    * `1/rps` apart; cluster-wide rate = partitions × rps, sized to the
    * API quota).
    */
  private[graft] final class RateLimiter(rps: Int) extends Serializable {
    private val intervalNanos = 1000000000L / math.max(rps, 1)
    private var nextAt = 0L
    def acquire(): Unit = {
      var now = System.nanoTime()
      while (now < nextAt) {
        Thread.sleep((nextAt - now + 999999) / 1000000)
        now = System.nanoTime()
      }
      nextAt = now + intervalNanos
    }
  }

  /** One fetch with retries, each attempt paced by `limiter` (the token
    * is taken inside the retried block, so backoff never lets a retry
    * jump the per-partition pace). The one call both fetch loops — this
    * object's and the DataSource V2 reader's — go through.
    */
  private[graft] def paced[T](limiter: RateLimiter)(f: => T): T =
    withRetry() { limiter.acquire(); f }

  /** S1: heights → raw block rows. */
  def fetchBlocks(heights: Dataset[java.lang.Long], backend: Backend, rps: Int = 50): DataFrame =
    fetchJson(heights, backend, rps)(_.block(_))
      .select(from_json(col("json"), Schemas.rawBlock).as("r")).select("r.*")

  /** S2: heights → (block_height, tx_hash[]) rows. */
  def fetchBlockTxs(heights: Dataset[java.lang.Long], backend: Backend, rps: Int = 50): DataFrame =
    fetchJson(heights, backend, rps)(_.blockTxs(_))
      .select(from_json(col("json"), Schemas.rawBlockTransactions).as("r")).select("r.*")

  /** S3: tx hashes → raw transaction rows. */
  def fetchTransactions(hashes: Dataset[String], backend: Backend, rps: Int = 50): DataFrame =
    fetchJson(hashes, backend, rps)(_.tx(_))
      .select(from_json(col("json"), Schemas.rawTransaction).as("r")).select("r.*")

  /** S4: tx hashes → nested UTXO docs. */
  def fetchTxUtxos(hashes: Dataset[String], backend: Backend, rps: Int = 50): DataFrame =
    fetchJson(hashes, backend, rps)(_.txUtxo(_))
      .select(from_json(col("json"), Schemas.rawTxUtxo).as("r")).select("r.*")

  /** The one fetch path: spread the keys over every slot, then one paced
    * fetch loop per partition. The round-robin repartition is a shuffle
    * of the keys only (tiny next to the calls it parallelizes).
    */
  private def fetchJson[K](keys: Dataset[K], backend: Backend, rps: Int)(
      call: (Backend, K) => Option[String]): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.repartition(spark.sparkContext.defaultParallelism).mapPartitions { it =>
      val limiter = new RateLimiter(rps)
      it.flatMap(k => paced(limiter)(call(backend, k)))
    }.toDF("json")
  }

  /** Live HTTP transport for a Blockfrost-shaped REST API (java.net.http
    * — zero extra dependencies). Endpoint + error contract mirror the
    * reference extractors (`src/extractors/get_block.py:12-38`,
    * `get_tx_utxo.py:12-35`): 404 → None (missing block/tx), any other
    * non-200 → throw, which the per-partition fetch loop's [[paced]]
    * retry turns into 5 paced attempts with exponential backoff
    * (`get_block_from_s3.py:22-28`).
    *
    * The instance is serialized into the `mapPartitions` closure; the
    * HttpClient itself is `@transient lazy`, so each executor builds its
    * own client on first use and reuses its connection pool for the whole
    * partition — the connection-reuse seam `mapPartitions` exists for.
    */
  final class HttpBackend(
      baseUrl: String,
      projectId: Option[String] = None,
      connectTimeoutMs: Long = 5000,
      requestTimeoutMs: Long = 30000) extends Backend {

    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
        .build()

    private def get(path: String): Option[String] = {
      val b = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"$baseUrl$path"))
        .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
        .GET()
      projectId.foreach(id => b.header("project_id", id))
      val resp = client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      resp.statusCode() match {
        case 200 => Some(resp.body())
        case 404 => None
        case code =>
          throw new java.io.IOException(s"HTTP $code for $path: ${resp.body().take(200)}")
      }
    }

    override def block(h: Long): Option[String] = get(s"/blocks/$h")

    /** Blockfrost serves `/blocks/{n}/txs` as a bare JSON array of tx
      * hashes; wrap it into the (block_height, tx_hash[]) row shape the
      * engine consumes — the same wrap the reference applies.
      */
    override def blockTxs(h: Long): Option[String] =
      get(s"/blocks/$h/txs").map(arr => s"""{"block_height": $h, "tx_hash": $arr}""")

    override def tx(hash: String): Option[String] = get(s"/txs/$hash")
    override def txUtxo(hash: String): Option[String] = get(s"/txs/$hash/utxos")
  }

  /** Deterministic synthetic chain for offline tests: every field derived
    * from the height via sha256, so any two executors (or test runs)
    * agree. Block h has h % 3 transactions; each tx has 1 input with 1-2
    * amounts and 1 output.
    */
  final class FixtureBackend extends Backend {
    private def sha(s: String): String = {
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    private def blockHash(h: Long) = sha(s"block:$h")
    // Tx hashes embed their block height in the first 12 hex chars so the
    // hash-only tx/utxo endpoints can answer consistently with the chain
    // (mirrors how the real API keys everything off the hash).
    private def txHashes(h: Long): Seq[String] =
      (0L until h % 3).map(i => f"$h%012x" + sha(s"tx:$h:$i").take(52))

    override def block(h: Long): Option[String] = Some(
      s"""{"time": ${1700000000L + h * 20}, "height": $h, "hash": "${blockHash(h)}",
         |"slot": ${h * 20}, "epoch": ${h / 100}, "epoch_slot": ${h % 100},
         |"slot_leader": "pool${h % 7}", "size": ${500 + h % 2500}, "tx_count": ${h % 3},
         |"output": "${(h % 3) * 1000000}", "fees": "${(h % 3) * 17000}",
         |"block_vrf": "vrf${h % 11}", "op_cert": "cert${h % 5}", "op_cert_counter": "1",
         |"previous_block": "${if (h > 0) blockHash(h - 1) else null}",
         |"next_block": "${blockHash(h + 1)}", "confirmations": 100}""".stripMargin
        .replace("\"null\"", "null"))

    override def blockTxs(h: Long): Option[String] = Some(
      s"""{"block_height": $h, "tx_hash": [${txHashes(h).map("\"" + _ + "\"").mkString(",")}]}""")

    override def tx(hash: String): Option[String] = {
      val h = java.lang.Long.parseLong(hash.take(12), 16)
      val n = java.lang.Long.parseLong(hash.substring(12, 24), 16)
      Some(
        s"""{"hash": "$hash", "block": "${blockHash(h)}", "block_height": $h,
           |"block_time": ${1700000000L + h * 20}, "slot": ${h * 20}, "index": ${n % 10},
           |"output_amount": [{"unit": "lovelace", "quantity": "${n % 1000000000}"}],
           |"fees": "${n % 500000}", "deposit": "0", "size": ${200 + n % 2000},
           |"invalid_before": null, "invalid_hereafter": "${n % 10000000}",
           |"utxo_count": ${1 + n % 4}, "withdrawal_count": 0, "mir_cert_count": 0,
           |"delegation_count": 0, "stake_cert_count": 0, "pool_update_count": 0,
           |"pool_retire_count": 0, "asset_mint_or_burn_count": ${n % 2}, "redeemer_count": 0,
           |"valid_contract": ${n % 2 == 0}}""".stripMargin)
    }

    override def txUtxo(hash: String): Option[String] = {
      val n = java.lang.Long.parseLong(hash.substring(12, 24), 16)
      val extraAmt =
        if (n % 2 == 0) s""", {"unit": "asset${n % 13}", "quantity": "${n % 50000000000L}"}"""
        else ""
      Some(
        s"""{"hash": "$hash",
           |"inputs": [{"address": "addr_in${n % 97}",
           |  "amount": [{"unit": "lovelace", "quantity": "${n % 2000000}"}$extraAmt],
           |  "tx_hash": "${sha(s"src:$hash")}", "output_index": ${n % 3},
           |  "data_hash": null, "inline_datum": null,
           |  "reference_script_hash": ${if (n % 5 == 0) "\"script" + (n % 7) + "\"" else "null"},
           |  "collateral": false, "reference": false}],
           |"outputs": [{"address": "addr_out${n % 89}",
           |  "amount": [{"unit": "lovelace", "quantity": "${n % 1900000}"}],
           |  "output_index": 0, "data_hash": null, "inline_datum": null,
           |  "collateral": false, "reference_script_hash": null,
           |  "consumed_by_tx": ${if (n % 3 == 0) "\"" + sha(s"spender:$hash") + "\"" else "null"}}]}"""
          .stripMargin)
    }
  }
}
