package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.ops.Lww
import graft.sources.TypedRangeSource

/** The crawl-shaped flagship pipeline (SURVEY.md §3.1 re-expressed as one
  * declarative DAG): scan -> topic filter (P2) -> payload decode (P3) ->
  * transfer classification (P4) -> synthetic version key (P5) ->
  * idempotent dedup (K8) -> replayed LWW merge (A4) -> per-key rollup
  * (A1). One shared scan, branch-free until the single aggregation
  * shuffle — the 15-stage asyncio bus collapses into a plan Catalyst can
  * pipeline in one codegen stage before the shuffle.
  */
object Crawl {

  /** Widest block window whose (number, timestamp) dim is still worth
    * broadcasting: 4M rows x 16 bytes ≈ 64 MB plan-side — beyond it the
    * token enrich uses a shuffled join instead. */
  val BroadcastWindowLimit: Long = 4000000L

  def transfers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type").isin("purchase", "click", "error"))
      .withColumn("k", graft.expr.Exprs.digitsInt(col("props"))) // native kernel, no regex/row
      .withColumn("from_u", col("user_id"))
      .withColumn("to_u", col("k") % 15)
      .withColumn("transaction_type",
        when(col("to_u") === 0, lit("burn"))
          .when(col("from_u") === 0, lit("mint"))
          .otherwise(lit("transfer")))
      .withColumn("attribute_version",
        col("event_id") * lit(1000000000L) + col("user_id") * lit(10000L) + col("k"))
      // replay-dedup on the EVENT identity, which is unique by the
      // fixture contract (QueriesSmokeSpec pins density) — the packed
      // attribute_version is a SORT key, not an identity: large user_id
      // or k values overflow their digit slots and collide, and a null
      // k (digit-less props) would null the key, making dropDuplicates
      // collapse every such event into one row
      .dropDuplicates("event_id")
  }

  /** The reference crawl (`nft/bin/crawl.py:151-209`) FIXTURE-FREE: the
    * typed `blocks` source supplies the block-time dimension, the
    * `receipts` source feeds the NFT derivation (exploded logs ->
    * transfers/tokens/owners/uris; creation receipts + the eth_call
    * transport -> collections), and the reference's four entity tables
    * (collections, tokens, transfers, owners) plus the tokenURI update
    * stream come out as one Map — point the fetcher/executor options at
    * the RPC-backed implementations ([[graft.rpc.RpcBlockDataFetcher]],
    * [[graft.rpc.RpcReceiptDataFetcher]], [[graft.rpc.RpcCallExecutor]]
    * with `options = Map("endpoints" -> "https://node,...")`) and this
    * IS the production crawl over a block range. Window pushdown applies
    * to both sources, so crawling blocks [startBlock, maxBlock) of a
    * long chain fetches exactly that range.
    *
    * Collections branch (`nft/evm/transformers.py:48-197`): creation
    * receipts (contract_address non-null, status 1) produce the DISTINCT
    * contract set; [[graft.nft.Collections.callRequests]] builds the
    * probe calldata columnar; the [[graft.rpc.CallExecutor]] seam runs
    * the probes (simulated by default, JSON-RPC in production); the
    * pivoted snapshot classifies + enriches via
    * [[graft.nft.Collections.fromReceipts]]; repeated creations of one
    * contract LWW-collapse on the latest creation block.
    *
    * Scale note: `Derive.tokens` broadcasts the block-time dim for a
    * crawl WINDOW (rows = blocks in range); past
    * [[Crawl.BroadcastWindowLimit]] blocks the enrich automatically
    * degrades to a shuffled join — a whole-chain backfill must not ship
    * a tens-of-millions-row dim to every task.
    *
    * `stageDir`: the returned tables share the receipts/transfers
    * lineage, so materializing all of them against a LIVE fetcher would
    * re-fetch the receipt window once per table (5x RPC cost, 5x
    * throttling exposure). Pass a staging directory and the fetched
    * receipts + block times + derived transfers are written to parquet
    * ONCE, with every table derived from the staged relations — the
    * Load pattern. Leave it None only when a single table will be
    * consumed (or the fetcher is local/simulated). */
  def fromChain(spark: SparkSession, startBlock: Long, maxBlock: Long,
      blocksFetcher: String = graft.sources.BlockDataFetcher.Simulated,
      receiptsFetcher: String = graft.sources.ReceiptDataFetcher.Simulated,
      numPartitions: Int = 4,
      stageDir: Option[String] = None,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      fetcherOptions: Map[String, String] = Map.empty,
      dataVersion: Int = 1): Map[String, DataFrame] = {
    def src(fmt: String, fetcher: String) = spark.read.format(fmt).options(
      TypedRangeSource.readOptions(startBlock, maxBlock, numPartitions, fetcher, fetcherOptions))
      .load()
    def staged(df: DataFrame, name: String): DataFrame = stageDir match {
      case Some(d) =>
        df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$d/$name")
        spark.read.parquet(s"$d/$name")
      case None => df
    }
    val receipts = staged(src("receipts", receiptsFetcher), "receipts")
    val logs = receipts.select(explode(col("logs")).as("l")).select(col("l.*"))
    val blockTimes = staged(
      src("blocks", blocksFetcher).select(col("number"), col("timestamp")), "block_times")
    val transfers = staged(graft.nft.Derive.transfers(logs), "transfers")
    val creations = receipts
      .filter(col("contract_address").isNotNull && col("status") === 1)
      .select(col("contract_address").as("collection_id")).distinct()
    // the snapshot is RPC-probe lineage: stage it like the receipts so
    // repeated actions on `collections` (count + write + merge-shuffle
    // recomputation) never re-run the eth_call sweep
    val snapshot = staged(graft.rpc.Calls.interfaceSnapshot(
      graft.rpc.Calls.execute(spark, graft.nft.Collections.callRequests(creations),
        callExecutor, fetcherOptions)), "call_snapshot")
    val collections = Lww.merge(
      graft.nft.Collections.fromReceipts(receipts, snapshot, blockTimes, dataVersion,
        // same window cutoff as the token enrich below: a whole-chain
        // backfill must not force-broadcast a chain-length time dim
        broadcastDims = maxBlock - startBlock <= BroadcastWindowLimit),
      Seq("collection_id"), Seq("block_created"))
    // J5 live probes: tokenURI(token_id) at the mint block, per minted
    // ERC-721 token (`nft/evm/consumers.py:328-374`) — probe lineage
    // like the snapshot, so stage it: both the tokens enrich and the
    // uris union consume it
    val tokenUris = staged(
      graft.nft.TokenUris.fromMints(spark, transfers, callExecutor, fetcherOptions),
      "token_uris")
    Map(
      "collections" -> collections,
      "transfers" -> transfers,
      "tokens" -> graft.nft.TokenUris.enrichTokens(
        graft.nft.Derive.tokens(transfers, blockTimes,
          broadcastTimes = maxBlock - startBlock <= BroadcastWindowLimit),
        tokenUris),
      "owners" -> graft.nft.Derive.owners(transfers),
      // both metadata sources in one stream: ERC-1155 URI events + the
      // per-mint 721 probes, LWW-merged downstream on metadata_url_version
      "uris" -> graft.nft.Derive.uriUpdates(logs).unionByName(tokenUris))
  }

  /** The reference's `force` command (`nft/bin/force.py:52-120`):
    * targeted single-contract backfill — re-derive one collection's
    * entity tables from the chain without crawling every block. The
    * Spark shape: the ranged-logs source with the collection address
    * PUSHED into the RPC request fetches only that contract's logs
    * across [creationBlock, maxBlock) (`get_logs(address=…)`, the
    * reference's collection-based consumer access path); the creation
    * receipt comes from a ONE-block receipts window; the probe/snapshot
    * flow classifies; `blockTimes` is the caller's block-time dimension
    * — the reference's `--block-time-cache` file (S8,
    * `Load.readBlockTimeCsv`) or a staged blocks read. */
  def forceLoad(spark: SparkSession, collectionId: String, creationBlock: Long,
      maxBlock: Long, blockTimes: DataFrame,
      receiptsFetcher: String = graft.sources.ReceiptDataFetcher.Simulated,
      logsFetcher: String = graft.sources.LogsFetcher.Simulated,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      numPartitions: Int = 4,
      fetcherOptions: Map[String, String] = Map.empty,
      dataVersion: Int = 1): Map[String, DataFrame] = {
    def src(fmt: String, fetcher: String, start: Long, end: Long) = spark.read.format(fmt)
      .options(TypedRangeSource.readOptions(start, end, numPartitions, fetcher, fetcherOptions))
      .load()
    // the caller's block-time dim may span the WHOLE chain (the S8 CSV
    // cache) — every consumer here only needs [creationBlock, maxBlock),
    // so prune it up front: the predicate pushes into the CSV/blocks
    // scan, and the window width becomes a sound proxy for the dim's
    // broadcast size (unpruned, a 1000-block force over a 20M-row cache
    // would broadcast the full cache)
    val windowTimes = blockTimes.filter(
      col("number") >= creationBlock && col("number") < maxBlock)
    val creationReceipts = src("receipts", receiptsFetcher, creationBlock, creationBlock + 1)
      .filter(col("contract_address") === collectionId)
    val snapshot = graft.rpc.Calls.interfaceSnapshot(
      graft.rpc.Calls.execute(spark,
        graft.nft.Collections.callRequests(
          creationReceipts.select(col("contract_address").as("collection_id")).distinct()),
        callExecutor, fetcherOptions))
    val collections = graft.nft.Collections.fromReceipts(
      creationReceipts, snapshot, windowTimes, dataVersion)
    // no transfers can precede the creation: start the log scan there
    val logs = src("logs", logsFetcher, creationBlock, maxBlock)
      .filter(col("address") === collectionId)
    val transfers = graft.nft.Derive.transfers(logs)
    // the same per-mint tokenURI probes as the full crawl (the shared
    // bus wires the transformer for force loads too, `nft/bin/shared.py`).
    // Materialized ONCE (fromChain stages it for the same reason): the
    // tokens enrich and the uris union both consume this lineage, and
    // without the checkpoint each output re-runs every per-mint
    // tokenURI eth_call — double live RPC, and a transient failure on
    // one execution could leave tokens.metadata_url inconsistent with
    // the uris row derived from the other.
    val tokenUris = graft.nft.TokenUris.fromMints(spark, transfers,
      callExecutor, fetcherOptions).localCheckpoint(true)
    Map(
      "collections" -> collections,
      "transfers" -> transfers,
      "tokens" -> graft.nft.TokenUris.enrichTokens(
        graft.nft.Derive.tokens(transfers, windowTimes,
          broadcastTimes = maxBlock - creationBlock <= BroadcastWindowLimit),
        tokenUris),
      "owners" -> graft.nft.Derive.owners(transfers),
      "uris" -> graft.nft.Derive.uriUpdates(logs).unionByName(tokenUris))
  }

  /** Replay the same range twice at two data versions, LWW-merge, then
    * roll up per-owner state — the reference's crawl+reprocess semantics
    * as one job. */
  def run(spark: SparkSession, dir: String): DataFrame = {
    val t = transfers(spark, dir)
    val v1 = t.withColumn("data_version", lit(1))
    val v2 = t.withColumn("data_version", lit(2))
    val merged = Lww.merge(v1.unionByName(v2),
      Seq("attribute_version"), Seq("data_version"))
    merged.groupBy(col("to_u").as("owner"))
      .agg(
        count(lit(1)).as("n_transfers"),
        sum(when(col("transaction_type") === "burn",
            -col("value").cast("decimal(18,2)"))
          .otherwise(col("value").cast("decimal(18,2)"))).cast("double").as("net_value"),
        max_by(col("transaction_type"), col("attribute_version")).as("last_type"),
        max(col("attribute_version")).as("last_version"))
  }
}
