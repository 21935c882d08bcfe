package graft.nft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rpc.Calls

/** Receipt -> Collection derivation: the crawl pipeline's branch (a)
  * (`nft/evm/transformers.py:48-197`): contract-creation receipts,
  * classified by an ERC-165 interface-support snapshot, enriched with
  * name/symbol metadata and the K1 sink's derived columns.
  *
  * The reference probes `supportsInterface` live per contract (J6);
  * batch-side that lookup is a dimension join against a pre-fetched
  * snapshot table (contract_address, supports_erc721, supports_erc1155,
  * name, symbol, total_supply) — the same pinning the reference itself
  * does for `tokenURI(..) at mint block` (J5).
  */
object Collections {

  /** The collections table's LWW identity: one row per contract, the
    * latest creation block wins (a re-created contract takes the later
    * row). */
  val Keys: Seq[String] = Seq("collection_id")
  val Version: Seq[String] = Seq("block_created")

  /** Contract-creation receipts: a created address on a successful
    * transaction (`nft/evm/transformers.py:62-64`). */
  def creations(receipts: DataFrame): DataFrame =
    receipts.filter(col("contract_address").isNotNull && col("status") === 1)

  /** The interface snapshot of `contracts` (one `collection_id` per
    * row): [[callRequests]] run through the [[graft.rpc.CallExecutor]]
    * seam and pivoted back by [[graft.rpc.Calls.interfaceSnapshot]].
    * The one probe the crawl, `force`, the tail's collections view and
    * verify's collections re-check all issue. */
  def probe(spark: SparkSession, contracts: DataFrame, callExecutor: String,
      options: Map[String, String]): DataFrame =
    Calls.interfaceSnapshot(Calls.execute(spark, callRequests(contracts), callExecutor, options))

  /** The collections branch over a receipts window: the DISTINCT
    * created contracts are probed, `stage` materializes the probe
    * lineage once (the table's several actions would otherwise re-run
    * the eth_call sweep), and [[fromReceipts]] classifies and enriches. */
  def fromChain(spark: SparkSession, receipts: DataFrame, blockTimes: DataFrame,
      dataVersion: Int, callExecutor: String, options: Map[String, String],
      stage: DataFrame => DataFrame, broadcastDims: Boolean = true): DataFrame = {
    val contracts = creations(receipts)
      .select(col("contract_address").as("collection_id")).distinct()
    fromReceipts(receipts, stage(probe(spark, contracts, callExecutor, options)),
      blockTimes, dataVersion, broadcastDims)
  }

  /** `broadcastDims = false` for whole-chain backfills: the snapshot
    * and block-time dims are sized by the CONTRACTS/BLOCKS in the
    * window — small for a crawl window, but a full-height run carries
    * millions of rows and must let Catalyst/AQE pick a shuffled join
    * (stage both dims bucketed by the join key and it degrades to a
    * co-located SMJ). */
  def fromReceipts(receipts: DataFrame, interfaceSnapshot: DataFrame,
                   blockTimes: DataFrame, dataVersion: Int,
                   broadcastDims: Boolean = true): DataFrame = {
    def dim(df: DataFrame) = if (broadcastDims) broadcast(df) else df
    val created = creations(receipts)
      .select(col("contract_address").as("collection_id"),
        col("from_").as("creator"),
        col("block_number").as("block_created"))
    // `owner` joined in when the snapshot carries it (the reference's
    // owner() probe, `nft/evm/transformers.py:149-156`); older
    // snapshot dims without the column still work
    val snapshot =
      if (interfaceSnapshot.columns.contains("owner")) interfaceSnapshot
      else interfaceSnapshot.withColumn("owner", lit(null).cast("string"))
    created
      .join(dim(snapshot), Seq("collection_id"), "inner")
      .filter(col("supports_erc721") || col("supports_erc1155"))
      .join(dim(blockTimes.select(col("number"), col("timestamp"))),
        col("block_created") === col("number"), "left")
      .select(
        lit("ethereum").as("blockchain"),
        col("collection_id"),
        col("creator"),
        col("owner"),
        col("block_created"),
        when(col("supports_erc721"), lit("ERC-721"))
          .otherwise(lit("ERC-1155")).as("specification"),
        col("timestamp").as("date_created"),
        lit(dataVersion).as("data_version"),
        col("name"),
        // P7 (`dynamodb.py:92-94`): lower + 1024-char truncation, empty -> null
        when(length(col("name")) > 0, lower(substring(col("name"), 1, 1024)))
          .otherwise(lit(null)).as("name_lower"),
        col("symbol"),
        col("total_supply"))
  }

  /** The live-probe REQUEST table behind the interface snapshot — the
    * encode half of the reference's per-contract eth_calls
    * (`supportsInterface(0x80ac58cd / 0xd9b67a26)`, `name()`,
    * `symbol()`; `evm/rpc.py:23-92`, probe flow
    * `nft/evm/transformers.py:48-197`). One row per (contract, probe)
    * with calldata built columnar (selector = plan-time keccak literal,
    * args codegen'd — `Abi.encodeCallCol`), so deriving requests for a
    * billion contracts is a map-side projection; only the transport
    * (an RPC `foreachPartition` sink) leaves the plan, and the
    * responses join back as the `interfaceSnapshot` dim
    * [[fromReceipts]] consumes. */
  def callRequests(contracts: DataFrame): DataFrame = {
    // bytes4 args are left-justified in their word (right-padded)
    def iface(id4: String) = lit(id4 + "0" * 56)
    val probes = array(
      struct(lit("supports_erc721").as("probe"),
        graft.expr.Abi.encodeCallCol("supportsInterface(bytes4)", iface("80ac58cd")).as("data")),
      struct(lit("supports_erc1155").as("probe"),
        graft.expr.Abi.encodeCallCol("supportsInterface(bytes4)", iface("d9b67a26")).as("data")),
      struct(lit("name").as("probe"),
        graft.expr.Abi.encodeCallCol("name()").as("data")),
      struct(lit("symbol").as("probe"),
        graft.expr.Abi.encodeCallCol("symbol()").as("data")),
      // the metadata probes the reference issues alongside name/symbol
      // (`nft/evm/transformers.py:149-185`): totalSupply() for ERC-721
      // enumerable supply, owner() for the contract owner
      struct(lit("total_supply").as("probe"),
        graft.expr.Abi.encodeCallCol("totalSupply()").as("data")),
      struct(lit("owner").as("probe"),
        graft.expr.Abi.encodeCallCol("owner()").as("data")))
    contracts.select(col("collection_id").as("to"), explode(probes).as("p"))
      .select(col("to"), col("p.probe").as("probe"), col("p.data").as("data"))
  }
}
