package graft.sources

import graft.model.{EvmLog, EvmTransactionReceipt}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** DataSourceV2 receipts source — the reference's
  * `get_transaction_receipts` inflation (`evm/rpc.py:198-236`): typed
  * receipts with their nested logs, keyed by block range. Logs are what
  * the whole NFT derivation chain consumes (`Derive.transfers` and
  * friends filter on `topics`), so this source is the last hop of a
  * fixture-free crawl: `blocks` drives, `receipts` inflates, Derive
  * folds — all over the same [[BlockWindow]] pushdown, adaptive fetch,
  * and tail-stream contract as the other block-keyed sources.
  *
  * Usage: spark.read.format("receipts").option(...).load()
  *        .select(explode(col("logs")))  // -> the logs relation
  */
class ReceiptDataSource extends TypedRangeProvider(ReceiptDataSource.Source)

object ReceiptDataSource {
  val Source: TypedRangeSource[EvmTransactionReceipt] = TypedRangeSource("receipts",
    ExpressionEncoder[EvmTransactionReceipt](), "block_number", ReceiptDataFetcher.Simulated,
    (c, o) => ReceiptDataFetcher.forName(c, o).fetchReceipts,
    oneRowPerBlock = false) // 0..k receipts per block: LIMIT must not narrow the window
}

/** One call inflates the receipts (with logs) of every transaction in
  * the block window [lo, hi). Same executor-side instantiate-by-name
  * and exception contract as the other fetcher seams. */
trait ReceiptDataFetcher {
  def fetchReceipts(lo: Long, hi: Long): Iterator[EvmTransactionReceipt]
}

/** Deterministic simulated receipts, consistent with
  * [[SimulatedBlockDataFetcher]]'s chain (same hashes, same `n % 3`
  * transactions per block). Each transaction's receipt carries one
  * ERC-721 `Transfer` log whose topics are REAL — event signature
  * computed with the engine's keccak, addresses/token ids ABI-encoded
  * into topic words — so a spec can drive the full NFT derivation from
  * this seam and assert exact mint/transfer semantics. Every 5th block's
  * transfers are mints (from = zero address). */
final class SimulatedReceiptFetcher extends ReceiptDataFetcher {
  import SimulatedReceiptFetcher._
  override def fetchReceipts(lo: Long, hi: Long): Iterator[EvmTransactionReceipt] =
    Iterator.range(lo, hi).flatMap(receiptsOf)
}

object SimulatedReceiptFetcher {
  import SimChain._
  private def addrTopic(a: String): String = "0x" + ("0" * 24) + a.drop(2)
  private def uintTopic(v: Long): String = "0x" + f"$v%064x"

  val zero: String = graft.model.Addresses.Zero

  def receiptsOf(n: Long): Seq[EvmTransactionReceipt] = {
    val coll = collection(n)
    (0L until txCount(n)).map { i =>
      // transaction-level participants come from SimChain — identical
      // to the blocks fixture's transaction with the same hash; only
      // the LOG topic from-address goes zero on mint blocks
      val topicFrom = if (isMintBlock(n)) zero else txFrom(n, i)
      val topicTo = logTo(n, i) // single-sourced with the blocks fixture
      val log = EvmLog(
        removed = false,
        log_index = i,
        transaction_index = i,
        transaction_hash = txHash(n, i),
        block_hash = blockHash(n),
        block_number = n,
        address = coll,
        data = "0x",
        topics = Seq(
          graft.nft.Derive.Erc721TransferSig,
          addrTopic(topicFrom), addrTopic(topicTo), uintTopic(n * 10 + i)))
      // every 7th block (n % 7 == 3) also emits an ERC-1155 URI event on
      // its first transaction — the metadata-update path (P6/K3) is
      // otherwise invisible to the simulated chain, leaving the uris
      // table and the streaming uris view untestable end-to-end
      val uriLogs =
        if (i == 0 && n % 7 == 3) Seq(EvmLog(
          removed = false,
          log_index = txCount(n), // distinct from the transfer logs' 0..txCount-1
          transaction_index = i,
          transaction_hash = txHash(n, i),
          block_hash = blockHash(n),
          block_number = n,
          address = coll,
          data = "0x" + graft.expr.Abi.encodeArgs(
            Seq(graft.expr.Abi.AbiString("ipfs://sim/{id}.json"))),
          topics = Seq(graft.nft.Derive.Erc1155UriSig, uintTopic(n * 10 + i))))
        else Nil
      EvmTransactionReceipt(
        transaction_hash = txHash(n, i),
        transaction_index = i,
        block_hash = blockHash(n),
        block_number = n,
        from_ = txFrom(n, i),
        to_ = txTo(n, i),
        cumulative_gas_used = 21000L * (i + 1),
        gas_used = 21000L,
        // EVM semantics: a transaction with no `to` is a contract
        // creation and its receipt carries the created address — the
        // branch the collection derivation keys on
        // (`nft/evm/transformers.py:62-64`). The sim "creates" the
        // block's collection contract so created addresses line up with
        // the addresses the transfer logs point at.
        contract_address = if (txTo(n, i).isEmpty) Some(coll) else None,
        status = Some(1L),
        logs = log +: uriLogs,
        // the REAL yellow-paper bloom over this receipt's logs — so
        // bloom-pruned topic scans are testable against ground truth
        logs_bloom = graft.model.Bloom.logsBloom(log +: uriLogs))
    }
  }
}

object ReceiptDataFetcher {
  val Simulated: String = classOf[SimulatedReceiptFetcher].getName
  def forName(className: String, options: Map[String, String] = Map.empty): ReceiptDataFetcher =
    ConfigurableFetcher.instantiate(className, options)
}
