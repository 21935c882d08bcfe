package graft.sources

import graft.model.{EvmBlockWithTxs, EvmTransaction}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** DataSourceV2 typed-block source: full typed blocks with nested
  * transaction objects, the reference's
  * `get_blocks(full_transactions=True)` inflation
  * (`evm/rpc.py:150-196`) as a native Spark connector. A user points
  * the engine at a chain by implementing [[BlockDataFetcher]] over
  * their RPC client; everything downstream (G1 explode, Crawl
  * derivation, time-dim joins) is a plain DataFrame program over the
  * rows this source emits. See [[ReceiptDataSource]] for the
  * receipts+logs twin.
  *
  *  - the shared block-keyed path ([[TypedRangeSource]]): `number`
  *    range predicates and LIMIT narrow the planned window itself
  *    ([[BlockWindow]]), so a query for blocks [900, 950) of a
  *    billion-block chain fetches exactly that window;
  *  - column pruning: a projection that needs 2 of the 11 block fields
  *    reads 2 (`SupportsPushDownRequiredColumns`) — on an RPC-backed
  *    fetcher this is advisory (the node returns whole blocks), but the
  *    rows Spark materializes, shuffles, and caches carry only the
  *    pruned columns;
  *  - per-partition adaptive fetch: window ÷10 shrink on
  *    [[RangeTooLargeException]], bounded exponential backoff on
  *    [[ThrottledException]] ([[AdaptiveRangeReader]]);
  *  - micro-batch stream: the tail loop over typed blocks
  *    (`nft/bin/tail.py:90-204`), head advancing `blocksPerTrigger` per
  *    poll minus `trailBlocks` of reorg lag.
  *
  * Usage: spark.read.format("blocks").option(...).load()
  */
class BlockDataSource extends TypedRangeProvider(BlockDataSource.Source)

object BlockDataSource {
  val Source: TypedRangeSource[EvmBlockWithTxs] = TypedRangeSource("blocks",
    ExpressionEncoder[EvmBlockWithTxs](), "number", BlockDataFetcher.Simulated,
    (c, o) => BlockDataFetcher.forName(c, o).fetchBlocks)
}

/** The seam where a real chain client plugs in: one call inflates the
  * typed blocks of the window [lo, hi), nested transactions included —
  * the reference's field-by-field RPC response conversion
  * (`evm/rpc.py:150-196`). Same executor-side instantiate-by-name and
  * exception contract as the other fetcher seams
  * ([[ConfigurableFetcher.instantiate]]). */
trait BlockDataFetcher {
  def fetchBlocks(lo: Long, hi: Long): Iterator[EvmBlockWithTxs]
}

/** Default fetcher — a deterministic simulated chain. Block n carries
  * `n % 3` transactions; every field is a pure function of (n, txIdx),
  * so specs can assert exact downstream derivations without fixtures. */
final class SimulatedBlockDataFetcher extends BlockDataFetcher {
  import SimulatedBlockDataFetcher._
  override def fetchBlocks(lo: Long, hi: Long): Iterator[EvmBlockWithTxs] =
    Iterator.range(lo, hi).map(block)
}

/** The ONE deterministic simulated chain both typed fetchers draw from:
  * every hash/address/participant is a pure function of (block, txIdx)
  * defined HERE, so the blocks and receipts fixtures can never disagree
  * on the same transaction (a cross-source join on transaction_hash
  * sees consistent sender/recipient). */
private[graft] object SimChain {
  def hex64(n: Long, tag: Long): String = f"0x$tag%02x${n}%062x"
  def addr(n: Long): String = f"0x$n%040x"
  def blockHash(n: Long): String = hex64(n, 0xb1)
  def txHash(n: Long, i: Long): String = hex64(n * 10 + i, 0x7a)
  def txCount(n: Long): Long = n % 3
  def txFrom(n: Long, i: Long): String = addr(1000 + (n + i) % 50)
  /** Recipient identity shared by the transaction's `to_` and the
    * transfer log's to-topic — single-sourced so the blocks and
    * receipts fixtures can never disagree on the same transaction. */
  def logTo(n: Long, i: Long): String = addr(2000 + (n + i) % 50)
  def txTo(n: Long, i: Long): Option[String] =
    if ((n + i) % 7 == 0) None else Some(logTo(n, i))
  def collection(n: Long): String = addr(4000 + n % 5)
  /** every 5th block's transfer LOGS are mints (zero-address topic);
    * the transaction-level sender stays [[txFrom]] — a real mint is
    * sent by a user, only the log's from-topic is zero */
  def isMintBlock(n: Long): Boolean = n % 5 == 0
  // deterministic ECDSA triple (parsed-not-computed fidelity: the
  // reference carries v/r/s, `evm/types.py:47-49`)
  def txV(n: Long, i: Long): Long = 27 + (n + i) % 2
  def txR(n: Long, i: Long): String = hex64(n * 10 + i, 0x5a)
  def txS(n: Long, i: Long): String = hex64(n * 10 + i, 0x5b)
}

object SimulatedBlockDataFetcher {
  import SimChain._

  def block(n: Long): EvmBlockWithTxs = {
    val txs = (0L until txCount(n)).map { i =>
      EvmTransaction(
        block_hash = blockHash(n),
        block_number = n,
        from_ = txFrom(n, i),
        to_ = txTo(n, i),
        gas = 21000L + i,
        gas_price = 1000000000L + n % 100,
        hash = txHash(n, i),
        input = "0x",
        nonce = n + i,
        transaction_index = i,
        value = f"${(n * 7 + i) % 1000000}%064x",
        v = txV(n, i),
        r = txR(n, i),
        s = txS(n, i))
    }
    EvmBlockWithTxs(
      number = n,
      hash = blockHash(n),
      parent_hash = blockHash(n - 1),
      timestamp = 1700000000L + 12L * n,
      miner = addr(3000 + n % 10),
      gas_limit = 30000000L,
      gas_used = 21000L * txCount(n),
      size = 500L + n % 1000,
      difficulty = "0x0",
      transactions = txs,
      uncles = Seq.empty)
  }
}

object BlockDataFetcher {
  val Simulated: String = classOf[SimulatedBlockDataFetcher].getName
  def forName(className: String, options: Map[String, String] = Map.empty): BlockDataFetcher =
    ConfigurableFetcher.instantiate(className, options)
}
