package graft.sources

import graft.model.EvmLog
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** DataSourceV2 ranged-logs source — the reference's `get_logs` API
  * (`evm/rpc.py:289-377`) as a native connector: logs of a block window
  * narrowed server-side by address and topic0, the targeted-backfill
  * primitive (the reference's example: all URI events for one contract
  * over 16M blocks). Three pushdowns reach the fetcher:
  *
  *  - `block_number` range predicates narrow the planned window
  *    ([[BlockWindow]], shared with the other block-keyed sources);
  *  - an `address` equality FILTER pushes into the RPC request itself
  *    (`eth_getLogs` filters server-side) — `.filter(col("address") ===
  *    c)` fetches only that contract's logs, it does not scan-then-drop;
  *  - `topic0` (comma-separated alternatives) via option, matching the
  *    topics parameter of the wire API.
  *
  * The provider's "query returned more than X results" rejection is the
  * [[RangeTooLargeException]] ÷10 shrink loop ([[AdaptiveRangeReader]])
  * — the exact reaction the reference hand-rolls in its get_logs
  * iterator (`evm/rpc.py:330-377`).
  *
  * Options: start, maxBlock, address, topic0, numPartitions, fetcher,
  * fetchChunk, throttle*, endpoints (RPC fetcher).
  * Usage: spark.read.format("logs").option(...).load()
  */
class LogDataSource extends TypedRangeProvider(LogDataSource.Source)

object LogDataSource {
  val Source: TypedRangeSource[EvmLog] = TypedRangeSource("logs",
    ExpressionEncoder[EvmLog](), "block_number", LogsFetcher.Simulated,
    (c, o) => ConfigurableFetcher.instantiate[LogsFetcher](c, o).fetchLogs,
    oneRowPerBlock = false, // 0..k logs per block: LIMIT must not narrow
    stringPushCols = Set("address"))
}

/** One call fetches the logs of the window [lo, hi) under the
  * configured address/topic narrowing. The narrowing arrives through
  * [[ConfigurableFetcher]] options: `address` / `topic0` set by the
  * user, and `pushed.address` injected by Catalyst filter pushdown
  * (which wins over the user option — the plan is the truth). */
trait LogsFetcher {
  def fetchLogs(lo: Long, hi: Long): Iterator[EvmLog]
}

object LogsFetcher {
  val Simulated: String = classOf[SimulatedLogsFetcher].getName

  /** The effective narrowing from an options map: pushed filter beats
    * user option for address; topic0 splits on commas (the wire API's
    * "any of these topics in position 0"). */
  def narrowing(options: Map[String, String]): (Option[String], Seq[String]) = {
    val address = options.get("pushed.address").orElse(options.get("address"))
    val topics = options.get("topic0").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    (address, topics)
  }
}

/** Simulated ranged-logs endpoint over the same SimChain the receipt
  * fixture draws from: the receipts' logs, narrowed by address/topic0
  * exactly the way a node narrows an eth_getLogs query — so an RPC
  * round trip through the stub server must reproduce these rows. */
final class SimulatedLogsFetcher extends LogsFetcher with ConfigurableFetcher {
  private var address: Option[String] = None
  private var topics: Seq[String] = Nil
  override def configure(options: Map[String, String]): Unit = {
    val (a, t) = LogsFetcher.narrowing(options)
    address = a; topics = t
  }
  override def fetchLogs(lo: Long, hi: Long): Iterator[EvmLog] =
    Iterator.range(lo, hi)
      .flatMap(SimulatedReceiptFetcher.receiptsOf(_: Long))
      .flatMap(_.logs)
      .filter(l => address.forall(_ == l.address) &&
        (topics.isEmpty || l.topics.headOption.exists(topics.contains)))
}
