package graft.rpc

import java.math.BigInteger

import graft.expr.{Abi, Keccak}
import graft.sources.{BackoffPolicy, ConfigurableFetcher, ThrottledException}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

/** One contract probe to execute: a row of the S6 request table
  * ([[graft.nft.Collections.callRequests]]). `block` is the call's
  * state height — the reference probes `tokenURI` AT THE MINT BLOCK
  * (`nft/evm/consumers.py:330-340`: `EthCall(..., block=token
  * .mint_block)`); None = "latest" (the snapshot probes' height,
  * `evm/rpc.py:256-267`). */
final case class CallRequest(to: String, probe: String, data: String,
    block: Option[Long] = None)

/** The probe's decoded-transport result: `result` is the raw hex return
  * payload, None when the contract does not implement the function —
  * the reference treats RpcServerError / RpcDecodeError on a probe as
  * "not supported", never fatal (`nft/evm/transformers.py:89-108`). */
final case class CallResponse(to: String, probe: String, result: Option[String])

/** The transport seam for eth_call — same executor-side
  * instantiate-by-name + configure contract as the block fetchers, so
  * the request table's plan stays declarative and only this boundary
  * talks to a node (`evm/rpc.py:238-287`). */
trait CallExecutor {
  def execute(requests: Iterator[CallRequest]): Iterator[CallResponse]
}

object CallExecutor {
  val Simulated: String = classOf[SimulatedCallExecutor].getName
  val Rpc: String = classOf[RpcCallExecutor].getName
  def forName(className: String, options: Map[String, String] = Map.empty): CallExecutor =
    ConfigurableFetcher.instantiate(className, options)
}

/** Deterministic simulated contract surface over the SimChain address
  * space: every answer is a pure function of the contract address, so
  * fixture-free crawls classify collections without a node and specs
  * can assert exact snapshot rows. Let k = the address's low 64 bits:
  *  - k % 5 == 4 — no ERC-165: every probe reverts (None)
  *  - k even — ERC-721 with name/symbol/totalSupply metadata
  *  - k odd — ERC-1155 (no metadata functions, like most 1155s)
  *  - owner() answered unless k % 7 == 0
  * Return payloads are REAL ABI encodings (via [[Abi.encodeArgs]]), so
  * the decode half exercises the same code path as a live node's. */
final class SimulatedCallExecutor extends CallExecutor {
  override def execute(requests: Iterator[CallRequest]): Iterator[CallResponse] =
    requests.map(r =>
      CallResponse(r.to, r.probe, SimulatedCallExecutor.answer(r.to, r.data, r.block)))
}

object SimulatedCallExecutor {
  private def selector(sig: String): String = Keccak.functionSelector(sig) // "0x" + 8 hex
  private val SupportsInterface = selector("supportsInterface(bytes4)")
  private val Name = selector("name()")
  private val Symbol = selector("symbol()")
  private val TotalSupply = selector("totalSupply()")
  private val Owner = selector("owner()")
  private val OwnerOf = selector("ownerOf(uint256)")
  private val TokenUri = selector("tokenURI(uint256)")
  private val Uri = selector("uri(uint256)")
  private val TokenByIndex = selector("tokenByIndex(uint256)")
  private val Erc721Id = "80ac58cd"
  private val Erc1155Id = "d9b67a26"
  // the verify-side ERC-165 extension ids (`evm/types.py:14,24`)
  private val Erc721EnumerableId = "780e9d63"
  private val Erc1155MetaUriId = "0e89341c"

  private def enc(arg: Abi.AbiArg): Option[String] = Some("0x" + Abi.encodeArgs(Seq(arg)))

  /** The canned contract logic, shared by this executor and the test
    * stub server's eth_call handler. `block` is the call's state height;
    * the sim's height convention is WINDOW-EXCLUSIVE (state at height h
    * = blocks 0 until h), matching the crawl/verify [start, end) windows
    * so a verify at height `end` sees exactly the crawled chain state.
    * Height-insensitive probes ignore it (like a real chain whose state
    * happens not to have changed). */
  def answer(to: String, data: String, block: Option[Long] = None): Option[String] = {
    val k = new BigInteger(to.stripPrefix("0x"), 16).longValue()
    val sel = data.take(10).toLowerCase
    val erc165 = k % 5 != 4
    val is721 = erc165 && k % 2 == 0
    val is1155 = erc165 && k % 2 == 1
    // ERC-165 extension surface: k%10 carves deterministic sub-families
    // so verify specs get both branches fixture-free — 721s are
    // enumerable unless k%10==2; 1155s answer uri() unless k%10==3
    val enumerable = is721 && k % 10 != 2
    val hasMetaUri = is1155 && k % 10 != 3
    // the contract's enumerated token list at height h (tokenByIndex
    // order = mint order): token n*10+i exists iff i < txCount(n) and
    // block n's logs point at this contract — the same existence rule
    // ownerOf/tokenURI use below
    def ownedAt(h: Long): Iterator[Long] =
      Iterator.range(0L, h.min(1000000L))
        .filter(n => graft.sources.SimChain.collection(n) == to)
        .flatMap(n => Iterator.range(0L, graft.sources.SimChain.txCount(n)).map(n * 10 + _))
    sel match {
      case SupportsInterface if erc165 =>
        val iface = data.slice(10, 18).toLowerCase
        val yes = (iface == Erc721Id && is721) || (iface == Erc1155Id && is1155) ||
          (iface == Erc721EnumerableId && enumerable) ||
          (iface == Erc1155MetaUriId && hasMetaUri)
        enc(Abi.AbiBool(yes))
      case Name if is721 => enc(Abi.AbiString(s"Collection $k"))
      case Symbol if is721 => enc(Abi.AbiString(s"C$k"))
      case TotalSupply if is721 =>
        // height-pinned call (the verify flow, `verify.py:74-88`) =
        // the REAL enumerated count at that height; the snapshot's
        // height-less probe keeps the legacy k*10 trivia value the
        // collections dim stores
        enc(Abi.AbiUint(BigInteger.valueOf(
          block.fold(k * 10)(h => ownedAt(h).size.toLong))))
      case TokenByIndex if enumerable =>
        // ERC-721 Enumerable (`verify.py:102-112`): i-th token of the
        // contract's own enumeration at the call height; out-of-range
        // indexes revert like a real contract
        val i = new BigInteger(data.slice(10, 74), 16).longValue()
        ownedAt(block.getOrElse(1000000L)).drop(i.toInt).nextOption()
          .map(t => "0x" + Abi.encodeArgs(Seq(Abi.AbiUint(BigInteger.valueOf(t)))))
      case OwnerOf if is721 =>
        // per-token current owner, CONSISTENT with the simulated chain's
        // transfer logs: token t = n*10+i was transferred once, in block
        // n, to addr(2000 + (n+i) % 50) — so the probe answer equals what
        // Derive.tokens folds from the logs (the verify probe's clean
        // case). A token whose block does not map to this contract
        // reverts, like a real 721 for an unknown id.
        val t = new BigInteger(data.slice(10, 74), 16).longValue()
        val n = t / 10
        if (graft.sources.SimChain.collection(n) == to)
          enc(Abi.AbiAddress(graft.sources.SimChain.addr(2000 + (n + t % 10) % 50)))
        else None
      case TokenUri if is721 =>
        // per-token metadata URI, CONSISTENT with the simulated chain:
        // token t = n*10+i exists iff block n's logs point at this
        // contract (same existence rule as ownerOf above); unknown ids
        // revert like a real 721. Every third token's URI carries the
        // EIP-1155-style `{id}` template so the substitution path is
        // exercised end-to-end.
        val t = new BigInteger(data.slice(10, 74), 16).longValue()
        val n = t / 10
        if (graft.sources.SimChain.collection(n) == to)
          enc(Abi.AbiString(
            if (t % 3 == 0) s"ipfs://sim/$k/{id}.json"
            else s"ipfs://sim/$k/$t.json"))
        else None
      case Uri if hasMetaUri =>
        // ERC-1155 metadata extension (`verify.py:205-218`): the
        // contract's uri() answer AGREES with the chain's URI events
        // (the sim receipts emit `ipfs://sim/{id}.json` on the first tx
        // of n%7==3 blocks — `ReceiptDataSource.scala`), so a clean
        // crawl verifies clean; tokens without a URI event revert,
        // like a 1155 that never set a URI for the id
        val t = new BigInteger(data.slice(10, 74), 16).longValue()
        val n = t / 10
        if (t % 10 == 0 && n % 7 == 3 &&
            graft.sources.SimChain.collection(n) == to &&
            graft.sources.SimChain.txCount(n) > 0)
          enc(Abi.AbiString("ipfs://sim/{id}.json"))
        else None
      case Owner if erc165 && k % 7 != 0 =>
        enc(Abi.AbiAddress(f"0x${9000 + k % 50}%040x"))
      case _ => None // unknown function / no ERC-165: the call reverts
    }
  }
}

/** Live eth_call transport: batches probe rows into JSON-RPC batch
  * requests (`evm/rpc.py:256-267`: calldata = selector + encoded args,
  * params = {to, data} at "latest"), maps per-probe server errors to
  * None (`nft/evm/transformers.py:89-108`), and replays a throttled
  * batch after bounded backoff. Options: `endpoints` (required),
  * `rpcTimeoutMs`, `callBatch` (probes per round trip, default 64). */
final class RpcCallExecutor extends CallExecutor with RpcFetcherBase {
  private var batchSize = 64
  private var backoff = BackoffPolicy()

  override def configure(options: Map[String, String]): Unit = {
    super.configure(options)
    batchSize = options.get("callbatch").map(_.toInt).getOrElse(64)
    backoff = BackoffPolicy(
      options.get("throttlebasems").map(_.toLong).getOrElse(50L),
      options.get("throttlecapms").map(_.toLong).getOrElse(5000L),
      options.get("throttlemaxretries").map(_.toInt).getOrElse(8))
  }

  override def execute(requests: Iterator[CallRequest]): Iterator[CallResponse] = {
    val c = requireClient()
    requests.grouped(batchSize).flatMap { group =>
      val calls = group.map(r => RpcCall("eth_call", List(
        JObject("to" -> JString(r.to), "data" -> JString(r.data)),
        JString(r.block.map(b => "0x" + java.lang.Long.toHexString(b))
          .getOrElse("latest")))))
      var attempt = 0
      var out: Seq[Either[RpcServerException, JValue]] = null
      while (out == null) {
        try out = c.batch(calls)
        catch {
          case t: ThrottledException =>
            if (attempt >= backoff.maxRetries) throw t
            Thread.sleep(backoff.delayMs(attempt))
            attempt += 1
        }
      }
      group.lazyZip(out).map {
        case (r, Right(JString(hex))) if hex.length > 2 => CallResponse(r.to, r.probe, Some(hex))
        case (r, Right(_)) => CallResponse(r.to, r.probe, None) // empty return payload
        case (r, Left(_)) => CallResponse(r.to, r.probe, None) // revert = unsupported
      }
    }
  }
}

/** DataFrame-level call execution + the snapshot pivot: the only
  * non-declarative hop in the S6/J6 flow. Requests are built columnar
  * ([[graft.nft.Collections.callRequests]]), executed per partition
  * against the configured transport, and pivoted back into the
  * interface-snapshot dimension [[graft.nft.Collections.fromReceipts]]
  * consumes — request derivation and response decoding never leave the
  * plan, so a billion-contract probe run distributes like any other
  * stage. */
object Calls {

  def execute(spark: SparkSession, requests: DataFrame,
      executorClass: String = CallExecutor.Simulated,
      options: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    // `block` is optional in the request table (snapshot probes are
    // height-less); normalize to a nullable long so the typed encoder
    // sees a uniform shape
    val blockCol =
      if (requests.columns.contains("block")) col("block").cast("long")
      else lit(null).cast("long")
    requests
      .select(col("to").cast("string").as("to"),
        col("probe").cast("string").as("probe"),
        col("data").cast("string").as("data"),
        blockCol.as("block"))
      .as[CallRequest]
      .mapPartitions(it => CallExecutor.forName(executorClass, options).execute(it))
      .toDF()
  }

  private def raw(p: String): Column = max(when(col("probe") === p, col("result"))).as(p)
  private def word1(c: Column): Column = Abi.dataWord(c, 1)
  private def boolOf(c: Column): Column =
    coalesce(Abi.wordToLong(word1(c)) =!= 0, lit(false))

  /** Pivot (to, probe, result) rows into one snapshot row per contract:
    * a single map-side-combinable aggregation (≤6 probe rows per key),
    * ABI decode applied post-pivot. Decode semantics per the probe
    * flow (`nft/evm/transformers.py:109-197`): flags default false,
    * metadata stays null when the function is absent; total_supply is
    * kept as canonical 64-hex (the reference stores it as HexInt). */
  def interfaceSnapshot(responses: DataFrame): DataFrame =
    responses.groupBy(col("to").as("collection_id"))
      .agg(raw("supports_erc721"), raw("supports_erc1155"),
        raw("name"), raw("symbol"), raw("total_supply"), raw("owner"))
      .select(
        col("collection_id"),
        boolOf(col("supports_erc721")).as("supports_erc721"),
        boolOf(col("supports_erc1155")).as("supports_erc1155"),
        when(col("name").isNotNull, Abi.decodeStringUdf(col("name"), lit(0))).as("name"),
        when(col("symbol").isNotNull, Abi.decodeStringUdf(col("symbol"), lit(0))).as("symbol"),
        when(col("total_supply").isNotNull, word1(col("total_supply"))).as("total_supply"),
        when(col("owner").isNotNull, Abi.topicAddress(col("owner"))).as("owner"))
}
