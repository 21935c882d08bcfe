package graft.rpc

import java.io.OutputStream
import java.math.BigInteger
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.{EvmBlockWithTxs, EvmLog, EvmTransaction, EvmTransactionReceipt}
import graft.sources.{SimulatedBlockDataFetcher, SimulatedReceiptFetcher}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** In-process JSON-RPC HTTP server serving the simulated chain in the
  * PUBLIC wire format (`eth_getBlockByNumber` / `eth_getTransactionReceipt`
  * / `eth_call` / `eth_blockNumber`), so the RPC fetchers can be tested
  * end-to-end with zero network. Canned data comes from the same
  * SimChain the in-process fetchers use — a round trip through this
  * server must reproduce the simulated fetchers' rows EXACTLY.
  *
  * Adversarial by default: batch responses are returned in REVERSE
  * order, so a client correlating by position instead of request id
  * produces garbage (the JSON-RPC spec allows servers to reorder).
  *
  * Failure injection:
  *  - `throttleNext.set(n)` — next n HTTP requests answer 429
  *  - `dead.set(true)` — every request answers 500 (dead endpoint)
  *  - `dieAfterRequests.set(n)` — serve n HTTP requests normally, then
  *    answer 500 forever (an endpoint dying MID-window)
  *  - `maxBatch` — batches larger than this are rejected whole with a
  *    -32602 "batch limit exceeded" error object (the provider
  *    response-size cap the adaptive reader reacts to)
  */
final class StubRpcServer(chainHeight: Long = Long.MaxValue, maxBatch: Int = Int.MaxValue,
    logsRangeCap: Long = Long.MaxValue) {
  val throttleNext = new AtomicInteger(0)
  val dead = new AtomicBoolean(false)
  val dieAfterRequests = new AtomicInteger(Int.MaxValue)
  /** When set, every dispatched entry answers this JSON-RPC error —
    * models a provider answering per-request server errors. */
  @volatile var entryError: Option[(Int, String)] = None
  /** Live chain height (blocks are 0..height-1); mutable so specs can
    * advance the chain while a stream is tailing it. */
  val height = new java.util.concurrent.atomic.AtomicLong(chainHeight)
  val httpRequests = new AtomicInteger(0)
  val rpcRequests = new AtomicInteger(0)
  /** Wire entries per JSON-RPC method — lets a spec pin WHICH calls a
    * pipeline makes, not just how many. */
  val methodCounts = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  def countOf(method: String): Int =
    Option(methodCounts.get(method)).fold(0)(_.get())
  val largestBatch = new AtomicInteger(0)
  /** (calldata selector, block tag) of every eth_call served — pins the
    * state height probes execute at ("latest" vs a mint-block hex). */
  val callBlockTags = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  /** High-water mark of simultaneously in-flight HTTP requests — the
    * crawl's actual wire parallelism (must stay bounded by the reader's
    * partition count; an unbounded value means batches pile up). */
  val maxConcurrentRequests = new AtomicInteger(0)
  private val inFlight = new AtomicInteger(0)
  /** eth_call answers served instead of the simulated contract's, keyed
    * by (to, calldata): puts a contract answer on the wire that the sim
    * never produces (e.g. a metadata URL past the P10 cap). */
  val callOverrides = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  /** Name prefix of this stub's handler threads. */
  val threadPrefix = s"stub-rpc-${StubRpcServer.instances.incrementAndGet()}-"
  // generously sized so the in-flight gauge measures CLIENT behavior,
  // not a server-side queue
  private val pool = Executors.newFixedThreadPool(64, new ThreadFactory {
    private val n = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = new Thread(r, threadPrefix + n.incrementAndGet())
  })
  server.setExecutor(pool)
  server.createContext("/", (exchange: HttpExchange) => handle(exchange))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  /** Stops the server and ends its handler threads. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  /** A request counts as in flight from arrival until its answer is
    * ready, and leaves the gauge BEFORE any response byte is written:
    * a client that reads the answer and sends its next batch at once
    * must never find the finished request still counted. */
  private def handle(exchange: HttpExchange): Unit = {
    val now = inFlight.incrementAndGet()
    maxConcurrentRequests.getAndUpdate(m => math.max(m, now))
    val (status, body) =
      try answer(exchange)
      finally inFlight.decrementAndGet()
    respond(exchange, status, body)
  }

  private def answer(exchange: HttpExchange): (Int, String) = {
    val requestNo = httpRequests.incrementAndGet()
    val body = new String(exchange.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (dead.get() || requestNo > dieAfterRequests.get()) (500, "dead endpoint")
    else if (throttleNext.getAndUpdate(n => math.max(0, n - 1)) > 0)
      (429, """{"error":"too many requests"}""")
    else (200, JsonMethods.compact(JsonMethods.render(rpcPayload(JsonMethods.parse(body)))))
  }

  /** Payload-level dispatch, shared with [[StubWsRpcServer]] so the ws
    * stub serves byte-identical JSON-RPC semantics over frames. */
  private[rpc] def rpcPayload(json: JValue): JValue = json match {
    case JArray(reqs) =>
      largestBatch.getAndUpdate(m => math.max(m, reqs.size))
      if (reqs.size > maxBatch)
        errorObj(JNull, -32602, s"batch limit exceeded (${reqs.size} > $maxBatch)")
      else JArray(reqs.map(dispatch).reverse) // reverse: id-correlation must cope
    case obj: JObject => dispatch(obj)
    case _ => errorObj(JNull, -32700, "parse error")
  }

  private def respond(exchange: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.getResponseHeaders.add("Content-Type", "application/json")
    exchange.sendResponseHeaders(status, bytes.length)
    val os: OutputStream = exchange.getResponseBody
    os.write(bytes); os.close()
  }

  private def errorObj(id: JValue, code: Int, message: String): JObject =
    JObject("jsonrpc" -> JString("2.0"), "id" -> id,
      "error" -> JObject("code" -> JInt(code), "message" -> JString(message)))

  private def result(id: JValue, v: JValue): JObject =
    JObject("jsonrpc" -> JString("2.0"), "id" -> id, "result" -> v)

  private def dispatch(req: JValue): JObject = {
    rpcRequests.incrementAndGet()
    req \ "method" match {
      case JString(m) =>
        methodCounts.computeIfAbsent(m, _ => new AtomicInteger()).incrementAndGet()
      case _ =>
    }
    val id = req \ "id"
    entryError match {
      case Some((code, msg)) => return errorObj(id, code, msg)
      case None =>
    }
    val params = req \ "params" match { case JArray(p) => p; case _ => Nil }
    (req \ "method") match {
      case JString("eth_blockNumber") =>
        // real-node semantics: the latest block NUMBER (blocks are
        // 0..height-1 here), not the block count; floored at 0 so
        // an empty-chain stub does not underflow into 0xffff… garbage
        result(id, JString("0x" + java.lang.Long.toHexString(math.max(0L, height.get() - 1))))
      case JString("eth_getBlockByNumber") =>
        val n = java.lang.Long.parseLong(
          params.head.asInstanceOf[JString].s.stripPrefix("0x"), 16)
        val full = params(1) match { case JBool(b) => b; case _ => false }
        if (n >= height.get()) result(id, JNull)
        else result(id, StubRpcServer.blockJson(SimulatedBlockDataFetcher.block(n), full))
      case JString("eth_getTransactionReceipt") =>
        val hash = params.head.asInstanceOf[JString].s
        StubRpcServer.receiptForHash(hash) match {
          case Some(r) => result(id, StubRpcServer.receiptJson(r))
          case None => result(id, JNull)
        }
      case JString("eth_getLogs") =>
        val f = params.head
        def hexAt(field: String): Long = java.lang.Long.parseLong(
          (f \ field).asInstanceOf[JString].s.stripPrefix("0x"), 16)
        val (from, to) = (hexAt("fromBlock"), hexAt("toBlock"))
        if (to - from + 1 > logsRangeCap)
          errorObj(id, -32005, "query returned more than 10000 results")
        else {
          val addr = (f \ "address") match { case JString(a) => Some(a); case _ => None }
          val topic0: Seq[String] = (f \ "topics") match {
            case JArray(first :: _) => first match {
              case JString(s) => Seq(s)
              case JArray(alts) => alts.collect { case JString(s) => s }
              case _ => Nil
            }
            case _ => Nil
          }
          val logs = (from to to).flatMap(SimulatedReceiptFetcher.receiptsOf(_: Long))
            .flatMap(_.logs)
            .filter(l => addr.forall(_ == l.address) &&
              (topic0.isEmpty || l.topics.headOption.exists(topic0.contains)))
          result(id, JArray(logs.map(StubRpcServer.logJson).toList))
        }
      case JString("eth_call") =>
        val callObj = params.head
        val to = (callObj \ "to").asInstanceOf[JString].s
        val data = (callObj \ "data").asInstanceOf[JString].s
        // record (selector, block tag) so specs can pin the state
        // height each probe executed at (mint-block tokenURI calls)
        params.lift(1).foreach {
          case JString(tag) => callBlockTags.add(data.take(10) -> tag)
          case _ => ()
        }
        val blockHeight = params.lift(1).collect {
          case JString(tag) if tag.startsWith("0x") =>
            java.lang.Long.parseLong(tag.drop(2), 16)
        }
        Option(callOverrides.get((to, data)))
          .orElse(SimulatedCallExecutor.answer(to, data, blockHeight)) match {
          case Some(hex) => result(id, JString(hex))
          case None => errorObj(id, 3, "execution reverted")
        }
      case JString(m) => errorObj(id, -32601, s"method not found: $m")
      case _ => errorObj(id, -32600, "invalid request")
    }
  }
}

object StubRpcServer {
  private val instances = new AtomicInteger(0)

  private def qty(n: Long): JString = JString("0x" + java.lang.Long.toHexString(n))

  /** tx hashes are hex64(n*10+i, 0x7a) = "0x7a" + 62 hex digits of
    * n*10+i — invert to find the simulated receipt */
  def receiptForHash(hash: String): Option[EvmTransactionReceipt] = {
    val m = new BigInteger(hash.drop(4), 16).longValueExact()
    SimulatedReceiptFetcher.receiptsOf(m / 10).find(_.transaction_hash == hash)
  }

  def txJson(t: EvmTransaction): JObject = JObject(
    "blockHash" -> JString(t.block_hash),
    "blockNumber" -> qty(t.block_number),
    "from" -> JString(t.from_),
    "to" -> t.to_.map(JString(_): JValue).getOrElse(JNull),
    "gas" -> qty(t.gas),
    "gasPrice" -> qty(t.gas_price),
    "hash" -> JString(t.hash),
    "input" -> JString(t.input),
    "nonce" -> qty(t.nonce),
    "transactionIndex" -> qty(t.transaction_index),
    "value" -> JString("0x" + t.value),
    "v" -> qty(t.v),
    "r" -> JString(t.r),
    "s" -> JString(t.s))

  def blockJson(b: EvmBlockWithTxs, full: Boolean): JObject = JObject(
    "number" -> qty(b.number),
    "hash" -> JString(b.hash),
    "parentHash" -> JString(b.parent_hash),
    "timestamp" -> qty(b.timestamp),
    "miner" -> JString(b.miner),
    "gasLimit" -> qty(b.gas_limit),
    "gasUsed" -> qty(b.gas_used),
    "size" -> qty(b.size),
    "difficulty" -> JString(b.difficulty),
    "transactions" ->
      (if (full) JArray(b.transactions.map(txJson).toList)
       else JArray(b.transactions.map(t => JString(t.hash): JValue).toList)),
    "uncles" -> JArray(b.uncles.map(JString(_): JValue).toList))

  def logJson(l: EvmLog): JObject = JObject(
    "removed" -> JBool(l.removed),
    "logIndex" -> qty(l.log_index),
    "transactionIndex" -> qty(l.transaction_index),
    "transactionHash" -> JString(l.transaction_hash),
    "blockHash" -> JString(l.block_hash),
    "blockNumber" -> qty(l.block_number),
    "address" -> JString(l.address),
    "data" -> JString(l.data),
    "topics" -> JArray(l.topics.map(JString(_): JValue).toList))

  def receiptJson(r: EvmTransactionReceipt): JObject = JObject(
    "transactionHash" -> JString(r.transaction_hash),
    "transactionIndex" -> qty(r.transaction_index),
    "blockHash" -> JString(r.block_hash),
    "blockNumber" -> qty(r.block_number),
    "from" -> JString(r.from_),
    "to" -> r.to_.map(JString(_): JValue).getOrElse(JNull),
    "cumulativeGasUsed" -> qty(r.cumulative_gas_used),
    "gasUsed" -> qty(r.gas_used),
    "contractAddress" -> r.contract_address.map(JString(_): JValue).getOrElse(JNull),
    "status" -> r.status.map(qty(_): JValue).getOrElse(JNull),
    "logs" -> JArray(r.logs.map(logJson).toList),
    "logsBloom" -> JString(r.logs_bloom))
}
