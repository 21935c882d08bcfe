package graft.rpc

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.atomic.AtomicLong

import graft.sources.ThrottledException
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON-RPC 2.0 over HTTP — the engine's chain transport, re-expressing
  * the reference's asyncio websocket client (`core/rpc.py:155-437`) for
  * Spark's execution model. The reference multiplexes many in-flight
  * requests over one socket and correlates responses by request id
  * (`core/rpc.py:406-437`); the batch-HTTP equivalent is a JSON-RPC
  * batch array per window — one round trip for a whole block window,
  * responses matched back to requests BY ID, never by position (the
  * spec allows servers to reorder batch responses).
  *
  * Error taxonomy (each mapped where the reference maps it):
  *  - throttle — HTTP 429, or JSON-RPC code 429 / -32005 with a "rate"
  *    message (`core/rpc.py:20-22`): [[ThrottledException]]; the
  *    adaptive reader replays the same window after bounded backoff.
  *  - server error — a well-formed JSON-RPC error for one request
  *    (`RpcServerError`, `core/rpc.py:63-77`): [[RpcServerException]],
  *    surfaced per-entry so a batch with one failing eth_call still
  *    yields the other responses.
  *  - transport error — connect refused, non-200 status, garbage
  *    response (`RpcClientError`): [[RpcClientException]]; the pooled
  *    client evicts the endpoint (`evm/rpc.py:408-422`).
  */
final case class RpcServerException(code: Int, messageText: String)
    extends RuntimeException(s"RPC server error $code: $messageText")

final class RpcClientException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

final case class RpcCall(method: String, params: List[JValue])

trait JsonRpcClient {
  /** Send calls as one JSON-RPC batch; the result at index i is the
    * id-correlated response to calls(i). Left = per-request server
    * error; throws [[ThrottledException]] on a batch-level throttle,
    * [[RpcClientException]] on transport failure, and an unwrapped
    * InterruptedException (interrupt flag set) when the caller is
    * interrupted. */
  def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]]

  def call(method: String, params: JValue*): JValue =
    batch(Seq(RpcCall(method, params.toList))).head match {
      case Right(v) => v
      case Left(e) => throw e
    }
}

object JsonRpc {
  /** True when the error means "slow down" — the reference's
    * TOO_MANY_REQUESTS patterns (`core/rpc.py:20-22`: Alchemy uses
    * HTTP-style 429, Infura reuses -32005 with a rate-limit message). */
  def isThrottle(code: Int, message: String): Boolean =
    code == 429 ||
      (code == -32005 && message != null && message.toLowerCase.contains("rate"))

  /** True when the error means "narrow the request" — the codes the
    * reference's get_logs loop reacts to by shrinking its block range
    * ÷10 (`evm/rpc.py:366-377`: Infura -32005, Alchemy -32602 and the
    * generic -32000 timeout). Checked AFTER isThrottle so the Infura
    * rate-limit reuse of -32005 stays a throttle. */
  def isRangeTooLarge(code: Int): Boolean =
    code == -32005 || code == -32602 || code == -32000

  /** One client over the endpoint list: single-endpoint direct, else
    * round-robin pooled with cooldown-based dead-endpoint eviction.
    * Cached PER JVM per (endpoints, timeout, cooldown): DSv2 readers
    * instantiate a fetcher per partition per micro-batch, and a fresh
    * JDK HttpClient each time would rebuild connection pools thousands
    * of times per executor — one shared client keeps connections warm
    * across batches. Eviction is a COOLDOWN, not removal (deliberate
    * deviation from the reference pool, which never re-adds,
    * `evm/rpc.py:419-420`): the reference pool lives for one crawl
    * process, but this client is cached for the executor JVM's
    * lifetime, and a permanent eviction would turn one network blip
    * into a permanently dead streaming job. */
  def client(endpoints: Seq[String], timeoutMs: Long = 30000L,
      cooldownMs: Long = 30000L, requestsPerSecond: Int = 0): JsonRpcClient = {
    require(endpoints.nonEmpty, "at least one RPC endpoint is required")
    cache.computeIfAbsent((endpoints.mkString(","), timeoutMs, cooldownMs, requestsPerSecond), { _ =>
      // scheme dispatch: ws/wss endpoints (the reference's documented
      // deployment form, `core/rpc.py:108,186`) get the websocket
      // transport; everything else speaks batch HTTP. Mixed pools work —
      // both satisfy the same JsonRpcClient contract.
      val singles = endpoints.map { e =>
        val scheme = Option(URI.create(e).getScheme).map(_.toLowerCase).getOrElse("")
        if (scheme == "ws" || scheme == "wss") new WsJsonRpcClient(e, timeoutMs)
        else new HttpJsonRpcClient(e, timeoutMs)
      }
      val base =
        if (singles.size == 1) singles.head
        else new PooledJsonRpcClient(singles, cooldownMs)
      if (requestsPerSecond > 0) new RateLimitedJsonRpcClient(base, requestsPerSecond)
      else base
    })
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Int), JsonRpcClient]()

  /** Test hook: drop cached clients (e.g. between stub-server lifetimes). */
  private[rpc] def resetCache(): Unit = cache.clear()
}

/** Proactive client-side request-rate cap — the reference's
  * `rpc_requests_per_second` (`core/rpc.py:365-383`: fixed per-second
  * window, per client instance; each JSON-RPC request consumes one
  * slot, excess waits for the window to roll). Complements the REACTIVE
  * 429 backoff: a capped client never provokes the throttle in the
  * first place. Batch accounting matches provider practice — an N-entry
  * batch array costs N request slots, acquired (possibly across window
  * boundaries) before the round trip. The client is cached per JVM, so
  * on a cluster the aggregate rate is perSecond x executor JVMs — the
  * same multiplication the reference's per-connection limit x pool
  * size implies (`nft/bin/nft.py:48-54`); size the option accordingly. */
final class RateLimitedJsonRpcClient(inner: JsonRpcClient, perSecond: Int)
    extends JsonRpcClient {
  private var windowSecond = 0L
  private var usedThisSecond = 0

  private def acquire(n: Int): Unit = {
    var remaining = n
    while (remaining > 0) {
      val sleepMs = synchronized {
        val nowSec = System.nanoTime() / 1000000000L
        if (nowSec != windowSecond) { windowSecond = nowSec; usedThisSecond = 0 }
        if (usedThisSecond < perSecond) {
          val take = math.min(remaining, perSecond - usedThisSecond)
          usedThisSecond += take
          remaining -= take
          0L
        } else 1000L - (System.nanoTime() / 1000000L) % 1000L // to next window
      }
      if (sleepMs > 0L) Thread.sleep(math.max(1L, sleepMs))
    }
  }

  override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
    acquire(math.max(1, calls.size))
    inner.batch(calls)
  }
}

/** Single-endpoint HTTP transport. The JDK HttpClient keeps its own
  * connection pool per instance, so one client per fetcher instance
  * (i.e. per task) reuses connections across chunk windows — the
  * *reconnect + replay* behavior of the reference's websocket client
  * (`core/rpc.py:327-353`) falls out of HTTP request semantics: each
  * batch is retried by the caller, never half-applied. */
object HttpJsonRpcClient {
  /** Extra send attempts after a transport-level IOException. */
  val TransportRetries = 2
  val RetryBackoffMs = 100L
}

final class HttpJsonRpcClient(endpoint: String, timeoutMs: Long) extends JsonRpcClient {
  private val ids = new AtomicLong(0L)
  private lazy val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(timeoutMs))
    .build()

  override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
    if (calls.isEmpty) return Nil
    // ids are unique per client, like the reference's instance-nonce ids
    // (`core/rpc.py:356-364`)
    val withIds = calls.map(c => (ids.incrementAndGet(), c))
    val body = JArray(withIds.map { case (id, c) =>
      JObject(
        "jsonrpc" -> JString("2.0"),
        "method" -> JString(c.method),
        "params" -> JArray(c.params),
        "id" -> JLong(id))
    }.toList)
    val parsed = post(JsonMethods.compact(JsonMethods.render(body)))
    parsed match {
      // A single error OBJECT for a batch REQUEST = the server rejected
      // the batch as a whole (oversized / malformed): classify once.
      case obj: JObject =>
        entryError(obj) match {
          case Some(e) => throw classify(e)
          case None => throw new RpcClientException(
            s"$endpoint returned a non-batch response to a batch request")
        }
      case JArray(entries) =>
        val byId: Map[Long, JObject] = entries.collect {
          case o: JObject => idOf(o).map(_ -> o)
        }.flatten.toMap
        withIds.map { case (id, c) =>
          byId.get(id) match {
            case None => throw new RpcClientException(
              s"$endpoint: no response correlated to request id $id (${c.method})")
            case Some(o) => entryError(o) match {
              case Some(err) =>
                classify(err) match {
                  case e: RpcServerException => Left(e)
                  case t => throw t // batch-level throttle: replay the window
                }
              case None => Right(o \ "result")
            }
          }
        }
      case other => throw new RpcClientException(
        s"$endpoint returned unparseable JSON-RPC payload: ${other.getClass.getSimpleName}")
    }
  }

  private def post(body: String): JValue = {
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    // Transient socket-level failures (reset/refused/timeout under load)
    // are replayed in place, bounded — the HTTP analog of the reference
    // websocket client's reconnect-with-in-flight-replay
    // (`core/rpc.py:327-353`). JSON-RPC reads are idempotent, so the
    // replay duplicates nothing. Only IOException retries: an ANSWERED
    // error (HTTP 500/429, JSON-RPC error object) is the server speaking
    // and keeps its one-shot taxonomy below.
    def send(attemptsLeft: Int): HttpResponse[String] =
      try http.send(req, HttpResponse.BodyHandlers.ofString())
      catch {
        case e: java.io.IOException if attemptsLeft > 0 =>
          Thread.sleep(HttpJsonRpcClient.RetryBackoffMs *
            (HttpJsonRpcClient.TransportRetries - attemptsLeft + 1))
          send(attemptsLeft - 1)
        case e: java.io.IOException =>
          throw new RpcClientException(s"$endpoint transport failure: ${e.getMessage}", e)
        // an interrupt is a stop (e.g. a streaming query's stop() during
        // a head probe), not a transport failure: it must reach the
        // caller unwrapped, or the pool would evict a healthy endpoint
        // and Spark would report a failed query instead of a stop
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
      }
    val resp = send(HttpJsonRpcClient.TransportRetries)
    resp.statusCode() match {
      case 200 =>
        try JsonMethods.parse(resp.body())
        catch {
          case e: Exception =>
            throw new RpcClientException(s"$endpoint returned unparseable body", e)
        }
      case 429 => throw new ThrottledException(s"$endpoint HTTP 429")
      case s => throw new RpcClientException(s"$endpoint HTTP $s")
    }
  }

  private def idOf(o: JObject): Option[Long] = JsonRpcWire.idOf(o)

  private def entryError(o: JObject): Option[(Int, String)] = JsonRpcWire.entryError(o)

  private def classify(err: (Int, String)): RuntimeException =
    JsonRpcWire.classify(endpoint, err)
}

/** Round-robin pool with cooldown-based dead-endpoint eviction — the
  * reference's `ConnectionPoolingEvmRpcClient` (`evm/rpc.py:380-422`):
  * each batch goes to the next live endpoint; a transport-level failure
  * evicts that endpoint and the SAME window is re-issued against the
  * next pool member inside the same call — the HTTP analog of the
  * websocket client's reconnect-with-in-flight-replay
  * (`core/rpc.py:327-353`). A transport failure yields no usable
  * response entries, so replaying the whole window loses nothing and
  * duplicates nothing. The replay is bounded by ONE full pool rotation:
  * when every endpoint has failed for this window the call fails
  * loudly (`evm/rpc.py:422`) — the task error surfaces instead of
  * silently under-producing rows.
  *
  * Eviction is a cooldown mark, not removal: an evicted endpoint is
  * skipped while cooling down and re-probed after `cooldownMs`, and a
  * successful batch clears its mark. When EVERY endpoint is cooling
  * down, the one whose cooldown expires soonest is probed anyway —
  * a cached pool must never reach a permanently-unsendable state (the
  * reference pool is per-crawl-process; this one outlives micro-batches,
  * see [[JsonRpc.client]]). Server errors and throttles do NOT evict:
  * the endpoint answered, the request was the problem. */
final class PooledJsonRpcClient(initial: Seq[JsonRpcClient], cooldownMs: Long = 30000L)
    extends JsonRpcClient {
  // membership/rotation under a short lock; the HTTP round trip itself
  // runs UNLOCKED — the client is shared JVM-wide and concurrent tasks
  // must fan out across endpoints, not serialize behind one batch
  private val pool: Vector[JsonRpcClient] = initial.toVector
  // Long.MinValue = live; else nanoTime cooldown deadline. The live
  // sentinel must sort below every possible deadline: nanoTime has an
  // arbitrary origin and MAY be negative, so 0 would misclassify live
  // endpoints as cooling (and sort them above just-evicted ones)
  private val deadUntil = Array.fill(pool.size)(Long.MinValue)
  private var index = 0

  /** Visible-for-test: indexes currently inside their cooldown. */
  private[rpc] def coolingDown: Set[Int] = synchronized {
    val now = System.nanoTime()
    (0 until pool.size).filter(deadUntil(_) > now).toSet
  }

  private def nextClient(tried: Set[Int]): Option[Int] = synchronized {
    val now = System.nanoTime()
    val order = (1 to pool.size).map(i => (index + i) % pool.size).filterNot(tried)
    val chosen = order.find(deadUntil(_) <= now) // first live in rotation order
      .orElse(order.minByOption(deadUntil(_)))   // all cooling: probe soonest-to-expire
    chosen.foreach(c => index = c)
    chosen
  }

  private def evict(i: Int): Unit = synchronized {
    deadUntil(i) = System.nanoTime() + cooldownMs * 1000000L
  }

  private def revive(i: Int): Unit = synchronized { deadUntil(i) = Long.MinValue }

  override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
    var tried = Set.empty[Int]
    var lastFailure: RpcClientException = null
    while (tried.size < pool.size) {
      val i = nextClient(tried).get // tried ⊂ indexes, so some index remains
      tried += i
      try {
        val result = pool(i).batch(calls)
        revive(i)
        return result
      } catch {
        case e: RpcClientException => lastFailure = e; evict(i)
      }
    }
    throw new RpcClientException(
      s"Connection pool fully depleted after trying all ${pool.size} endpoints. Unable to send!",
      lastFailure)
  }
}
