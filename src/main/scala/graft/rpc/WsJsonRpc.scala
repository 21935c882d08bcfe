package graft.rpc

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.nio.ByteBuffer
import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionStage, ConcurrentHashMap, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import graft.sources.ThrottledException
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON-RPC 2.0 over a websocket — the reference's NATIVE transport
  * (`core/rpc.py:108`: "a websocket capable endpoint"; `ws_connect` at
  * `core/rpc.py:186`). Implements the same [[JsonRpcClient]] contract as
  * the HTTP client, so everything above the seam (pooling, rate caps,
  * DSv2 fetchers, the CLI) is transport-agnostic: point
  * `--evm-rpc-nodes` at `wss://…` and the crawl runs unchanged.
  *
  * Wire shape: one JSON-RPC batch array per frame — the same
  * one-round-trip-per-window economics as the HTTP client (geth/erigon
  * accept batch frames over ws). Responses are still correlated BY ID,
  * never by position or frame: the socket is shared by every task in
  * the executor JVM, so frames from concurrent windows interleave
  * freely, which is exactly the reference's many-requests-one-socket
  * multiplexing (`core/rpc.py:406-437`) at batch granularity.
  *
  * Reconnect with in-flight replay (`core/rpc.py:327-353`): when the
  * socket drops mid-window, the client reconnects and re-sends only the
  * calls that have no id-correlated response yet. A replayed read is
  * idempotent, so the retry loses nothing and duplicates nothing; the
  * replay is bounded, and exhaustion surfaces as [[RpcClientException]]
  * so a pooled client rotates endpoints exactly as it does for HTTP.
  *
  * JDK `java.net.http.WebSocket` is the engine (public JDK 11+ API, no
  * extra dependency). Sends are serialized per socket as its contract
  * requires; receives re-assemble partial text frames before parsing.
  */
final class WsJsonRpcClient(endpoint: String, timeoutMs: Long) extends JsonRpcClient {
  private val ids = new AtomicLong(0L)
  /** id -> (socket era, response future); registered BEFORE the frame
    * is sent so a fast server can never answer an unregistered id. The
    * era tags which socket generation the caller registered under, so
    * a drop's cleanup can fail exactly the futures that were at risk
    * on the retired socket and never a replay's fresh registrations. */
  private final case class Pend(era: Long, f: CompletableFuture[JObject])
  private val pending = new ConcurrentHashMap[Long, Pend]()
  private val lock = new Object
  private var socket: WebSocket = null // guarded by lock
  private var socketEra = 0L // guarded by lock; bumps when a socket retires
  private def currentEra: Long = lock.synchronized(socketEra)
  private lazy val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(timeoutMs))
    .build()

  /** Socket loss marker: distinguishes "reconnect and replay" from a
    * server-answered error, which must never be retried. */
  private final class Disconnected(msg: String) extends RuntimeException(msg)

  /** True only for the socket this client currently sends on. Events
    * from a replaced (dropped/aborted) socket must be ignored: a late
    * onText would garble the shared reassembly buffer, and a late
    * onClose would failAll() the REPLAY's fresh futures and burn the
    * replay budget for a socket that is already gone. */
  private def isCurrent(ws: WebSocket): Boolean = lock.synchronized(socket eq ws)

  private object listener extends WebSocket.Listener {
    private val buf = new StringBuilder
    /** A connection that died mid-message must not leak its partial
      * text into the first message of the replacement socket. */
    def resetBuf(): Unit = buf.synchronized(buf.setLength(0))
    override def onText(ws: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
      if (!isCurrent(ws)) { ws.request(1); return null }
      val complete = buf.synchronized {
        buf.append(data)
        if (last) { val t = buf.toString(); buf.setLength(0); t } else null
      }
      if (complete != null)
        try deliver(JsonMethods.parse(complete))
        catch { case _: Exception => /* non-JSON frame: ignore */ }
      ws.request(1)
      null
    }
    override def onClose(ws: WebSocket, status: Int, reason: String): CompletionStage[_] = {
      dropped(ws, s"$endpoint websocket closed ($status $reason)")
      null
    }
    override def onError(ws: WebSocket, error: Throwable): Unit =
      dropped(ws, s"$endpoint websocket error: ${error.getMessage}")
  }

  private def deliver(payload: JValue): Unit = payload match {
    // An id-less error INSIDE a response array is one uncorrelatable
    // entry of one window (JSON-RPC allows id:null for entries whose
    // request id could not be determined) — it must stay confined to
    // that window (which times out alone), matching the HTTP client.
    case JArray(entries) => entries.foreach(deliverEntry)
    case o: JObject =>
      JsonRpcWire.idOf(o) match {
        case Some(_) => deliverEntry(o)
        case None =>
          // A TOP-LEVEL id-less object is either a subscription
          // notification (ignored: this client polls) or a socket-wide
          // condition — batch rejection / throttle — answered outside
          // any frame correlation: fail every in-flight call so the
          // windows replay or surface the error instead of timing out.
          JsonRpcWire.entryError(o) match {
            case Some(err) => failAll(JsonRpcWire.classify(endpoint, err))
            case None =>
          }
      }
    case _ =>
  }

  private def deliverEntry(v: JValue): Unit = v match {
    case o: JObject =>
      JsonRpcWire.idOf(o).foreach { id =>
        val p = pending.remove(id)
        if (p != null) p.f.complete(o)
      }
    case _ =>
  }

  /** Retire `ws` as the current socket. The failing socket is a
    * PARAMETER, not read from the field: a send() that lost the race
    * with a concurrent drop+reconnect holds a stale reference, and
    * retiring "whatever socket is current" on its behalf would abort
    * the healthy replacement, fail unrelated windows' in-flight
    * futures, and burn the shared replay budget. If `ws` is no longer
    * current the drop already happened (or a reconnect superseded it)
    * and this call is a no-op. */
  private def dropped(ws: WebSocket, msg: String): Unit = {
    // The retire, the era bump, AND the buffer wipe share one critical
    // section: resetting the buffer after releasing the lock races a
    // concurrent reconnect whose replacement socket may already be
    // streaming a response into it — the wipe would mangle the HEALTHY
    // socket's message mid-reassembly. Inside the lock no replacement
    // can exist yet (connected() needs the same lock).
    val retiredEra = lock.synchronized {
      if (socket eq ws) {
        socket = null
        socketEra += 1
        listener.resetBuf()
        socketEra - 1
      } else -1L
    }
    if (retiredEra < 0) return
    // Abort the replaced socket: without this a timeout-triggered drop
    // leaves the old connection alive, leaking a file descriptor per
    // drop on a JVM-cached client and letting its late callbacks race
    // the replacement (see isCurrent).
    if (ws != null) { try ws.abort() catch { case _: Exception => } }
    // Fail only the futures registered under the retired socket's era
    // (or earlier): a replay that re-registered under the NEW era while
    // this drop was mid-flight must keep its futures — failing them
    // here would burn the shared replay budget for a socket that was
    // already gone when they registered.
    failEraAtMost(retiredEra, new Disconnected(msg))
  }

  /** Socket-wide answered condition (top-level id-less error): every
    * in-flight call regardless of era — the server addressed them all. */
  private def failAll(t: Throwable): Unit = failEraAtMost(Long.MaxValue, t)

  private def failEraAtMost(era: Long, t: Throwable): Unit = {
    val it = pending.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // Conditional remove, not it.remove(): the iterator's entry is a
      // weakly-consistent snapshot. If a concurrent failAll already
      // failed this id and a replay re-registered it under a NEWER era,
      // it.remove() would delete the replay's fresh Pend (whose
      // response then times out); remove(key, value) only deletes the
      // exact Pend this guard examined.
      if (e.getValue.era <= era && pending.remove(e.getKey, e.getValue))
        e.getValue.f.completeExceptionally(t)
    }
  }

  private def connected(): WebSocket = lock.synchronized {
    if (socket == null)
      socket =
        try http.newWebSocketBuilder()
          .connectTimeout(Duration.ofMillis(timeoutMs))
          .buildAsync(URI.create(endpoint), listener)
          .get(timeoutMs, TimeUnit.MILLISECONDS)
        catch {
          case ie: InterruptedException =>
            Thread.currentThread().interrupt()
            throw ie
          case e: Exception =>
            throw new RpcClientException(s"$endpoint websocket connect failed: ${e.getMessage}", e)
        }
    socket
  }

  private def send(text: String): Unit = {
    // sendText may not be invoked again until the previous send's
    // future completes (JDK WebSocket contract) — serialize under the
    // connection lock; the await is local buffering, not a round trip.
    val ws = connected()
    try lock.synchronized { ws.sendText(text, true).get(timeoutMs, TimeUnit.MILLISECONDS) }
    catch {
      case e: Exception =>
        // Retire only THIS socket (no-op if a concurrent drop already
        // replaced it); either way this window's calls were never
        // delivered, so the thrown Disconnected drives their replay.
        dropped(ws, s"$endpoint send failed: ${e.getMessage}")
        e match {
          case ie: InterruptedException => Thread.currentThread().interrupt(); throw ie
          case _ => throw new Disconnected(s"$endpoint send failed: ${e.getMessage}")
        }
    }
  }

  override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
    if (calls.isEmpty) return Nil
    val withIds = calls.map(c => (ids.incrementAndGet(), c))
    val answers = new java.util.HashMap[Long, JObject]()
    var remaining = withIds
    var replays = 0
    val maxReplays = 2
    while (remaining.nonEmpty) {
      // Era read BEFORE registration: if a drop retires the socket
      // between this read and the send, these futures carry the old era
      // and the drop fails them — correct, their frame was at risk. A
      // registration after the retire reads the new era and is immune.
      val era = currentEra
      val futures = remaining.map { case (id, _) =>
        val f = new CompletableFuture[JObject]()
        pending.put(id, Pend(era, f))
        (id, f)
      }
      val frame = JArray(remaining.map { case (id, c) =>
        JObject(
          "jsonrpc" -> JString("2.0"),
          "method" -> JString(c.method),
          "params" -> JArray(c.params),
          "id" -> JLong(id))
      }.toList)
      try {
        send(JsonMethods.compact(JsonMethods.render(frame)))
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        futures.foreach { case (id, f) =>
          val left = deadline - System.nanoTime()
          answers.put(id, f.get(math.max(1L, left), TimeUnit.NANOSECONDS))
        }
        remaining = Nil
      } catch {
        case e: Exception =>
          remaining.foreach { case (id, _) => pending.remove(id) }
          // harvest calls that were answered before the failure — they
          // must not be replayed (and must not be double-counted)
          futures.foreach { case (id, f) =>
            if (f.isDone && !f.isCompletedExceptionally) answers.put(id, f.join())
          }
          unwrap(e) match {
            case d: Disconnected =>
              replays += 1
              if (replays > maxReplays)
                throw new RpcClientException(
                  s"$endpoint websocket dropped; replay budget exhausted: ${d.getMessage}", d)
              // replay only the unanswered calls on a fresh socket
              remaining = remaining.filterNot { case (id, _) => answers.containsKey(id) }
            case t: ThrottledException => throw t
            // a batch-level SERVER rejection (id:null error object, e.g.
            // an oversized-batch -32005/-32602) must keep its type: the
            // adaptive reader's window shrink catches RpcServerException,
            // and re-wrapping it as a transport failure would make the
            // pool evict a healthy endpoint instead — HTTP parity
            case s: RpcServerException => throw s
            // a stop, not a socket failure: rethrow unwrapped (the HTTP
            // transport's interrupt rule)
            case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              throw ie
            case _: TimeoutException =>
              throw new RpcClientException(s"$endpoint websocket response timeout (${timeoutMs}ms)")
            case other =>
              throw new RpcClientException(s"$endpoint websocket failure: ${other.getMessage}", other)
          }
      }
    }
    withIds.map { case (id, c) =>
      val o = answers.get(id)
      if (o == null)
        throw new RpcClientException(s"$endpoint: no response correlated to request id $id (${c.method})")
      JsonRpcWire.entryError(o) match {
        case Some(err) =>
          JsonRpcWire.classify(endpoint, err) match {
            case e: RpcServerException => Left(e)
            case t => throw t // batch-level throttle: replay the window
          }
        case None => Right(o \ "result")
      }
    }
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case ee: java.util.concurrent.ExecutionException if ee.getCause != null => unwrap(ee.getCause)
    case other => other
  }
}

/** Wire-level helpers shared by the HTTP and websocket transports. */
private[rpc] object JsonRpcWire {
  def idOf(o: JObject): Option[Long] = (o \ "id") match {
    case JLong(v) => Some(v)
    case JInt(v) => Some(v.toLong)
    case JString(s) => s.toLongOption
    case _ => None
  }

  def entryError(o: JObject): Option[(Int, String)] = (o \ "error") match {
    case e: JObject =>
      val code = (e \ "code") match {
        case JLong(v) => v.toInt
        case JInt(v) => v.toInt
        case _ => 0
      }
      val msg = (e \ "message") match { case JString(s) => s; case _ => "" }
      Some((code, msg))
    case _ => None
  }

  def classify(endpoint: String, err: (Int, String)): RuntimeException = {
    val (code, msg) = err
    if (JsonRpc.isThrottle(code, msg)) new ThrottledException(s"$endpoint RPC $code: $msg")
    else RpcServerException(code, msg)
  }
}
