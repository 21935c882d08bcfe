package graft.rpc

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.model.{EvmBlockWithTxs, EvmTransaction}
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

/** Transport-layer units that need no SparkSession: wire-format
  * round-trip fidelity over adversarial values, and pool behavior under
  * real concurrency (the shared per-JVM client serves many tasks). */
class JsonRpcUnitSpec extends AnyFunSuite {

  test("wire round-trip property: 200 seeded random blocks survive encode->parse exactly") {
    val rnd = new scala.util.Random(0x9e3779b9L)
    def addr() = "0x" + Seq.fill(40)("0123456789abcdef"(rnd.nextInt(16))).mkString
    def hash() = "0x" + Seq.fill(64)("0123456789abcdef"(rnd.nextInt(16))).mkString
    def hex64() = Seq.fill(64)("0123456789abcdef"(rnd.nextInt(16))).mkString
    (0 until 200).foreach { _ =>
      val n = rnd.nextLong(1L << 40)
      val txs = (0 until rnd.nextInt(4)).map { i =>
        EvmTransaction(
          block_hash = hash(), block_number = n, from_ = addr(),
          to_ = if (rnd.nextBoolean()) Some(addr()) else None,
          gas = rnd.nextLong(1L << 30), gas_price = rnd.nextLong(1L << 40),
          hash = hash(), input = "0x" + "ab" * rnd.nextInt(100),
          nonce = rnd.nextLong(1L << 30), transaction_index = i.toLong,
          value = hex64(),
          v = 27L + rnd.nextInt(2), r = "0x" + hex64(), s = "0x" + hex64())
      }
      val b = EvmBlockWithTxs(
        number = n, hash = hash(), parent_hash = hash(),
        timestamp = rnd.nextLong(1L << 34), miner = addr(),
        gas_limit = rnd.nextLong(1L << 34), gas_used = rnd.nextLong(1L << 34),
        size = rnd.nextLong(1L << 20),
        difficulty = "0x" + java.lang.Long.toHexString(rnd.nextLong(1L << 50)),
        transactions = txs,
        uncles = Seq.fill(rnd.nextInt(3))(hash()))
      assert(EvmWire.parseBlock(StubRpcServer.blockJson(b, full = true)) === b)
    }
  }

  test("pool under concurrency: membership locks, round trips do not; dead endpoint evicts once") {
    // live client answers after a tiny delay; dead client fails transport
    val served = new AtomicInteger(0)
    val live = new JsonRpcClient {
      override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
        Thread.sleep(1)
        served.incrementAndGet()
        calls.map(_ => Right(JString("ok")))
      }
    }
    val deadHits = new AtomicInteger(0)
    val dead = new JsonRpcClient {
      override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
        deadHits.incrementAndGet()
        throw new RpcClientException("connection refused")
      }
    }
    val pool = new PooledJsonRpcClient(Seq(dead, live, live))
    val threads = 8
    val callsPerThread = 50
    val start = new CountDownLatch(1)
    val failures = new AtomicInteger(0)
    val exec = Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { _ =>
      exec.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          (0 until callsPerThread).foreach { i =>
            try {
              val r = pool.batch(Seq(RpcCall("m", List(JInt(i)))))
              if (r != Seq(Right(JString("ok")))) failures.incrementAndGet()
            } catch { case _: Throwable => failures.incrementAndGet() }
          }
        }
      })
    }
    start.countDown()
    exec.shutdown()
    assert(exec.awaitTermination(30, TimeUnit.SECONDS))
    assert(failures.get() === 0)
    assert(served.get() === threads * callsPerThread)
    // the dead endpoint was tried at most once per concurrent first-wave
    // caller, then evicted for good
    assert(deadHits.get() <= threads)
  }

  test("depleted pool throws the reference's loud error") {
    val dead = new JsonRpcClient {
      override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] =
        throw new RpcClientException("down")
    }
    val pool = new PooledJsonRpcClient(Seq(dead, dead))
    val e = intercept[RpcClientException] { pool.call("m") }
    assert(e.getMessage.contains("depleted"))
  }

  /** A client whose availability is flipped externally — models a
    * provider outage that later recovers. */
  private final class ScriptedClient(answer: String) extends JsonRpcClient {
    val up = new java.util.concurrent.atomic.AtomicBoolean(true)
    val hits = new AtomicInteger(0)
    override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
      hits.incrementAndGet()
      if (!up.get()) throw new RpcClientException(s"$answer down")
      calls.map(_ => Right(JString(answer)))
    }
  }

  test("eviction is a cooldown, not removal: endpoint is skipped while cooling, not re-probed") {
    val flaky = new ScriptedClient("flaky"); flaky.up.set(false)
    val live = new ScriptedClient("live")
    // rotation probes (index+1) first, so flaky at slot 1 is tried first
    val pool = new PooledJsonRpcClient(Seq(live, flaky), cooldownMs = 60000L)
    (0 until 10).foreach(_ => assert(pool.call("m") === JString("live")))
    // flaky was probed exactly once (first rotation), then cooled down —
    // NOT retried on every round-robin pass
    assert(flaky.hits.get() === 1)
    assert(pool.coolingDown === Set(1))
  }

  test("cooled-down endpoint is re-probed after the cooldown and revived on success") {
    val flaky = new ScriptedClient("flaky"); flaky.up.set(false)
    val live = new ScriptedClient("live")
    val pool = new PooledJsonRpcClient(Seq(live, flaky), cooldownMs = 20L)
    pool.call("m") // evicts flaky for 20ms
    assert(pool.coolingDown === Set(1))
    flaky.up.set(true)
    Thread.sleep(40)
    // rotation reaches the recovered endpoint again and its mark clears
    val answers = (0 until 4).map(_ => pool.call("m"))
    assert(answers.contains(JString("flaky")))
    assert(pool.coolingDown === Set.empty)
  }

  test("ADVICE r6: a fully depleted pool recovers after the outage instead of staying dead") {
    val a = new ScriptedClient("a"); val b = new ScriptedClient("b")
    a.up.set(false); b.up.set(false)
    val pool = new PooledJsonRpcClient(Seq(a, b), cooldownMs = 20L)
    // total outage: the call fails loudly (task retry handles it)…
    val e = intercept[RpcClientException] { pool.call("m") }
    assert(e.getMessage.contains("depleted"))
    // …but the pool is NOT permanently dead: after the endpoints recover
    // and the cooldown lapses, the same cached pool serves again
    a.up.set(true); b.up.set(true)
    Thread.sleep(40)
    assert(Set[JValue](JString("a"), JString("b")).contains(pool.call("m")))
  }

  test("mid-window failover is bounded by one pool rotation per batch call") {
    val a = new ScriptedClient("a"); val b = new ScriptedClient("b"); val c = new ScriptedClient("c")
    Seq(a, b, c).foreach(_.up.set(false))
    val pool = new PooledJsonRpcClient(Seq(a, b, c), cooldownMs = 0L)
    intercept[RpcClientException] { pool.call("m") }
    // cooldown 0 means every endpoint was eligible the whole time — the
    // rotation bound (not eviction) is what stopped the loop: one try each
    assert(Seq(a, b, c).map(_.hits.get()) === Seq(1, 1, 1))
  }

  // the ws client over a hung endpoint blocks in its handshake
  Seq[(String, String => JsonRpcClient)](
    "http" -> (url => new HttpJsonRpcClient(url, 30000L)),
    "ws" -> (url => new WsJsonRpcClient(url.replaceFirst("^http", "ws"), 30000L))
  ).foreach { case (transport, client) =>
    test(s"$transport: an interrupt mid-request reaches the caller unwrapped and evicts nothing") {
      val hung = new HungEndpoint
      val live = new ScriptedClient("live")
      // rotation probes (index+1) first, so the hung endpoint is tried first
      val pool = new PooledJsonRpcClient(Seq(live, client(hung.url)))
      @volatile var outcome: Throwable = null
      @volatile var flagSet = false
      val caller = new Thread(() =>
        try pool.call("eth_blockNumber")
        catch { case t: Throwable => outcome = t; flagSet = Thread.currentThread().isInterrupted })
      try {
        caller.start()
        assert(hung.accepted.await(10, TimeUnit.SECONDS), "request never reached the hung endpoint")
        caller.interrupt()
        caller.join(10000)
        assert(outcome.isInstanceOf[InterruptedException],
          s"caller ended with ${Option(outcome).getOrElse("a result from the failover endpoint")}")
        assert(flagSet, "interrupt flag must stay set for the caller")
        // a stop is not a transport failure: no failover, no eviction
        assert(live.hits.get() === 0)
        assert(pool.coolingDown === Set.empty)
      } finally hung.close()
    }
  }

  test("requests-per-second cap: wire entries are paced into per-second windows") {
    val served = new AtomicInteger(0)
    val instant = new JsonRpcClient {
      override def batch(calls: Seq[RpcCall]): Seq[Either[RpcServerException, JValue]] = {
        served.addAndGet(calls.size)
        calls.map(_ => Right(JString("ok")))
      }
    }
    // 150 request slots at 50/s need at least three windows -> the
    // second and third 50-entry batches must cross window boundaries
    val limited = new RateLimitedJsonRpcClient(instant, perSecond = 50)
    val t0 = System.nanoTime()
    val results = (0 until 3).flatMap { _ =>
      limited.batch(Seq.fill(50)(RpcCall("m", Nil)))
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(results.size === 150 && served.get() === 150) // nothing dropped
    assert(elapsedMs >= 900, s"150 entries at 50/s finished in ${elapsedMs}ms — cap not enforced")
    // control: uncapped client (perSecond=0 path is not even wrapped)
    val t1 = System.nanoTime()
    instant.batch(Seq.fill(150)(RpcCall("m", Nil)))
    assert((System.nanoTime() - t1) / 1000000L < 500)
  }

  test("hex64 refuses a quantity wider than uint256 instead of truncating high digits") {
    val ok = JObject("v" -> JString("0x" + "ff" * 32))
    assert(EvmWire.hex64(ok, "v") === "f" * 64)
    val wide = JObject("v" -> JString("0x1" + "0" * 64)) // 65 hex digits
    val e = intercept[RpcClientException] { EvmWire.hex64(wide, "v") }
    assert(e.getMessage.contains("uint256"))
    // over-WIDE but not over-VALUE: leading-zero padding is lossless
    // canonicalization, not a protocol violation — some proxies emit it
    val padded = JObject("v" -> JString("0x" + "00" * 3 + "ff" * 31)) // 68 hex chars
    assert(EvmWire.hex64(padded, "v") === "00" + "ff" * 31)
    val zero = JObject("v" -> JString("0x" + "0" * 70))
    assert(EvmWire.hex64(zero, "v") === "0" * 64)
  }

  test("range-too-large mapping is scoped: logs shrink, block/receipt errors surface as-is") {
    // a generic -32000 ("header not found") answered per-entry
    val stub = new StubRpcServer()
    try {
      stub.entryError = Some((-32000, "header not found"))
      val opts = Map("endpoints" -> stub.url)
      val blocks = new RpcBlockDataFetcher(); blocks.configure(opts)
      val surfaced = intercept[RpcServerException] { blocks.fetchBlocks(0, 5).toList }
      assert(surfaced.code === -32000 && surfaced.messageText.contains("header not found"))
      // the same code on the single ranged eth_getLogs call IS the shrink signal
      val logs = new RpcLogsFetcher(); logs.configure(opts)
      intercept[graft.sources.RangeTooLargeException] { logs.fetchLogs(0, 5).toList }
      assert(handlerThreads(stub).nonEmpty, "the stub served requests on no named handler thread")
    } finally stub.stop()
    // stop() ends the handler pool too: a stopped stub leaves no thread
    assert(handlerThreads(stub).isEmpty,
      s"threads of a stopped stub still alive: ${handlerThreads(stub).mkString(", ")}")
  }

  private def handlerThreads(stub: StubRpcServer): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(stub.threadPrefix)).map(_.getName)
  }

  test("parseTx tolerates a missing gasPrice (EIP-1559 type-2 transactions)") {
    val base = StubRpcServer.txJson(EvmTransaction(
      block_hash = "0xb1", block_number = 1L, from_ = "0xf", to_ = Some("0xt"),
      gas = 21000L, gas_price = 7L, hash = "0xh", input = "0x",
      nonce = 0L, transaction_index = 0L, value = "0" * 64,
      v = 27L, r = "0x" + "11" * 32, s = "0x" + "22" * 32))
    val without = JObject(base.obj.filterNot(_._1 == "gasPrice"))
    val tx = EvmWire.parseTx(without)
    assert(tx.gas_price === 0L) // degraded, not a failed crawl
    assert(tx.gas === 21000L)
  }

  test("configure keys are case-normalized on the raw-map path") {
    val e = CallExecutor.forName(CallExecutor.Rpc,
      Map("endpoints" -> "http://localhost:1/", "callBatch" -> "10",
        "rpcTimeoutMs" -> "5000", "throttleMaxRetries" -> "1"))
    // documented camelCase keys must land (no silent defaults): probe
    // via reflection on the private batchSize field
    val f = e.getClass.getDeclaredField("batchSize")
    f.setAccessible(true)
    assert(f.getInt(e) === 10)
  }

  test("http transport replays transient socket failures in place (bounded), answered errors stay one-shot") {
    // a pass-through TCP proxy that KILLS the first connection outright —
    // the reset a loaded host injects mid-crawl — then pipes faithfully
    val stub = new StubRpcServer()
    val targetPort = java.net.URI.create(stub.url).getPort
    val proxy = new java.net.ServerSocket(0, 16, java.net.InetAddress.getByName("127.0.0.1"))
    val kills = new AtomicInteger(1)
    val killed = new AtomicInteger(0)
    val pump = Executors.newCachedThreadPool()
    pump.submit(new Runnable {
      override def run(): Unit = try {
        while (true) {
          val c = proxy.accept()
          if (kills.getAndDecrement() > 0) { killed.incrementAndGet(); c.close() }
          else {
            val t = new java.net.Socket("127.0.0.1", targetPort)
            def pipe(in: java.io.InputStream, out: java.io.OutputStream): Runnable =
              () => try {
                val buf = new Array[Byte](8192)
                var n = in.read(buf)
                while (n >= 0) { out.write(buf, 0, n); out.flush(); n = in.read(buf) }
              } catch { case _: java.io.IOException => } finally {
                try c.close() catch { case _: Throwable => }
                try t.close() catch { case _: Throwable => }
              }
            pump.submit(pipe(c.getInputStream, t.getOutputStream))
            pump.submit(pipe(t.getInputStream, c.getOutputStream))
          }
        }
      } catch { case _: Throwable => } // proxy.close() ends the loop
    })
    try {
      val c = new HttpJsonRpcClient(s"http://127.0.0.1:${proxy.getLocalPort}/", 5000)
      // first connection dies at the socket level; the bounded replay
      // lands the SAME request on the healthy path — the job survives
      val v = c.call("eth_blockNumber")
      assert(killed.get() === 1, "the flaky first connection was never exercised")
      assert(v.isInstanceOf[JString])
      // an ANSWERED 500 is the server speaking: one shot, no replay
      stub.dead.set(true)
      val before = stub.httpRequests.get()
      intercept[RpcClientException] { c.call("eth_blockNumber") }
      assert(stub.httpRequests.get() === before + 1,
        "an answered HTTP 500 must not be replayed")
    } finally { proxy.close(); pump.shutdownNow(); stub.stop() }
  }

  test("http transport surfaces a persistent socket failure after exhausting retries") {
    // accept-and-close forever: every attempt dies at the transport
    val ss = new java.net.ServerSocket(0, 16, java.net.InetAddress.getByName("127.0.0.1"))
    val accepts = new AtomicInteger(0)
    val t = new Thread(() => try {
      while (true) { val s = ss.accept(); accepts.incrementAndGet(); s.close() }
    } catch { case _: Throwable => })
    t.setDaemon(true); t.start()
    try {
      val c = new HttpJsonRpcClient(s"http://127.0.0.1:${ss.getLocalPort}/", 2000)
      intercept[RpcClientException] { c.call("eth_blockNumber") }
      // every configured attempt was spent before surfacing (>=: the JDK
      // client may add its own connection-level re-tries on top)
      assert(accepts.get() >= HttpJsonRpcClient.TransportRetries + 1,
        s"only ${accepts.get()} attempts before surfacing")
    } finally ss.close()
  }

  test("error taxonomy: throttle vs range-too-large classification") {
    assert(JsonRpc.isThrottle(429, "anything"))
    assert(JsonRpc.isThrottle(-32005, "Rate limit exceeded"))
    assert(!JsonRpc.isThrottle(-32005, "query returned more than 10000 results"))
    assert(JsonRpc.isRangeTooLarge(-32005))
    assert(JsonRpc.isRangeTooLarge(-32602))
    assert(JsonRpc.isRangeTooLarge(-32000))
    assert(!JsonRpc.isRangeTooLarge(3))
  }
}
