package graft.perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.rpc.StubRpcServer

/** Runs the test-scope [[StubRpcServer]] in its own JVM, so the RPC
  * provider's CPU and GC never share a process with the system under
  * test, and drives it over a line protocol on stdin/stdout:
  *
  *  - `stats`            one JSON line of stub-side counters
  *  - `reset`            zero the counters (the stub's own are
  *                       monotone, so deltas are taken against a base)
  *  - `height N`         chain height (blocks 0..N-1 exist)
  *  - `schedule FROM COUNT RATE SEED`
  *                       open-loop generator: block FROM+k becomes the
  *                       head at t0 + (k + j_k)/RATE s, j_k in [0, 0.5)
  *                       drawn from SEED, on a schedule that does not
  *                       slow when the tail does; each block's due and
  *                       actual publish time is stamped here
  *  - `quit`             stop the server and exit
  *
  * The stub class itself is reused unchanged. Its HTTP context handler
  * is re-registered behind a timing wrapper (found by reflection) so the
  * busy time and non-200 answers are counted where they happen. */
object StubHost {
  private val busyNanos = new LongAdder
  private val errors = new LongAdder
  private val schedule = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double)]()
  @volatile private var base = Map.empty[String, Long]

  /** Wall clock in epoch ms with sub-ms resolution (shared across JVMs
    * on one host to within the millisecond clock's granularity). */
  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  def main(args: Array[String]): Unit = {
    val stub = new StubRpcServer(chainHeight = 0L)
    instrument(stub)
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def counters(): Map[String, Long] = Map(
      "http_requests" -> stub.httpRequests.get().toLong,
      "wire_entries" -> stub.rpcRequests.get().toLong,
      "errors" -> errors.sum(),
      "busy_ns" -> busyNanos.sum(),
      "cpu_ns" -> cpu.getProcessCpuTime)
    println(s"""{"url":"${stub.url}"}""")
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      line.trim.split("\\s+").toList match {
        case "stats" :: Nil =>
          val now = counters()
          val d = now.map { case (k, v) => k -> (v - base.getOrElse(k, 0L)) }
          val sched = schedule.toArray.map(_.asInstanceOf[(Long, Double, Double)])
            .map { case (b, due, at) => f"[$b,$due%.3f,$at%.3f]" }.mkString(",")
          println(s"""{"http_requests":${d("http_requests")},"wire_entries":${d("wire_entries")},""" +
            s""""errors":${d("errors")},"busy_ms":${d("busy_ns") / 1e6},"cpu_ms":${d("cpu_ns") / 1e6},""" +
            s""""max_inflight":${stub.maxConcurrentRequests.get()},"schedule":[$sched]}""")
        case "reset" :: Nil =>
          base = counters()
          stub.maxConcurrentRequests.set(0)
          schedule.clear()
          println("{}")
        case "height" :: n :: Nil =>
          stub.height.set(n.toLong)
          println("{}")
        case "schedule" :: from :: count :: rate :: seed :: Nil =>
          val t0 = nowMs() + 50.0
          startGenerator(stub.height, from.toLong, count.toInt, rate.toDouble, seed.toLong, t0)
          println(f"""{"t0_ms":$t0%.3f}""")
        case other =>
          println(s"""{"error":"unknown command ${other.mkString(" ")}"}""")
      }
      System.out.flush()
      line = in.readLine()
    }
    stub.stop()
    // the stub's request pool threads are not daemons
    System.exit(0)
  }

  private def startGenerator(height: AtomicLong, from: Long, count: Int, rate: Double,
      seed: Long, t0: Double): Unit = {
    val jitter = new java.util.Random(seed)
    val t = new Thread(() => {
      var k = 0
      while (k < count) {
        val due = t0 + (k + 0.5 * jitter.nextDouble()) * 1000.0 / rate
        var wait = due - nowMs()
        while (wait > 0) { Thread.sleep(math.max(1L, wait.toLong)); wait = due - nowMs() }
        height.set(from + k + 1)
        schedule.add((from + k, due, nowMs()))
        k += 1
      }
    }, "perfbench-generator")
    t.setDaemon(true)
    t.start()
  }

  private def instrument(stub: StubRpcServer): Unit = {
    val cls = classOf[StubRpcServer]
    val field = cls.getDeclaredFields.find(_.getType == classOf[HttpServer])
      .getOrElse(sys.error("StubRpcServer has no HttpServer field"))
    field.setAccessible(true)
    val server = field.get(stub).asInstanceOf[HttpServer]
    val stubHandle = cls.getDeclaredMethods.find { m =>
      m.getName.endsWith("handle") && m.getParameterTypes.sameElements(Array(classOf[HttpExchange]))
    }.getOrElse(sys.error("StubRpcServer has no handle(HttpExchange) method"))
    stubHandle.setAccessible(true)
    server.removeContext("/")
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val t0 = System.nanoTime()
        try handle0(ex)
        finally {
          busyNanos.add(System.nanoTime() - t0)
          if (ex.getResponseCode != 200) errors.increment()
        }
      }
      private def handle0(ex: HttpExchange): Unit =
        try stubHandle.invoke(stub, ex)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    })
  }
}
