package graft.perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.cli.Main

/** The system-under-test JVM of the benchmark: runs one workload through
  * the engine's public entry points and prints one JSON line of raw
  * observations (timings, counts, spans, output-check evidence). The
  * Python driver (`run.py`) turns them into metrics and applies the
  * output gates, so every formula lives in one place.
  *
  * Workloads (sizes are constants so every run does the same work;
  * crawl_rpc and queries take about 20-26 s on a 4-vCPU host, and
  * tail_rpc's open-loop phase lasts `--seconds`):
  *  - crawl_rpc: `crawl` then `verify` of one window of [[CrawlBlocks]]
  *    blocks, through the stub JSON-RPC server.
  *  - tail_rpc: streaming `tail --owners-view` over the stub; phase 1
  *    drains a [[TailBacklog]]-block backlog (closed loop), phase 2
  *    follows a head the stub advances at [[TailRate]] blocks/s for
  *    `--seconds` after a [[TailRampBlocks]]-block ramp.
  *  - queries: one pass over [[Queries]] from the registry over the
  *    bundled sf0.01 tables, each result fully materialized into a row
  *    count and an order-independent digest. */
object BenchMain {
  /** The simulated chain's block shapes (transactions, mints, contract
    * creations, URI events) repeat with this period (lcm of 3, 5 and 7).
    * Seeds pick window offsets that are multiples of it and stay near
    * genesis, because verify's chain-wide token enumeration grows with
    * the window's height. */
  val ShapePeriod = 105L
  val CrawlBlocks = 1000L
  val TailBacklog = 128L
  /** An L2 block rate, about a quarter of the drain rate. Run to run,
    * the median lag spread about half as much at this rate as at 4
    * blocks/s (perfbench/NOTES.md, Steadiness). */
  val TailRate = 2.0
  /** Open-loop blocks published before the measured ones (6 s): the first
    * live epochs start mid-drain and are not yet in the steady rhythm. */
  val TailRampBlocks = 12

  /** The nine queries of ROADMAP open item 1's table (whose `.count()`
    * timing skipped most of their work); for seven more registry
    * families, the member nearest the family's median sf0.01 time; and
    * one oracled member of each of nine smaller families. The pass is
    * timed cold: run to run, a cold pass's time spread less than the
    * median of three passes in a warmed JVM, so the pass is lengthened
    * with more distinct queries rather than repeated. */
  val Queries: Seq[String] = Seq(
    "text_fingerprint", "x2_sketch_bounds", "p9_keccak", "text_strip_dup_spans",
    "p8_uint256_oracled", "q1_pricing_summary", "g10_clustering", "o8_funnel", "g39_richclub",
    "a3_balance_sum", "dedup_simhash", "embed_project_sampled", "j6_range_join",
    "k1_versioned_upsert", "q3_join_agg", "t7_anomaly",
    "ann_ivf", "mm_dedup_pairs", "s6_call_requests", "sample_temperature", "e1_salted_hotkey",
    "profile_columns", "u1_set_ops", "drift_at_rest", "corpus_diff")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, classpath: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("data"), kv("classpath"))
    val result = a.workload match {
      case "crawl_rpc" => withStub(a)(crawlRpc(a, _, _))
      case "tail_rpc" => withStub(a)(tailRpc(a, _, _))
      case "queries" => val spark = session(a); try queries(a, spark) finally spark.stop()
      case other => sys.error(s"unknown workload $other")
    }
    mark("done")
    println(JsonMethods.compact(JsonMethods.render(result)))
  }

  /** Progress line on stderr (the run log) with the JVM's uptime. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${uptimeS()}%.1f s: $what")

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mark("session started")
    spark.experimental.extraOptimizations ++= Seq(graft.plans.TokenCountRule)
    // warm the machinery every workload relies on (codegen, shuffle,
    // window, generator) so the first measured operation does not pay it
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(100000).selectExpr("id % 7 AS k", "CAST(id AS DECIMAL(18,2)) AS d")
      .groupBy("k").agg(sum("d")).collect()
    spark.range(10000).selectExpr("id", "id % 5 AS p")
      .selectExpr("*", "row_number() OVER (PARTITION BY p ORDER BY id DESC) AS rn")
      .filter("rn = 1").collect()
    spark.range(1000).selectExpr("explode(array(id, id + 1)) AS e").collect()
    mark("session warmed up")
    spark
  }

  /** Seconds since this JVM started: JVM boot, session, stub and warm-up. */
  private def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The stub provider in its own JVM, driven over stdin/stdout. */
  final class Stub(a: Args) {
    private val proc = new ProcessBuilder("java", "-XX:-UsePerfData", "-Xmx512m",
      s"-Djava.io.tmpdir=${a.work}/tmp", "-cp", a.classpath,
      "graft.perfbench.StubHost")
      .redirectError(new File(s"${a.work}/stub.err"))
      .start()
    private val in = new BufferedReader(new InputStreamReader(proc.getInputStream))
    private val out = new PrintWriter(proc.getOutputStream, true)
    val url: String = (JsonMethods.parse(in.readLine()) \ "url").asInstanceOf[JString].s
    def ask(cmd: String): JValue = synchronized {
      out.println(cmd)
      JsonMethods.parse(in.readLine())
    }
    def stop(): Unit = {
      try out.println("quit") catch { case _: Throwable => }
      if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly(); proc.waitFor()
      }
    }
  }

  private def withStub(a: Args)(body: (SparkSession, Stub) => JObject): JObject = {
    val stubF = scala.concurrent.Future(new Stub(a))(scala.concurrent.ExecutionContext.global)
    val spark = session(a)
    val stub = scala.concurrent.Await.result(stubF, scala.concurrent.duration.Duration(120, "s"))
    try body(spark, stub)
    finally { stub.stop(); mark("stub stopped"); spark.stop(); mark("session stopped") }
  }

  private def op(kind: String, name: String, ok: Boolean, ms: Double): JObject =
    ("kind" -> kind) ~ ("name" -> name) ~ ("ok" -> ok) ~ ("ms" -> ms)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  // ---------------------------------------------------------------- crawl_rpc

  private def crawlRpc(a: Args, spark: SparkSession, stub: Stub): JObject = {
    val trace = new Trace(a.trace)
    val start = ShapePeriod * (1 + Math.floorMod(a.seed, 8L))
    val end = start + CrawlBlocks
    val rpcArgs = Seq("--evm-rpc-nodes", stub.url, "--num-partitions", "4")
    stub.ask(s"height ${end + 1}")
    val setupS = uptimeS()
    mark("set up")
    val db = s"${a.work}/db"
    val rpt = s"${a.work}/report"
    trace.install(spark)
    resetHeapPeak()
    val wl = trace.open("workload", "crawl_rpc")
    stub.ask("reset")
    val (crawlCode, crawlMs) = timed(trace.span(spark, "cli", "crawl", wl.id) {
      Main.run(spark, Seq("crawl", start.toString, end.toString, "--out", db) ++ rpcArgs)
    })
    val crawlWire = stub.ask("stats")
    val tables = Seq("transfers", "tokens", "owners", "collections", "uris").map { t =>
      t -> JInt(spark.read.parquet(s"$db/$t").count())
    }
    stub.ask("reset")
    val (verifyCode, verifyMs) = timed(trace.span(spark, "cli", "verify", wl.id) {
      Main.run(spark, Seq("verify", start.toString, end.toString, "--db", db, "--out", rpt) ++
        rpcArgs)
    })
    val verifyWire = stub.ask("stats")
    val sections = spark.read.parquet(rpt)
      .groupBy(col("check"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("detail").startsWith("warning:"), 1).otherwise(0)).as("warnings"))
      .collect().map(r => r.getString(0) -> (("n" -> r.getLong(1)) ~ ("warnings" -> r.getLong(2))))
    wl.endMs = trace.nowMs()
    val heap = heapPeakMb()
    trace.uninstall(spark)
    val layers = if (!a.trace) JObject() else crawlLayers(a, spark, stub, start)
    // verify exits 1 whenever any section holds an error row, which the
    // simulated chain always produces (see the pinned section counts)
    val ops = List(op("cli", "crawl", crawlCode == 0, crawlMs),
      op("cli", "verify", verifyCode == 0 || verifyCode == 1, verifyMs))
    ("setup_s" -> setupS) ~ ("heap_peak_mb" -> heap) ~ ("ops" -> ops) ~
      ("start" -> start) ~ ("blocks" -> CrawlBlocks) ~
      ("crawl_ms" -> crawlMs) ~ ("verify_ms" -> verifyMs) ~
      ("crawl_code" -> crawlCode) ~ ("verify_code" -> verifyCode) ~
      ("tables" -> JObject(tables.toList)) ~ ("crawl_wire" -> crawlWire) ~
      ("verify_wire" -> verifyWire) ~ ("sections" -> JObject(sections.toList)) ~
      ("layers" -> layers) ~ ("writes" -> writesJson(trace)) ~ ("trace" -> trace.render())
  }

  /** Traced-run probes of single layers, each timed alone on the
    * measured window: the fetchers without Spark, and the NFT
    * derivations fully materialized over checkpointed receipts. */
  private def crawlLayers(a: Args, spark: SparkSession, stub: Stub, start: Long): JObject = {
    val end = start + CrawlBlocks
    val opts = Map("endpoints" -> stub.url)
    val (_, blocksMs) = timed {
      graft.sources.BlockDataFetcher.forName(classOf[graft.rpc.RpcBlockDataFetcher].getName, opts)
        .fetchBlocks(start, end).size
      graft.sources.ReceiptDataFetcher.forName(
        classOf[graft.rpc.RpcReceiptDataFetcher].getName, opts).fetchReceipts(start, end).size
    }
    def src(fmt: String) = spark.read.format(fmt)
      .option("start", start.toString).option("maxBlock", end.toString)
      .option("numPartitions", "4").load()
    val receipts = src("receipts").localCheckpoint(true)
    val blockTimes = src("blocks").select(col("number"), col("timestamp")).localCheckpoint(true)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, deriveMs) = timed {
      val logs = receipts.select(explode(col("logs")).as("l")).select(col("l.*"))
      val transfers = graft.nft.Derive.transfers(logs).localCheckpoint(true)
      noop(graft.nft.Derive.tokens(transfers, blockTimes))
      noop(graft.nft.Derive.owners(transfers))
    }
    ("fetch_ms" -> blocksMs) ~ ("derive_ms" -> deriveMs)
  }

  private def writesJson(trace: Trace): JArray = trace.synchronized {
    JArray(trace.writes.toList.map { case (path, s, files, bytes, rows, parts) =>
      ("path" -> path) ~ ("s" -> s) ~ ("files" -> files) ~ ("bytes" -> bytes) ~
        ("rows" -> rows) ~ ("parts" -> parts)
    })
  }

  // ---------------------------------------------------------------- tail_rpc

  private def tailRpc(a: Args, spark: SparkSession, stub: Stub): JObject = {
    val trace = new Trace(a.trace)
    val start = ShapePeriod * (2 + Math.floorMod(a.seed, 8L))
    val backlogEnd = start + TailBacklog
    stub.ask(s"height $backlogEnd")
    val setupS = uptimeS()
    mark("set up")
    stub.ask("reset")
    // (batch id, commit wall ms, start offset, end offset, phase durations)
    val epochs = new java.util.concurrent.ConcurrentLinkedQueue[JObject]()
    @volatile var committed = start
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val at = trace.nowMs()
        val p = e.progress
        val src = p.sources.head
        val (lo, hi) = (Option(src.startOffset).map(_.toLong).getOrElse(start), src.endOffset.toLong)
        if (hi > lo) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> (JInt(v.longValue): JValue) }
          epochs.add(("batch" -> p.batchId) ~ ("commit_ms" -> at) ~ ("from" -> lo) ~ ("to" -> hi) ~
            ("durations" -> JObject(d.toList)))
          trace.open("epoch", p.batchId.toString,
            startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            batch = p.batchId).endMs = at
        }
        committed = math.max(committed, hi)
      }
    }
    spark.streams.addListener(listener)
    trace.install(spark)
    resetHeapPeak()
    val out = s"${a.work}/tail"
    val wl = trace.open("workload", "tail_rpc")
    val t0 = System.nanoTime()
    @volatile var code = -1
    @volatile var stopError = ""
    val runner = new Thread(() => {
      // the harness ends the unbounded tail by stopping its query; a stop
      // that lands inside a head probe surfaces as a query error
      // (recorded as `stop_error`, not an output failure)
      try code = trace.span(spark, "cli", "tail", wl.id) {
        Main.run(spark, Seq("tail", "--out", out, "--config", s"${a.work}/cfg",
          "--checkpoint", s"${a.work}/ckpt", "--start", start.toString, "--owners-view",
          "--evm-rpc-nodes", stub.url, "--num-partitions", "4"))
      } catch { case scala.util.control.NonFatal(t) => stopError = t.toString.take(300) }
    }, "perfbench-tail")
    runner.start()
    def awaitCommitted(target: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (committed < target && System.nanoTime() < deadline && runner.isAlive) Thread.sleep(5)
      committed >= target
    }
    val drained = awaitCommitted(backlogEnd, 120)
    val catchupMs = (System.nanoTime() - t0) / 1e6
    val liveBlocks = math.round(TailRate * a.seconds).toInt
    val liveEnd = backlogEnd + TailRampBlocks + liveBlocks
    stub.ask(s"schedule $backlogEnd ${TailRampBlocks + liveBlocks} $TailRate ${a.seed}")
    val followed = drained && awaitCommitted(liveEnd, (TailRampBlocks + liveBlocks) / TailRate + 60)
    val runMs = (System.nanoTime() - t0) / 1e6
    spark.streams.active.foreach(_.stop())
    runner.join(60000)
    wl.endMs = trace.nowMs()
    val heap = heapPeakMb()
    trace.uninstall(spark)
    spark.streams.removeListener(listener)
    val wire = stub.ask("stats")
    // output check: the streamed state equals the batch derivation of
    // the same range from the simulated chain
    val batchReceipts = spark.read.format("receipts")
      .option("start", start.toString).option("maxBlock", liveEnd.toString)
      .option("numPartitions", "4").load()
    val batchTransfers = graft.nft.Derive.transfers(
      batchReceipts.select(explode(col("logs")).as("l")).select(col("l.*"))).localCheckpoint(true)
    def sameRows(x: DataFrame, y: DataFrame): Boolean = {
      val cols = x.columns.sorted.map(col).toIndexedSeq
      digest(x.select(cols: _*)) == digest(y.select(cols: _*))
    }
    val transfersOk = sameRows(spark.read.parquet(s"$out/transfers").drop("__bucket"),
      batchTransfers)
    val ownersOk = sameRows(graft.streaming.Tail.readOwners(spark, s"$out/owners"),
      graft.nft.Derive.owners(batchTransfers))
    val eps = epochs.asScala.toList
    val ops = eps.map(e => op("epoch", (e \ "batch").values.toString, ok = true,
      (e \ "durations" \ "triggerExecution") match { case JInt(v) => v.toDouble; case _ => 0.0 })) :+
      op("cli", "tail", drained && followed && (code == 0 || stopError.nonEmpty), runMs)
    ("setup_s" -> setupS) ~ ("heap_peak_mb" -> heap) ~ ("ops" -> ops) ~
      ("start" -> start) ~ ("backlog" -> TailBacklog) ~ ("ramp_blocks" -> TailRampBlocks) ~
      ("live_blocks" -> liveBlocks) ~
      ("rate" -> TailRate) ~ ("catchup_ms" -> catchupMs) ~
      ("drained" -> drained) ~ ("followed" -> followed) ~ ("code" -> code) ~
      ("stop_error" -> stopError) ~
      ("transfers_ok" -> transfersOk) ~ ("owners_ok" -> ownersOk) ~ ("epochs" -> eps) ~ ("wire" -> wire) ~
      ("jobs_per_batch" -> JArray(trace.synchronized(trace.jobsPerBatch.values.toList).map(JInt(_)))) ~
      ("writes" -> writesJson(trace)) ~ ("trace" -> trace.render())
  }

  // ---------------------------------------------------------------- queries

  /** Columns normalized so the digest is independent of row order and
    * of floating-point summation order in the last bits. */
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Fully materializes `df` (every row, every column) into (rows,
    * order-independent digest). */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalized(col(f.name), f.dataType))
    val r = named.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def queries(a: Args, spark: SparkSession): JObject = {
    val setupS = uptimeS()
    val trace = new Trace(a.trace)
    val registry = graft.SparkEntry.queries
    trace.install(spark)
    resetHeapPeak()
    val wl = trace.open("workload", "queries")
    // the pass builds the fixtures it reads (the memo starts empty)
    graft.tables.FixtureStore.release(spark)
    val (runs, passMs) = timed(Queries.map { name =>
      val ((rows, dig, err), ms) = timed {
        try trace.span(spark, "query", name, wl.id) {
          val (r, d) = digest(registry(name)(spark, a.data))
          (r, d, "")
        } catch { case scala.util.control.NonFatal(t) => (-1L, "", t.toString) }
      }
      (name, rows, dig, err, ms)
    })
    val ops = runs.map { case (name, _, _, err, ms) => op("query", name, err.isEmpty, ms) }
    val results = runs.map { case (name, rows, dig, err, ms) =>
      ("name" -> name) ~ ("ms" -> ms) ~ ("rows" -> rows) ~ ("digest" -> dig) ~ ("error" -> err)
    }
    wl.endMs = trace.nowMs()
    val heap = heapPeakMb()
    trace.uninstall(spark)
    val layers: JObject = if (!a.trace) JObject() else {
      val root = s"${a.work}/fixtures"
      val (_, prepMs) = timed {
        graft.tables.GraphFixtures.materialize(spark, a.data, root)
        graft.tables.ErFixtures.materialize(spark, a.data, root)
      }
      def size(f: File): Long = if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
        else f.length()
      ("fixtures_prepare_ms" -> prepMs) ~ ("fixture_bytes" -> size(new File(root)))
    }
    ("setup_s" -> setupS) ~ ("heap_peak_mb" -> heap) ~ ("ops" -> ops.toList) ~
      ("results" -> results.toList) ~ ("pass_s" -> passMs / 1e3) ~ ("layers" -> layers) ~
      ("writes" -> writesJson(trace)) ~ ("trace" -> trace.render())
  }
}
