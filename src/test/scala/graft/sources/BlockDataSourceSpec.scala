package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Records every fetched window so a spec can prove WHICH blocks the
  * typed source actually requested (driver == executor under local[*]). */
class WindowLogBlockFetcher extends BlockDataFetcher {
  override def fetchBlocks(lo: Long, hi: Long): Iterator[graft.model.EvmBlockWithTxs] = {
    WindowLogBlockFetcher.windows.add((lo, hi))
    Iterator.range(lo, hi).map(SimulatedBlockDataFetcher.block)
  }
}
object WindowLogBlockFetcher {
  val windows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** Throttles the first N fetch attempts (429-style), then serves — the
  * reference provider that says "slow down" under burst load. */
class ThrottlingBlockFetcher extends BlockDataFetcher {
  override def fetchBlocks(lo: Long, hi: Long): Iterator[graft.model.EvmBlockWithTxs] = {
    if (ThrottlingBlockFetcher.remaining.getAndDecrement() > 0)
      throw new ThrottledException(s"429 for [$lo, $hi)")
    Iterator.range(lo, hi).map(SimulatedBlockDataFetcher.block)
  }
}
object ThrottlingBlockFetcher {
  val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Head-aware simulated chain pinned at a fixed tip NUMBER. */
class FixedHeadFetcher extends BlockDataFetcher with HeadAwareFetcher {
  override def fetchBlocks(lo: Long, hi: Long): Iterator[graft.model.EvmBlockWithTxs] =
    Iterator.range(lo, hi).map(SimulatedBlockDataFetcher.block)
  override def chainHead(): Long = FixedHeadFetcher.head.get()
}
object FixedHeadFetcher {
  val head = new java.util.concurrent.atomic.AtomicLong(119L)
}

/** Mock provider with a response-size cap: any window wider than 10
  * blocks is rejected the way a rate-limited RPC endpoint rejects a
  * too-wide eth_getLogs query. Windows served/rejected are recorded in
  * a static log (driver == executor under local[*]). */
class CappedFetcher extends BlockDataFetcher {
  override def fetchBlocks(lo: Long, hi: Long): Iterator[graft.model.EvmBlockWithTxs] = {
    if (hi - lo > 10) {
      CappedFetcher.rejected.incrementAndGet()
      throw new RangeTooLargeException(s"window [$lo, $hi) exceeds 10 blocks")
    }
    CappedFetcher.served.add(hi - lo)
    Iterator.range(lo, hi).map(SimulatedBlockDataFetcher.block)
  }
}
object CappedFetcher {
  val rejected = new java.util.concurrent.atomic.AtomicInteger(0)
  val served = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}

class BlockDataSourceSpec extends SparkSpec {

  private def blocksDf(maxBlock: Long, opts: Map[String, String] = Map.empty) = {
    val base = spark.read.format("blocks")
      .option("start", "0").option("maxBlock", maxBlock.toString)
      .option("numPartitions", "4")
    opts.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** The typed sources' micro-batch stream over `blocks`, built directly
    * so a spec can drive its offsets without a query. */
  private def stream(start: Long, maxBlock: Long, blocksPerTrigger: Long, trailBlocks: Long,
      numPartitions: Int, fetcher: String = BlockDataFetcher.Simulated) =
    new BlockRangeMicroBatchStream(start, maxBlock, blocksPerTrigger, trailBlocks, numPartitions,
      fetcher, Map.empty, BlockDataSource.Source.readerFactory(fetcher, Map.empty,
        Long.MaxValue, BackoffPolicy(), BlockDataSource.Source.schema))

  test("backoff policy: exponential, capped, overflow-safe, zero-base safe") {
    val p = BackoffPolicy(baseMs = 50, capMs = 5000, maxRetries = 8)
    assert(p.delayMs(0) === 50)
    assert(p.delayMs(3) === 400)
    assert(p.delayMs(7) === 5000)  // 50 << 7 = 6400 caps
    assert(p.delayMs(100) === 5000) // deep retry counts must not wrap negative
    assert(p.delayMs(Int.MaxValue) === 5000)
    assert(BackoffPolicy(baseMs = 0).delayMs(60) === 0) // degenerate base: never sleep
    assert((0 to 100).forall(a => p.delayMs(a) >= 0)) // Thread.sleep precondition
  }

  test("block window math: saturation and negative-delta guard") {
    import org.apache.spark.sql.sources._
    assert(BlockWindow.satAdd(Long.MaxValue, 1L) === Long.MaxValue)
    assert(BlockWindow.satAdd(5L, 0L) === 5L)
    intercept[IllegalArgumentException] { BlockWindow.satAdd(5L, -1L) }
    val n = BlockWindow.narrow(0L, 1000L,
      Array(GreaterThanOrEqual("block_number", 100L), LessThan("block_number", 200L),
        EqualTo("other_col", 5L)), "block_number")
    assert((n.lo, n.hi) === ((100L, 200L)))
    assert(n.supported.length === 2 && n.residual.length === 1)
  }

  test("batch read covers [start, maxBlock) across partitions") {
    val df = spark.read.format("blocks")
      .option("start", "10").option("maxBlock", "110")
      .option("numPartitions", "4").load()
    assert(df.rdd.getNumPartitions === 4)
    val agg = df.agg(count(lit(1)), min(col("number")), max(col("number"))).head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) === ((100L, 10L, 109L)))
  }

  test("a partition count below 1 is refused at planning, naming the option") {
    // 0 would divide by zero splitting the window; a negative count
    // would plan one partition per block
    Seq("0", "-1").foreach { n =>
      val err = intercept[IllegalArgumentException] {
        blocksDf(100, Map("numPartitions" -> n)).count()
      }
      assert(err.getMessage.contains("numPartitions") && err.getMessage.contains(n),
        err.getMessage)
    }
  }

  test("a partition that hits the provider's size cap splits ÷10 and completes") {
    CappedFetcher.rejected.set(0)
    CappedFetcher.served.clear()
    val df = blocksDf(400, Map(
      "numPartitions" -> "2", // 2 partitions x 200 blocks each
      "fetcher" -> classOf[CappedFetcher].getName))
    val agg = df.agg(count(lit(1)), min(col("number")), max(col("number"))).head()
    // completes despite every initial 200-block window being rejected
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) === ((400L, 0L, 399L)))
    // each partition probed 200 (reject), shrank to 20 (reject), then 2
    assert(CappedFetcher.rejected.get() === 4)
    val widths = CappedFetcher.served.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
    assert(widths.nonEmpty && widths.forall(_ <= 10L))
    assert(widths.sum === 400L)
  }

  test("contradictory number predicates plan an empty scan, not a job failure") {
    WindowLogBlockFetcher.windows.clear()
    val none = blocksDf(1000, Map("fetcher" -> classOf[WindowLogBlockFetcher].getName))
      .filter(col("number") === 500 && col("number") === 700)
    assert(none.count() === 0)
    assert(WindowLogBlockFetcher.windows.isEmpty)
  }

  test("streaming honors a pushed number predicate (never drops it)") {
    // If the ScanBuilder consumes the filter but the stream ignored the
    // narrowed window, out-of-range blocks would leak into the sink.
    val ckpt = java.nio.file.Files.createTempDirectory("bd_ckpt_f").toString
    val stream = spark.readStream.format("blocks")
      .option("start", "0").option("maxBlock", "200")
      .option("blocksPerTrigger", "100")
      .load()
      .filter(col("number") >= 150)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("blocks_filtered")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT count(*) n, min(number) mn, max(number) mx FROM blocks_filtered").head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) === ((50L, 150L, 199L)))
  }

  test("head-aware target is INCLUSIVE of the reported tip block") {
    // eth_blockNumber reports the latest block NUMBER; the exclusive
    // stream offset must reach number+1 or the tip is never fetched
    val s = stream(0L, 10000L, 1000L, 0L, 2, classOf[FixedHeadFetcher].getName)
    try {
      assert(s.latestOffset().asInstanceOf[BlockOffset].block === 120L)
      // a lagging replica reporting a LOWER height never moves offsets back
      FixedHeadFetcher.head.set(80L)
      assert(s.latestOffset().asInstanceOf[BlockOffset].block === 120L)
    } finally FixedHeadFetcher.head.set(119L)
  }

  test("batch read inflates typed blocks with nested transactions") {
    val df = blocksDf(100)
    assert(df.count() === 100)
    // schema is the entity's encoder schema — typed fields, nested txs
    assert(df.schema.fieldNames.toSeq ===
      Seq("number", "hash", "parent_hash", "timestamp", "miner", "gas_limit",
        "gas_used", "size", "difficulty", "transactions", "uncles"))
    val b7 = df.filter(col("number") === 7).head()
    val expected = SimulatedBlockDataFetcher.block(7)
    assert(b7.getAs[String]("hash") === expected.hash)
    assert(b7.getAs[String]("parent_hash") === expected.parent_hash)
    assert(b7.getAs[Long]("timestamp") === expected.timestamp)
    assert(b7.getAs[Seq[org.apache.spark.sql.Row]]("transactions").size ===
      expected.transactions.size)
  }

  test("crawl-shaped derivation end-to-end: G1 explode of nested transactions") {
    // the reference's block -> transaction fan-out driven entirely from
    // the fetcher seam: no parquet fixture anywhere in this plan
    val txs = blocksDf(100)
      .select(col("number"), col("timestamp"), explode(col("transactions")).as("tx"))
      .select(col("number"), col("timestamp"),
        col("tx.hash").as("tx_hash"), col("tx.from_"), col("tx.to_"),
        col("tx.value"), col("tx.transaction_index"))
    // sum over [0,100) of n % 3 transactions per block
    assert(txs.count() === (0L until 100L).map(_ % 3).sum)
    // per-block tx ordering and fields survive the explode
    val t = txs.filter(col("number") === 5).orderBy(col("transaction_index")).collect()
    val exp = SimulatedBlockDataFetcher.block(5).transactions
    assert(t.length === exp.length)
    assert(t.map(_.getAs[String]("tx_hash")).toSeq === exp.map(_.hash))
    assert(t.map(_.getAs[String]("from_")).toSeq === exp.map(_.from_))
    // and a downstream aggregation (miner rollup) runs as a plain
    // DataFrame program over the source
    val rollup = blocksDf(100).groupBy(col("miner"))
      .agg(sum(col("gas_used")).as("gas"), count(lit(1)).as("n"))
    assert(rollup.agg(sum(col("n"))).head().getLong(0) === 100L)
  }

  test("number range predicates prune the planned window (filter pushdown)") {
    WindowLogBlockFetcher.windows.clear()
    val df = blocksDf(1000000, Map("fetcher" -> classOf[WindowLogBlockFetcher].getName))
      .filter(col("number") >= 900000 && col("number") < 900040)
    assert(df.count() === 40)
    val fetched = WindowLogBlockFetcher.windows.toArray(Array.empty[(Long, Long)])
    assert(fetched.nonEmpty)
    assert(fetched.forall { case (lo, hi) => lo >= 900000L && hi <= 900040L },
      fetched.mkString(", "))
  }

  test("LIMIT plans only the first n blocks of the filtered window") {
    WindowLogBlockFetcher.windows.clear()
    val df = blocksDf(1000000, Map("fetcher" -> classOf[WindowLogBlockFetcher].getName))
      .filter(col("number") >= 5000).limit(7)
    assert(df.select(col("number")).collect().map(_.getLong(0)).toSeq ===
      (5000L until 5007L))
    val fetched = WindowLogBlockFetcher.windows.toArray(Array.empty[(Long, Long)])
    assert(fetched.forall { case (lo, hi) => lo >= 5000L && hi <= 5007L },
      fetched.mkString(", "))
  }

  test("boundary predicates saturate instead of wrapping (satAdd regression)") {
    // `number <= Long.MaxValue` must plan the FULL window, not wrap
    // negative and plan an empty one
    val full = blocksDf(500).filter(col("number") <= Long.MaxValue)
    assert(full.count() === 500)
    // `number > Long.MaxValue` is an EMPTY window, planned as such
    WindowLogBlockFetcher.windows.clear()
    val none = blocksDf(500, Map("fetcher" -> classOf[WindowLogBlockFetcher].getName))
      .filter(col("number") > Long.MaxValue)
    assert(none.count() === 0)
    assert(WindowLogBlockFetcher.windows.isEmpty)
    // equality at the boundary saturates hi = MaxValue (lo = hi = max)
    assert(blocksDf(500).filter(col("number") === Long.MaxValue).count() === 0)
  }

  test("column pruning reaches the scan: a 2-column projection reads 2 columns") {
    val df = blocksDf(100).select(col("number"), col("timestamp"))
    val scans = df.queryExecution.executedPlan.collectLeaves()
    assert(scans.nonEmpty)
    val scanOutput = scans.head.output.map(_.name).toSet
    assert(scanOutput === Set("number", "timestamp"),
      s"scan reads $scanOutput — pruning did not reach the source")
    assert(df.count() === 100)
  }

  test("throttled fetcher backs off and completes without task failure") {
    // 6 consecutive 429s against maxRetries=8: every partition's first
    // windows throttle, then serve — the read completes, no task retry
    ThrottlingBlockFetcher.remaining.set(6)
    val df = blocksDf(40, Map(
      "fetcher" -> classOf[ThrottlingBlockFetcher].getName,
      "throttleBaseMs" -> "1", "throttleCapMs" -> "4"))
    assert(df.count() === 40)
  }

  test("throttling past maxRetries fails the task loudly (no silent data loss)") {
    ThrottlingBlockFetcher.remaining.set(1000)
    val df = blocksDf(10, Map(
      "fetcher" -> classOf[ThrottlingBlockFetcher].getName,
      "throttleBaseMs" -> "1", "throttleCapMs" -> "2", "throttleMaxRetries" -> "2",
      "numPartitions" -> "1"))
    val err = intercept[org.apache.spark.SparkException] { df.count() }
    assert(err.getMessage.contains("429") ||
      Option(err.getCause).exists(_.getMessage.contains("429")))
    ThrottlingBlockFetcher.remaining.set(0)
  }

  test("restart fast-forwards head past the restored offset (no empty-batch stall)") {
    // a fresh stream instance restoring offset 250 must resume there,
    // not re-advance head from start one trigger at a time: the first
    // post-restart poll plans [250, 350), not an empty [250, 50)
    val s = stream(0L, 600L, 100L, 50L, 2)
    s.deserializeOffset("250")
    assert(s.latestOffset().asInstanceOf[BlockOffset].block === 350L)
    // and the fast-forward is monotone: re-reading an OLD offset during
    // normal processing never moves head backward
    s.deserializeOffset("100")
    assert(s.latestOffset().asInstanceOf[BlockOffset].block === 450L)
  }

  test("micro-batch stream tails typed blocks with trail-blocks lag") {
    val ckpt = java.nio.file.Files.createTempDirectory("bd_ckpt").toString
    val stream = spark.readStream.format("blocks")
      .option("start", "0").option("maxBlock", "300")
      .option("blocksPerTrigger", "100").option("trailBlocks", "50")
      .load()
      .select(col("number"), col("hash"), size(col("transactions")).as("n_tx"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("typed_blocks_out")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      """SELECT count(*) n, min(number) mn, max(number) mx, sum(n_tx) tx
        |FROM typed_blocks_out""".stripMargin).head()
    // head reaches 300; available = 300 - 50 = 250 -> [0, 250)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) === ((250L, 0L, 249L)))
    assert(got.getLong(3) === (0L until 250L).map(_ % 3).sum)
  }

  test("a negative trailBlocks is refused, naming the option, not streamed past maxBlock") {
    // a negative trail would put the available offset ahead of the
    // head: [0, 100) with trailBlocks = -5 used to deliver 105 blocks
    val ckpt = java.nio.file.Files.createTempDirectory("bd_neg_trail").toString
    val q = spark.readStream.format("blocks")
      .option("start", "0").option("maxBlock", "100")
      .option("trailBlocks", "-5")
      .load()
      .select(col("number"))
      .writeStream.format("memory").queryName("neg_trail_out")
      .option("checkpointLocation", ckpt)
      .start()
    val err = try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    } finally q.stop()
    val msg = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")
    assert(msg.contains("trailBlocks") && msg.contains("-5"), msg)
  }
}
