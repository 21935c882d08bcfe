package graft.rpc

import graft.SparkSpec

/** VERDICT r6 #8: opt-in long-poll head provider (`headWaitMs`). With
  * the default back-to-back trigger, offset discovery blocks inside
  * `latestOffset` re-probing the node every `headProbeMs` until a new
  * block exists — so a freshly mined block enters the stream in
  * ~probe-interval time instead of a reference-style 10 s poll
  * interval, WITHOUT spinning empty micro-batches while the chain is
  * idle. Polling stays the default (`headWaitMs` unset = single probe). */
class HeadLongPollSpec extends SparkSpec {

  test("stream picks up a new block without waiting a full poll interval, no empty-batch spin") {
    val stub = new StubRpcServer(chainHeight = 30)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("longpoll_ckpt").toString
      val q = spark.readStream.format("blocks")
        .option("start", "0").option("maxBlock", "100000")
        .option("blocksPerTrigger", "50")
        .option("numPartitions", "2")
        .option("fetcher", classOf[RpcBlockDataFetcher].getName)
        .option("endpoints", stub.url)
        .option("headWaitMs", "4000")   // long-poll budget per planning cycle
        .option("headProbeMs", "25")    // short re-probe interval
        .load()
        .selectExpr("number")
        .writeStream.outputMode("append")
        .format("memory").queryName("longpoll_out")
        .option("checkpointLocation", ckpt)
        .start() // DEFAULT trigger: micro-batches back-to-back
      def sunk(): Long =
        spark.sql("SELECT count(*) FROM longpoll_out").head().getLong(0)
      def awaitSunk(n: Long, timeoutMs: Long): Long = {
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        while (sunk() < n && System.nanoTime() < deadline) Thread.sleep(20)
        sunk()
      }
      // backlog (blocks 0-29) lands promptly — no wait when data exists
      assert(awaitSunk(30, 15000) === 30)

      // chain idle: the stream long-polls instead of spinning. Let it
      // idle through at least one full wait cycle, then mine a block.
      Thread.sleep(1200)
      val batchesBeforeMine = q.recentProgress.length
      val t0 = System.nanoTime()
      stub.height.set(31) // block 30 mined
      assert(awaitSunk(31, 10000) === 31)
      val latencyMs = (System.nanoTime() - t0) / 1000000L
      // picked up within the probe cadence — far below the 4 s wait
      // budget and the reference's 10 s poll interval (generous bound
      // for machine noise)
      assert(latencyMs < 3000, s"block took ${latencyMs}ms to reach the sink")

      // while idle, the planner blocked in latestOffset: the ~1.2 s
      // quiet window produced at most a couple of planning cycles, not
      // an empty-batch spin (back-to-back triggers with a single-probe
      // head would have run dozens)
      val idleBatches = batchesBeforeMine
      assert(idleBatches <= 34, s"$idleBatches batches during idle window = empty-batch spin")
      q.stop() // interrupt ends any in-flight long-poll immediately
    } finally stub.stop()
  }

  test("stop() while the head probe is in flight ends the query cleanly") {
    // the stub's head does not advance, so the stream long-polls; the
    // second pool member accepts the next probe and never answers, so
    // stop() lands inside the probe's round trip, not between probes
    val stub = new StubRpcServer(chainHeight = 5)
    val hung = new HungEndpoint
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("stopprobe_ckpt").toString
      val q = spark.readStream.format("blocks")
        .option("start", "5").option("maxBlock", "100000")
        .option("blocksPerTrigger", "50")
        .option("numPartitions", "1")
        .option("fetcher", classOf[RpcBlockDataFetcher].getName)
        .option("endpoints", s"${hung.url},${stub.url}") // the stub is probed first
        .option("headWaitMs", "60000")
        .option("headProbeMs", "25")
        .load()
        .selectExpr("number")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .start()
      assert(hung.accepted.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the head probe never reached the hung endpoint")
      q.stop()
      assert(q.exception.isEmpty, s"stop() during a head probe failed the query: ${q.exception}")
    } finally { hung.close(); stub.stop() }
  }
}
