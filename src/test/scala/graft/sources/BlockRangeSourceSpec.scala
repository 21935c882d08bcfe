package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The shared block-range path (`BlockRange.scala`: planning, the
  * adaptive reader, the micro-batch stream) driven through the `blocks`
  * source with the simulated chain, at window sizes and trigger widths
  * the per-source specs do not use. */
class BlockRangeSourceSpec extends SparkSpec {

  test("drive source backs off on throttles and completes (shared reader contract)") {
    ThrottlingBlockFetcher.remaining.set(5)
    val df = spark.read.format("blocks")
      .option("start", "0").option("maxBlock", "100")
      .option("fetcher", classOf[ThrottlingBlockFetcher].getName)
      .option("throttleBaseMs", "1").option("throttleCapMs", "4")
      .load()
    assert(df.count() === 100)
  }

  test("LIMIT plans only the first n blocks of the filtered window") {
    WindowLogBlockFetcher.windows.clear()
    val df = spark.read.format("blocks")
      .option("start", "0").option("maxBlock", "100000")
      .option("fetcher", classOf[WindowLogBlockFetcher].getName)
      .load()
      .filter(col("number") >= 5000)
      .limit(10)
    assert(df.select(col("number")).collect().map(_.getLong(0)).toSeq === (5000L until 5010L))
    val fetched = WindowLogBlockFetcher.windows.toArray(Array.empty[(Long, Long)])
    assert(fetched.forall { case (lo, hi) => lo >= 5000L && hi <= 5010L },
      fetched.mkString(", "))
  }

  test("drive stream restart fast-forwards head past the restored offset") {
    val fetcher = BlockDataFetcher.Simulated
    val s = new BlockRangeMicroBatchStream(0L, 600L, 100L, 50L, 2, fetcher, Map.empty,
      BlockDataSource.Source.readerFactory(fetcher, Map.empty, Long.MaxValue, BackoffPolicy(),
        BlockDataSource.Source.schema))
    s.deserializeOffset("250")
    assert(s.latestOffset().asInstanceOf[BlockOffset].block === 350L)
  }

  test("a blocksPerTrigger below 1 is refused: the head would never leave start") {
    val fetcher = BlockDataFetcher.Simulated
    for (width <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException] {
        new BlockRangeMicroBatchStream(0L, 600L, width, 0L, 2, fetcher, Map.empty,
          BlockDataSource.Source.readerFactory(fetcher, Map.empty, Long.MaxValue,
            BackoffPolicy(), BlockDataSource.Source.schema))
      }
      assert(e.getMessage.contains(s"blocksPerTrigger must be at least 1, got $width"),
        e.getMessage)
    }
  }

  test("micro-batch stream advances per poll and honors trailBlocks") {
    val ckpt = java.nio.file.Files.createTempDirectory("br_ckpt").toString
    val stream = spark.readStream.format("blocks")
      .option("start", "0").option("maxBlock", "1000")
      .option("blocksPerTrigger", "250").option("trailBlocks", "100")
      .load()
      .select(col("number"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("blocks_out")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT count(*) n, min(number) mn, max(number) mx FROM blocks_out").head()
    // head reaches 1000; available = head - trail = 900 -> [0, 900)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) === ((900L, 0L, 899L)))
  }
}
