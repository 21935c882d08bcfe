package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end tail composition: the DSv2 `blocks` source streams blocks
  * in micro-batches, each batch is enriched against a broadcast
  * block-time dim (J1/S7), bucketed (T1-shape), and upserted through the
  * replay-idempotent LWW sink — the reference's whole tail loop
  * (`nft/bin/tail.py:90-204`) as one streaming query. */
class TailPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("block stream -> dim enrich -> bucket agg -> LWW parquet sink") {
    val ckpt = Files.createTempDirectory("tp_ckpt").toString
    val target = Files.createTempDirectory("tp_tbl").toString + "/buckets"

    // block-time dim: block i minted at 1000 + 12*i seconds
    val dim = spark.range(0, 400).select(col("id").as("number"),
      (lit(1000L) + col("id") * 12).as("timestamp"))

    val stream = spark.readStream.format("blocks")
      .option("start", "0").option("maxBlock", "400")
      .option("blocksPerTrigger", "150").option("trailBlocks", "0")
      .load()
      .select(col("number").as("block_number"))

    val enriched = stream.join(broadcast(dim), stream("block_number") === dim("number"))
      .withColumn("bucket", (col("timestamp") / 1000L).cast("long"))

    val q = enriched.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val agg = batch.groupBy("bucket")
          .agg(count(lit(1)).as("n"), max(col("block_number")).as("version"))
        // version column makes replays converge: max block wins per bucket
        Tail.lwwSink(target, Seq("bucket"), Seq("version"))(agg, id)
      }
      .start()
    q.processAllAvailable()
    q.stop()

    val result = spark.read.parquet(target)
    // buckets: ts 1000..5788 -> seconds buckets 1..5
    assert(result.count() === 5)
    val total = result.agg(sum(col("n"))).head().getLong(0)
    // per-bucket counts only reflect the LAST batch that touched each
    // bucket (LWW overwrites, not additive) — bucket boundaries within a
    // batch keep full counts; just assert convergence + version argmax
    val maxV = result.agg(max(col("version"))).head().getLong(0)
    assert(maxV === 399L)
    assert(total > 0)
  }

  test("typed receipts stream -> NFT derivation -> LWW token sink (full crawl tail)") {
    // the COMPLETE reference tail over fetched data: the receipts source
    // streams typed receipts in micro-batches, each epoch explodes logs,
    // derives transfers, folds per-token state, and LWW-upserts — no
    // parquet fixture anywhere in the pipeline
    val ckpt = Files.createTempDirectory("tp2_ckpt").toString
    val target = Files.createTempDirectory("tp2_tbl").toString + "/tokens"
    val stream = spark.readStream.format("receipts")
      .option("start", "0").option("maxBlock", "90")
      .option("blocksPerTrigger", "30").option("trailBlocks", "0")
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val logs = batch.select(explode(col("logs")).as("l")).select(col("l.*"))
        val tokenState = graft.nft.Derive.transfers(logs)
          .groupBy("collection_id", "token_id")
          .agg(max(col("attribute_version")).as("attribute_version"),
            max_by(col("to_"), col("attribute_version")).as("current_owner"),
            count(lit(1)).as("n_events"))
        Tail.lwwSink(target, Seq("collection_id", "token_id"),
          Seq("attribute_version"))(tokenState, id)
      }
      .start()
    q.processAllAvailable()
    q.stop()

    val result = spark.read.parquet(target)
    // one unique token per simulated transaction: sum over [0,90) of n%3
    assert(result.count() === (0L until 90L).map(_ % 3).sum)
    // exact row: block 7's single transfer -> owner addr(2007)
    val t7 = result.filter(col("token_id") === f"${70}%064x").head()
    assert(t7.getAs[String]("current_owner") === f"0x${2007}%040x")
    assert(t7.getAs[String]("collection_id") === f"0x${4000 + 7 % 5}%040x")
  }
}
