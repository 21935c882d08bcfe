package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The tail's LWW sink, [[Tail.lwwSink]]: the bucket upsert converges to
  * the argmax-by-version row per key, and its bucket-sizing contract
  * holds under a skewed key distribution. */
class LwwSinkSpec extends SparkSpec {
  import spark.implicits._

  private def epoch(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF("key", "payload", "version")

  test("bucket upsert converges to the argmax by version per key") {
    val epochs = Seq(
      epoch(Seq(("k1", "a", "01"), ("k2", "b", "01"), ("k1", "a2", "03"))), // intra-batch dup
      epoch(Seq(("k2", "c", "02"), ("k3", "d", "01"))),
      epoch(Seq(("k2", "c", "02"), ("k3", "d", "01"))), // replay of epoch 2
      epoch(Seq(("k1", "STALE", "02"), ("k4", "e", "01")))) // stale version loses
    val target = java.nio.file.Files.createTempDirectory("lww_b").toString + "/t"
    epochs.zipWithIndex.foreach { case (b, i) =>
      Tail.lwwSink(target, Seq("key"), Seq("version"), 4)(b, i.toLong)
    }
    val stored = spark.read.parquet(target)
    assert(stored.select("key", "payload", "version").collect().map(_.toString).sorted.toSeq ===
      Seq("[k1,a2,03]", "[k2,c,02]", "[k3,d,01]", "[k4,e,01]"))
    // one stored row per key: readers (verify) take the table as-is
    assert(stored.count() === 4L)
  }

  test("bucket-sizing contract under skew: bucket sizes follow key cardinality, not event heat") {
    // 50k events, 80% on ONE key, the rest over 5000 distinct keys
    val hot = Seq.tabulate(40000)(i => ("hotkey", s"p$i", f"$i%08d"))
    val cold = Seq.tabulate(10000)(i => (s"k${i % 5000}", s"q$i", f"$i%08d"))
    val target = java.nio.file.Files.createTempDirectory("lww_sz").toString + "/t"
    val numBuckets = 8
    Tail.lwwSink(target, Seq("key"), Seq("version"), numBuckets)(
      spark.createDataset(hot ++ cold).toDF("key", "payload", "version"), 0L)
    // state is one row per key: 5001 rows from 50k events
    val byDir = spark.read.option("basePath", target).parquet(target)
      .groupBy("__bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDir.values.sum === 5001L)
    // the hot key's 40k events collapsed to ONE stored row, so no bucket
    // is event-inflated: max bucket ~= distinctKeys / numBuckets
    val ideal = 5001.0 / numBuckets
    assert(byDir.values.max <= ideal * 1.5,
      s"bucket sizes ${byDir.values.toSeq.sorted} not key-uniform (ideal $ideal)")
    assert(byDir.size <= numBuckets)
  }
}
