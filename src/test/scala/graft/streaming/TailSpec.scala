package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** The tail's LWW sink driven batch by batch: each call is one
  * micro-batch epoch, replays included. */
class TailSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch LWW sink converges under batch replay") {
    val target = Files.createTempDirectory("lww_sink").toString + "/table"
    val b1 = Seq(("k1", 1, "a"), ("k2", 1, "b")).toDF("key", "v", "payload")
    val b2 = Seq(("k1", 2, "a2")).toDF("key", "v", "payload")
    val sink = Tail.lwwSink(target, Seq("key"), Seq("v")) _
    sink(b1, 0L)
    sink(b2, 1L)
    sink(b2, 1L) // replayed micro-batch (task retry semantics)
    val got = spark.read.parquet(target).collect()
      .map(r => r.getAs[String]("key") -> (r.getAs[Int]("v"), r.getAs[String]("payload"))).toMap
    assert(got === Map("k1" -> ((2, "a2")), "k2" -> ((1, "b"))))
  }

  test("LWW sink rewrites only the buckets a micro-batch touches") {
    import java.nio.file.{Files => JFiles, Paths}
    val target = Files.createTempDirectory("lww_buckets").toString + "/table"
    val b1 = Seq(("k1", 1, "a"), ("k2", 1, "b")).toDF("key", "v", "payload")
    val b2 = Seq(("k1", 2, "a2")).toDF("key", "v", "payload")
    // buckets are a pure hash of the key, so this is deterministic
    val bucketOf = Map(
      "k1" -> b1.filter($"key" === "k1").select(Tail.bucketExpr(Seq("key"), 32)).head().getInt(0),
      "k2" -> b1.filter($"key" === "k2").select(Tail.bucketExpr(Seq("key"), 32)).head().getInt(0))
    assert(bucketOf("k1") !== bucketOf("k2")) // distinct dirs for the assertion below
    val sink = Tail.lwwSink(target, Seq("key"), Seq("v")) _
    sink(b1, 0L)
    def dirState(b: Int): Seq[(String, Long)] = {
      val d = Paths.get(target, s"__bucket=$b")
      JFiles.list(d).toArray.map(_.toString).sorted.toSeq
        .map(p => p -> JFiles.getLastModifiedTime(Paths.get(p)).toMillis)
    }
    val k2DirBefore = dirState(bucketOf("k2"))
    val k1DirBefore = dirState(bucketOf("k1"))
    Thread.sleep(1100) // mtime granularity
    sink(b2, 1L) // touches only k1's bucket
    assert(dirState(bucketOf("k2")) === k2DirBefore) // untouched bucket: same files, same mtimes
    assert(dirState(bucketOf("k1")) !== k1DirBefore) // touched bucket rewritten
    val got = spark.read.parquet(target).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Int]("v")).toMap
    assert(got === Map("k1" -> 2, "k2" -> 1))
  }
}
