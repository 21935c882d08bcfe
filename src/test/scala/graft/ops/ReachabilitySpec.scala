package graft.ops

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hop-bounded BFS and its incremental maintenance: an in-memory BFS
  * differential for the cold tier, and the convergence property the
  * incremental tier's exactness claim rests on — refreshHops over
  * (standing labels, batch edges) equals a cold BFS over the merged
  * graph, on random corpus/batch splits and on hand fixtures for the
  * newly-reachable, hop-shortcut, capped, and unreached-source cases. */
class ReachabilitySpec extends SparkSpec {
  import spark.implicits._

  private def refBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
      maxHop: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (h <- 1 to maxHop) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> h.toLong)
    }
    dist
  }

  private def collectHops(df: DataFrame): Map[Long, Long] =
    df.select(col("id"), col("hop")).as[(Long, Long)].collect().toMap

  private def undirected(seed: Int, n: Int, p: Double): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    (for {
      i <- 0L until n.toLong; j <- i + 1 until n.toLong
      if rnd.nextDouble() < p
    } yield Seq((i, j), (j, i))).flatten
  }

  /** Bounded Bellman-Ford reference: dist = min total weight over
    * paths of at most maxHop edges. */
  private def refSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      maxHop: Int): Map[Long, Long] = {
    var best = seeds.map(_ -> 0L).toMap
    var layer = best
    for (_ <- 1 to maxHop) {
      val next = edges.flatMap { case (s2, d, w) =>
        layer.get(s2).map(sd => d -> (sd + w))
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      layer = next.filter { case (v, c) => best.get(v).forall(c < _) }
      best = best ++ layer
    }
    best
  }

  test("weightedDistances match the bounded Bellman-Ford reference") {
    for (seedN <- Seq(5, 12)) {
      val rnd = new Random(seedN)
      val edges = undirected(seedN, n = 45, p = 0.05)
        .map { case (a, b) => (a, b, rnd.nextInt(9).toLong + 1L) }
      val seeds = Set(0L, 11L, 30L)
      val got = Reachability.weightedDistances(
          edges.toDF("src", "dst", "w"), seeds.toSeq.toDF("id"), maxHop = 3)
        .select(col("id"), col("dist")).as[(Long, Long)].collect().toMap
      assert(got === refSssp(edges, seeds, 3), s"seed $seedN diverged")
    }
  }

  test("weightedDistances: a longer-hop cheaper path wins within the bound") {
    // 0 -> 3 direct costs 10; 0 -> 1 -> 2 -> 3 costs 3. At maxHop 3
    // the relaxation must find the 3-edge path; at maxHop 1 only the
    // direct edge is reachable.
    val e = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L))
    def run(h: Int) = Reachability.weightedDistances(
        e.toDF("src", "dst", "w"), Seq(0L).toDF("id"), maxHop = h)
      .select(col("id"), col("dist")).as[(Long, Long)].collect().toMap
    assert(run(3) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(run(1) === Map(0L -> 0L, 1L -> 1L, 3L -> 10L))
  }

  /** Bounded temporal earliest-arrival reference (layer DP). */
  private def refArrival(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      maxHop: Int): Map[Long, Long] = {
    var arr = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to maxHop) {
      val cands = edges.flatMap { case (s2, d, t) =>
        arr.get(s2).filter(t >= _).map(_ => d -> t)
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      arr = (arr.keySet ++ cands.keySet).map { v =>
        v -> math.min(arr.getOrElse(v, Long.MaxValue),
          cands.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    arr
  }

  test("earliestArrival matches the temporal layer DP") {
    for (seedN <- Seq(6, 14)) {
      val rnd = new Random(seedN)
      val edges = undirected(seedN, n = 45, p = 0.05)
        .map { case (a, b) => (a, b, rnd.nextInt(50).toLong) }
      val seeds = Set(0L, 9L, 22L)
      val got = Reachability.earliestArrival(
          edges.toDF("src", "dst", "t"), seeds.toSeq.toDF("id"), maxHop = 3)
        .select(col("id"), col("arr")).as[(Long, Long)].collect().toMap
      assert(got === refArrival(edges, seeds, 3), s"seed $seedN diverged")
    }
  }

  test("earliestArrival: out-of-order edges carry nothing; in-order chains do") {
    // 0 -[t=5]-> 1 -[t=3]-> 2: the 1->2 edge happened BEFORE influence
    // reached 1 (arrival 5 > 3), so 2 is unreachable; with t=7 it is.
    val blocked = Seq((0L, 1L, 5L), (1L, 2L, 3L))
    def run(e: Seq[(Long, Long, Long)]) = Reachability.earliestArrival(
        e.toDF("src", "dst", "t"), Seq(0L).toDF("id"), maxHop = 3)
      .select(col("id"), col("arr")).as[(Long, Long)].collect().toMap
    assert(run(blocked) === Map(0L -> 0L, 1L -> 5L))
    assert(run(Seq((0L, 1L, 5L), (1L, 2L, 7L))) ===
      Map(0L -> 0L, 1L -> 5L, 2L -> 7L))
    // a later improvement re-opens earlier edges: a cheaper arrival at
    // 1 (direct t=1) makes the t=3 edge traversable after all
    assert(run(blocked :+ (0L, 1L, 1L)) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 3L))
  }

  test("weightedDistances reject non-positive weights loudly") {
    val bad = Seq((1L, 2L, 0L)).toDF("src", "dst", "w")
    val err = intercept[IllegalArgumentException](
      Reachability.weightedDistances(bad, Seq(1L).toDF("id"), maxHop = 2))
    assert(err.getMessage.contains("positive"))
  }

  test("weightedDistances reject NULL weights loudly instead of dropping candidates") {
    val bad = Seq((1L, 2L, Some(4L)), (2L, 3L, Option.empty[Long]))
      .toDF("src", "dst", "w")
    val err = intercept[IllegalArgumentException](
      Reachability.weightedDistances(bad, Seq(1L).toDF("id"), maxHop = 2))
    assert(err.getMessage.contains("positive"))
  }

  test("cold hops match the in-memory BFS") {
    val edges = undirected(seed = 3, n = 50, p = 0.04)
    val seeds = Set(0L, 17L, 33L)
    val got = collectHops(Reachability.hops(
      edges.toDF("src", "dst"), seeds.toSeq.toDF("id"), maxHop = 3))
    assert(got === refBfs(edges, seeds, 3))
  }

  test("refreshHops converges to the cold BFS over the merged graph (random splits)") {
    for (seed <- Seq(11, 23, 47)) {
      val all = undirected(seed, n = 60, p = 0.035)
      // split by pair parity: batch edges are insert-only arrivals
      val corpus = all.filter { case (a, b) => (a + b) % 7 != 0 }
      val batch = all.filter { case (a, b) => (a + b) % 7 == 0 }
      val seeds = Seq(0L, 5L)
      val standing = Reachability.hops(
        corpus.toDF("src", "dst"), seeds.toDF("id"), maxHop = 3)
      val got = Reachability.refreshHops(standing,
        all.toDF("src", "dst"), batch.toDF("src", "dst"), maxHop = 3)
      assert(collectHops(got) === refBfs(all, seeds.toSet, 3), s"seed $seed diverged")
      // hop_prev mirrors the standing labels exactly — every standing
      // node keeps its row (monotone), every new node is NULL
      val prev = got.filter(col("hop_prev").isNotNull)
        .select(col("id"), col("hop_prev")).as[(Long, Long)].collect().toMap
      assert(prev === collectHops(standing))
    }
  }

  test("hand fixture: newly-reachable, hop shortcut, cap, and unreached-source batch edge") {
    // corpus path: 0-1-2-3 (3 at hop 3); node 4 unreached; 5-6 an
    // island pair. batch: (1,4) labels 4 at hop 2; (0,3) shortcuts 3
    // to hop 1; (5,6) already islanded stays unreached (source has no
    // label); (4,7): 7 becomes reachable at hop 3 THROUGH the batch
    // improvement chain; (3,8) offers hop 2 via the shortcut — and 8's
    // neighbor 9 (corpus edge 8-9) lands at hop 3 through relaxation
    // over OLD edges.
    val corpus = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val batch = Seq((1L, 4L), (0L, 3L), (4L, 7L), (3L, 8L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val standing = Reachability.hops(
      corpus.toDF("src", "dst"), Seq(0L).toDF("id"), maxHop = 3)
    assert(collectHops(standing) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    val got = Reachability.refreshHops(standing,
      (corpus ++ batch).toDF("src", "dst"), batch.toDF("src", "dst"), maxHop = 3)
    assert(collectHops(got) === Map(
      0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L,
      4L -> 2L, 7L -> 3L, 8L -> 2L, 9L -> 3L))
    val prevs = got.select(col("id"), col("hop_prev"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(prevs(3L) === Some(3L), "shortcut keeps its old label in hop_prev")
    assert(prevs(4L).isEmpty && prevs(7L).isEmpty, "new nodes have NULL hop_prev")
  }

  test("frontier edges: an empty seed set reaches nothing; maxHop = 0 keeps the seeds only") {
    val all = undirected(seed = 5, n = 20, p = 0.2)
    val corpus = all.filter { case (a, b) => (a + b) % 5 != 0 }
    val batch = all.filter { case (a, b) => (a + b) % 5 == 0 }
    val e = all.toDF("src", "dst")
    val none = Seq.empty[Long].toDF("id")
    val seeds = Seq(0L, 7L).toDF("id")
    val atSeeds = Map(0L -> 0L, 7L -> 0L)
    def labels(df: DataFrame, v: String) =
      df.select(col("id"), col(v)).as[(Long, Long)].collect().toMap
    val w = all.map { case (a, b) => (a, b, 1L + (a + b) % 3) }.toDF("src", "dst", "w")
    val t = all.map { case (a, b) => (a, b, (a * b) % 11) }.toDF("src", "dst", "t")
    for (maxHop <- Seq(0, 3)) {
      assert(labels(Reachability.hops(e, none, maxHop), "hop").isEmpty, s"hops maxHop=$maxHop")
      assert(labels(Reachability.weightedDistances(w, none, maxHop), "dist").isEmpty,
        s"weightedDistances maxHop=$maxHop")
      assert(labels(Reachability.earliestArrival(t, none, maxHop), "arr").isEmpty,
        s"earliestArrival maxHop=$maxHop")
      val standing = Reachability.hops(corpus.toDF("src", "dst"), none, maxHop)
      assert(Reachability.refreshHops(standing, e, batch.toDF("src", "dst"), maxHop)
        .collect().isEmpty, s"refreshHops maxHop=$maxHop")
    }
    assert(labels(Reachability.hops(e, seeds, 0), "hop") === atSeeds)
    assert(labels(Reachability.weightedDistances(w, seeds, 0), "dist") === atSeeds)
    assert(labels(Reachability.earliestArrival(t, seeds, 0), "arr") === atSeeds)
    val standing0 = Reachability.hops(corpus.toDF("src", "dst"), seeds, 0)
    val got0 = Reachability.refreshHops(standing0, e, batch.toDF("src", "dst"), 0)
      .select(col("id"), col("hop"), col("hop_prev")).as[(Long, Long, Long)].collect()
    assert(got0.toSet === Set((0L, 0L, 0L), (7L, 0L, 0L)))
  }
}
