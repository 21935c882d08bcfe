package graft.ops

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Harmonic centrality via multi-source labeled BFS: in-JVM
  * differential on random graphs and seed samples, hand fixtures where
  * the distances are known, seed/self handling, and the hop bound. */
class CentralitySpec extends SparkSpec {
  import spark.implicits._

  /** Reference: independent BFS per seed, sum floor(1e6 / d) over
    * reaching seeds with 0 < d <= maxHop. */
  private def ref(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHop: Int): Map[Long, (Long, Long)] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for (s <- seeds.distinct) {
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = Seq(s)
      for (h <- 1 to maxHop) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = h)
      }
      dist.foreach { case (v, d) =>
        if (d >= 1) {
          val (c, n) = acc.getOrElse(v, (0L, 0L))
          acc(v) = (c + 1000000L / d, n + 1)
        }
      }
    }
    acc.toMap
  }

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHop: Int): Map[Long, (Long, Long)] =
    Centrality.harmonic(edges.toDF("src", "dst"), seeds.toDF("id"), maxHop)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("matches the per-seed BFS reference on random graphs") {
    for (seed <- Seq(11, 31); maxHop <- Seq(2, 3)) {
      val rnd = new Random(seed)
      val edges = (for {
        i <- 0L until 40L; j <- i + 1 until 40L if rnd.nextDouble() < 0.06
      } yield Seq((i, j), (j, i))).flatten
      val seeds = (0L until 40L).filter(_ % 5 == 0)
      assert(run(edges, seeds, maxHop) === ref(edges, seeds, maxHop),
        s"seed=$seed maxHop=$maxHop")
    }
  }

  test("path graph: contributions are exact integer 1e6/d; hop bound cuts") {
    // 0 -> 1 -> 2 -> 3 -> 4 (directed chain), seed {0}
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    assert(run(chain, Seq(0L), maxHop = 3) ===
      Map(1L -> (1000000L, 1L), 2L -> (500000L, 1L), 3L -> (333333L, 1L)))
    // two seeds both reaching node 2: contributions add
    val y = Seq((0L, 2L), (1L, 2L))
    assert(run(y, Seq(0L, 1L), maxHop = 2) === Map(2L -> (2000000L, 2L)))
  }

  test("self-distance contributes nothing; seeds score only via other seeds") {
    // 0 <-> 1, both seeds: each reaches the other at hop 1
    val e = Seq((0L, 1L), (1L, 0L))
    assert(run(e, Seq(0L, 1L), maxHop = 2) ===
      Map(0L -> (1000000L, 1L), 1L -> (1000000L, 1L)))
    // absent seed (no edges) scores nothing and breaks nothing
    assert(run(e, Seq(0L, 1L, 99L), maxHop = 2) ===
      Map(0L -> (1000000L, 1L), 1L -> (1000000L, 1L)))
  }

  /** Reference Brandes on the same integer-millionths lattice:
    * per-seed BFS with path counts, then the layered dependency
    * accumulation with the SAME floored division. */
  private def refBetween(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHop: Int): Map[Long, (Long, Long)] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for (s <- seeds.distinct) {
      val hop = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Seq(s)
      for (h <- 1 to maxHop) {
        val next = scala.collection.mutable.Map.empty[Long, Long]
        for (v <- frontier; x <- adj.getOrElse(v, Nil) if !hop.contains(x))
          next(x) = next.getOrElse(x, 0L) + sigma(v)
        next.foreach { case (x, sg) => hop(x) = h; sigma(x) = sg }
        frontier = next.keys.toSeq
      }
      val delta = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (h <- hop.values.max - 1 to 0 by -1;
           v <- hop.collect { case (n, d) if d == h => n }) {
        var d = 0L
        for (x <- adj.getOrElse(v, Nil) if hop.get(x).contains(h + 1))
          d += sigma(v) * (1000000L + delta(x)) / sigma(x)
        delta(v) = d
      }
      hop.foreach { case (v, d) =>
        if (d >= 1) {
          val (c, n) = acc.getOrElse(v, (0L, 0L))
          acc(v) = (c + delta(v), n + 1)
        }
      }
    }
    acc.toMap
  }

  private def runBetween(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHop: Int): Map[Long, (Long, Long)] =
    Centrality.betweenness(edges.toDF("src", "dst"), seeds.toDF("id"), maxHop)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("betweenness matches the layered Brandes reference on random graphs") {
    for (seed <- Seq(13, 43); maxHop <- Seq(2, 3)) {
      val rnd = new Random(seed)
      val edges = (for {
        i <- 0L until 40L; j <- i + 1 until 40L if rnd.nextDouble() < 0.06
      } yield Seq((i, j), (j, i))).flatten
      val seeds = (0L until 40L).filter(_ % 5 == 0)
      assert(runBetween(edges, seeds, maxHop) === refBetween(edges, seeds, maxHop),
        s"seed=$seed maxHop=$maxHop")
    }
  }

  test("betweenness hand fixtures: chain traffic and diamond path splitting") {
    // chain 0 -> 1 -> 2 -> 3, seed 0: delta(2) = 1e6 (carries 3),
    // delta(1) = 2e6 (carries 2 and 3); the endpoint 3 scores 0
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    assert(runBetween(chain, Seq(0L), maxHop = 3) ===
      Map(1L -> (2000000L, 1L), 2L -> (1000000L, 1L), 3L -> (0L, 1L)))
    // diamond 0 -> {1,2} -> 3: two shortest paths to 3 (sigma = 2),
    // each middle node carries half — 1e6 * 1/2 floored
    val diamond = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L))
    assert(runBetween(diamond, Seq(0L), maxHop = 2) ===
      Map(1L -> (500000L, 1L), 2L -> (500000L, 1L), 3L -> (0L, 1L)))
  }

  test("an empty seed set reaches nothing: harmonic and betweenness return empty relations") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val none = Seq.empty[Long].toDF("id")
    val h = Centrality.harmonic(e, none, maxHop = 3)
    assert(h.columns.toSeq === Seq("node_id", "centrality_ppm", "n_seeds_reaching"))
    assert(h.collect().isEmpty)
    val b = Centrality.betweenness(e, none, maxHop = 3)
    assert(b.columns.toSeq === Seq("node_id", "betweenness_ppm", "n_seeds_reaching"))
    assert(b.collect().isEmpty)
  }
}
