package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hop-bounded reachability (min-hop BFS) and its INCREMENTAL
  * maintenance under edge insertion — the k-hop counterpart of the
  * g11/g13 standing-state tiers: reachability is MONOTONE under
  * insert-only edge arrival (a new edge can only shrink hop
  * distances, never grow them), so the refreshed labels are exactly
  * recomputable from (standing labels, batch edges) with work
  * proportional to the batch's affected neighborhood — the standing
  * graph's BFS is never re-run.
  *
  * [[hops]] — the cold tier, g6's frontier-expansion shape factored
  * into an operator: per hop one equi-join of the skinny frontier
  * against the edge relation + one anti-join against the visited set;
  * frontiers are eagerly staged (the g6 lineage lesson: each hop's
  * definition nests the previous one's — unstaged, the final plan
  * re-derives every earlier hop inside every later one, 2^h scans).
  *
  * [[refreshHops]] — the incremental tier: batch edges seed candidate
  * improvements from already-labeled sources, then improvements relax
  * through the MERGED edge relation Dijkstra-style — a node re-enters
  * the frontier only when its best-known hop strictly drops, so
  * propagation touches exactly the improved region. An improvement
  * chain lengthens its hop value by 1 per round and values live in
  * [1, maxHop], so maxHop relaxation rounds are always enough — the
  * loop is bounded, no fixpoint detection needed. Correctness is
  * differential (ReachabilitySpec): refreshed labels equal a cold
  * [[hops]] run over the merged graph, on random graphs and on hand
  * fixtures for the newly-reachable / hop-shortcut / capped cases.
  *
  * Both take DIRECTED (src, dst) edges — callers union both
  * directions for undirected walks (the PageRank convention).
  */
object Reachability {

  /** Min-hop labels for every node within `maxHop` hops of `seeds`.
    * `edges`: (src, dst); `seeds`: (id). Returns (id, hop) with hop in
    * [0, maxHop] — one row per reachable node, seeds at 0. */
  def hops(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 0, "reachability: maxHop >= 0")
    // the visited set is a UNION of already-staged leaves, so it needs
    // no checkpoint job of its own
    val first = Staging.freshCounted(
      seeds.select(col("id")).distinct().withColumn("hop", lit(0L)))
    Staging.frontier(first, first._1, maxHop) { (h, frontier, visited) =>
      edges
        .join(frontier.select(col("id").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("hop", lit(h.toLong))
    }(_.unionByName(_))
  }

  /** The strict-improvement probe of the improvement frontiers: per
    * node `key` of `offers`, the min `cand`, kept where it beats the
    * best known value (`unreached` where none). `best`: (id, <value>).
    * Returns (id, <value>). */
  private def improved(offers: DataFrame, key: String, cand: Column,
      best: DataFrame, value: String, unreached: Long): DataFrame = offers
    .groupBy(col(key)).agg(min(cand).as("cand"))
    .join(best.select(col("id").as(key), col(value).as("known")), Seq(key), "left")
    .filter(col("cand") < coalesce(col("known"), lit(unreached)))
    .select(col(key).as("id"), col("cand").as(value))

  /** best ∪ improvements, min per node. */
  private def minMerge(value: String)(best: DataFrame, f: DataFrame): DataFrame =
    best.unionByName(f).groupBy(col("id")).agg(min(col(value)).as(value))

  /** Hop-bounded WEIGHTED shortest distances (SSSP) from `seeds`:
    * dist(v) = min total weight over walks of at most `maxHop` edges
    * (positive weights ⇒ the min is attained by a simple path, so
    * "walks" costs nothing and needs no visited set). The engine is
    * the [[refreshHops]] improvement frontier, not the layer DP: per
    * round one equi-join of the CURRENT IMPROVEMENTS against the edge
    * relation + one map-side-combined min + one strict-improvement
    * probe against the best-known table — a node re-enters the
    * frontier only when its distance drops, so late rounds touch the
    * shrinking improved region, not every reached node (the DP
    * recomputes full node-sized layers every round). A candidate
    * pruned as not-better can never seed a better extension: its
    * extensions cost >= the known distance's own extensions, already
    * offered the round the known value landed. Exactly maxHop rounds
    * bound the loop (an improvement chain lengthens one edge per
    * round); the DuckDB oracle replays the equivalent layer DP.
    * Positive integer weights enforced loudly ([[PageRank.weighted]]'s
    * rule — a zero/negative weight breaks the pruning argument).
    * `edges`: (src, dst, w); returns (id, dist), seeds at 0. */
  def weightedDistances(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 0, "reachability: maxHop >= 0")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .localCheckpoint(true)
    // NULL weights must hit the require too — `w <= 0` is NULL for
    // them, so without isNull they'd pass the guard and silently drop
    // relaxation candidates instead of failing loudly
    require(e.filter(col("w").isNull || col("w") <= 0L).isEmpty,
      "weighted distances: edge weights must be positive and non-null")
    val first = Staging.freshCounted(
      seeds.select(col("id").cast("long").as("id")).distinct()
        .withColumn("dist", lit(0L)))
    Staging.frontier(first, first._1, maxHop) { (_, frontier, best) =>
      improved(e.join(frontier.select(col("id").as("src"), col("dist").as("sdist")), Seq("src")),
        "dst", col("sdist") + col("w"), best, "dist", Long.MaxValue)
    }(minMerge("dist"))
  }

  /** Hop-bounded TEMPORAL earliest-arrival reachability (Wu et al.
    * 2014, "Path problems in temporal graphs"): edges carry a
    * timestamp and a path must be time-respecting — edge (u, v, t) is
    * traversable only when t >= arrival(u) — so arrival(v) = the
    * earliest moment influence starting at the seeds (arrival 0) can
    * reach v through chronologically ordered events, within `maxHop`
    * edges. The primitive static reachability gets WRONG on event
    * data: a static path through edges that happened in the wrong
    * order claims influence that never flowed.
    *
    * Engine: the [[weightedDistances]] improvement frontier — per
    * round the current improvements equi-join the edge relation on the
    * node id with `t >= arrival` as a residual (the j6 band shape),
    * one map-side min, one strict-improvement probe. An improved
    * (lower) arrival only LOOSENS the residual, so improvements-only
    * candidate generation stays complete (the weightedDistances
    * argument, with monotone traversability on top). The oracle
    * replays the equivalent min-merged layer DP.
    * `edges`: (src, dst, t); returns (id, arr), seeds at 0. */
  def earliestArrival(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 0, "reachability: maxHop >= 0")
    val e = edges.select(col("src"), col("dst"), col("t").cast("long"))
      .localCheckpoint(true)
    val first = Staging.freshCounted(
      seeds.select(col("id").cast("long").as("id")).distinct()
        .withColumn("arr", lit(0L)))
    Staging.frontier(first, first._1, maxHop) { (_, frontier, best) =>
      improved(e
        .join(frontier.select(col("id").as("src"), col("arr").as("sarr")), Seq("src"))
        .filter(col("t") >= col("sarr")),
        "dst", col("t"), best, "arr", Long.MaxValue)
    }(minMerge("arr"))
  }

  /** Refreshed min-hop labels after `batchEdges` land on the graph
    * whose labels are `standing` (id, hop). `mergedEdges` is the full
    * post-batch edge relation (standing ∪ batch — the relaxation needs
    * it: an improvement propagates through OLD edges too). Returns the
    * complete refreshed table (id, hop, hop_prev) — hop_prev NULL for
    * newly-reachable nodes, so the delta is auditable in place (the
    * g13 output convention). */
  def refreshHops(standing: DataFrame, mergedEdges: DataFrame,
      batchEdges: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 0, "reachability: maxHop >= 0")
    val unreached = maxHop.toLong + 1L
    def offers(e: DataFrame, from: DataFrame): DataFrame = e
      .join(from.select(col("id").as("src"), col("hop").as("shop")), Seq("src"))
      .select(col("dst").as("id"), (col("shop") + 1L).as("cand"))
      .filter(col("cand") <= maxHop.toLong)
    // only the frontiers are checkpointed; the best-known relation
    // nests at most maxHop union/min layers over staged leaves
    // (standing + each round's frontier) — bounded, skinny, and
    // cheaper than paying a checkpoint barrier per round
    val standingHops = standing.select(col("id"), col("hop"))
    // candidate improvements seeded by the batch edges alone: a batch
    // edge from a labeled source offers src.hop + 1 to its target
    val first = Staging.freshCounted(improved(
      offers(batchEdges, standingHops), "id", col("cand"), standingHops, "hop", unreached))
    // relax through the merged graph; value-k improvements only spawn
    // value-(k+1) ones, values live in [1, maxHop] -> maxHop rounds.
    // The best-known labels start as min(standing ∪ first frontier),
    // the labels round 1 improves on.
    Staging.frontier(first, minMerge("hop")(standingHops, first._1), maxHop) {
      (_, frontier, best) =>
        improved(offers(mergedEdges, frontier), "id", col("cand"), best, "hop", unreached)
    }(minMerge("hop"))
      .join(standing.select(col("id"), col("hop").as("hop_prev")), Seq("id"), "left")
      .select(col("id"), col("hop"), col("hop_prev"))
  }
}
