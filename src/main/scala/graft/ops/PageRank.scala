package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank — the shared recurrence behind
  * `g8_pagerank` (cold start) and `g13_pagerank_incremental` (warm
  * start over a standing rank table), plus the streaming rank ledger
  * ([[graft.streaming.EdgeLedger.rank]]).
  *
  * The recurrence (d = 0.85, base 0.15, SCALE = 10⁶):
  *   pr'(v) = 150000 + Σ over in-neighbors u of (pr(u)·85) div (100·deg(u))
  * Float PageRank sums doubles in partition order — engine- and
  * partitioning-divergent — so ranks are milli-millionth integers and
  * every step is integer multiply/floor-divide: order-independent,
  * partitioning-invariant, and replayable hash-exact in DuckDB's `//`.
  * Truncation loses < 1 unit per (edge, round) — relative error < 1e-4
  * at SCALE = 1e6, identical on both engines.
  *
  * Scale shape (the Pregel per-iteration discipline, g8's comment
  * carried here): the degree-annotated edge list is staged ONCE
  * (localCheckpoint — every iteration re-reads it), and each
  * iteration's skinny rank relation is staged before the next, so plan
  * depth and recovery cost stay one iteration deep regardless of the
  * iteration count. Per iteration: one equi-join keyed on the node id
  * + one map-side-combined sum — no broadcast dependence
  * (NoBroadcastPlanSpec), no driver-side state beyond the loop
  * counter.
  *
  * Warm start is what makes the operator INCREMENTAL: when a batch of
  * edges lands against a standing graph whose ranks are at rest,
  * re-running the full cold iteration wastes the converged state —
  * ranks seeded from the standing table need only a few refinement
  * rounds to absorb the perturbation (the power iteration contracts
  * toward the new fixpoint at rate d from ANY start, so a warm start
  * |old − new| close begins most of the way there). New nodes enter at
  * the cold initial value. The warm-start output is a deterministic
  * function of (standing ranks, merged edges, rounds) — exactly
  * replayable, so the incremental tier is DuckDB-oracle-able like
  * g11/j13.
  */
object PageRank {

  val InitRank = 1000000L
  val BaseRank = 150000L

  /** Edges annotated with their source's out-degree, eagerly staged.
    * r17 audit note: a pre-partition-by-src staging variant was probed
    * and REJECTED — the per-step plan already broadcasts the skinny
    * rank side (the edge relation is never re-shuffled per round; one
    * Exchange per step, on the post-partial-agg contribs only), and
    * `localCheckpoint` drops partitioning metadata
    * (UnknownPartitioning in the staged leaf), so the extra exchange
    * at staging time buys nothing downstream.
    * `edges`: columns `src`, `dst` (directed; callers union both
    * directions for an undirected walk). */
  def withDegrees(edges: DataFrame): DataFrame =
    edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint(true)

  /** One power-iteration step over a degree-annotated edge relation;
    * the returned skinny (id, pr) relation is eagerly staged. Nodes
    * with no in-edges leave the rank relation (inner join) — callers
    * on undirected (bidirectional) graphs never lose nodes. */
  def step(withDeg: DataFrame, ranks: DataFrame): DataFrame =
    withDeg.join(ranks, col("src") === col("id"))
      .select(col("dst"), expr("(pr * 85) div (100 * deg)").as("contrib"))
      .groupBy(col("dst")).agg(sum(col("contrib")).as("cs"))
      .select(col("dst").as("id"), (lit(BaseRank) + col("cs")).as("pr"))
      .localCheckpoint(true)

  def iterate(withDeg: DataFrame, ranks0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "pagerank: rounds >= 0")
    var ranks = ranks0
    for (_ <- 1 to rounds) ranks = step(withDeg, ranks)
    ranks
  }

  /** Cold start: every node at [[InitRank]], `rounds` iterations. */
  def cold(edges: DataFrame, rounds: Int): DataFrame = {
    val withDeg = withDegrees(edges)
    val init = withDeg.select(col("src").as("id")).distinct()
      .withColumn("pr", lit(InitRank)).localCheckpoint(true)
    iterate(withDeg, init, rounds)
  }

  /** Personalized PageRank (Page et al. 1999 §6; the recommendation /
    * locality-ranking variant): teleport mass goes ONLY to the seed
    * set — base = [[BaseRank]]·[v ∈ S], init = [[InitRank]]·[v ∈ S] —
    * so rank measures proximity to the seeds rather than global
    * centrality. Same integer recurrence, same per-iteration staging;
    * the seed membership rides as one skinny staged relation joined
    * after each aggregate (equi, broadcast-friendly but not
    * broadcast-dependent). Non-seed nodes relay mass with zero base;
    * on a bidirectional graph every node keeps its row (the cold-start
    * convention). */
  def personalized(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val withDeg = withDegrees(edges)
    val seedIds = seeds.select(col("id")).distinct()
      .withColumn("s", lit(1L)).localCheckpoint(true)
    var ranks = withDeg.select(col("src").as("id")).distinct()
      .join(seedIds, Seq("id"), "left")
      .select(col("id"), (coalesce(col("s"), lit(0L)) * InitRank).as("pr"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      ranks = withDeg.join(ranks, col("src") === col("id"))
        .select(col("dst"), expr("(pr * 85) div (100 * deg)").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("cs"))
        .join(seedIds.withColumnRenamed("id", "dst"), Seq("dst"), "left")
        .select(col("dst").as("id"),
          (coalesce(col("s"), lit(0L)) * BaseRank + col("cs")).as("pr"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** WEIGHTED PageRank (Xing & Ghorbani 2004's edge-weighted walk, on
    * the same integer lattice): mass splits over out-edges in
    * proportion to edge weight rather than uniformly —
    *   pr'(v) = 150000 + Σ over in-edges (u,v,w) of
    *            (pr(u)·85·w) div (100·W(u)),  W(u) = Σ out-weights.
    * The unweighted recurrence is the w ≡ 1 special case. Weights must
    * be POSITIVE integers (enforced loudly — a zero/negative weight
    * silently leaks or inverts mass); headroom: pr ≤ mass ≈ n·10⁶ and
    * the per-edge product pr·85·w stays well under 2⁶³ for any
    * realistic (n, w) — e.g. 10⁹ nodes × weight 10⁴ ≈ 8.5e17.
    * Same per-iteration staging discipline as [[step]].
    * `edges`: columns `src`, `dst`, `w`. */
  def weighted(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "pagerank: rounds >= 0")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long"))
    // isNull is part of the guard, not redundancy: `w <= 0` is NULL
    // (not true) for a NULL weight, so a null-only filter would pass
    // and the null edge would silently drop its contribution downstream
    require(e.filter(col("w").isNull || col("w") <= 0L).isEmpty,
      "weighted pagerank: edge weights must be positive and non-null")
    val withW = e
      .join(e.groupBy(col("src")).agg(sum(col("w")).as("tw")), "src")
      .localCheckpoint(true)
    var ranks = withW.select(col("src").as("id")).distinct()
      .withColumn("pr", lit(InitRank)).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      ranks = withW.join(ranks, col("src") === col("id"))
        .select(col("dst"), expr("(pr * 85 * w) div (100 * tw)").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("cs"))
        .select(col("dst").as("id"), (lit(BaseRank) + col("cs")).as("pr"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Warm start: ranks seeded from `standingRanks` (columns `id`,
    * `pr`) where the node is known, [[InitRank]] for nodes new to the
    * merged graph, then `rounds` refinement iterations over
    * `mergedEdges`. Nodes that left the graph leave the output (rank
    * relations track the edge set, the cold-start convention). */
  def warmStart(standingRanks: DataFrame, mergedEdges: DataFrame,
      rounds: Int): DataFrame = {
    val withDeg = withDegrees(mergedEdges)
    val init = withDeg.select(col("src").as("id")).distinct()
      .join(standingRanks.select(col("id"), col("pr").as("standing_pr")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("standing_pr"), lit(InitRank)).as("pr"))
      .localCheckpoint(true)
    iterate(withDeg, init, rounds)
  }
}
