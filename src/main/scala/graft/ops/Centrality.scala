package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hop-bounded harmonic centrality from a seed cohort — the
  * closeness-family primitive beside PageRank's eigenvector family:
  * H(v) = Σ over seeds s with 0 < d(s, v) <= maxHop of 1/d(s, v),
  * scored in integer millionths (floor(1e6 / d) per reaching seed) so
  * the value is a pure function of the edge set and DuckDB-oracle-able
  * (Boldi & Vigna 2014, "Axioms for centrality" — harmonic handles
  * disconnected/unreached pairs by contributing zero, which is exactly
  * what a hop bound needs; classic closeness 1/Σd diverges there).
  *
  * The engine is a MULTI-SOURCE LABELED BFS: [[Reachability.hops]]
  * merges seeds into one min-hop frontier, but centrality needs the
  * distance from EVERY seed separately, so the frontier/visited keys
  * are (seed, id) PAIRS ([[pairHops]], also the exact all-pairs
  * harness behind the x6/x7 sketch checks). Per hop: one equi-join of the pair frontier
  * against the edge relation + one anti-join against the visited pair
  * set, frontiers eagerly staged (the g6 lineage lesson, pair-keyed).
  * Work and state are O(seeds × reached) pairs — the seed cohort is
  * the knob (sampled cohorts for estimates, the Eppstein–Wang /
  * HyperBall trade made explicit), never all-pairs.
  */
object Centrality {

  /** The multi-source labeled BFS: (seed, id, hop) for every node within
    * `maxHop` hops of each seed — the min hop from THAT seed, each seed
    * at hop 0 of itself. `edges`: directed (src, dst); `seeds`: (id). */
  def pairHops(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    val first = Staging.freshCounted(
      seeds.select(col("id").cast("long").as("seed"))
        .distinct()
        .select(col("seed"), col("seed").as("id"), lit(0L).as("hop")))
    Staging.frontier(first, first._1, maxHop) { (h, frontier, visited) =>
      edges
        .join(frontier.select(col("seed"), col("id").as("src")), Seq("src"))
        .select(col("seed"), col("dst").as("id")).distinct()
        .join(visited.select(col("seed"), col("id")), Seq("seed", "id"), "left_anti")
        .withColumn("hop", lit(h.toLong))
    }(_.unionByName(_))
  }

  /** (node_id, centrality_ppm, n_seeds_reaching) for every non-seed
    * node within `maxHop` of at least one seed — plus seed nodes when
    * another seed reaches them (self-distance contributes nothing).
    * `edges`: directed (src, dst); `seeds`: (id). */
  def harmonic(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 1, "harmonic: maxHop >= 1")
    // per-seed contribution floor(1e6 / hop) in INTEGER division (the
    // uint256/PageRank discipline: no float ever faces the oracle)
    pairHops(edges, seeds, maxHop).filter(col("hop") >= 1L)
      .groupBy(col("id"))
      .agg(sum(expr("1000000L div hop")).as("centrality_ppm"),
        count(lit(1)).as("n_seeds_reaching"))
      .select(col("id").as("node_id"), col("centrality_ppm"),
        col("n_seeds_reaching"))
  }

  /** Hop-bounded SAMPLED BETWEENNESS (Brandes 2001's dependency
    * accumulation, over a seed cohort instead of all sources —
    * Brandes & Pich 2007's estimator): how much shortest-path traffic
    * from the seeds flows THROUGH each node. Two passes, both plain
    * relational layer DP, both integer:
    *
    * FORWARD — the [[harmonic]] multi-source labeled BFS carrying
    * shortest-path COUNTS: σ(s,v) at hop h is the sum of σ over v's
    * in-neighbors first reached at h−1 (one equi-join + one aggregate
    * + one anti-join per hop, frontiers staged).
    *
    * BACKWARD — per-layer dependency in integer MILLIONTHS, hop H−1
    * down to 1:
    *   δ(s,v) = Σ over DAG edges (v,w), hop(w) = hop(v)+1 of
    *            (σ(s,v) · (10⁶ + δ(s,w))) div σ(s,w)
    * — Brandes' (σ_v/σ_w)·(1+δ_w) with the division floored on the
    * same lattice in both engines, so the statistic is a pure integer
    * function of the edge set (the harmonic/PageRank discipline; an
    * exact rational DP would need big fractions, and an IEEE one
    * wouldn't oracle). Endpoints excluded per Brandes (a seed earns
    * nothing for paths it originates).
    *
    * State is O(seeds × reached) pairs per layer — the cohort is the
    * estimator knob. Returns (node_id, betweenness_ppm,
    * n_seeds_reaching) for every non-seed-role reached node; leaf
    * nodes score 0 (reached, carrying no traffic). */
  def betweenness(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 1, "betweenness: maxHop >= 1")
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val l0 = seeds.select(col("id").cast("long").as("seed")).distinct()
      .select(col("seed"), col("seed").as("id"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    // forward: BFS layers with path counts; each layer staged — the
    // backward pass re-reads every one of them. The seed layer's count
    // is cheap: it reads the staged blocks.
    val (_, layers) = Staging.frontier((l0, l0.count()),
        (l0.select(col("seed"), col("id")), Vector(l0)), maxHop) {
      case (_, layer, (visited, _)) => e
        .join(layer.select(col("seed"), col("id").as("src"), col("sigma")), Seq("src"))
        .groupBy(col("seed"), col("dst").as("id")).agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("seed", "id"), "left_anti")
    } { case ((visited, layers), next) =>
      (visited.unionByName(next.select(col("seed"), col("id"))).localCheckpoint(true),
        layers :+ next)
    }
    // backward: deepest layer carries 0; each shallower layer sums its
    // successors' scaled dependencies
    var deltas = List(layers.last.withColumn("delta", lit(0L)))
    for (hh <- layers.size - 2 to 0 by -1) {
      val succ = deltas.head
      val contrib = layers(hh).as("v")
        .join(e, col("v.id") === col("src"))
        .join(succ.select(col("seed").as("w_seed"), col("id").as("w_id"),
            col("sigma").as("w_sigma"), col("delta").as("w_delta")),
          col("v.seed") === col("w_seed") && col("dst") === col("w_id"))
        .groupBy(col("v.seed").as("seed"), col("v.id").as("id"))
        .agg(sum(expr("(sigma * (1000000L + w_delta)) div w_sigma")).as("dsum"))
      deltas = layers(hh)
        .join(contrib, Seq("seed", "id"), "left")
        .select(col("seed"), col("id"), col("sigma"),
          coalesce(col("dsum"), lit(0L)).as("delta"))
        .localCheckpoint(true) :: deltas
    }
    // hop >= 1 only: Brandes excludes the source endpoint
    deltas.drop(1).map(_.select(col("seed"), col("id"), col("delta")))
      .reduceOption(_.unionByName(_))
      .map(_.groupBy(col("id"))
        .agg(sum(col("delta")).as("betweenness_ppm"),
          count(lit(1)).as("n_seeds_reaching"))
        .select(col("id").as("node_id"), col("betweenness_ppm"),
          col("n_seeds_reaching")))
      .getOrElse(seeds.sparkSession.emptyDataFrame
        .select(lit(0L).as("node_id"), lit(0L).as("betweenness_ppm"),
          lit(0L).as("n_seeds_reaching")).limit(0))
  }
}
