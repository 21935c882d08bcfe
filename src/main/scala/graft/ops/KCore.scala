package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly delete every
  * node of degree < k (and its incident edges) until no node changes —
  * the fixpoint is the unique maximal subgraph with minimum degree ≥ k
  * (Seidman 1983, "Network structure and minimum degree"). The classic
  * graph-strength primitive beside triangles/CC/PageRank: the 2-core
  * strips whiskers and tendrils before community or cycle analysis, and
  * higher cores isolate the dense nucleus.
  *
  * Input: one row per UNDIRECTED edge as `(id_a, id_b)`, distinct, no
  * self-loops (id_a ≠ id_b) — the caller dedups, exactly like
  * [[Triangles]]. Output: `(node_id, core_deg)` for every node of the
  * k-core, where core_deg is the node's degree WITHIN the core — an
  * exact integer set, so the fixpoint is DuckDB-oracle-able by
  * unrolling peel rounds as CTEs (any unroll ≥ the actual round count
  * is the identity afterwards, the g8 discipline).
  *
  * Scale shape (the per-round Pregel discipline of g8_pagerank):
  *  - each round is ONE map-side-combined degree aggregate over the
  *    surviving edges plus TWO hash semi-joins keyed on node id — no
  *    cartesian, no per-node adjacency materialization, nothing
  *    driver-side but two counters;
  *  - the surviving edge set is localCheckpoint-staged every round, so
  *    lineage stays one round deep no matter the peel depth (without
  *    staging, round r re-derives rounds 1..r-1 per consumer — the g6
  *    exponential-lineage lesson);
  *  - rounds are bounded by the peeling depth (≤ node count in the
  *    degenerate path-graph case, O(log n) on skewed real graphs); the
  *    `maxRounds` failsafe fails LOUDLY rather than looping — the
  *    Dedup.clusters discipline.
  */
object KCore {

  /** One peel round of the [[Staging.peel]] loop: keep the edges of
    * `cur` whose endpoints both have degree >= k in `cur`, or are in
    * the protected node set `prot` (v). Shared by [[core]],
    * [[coreness]] and [[refreshCore]]. */
  private def peelRound(k: Int, prot: Option[DataFrame])(cur: DataFrame): DataFrame = {
    val deg = cur.select(col("id_a").as("v"))
      .unionByName(cur.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
    val keep = prot.fold(deg)(deg.select(col("v")).unionByName(_).distinct())
    cur
      .join(keep.select(col("v").as("ka")), col("id_a") === col("ka"), "left_semi")
      .join(keep.select(col("v").as("kb")), col("id_b") === col("kb"), "left_semi")
  }

  /** Nodes of the k-core of `edges` with their in-core degrees.
    * `edges`: columns `id_a`, `id_b` (distinct undirected pairs). */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 1, "k_core: k >= 1")
    require(maxRounds >= 1, "k_core: maxRounds >= 1")
    val (cur, _) = Staging.peel(
      Staging.freshCounted(edges.select(col("id_a"), col("id_b"))),
      maxRounds, "k_core")(peelRound(k, None))
    cur.select(col("id_a").as("node_id"))
      .unionByName(cur.select(col("id_b").as("node_id")))
      .groupBy(col("node_id")).agg(count(lit(1)).as("core_deg"))
  }

  /** INCREMENTAL k-core under insert-only edge arrival — the g13/g14
    * standing-state discipline applied to cores: edges only arrive, so
    * degrees only grow and the k-core only GROWS (a standing-core node
    * can never be peeled — its old in-core neighbors all survive with
    * it, mutually). That monotonicity makes the refresh EXACT:
    *  - standing-core nodes are PROTECTED (never deleted);
    *  - edges wholly inside the standing core survive by fiat and are
    *    EXCLUDED from the peel loop — per-round work is proportional
    *    to the ACTIVE region (edges touching a non-core node), not the
    *    graph: on the sf0.1 co-occurrence fixture the core holds ~92%
    *    of nodes, so the loop touches a sliver of the 1.2M edges the
    *    cold peel re-scans every round;
    *  - unprotected nodes peel by the usual degree < k rule (their
    *    edges are all active, so their full degree is visible).
    * The fixpoint is exactly the cold k-core of the merged graph (the
    * k-core is unique; KCoreSpec proves equality differentially).
    * Output: (node_id, core_deg, core_deg_prev) — prev NULL for nodes
    * the batch promoted into the core, so the delta is auditable (the
    * g13 output convention). `standingCore`: (node_id, core_deg) from
    * [[core]] over the pre-batch edges. */
  def refreshCore(standingCore: DataFrame, mergedEdges: DataFrame, k: Int,
      maxRounds: Int = 64): DataFrame = {
    require(k >= 1, "k_core: k >= 1")
    val prot = standingCore.select(col("node_id").as("v")).distinct()
      .localCheckpoint(true)
    // ONE flag-annotate pass splits the edge relation (two equi left
    // joins against the skinny protected set) instead of deriving
    // core-core edges and then anti-joining the full relation against
    // them — the anti join re-shuffled ~all of a 1.2M-pair relation on
    // the composite key; the flags are a projection over one staged
    // relation
    val flagged = mergedEdges.select(col("id_a"), col("id_b"))
      .join(prot.select(col("v").as("id_a"), lit(1).as("fa")), Seq("id_a"), "left")
      .join(prot.select(col("v").as("id_b"), lit(1).as("fb")), Seq("id_b"), "left")
      .localCheckpoint(true)
    val coreE = flagged.filter(col("fa").isNotNull && col("fb").isNotNull)
      .select(col("id_a"), col("id_b"))
    // degree over ACTIVE edges only is the full degree for every
    // unprotected node (all its edges are active); protected nodes
    // survive regardless, so their undercount is harmless
    val (cur, _) = Staging.peel(
      Staging.freshCounted(flagged.filter(col("fa").isNull || col("fb").isNull)
        .select(col("id_a"), col("id_b"))),
      maxRounds, "k_core refresh")(peelRound(k, Some(prot)))
    val coreEdges = coreE.unionByName(cur)
    coreEdges.select(col("id_a").as("node_id"))
      .unionByName(coreEdges.select(col("id_b").as("node_id")))
      .groupBy(col("node_id")).agg(count(lit(1)).as("core_deg"))
      .join(standingCore.select(col("node_id"), col("core_deg").as("core_deg_prev")),
        Seq("node_id"), "left")
      .select(col("node_id"), col("core_deg"), col("core_deg_prev"))
  }

  /** Full coreness decomposition (core number per node) — the
    * degeneracy structure of the graph: `coreness(v)` = the largest k
    * such that v belongs to the k-core (Matula–Beck 1983 smallest-last
    * peeling, expressed level-by-level). Every node of the edge set has
    * coreness >= 1; the level loop ends when some k-core comes up
    * empty, so the output is the COMPLETE decomposition, not a cap.
    *
    * Shape: level k's peel starts from the STAGED (k-1)-core edge set
    * (the (k)-core is a subgraph of it — each level only shrinks the
    * relation, never rescans the input), so total work is the telescoped
    * peel, not levels × full peels. coreness(v) is recovered as the
    * count of levels whose core contains v — a union of skinny staged
    * node sets + one map-side-combined aggregate, the same arithmetic
    * the DuckDB oracle replays (g20). `maxK` is a loud failsafe like
    * `maxRounds`, far above any degeneracy these graphs reach. */
  def coreness(edges: DataFrame, maxK: Int = 64, maxRounds: Int = 64): DataFrame = {
    require(maxK >= 1, "coreness: maxK >= 1")
    def nodesOf(e: DataFrame) =
      e.select(col("id_a").as("v")).unionByName(e.select(col("id_b").as("v")))
        .distinct()
    // level k peels the staged (k-1)-core; `levels` holds the node set
    // of every non-empty core, deepest first (the 1-core is every node
    // with an edge)
    @annotation.tailrec
    def level(k: Int, core: (DataFrame, Long), levels: List[DataFrame]): List[DataFrame] =
      if (core._2 == 0L) levels
      else {
        val withCore = nodesOf(core._1) :: levels
        require(k <= maxK,
          s"coreness: ${k}-core still non-empty past maxK=$maxK (${core._2} edges live)")
        level(k + 1, Staging.peel(core, maxRounds, "k_core")(peelRound(k, None)), withCore)
      }
    val levels = level(2, Staging.freshCounted(edges.select(col("id_a"), col("id_b"))), Nil)
    if (levels.isEmpty)
      edges.sparkSession.emptyDataFrame
        .select(lit(0L).as("node_id"), lit(0L).as("coreness")).limit(0)
    else
      levels.reduce(_ unionByName _)
        .groupBy(col("v")).agg(count(lit(1)).as("coreness"))
        .select(col("v").as("node_id"), col("coreness"))
  }
}
