package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-node triangle counting by degree-ordered edge orientation — the
  * classic O(m^1.5) algorithm (cf. the MapReduce formulation in Suri &
  * Vassilvitskii, WWW'11), expressed as equi-joins.
  *
  * Why orientation matters at 100 TB: naive wedge enumeration pivots
  * on EVERY vertex, costing Σ deg(v)² — a single celebrity vertex with
  * degree 10⁷ alone contributes 10¹⁴ wedges. Orienting each edge from
  * its lower-(degree, id) endpoint to its higher one caps every
  * vertex's OUT-degree at O(√m), so closure work is bounded by
  * Σ outdeg(v)² ≤ m^1.5 regardless of skew — the hot vertex becomes
  * everyone else's out-neighbor instead of the pivot.
  *
  * Mechanics: rank rk(v) = deg(v)·2³² + v is a single sortable long
  * (degree < 2³¹, ids < 2³²), so "lower endpoint" is one comparison,
  * and in the oriented DAG every triangle has exactly one corner with
  * both out-edges (its rk-min node) — so for each oriented edge
  * (u → v), the triangles it closes as the u,v pair are exactly
  * N⁺(u) ∩ N⁺(v), each found once.
  *
  * Two physical forms, chosen by staged edge count:
  *  - ≤ `broadcastEdgeLimit`: adjacency-intersection — out-neighbor
  *    lists aggregate per node (total size = m, same as the edge
  *    list, so broadcastable whenever the edges are) and broadcast-
  *    join onto the edge stream; each edge row computes
  *    `array_intersect(N⁺(u), N⁺(v))` inline. No wedge rows ever
  *    materialize and nothing shuffles between edge construction and
  *    the final node agg (measured 4.6 s → 1.4 s warm at sf0.1 vs the
  *    row-per-wedge form it replaced).
  *  - above the limit: the row-per-wedge equi-join pipeline (wedge
  *    self-join on src, closure probe on (v1, v2)) — hash-partitioned
  *    equi-joins only, never a cartesian; at that scale the wedge
  *    shuffle is the honest cost and per-partition arrays would blow
  *    executor memory instead.
  */
object Triangles {

  /** (node, n_tri) for every node in ≥ 1 triangle, over an undirected
    * simple edge list (id_a < id_b, distinct, no self-loops —
    * violations are the caller's to clean, as in Dedup CC). */
  def perNodeCounts(edges: DataFrame,
      broadcastEdgeLimit: Long = 4L << 20): DataFrame = {
    val e = edges.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // rk packs (deg, id) into one sortable long, which is only a total
    // order when 0 <= id < 2^32 — outside that domain collisions /
    // inversions would silently mis-orient edges (double- or zero-
    // counted triangles). Enforce the documented domain loudly, map-
    // side, on the already-distinct node relation.
    val vOk = when(col("v") >= 0 && col("v") < lit(1L << 32), col("v"))
      .otherwise(raise_error(concat(
        lit("triangles: node id out of [0, 2^32): "), col("v").cast("string"))))
    val rk = deg.select(vOk.as("v"),
      (col("d") * lit(1L << 32) + col("v")).as("rk"))
    val oriented = e
      .join(broadcast(rk.select(col("v").as("a"), col("rk").as("rka"))), "a")
      .join(broadcast(rk.select(col("v").as("b"), col("rk").as("rkb"))), "b")
      .select(
        when(col("rka") < col("rkb"), col("a")).otherwise(col("b")).as("src"),
        when(col("rka") < col("rkb"), col("b")).otherwise(col("a")).as("dst"),
        greatest(col("rka"), col("rkb")).as("rkdst"))
      .localCheckpoint() // skinny, multiply consumed; count() is free on the blocks
    val tri =
      if (oriented.count() <= broadcastEdgeLimit) {
        val adj = oriented.groupBy(col("src"))
          .agg(collect_list(col("dst")).as("nbrs"))
        oriented
          .join(broadcast(adj.select(col("src"), col("nbrs").as("nu"))), "src")
          .join(broadcast(adj.select(col("src").as("dst"), col("nbrs").as("nv"))), "dst")
          .select(col("src").as("v0"), col("dst").as("v1"),
            explode(array_intersect(col("nu"), col("nv"))).as("v2"))
      } else {
        val wedges = oriented.as("e1").join(oriented.as("e2"),
            col("e1.src") === col("e2.src") && col("e1.rkdst") < col("e2.rkdst"))
          .select(col("e1.dst").as("v1"), col("e2.dst").as("v2"),
            col("e1.src").as("v0"))
        wedges.join(oriented.select(col("src"), col("dst")),
          wedges("v1") === col("src") && wedges("v2") === col("dst"))
          .select(col("v0"), col("v1"), col("v2"))
      }
    tri.select(explode(array(col("v0"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Incremental tier: per-node counts of the NEW triangles a batch of
    * edges creates against a standing corpus — O(|batch| · degree)
    * pairing, the corpus never re-enumerated (the j10/j13 discipline
    * on a graph).
    *
    * Every new triangle contains ≥ 1 batch edge, so enumerating common
    * union-neighbors of each BATCH edge's endpoints finds them all;
    * triangles with 2–3 batch edges surface once per such edge, so the
    * canonical (sorted triple) pass dedups before counting — exactness
    * over cleverness, and the distinct runs on delta-scale rows only.
    *
    * Orientation note, stated because it is a real trade: the batch
    * tier uses STABLE id-orientation (a < b), not degree orientation —
    * degrees move when edges arrive, so a degree-ranked adjacency
    * would need rebuilding per batch, defeating incrementality. The
    * skew cap therefore does not apply here; the per-batch cost is
    * Σ_{(u,v)∈batch} (deg(u)+deg(v)), the honest incremental price
    * every streaming triangle system pays (id/arrival-stable
    * orientations are the standard choice for exactly this reason).
    *
    * Inputs are simple undirected edge lists (id_a < id_b, distinct).
    * The corpus may already hold the batch (its duplicate adjacency
    * entries collapse in the canonical-triple pass), but batch edges
    * stored by an EARLIER batch are the caller's to exclude (a
    * replayed edge would re-count its triangles). */
  def newTrianglesPerNode(corpusEdges: DataFrame, batchEdges: DataFrame,
      broadcastEdgeLimit: Long = 4L << 20): DataFrame = {
    val ec = corpusEdges.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b"))
    val eb = batchEdges.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b")).localCheckpoint()
    // union adjacency, BOTH directions (a batch edge's endpoints need
    // their full neighborhoods to close wedges through corpus edges)
    val e = ec.union(eb)
    val adj = e.select(col("a").as("v"), col("b").as("w"))
      .union(e.select(col("b").as("v"), col("a").as("w")))
      .groupBy(col("v")).agg(collect_list(col("w")).as("nbrs"))
      .localCheckpoint()
    val small = adj.count() <= broadcastEdgeLimit
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val tri = eb
      .join(maybeB(adj.select(col("v").as("a"), col("nbrs").as("na"))), "a")
      .join(maybeB(adj.select(col("v").as("b"), col("nbrs").as("nb"))), "b")
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("w"))
      // canonical triple: dedups multi-batch-edge triangles
      .select(array_sort(array(col("a"), col("b"), col("w"))).as("t"))
      .distinct()
    tri.select(explode(col("t")).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri_new"))
  }
}
