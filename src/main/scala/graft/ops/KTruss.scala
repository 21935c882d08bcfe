package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition by iterative support peeling (Cohen 2008,
  * "Trusses: cohesive subgraphs for social network analysis"): delete
  * every edge participating in fewer than k−2 triangles WITHIN the
  * surviving subgraph until no edge changes. The edge-cohesion
  * primitive one notch stronger than [[KCore]]'s node degree — a
  * k-truss is always inside the (k−1)-core, but demands the ties be
  * closed into triangles, which is what separates a genuine community
  * nucleus from a hub-and-spoke star.
  *
  * Per round (the [[KCore]] peel, lifted from node degrees
  * to edge supports):
  *  - triangles enumerate by DEGREE-ORDERED orientation exactly like
  *    [[Triangles.perNodeCounts]] (each triangle found once at its
  *    rank-min corner; wedge work is bounded by out-degrees ~
  *    arboricity, not raw hub degrees);
  *  - support = one aggregate over the 3 canonical edge projections of
  *    the triangle relation;
  *  - the surviving edge set is localCheckpoint-staged per round, so
  *    lineage stays one round deep; rounds bounded by `maxRounds`
  *    failing LOUDLY (the Dedup.clusters rule).
  *
  * The fixpoint is the unique maximal such subgraph (support only
  * drops when edges leave, so peeling is confluent — the Matula–Beck
  * argument edge-wise), hence DuckDB-oracle-able by unrolling rounds
  * with headroom (surplus rounds are the identity at the fixpoint).
  *
  * Requires k >= 3: the 2-truss is every edge (support >= 0) and the
  * inner support join would silently drop triangle-free edges —
  * enforce rather than special-case a vacuous tier. */
object KTruss {

  /** Edges of the k-truss of `edges` (distinct undirected pairs
    * id_a < id_b, no self-loops), plus each surviving edge's in-truss
    * support: (id_a, id_b, support).
    *
    * r17: the degree-rank ORIENTATION is computed ONCE, before the
    * peel loop, and the oriented relation is what peels. Orientation
    * is an enumeration strategy only — the triangle set of any
    * subgraph (hence every support count) is identical under ANY total
    * node order — so reusing the initial ranks across rounds changes
    * no result while dropping the per-round degree aggregate and two
    * rank joins (guide §2.4). The skew cap survives: out-degrees under
    * the initial ranks only shrink as edges peel, so per-round wedge
    * work stays within the initial graph's Σ outdeg² bound. */
  def truss(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 3, "k_truss: k >= 3 (the 2-truss is the whole graph)")
    require(maxRounds >= 1, "k_truss: maxRounds >= 1")
    // the carrier is the oriented edge set plus each edge's support in
    // the previous round (0 before the first: an edge set that is empty
    // from the start returns it as is). Each round's support join is
    // staged BEFORE the convergence count (r18, §2.6): counting the
    // unstaged join and then checkpointing its projection ran every
    // round's wedge join twice; the next round's oriented edges are a
    // projection over the staged leaf.
    val (o, n) = Staging.freshCounted(
      Triangles.orient(edges.select(col("id_a"), col("id_b")), "k_truss"))
    val (fix, _) = Staging.peel((o.withColumn("support", lit(0L)), n), maxRounds,
        "k_truss") { cur =>
      val e = cur.select(col("src"), col("dst"), col("rkdst"), col("id_a"), col("id_b"))
      e.join(supportOriented(e), Seq("id_a", "id_b"))
        .filter(col("support") >= k - 2)
    }
    fix.select(col("id_a"), col("id_b"), col("support"))
  }

  /** Per-edge triangle support within an already-oriented staged
    * relation (the [[Triangles.orient]] shape): wedge join at the rank-min
    * corner, closing-edge probe, one aggregate over the three
    * canonical projections. Edges in no triangle are ABSENT. */
  private def supportOriented(o: DataFrame): DataFrame = {
    val tri = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.rkdst") < col("e2.rkdst"))
      .select(col("e1.src").as("v0"), col("e1.dst").as("v1"), col("e2.dst").as("v2"))
      .join(o.select(col("src").as("v1"), col("dst").as("v2")),
        Seq("v1", "v2"), "left_semi")
    tri.select(least(col("v0"), col("v1")).as("id_a"),
        greatest(col("v0"), col("v1")).as("id_b"))
      .unionByName(tri.select(least(col("v0"), col("v2")).as("id_a"),
        greatest(col("v0"), col("v2")).as("id_b")))
      .unionByName(tri.select(least(col("v1"), col("v2")).as("id_a"),
        greatest(col("v1"), col("v2")).as("id_b")))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("support"))
  }

  /** INCREMENTAL k-truss under insert-only edge arrival — the
    * [[KCore.refreshCore]] monotonicity argument lifted to edge
    * supports: edges only arrive, so triangles only form (never
    * dissolve) and the k-truss only GROWS. A standing-truss edge can
    * never peel — its ≥ k−2 witnessing triangles live entirely inside
    * the standing truss, whose edges all survive with it, MUTUALLY —
    * so standing-truss edges are PROTECTED and only the ACTIVE edges
    * (new arrivals + pre-existing edges outside the standing truss)
    * run the peel rule. Triangle enumeration per round is restricted
    * to triangles touching at least one active edge: two wedge joins
    * anchored on an active SIDE plus one join chain anchored on an
    * active CLOSING edge — every intermediate is bounded by the
    * active region's touchings, never the graph's wedge count
    * (all-protected triangles can't change an active edge's support:
    * they don't contain it). The fixpoint equals the cold
    * truss of the merged graph (truss uniqueness; KTrussSpec proves
    * it differentially).
    *
    * Output: (id_a, id_b, support, support_prev) — prev NULL for
    * edges the batch promoted into the truss (the g13/g24 delta
    * convention); support is the IN-TRUSS support over the merged
    * fixpoint. `standingTruss`: (id_a, id_b, support) from [[truss]]
    * over the pre-batch edges. */
  def refreshTruss(standingTruss: DataFrame, mergedEdges: DataFrame, k: Int,
      maxRounds: Int = 64): DataFrame = {
    require(k >= 3, "k_truss: k >= 3 (the 2-truss is the whole graph)")
    require(maxRounds >= 1, "k_truss: maxRounds >= 1")
    val protectedE = standingTruss.select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val (active, _) = Staging.peel(Staging.freshCounted(
        mergedEdges.select(col("id_a"), col("id_b"))
          .join(protectedE, Seq("id_a", "id_b"), "left_anti")),
        maxRounds, "k_truss refresh") { active =>
      val cur = protectedE.unionByName(active).localCheckpoint(true)
      val keep = activeSupport(cur, active)
        .filter(col("support") >= k - 2)
        .select(col("id_a"), col("id_b"))
      active.join(keep, Seq("id_a", "id_b"), "left_semi")
    }
    // final supports over the merged fixpoint: protected edges need
    // theirs refreshed too (new triangles may have raised them), so
    // one full support pass over the fixpoint edge set — the same
    // one-shot cost truss() pays per round, paid once here. Edges in
    // no triangle are absent from `sup`.
    val fix = protectedE.unionByName(active).localCheckpoint(true)
    val sup = supportOriented(Triangles.orient(fix, "k_truss")
      .select(col("src"), col("dst"), col("rkdst"))
      .localCheckpoint(true)) // wedge sides + closing probe
    fix.join(sup, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("support"), lit(0L)).as("support"))
      .join(standingTruss.select(col("id_a"), col("id_b"),
        col("support").as("support_prev")), Seq("id_a", "id_b"), "left")
  }

  /** Support of the ACTIVE edges only, counting every triangle of
    * `cur` that touches ≥ 1 active edge (sufficient: all-protected
    * triangles contain no active edge, so they cannot contribute to
    * an active support). Stable a < b orientation — a triangle
    * (x<y<z) is (x,y),(x,z),(y,z) — generated as three ACTIVE-side
    * joins (each equi-join anchors ON the active relation, so work is
    * bounded by wedges TOUCHING the active region, never the graph's
    * wedge count), deduped on the full row (flags are a function of
    * the triangle, so distinct-by-all-columns dedups triangles with
    * 2+ active edges exactly once), then each active edge of each
    * triangle receives the count. */
  private def activeSupport(cur: DataFrame, active: DataFrame): DataFrame = {
    val flagged = cur.join(active.withColumn("is_active", lit(1)),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("is_active"), lit(0)).as("fa"))
      .localCheckpoint(true) // six join sides below read it
    def shape(t: DataFrame) =
      t.select(col("p.id_a").as("x"), col("p.id_b").as("y"), col("q.id_b").as("z"),
        col("p.fa").as("fxy"), col("q.fa").as("fxz"), col("c.fa").as("fyz"))
    val act = flagged.filter(col("fa") === 1)
    // (x,y) or (x,z) active: the wedge join anchors on the active side
    // of the shared-corner equality, so its OUTPUT is wedges touching
    // the active region
    def wedgeAnchored(p: DataFrame, q: DataFrame) =
      p.as("p").join(q.as("q"),
          col("p.id_a") === col("q.id_a") && col("p.id_b") < col("q.id_b"))
        .join(flagged.as("c"),
          col("c.id_a") === col("p.id_b") && col("c.id_b") === col("q.id_b"))
    // (y,z) active: anchor on the CLOSING edge first — composing it as
    // all×all wedges probed by active would enumerate the graph's full
    // wedge set before the restriction; p.id_b < q.id_b holds by
    // construction (y = c.id_a < c.id_b = z)
    val closingAnchored = act.as("c")
      .join(flagged.as("p"), col("p.id_b") === col("c.id_a"))
      .join(flagged.as("q"),
        col("q.id_a") === col("p.id_a") && col("q.id_b") === col("c.id_b"))
    val tri = shape(wedgeAnchored(act, flagged))
      .unionByName(shape(wedgeAnchored(flagged, act)))
      .unionByName(shape(closingAnchored))
      .distinct()
      .localCheckpoint(true) // three projections below
    tri.filter(col("fxy") === 1).select(col("x").as("id_a"), col("y").as("id_b"))
      .unionByName(tri.filter(col("fxz") === 1)
        .select(col("x").as("id_a"), col("z").as("id_b")))
      .unionByName(tri.filter(col("fyz") === 1)
        .select(col("y").as("id_a"), col("z").as("id_b")))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("support"))
  }
}
