package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.
  * 2007, "Near linear time algorithm to detect community structures in
  * large-scale networks"), made DETERMINISTIC so it can be oracled:
  * every node starts as its own label; each round, every node adopts
  * the label most frequent among its neighbors, ties broken by the
  * SMALLEST label; a fixed round count replaces the usual convergence
  * test (asynchronous/randomized LPA is irreproducible by design —
  * the fixed-round synchronous variant is a pure function of the edge
  * set, so the same rounds replay hash-exact in SQL).
  *
  * Scale shape (the g8 Pregel discipline): per round ONE equi-join of
  * the edge relation against the skinny label relation + ONE
  * map-side-combined aggregate. The argmax-with-tie-break is a packed
  * long — `cnt·2³² + (2³²−1−label)` — so `max()` picks (max count,
  * min label) inside a HashAggregate; the struct/window formulations
  * force SortAggregate or a per-group sort (the a1 packed-long
  * lesson). Labels are staged per round: each round's relation feeds
  * the next round's join, and staging caps lineage depth at one round
  * regardless of the round count. Label ids must fit in 32 bits and
  * the edge count (which bounds every vote count) in 31 — both
  * enforced up front, so the packing can never overflow silently.
  *
  * The caller passes DIRECTED (src, dst) edges — union both directions
  * for the undirected classic (the PageRank convention). Nodes absent
  * from `src` never update (they have no neighbors to vote).
  */
object Lpa {

  def propagate(edges: DataFrame, rounds: Int): DataFrame =
    run(edges, None, rounds)

  /** Warm-started LPA — the incremental face of [[propagate]]: labels
    * initialize from a standing snapshot (`seedLabels`: node, lbl)
    * instead of identity, nodes the snapshot doesn't cover start as
    * their own label, then `rounds` synchronous rounds run over the
    * (merged) edge set. Deterministic like propagate — a pure function
    * of (seed, edges, rounds), so the DuckDB oracle unrolls both the
    * standing chain and the warm chain and hash-matches exactly (the
    * g13 PageRank-warm-start discipline). Unlike PageRank there is no
    * contraction guarantee — the claim is determinism + batch
    * absorption, not convergence to the cold fixpoint; the community
    * ledger ([[graft.streaming.EdgeLedger.community]]) is pinned to
    * this exact fold. */
  def warmStart(seedLabels: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    run(edges, Some(seedLabels.select(col("node").cast("long"),
      col("lbl").cast("long"))), rounds)

  /** Semi-supervised label SPREADING with hard clamping (Zhu &
    * Ghahramani 2002's label propagation for SSL): seed nodes carry
    * ground-truth classes and NEVER update; unlabeled nodes adopt the
    * majority label among their labeled in-neighbors each round (same
    * packed argmax, same tie-to-smallest), staying unlabeled until a
    * labeled neighbor reaches them. The training-data primitive beside
    * [[propagate]]'s community detection: spread a small set of
    * human-labeled quality/topic classes through a similarity graph.
    * Deterministic — the oracle unrolls rounds with the clamp as a
    * seed-first union. Seeds are restricted to graph nodes — src OR
    * dst side (a seed with no edges at all can influence nothing and
    * would pad the output; a DST-ONLY seed must stay, clamped: it
    * receives votes on directed input, and dropping it from the clamp
    * set would let a propagated label override its ground truth).
    * Output: (node, lbl) for LABELED nodes only — unreached nodes are
    * absent, they have no defensible label. `seedLabels`: (node, lbl). */
  def spread(edges: DataFrame, seedLabels: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "lpa: rounds >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
    val bounds = e.agg(min(least(col("src"), col("dst"))),
      max(greatest(col("src"), col("dst"))), count(lit(1))).collect().head
    if (!bounds.isNullAt(0)) {
      require(bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 32),
        s"lpa: node ids must lie in [0, 2^32), got [${bounds.getLong(0)}, ${bounds.getLong(1)}]")
      require(bounds.getLong(2) < (1L << 31),
        s"lpa: edge count ${bounds.getLong(2)} >= 2^31 — packed vote counts would overflow")
    }
    // src UNION dst, not src alone: on directed input a dst-only seed
    // still receives votes, so it must be retained IN THE CLAMP SET
    // (it never votes anyway — the vote join keys on src)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val seeds = seedLabels.select(col("node").cast("long"), col("lbl").cast("long"))
      .join(nodes, Seq("node"), "left_semi").localCheckpoint(true)
    val sb = seeds.agg(min(col("lbl")), max(col("lbl"))).collect().head
    if (!sb.isNullAt(0))
      require(sb.getLong(0) >= 0L && sb.getLong(1) < (1L << 32),
        s"lpa: seed labels must lie in [0, 2^32), got [${sb.getLong(0)}, ${sb.getLong(1)}]")
    val mask = (1L << 32) - 1L
    // r18 round-body fold (guide §2.4): the clamp merge is ONE
    // full-outer join per round — seeds ride the labels relation as an
    // is_seed flag, so "seeds keep their class; every other
    // labeled-or-voted node takes this round's vote, falling back to
    // its previous label" is a single when/coalesce over the joined
    // row. Row set and values are IDENTICAL to the old five-operator
    // form (seeds ∪ ((labels ∪ voted) \ seeds) with two left joins):
    // seeds ⊆ labels every round, so labels ⊚full voted enumerates
    // exactly labels ∪ voted, and the clamp branch reproduces the old
    // seed-first union. Saves a union+distinct and three joins per
    // round (LpaSpec's differential pins the equality).
    var labels = seeds.withColumn("is_seed", lit(true))
    for (_ <- 1 to rounds) {
      val voted = e
        .join(labels.select(col("node").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(col("cnt") * (mask + 1L) + (lit(mask) - col("lbl"))).as("packed"))
        .select(col("dst").as("node"),
          (lit(mask) - (col("packed") % (mask + 1L))).as("vlbl"))
      labels = labels.join(voted, Seq("node"), "full_outer")
        .select(col("node"),
          when(coalesce(col("is_seed"), lit(false)), col("lbl"))
            .otherwise(coalesce(col("vlbl"), col("lbl"))).as("lbl"),
          coalesce(col("is_seed"), lit(false)).as("is_seed"))
        .localCheckpoint(true)
    }
    labels.select(col("node"), col("lbl"))
  }

  private def run(edges: DataFrame, seed: Option[DataFrame], rounds: Int): DataFrame = {
    require(rounds >= 1, "lpa: rounds >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
    // 32-bit label domain makes the packed argmax total — fail loudly
    // instead of mis-ranking (the Triangles id-domain rule). Vote
    // counts ride the upper 32 bits, so they too must stay below 2^31;
    // a count is bounded by the voter's in-degree <= |E|, so one edge
    // count (free — same agg pass as the bounds) enforces it loudly
    // instead of leaving the no-overflow claim to luck.
    val bounds = e.agg(min(least(col("src"), col("dst"))),
      max(greatest(col("src"), col("dst"))), count(lit(1))).collect().head
    if (!bounds.isNullAt(0)) {
      require(bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 32),
        s"lpa: node ids must lie in [0, 2^32), got [${bounds.getLong(0)}, ${bounds.getLong(1)}]")
      require(bounds.getLong(2) < (1L << 31),
        s"lpa: edge count ${bounds.getLong(2)} >= 2^31 — packed vote counts would overflow")
    }
    // seed labels are labels too — they ride the same packing, so the
    // same 32-bit domain guard applies (a seed is a node id of the
    // standing graph, but enforce rather than assume)
    seed.foreach { sd =>
      val sb = sd.agg(min(col("lbl")), max(col("lbl"))).collect().head
      if (!sb.isNullAt(0))
        require(sb.getLong(0) >= 0L && sb.getLong(1) < (1L << 32),
          s"lpa: seed labels must lie in [0, 2^32), got [${sb.getLong(0)}, ${sb.getLong(1)}]")
    }
    val mask = (1L << 32) - 1L
    val nodes = e.select(col("src").as("node")).distinct()
    var labels = (seed match {
      case Some(sd) => nodes.join(sd.withColumnRenamed("lbl", "seed_lbl"),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("seed_lbl"), col("node")).as("lbl"))
      case None => nodes.withColumn("lbl", col("node"))
    }).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // a node with no labeled in-neighbor this round KEEPS its label
      // (matters on directed input — the inner vote join would silently
      // drop it; on bidirectional graphs every node gets votes and the
      // coalesce is the identity)
      val voted = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(col("cnt") * (mask + 1L) + (lit(mask) - col("lbl"))).as("packed"))
        .select(col("dst").as("node"),
          (lit(mask) - (col("packed") % (mask + 1L))).as("vlbl"))
      labels = labels.join(voted, Seq("node"), "left")
        .select(col("node"), coalesce(col("vlbl"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
    }
    labels
  }
}
