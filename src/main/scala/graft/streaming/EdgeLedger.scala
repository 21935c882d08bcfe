package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{KCore, KTruss, Lpa, PageRank, Reachability, Triangles}

/** A standing-state graph ledger: each micro-batch of edges lands in a
  * standing edge store (`edgePath`), and a result table (`outPath`)
  * gains one partition per epoch computed by `step` from the previous
  * epoch's result and the merged graph. One skeleton serves the whole
  * family — ranks ([[EdgeLedger.rank]]), hop labels ([[EdgeLedger.reach]]),
  * community labels ([[EdgeLedger.community]]), cores ([[EdgeLedger.core]]),
  * trusses ([[EdgeLedger.truss]]) and triangle deltas
  * ([[EdgeLedger.triangles]]); a ledger is only its edge orientation,
  * its step and its output columns.
  *
  * The replay rules (the at-least-once, idempotent-sink contract of
  * Structured Streaming: a replayed epoch rewrites its own partitions):
  *  - canonical edges: batch edges are cast to long, oriented
  *    (undirected pairs become `least`/`greatest`), self-loops dropped
  *    and deduplicated, then anti-joined against the standing store,
  *    so a re-sent edge contributes nothing and an all-replayed batch
  *    writes nothing;
  *  - strictly-below reads: every standing read an epoch makes — the
  *    edge probe/merge and the `seed` — is bounded to batch_id < its
  *    own, so a replay of epoch e recomputes the identical partition
  *    even OUT OF ORDER, after later epochs committed: later
  *    partitions are invisible to e by construction;
  *  - dynamic overwrite keyed on batch_id: both writes go through
  *    [[StandingStore.writePartition]], so a replay (even one that died
  *    between the two writes) overwrites its own partitions instead of
  *    double-counting.
  *
  * `step(seed, merged, fresh)`: `seed` is the newest result partition
  * below this epoch (None before the first; by-name, so a ledger that
  * never reads it pays nothing), `merged` the standing edges plus
  * `fresh`, the genuinely-new edges of this batch. */
final class EdgeLedger(val undirected: Boolean, val cols: Seq[String],
    val step: (=> Option[DataFrame], DataFrame, DataFrame) => DataFrame) {

  private val (a, b) = if (undirected) ("id_a", "id_b") else ("src", "dst")

  /** One micro-batch of (a, b) edges. Writes a fresh-edge partition and
    * a result partition keyed on `batchId`; a batch with no
    * genuinely-new edges writes neither. */
  def process(batch: DataFrame, edgePath: String, outPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val (x, y) = (col(a).cast("long"), col(b).cast("long"))
    val raw = (if (undirected) batch.select(least(x, y).as(a), greatest(x, y).as(b))
               else batch.select(x.as(a), y.as(b)))
      .filter(col(a) =!= col(b))
      .distinct()
    val standing = standingEdges(spark, edgePath, batchId)
    val fresh = standing.fold(raw)(raw.join(_, Seq(a, b), "left_anti")).persist()
    try {
      if (!fresh.isEmpty) { // replay-safe skip (zero-row write rule)
        val merged = standing.fold(fresh)(_.unionByName(fresh))
        val out = step(seed(spark, outPath, batchId), merged, fresh).select(cols.map(col): _*)
        StandingStore.writePartition(fresh, edgePath, batchId)
        StandingStore.writePartition(out, outPath, batchId)
      }
    } finally fresh.unpersist()
  }

  /** Stored edges with batch_id < `batchId`. */
  def standingEdges(spark: SparkSession, edgePath: String, batchId: Long): Option[DataFrame] =
    StandingStore.standing(spark, edgePath)
      .map(_.filter(col("batch_id").cast("long") < batchId).select(col(a), col(b)))

  /** Newest result partition with batch_id < `batchId`. */
  def seed(spark: SparkSession, outPath: String, batchId: Long): Option[DataFrame] =
    StandingStore.latestSnapshot(spark, outPath, batchId, cols)

  /** The snapshot-ledger read: the newest epoch's result. */
  def current(spark: SparkSession, outPath: String): DataFrame =
    seed(spark, outPath, Long.MaxValue).getOrElse(EdgeLedger.empty(spark, cols))
}

object EdgeLedger {

  private def empty(spark: SparkSession, cols: Seq[String]): DataFrame =
    spark.emptyDataFrame.select(cols.map(lit(0L).as(_)): _*).limit(0)

  /** A ledger whose step refreshes the previous snapshot, or an empty
    * one of `cols` before the first epoch, over the merged graph. */
  private def refreshing(undirected: Boolean, cols: String*)(
      refresh: (DataFrame, DataFrame) => DataFrame): EdgeLedger =
    new EdgeLedger(undirected, cols, (seed, merged, _) =>
      refresh(seed.getOrElse(empty(merged.sparkSession, cols)), merged))

  /** Continuous PageRank over directed edges: each epoch warm-starts
    * [[PageRank.warmStart]] from the previous snapshot for `rounds`
    * iterations. After any prefix of batches the ledger equals the
    * warm-start fold of the same batch sequence, and once ingest goes
    * quiescent, [[refineRanks]] epochs drive it into the truncation band
    * a cold start settles into (PageRankSpec pins the band). */
  def rank(rounds: Int = 3): EdgeLedger =
    refreshing(undirected = false, "id", "pr")(PageRank.warmStart(_, _, rounds))

  /** A quiescent rank epoch: no new edges, `rounds` more warm
    * iterations over the standing graph (drives the snapshot toward
    * the fixpoint). Requires a non-empty edge store. */
  def refineRanks(spark: SparkSession, edgePath: String, rankPath: String,
      batchId: Long, rounds: Int = 3): Unit = {
    val ledger = rank(rounds)
    val edges = ledger.standingEdges(spark, edgePath, batchId)
      .getOrElse(throw new IllegalStateException("rank ledger: no standing edges to refine"))
    StandingStore.writePartition(
      ledger.step(ledger.seed(spark, rankPath, batchId), edges, edges.limit(0)),
      rankPath, batchId)
  }

  /** Continuous k-hop reachability from `seeds` (id column; the same
    * every epoch — it defines the query) via [[Reachability.refreshHops]]:
    * each epoch pays only the batch's affected neighborhood. EXACT:
    * reachability is monotone under insert-only arrival, so the ledger
    * equals a cold [[Reachability.hops]] over every stored edge. */
  def reach(seeds: DataFrame, maxHop: Int): EdgeLedger =
    new EdgeLedger(undirected = false, Seq("id", "hop"), (seed, merged, fresh) => {
      val graph = merged.localCheckpoint(true) // relaxed over once per hop
      val prior = seed.getOrElse(Reachability.hops(graph.limit(0), seeds, maxHop))
      Reachability.refreshHops(prior, graph, fresh, maxHop)
    })

  /** Continuous community labels via [[Lpa.warmStart]] (`rounds`
    * synchronous rounds from the previous snapshot). LPA offers no
    * contraction theorem, so the ledger's claim is exactly the
    * warm-start fold of the batch sequence: deterministic,
    * batch-absorbing, replay-stable. */
  def community(rounds: Int = 2): EdgeLedger =
    refreshing(undirected = false, "node", "lbl")(Lpa.warmStart(_, _, rounds))

  /** Continuous k-core via [[KCore.refreshCore]], with work proportional
    * to the active region. EXACT: the k-core is unique and the
    * protected refresh reaches it, so the ledger equals a cold
    * [[KCore.core]] over every stored edge. */
  def core(k: Int): EdgeLedger =
    refreshing(undirected = true, "node_id", "core_deg")(KCore.refreshCore(_, _, k))

  /** Continuous k-truss via [[KTruss.refreshTruss]] — the core contract
    * one notch up: EXACT against a cold [[KTruss.truss]] over every
    * stored edge, support for support. */
  def truss(k: Int): EdgeLedger =
    refreshing(undirected = true, "id_a", "id_b", "support")(KTruss.refreshTruss(_, _, k))

  /** Continuous triangle counts: each epoch writes a DELTA partition —
    * the per-node count of triangles that involve ≥ 1 fresh edge
    * ([[Triangles.newTrianglesPerNode]]). Every triangle is new in
    * exactly one epoch, the one where its last edge arrives, so
    * [[triangleCounts]] (the sum of the deltas) equals
    * [[Triangles.perNodeCounts]] over every stored edge. The seed is
    * never read. `merged` already holds `fresh`; the duplicate
    * adjacency entries collapse in the canonical-triple pass. */
  val triangles: EdgeLedger =
    new EdgeLedger(undirected = true, Seq("node", "n_tri_new"), (_, merged, fresh) =>
      Triangles.newTrianglesPerNode(merged, fresh))

  /** The triangle-ledger read: per-node counts = sum of the epoch
    * deltas. Nodes in no triangle have no rows (the perNodeCounts
    * contract). */
  def triangleCounts(spark: SparkSession, countPath: String): DataFrame =
    StandingStore.standing(spark, countPath) match {
      case Some(c) => c.groupBy(col("node")).agg(sum(col("n_tri_new")).as("n_tri"))
      case None => empty(spark, Seq("node", "n_tri"))
    }
}
