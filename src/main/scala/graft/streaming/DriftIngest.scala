package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Drift

/** Continuous distribution-drift monitoring — [[graft.ops.Drift]] as
  * an ingest gate: each micro-batch's keyed observations (tokens, LSH
  * cells, langs, sources) land as a per-epoch COUNT partition in a
  * standing distribution store, and the ledger gains one DRIFT row per
  * epoch — the batch's integer-ppm L1 distance against the standing
  * distribution accumulated BEFORE it. The first signal a corrupted
  * crawl, an upstream format change, or a topic shift gives off is
  * distributional, and it should fire at ingest time, not at the next
  * full-corpus profile.
  *
  * State discipline: counts are ADDITIVE (the triangle ledger's kind
  * — the standing distribution is a plain per-key SUM over epoch
  * partitions), so there is no snapshot seeding; replay safety is the
  * usual pair of rules — every standing read bounded STRICTLY BELOW
  * the epoch's own batch_id, and both writes keyed on batch_id with
  * dynamic partition overwrite, so a replay (in or out of order)
  * rewrites its own partitions with identical content. An empty batch
  * writes nothing; the FIRST batch (no standing distribution yet) has
  * no baseline to drift from, so it writes its counts but no drift row
  * (documented — a drift-vs-nothing number would be noise shaped like
  * signal). */
object DriftIngest {

  /** One micro-batch. `key`: the categorical column to distribute on. */
  def processBatch(batch: DataFrame, key: Column, countPath: String,
      driftPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val keyed = batch.select(key.cast("string").as("key")).filter(col("key").isNotNull)
    val counts = keyed.groupBy(col("key")).agg(count(lit(1)).as("cnt")).persist()
    try {
      if (counts.isEmpty) return // replay-safe skip (zero-row write rule)
      val standing = StandingStore.standing(spark, countPath)
        .map(_.filter(col("batch_id").cast("long") < batchId)
          .groupBy(col("key")).agg(sum(col("cnt")).as("cnt")))
        .filter(!_.isEmpty)
      standing.foreach { st =>
        val summary = Drift.l1Summary(
          st.withColumnRenamed("cnt", "cnt_a"),
          counts.withColumnRenamed("cnt", "cnt_b"))
        StandingStore.writePartition(summary, driftPath, batchId)
      }
      StandingStore.writePartition(counts, countPath, batchId)
    } finally counts.unpersist()
  }

  /** The standing distribution: per-key totals over every epoch. */
  def currentCounts(spark: SparkSession, countPath: String): DataFrame =
    StandingStore.standing(spark, countPath)
      .map(_.groupBy(col("key")).agg(sum(col("cnt")).as("cnt")))
      .getOrElse(spark.emptyDataFrame
        .select(lit("").as("key"), lit(0L).as("cnt")).limit(0))

  /** The drift ledger: one row per epoch that had a baseline —
    * (batch_id, n_a standing total, n_b batch total, n_keys, l1_ppm). */
  def driftHistory(spark: SparkSession, driftPath: String): DataFrame =
    StandingStore.standing(spark, driftPath)
      .map(_.select(col("batch_id").cast("long").as("batch_id"), col("n_a"),
        col("n_b"), col("n_keys"), col("l1_ppm")))
      .getOrElse(spark.emptyDataFrame
        .select(lit(0L).as("batch_id"), lit(0L).as("n_a"), lit(0L).as("n_b"),
          lit(0L).as("n_keys"), lit(0L).as("l1_ppm")).limit(0))
}
