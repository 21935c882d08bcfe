package graft.pipelines

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** The load-shaped bulk backfill (SURVEY.md §3.2): the reference walks
  * collections and folds per-collection token/owner state in dict
  * accumulators (`nft/evm/consumers.py:175-701`); here the same job is
  * scan -> derive transfers -> two groupBy aggregations -> three parquet
  * "tables" mirroring the sink models (`nft/data/models.py`).
  *
  * Scale notes: the fact table is written partitioned by a bucketed key
  * so a 1000-executor run writes in parallel without tiny files
  * (`owner_bucket` = hash(owner) % nBuckets); the two aggregations share
  * one shuffle key family (owner) so AQE can reuse the exchange. No
  * driver-side loops — the reference's per-collection iteration is the
  * groupBy itself.
  */
object Load {

  def run(spark: SparkSession, dir: String, outDir: String, nBuckets: Int = 16): DataFrame = {
    val derived = Crawl.transfers(spark, dir)
      .withColumn("owner_bucket", pmod(hash(col("to_u")), lit(nBuckets)))

    // K8 fact table: idempotent append keyed by attribute_version
    derived.write.mode(SaveMode.Overwrite)
      .partitionBy("owner_bucket")
      .parquet(s"$outDir/transfers")

    // The rollups read the just-written fact table back rather than
    // re-running the derivation per action: derive once, then two
    // column-pruned scans of compact parquet — the cheaper side of the
    // trade whenever the derivation is more than a projection.
    val transfers = spark.read.parquet(s"$outDir/transfers")

    // A1-shaped rollup -> tokens table
    val tokens = transfers.groupBy(col("to_u").as("owner"))
      .agg(
        min_by(struct(col("event_id"), col("ts_us")), col("attribute_version")).as("first_seen"),
        count(lit(1)).as("n_transfers"),
        sum(when(col("transaction_type") === "burn", -col("value").cast("decimal(18,2)"))
          .otherwise(col("value").cast("decimal(18,2)"))).cast("double").as("net_value"),
        max(col("attribute_version")).as("attribute_version"))
    tokens.write.mode(SaveMode.Overwrite).parquet(s"$outDir/tokens")

    // A3-shaped balances -> owners table (zero balances dropped, K7)
    val owners = transfers
      .groupBy(col("from_u").as("account"))
      .agg(sum(when(col("transaction_type") === "burn", 0L).otherwise(lit(1L))).as("quantity"))
      .filter(col("quantity") =!= 0)
    owners.write.mode(SaveMode.Overwrite).parquet(s"$outDir/owners")

    spark.read.parquet(s"$outDir/tokens")
  }

  /** S8: the block-time CSV cache (`evm/util.py:6-24`) — a (number,
    * timestamp) dim persisted as CSV, loaded back as a broadcastable
    * dimension. */
  def writeBlockTimeCsv(spark: SparkSession, dir: String, out: String): Unit =
    Tables.events(spark, dir)
      .select(col("event_id").as("number"), col("ts_us").as("timestamp"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(out)

  def readBlockTimeCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema("number LONG, timestamp LONG")
      .csv(path)
}
