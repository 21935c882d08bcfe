package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing-state parquet conventions shared by every ingest gate
  * (Ingest and DriftIngest) — one definition instead of verbatim
  * copies, so a fix to any rule lands everywhere at once:
  *
  *  - [[standing]]: missing dir / marker-only dir = empty state (None);
  *    any OTHER read problem propagates loudly — silently treating a
  *    corrupt store as "no state" would disable the gate and poison
  *    the standing index with false survivors. The data-file probe
  *    matters: reading a dir holding only _SUCCESS markers throws
  *    schema-inference errors indistinguishable from corruption.
  *  - [[writePartition]]: epoch-keyed dynamic partition overwrite —
  *    an at-least-once replay overwrites its OWN partitions instead of
  *    double-counting. Zero-row frames write NOTHING: a rows-less
  *    parquet write leaves a schema-less marker-only dir a later read
  *    cannot infer a schema from; skipping is replay-safe.
  */
object StandingStore {

  def standing(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasDataFile: Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val n = it.next().getPath.getName
        found = !n.startsWith("_") && !n.startsWith(".")
      }
      found
    }
    if (fs.exists(p) && hasDataFile) Some(spark.read.parquet(path)) else None
  }

  def writePartition(df: DataFrame, target: String, batchId: Long): Unit =
    if (!df.isEmpty)
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(target)
}
