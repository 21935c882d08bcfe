package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rolling z-score anomaly detection: flag events whose value sits
  * more than 3 sigma from their key's TRAILING window of prior values
  * (current row excluded — an anomaly must not mask itself by
  * inflating its own baseline).
  *
  * The t7_anomaly query body. Determinism: the window accumulates
  * s1/s2 as DECIMALS (order-independent — the a10_moments/o4
  * discipline; double window sums depend on frame arrival order),
  * then ONE fixed double expression derives
  * mean/variance/z, so any engine that replays the same trailing set
  * reproduces the doubles bit-for-bit. Windows with < `minPrior`
  * prior events emit no verdict (a 2-sample sigma is noise).
  *
  * Shape: a single ranged window aggregate per key — one shuffle on
  * the key, in-partition sort, O(1) per row via the running frame.
  */
object Anomaly {

  /** (id, key, value, n, mean, z, is_anomaly) for each event with at
    * least `minPrior` prior events in its trailing-`trail` frame,
    * ordered within key by `order` (ties must be broken by the caller
    * passing a unique final order column — the frame is row-based). */
  def rolling(events: DataFrame, id: Column, key: Column, value: Column,
      order: Seq[Column], trail: Int = 20, minPrior: Int = 5,
      sigma: Double = 3.0): DataFrame = {
    require(trail >= 2 && minPrior >= 2, "anomaly: trail/minPrior >= 2")
    val w = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(-trail, -1)
    val d = value.cast("decimal(18,2)")
    events
      .select(id.as("event_id"), key.as("user_id"), value.as("value"),
        count(lit(1)).over(w).as("n"),
        sum(d).over(w).cast("double").as("s1"),
        sum(d * d).over(w).cast("double").as("s2"))
      .filter(col("n") >= minPrior)
      .withColumn("mean", col("s1") / col("n").cast("double"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0)))
      .withColumn("z",
        when(col("variance") > 0,
          (col("value") - col("mean")) / sqrt(col("variance"))))
      .withColumn("is_anomaly",
        (col("z").isNotNull && abs(col("z")) > sigma).cast("long"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("n"), col("mean"), col("z"), col("is_anomaly"))
  }
}
