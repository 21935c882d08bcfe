package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cohort retention analysis (the funnel's companion metric): users
  * cohorted by the period of their FIRST `signup`-type event, each
  * later period's activity fraction reported per (cohort, offset) —
  * the weekly-retention triangle every growth dashboard draws.
  *
  * The o9_retention query body. Semantics are all-integer up to the
  * final ratio: floor(us/period) is exact for micros timestamps
  * (≈1.7e15 stays far under 2^53, so the double quotient's floor
  * can't misround), and the one double division is the reported rate
  * itself.
  *
  * Shape (unchanged from the query): one anchor aggregate (map-side
  * combined min per user), one (user, cohort, offset)-distinct
  * activity relation keyed by user, one grouped count + a broadcast
  * cohort-size join — every stage keyed, nothing driver-side. The
  * distinct's width is bounded by `maxOffset` (a user contributes at
  * most maxOffset+1 activity rows however hot), so the relation scales
  * with users, not events.
  */
object Retention {

  /** (user_id, cw): each signing-up user's cohort period. */
  def cohort(events: DataFrame, user: Column, tsUs: Column, typeCol: Column,
      signupType: String, periodUs: Long): DataFrame =
    events.filter(typeCol === signupType)
      .groupBy(user.as("user_id")).agg(min(tsUs).as("su"))
      .select(col("user_id"), floor(col("su") / periodUs).as("cw"))

  /** Distinct (user_id, cw, off) activity facts, off in [0, maxOffset]. */
  def activity(events: DataFrame, user: Column, tsUs: Column, typeCol: Column,
      signupType: String, periodUs: Long, maxOffset: Int): DataFrame = {
    val ch = cohort(events, user, tsUs, typeCol, signupType, periodUs)
    events.select(user.as("user_id"), floor(tsUs / periodUs).as("w"))
      .join(ch, "user_id")
      .select(col("user_id"), col("cw"), (col("w") - col("cw")).as("off"))
      .filter(col("off") >= 0 && col("off") <= maxOffset)
      .distinct()
  }

  /** The retention matrix: (cohort_week, week_offset, n_active,
    * n_cohort, retention). Column names keep the weekly defaults'
    * spelling whatever `periodUs` is — they are the o9_retention
    * contract. */
  def matrix(events: DataFrame, user: Column, tsUs: Column, typeCol: Column,
      signupType: String = "signup", periodUs: Long = 604800000000L,
      maxOffset: Int = 8): DataFrame = {
    val ch = cohort(events, user, tsUs, typeCol, signupType, periodUs)
    val active = activity(events, user, tsUs, typeCol, signupType, periodUs, maxOffset)
    val sizes = ch.groupBy(col("cw")).agg(count(lit(1)).as("n_cohort"))
    active.groupBy(col("cw"), col("off"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cw")
      .select(col("cw").cast("long").as("cohort_week"),
        col("off").cast("long").as("week_offset"),
        col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
  }
}
