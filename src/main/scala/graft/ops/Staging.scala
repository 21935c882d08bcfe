package graft.ops

import org.apache.spark.sql.DataFrame

/** Stage an iterative op's round-carrier relation: eager local
  * checkpoint, PLUS a guard against Catalyst's size-estimate snowball.
  *
  * `localCheckpoint` truncates LINEAGE but not STATS: the resulting
  * leaf inherits the origin plan's `sizeInBytes`, and a join's
  * estimate is the PRODUCT of its children's. An iterative op that
  * checkpoints each round therefore compounds the estimate
  * geometrically (bits multiply by the number of multiplicative plan
  * sites per round), and an op that RECURSES over checkpointed
  * outputs — multi-level Louvain's contract→move→stage loop — grows
  * it double-exponentially: by level 5 on a 3k-edge graph the driver
  * was grinding MILLION-digit BigInteger products inside
  * SizeInBytesOnlyStatsPlanVisitor, minutes of CPU to plan a
  * 2000-row join (observed; the execution itself takes seconds).
  *
  * The cut: when the inherited estimate no longer fits a Long, the
  * checkpointed rows are re-wrapped as a fresh leaf whose default
  * estimate is `defaultSizeInBytes`. Past 2^63 every planner
  * decision (broadcast threshold, join selection) is identical for
  * any value, so the re-wrap changes NOTHING about the chosen plan —
  * it only stops the numbers from growing. Below 2^63 the inherited
  * estimate is kept verbatim: genuinely small relations stay
  * broadcast-eligible and pay zero conversion.
  */
private[graft] object Staging {

  /** Eager local checkpoint with the size-estimate growth cut. */
  def fresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    if (ck.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 62) ck
    else ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Staged relation PLUS its row count, in ONE driver job (guide
    * §2.6): the local checkpoint is taken lazily and one count over the
    * checkpointed RDD materializes the blocks — so an iterative loop
    * that needs its round-carrier staged AND a convergence/emptiness
    * signal pays one job per round, not two (eager-checkpoint job +
    * isEmpty/count probe job — at sf0.1 the iterative graph queries
    * are launch-bound, and per round the probe job was pure scheduling
    * overhead). The count runs on the RDD, not as `Dataset.count()`:
    * that plans a partial count, a single-partition exchange and a
    * final count, and adaptive execution runs the exchange as a job of
    * its own — two jobs per round again. Identical blocks, identical
    * lineage truncation, same stats-snowball cut as [[fresh]]. */
  def freshCounted(df: DataFrame): (DataFrame, Long) = {
    val ck = df.localCheckpoint(false)
    val n = ck.queryExecution.toRdd.count()
    val out =
      if (ck.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 62) ck
      else ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    (out, n)
  }

  /** The improvement-frontier loop of the BFS-family operators
    * ([[Reachability]], [[Centrality]]): `first` is round 0's staged
    * frontier with its row count, `acc` the accumulator it seeds.
    * Round h (1..maxRounds) stages `step(h, frontier, acc)` as the next
    * frontier — one [[freshCounted]] job, whose count is the emptiness
    * probe — and folds it in with `merge`. Stops after `maxRounds`
    * rounds or on an empty frontier; returns the accumulator. Only the
    * frontiers are staged here (each round's definition nests the
    * previous one's — unstaged, the final plan re-derives every round
    * inside every later one); a `merge` that needs its accumulator
    * staged stages it itself. */
  def frontier[A](first: (DataFrame, Long), acc: A, maxRounds: Int)(
      step: (Int, DataFrame, A) => DataFrame)(merge: (A, DataFrame) => A): A = {
    @annotation.tailrec
    def round(h: Int, f: DataFrame, n: Long, out: A): A =
      if (h > maxRounds || n == 0L) out
      else {
        val (next, m) = freshCounted(step(h, f, out))
        round(h + 1, next, m, merge(out, next))
      }
    round(1, first._1, first._2, acc)
  }

  /** The count-converged peel loop of [[KCore]] and [[KTruss]]: `first`
    * is the staged edge carrier with its row count; each round stages
    * `step(carrier)` (one [[freshCounted]] job) until the count is
    * unchanged or 0 — a peel only removes rows, so an unchanged count
    * is an unchanged set. A carrier that is empty from the start runs
    * no round. A peel deeper than `maxRounds` fails loudly
    * (`"<op>: no fixpoint after N peel rounds"`) rather than looping.
    * Returns the fixpoint carrier with its count. */
  def peel(first: (DataFrame, Long), maxRounds: Int, op: String)(
      step: DataFrame => DataFrame): (DataFrame, Long) = {
    @annotation.tailrec
    def round(r: Int, cur: DataFrame, n: Long): (DataFrame, Long) = {
      require(r < maxRounds,
        s"$op: no fixpoint after $maxRounds peel rounds ($n edges live)")
      val (next, m) = freshCounted(step(cur))
      if (m == n || m == 0L) (next, m) else round(r + 1, next, m)
    }
    if (first._2 == 0L) first else round(0, first._1, first._2)
  }
}
