package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-distribution drift between two snapshots — the monitoring
  * primitive a continuously-ingested training corpus needs: did the
  * new crawl / the post-dedup survivors shift the token distribution,
  * and which tokens moved? Drift is L1 distance between the two token
  * frequency distributions in integer PPM (Σ |p_a − p_b|, p = count ·
  * 10⁶ div total — every step integer multiply/floor-divide, the
  * PageRank lattice discipline, so the statistic replays hash-exact in
  * DuckDB; KL/PSI need ln, whose libm rounding differs across engines
  * — the documented reason TV/L1 is the oracled statistic).
  *
  * Shape: one token-count aggregate per side (map-side combined), one
  * full-outer equi-join on the token STAGED at vocab scale, totals as
  * one collected row folded back in as literals (metadata-scale), top
  * movers by |Δppm| with the token as the total-order tiebreak.
  * O(vocab) state, never O(corpus), and the corpus is scanned exactly
  * once per side.
  */
object Drift {

  /** Top-`k` moving tokens between snapshots `a` and `b` plus the
    * whole-distribution L1 drift attached to every row: (token, cnt_a,
    * cnt_b, ppm_a, ppm_b, delta_ppm, l1_ppm). `text`: the document
    * column to tokenize (whitespace). */
  def tokenDrift(a: DataFrame, b: DataFrame, text: Column, k: Int): DataFrame =
    drift(a.select(explode(split(text, " ")).as("key")),
      b.select(explode(split(text, " ")).as("key")), k)
      .withColumnRenamed("key", "token")

  /** Drift over ANY categorical key — e.g. embedding sign-buckets
    * (did the new batch's vectors land in different LSH cells?),
    * language ids, source labels. Output keyed as `key`. */
  def categoryDrift(a: DataFrame, b: DataFrame, key: Column, k: Int): DataFrame =
    drift(a.select(key.as("key")), b.select(key.as("key")), k)

  /** One-row drift summary (n_a, n_b, n_keys, l1_ppm) straight from
    * per-key COUNT relations — the entry point `drift_at_rest` folds: a
    * standing distribution lives as counts at rest, so the batch-vs-standing
    * comparison should not re-observe rows. `ca`: (key, cnt_a);
    * `cb`: (key, cnt_b). */
  def l1Summary(ca: DataFrame, cb: DataFrame): DataFrame =
    perKeyPpm(ca, cb)
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        count(lit(1)).as("n_keys"),
        sum(abs(col("delta_ppm"))).as("l1_ppm"))

  /** Core: both sides reduced to a single `key` column, one row per
    * observation. `withPpm` is staged before fan-out: the L1 total and
    * the final row set are two consumers, and without staging each
    * would re-run the corpus-scale explode+aggregate underneath
    * (measured 12–24 scans of the corpus in one text_drift_tv /
    * embed_drift plan — the DuckDB oracle marks the same CTEs
    * MATERIALIZED for exactly this reason). */
  private def drift(ka: DataFrame, kb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "drift: k >= 1")
    val withPpm = perKeyPpm(
      ka.groupBy(col("key")).agg(count(lit(1)).as("cnt_a")),
      kb.groupBy(col("key")).agg(count(lit(1)).as("cnt_b")))
      .localCheckpoint(true)
    val l1 = withPpm.agg(sum(abs(col("delta_ppm"))).as("l1_ppm"))
    withPpm.join(broadcast(l1))
      .select(col("key"), col("cnt_a"), col("cnt_b"), col("ppm_a"),
        col("ppm_b"), col("delta_ppm"), col("l1_ppm"))
      .orderBy(abs(col("delta_ppm")).desc, col("key"))
      .limit(k)
  }

  /** Full-outer merge of two (key, cnt) relations with integer-ppm
    * shares and deltas. The merge is staged ONCE (vocab-sized), then
    * the totals come off the staged relation as one collected row —
    * metadata-scale, the Lpa-bounds precedent — which both kills the
    * per-consumer re-evaluation of the corpus-scale aggregate and
    * lets the empty-side contract fail LOUDLY: a ppm share against an
    * empty distribution is undefined, and integer div by a 0 total
    * would otherwise surface as NULL ppm rows summing to a
    * misleadingly small l1_ppm. */
  private def perKeyPpm(ca: DataFrame, cb: DataFrame): DataFrame = {
    val joined = ca.join(cb, Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .localCheckpoint(true)
    val t = joined.agg(sum(col("cnt_a")), sum(col("cnt_b"))).collect().head
    require(!t.isNullAt(0) && t.getLong(0) > 0L,
      "drift: side A has no observations — ppm shares against an empty distribution are undefined")
    require(!t.isNullAt(1) && t.getLong(1) > 0L,
      "drift: side B has no observations — ppm shares against an empty distribution are undefined")
    joined
      .withColumn("n_a", lit(t.getLong(0))).withColumn("n_b", lit(t.getLong(1)))
      .select(col("key"), col("cnt_a"), col("cnt_b"), col("n_a"), col("n_b"),
        expr("(cnt_a * 1000000L) div n_a").as("ppm_a"),
        expr("(cnt_b * 1000000L) div n_b").as("ppm_b"))
      .withColumn("delta_ppm", col("ppm_a") - col("ppm_b"))
  }
}
