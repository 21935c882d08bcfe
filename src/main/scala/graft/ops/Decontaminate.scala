package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find training documents that share enough
  * word n-gram shingles with any document of an evaluation/benchmark
  * set that they would leak the benchmark into training.
  *
  * Scale shape: the benchmark side is small by nature (eval suites are
  * thousands of docs, the corpus is billions), so its distinct-shingle
  * relation broadcasts — the 100 TB train side is scanned ONCE map-side
  * with no shuffle of raw text. Only matched (train_id, bench_id,
  * shingle) hits — bounded by actual contamination, not corpus size —
  * enter the counting shuffle. Never a text self-join.
  */
object Decontaminate {

  /** Distinct word-3-gram md5 shingles per doc, exploded to
    * (doc_id, sh) rows, via the native ShingleHashesExpr kernel (the
    * transform-lambda formulation evaluates md5 interpreted per
    * shingle — 10x slower measured). The cheap token-count guard keeps
    * the kernel from being evaluated twice (see minhashSignatures).
    * Docs with < 3 tokens have no shingles and cannot be flagged —
    * same convention as MinHash. */
  private[ops] def shingles(docs: DataFrame): DataFrame =
    docs.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(graft.expr.ArrayExprs.shingleHashes(col("text"))).as("sh"))

  /** (train_id, bench_id, n_overlap) for every train/bench pair sharing
    * at least `minOverlap` distinct shingles. `n_overlap` counts
    * distinct shared shingles — the decontamination score a pipeline
    * thresholds on to drop or flag train docs. */
  def overlap(train: DataFrame, bench: DataFrame, minOverlap: Int = 3): DataFrame =
    shingles(train).withColumnRenamed("doc_id", "train_id")
      .join(broadcast(shingles(bench).withColumnRenamed("doc_id", "bench_id")), "sh")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)

  /** Span-level contamination localization: for each training document,
    * the merged word spans whose k-gram shingles appear anywhere in the
    * benchmark set — the surgical-removal complement to [[overlap]]'s
    * doc-level verdict (drop the leaked span, keep the document).
    *
    * Shape: bench contributes only its DISTINCT k-gram hash set
    * (broadcast, eval-suite-sized); the corpus's positioned anchors are
    * map-side (native kernel) and the semi-join against the bench set
    * never shuffles raw text. Only contaminated anchors — bounded by
    * actual leakage — reach the doc-keyed island merge.
    *
    * Output: train_id, span_start / span_end (1-based word positions,
    * inclusive), span_words. */
  def contaminatedSpans(train: DataFrame, bench: DataFrame, k: Int = 8): DataFrame = {
    val benchSet = TextOps.posShingles(bench, k).select(col("h")).distinct()
    val hits = TextOps.posShingles(train, k).join(broadcast(benchSet), Seq("h"), "left_semi")
    TextOps.mergeAnchors(hits, k)
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .select(col("doc_id").as("train_id"),
        col("s").cast("long").as("span_start"),
        (col("e") + (k - 1)).cast("long").as("span_end"),
        (col("e") + k - col("s")).cast("long").as("span_words"))
  }

  /** [[overlap]] with a bloom pre-filter on the train side — the tier
    * for a bench suite whose shingle RELATION outgrows broadcast (every
    * eval suite at once: hundreds of millions of distinct shingles,
    * GBs as rows) while its BLOOM stays tens of MBs at `fpp`.
    *
    * Shape: build the bloom over bench shingles (distributed aggregate,
    * driver-merged bits — metadata-scale, like Spark's runtime join
    * filters), map-side `bloom_might_contain` on the corpus scan, exact
    * join ONLY on survivors. The bloom's one-sided error means the
    * exact join removes every false positive and false negatives
    * cannot exist — the result is bit-identical to [[overlap]]
    * (spec-pinned, and the query twin shares overlap's DuckDB oracle).
    * The exchange then carries ~contamination + fpp·corpus rows
    * instead of every corpus shingle: at 100 TB this is the difference
    * between shuffling the corpus and shuffling the answer. */
  def overlapBloom(train: DataFrame, bench: DataFrame, minOverlap: Int = 3,
      fpp: Double = 0.001): DataFrame = {
    val bs = shingles(bench)
    // expectedNumItems from the (small) bench side, so the bloom is
    // sized to the data instead of a guess — over-sizing wastes
    // executor memory fleet-wide, under-sizing collapses the prune
    // rate. Costs one extra scan of the bench side (small by contract);
    // deliberately no persist: the op stays stateless, nothing lingers
    // in executor storage after the query.
    val n = math.max(bs.count(), 1L)
    val bf = bs.stat.bloomFilter("sh", n, fpp)
    shingles(train).withColumnRenamed("doc_id", "train_id")
      .filter(graft.expr.Bloom.mightContain(col("sh"), bf))
      .join(broadcast(bs.withColumnRenamed("doc_id", "bench_id")), "sh")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }
}
