package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training: lay each shard's documents out as
  * one concatenated token stream and cut that stream into fixed-length
  * training sequences (concat-and-chunk — zero padding waste, documents
  * may straddle sequence boundaries, the layout GPT-style pipelines
  * feed the trainer).
  *
  * Scale design: ONE shuffle, on `shard` (a pure hash of doc_id), then
  * a per-shard ordered window for the running token offset. The shard
  * count is the parallelism knob — each shard is an independent token
  * stream, which is exactly how data-parallel training consumes them,
  * so correctness doesn't depend on any global order. Every output is a
  * pure function of (doc_id, text), deterministic under retries and
  * re-runs; no Spark partitioning detail leaks into the layout.
  * Documents longer than `seqLen` are pre-split into ceil(n/seqLen)
  * chunks so no window row carries more than `seqLen` tokens — the
  * explode is O(total_tokens / seqLen) rows, not O(docs * max_doc).
  */
object Packing {

  /** For every document chunk: its shard, its start offset in the
    * shard's concatenated token stream, and the training sequence +
    * in-sequence offset where its first token lands.
    *
    * Output: (doc_id, chunk_idx, shard, chunk_tokens, start_tok,
    * seq_id, seq_off). Whitespace tokenization matches
    * [[TextOps.tokenStats]]; `shard` uses [[Sampling.hashBucket32]]
    * mod `shards` so membership is auditable from any engine — the
    * 32-bit hash, not the 256-bucket one: 256 buckets would leave
    * shards beyond 256 permanently empty and skew any non-divisor
    * count (the exact failure `hashBucket32`'s doc warns about).
    */
  def pack(docs: DataFrame, seqLen: Long = 256L, shards: Int = 8): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val chunks = docs
      .withColumn("shard",
        pmod(Sampling.hashBucket32(col("doc_id")), lit(shards)).cast("long"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      // greatest(0, ...) guards n_tokens = 0: sequence(0, -1) would
      // count DOWN ([0, -1]) rather than produce an empty chunk list.
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), greatest(lit(0L), expr(s"(n_tokens - 1) div $seqLen")))))
      .withColumn("chunk_tokens",
        least(lit(seqLen), col("n_tokens") - col("chunk_idx") * lit(seqLen)))
    val stream = Window.partitionBy(col("shard")).orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("start_tok", sum(col("chunk_tokens")).over(stream) - col("chunk_tokens"))
      .select(col("doc_id"), col("chunk_idx"), col("shard"), col("chunk_tokens"),
        col("start_tok"),
        expr(s"start_tok div $seqLen").as("seq_id"),
        pmod(col("start_tok"), lit(seqLen)).as("seq_off"))
  }

  /** Per-sequence roll-up of [[pack]]: how many document chunks start
    * in each sequence and how many of its tokens they fill — the
    * utilization view a pipeline monitors (a healthy concat-and-chunk
    * pack fills every sequence except each shard's last). */
  def packStats(packed: DataFrame): DataFrame =
    packed
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks_starting"),
        sum(col("chunk_tokens")).as("tokens_started_here"))
}
