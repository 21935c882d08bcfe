package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline.
  *
  * Scale design: every variant is shaped as
  *   per-row signature (map-side, codegen'd)  ->  shuffle on signature /
  *   bucket key  ->  per-bucket candidate pairing.
  * No all-pairs products: exact dedup shuffles on the content hash;
  * MinHash LSH shuffles on (band, band-hash); Jaccard and embedding
  * near-dup join only inside equality-blocked buckets. That keeps the
  * shuffled volume O(rows), not O(rows^2), which is what survives 100 TB.
  */
object Dedup {

  private def toks: Column = split(col("text"), " ")

  /** Exact dedup: hash-groupBy on content hash; keeps min doc_id per
    * group (deterministic representative). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word 3-gram shingles -> k MinHash signatures. One md5 per shingle;
    * the k "hash functions" are disjoint 8-hex-char slices of that
    * digest (k <= 4), each inducing an independent ordering — 1/5th the
    * hashing of re-salting per function, same LSH behavior. Runs as the
    * native MinHashSigsExpr kernel (a builtin higher-order-function
    * formulation evaluates its lambdas interpreted per shingle — 10x
    * slower measured). */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 4): DataFrame = {
    require(numHashes <= 4, "4 disjoint 8-char slices per md5")
    val sigCols = (0 until numHashes).map(s => col("sig").getItem(s).as(s"mh$s"))
    // Guard with the cheap token-count predicate rather than filtering
    // the kernel output for null: `filter(sig IS NOT NULL)` pushes below
    // the projection and makes Catalyst evaluate the md5-per-shingle
    // kernel TWICE per row (once in the Filter, once in the Project —
    // observed in the physical plan). The kernel returns null exactly
    // when the doc has < 3 tokens, so this filter is equivalent.
    docs.filter(size(toks) >= 3)
      .select(col("doc_id"), graft.expr.ArrayExprs.minhashSigs(col("text"), numHashes).as("sig"))
      .select(col("doc_id") +: sigCols: _*)
  }

  /** Per-bucket membership with a hard size cap: rank rows inside each
    * bucket by `id` and keep the first `cap`. Plans as WindowGroupLimit,
    * so at most `cap` rows per bucket per input partition ever shuffle —
    * this is what bounds a degenerate bucket (e.g. thousands of
    * near-empty docs sharing a min-hash) to O(cap^2) pair work instead
    * of O(m^2). The truncation is deterministic (smallest ids win) and
    * mirrored verbatim in the DuckDB oracle via QUALIFY. Default caps
    * stay at/below spark.sql.optimizer.windowGroupLimitThreshold (1000)
    * — above it the rank filter stays a full Window instead of the
    * partial-limit rewrite. */
  def capBuckets(df: DataFrame, bucketCols: Seq[Column], id: Column,
      cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCols: _*).orderBy(id.asc)
    df.withColumn("bucket_rank", row_number().over(w))
      .filter(col("bucket_rank") <= cap)
      .drop("bucket_rank")
  }

  /** All ordered pairs (i < j) from a sorted id array, as structs. The
    * lambda runs interpreted, but over exactly the pairs the operator
    * emits — O(output), nothing wasted. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** (doc_id, band, h) rows — the shape a standing near-dup index
    * stores (bucketed by (band, h) at rest). Degenerate buckets are
    * capped at BUILD time, so the bound is paid once, not per probe. */
  def bandIndex(docs: DataFrame, numHashes: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    val sigs = minhashSignatures(docs, numHashes)
    val banded = sigs.select(col("doc_id"), explode(array(
      (0 until numHashes).map(s => struct(lit(s).as("band"), col(s"mh$s").as("h"))): _*
    )).as("b")).select(col("doc_id"), col("b.band").as("band"), col("b.h").as("h"))
    capBuckets(banded, Seq(col("band"), col("h")), col("doc_id"), maxBucket)
  }

  /** Incremental near-dup: candidate (batch, corpus) pairs from probing
    * a new batch's bands against a standing corpus band index — the
    * MinHash twin of [[incrementalExact]]. Only the batch computes
    * signatures; the corpus side is a pre-built [[bandIndex]] relation
    * that at scale lives bucketed on (band, h), so the probe join
    * co-locates without the corpus ever being re-scanned or
    * self-joined. O(batch) new work per batch, independent of corpus
    * size. */
  def incrementalMinhashPairs(batch: DataFrame, corpusBands: DataFrame,
      numHashes: Int = 4, maxBucket: Int = 1000): DataFrame =
    bandIndex(batch, numHashes, maxBucket)
      .join(corpusBands.select(col("doc_id").as("corpus_id"), col("band"), col("h")),
        Seq("band", "h"))
      .select(col("doc_id").as("batch_id"), col("corpus_id"))
      .distinct()

  /** LSH banding: candidate pairs = docs agreeing on any band's MinHash.
    * Shape: [[bandIndex]] (signature kernel in one corpus pass, ONE
    * shuffle on the bucket key, capped buckets) -> per-bucket pair
    * generation -> distinct. Earlier rounds wrote this as a bucket-key
    * self-join, which evaluated the signature kernel once per join side
    * (two full corpus scans) and was the slowest query in the r2 bench;
    * grouping generates the same pair set from a single pass. */
  def minhashCandidatePairs(docs: DataFrame, numHashes: Int = 4,
      maxBucket: Int = 1000): DataFrame =
    // The cap window and the groupBy hash-partition on the same (band, h)
    // key, so the aggregation reuses the window's exchange — one shuffle.
    bandIndex(docs, numHashes, maxBucket)
      .groupBy(col("band"), col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

  /** SimHash: per-token hash bit-decomposed; signed bit-count per doc;
    * sign vector packed into an int. `bits` <= 16 (md5 hex digit parity
    * per position — cheap and engine-agnostic). */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    val tokensDf = docs.select(col("doc_id"), explode(toks).as("token"))
      .withColumn("h", md5(col("token")))
    val sums = (1 to bits).map { j =>
      // bit j = parity of j-th hex digit of md5(token); identical SQL text
      // runs on the DuckDB side, keeping both engines bit-for-bit equal.
      sum(expr(s"((position(substr(h, $j, 1) IN '0123456789abcdef') - 1) % 2) * 2 - 1"))
        .as(s"s$j")
    }
    val packed = (1 to bits).map { j =>
      when(col(s"s$j") >= 0, lit(1L << (j - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
    tokensDf.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-dup PAIRS within Hamming distance `maxDist` via the
    * pigeonhole banding: split the `bits`-bit signature into
    * `maxDist + 1` bands — any pair within distance maxDist differs in
    * at most maxDist bands, so at least one band matches exactly, which
    * makes the banding itself lossless (unlike MinHash banding's
    * probabilistic recall). The ONE deliberate recall bound is the
    * bucket cap shared by every dedup operator: band buckets larger
    * than `maxBucket` keep only their `maxBucket` smallest doc_ids
    * (deterministically, mirrored in the oracle), so a degenerate
    * signature costs O(cap²), never O(m²) — pairs entirely outside the
    * kept prefix are dropped, the documented trade for a bounded
    * worst case. The exact Hamming check (bit_count(a XOR b) <=
    * maxDist) then removes banding false positives. Shuffle volume is
    * O(rows x bands) narrow band rows — signatures never re-derive
    * from text on the pair side.
    */
  def simhashPairs(docs: DataFrame, bits: Int = 16, maxDist: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    hammingPairs(simhash(docs, bits).select(col("doc_id"), col("simhash").as("sig")),
      bits, maxDist, maxBucket)

  /** Exact Hamming near-dup pairs over ANY integer-signature relation
    * `(doc_id, sig)` — the pigeonhole-banding core shared by
    * [[simhashPairs]] (text SimHash) and the perceptual image-hash
    * dedup (`mm.Media.nearDupImagePairs`): split the signature into
    * `maxDist + 1` bands; two signatures within `maxDist` MUST agree on
    * at least one band (lossless for <= maxDist), so the candidate join
    * is a capped-bucket equi-join on (band, value), never all-pairs,
    * and the exact `bit_count(xor)` filter runs only on candidates. */
  def hammingPairs(sigs: DataFrame, bits: Int, maxDist: Int,
      maxBucket: Int = 1000): DataFrame = {
    val nBands = maxDist + 1
    require(bits >= 1 && bits <= 64, s"hammingPairs: bits must be in [1, 64], got $bits")
    require(bits % nBands == 0,
      s"hammingPairs: bits=$bits must divide into ${nBands} bands (maxDist + 1)")
    val w = bits / nBands
    // w == 64 only when nBands == 1 (exact equality): (1L << 64) wraps
    // to 1 in JVM shift semantics, so the whole-signature band skips
    // the mask instead of silently masking to zero
    def bandVal(b: Int) =
      if (w == 64) col("sig")
      else shiftright(col("sig"), b * w).bitwiseAND(lit((1L << w) - 1))
    val banded = sigs.select(col("doc_id"), col("sig"), explode(array(
        (0 until nBands).map(b => struct(lit(b).as("band"), bandVal(b).as("bv"))): _*
      )).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band").as("band"), col("b.bv").as("bv"))
    val capped = capBuckets(banded, Seq(col("band"), col("bv")), col("doc_id"), maxBucket)
    val a = capped.select(col("doc_id").as("id_a"), col("sig").as("ha"),
      col("band"), col("bv"))
    val b = capped.select(col("doc_id").as("id_b"), col("sig").as("hb"),
      col("band"), col("bv"))
    val hamming = bit_count(col("ha").bitwiseXOR(col("hb")))
    a.join(b, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ha"), col("hb")).distinct()
      .filter(hamming <= maxDist)
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
  }

  /** Winnowing-fingerprint near-dup pairs — the MOSS pairing step:
    * documents sharing winnow fingerprints become candidates, scored by
    * how many DISTINCT fingerprints they share (each shared fingerprint
    * witnesses a shared k-gram, and any shared run >= k + w - 1 words
    * is guaranteed to produce one). Fingerprint buckets are capped like
    * every other dedup bucket (same recall-for-boundedness trade as
    * [[simhashPairs]]); the pair aggregation is a plain count on
    * (id_a, id_b) — partial map-side, one shuffle of pair rows.
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxBucket: Int = 1000): DataFrame = {
    val fps = TextOps.winnow(docs, k, w)
    val capped = capBuckets(fps, Seq(col("fp")), col("doc_id"), maxBucket)
    val a = capped.select(col("fp"), col("doc_id").as("id_a"))
    val b = capped.select(col("fp"), col("doc_id").as("id_b"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT 3-gram-shingle-set Jaccard >= `tauNum/tauDen` pairs — the
    * truth side of dedup_recall, factored out so the differential spec
    * can pin it against a brute-force all-pairs scan. Complete for any
    * tau > 0: a qualifying pair shares >= 1 shingle, so the postings
    * self-join enumerates a superset (sum-of-df² cost, never |S|²).
    *
    * r18 size-ratio prefilter (guide §2.3 — shuffle/aggregate fewer
    * rows): J(A,B) = |A∩B|/|A∪B| <= min(|A|,|B|)/max(|A|,|B|), so
    * J >= tau implies tauDen·min >= tauNum·max. The ratio check rides
    * the postings join as a residual — a pair that fails it is dropped
    * BEFORE the per-pair aggregate, and it can never have reached tau
    * (strictly: min/max <= tau − 1/(den·max) < tau, a gap far above
    * double rounding), so the pair set out of the final filter is
    * IDENTICAL (DedupOpsSpec proves it differentially). Sizes ride the
    * postings rows (one int), which also removes the two size joins
    * the old formulation paid after the aggregate. */
  def exactShingleJaccardPairs(docs: DataFrame,
      tauNum: Long = 1L, tauDen: Long = 2L): DataFrame = {
    val ts = docs.select(col("doc_id"),
        graft.expr.ArrayExprs.shingleHashes(col("text")).as("ts"))
      .filter(col("ts").isNotNull) // < 3 tokens: can't shingle, can't band
    val posts = ts.select(col("doc_id"), size(col("ts")).cast("long").as("n"),
      explode(col("ts")).as("sh"))
    posts.alias("x")
      .join(posts.alias("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")) * tauDen >=
            greatest(col("x.n"), col("y.n")) * tauNum)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_shared"))
      // the EXACT threshold, same double comparison as the oracle
      .filter(col("n_shared").cast("double") /
        (col("na") + col("nb") - col("n_shared")).cast("double") >=
        tauNum.toDouble / tauDen.toDouble)
      .select(col("id_a"), col("id_b"))
  }

  /** Connected components over an undirected candidate-pair edge list:
    * turns pairwise duplicate evidence into duplicate CLUSTERS, each
    * labeled by its minimum member id — the canonical representative a
    * dedup pipeline keeps.
    *
    * Algorithm: hash-to-min label propagation (Rastogi et al.,
    * "Finding Connected Components in Map-Reduce in Logarithmic
    * Rounds"). Each round: (1) PULL — every node takes the min of its
    * own and its neighbors' labels; (2) PUSH — every node sends that
    * min to its current label node; (3) JUMP — every node also pulls
    * the min at its label node. The push step is what makes this
    * converge in O(log d) rounds: a pull-only rule (even with pointer
    * jumping) plateaus at local minima and degrades to O(d) — measured
    * 17 rounds pull-only vs 7 hash-to-min on the same near-dup graph.
    * On a 100 TB corpus where a chain of near-dup pairs can be long,
    * that is the difference between ~8 shuffles and ~hundreds. Each
    * round is O(E) shuffle; `localCheckpoint` caps lineage so round
    * N's plan doesn't re-derive rounds 1..N-1. Labels only ever
    * decrease, so the fixpoint is exactly the per-component min
    * regardless of join order.
    *
    * Duplicate-cluster graphs are unions of band cliques (diameter is
    * tiny in practice); `maxIter` is a safety bound, not a tuning knob,
    * and the loop FAILS LOUDLY if it trips — an unconverged label map
    * would silently under-merge clusters.
    *
    * Checkpoints are EAGER: a lazily-marked checkpoint (eager=false)
    * did not reliably truncate lineage under AQE here — per-round cost
    * grew geometrically past ~10 rounds (0.4 s → 122 s/round measured
    * on a 14-round graph) as later plans re-derived earlier rounds.
    * Eager materialization costs one extra tiny job per round and makes
    * every round flat.
    *
    * ADAPTIVE small-graph path: the candidate-pair graph is orders of
    * magnitude smaller than the corpus (only near-dups produce edges —
    * 50k docs yield ~13k edges here), so after the one mandatory edge
    * materialization, if the graph fits comfortably in a single task
    * (`localEdgeLimit`, default 4M undirected edges ≈ 128 MB) it is
    * solved exactly by union-find in ONE executor task instead of ~7
    * full shuffle rounds (measured: 2M edges / 865k nodes collapsing
    * to a single worst-case giant component finish in ~10 s end to
    * end, most of it upstream edge materialization). This is not a driver-side collect — the
    * mapPartitions task runs on an executor and the result re-enters
    * the plan as a (tiny, broadcastable) relation. Above the limit the
    * distributed hash-to-min loop below takes over — same output,
    * proven by a differential spec.
    *
    * Returns (node, label). Nodes with no edge are absent — callers
    * coalesce to the node's own id.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      localEdgeLimit: Long = 4L << 20): DataFrame = {
    // Integral ids are the CC contract; the cast makes BOTH execution
    // paths emit long node/label columns, so the output schema does not
    // depend on which path the data volume selects.
    val fwd = pairs.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
    // materialized once, re-joined every round; staged and counted for
    // the size gate in ONE driver job (§2.6)
    val (edges, nEdges) = Staging.freshCounted(
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))))
    if (nEdges <= 2 * localEdgeLimit) return unionFindLocal(edges)
    // Round 0 folded into the init: label = min(self, neighbors). A band
    // clique (the common dup-graph shape) is already converged here, so
    // the loop's first pass is just the fixpoint confirmation.
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    var cached = labels
    while (!converged && iter < maxIter) {
      // PULL: m(v) = min(label(v), label of every neighbor). The one
      // O(E) join of the round.
      val m = labels
        .union(edges.join(labels, edges("dst") === labels("node"))
          .select(edges("src").as("node"), col("label")))
        .groupBy("node").agg(min("label").as("m"))
      val mRen = m.select(col("node").as("m_node"), col("m"))
      // PUSH: v sends m(v) to its label node — the reverse-direction
      // flow that breaks pull-only plateaus (label nodes learn the
      // smaller min discovered anywhere in their cluster-in-progress).
      val push = labels.join(mRen, labels("node") === mRen("m_node"))
        .select(labels("label").as("node"), col("m").as("label"),
          lit(null).cast("long").as("prev"))
      // JUMP: v pulls m(label(v)) — pointer-jumping on the label graph.
      val jump = labels.join(mRen, labels("label") === mRen("m_node"))
        .select(labels("node"), col("m").as("label"),
          lit(null).cast("long").as("prev"))
      val self = m.select(col("node"), col("m").as("label"),
        lit(null).cast("long").as("prev"))
      // The old label rides along as `prev` (min ignores the nulls from
      // the propagation rows), so convergence is a filter over the
      // checkpointed result — no extra shuffle join per round. The
      // checkpoint is LAZY: the changed-count action materializes the
      // blocks, so the stage + convergence probe are one driver job —
      // counted on the RDD, as `Staging.freshCounted` does, because
      // `Dataset.count()` runs its single-partition exchange as a job of
      // its own under adaptive execution.
      val next = labels.select(col("node"), col("label"), col("label").as("prev"))
        .union(self).union(push).union(jump)
        .groupBy("node").agg(min("label").as("label"), min("prev").as("prev"))
        .localCheckpoint(false)
      val changed = next.filter(col("label") < col("prev")).queryExecution.toRdd.count()
      cached.unpersist()
      cached = next
      labels = next.select(col("node"), col("label"))
      converged = changed == 0
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds - " +
        "an unconverged label map would silently under-merge clusters")
    finishCc(edges, labels)
  }

  private def finishCc(edges: DataFrame, labels: DataFrame): DataFrame = {
    // The edge checkpoint is dead once the fixpoint is reached (the
    // returned labels' lineage was cut by their own checkpoint); free
    // its blocks instead of pinning O(E) storage for the session.
    edges.unpersist()
    // The returned frame is backed by the final round's cached blocks;
    // long-lived callers should unpersist after consuming it.
    labels
  }

  /** Exact single-task components for a small edge relation: coalesce
    * to one executor task, remap node ids to dense ints (sort + binary
    * search over a primitive long array), run union-find over an Int
    * parent array, emit (node, label = component-min id). Everything is
    * primitive arrays — no boxing — so memory is ~16·E transient for
    * the edge buffer plus ~12·N for nodes+parents: the default 4M-edge
    * limit costs ~128 MB + ~100 MB in the one task, a budget any
    * executor has. Output schema and values are identical to the
    * iterative path. */
  private def unionFindLocal(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val tup = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val labels = edges
      .select(col("src"), col("dst"))
      .as(tup)
      .coalesce(1)
      .mapPartitions { it =>
        val srcB = Array.newBuilder[Long]
        val dstB = Array.newBuilder[Long]
        it.foreach { case (a, b) => srcB += a; dstB += b }
        val src = srcB.result(); val dst = dstB.result()
        // dense remap: sorted distinct node ids (primitive sort +
        // in-place dedup — scala's .distinct would box); index = dense id
        val all = new Array[Long](src.length + dst.length)
        System.arraycopy(src, 0, all, 0, src.length)
        System.arraycopy(dst, 0, all, src.length, dst.length)
        java.util.Arrays.sort(all)
        var n = 0
        var j = 0
        while (j < all.length) {
          if (n == 0 || all(j) != all(n - 1)) { all(n) = all(j); n += 1 }
          j += 1
        }
        val nodes = java.util.Arrays.copyOf(all, n)
        val idx = (x: Long) => java.util.Arrays.binarySearch(nodes, x)
        val parent = Array.tabulate(nodes.length)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression keeps the scan amortized ~O(E α(N))
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        var i = 0
        while (i < src.length) {
          val ra = find(idx(src(i))); val rb = find(idx(dst(i)))
          // union-by-min: dense ids preserve the id order, so the
          // smaller dense root IS the smaller node id and the invariant
          // "root == min member of its component" holds at every step.
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          i += 1
        }
        nodes.indices.iterator.map(n => (nodes(n), nodes(find(n))))
      }(tup)
      .toDF("node", "label")
      // Eager checkpoint: materializes the (tiny) result so the edge
      // blocks it was derived from can be freed immediately.
      .localCheckpoint()
    edges.unpersist()
    labels
  }

  /** Star edges per LSH bucket: (bucket-min id, other member) instead
    * of all C(m,2) member pairs. For CONNECTIVITY the star is
    * equivalent to the clique — every bucket member reaches every other
    * through the hub — so connected components over stars equal
    * components over the full candidate-pair set, while a size-m bucket
    * contributes m-1 edges instead of m(m-1)/2 and needs no
    * cross-bucket `distinct`. This is what makes clustering affordable
    * where pair *scoring* (which genuinely needs each pair) is not. */
  private[ops] def bucketStarEdges(docs: DataFrame, numHashes: Int,
      maxBucket: Int): DataFrame = {
    // the SAME capped band relation the pair-scoring path probes
    // ([[bandIndex]]): any change to the banding shape reaches both
    // paths, keeping star-component connectivity equal to pair
    // connectivity by construction
    bandIndex(docs, numHashes, maxBucket)
      .groupBy(col("band"), col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      // slice length = size(ids): Int.MaxValue here overflows in Slice's
      // INTERPRETED eval (start + length wraps negative -> empty array),
      // which would silently emit zero edges under codegen fallback.
      .select(element_at(col("ids"), 1).as("id_a"),
        explode(slice(col("ids"), lit(2), size(col("ids")))).as("id_b"))
  }

  /** Full dedup verdict for a corpus: every document gets its duplicate
    * cluster's canonical id (min doc_id over the connected component of
    * MinHash candidate pairs; singletons are their own cluster) and a
    * keep/drop flag. This is the end-to-end output a training-data
    * pipeline actually consumes — pairs are evidence, this is the
    * decision. Connectivity comes from bucket STARS (see
    * bucketStarEdges): identical components to the full pair set at a
    * fraction of the edge volume. */
  def clusters(docs: DataFrame, numHashes: Int = 4, maxBucket: Int = 1000): DataFrame =
    clusterVerdict(docs.select(col("doc_id")), "doc_id",
      connectedComponents(bucketStarEdges(docs, numHashes, maxBucket)))

  /** The cluster verdict convention, shared by every similarity graph
    * (text MinHash, embedding cosine, ...): each id gets its
    * component's min id as cluster_id (singletons: own id) and a keep
    * flag marking the canonical representative. Keeping this in ONE
    * place is what guarantees the text and embedding dedup verdicts
    * can't silently diverge. */
  def clusterVerdict(ids: DataFrame, idCol: String, cc: DataFrame): DataFrame =
    ids.join(cc, ids(idCol) === cc("node"), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("cluster_id"))
      .withColumn("keep",
        when(col(idCol) === col("cluster_id"), lit(1L)).otherwise(lit(0L)))

  /** Keep-best dedup policy: where [[clusterVerdict]] keeps each
    * cluster's minimum id, this keeps its highest-QUALITY member — the
    * policy real pipelines want when near-dups differ (e.g. one copy is
    * truncated). Quality here is (n_chars DESC, doc_id ASC): longest
    * member wins, id breaks ties deterministically.
    *
    * Scale: two phases, neither with a hot-partition risk. Phase 1 is
    * a per-cluster argmax as a packed struct max — partial+final
    * HashAggregate, so a pathological transitive cluster (bucket caps
    * bound per-BUCKET membership, not component size) is reduced
    * map-side before any shuffle sees it, where a Window partitioned
    * by cluster_id would funnel the whole cluster through one task.
    * Phase 2 joins the 1-row-per-cluster best back — broadcast while
    * the cluster directory fits (the hint below), and if it ever
    * outgrows broadcast, dropping the hint degrades to an AQE
    * skew-splittable SMJ, still never a single-task window. */
  def keepBest(docs: DataFrame, numHashes: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val clustered = clusters(docs, numHashes, maxBucket)
      .select(col("doc_id"), col("cluster_id"))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    // argmax(n_chars DESC, doc_id ASC) == max of (n_chars, -doc_id)
    // under lexicographic struct ordering
    val best = clustered.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg_id")).as("best_id"))
    clustered.join(broadcast(best), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        when(col("doc_id") === col("best_id"), lit(1L)).otherwise(lit(0L)).as("keep_best"))
  }

  /** Incremental exact dedup: the operational shape at scale. A standing
    * corpus is never re-deduped; each new batch is checked against the
    * corpus's content-hash index and within itself. Returns the batch
    * rows that survive (first copy per new hash, nothing already in the
    * corpus).
    *
    * Scale: one shuffle of the batch on its content hash (the groupBy),
    * one hash-keyed anti-join against the index. The index side is a
    * (hash) relation — at 100 TB it lives as a table bucketed by hash,
    * so the anti-join co-locates without shuffling the corpus; the
    * batch (small side) is what moves. */
  def incrementalExact(batch: DataFrame, corpusHashes: DataFrame): DataFrame =
    batch.withColumn("text_hash", md5(col("text")))
      .join(corpusHashes, Seq("text_hash"), "left_anti")
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_batch"))

  /** n-gram (token-set) Jaccard scored over MinHash-LSH candidate
    * pairs. Earlier rounds blocked on `(source, n_chars)` equality —
    * that both misses near-dups that differ by a single character
    * (recall) and goes quadratic inside a hot length class. Blocking on
    * the MinHash bands targets *content* similarity: candidates come
    * from `minhashCandidatePairs` (bounded per-bucket work), then the
    * exact token-set Jaccard is computed for just those pairs via two
    * doc_id equi-joins — O(candidates), never O(block^2).
    * Inclusion-exclusion avoids a union materialize. */
  def ngramJaccardPairs(docs: DataFrame, numHashes: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    val cand = minhashCandidatePairs(docs, numHashes, maxBucket)
    // One tokset relation, self-joined by alias (renames above the
    // join): both sides shuffle on doc_id over the identical subtree,
    // so at SMJ scale the second lookup is a ReusedExchange — docs are
    // tokenized once, not twice.
    val t = docs.select(col("doc_id"), array_distinct(toks).as("tokset"))
    val ta = t.alias("ta")
    val tb = t.alias("tb")
    cand
      .join(ta, col("id_a") === col("ta.doc_id"))
      .join(tb, col("id_b") === col("tb.doc_id"))
      .withColumn("inter", size(array_intersect(col("ta.tokset"), col("tb.tokset"))))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (size(col("ta.tokset")) + size(col("tb.tokset")) - col("inter")).cast("double"))
          .as("jaccard"))
  }
}
