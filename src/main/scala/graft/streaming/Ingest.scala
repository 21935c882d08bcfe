package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous near-dup corpus ingestion — the `ingest` command's
  * engine and the streaming counterpart of `Dedup.incrementalMinhashPairs`.
  * New documents arrive as a parquet file stream; [[startNearDupIngest]]
  * runs [[processNearDupBatch]] once per micro-batch, keyed by the
  * epoch id. A batch doc survives only if no smaller-id doc in the
  * batch shares a MinHash band with it and no standing-corpus doc
  * does (a probe of the standing band index). Optional gates ride in
  * the same step: a linear quality classifier, benchmark
  * decontamination, the CDC chunk gate ([[CdcGate]]) and the embedding
  * gate ([[EmbedGate]]); a drift monitor ([[DriftIngest]]) can watch
  * the raw batch first.
  *
  * Scale: every standing index is epoch-partitioned parquet probed by
  * an equi-join on its key, so per-batch work is O(batch) and the
  * corpus is never re-scanned. Replays are idempotent: each sink is
  * written with dynamic partition overwrite on `batch_id`
  * ([[StandingStore.writePartition]]).
  */
object Ingest {

  /** Chunk-grain revision gate: probe/extend a standing CDC chunk-hash
    * index at `indexPath` (same epoch-partitioned idempotent layout as
    * the band index). A batch doc whose known-chunk share — chunk
    * occurrences already present in the standing index — reaches
    * `dupFrac` is dropped as a re-chunked REVISION of already-ingested
    * content: the robustness CDC chunking exists for
    * (`TextOps.cdcChunks` — content-defined cuts keep unedited spans'
    * chunk hashes stable under insertions), and a catch MinHash banding
    * makes only probabilistically (an edit can displace all band
    * minima while most chunks are untouched). O(batch) per epoch: the
    * standing side is probed by a chunk_hash equi-join (bucketed by
    * that key at rest it co-locates), never re-scanned. */
  final case class CdcGate(indexPath: String, k: Int = 4, modulus: Int = 16,
      dupFrac: Double = 0.5)

  /** Embedding near-dup gate: probe/extend a standing sign-bucket
    * embedding index at `indexPath` (same epoch-partitioned idempotent
    * layout as the band index). A batch doc whose quantized-cosine
    * against ANY standing vector in its (multi-probed) LSH bucket
    * reaches `threshold` is dropped as a SEMANTIC near-dup — the
    * paraphrase/translation/re-render case no text-shingle gate can
    * see (every band minimum moves, every CDC chunk hash changes, but
    * the embedding barely does). Catches and misses are the standard
    * sign-LSH trade: `probeDist` sign-bit flips widen recall on the
    * QUERY side only — the standing index buckets once and is probed
    * by a bucket equi-join, O(batch · bucket-occupancy) per epoch,
    * never re-scanned. The index stores the quantized vectors
    * themselves (exact integer cosine at probe time); with
    * `usePq = true` the index stores PQ CODES + reconstruction norm
    * instead (~64x smaller at rest — the 100 TB configuration): the
    * codebooks train ONCE on the first non-empty batch (deterministic,
    * so a replayed first epoch retrains identically) and persist
    * beside the index; probing scores the batch's EXACT vectors
    * against stored codes via ADC dot tables (ops/Pq), so the
    * threshold compares the asymmetric cosine — approximate by the
    * codebook's quantization error, which is near zero exactly where
    * the gate matters (a paraphrase's vector barely moves, so its ADC
    * cosine stays ~1). Only engages when the stream carries an
    * `embedding` column (enforced loudly). */
  final case class EmbedGate(indexPath: String, threshold: Double = 0.9,
      bits: Int = 8, probeDist: Int = 1, usePq: Boolean = false,
      pqM: Int = 8, pqDims: Int = 64, pqCodes: Int = 16)

  /** One micro-batch of near-dup-aware ingestion — the foreachBatch body
    * of [[startNearDupIngest]], exposed so batch replays and specs drive
    * it directly. Semantics: a batch doc survives iff (a) no smaller-id
    * batch doc shares a MinHash band with it (greedy first-seen-wins
    * WITHIN the batch; docs linked only transitively — through a dropped
    * middleman, never directly colliding — survive, a deterministic
    * recall trade documented here; full transitive closure is the batch
    * [[Dedup.clusters]] path), and (b) no standing-corpus doc shares a
    * band with it (the incremental band-index probe). Survivors land in
    * the corpus at `outPath` AND their bands in the index at
    * `indexPath`, so the NEXT batch's probe sees them.
    *
    * Idempotence under at-least-once: both sinks are partitioned by
    * `batch_id` and written with dynamic-partition OVERWRITE, and the
    * standing-index probe EXCLUDES the current batch's own partition —
    * so a replayed epoch (including one that died between the two
    * writes) recomputes the identical survivor set and overwrites its
    * own partitions, never appending duplicates. The batch signature
    * pass runs ONCE: bands are built and persisted, and the in-batch
    * pairs, the corpus probe, and the survivor index all derive from
    * that one relation.
    *
    * Scale: per-batch work is O(batch) — the corpus side is the standing
    * band index, probed by an equi-join on (band, h) (bucketed by that
    * key at rest it co-locates without a corpus shuffle), never
    * re-scanned as text and never self-joined. All dedup state lives in
    * the index relation — bounded by corpus size, nothing accumulates in
    * the stream's state store. */
  def processNearDupBatch(batch: DataFrame, indexPath: String, outPath: String,
      batchId: Long, numHashes: Int = 4, maxBucket: Int = 1000,
      bench: Option[graft.ops.Decontaminate.BenchGate] = None,
      classifier: Option[(Seq[(String, Long)], Long, Double)] = None,
      cdc: Option[CdcGate] = None,
      embed: Option[EmbedGate] = None,
      compactIndexEvery: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // learned quality gate FIRST (optional): projection-only margin
    // threshold — a sub-threshold doc neither pairs, nor probes the
    // corpus index, nor extends it (the Prepare stage-1b twin, applied
    // per micro-batch; the weights ride inside the kernel, O(batch)).
    // PERSISTED: three lineages consume it (banding, the decon probe,
    // the survivors anti-join) — unpersisted, the scoring scan would
    // re-run per consumer (the same reason Prepare stages its gate).
    val gated = (classifier match {
      case Some((w, bias, thr)) =>
        batch.join(graft.ops.Classify.scoreLinear(batch, w, bias, thr)
          .filter(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
      case None => batch
    }).persist()
    try {
    // an all-gated batch writes NOTHING (skipping is replay-safe: the
    // epoch deterministically re-computes empty) — a zero-row parquet
    // write would leave a schema-less dir that poisons the next
    // epoch's standingBands read
    if (gated.isEmpty) return
    val bands = Dedup.bandIndex(gated, numHashes, maxBucket).persist()
    try {
      // benchmark decontamination FIRST: probe the STANDING gate
      // (bloom + cached bench shingles, built once at stream start) —
      // O(batch) per epoch. Contaminated docs are excluded from the
      // in-batch pair generation BEFORE it runs: a leaked doc must not
      // become the dedup representative that shadows a clean near-dup
      // (the clean twin would otherwise be dropped alongside it and
      // its content lost entirely). persist: feeds the band filter AND
      // the dropped union.
      val contaminated = (bench match {
        case Some(g) => graft.ops.Decontaminate.contaminatedIds(gated, g)
        case None => spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
      }).persist()
      try {
        val cleanBands = bands.join(contaminated, Seq("doc_id"), "left_anti")
        val inBatchDropped = Dedup.candidatePairsFromBands(cleanBands)
          .select(col("id_b").as("doc_id")).distinct()
        val keptBands = cleanBands.join(inBatchDropped, Seq("doc_id"), "left_anti")
        val corpusHits = standingBands(spark, indexPath) match {
          case Some(corpus) =>
            keptBands.join(corpus.filter(col("batch_id") =!= batchId)
                .select(col("band"), col("h")),
              Seq("band", "h"), "left_semi")
              .select(col("doc_id")).distinct()
          case None => spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
        }
        // chunk-grain revision gate (optional): a doc most of whose CDC
        // chunks are already in the standing chunk index is a re-chunked
        // revision — dropped even when every band minimum moved. The
        // chunk relation is persisted: the hit probe and the survivor
        // index write both consume it.
        val chunks = cdc.map(c =>
          graft.ops.TextOps.cdcChunks(gated, c.k, c.modulus)
            .select(col("doc_id"), col("chunk_hash")).persist())
        try {
          val chunkHits = cdc.zip(chunks).map { case (c, ch) =>
            standingBands(spark, c.indexPath) match {
              case Some(idx) =>
                val known = ch.join(
                    idx.filter(col("batch_id") =!= batchId).select(col("chunk_hash")),
                    Seq("chunk_hash"), "left_semi")
                  .groupBy(col("doc_id")).agg(count(lit(1)).as("n_known"))
                ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
                  .join(known, Seq("doc_id"))
                  .filter(col("n_known").cast("double") >=
                    col("n_chunks").cast("double") * c.dupFrac)
                  .select(col("doc_id"))
              case None => spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
            }
          }.getOrElse(spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0))
          // embedding gate (optional): quantize + sign-bucket the batch
          // once; persisted because the corpus probe AND the survivor
          // index write both consume it
          val embVecs = embed.map { g =>
            require(gated.columns.contains("embedding"),
              "EmbedGate requires the stream to carry an `embedding` column")
            import graft.ops.Similarity
            // null embeddings can neither match (null cosine never
            // reaches a threshold) nor be matched — indexing them would
            // only accrete dead rows, so they pass the gate unindexed
            gated.filter(col("embedding").isNotNull)
              .select(col("doc_id"), Similarity.quantize(col("embedding")).as("qv"))
              .withColumn("nrm", Similarity.sqNorm(col("qv")))
              .withColumn("bucket", Similarity.signBucket(col("qv"), g.bits))
              .persist()
          }
          try {
            // (hits to drop, rows every batch doc would contribute to
            // the standing index — the caller anti-joins the dropped)
            val embedGate = embed.zip(embVecs).map { case (g, pe) =>
              embedHitsAndIndexRows(spark, g, pe, batchId)
            }
            val embedHits = embedGate.map(_._1)
              .getOrElse(spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0))
            // dropped feeds the sink writes (several actions) — persist so
            // the corpus/chunk probe joins run once
            val dropped = inBatchDropped.unionByName(corpusHits)
              .unionByName(contaminated).unionByName(chunkHits)
              .unionByName(embedHits).persist()
            try {
              val survivors = gated.join(dropped, Seq("doc_id"), "left_anti")
              writeBatchPartition(survivors, outPath, batchId)
              writeBatchPartition(bands.join(dropped, Seq("doc_id"), "left_anti"),
                indexPath, batchId)
              // survivors' chunks extend the standing chunk index, so the
              // NEXT epoch's revision probe sees them (same idempotent
              // epoch-partition overwrite as the band index)
              cdc.zip(chunks).foreach { case (c, ch) =>
                writeBatchPartition(ch.join(dropped, Seq("doc_id"), "left_anti"),
                  c.indexPath, batchId)
              }
              // ...and survivors' vectors (or PQ codes) extend the
              // standing embed index
              embed.zip(embedGate).foreach { case (g, (_, indexRows)) =>
                writeBatchPartition(indexRows.join(dropped, Seq("doc_id"), "left_anti"),
                  g.indexPath, batchId)
              }
            } finally dropped.unpersist(blocking = false)
          } finally embVecs.foreach(_.unpersist(blocking = false))
        } finally chunks.foreach(_.unpersist(blocking = false))
      } finally contaminated.unpersist(blocking = false)
    } finally bands.unpersist(blocking = false)
    } finally gated.unpersist(blocking = false)
    // fold the standing indexes' per-epoch partitions periodically so
    // the file-listing cost per micro-batch stays bounded (the current
    // epoch's partition is never folded — replay safety; see
    // compactIndex)
    compactIndexEvery.foreach { n =>
      if (n > 0 && batchId > 0 && batchId % n == 0) {
        compactIndex(spark, indexPath, batchId)
        cdc.foreach(c => compactIndex(spark, c.indexPath, batchId))
        embed.foreach(g => compactIndex(spark, g.indexPath, batchId))
      }
    }
  }

  /** The embed gate's probe + index-contribution, both modes. Returns
    * (doc_ids to drop, the rows every batch doc would add to the
    * standing index — the caller anti-joins the dropped before
    * writing). Exact mode stores/compares quantized vectors; PQ mode
    * stores 8-byte codes + reconstruction norm and scores the batch's
    * EXACT vectors against them via ADC dot tables. */
  private def embedHitsAndIndexRows(spark: SparkSession, g: EmbedGate,
      pe: DataFrame, batchId: Long): (DataFrame, DataFrame) = {
    import graft.ops.{Pq, Similarity}
    val empty = spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
    def flips(df: DataFrame) =
      df.withColumn("flip", explode(array(
          Similarity.probeMasks(g.bits, g.probeDist).map(lit): _*)))
        .withColumn("bucket", col("bucket").bitwiseXOR(col("flip")))
    if (!g.usePq) {
      val hits = standingBands(spark, g.indexPath) match {
        case Some(idx) =>
          val corpus = idx.filter(col("batch_id") =!= batchId)
            .select(col("bucket"), col("qv").as("c_qv"), col("nrm").as("c_nrm"))
          // fan-out rides the BATCH side only (probeMasks are plan-time
          // literals); the standing index never widens
          corpus.join(
              flips(pe).select(col("doc_id"), col("bucket"), col("qv"), col("nrm")),
              Seq("bucket"))
            .filter(Similarity.cosine(col("qv"), col("c_qv"),
              col("nrm"), col("c_nrm")) >= g.threshold)
            .select(col("doc_id")).distinct()
        case None => empty
      }
      (hits, pe)
    } else {
      // codebooks: train ONCE on the first non-empty batch (the same
      // deterministic discipline as every quantizer here, so a replayed
      // first epoch retrains bit-identical books), persist beside the
      // index, reuse forever after
      val booksPath = g.indexPath + "_books"
      val books = standingBands(spark, booksPath) match {
        case Some(df) => Pq.booksFromDf(df)
        case None if pe.isEmpty => Array.empty[Pq.Book]
        case None =>
          val b = Pq.trainCodebooks(pe.withColumnRenamed("doc_id", "vec_id"),
            m = g.pqM, k = g.pqCodes, dims = g.pqDims)
          Pq.booksToDf(spark, b).write.mode("overwrite").parquet(booksPath)
          b
      }
      if (books.isEmpty) (empty, pe.limit(0))
      else {
        // encode keeps a `cell` passthrough column — ride the LSH bucket
        // through it (the index prunes on bucket exactly as before)
        val encoded = Pq.encode(
            pe.withColumnRenamed("doc_id", "vec_id")
              .withColumnRenamed("bucket", "cell"), books, m = g.pqM, dims = g.pqDims)
          .withColumnRenamed("vec_id", "doc_id")
          .withColumnRenamed("cell", "bucket")
        val hits = standingBands(spark, g.indexPath) match {
          case Some(idx) =>
            val corpus = idx.filter(col("batch_id") =!= batchId).drop("batch_id")
              .withColumnRenamed("doc_id", "c_id").withColumnRenamed("rnrm", "c_rnrm")
            val probes = flips(pe.withColumn("dtf",
                Pq.dotTable(books, m = g.pqM, dims = g.pqDims, codes = g.pqCodes)))
              .select(col("doc_id"), col("bucket"), col("dtf"), col("nrm"))
            corpus.join(probes, Seq("bucket"))
              .withColumn("c_score", Pq.adcDot(m = g.pqM, codes = g.pqCodes).cast("double") /
                (sqrt(col("nrm").cast("double")) * sqrt(col("c_rnrm").cast("double"))))
              .filter(col("c_score") >= g.threshold)
              .select(col("doc_id")).distinct()
          case None => empty
        }
        (hits, encoded)
      }
    }
  }

  /** Fold a standing index's per-epoch partitions into ONE fresh base
    * partition — the file-listing cost of `standingBands` grows with
    * epoch count (10k epochs = 10k partition dirs listed per
    * micro-batch), and this is the bound. Correctness invariants:
    *
    *  - the CURRENT epoch's partition is NEVER folded: a replayed epoch
    *    probes `batch_id =!= batchId`, and folding its own bands into
    *    the base would make the replay collide with itself (every doc
    *    "already in corpus" → a different survivor set than the first
    *    run — idempotence broken). Only strictly-older partitions fold.
    *  - the fresh base id is `-(batchId + 1)` — unique per compaction
    *    point, never a valid epoch id, and never the partition being
    *    read (no self-overwrite: the fold WRITES a partition that did
    *    not exist while READING only others).
    *  - crash-safe by duplicate-tolerance: the base is written FIRST,
    *    then the folded partitions are deleted. A crash between the two
    *    leaves duplicate band/chunk rows — harmless (candidate pairs
    *    are `.distinct()`ed and the chunk probe is a semi-join), and
    *    the next compaction's `.distinct()` over the folded rows
    *    removes them, returning the index to canonical form. A
    *    REPLAYED compaction (base already exists) is skipped entirely.
    *  - loss is impossible: nothing is deleted before the base holding
    *    it is committed. */
  def compactIndex(spark: SparkSession, indexPath: String, batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseId = -(batchId + 1)
    if (!fs.exists(p)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(p, s"batch_id=$baseId"))) return // replay
    val parts = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    val fold = parts.filter(_ != batchId)
    if (fold.length <= 1) return // nothing worth folding
    standingBands(spark, indexPath) match {
      case Some(idx) =>
        // distinct: a crash between a prior compaction's base write and
        // its partition deletes leaves the base's rows duplicated in the
        // undeleted leftovers — without the dedup this fold would carry
        // them into the new base permanently (the index is a set; a
        // whole-index rewrite is already a shuffle, so this adds no
        // extra exchange class)
        val folded = idx.filter(col("batch_id") =!= batchId).drop("batch_id")
          .distinct()
        if (folded.isEmpty) {
          // marker-only leftovers: nothing to preserve, just drop them
          fold.foreach(id =>
            fs.delete(new org.apache.hadoop.fs.Path(p, s"batch_id=$id"), true))
          return
        }
        // Spark refuses to overwrite a path it is reading (rightly), so
        // the fold lands in a SIBLING dir first, then renames into place
        // as the base partition (files carry no batch_id column — the
        // value comes from the dir name, the standard partition layout).
        val tmp = new org.apache.hadoop.fs.Path(p.getParent,
          p.getName + s".compact$baseId")
        folded.write.mode("overwrite").parquet(tmp.toString)
        if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(p, s"batch_id=$baseId")))
          throw new java.io.IOException(
            s"compactIndex: rename $tmp -> $indexPath/batch_id=$baseId failed")
        fold.foreach(id =>
          fs.delete(new org.apache.hadoop.fs.Path(p, s"batch_id=$id"), true))
      case None => ()
    }
  }

  /** Missing path OR a path with no data files = empty index (first
    * epoch, or every prior epoch contributed nothing — e.g. only
    * sub-banding-length docs survived); any OTHER read problem (corrupt
    * append, schema conflict) propagates loudly — silently treating it
    * as "no corpus" would disable dedup and poison the index with false
    * survivors. The data-file probe matters: reading a dir holding only
    * _SUCCESS markers throws schema-inference errors indistinguishable
    * from corruption. */
  // private[streaming]: the skew rehearsal spec plan-asserts the exact
  // standing-index probe shape (semi-join boundedness under a hot key)
  private[streaming] def standingBands(spark: SparkSession, indexPath: String): Option[DataFrame] =
    StandingStore.standing(spark, indexPath)

  /** Zero-row frames write NOTHING ([[StandingStore.writePartition]]);
    * the isEmpty probe re-evaluates a persisted lineage (bands/dropped/
    * gated are all cached by the caller), so it is a cache scan, not a
    * recompute. */
  private def writeBatchPartition(df: DataFrame, target: String, batchId: Long): Unit =
    StandingStore.writePartition(df, target, batchId)

  /** Continuous near-dup ingestion: the streaming twin of
    * [[Dedup.incrementalMinhashPairs]], wired the way the reference's
    * tail loop feeds its sink (`nft/bin/tail.py:90-204` — poll, derive,
    * idempotent write, advance). Each micro-batch runs
    * [[processNearDupBatch]] keyed by the epoch id: foreachBatch is the
    * right harness here because the dedup verdict depends on a standing
    * parquet index the batch itself extends — and the epoch-partitioned
    * overwrite makes replays converge instead of duplicating. */
  def startNearDupIngest(newDocs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, numHashes: Int = 4, maxBucket: Int = 1000,
      bench: Option[graft.ops.Decontaminate.BenchGate] = None,
      classifier: Option[(Seq[(String, Long)], Long, Double)] = None,
      cdc: Option[CdcGate] = None,
      embed: Option[EmbedGate] = None,
      compactIndexEvery: Option[Long] = None,
      drift: Option[String] = None): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        // drift monitor first, over the RAW batch (pre-gate): the point
        // is to notice a shifted/corrupted drop the moment it lands,
        // including the part the gates are about to throw away
        drift.foreach { root =>
          DriftIngest.processBatch(
            batch.select(explode(split(col("text"), " ")).as("tok")),
            col("tok"), s"$root/counts", s"$root/ledger", id)
        }
        processNearDupBatch(batch, indexPath, outPath, id, numHashes, maxBucket,
          bench, classifier, cdc, embed, compactIndexEvery)
      }
      .start()
}
