package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Lww

/** The reference's `tail` loop (`nft/bin/tail.py:90-204`) as Structured
  * Streaming: each poll cycle = one micro-batch (the `async with
  * data_bus` chunk barrier IS the micro-batch epoch, `core/bus.py:127-144`);
  * `--trail-blocks` reorg lag = the watermark (T2); `last_block_id`
  * checkpoint = the streaming commit log (K11/T5).
  *
  * The CLI's `tail` feeds these sinks from the `receipts` source's
  * micro-batch stream, whose `latestOffset` = chain height − trail
  * ([[graft.sources.BlockRangeMicroBatchStream]]); the sinks are
  * source-agnostic, so tests also drive them with a MemoryStream.
  */
object Tail {

  /** Deterministic key bucket — the sink's partition column. */
  def bucketExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** foreachBatch LWW sink: each micro-batch upserts into `target`
    * with the A4 argmax semantics — replay-idempotent, so task retries
    * / batch replays converge (the reference's idempotence invariant,
    * its DynamoDB conditional version writes).
    *
    * The epoch first collapses to one winner per key ([[collapse]]),
    * then rewrites ONLY the `__bucket = pmod(hash(keys), N)` partitions
    * its keys land in (dynamic partition overwrite), so per-epoch I/O is
    * O(touched buckets x bucket size), not O(table) — the property that
    * lets a continuous tail run against a 100 TB target.
    *
    * Bucket-sizing contract: stored state is one row per key, so a
    * bucket holds ~distinctKeys/N rows REGARDLESS of event-volume skew
    * (a hot key collapses before storage; hash spreads keys uniformly —
    * spec-asserted under a 90%-hot-key distribution). Size N so a
    * bucket is a few GB at the target's key cardinality. */
  def lwwSink(target: String, keys: Seq[String], versionCols: Seq[String],
              numBuckets: Int = 32)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val bucket = bucketExpr(keys, numBuckets)
    // the epoch's winners feed two actions (the touched collect and the
    // merge write): persist so the collapse runs once per epoch on the
    // hot tail path.
    val w = collapse(batch, keys, versionCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The touched-bucket list is at most numBuckets ints — a metadata-
      // scale collect, not a data collect.
      val touched = w.select(bucket.as("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      // Probe absence explicitly: an AnalysisException from an EXISTING
      // but transiently unreadable table must fail the batch, not be
      // treated as "first batch" and overwrite prior state winners-only.
      // (tableExists also classifies a crashed first write's bare
      // directory as absent, so the first epoch self-heals.)
      val existing =
        if (graft.ops.SinkUtils.tableExists(spark, target))
          Some(spark.read.parquet(target)
            .filter(col("__bucket").isin(touched: _*)) // partition-pruned scan
            .drop("__bucket"))
        else None // first batch
      val merged = existing match {
        case Some(e) => Lww.upsert(e, w, keys, versionCols)
        case None    => w
      }
      // localCheckpoint materializes the merged buckets (bounded by the
      // touched set) and cuts the plan's lineage back to `target`, so the
      // overwrite below is not "a path that is also being read from".
      merged.withColumn("__bucket", bucket).localCheckpoint(true)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(target)
    } finally w.unpersist(blocking = false)
  }

  /** One argmax-by-version row per key. Algebraic on purpose: partial
    * (map-side) aggregation absorbs a hot key's epoch before the
    * shuffle, where a Window over the key would funnel it into one
    * reducer (SkewRehearsalSpec). Assumes distinct writes of a key carry
    * distinct versions (equal-version duplicates are byte-identical
    * replays), which is what makes argmax = LWW. */
  private def collapse(df: DataFrame, keys: Seq[String],
                       versionCols: Seq[String]): DataFrame = {
    val allCols = struct(df.columns.map(col).toIndexedSeq: _*)
    val version = struct(versionCols.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(allCols, version).as("__row"))
      .select(col("__row.*"))
  }

  /** Owner-balance materialized view key. */
  val OwnerKeys: Seq[String] = Seq("blockchain", "collection_id", "token_id", "account")

  /** foreachBatch ADDITIVE sink: a continuously-maintained owner-balance
    * view (the reference tail's per-transfer token-owner updates, K6)
    * fed by raw transfer micro-batches. Per epoch: collapse the batch to
    * per-key uint256 in/out deltas (`Derive.ownerDeltas`, algebraic —
    * a hot key's epoch partial-aggregates before the shuffle), then
    * merge `balance' = balance + in − out` into the touched buckets
    * only, like [[lwwSink]].
    *
    * Additive merges are NOT naturally replay-idempotent (re-adding a
    * delta double-counts), so each rewritten bucket is stamped with the
    * batch's block high-water (`__epoch`): a replayed batch — of any
    * age — carries the same blocks and skips buckets already at-or-past
    * its watermark, and the conditioning survives a checkpoint RESET
    * (re-read blocks skip, new blocks apply), which a foreachBatch
    * batch-id stamp cannot (ids restart at 0 and the standing stamps
    * would block the stream forever).
    *
    * Stored state is the cumulative (in_total, out_total) COMPONENT
    * pair per key, not the net balance: components are non-negative
    * uint256, so the merge is pure addition — closed, commutative, no
    * signed arithmetic — and the read derives `quantity = in − out`
    * with exactly the formula the batch rollup uses, so inconsistent
    * input surfaces as the same canonical negative balance in both.
    * Zero NET balances are stored (their components are) and filtered
    * at read time ([[readOwners]], K7 semantics): dynamic partition
    * overwrite only rewrites partitions that receive rows, so a
    * touched bucket must never write an empty frame or its stale state
    * would survive. State is bounded by key cardinality either way. */
  def ownersSink(target: String, numBuckets: Int = 32)(batch: DataFrame, batchId: Long): Unit =
    viewSink(target, OwnerKeys, numBuckets,
      graft.nft.Derive.ownerDeltas, mergeOwnerComponents)(batch, batchId)

  private def mergeOwnerComponents(state: Option[DataFrame], fresh: DataFrame): DataFrame =
    state match {
      case None => fresh
      case Some(s) =>
        import graft.expr.Exprs.hexAdd
        val hexZero = graft.expr.HexMath.pad64("0")
        s.select((OwnerKeys.map(col) :+ col("in_total").as("s_in") :+
            col("out_total").as("s_out")).toIndexedSeq: _*)
          .join(fresh, OwnerKeys, "full_outer")
          .select((OwnerKeys.map(col) :+
            hexAdd(coalesce(col("s_in"), lit(hexZero)),
              coalesce(col("in_total"), lit(hexZero))).as("in_total") :+
            hexAdd(coalesce(col("s_out"), lit(hexZero)),
              coalesce(col("out_total"), lit(hexZero))).as("out_total")).toIndexedSeq: _*)
    }

  /** Shared plumbing for epoch-stamped bucketed view sinks: collapse
    * the micro-batch to per-key component deltas (`deltasOf`, which
    * must be algebraic so hot keys partial-aggregate), drop buckets
    * already stamped at-or-past this batch's block high-water (replay
    * conditioning on the DATA watermark, reset-safe),
    * `merge` the fresh deltas into the touched buckets' prior state,
    * and dynamically overwrite ONLY those partitions. `merge` receives
    * `None` before the view exists and must return full component rows
    * keyed by `keys`. */
  def viewSink(target: String, keys: Seq[String], numBuckets: Int,
               deltasOf: DataFrame => DataFrame,
               merge: (Option[DataFrame], DataFrame) => DataFrame)
              (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val bucket = bucketExpr(keys, numBuckets)
    // ONE existence probe serves both the stamp-scheme gate here and
    // the first-epoch decision below — this sink is the table's single
    // writer, so the answer cannot change between the two uses.
    val tableIsPresent = graft.ops.SinkUtils.tableExists(spark, target)
    // Refuse tables whose __epoch stamps use a DIFFERENT scheme (see
    // requireStampScheme) before reading any state from them.
    if (tableIsPresent) requireStampScheme(spark, target)
    require(batch.columns.contains("block_id"),
      "viewSink batches must carry block_id: the replay stamp is the data's block watermark")
    // The deltas aggregation is a full shuffle of the micro-batch and
    // feeds TWO actions (the touched-bucket collect and the merge
    // write); persist so the hot tail path computes it once per epoch.
    val deltas = deltasOf(batch).withColumn("__bucket", bucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // touched buckets: a metadata-scale collect (≤ numBuckets ints)
      val touched = deltas.select("__bucket").distinct().collect().map(_.getInt(0)).toSeq
      if (touched.isEmpty) return
      // The replay stamp is the DATA's block high-water, not the
      // foreachBatch counter: a replayed batch of ANY age carries the
      // same blocks, so its watermark compares <= the standing stamp
      // and skips, while after a checkpoint RESET (batch ids restart at
      // 0 against a fully-stamped table) re-read blocks skip and
      // genuinely new blocks apply. A batch-id stamp gets the reset
      // case catastrophically wrong in one of two ways: an at-or-past
      // guard classifies every future batch as applied and silently
      // discards the rest of the stream; an exact-match guard
      // double-counts old-age replays. Contract (the block sources
      // guarantee it): one block's rows never split across batches.
      val wmRow = batch.agg(max(col("block_id")), min(col("block_id"))).head()
      if (wmRow.isNullAt(0)) return
      val batchWm = wmRow.getLong(0)
      val batchMin = wmRow.getLong(1)
      // Table-absence must be PROBED, not inferred from AnalysisException:
      // a transiently unreadable EXISTING table (crashed writer, schema
      // conflict) classified as "first epoch" would merge(None, fresh)
      // winners-only over the touched buckets and silently destroy their
      // prior component state. Only a genuinely absent/bare path is
      // first-epoch; any other read failure must propagate and fail.
      val existing =
        if (tableIsPresent)
          Some(spark.read.parquet(target).filter(col("__bucket").isin(touched: _*)))
        else None // first epoch
      val stamps: Map[Int, Long] = existing.fold(Map.empty[Int, Long]) {
        _.groupBy(col("__bucket")).agg(max(col("__epoch")).as("e"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      }
      val applied = stamps.filter(_._2 >= batchWm).keySet
      // A stamp strictly INSIDE the batch's block range means the
      // stream was restarted with batch boundaries that straddle
      // already-applied blocks (checkpoint reset + different
      // blocksPerTrigger/start). Applying would double-count the
      // overlap; skipping would drop the new blocks. Neither is safe
      // silently — fail with the recovery instruction instead.
      val straddled = stamps.filter { case (_, s) => s >= batchMin && s < batchWm }
      require(straddled.isEmpty,
        s"viewSink($target): bucket->stamp ${straddled.toSeq.sorted
          .map { case (b, s) => s"$b->$s" }.mkString(", ")} stamped mid-batch " +
          s"(inside [$batchMin,$batchWm]). The stream was restarted with batch " +
          "boundaries that straddle applied blocks; restart it from the stamped " +
          "high-water + 1 (e.g. --start) so batches align, or rebuild the view.")
      val freshTouched = touched.filterNot(applied)
      if (freshTouched.isEmpty) return
      // Marker BEFORE the first state write: if the process dies in the
      // window between them, the restart sees either a marker-only dir
      // (still "absent" under tableExists' underscore rule -> clean
      // first epoch) or marker+data (normal). The opposite order left a
      // crash window where a data-only table tripped the scheme gate
      // with a misleading old-stamps refusal.
      writeStampScheme(spark, target)
      val fresh = deltas.filter(col("__bucket").isin(freshTouched: _*)).drop("__bucket")
      val state = existing.map(_.filter(col("__bucket").isin(freshTouched: _*))
        .drop("__bucket", "__epoch"))
      merge(state, fresh)
        .withColumn("__bucket", bucket)
        .withColumn("__epoch", lit(batchWm))
        // materialize + cut lineage back to `target` before overwriting it
        .localCheckpoint(true)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(target)
    } finally deltas.unpersist(blocking = false)
  }

  /** `__epoch` stamp-scheme marker. Stamps are the batch's BLOCK
    * high-water; an earlier revision stamped the foreachBatch batch id
    * instead. The two are not comparable: against a table carrying old
    * batch-id stamps (small integers), an at-least-once replay that
    * straddles the upgrade compares the old stamp below `batchMin`, so
    * already-applied ADDITIVE deltas re-apply and double-count —
    * silently. Magnitude heuristics can't tell the cases apart (a
    * young chain's block ids are small too), so the scheme is recorded
    * explicitly: a `_stamp_scheme` marker file (underscore-prefixed —
    * invisible to parquet reads) written with every epoch, and
    * REQUIRED before any state is read. */
  private[streaming] val StampSchemeFile = "_stamp_scheme"
  private[streaming] val StampScheme = "block-high-water"

  private def schemePath(target: String) =
    new org.apache.hadoop.fs.Path(target, StampSchemeFile)

  /** Targets whose marker this process has written or validated. The
    * marker is immutable once written, so one filesystem round-trip per
    * target per process is enough — without this, every micro-batch of
    * a long-running stream re-reads it (metadata calls that never
    * amortize on an object store). */
  private val schemeOk = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Test hook: simulate a fresh process (the cache is per-JVM). */
  private[streaming] def resetStampSchemeCache(): Unit = schemeOk.clear()

  private def readStampScheme(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val len = math.min(fs.getFileStatus(p).getLen, 256L).toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try { in.readFully(0L, buf); Some(new String(buf, "UTF-8").trim) }
      finally in.close()
    }

  private def writeStampScheme(spark: SparkSession, target: String): Unit = {
    if (schemeOk.contains(target)) return
    val p = schemePath(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The marker's CONTENT must be validated, not just its existence: a
    // crash between create() and write/close leaves an empty (or torn)
    // file that existence alone would silently accept — the next
    // restart's requireStampScheme then refuses a perfectly healthy
    // view. Rewriting on mismatch is safe here: if the view's DATA
    // existed, requireStampScheme already validated the marker before
    // any epoch ran; a mismatched marker can only be leftover from a
    // crashed first write whose data never landed.
    if (!readStampScheme(fs, p).contains(StampScheme)) {
      val out = fs.create(p, true)
      try out.write(StampScheme.getBytes("UTF-8")) finally out.close()
    }
    schemeOk.add(target)
  }

  private def requireStampScheme(spark: SparkSession, target: String): Unit = {
    if (schemeOk.contains(target)) return
    val p = schemePath(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found = readStampScheme(fs, p)
    require(found.contains(StampScheme),
      s"viewSink($target): existing view carries ${found.fold("no stamp-scheme marker")(s => s"stamp scheme '$s'")} " +
        s"but this sink stamps '$StampScheme' (the batch's block high-water). " +
        "Replaying against a view stamped under a different scheme (e.g. the " +
        "old foreachBatch batch-id stamps) double-counts additive deltas. " +
        "Rebuild the view from a re-crawl, or — only if the table is KNOWN to " +
        s"already carry $StampScheme stamps — create $target/$StampSchemeFile " +
        s"containing '$StampScheme' and restart the stream.")
    schemeOk.add(target)
  }

  /** Read the owners view: net the components with the batch rollup's
    * exact formula, zero balances out (K7), storage columns dropped. */
  def readOwners(spark: SparkSession, target: String): DataFrame =
    spark.read.parquet(target)
      .select((OwnerKeys.map(col) :+
        graft.expr.Exprs.hexSub(col("in_total"), col("out_total")).as("quantity")).toIndexedSeq: _*)
      .filter(col("quantity") =!= lit(graft.expr.HexMath.pad64("0")))

  /** Token-state view key. */
  val TokenKeys: Seq[String] = Seq("blockchain", "collection_id", "token_id")

  /** foreachBatch sink for the TOKENS table (the reference tail's
    * per-transfer token updates: first-mint provenance, supply fold,
    * current owner) — every component of `Derive.tokenDeltas` merges as
    * a commutative semigroup, so the same [[viewSink]] plumbing carries
    * a MIXED algebra: argmin by mint version (provenance), additive
    * uint256 mint/burn totals (supply), argmax by attribute version
    * (current owner), max (version high-water). `blockTimes` is the
    * block-time dim the epoch enrich joins against (the S8 cache or a
    * blocks read covering the tailed range). */
  def tokensSink(target: String, blockTimes: DataFrame, numBuckets: Int = 32,
                 broadcastTimes: Boolean = true)(batch: DataFrame, batchId: Long): Unit =
    viewSink(target, TokenKeys, numBuckets,
      graft.nft.Derive.tokenDeltas(_, blockTimes, broadcastTimes),
      mergeTokenComponents)(batch, batchId)

  private def mergeTokenComponents(state: Option[DataFrame], fresh: DataFrame): DataFrame =
    state match {
      case None => fresh
      case Some(st) =>
        import graft.expr.Exprs.hexAdd
        val hexZero = graft.expr.HexMath.pad64("0")
        val s = st.select((TokenKeys.map(col) ++ st.columns.filterNot(c =>
          TokenKeys.contains(c)).map(c => col(c).as(s"s_$c")).toSeq).toIndexedSeq: _*)
        // delta's mint is earlier iff it exists and beats the stored one
        val mintWins = col("mint_version").isNotNull &&
          (col("s_mint_version").isNull || col("mint_version") < col("s_mint_version"))
        // delta's last transfer is newer iff it exists and beats stored
        val lastWins = col("attribute_version").isNotNull &&
          (col("s_attribute_version").isNull ||
            col("attribute_version") > col("s_attribute_version"))
        s.join(fresh, TokenKeys, "full_outer")
          .select((TokenKeys.map(col) :+
            coalesce(col("s_collection_type"), col("collection_type")).as("collection_type") :+
            least(col("s_mint_version"), col("mint_version")).as("mint_version") :+
            when(mintWins, col("mint_info")).otherwise(col("s_mint_info")).as("mint_info") :+
            hexAdd(coalesce(col("s_mint_total"), lit(hexZero)),
              coalesce(col("mint_total"), lit(hexZero))).as("mint_total") :+
            hexAdd(coalesce(col("s_burn_total"), lit(hexZero)),
              coalesce(col("burn_total"), lit(hexZero))).as("burn_total") :+
            when(lastWins, col("last_to")).otherwise(col("s_last_to")).as("last_to") :+
            greatest(col("s_attribute_version"), col("attribute_version"))
              .as("attribute_version")).toIndexedSeq: _*)
    }

  /** Read the tokens view through the batch rollup's finalize step. */
  def readTokens(spark: SparkSession, target: String): DataFrame =
    graft.nft.Derive.finalizeTokens(
      spark.read.parquet(target).drop("__bucket", "__epoch"))
}
