package graft.sources

import java.util

import scala.collection.immutable.ListMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** The block-keyed DataSourceV2 path shared by the typed sources
  * (`blocks`, `receipts`, `logs`): the reference's `BlockIDProducer` +
  * `tail` polling loop (`evm/producers.py:9-28`, `nft/bin/tail.py:90-204`)
  * as a native Spark connector.
  *
  *  - batch read: the crawl window [start, maxBlock), narrowed by
  *    pushed block-column predicates and (one-row-per-block sources)
  *    LIMIT ([[BlockWindow]]);
  *  - micro-batch stream: each `latestOffset` poll advances the chain
  *    head by `blocksPerTrigger`, minus `trailBlocks` of reorg lag (the
  *    reference's `--trail-blocks` watermark, `tail.py:163-164`) — one
  *    poll cycle == one micro-batch epoch, exactly the `async with
  *    data_bus` chunk barrier semantics;
  *  - `numPartitions` range splits per batch: on a cluster each
  *    executor fetches its own block sub-range (the RPC fan-out the
  *    reference does with a connection pool, `evm/rpc.py:380-422`);
  *  - each partition reads through the source's pluggable fetcher
  *    (option `fetcher` = class name) in `fetchChunk`-sized windows
  *    ([[AdaptiveRangeReader]]).
  *
  * Options: start, maxBlock, blocksPerTrigger, trailBlocks,
  * numPartitions, fetcher, fetchChunk, throttleBaseMs, throttleCapMs,
  * throttleMaxRetries; fetcher-specific options pass through.
  *
  * A source is one [[TypedRangeSource]] descriptor registered by a
  * [[TypedRangeProvider]] subclass. */
final case class TypedRangeSource[E](
    name: String,
    encoder: ExpressionEncoder[E],
    pushCol: String,
    defaultFetcher: String,
    open: (String, Map[String, String]) => (Long, Long) => Iterator[E],
    oneRowPerBlock: Boolean = true,
    stringPushCols: Set[String] = Set.empty) {
  /** Schema derived from the typed entity, not hand-declared — the
    * source and `Dataset[E]` users can never drift. */
  val schema: StructType = encoder.schema

  def readerFactory(fetcherClass: String, fetcherOptions: Map[String, String],
      initialChunk: Long, backoff: BackoffPolicy, readSchema: StructType): PartitionReaderFactory =
    TypedRangeReaderFactory(fetcherClass, fetcherOptions, initialChunk, backoff, readSchema,
      encoder, open)
}

object TypedRangeSource {
  /** The reader options of a block-window read through `fetcher`. The
    * fetcher's own options come last, so they win on a shared key. */
  def readOptions(start: Long, maxBlock: Long, numPartitions: Int, fetcher: String,
      fetcherOptions: Map[String, String]): Map[String, String] =
    ListMap("start" -> start.toString, "maxBlock" -> maxBlock.toString,
      "numPartitions" -> numPartitions.toString, "fetcher" -> fetcher) ++ fetcherOptions
}

/** Registers one [[TypedRangeSource]] under its short name. */
abstract class TypedRangeProvider(source: TypedRangeSource[_])
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = source.name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = source.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TypedRangeTable(source, new CaseInsensitiveStringMap(properties))
}

/** Optional mixin for any fetcher seam: after the no-arg executor-side
  * instantiation, the reader hands the implementation the source's full
  * option map (keys lower-cased by Spark's CaseInsensitiveStringMap).
  * This is how an RPC-backed fetcher learns its endpoints — the
  * reference passes provider URLs to its client constructors
  * (`evm/rpc.py:380-398`); a DSv2 fetcher instantiated by class name
  * gets the same wiring declaratively through reader options. */
trait ConfigurableFetcher {
  def configure(options: Map[String, String]): Unit
}

object ConfigurableFetcher {
  /** The seams' instantiate-by-name: fetchers and call executors are
    * built from their class name through the no-arg constructor (on the
    * executor, next to the connection they open — no closure shipping),
    * then configured if configurable, with keys lower-cased first: the
    * reader path lower-cases through CaseInsensitiveStringMap, but
    * forName is also called with raw user maps (Calls.execute,
    * Crawl.fromChain fetcherOptions) where a documented camelCase key
    * like `callBatch` must not silently miss its lowercase lookup. */
  def instantiate[T](className: String, options: Map[String, String]): T = {
    val f = Class.forName(className).getDeclaredConstructor().newInstance()
    f match {
      case c: ConfigurableFetcher =>
        // Locale.ROOT like CaseInsensitiveStringMap — a tr_TR default
        // locale would dotless-i a key like maxInFlight and silently
        // miss the lookup this helper exists to make reliable
        c.configure(options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v })
      case _ => ()
    }
    f.asInstanceOf[T]
  }
}

/** Optional mixin: a fetcher that can report the live chain head —
  * `eth_blockNumber` (`evm/rpc.py:119-126`). When a stream's fetcher
  * implements this, the micro-batch head is driven by the NODE's height
  * (rate-limited to `blocksPerTrigger` per poll, lagged by
  * `trailBlocks`) instead of the simulated fixed advance — the
  * reference tail's poll loop (`nft/bin/tail.py:90-204`). */
trait HeadAwareFetcher {
  def chainHead(): Long
}

/** Driver-side head probe: if (and only if) the fetcher class is
  * head-aware, instantiate it once and keep a poll thunk. Simulated
  * fetchers are not — their streams keep the fixed per-poll advance. */
object ChainHead {
  def provider(fetcherClass: String, options: Map[String, String]): Option[() => Long] =
    if (fetcherClass == null || fetcherClass.isEmpty ||
        !classOf[HeadAwareFetcher].isAssignableFrom(Class.forName(fetcherClass))) None
    else {
      // configure ONCE at provider creation (the seam's contract);
      // the poll thunk only reads the head
      val configured = ConfigurableFetcher.instantiate[HeadAwareFetcher](fetcherClass, options)
      Some(() => configured.chainHead())
    }

  /** Long-poll head probe (option `headWaitMs` > 0): re-probe the node
    * every `probeMs` until its tip reaches `atLeast` (= a new block
    * exists past the current offset) or the wait budget is spent,
    * returning the freshest height. `waitMs` <= 0 degenerates to one
    * probe — the polling default.
    *
    * This is what lets tail latency drop BELOW the stream's trigger
    * interval: with the default (back-to-back) trigger, the micro-batch
    * planner blocks briefly inside offset discovery and fires the
    * moment a block appears — instead of either spinning empty no-data
    * batches at full speed or waiting out a reference-style 10 s poll
    * interval (`tail.py --process-interval`). An interrupt (query
    * stop) ends the wait immediately. */
  def await(probe: () => Long, atLeast: Long, waitMs: Long, probeMs: Long): Long = {
    var h = probe()
    if (waitMs <= 0L || h >= atLeast) return h
    val deadline = System.nanoTime() + waitMs * 1000000L
    var interrupted = false
    while (h < atLeast && System.nanoTime() < deadline && !interrupted) {
      try Thread.sleep(math.max(1L, probeMs))
      catch { case _: InterruptedException => Thread.currentThread().interrupt(); interrupted = true }
      if (!interrupted) h = probe()
    }
    h
  }
}

/** A fetcher signals an over-wide window (provider response-size cap,
  * the reference's "query returned more than X results" error) by
  * throwing this; the reader reacts by shrinking its window ÷10 and
  * retrying. */
final class RangeTooLargeException(msg: String) extends RuntimeException(msg)

/** Retryable throttle signal — the provider said "slow down" (HTTP 429
  * TooManyRequests in the reference, which backs off and replays the
  * in-flight request, `core/rpc.py:305-310,327-353`). Distinct from
  * [[RangeTooLargeException]]: a throttle means retry the SAME window
  * later, not a narrower one. */
final class ThrottledException(msg: String) extends RuntimeException(msg)

/** Table over a block-number-keyed typed source. */
final class TypedRangeTable(source: TypedRangeSource[_], options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = source.name
  override def schema(): StructType = source.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new CaseInsensitiveStringMap(
      (options.asScala ++ caseInsensitiveOptions.asScala).asJava)
    new TypedRangeScanBuilder(source, merged)
  }
}

/** Filter pushdown: range predicates on the source's block column
  * narrow the planned window itself, so a query for blocks [900, 950)
  * of a billion-block chain plans (and FETCHES) exactly that window —
  * partition pruning at the source, the reference's ranged `get_logs`
  * semantics (`evm/rpc.py:289-377`). */
final class TypedRangeScanBuilder(source: TypedRangeSource[_], options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}
  private val tableSchema = source.schema
  private var lo = options.getLong("start", 0L)
  private var hi = options.getLong("maxBlock", 1000L)
  private var pushed: Array[Filter] = Array.empty
  private var stringPushed: Map[String, String] = Map.empty
  private var readSchema: StructType = tableSchema

  // LIMIT n == "the first n blocks" ONLY when rows:blocks is 1:1 (blocks
  // qualify; receipts and logs, 0..k rows per block, must NOT narrow on
  // limit or `limit(n)` could under-produce); a declined push keeps
  // Spark's own limit operator, which is merely an early-stop, never
  // wrong. Filters push before limits in V2ScanRelationPushDown, so `lo`
  // is final here. isPartiallyPushed stays at its default (true): Spark
  // keeps its own limit operator, which costs nothing.
  override def pushLimit(limit: Int): Boolean = {
    if (!source.oneRowPerBlock) return false
    hi = math.min(hi, math.max(lo, BlockWindow.satAdd(lo, limit.toLong)))
    true
  }

  // Besides the block-window math, equality predicates on declared
  // string columns (e.g. the logs source's `address`) push into the
  // FETCH itself — eth_getLogs filters server-side, so the narrowed
  // query fetches only the matching rows instead of scanning the window
  // and dropping. Consumed exactly, so Spark does not re-evaluate them
  // post-scan — which is only sound when the fetcher's match and strict
  // string equality cannot disagree:
  //  - only LOWERCASE literals are consumed (the engine's address
  //    convention, FIXTURES.md §A): an eth_getLogs node matches
  //    addresses case-insensitively and returns lowercase rows, so a
  //    checksummed literal pushed-and-consumed would return rows the
  //    literal does not equal — mixed-case stays a residual filter;
  //  - only ONE distinct value per column is consumed: two conflicting
  //    equalities (an unsatisfiable conjunction) must stay residual or
  //    the last-one-wins fetch would return rows for a false predicate.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val byCol = filters.collect {
      case EqualTo(a, v: String) if source.stringPushCols.contains(a) && v == v.toLowerCase => (a, v)
    }.groupBy(_._1)
    val consumable: Map[String, String] = byCol.collect {
      case (a, pairs) if pairs.map(_._2).distinct.length == 1 => (a, pairs.head._2)
    }
    // the IsNotNull companion Catalyst derives from an equality is
    // consumed WITH it (equality on a non-null literal implies it), so
    // a fully-pushed predicate leaves zero residual Filter in the plan
    val (strFilters, rest) = filters.partition {
      case EqualTo(a, v: String) => consumable.get(a).contains(v)
      case IsNotNull(a) => consumable.contains(a)
      case _ => false
    }
    stringPushed = consumable
    val n = BlockWindow.narrow(lo, hi, rest, source.pushCol)
    lo = n.lo; hi = n.hi; pushed = n.supported ++ strFilters
    n.residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  // Top-level pruning: keep the requested columns at their FULL declared
  // types (a nested-pruned struct is widened back to the whole object —
  // the fetcher inflates whole entities anyway, and Spark re-applies its
  // own projection above the scan). Field order follows the request so
  // the reader's projection is positional.
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val kept = requiredSchema.fields.flatMap(f =>
      if (tableSchema.fieldNames.contains(f.name)) Some(tableSchema(f.name)) else None)
    readSchema = if (kept.isEmpty) StructType(Seq(tableSchema.fields.head)) else StructType(kept)
  }

  override def build(): Scan = {
    // pushed string predicates ride to the executor-side fetcher as
    // `pushed.<col>` options (they beat the user-set option — the plan
    // is the truth)
    val merged =
      if (stringPushed.isEmpty) options
      else new CaseInsensitiveStringMap(
        (options.asScala ++ stringPushed.map { case (k, v) => s"pushed.$k" -> v }).asJava)
    new TypedRangeScan(source, merged, lo, hi, readSchema)
  }
}

final class TypedRangeScan(source: TypedRangeSource[_], options: CaseInsensitiveStringMap,
    batchLo: Long, batchHi: Long, prunedSchema: StructType) extends Scan {
  private val blocksPerTrigger = options.getLong("blocksPerTrigger", 100L)
  private val trailBlocks = options.getLong("trailBlocks", 0L)
  private val numPartitions = options.getInt("numPartitions", 4)
  // 0 would divide by zero in BlockRangePartitioning.split, and a
  // negative count would plan one partition per block
  require(numPartitions >= 1, s"numPartitions must be at least 1, got $numPartitions")
  private val fetcherClass = options.getOrDefault("fetcher", source.defaultFetcher)
  private val fetcherOptions = options.asScala.toMap
  private val factory = source.readerFactory(fetcherClass, fetcherOptions,
    options.getLong("fetchChunk", Long.MaxValue),
    BackoffPolicy(
      options.getLong("throttleBaseMs", 50L),
      options.getLong("throttleCapMs", 5000L),
      options.getInt("throttleMaxRetries", 8)),
    prunedSchema)

  override def readSchema(): StructType = prunedSchema

  override def toBatch: Batch = new Batch {
    // [batchLo, batchHi) is the pushdown-narrowed window (equal to
    // [start, maxBlock) when no block predicates were pushed)
    override def planInputPartitions(): Array[InputPartition] =
      BlockRangePartitioning.split(batchLo, batchHi, numPartitions)
    override def createReaderFactory(): PartitionReaderFactory = factory
  }

  // The narrowed window applies to the STREAM too: the builder consumed
  // the block predicates, so if the stream ignored [batchLo, batchHi) a
  // pushed filter would silently stop filtering. Honoring it here keeps
  // both paths' semantics identical to the un-pushed plan.
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BlockRangeMicroBatchStream(batchLo, batchHi, blocksPerTrigger, trailBlocks,
      numPartitions, fetcherClass, fetcherOptions, factory)
}

/** Shared pushdown math for the block-keyed sources: range predicates on
  * the block column narrow the planned window itself. The narrowed
  * predicates are consumed exactly (the window IS the predicate), so
  * Spark does not re-evaluate them post-scan; anything else stays a
  * residual filter. */
object BlockWindow {
  import org.apache.spark.sql.sources._

  final case class Narrowed(lo: Long, hi: Long,
      supported: Array[Filter], residual: Array[Filter])

  // Pushed bounds are trusted (never re-evaluated post-scan), so boundary
  // values like `block_number <= Long.MaxValue` must saturate rather than
  // wrap to Long.MinValue and silently plan an empty window. Non-negative
  // deltas only: for d < 0 the guard itself would overflow and return a
  // silently saturated bound from what is really a subtraction.
  def satAdd(x: Long, d: Long): Long = {
    require(d >= 0, s"satAdd expects a non-negative delta, got $d")
    if (x > Long.MaxValue - d) Long.MaxValue else x + d
  }

  private def asLong(v: Any): Option[Long] = v match {
    case x: Long => Some(x)
    case x: Int => Some(x.toLong)
    case x: Short => Some(x.toLong)
    case x: Byte => Some(x.toLong)
    case _ => None
  }

  def narrow(lo0: Long, hi0: Long, filters: Array[Filter], column: String): Narrowed = {
    var lo = lo0
    var hi = hi0
    val (supported, residual) = filters.partition {
      case EqualTo(`column`, v) => asLong(v).isDefined
      case GreaterThan(`column`, v) => asLong(v).isDefined
      case GreaterThanOrEqual(`column`, v) => asLong(v).isDefined
      case LessThan(`column`, v) => asLong(v).isDefined
      case LessThanOrEqual(`column`, v) => asLong(v).isDefined
      case _ => false
    }
    supported.foreach {
      case EqualTo(_, v) =>
        val x = asLong(v).get; lo = math.max(lo, x); hi = math.min(hi, satAdd(x, 1L))
      case GreaterThan(_, v) => lo = math.max(lo, satAdd(asLong(v).get, 1L))
      case GreaterThanOrEqual(_, v) => lo = math.max(lo, asLong(v).get)
      case LessThan(_, v) => hi = math.min(hi, asLong(v).get)
      case LessThanOrEqual(_, v) => hi = math.min(hi, satAdd(asLong(v).get, 1L))
      case _ => ()
    }
    Narrowed(lo, hi, supported, residual)
  }
}

final case class BlockOffset(block: Long) extends Offset {
  override def json(): String = block.toString
}

/** Micro-batch tail over a block range: head height advances by
  * `blocksPerTrigger` per poll (a head-aware fetcher caps the advance at
  * the NODE's live height); the available offset is head − trail (never
  * below start). The offset arithmetic here (exclusive tip+1 bound,
  * trail floor, checkpoint fast-forward) is subtle and exists ONCE:
  * every typed source plans its batches through this class with its own
  * `readerFactory`. */
final class BlockRangeMicroBatchStream(start: Long, maxBlock: Long, blocksPerTrigger: Long,
                                       trailBlocks: Long, numPartitions: Int,
                                       fetcherClass: String,
                                       fetcherOptions: Map[String, String],
                                       readerFactory: PartitionReaderFactory)
    extends MicroBatchStream {
  // a negative trail would put the available offset AHEAD of the head,
  // streaming blocks past maxBlock
  require(trailBlocks >= 0, s"trailBlocks must be non-negative, got $trailBlocks")
  // a width below 1 never advances the head past start: every epoch
  // is empty and an unbounded stream polls forever
  require(blocksPerTrigger >= 1, s"blocksPerTrigger must be at least 1, got $blocksPerTrigger")
  private var head: Long = start
  // live chain-head polling when the fetcher supports it (RPC fetchers
  // do); the head still advances at most blocksPerTrigger per poll —
  // maxOffsetsPerTrigger-style admission control over a real node
  private lazy val headFn: Option[() => Long] = ChainHead.provider(fetcherClass, fetcherOptions)
  // long-poll opt-in (`headWaitMs`): see [[ChainHead.await]]
  private val headWaitMs = fetcherOptions.get("headwaitms").map(_.toLong).getOrElse(0L)
  private val headProbeMs = fetcherOptions.get("headprobems").map(_.toLong).getOrElse(200L)

  override def initialOffset(): Offset = BlockOffset(start)

  override def latestOffset(): Offset = {
    // eth_blockNumber reports the latest block NUMBER (inclusive tip);
    // offsets here are EXCLUSIVE upper bounds, so the reachable target
    // is head-number + 1 — without it the tip block is never fetched
    val target = headFn match {
      case Some(f) =>
        // long-poll only while the stream is caught up AND unbounded
        // ahead: a new block exists once tip-number >= head (exclusive)
        val wait = if (head >= maxBlock) 0L else headWaitMs
        math.min(maxBlock, BlockWindow.satAdd(
          ChainHead.await(f, atLeast = head, wait, headProbeMs), 1L))
      case None => maxBlock
    }
    // monotone even if a node briefly reports a lower height (reorg,
    // lagging replica): offsets never move backward
    head = math.max(head, math.min(target, BlockWindow.satAdd(head, blocksPerTrigger)))
    BlockOffset(math.max(start, head - trailBlocks))
  }

  // Restart recovery: `head` is in-memory state, so a fresh instance
  // would reset it to `start` and plan empty batches until it re-advanced
  // past the committed offset — a stall of committed/blocksPerTrigger
  // polls. Offsets only reach deserializeOffset from the checkpoint log,
  // so fast-forward head past the restored position (+trail, since the
  // available offset lags head by trailBlocks); max() keeps this
  // monotone during normal processing.
  override def deserializeOffset(json: String): Offset = {
    val o = json.toLong
    head = math.max(head, math.min(maxBlock, BlockWindow.satAdd(o, trailBlocks)))
    BlockOffset(o)
  }

  override def planInputPartitions(startOff: Offset, endOff: Offset): Array[InputPartition] =
    BlockRangePartitioning.split(
      startOff.asInstanceOf[BlockOffset].block,
      endOff.asInstanceOf[BlockOffset].block, numPartitions)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Bounded exponential backoff for retryable throttles: sleep
  * `baseMs * 2^attempt` capped at `capMs`, give up (and rethrow, so the
  * task fails loudly and Spark's task retry takes over) after
  * `maxRetries` consecutive throttles. A successful fetch resets the
  * attempt counter — steady-state throttling re-probes at the base
  * delay, the reference's limiter behavior (`core/rpc.py:365-397`). */
final case class BackoffPolicy(baseMs: Long = 50L, capMs: Long = 5000L, maxRetries: Int = 8) {
  def delayMs(attempt: Int): Long =
    // the shift overflows Long well before 62 for any real baseMs —
    // saturate at capMs instead of handing Thread.sleep a negative
    if (baseMs <= 0) 0L
    else if (attempt >= 62 || baseMs >= (capMs >> math.min(attempt, 61))) capMs
    else math.min(capMs, baseMs << attempt)
}

final case class BlockRangePartition(lo: Long, hi: Long) extends InputPartition

object BlockRangePartitioning {
  /** split [lo, hi) into at most n contiguous ranges. Ceiling-division
    * without the `(total + n - 1)` addition: a window near
    * Long.MaxValue (the natural "unbounded" sentinel) would overflow it
    * negative, collapse `per` to 1, and try to plan one partition per
    * block — the same saturation discipline as satAdd elsewhere here. */
  def split(lo: Long, hi: Long, n: Int): Array[InputPartition] = {
    if (hi <= lo) return Array.empty
    val total = hi - lo
    val per = math.max(1L, total / n + (if (total % n == 0) 0L else 1L))
    // hi - a never overflows (0 <= a < hi); a + per can, near MaxValue
    (lo until hi by per)
      .map(a => BlockRangePartition(a, if (hi - a <= per) hi else a + per): InputPartition)
      .toArray
  }
}

/** The one reader factory of the typed sources: per partition, open the
  * source's fetch call on a fetcher instantiated by class name, then
  * serialize each fetched entity through its Catalyst encoder and
  * project it down to the pruned read schema (a codegen'd projection,
  * built once per partition). */
final case class TypedRangeReaderFactory[E](fetcherClass: String,
    fetcherOptions: Map[String, String], initialChunk: Long, backoff: BackoffPolicy,
    readSchema: StructType, encoder: ExpressionEncoder[E],
    open: (String, Map[String, String]) => (Long, Long) => Iterator[E])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val fetch = open(fetcherClass, fetcherOptions)
    val toRow = encoder.createSerializer()
    val full = encoder.schema
    val proj = UnsafeProjection.create(readSchema.fields.map { f =>
      val i = full.fieldIndex(f.name)
      BoundReference(i, full(i).dataType, full(i).nullable)
    }.toIndexedSeq)
    new AdaptiveRangeReader[E](partition.asInstanceOf[BlockRangePartition], fetch,
      initialChunk, backoff, e => proj(toRow(e)))
  }
}

/** The adaptive fetch loop shared by every block-keyed reader: drive a
  * window-fetch function over [p.lo, p.hi) in `initialChunk`-sized
  * windows, shrink ÷10 (floor 1) on RangeTooLarge — the reference's
  * adaptive narrowing when a provider caps response size
  * (`evm/rpc.py:366-377`); the shrunk size sticks for the rest of the
  * partition, since a provider that rejected a window once will reject
  * its siblings — and replay the SAME window after bounded exponential
  * backoff on Throttled (the reference's 429 handling,
  * `core/rpc.py:305-310,327-353`), failing the task loudly past
  * `maxRetries` consecutive throttles. `toRow` converts one fetched
  * item; it may reuse a mutable row (the contract of
  * PartitionReader.get). */
final class AdaptiveRangeReader[T](p: BlockRangePartition,
    fetch: (Long, Long) => Iterator[T], initialChunk: Long,
    backoff: BackoffPolicy, toRow: T => InternalRow)
    extends PartitionReader[InternalRow] {
  private var chunk = math.max(1L, math.min(initialChunk, p.hi - p.lo))
  private var cur = p.lo
  private var it: Iterator[T] = Iterator.empty
  private var value: InternalRow = _
  private var throttles = 0
  override def next(): Boolean = {
    while (!it.hasNext && cur < p.hi) {
      val windowHi = math.min(cur + chunk, p.hi)
      try { it = fetch(cur, windowHi); cur = windowHi; throttles = 0 }
      catch {
        case _: RangeTooLargeException if chunk > 1 =>
          chunk = math.max(1L, chunk / 10)
        case t: ThrottledException =>
          if (throttles >= backoff.maxRetries) throw t
          Thread.sleep(backoff.delayMs(throttles))
          throttles += 1
      }
    }
    if (it.hasNext) { value = toRow(it.next()); true } else false
  }
  override def get(): InternalRow = value
  override def close(): Unit = ()
}
