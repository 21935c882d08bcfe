package graft.cli

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.nft.{Collections, Derive, TokenUris}
import graft.ops.SinkUtils
import graft.pipelines.{Crawl, Load, VerifyPipeline}
import graft.rpc.CallExecutor
import graft.sources.{BlockDataFetcher, LogsFetcher, ReceiptDataFetcher, TypedRangeSource}

/** Operator-facing command suite — the reference's `nft` click group
  * (`nft/bin/nft.py:89-133`) mapped onto the engine's pipeline objects,
  * so running the production crawl does not require writing Scala:
  *
  * {{{
  * graft.cli.Main crawl 0 1000 --out /data/nft --evm-rpc-nodes https://node1,https://node2
  * graft.cli.Main tail --out /data/nft --config /data/cfg --checkpoint /ckpt --trail-blocks 8
  * graft.cli.Main seed 999 --config /data/cfg
  * graft.cli.Main force 0x<addr> 120 1000 --out /data/nft
  * graft.cli.Main verify 0 1000 --db /data/nft --collection 0x<addr>
  * graft.cli.Main load /data/events --out /data/rollups
  * }}}
  *
  * Option validation follows the reference's param types
  * (`core/click.py:30-104`): block arguments accept decimal or 0x-hex
  * (`HexIntParamType`), addresses must be 0x + 40 hex
  * (`AddressParamType`), ranges must be non-empty. Omitting
  * `--evm-rpc-nodes` selects the simulated fetchers (fixture chain) so
  * every command is runnable locally; supplying it swaps in the
  * JSON-RPC transports without changing anything else — the same seam
  * the library exposes.
  */
object Main {

  final case class CliError(msg: String) extends RuntimeException(msg)

  val usage: String =
    """usage: graft <command> [arguments] [options]
      |
      |commands:
      |  crawl START END    crawl a block range into the five entity tables (--out)
      |  tail               follow the chain head from the seeded bookmark (--out, --checkpoint)
      |  seed LAST_BLOCK    record the crawl bookmark for a later tail (--config)
      |  force COLLECTION CREATION_BLOCK END
      |                     single-contract whole-chain backfill (--out)
      |  verify START END   reconcile chain truth against the DB tables (--db)
      |  load DATA_DIR      bulk backfill rollups from the events table (--out)
      |  block-number       print the chain head via eth_blockNumber
      |                     (requires --evm-rpc-nodes)
      |  digest FUNCTION_ABI
      |                     keccak selector for an eth_call signature, e.g.
      |                     digest "supportsInterface(bytes4)" -> 0x01ffc9a7;
      |                     --log-topic prints the full 32-byte topic hash
      |  reset              delete the five entity tables under --out (and the
      |                     bookmark/data_version store under --config if given)
      |                     so the next crawl/tail starts from nothing
      |  fixtures-prepare DATA_DIR
      |                     derive the graph + ER fixture relations from
      |                     DATA_DIR and persist them as parquet under --out;
      |                     sessions with graft.fixtures.dir=OUT (conf) or
      |                     GRAFT_FIXTURES_DIR=OUT (env) read them at rest
      |                     instead of rebuilding per session
      |
      |common options:
      |  --blockchain NAME         config-table key (default ethereum-mainnet)
      |  --evm-rpc-nodes URLS      comma-separated JSON-RPC endpoints (http(s):// or
      |                            ws(s)://, mixable); omit = simulated chain
      |  --rpc-batch N             max JSON-RPC calls per wire batch (default 256)
      |  --rpc-timeout-ms N        transport timeout (default 30000)
      |  --rpc-requests-per-second N  proactive per-JVM request cap (default off)
      |  --num-partitions N        fetch parallelism (default 4)
      |  --out DIR                 output directory (crawl/tail/force/load)
      |  --config DIR              config-table directory (seed/tail/crawl bookkeeping)
      |  --data-version N          stamp rows with this data version (default 1)
      |  --increment-data-version  bump the config store's data version and use it (crawl)
      |  --stage-dir DIR           stage fetched windows once instead of re-fetching (crawl)
      |  --block-time-cache PATH   block-time CSV cache for force (S8); default: blocks source
      |  --db DIR                  database table directory (verify)
      |  --collection ADDR         narrow verify to one collection (address pushdown)
      |  --owners-view             tail: also maintain the owner-balance view at
      |                            $out/owners (additive merge, read via
      |                            Tail.readOwners)
      |  --tokens-view             tail: also maintain the token-state view at
      |                            $out/tokens (needs --block-time-cache; read
      |                            via Tail.readTokens)
      |  --uris-view               tail: also maintain the latest-metadata-URL
      |                            view at $out/uris (two-key LWW)
      |  --collections-view        tail: also maintain the collections view at
      |                            $out/collections (probes new contracts through
      |                            the call executor; needs --block-time-cache)
      |  --start N                 tail: explicit starting block, overriding the
      |                            seeded bookmark (required when nothing is seeded)
      |  --trail-blocks N          reorg lag for tail (default 0)
      |  --blocks-per-trigger N    tail micro-batch width (default 64)
      |  --head-wait-ms N          tail: long-poll the head up to N ms per cycle
      |  --head-probe-ms N         tail: head re-probe interval (default 200)
      |  --checkpoint DIR          streaming checkpoint location (tail)
      |  --max-block N             stop bound for tail (default unbounded)
      |  --buckets N               sink/fact bucket count (default 16)
      |  --once                    tail: process available blocks, then stop
      |""".stripMargin

  /** Parse argv into (command, positional args, options). Options are
    * `--key value` except boolean flags. Unknown options fail loudly —
    * a typo'd option silently ignored is the worst CLI failure mode. */
  private val boolFlags = Set("--increment-data-version", "--once",
    "--owners-view", "--tokens-view", "--uris-view", "--collections-view",
    "--log-topic")

  private val knownOptions = Set(
    "blockchain", "evm-rpc-nodes", "rpc-batch", "rpc-timeout-ms", "num-partitions",
    "out", "config", "data-version", "increment-data-version", "stage-dir",
    "block-time-cache", "db", "collection", "trail-blocks", "blocks-per-trigger",
    "checkpoint", "max-block", "buckets", "once", "start",
    "head-wait-ms", "head-probe-ms", "rpc-requests-per-second",
    "owners-view", "tokens-view", "uris-view", "collections-view", "log-topic")

  private[cli] def parse(args: Seq[String]): (String, Vector[String], Map[String, String]) = {
    if (args.isEmpty) throw CliError("no command given")
    val cmd = args.head
    var pos = Vector.empty[String]
    var opts = Map.empty[String, String]
    var rest = args.tail.toList
    while (rest.nonEmpty) rest match {
      case flag :: tl if boolFlags(flag) =>
        opts += (flag.drop(2) -> "true"); rest = tl
      case key :: value :: tl if key.startsWith("--") =>
        opts += (key.drop(2) -> value); rest = tl
      case key :: Nil if key.startsWith("--") =>
        throw CliError(s"option $key requires a value")
      case p :: tl => pos :+= p; rest = tl
      case Nil => // unreachable: loop guard
    }
    opts.keys.find(!knownOptions(_)).foreach(k => throw CliError(s"unknown option: --$k"))
    (cmd, pos, opts)
  }

  /** `HexIntParamType` (`core/click.py:30-47`): decimal or 0x-hex. */
  private[cli] def blockArg(name: String, s: String): Long = {
    val v =
      try {
        if (s.startsWith("0x") || s.startsWith("0X")) java.lang.Long.parseLong(s.drop(2), 16)
        else s.toLong
      } catch {
        case _: NumberFormatException =>
          throw CliError(s"$name: '$s' is not a valid integer (decimal or 0x-hex)")
      }
    if (v < 0) throw CliError(s"$name: block numbers must be non-negative, got $v")
    v
  }

  /** `AddressParamType`: 0x + 40 hex, normalized lowercase. */
  private[cli] def addressArg(name: String, s: String): String = {
    if (!s.matches("0[xX][0-9a-fA-F]{40}"))
      throw CliError(s"$name: '$s' is not a valid address (0x + 40 hex digits)")
    "0x" + s.drop(2).toLowerCase
  }

  private def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key, throw CliError(s"option --$key is required for this command"))

  private def intOpt(opts: Map[String, String], key: String, default: Int): Int =
    opts.get(key).map(v => try v.toInt catch {
      case _: NumberFormatException => throw CliError(s"--$key: '$v' is not an integer")
    }).getOrElse(default)

  private def longOpt(opts: Map[String, String], key: String, default: Long): Long =
    opts.get(key).map(v => blockArg(s"--$key", v)).getOrElse(default)

  /** Fetcher wiring: with --evm-rpc-nodes the RPC implementations ride
    * the same seams the simulated ones do. */
  private final case class Wiring(blocks: String, receipts: String, logs: String,
      calls: String, options: Map[String, String])

  private def wiring(opts: Map[String, String]): Wiring = opts.get("evm-rpc-nodes") match {
    case Some(nodes) =>
      val fetcherOpts = Map("endpoints" -> nodes) ++
        opts.get("rpc-batch").map("rpcBatch" -> _) ++
        opts.get("rpc-timeout-ms").map("rpcTimeoutMs" -> _) ++
        opts.get("rpc-requests-per-second").map("rpcRequestsPerSecond" -> _)
      Wiring(classOf[graft.rpc.RpcBlockDataFetcher].getName,
        classOf[graft.rpc.RpcReceiptDataFetcher].getName,
        classOf[graft.rpc.RpcLogsFetcher].getName,
        CallExecutor.Rpc, fetcherOpts)
    case None =>
      Wiring(BlockDataFetcher.Simulated, ReceiptDataFetcher.Simulated,
        LogsFetcher.Simulated, CallExecutor.Simulated, Map.empty)
  }

  // the epoch-stamped VIEW tables' read seams: verify reads a tail-written
  // owners/tokens view through them
  private val ViewReaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    ("owners", graft.streaming.Tail.readOwners _),
    ("tokens", graft.streaming.Tail.readTokens _))

  private def writeTables(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
    }

  def run(spark: SparkSession, args: Seq[String]): Int =
    try {
      val (cmd, pos, opts) = parse(args)
      val blockchain = opts.getOrElse("blockchain", "ethereum-mainnet")
      val w = wiring(opts)
      val numPartitions = intOpt(opts, "num-partitions", 4)
      if (numPartitions < 1)
        throw CliError(s"--num-partitions: must be at least 1, got $numPartitions")

      cmd match {
        case "crawl" =>
          val Seq(start, end) = positional(pos, "crawl", "STARTING_BLOCK", "ENDING_BLOCK")
            .map { case (n, v) => blockArg(n, v) }
          if (end <= start) throw CliError(
            s"ENDING_BLOCK ($end) must be greater than STARTING_BLOCK ($start)")
          val out = required(opts, "out")
          // --increment-data-version (`crawl.py`): bump-and-use ensures
          // a re-crawl is distinguishable from the data it replaces
          val dataVersion =
            if (opts.contains("increment-data-version"))
              SinkUtils.incrementDataVersion(spark, s"${required(opts, "config")}/data_version",
                blockchain)
            else intOpt(opts, "data-version", 1)
          // against live endpoints, materializing five tables off one
          // lazy lineage would re-fetch the window per table (5x RPC
          // cost) — default the stage under --out unless given
          val defaultedStage = !opts.contains("stage-dir") && opts.contains("evm-rpc-nodes")
          val stageDir = opts.get("stage-dir")
            .orElse(if (defaultedStage) Some(s"$out/.stage") else None)
          val tables = Crawl.fromChain(spark, start, end,
            blocksFetcher = w.blocks, receiptsFetcher = w.receipts,
            numPartitions = numPartitions, stageDir = stageDir,
            callExecutor = w.calls, fetcherOptions = w.options, dataVersion = dataVersion)
          writeTables(tables, out)
          // an auto-chosen stage is an implementation detail of the
          // crawl, not part of its output contract — drop it once the
          // real tables have landed (a user-supplied --stage-dir is kept)
          if (defaultedStage) stageDir.foreach { s =>
            val p = new org.apache.hadoop.fs.Path(s)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          }
          println(s"crawled [$start, $end) into $out (data_version=$dataVersion)")
          0

        case "seed" =>
          val Seq(last) = positional(pos, "seed", "LAST_BLOCK_ID")
            .map { case (n, v) => blockArg(n, v) }
          SinkUtils.writeLastBlock(spark, s"${required(opts, "config")}/last_block",
            blockchain, last)
          println(s"seeded last_block_id=$last for $blockchain")
          0

        case "tail" =>
          val out = required(opts, "out")
          val config = required(opts, "config")
          val checkpoint = required(opts, "checkpoint")
          // the reference tail starts where the seeded bookmark points
          // (`tail.py`'s starting-block lookup); --start overrides — and
          // must short-circuit the lookup entirely, so a fresh
          // environment with no bookmark still honors the override
          val start = opts.get("start").map(v => blockArg("--start", v)).getOrElse(
            SinkUtils.readLastBlock(spark, s"$config/last_block", blockchain)
              .map(_ + 1)
              .getOrElse(throw CliError(
                "tail requires a seeded bookmark (run `seed`) or an explicit --start")))
          // --head-wait-ms: opt-in long-poll head (sub-interval latency)
          val headWait = Seq("head-wait-ms" -> "headWaitMs", "head-probe-ms" -> "headProbeMs")
            .collect { case (cli, opt) if opts.contains(cli) => opt -> longOpt(opts, cli, 0L).toString }
          val blocksPerTrigger = intOpt(opts, "blocks-per-trigger", 64)
          if (blocksPerTrigger < 1)
            throw CliError(s"--blocks-per-trigger: must be at least 1, got $blocksPerTrigger")
          val receipts = spark.readStream.format("receipts")
            .option("blocksPerTrigger", blocksPerTrigger.toString)
            .option("trailBlocks", longOpt(opts, "trail-blocks", 0L).toString)
            .options(headWait.toMap)
            .options(TypedRangeSource.readOptions(start, longOpt(opts, "max-block", Long.MaxValue),
              numPartitions, w.receipts, w.options))
            .load()
          val buckets = intOpt(opts, "buckets", 16)
          // the LWW sink of one of the tail's entity tables under --out
          def lwwSink(name: String, keys: Seq[String], versionCols: Seq[String]) =
            graft.streaming.Tail.lwwSink(s"$out/$name", keys, versionCols, buckets) _
          val factSink = lwwSink("transfers", Derive.TransferKeys, Derive.TransferVersion)
          def blockTimeDim(flag: String) =
            opts.get("block-time-cache").map(Load.readBlockTimeCsv(spark, _))
              .getOrElse(throw CliError(
                s"$flag requires --block-time-cache (the S8 block-time dim)"))
          val viewSinks = Seq.newBuilder[(DataFrame, Long) => Unit]
          if (opts.contains("owners-view"))
            viewSinks += graft.streaming.Tail.ownersSink(s"$out/owners", buckets) _
          if (opts.contains("tokens-view")) {
            val bt = blockTimeDim("--tokens-view")
            viewSinks += graft.streaming.Tail.tokensSink(s"$out/tokens", bt, buckets) _
          }
          val collectionsDim =
            if (opts.contains("collections-view")) Some(blockTimeDim("--collections-view"))
            else None
          val views = viewSinks.result()
          // the stream carries RECEIPTS; each epoch derives logs once and
          // fans out to the fact sink + any enabled views (all idempotent
          // per epoch, so at-least-once replays converge)
          val q = receipts.writeStream
            .option("checkpointLocation", checkpoint)
            .foreachBatch { (rb: DataFrame, id: Long) =>
              // the micro-batch DF re-executes its SOURCE SCAN on every
              // action, and each sink below is at least one action —
              // persist the fetched receipts ONCE so the epoch's wire
              // cost stays one fetch per window regardless of how many
              // views are enabled (spec-pinned by method counts)
              val epoch = rb.persist()
              val logs = epoch.select(explode(col("logs")).as("l")).select(col("l.*"))
              val transfers = Derive.transfers(logs).persist()
              try {
                factSink(transfers, id)
                views.foreach(_(transfers, id))
                if (opts.contains("uris-view")) {
                  // K3 two-key LWW: latest metadata URL per token, from
                  // BOTH metadata sources — ERC-1155 URI events and the
                  // per-mint 721 tokenURI probes (the streaming
                  // transformer, `nft/evm/transformers.py:379-431`); the
                  // epoch's mint set is metadata-scale, so the probe
                  // round-trip is bounded per micro-batch
                  // eager checkpoint (the collections-dim pattern): the
                  // probe lineage must execute ONCE per epoch — the
                  // isEmpty gate plus the sink write would otherwise
                  // re-issue every eth_call
                  val updates = TokenUris.updates(logs,
                    TokenUris.fromMints(spark, transfers, w.calls, w.options))
                    .localCheckpoint(true)
                  if (!updates.isEmpty)
                    lwwSink("uris", TokenUris.Keys, TokenUris.Version)(updates, id)
                }
                collectionsDim.foreach { bt =>
                  // new contracts this epoch, through the crawl's
                  // collections branch; the probe (metadata-scale, rows =
                  // created contracts) is eager-checkpointed so the
                  // sink's several actions don't re-issue its calls
                  if (!Collections.creations(epoch).isEmpty)
                    lwwSink("collections", Collections.Keys, Collections.Version)(
                      Collections.fromChain(spark, epoch, bt,
                        intOpt(opts, "data-version", 1), w.calls, w.options,
                        _.localCheckpoint(true)), id)
                }
              } finally { transfers.unpersist(false); epoch.unpersist(false) }
            }
            .start()
          if (opts.contains("once")) { q.processAllAvailable(); q.stop() }
          else q.awaitTermination()
          println(s"tail from block $start into $out/transfers")
          0

        case "force" =>
          val Vector((_, collRaw), (cbName, cbRaw), (ebName, ebRaw)) =
            positional(pos, "force", "COLLECTION_ID", "CREATION_BLOCK", "ENDING_BLOCK")
          val collection = addressArg("COLLECTION_ID", collRaw)
          val creation = blockArg(cbName, cbRaw)
          val end = blockArg(ebName, ebRaw)
          if (end <= creation) throw CliError(
            s"ENDING_BLOCK ($end) must be greater than CREATION_BLOCK ($creation)")
          val out = required(opts, "out")
          // --block-time-cache (`force.py`): the S8 CSV dim; default =
          // a blocks-source read over the same range
          val blockTimes = opts.get("block-time-cache") match {
            case Some(csv) => Load.readBlockTimeCsv(spark, csv)
            case None =>
              spark.read.format("blocks")
                .options(TypedRangeSource.readOptions(creation, end, numPartitions, w.blocks, w.options))
                .load().select(col("number"), col("timestamp"))
          }
          val tables = Crawl.forceLoad(spark, collection, creation, end, blockTimes,
            receiptsFetcher = w.receipts, logsFetcher = w.logs, callExecutor = w.calls,
            numPartitions = numPartitions, fetcherOptions = w.options,
            dataVersion = intOpt(opts, "data-version", 1))
          writeTables(tables, out)
          println(s"force-loaded $collection from block $creation into $out")
          0

        case "verify" =>
          val Seq(start, end) = positional(pos, "verify", "STARTING_BLOCK", "ENDING_BLOCK")
            .map { case (n, v) => blockArg(n, v) }
          if (end <= start) throw CliError(
            s"ENDING_BLOCK ($end) must be greater than STARTING_BLOCK ($start)")
          val db = required(opts, "db")
          val collection = opts.get("collection").map(addressArg("--collection", _))
          // a tail-written table carries its sink's storage columns
          val tableCache = scala.collection.mutable.Map.empty[String, DataFrame]
          def table(name: String) = tableCache.getOrElseUpdate(name, {
            val raw = spark.read.parquet(s"$db/$name")
            if (!raw.columns.contains("__bucket")) raw
            else if (raw.columns.contains("__epoch"))
              // an epoch-stamped VIEW table (tail --owners-view /
              // --tokens-view): read through the view's own seam, which
              // nets/finalizes the stored components into the row shape
              // verify compares (a raw passthrough has no quantity/
              // owner columns and the whole command would die)
              ViewReaders.find(_._1 == name) match {
                case Some((_, read)) => read(spark, s"$db/$name")
                case None => raw.drop("__bucket", "__epoch")
              }
            // an LWW sink table (tail transfers/uris/collections) stores
            // one row per key under its `__bucket` partition column
            else raw.drop("__bucket")
          })
          def narrowed(df: DataFrame) =
            collection.fold(df)(c => df.filter(col("collection_id") === c))
          val dbTokens = narrowed(table("tokens").select(col("collection_id"), col("token_id")))
          // chain-truth supply snapshot from the crawled collections
          // table's totalSupply probe result (hex64 -> decimal)
          // keep the snapshot's canonical 64-hex form: countsReport
          // converts by declared type with the EXACT hex kernel — the
          // old cast(conv(hex,16,10) as long) silently wrapped supplies
          // at 2^63 into negative/null, reporting false discrepancies
          val supply = narrowed(table("collections"))
            .filter(col("total_supply").isNotNull)
            .select(col("collection_id"), col("total_supply"))
          // the uris entity table reconciles too when present (older
          // DBs without one simply skip the check)
          val dbUris =
            if (SinkUtils.tableExists(spark, s"$db/uris")) Some(narrowed(table("uris")))
            else None
          // the 1155 metadata branch compares the FULLY-UPDATED token
          // url (URI-event updates win over the mint-probe value — the
          // reference token item's state); older DBs without a uris
          // table fall back to the tokens table's own column
          def spec(s: String) =
            narrowed(table("collections")).filter(col("specification") === s)
          val tokens1155 = dbUris
            .map(u => TokenUris.tokensWithLatestUrls(narrowed(table("tokens")), u))
            .getOrElse(narrowed(table("tokens")))
            .join(spec("ERC-1155").select(col("collection_id")),
              Seq("collection_id"), "left_semi")
          val report = VerifyPipeline.fromChain(spark, start, end,
            narrowed(table("transfers")), narrowed(table("owners")), dbTokens, supply,
            collectionId = collection, logsFetcher = w.logs,
            numPartitions = numPartitions, fetcherOptions = w.options,
            dbUris = dbUris, callExecutor = w.calls,
            db1155Tokens = Some(tokens1155), verifyHeight = Some(end))
            // per-token ownerOf probes (reference verify_token flow),
            // gated on the db's ERC-721 classification like the
            // reference's contract_supports_erc721 check
            .unionByName(VerifyPipeline.tokenOwnersReport(spark,
              narrowed(table("tokens")), spec("ERC-721"), w.calls, w.options))
            // per-token tokenURI check at the verify height (reference
            // verify.py:686-690), same ERC-721 gate
            .unionByName(VerifyPipeline.tokenUrisReport(spark,
              narrowed(table("tokens")),
              spec("ERC-721"),
              blockHeight = Some(end), callExecutor = w.calls, options = w.options))
            // per-classification token-item invariants (reference
            // verify.py:692-703): 721 quantity==1 (in-window mints),
            // 1155 owner fields must be null
            .unionByName(VerifyPipeline.tokenShapeReport(
              narrowed(table("tokens")), spec("ERC-721"), spec("ERC-1155")))
            // collections-table verify (reference verify.py:453-570):
            // live metadata re-probes + date/creator re-checks against
            // EXACTLY the distinct creation blocks (the reference
            // fetches one block per collection; a window sweep would
            // fetch receipts for every block of a narrow verify)
            .unionByName({
              val dbColls = narrowed(table("collections"))
              val creationBlocks = dbColls.select(col("block_created")).distinct()
                .limit(257).collect().map(_.getAs[Long]("block_created")).sorted
              def src(fmt: String, fetcher: String, lo: Long, hi: Long, parts: Int) =
                spark.read.format(fmt)
                  .options(TypedRangeSource.readOptions(lo, hi, parts, fetcher, w.options)).load()
              // <= 256 creation blocks: fetch each block alone (tight
              // ranges when clustered, per-block unions when scattered);
              // an unbounded creation-block set keeps the probe checks
              // and skips the date/creator sections
              val dims =
                if (creationBlocks.isEmpty || creationBlocks.length > 256) None
                else if (creationBlocks.max - creationBlocks.min < 10000L) {
                  val (lo, hi) = (creationBlocks.min, creationBlocks.max + 1)
                  Some((src("blocks", w.blocks, lo, hi, numPartitions)
                      .select(col("number"), col("timestamp")),
                    src("receipts", w.receipts, lo, hi, numPartitions)))
                } else Some((
                  creationBlocks.map(b => src("blocks", w.blocks, b, b + 1, 1)
                    .select(col("number"), col("timestamp"))).reduce(_ unionByName _),
                  creationBlocks.map(b => src("receipts", w.receipts, b, b + 1, 1))
                    .reduce(_ unionByName _)))
              VerifyPipeline.collectionsReport(spark, dbColls,
                blockTimes = dims.map(_._1), creationReceipts = dims.map(_._2),
                callExecutor = w.calls, options = w.options)
            })
            // the chain's OWN token enumeration vs the db id set
            // (reference verify.py:1043-1056) — catches a token the db
            // lost entirely, which no per-db-row probe can see
            .unionByName(VerifyPipeline.enumerationReport(spark,
              narrowed(table("tokens")).select(col("collection_id"), col("token_id")),
              spec("ERC-721"),
              blockHeight = Some(end), callExecutor = w.calls, options = w.options))
          // with --out, count the WRITTEN parquet rather than re-running
          // the report lineage: the lineage holds live ranged-getLogs
          // sweeps and latest-state ownerOf probes, so a second
          // execution doubles wire cost and can disagree with the file
          val persisted = opts.get("out") match {
            case Some(o) =>
              report.write.mode(SaveMode.Overwrite).parquet(o)
              spark.read.parquet(o)
            case None => report.localCheckpoint(true)
          }
          // the reference's VerifyResult passes when ERRORS are empty —
          // warnings (not-enumerable, contract-vs-event discrepancies)
          // are reported but never fail the audit (`verify.py:1076-1081`)
          val warnings = persisted.filter(col("detail").startsWith("warning:")).count()
          val n = persisted.count() - warnings
          println(
            if (n == 0 && warnings == 0) "verify: clean"
            else if (n == 0) s"verify: clean ($warnings warnings)"
            else s"verify: $n discrepancies ($warnings warnings)")
          if (n == 0) 0 else 1

        case "load" =>
          val Vector((_, dataDir)) = positional(pos, "load", "DATA_DIR")
          Load.run(spark, dataDir, required(opts, "out"), intOpt(opts, "buckets", 16))
          println(s"loaded $dataDir into ${opts("out")}")
          0

        case "digest" =>
          // reference `function_digest` (evm/bin.py:18-35): the 4-byte
          // selector of an eth_call signature; --log-topic prints the
          // full keccak (the docstring's documented contract — selector
          // 0x + 8 hex — not the reference's sig[:8] slice, which
          // truncates to 6 hex digits and contradicts its own example)
          val Vector((_, sig)) = positional(pos, "digest", "FUNCTION_ABI")
          println(if (opts.contains("log-topic")) graft.expr.Keccak.eventTopic(sig)
            else graft.expr.Keccak.functionSelector(sig))
          0

        case "block-number" =>
          // reference `block_number` (evm/bin.py:38-52): print the
          // node's current head via eth_blockNumber. The reference
          // REQUIRES an archive node argument — the simulated chain has
          // no moving head, so no-nodes is the same validation error
          positional(pos, "block-number") // no positional args
          val head = graft.sources.ChainHead.provider(w.blocks, w.options)
            .getOrElse(throw CliError(
              "block-number requires --evm-rpc-nodes (the reference's ARCHIVE_NODE)"))
          println(head())
          0

        case "reset" =>
          // reference `reset` (nft/bin/reset.py): delete + recreate the
          // entity tables and the config store. Parquet-world twin:
          // delete the table DIRS (the next write recreates them);
          // deletes are scoped to the known table names, never the whole
          // --out tree (an operator pointing --out at a shared dir must
          // not lose unrelated data)
          positional(pos, "reset") // no positional args
          val out = required(opts, "out")
          val entityTables = Seq("collections", "transfers", "tokens", "owners", "uris")
          val targets = entityTables.map(t => s"$out/$t") ++
            opts.get("config").toSeq.flatMap(c => Seq(s"$c/last_block", s"$c/data_version"))
          val deleted = targets.filter { t =>
            val p = new org.apache.hadoop.fs.Path(t)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            fs.exists(p) && fs.delete(p, true)
          }
          println(s"DB has been reset (${deleted.size} table(s) removed)")
          0

        case "fixtures-prepare" =>
          // the Prepare job behind the fixture suites: derive the graph
          // and ER fixture relations from DATA_DIR and persist them as
          // parquet under --out. A later session (query run, bench)
          // configured with graft.fixtures.dir=--out (or the
          // GRAFT_FIXTURES_DIR env var) READS the tables instead of
          // rebuilding — the at-rest tier of tables/FixtureStore, which
          // separates fixture build cost from query read cost.
          val Vector((_, dataDir)) = positional(pos, "fixtures-prepare", "DATA_DIR")
          val out = required(opts, "out")
          graft.tables.GraphFixtures.materialize(spark, dataDir, out)
          graft.tables.ErFixtures.materialize(spark, dataDir, out)
          val names = Seq("part_co_pairs", "sup_counts", "strong_pairs",
            "cust_supp_flagged", "cooccur_corpus_core",
            "er_resolved_all", "er_resolved_corpus")
          names.foreach { n =>
            println(s"$n: ${spark.read.parquet(s"$out/$n").count()} rows -> $out/$n")
          }
          0

        case other => throw CliError(s"unknown command: $other")
      }
    } catch {
      case CliError(msg) =>
        System.err.println(s"error: $msg")
        System.err.println(usage)
        2
      // environment errors an operator can act on (missing table dir,
      // wrong schema at --db/--config) get the click-style message, not
      // a stack trace
      case e: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"error: ${e.getMessage}")
        2
    }

  /** Positional-arity check with the reference's click-style error. */
  private def positional(pos: Vector[String], cmd: String,
      names: String*): Vector[(String, String)] = {
    if (pos.length != names.length) throw CliError(
      s"$cmd expects ${names.length} argument(s) ${names.mkString("<", "> <", ">")}, " +
        s"got ${pos.length}")
    names.toVector.zip(pos).map { case (n, v) => (n, v) }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(spark, args.toIndexedSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
