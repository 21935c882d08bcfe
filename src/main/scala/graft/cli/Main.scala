package graft.cli

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.nft.{Collections, TokenUris}
import graft.ops.SinkUtils
import graft.pipelines.{Crawl, Load, Prepare, VerifyPipeline}
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
      |  compact            fold a log-format tail sink to one row per key (--out)
      |  block-number       print the chain head via eth_blockNumber
      |                     (requires --evm-rpc-nodes)
      |  digest FUNCTION_ABI
      |                     keccak selector for an eth_call signature, e.g.
      |                     digest "supportsInterface(bytes4)" -> 0x01ffc9a7;
      |                     --log-topic prints the full 32-byte topic hash
      |  reset              delete the five entity tables under --out (and the
      |                     bookmark/data_version store under --config if given)
      |                     so the next crawl/tail starts from nothing
      |  prepare DATA_DIR   LLM training-data pipeline over the documents table:
      |                     optional compression-ratio junk gate
      |                     (--min-compress-ratio F: DEFLATE ratio < F drops) ->
      |                     quality gate -> optional learned classifier ->
      |                     optional benchmark decontamination -> near-dup
      |                     dedup -> PII mask -> stratified sample -> shuffle
      |                     shards -> sequence pack; prints the per-stage row
      |                     funnel (--out; --quality-frac F [0.25];
      |                     --shards N [16]; --seq-len N [256];
      |                     --classifier CSV token,weight milli-unit table with
      |                     --classifier-bias N [0] --classifier-threshold F [0.0];
      |                     --bench DIR parquet eval set to decontaminate against)
      |  ingest DOCS_DIR    continuously ingest parquet documents dropped into
      |                     DOCS_DIR: per-micro-batch near-dup dedup against the
      |                     standing band index, with prepare's optional
      |                     --classifier/--bench gates, --cdc (chunk-grain
      |                     revision gate, --cdc-dup-frac F [0.5]), and
      |                     --embed-threshold F (semantic near-dup gate over an
      |                     embedding column: standing sign-bucket index,
      |                     quantized cosine >= F drops; --embed-pq stores
      |                     PQ codes instead of vectors, ~64x smaller
      |                     index, ADC-scored); survivors
      |                     land at $out/corpus, indexes beside it
      |                     (--out, --checkpoint; --once drains and stops;
      |                     --compact-index-every N folds the indexes' epoch
      |                     partitions so per-batch listing stays bounded;
      |                     --drift records each batch's token-distribution
      |                     L1 drift vs the standing corpus under $out/drift
      |                     and prints the per-batch ledger)
      |  index-build EMB_DIR
      |                     train + persist the ANN standing index over a
      |                     (vec_id, embedding[, label]) parquet: coarse IVF
      |                     centroids, PQ codebooks, and the encoded corpus
      |                     (cell + 8 codes + rnrm per vector) land under --out
      |                     (--nlist N [8] --iters N [2] --m N [8]
      |                      --codes N [16] --dims N [64])
      |  index-search EMB_DIR
      |                     top-k neighbors from a standing --index WITHOUT
      |                     retraining or rescanning raw vectors (IVFADC+R:
      |                     cell-pruned compressed scan + exact rerank; raw
      |                     vectors touched only for the Q x shortlist rerank
      |                     fetch); queries = --ids I,J,... rows of EMB_DIR or
      |                     --queries DIR, an external (vec_id, embedding)
      |                     parquet (--k N [3] --nprobe N [2] --shortlist N [32])
      |  fuzzy-index-build SRC_DIR
      |                     persist the deletion-variant fuzzy-match index over
      |                     an (id, str) parquet under --out
      |                     (--k N [1] --id-col NAME [id] --str-col NAME [str])
      |  fuzzy-search       edit-distance matches from a standing --index
      |                     without re-enumerating the corpus; probes =
      |                     --strings a,b,... or --queries DIR ((id, str)
      |                     parquet); k comes from the index meta
      |  er-resolve SRC_DIR
      |                     entity resolution over an (id, name) parquet
      |                     (conjunctive lev/trigram rule) -> --out entity
      |                     table (--k N [1] --tau F [0.9] --id-col [id]
      |                     --name-col [name])
      |  er-assign BATCH_DIR
      |                     place a batch against a standing --corpus
      |                     (er-resolve output) with O(batch) pairing;
      |                     bridges merge; rule comes from the corpus meta;
      |                     optional --out parquet
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
      |  --merge-format NAME       tail sink storage: bucket (overwrite touched
      |                            buckets, default) or log (append + read-time
      |                            LWW resolve; fold with `compact`)
      |  --compact-every N         tail: with --merge-format log, auto-fold the
      |                            append log every N epochs (default: never)
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
    "--log-topic", "--cdc", "--embed-pq", "--drift")

  private val knownOptions = Set(
    "blockchain", "evm-rpc-nodes", "rpc-batch", "rpc-timeout-ms", "num-partitions",
    "out", "config", "data-version", "increment-data-version", "stage-dir",
    "block-time-cache", "db", "collection", "trail-blocks", "blocks-per-trigger",
    "checkpoint", "max-block", "buckets", "once", "start",
    "head-wait-ms", "head-probe-ms", "rpc-requests-per-second", "merge-format",
    "compact-every",
    "owners-view", "tokens-view", "uris-view", "collections-view", "log-topic",
    "quality-frac", "shards", "seq-len", "classifier", "classifier-bias",
    "classifier-threshold", "bench", "cdc", "cdc-dup-frac", "compact-index-every",
    "index", "ids", "queries", "k", "nprobe", "shortlist", "nlist", "iters",
    "m", "codes", "dims", "embed-threshold", "embed-pq", "min-compress-ratio",
    "id-col", "str-col", "strings", "tau", "name-col", "corpus", "drift")

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

  private def doubleOpt(opts: Map[String, String], key: String, default: Double): Double =
    opts.get(key).map(v => try v.toDouble catch {
      case _: NumberFormatException => throw CliError(s"--$key: '$v' is not a number")
    }).getOrElse(default)

  /** `--classifier CSV` (+ `--classifier-bias/-threshold`) → the
    * (weights, bias, threshold) triple `Classify.scoreLinear` takes —
    * shared by `prepare` (batch stage 1b) and `ingest` (per-epoch
    * gate). Weights are integer milli-units; malformed rows fail
    * loudly. */
  private def parseClassifier(spark: SparkSession,
      opts: Map[String, String]): Option[(Seq[(String, Long)], Long, Double)] =
    opts.get("classifier").map { path =>
      val rows = spark.read.option("header", "true").csv(path)
      if (!rows.columns.contains("token") || !rows.columns.contains("weight"))
        throw CliError(s"--classifier: $path needs header columns token,weight")
      val weights = rows.select("token", "weight").collect().map { r =>
        val w = try r.getString(1).trim.toLong catch {
          case _: NumberFormatException =>
            throw CliError(s"--classifier: weight '${r.getString(1)}' is not an integer")
        }
        r.getString(0) -> w
      }.toSeq
      // plain signed long — a bias is not a block number
      val bias = opts.get("classifier-bias").map(v => try v.toLong catch {
        case _: NumberFormatException =>
          throw CliError(s"--classifier-bias: '$v' is not an integer")
      }).getOrElse(0L)
      (weights, bias, doubleOpt(opts, "classifier-threshold", 0.0))
    }

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

  // every log-format-capable tail table's (keys, versionCols) — the ONE
  // place the tail's sinks, verify's log resolution and `compact` take
  // identities from, so a table the tail can write is never left
  // unresolvable/unfoldable. Transfers are append-only facts keyed by
  // their synthetic version (K8 idempotent-append semantics).
  private val SinkIdentity: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("transfers", Seq("collection_id", "token_id", "attribute_version"),
      Seq("attribute_version")),
    ("uris", TokenUris.Keys, TokenUris.Version),
    ("collections", Collections.Keys, Collections.Version))
  // the epoch-stamped VIEW tables' read seams, kept NEXT to SinkIdentity
  // so every table shape the tail can write has its resolution declared
  // in one place
  private val ViewReaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    ("owners", graft.streaming.Tail.readOwners _),
    ("tokens", graft.streaming.Tail.readTokens _))

  private def mergeFormat(opts: Map[String, String], buckets: Int): graft.streaming.Tail.LwwMergeFormat =
    opts.getOrElse("merge-format", "bucket") match {
      case "bucket" => new graft.streaming.Tail.BucketOverwriteFormat(buckets)
      case "log"    => new graft.streaming.Tail.LogAppendFormat(buckets)
      case other    => throw CliError(s"--merge-format: unknown format '$other' (bucket|log)")
    }

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
          val receipts = spark.readStream.format("receipts")
            .option("blocksPerTrigger", intOpt(opts, "blocks-per-trigger", 64).toString)
            .option("trailBlocks", longOpt(opts, "trail-blocks", 0L).toString)
            .options(headWait.toMap)
            .options(TypedRangeSource.readOptions(start, longOpt(opts, "max-block", Long.MaxValue),
              numPartitions, w.receipts, w.options))
            .load()
          val buckets = intOpt(opts, "buckets", 16)
          val compactEvery = intOpt(opts, "compact-every", 0)
          if (compactEvery < 0) throw CliError("--compact-every: must be non-negative")
          if (compactEvery > 0 && opts.getOrElse("merge-format", "bucket") != "log")
            throw CliError("--compact-every requires --merge-format log " +
              "(the bucket format already stores one row per key)")
          // the LWW sink of a SinkIdentity table under --out
          def lwwSink(name: String) = SinkIdentity.collectFirst {
            case (`name`, keys, versionCols) => graft.streaming.Tail.mergeSink(s"$out/$name",
              keys, versionCols, mergeFormat(opts, buckets), compactEvery) _
          }.get
          val factSink = lwwSink("transfers")
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
              val transfers = graft.nft.Derive.transfers(logs).persist()
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
                  if (!updates.isEmpty) lwwSink("uris")(updates, id)
                }
                collectionsDim.foreach { bt =>
                  // new contracts this epoch, through the crawl's
                  // collections branch; the probe (metadata-scale, rows =
                  // created contracts) is eager-checkpointed so the
                  // sink's several actions don't re-issue its calls
                  if (!Collections.creations(epoch).isEmpty)
                    lwwSink("collections")(Collections.fromChain(spark, epoch, bt,
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
          // a table written by the log-format tail sink is an epoch log
          // (replays appended verbatim, `__bucket` partition column) —
          // resolve it to facts before reconciling, or every replayed
          // epoch would surface as a duplicate-fact discrepancy
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
            else SinkIdentity.find(_._1 == name) match {
              // resolve through the log format's own read seam with the
              // TABLE'S key/version identity — a bare drop("__bucket")
              // would hand replayed epochs and superseded versions to
              // the reconcile as duplicate facts. The resolution stays
              // LAZY (no checkpoint): --collection pushes its filter
              // through the collapse grouping key into the scan, which
              // an eager materialization would forfeit for the whole log.
              case Some((_, keys, versionCols)) =>
                new graft.streaming.Tail.LogAppendFormat(intOpt(opts, "buckets", 16))
                  .read(spark, s"$db/$name", keys, versionCols)
              case None => raw.drop("__bucket")
            }
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

        case "compact" =>
          positional(pos, "compact") // no positional args
          val out = required(opts, "out")
          // --buckets must match the tail that wrote the log, same as it
          // must between tail restarts. Fold EVERY log-format table the
          // tail can write (each with its own identity) — compacting
          // only transfers would leave uris/collections logs growing
          // unbounded, the exact problem compact exists to solve.
          val fmt = new graft.streaming.Tail.LogAppendFormat(intOpt(opts, "buckets", 16))
          val folded = SinkIdentity.flatMap { case (name, keys, versionCols) =>
            // Hadoop-path probe, not java.io.File: --out may be any
            // filesystem Spark writes to (s3a://, hdfs://, file: URIs)
            if (graft.ops.SinkUtils.tableExists(spark, s"$out/$name")) {
              fmt.compact(spark, s"$out/$name", keys, versionCols)
              Some(name)
            } else None
          }
          if (folded.isEmpty) throw CliError(s"compact: no log-format tables under $out")
          println(s"compacted ${folded.map(n => s"$out/$n").mkString(", ")}")
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

        case "prepare" =>
          // the LLM-pipeline twin of `load`: the library Prepare program
          // (every stage an already-tested operator) made operable like
          // crawl/tail. The funnel prints as plain `stage rows` lines
          // AND lands as parquet beside the corpus, so an operator can
          // audit a finished run without re-executing it.
          val Vector((_, dataDir)) = positional(pos, "prepare", "DATA_DIR")
          val out = required(opts, "out")
          val classifier = parseClassifier(spark, opts)
          val bench = opts.get("bench").map(spark.read.parquet(_))
          val funnel = Prepare.run(spark, dataDir, out,
            qualityFrac = doubleOpt(opts, "quality-frac", 0.25),
            nShards = intOpt(opts, "shards", 16),
            seqLen = longOpt(opts, "seq-len", 256L),
            classifier = classifier, bench = bench,
            minCompressRatio = opts.get("min-compress-ratio")
              .map(_ => doubleOpt(opts, "min-compress-ratio", 0.0)))
          val rows = funnel.collect()
          rows.foreach(r => println(s"${r.getString(0)} ${r.getLong(1)}"))
          funnel.write.mode(SaveMode.Overwrite).parquet(s"$out/funnel")
          println(s"prepared $dataDir into $out")
          0

        case "ingest" =>
          // the STREAMING twin of `prepare`: continuously ingest parquet
          // documents dropped into DOCS_DIR through the near-dup-aware
          // gate stack (Ingest.startNearDupIngest) — per micro-batch
          // band dedup against the standing index, plus the same
          // optional classifier / decontamination gates prepare has and
          // the chunk-grain revision gate (--cdc). Survivors land at
          // $out/corpus; the standing indexes live beside it, so a
          // stopped stream resumes exactly where it left off
          // (checkpoint + epoch-partitioned idempotent sinks).
          val Vector((_, docsDir)) = positional(pos, "ingest", "DOCS_DIR")
          val out = required(opts, "out")
          val checkpoint = required(opts, "checkpoint")
          // file-stream sources need an explicit schema: infer it from
          // the files already present (the drop dir must be seeded with
          // at least one batch — same contract as spark.readStream)
          val schema = spark.read.parquet(docsDir).schema
          val stream = spark.readStream.schema(schema).parquet(docsDir)
          val bench = opts.get("bench").map(p =>
            graft.ops.Decontaminate.benchGate(spark.read.parquet(p)))
          val cdc =
            if (opts.contains("cdc"))
              Some(graft.streaming.Ingest.CdcGate(s"$out/chunk_index",
                dupFrac = doubleOpt(opts, "cdc-dup-frac", 0.5)))
            else None
          val embed =
            if (opts.contains("embed-threshold"))
              Some(graft.streaming.Ingest.EmbedGate(s"$out/embed_index",
                threshold = doubleOpt(opts, "embed-threshold", 0.9),
                usePq = opts.contains("embed-pq")))
            else None
          val drift = if (opts.contains("drift")) Some(s"$out/drift") else None
          val q = graft.streaming.Ingest.startNearDupIngest(stream,
            s"$out/band_index", s"$out/corpus", checkpoint,
            bench = bench, classifier = parseClassifier(spark, opts), cdc = cdc,
            embed = embed,
            compactIndexEvery = opts.get("compact-index-every")
              .map(v => longOpt(opts, "compact-index-every", 0L)),
            drift = drift)
          if (opts.contains("once")) { q.processAllAvailable(); q.stop() }
          else q.awaitTermination()
          println(s"ingested $docsDir into $out/corpus")
          drift.foreach { root =>
            graft.streaming.DriftIngest.driftHistory(spark, s"$root/ledger")
              .orderBy(col("batch_id")).collect().foreach { r =>
                println(s"drift batch=${r.getLong(0)} l1_ppm=${r.getLong(4)} " +
                  s"batch_tokens=${r.getLong(2)} standing_tokens=${r.getLong(1)}")
              }
          }
          0

        case "index-build" =>
          // build-once half of the ANN standing index: both quantizers
          // trained with the deterministic integer k-means discipline,
          // then the corpus encoded to (cell, codes, rnrm) — the 8-byte
          // searchable form. Everything lands as plain parquet + a
          // 1-row meta table, so search (and any other engine) can
          // reconstruct the exact configuration without guessing.
          val Vector((_, embDir)) = positional(pos, "index-build", "EMB_DIR")
          val out = required(opts, "out")
          val (m, dims, codes) = (intOpt(opts, "m", 8),
            intOpt(opts, "dims", 64), intOpt(opts, "codes", 16))
          val (nlist, iters) = (intOpt(opts, "nlist", 8), intOpt(opts, "iters", 2))
          val emb = spark.read.parquet(embDir)
          val centroids = graft.ops.Similarity.kmeansCentroids(emb, nlist, iters)
          centroids.write.mode(SaveMode.Overwrite).parquet(s"$out/centroids")
          val books = graft.ops.Pq.trainCodebooks(emb, m, codes, iters, dims)
          graft.ops.Pq.booksToDf(spark, books)
            .write.mode(SaveMode.Overwrite).parquet(s"$out/codebooks")
          val index = graft.ops.Pq.encode(
            graft.ops.Similarity.assignCells(graft.ops.Similarity.prep(emb),
              spark.read.parquet(s"$out/centroids")), books, m, dims)
          index.write.mode(SaveMode.Overwrite).parquet(s"$out/codes")
          import spark.implicits._
          Seq((m, dims, codes, nlist, iters))
            .toDF("m", "dims", "codes", "nlist", "iters")
            .write.mode(SaveMode.Overwrite).parquet(s"$out/meta")
          val n = spark.read.parquet(s"$out/codes").count()
          println(s"indexed $n vectors into $out (nlist=$nlist, m=$m, codes=$codes)")
          0

        case "index-search" =>
          // search-many half: query the standing index at --index. The
          // compressed codes are the ONLY corpus-wide relation touched;
          // EMB_DIR supplies the query vectors and the Q x shortlist
          // rerank fetch (vec_id equi-join), never a full raw scan.
          val Vector((_, embDir)) = positional(pos, "index-search", "EMB_DIR")
          val idx = required(opts, "index")
          val meta = spark.read.parquet(s"$idx/meta").head()
          val (m, dims, codes) = (meta.getAs[Int]("m"),
            meta.getAs[Int]("dims"), meta.getAs[Int]("codes"))
          val emb = spark.read.parquet(embDir)
          // queries: --ids picks corpus rows; --queries is an EXTERNAL
          // (vec_id, embedding) parquet — the production shape, where
          // the asker's vectors were never indexed
          val queries = (opts.get("ids"), opts.get("queries")) match {
            case (Some(ids), None) =>
              emb.filter(col("vec_id").isin(
                ids.split(',').map(_.trim.toLong).toSeq: _*))
            case (None, Some(qDir)) => spark.read.parquet(qDir)
            case _ => throw CliError(
              "index-search needs exactly one of --ids or --queries")
          }
          val res = graft.ops.Pq.searchIndex(
            spark.read.parquet(s"$idx/codes"), emb, queries,
            k = intOpt(opts, "k", 3),
            books = graft.ops.Pq.booksFromDf(spark.read.parquet(s"$idx/codebooks")),
            centroids = Some(spark.read.parquet(s"$idx/centroids")),
            nprobe = intOpt(opts, "nprobe", 2),
            shortlist = intOpt(opts, "shortlist", 32),
            m = m, dims = dims, codes = codes)
          res.orderBy(col("q_id"), col("rank")).collect().foreach { r =>
            println(s"${r.getAs[Long]("q_id")} ${r.getAs[Long]("c_id")} " +
              s"${r.getAs[Int]("rank")} ${r.getAs[Double]("score")}")
          }
          0

        case "fuzzy-index-build" =>
          // build-once half of the fuzzy-match standing index: the
          // deletion-variant rows land as plain parquet (bucket the
          // `v` column at rest for co-located probes) + a 1-row meta
          // table pinning k, so search never guesses the neighborhood
          // radius the index was built for.
          val Vector((_, srcDir)) = positional(pos, "fuzzy-index-build", "SRC_DIR")
          val out = required(opts, "out")
          val k = intOpt(opts, "k", 1)
          val idCol = opts.getOrElse("id-col", "id")
          val strCol = opts.getOrElse("str-col", "str")
          val src = spark.read.parquet(srcDir)
          // cast at the CLI boundary (the er-resolve convention): an
          // int-typed id parquet must not surface later as a
          // ClassCastException in fuzzy-search's getAs[Long] output
          graft.ops.FuzzyJoin.deleteVariantIndex(src, col(idCol).cast("long"), col(strCol), k)
            .write.mode(SaveMode.Overwrite).parquet(s"$out/variants")
          import spark.implicits._
          Seq(k).toDF("k").write.mode(SaveMode.Overwrite).parquet(s"$out/meta")
          val n = spark.read.parquet(s"$out/variants").count()
          println(s"indexed $n variant rows into $out (k=$k)")
          0

        case "fuzzy-search" =>
          // search-many half: probe the standing --index with O(probe
          // x fanout) work; the corpus is never re-enumerated. Probes
          // come from --strings (ad hoc, ids are their position) or
          // --queries DIR, an (id, str) parquet.
          val idx = required(opts, "index")
          val k = spark.read.parquet(s"$idx/meta").head().getAs[Int]("k")
          import spark.implicits._
          val probe = (opts.get("strings"), opts.get("queries")) match {
            case (Some(ss), None) =>
              ss.split(',').toSeq.zipWithIndex
                .map { case (t, i) => (i.toLong, t.trim) }.toDF("id", "str")
            case (None, Some(qDir)) =>
              // normalize an int-typed external id column to long (the
              // er-resolve convention) so the getAs[Long] output below
              // cannot ClassCastException on a valid parquet
              val q = spark.read.parquet(qDir)
              q.withColumn("id", col("id").cast("long"))
            case _ => throw CliError(
              "fuzzy-search needs exactly one of --strings or --queries")
          }
          val res = graft.ops.FuzzyJoin.probeDeletes(probe, col("id"), col("str"),
            spark.read.parquet(s"$idx/variants"), k)
          res.orderBy(col("probe_id"), col("dist"), col("match_id"))
            .collect().foreach { r =>
              println(s"${r.getAs[Long]("probe_id")} ${r.getAs[Long]("match_id")} " +
                s"${r.getAs[Long]("dist")}")
            }
          0

        case "er-resolve" =>
          // one-shot entity resolution over an (id, name) parquet:
          // conjunctive rule (lev <= k AND trigram-jaccard >= tau),
          // entities = connected components (ops/EntityResolution).
          // Output keeps the name column so er-assign can probe it as
          // the standing corpus.
          val Vector((_, srcDir)) = positional(pos, "er-resolve", "SRC_DIR")
          val out = required(opts, "out")
          val k = intOpt(opts, "k", 1)
          val tau = doubleOpt(opts, "tau", 0.9)
          val idCol = opts.getOrElse("id-col", "id")
          val nameCol = opts.getOrElse("name-col", "name")
          val src = spark.read.parquet(srcDir)
          graft.ops.EntityResolution.resolve(src, col(idCol), col(nameCol), k, tau)
            .join(src.select(col(idCol).cast("long").as("record_id"),
              col(nameCol).as("name")), Seq("record_id"))
            .write.mode(SaveMode.Overwrite).parquet(out)
          import spark.implicits._
          Seq((k, tau)).toDF("k", "tau").write.mode(SaveMode.Overwrite)
            .parquet(s"$out.meta")
          val res = spark.read.parquet(out)
          val nEnt = res.select("entity_id").distinct().count()
          println(s"resolved ${res.count()} records into $nEnt entities -> $out (k=$k tau=$tau)")
          0

        case "er-assign" =>
          // incremental half: place an (id, name) batch against a
          // standing er-resolve output with O(batch) pairing work
          // (standing variant index + pre-coarsened entity links —
          // bridges merge, ops/EntityResolution.assignBatch). The rule
          // comes from the corpus meta, so a batch can never be
          // assigned under different thresholds than its corpus.
          val Vector((_, batchDir)) = positional(pos, "er-assign", "BATCH_DIR")
          val corpusDir = required(opts, "corpus")
          val meta = spark.read.parquet(s"$corpusDir.meta").head()
          val (k, tau) = (meta.getAs[Int]("k"), meta.getAs[Double]("tau"))
          val idCol = opts.getOrElse("id-col", "id")
          val nameCol = opts.getOrElse("name-col", "name")
          val corpus = spark.read.parquet(corpusDir)
          val res = graft.ops.EntityResolution.assignBatch(
            corpus, col("record_id"), col("entity_id"), col("name"),
            spark.read.parquet(batchDir), col(idCol).cast("long"), col(nameCol), k, tau)
          opts.get("out").foreach(o =>
            res.write.mode(SaveMode.Overwrite).parquet(o))
          res.orderBy(col("record_id")).collect().foreach { r =>
            println(s"${r.getAs[Long]("record_id")} ${r.getAs[Long]("entity_id")}")
          }
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
