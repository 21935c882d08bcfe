package graft.cli

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every operator subcommand driven end-to-end on the fixture chain —
  * the CLI is a thin veneer over the pipeline objects, so each test
  * pins (a) the argument/option mapping and (b) equality with the
  * library call it wraps. */
class MainCliSpec extends SparkSpec {

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("crawl: writes the five entity tables; --increment-data-version bumps through the config store") {
    val out = tmp("cli_crawl"); val cfg = tmp("cli_cfg")
    assert(Main.run(spark, Seq("crawl", "0", "40", "--out", out,
      "--increment-data-version", "--config", cfg)) === 0)
    Seq("collections", "transfers", "tokens", "owners", "uris").foreach { t =>
      assert(new java.io.File(s"$out/$t").exists(), s"missing table $t")
    }
    assert(spark.read.parquet(s"$out/collections")
      .select("data_version").head().getInt(0) === 1)
    // the CLI wraps Crawl.fromChain exactly
    val lib = graft.pipelines.Crawl.fromChain(spark, 0, 40, dataVersion = 1)
    assert(rows(spark.read.parquet(s"$out/transfers")) === rows(lib("transfers")))
    // a re-crawl with the flag lands the bumped version
    assert(Main.run(spark, Seq("crawl", "0", "40", "--out", out,
      "--increment-data-version", "--config", cfg)) === 0)
    assert(spark.read.parquet(s"$out/collections")
      .select("data_version").head().getInt(0) === 2)
  }

  test("crawl over RPC endpoints stages the fetched window once (no per-table re-fetch)") {
    val out = tmp("cli_rpc_crawl")
    val stub = new graft.rpc.StubRpcServer()
    try {
      assert(Main.run(spark, Seq("crawl", "0", "30", "--out", out,
        "--evm-rpc-nodes", stub.url)) === 0)
      // the auto-chosen stage under --out is an implementation detail:
      // it must be gone once the real tables land (a user-supplied
      // --stage-dir is kept; covered by the assertion below that the
      // staged lineage really fed the tables before cleanup)
      assert(!new java.io.File(s"$out/.stage").exists(),
        "defaulted stage directory survived the crawl")
      // wire cost stayed linear (blocks + hash lists + receipts +
      // probes); materializing five tables off one live lineage would
      // have multiplied it several-fold
      val totalTx = (0L until 30L).map(graft.sources.SimulatedReceiptFetcher.receiptsOf(_).size).sum
      assert(stub.rpcRequests.get() <= 30 + 30 + totalTx + 6 * 30 + 10,
        s"${stub.rpcRequests.get()} wire entries — the crawl re-fetched its window")
      assert(spark.read.parquet(s"$out/transfers").count() === (0L until 30L).map(_ % 3).sum)
    } finally stub.stop()
  }

  test("crawl over a ws:// endpoint == crawl over http (the reference's native form)") {
    // the reference documents websocket endpoints as THE deployment mode
    // (`core/rpc.py:108`); a user pasting a wss URL into --evm-rpc-nodes
    // must get the identical crawl, transport swapped under the seam
    val outWs = tmp("cli_ws_crawl"); val outHttp = tmp("cli_http_crawl")
    val inner = new graft.rpc.StubRpcServer()
    val ws = new graft.rpc.StubWsRpcServer(inner)
    try {
      // no cache reset needed: each stub binds a fresh port, so the
      // per-JVM client cache key (endpoint list) is unique per run
      assert(Main.run(spark, Seq("crawl", "0", "30", "--out", outWs,
        "--evm-rpc-nodes", ws.url)) === 0)
      assert(Main.run(spark, Seq("crawl", "0", "30", "--out", outHttp,
        "--evm-rpc-nodes", inner.url)) === 0)
      for (table <- Seq("transfers", "tokens", "owners"))
        assert(rows(spark.read.parquet(s"$outWs/$table")) ===
          rows(spark.read.parquet(s"$outHttp/$table")), s"$table differs across transports")
      assert(ws.handshakes.get() >= 1, "the ws transport was never used")
    } finally { ws.stop(); inner.stop() }
  }

  test("seed then tail --once: the stream starts at the bookmark and lands in the LWW sink") {
    val out = tmp("cli_tail"); val cfg = tmp("cli_cfg2"); val ckpt = tmp("cli_ckpt")
    // hex accepted like the reference's HexIntParamType
    assert(Main.run(spark, Seq("seed", "0x13", "--config", cfg)) === 0)
    assert(graft.ops.SinkUtils.readLastBlock(spark, s"$cfg/last_block", "ethereum-mainnet")
      === Some(19L))
    assert(Main.run(spark, Seq("tail", "--once", "--out", out, "--config", cfg,
      "--checkpoint", ckpt, "--max-block", "60", "--blocks-per-trigger", "25")) === 0)
    // bookmark 19 -> stream starts at 20; bounded at 60
    val got = spark.read.parquet(s"$out/transfers")
    val expect = graft.pipelines.Crawl.fromChain(spark, 20, 60)("transfers")
    assert(got.count() === expect.count())
    assert(got.agg(min(col("block_id")), max(col("block_id"))).head() ===
      org.apache.spark.sql.Row(20L, 59L))
    // tail without a bookmark or --start refuses loudly
    val emptyCfg = tmp("cli_cfg3")
    assert(Main.run(spark, Seq("tail", "--once", "--out", out, "--config", emptyCfg,
      "--checkpoint", tmp("cli_ckpt2"), "--max-block", "30")) === 2)
    // --start must short-circuit the bookmark lookup: the same
    // bookmarkless config with an explicit start runs fine
    val out2 = tmp("cli_tail_start")
    assert(Main.run(spark, Seq("tail", "--once", "--out", out2, "--config", emptyCfg,
      "--checkpoint", tmp("cli_ckpt3"), "--start", "20", "--max-block", "30")) === 0)
    assert(spark.read.parquet(s"$out2/transfers")
      .agg(min(col("block_id")), max(col("block_id"))).head() ===
      org.apache.spark.sql.Row(20L, 29L))
  }

  test("tail --owners-view: the owner-balance view converges with the batch rollup") {
    val out = tmp("cli_ov"); val cfg = tmp("cli_ov_cfg")
    assert(Main.run(spark, Seq("seed", "19", "--config", cfg)) === 0)
    // 10-block triggers -> four epochs of additive merge
    assert(Main.run(spark, Seq("tail", "--once", "--owners-view", "--out", out,
      "--config", cfg, "--checkpoint", tmp("cli_ov_ck"), "--max-block", "60",
      "--blocks-per-trigger", "10")) === 0)
    def s(df: org.apache.spark.sql.DataFrame) = df
      .select("blockchain", "collection_id", "token_id", "account", "quantity")
      .collect().map(_.toString).sorted.toSeq
    val view = s(graft.streaming.Tail.readOwners(spark, s"$out/owners"))
    val batch = s(graft.nft.Derive.owners(
      graft.pipelines.Crawl.fromChain(spark, 20, 60)("transfers")))
    assert(view === batch)
    assert(view.nonEmpty)
    // the facts sink ran too
    assert(spark.read.parquet(s"$out/transfers").count() > 0)
  }

  test("tail --tokens-view: the token-state view converges with the batch rollup") {
    val out = tmp("cli_tv"); val cfg = tmp("cli_tv_cfg")
    val blockTimes = spark.read.format("blocks")
      .option("start", "0").option("maxBlock", "60").load()
      .select(col("number"), col("timestamp"))
    val csv = tmp("cli_tv_csv") + "/cache"
    blockTimes.coalesce(1).write.option("header", "true").csv(csv)
    assert(Main.run(spark, Seq("seed", "19", "--config", cfg)) === 0)
    // without the dim the flag refuses loudly
    assert(Main.run(spark, Seq("tail", "--once", "--tokens-view", "--out", out,
      "--config", cfg, "--checkpoint", tmp("cli_tv_ck0"), "--max-block", "60")) === 2)
    assert(Main.run(spark, Seq("tail", "--once", "--tokens-view", "--out", out,
      "--config", cfg, "--checkpoint", tmp("cli_tv_ck"), "--max-block", "60",
      "--blocks-per-trigger", "10", "--block-time-cache", csv)) === 0)
    def s(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val view = s(graft.streaming.Tail.readTokens(spark, s"$out/tokens"))
    val batch = s(graft.nft.Derive.tokens(
      graft.pipelines.Crawl.fromChain(spark, 20, 60)("transfers"), blockTimes))
    assert(view === batch)
    assert(view.nonEmpty)
  }

  test("tail --uris-view: latest-metadata-URL view is the LWW collapse of the uri updates") {
    val out = tmp("cli_uv"); val cfg = tmp("cli_uv_cfg")
    assert(Main.run(spark, Seq("seed", "19", "--config", cfg)) === 0)
    assert(Main.run(spark, Seq("tail", "--once", "--uris-view", "--out", out,
      "--config", cfg, "--checkpoint", tmp("cli_uv_ck"), "--max-block", "60",
      "--blocks-per-trigger", "10")) === 0)
    val view = spark.read.parquet(s"$out/uris").drop("__bucket")
      .collect().map(_.toString).sorted.toSeq
    // expected: the crawl's uri-update FACTS collapsed to the latest per
    // (collection, token) — K3 semantics
    val facts = graft.pipelines.Crawl.fromChain(spark, 20, 60)("uris")
    val expect = facts.groupBy(col("collection_id"), col("token_id"))
      .agg(max_by(struct(facts.columns.map(col).toIndexedSeq: _*),
        col("metadata_url_version")).as("r"))
      .select(col("r.*")).collect().map(_.toString).sorted.toSeq
    assert(view === expect)
    assert(view.nonEmpty)
  }

  test("tail --collections-view: probed collections converge with the batch crawl") {
    val out = tmp("cli_cv"); val cfg = tmp("cli_cv_cfg")
    val csv = tmp("cli_cv_csv") + "/cache"
    spark.read.format("blocks").option("start", "0").option("maxBlock", "60").load()
      .select(col("number"), col("timestamp"))
      .coalesce(1).write.option("header", "true").csv(csv)
    assert(Main.run(spark, Seq("seed", "19", "--config", cfg)) === 0)
    assert(Main.run(spark, Seq("tail", "--once", "--collections-view", "--out", out,
      "--config", cfg, "--checkpoint", tmp("cli_cv_ck"), "--max-block", "60",
      "--blocks-per-trigger", "10", "--block-time-cache", csv)) === 0)
    def s(df: org.apache.spark.sql.DataFrame) = df.drop("__bucket")
      .collect().map(_.toString).sorted.toSeq
    val view = s(spark.read.parquet(s"$out/collections"))
    val batch = s(graft.pipelines.Crawl.fromChain(spark, 20, 60)("collections"))
    assert(view === batch)
    assert(view.nonEmpty)
  }

  test("tail with ALL views over RPC: wire cost is the plain tail plus probe calls only") {
    val out = tmp("cli_av"); val cfg = tmp("cli_av_cfg")
    val csv = tmp("cli_av_csv") + "/cache"
    spark.read.format("blocks").option("start", "0").option("maxBlock", "50").load()
      .select(col("number"), col("timestamp"))
      .coalesce(1).write.option("header", "true").csv(csv)
    assert(Main.run(spark, Seq("seed", "19", "--config", cfg)) === 0)
    val stub = new graft.rpc.StubRpcServer()
    try {
      assert(Main.run(spark, Seq("tail", "--once", "--owners-view", "--tokens-view",
        "--uris-view", "--collections-view", "--out", out, "--config", cfg,
        "--checkpoint", tmp("cli_av_ck"), "--max-block", "50", "--blocks-per-trigger", "10",
        "--block-time-cache", csv, "--evm-rpc-nodes", stub.url)) === 0)
      // every view derives from the ONE receipts fetch per window: the
      // views must add ZERO extra block/receipt wire calls...
      val totalTx = (20L until 50L).map(graft.sources.SimulatedReceiptFetcher.receiptsOf(_).size).sum
      assert(stub.countOf("eth_getTransactionReceipt") === totalTx,
        s"receipts re-fetched: ${stub.countOf("eth_getTransactionReceipt")} vs $totalTx tx")
      assert(stub.countOf("eth_getBlockByNumber") <= 30 + 10,
        "hash-list fetches exceed the window (a view re-scanned blocks)")
      // ...except the collection probes (6 calls per created contract)
      // and ONE tokenURI probe per minted token (the uris view's J5
      // mint-block enrichment — eager-checkpointed, so the isEmpty gate
      // and the sink write share a single probe round per epoch)
      val creations = (20L until 50L).flatMap(graft.sources.SimulatedReceiptFetcher.receiptsOf)
        .count(_.contract_address.isDefined)
      val mintTokens = (20L until 50L).filter(_ % 5 == 0)
        .map(graft.sources.SimulatedReceiptFetcher.receiptsOf(_).size).sum
      assert(stub.countOf("eth_call") === 6 * creations + mintTokens,
        s"eth_call=${stub.countOf("eth_call")} creations=$creations mints=$mintTokens")
      // and all five tables materialized
      Seq("transfers", "owners", "tokens", "uris", "collections").foreach { t =>
        assert(spark.read.parquet(s"$out/$t").count() > 0, s"empty view $t")
      }
    } finally stub.stop()
  }

  test("force: single-contract backfill equals the library forceLoad") {
    val out = tmp("cli_force")
    val coll = f"0x${4000L}%040x" // fixture contract created at block 35
    assert(Main.run(spark, Seq("force", coll, "35", "50", "--out", out)) === 0)
    val collections = spark.read.parquet(s"$out/collections").collect()
    assert(collections.length === 1)
    assert(collections.head.getAs[String]("collection_id") === coll)
    assert(collections.head.getAs[String]("specification") === "ERC-721")
    val blockTimes = spark.read.format("blocks")
      .option("start", "35").option("maxBlock", "50").load()
      .select(col("number"), col("timestamp"))
    val lib = graft.pipelines.Crawl.forceLoad(spark, coll, 35, 50, blockTimes)
    assert(rows(spark.read.parquet(s"$out/transfers")) === rows(lib("transfers")))
  }

  /** `verify` over `db` reconciles transfers/owners cleanly; with one
    * transfer fact dropped (the table rewritten in its own partition
    * layout) it exits 1 and flags exactly that fact `left_only`. */
  private def verifyFlagsOneDroppedFact(db: String, start: String, end: String): Unit = {
    // the counts section audits db token counts against the chain's
    // totalSupply PROBE (the reference's check) — fixture supplies
    // intentionally disagree, so only transfers/owners must be clean
    def sections(rpt: String) = spark.read.parquet(rpt)
      .filter(col("check").isin("transfers", "owners")).collect()
    val rpt1 = tmp("cli_rpt") + "/clean"
    Main.run(spark, Seq("verify", start, end, "--db", db, "--out", rpt1))
    assert(sections(rpt1).isEmpty, sections(rpt1).mkString("\n"))
    val all = spark.read.parquet(s"$db/transfers")
    val dropped = all.orderBy(col("attribute_version")).limit(1)
      .collect().head.getAs[String]("attribute_version")
    val kept = all.filter(col("attribute_version") =!= dropped).localCheckpoint(true)
      .write.mode("overwrite")
    (if (all.columns.contains("__bucket")) kept.partitionBy("__bucket") else kept)
      .parquet(s"$db/transfers")
    val rpt2 = tmp("cli_rpt2") + "/corrupt"
    // discrepancies -> non-zero, scriptable
    assert(Main.run(spark, Seq("verify", start, end, "--db", db, "--out", rpt2)) === 1)
    val flagged = sections(rpt2)
    assert(flagged.length === 1 && flagged.head.getAs[String]("check") === "transfers" &&
      flagged.head.getAs[String]("detail") === "left_only", flagged.mkString("\n"))
  }

  test("verify: clean db reconciles transfers/owners; a dropped fact is flagged") {
    val db = tmp("cli_db")
    assert(Main.run(spark, Seq("crawl", "0", "40", "--out", db)) === 0)
    verifyFlagsOneDroppedFact(db, "0", "40")
  }

  test("verify over a tail-written DB reads the LWW tables as facts") {
    val db = tmp("cli_tdb"); val cfg = tmp("cli_tdb_cfg")
    val csv = tmp("cli_tdb_csv") + "/cache"
    spark.read.format("blocks").option("start", "0").option("maxBlock", "60").load()
      .select(col("number"), col("timestamp"))
      .coalesce(1).write.option("header", "true").csv(csv)
    assert(Main.run(spark, Seq("seed", "19", "--config", cfg)) === 0)
    assert(Main.run(spark, Seq("tail", "--once", "--owners-view", "--tokens-view",
      "--uris-view", "--collections-view", "--out", db, "--config", cfg,
      "--checkpoint", tmp("cli_tdb_ck"), "--max-block", "60", "--blocks-per-trigger", "10",
      "--block-time-cache", csv)) === 0)
    // the fact table is the LWW sink's bucketed layout
    assert(spark.read.parquet(s"$db/transfers").columns.contains("__bucket"))
    verifyFlagsOneDroppedFact(db, "20", "60")
  }

  test("verify and force over RPC: per-method wire counts are pinned") {
    // a refactor that re-runs a probe or fetch lineage doubles wire
    // cost silently; these counts pin each command's calls per method
    val db = tmp("cli_wc_db")
    val stub = new graft.rpc.StubRpcServer()
    def counts = Seq("eth_getLogs", "eth_call", "eth_getTransactionReceipt").map(stub.countOf)
    try {
      assert(Main.run(spark, Seq("crawl", "0", "40", "--out", db,
        "--evm-rpc-nodes", stub.url)) === 0)
      stub.methodCounts.clear()
      Main.run(spark, Seq("verify", "0", "40", "--db", db, "--out", tmp("cli_wc_rpt") + "/r",
        "--evm-rpc-nodes", stub.url))
      assert(counts === Seq(4, 64, 60), "verify: getLogs, call, getTransactionReceipt")
      stub.methodCounts.clear()
      assert(Main.run(spark, Seq("force", f"0x${4000L}%040x", "35", "50",
        "--out", tmp("cli_wc_force"), "--evm-rpc-nodes", stub.url)) === 0)
      // the logs window is swept once: one eth_getLogs per partition
      assert(counts === Seq(4, 9, 4), "force: getLogs, call, getTransactionReceipt")
      // closed form: the blocks time dim fetches each window block once
      // (50 - 35), plus the creation block's hash list once for each of
      // the two creation-receipt reads (probe requests, collections rows)
      assert(stub.countOf("eth_getBlockByNumber") === (50 - 35) + 2,
        "force: getBlockByNumber")
    } finally stub.stop()
  }

  test("crawl and verify share the metadata-URL rule: {id} templates and over-cap URLs verify clean") {
    val db = tmp("cli_url_db")
    val stub = new graft.rpc.StubRpcServer()
    def hex64(n: Long) = f"$n%064x"
    // token 51 of contract 4000 (minted in block 5) answers the sim's
    // `ipfs://sim/4000/{id}.json` template; token 50 is served a URL
    // past the 2048-char cap, which the crawl must not store and verify
    // must read as the same absent URL
    val coll = f"0x${4000L}%040x"
    val tokenUri = graft.expr.Keccak.functionSelector("tokenURI(uint256)")
    stub.callOverrides.put((coll, tokenUri + hex64(50)), "0x" + graft.expr.Abi.encodeArgs(
      Seq(graft.expr.Abi.AbiString("ipfs://sim/4000/" + "x" * 2100 + ".json"))))
    try {
      assert(Main.run(spark, Seq("crawl", "0", "40", "--out", db,
        "--evm-rpc-nodes", stub.url)) === 0)
      val urls = spark.read.parquet(s"$db/tokens").filter(col("collection_id") === coll)
        .collect().map(r => r.getAs[String]("token_id") -> r.getAs[String]("metadata_url")).toMap
      assert(urls(hex64(51)) === s"ipfs://sim/4000/${hex64(51)}.json")
      assert(urls(hex64(50)) === null)
      assert(spark.read.parquet(s"$db/uris")
        .filter(col("collection_id") === coll && col("token_id") === hex64(50)).count() === 0)
      val rpt = tmp("cli_url_rpt") + "/r"
      Main.run(spark, Seq("verify", "0", "40", "--db", db, "--out", rpt,
        "--evm-rpc-nodes", stub.url))
      val urlRows = spark.read.parquet(rpt)
        .filter(col("check").isin("token_uri", "token_uri_1155", "uri")).collect()
      assert(urlRows.isEmpty, urlRows.mkString("\n"))
    } finally stub.stop()
  }

  test("load: bulk backfill writes the three rollup tables") {
    val out = tmp("cli_load")
    assert(Main.run(spark, Seq("load", "/root/testdata/sf0.001", "--out", out)) === 0)
    Seq("transfers", "tokens", "owners").foreach { t =>
      assert(spark.read.parquet(s"$out/$t").count() > 0, s"empty table $t")
    }
  }

  test("validation: the reference's param-type errors map to exit 2") {
    val out = tmp("cli_bad")
    // not an integer
    assert(Main.run(spark, Seq("crawl", "ten", "20", "--out", out)) === 2)
    // negative block
    assert(Main.run(spark, Seq("seed", "-5", "--config", out)) === 2)
    // empty range
    assert(Main.run(spark, Seq("crawl", "20", "20", "--out", out)) === 2)
    // malformed address
    assert(Main.run(spark, Seq("force", "0x1234", "35", "50", "--out", out)) === 2)
    // missing required option
    assert(Main.run(spark, Seq("crawl", "0", "10")) === 2)
    // wrong arity
    assert(Main.run(spark, Seq("crawl", "0")) === 2)
    // unknown option is loud, not ignored
    assert(Main.run(spark, Seq("crawl", "0", "10", "--out", out, "--chunk", "5")) === 2)
    // unknown command
    assert(Main.run(spark, Seq("reseed")) === 2)
    // option without value
    assert(Main.run(spark, Seq("crawl", "0", "10", "--out")) === 2)
    // missing db tables -> clean exit, not a stack trace
    assert(Main.run(spark, Seq("verify", "0", "10", "--db", tmp("cli_nodb"))) === 2)
  }

  /** (exit code, stderr) of one CLI run. */
  private def runCapturingErr(args: String*): (Int, String) = {
    val bos = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(bos, true))
    try (Main.run(spark, args), bos.toString) finally System.setErr(old)
  }

  test("validation: counts out of range exit 2 with a message naming the option") {
    // 0 would divide by zero splitting the window; a negative count
    // would plan one partition per block
    Seq("0", "-1").foreach { n =>
      val (code, err) = runCapturingErr("crawl", "0", "10", "--out", tmp("cli_np"),
        "--num-partitions", n)
      assert(code === 2)
      assert(err.contains(s"--num-partitions: must be at least 1, got $n"), err)
    }
    def tail(opt: String, n: String) = runCapturingErr("tail", "--once",
      "--out", tmp("cli_tail"), "--config", tmp("cli_tail_cfg"),
      "--checkpoint", tmp("cli_tail_ck"), "--start", "0", opt, n)
    // the retired log-sink options are unknown, not silently ignored
    Seq("--merge-format" -> "log", "--compact-every" -> "2").foreach { case (opt, v) =>
      val (code, err) = tail(opt, v)
      assert(code === 2)
      assert(err.contains(s"unknown option: $opt"), err)
    }
    // a width below 1 never advances the stream: --once would exit 0
    // having processed nothing, an unbounded tail would spin forever
    Seq("0", "-1").foreach { n =>
      val (code, err) = tail("--blocks-per-trigger", n)
      assert(code === 2)
      assert(err.contains(s"--blocks-per-trigger: must be at least 1, got $n"), err)
    }
  }

  test("the CLI surface is the reference's programs plus the operator utilities") {
    val listed = Main.usage.linesIterator
      .dropWhile(_ != "commands:").drop(1).takeWhile(_.nonEmpty)
      .collect { case l if l.startsWith("  ") && !l.startsWith("   ") =>
        l.trim.takeWhile(_ != ' ') }
      .toList
    assert(listed === List("crawl", "tail", "seed", "force", "verify", "load",
      "block-number", "digest", "reset", "fixtures-prepare"))
    for (retired <- Seq("prepare", "ingest", "index-build", "index-search",
        "fuzzy-index-build", "fuzzy-search", "er-resolve", "er-assign", "compact")) {
      val (code, err) = runCapturingErr(retired)
      assert(code === 2, retired)
      assert(err.contains(s"unknown command: $retired"), err)
    }
  }

  test("digest: eth_call selector, --log-topic full hash (reference function_digest)") {
    def captured(args: Seq[String]): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) {
        assert(Main.run(spark, args) === 0)
      }
      bos.toString.trim
    }
    // the reference docstring's own example (evm/bin.py:25-31)
    assert(captured(Seq("digest", "supportsInterface(bytes4)")) === "0x01ffc9a7")
    // the canonical ERC-20/721 Transfer topic
    assert(captured(Seq("digest", "Transfer(address,address,uint256)", "--log-topic")) ===
      "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    // wrong arity is loud
    assert(Main.run(spark, Seq("digest")) === 2)
  }

  test("block-number: prints the node head over RPC; no-node is a validation error") {
    // reference evm/bin.py:38-52: eth_blockNumber against the archive
    // node; ARCHIVE_NODE is required, so the simulated wiring (which
    // has no moving head) maps to the same exit-2 validation error
    val stub = new graft.rpc.StubRpcServer(chainHeight = 1234L)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) {
        assert(Main.run(spark, Seq("block-number", "--evm-rpc-nodes", stub.url)) === 0)
      }
      assert(bos.toString.trim === "1233") // latest block NUMBER = height-1
    } finally stub.stop()
    assert(Main.run(spark, Seq("block-number")) === 2)
  }

  test("reset: removes the entity tables and config store, leaves unrelated data") {
    import spark.implicits._
    val out = tmp("cli_reset_out")
    val cfg = tmp("cli_reset_cfg")
    for (t <- Seq("collections", "transfers", "tokens", "owners", "uris"))
      Seq((1L, "x")).toDF("id", "v").write.parquet(s"$out/$t")
    Seq((1L, "keep")).toDF("id", "v").write.parquet(s"$out/unrelated")
    assert(Main.run(spark, Seq("seed", "42", "--config", cfg)) === 0)
    assert(Main.run(spark, Seq("reset", "--out", out, "--config", cfg)) === 0)
    def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    for (t <- Seq("collections", "transfers", "tokens", "owners", "uris"))
      assert(!exists(s"$out/$t"), s"$t must be deleted")
    assert(!exists(s"$cfg/last_block"), "config bookmark must be deleted")
    // reset is scoped to the known table names — never the whole tree
    assert(exists(s"$out/unrelated"))
    // a fresh seed works after reset (the store recreates cleanly)
    assert(Main.run(spark, Seq("seed", "7", "--config", cfg)) === 0)
    // reset of an already-empty dir is a no-op success, not an error
    assert(Main.run(spark, Seq("reset", "--out", tmp("cli_reset_empty"))) === 0)
  }
}
