package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Reconcile

/** The reference's `verify` command (its largest file,
  * `nft/bin/verify.py`, 1137 lines of per-item probe loops) as one
  * declarative reconciliation job:
  *
  *  - transfers: chain logs vs DB facts — full-outer equi-join on the
  *    (block, tx, log) identity; both anti sides and per-field
  *    mismatches reported from the null/compare pattern (J2)
  *  - owners: each chain-derived owner must match exactly one DB row
  *    with the same quantity (J3)
  *  - counts: per-collection token counts vs the chain's totalSupply
  *    snapshot (A6)
  *
  * Each section returns a report DataFrame with a `check` tag; `run`
  * unions them so one action materializes the whole audit. At scale the
  * three joins shuffle on disjoint keys and run as independent stages.
  */
object VerifyPipeline {

  /** The report row every section emits: (check, collection_id,
    * token_id, detail); a replacement id column comes named. */
  private def report(df: DataFrame, check: String, detail: Column,
      tokenId: Column = col("token_id"),
      collectionId: Column = col("collection_id")): DataFrame =
    df.select(lit(check).as("check"), collectionId, tokenId, detail.as("detail"))

  /** The token_id of a collection-grain row. */
  private def noToken: Column = lit(null).cast("string").as("token_id")

  /** `<tag>:db=<db>,chain=<chain>`: the stored value against chain
    * truth. */
  private def mismatch(db: Column, chain: Column, tag: String = "mismatch"): Column =
    concat(lit(s"$tag:db="), db, lit(",chain="), chain)

  /** A [[mismatch]] side that may be null, rendered `-`. */
  private def orDash(c: Column): Column = coalesce(c.cast("string"), lit("-"))

  /** The rows of `df` whose collection is one of `collections` — the
    * classification gate of the per-token checks (broadcast: the dim is
    * sized by collections). */
  private def ofCollections(df: DataFrame, collections: DataFrame): DataFrame =
    df.join(broadcast(collections.select(col("collection_id")).distinct()),
      Seq("collection_id"), "left_semi")

  /** A probe's state height: the verify height, or null for the head. */
  private def heightCol(blockHeight: Option[Long]): Column =
    blockHeight.map(h => lit(h)).getOrElse(lit(null).cast("long"))

  def transfersReport(chain: DataFrame, db: DataFrame): DataFrame = {
    // the reference's verify_transfer compares every stored field
    // (`verify.py:852-934`): beyond the from/to/quantity core, the
    // transaction_hash and the derived transaction_type participate
    // when both sides carry them (trimmed db tables still reconcile on
    // the core)
    val keys = Seq("collection_id", "token_id", "attribute_version")
    val compare = Seq("from_", "to_", "quantity") ++
      Seq("transaction_hash", "transaction_type")
        .filter(c => chain.columns.contains(c) && db.columns.contains(c))
    report(Reconcile.fullOuter(
        chain.select((keys ++ compare).map(col): _*),
        db.select((keys ++ compare).map(col): _*),
        keys = keys, compareCols = compare)
      .filter(col("status") =!= "match"), "transfers",
      // mismatch rows name the differing fields — `mismatch:from_,to_`
      // — the reference verify's per-field granularity
      // (`nft/bin/verify.py:852-934`).
      concat(col("status"),
        when(size(col("mismatch_cols")) > 0,
          concat(lit(":"), array_join(col("mismatch_cols"), ","))).otherwise(lit(""))))
  }

  def ownersReport(chainOwners: DataFrame, dbOwners: DataFrame): DataFrame = {
    val keys = Seq("collection_id", "token_id", "account")
    report(Reconcile.fullOuter(
        chainOwners.select((keys :+ "quantity").map(col): _*),
        dbOwners.select((keys :+ "quantity").map(col): _*),
        keys, Seq("quantity"))
      .filter(col("status") =!= "match"), "owners", col("status"))
  }

  def countsReport(dbTokens: DataFrame, supplySnapshot: DataFrame): DataFrame = {
    // The natural snapshot source (Calls.interfaceSnapshot) keeps
    // total_supply as canonical 64-hex; comparing that against a bigint
    // via implicit coercion parses the hex DIGITS as decimal (16 reads
    // as 10) and nulls anything containing a-f — a silently wrong
    // audit. Convert by the column's actual type with the EXACT hex
    // kernel (builtin conv wraps at 2^64) and compare canonical decimal
    // renderings, which is overflow-free at any uint256 magnitude.
    val supplyDec = supplySnapshot.schema("total_supply").dataType match {
      case org.apache.spark.sql.types.StringType =>
        supplySnapshot.withColumn("total_supply",
          graft.expr.Exprs.hexToDec(col("total_supply")))
      case _ =>
        supplySnapshot.withColumn("total_supply", col("total_supply").cast("string"))
    }
    report(dbTokens.groupBy(col("collection_id")).agg(count(lit(1)).as("n_tokens"))
      .join(broadcast(supplyDec), Seq("collection_id"), "full_outer")
      .filter(!(col("n_tokens").cast("string") <=> col("total_supply"))), "counts",
      concat_ws("!=", col("n_tokens").cast("string"), col("total_supply")), noToken)
  }

  def run(chainTransfers: DataFrame, dbTransfers: DataFrame,
          chainOwners: DataFrame, dbOwners: DataFrame,
          dbTokens: DataFrame, supplySnapshot: DataFrame): DataFrame =
    transfersReport(chainTransfers, dbTransfers)
      .unionByName(ownersReport(chainOwners, dbOwners))
      .unionByName(countsReport(dbTokens, supplySnapshot))

  /** Per-token CURRENT-OWNER probe — the reference verify's
    * `get_current_owner` flow (`nft/bin/verify.py`: eth_call
    * `ownerOf(token_id)` per ERC-721 token, compared against the stored
    * owner). Requests build columnar off the db tokens table (ERC-1155
    * rows carry null current_owner and are skipped — 1155 has no
    * ownerOf), the [[graft.rpc.CallExecutor]] seam runs them (simulated
    * or JSON-RPC), and only disagreeing rows come back, in the shared
    * report shape:
    *  - `mismatch:db=…,chain=…` — the chain answers a different address
    *  - `unanswered` — the call reverted (token gone, or the contract
    *    is not the 721 the db claims)
    * Distribution: probes execute per partition through `mapPartitions`
    * (the one non-declarative hop, same as the S6 snapshot flow); the
    * compare is a key-join — a billion-token audit shuffles once.
    *
    * `erc721Collections` gates which tokens are probed — the reference
    * checks `contract_supports_erc721` BEFORE per-token ownerOf (a
    * non-721 contract legitimately reverts ownerOf, which must not read
    * as corruption). Pass the collections dim filtered to ERC-721. */
  def tokenOwnersReport(spark: SparkSession, dbTokens: DataFrame,
      erc721Collections: DataFrame,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      options: Map[String, String] = Map.empty): DataFrame = {
    val sel = graft.expr.Keccak.functionSelector("ownerOf(uint256)")
    val owned = ofCollections(dbTokens.filter(col("current_owner").isNotNull), erc721Collections)
      .select(col("collection_id"), col("token_id"), lower(col("current_owner")).as("db_owner"))
    val requests = owned.select(
      col("collection_id").as("to"),
      col("token_id").as("probe"), // the token id IS the correlation key
      concat(lit(sel), col("token_id")).as("data"))
    val answers = graft.rpc.Calls.execute(spark, requests, callExecutor, options)
      .select(col("to").as("collection_id"), col("probe").as("token_id"),
        // return payload is one 32-byte word; the address is its low 20
        when(col("result").isNotNull,
          lower(concat(lit("0x"), substring(col("result"), -40, 40)))).as("chain_owner"))
    report(owned.join(answers, Seq("collection_id", "token_id"), "left")
      .filter(col("chain_owner").isNull || col("chain_owner") =!= col("db_owner")),
      "token_owner", when(col("chain_owner").isNull, lit("unanswered"))
        .otherwise(mismatch(col("db_owner"), col("chain_owner"))))
  }

  /** Per-token METADATA-URL probe — the reference verify's tokenURI
    * check (`nft/bin/verify.py:188-202,686-690`: call
    * `tokenURI(token_id)` at the verify height per ERC-721 token and
    * compare against the stored metadata_url). Same columnar shape as
    * [[tokenOwnersReport]]; the chain answer is decoded and passed
    * through the crawl's own URL rule ([[graft.nft.TokenUris.canonicalize]])
    * — the reference compares the raw probe value, but our db stores the
    * canonical form, so the compare must too or every templated URI (or
    * URL past the P10 cap the crawl refused to store) would read as
    * corruption.
    * Disagreement rows (null-safe: null==null is clean):
    *  - `mismatch:db=…,chain=…` — including a null side rendered `-`
    * `blockHeight`: the verify command's ending block (the reference's
    * `self.__block_height`); None probes at the head. Tokens tables
    * without a metadata_url column (older DBs, tail token views) verify
    * as all-null db URLs rather than failing. */
  def tokenUrisReport(spark: SparkSession, dbTokens: DataFrame,
      erc721Collections: DataFrame,
      blockHeight: Option[Long] = None,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      options: Map[String, String] = Map.empty): DataFrame = {
    val sel = graft.expr.Keccak.functionSelector("tokenURI(uint256)")
    val withUrl = graft.nft.TokenUris.withMetadataUrl(dbTokens)
    // probe a token iff the db CLAIMS a URL or its mint is in-window
    // (mint_block set) — the tokenOwnersReport precedent
    // (current_owner-null rows are skipped there): a transfer-only
    // token whose mint precedes the crawl window legitimately has no
    // stored URL, and flagging it would make every windowed verify
    // noisy rather than catching corruption
    val mintCol =
      if (withUrl.columns.contains("mint_block")) col("mint_block")
      else lit(null).cast("long")
    val tokens = ofCollections(
        withUrl.filter(col("metadata_url").isNotNull || mintCol.isNotNull), erc721Collections)
      .select(col("collection_id"), col("token_id"), col("metadata_url").as("db_url"))
    val requests = tokens.select(
      col("collection_id").as("to"),
      col("token_id").as("probe"),
      concat(lit(sel), col("token_id")).as("data"),
      heightCol(blockHeight).as("block"))
    val answers = graft.rpc.Calls.execute(spark, requests, callExecutor, options)
      .select(col("to").as("collection_id"), col("probe").as("token_id"),
        when(col("result").isNotNull,
          graft.expr.Abi.decodeStringUdf(col("result"), lit(0))).as("chain_url"))
    report(graft.nft.TokenUris.canonicalize(
        tokens.join(answers, Seq("collection_id", "token_id"), "left"),
        "chain_url", col("chain_url"), dropOverCap = false)
      .filter(!(col("chain_url") <=> col("db_url"))),
      "token_uri", mismatch(orDash(col("db_url")), orDash(col("chain_url"))))
  }

  /** COLLECTIONS-table verify — the reference's `verify_collection`
    * section (`nft/bin/verify.py:453-570`): each stored collection row
    * is re-derived from the chain and compared field by field.
    *
    *  - live metadata probes (the same
    *    [[graft.nft.Collections.callRequests]] batch the crawl issues:
    *    supportsInterface x2, name(), symbol(), totalSupply(), owner())
    *    re-classify the contract and re-read its metadata; per-field
    *    mismatch rows come back as `specification:` / `name:` /
    *    `name_lower:` / `symbol:` / `owner:` / `total_supply:` with the
    *    reference's db-vs-chain message content. A contract declaring
    *    neither interface re-classifies as UNKNOWN (`verify.py:485-496`).
    *  - `date_created` is re-checked against the block-time dimension
    *    when `blockTimes` covers `block_created` (`verify.py:536-541`);
    *    uncovered blocks are SKIPPED, the windowed-noise rule.
    *  - `creator` is re-checked against the creation receipts when
    *    `creationReceipts` covers the block: a creation receipt for
    *    this contract in `block_created` with a different sender is
    *    `creator:db=…,chain=…`; NO creation receipt in that block is
    *    the reference's "Cannot find transaction for creation"
    *    (`creation-not-found`) (`verify.py:543-567`). Coverage =
    *    `receiptsCover(block_created)` so a windowed verify never
    *    invents missing-creation errors for out-of-window collections.
    *
    * Scale shape: one probe per collection through the executor seam,
    * then broadcast-joined compares; the time/receipt dims are sized by
    * the collections under audit (the CLI fetches exactly the distinct
    * creation blocks). */
  def collectionsReport(spark: SparkSession, dbCollections: DataFrame,
      blockTimes: Option[DataFrame] = None,
      creationReceipts: Option[DataFrame] = None,
      receiptsCover: Column = lit(true),
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      options: Map[String, String] = Map.empty): DataFrame = {
    val colls = dbCollections.select(col("collection_id")).distinct()
    val chain = graft.nft.Collections.probe(spark, colls, callExecutor, options).select(
      col("collection_id"),
      when(col("supports_erc721"), lit("ERC-721"))
        .when(col("supports_erc1155"), lit("ERC-1155"))
        .otherwise(lit("UNKNOWN")).as("c_specification"),
      col("name").as("c_name"),
      when(length(col("name")) > 0, lower(substring(col("name"), 1, 1024)))
        .as("c_name_lower"),
      col("symbol").as("c_symbol"),
      col("owner").as("c_owner"),
      col("total_supply").as("c_total_supply"))
    val joined = dbCollections.join(broadcast(chain), Seq("collection_id"), "left")
      // probe lineage feeds one filter branch per compared field
      .localCheckpoint(true)
    def rows(df: DataFrame, detail: Column) = report(df, "collection", detail, noToken)
    def fieldCheck(tag: String, db: String): DataFrame =
      rows(joined.filter(!(col(db) <=> col(s"c_$db"))),
        mismatch(orDash(col(db)), orDash(col(s"c_$db")), tag))
    val probeChecks = Seq(
      "specification" -> "specification", "name" -> "name",
      "name_lower" -> "name_lower", "symbol" -> "symbol",
      "owner" -> "owner", "total_supply" -> "total_supply")
      .map { case (tag, c) => fieldCheck(tag, c) }
      .reduce(_ unionByName _)
    val dateCheck = blockTimes.map { times =>
      rows(joined.join(broadcast(times.select(col("number"), col("timestamp"))),
          col("block_created") === col("number"), "left")
        .filter(col("number").isNotNull && // uncovered block -> skip
          !(col("date_created") <=> col("timestamp"))),
        mismatch(orDash(col("date_created")), col("timestamp").cast("string"), "date_created"))
    }
    val creatorCheck = creationReceipts.map { receipts =>
      val created = graft.nft.Collections.creations(receipts)
        .select(col("contract_address").as("collection_id"),
          col("block_number").as("block_created"),
          col("from_").as("c_creator"))
      val withChain = joined
        .join(broadcast(created), Seq("collection_id", "block_created"), "left")
      rows(withChain.filter(col("c_creator").isNotNull && col("c_creator") =!= col("creator")),
          mismatch(col("creator"), col("c_creator"), "creator"))
        .unionByName(rows(withChain.filter(col("c_creator").isNull && receiptsCover),
          lit("creation-not-found")))
    }
    (Seq(probeChecks) ++ dateCheck ++ creatorCheck).reduce(_ unionByName _)
  }

  /** Token-item SHAPE checks — the reference `verify_token`'s
    * per-classification invariants (`nft/bin/verify.py:692-703`):
    *  - an ERC-721 token's quantity must be exactly 1
    *    ("Database quantity value ... does not match expected value of
    *    1") — applied, per the tokenUrisReport windowed-noise
    *    precedent, only to tokens whose MINT is in-window (a
    *    transfer-only token whose mint precedes the crawl window
    *    legitimately folds to 0);
    *  - an ERC-1155 token must not carry original_owner / current_owner
    *    ("ERC-1155 token item should not have ... set") — 1155 balances
    *    live in the owners table, a token-item owner field means the
    *    crawl misclassified events (e.g. a contract declaring ERC-1155
    *    while emitting 721-shaped Transfer logs — the reference flags
    *    exactly this inconsistency).
    * Pure map-side: two broadcast semi-joins against the classification
    * dims and a filter; no probes, no shuffle beyond the dims. */
  def tokenShapeReport(dbTokens: DataFrame,
      erc721Collections: DataFrame, erc1155Collections: DataFrame): DataFrame = {
    val one = graft.expr.HexMath.pad64("1")
    val mintCol =
      if (dbTokens.columns.contains("mint_block")) col("mint_block")
      else lit(null).cast("long")
    val qty721 = report(ofCollections(dbTokens, erc721Collections)
      .filter(mintCol.isNotNull && !(col("quantity") <=> lit(one))), "token_shape",
      concat(lit("quantity:db="), orDash(col("quantity")), lit(",expected="), lit(one)))
    val owner1155 = report(ofCollections(dbTokens, erc1155Collections)
      .filter(col("original_owner").isNotNull || col("current_owner").isNotNull),
      "token_shape", concat_ws(",",
        when(col("original_owner").isNotNull, lit("original-owner-set-on-1155")),
        when(col("current_owner").isNotNull, lit("current-owner-set-on-1155"))))
    qty721.unionByName(owner1155)
  }

  /** ERC-1155 metadata verify — the reference's 1155 branch of
    * `verify_token` (`nft/bin/verify.py:704-727`): for each db token of
    * an ERC-1155 collection, chain truth is the LAST `URI` event for
    * the id with the contract's live `uri(token_id)` answer as
    * fallback, probed only where the contract declares the metadata
    * extension (`supportsInterface(0x0e89341c)`,
    * `verify.py:138-139,205-218`). Two row families come back:
    *  - `warning:event=…,contract=…` — the contract's uri() disagrees
    *    with its own last URI event (the reference's contract-vs-event
    *    discrepancy WARNING, `verify.py:710-715` — not a db error)
    *  - `mismatch:db=…,chain=…` — the stored metadata_url differs from
    *    effective chain truth (event wins over contract,
    *    `verify.py:716-727`); like the reference, a token with NEITHER
    *    an event nor a uri() answer is never flagged
    * Chain answers go through the crawl's own URL rule
    * ([[graft.nft.TokenUris.canonicalize]]), so templated URIs compare
    * cleanly. Shape: one support probe per collection
    * (broadcast back), one uri() probe per token, every join keyed on
    * (collection_id, token_id) — a billion-token audit shuffles once.
    *
    * `db1155Tokens`: the db tokens of ERC-1155 collections with their
    * metadata_url (the fully-updated token view — event updates applied
    * — when a uris table exists). `uriEvents`: the window's chain URI
    * updates ([[graft.nft.Derive.uriUpdates]] output). */
  def erc1155UrisReport(spark: SparkSession, db1155Tokens: DataFrame,
      uriEvents: DataFrame,
      blockHeight: Option[Long] = None,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      options: Map[String, String] = Map.empty): DataFrame = {
    val tokens = graft.nft.TokenUris.withMetadataUrl(db1155Tokens)
      .select(col("collection_id"), col("token_id"), col("metadata_url").as("db_url"))
    // one supportsInterface(ERC1155MetadataURI) probe per collection —
    // the reference caches this per contract (`verify.py:114-124`)
    val supportReqs = tokens.select(col("collection_id")).distinct()
      .select(col("collection_id").as("to"), lit("meta_uri").as("probe"),
        graft.expr.Abi.encodeCallCol("supportsInterface(bytes4)",
          lit("0e89341c" + "0" * 56)).as("data"))
    val supporting = graft.rpc.Calls.execute(spark, supportReqs, callExecutor, options)
      .filter(coalesce(
        graft.expr.Abi.wordToLong(graft.expr.Abi.dataWord(col("result"), 1)) =!= 0,
        lit(false)))
      .select(col("to").as("collection_id"))
    val uriSel = graft.expr.Keccak.functionSelector("uri(uint256)")
    val uriReqs = tokens
      .join(broadcast(supporting), Seq("collection_id"), "left_semi")
      .select(col("collection_id").as("to"), col("token_id").as("probe"),
        concat(lit(uriSel), col("token_id")).as("data"),
        heightCol(blockHeight).as("block"))
    val contractUris = graft.rpc.Calls.execute(spark, uriReqs, callExecutor, options)
      .select(col("to").as("collection_id"), col("probe").as("token_id"),
        when(col("result").isNotNull,
          graft.expr.Abi.decodeStringUdf(col("result"), lit(0))).as("contract_url"))
    // the contract answer takes the crawl's stored form (the URI
    // events already did, in Derive.uriUpdates)
    val joined = graft.nft.TokenUris.canonicalize(tokens
        .join(graft.nft.TokenUris.latest(uriEvents, "event_url"),
          Seq("collection_id", "token_id"), "left")
        .join(contractUris, Seq("collection_id", "token_id"), "left"),
        "contract_url", col("contract_url"), dropOverCap = false)
      .localCheckpoint(true) // warnings + errors: probe lineage runs once
    val warnings = report(joined
      .filter(col("event_url").isNotNull && col("contract_url").isNotNull &&
        col("event_url") =!= col("contract_url")), "token_uri_1155",
      concat(lit("warning:event="), col("event_url"), lit(",contract="), col("contract_url")))
    val errors = report(joined
      .withColumn("chain_url", coalesce(col("event_url"), col("contract_url")))
      .filter(col("chain_url").isNotNull && !(col("chain_url") <=> col("db_url"))),
      "token_uri_1155", mismatch(orDash(col("db_url")), col("chain_url")))
    warnings.unionByName(errors)
  }

  /** ERC-721 Enumerable reconciliation — the reference's owner-check
    * enumeration (`nft/bin/verify.py:1043-1056`): when a collection
    * supports ERC721Enumerable, the chain ITSELF can enumerate its
    * token-id set (`tokenByIndex(i)` for i < `totalSupply()`, both at
    * the verify height), which catches corruption no per-db-row probe
    * can — a token the db LOST entirely. The chain's enumerated set is
    * full-outer-reconciled against the db token ids:
    *  - `missing:chain=1` — the chain enumerates an id the db lost
    *    (the reference's "No owner record found in database for token…",
    *    `verify.py:1094-1132`)
    *  - `extra:db=1` — the db holds an id absent from the contract's
    *    own enumeration
    *  - `warning:not-enumerable` — one row per collection that does not
    *    declare the interface ("Collection does not support EC721
    *    Enumerable interface which is required for fully verifying
    *    owners", `verify.py:1049-1053`); its tokens are skipped
    *  - `warning:unanswered-index=…` — an in-range index probe reverted
    *    (the reference's per-token RPC-error warning)
    *
    * Scale shape: supplies can be millions per collection, so the index
    * domain is generated as a TWO-LEVEL explode — per-collection chunk
    * starts first, REPARTITIONED so one giant collection fans across
    * the cluster, then each task explodes one bounded chunk; probes run
    * per partition and the reconcile is one (collection_id, token_id)
    * shuffle. A driver-side `range(totalSupply)` loop (the reference's
    * asyncio gather) is exactly what this avoids. */
  def enumerationReport(spark: SparkSession, dbTokens: DataFrame,
      erc721Collections: DataFrame,
      blockHeight: Option[Long] = None,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      options: Map[String, String] = Map.empty,
      chunkSize: Int = 4096): DataFrame = {
    val blockCol = heightCol(blockHeight)
    val colls = ofCollections(dbTokens, erc721Collections)
      .select(col("collection_id")).distinct()
    // two probes per collection at the verify height: the extension
    // flag and the enumerable supply (`verify.py:74-88,129-130`)
    val gateReqs = colls.select(col("collection_id").as("to"),
        explode(array(
          struct(lit("enumerable").as("probe"),
            graft.expr.Abi.encodeCallCol("supportsInterface(bytes4)",
              lit("780e9d63" + "0" * 56)).as("data")),
          struct(lit("supply").as("probe"),
            graft.expr.Abi.encodeCallCol("totalSupply()").as("data")))).as("p"))
      .select(col("to"), col("p.probe").as("probe"), col("p.data").as("data"),
        blockCol.as("block"))
    val gates = graft.rpc.Calls.execute(spark, gateReqs, callExecutor, options)
      .groupBy(col("to").as("collection_id"))
      .agg(
        max(when(col("probe") === "enumerable",
          coalesce(graft.expr.Abi.wordToLong(
            graft.expr.Abi.dataWord(col("result"), 1)) =!= 0, lit(false))))
          .as("enumerable"),
        max(when(col("probe") === "supply",
          graft.expr.Abi.wordToLong(graft.expr.Abi.dataWord(col("result"), 1))))
          .as("n"))
      .localCheckpoint(true) // gate probes run once across both branches
    val notEnumerable = report(gates.filter(!col("enumerable") || col("n").isNull),
      "enumeration", lit("warning:not-enumerable"), noToken)
    val enumerable = gates.filter(col("enumerable") && col("n").isNotNull && col("n") > 0)
    // index domain [0, n) as chunk starts -> repartition -> explode:
    // no single task ever materializes a supply-sized array
    val chunks = enumerable
      .select(col("collection_id"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(chunkSize.toLong))).as("lo"))
      .repartition(col("collection_id"), col("lo"))
    val idxSel = graft.expr.Keccak.functionSelector("tokenByIndex(uint256)")
    val idxReqs = chunks
      .select(col("collection_id"),
        explode(sequence(col("lo"),
          least(col("lo") + chunkSize - 1, col("n") - 1))).as("i"))
      .select(col("collection_id").as("to"),
        col("i").cast("string").as("probe"),
        concat(lit(idxSel), graft.expr.Abi.uintWord(col("i"))).as("data"),
        blockCol.as("block"))
    val answers = graft.rpc.Calls.execute(spark, idxReqs, callExecutor, options)
      .localCheckpoint(true) // probe lineage feeds two report branches
    val unanswered = report(answers.filter(col("result").isNull), "enumeration",
      concat(lit("warning:unanswered-index="), col("probe")), noToken, col("to").as("collection_id"))
    val chainIds = answers.filter(col("result").isNotNull)
      .select(col("to").as("collection_id"),
        graft.expr.Abi.dataWord(col("result"), 1).as("token_id"))
    val dbIds = dbTokens
      .join(broadcast(enumerable.select(col("collection_id"))),
        Seq("collection_id"), "left_semi")
      .select(col("collection_id"), col("token_id")).distinct()
    val reconciled = report(chainIds.withColumn("on_chain", lit(1))
      .join(dbIds.withColumn("in_db", lit(1)),
        Seq("collection_id", "token_id"), "full_outer")
      .filter(col("on_chain").isNull || col("in_db").isNull), "enumeration",
      when(col("in_db").isNull, lit("missing:chain=1")).otherwise(lit("extra:db=1")))
    notEnumerable.unionByName(unanswered).unionByName(reconciled)
  }

  /** The verify command FIXTURE-FREE: chain truth is re-derived through
    * the ranged-logs source — the reference verify's own access path
    * (`get_transfer_logs` = `get_logs(transfer topics, address=
    * collection)`, `nft/bin/verify.py:239-262`) — folded by `Derive`,
    * then reconciled against the database entity tables. `collectionId`
    * narrows the audit to one contract and PUSHES that predicate into
    * the RPC request itself (the logs source's address pushdown), so
    * verifying one collection against a billion-block chain fetches
    * only that collection's logs. Point `fetcherOptions` at endpoints
    * with [[graft.rpc.RpcLogsFetcher]] for a live chain. */
  def fromChain(spark: SparkSession, startBlock: Long, maxBlock: Long,
      dbTransfers: DataFrame, dbOwners: DataFrame,
      dbTokens: DataFrame, supplySnapshot: DataFrame,
      collectionId: Option[String] = None,
      logsFetcher: String = graft.sources.LogsFetcher.Simulated,
      numPartitions: Int = 4,
      fetcherOptions: Map[String, String] = Map.empty,
      dbUris: Option[DataFrame] = None,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      db1155Tokens: Option[DataFrame] = None,
      verifyHeight: Option[Long] = None): DataFrame = {
    val logs0 = spark.read.format("logs").options(graft.sources.TypedRangeSource.readOptions(
      startBlock, maxBlock, numPartitions, logsFetcher, fetcherOptions)).load()
    val logs = collectionId.fold(logs0)(c => logs0.filter(col("address") === c))
    // Materialize the derived transfers ONCE: the transfers report and
    // the owners rollup both consume them, and without the checkpoint
    // each branch of the unioned report re-runs the live ranged-getLogs
    // sweep over the wire — double RPC cost and throttle exposure
    // (Crawl.fromChain stages its receipts for exactly this reason).
    // With a uris reconcile or a 1155 metadata check the RAW LOGS gain
    // a second consumer (uriUpdates) — checkpoint them too so the
    // window is fetched once.
    val logsM =
      if (dbUris.isDefined || db1155Tokens.isDefined) logs.localCheckpoint(true) else logs
    val chainTransfers = graft.nft.Derive.transfers(logsM).localCheckpoint(true)
    val chainOwners = graft.nft.Derive.owners(chainTransfers)
    val baseReport =
      run(chainTransfers, dbTransfers, chainOwners, dbOwners, dbTokens, supplySnapshot)
    val withUris = dbUris.fold(baseReport) { du =>
      // chain truth for metadata = BOTH sources the crawl writes: URI
      // events from the window's logs and the per-mint tokenURI probes
      // (same derivations, same executor seam — verify re-walks the
      // crawl's own access paths, the reference verify's structure)
      val chainUris = graft.nft.TokenUris.updates(logsM,
        graft.nft.TokenUris.fromMints(spark, chainTransfers, callExecutor, fetcherOptions))
      baseReport.unionByName(urisReport(du, chainUris))
    }
    // the reference verify's ERC-1155 metadata branch: last URI event
    // from this window's logs + the live uri() fallback probe
    db1155Tokens.fold(withUris) { dt =>
      withUris.unionByName(erc1155UrisReport(spark, dt,
        graft.nft.Derive.uriUpdates(logsM), verifyHeight, callExecutor, fetcherOptions))
    }
  }

  /** Reconcile the URIS entity table against recomputed chain truth —
    * the reference verify's metadata checks at table grain
    * (`nft/bin/verify.py:706-727`: the stored metadata_url must match
    * the latest URI event, falling back to the contract probe). Both
    * sides LWW-collapse to the latest URL per (collection, token) on
    * metadata_url_version, then a J2-style full-outer with both anti
    * sides reported:
    *  - `missing:chain=…` — the chain emitted/answers a URL the db lost
    *  - `extra:db=…` — the db holds a URL chain truth never produced
    *  - `mismatch:db=…,chain=…` — both present, different (e.g. a stale
    *    LWW loser persisted) */
  def urisReport(dbUris: DataFrame, chainUris: DataFrame): DataFrame = {
    import graft.nft.TokenUris.{latest, Keys}
    report(latest(dbUris, "db_url").join(latest(chainUris, "chain_url"), Keys, "full_outer")
      .filter(!(col("db_url") <=> col("chain_url"))), "uri",
      when(col("db_url").isNull, concat(lit("missing:chain="), col("chain_url")))
        .when(col("chain_url").isNull, concat(lit("extra:db="), col("db_url")))
        .otherwise(mismatch(col("db_url"), col("chain_url"))))
  }
}
