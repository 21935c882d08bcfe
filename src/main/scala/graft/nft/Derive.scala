package graft.nft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.{Abi, Keccak}
import graft.model.Addresses

/** EVM log -> NFT entity derivation: the reference's transformer/consumer
  * chain (`nft/evm/transformers.py:262-376`, `nft/evm/consumers.py`)
  * re-expressed as declarative DataFrame programs over a `logs` table
  * with schema FIXTURES.md §A (topics array<string>, data 0x-hex).
  *
  * Event signatures are computed with our keccak-256, not hardcoded —
  * same as the reference deriving them from text signatures
  * (`evm/types.py:285-313`).
  */
object Derive {

  val Erc721TransferSig: String = Keccak.eventTopic("Transfer(address,address,uint256)")
  val Erc1155TransferSingleSig: String = Keccak.eventTopic("TransferSingle(address,address,address,uint256,uint256)")
  val Erc1155TransferBatchSig: String = Keccak.eventTopic("TransferBatch(address,address,address,uint256[],uint256[])")
  val Erc1155UriSig: String = Keccak.eventTopic("URI(string,uint256)")

  /** The transfers table's LWW identity: append-only facts keyed by
    * their synthetic version (K8 idempotent-append semantics). */
  val TransferKeys: Seq[String] = Seq("collection_id", "token_id", "attribute_version")
  val TransferVersion: Seq[String] = Seq("attribute_version")

  /** P5: synthetic monotonic version key, rendered as 40-digit
    * zero-padded hex (`nft/evm/oracles.py:8-22`). */
  def attributeVersion(block: Column, txIdx: Column, logIdx: Column): Column =
    lpad(lower(hex(block * lit(1000000000L) + txIdx * lit(10000L) + logIdx)), 40, "0")

  /** P4: transaction-type oracle (`nft/evm/oracles.py:25-52`):
    * to==0x0 -> burn; from in {0x0, contract} and to not in {0x0,
    * contract} -> mint; else transfer. */
  def transactionType(from_ : Column, to_ : Column, contract: Column): Column = {
    val zero = lit(Addresses.Zero)
    when(to_ === zero, lit("burn"))
      .when((from_ === zero || from_ === contract) && to_ =!= zero && to_ =!= contract, lit("mint"))
      .otherwise(lit("transfer"))
  }

  private def transferCols(tokenId: Column, quantity: Column, from_ : Column,
                           to_ : Column, collectionType: String): Seq[Column] =
    transferColsC(tokenId, quantity, from_, to_, lit(collectionType))

  private def transferColsC(tokenId: Column, quantity: Column, from_ : Column,
                            to_ : Column, collectionType: Column): Seq[Column] = Seq(
    lit("ethereum").as("blockchain"),
    col("address").as("collection_id"),
    tokenId.as("token_id"),
    collectionType.as("collection_type"),
    transactionType(from_, to_, col("address")).as("transaction_type"),
    from_.as("from_"),
    to_.as("to_"),
    quantity.as("quantity"),
    col("block_number").as("block_id"),
    col("transaction_hash"),
    col("transaction_index"),
    col("log_index"),
    attributeVersion(col("block_number"), col("transaction_index"), col("log_index"))
      .as("attribute_version"))

  /** ERC-721 Transfer: sig match + arity 4 — the 4-topic check is what
    * excludes ERC-20 `Transfer` (same signature!,
    * `nft/evm/consumers.py:222-223`). token_id is indexed (topic 4). */
  def erc721Transfers(logs: DataFrame): DataFrame =
    logs.filter(element_at(col("topics"), 1) === lit(Erc721TransferSig) &&
        size(col("topics")) === 4)
      .select(transferCols(
        Abi.topicUint(element_at(col("topics"), 4)),
        lit(graft.expr.HexMath.pad64("1")),
        Abi.topicAddress(element_at(col("topics"), 2)),
        Abi.topicAddress(element_at(col("topics"), 3)),
        "ERC-721"): _*)

  /** ERC-1155 TransferSingle: (id, value) are static data words
    * (`nft/evm/transformers.py:296-310`). */
  def erc1155SingleTransfers(logs: DataFrame): DataFrame =
    logs.filter(element_at(col("topics"), 1) === lit(Erc1155TransferSingleSig) &&
        size(col("topics")) === 4)
      .select(transferCols(
        Abi.dataWord(col("data"), 1),
        Abi.dataWord(col("data"), 2),
        Abi.topicAddress(element_at(col("topics"), 3)),
        Abi.topicAddress(element_at(col("topics"), 4)),
        "ERC-1155"): _*)

  /** Merge same-token entries WITHIN one log's item array, summing
    * quantities with the exact uint256 kernel — map-side array work on
    * tiny batch lists, no shuffle. A TransferBatch may repeat a token
    * id (ids=[5,5], values=[1,2]); its items share one
    * attribute_version, and that triple is the storage identity every
    * sink/verify consumer keys on, so the repeat must collapse
    * HERE with its total value preserved. (Deliberate deviation from
    * the reference, whose keyed put would keep only ONE item's value,
    * `dynamodb.py:334-363` — a silent quantity loss our balance folds
    * cannot afford.) */
  private def mergeItems(items: Column): Column =
    transform(array_distinct(transform(items, i => i("token_id"))), t =>
      struct(t.as("token_id"),
        aggregate(filter(items, i => i("token_id") === t),
          lit(graft.expr.HexMath.pad64("0")),
          (acc, i) => graft.expr.Exprs.hexAdd(acc, i("qty"))).as("qty")))

  /** ERC-1155 TransferBatch: dynamic (uint256[] ids, uint256[] values)
    * unzipped positionally (`nft/evm/transformers.py:322-336`) =
    * explode(arrays_zip(ids, values)); repeated ids merge
    * ([[mergeItems]]). */
  def erc1155BatchTransfers(logs: DataFrame): DataFrame =
    logs.filter(element_at(col("topics"), 1) === lit(Erc1155TransferBatchSig) &&
        size(col("topics")) === 4)
      .withColumn("ids", Abi.decodeUintArrayUdf(col("data"), lit(0)))
      .withColumn("vals", Abi.decodeUintArrayUdf(col("data"), lit(1)))
      .withColumn("z", explode(mergeItems(
        zip_with(col("ids"), col("vals"),
          (i, v) => struct(i.as("token_id"), v.as("qty"))))))
      .select(transferCols(
        col("z.token_id"),
        col("z.qty"),
        Abi.topicAddress(element_at(col("topics"), 3)),
        Abi.topicAddress(element_at(col("topics"), 4)),
        "ERC-1155"): _*)

  /** All transfer-shaped logs as ONE pass over the log stream, deduped
    * on the idempotency key (K8, `dynamodb.py:334-363`).
    *
    * The per-standard functions above union-ed here would scan the logs
    * relation three times (the topic predicates filter on an array
    * element, so no pushdown makes the branches cheap); instead the
    * kind is classified once per row and every downstream column is a
    * CASE over it — including the (token_id, quantity) item list, which
    * is a 1-element array for 721/1155-single and the zipped pair
    * arrays for 1155-batch, exploded uniformly. CaseWhen evaluates
    * branches lazily, so the batch-decode UDFs still run only on batch
    * rows. A spec pins this equal to the union-of-three formulation. */
  def transfers(logs: DataFrame): DataFrame = {
    val sig = element_at(col("topics"), 1)
    val arity4 = size(col("topics")) === 4
    val kind = when(sig === lit(Erc721TransferSig) && arity4, lit("721"))
      .when(sig === lit(Erc1155TransferSingleSig) && arity4, lit("1155s"))
      .when(sig === lit(Erc1155TransferBatchSig) && arity4, lit("1155b"))
    def pair(id: Column, q: Column) = struct(id.as("token_id"), q.as("qty"))
    val items =
      when(col("kind") === "1155b",
        // mergeItems: repeated ids within one batch collapse with their
        // quantities summed, keeping (collection, version, token) unique
        mergeItems(zip_with(Abi.decodeUintArrayUdf(col("data"), lit(0)),
          Abi.decodeUintArrayUdf(col("data"), lit(1)), (i, q) => pair(i, q))))
      .when(col("kind") === "1155s",
        array(pair(Abi.dataWord(col("data"), 1), Abi.dataWord(col("data"), 2))))
      .otherwise(array(pair(Abi.topicUint(element_at(col("topics"), 4)),
        lit(graft.expr.HexMath.pad64("1")))))
    val is721 = col("kind") === "721"
    val fromCol = when(is721, Abi.topicAddress(element_at(col("topics"), 2)))
      .otherwise(Abi.topicAddress(element_at(col("topics"), 3)))
    val toCol = when(is721, Abi.topicAddress(element_at(col("topics"), 3)))
      .otherwise(Abi.topicAddress(element_at(col("topics"), 4)))
    val ctype = when(is721, lit("ERC-721")).otherwise(lit("ERC-1155"))
    logs.withColumn("kind", kind)
      .filter(col("kind").isNotNull)
      .withColumn("item", explode(items))
      .select(transferColsC(col("item.token_id"), col("item.qty"), fromCol, toCol, ctype): _*)
      // mergeItems guarantees the triple is unique per LOG, so this
      // dedup removes exactly the replayed-log duplicates (K8)
      .dropDuplicates("collection_id", "attribute_version", "token_id")
  }

  /** ERC-1155 URI events: dynamic string + indexed token id, stored
    * through the metadata-URL rule ([[TokenUris.canonicalize]]). */
  def uriUpdates(logs: DataFrame): DataFrame =
    TokenUris.canonicalize(
      logs.filter(element_at(col("topics"), 1) === lit(Erc1155UriSig) &&
          size(col("topics")) === 2)
        .withColumn("token_id", Abi.topicUint(element_at(col("topics"), 2))),
      "metadata_url", Abi.decodeStringUdf(col("data"), lit(0)), dropOverCap = true)
      .select(col("address").as("collection_id"), col("token_id"), col("metadata_url"),
        attributeVersion(col("block_number"), col("transaction_index"), col("log_index"))
          .as("metadata_url_version"))

  private def u256 = udaf(graft.expr.Uint256Sum)
  private val hexZero = graft.expr.HexMath.pad64("0")

  /** A1: per-token state fold (`nft/evm/consumers.py:49-145`):
    * first-mint-wins mint fields, exact quantity fold, argmax owner;
    * ERC-1155 forces current_owner null (`consumers.py:90-91`).
    *
    * Quantity is full-range uint256 (SURVEY §1.3 / `core/types.py:9-122`)
    * — an ERC-1155 value above 2^63 silently overflowed the earlier
    * long-typed sum. Mint and burn totals now fold through the exact
    * `Uint256Sum` aggregator (partial+final merge like any algebraic
    * agg) and the net supply is their `hex_sub`: pad64 hex when
    * non-negative, `-` + pad64 when the data is inconsistent.
    *
    * `broadcastTimes`: the block-time dim is broadcast for a crawl
    * WINDOW (rows = blocks in range, a few MB); a whole-chain backfill
    * at full height (tens of millions of rows) must NOT ship the dim to
    * every task — pass false and the enrich degrades to a shuffled
    * join Catalyst plans as SMJ/SHJ. `Crawl.fromChain`/`forceLoad`
    * choose automatically by window width. */
  def tokens(transfers: DataFrame, blockTimes: DataFrame,
             broadcastTimes: Boolean = true): DataFrame =
    finalizeTokens(tokenDeltas(transfers, blockTimes, broadcastTimes))

  /** The component half of [[tokens]] — per-key state every column of
    * which merges as a commutative semigroup (argmin over mint version,
    * additive uint256 totals, argmax over attribute version, max), so a
    * batch over the whole chain and an epoch-wise streaming fold
    * ([[graft.streaming.Tail.tokensSink]]) reach the same state. */
  def tokenDeltas(transfers: DataFrame, blockTimes: DataFrame,
                  broadcastTimes: Boolean = true): DataFrame = {
    val dim = if (broadcastTimes) broadcast(blockTimes) else blockTimes
    val enriched = transfers.join(dim,
      transfers("block_id") === blockTimes("number"), "left")
    enriched
      .groupBy(col("blockchain"), col("collection_id"), col("token_id"))
      .agg(
        first(col("collection_type")).as("collection_type"),
        min(when(col("transaction_type") === "mint", col("attribute_version")))
          .as("mint_version"),
        min_by(struct(col("block_id"), col("timestamp"), col("to_")),
          when(col("transaction_type") === "mint", col("attribute_version"))).as("mint_info"),
        u256(when(col("transaction_type") === "mint", col("quantity"))).as("mint_total"),
        u256(when(col("transaction_type") === "burn", col("quantity"))).as("burn_total"),
        max_by(col("to_"), col("attribute_version")).as("last_to"),
        max(col("attribute_version")).as("attribute_version"))
  }

  /** Net the [[tokenDeltas]] components into the tokens table shape. */
  def finalizeTokens(components: DataFrame): DataFrame =
    components
      .select(col("blockchain"), col("collection_id"), col("token_id"),
        col("mint_info.block_id").as("mint_block"),
        col("mint_info.timestamp").as("mint_date"),
        col("mint_info.to_").as("original_owner"),
        graft.expr.Exprs.hexSub(col("mint_total"), col("burn_total")).as("quantity"),
        when(col("collection_type") === "ERC-1155", lit(null))
          .otherwise(col("last_to")).as("current_owner"),
        col("attribute_version"))

  /** A3/G5/K7: per-(token, account) balances — delta explode, exact
    * in/out uint256 fold, drop zeros (`nft/evm/consumers.py:652-701`,
    * `nft/consumers.py:161-173`). Balance is `hex_sub(in, out)`: pad64
    * hex, or `-` + pad64 for accounts net-negative mid-replay (matches
    * the reference keeping balances as arbitrary-precision ints). */
  def owners(transfers: DataFrame): DataFrame =
    ownerDeltas(transfers)
      .select(col("blockchain"), col("collection_id"), col("token_id"), col("account"),
        graft.expr.Exprs.hexSub(col("in_total"), col("out_total")).as("quantity"))
      .filter(col("quantity") =!= lit(hexZero))

  /** The additive half of [[owners]]: per-key uint256 in/out totals over
    * exactly the rows given — a batch covering the whole chain nets to
    * final balances ([[owners]]); a micro-batch yields the EPOCH DELTAS
    * the streaming owners sink merges into standing balances
    * ([[graft.streaming.Tail.ownersSink]], K6 additive semantics).
    * Algebraic on purpose: partial aggregation absorbs a hot key's
    * epoch before the shuffle. */
  def ownerDeltas(transfers: DataFrame): DataFrame =
    transfers
      .withColumn("d", explode(array(
        struct(col("to_").as("account"), lit("in").as("side")),
        struct(col("from_").as("account"), lit("out").as("side")))))
      .filter(!(col("transaction_type") === "burn" && col("d.side") === "in") &&
              !(col("transaction_type") === "mint" && col("d.side") === "out"))
      .groupBy(col("blockchain"), col("collection_id"), col("token_id"), col("d.account"))
      .agg(u256(when(col("d.side") === "in", col("quantity"))).as("in_total"),
        u256(when(col("d.side") === "out", col("quantity"))).as("out_total"))
}
