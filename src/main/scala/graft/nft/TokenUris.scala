package graft.nft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{Abi, Keccak}

/** J5 completed: LIVE per-token `tokenURI(token_id)` enrichment — the
  * reference issues an eth_call per minted ERC-721 token at the mint
  * block (`nft/evm/consumers.py:328-374` batch; the streaming variant
  * `nft/evm/transformers.py:379-431` fires per MINT transfer), so
  * tokens minted on contracts that never emit URI events still get a
  * `metadata_url`. Shape mirrors the verify pipeline's per-token
  * `ownerOf` probes ([[graft.pipelines.VerifyPipeline.tokenOwnersReport]]):
  * requests build COLUMNAR (selector literal + the already-64-hex
  * token_id as the single uint256 word), the
  * [[graft.rpc.CallExecutor]] seam runs them per partition (simulated
  * or JSON-RPC — the only non-declarative hop), and the decoded URIs
  * come back in the same (collection_id, token_id, metadata_url,
  * metadata_url_version) shape as the ERC-1155 URI-event stream
  * ([[Derive.uriUpdates]]), so the two metadata sources union and
  * LWW-merge through one sink identity.
  *
  * Error semantics per the reference: a revert / -32000 / decode error
  * means "no URI" (`consumers.py:344-356`) and the streaming transformer
  * sends NO update package on failure (`transformers.py:420-424`) — so
  * failed probes emit no row here (the token's metadata_url stays null
  * through the left enrich / absent from the uris stream), never a
  * null-URL overwrite of an event-sourced URL.
  *
  * Probe answers go through the same [[canonicalize]] rule as the
  * URI events (`{id}` substitution, P10 cap) — the reference leaves 721
  * probe results untouched (`consumers.py:356`) but EIP-1155-style
  * templates do appear on 721 contracts, and both metadata sources must
  * agree in shape to LWW-merge coherently.
  */
object TokenUris {

  private val TokenUriSel: String = Keccak.functionSelector("tokenURI(uint256)")

  /** The uris table's LWW identity: the latest URL per token by
    * `metadata_url_version`. */
  val Keys: Seq[String] = Seq("collection_id", "token_id")
  val Version: Seq[String] = Seq("metadata_url_version")

  /** P10 (`dynamodb.py:160-167`): the longest metadata URL stored. */
  val MaxUrlLength: Int = 2048

  /** The metadata-URL rule, writing column `url` from the raw URL
    * `value`: `{id}` becomes the row's 64-hex token id
    * (`nft/evm/transformers.py:339-376`), then the P10 cap applies. The
    * crawl's two sources store URLs through it with `dropOverCap`, so a
    * URL over the cap is never written; verify passes its chain answers
    * through it without, so such an answer reads null, the same as the
    * stored side. */
  def canonicalize(df: DataFrame, url: String, value: Column,
      dropOverCap: Boolean): DataFrame = {
    val substituted =
      df.withColumn(url, regexp_replace(value, lit("\\{id\\}"), col("token_id")))
    if (dropOverCap) substituted.filter(length(col(url)) <= MaxUrlLength)
    else substituted.withColumn(url, when(length(col(url)) <= MaxUrlLength, col(url)))
  }

  /** Latest URL per token of a uris-shaped table (LWW on
    * `metadata_url_version`), as (collection_id, token_id, `as`). */
  def latest(uris: DataFrame, as: String): DataFrame =
    graft.ops.Lww.merge(
      uris.select(col("collection_id"), col("token_id"),
        col("metadata_url"), col("metadata_url_version")), Keys, Version)
      .select(col("collection_id"), col("token_id"), col("metadata_url").as(as))

  /** The uris table: BOTH metadata sources in one stream — the ERC-1155
    * URI events of `logs` and the per-mint tokenURI probe rows — LWW-
    * merged downstream on `metadata_url_version`. */
  def updates(logs: DataFrame, mintUris: DataFrame): DataFrame =
    Derive.uriUpdates(logs).unionByName(mintUris)

  /** One probe per minted ERC-721 token, keyed like the reference's
    * Token entity: first-mint-wins (min attribute_version) picks the
    * mint block the call executes at — the same convention
    * [[Derive.tokenDeltas]] uses for mint_info — and that mint's
    * attribute_version becomes the URI row's LWW version (the streaming
    * transformer's `metadata_url_version = transfer.attribute_version`,
    * `transformers.py:414`).
    *
    * Scale shape: the first-mint groupBy and the answer re-join are both
    * keyed on (collection_id, token_id) — one co-partitioned shuffle
    * pair over rows = MINTED TOKENS (not transfers, not blocks); the
    * probe itself distributes per partition like any scan. */
  def fromMints(spark: SparkSession, transfers: DataFrame,
      callExecutor: String = graft.rpc.CallExecutor.Simulated,
      options: Map[String, String] = Map.empty): DataFrame = {
    val mints = transfers
      .filter(col("transaction_type") === "mint" &&
        col("collection_type") === "ERC-721")
      .groupBy(col("collection_id"), col("token_id"))
      .agg(min_by(struct(col("block_id"), col("attribute_version")),
        col("attribute_version")).as("m"))
      .select(col("collection_id"), col("token_id"),
        col("m.block_id").as("block_id"),
        col("m.attribute_version").as("attribute_version"))
    val requests = mints.select(
      col("collection_id").as("to"),
      col("token_id").as("probe"), // the token id IS the correlation key
      concat(lit(TokenUriSel), col("token_id")).as("data"),
      col("block_id").as("block")) // state height = the mint block
    val answers = graft.rpc.Calls.execute(spark, requests, callExecutor, options)
      .filter(col("result").isNotNull)
      .select(col("to").as("collection_id"), col("probe").as("token_id"),
        Abi.decodeStringUdf(col("result"), lit(0)).as("metadata_url"))
      .filter(col("metadata_url").isNotNull)
    canonicalize(answers
      .join(mints.select(col("collection_id"), col("token_id"),
        col("attribute_version")), Seq("collection_id", "token_id")),
      "metadata_url", col("metadata_url"), dropOverCap = true)
      .select(col("collection_id"), col("token_id"), col("metadata_url"),
        col("attribute_version").as("metadata_url_version"))
  }

  /** The reference's token READ view reconstituted: its sink applies
    * URI-event updates onto the token item
    * (`NftMetadataUriUpdatingConsumer`), so a reference token row
    * always shows the LATEST url from EITHER source. Our model keeps
    * the probe URL on the tokens table and the event stream in the
    * uris table — this reader joins them back: latest uris-row URL per
    * token (LWW on metadata_url_version) wins over the mint-probe
    * value; tokens untouched by either keep null. One co-partitioned
    * join on the tokens grain. */
  def tokensWithLatestUrls(tokens: DataFrame, uris: DataFrame): DataFrame = {
    val base = withMetadataUrl(tokens)
    base.join(latest(uris, "latest_url"), Seq("collection_id", "token_id"), "left")
      .withColumn("metadata_url", coalesce(col("latest_url"), col("metadata_url")))
      .drop("latest_url")
      .select(base.columns.toIndexedSeq.map(col): _*)
  }

  /** `tokens` with a metadata_url column: a tokens table without one
    * (older DBs, the tail's token view) reads as all-null URLs. */
  def withMetadataUrl(tokens: DataFrame): DataFrame =
    if (tokens.columns.contains("metadata_url")) tokens
    else tokens.withColumn("metadata_url", lit(null).cast("string"))

  /** The batch-consumer half (`consumers.py:357-372`: completed tokens
    * are WRITTEN with their probed metadata_url): left-enrich the
    * derived tokens table. Tokens whose probe reverted — and every
    * ERC-1155 token, which is never probed — keep a null metadata_url,
    * to be filled by the URI-event LWW merge downstream. Keyed on the
    * tokens table's own grain, so the join co-partitions with the
    * derivation's final aggregate. */
  def enrichTokens(tokens: DataFrame, mintUris: DataFrame): DataFrame =
    tokens.join(
      mintUris.select(col("collection_id"), col("token_id"), col("metadata_url")),
      Seq("collection_id", "token_id"), "left")
      // the equi-join hoists its keys to the front; keep the tokens
      // table's own column order, metadata_url appended (the reference
      // Token entity shape, `nft/entities.py:39-52`)
      .select((tokens.columns.toIndexedSeq :+ "metadata_url").map(col): _*)
}
