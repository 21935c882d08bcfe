package graft.pipelines

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("crawl flagship produces per-owner rollup") {
    val out = Crawl.run(spark, dir)
    assert(out.count() > 0)
    assert(out.columns.toSet === Set("owner", "n_transfers", "net_value", "last_type", "last_version"))
  }

  test("load writes transfers/tokens/owners tables; replay produces identical tables") {
    val o1 = Files.createTempDirectory("load1").toString
    val o2 = Files.createTempDirectory("load2").toString
    Load.run(spark, dir, o1)
    Load.run(spark, dir, o2)
    for (t <- Seq("transfers", "tokens", "owners")) {
      val a = spark.read.parquet(s"$o1/$t").collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$o2/$t").collect().map(_.toString).sorted.toSeq
      assert(a === b, s"table $t differs across replays")
      assert(a.nonEmpty)
    }
    // partitioned fact layout
    assert(new java.io.File(s"$o1/transfers").listFiles().exists(_.getName.startsWith("owner_bucket=")))
  }

  test("block-time CSV cache round-trips (S8)") {
    val out = Files.createTempDirectory("btc").toString + "/cache"
    Load.writeBlockTimeCsv(spark, dir, out)
    val back = Load.readBlockTimeCsv(spark, out)
    assert(back.count() === 1000)
    assert(back.schema.map(_.dataType.simpleString) === Seq("bigint", "bigint"))
  }

  test("custom functions register on the SQL surface") {
    graft.expr.Exprs.register(spark)
    assert(spark.sql("SELECT keccak256('') h").head().getString(0) ===
      "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
  }

  test("fromChain: the whole crawl DAG runs fixture-free off the typed sources") {
    val out = graft.pipelines.Crawl.fromChain(spark, startBlock = 0, maxBlock = 50)
    val n = (0L until 50L).map(_ % 3).sum
    assert(out("transfers").count() === n)
    assert(out("tokens").count() === n) // every simulated token id is unique
    // minted tokens (every 5th block's transfers) carry mint provenance
    val minted = out("tokens").filter(org.apache.spark.sql.functions.col("mint_block").isNotNull)
    assert(minted.count() === (0L until 50L by 5L).map(_ % 3).sum)
    // each mint's timestamp came through the blocks dim join
    minted.collect().foreach { r =>
      assert(r.getAs[Long]("mint_date") === 1700000000L + 12L * r.getAs[Long]("mint_block"))
    }
    // owners balances: +1 for recipients, and senders of never-minted
    // tokens legitimately sit at -1 (net-negative mid-replay form) —
    // nothing else can appear in the simulated chain
    val q1 = graft.expr.HexMath.pad64("1")
    val balances = out("owners").select("quantity").distinct()
      .collect().map(_.getString(0)).toSet
    assert(balances.subsetOf(Set(q1, "-" + q1)))
    assert(out("owners").filter(org.apache.spark.sql.functions.col("quantity") === q1).count() > 0)
    // URI events on every 7th block with transactions, PLUS one live
    // tokenURI probe row per minted token (J5): decoded, {id}
    // substituted with the decimal-free token topic (P6 through the
    // whole crawl DAG)
    val uris = out("uris").collect()
    val eventUris = (0 until 50).count(n => n % 7 == 3 && n % 3 != 0)
    val mintTokens = (0 until 50).filter(_ % 5 == 0).map(_ % 3).sum
    assert(uris.length === eventUris + mintTokens)
    uris.foreach { r =>
      val u = r.getAs[String]("metadata_url")
      assert(u.startsWith("ipfs://sim/") && u.endsWith(".json") && !u.contains("{id}"), u)
    }
    // the probed metadata_url also lands ON the tokens table (the
    // reference writes completed tokens with their probed URI,
    // `consumers.py:357-372`) — every 721 mint gets one
    minted.collect().foreach { r =>
      assert(r.getAs[String]("metadata_url") != null,
        s"minted token ${r.getAs[String]("token_id")} missing probed metadata_url")
    }
    // collections: creation receipts (to_=None txs in blocks 7,14,20,28,
    // 35,41,49 of [0,50)) probed through the simulated call transport;
    // addr(4004) has no ERC-165 -> dropped; repeated creations of
    // addr(4000) (blocks 20 and 35) LWW-collapse on the later block
    val colls = out("collections").collect()
      .map(r => r.getAs[String]("collection_id") ->
        (r.getAs[String]("specification"), r.getAs[Long]("block_created"))).toMap
    assert(colls === Map(
      f"0x${4000L}%040x" -> ("ERC-721", 35L),
      f"0x${4001L}%040x" -> ("ERC-1155", 41L),
      f"0x${4002L}%040x" -> ("ERC-721", 7L),
      f"0x${4003L}%040x" -> ("ERC-1155", 28L)))
    val c4000 = out("collections")
      .filter(org.apache.spark.sql.functions.col("collection_id") === f"0x${4000L}%040x").head()
    assert(c4000.getAs[String]("name_lower") === "collection 4000")
    assert(c4000.getAs[String]("creator") === f"0x${1035L}%040x") // txFrom(35, 0)
    assert(c4000.getAs[Long]("date_created") === 1700000000L + 12L * 35)
    assert(c4000.getAs[String]("owner") === f"0x${9000L}%040x")
    // a narrower window fetches (and derives) only its blocks; staged
    // mode produces identical tables while fetching the window once
    val windowed = graft.pipelines.Crawl.fromChain(spark, startBlock = 10, maxBlock = 20)
    assert(windowed("transfers").count() === (10L until 20L).map(_ % 3).sum)
    val stage = java.nio.file.Files.createTempDirectory("crawl_stage").toString
    val stagedOut = graft.pipelines.Crawl.fromChain(spark, startBlock = 10, maxBlock = 20,
      stageDir = Some(stage))
    assert(stagedOut("transfers").collect().map(_.toString).sorted.toSeq ===
      windowed("transfers").collect().map(_.toString).sorted.toSeq)
    assert(new java.io.File(s"$stage/receipts").exists())
    assert(new java.io.File(s"$stage/block_times").exists())
  }

  test("forceLoad: single-contract backfill == the full crawl filtered to that contract") {
    import org.apache.spark.sql.functions.col
    val coll = f"0x${4000L}%040x" // created at blocks 20 and 35; LWW winner 35
    val blockTimes = spark.read.format("blocks")
      .option("start", "0").option("maxBlock", "50").load()
      .select(col("number"), col("timestamp"))
    val forced = graft.pipelines.Crawl.forceLoad(spark, coll,
      creationBlock = 35, maxBlock = 50, blockTimes = blockTimes)
    val full = graft.pipelines.Crawl.fromChain(spark, 0, 50)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // transfers/tokens/owners from the creation block onward must equal
    // the whole-chain crawl narrowed to this contract and window
    def narrowed(name: String) = full(name)
      .filter(col("collection_id") === coll)
    assert(rows(forced("transfers")) ===
      rows(narrowed("transfers").filter(col("block_id") >= 35)))
    assert(forced("transfers").count() > 0)
    val fromForcedTransfers = forced("owners")
    assert(rows(fromForcedTransfers) === rows(
      graft.nft.Derive.owners(narrowed("transfers").filter(col("block_id") >= 35))))
    // tokens join against the WINDOW-pruned dim (the whole-chain cache
    // is cut to [creation, max) before broadcast) still enriches every
    // mint timestamp correctly; the probed metadata_url column rides on
    // top of the pure derivation, so compare with it stripped and pin
    // the probe separately
    assert(rows(forced("tokens").drop("metadata_url")) === rows(graft.nft.Derive.tokens(
      narrowed("transfers").filter(col("block_id") >= 35),
      blockTimes.filter(col("number") >= 35 && col("number") < 50))))
    assert(forced("tokens").filter(col("mint_block").isNotNull &&
      col("metadata_url").isNull).count() === 0,
      "a forced-load mint is missing its probed metadata_url")
    // the collection row classifies through the same probe flow
    val c = forced("collections").collect()
    assert(c.length === 1)
    assert(c.head.getAs[String]("collection_id") === coll)
    assert(c.head.getAs[String]("specification") === "ERC-721")
    assert(c.head.getAs[Long]("block_created") === 35L)
  }
}
