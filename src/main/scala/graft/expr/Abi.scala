package graft.expr

import java.math.BigInteger
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** ABI decoding (SURVEY.md P3, `nft/evm/transformers.py:271-336`,
  * `nft/evm/consumers.py:541-634`).
  *
  * Static types (address, uint256 in a fixed slot) are pure column
  * slices — codegen'd builtins, no UDF. Dynamic types (string,
  * uint256[] with head/tail offset encoding) use small Scala UDFs over
  * the hex payload; they sit at the decode edge of the plan (applied
  * after the topic filter prunes 99% of rows), so the non-codegen cost
  * is on the smallest possible input.
  */
object Abi {

  /** topic/word (0x + 64 hex) -> 20-byte address ("0x" + last 40 hex). */
  def topicAddress(c: Column): Column =
    concat(lit("0x"), substring(c, 27, 40))

  /** word at 1-based `slot` of the 0x-prefixed data payload, as 64-hex. */
  def dataWord(data: Column, slot: Int): Column =
    lower(substring(data, 3 + (slot - 1) * 64, 64))

  /** 64-hex word -> long (for values known to fit; full-range callers
    * keep the hex form per FIXTURES.md conventions). */
  def wordToLong(c: Column): Column = conv(c, 16, 10).cast("long")

  /** topic (0x + 64 hex) -> canonical lowercase 64-hex uint256. */
  def topicUint(c: Column): Column = lower(substring(c, 3, 64))

  // ---- dynamic types ----

  private def strip0x(s: String): String =
    if (s != null && (s.startsWith("0x") || s.startsWith("0X"))) s.substring(2) else s

  private def wordAt(hex: String, byteOffset: Int): String =
    hex.substring(byteOffset * 2, byteOffset * 2 + 64)

  private def uintAt(hex: String, byteOffset: Int): BigInteger =
    new BigInteger(wordAt(hex, byteOffset), 16)

  /** Decode `uint256[]` in head/tail form: `slot` is the 0-based head
    * position holding the tail offset. Returns 64-hex elements; a
    * MALFORMED payload returns null (see [[decodeString]] — on a public
    * chain any contract can emit a well-known signature with garbage
    * data, and a decode crash would fail the whole crawl). */
  def decodeUintArray(data: String, slot: Int): Array[String] = {
    val hex = strip0x(data)
    if (hex == null || hex.isEmpty) return Array.empty
    try {
      val offset = uintAt(hex, slot * 32).intValueExact()
      val len = uintAt(hex, offset).intValueExact()
      // bound check BEFORE allocating: a hostile length word must not
      // drive Array.tabulate into OOM or out-of-bounds substring
      if (offset < 0 || len < 0 || (offset + 32L + len * 32L) * 2L > hex.length) null
      else Array.tabulate(len)(i => wordAt(hex, offset + 32 + i * 32).toLowerCase)
    } catch { case _: ArithmeticException | _: IndexOutOfBoundsException |
                   _: NumberFormatException => null }
  }

  /** Decode a dynamic `string` at head `slot` (UTF-8). Malformed
    * payloads — truncated tail, hostile offset/length words, non-hex —
    * return null rather than throwing: the caller is classifying logs
    * by signature on an open chain, where the payload shape is
    * attacker-controlled and one bad log must not kill the batch. */
  def decodeString(data: String, slot: Int): String = {
    val hex = strip0x(data)
    if (hex == null || hex.isEmpty) return null
    try {
      val offset = uintAt(hex, slot * 32).intValueExact()
      val len = uintAt(hex, offset).intValueExact()
      if (offset < 0 || len < 0 || (offset + 32L + len) * 2L > hex.length) return null
      val bytes = new Array[Byte](len)
      var i = 0
      while (i < len) {
        bytes(i) = Integer.parseInt(hex.substring((offset + 32 + i) * 2, (offset + 32 + i) * 2 + 2), 16).toByte
        i += 1
      }
      new String(bytes, StandardCharsets.UTF_8)
    } catch { case _: ArithmeticException | _: IndexOutOfBoundsException |
                   _: NumberFormatException => null }
  }

  // ---- encoding: the request half of eth_call ----

  /** Typed ABI argument for call encoding — the reference's `EthCall`
    * request construction (`evm/rpc.py:23-92`, selector + encoded args
    * `evm/bin.py:18-35`). Static types inline a 32-byte word in the
    * head; dynamic types put an offset word in the head and append
    * their payload to the tail (the exact layout [[decodeUintArray]] /
    * [[decodeString]] reverses — round-trip spec-enforced). */
  sealed trait AbiArg {
    def isDynamic: Boolean
  }
  final case class AbiUint(value: BigInteger) extends AbiArg {
    require(value.signum() >= 0 && value.bitLength() <= 256, s"uint256 out of range: $value")
    def isDynamic = false
  }
  final case class AbiAddress(address: String) extends AbiArg {
    require(strip0x(address) != null && strip0x(address).length == 40 &&
      strip0x(address).forall(c => Character.digit(c, 16) >= 0),
      s"address must be 20 bytes of hex: $address")
    def isDynamic = false
  }
  final case class AbiBool(b: Boolean) extends AbiArg {
    def isDynamic = false
  }
  final case class AbiString(s: String) extends AbiArg {
    def isDynamic = true
  }
  final case class AbiUintArray(values: Seq[BigInteger]) extends AbiArg {
    // same range guard as AbiUint: a negative or >256-bit element would
    // otherwise emit a malformed word ('-' char / >64 hex) that shifts
    // every later slot — fail fast, not corrupt silently
    values.foreach(v => require(v.signum() >= 0 && v.bitLength() <= 256,
      s"uint256 out of range: $v"))
    def isDynamic = true
  }

  private def word(v: BigInteger): String = {
    val h = v.toString(16)
    ("0" * (64 - h.length)) + h
  }

  private def headWord(a: AbiArg): String = a match {
    case AbiUint(v) => word(v)
    case AbiAddress(addr) => {
      val h = strip0x(addr).toLowerCase
      ("0" * (64 - h.length)) + h
    }
    case AbiBool(b) => word(if (b) BigInteger.ONE else BigInteger.ZERO)
    case _ => throw new IllegalStateException("dynamic head is an offset")
  }

  private def tailHex(a: AbiArg): String = a match {
    case AbiString(s) =>
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      val hex = bytes.map(b => f"${b & 0xff}%02x").mkString
      val padded = hex + "0" * ((64 - hex.length % 64) % 64)
      word(BigInteger.valueOf(bytes.length)) + padded
    case AbiUintArray(vs) =>
      word(BigInteger.valueOf(vs.length)) + vs.map(word).mkString
    case _ => ""
  }

  /** Head/tail-encode an argument list (no selector) — the payload the
    * decoders above consume. */
  def encodeArgs(args: Seq[AbiArg]): String = {
    val headSize = 32L * args.length
    val (heads, tails, _) = args.foldLeft((Vector.empty[String], Vector.empty[String], headSize)) {
      case ((hs, ts, off), a) =>
        if (a.isDynamic) {
          val t = tailHex(a)
          (hs :+ word(BigInteger.valueOf(off)), ts :+ t, off + t.length / 2)
        } else (hs :+ headWord(a), ts, off)
    }
    (heads ++ tails).mkString
  }

  /** Full calldata: 4-byte keccak selector + encoded args — what the
    * reference sends as `data` in an eth_call request. */
  def encodeCall(signature: String, args: Seq[AbiArg]): String =
    Keccak.functionSelector(signature) + encodeArgs(args)

  // Column forms for PER-ROW calldata (static args only): the selector
  // is a plan-time literal (keccak runs once on the driver), the arg
  // words are codegen'd builtins (concat/lpad/hex) — so building an
  // eth_call request per collection/token row stays inside
  // whole-stage codegen, no UDF. This is how S6's request half scales:
  // the request TABLE (to, data) is derived columnar; only the
  // transport (an RPC foreachPartition sink) leaves the plan.

  /** non-negative long column -> 64-hex head word. */
  def uintWord(c: Column): Column = lpad(lower(hex(c)), 64, "0")

  /** calldata column: selector literal + static arg words. */
  def encodeCallCol(signature: String, argWords: Column*): Column =
    concat((lit(Keccak.functionSelector(signature)) +: argWords): _*)

  val decodeUintArrayUdf =
    udf((data: String, slot: Int) => decodeUintArray(data, slot))
  val decodeStringUdf =
    udf((data: String, slot: Int) => decodeString(data, slot))

  def register(spark: SparkSession): Unit = {
    spark.udf.register("abi_uint_array", decodeUintArrayUdf)
    spark.udf.register("abi_string", decodeStringUdf)
  }
}
