package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * quality scoring, language-ID heuristic, fingerprinting. All built
  * from codegen'd `functions._` / higher-order array functions — no
  * UDFs — so they stay inside whole-stage codegen and scale linearly
  * with input splits (pure map-side, zero shuffle).
  */
object TextOps {

  val EnglishStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val GermanMarkers: Seq[String] = Seq("der", "die", "das", "und", "ist")

  def tokens(text: Column): Column = split(text, " ")

  /** doc_id, n_tokens, n_unique, n_chars_actual */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("n_chars"),
      length(col("text")).as("n_chars_actual"),
      size(tokens(col("text"))).as("n_tokens"),
      size(array_distinct(tokens(col("text")))).as("n_unique"))

  /** Length / stopword-ratio / mean-token-length quality features.
    * Ratios are int/int double divisions — bit-deterministic. */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(EnglishStopwords.map(lit): _*)
    docs.select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"),
        aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x).as("sum_tok_len"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"),
        (col("sum_tok_len").cast("double") / col("n_tokens").cast("double")).as("mean_tok_len"))
  }

  /** Marker-word language-ID heuristic (n-gram language models need no
    * external data for the engine's contract: the operator shape is
    * token-frequency scoring + argmax classify). */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val en = array(EnglishStopwords.map(lit): _*)
    val de = array(GermanMarkers.map(lit): _*)
    docs.select(
        col("doc_id"), col("lang"),
        size(filter(toks, t => array_contains(en, t))).as("en_score"),
        size(filter(toks, t => array_contains(de, t))).as("de_score"),
        size(toks).as("n_tokens"))
      .withColumn("lang_guess",
        when(col("en_score") > col("de_score"), lit("en"))
          .when(col("de_score") > col("en_score"), lit("de"))
          .otherwise(lit("unk")))
  }

  /** Per-stratum quantile quality gate: drop each language's bottom
    * `frac` of documents by quality score (stopword ratio here — any
    * score column works). Exact semantics via `percent_rank` — the
    * (rank-1)/(n-1) division is int/int double arithmetic, bit-equal
    * across engines; the doc_id tiebreak makes ranks unique so the
    * boundary is deterministic.
    *
    * Scale note: one window partitioned by language means one task per
    * language — a 90%-English corpus serializes on one partition. */
  def qualityFilter(docs: DataFrame, frac: Double = 0.25): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("stop_ratio").asc, col("doc_id").asc)
    scoredByLang(docs)
      .withColumn("q_rank", percent_rank().over(w))
      .filter(col("q_rank") >= frac)
      .select(col("doc_id"), col("lang"), col("stop_ratio"), col("q_rank"))
  }

  /** (doc_id, lang, stop_ratio) — the quality features with the stratum
    * column kept, computed in one map-side pass (no self-join back). */
  private def scoredByLang(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(EnglishStopwords.map(lit): _*)
    docs.select(col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"))
      .select(col("doc_id"), col("lang"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"))
  }

  /** BPE-ish pre-tokenization: letter runs, digit runs, and single
    * punctuation marks — the GPT-2-style split pattern reduced to
    * ASCII classes so it evaluates identically under Java regex and
    * RE2. Subword-piece counts from this are the standard proxy for
    * "model tokens" when the real tokenizer isn't in the data plane. */
  val BpeishRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** doc_id, n_tokens (whitespace), n_pieces (BPE-ish regex),
    * chars_per_piece — the cost estimate a training pipeline budgets
    * with. Map-side only. */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeishRe), lit(0))).cast("long").as("n_pieces"),
        length(col("text")).cast("long").as("n_chars_actual"))
      .withColumn("chars_per_piece",
        col("n_chars_actual").cast("double") / col("n_pieces").cast("double"))

  /** BPE merge INDUCTION — learn the top-`nMerges` byte-pair-encoding
    * merge rules from the corpus (the tokenizer-TRAINING step whose
    * outcome [[bpeTokenStats]] only estimates): the classic algorithm
    * — start from character symbols, repeatedly merge the most frequent
    * adjacent symbol pair — run as `nMerges` bounded aggregate rounds.
    *
    * Spark shape (the published word-frequency formulation): training
    * state is the DISTINCT-WORD table (word count `c` + current
    * segmentation), orders of magnitude smaller than the corpus and the
    * only relation the rounds touch. Each round = one (lhs, rhs)
    * pair-count aggregation with map-side partials + a driver-side
    * top-1 collect (metadata scale, like the k-means centroids), then a
    * MAP-SIDE merge application. No round ever re-reads the corpus.
    *
    * The segmentation is encoded as a STRING with every symbol wrapped
    * in `|` separators (`low` -> `|l||o||w|`), because then applying a
    * merge IS plain left-to-right substring replace —
    * `replace(enc, "|l||o|", "|lo|")` — whose all-occurrence,
    * non-overlapping scan is exactly BPE's greedy pass (a consumed
    * match removes both symbols' full wrappers, so a run `aaa` under
    * merge (a,a) yields `[aa, a]`, never the overlapping `[aa, aa]`),
    * and is engine-agnostic: the DuckDB oracle replays the same rounds
    * with its own `replace`. Words are restricted to `[A-Za-z0-9]+`
    * so the `(.)` char-split regex agrees across regex engines (Java
    * UTF-16 vs RE2 UTF-8 disagree on astral codepoints) and no word can
    * contain the separator.
    *
    * Ties break deterministically: highest count, then (lhs, rhs)
    * lexicographic — bit-reproducible on any engine. Rounds with no
    * remaining pairs stop early. Lineage is localCheckpoint-bounded
    * every 4 rounds (each round stacks a `replace` layer on the word
    * table; unbounded it re-derives O(rounds²) layers).
    *
    * Output: merge_rank (1-based learning order), lhs, rhs,
    * n_pair (the pair's weighted frequency when learned). */
  def bpeLearnMerges(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    require(nMerges >= 1 && nMerges <= 64, "bpeLearnMerges: nMerges in [1, 64]")
    val spark = docs.sparkSession
    import spark.implicits._
    val words0 = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[A-Za-z0-9]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .select(regexp_replace(col("word"), "(.)", "|$1|").as("enc"), col("c"))
      .localCheckpoint(true) // the rounds' shared base: computed once
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var cur = words0
    var r = 0
    var dry = false
    while (r < nMerges && !dry) {
      val top = cur
        .withColumn("s", expr("regexp_extract_all(enc, '\\\\|([^|]+)\\\\|', 1)"))
        .select(col("c"), explode(expr(
          "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1)," +
            " (x, y) -> named_struct('lhs', x, 'rhs', y))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      top.headOption match {
        case Some(row) =>
          val (a, b, n) =
            (row.getAs[String]("lhs"), row.getAs[String]("rhs"), row.getAs[Long]("n"))
          merges += ((r + 1L, a, b, n))
          cur = cur.withColumn("enc", call_function("replace",
            col("enc"), lit(s"|$a||$b|"), lit(s"|$a$b|")))
          if (r % 4 == 3) cur = cur.localCheckpoint(true)
        case None => dry = true
      }
      r += 1
    }
    merges.result().toDF("merge_rank", "lhs", "rhs", "n_pair")
  }

  /** BPE APPLICATION — segment the corpus with a LEARNED merge list
    * (the inference half of [[bpeLearnMerges]]; together they are the
    * full train-then-tokenize loop a tokenizer-prep pipeline runs,
    * byte-level style: every character is a piece unless a learned
    * merge fused it). `merges` is the (merge_rank, lhs, rhs, …)
    * relation the trainer returns — metadata scale (its rank order IS
    * the application order), collected driver-side like the k-means
    * centroids so the whole application compiles into ONE map-side
    * codegen'd expression chain: wrap every character of the doc text,
    * fold the merges through the same greedy `replace` the trainer
    * used, count the surviving symbols by separator arithmetic. ZERO
    * shuffle, linear in corpus size, independent of vocab size.
    *
    * Merges can never cross a word boundary: learned lhs/rhs are
    * `[A-Za-z0-9]+` (the trainer's population rule) while the
    * boundary chars (space, punctuation) sit wrapped between them —
    * a `|lhs||rhs|` pattern cannot span an interposed `| |` symbol.
    * Non-ASCII caveat: the char-split regex counts UTF-16 units (Java)
    * vs codepoints (RE2) differently for astral chars; the alnum-only
    * merge rules keep the MERGE behavior identical, only raw piece
    * counts of astral text would drift between engines.
    *
    * Output: doc_id, n_chars_actual, n_bpe_pieces, chars_per_piece —
    * the [[bpeTokenStats]] cost-estimate shape, but under the CORPUS'S
    * OWN learned tokenizer instead of the fixed regex proxy. */
  def bpeSegment(docs: DataFrame, merges: DataFrame): DataFrame = {
    val rules = merges.select(col("merge_rank"), col("lhs"), col("rhs"))
      .collect().sortBy(_.getAs[Long]("merge_rank"))
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    val enc0 = regexp_replace(col("text"), "(.)", "|$1|")
    val merged = rules.foldLeft(enc0) { case (enc, (a, b)) =>
      call_function("replace", enc, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    // every symbol carries exactly two '|' wrappers -> symbols =
    // separator count / 2, where the separator count is a length
    // difference: pure codegen'd arithmetic, no arrays
    val pieces = ((length(merged) -
      length(call_function("replace", merged, lit("|"), lit("")))) / 2)
      .cast("long")
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        pieces.as("n_bpe_pieces"))
      .withColumn("chars_per_piece",
        when(col("n_bpe_pieces") > 0,
          col("n_chars_actual").cast("double") / col("n_bpe_pieces").cast("double")))
  }

  /** Repetition signal (the Gopher-rule family): fraction of duplicate
    * word 3-grams per document, 1 - distinct/total. Highly repetitive
    * docs (boilerplate, keyword stuffing, generation loops) score near
    * 1 and get filtered. Uses the native shingle kernel; docs with < 3
    * tokens score 0 (nothing to repeat). */
  def repetition(docs: DataFrame): DataFrame = {
    val total = (size(tokens(col("text"))) - 2).cast("double")
    docs.select(col("doc_id"),
      when(size(tokens(col("text"))) < 3, lit(0.0d))
        .otherwise(lit(1.0d) -
          size(graft.expr.ArrayExprs.shingleHashes(col("text"))).cast("double") / total)
        .as("rep_ratio"))
  }

  /** Compression-ratio quality signal (the Gopher/CCNet rule the
    * length/stopword/repetition family can't express): boilerplate,
    * template spam, and pathological repetition DEFLATE far below
    * natural prose, so `ratio = deflate_len / n_bytes` is a one-number
    * junk detector. Pure map-side native-kernel work inside whole-stage
    * codegen — zero shuffle. Deterministic per JVM but NOT replayable
    * in DuckDB (no DEFLATE there), so `text_compress_ratio` is declared
    * rows-only — the p8/p9/x1 convention — with the semantics pinned by
    * CompressRatioSpec's differentials instead. Empty docs get a null
    * ratio (0/0 is a gate decision, not a number). */
  def compressionRatio(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.expr.ArrayExprs.deflateLen(col("text")).as("n_deflate"))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
          col("n_deflate").cast("double") / col("n_bytes").cast("double")))

  // local part includes + and - (user+tag@, john-doe@): omitting them
  // would mask only the suffix and leak the identifying prefix
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
  val LongNumRe = "[0-9]{4,}"

  /** PII redaction: mask email addresses and long digit runs (account /
    * phone-number shaped) in a text column, and count what was found.
    * Pure map-side regexp work inside whole-stage codegen — zero
    * shuffle, linear in splits. Patterns are deliberately RE2-safe
    * (character classes + bounded quantifiers, no backrefs/lookarounds)
    * so any engine can audit the masking. Emails are masked before
    * digit runs so an address is reported once, as an email — n_nums
    * therefore counts digit runs on the email-masked text, never
    * double-reporting digits inside an address. */
  def piiMask(df: DataFrame, text: Column): DataFrame = {
    val emailMasked = regexp_replace(text, EmailRe, "<EMAIL>")
    df.withColumn("masked", regexp_replace(emailMasked, LongNumRe, "<NUM>"))
      .withColumn("n_emails", size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_nums",
        size(regexp_extract_all(emailMasked, lit(LongNumRe), lit(0))).cast("long"))
  }

  /** Unigram-LM quality proxy: score each document by how common its
    * tokens are in the corpus itself — the classic cheap stand-in for
    * reference-LM perplexity filtering (junk/garbled text is dominated
    * by rare tokens). Returns per doc: n_tokens, sum_tok_freq (sum of
    * each token's corpus-wide occurrence count), n_rare (tokens seen
    * fewer than `rareBelow` times corpus-wide) and mean_tok_freq.
    *
    * Scale: one explode + token-keyed shuffle builds the frequency
    * relation, which is vocab-sized — tiny next to the corpus — so
    * Catalyst broadcasts it and the corpus token stream never shuffles
    * for the join; the doc roll-up is a partial-agg groupBy. Above the
    * broadcast threshold (a truly huge vocab) the join degrades to a
    * token-keyed SMJ — still O(tokens), never O(tokens^2). Everything
    * is integer arithmetic until the
    * final single division (two exact longs -> double, IEEE-bit-exact
    * cross-engine) — no transcendental in the score, so the result
    * hash-matches any engine. */
  def unigramScore(docs: DataFrame, rareBelow: Long = 3L): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    tok.join(freq, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tf")).as("sum_tok_freq"),
        sum(when(col("tf") < rareBelow, lit(1L)).otherwise(lit(0L))).as("n_rare"))
      .withColumn("mean_tok_freq",
        col("sum_tok_freq").cast("double") / col("n_tokens").cast("double"))
  }

  /** Cross-document repeated-shingle coverage: for each document, the
    * fraction of its distinct 3-gram shingles that also appear in at
    * least one OTHER document — the boilerplate/templated-text signal
    * (site chrome, license headers, scraped nav bars score near 1.0).
    * Complements [[graft.ops.Decontaminate]]: that checks overlap
    * against a benchmark set, this finds repetition within the corpus
    * itself. Documents under 3 tokens have no shingles and drop out.
    *
    * Scale: shingle explode (native kernel, distinct within doc) ->
    * shingle-keyed shuffle builds the frequency relation, FILTERED to
    * shingles seen in >1 doc before it ever reaches the join — unshared
    * shingles (the vast majority of a healthy corpus) never join, and
    * the shared subset is what has a chance to broadcast. A left join
    * marks shared rows; one doc-keyed roll-up counts both totals.
    * Integer counts + one final division: hash-exact. */
  def boilerplate(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(graft.expr.ArrayExprs.shingleHashes(col("text"))).as("sh"))
    val shared = sh.groupBy(col("sh")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("sh"), lit(1L).as("is_shared"))
    sh.join(shared, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_shared"), lit(0L))).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
  }

  /** Exact duplicated-span detection: per document, the merged spans of
    * text whose k-word shingles also occur elsewhere in the corpus (or
    * again in the same document). This is the span-level dedup result of
    * the suffix-array approach (find every duplicated substring of >= k
    * tokens) re-expressed in relational form: a k-gram hash occurring
    * more than once anchors a duplicated span; overlapping/adjacent
    * anchors merge into islands. Resolution is k words — a duplicated
    * run of length L >= k is recovered exactly (its L-k+1 anchors chain
    * into one island); runs shorter than k are invisible by design.
    *
    * Scale: positioned shingles are map-side (native kernel, one row per
    * token); the seed relation is ONE hash-keyed shuffle (group on the
    * 128-bit hash, keep count > 1) semi-joined back — unshared shingles,
    * the vast majority of a healthy corpus, never reach the join. Island
    * merge + both roll-ups run under a single doc_id partitioning (the
    * window's), so the whole tail is one doc-keyed exchange: groupBy
    * (doc_id, island) and groupBy(doc_id) both cluster by a superset of
    * doc_id and reuse it. No all-pairs anywhere; survives 100 TB.
    *
    * Output: doc_id, n_spans, dup_words (tokens covered by merged
    * spans), dup_frac = dup_words / n_words. Docs with no duplicated
    * span emit no row. */
  def dupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val sh = posShingles(docs, k)
    val dup = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val isl = mergeAnchors(sh.join(dup, Seq("h"), "left_semi"), k)
    val spans = isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"),
        first(col("n_words")).as("n_words"))
    spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + k).cast("long").as("dup_words"),
        first(col("n_words")).as("n_words"))
      .select(col("doc_id"), col("n_spans"), col("dup_words"),
        (col("dup_words").cast("double") / col("n_words").cast("double")).as("dup_frac"))
  }

  /** Positioned k-gram anchor relation: (doc_id, n_words, pos, h) — one
    * row per shingle start position (1-based), via the native
    * positioned-shingle kernel. Map-side; docs under k tokens drop. */
  private[ops] def posShingles(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ", -1)).cast("long").as("n_words"),
      graft.expr.ArrayExprs.shinglePosHashes(col("text"), k).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), col("n_words"), posexplode(col("hs")).as(Seq("p0", "h")))
      .withColumn("pos", col("p0") + 1).drop("p0")

  /** Island merge over anchor positions: adds `island` such that two
    * anchors share an island iff every gap in between is <= k (their
    * k-word windows overlap or touch). One doc-keyed window; the
    * (doc_id, island) and doc_id aggregations downstream cluster by a
    * superset of doc_id and reuse the window's partitioning — no second
    * doc-side exchange. */
  private[ops] def mergeAnchors(anchors: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // new island when the previous anchor can't reach this one
    // (gap > k); lag=null (first anchor) falls to the otherwise branch
    anchors.withColumn("b",
      when(col("pos") - lag(col("pos"), 1).over(byPos) <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("island",
        sum(col("b")).over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Fixed-size overlapping word chunking (the RAG / training-sequence
    * splitter): windows of `chunkSize` words starting every `stride`
    * words (overlap = chunkSize - stride), last window clamped at the
    * document end; every start position <= n_words emits a chunk. Pure
    * map-side generation — sequence + slice + hash are all codegen'd
    * builtins, zero shuffle, scales linearly with input splits. The
    * chunk is reported as (start, length, md5) rather than raw text so
    * the output stays metadata-sized; a trainer materializes the text
    * by slicing the source doc. */
  def chunk(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize >= 1 && stride >= 1, s"chunkSize/stride must be >= 1")
    val w = split(col("text"), " ", -1)
    docs.select(col("doc_id"), w.as("w"), size(w).as("n"))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(1), col("n"), lit(stride))).as("chunk_start"))
      .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
        least(lit(chunkSize), col("n") - col("chunk_start") + 1).cast("long").as("n_chunk_words"),
        md5(concat_ws(" ", slice(col("w"), col("chunk_start"), lit(chunkSize)))).as("chunk_hash"))
  }

  /** Actionable span dedup: rewrite each document with every duplicated
    * k-gram window REMOVED except the corpus-first occurrence of its
    * hash (first = lexicographic min (doc_id, pos)) — identical docs
    * keep one full copy and strip the others to empty; a within-doc
    * repeat keeps its first occurrence's window. Foreign windows are
    * removed WHOLESALE: when duplicated grams overlap, a first
    * occurrence can still lose words it shares with a removed foreign
    * window (e.g. "a b a b a b", k=2 keeps only "a b" — position 3
    * belongs both to kept "b a"@2 and to foreign "a b"@3). The covered
    * word set is the union of foreign anchors' k-windows, which equals
    * the union of their merged islands' extents (gap <= k leaves no
    * holes), so no interval join is needed anywhere.
    *
    * Scale: the ownership relation is ONE hash-keyed AGGREGATE
    * (count + min(struct(doc_id, pos))) — an aggregate, not a per-hash
    * window, so a boilerplate 8-gram shared by a billion docs partial-
    * aggregates map-side instead of sorting one hot partition. Covered
    * positions collapse to one per-doc sorted array (doc-keyed shuffle
    * of anchor-grain data only; the buffer is doc-bounded — a document
    * must fit an executor, the contract every text rewrite shares);
    * the rewrite itself is a single map pass through the native
    * strip_positions kernel — a linear two-pointer merge, because the
    * `filter`+`array_contains` HOF formulation is O(words x covered)
    * interpreted and dies on a long mostly-duplicated doc. Raw text
    * never shuffles.
    *
    * Output: doc_id, clean_text, n_kept, n_removed. */
  def stripDupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val sh = posShingles(docs, k)
    val owners = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("c") > 1)
      .select(col("h"), col("first"))
    val foreign = sh.join(owners, Seq("h"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
    val covered = foreign
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("wp"))
      .groupBy(col("doc_id")).agg(sort_array(collect_set(col("wp"))).as("cov"))
    docs.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_words"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"),
        col("text"))
      .select(col("doc_id"),
        graft.expr.ArrayExprs.stripPositions(col("text"), col("cov")).as("clean_text"),
        (col("n_words") - size(col("cov"))).cast("long").as("n_kept"),
        size(col("cov")).cast("long").as("n_removed"))
  }

  /** Positional posting lists — the inverted-index build stage a
    * retrieval-ready corpus export runs: one row per (token, doc),
    * with the occurrence count and the sorted 1-based word positions
    * (rendered as a CSV string so the oracle compares portably).
    *
    * Scale shape: explode → ONE (token, doc_id) hash shuffle with
    * partial aggregation (repeats collapse map-side); the position
    * buffer is doc-bounded (a document fits an executor — the contract
    * every text op shares). Hot tokens spread across doc_ids, so no
    * single reducer sees a vocabulary-hot key's full posting list. */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p0", "token")))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"),
        concat_ws(",",
          transform(sort_array(collect_list((col("p0") + 1).cast("long"))),
            p => p.cast("string"))).as("positions"))

  /** Content-defined chunking (the FastCDC/rsync boundary idea on word
    * streams): a chunk boundary falls after word `pos + k - 1` whenever
    * the k-gram hash at shingle position `pos` satisfies
    * `hash % modulus == 0` — boundaries depend only on LOCAL content,
    * so inserting or deleting words reshapes at most the neighboring
    * chunks (fixed-stride [[chunk]] shifts every downstream chunk, which
    * defeats chunk-hash dedup across document revisions; this is the
    * revision-robust tier). Expected chunk length ≈ `modulus` words + k.
    *
    * Scale shape: cut detection is map-side (the positioned-shingle
    * kernel + a hex-prefix mod); spans derive from ONE doc-keyed window
    * (lag over cut positions, the [[mergeAnchors]] pattern); the
    * chunk-hash rehydration is a doc-keyed equi-join back to the token
    * arrays (AQE-broadcast small side at test SF, co-partitioned at
    * scale). Docs shorter than k words form a single whole-doc chunk.
    *
    * Output: doc_id, chunk_start / chunk_end (1-based inclusive word
    * positions), n_chunk_words, chunk_hash (md5 of the chunk's words —
    * the key a CDC dedup joins on). */
  def cdcChunks(docs: DataFrame, k: Int = 4, modulus: Int = 16): DataFrame = {
    require(k >= 1, "cdcChunks: k must be >= 1")
    // modulus must be a power of two dividing the 16-bit hash-prefix
    // space: the cut test draws hv uniform in [0, 65536), and only a
    // power-of-two modulus partitions that range evenly — any other
    // value silently biases the cut rate (and anything > 65536 could
    // never cut at all). Counter-review finding; enforced loudly.
    require(modulus >= 1 && modulus <= 65536 && (modulus & (modulus - 1)) == 0,
      s"cdcChunks: modulus must be a power of two in [1, 65536], got $modulus")
    import org.apache.spark.sql.expressions.Window
    // first-4-hex-digit value of the shingle hash — mirrored digit-wise
    // in the oracle (sample_shuffle_shards' position() pattern)
    val hv = conv(substring(col("h"), 1, 4), 16, 10).cast("long")
    val cuts = posShingles(docs, k)
      .filter(pmod(hv, lit(modulus.toLong)) === 0L)
      .select(col("doc_id"), (col("pos") + (k - 1)).cast("long").as("cut_end"))
    val toksDf = docs.select(col("doc_id"), split(col("text"), " ", -1).as("w"))
    val ends = toksDf.select(col("doc_id"), size(col("w")).cast("long").as("cut_end"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("cut_end"))
    val spans = cuts.unionByName(ends).dropDuplicates("doc_id", "cut_end")
      .withColumn("chunk_start",
        coalesce(lag(col("cut_end"), 1).over(w), lit(0L)) + 1L)
    spans.join(toksDf, "doc_id")
      .select(col("doc_id"), col("chunk_start"), col("cut_end").as("chunk_end"),
        (col("cut_end") - col("chunk_start") + 1L).as("n_chunk_words"),
        md5(concat_ws(" ",
          slice(col("w"), col("chunk_start").cast("int"),
            (col("cut_end") - col("chunk_start") + 1L).cast("int")))).as("chunk_hash"))
  }

  /** Vocabulary coverage curve: the top-`k` corpus tokens by frequency
    * with the cumulative share of ALL corpus tokens they cover — the
    * "how big must the vocab be" dial of tokenizer design (coverage at
    * rank N = fraction of running text a rank-N vocabulary explains).
    *
    * Scale shape: one explode → (token) partial-agg shuffle builds the
    * count relation (map-side combine collapses repeats); the top-k is
    * `orderBy.limit` (TakeOrderedAndProject — per-partition partial
    * top-k, never a global sort), so the rank/cumsum windows run over
    * ≤ k rows; the grand total rides back as a broadcast 1-row cross
    * join. One double division per row, mirrored in the oracle. */
  def vocabCoverage(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 1, "vocabCoverage: k must be positive")
    val counted = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counted.agg(sum(col("cnt")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc)
    counted.orderBy(col("cnt").desc, col("token").asc).limit(k)
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"),
        (col("cum_cnt").cast("double") / col("total").cast("double")).as("cum_share"))
  }

  /** Top-k corpus n-grams — the vocabulary-induction / phrase-mining
    * sweep. Word n-grams build map-side (guarded: docs shorter than n
    * contribute nothing; `sequence` is never called with a descending
    * range), counts partial-aggregate before the one hash shuffle on
    * the gram, and the top-k is TakeOrderedAndProject (per-partition
    * heads merged on the driver — never a global sort). Ties break
    * lexicographically for a deterministic oracle. */
  def ngramTopK(docs: DataFrame, n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, "ngramTopK: n and k must be positive")
    val toks = tokens(col("text"))
    // slice+concat_ws per position measured FASTER than n element_at
    // reads per gram (1.8s vs 3.8s at sf0.1): the one arraycopy beats n
    // ordinal-checked lookups through the HOF lambda.
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    val counted = docs.select(explode(grams).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
    counted.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("gram").asc)))
      .select(col("rank"), col("gram"), col("n"))
  }

  /** Winnowing fingerprint selection (Schleimer et al., the MOSS
    * algorithm): per document, the DISTINCT set of window-min k-gram
    * hashes over a sliding window of `w` shingle positions. The
    * guarantee: any shared run of at least k + w - 1 words leaves at
    * least one common fingerprint, while storage is ~2/(w+1) of the
    * full shingle set — the standard density/recall dial for corpus-
    * scale fingerprint indexes (`fingerprint` keeps only the global
    * min; this is the tunable tier between that and full shingles).
    *
    * Pure map-side through the native `winnow_fps` kernel (one linear
    * monotonic-deque pass; the transform+slice+array_min HOF
    * formulation measured 5.0 s at sf0.1 — O(shingles x w) interpreted
    * string compares); docs with fewer than k tokens emit nothing,
    * docs with fewer than w shingles emit their single overall min
    * (one clamped window).
    */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.expr.ArrayExprs.winnowFps(col("text"), k, w)).as("fp"))

  /** Corpus mixture report: per (source, lang) cell, document/token
    * counts and their global shares — the table a mixture designer
    * weights against a token budget. One partial+final aggregation for
    * the cells; the global totals come from a 1-row aggregate joined
    * back by broadcast cross join, NOT an unpartitioned window (a
    * global window funnels every cell through one task — fine at 60k
    * rows, a straggler at a billion-cell cardinality). Shares are one
    * exact-long double division each. */
  def mixtureReport(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val totals = cells.agg(sum(col("n_docs")).as("t_docs"), sum(col("n_tokens")).as("t_tokens"))
    cells.crossJoin(broadcast(totals))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("t_docs").cast("double")).as("doc_share"),
        (col("n_tokens").cast("double") / col("t_tokens").cast("double")).as("token_share"))
  }

  // ---- Unigram-LM tokenizer training -------------------------------------

  /** UNIGRAM-LM (SentencePiece-style) tokenizer training — the
    * tokenizer-prep tier [[bpeLearnMerges]] doesn't cover: instead of
    * greedy pair merging, a piece VOCABULARY is scored and the corpus
    * is re-segmented against it, EM-style. Two hard-EM rounds:
    *
    *   seed vocab (all substrings, weighted counts) -> E-step: segment
    *   every word by DP against the vocab -> M-step: re-rank the vocab
    *   by usage -> E-step again -> report the top pieces by final usage.
    *
    * The segmentation objective is FIXED-POINT INTEGER, not float
    * likelihood, so the whole trainer is hash-exact replayable by the
    * DuckDB oracle (the bpeLearnMerges convention — true unigram EM
    * multiplies probabilities, whose log-domain floats would drift
    * between engines): minimize pieces first, break ties by maximal
    * total piece frequency. Both collapse into ONE long cost
    * `cost(p) = BIG - freq(p)` with BIG = 1e12 (a piece count beyond
    * 1e12 would need a ~100 PB text corpus; revisit the constant
    * before that). dp[j] = min over t<=maxPieceLen of
    * dp[j-t] + cost(word[j-t..j)) for in-vocab pieces; min is
    * order-independent, so the forward pass is deterministic on any
    * engine. The backward read-out picks the SMALLEST t whose piece
    * reproduces dp[j] — the one tie-break rule, mirrored verbatim in
    * the oracle's recursive CTE.
    *
    * Every length-1 substring of the corpus stays in the vocab through
    * both rounds (even at zero usage), so the DP always has a feasible
    * step — the SentencePiece character-coverage invariant.
    *
    * Scale shape: the DP runs over DISTINCT words (weighted by count),
    * entirely inside one map-side projection per E-step — the vocab
    * rides along as a ~(alphabet + vocabMulti)-entry map literal (the
    * kmeansCentroids convention: metadata-scale collects only). Words
    * are map-side work + one groupBy each for the word table, the seed
    * counts, and each round's usage aggregation. Words longer than
    * maxWordLen (16) are dropped on both engines — they are URLs/hashes
    * at 40x the DP cost per row, not vocabulary material.
    *
    * Output: the top `topK` pieces by round-2 usage —
    * (piece, n_uses), ordered (n_uses DESC, piece ASC) for the
    * deterministic-ranking convention. */
  def unigramLm(docs: DataFrame, vocabMulti: Int = 400, topK: Int = 50): DataFrame = {
    val BIG = 1000000000000L
    val maxLen = 4
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[A-Za-z0-9]+$") && length(col("word")) <= 16)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the seed count + both E-steps

    // seed vocabulary: every substring occurrence of length 1..4,
    // weighted by word frequency (repeats within a word all count)
    val subs = words
      .select(col("word"), col("c"), explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("c"), col("s"),
        explode(sequence(lit(1),
          least(lit(maxLen), length(col("word")) - col("s") + 1))).as("l"))
      .select(col("word").substr(col("s"), col("l")).as("piece"), col("c"))
      .groupBy(col("piece")).agg(sum(col("c")).as("n"))
      .localCheckpoint(true) // feeds singles (both rounds) + seed multi

    val singles = subs.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val seedMulti = subs.filter(length(col("piece")) >= 2 && col("n") >= 2)
      .orderBy(col("n").desc, col("piece")).limit(vocabMulti)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    def segmentUsage(vocab: Map[String, Long]): DataFrame = {
      // a CreateMap of plain literals (the Column-API literal encoder
      // rejects Scala Maps); all children foldable, so ConstantFolding
      // collapses it to one map literal at plan time, not per row.
      // Sorted for a deterministic plan.
      val vmap = map(vocab.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val w = col("word")
      val inf = lit(Long.MaxValue / 4)
      // forward: dp(j) for j = 0..len as a growing array; term t reads
      // dp(j-t) (1-based element_at index j-t+1) and the piece ending
      // at j of length t (1-based start j-t+1)
      def term(acc: Column, j: Column, t: Int): Column = {
        val piece = w.substr(j - lit(t) + 1, lit(t))
        val freq = element_at(vmap, piece)
        when(j >= t && freq.isNotNull,
          element_at(acc, j - lit(t) + 1) + (lit(BIG) - freq)).otherwise(inf)
      }
      val dpCol = aggregate(
        sequence(lit(1), length(w)),
        array(lit(0L)),
        (acc, j) => concat(acc, array(
          least(term(acc, j, 1), term(acc, j, 2), term(acc, j, 3), term(acc, j, 4)))))
      // backward: from j = len, take the SMALLEST t reproducing dp(j)
      def pick(dp: Column, st: Column): Column = {
        val j = st.getField("j")
        val ps = st.getField("ps")
        def cand(t: Int): Column = {
          val piece = w.substr(j - lit(t) + 1, lit(t))
          val freq = element_at(vmap, piece)
          j >= t && freq.isNotNull &&
            element_at(dp, j - lit(t) + 1) + (lit(BIG) - freq) === element_at(dp, j + 1)
        }
        def took(t: Int): Column = struct(
          (j - t).as("j"),
          concat(ps, array(w.substr(j - lit(t) + 1, lit(t)))).as("ps"))
        when(j === 0, st)
          .when(cand(1), took(1)).when(cand(2), took(2))
          .when(cand(3), took(3)).otherwise(took(4))
      }
      words
        .withColumn("dp", dpCol)
        .withColumn("ps", aggregate(
          sequence(lit(1), length(w)),
          struct(length(w).cast("int").as("j"),
            array().cast("array<string>").as("ps")),
          (st, _) => pick(col("dp"), st)).getField("ps"))
        .select(col("c"), explode(col("ps")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("c")).as("n_uses"))
    }

    // round 1: segment against the seed vocabulary
    val usage1 = segmentUsage(singles ++ seedMulti)
      .localCheckpoint(true) // feeds the multi re-rank + the singles re-score
    // M-step: singles always survive (usage or 0); multi re-ranked by usage
    val multi1 = usage1.filter(length(col("piece")) >= 2)
      .orderBy(col("n_uses").desc, col("piece")).limit(vocabMulti)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val singles1 = {
      val used = usage1.filter(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      singles.map { case (p, _) => p -> used.getOrElse(p, 0L) }
    }
    // round 2: segment against the learned vocabulary, report the top
    segmentUsage(singles1 ++ multi1)
      .orderBy(col("n_uses").desc, col("piece")).limit(topK)
  }

  /** Document fingerprint: whole-doc hash + min rolling 5-gram hash
    * (the winnowing/rolling-hash idea with md5 as the rolling function). */
  def fingerprint(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      substring(md5(lower(col("text"))), 1, 16).as("fp"),
      when(size(toks) >= 5,
        array_min(transform(sequence(lit(1), size(toks) - 4), i =>
          md5(concat_ws(" ",
            element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2),
            element_at(toks, i + 3), element_at(toks, i + 4))))))
        .otherwise(lit(null)).as("min_shingle_fp"))
  }
}
