package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution over dirty string keys: group records whose names
  * agree under MULTIPLE evidence channels into entities. The match
  * rule is conjunctive — `levenshtein ≤ k` AND `character-trigram
  * Jaccard ≥ tau` — the standard ER posture (any single channel
  * over-matches on templated names; the conjunction requires both a
  * small edit AND high content overlap).
  *
  * Composition, not new machinery — and one completeness observation
  * that pays for itself: a CONJUNCTIVE rule only needs ONE complete
  * candidate channel (any matching pair satisfies every conjunct, so
  * any single conjunct's complete blocking already contains it). So:
  *  - candidates: [[SetSimJoin.jaccardSelfJoin]] over char-trigram
  *    sets (PPJoin prefix filtering; complete AND exact for
  *    Jaccard ≥ tau, SetSimJoinSpec) — chosen as generator because a
  *    high tau makes it the far more selective conjunct (measured at
  *    sf0.1: 16k content pairs vs 263k lev≤1 pairs; running the edit
  *    channel as a second blocked join and intersecting — the naive
  *    reading of "multi-channel" — costs 2× and adds nothing);
  *  - verify: exact `levenshtein(·,·,k)` on the surviving pairs (a
  *    bounded per-pair check on a skinny relation — the dedup
  *    candidate→verify discipline);
  *  - entities: [[Dedup.connectedComponents]] over the matched pairs
  *    (union-find small / label propagation at scale), singletons
  *    keep their own id.
  *
  * 100 TB shape: candidate generation is a banded equi-join on rarity
  * prefixes, verification touches only candidate pairs, and CC runs on
  * the match graph — nothing is ever all-pairs.
  */
object EntityResolution {

  /** Distinct character 3-grams of a string; empty array below length
    * 3 (such records can still match through the edit channel — but
    * the conjunction requires trigram evidence, so they resolve as
    * singletons, stated behavior). */
  def charTrigrams(s: Column): Column =
    when(length(s) >= 3,
      array_distinct(transform(sequence(lit(1), length(s) - 2),
        i => s.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /** Verified (id_a, id_b) self-match pairs of a (id, name) relation
    * under the conjunctive rule — the pipeline resolve() clusters and
    * assignBatch reuses for its batch-internal pairs. */
  private def matchPairs(recs: DataFrame, k: Int, tau: Double): DataFrame = {
    val trigramSets = recs
      .select(col("id").as("doc_id"), charTrigrams(col("name")).as("ts"))
      .filter(size(col("ts")) > 0)
    val candidates = SetSimJoin.jaccardSelfJoin(trigramSets, tau)
      .select(col("id_a"), col("id_b"))
    candidates
      .join(recs.select(col("id").as("id_a"), col("name").as("name_a")), "id_a")
      .join(recs.select(col("id").as("id_b"), col("name").as("name_b")), "id_b")
      // bounded levenshtein: returns -1 past k, so the verify is O(k·L)
      // per candidate pair, not O(L²)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), k))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .select(col("id_a"), col("id_b"))
  }

  /** (record_id, entity_id, n_members): entity_id is the component-min
    * record id under the conjunctive match rule. */
  def resolve(records: DataFrame, id: Column, name: Column,
      k: Int = 1, tau: Double = 0.9): DataFrame = {
    val recs = records.select(id.cast("long").as("id"), name.as("name"))
    val labels = Dedup.connectedComponents(matchPairs(recs, k, tau))
      .select(col("node").as("id"), col("label"))
    val ents = recs.join(labels, Seq("id"), "left")
      .select(col("id").as("record_id"),
        coalesce(col("label"), col("id")).as("entity_id"))
    val sizes = ents.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"))
    ents.join(sizes, Seq("entity_id"))
      .select(col("record_id"), col("entity_id"), col("n_members"))
  }

  /** Incremental tier: place a BATCH of new records into a standing
    * resolved corpus without re-pairing the corpus — the
    * j10_fuzzy_incremental discipline applied to entities.
    *
    * New pairing work is O(batch): batch↔corpus candidates come from
    * probing the corpus's standing FastSS deletion-variant index
    * ([[FuzzyJoin.probeDeletes]] — complete for lev ≤ k, hence for the
    * conjunctive rule), verified by the trigram conjunct computed
    * inline on the candidate pairs; batch-internal pairs run
    * [[matchPairs]] on the batch alone. The corpus contributes only
    * its EXISTING (record → entity) links as pre-coarsened edges, so
    * connected components sees the same connectivity as a full
    * re-resolve — including batch records BRIDGING two standing
    * entities, which merge under the component min exactly as the
    * batch re-resolve would (convergence proven in
    * EntityResolutionSpec).
    *
    * Returns (record_id, entity_id) for the batch records. Corpus
    * relabels (entity merges caused by bridges) are derivable from the
    * same label relation; this surface returns the batch view, the
    * compaction that rewrites the corpus table being sink-side.
    */
  def assignBatch(resolvedCorpus: DataFrame, corpusId: Column,
      corpusEntity: Column, corpusName: Column,
      batch: DataFrame, batchId: Column, batchName: Column,
      k: Int = 1, tau: Double = 0.9): DataFrame = {
    val corpus = resolvedCorpus.select(corpusId.cast("long").as("id"),
      corpusEntity.cast("long").as("entity_id"), corpusName.as("name"))
    val b = batch.select(batchId.cast("long").as("id"), batchName.as("name"))
    // standing index (built once per corpus snapshot, stored at rest)
    val idx = FuzzyJoin.deleteVariantIndex(corpus, col("id"), col("name"), k)
    val bcCand = FuzzyJoin.probeDeletes(b, col("id"), col("name"), idx, k)
      .select(col("probe_id").as("id_a"), col("match_id").as("id_b"))
    val bc = bcCand
      .join(b.select(col("id").as("id_a"), charTrigrams(col("name")).as("ts_a")), "id_a")
      .join(corpus.select(col("id").as("id_b"), charTrigrams(col("name")).as("ts_b")), "id_b")
      .filter(size(col("ts_a")) > 0 && size(col("ts_b")) > 0)
      .withColumn("inter", size(array_intersect(col("ts_a"), col("ts_b"))))
      .filter(col("inter").cast("double") /
        (size(col("ts_a")) + size(col("ts_b")) - col("inter")).cast("double") >= tau)
      .select(col("id_a"), col("id_b"))
    val bb = matchPairs(b, k, tau)
    val corpusLinks = corpus.filter(col("id") =!= col("entity_id"))
      .select(col("id").as("id_a"), col("entity_id").as("id_b"))
    val labels = Dedup.connectedComponents(bc.union(bb).union(corpusLinks))
      .select(col("node").as("id"), col("label"))
    b.join(labels, Seq("id"), "left")
      .select(col("id").as("record_id"),
        coalesce(col("label"), col("id")).as("entity_id"))
  }
}
