package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff: classify every document across two corpus
  * versions as added / removed / changed / unchanged — the audit table a
  * data-versioning pipeline emits between crawl generations.
  *
  * Scale shape: both sides are projected to (doc_id, md5(text)) BEFORE
  * the join, so the full-outer shuffle carries two narrow columns, never
  * the document bodies; at 100 TB both snapshots hash map-side and the
  * join is one co-partitioned exchange per side on doc_id (or zero if
  * both snapshots are bucketed by doc_id at rest).
  */
object Snapshot {

  /** Diff `oldDocs` -> `newDocs` by doc_id, comparing md5(text). */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_hash"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") =!= col("new_hash"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Deterministic simulated snapshots over the single `documents`
    * table, used by the `corpus_diff` query so the DuckDB oracle can
    * derive the identical pair: the OLD snapshot drops doc_id % 10 == 7
    * (later "added") and reverses the text of doc_id % 13 == 0
    * ("changed"); the NEW snapshot drops doc_id % 10 == 3 ("removed"). */
  def simulatedOld(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, reverse(col("text")))
          .otherwise(col("text")).as("text"))

  def simulatedNew(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 3).select(col("doc_id"), col("text"))

  val diffSql: String =
    """WITH o AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 13 = 0 THEN reverse(text) ELSE text END) AS old_hash
      |  FROM documents WHERE doc_id % 10 <> 7),
      |n AS (SELECT doc_id, md5(text) AS new_hash FROM documents WHERE doc_id % 10 <> 3)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.old_hash IS NULL THEN 'added'
      |       WHEN n.new_hash IS NULL THEN 'removed'
      |       WHEN o.old_hash <> n.new_hash THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin
}
