package graft.queries

import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.ops.{Decontaminate, Dedup, Packing, Pq, Sampling, Similarity, TextOps}
import graft.mm.Media
import CoreQueries.{QFn, QueryDef}

/** Training-data-pipeline operators (BASELINE.json north star): dedup,
  * similarity search, text analysis, multimodal plumbing — each oracle-
  * checked against DuckDB on the `documents` / `embeddings` tables.
  */
object PipelineQueries {

  // Shared DuckDB fragments (kept in sync with the Scala ops).
  // MinHash band relation + per-bucket cap — mirrors
  // Dedup.minhashCandidatePairs (4 hashes, maxBucket 1000) verbatim.
  private val minhashBandsSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
      |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3),
      |m AS (SELECT doc_id,
      |  list_min(list_transform(sh, x -> substr(x, 1, 8))) AS mh0,
      |  list_min(list_transform(sh, x -> substr(x, 9, 8))) AS mh1,
      |  list_min(list_transform(sh, x -> substr(x, 17, 8))) AS mh2,
      |  list_min(list_transform(sh, x -> substr(x, 25, 8))) AS mh3 FROM s),
      |band AS (
      |  SELECT doc_id, 0 AS band, mh0 AS h FROM m UNION ALL
      |  SELECT doc_id, 1 AS band, mh1 AS h FROM m UNION ALL
      |  SELECT doc_id, 2 AS band, mh2 AS h FROM m UNION ALL
      |  SELECT doc_id, 3 AS band, mh3 AS h FROM m),
      |band2 AS (SELECT doc_id, band, h FROM band
      |  QUALIFY row_number() OVER (PARTITION BY band, h ORDER BY doc_id) <= 1000),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM band2 a JOIN band2 b
      |  ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)""".stripMargin
  // Per-subset band CTE chain (suffix + WHERE clause) — the same
  // shingle/min/band/cap pattern as minhashBandsSql, scoped to a split
  // of `documents`. Mirrors Dedup.bandIndex on that subset.
  private def bandSideSql(sfx: String, where: String) =
    s"""t$sfx AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE $where),
       |s$sfx AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
       |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
       |  FROM t$sfx WHERE len(toks) >= 3),
       |m$sfx AS (SELECT doc_id,
       |  list_min(list_transform(sh, x -> substr(x, 1, 8))) AS mh0,
       |  list_min(list_transform(sh, x -> substr(x, 9, 8))) AS mh1,
       |  list_min(list_transform(sh, x -> substr(x, 17, 8))) AS mh2,
       |  list_min(list_transform(sh, x -> substr(x, 25, 8))) AS mh3 FROM s$sfx),
       |band$sfx AS (
       |  SELECT doc_id, 0 AS band, mh0 AS h FROM m$sfx UNION ALL
       |  SELECT doc_id, 1 AS band, mh1 AS h FROM m$sfx UNION ALL
       |  SELECT doc_id, 2 AS band, mh2 AS h FROM m$sfx UNION ALL
       |  SELECT doc_id, 3 AS band, mh3 AS h FROM m$sfx),
       |b2$sfx AS (SELECT doc_id, band, h FROM band$sfx
       |  QUALIFY row_number() OVER (PARTITION BY band, h ORDER BY doc_id) <= 1000)""".stripMargin

  private val qvSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
  private val preparedSql =
    s"""q0 AS (SELECT vec_id, label, $qvSql AS qv FROM embeddings),
       |n0 AS (SELECT vec_id, label, qv,
       |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm FROM q0)""".stripMargin
  private def dotSql(a: String, b: String) =
    s"CAST(CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS BIGINT) AS DOUBLE)"

  // Integer dot (no DOUBLE cast) — used in k-means distances, which must
  // stay exact integer arithmetic to mirror Similarity.assignCells.
  private def idotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS BIGINT)"

  // One Lloyd assignment step: nearest centroid by ||x||^2 - 2 x.m + ||m||^2
  // with ties to the smaller cell — mirrors Similarity.assignCells verbatim.
  private def kmAssignSql(out: String, cents: String) =
    s"""$out AS (SELECT vec_id, qv, nrm, cell FROM (
       |  SELECT v.vec_id, v.qv, v.nrm, s.cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.nrm - 2 * ${idotSql("v.qv", "s.cv")} + s.cnrm, s.cell) AS rn
       |  FROM n0 v CROSS JOIN $cents s) WHERE rn = 1)""".stripMargin

  // Rounded-integer-mean centroids from an assignment — mirrors
  // Similarity.roundedMeans (exact double division of exact ints, then
  // half-away-from-zero round, identical in both engines).
  private def kmMeanSql(prefix: String, from: String) =
    s"""${prefix}e AS (SELECT cell, u.i AS dim, qv[u.i] AS v
       |  FROM $from, unnest(generate_series(1, len(qv))) AS u(i)),
       |${prefix}s AS (SELECT cell, dim,
       |  CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m
       |  FROM ${prefix}e GROUP BY cell, dim),
       |${prefix}m AS (SELECT cell, list(m ORDER BY dim) AS cv FROM ${prefix}s GROUP BY cell),
       |${prefix}n AS (SELECT cell, cv,
       |  CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnrm FROM ${prefix}m)""".stripMargin

  // Full trained-IVF oracle CTE chain (seed → 2 Lloyd rounds → assign →
  // probe → score), ending in `ivfres` — parameterized by the query
  // stride so the build+search query, its search-only twin, AND the
  // recall harness share one SQL body.
  private def ivfTrainedCtes(stride: Int) =
    s"""seed AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS cell,
      |  qv AS cv, nrm AS cnrm FROM n0
      |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
      |${kmAssignSql("a1", "seed")},
      |${kmMeanSql("m1", "a1")},
      |${kmAssignSql("a2", "m1n")},
      |${kmMeanSql("m2", "a2")},
      |${kmAssignSql("af", "m2n")},
      |qs AS (SELECT vec_id AS q_id, qv AS q_qv, nrm AS q_nrm FROM n0 WHERE vec_id % $stride = 0),
      |pr AS (SELECT q_id, q_qv, q_nrm, cell FROM (
      |  SELECT q.q_id, q.q_qv, q.q_nrm, c.cell,
      |    row_number() OVER (PARTITION BY q.q_id
      |      ORDER BY q.q_nrm - 2 * ${idotSql("q.q_qv", "c.cv")} + c.cnrm, c.cell) AS rn
      |  FROM qs q CROSS JOIN m2n c) WHERE rn <= 2),
      |ivfres AS (SELECT q_id, c_id, rank, score FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
      |  FROM (SELECT p.q_id, a.vec_id AS c_id,
      |    ${dotSql("p.q_qv", "a.qv")} /
      |    (sqrt(CAST(p.q_nrm AS DOUBLE)) * sqrt(CAST(a.nrm AS DOUBLE))) AS score
      |    FROM pr p JOIN af a ON p.cell = a.cell AND p.q_id <> a.vec_id))
      |WHERE rank <= 3)""".stripMargin

  private def ivfTrainedSql(stride: Int) =
    s"""WITH $preparedSql,
      |${ivfTrainedCtes(stride)}
      |SELECT q_id, c_id, rank, score FROM ivfres""".stripMargin

  // ---- product quantization (ADC) oracle ------------------------------
  // Mirrors Pq.{trainCodebooks,encode,adcTopK} with m=8 subspaces of 8
  // dims, k=16 codes, 2 Lloyd rounds: same seeds (the 16 rows with the
  // smallest (md5(vec_id), vec_id) seed every subspace), same integer
  // argmin with code tie-break, same rounded-integer means, same exact-
  // integer ADC numerator; only the final cosine division is a double.

  // One per-subspace Lloyd assignment: nearest sub-code by
  // (-2 x.c + ||c||^2, code) — the ||x||^2 term is row-constant and
  // omitted on both engines.
  private def pqAssignSql(out: String, cents: String, src: String = "psv") =
    s"""$out AS (SELECT vec_id, sub, sqv, code FROM (
       |  SELECT v.vec_id, v.sub, v.sqv, s.code,
       |    row_number() OVER (PARTITION BY v.vec_id, v.sub
       |      ORDER BY -2 * ${idotSql("v.sqv", "s.cv")} + s.cnrm, s.code) AS rn
       |  FROM $src v JOIN $cents s ON v.sub = s.sub) WHERE rn = 1)""".stripMargin

  private def pqMeanSql(prefix: String, from: String) =
    s"""${prefix}e AS (SELECT sub, code, u.i AS dim, sqv[u.i] AS v
       |  FROM $from, unnest(generate_series(1, 8)) AS u(i)),
       |${prefix}s AS (SELECT sub, code, dim,
       |  CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m
       |  FROM ${prefix}e GROUP BY sub, code, dim),
       |${prefix}m AS (SELECT sub, code, list(m ORDER BY dim) AS cv FROM ${prefix}s GROUP BY sub, code),
       |${prefix}n AS (SELECT sub, code, cv,
       |  CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnrm FROM ${prefix}m)""".stripMargin

  // PQ CTE chain ending in `pqres` — composable (the ann_pq query and
  // the recall harness share one SQL body, the ivfTrainedCtes pattern).
  // `depth` is the per-query ADC ranking depth kept in pqres: 3 for the
  // pure-ADC result, 32 for a rerank shortlist (consumers re-filter).
  // Codebook training + encoding alone (psv..prn) — shared by the
  // exhaustive ADC scan and the IVFADC composition.
  private def pqTrainCtes =
    s"""psv AS (SELECT vec_id, t.s AS sub, list_slice(qv, t.s * 8 + 1, t.s * 8 + 8) AS sqv
      |  FROM n0, unnest(generate_series(0, 7)) AS t(s)),
      |pseed AS (SELECT sub, code, sqv AS cv,
      |    CAST(list_sum(list_transform(sqv, x -> x * x)) AS BIGINT) AS cnrm
      |  FROM (SELECT sub, sqv,
      |      CAST(row_number() OVER (PARTITION BY sub
      |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS code
      |    FROM psv) WHERE code <= 16),
      |${pqAssignSql("pa1", "pseed")},
      |${pqMeanSql("pm1", "pa1")},
      |${pqAssignSql("pa2", "pm1n")},
      |${pqMeanSql("pm2", "pa2")},
      |${pqAssignSql("paf", "pm2n")},
      |prn AS (SELECT a.vec_id, CAST(sum(s.cnrm) AS BIGINT) AS rnrm
      |  FROM paf a JOIN pm2n s ON a.sub = s.sub AND a.code = s.code
      |  GROUP BY a.vec_id)""".stripMargin

  // Exhaustive compressed-domain scan ending in `pqres` at `depth`.
  private def pqScanCtes(stride: Int, depth: Int) =
    s"""pqq AS (SELECT vec_id AS q_id, qv AS q_qv, nrm AS q_nrm FROM n0
      |  WHERE vec_id % $stride = 0),
      |pnum AS (SELECT q.q_id, a.vec_id AS c_id, q.q_nrm,
      |    CAST(sum(${idotSql("list_slice(q.q_qv, a.sub * 8 + 1, a.sub * 8 + 8)", "s.cv")}) AS BIGINT) AS num
      |  FROM pqq q JOIN paf a ON q.q_id <> a.vec_id
      |  JOIN pm2n s ON a.sub = s.sub AND a.code = s.code
      |  GROUP BY q.q_id, a.vec_id, q.q_nrm),
      |pqres AS (SELECT q_id, c_id, rank, score FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
      |  FROM (SELECT p.q_id, p.c_id,
      |    CAST(p.num AS DOUBLE) /
      |    (sqrt(CAST(p.q_nrm AS DOUBLE)) * sqrt(CAST(r.rnrm AS DOUBLE))) AS score
      |    FROM pnum p JOIN prn r ON p.c_id = r.vec_id))
      |  WHERE rank <= $depth)""".stripMargin

  private def pqCtes(stride: Int, depth: Int = 3) =
    s"""$pqTrainCtes,
      |${pqScanCtes(stride, depth)}""".stripMargin

  private def pqSql(stride: Int) =
    s"""WITH $preparedSql,
      |${pqCtes(stride)}
      |SELECT q_id, c_id, rank, score FROM pqres""".stripMargin

  // Exact rerank of a shortlist CTE (IVFADC+R): re-score the shortlist
  // pairs on their raw quantized vectors, re-rank, keep 3.
  private def pqRerankCtes(out: String = "prr", from: String = "pqres") =
    s"""$out AS (SELECT q_id, c_id, rank, score FROM (
      |  SELECT s.q_id, s.c_id,
      |    row_number() OVER (PARTITION BY s.q_id ORDER BY score DESC, s.c_id) AS rank, score
      |  FROM (SELECT s.q_id, s.c_id,
      |    ${dotSql("q.qv", "c.qv")} /
      |    (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS score
      |    FROM $from s JOIN n0 q ON s.q_id = q.vec_id
      |    JOIN n0 c ON s.c_id = c.vec_id) s)
      |  WHERE rank <= 3)""".stripMargin

  private def pqRerankSql(stride: Int) =
    s"""WITH $preparedSql,
      |${pqCtes(stride, depth = 32)},
      |${pqRerankCtes()}
      |SELECT q_id, c_id, rank, score FROM prr""".stripMargin

  // IVFADC scan: candidates pruned to the query's nprobe probed coarse
  // cells (`pr`/`af` from ivfTrainedCtes), scored on their PQ codes
  // (`paf`/`pm2n`/`prn` from pqTrainCtes), shortlist at `depth`.
  private def ivfAdcCtes(depth: Int) =
    s"""ianum AS (SELECT pr.q_id, a.vec_id AS c_id, pr.q_nrm,
      |    CAST(sum(${idotSql("list_slice(pr.q_qv, f.sub * 8 + 1, f.sub * 8 + 8)", "s.cv")}) AS BIGINT) AS num
      |  FROM pr JOIN af a ON pr.cell = a.cell AND pr.q_id <> a.vec_id
      |  JOIN paf f ON f.vec_id = a.vec_id
      |  JOIN pm2n s ON f.sub = s.sub AND f.code = s.code
      |  GROUP BY pr.q_id, a.vec_id, pr.q_nrm),
      |iares AS (SELECT q_id, c_id, rank, score FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
      |  FROM (SELECT p.q_id, p.c_id,
      |    CAST(p.num AS DOUBLE) /
      |    (sqrt(CAST(p.q_nrm AS DOUBLE)) * sqrt(CAST(r.rnrm AS DOUBLE))) AS score
      |    FROM ianum p JOIN prn r ON p.c_id = r.vec_id))
      |  WHERE rank <= $depth)""".stripMargin

  private def ivfPqSql(stride: Int) =
    s"""WITH $preparedSql,
      |${ivfTrainedCtes(stride)},
      |$pqTrainCtes,
      |${ivfAdcCtes(32)},
      |${pqRerankCtes(out = "iarr", from = "iares")}
      |SELECT q_id, c_id, rank, score FROM iarr""".stripMargin

  // Residual IVFADC oracle: PQ trained on x − coarse_cv(x), candidates
  // scored as exact ⟨q, recon⟩ with recon = coarse_cv + residual
  // reconstruction (built list-wise — in SQL the full reconstruction is
  // cheaper to express than the Spark side's cross-term lookups, and
  // integer-identical to them by linearity).
  private def ivfPqResidualCtes(depth: Int) =
    s"""rv AS (SELECT a.vec_id, a.cell,
      |  list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] - c.cv[i]) AS rqv
      |  FROM af a JOIN m2n c ON a.cell = c.cell),
      |rpsv AS (SELECT vec_id, t.s AS sub, list_slice(rqv, t.s * 8 + 1, t.s * 8 + 8) AS sqv
      |  FROM rv, unnest(generate_series(0, 7)) AS t(s)),
      |rseed AS (SELECT sub, code, sqv AS cv,
      |    CAST(list_sum(list_transform(sqv, x -> x * x)) AS BIGINT) AS cnrm
      |  FROM (SELECT sub, sqv,
      |      CAST(row_number() OVER (PARTITION BY sub
      |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS code
      |    FROM rpsv) WHERE code <= 16),
      |${pqAssignSql("rpa1", "rseed", src = "rpsv")},
      |${pqMeanSql("rpm1", "rpa1")},
      |${pqAssignSql("rpa2", "rpm1n", src = "rpsv")},
      |${pqMeanSql("rpm2", "rpa2")},
      |${pqAssignSql("rpaf", "rpm2n", src = "rpsv")},
      |rres AS (SELECT f.vec_id, flatten(list(s.cv ORDER BY f.sub)) AS res
      |  FROM rpaf f JOIN rpm2n s ON f.sub = s.sub AND f.code = s.code
      |  GROUP BY f.vec_id),
      |rfull AS (SELECT r.vec_id, a.cell,
      |    list_transform(generate_series(1, len(r.res)), i -> r.res[i] + c.cv[i]) AS recon
      |  FROM rres r JOIN af a ON r.vec_id = a.vec_id JOIN m2n c ON a.cell = c.cell),
      |rrn AS (SELECT vec_id, cell, recon,
      |  CAST(list_sum(list_transform(recon, x -> x * x)) AS BIGINT) AS rnrm FROM rfull),
      |rires AS (SELECT q_id, c_id, rank, score FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
      |  FROM (SELECT p.q_id, r.vec_id AS c_id,
      |    ${dotSql("p.q_qv", "r.recon")} /
      |    (sqrt(CAST(p.q_nrm AS DOUBLE)) * sqrt(CAST(r.rnrm AS DOUBLE))) AS score
      |    FROM pr p JOIN rrn r ON p.cell = r.cell AND p.q_id <> r.vec_id))
      |  WHERE rank <= $depth)""".stripMargin

  private def ivfPqResidualSql(stride: Int) =
    s"""WITH $preparedSql,
      |${ivfTrainedCtes(stride)},
      |${ivfPqResidualCtes(32)},
      |${pqRerankCtes(out = "rirr", from = "rires")}
      |SELECT q_id, c_id, rank, score FROM rirr""".stripMargin

  // Multi-table sign-LSH band relation: table t buckets on the signs of
  // dims [t·bits+1, t·bits+bits] — mirrors Similarity.lshTopKMulti.
  private def lshMultiBandsSql(bits: Int, tables: Int) =
    (0 until tables).map { t =>
      s"""SELECT vec_id, $t AS tab, CAST(list_sum(list_transform(generate_series(${t * bits + 1}, ${t * bits + bits}),
         |    i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 1 - ${t * bits})) ELSE 0 END)) AS BIGINT) AS bucket,
         |  qv, nrm FROM n0""".stripMargin
    }.mkString("\n  UNION ALL ")

  // Multi-table LSH top-3 CTE chain ending in `mlshres` (bits=5,
  // tables=12 — the ann_recall production configuration).
  private def lshMultiCtes(stride: Int) =
    s"""mb AS (${lshMultiBandsSql(5, 12)}),
      |mcand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id,
      |    q.qv AS q_qv, c.qv AS c_qv, q.nrm AS q_nrm, c.nrm AS c_nrm
      |  FROM mb q JOIN mb c ON q.tab = c.tab AND q.bucket = c.bucket
      |    AND q.vec_id <> c.vec_id AND q.vec_id % $stride = 0),
      |mlshres AS (SELECT q_id, c_id, rank, score FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
      |  FROM (SELECT q_id, c_id,
      |    ${dotSql("q_qv", "c_qv")} /
      |    (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c_nrm AS DOUBLE))) AS score
      |    FROM mcand))
      |  WHERE rank <= 3)""".stripMargin

  // Recall@3 oracle: exact brute-force truth, the trained-IVF chain,
  // the 8-bit single-table sign-LSH chain, and the 12×5 multi-table
  // chain, all on the same stride-100 query set.
  private val annRecallSql =
    s"""WITH $preparedSql,
      |${ivfTrainedCtes(100)},
      |${lshMultiCtes(100)},
      |${pqCtes(100, depth = 32)},
      |${pqRerankCtes()},
      |${ivfAdcCtes(32)},
      |${pqRerankCtes(out = "iarr", from = "iares")},
      |lshb AS (SELECT vec_id, qv, nrm,
      |  CAST(list_sum(list_transform(generate_series(1, 8),
      |    i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM n0),
      |lshres AS (SELECT q_id, c_id FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      |  FROM (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    ${dotSql("q.qv", "c.qv")} /
      |    (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS score
      |    FROM lshb q JOIN lshb c
      |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id AND q.vec_id % 100 = 0))
      |  WHERE rank <= 3),
      |lshpq AS (SELECT vec_id, xor(bucket, f.flip) AS pbucket, qv, nrm
      |  FROM lshb, (SELECT CAST(unnest([${graft.ops.Similarity.probeMasks(8, 2).mkString(", ")}]) AS BIGINT) AS flip) f
      |  WHERE vec_id % 100 = 0),
      |lshproberes AS (SELECT q_id, c_id FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      |  FROM (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    ${dotSql("q.qv", "c.qv")} /
      |    (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS score
      |    FROM lshpq q JOIN lshb c
      |    ON q.pbucket = c.bucket AND q.vec_id <> c.vec_id))
      |  WHERE rank <= 3),
      |truth AS (SELECT q_id, c_id FROM (
      |  SELECT q_id, c_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      |  FROM (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    ${dotSql("q.qv", "c.qv")} /
      |    (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS score
      |    FROM n0 q JOIN n0 c ON q.vec_id <> c.vec_id AND q.vec_id % 100 = 0))
      |  WHERE rank <= 3),
      |m AS (SELECT 'ivf' AS method, q_id, c_id FROM ivfres
      |      UNION ALL SELECT 'lsh' AS method, q_id, c_id FROM lshres
      |      UNION ALL SELECT 'lsh_multi' AS method, q_id, c_id FROM mlshres
      |      UNION ALL SELECT 'lsh_probe' AS method, q_id, c_id FROM lshproberes
      |      UNION ALL SELECT 'pq' AS method, q_id, c_id FROM pqres WHERE rank <= 3
      |      UNION ALL SELECT 'pq_rerank' AS method, q_id, c_id FROM prr
      |      UNION ALL SELECT 'ivfpq' AS method, q_id, c_id FROM iarr),
      |h AS (SELECT m.method, CAST(count(*) AS BIGINT) AS n_hits
      |      FROM m JOIN truth USING (q_id, c_id) GROUP BY m.method),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
      |ml AS (SELECT unnest(['ivf', 'lsh', 'lsh_multi', 'lsh_probe', 'pq', 'pq_rerank', 'ivfpq']) AS method)
      |SELECT ml.method AS method, t.n_truth AS n_truth,
      |  coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
      |  CAST(coalesce(h.n_hits, CAST(0 AS BIGINT)) AS DOUBLE) / CAST(t.n_truth AS DOUBLE) AS recall
      |FROM ml LEFT JOIN h ON ml.method = h.method, t""".stripMargin

  // CDC chunk relation as a CTE chain ending in `cdc` — mirrors
  // TextOps.cdcChunks (k=4, modulus=16) verbatim; shared by the chunk
  // listing and the chunk-grain dedup.
  private val cdcChunkCtes =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT t.doc_id, g.i AS pos, md5(array_to_string(t.w[g.i:g.i+3], ' ')) AS h
      |  FROM toks t, LATERAL (SELECT unnest(generate_series(1, len(t.w) - 3)) AS i) g
      |  WHERE len(t.w) >= 4),
      |cuts AS (SELECT doc_id, CAST(pos + 3 AS BIGINT) AS cut_end FROM sh
      |  WHERE ((position(substr(h, 1, 1) IN '0123456789abcdef') - 1) * 4096
      |       + (position(substr(h, 2, 1) IN '0123456789abcdef') - 1) * 256
      |       + (position(substr(h, 3, 1) IN '0123456789abcdef') - 1) * 16
      |       + (position(substr(h, 4, 1) IN '0123456789abcdef') - 1)) % 16 = 0),
      |ends AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS cut_end FROM toks),
      |allc AS (SELECT DISTINCT doc_id, cut_end FROM
      |  (SELECT doc_id, cut_end FROM cuts UNION ALL SELECT doc_id, cut_end FROM ends)),
      |sp AS (SELECT doc_id, cut_end,
      |  coalesce(lag(cut_end) OVER (PARTITION BY doc_id ORDER BY cut_end), 0) + 1 AS chunk_start
      |  FROM allc),
      |cdc AS (SELECT s.doc_id, s.chunk_start, s.cut_end AS chunk_end,
      |  s.cut_end - s.chunk_start + 1 AS n_chunk_words,
      |  md5(array_to_string(t.w[s.chunk_start:s.cut_end], ' ')) AS chunk_hash
      |FROM sp s JOIN toks t USING (doc_id))""".stripMargin

  private val dedupExact: QFn = (s, dir) => Dedup.exact(Tables.documents(s, dir))

  private val dedupMinhash: QFn = (s, dir) => Dedup.minhashCandidatePairs(Tables.documents(s, dir))

  private val dedupSimhash: QFn = (s, dir) => Dedup.simhash(Tables.documents(s, dir))

  private val dedupSimhashPairs: QFn = (s, dir) =>
    Dedup.simhashPairs(Tables.documents(s, dir), bits = 16, maxDist = 1)

  private val textWinnow: QFn = (s, dir) =>
    TextOps.winnow(Tables.documents(s, dir), k = 3, w = 4)

  private val dedupWinnowPairs: QFn = (s, dir) =>
    Dedup.winnowPairs(Tables.documents(s, dir), k = 3, w = 4, minShared = 3L)

  private val dedupClusters: QFn = (s, dir) => Dedup.clusters(Tables.documents(s, dir))

  // Recall/precision of the three banded near-dup candidate generators
  // against EXACT 3-gram-SHINGLE-set Jaccard >= 0.5 truth — the
  // ann_recall discipline applied to the dedup family: banding is a
  // trade and the engine should MEASURE it, not assert it. Shingle
  // sets (not token sets) are the truth domain because they are what
  // MinHash provably approximates — token-set Jaccard on this corpus
  // calls 69% of ALL pairs "duplicates" (shared vocabulary), which
  // measures nothing. Truth is an all-pairs exact scan, which is why
  // it runs on the doc_id % 2 == 0 HALF of the corpus (a sampled
  // estimate; all three methods see the same subset, apples-to-apples)
  // — a harness, like ann_recall's brute force, but UNLIKE it not even
  // quadratic: exact truth comes from a postings self-join (a pair with
  // Jaccard >= tau > 0 shares at least one shingle, so grouping the
  // shingle-match pairs is COMPLETE), which costs sum-of-df^2 over
  // shingles instead of |S|^2 — an earlier all-pairs array-intersect
  // formulation measured 120 s at sf0.1; this one ~2 s. The known
  // ceiling is a boilerplate shingle shared by everything (df^2) — for
  // a TRUTH scan that blow-up cannot be capped away, only sampled.
  private val dedupRecall: QFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
    // r18: the truth computation moved to Dedup.exactShingleJaccardPairs
    // with the size-ratio prefilter pushed into the postings join
    // (J >= 0.5 ⟹ 2·min(|A|,|B|) >= max — provably truth-preserving,
    // DedupOpsSpec differential) and the sizes riding the postings rows
    // instead of two post-aggregate joins. Same truth set, same report.
    val truth = Dedup.exactShingleJaccardPairs(docs).persist()
    try {
      val nTruth = truth.count()
      val all = Seq(
        "minhash" -> Dedup.minhashCandidatePairs(docs),
        "simhash" -> Dedup.simhashPairs(docs, bits = 16, maxDist = 1),
        "winnow" -> Dedup.winnowPairs(docs, k = 3, w = 4, minShared = 3L))
        .map { case (nm, df) =>
          df.select(lit(nm).as("method"), col("id_a"), col("id_b")) }
        .reduce(_ unionByName _).persist()
      try {
        val cands = all.groupBy("method").agg(count(lit(1)).as("n_cand"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val hits = all.join(truth, Seq("id_a", "id_b"), "left_semi")
          .groupBy("method").agg(count(lit(1)).as("n_hits"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // literal method spine, like ann_recall: a vacuous method must
        // still report; 0/0 is NULL on both engines by construction
        Seq("minhash", "simhash", "winnow").map { m =>
          val nc = cands.getOrElse(m, 0L)
          val nh = hits.getOrElse(m, 0L)
          (m, nTruth, nc, nh,
            if (nTruth > 0) Some(nh.toDouble / nTruth) else None,
            if (nc > 0) Some(nh.toDouble / nc) else None)
        }.toDF("method", "n_truth", "n_cand", "n_hits", "recall", "prec")
        // blocking: these harness caches are the largest transient
        // relations in the bench suite; a lazy release lets their blocks
        // linger into the NEXT bench query's memory budget on a tight
        // host (the one code-side mechanism that could explain the r12
        // driver's inflated readings for the queries that follow this
        // one in bench order). Blocking costs microseconds here.
      } finally all.unpersist(blocking = true)
    } finally truth.unpersist(blocking = true)
  }

  private val dedupIncremental: QFn = (s, dir) => {
    // the operational shape: a standing corpus (here doc_id % 10 < 8)
    // is indexed by content hash once; the new batch dedups against the
    // index and within itself — the corpus is never re-scanned in full.
    val docs = Tables.documents(s, dir)
    Dedup.incrementalExact(
      docs.filter(col("doc_id") % 10 >= 8),
      docs.filter(col("doc_id") % 10 < 8).select(md5(col("text")).as("text_hash")))
  }

  private val sampleMixture: QFn = (s, dir) =>
    Sampling.mixtureQuota(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
      col("doc_id"), col("source"), quota = 15)

  private val sampleTokenBudget: QFn = (s, dir) =>
    Sampling.tokenBudget(
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang"),
        col("text")),
      col("doc_id"), Seq(col("source"), col("lang")),
      size(split(col("text"), " ")), budget = 150L)
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"), col("cum_tokens"))

  private val sampleWeighted: QFn = (s, dir) =>
    // Quality-weighted corpus draw: per source, 15 docs without
    // replacement with inclusion odds ∝ word count (the "prefer long
    // documents" mixture step). Deterministic in (doc_id, salt) and
    // partitioning-invariant, but the E-S priority passes through
    // ln() — engine-libm territory — so this is a rows-only check
    // shadowed by WeightedSampleSpec's exact JVM differential (the
    // compress-ratio convention; rationale in Sampling.weightedTopK).
    Sampling.weightedTopK(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_words")),
      col("doc_id"), col("n_words"), col("source"), k = 15)

  private val sampleStratified: QFn = (s, dir) =>
    Sampling.stratified(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      col("doc_id"), col("lang"), Map("en" -> 77, "de" -> 128), default = 205)

  private val textQualityFilter: QFn = (s, dir) =>
    TextOps.qualityFilter(Tables.documents(s, dir))

  private val textPiiMask: QFn = (s, dir) => {
    // The synthetic corpus carries no PII, so the query plants a
    // deterministic email + account number per row from real columns —
    // both engines derive the identical input, so the oracle exercises
    // the masking on every row instead of passing vacuously.
    val synth = concat(substring(col("text"), 1, 40),
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@mail.example order "),
      (col("n_chars") * 1000 + col("doc_id")).cast("string"))
    TextOps.piiMask(Tables.documents(s, dir).withColumn("synth", synth), col("synth"))
      .select(col("doc_id"), col("masked"), col("n_emails"), col("n_nums"))
  }

  private val textDecontaminate: QFn = (s, dir) => {
    // benchmark split = every 20th doc; the train side never self-joins
    val docs = Tables.documents(s, dir)
    Decontaminate.overlap(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  private val textDecontaminateBloom: QFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Decontaminate.overlapBloom(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  private val decontaminateSql =
    """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 <> 0),
      |be AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 = 0),
      |trs AS (SELECT doc_id AS train_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |  i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))) AS sh FROM tr WHERE len(toks) >= 3),
      |bes AS (SELECT doc_id AS bench_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |  i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))) AS sh FROM be WHERE len(toks) >= 3)
      |SELECT t.train_id, b.bench_id, count(*) AS n_overlap
      |FROM trs t JOIN bes b ON t.sh = b.sh
      |GROUP BY t.train_id, b.bench_id
      |HAVING count(*) >= 3""".stripMargin

  private val dedupNgramJaccard: QFn = (s, dir) => Dedup.ngramJaccardPairs(Tables.documents(s, dir))

  private val dedupEmbedCosine: QFn = (s, dir) => Similarity.nearDupPairs(Tables.embeddings(s, dir))

  private val dedupEmbedLsh: QFn = (s, dir) => Similarity.nearDupPairsLsh(Tables.embeddings(s, dir))

  private val dedupEmbedClusters: QFn = (s, dir) => {
    // semantic dedup verdict: connected components over embedding
    // near-dup pairs — the embedding-space twin of dedup_clusters,
    // same CC machinery over a different similarity graph.
    val emb = Tables.embeddings(s, dir)
    Dedup.clusterVerdict(emb.select(col("vec_id")), "vec_id",
      Dedup.connectedComponents(
        Similarity.nearDupPairs(emb).select(col("id_a"), col("id_b"))))
  }

  private val packSequences: QFn = (s, dir) =>
    Packing.pack(Tables.documents(s, dir), seqLen = 256L, shards = 8)

  private val textUnigramScore: QFn = (s, dir) =>
    TextOps.unigramScore(Tables.documents(s, dir))

  private val sampleTemperature: QFn = (s, dir) =>
    Sampling.temperature(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
      col("doc_id"), col("source"))

  private val dedupKeepBest: QFn = (s, dir) => Dedup.keepBest(Tables.documents(s, dir))

  private val textBoilerplate: QFn = (s, dir) =>
    TextOps.boilerplate(Tables.documents(s, dir))

  private val annBruteforce: QFn = (s, dir) => Similarity.bruteForceTopK(Tables.embeddings(s, dir))

  private val a12VectorSum: QFn = (s, dir) =>
    // Per-label element-wise embedding sum through the native
    // vector_sum_long aggregate (one HashAggregate with a d-long
    // buffer; the k-means mean step runs on the same kernel). The tiny
    // result explodes to scalar (label, dim, s) rows so the hash
    // compare stays on scalars; dim is 1-based to mirror DuckDB's
    // generate_series subscripts.
    Tables.embeddings(s, dir)
      .select(col("label"), Similarity.quantize(col("embedding")).as("qv"))
      .groupBy(col("label"))
      .agg(graft.expr.VectorSum.vectorSumLong(col("qv")).as("sv"))
      .select(col("label"), posexplode(col("sv")).as(Seq("dim0", "s")))
      .select(col("label"), (col("dim0") + 1).cast("long").as("dim"), col("s"))

  private val dedupIncrementalMinhash: QFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.incrementalMinhashPairs(
      docs.filter(col("doc_id") % 10 >= 8),
      Dedup.bandIndex(docs.filter(col("doc_id") % 10 < 8)))
  }

  private val sampleSplit: QFn = (s, dir) =>
    Sampling.split(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
      col("doc_id"))

  private val sampleShuffleShards: QFn = (s, dir) =>
    Sampling.shuffleShards(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), numShards = 8)

  // Build-once/search-many: the trained coarse quantizer is an INDEX.
  // The first query that needs it pays the k-means build and caches the
  // centroids (plain longs — session-free, metadata-scale, keyed by sf
  // dir); every later query searches the standing index. In the bench's
  // sorted order `ann_ivf_trained` runs first (its time = the one-shot
  // build+search cost a user pays once), then `ann_ivf_trained_search`
  // measures what production runs per query: search alone.
  private val ivfCentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Seq[Long], Long)]]()
  private def trainedCentroids(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val data = ivfCentCache.computeIfAbsent(dir, _ =>
      Similarity.kmeansCentroids(Tables.embeddings(s, dir)).collect()
        .map(r => (r.getAs[Long]("cell"),
          r.getAs[scala.collection.Seq[Long]]("cv").toSeq, r.getAs[Long]("cnrm"))))
    import s.implicits._
    data.toSeq.toDF("cell", "cv", "cnrm")
  }
  private def ivfSearchAtStride(s: org.apache.spark.sql.SparkSession, dir: String,
      stride: Int) = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfSearch(trainedCentroids(s, dir), emb,
      emb.filter(col("vec_id") % stride === 0), k = 3)
  }

  private val annIvfTrained: QFn = (s, dir) => ivfSearchAtStride(s, dir, stride = 100)

  // PQ codebooks are an index too: train once per sf dir (plain longs,
  // metadata-scale — m=8 subspaces x 16 codes x 8 dims), search many.
  private val pqBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Pq.Book]]()
  private val annPq: QFn = (s, dir) => {
    val books = pqBookCache.computeIfAbsent(dir,
      _ => Pq.trainCodebooks(Tables.embeddings(s, dir)))
    val emb = Tables.embeddings(s, dir)
    Pq.adcTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 3, books)
  }
  private val annPqRerank: QFn = (s, dir) => {
    val books = pqBookCache.computeIfAbsent(dir,
      _ => Pq.trainCodebooks(Tables.embeddings(s, dir)))
    val emb = Tables.embeddings(s, dir)
    Pq.adcRerankTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 3, books,
      shortlist = 32)
  }
  // IVFADC+R: both standing indexes (coarse centroids + PQ codebooks)
  // come from their caches — this query measures the production search
  private val annIvfPq: QFn = (s, dir) => {
    val books = pqBookCache.computeIfAbsent(dir,
      _ => Pq.trainCodebooks(Tables.embeddings(s, dir)))
    val emb = Tables.embeddings(s, dir)
    Pq.ivfAdcRerankTopK(emb, emb.filter(col("vec_id") % 100 === 0), k = 3,
      books, trainedCentroids(s, dir), nprobe = 2, shortlist = 32)
  }
  // residual variant: codebooks model the displacement FROM the coarse
  // centroid (the original IVFADC); its own standing-index cache
  private val pqResBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Pq.Book]]()
  private val annIvfPqRes: QFn = (s, dir) => {
    val cents = trainedCentroids(s, dir)
    val books = pqResBookCache.computeIfAbsent(dir,
      _ => Pq.trainResidualCodebooks(Tables.embeddings(s, dir), cents))
    val emb = Tables.embeddings(s, dir)
    Pq.ivfAdcResidualRerankTopK(emb, emb.filter(col("vec_id") % 100 === 0),
      k = 3, books, cents, nprobe = 2, shortlist = 32)
  }

  private val annIvfTrainedSearch: QFn = (s, dir) => ivfSearchAtStride(s, dir, stride = 50)

  private val annIvf: QFn = (s, dir) => Similarity.ivfTopK(Tables.embeddings(s, dir))

  private val annLshMulti: QFn = (s, dir) =>
    Similarity.lshTopKMulti(Tables.embeddings(s, dir),
      k = 3, queryStride = 100, bits = 5, tables = 12)

  // Recall@3 of the two approximate indexes against exact brute force —
  // the harness that quantifies the recall/cost dial the IVF and LSH
  // docs promise. Truth, IVF and LSH all use the SAME query set
  // (stride 100) and k=3, so recall = |approx ∩ truth| / |truth| is the
  // standard definition. recall is the one double division; everything
  // upstream is the already-oracled integer scoring.
  /** Run `body` with whole-stage codegen off, restoring the previous
    * setting after. For DIAGNOSTIC HARNESSES only: ann_recall's seven
    * pipelines compile 223 generated classes (~4.5 s of a measured
    * 11.5 s standalone-cold run) to process relations of at most a few
    * hundred thousand rows — compile time dominated execution 4:1, and
    * no single kernel dominated (largest class 270 ms; the old 128-wide
    * PQ dot-table projection was the one outlier and is now a native
    * kernel). Interpreted execution of the same plans measures faster
    * cold and identical warm, with identical results. NOT for
    * corpus-scale queries — dedup_recall's postings self-join keeps
    * codegen. The restore happens before the QFn returns; the returned
    * relation is a LocalRelation of already-collected rows, so no lazy
    * execution escapes the scope. */
  private def withInterpretedPlans[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    // r17: the interpreted mode is now the OPT-IN
    // (graft.interpretedHarness=true), not the default. The r16 trade
    // (compile time dominated execution 4:1 on that host) inverted on
    // the r17 host: interpreted plans serialize the whole expression
    // tree into every task closure (observed 6.6 MiB task binaries vs
    // ~1 MiB codegen'd), and a paired same-JVM A/B (scratch harness,
    // min-of-3, sf0.1, local[32]) measured codegen 4.66 s vs
    // interpreted 12.85 s — 2.8× — with identical results (the scoring
    // is integer-lattice arithmetic either way). Codegen is also
    // Spark's default execution mode, i.e. the honest 100 TB regime;
    // the conf keeps the r16 comparison reproducible.
    if (!s.conf.getOption("graft.interpretedHarness").contains("true"))
      return body
    val keys = Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      // non-wholestage operators still compile per-operator unsafe
      // projections; NO_CODEGEN makes those interpreted too
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private val annRecall: QFn = (s, dir) => withInterpretedPlans(s) {
    import s.implicits._
    // ONE quantized prep relation shared by all five pipelines (truth +
    // the four indexes): Similarity.prep is idempotent, so every entry
    // point consumes the same (vec_id, label, qv, nrm) node instead of
    // building five separate read-and-quantize lineages. Deliberately
    // NOT persisted here: A/B at sf0.1 (min-of-3, warm subset) measured
    // the codegen'd re-scan at 2.3-2.6 s for the harness vs 2.5-3.0 s
    // through the columnar cache — the materialization barrier costs
    // more than the parquet re-reads at bench scale. A production
    // index-comparison over a cold 100 TB corpus is the opposite
    // regime: `.persist(MEMORY_AND_DISK)` this one relation and the
    // five pipelines share a single corpus scan.
    val prepped = Similarity.prep(Tables.embeddings(s, dir))
    // truth feeds TWO consumers (the hits semi-join and n_truth) — an
    // unpersisted lineage would recompute the O(Q·N) brute-force
    // scoring join twice. persist + count materializes it once; the
    // report itself is 3 rows, so the hit counts collect driver-side
    // like any other metadata-scale result (the kmeansCentroids
    // pattern), letting the caches release deterministically before
    // the QFn returns instead of leaking across bench runs.
    val queries = prepped.filter(col("vec_id") % 100 === 0)
    val truth = Similarity.bruteForceTopK(prepped, queries, k = 3)
      .select(col("q_id"), col("c_id")).persist()
    try {
      val nTruth = truth.count()
      // recall divides by nTruth: a fixture with no vec_id % 100 == 0
      // queries (or < 2 vectors) would yield NaN on the Spark side while
      // the oracle's divide-by-zero behavior is engine-version-dependent
      // — fail loudly naming the stride assumption instead.
      require(nTruth > 0, "annRecall: no truth pairs — the fixture has no " +
        "query vectors at stride 100 (needs vec_id % 100 == 0 rows and >= 2 vectors)")
      val ivf = Similarity.ivfSearch(trainedCentroids(s, dir), prepped, queries, k = 3)
        .select(col("q_id"), col("c_id"))
      val lsh = Similarity.lshTopK(prepped, queries, k = 3, bits = 8)
        .select(col("q_id"), col("c_id"))
      val lshMulti = Similarity.lshTopKMulti(prepped, queries, k = 3,
          bits = 5, tables = 12)
        .select(col("q_id"), col("c_id"))
      val lshProbe = Similarity.lshTopKProbe(prepped, queries, k = 3,
          bits = 8, probeDist = 2)
        .select(col("q_id"), col("c_id"))
      // PQ is the COMPRESSION dial (exhaustive scan over 8-byte codes):
      // its recall here quantifies pure quantization loss, no pruning
      val pqBooks = pqBookCache.computeIfAbsent(dir,
        _ => Pq.trainCodebooks(Tables.embeddings(s, dir)))
      // ONE depth-32 ADC pass feeds both PQ rows: the pure-ADC method is
      // its rank<=3 prefix, the rerank re-scores the whole shortlist
      // exactly (Q x 32 raw-vector fetches, corpus never rescanned).
      // persist + count: materialized ONCE before the concurrent hit
      // jobs race for it (the truth pattern above).
      val pqShortlist = Pq.adcTopK(prepped, queries, k = 32, pqBooks).persist()
      pqShortlist.count()
      val pq = pqShortlist.filter(col("rank") <= 3)
        .select(col("q_id"), col("c_id"))
      val pqRerank = Pq.rerank(pqShortlist, prepped, queries, k = 3)
        .select(col("q_id"), col("c_id"))
      // the full production composition: cell-pruned, code-scored,
      // exactly reranked — its recall vs the pure tiers IS the report
      val ivfpq = Pq.ivfAdcRerankTopK(prepped, queries, k = 3, pqBooks,
          trainedCentroids(s, dir), nprobe = 2, shortlist = 32)
        .select(col("q_id"), col("c_id"))
      // r18: ONE SMALL JOB PER METHOD instead of one 7-way-union plan.
      // The union serialized every pipeline into each downstream stage's
      // task closure — 6.6–8.7 MiB task binaries (observed, WARN
      // DAGScheduler) where every method's standalone plan ships
      // <= 1 MiB — and that driver-side serialize/broadcast per stage
      // was the noise amplifier behind the query's 6–45 s swings.
      // Per-method semi-join counts are the SAME numbers the union's
      // groupBy(method) produced (the method column was only a tag).
      // The jobs run from a small driver pool so their stages overlap
      // like the union's did (guide §2.6); job descriptions label them.
      val hits =
        try {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
          try {
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutor(pool)
            val futures = Seq(
              "ivf" -> ivf, "lsh" -> lsh, "lsh_multi" -> lshMulti,
              "lsh_probe" -> lshProbe, "pq" -> pq, "pq_rerank" -> pqRerank,
              "ivfpq" -> ivfpq).map { case (m, df) =>
              scala.concurrent.Future {
                s.sparkContext.setJobDescription(s"ann_recall: $m hits")
                m -> df.join(truth, Seq("q_id", "c_id"), "left_semi").count()
              }
            }
            scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(futures),
              scala.concurrent.duration.Duration.Inf).toMap
          } finally pool.shutdown()
        } finally pqShortlist.unpersist(blocking = true)
      // literal method spine: a method with zero hits must still report
      Seq("ivf", "lsh", "lsh_multi", "lsh_probe", "pq", "pq_rerank", "ivfpq").map { m =>
        val h = hits.getOrElse(m, 0L)
        (m, nTruth, h, h.toDouble / nTruth.toDouble)
      }.toDF("method", "n_truth", "n_hits", "recall")
    } finally truth.unpersist(blocking = true)
  }

  private val textTokens: QFn = (s, dir) =>
    TextOps.tokenStats(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"),
        col("n_chars_actual").cast("long").as("n_chars_actual"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_unique").cast("long").as("n_unique"))

  private val textQuality: QFn = (s, dir) =>
    TextOps.quality(Tables.documents(s, dir))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_stop").cast("long").as("n_stop"),
        col("stop_ratio"), col("mean_tok_len"))

  // Fixture gate model for text_classify: milli-unit weights over the
  // corpus vocabulary, picked so the keep gate splits the fixture
  // corpus ~60/40 at every SF (a degenerate all-keep / all-drop gate
  // would prove nothing). Single source of truth for BOTH the Spark
  // query and its oracle SQL (Classify.scoreLinearSql).
  private val classifyWeights: Seq[(String, Long)] = Seq(
    "fast" -> 1500L, "spark" -> 1200L, "vector" -> 900L, "query" -> 800L,
    "data" -> 600L, "the" -> -400L, "a" -> -600L, "small" -> -700L,
    "slow" -> -2000L, "dup" -> -3000L)
  private val classifyBias = 100L
  private val classifyThreshold = 0.02

  private val textClassify: QFn = (s, dir) =>
    graft.ops.Classify.scoreLinear(Tables.documents(s, dir),
      classifyWeights, classifyBias, classifyThreshold)

  // Curation policy: best 3 docs per source by classifier margin —
  // the "keep the highest-quality N per shard/domain" selection every
  // curated corpus build runs. WindowGroupLimit plans the rank filter
  // below the exchange (k rows per source per input partition shuffle).
  private val sampleBestPerSource: QFn = (s, dir) => {
    val scored = graft.ops.Classify.scoreLinear(Tables.documents(s, dir),
      classifyWeights, classifyBias, classifyThreshold, keepCols = Seq("source"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("margin").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("source"), col("rank"), col("doc_id"), col("margin"))
  }

  // Vocabulary coverage curve (tokenizer-design dial): top-100 tokens
  // with the cumulative share of all corpus tokens they cover.
  private val textVocabCoverage: QFn = (s, dir) =>
    TextOps.vocabCoverage(Tables.documents(s, dir), k = 100)

  private val textPostings: QFn = (s, dir) =>
    TextOps.postings(Tables.documents(s, dir))

  // Per-source length-percentile rank — the "drop each source's
  // shortest tail" curation signal as a relative position instead of a
  // fixed cutoff. percent_rank/cume_dist are integer-derived ((rank-1)/
  // (n-1), rows≤/n) so the doubles are bit-exact across engines. One
  // source-keyed window; doc_id tiebreak keeps ranks deterministic.
  private val textLengthPercentile: QFn = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(size(split(col("text"), " ", -1)).asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
        percent_rank().over(w).as("len_pct"),
        cume_dist().over(w).as("len_cume"))
  }

  private val textChunksCdc: QFn = (s, dir) =>
    TextOps.cdcChunks(Tables.documents(s, dir), k = 4, modulus = 16)

  // Chunk-grain dedup over the CDC chunks: hashes shared across
  // documents — what CDC chunking exists FOR (revision-robust shared-
  // content detection). One (chunk_hash) shuffle over the chunk
  // relation; partial agg collapses repeats map-side.
  private val dedupCdcChunks: QFn = (s, dir) =>
    TextOps.cdcChunks(Tables.documents(s, dir), k = 4, modulus = 16)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("n_chunk_words")).as("n_words"))
      .filter(col("n_docs") > 1)

  private val textLangid: QFn = (s, dir) =>
    TextOps.langId(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"),
        col("en_score").cast("long").as("en_score"),
        col("de_score").cast("long").as("de_score"),
        col("lang_guess"))

  private val textFingerprint: QFn = (s, dir) => TextOps.fingerprint(Tables.documents(s, dir))

  private val textBpeTokens: QFn = (s, dir) => TextOps.bpeTokenStats(Tables.documents(s, dir))

  private val textBpeMerges: QFn = (s, dir) =>
    TextOps.bpeLearnMerges(Tables.documents(s, dir), nMerges = 8)

  private val textBpeSegment: QFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    TextOps.bpeSegment(docs, TextOps.bpeLearnMerges(docs, nMerges = 8))
  }

  private val textUnigramLm: QFn = (s, dir) =>
    TextOps.unigramLm(Tables.documents(s, dir))

  /** DuckDB replay of [[graft.ops.TextOps.unigramLm]]: the same word
    * table, seed substring counts, and two hard-EM rounds. Each round's
    * DP runs as a pair of recursive CTEs — the forward pass carries the
    * dp array as a growing list (one level per character, vocab looked
    * up via four LEFT JOINs per level, exactly the four `term`s the
    * Spark fold evaluates), the backward pass re-derives the SMALLEST-t
    * transition that reproduces dp[j] (the CASE order IS the tie-break,
    * mirroring the Spark when-chain verbatim). All arithmetic is BIGINT
    * (cost = BIG - freq), so the replay is hash-exact; the INF sentinel
    * never survives a `least` over a feasible position, so its exact
    * value is immaterial on both engines. */
  private def unigramLmOracle(vocabMulti: Int = 400, topK: Int = 50): String = {
    val BIG = "1000000000000"
    val INF = "4611686018427387904"
    def dpRound(tag: Int, vocab: String): String = s"""
      |fwd$tag AS (
      |  SELECT word, c, 0 AS j, [CAST(0 AS BIGINT)] AS dp FROM words
      |  UNION ALL
      |  SELECT f.word, f.c, f.j + 1,
      |    list_append(f.dp, least(
      |      CASE WHEN f.j + 1 >= 1 AND v1.n IS NOT NULL THEN f.dp[f.j + 1] + ($BIG - v1.n) ELSE $INF END,
      |      CASE WHEN f.j + 1 >= 2 AND v2.n IS NOT NULL THEN f.dp[f.j + 0] + ($BIG - v2.n) ELSE $INF END,
      |      CASE WHEN f.j + 1 >= 3 AND v3.n IS NOT NULL THEN f.dp[f.j - 1] + ($BIG - v3.n) ELSE $INF END,
      |      CASE WHEN f.j + 1 >= 4 AND v4.n IS NOT NULL THEN f.dp[f.j - 2] + ($BIG - v4.n) ELSE $INF END))
      |  FROM fwd$tag f
      |  LEFT JOIN $vocab v1 ON v1.piece = substr(f.word, f.j + 1, 1)
      |  LEFT JOIN $vocab v2 ON v2.piece = substr(f.word, f.j, 2)
      |  LEFT JOIN $vocab v3 ON v3.piece = substr(f.word, f.j - 1, 3)
      |  LEFT JOIN $vocab v4 ON v4.piece = substr(f.word, f.j - 2, 4)
      |  WHERE f.j < length(f.word)
      |),
      |wdp$tag AS (SELECT word, c, dp FROM fwd$tag WHERE j = length(word)),
      |bwd$tag AS (
      |  SELECT word, c, length(word) AS j, dp, CAST([] AS VARCHAR[]) AS ps FROM wdp$tag
      |  UNION ALL
      |  SELECT b.word, b.c,
      |    b.j - CASE
      |      WHEN b.j >= 1 AND v1.n IS NOT NULL AND b.dp[b.j] + ($BIG - v1.n) = b.dp[b.j + 1] THEN 1
      |      WHEN b.j >= 2 AND v2.n IS NOT NULL AND b.dp[b.j - 1] + ($BIG - v2.n) = b.dp[b.j + 1] THEN 2
      |      WHEN b.j >= 3 AND v3.n IS NOT NULL AND b.dp[b.j - 2] + ($BIG - v3.n) = b.dp[b.j + 1] THEN 3
      |      ELSE 4 END,
      |    b.dp,
      |    list_append(b.ps, CASE
      |      WHEN b.j >= 1 AND v1.n IS NOT NULL AND b.dp[b.j] + ($BIG - v1.n) = b.dp[b.j + 1] THEN substr(b.word, b.j, 1)
      |      WHEN b.j >= 2 AND v2.n IS NOT NULL AND b.dp[b.j - 1] + ($BIG - v2.n) = b.dp[b.j + 1] THEN substr(b.word, b.j - 1, 2)
      |      WHEN b.j >= 3 AND v3.n IS NOT NULL AND b.dp[b.j - 2] + ($BIG - v3.n) = b.dp[b.j + 1] THEN substr(b.word, b.j - 2, 3)
      |      ELSE substr(b.word, b.j - 3, 4) END)
      |  FROM bwd$tag b
      |  LEFT JOIN $vocab v1 ON v1.piece = substr(b.word, b.j, 1)
      |  LEFT JOIN $vocab v2 ON v2.piece = substr(b.word, b.j - 1, 2)
      |  LEFT JOIN $vocab v3 ON v3.piece = substr(b.word, b.j - 2, 3)
      |  WHERE b.j > 0
      |),
      |usage$tag AS (
      |  SELECT piece, CAST(SUM(c) AS BIGINT) AS n_uses
      |  FROM (SELECT c, unnest(ps) AS piece FROM bwd$tag WHERE j = 0)
      |  GROUP BY piece
      |)""".stripMargin
    s"""WITH RECURSIVE words AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[A-Za-z0-9]+$$') AND length(word) <= 16
       |  GROUP BY word
       |),
       |subs AS (
       |  SELECT substr(word, s, l) AS piece, CAST(SUM(c) AS BIGINT) AS n
       |  FROM words,
       |    LATERAL (SELECT unnest(generate_series(1, length(word))) AS s) ts,
       |    LATERAL (SELECT unnest(generate_series(1, least(4, length(word) - s + 1))) AS l) tl
       |  GROUP BY 1
       |),
       |singles AS (SELECT piece, n FROM subs WHERE length(piece) = 1),
       |seed_multi AS (
       |  SELECT piece, n FROM subs WHERE length(piece) >= 2 AND n >= 2
       |  ORDER BY n DESC, piece LIMIT $vocabMulti
       |),
       |vocab0 AS (SELECT * FROM singles UNION ALL SELECT * FROM seed_multi),
       |${dpRound(0, "vocab0")},
       |multi1 AS (
       |  SELECT piece, n_uses AS n FROM usage0 WHERE length(piece) >= 2
       |  ORDER BY n_uses DESC, piece LIMIT $vocabMulti
       |),
       |singles1 AS (
       |  SELECT s.piece, COALESCE(u.n_uses, 0) AS n
       |  FROM singles s LEFT JOIN usage0 u ON u.piece = s.piece AND length(u.piece) = 1
       |),
       |vocab1 AS (SELECT * FROM singles1 UNION ALL SELECT * FROM multi1),
       |${dpRound(1, "vocab1")}
       |SELECT piece, n_uses FROM usage1 ORDER BY n_uses DESC, piece LIMIT $topK""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.TextOps.bpeLearnMerges]]'s fixed
    * `n`-round induction: the same word-frequency base, and per round
    * the same pair count -> deterministic top-1 -> wrapped-string
    * `replace` application, as chained CTEs. Engine-agnostic by the
    * same constructions the Spark side uses: ASCII-only words, plain
    * substring replace for the greedy merge pass, (count DESC, lhs,
    * rhs) tie-break. An empty round yields no t-row and the LEFT JOIN
    * carries the segmentation forward unchanged — mirroring the Scala
    * side's early stop. */
  /** The shared WITH-body: word-frequency base + `n` induction rounds
    * (pair counts -> deterministic top-1 -> greedy replace). */
  private def bpeRoundsCtes(n: Int): String = {
    val rounds = (0 until n).map { i =>
      s"""p$i AS (
         |  SELECT lhs, rhs, CAST(SUM(c) AS BIGINT) AS n FROM (
         |    SELECT unnest(s[1:len(s)-1]) AS lhs, unnest(s[2:len(s)]) AS rhs, c
         |    FROM (SELECT regexp_extract_all(enc, '\\|([^|]+)\\|', 1) AS s, c FROM w$i)
         |  ) GROUP BY lhs, rhs
         |),
         |t$i AS (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1),
         |w${i + 1} AS (
         |  SELECT CASE WHEN t.lhs IS NULL THEN w.enc
         |    ELSE replace(w.enc, '|' || t.lhs || '||' || t.rhs || '|',
         |                 '|' || t.lhs || t.rhs || '|') END AS enc, w.c
         |  FROM w$i w LEFT JOIN t$i t ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (
       |  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS enc, COUNT(*) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[A-Za-z0-9]+${"$"}')
       |  GROUP BY word
       |),
       |$rounds""".stripMargin
  }

  private def bpeMergesOracle(n: Int): String = {
    val union = (0 until n).map(i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS merge_rank, lhs, rhs, n AS n_pair FROM t$i")
      .mkString("\nUNION ALL\n")
    s"""${bpeRoundsCtes(n)}
       |$union""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.TextOps.bpeSegment]] over the rules
    * [[bpeMergesOracle]]'s induction learns: the same `n` rounds, then
    * the whole-text wrapped encoding folded through each round's
    * (possibly absent) rule in rank order, piece count by separator
    * arithmetic. */
  private def bpeSegmentOracle(n: Int): String = {
    val applies = (0 until n).map { i =>
      s"""d${i + 1} AS (
         |  SELECT doc_id, n_chars_actual, CASE WHEN t.lhs IS NULL THEN d.enc
         |    ELSE replace(d.enc, '|' || t.lhs || '||' || t.rhs || '|',
         |                 '|' || t.lhs || t.rhs || '|') END AS enc
         |  FROM d$i d LEFT JOIN t$i t ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""${bpeRoundsCtes(n)},
       |d0 AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_actual,
       |    regexp_replace(text, '(.)', '|\\1|', 'g') AS enc
       |  FROM documents
       |),
       |$applies
       |SELECT doc_id, n_chars_actual,
       |  CAST((length(enc) - length(replace(enc, '|', ''))) // 2 AS BIGINT)
       |    AS n_bpe_pieces,
       |  CASE WHEN length(enc) > 0 THEN CAST(n_chars_actual AS DOUBLE) /
       |    CAST((length(enc) - length(replace(enc, '|', ''))) // 2 AS DOUBLE)
       |  END AS chars_per_piece
       |FROM d$n""".stripMargin
  }

  private val textRepetition: QFn = (s, dir) => TextOps.repetition(Tables.documents(s, dir))

  // rows-only (DuckDB has no DEFLATE to replay — the p8/p9/x1
  // convention); semantics pinned by CompressRatioSpec differentials
  private val textCompressRatio: QFn = (s, dir) =>
    TextOps.compressionRatio(Tables.documents(s, dir))

  private val textDupSpans: QFn = (s, dir) => TextOps.dupSpans(Tables.documents(s, dir))

  private val textDecontaminateSpans: QFn = (s, dir) => {
    // same train/bench split as text_decontaminate (doc_id % 20)
    val docs = Tables.documents(s, dir)
    Decontaminate.contaminatedSpans(
      docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0))
  }

  private val textChunks: QFn = (s, dir) => TextOps.chunk(Tables.documents(s, dir))

  private val mixtureReport: QFn = (s, dir) => TextOps.mixtureReport(Tables.documents(s, dir))

  private val textStripDupSpans: QFn = (s, dir) => TextOps.stripDupSpans(Tables.documents(s, dir))

  private val textNgramTopK: QFn = (s, dir) =>
    TextOps.ngramTopK(Tables.documents(s, dir), n = 3, k = 20)

  private val profileHistogram: QFn = (s, dir) =>
    graft.ops.Profile.histogram(
      Tables.documents(s, dir), size(split(col("text"), " ")), width = 10L)

  private val profileColumns: QFn = (s, dir) =>
    graft.ops.Profile.columns(Tables.documents(s, dir), Seq("doc_id", "lang", "source", "n_chars"))

  private val mmFeatures: QFn = (s, dir) => Media.features(s, Tables.documents(s, dir))

  private val mmFrames: QFn = (s, dir) => {
    // video-style frame sampling: 1 blob row in -> N frame rows out of a
    // partition-batched decoder (stub codec, real generator plumbing).
    implicit val sp: org.apache.spark.sql.SparkSession = s
    import sp.implicits._
    Media.sampleFrames(Media.asMedia(Tables.documents(s, dir)).as[Media.MediaRow], 256, 2)
      .toDF()
      .select(col("media_id"), col("frame_index"),
        length(col("frame")).as("n_frame_bytes"),
        md5(col("frame")).as("frame_hash"))
  }

  // perceptual image dedup over the REAL PNG decode: synthetic 8x8
  // rasters whose aHash is a known function of doc_id
  // (Media.syntheticAHashBits), so the DuckDB oracle replays the
  // decode-scale-threshold pipeline as pure bit arithmetic. maxBucket
  // is raised far above any (band, value) bucket the 200-group fixture
  // can produce, so the banding is provably lossless here and the
  // oracle can be the exact all-pairs formulation.
  private val mmDedupPairs: QFn = (s, dir) => {
    implicit val sp: org.apache.spark.sql.SparkSession = s
    Media.nearDupImagePairs(
        Media.syntheticImages(Tables.documents(s, dir).select(col("doc_id"))),
        maxDist = 7, maxBucket = 20000)
      .select(col("media_a"), col("media_b"), col("hamming").cast("int").as("hamming"))
  }

  // the cluster/keep-best roll-up over the same perceptual pairs —
  // shares Dedup.connectedComponents with every other dedup family
  private val mmDedupClusters: QFn = (s, dir) => {
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val pairs = Media.nearDupImagePairs(Media.syntheticImages(docs),
      maxDist = 7, maxBucket = 20000)
    Dedup.clusterVerdict(docs.select(col("doc_id").as("media_id")), "media_id",
      Dedup.connectedComponents(
        pairs.select(col("media_a").as("id_a"), col("media_b").as("id_b"))))
  }

  /** aHash bit i of the synthetic raster fixture as DuckDB SQL —
    * mirrors [[graft.mm.Media.syntheticAHashBits]] exactly (pinned
    * bits, md5-digit base pattern, the doc_id%3 flip schedule). */
  private def mmBitSql(i: Int): String =
    if (i == 0) "0"
    else if (i == 1) "1"
    else {
      val digit = s"(position(substr(h, ${i % 32 + 1}, 1) IN '0123456789abcdef') - 1)"
      val base = s"(($digit // ${1 << (i / 32)}) % 2)"
      val f0 = s"(CASE WHEN doc_id % 3 >= 1 AND 2 + (doc_id * 7) % 62 = $i THEN 1 ELSE 0 END)"
      val f1 = s"(CASE WHEN doc_id % 3 >= 2 AND 2 + (doc_id * 7 + 13) % 62 = $i THEN 1 ELSE 0 END)"
      s"(($base + $f0 + $f1) % 2)"
    }

  /** Shared CTE chain for the perceptual-dedup oracles: the 64 aHash
    * bits packed as two 32-bit halves (BIGINT shifts stay under bit 62
    * — no signed-overflow edge), then exact all-pairs Hamming. */
  private def mmHashSql: String = {
    val lo = (0 until 32).map(i => s"${mmBitSql(i)} * (CAST(1 AS BIGINT) << $i)")
      .mkString(" + ")
    val hi = (32 until 64).map(i => s"${mmBitSql(i)} * (CAST(1 AS BIGINT) << ${i - 32})")
      .mkString(" + ")
    s"""hsrc AS (SELECT doc_id, md5('g' || CAST(doc_id % 200 AS VARCHAR)) AS h FROM documents),
       |hh AS (SELECT doc_id, CAST($lo AS BIGINT) AS lo, CAST($hi AS BIGINT) AS hi FROM hsrc),
       |mmpairs AS (SELECT a.doc_id AS media_a, b.doc_id AS media_b,
       |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
       |  FROM hh a JOIN hh b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7)""".stripMargin
  }

  private def simhashSumsSql(bits: Int): String =
    (1 to bits).map { j =>
      s"sum(((position(substr(h, $j, 1) IN '0123456789abcdef') - 1) % 2) * 2 - 1) AS s$j"
    }.mkString(",\n")
  private def simhashPackSql(bits: Int): String =
    (1 to bits).map { j =>
      s"(CASE WHEN s$j >= 0 THEN ${1L << (j - 1)} ELSE 0 END)"
    }.mkString(" + ")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dedup_exact", dedupExact,
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin),
    QueryDef("dedup_minhash", dedupMinhash,
      s"""WITH $minhashBandsSql
        |SELECT id_a, id_b FROM cand""".stripMargin),
    QueryDef("dedup_simhash", dedupSimhash,
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |hh AS (SELECT doc_id, md5(token) AS h FROM tok),
        |s AS (SELECT doc_id,
        |${simhashSumsSql(16)}
        |FROM hh GROUP BY doc_id)
        |SELECT doc_id, CAST(${simhashPackSql(16)} AS BIGINT) AS simhash FROM s""".stripMargin),
    QueryDef("text_winnow", textWinnow,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
        |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
        |  FROM t WHERE len(toks) >= 3)
        |SELECT DISTINCT doc_id, unnest(list_transform(
        |  generate_series(1, greatest(len(sh) - 3, 1)),
        |  j -> list_min(list_slice(sh, j, j + 3)))) AS fp
        |FROM h""".stripMargin),
    QueryDef("dedup_winnow_pairs", dedupWinnowPairs,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
        |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |f AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |  generate_series(1, greatest(len(sh) - 3, 1)),
        |  j -> list_min(list_slice(sh, j, j + 3)))) AS fp
        |FROM h),
        |f2 AS (SELECT doc_id, fp FROM f
        |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) <= 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3""".stripMargin),
    QueryDef("dedup_simhash_pairs", dedupSimhashPairs,
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |hh AS (SELECT doc_id, md5(token) AS h FROM tok),
        |s AS (SELECT doc_id,
        |${simhashSumsSql(16)}
        |FROM hh GROUP BY doc_id),
        |sig AS (SELECT doc_id, CAST(${simhashPackSql(16)} AS BIGINT) AS simhash FROM s),
        |b AS (SELECT doc_id, simhash, u.band AS band,
        |  (simhash >> (u.band * 8)) & 255 AS bv
        |  FROM sig, unnest([0, 1]) AS u(band)),
        |b2 AS (SELECT doc_id, simhash, band, bv FROM b
        |  QUALIFY row_number() OVER (PARTITION BY band, bv ORDER BY doc_id) <= 1000),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |  a.simhash AS ha, c.simhash AS hb
        |  FROM b2 a JOIN b2 c ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 1""".stripMargin),
    QueryDef("dedup_recall", dedupRecall,
      s"""WITH ${bandSideSql("r", "doc_id % 2 = 0")},
        |mcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM b2r a JOIN b2r b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
        |tokr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |hhr AS (SELECT doc_id, md5(token) AS h FROM tokr),
        |ssr AS (SELECT doc_id,
        |${simhashSumsSql(16)}
        |FROM hhr GROUP BY doc_id),
        |sigr AS (SELECT doc_id, CAST(${simhashPackSql(16)} AS BIGINT) AS simhash FROM ssr),
        |sbr AS (SELECT doc_id, simhash, u.band AS band,
        |  (simhash >> (u.band * 8)) & 255 AS bv
        |  FROM sigr, unnest([0, 1]) AS u(band)),
        |sb2r AS (SELECT doc_id, simhash, band, bv FROM sbr
        |  QUALIFY row_number() OVER (PARTITION BY band, bv ORDER BY doc_id) <= 1000),
        |scand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM sb2r a JOIN sb2r c ON a.band = c.band AND a.bv = c.bv
        |    AND a.doc_id < c.doc_id AND bit_count(xor(a.simhash, c.simhash)) <= 1),
        |wtr AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 2 = 0),
        |whr AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
        |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS sh
        |  FROM wtr WHERE len(toks) >= 3),
        |wfr AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |  generate_series(1, greatest(len(sh) - 3, 1)),
        |  j -> list_min(list_slice(sh, j, j + 3)))) AS fp FROM whr),
        |wf2r AS (SELECT doc_id, fp FROM wfr
        |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) <= 1000),
        |wcand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM wf2r a JOIN wf2r b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3),
        |dsetr AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(toks) - 2),
        |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))) AS ts
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |    FROM documents WHERE doc_id % 2 = 0)
        |  WHERE len(toks) >= 3),
        |postsr AS (SELECT doc_id, unnest(ts) AS sh FROM dsetr),
        |sharedr AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM postsr x JOIN postsr y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |trur AS (SELECT s.id_a, s.id_b
        |  FROM sharedr s JOIN dsetr a ON s.id_a = a.doc_id
        |  JOIN dsetr b ON s.id_b = b.doc_id
        |  WHERE CAST(s.n_shared AS DOUBLE) /
        |    CAST(len(a.ts) + len(b.ts) - s.n_shared AS DOUBLE) >= 0.5),
        |mm AS (SELECT 'minhash' AS method, id_a, id_b FROM mcand
        |  UNION ALL SELECT 'simhash' AS method, id_a, id_b FROM scand
        |  UNION ALL SELECT 'winnow' AS method, id_a, id_b FROM wcand),
        |hh2 AS (SELECT mm.method, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM mm JOIN trur USING (id_a, id_b) GROUP BY mm.method),
        |nc AS (SELECT method, CAST(count(*) AS BIGINT) AS n_cand FROM mm GROUP BY method),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM trur),
        |mlr AS (SELECT unnest(['minhash', 'simhash', 'winnow']) AS method)
        |SELECT mlr.method AS method, tt.n_truth AS n_truth,
        |  coalesce(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
        |  coalesce(hh2.n_hits, CAST(0 AS BIGINT)) AS n_hits,
        |  CASE WHEN tt.n_truth > 0
        |    THEN CAST(coalesce(hh2.n_hits, 0) AS DOUBLE) / CAST(tt.n_truth AS DOUBLE) END AS recall,
        |  CASE WHEN coalesce(nc.n_cand, 0) > 0
        |    THEN CAST(coalesce(hh2.n_hits, 0) AS DOUBLE) / CAST(nc.n_cand AS DOUBLE) END AS prec
        |FROM mlr LEFT JOIN hh2 ON mlr.method = hh2.method
        |LEFT JOIN nc ON mlr.method = nc.method, tt""".stripMargin),
    QueryDef("dedup_clusters", dedupClusters,
      s"""WITH RECURSIVE $minhashBandsSql,
        |e AS (SELECT id_a AS src, id_b AS dst FROM cand
        |      UNION ALL SELECT id_b, id_a FROM cand),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS node, least(src, min(dst)) AS label
        |        FROM reach GROUP BY src)
        |SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id,
        |CAST(CASE WHEN COALESCE(l.label, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d LEFT JOIN lab l ON d.doc_id = l.node""".stripMargin),
    QueryDef("dedup_incremental", dedupIncremental,
      """WITH corpus AS (SELECT md5(text) AS text_hash FROM documents WHERE doc_id % 10 < 8),
        |batch AS (SELECT doc_id, md5(text) AS text_hash FROM documents WHERE doc_id % 10 >= 8)
        |SELECT text_hash, min(doc_id) AS doc_id, count(*) AS n_in_batch
        |FROM batch WHERE text_hash NOT IN (SELECT text_hash FROM corpus)
        |GROUP BY text_hash""".stripMargin),
    QueryDef("sample_token_budget", sampleTokenBudget,
      """WITH t AS (SELECT doc_id, source, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
        |SELECT doc_id, source, lang, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, source, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source, lang ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |WHERE cum_tokens <= 150""".stripMargin),
    QueryDef("sample_weighted", sampleWeighted, ""),
    QueryDef("sample_stratified", sampleStratified,
      """WITH b AS (SELECT doc_id, lang, source, n_chars,
        |  CAST((position(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1) * 16
        |     + (position(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) IN '0123456789abcdef') - 1) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars, bucket FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 77 WHEN 'de' THEN 128 ELSE 205 END""".stripMargin),
    QueryDef("text_quality_filter", textQualityFilter,
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, lang,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop
        |  FROM t),
        |s AS (SELECT doc_id, lang,
        |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio FROM f)
        |SELECT doc_id, lang, stop_ratio, q_rank FROM (
        |  SELECT doc_id, lang, stop_ratio,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY stop_ratio, doc_id) AS q_rank
        |  FROM s)
        |WHERE q_rank >= 0.25""".stripMargin),
    QueryDef("sample_mixture", sampleMixture,
      """SELECT doc_id, lang, source,
        |CAST(row_number() OVER (PARTITION BY source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |FROM documents
        |QUALIFY rn <= 15""".stripMargin),
    QueryDef("text_bpe_merges", textBpeMerges, bpeMergesOracle(8)),
    QueryDef("text_unigram_lm", textUnigramLm, unigramLmOracle()),
    QueryDef("text_bpe_segment", textBpeSegment, bpeSegmentOracle(8)),
    QueryDef("text_bpe_tokens", textBpeTokens,
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_pieces,
        |CAST(length(text) AS BIGINT) AS n_chars_actual,
        |CAST(length(text) AS DOUBLE) /
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS DOUBLE) AS chars_per_piece
        |FROM documents""".stripMargin),
    QueryDef("text_compress_ratio", textCompressRatio, ""),
    QueryDef("text_repetition", textRepetition,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |CASE WHEN len(toks) < 3 THEN 0.0
        |ELSE 1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |  i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))) AS DOUBLE)
        |  / CAST(len(toks) - 2 AS DOUBLE) END AS rep_ratio
        |FROM t""".stripMargin),
    QueryDef("text_pii_mask", textPiiMask,
      """WITH s AS (SELECT doc_id,
        |  concat(substr(text, 1, 40), ' contact u', CAST(doc_id AS VARCHAR),
        |         '@mail.example order ', CAST(n_chars * 1000 + doc_id AS VARCHAR)) AS synth
        |  FROM documents)
        |SELECT doc_id,
        |regexp_replace(regexp_replace(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |  '[0-9]{4,}', '<NUM>', 'g') AS masked,
        |CAST(len(regexp_extract_all(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
        |CAST(len(regexp_extract_all(regexp_replace(synth, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |  '[0-9]{4,}')) AS BIGINT) AS n_nums
        |FROM s""".stripMargin),
    QueryDef("text_decontaminate", textDecontaminate, decontaminateSql),
    // Bloom-prefiltered twin: the exact join removes every bloom false
    // positive, so the result — and therefore the oracle — is identical
    // to the unfiltered plan. What changes is the PLAN: the corpus side
    // is pruned map-side before the shuffle (see Decontaminate.overlapBloom).
    QueryDef("text_decontaminate_bloom", textDecontaminateBloom, decontaminateSql),
    QueryDef("dedup_ngram_jaccard", dedupNgramJaccard,
      s"""WITH $minhashBandsSql,
        |ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset FROM documents)
        |SELECT c.id_a, c.id_b,
        |CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) /
        |CAST(len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
        |  AS jaccard
        |FROM cand c JOIN ts a ON c.id_a = a.doc_id JOIN ts b ON c.id_b = b.doc_id""".stripMargin),
    QueryDef("dedup_embed_cosine", dedupEmbedCosine,
      s"""WITH $preparedSql,
        |nc AS (SELECT vec_id, label, qv, nrm FROM n0
        |  QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) <= 1000)
        |SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
        |    ${dotSql("a.qv", "b.qv")} /
        |    (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS score
        |  FROM nc a JOIN nc b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE score >= 0.3""".stripMargin),
    QueryDef("dedup_embed_lsh", dedupEmbedLsh,
      s"""WITH $preparedSql,
        |nb AS (SELECT vec_id, label, qv, nrm,
        |  CAST(list_sum(list_transform(generate_series(1, 8),
        |    i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM n0)
        |SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
        |    ${dotSql("a.qv", "b.qv")} /
        |    (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS score
        |  FROM nb a JOIN nb b ON a.label = b.label AND a.bucket = b.bucket
        |    AND a.vec_id < b.vec_id)
        |WHERE score >= 0.3""".stripMargin),
    QueryDef("dedup_embed_clusters", dedupEmbedClusters,
      s"""WITH RECURSIVE $preparedSql,
        |nc AS (SELECT vec_id, label, qv, nrm FROM n0
        |  QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) <= 1000),
        |p AS (SELECT * FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${dotSql("a.qv", "b.qv")} /
        |    (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS score
        |  FROM nc a JOIN nc b ON a.label = b.label AND a.vec_id < b.vec_id)
        |  WHERE score >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS node, least(src, min(dst)) AS label
        |        FROM reach GROUP BY src)
        |SELECT emb.vec_id, COALESCE(l.label, emb.vec_id) AS cluster_id,
        |CAST(CASE WHEN COALESCE(l.label, emb.vec_id) = emb.vec_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM embeddings emb LEFT JOIN lab l ON emb.vec_id = l.node""".stripMargin),
    QueryDef("ann_bruteforce", annBruteforce,
      s"""WITH $preparedSql,
        |q AS (SELECT vec_id AS q_id, qv AS q_qv, nrm AS q_nrm FROM n0 WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS c_id, qv AS c_qv, nrm AS c_nrm FROM n0)
        |SELECT q_id, c_id, rank, score FROM (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
        |  FROM (SELECT q.q_id, c.c_id,
        |    ${dotSql("q.q_qv", "c.c_qv")} /
        |    (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS score
        |    FROM q JOIN c ON q.q_id <> c.c_id))
        |WHERE rank <= 3""".stripMargin),
    QueryDef("ann_ivf", annIvf,
      s"""WITH $preparedSql,
        |q AS (SELECT vec_id AS q_id, label AS q_label, qv AS q_qv, nrm AS q_nrm
        |  FROM n0 WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS c_id, label AS c_label, qv AS c_qv, nrm AS c_nrm FROM n0)
        |SELECT q_id, c_id, rank, score FROM (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
        |  FROM (SELECT q.q_id, c.c_id,
        |    ${dotSql("q.q_qv", "c.c_qv")} /
        |    (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS score
        |    FROM q JOIN c ON q.q_label = c.c_label AND q.q_id <> c.c_id))
        |WHERE rank <= 3""".stripMargin),
    QueryDef("dedup_incremental_minhash", dedupIncrementalMinhash,
      s"""WITH ${bandSideSql("b", "doc_id % 10 >= 8")},
        |${bandSideSql("c", "doc_id % 10 < 8")}
        |SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |FROM b2b b JOIN b2c c ON b.band = c.band AND b.h = c.h""".stripMargin),
    QueryDef("sample_shuffle_shards", sampleShuffleShards, {
      // mirror of Sampling.hashBucket32: 8 md5 hex digits -> [0, 2^32)
      val digits32 = (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(position(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1) IN '0123456789abcdef') - 1) * $w"
      }.mkString(" + ")
      s"""WITH b AS (SELECT doc_id, lang,
        |  CAST($digits32 AS BIGINT) % 8 AS shard
        |  FROM documents)
        |SELECT doc_id, lang, shard,
        |CAST(row_number() OVER (PARTITION BY shard
        |  ORDER BY md5('e0' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
        |FROM b""".stripMargin
    }),
    QueryDef("sample_split", sampleSplit,
      """WITH b AS (SELECT doc_id, lang, source,
        |  CAST((position(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1) * 16
        |     + (position(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) IN '0123456789abcdef') - 1) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, source, bucket,
        |CASE WHEN bucket < 13 THEN 'val'
        |     WHEN bucket < 26 THEN 'test'
        |     ELSE 'train' END AS split FROM b""".stripMargin),
    QueryDef("a12_vector_sum", a12VectorSum,
      s"""WITH q AS (SELECT label, $qvSql AS qv FROM embeddings),
        |u AS (SELECT label, u.i AS dim, qv[u.i] AS v
        |  FROM q, unnest(generate_series(1, len(qv))) AS u(i))
        |SELECT label, CAST(dim AS BIGINT) AS dim, CAST(sum(v) AS BIGINT) AS s
        |FROM u GROUP BY label, dim""".stripMargin),
    QueryDef("ann_ivf_trained", annIvfTrained, ivfTrainedSql(100)),
    QueryDef("ann_pq", annPq, pqSql(100)),
    QueryDef("ann_pq_rerank", annPqRerank, pqRerankSql(100)),
    QueryDef("ann_ivfpq", annIvfPq, ivfPqSql(100)),
    QueryDef("ann_ivfpq_res", annIvfPqRes, ivfPqResidualSql(100)),
    QueryDef("ann_recall", annRecall, annRecallSql),
    QueryDef("ann_lsh_multi", annLshMulti,
      s"""WITH $preparedSql,
        |${lshMultiCtes(100)}
        |SELECT q_id, c_id, rank, score FROM mlshres""".stripMargin),
    // search-only twin: same trained quantizer (the oracle retrains —
    // DuckDB has no index to reuse; the Spark side searches the cached
    // one), different query set so the two results are distinct.
    QueryDef("ann_ivf_trained_search", annIvfTrainedSearch, ivfTrainedSql(50)),
    QueryDef("text_tokens", textTokens,
      """SELECT doc_id, n_chars,
        |CAST(length(text) AS BIGINT) AS n_chars_actual,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique
        |FROM documents""".stripMargin),
    QueryDef("text_quality", textQuality,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_tok_len
        |  FROM t)
        |SELECT doc_id, n_tokens, n_stop,
        |CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len
        |FROM f""".stripMargin),
    QueryDef("text_classify", textClassify,
      graft.ops.Classify.scoreLinearSql(classifyWeights, classifyBias,
        classifyThreshold)),
    QueryDef("text_length_percentile", textLengthPercentile,
      """SELECT doc_id, source,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |percent_rank() OVER (PARTITION BY source
        |  ORDER BY len(string_split(text, ' ')), doc_id) AS len_pct,
        |cume_dist() OVER (PARTITION BY source
        |  ORDER BY len(string_split(text, ' ')), doc_id) AS len_cume
        |FROM documents""".stripMargin),
    QueryDef("text_postings", textPostings,
      """SELECT token, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
        |string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
        |FROM (SELECT doc_id, u.p AS pos, w[u.p] AS token
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |      LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS p) u)
        |GROUP BY token, doc_id""".stripMargin),
    QueryDef("text_chunks_cdc", textChunksCdc,
      s"""WITH $cdcChunkCtes
        |SELECT doc_id, chunk_start, chunk_end, n_chunk_words, chunk_hash
        |FROM cdc""".stripMargin),
    QueryDef("dedup_cdc_chunks", dedupCdcChunks,
      s"""WITH $cdcChunkCtes
        |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_occ,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(min(n_chunk_words) AS BIGINT) AS n_words
        |FROM cdc GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1""".stripMargin),
    QueryDef("sample_best_per_source", sampleBestPerSource,
      graft.ops.Classify.bestPerSourceSql(classifyWeights, classifyBias, k = 3)),
    QueryDef("text_vocab_coverage", textVocabCoverage,
      """WITH c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |tk AS (SELECT token, cnt FROM c
        |  QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 100)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank,
        |  token, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(t.total AS DOUBLE) AS cum_share
        |FROM tk, t""".stripMargin),
    QueryDef("text_langid", textLangid,
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS en_score,
        |  CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS de_score
        |  FROM t)
        |SELECT doc_id, lang, en_score, de_score,
        |CASE WHEN en_score > de_score THEN 'en'
        |     WHEN de_score > en_score THEN 'de'
        |     ELSE 'unk' END AS lang_guess FROM f""".stripMargin),
    QueryDef("text_fingerprint", textFingerprint,
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, substr(md5(lower(text)), 1, 16) AS fp,
        |CASE WHEN len(toks) >= 5 THEN
        |  list_min(list_transform(generate_series(1, len(toks) - 4),
        |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3], ' ', toks[i+4]))))
        |ELSE NULL END AS min_shingle_fp FROM t""".stripMargin),
    QueryDef("mm_dedup_pairs", mmDedupPairs,
      s"""WITH $mmHashSql
        |SELECT media_a, media_b, hamming FROM mmpairs""".stripMargin),
    QueryDef("mm_dedup_clusters", mmDedupClusters,
      s"""WITH RECURSIVE $mmHashSql,
        |e AS (SELECT media_a AS src, media_b AS dst FROM mmpairs
        |      UNION ALL SELECT media_b, media_a FROM mmpairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS node, least(src, min(dst)) AS label
        |        FROM reach GROUP BY src)
        |SELECT d.doc_id AS media_id, COALESCE(l.label, d.doc_id) AS cluster_id,
        |CAST(CASE WHEN COALESCE(l.label, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d LEFT JOIN lab l ON d.doc_id = l.node""".stripMargin),
    QueryDef("mm_frames", mmFrames,
      """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |f AS (SELECT doc_id, unnest(generate_series(0, greatest(len // 256, 1) - 1, 2)) AS frame_index,
        |  text FROM t)
        |SELECT doc_id AS media_id, frame_index,
        |octet_length(encode(substr(text, CAST(frame_index * 256 + 1 AS INTEGER), 256))) AS n_frame_bytes,
        |md5(substr(text, CAST(frame_index * 256 + 1 AS INTEGER), 256)) AS frame_hash
        |FROM f""".stripMargin),
    QueryDef("mm_features", mmFeatures,
      """SELECT doc_id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
        |CAST((octet_length(encode(text)) // 640) % 480 AS BIGINT) AS height,
        |md5(text) AS content_hash FROM documents""".stripMargin),
    QueryDef("pack_sequences", packSequences, {
      // mirror of Sampling.hashBucket32 (see sample_shuffle_shards):
      // pack shards by the 32-bit hash, not the 256-bucket one
      val digits32 = (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(position(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1) IN '0123456789abcdef') - 1) * $w"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST($digits32 AS BIGINT) % 8 AS shard
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |  CAST(unnest(generate_series(0, greatest(0, (n_tokens - 1) // 256))) AS BIGINT) AS chunk_idx
        |  FROM t),
        |k AS (SELECT doc_id, shard, chunk_idx,
        |  CAST(least(256, n_tokens - chunk_idx * 256) AS BIGINT) AS chunk_tokens FROM c),
        |w AS (SELECT doc_id, chunk_idx, shard, chunk_tokens,
        |  CAST(sum(chunk_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx) AS BIGINT)
        |    - chunk_tokens AS start_tok FROM k)
        |SELECT doc_id, chunk_idx, shard, chunk_tokens, start_tok,
        |start_tok // 256 AS seq_id, start_tok % 256 AS seq_off FROM w""".stripMargin
    }),
    QueryDef("text_unigram_score", textUnigramScore,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
        |j AS (SELECT t.doc_id, f.tf FROM tok t JOIN freq f ON t.token = f.token)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |CAST(sum(tf) AS BIGINT) AS sum_tok_freq,
        |CAST(sum(CASE WHEN tf < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tok_freq
        |FROM j GROUP BY doc_id""".stripMargin),
    QueryDef("sample_temperature", sampleTemperature,
      """WITH d AS (SELECT doc_id, lang, source FROM documents),
        |c AS (SELECT source AS s, count(*) AS n_s FROM d WHERE source IS NOT NULL GROUP BY source),
        |m AS (SELECT min(n_s) AS n_min FROM c),
        |r AS (SELECT s, sqrt(CAST(n_min AS DOUBLE) / CAST(n_s AS DOUBLE)) * 256.0 AS rate256 FROM c, m),
        |b AS (SELECT doc_id, lang, source,
        |  CAST((position(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1) * 16
        |     + (position(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) IN '0123456789abcdef') - 1) AS BIGINT) AS bucket
        |  FROM d)
        |SELECT doc_id, lang, source, bucket FROM b JOIN r ON b.source = r.s
        |WHERE CAST(bucket AS DOUBLE) < rate256""".stripMargin),
    QueryDef("dedup_keep_best", dedupKeepBest,
      s"""WITH RECURSIVE $minhashBandsSql,
        |e AS (SELECT id_a AS src, id_b AS dst FROM cand
        |      UNION ALL SELECT id_b, id_a FROM cand),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS node, least(src, min(dst)) AS label
        |        FROM reach GROUP BY src),
        |cl AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS cluster_id, d.n_chars
        |       FROM documents d LEFT JOIN lab l ON d.doc_id = l.node)
        |SELECT doc_id, cluster_id, n_chars,
        |CAST(CASE WHEN row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) = 1
        |  THEN 1 ELSE 0 END AS BIGINT) AS keep_best
        |FROM cl""".stripMargin),
    QueryDef("text_boilerplate", textBoilerplate,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |  i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))) AS sh FROM t WHERE len(toks) >= 3),
        |f AS (SELECT sh, count(*) AS n_docs FROM s GROUP BY sh),
        |j AS (SELECT s.doc_id, f.n_docs FROM s JOIN f ON s.sh = f.sh)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |CAST(CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE) AS shared_frac
        |FROM j GROUP BY doc_id""".stripMargin),
    // Exact duplicated-span detection (the suffix-array span-dedup result
    // at k-word resolution) — anchors = repeated 8-gram hashes, merged
    // into islands per doc. Oracle mirrors tokenization, hash string,
    // island rule (gap <= k merges) and the double division verbatim.
    QueryDef("text_dup_spans", textDupSpans,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT t.doc_id, g.i AS pos, md5(array_to_string(t.w[g.i:g.i+7], ' ')) AS h
        |  FROM toks t, LATERAL (SELECT unnest(generate_series(1, len(t.w) - 7)) AS i) g
        |  WHERE len(t.w) >= 8),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
        |dpos AS (SELECT s.doc_id, s.pos FROM sh s WHERE s.h IN (SELECT h FROM dup)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |         THEN 0 ELSE 1 END AS b
        |  FROM dpos),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk),
        |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) AS e
        |          FROM isl GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |        CAST(sum(e - s + 8) AS BIGINT) AS dup_words FROM spans GROUP BY doc_id),
        |nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM toks)
        |SELECT a.doc_id, a.n_spans, a.dup_words,
        |  CAST(a.dup_words AS DOUBLE) / CAST(n.n_words AS DOUBLE) AS dup_frac
        |FROM agg a JOIN nw n ON a.doc_id = n.doc_id""".stripMargin),
    // Span-level contamination: merged islands of bench-matching 8-gram
    // anchors per train doc — span_end/span_words extend the last anchor
    // by k-1 words. Same %20 split as text_decontaminate.
    QueryDef("text_decontaminate_spans", textDecontaminateSpans,
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 20 <> 0),
        |be AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 20 = 0),
        |trs AS (SELECT t.doc_id, g.i AS pos, md5(array_to_string(t.w[g.i:g.i+7], ' ')) AS h
        |  FROM tr t, LATERAL (SELECT unnest(generate_series(1, len(t.w) - 7)) AS i) g
        |  WHERE len(t.w) >= 8),
        |bes AS (SELECT DISTINCT md5(array_to_string(b.w[g.i:g.i+7], ' ')) AS h
        |  FROM be b, LATERAL (SELECT unnest(generate_series(1, len(b.w) - 7)) AS i) g
        |  WHERE len(b.w) >= 8),
        |hit AS (SELECT doc_id, pos FROM trs WHERE h IN (SELECT h FROM bes)),
        |brk AS (SELECT doc_id, pos,
        |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |       THEN 0 ELSE 1 END AS b FROM hit),
        |isl AS (SELECT doc_id, pos,
        |  sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk)
        |SELECT doc_id AS train_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
        |  CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_words
        |FROM isl GROUP BY doc_id, island""".stripMargin),
    // Overlapping word chunking: starts at 1, 1+48, ... while <= n_words;
    // window clamps at the doc end. Chunk content compared by md5 of the
    // space-joined slice (identical string in both engines).
    QueryDef("text_chunks", textChunks,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
        |           FROM documents)
        |SELECT t.doc_id, CAST(g.s AS BIGINT) AS chunk_start,
        |  CAST(least(64, t.n - g.s + 1) AS BIGINT) AS n_chunk_words,
        |  md5(array_to_string(t.w[g.s:g.s+63], ' ')) AS chunk_hash
        |FROM t, LATERAL (SELECT unnest(generate_series(1, t.n, 48)) AS s) g""".stripMargin),
    // Actionable span dedup: every duplicated 8-gram window removed
    // except the corpus-first occurrence of its hash. The oracle's
    // row_number-over-h is the window formulation of the Spark side's
    // min(struct(doc_id,pos)) aggregate — same foreign set.
    QueryDef("text_strip_dup_spans", textStripDupSpans,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT t.doc_id, g.i AS pos, md5(array_to_string(t.w[g.i:g.i+7], ' ')) AS h
        |       FROM toks t, LATERAL (SELECT unnest(generate_series(1, len(t.w) - 7)) AS i) g
        |       WHERE len(t.w) >= 8),
        |foreign_a AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM sh) WHERE rn >= 2),
        |cov AS (SELECT DISTINCT f.doc_id, f.pos + u.i AS wp
        |        FROM foreign_a f, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) u),
        |wpos AS (SELECT t.doc_id, g.i AS p, t.w[g.i] AS word
        |         FROM toks t, LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS i) g),
        |kept AS (SELECT a.doc_id, a.p, a.word FROM wpos a
        |         LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.wp WHERE c.wp IS NULL),
        |ag AS (SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS clean_text,
        |       CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
        |nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM toks)
        |SELECT n.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        |  n.n_words - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_removed
        |FROM nw n LEFT JOIN ag a ON n.doc_id = a.doc_id""".stripMargin),
    QueryDef("mixture_report", mixtureReport,
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source, lang),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM c)
        |SELECT c.source, c.lang, c.n_docs, c.n_tokens,
        |  CAST(c.n_docs AS DOUBLE) / CAST(t.t_docs AS DOUBLE) AS doc_share,
        |  CAST(c.n_tokens AS DOUBLE) / CAST(t.t_tokens AS DOUBLE) AS token_share
        |FROM c, t""".stripMargin),
    QueryDef("text_ngram_topk", textNgramTopK,
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
        |  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS gram FROM t),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY gram)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, gram) AS INTEGER) AS rank, gram, n
        |FROM c ORDER BY n DESC, gram LIMIT 20""".stripMargin),
    QueryDef("profile_histogram", profileHistogram,
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents)
        |SELECT CAST(floor(CAST(v AS DOUBLE) / 10) AS BIGINT) * 10 AS bucket_lo,
        |  CAST(floor(CAST(v AS DOUBLE) / 10) AS BIGINT) * 10 + 10 AS bucket_hi,
        |  CAST(count(*) AS BIGINT) AS n, min(v) AS min_v, max(v) AS max_v
        |FROM t GROUP BY 1, 2""".stripMargin),
    // One-scan column profiler; the oracle's UNION ALL re-reads the table
    // per column — the RESULT contract is identical, the Spark plan is
    // the one-pass Expand form (see ops/Profile).
    QueryDef("profile_columns", profileColumns,
      """SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |  CAST(min(doc_id) AS VARCHAR) AS min_str, CAST(max(doc_id) AS VARCHAR) AS max_str
        |FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(count(*) AS BIGINT), CAST(count(*) - count(lang) AS BIGINT),
        |  CAST(count(DISTINCT lang) AS BIGINT), CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'source', CAST(count(*) AS BIGINT), CAST(count(*) - count(source) AS BIGINT),
        |  CAST(count(DISTINCT source) AS BIGINT), CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(count(*) - count(n_chars) AS BIGINT),
        |  CAST(count(DISTINCT n_chars) AS BIGINT), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents""".stripMargin)
  )
}
