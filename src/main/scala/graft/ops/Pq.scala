package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric-distance (ADC) scoring —
  * the compressed-domain ANN tier (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011).
  *
  * The vector space splits into `m` disjoint coordinate subspaces; each
  * subspace gets its own small k-means codebook (`k` codes), and a
  * vector is stored as its `m` nearest sub-codes — 64 quantized longs
  * collapse to m=8 single-byte codes plus one reconstruction norm. A
  * query is NOT quantized (that is the "asymmetric" in ADC): it
  * precomputes, per subspace, the exact dot of its own sub-vector with
  * each of the k sub-centroids — an m×k lookup table — and scoring a
  * candidate is m table lookups + adds instead of a d-dim dot.
  *
  * Why this is THE 100 TB tier: the searched relation is the code
  * table, ~8 bytes/vector instead of ~512 — two orders of magnitude
  * less I/O and cache traffic per scored pair, which is what makes an
  * exhaustive compressed-domain scan viable where a raw-vector scan is
  * not. Candidate pruning composes orthogonally: the coarse IVF
  * quantizer ([[Similarity.kmeansCentroids]]) bounds WHICH codes are
  * scored, PQ bounds the COST of each score (IVFADC).
  *
  * Determinism (the property every ANN op here shares): training,
  * encoding, and the ADC numerator are exact integer arithmetic over
  * the milli-unit quantization of [[Similarity.prep]] — sub-centroids
  * are rounded-integer means, assignment argmin ranks by
  * (−2·x·c + ‖c‖², code), the dot tables are exact integer dots — so
  * every decision is bit-reproducible in any engine and any partition
  * order; only the final cosine division runs in IEEE doubles. That is
  * what lets the trained index hash-match a DuckDB replay
  * (`ann_pq` in PipelineQueries).
  *
  * Scale shape of training: per Lloyd round, assignment is a map-side
  * argmin against DRIVER-HELD codebooks (m×k×(d/m) longs — metadata
  * scale, the MLlib pattern), and the mean recompute is ONE
  * (sub, code)-keyed aggregate whose buffer is a (d/m)-long primitive
  * array. No N×k blow-up exists anywhere; the corpus is persisted for
  * the duration so parquet read + quantize run once, not per round.
  */
object Pq {

  /** One sub-codebook entry: subspace `sub` (0-based), code id `code`
    * (1-based, ascending — the argmin tie-break contract), the
    * sub-centroid vector and its exact squared norm. The full codebook
    * is m×k of these — driver-held, like a partition list. */
  final case class Book(sub: Int, code: Long, cv: Vector[Long], cnrm: Long)

  /** Guard: PQ slices coordinates [sub·dsub+1, (sub+1)·dsub], so a
    * vector shorter than `dims` would silently contribute nulls to the
    * tail subspaces and corrupt the codebook — fail loudly per row
    * instead (the lshTopKMulti convention). */
  private def checkedQv(dims: Int): Column =
    when(size(col("qv")) === dims, col("qv"))
      .otherwise(raise_error(concat(
        lit(s"Pq: expected $dims-dim vectors, got "),
        size(col("qv")).cast("string"))))

  /** Train the m sub-codebooks: deterministic seeding (the k corpus
    * rows with the smallest (md5(vec_id), vec_id) seed EVERY subspace
    * with their sub-vectors), then `iters` Lloyd rounds of map-side
    * assign + one (sub, code)-keyed rounded-integer-mean aggregate.
    * Returns the (sub, code)-sorted codebook; codes that lose all
    * members vanish (standard k-means collapse), so a sub-codebook may
    * hold fewer than k live codes. */
  def trainCodebooks(embeddings: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 2, dims: Int = 64): Array[Book] = {
    require(m >= 1 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    require(k >= 1 && iters >= 0, "k and iters must be positive")
    val dsub = dims / m
    val vecs = Similarity.prep(embeddings)
      .select(col("vec_id"), checkedQv(dims).as("qv"))
    vecs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // TakeOrderedAndProject (partial top-k per partition) — never a
      // global sort; k rows land on the driver
      val seedRows = vecs.withColumn("seed_r", md5(col("vec_id").cast("string")))
        .orderBy(col("seed_r"), col("vec_id")).limit(k)
        .collect()
        .sortBy(r => (r.getAs[String]("seed_r"), r.getAs[Long]("vec_id")))
      require(seedRows.nonEmpty, "PQ requires a non-empty corpus to seed from")
      var books: Array[Book] = (for {
        t <- 0 until m
        (r, i) <- seedRows.zipWithIndex
      } yield {
        val sv = r.getAs[scala.collection.Seq[Long]]("qv")
          .slice(t * dsub, (t + 1) * dsub).toVector
        Book(t, i + 1L, sv, sqNormOf(sv))
      }).toArray
      var it = 0
      while (it < iters) {
        // one pass: m map-side argmin columns, then ONE skinny
        // (sub, code, sqv) explode into the mean aggregate
        val assigned = withCodes(vecs, books, m, dsub)
        val exploded = assigned.select(explode(array((0 until m).map(t =>
            struct(lit(t).as("sub"), col(s"code_$t").as("code"),
              slice(col("qv"), t * dsub + 1, dsub).as("sqv"))): _*)).as("e"))
          .select(col("e.sub").as("sub"), col("e.code").as("code"), col("e.sqv").as("sqv"))
        books = exploded.groupBy(col("sub"), col("code"))
          .agg(graft.expr.VectorSum.vectorSumLong(col("sqv")).as("sv"),
            count(lit(1)).as("c"))
          .select(col("sub"), col("code"),
            transform(col("sv"),
              v => round(v.cast("double") / col("c").cast("double")).cast("long")).as("cv"))
          .collect()
          .map { r =>
            val cv = r.getAs[scala.collection.Seq[Long]]("cv").toVector
            Book(r.getAs[Int]("sub"), r.getAs[Long]("code"), cv, sqNormOf(cv))
          }
          .sortBy(b => (b.sub, b.code))
        it += 1
      }
      books
    } finally vecs.unpersist(blocking = false)
  }

  private def sqNormOf(v: Vector[Long]): Long = v.foldLeft(0L)((s, x) => s + x * x)

  /** Map-side per-subspace nearest-code argmin: m stable calls into the
    * CellKernels expression (one per subspace — the codebooks ride as
    * driver-held references, so Janino compiles each call site once). */
  private def withCodes(vecs: DataFrame, books: Array[Book], m: Int,
      dsub: Int): DataFrame =
    (0 until m).foldLeft(vecs) { (df, t) =>
      val bs = books.filter(_.sub == t)
      require(bs.nonEmpty, s"subspace $t lost every code — corpus degenerate")
      df.withColumn(s"code_$t",
        graft.expr.CellExprs.nearestCell(slice(col("qv"), t * dsub + 1, dsub),
          bs.map(_.cv.toArray), bs.map(_.cnrm), bs.map(_.code)))
    }

  /** Encode the corpus against a trained codebook: (vec_id, code_0..,
    * rnrm) where rnrm = Σ_sub ‖c_sub‖² is the EXACT squared norm of the
    * reconstruction (subspaces are disjoint coordinates, so no cross
    * terms exist). This relation — m byte-sized codes + one long per
    * vector — IS the stored index. */
  def encode(embeddings: DataFrame, books: Array[Book], m: Int = 8,
      dims: Int = 64): DataFrame = {
    require(books.nonEmpty, "encode: empty codebook (corrupt index read?)")
    val dsub = dims / m
    val k = books.map(_.code).max.toInt
    val base = Similarity.prep(embeddings)
    // a coarse-cell column (from Similarity.assignCells) rides through:
    // IVFADC stores (cell, codes, rnrm) and prunes on cell at search
    val keep = col("vec_id") +:
      (if (base.columns.contains("cell")) Seq(col("cell")) else Nil)
    val coded = withCodes(base.select(keep :+ checkedQv(dims).as("qv"): _*),
      books, m, dsub)
    // rnrm via per-subspace literal lookup grids (k longs each; codes
    // that collapsed during training never appear in code_t, their slot
    // is a never-read 0)
    val rnrm = (0 until m).map { t =>
      val grid = Array.tabulate(k) { j =>
        books.find(b => b.sub == t && b.code == j + 1L).map(_.cnrm).getOrElse(0L)
      }
      element_at(typedlit(grid.toSeq), col(s"code_$t").cast("int"))
    }.reduce(_ + _)
    coded.select(keep ++ (0 until m).map(t => col(s"code_$t")) :+
      rnrm.as("rnrm"): _*)
  }

  /** The flattened m×k dot table of EXACT integer dots
    * ⟨q_sub, c_(sub,code)⟩ — position sub·k + code; collapsed codes get
    * a never-read 0 slot. */
  private def dtfExpr(books: Array[Book], m: Int, dims: Int, codes: Int): Column = {
    // a stored code larger than the declared table width would make
    // adcNumerator read a NEIGHBORING subspace's dot slot — silent
    // ranking corruption, so the mismatch fails at plan build
    require(books.forall(b => b.code >= 1 && b.code <= codes && b.sub < m),
      s"codebook exceeds the declared m=$m x codes=$codes table " +
        s"(max sub=${books.map(_.sub).max}, max code=${books.map(_.code).max})")
    val dsub = dims / m
    // ONE kernel expression with the codebook as a reference object.
    // The previous form — an array() of m·codes slice+dot column
    // subtrees — generated a projection so large that Janino compile
    // dominated every cold PQ query (~3 s for a table evaluated on
    // dozens of query rows); the kernel's generated code is one static
    // call, same exact integer results (PqSpec's degenerate-case pins
    // cover the equivalence).
    val cvs = Array.fill[Array[Long]](m * codes)(null)
    books.foreach(b => cvs(b.sub * codes + (b.code.toInt - 1)) = b.cv.toArray)
    graft.expr.ArrayExprs.pqDotTable(col("qv"), cvs, codes, dsub)
  }

  /** ADC numerator: m table lookups + adds over the candidate's codes. */
  private def adcNumerator(m: Int, codes: Int): Column =
    (0 until m).map(t =>
      element_at(col("dtf"), (lit(t * codes) + col(s"code_$t")).cast("int")))
      .reduce(_ + _)

  /** ADC top-k: score every candidate's CODES against each query's
    * precomputed dot table. The query set must be broadcast-sized (the
    * [[Similarity.bruteForceTopK]] contract); candidates are the
    * encoded relation — at scale, compose with the coarse IVF cell as
    * an equi-join key to prune candidates first (IVFADC), exactly as
    * [[Similarity.ivfSearch]] does for raw vectors.
    *
    * Query preprocessing: dtf is the flattened m×k table of EXACT
    * integer dots ⟨q_sub, c_(sub,code)⟩ — position sub·k + code. Pair
    * scoring is then m element_at lookups + adds, and the cosine uses
    * the reconstruction norm: ⟨q, recon(c)⟩ / (‖q‖·‖recon(c)‖). */
  def adcTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      books: Array[Book], m: Int = 8, dims: Int = 64, codes: Int = 16): DataFrame = {
    val cand = encode(embeddings, books, m, dims)
    val q = Similarity.prep(queries)
      .select(col("vec_id").as("q_id"), checkedQv(dims).as("qv"), col("nrm").as("q_nrm"))
      .withColumn("dtf", dtfExpr(books, m, dims, codes)).drop("qv")
    val scored = cand.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("score", adcNumerator(m, codes).cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("rnrm").cast("double"))))
      .select(col("q_id"), col("vec_id").as("c_id"), col("score"))
    Similarity.topK(scored, k)
  }

  /** IVFADC+R — the full production composition: the coarse quantizer
    * prunes WHICH candidates are scored (each candidate lives in one
    * cell; a query probes its `nprobe` nearest — O(Q·N·nprobe/nlist)
    * pairs), PQ codes bound the COST of each score (m lookups), and the
    * exact rerank of the `shortlist` repairs the quantization loss at
    * the top of the ranking. At 100 TB this is the only all-three
    * configuration: scan volume pruned by cell, scan bytes compressed
    * ~64x, exact math only on Q·shortlist fetched rows. */
  def ivfAdcRerankTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      books: Array[Book], centroids: DataFrame, nprobe: Int = 2,
      shortlist: Int = 32, m: Int = 8, dims: Int = 64, codes: Int = 16): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val index = encode(Similarity.assignCells(Similarity.prep(embeddings), centroids),
      books, m, dims)
    val q = Similarity.probeCells(Similarity.prep(queries), centroids, nprobe)
      .select(col("vec_id").as("q_id"), col("cell"),
        checkedQv(dims).as("qv"), col("nrm").as("q_nrm"))
      .withColumn("dtf", dtfExpr(books, m, dims, codes)).drop("qv")
    // equi-join on cell: candidates shuffle/bucket ONCE by cell and a
    // (q, c) pair matches at most once (one cell per candidate); the
    // q_id == vec_id filter is the self-match guard every ANN entry
    // point here shares
    val scored = index.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("score", adcNumerator(m, codes).cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("rnrm").cast("double"))))
      .select(col("q_id"), col("vec_id").as("c_id"), col("score"))
    rerank(Similarity.topK(scored, shortlist), embeddings, queries, k)
  }

  /** Two-stage search — the production configuration (IVFADC+R,
    * Jégou et al. §V): ADC over the compressed codes builds a
    * `shortlist`-sized candidate set per query (cheap, compressed-
    * domain, the 100 TB scan), then ONLY those Q·shortlist candidates
    * are re-scored against their raw vectors for exact cosine order.
    * The rerank repairs what quantization loses at the top of the
    * ranking (measured at sf0.1: recall@3 0.10 pure-ADC → with a
    * 32-deep rerank the shortlist recall bound applies) while the
    * exact-scoring volume stays Q·shortlist, independent of corpus
    * size — the raw vectors are fetched by ONE equi-join on vec_id,
    * never scanned. */
  def adcRerankTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      books: Array[Book], m: Int = 8, dims: Int = 64, codes: Int = 16,
      shortlist: Int = 32): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    rerank(adcTopK(embeddings, queries, shortlist, books, m, dims, codes),
      embeddings, queries, k)
  }

  /** The rerank stage alone, over an already-computed (q_id, c_id)
    * shortlist — split out so a caller holding the shortlist (the
    * recall harness derives BOTH the pure-ADC result and the reranked
    * one from a single depth-32 ADC pass) pays the O(Q·N) compressed
    * scan once, not per consumer. */
  def rerank(shortlist: DataFrame, embeddings: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val c = Similarity.prep(embeddings)
      .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("nrm").as("c_nrm"))
    val q = Similarity.prep(queries)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
    val scored = shortlist.select(col("q_id"), col("c_id"))
      .join(c, Seq("c_id")).join(broadcast(q), Seq("q_id"))
      .withColumn("score",
        Similarity.cosine(col("q_qv"), col("c_qv"), col("q_nrm"), col("c_nrm")))
      .select(col("q_id"), col("c_id"), col("score"))
    Similarity.topK(scored, k)
  }

  // ---- residual IVFADC (the original Jégou formulation) --------------------

  /** Driver-held coarse centroids as (cell → cv) structures for the
    * residual arithmetic; slot 0 unused, vanished cells hold zero
    * vectors that no assignment can reference. */
  private def centGrid(centroids: DataFrame, dims: Int): Array[Array[Long]] = {
    val rows = centroids.select(col("cell"), col("cv")).collect()
      .map(r => r.getAs[Long]("cell").toInt ->
        r.getAs[scala.collection.Seq[Long]]("cv").toArray)
    val maxCell = rows.map(_._1).max
    val grid = Array.fill(maxCell + 1)(Array.fill(dims)(0L))
    rows.foreach { case (c, v) => grid(c) = v }
    grid
  }

  /** (vec_id, cell, qv = x − coarse_centroid(x)): the residual relation
    * both residual training and residual encoding consume. Map-side —
    * the centroid matrix rides as a plan literal, subtraction is the
    * native sub_long kernel. */
  private def residuals(embeddings: DataFrame, centroids: DataFrame,
      dims: Int): DataFrame = {
    val grid = centGrid(centroids, dims)
    val withCell = Similarity.assignCells(Similarity.prep(embeddings), centroids)
    withCell.select(col("vec_id"), col("cell"),
      graft.expr.ArrayExprs.subLong(checkedQv(dims),
        // element_at is 1-based; grid slot c holds cell c's centroid
        element_at(typedlit(grid.map(_.toSeq).toSeq),
          col("cell").cast("int") + 1)).as("qv"))
  }

  /** Train PQ codebooks on RESIDUALS (x − coarse centroid) — the
    * original IVFADC design: residuals cluster around zero regardless
    * of which cell a vector lives in, so the m×k codebook models the
    * local displacement instead of re-spending codes on the coarse
    * position the cell id already encodes. Same deterministic
    * discipline as [[trainCodebooks]] (which this delegates to —
    * [[Similarity.prep]] passes the residual `qv` through untouched). */
  def trainResidualCodebooks(embeddings: DataFrame, centroids: DataFrame,
      m: Int = 8, k: Int = 16, iters: Int = 2, dims: Int = 64): Array[Book] =
    trainCodebooks(residuals(embeddings, centroids, dims), m, k, iters, dims)

  /** Residual IVFADC+R search. Candidate index rows carry (cell, codes
    * of the RESIDUAL, exact ‖recon‖² where recon = coarse_cv +
    * residual_recon — the cross term is a driver-precomputed
    * (cell, sub, code) grid, all exact integers). Query side: the dot
    * table covers ⟨q_sub, residual_codeword⟩ as usual, plus ONE
    * per-probe coarse term ⟨q, coarse_cv(cell)⟩ — so the scored
    * numerator is exactly ⟨q, recon⟩ and the whole chain stays
    * bit-reproducible. */
  def ivfAdcResidualRerankTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      books: Array[Book], centroids: DataFrame, nprobe: Int = 2,
      shortlist: Int = 32, m: Int = 8, dims: Int = 64, codes: Int = 16): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val dsub = dims / m
    val grid = centGrid(centroids, dims)
    val cellCnrm = grid.map(v => v.foldLeft(0L)((s, x) => s + x * x))
    // candidates: residual codes + exact reconstruction norm
    // ‖recon‖² = ‖cv‖² + 2·⟨cv, res_recon⟩ + ‖res_recon‖², with the
    // cross term looked up from a flat (cell, sub, code) grid
    val nCells = grid.length // slot 0 unused
    val crossFlat = (for (c <- 0 until nCells; t <- 0 until m; j <- 1 to codes) yield {
      books.find(b => b.sub == t && b.code == j) match {
        case Some(b) =>
          var acc = 0L
          var i = 0
          while (i < dsub) { acc += grid(c)(t * dsub + i) * b.cv(i); i += 1 }
          acc
        case None => 0L
      }
    }).toSeq
    val coded = withCodes(residuals(embeddings, centroids, dims), books, m, dsub)
    val resNorm = (0 until m).map { t =>
      val g = Array.tabulate(codes) { j =>
        books.find(b => b.sub == t && b.code == j + 1L).map(_.cnrm).getOrElse(0L)
      }
      element_at(typedlit(g.toSeq), col(s"code_$t").cast("int"))
    }.reduce(_ + _)
    val crossTerm = (0 until m).map { t =>
      element_at(typedlit(crossFlat),
        ((col("cell").cast("int") * m + lit(t)) * codes + col(s"code_$t").cast("int"))
          .cast("int"))
    }.reduce(_ + _)
    val cand = coded.withColumn("rnrm",
      element_at(typedlit(cellCnrm.toSeq), col("cell").cast("int") + 1) +
        lit(2L) * crossTerm + resNorm)
    // query side: probes carry the coarse dot ⟨q, cv(cell)⟩ per probed
    // cell plus the residual dot table
    val qcdArr = array(grid.map(cv =>
      graft.expr.ArrayExprs.dotLong(col("qv"), typedlit(cv.toSeq))): _*)
    val q = Similarity.probeCells(Similarity.prep(queries), centroids, nprobe)
      .select(col("vec_id").as("q_id"), col("cell"),
        checkedQv(dims).as("qv"), col("nrm").as("q_nrm"))
      .withColumn("dtf", dtfExpr(books, m, dims, codes))
      .withColumn("qcd", element_at(qcdArr, col("cell").cast("int") + 1))
      .drop("qv")
    val scored = cand.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("score",
        (col("qcd") + adcNumerator(m, codes)).cast("double") /
          (sqrt(col("q_nrm").cast("double")) * sqrt(col("rnrm").cast("double"))))
      .select(col("q_id"), col("vec_id").as("c_id"), col("score"))
    rerank(Similarity.topK(scored, shortlist), embeddings, queries, k)
  }
}
