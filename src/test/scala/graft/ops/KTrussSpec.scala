package graft.ops

import scala.util.Random

import graft.SparkSpec

/** k-truss peeling: in-memory fixpoint differential on random graphs,
  * clique closed-forms, the cascade fixture, and the guards. */
class KTrussSpec extends SparkSpec {
  import spark.implicits._

  /** Reference fixpoint: per edge, support = |Γ(a) ∩ Γ(b)| within the
    * surviving set; drop support < k−2; repeat. */
  private def ref(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
    var cur = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    var done = false
    var sup = Map.empty[(Long, Long), Long]
    while (!done) {
      val nbrs = cur.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      sup = cur.map { case (a, b) => (a, b) -> (nbrs(a) & nbrs(b)).size.toLong }.toMap
      val next = cur.filter(e => sup(e) >= k - 2)
      done = next == cur
      cur = next
    }
    sup.view.filterKeys(cur).toMap
  }

  private def run(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] =
    KTruss.truss(edges.toDF("id_a", "id_b"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("truss matches the in-memory fixpoint on random graphs") {
    for (seed <- Seq(3, 19); k <- Seq(3, 4)) {
      val rnd = new Random(seed)
      val edges = (for {
        i <- 0L until 25L; j <- i + 1 until 25L if rnd.nextDouble() < 0.22
      } yield (i, j)).toSeq
      assert(run(edges, k) === ref(edges, k), s"seed=$seed k=$k")
    }
  }

  test("a k-clique is a k-truss exactly; whiskers and open wedges peel away") {
    // K4 on {0..3} + whisker (3,9) + wedge (9,10),(10,11): the K4 is
    // the 4-truss (every edge closes 2 triangles); everything else
    // peels (the whisker closes none)
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val edges = k4 ++ Seq((3L, 9L), (9L, 10L), (10L, 11L))
    val got = run(edges, k = 4)
    assert(got.keySet === k4.toSet, s"got: $got")
    assert(got.values.forall(_ === 2L), "K4 edges each close exactly 2 triangles")
    // at k = 5 even the K4 dissolves
    assert(run(edges, k = 5) === Map.empty)
  }

  test("support cascade: removing weak edges re-peels previously strong ones") {
    // two triangles sharing edge (1,2): (1,2) has support 2, the rest
    // 1 — the 4-truss peels the outer edges first, then (1,2)'s
    // support collapses and it peels in the NEXT round (a genuine
    // multi-round cascade, not a one-shot filter)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(run(edges, k = 4) === Map.empty)
    assert(run(edges, k = 3) === edges.map(_ -> 1L).toMap
      .updated((1L, 2L), 2L))
  }

  test("refreshTruss converges to the cold truss over the merged graph (random splits)") {
    for (seed <- Seq(11, 29); k <- Seq(3, 4)) {
      val rnd = new Random(seed)
      val all = (for {
        i <- 0L until 25L; j <- i + 1 until 25L if rnd.nextDouble() < 0.22
      } yield (i, j)).toSeq
      val (corpus, batch) = all.partition(_ => rnd.nextDouble() < 0.75)
      val standing = KTruss.truss(corpus.toDF("id_a", "id_b"), k)
      val refreshed = KTruss.refreshTruss(standing,
          (corpus ++ batch).toDF("id_a", "id_b"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      val cold = ref(all, k)
      assert(refreshed.view.mapValues(_._1).toMap === cold,
        s"seed=$seed k=$k refresh diverged from the cold truss")
      // delta audit: standing edges carry their previous support,
      // batch-promoted edges carry NULL
      val standingSup = standing.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      refreshed.foreach { case (e, (_, prev)) =>
        assert(prev === standingSup.get(e), s"seed=$seed k=$k edge $e prev drifted")
      }
    }
  }

  test("refresh hand fixture: a batch edge closes triangles and promotes a wedge") {
    // corpus: open wedge (0,1),(0,2) + K4 on {5,6,7,8}; 3-truss of the
    // corpus is the K4 alone. Batch adds (1,2): the wedge closes into
    // a triangle and all three of its edges enter the 3-truss with
    // support 1 and NULL prev; the K4 edges keep support 2 with prev 2.
    val k4 = for (i <- 5L to 8L; j <- i + 1 to 8L) yield (i, j)
    val corpus = Seq((0L, 1L), (0L, 2L)) ++ k4
    val standing = KTruss.truss(corpus.toDF("id_a", "id_b"), k = 3)
    val got = KTruss.refreshTruss(standing,
        (corpus ++ Seq((1L, 2L))).toDF("id_a", "id_b"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    for (e <- Seq((0L, 1L), (0L, 2L), (1L, 2L)))
      assert(got(e) === (1L, None), s"promoted edge $e: ${got(e)}")
    for (e <- k4)
      assert(got(e) === (2L, Some(2L)), s"standing edge $e: ${got(e)}")
  }

  test("guards are loud: k < 3 and missing fixpoint headroom") {
    val e = Seq((0L, 1L)).toDF("id_a", "id_b")
    val e1 = intercept[IllegalArgumentException](KTruss.truss(e, k = 2))
    assert(e1.getMessage.contains("k >= 3"))
    // a cascade deeper than maxRounds must fail loudly, not loop
    val chainTri = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
    val e2 = intercept[IllegalArgumentException](
      KTruss.truss(chainTri.toDF("id_a", "id_b"), k = 4, maxRounds = 1))
    assert(e2.getMessage.contains("fixpoint"))
  }

  test("empty edge sets: truss and refreshTruss return empty relations of the full shape") {
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val t = KTruss.truss(none, k = 3)
    assert(t.columns.toSeq === Seq("id_a", "id_b", "support"))
    assert(t.collect().isEmpty)
    val r = KTruss.refreshTruss(t, none, k = 3)
    assert(r.columns.toSeq === Seq("id_a", "id_b", "support", "support_prev"))
    assert(r.collect().isEmpty)
    // an empty standing truss: the refresh is the cold truss, every
    // edge batch-promoted
    val k4 = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val got = KTruss.refreshTruss(t, (k4 :+ ((3L, 9L))).toDF("id_a", "id_b"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.get(3)))).toMap
    assert(got === k4.map(_ -> ((2L, None))).toMap)
  }

  test("an id outside [0, 2^32) fails loudly instead of mis-orienting") {
    // the shared degree-rank orientation packs deg*2^32 + id into one
    // long; outside that domain ranks collide and supports go wrong
    val big = 1L << 32
    val bad = Seq((0L, 1L), (0L, big), (1L, big)).toDF("id_a", "id_b")
    def loud(run: => Unit): Unit = {
      val ex = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(m => m.contains("2^32") && m.contains("k_truss")), msgs.mkString(" | "))
    }
    loud(KTruss.truss(bad, k = 3).collect())
    // the refresh's final support pass orients the merged fixpoint
    loud(KTruss.refreshTruss(KTruss.truss(Seq.empty[(Long, Long)].toDF("id_a", "id_b"), k = 3),
      bad, k = 3).collect())
  }
}
