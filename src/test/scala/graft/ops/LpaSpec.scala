package graft.ops

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deterministic synchronous LPA: in-memory differential on random
  * graphs, a hand fixture where the community structure is known, and
  * the id-domain guard. */
class LpaSpec extends SparkSpec {
  import spark.implicits._

  /** The same round semantics, no Spark: most-frequent neighbor label,
    * ties to the smallest label. */
  private def refLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var lbl = edges.map(_._1).distinct.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lbl = lbl.map { case (v, old) =>
        in.get(v) match {
          case None => v -> old
          case Some(srcs) =>
            val votes = srcs.map(lbl).groupBy(identity).view.mapValues(_.size)
            v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    lbl
  }

  private def undirected(seed: Int, n: Int, p: Double): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    (for {
      i <- 0L until n.toLong; j <- i + 1 until n.toLong
      if rnd.nextDouble() < p
    } yield Seq((i, j), (j, i))).flatten
  }

  test("propagate matches the in-memory reference on random graphs") {
    for (seed <- Seq(5, 19)) {
      val edges = undirected(seed, n = 45, p = 0.08)
      val got = Lpa.propagate(edges.toDF("src", "dst"), rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(got === refLpa(edges, 3), s"seed $seed diverged")
    }
  }

  test("two cliques joined by one bridge resolve into two communities") {
    val cliqueA = for (i <- 0L to 3L; j <- 0L to 3L if i != j) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- 10L to 13L if i != j) yield (i, j)
    val bridge = Seq((3L, 10L), (10L, 3L))
    val got = Lpa.propagate((cliqueA ++ cliqueB ++ bridge).toDF("src", "dst"),
      rounds = 4).as[(Long, Long)].collect().toMap
    // min-label tie-breaking drives each clique to its smallest member
    assert((0L to 3L).forall(got(_) == 0L), s"clique A: $got")
    assert((10L to 13L).forall(got(_) == 10L), s"clique B: $got")
  }

  test("directed input: a node with no labeled in-neighbor keeps its label") {
    // 1 -> 2 -> 3: node 1 never receives a vote and must survive with
    // its own label (the inner vote join would silently drop it)
    val got = Lpa.propagate(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === refLpa(Seq((1L, 2L), (2L, 3L)), 2))
    assert(got(1L) === 1L, s"unvoted node dropped or relabeled: $got")
  }

  /** refLpa with seeded initial labels (nodes absent from the seed
    * start as themselves) — the warm-start semantics. */
  private def refWarm(edges: Seq[(Long, Long)], seed: Map[Long, Long],
      rounds: Int): Map[Long, Long] = {
    val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var lbl = edges.map(_._1).distinct.map(v => v -> seed.getOrElse(v, v)).toMap
    for (_ <- 1 to rounds) {
      lbl = lbl.map { case (v, old) =>
        in.get(v) match {
          case None => v -> old
          case Some(srcs) =>
            val votes = srcs.map(lbl).groupBy(identity).view.mapValues(_.size)
            v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    lbl
  }

  test("warmStart matches the seeded reference; empty seed == propagate") {
    for (seed <- Seq(7, 23)) {
      val standing = undirected(seed, n = 40, p = 0.07)
      val batch = undirected(seed + 100, n = 45, p = 0.03)
        .filterNot(standing.toSet)
      val merged = standing ++ batch
      val standingLbl = refLpa(standing, 3)
      val got = Lpa.warmStart(
          standingLbl.toSeq.toDF("node", "lbl"),
          merged.toDF("src", "dst"), rounds = 2)
        .as[(Long, Long)].collect().toMap
      assert(got === refWarm(merged, standingLbl, 2), s"seed $seed diverged")
      // the warm chain equals folding: propagate(standing,3) then 2
      // more rounds on merged — the community ledger contract
      val fold = Lpa.warmStart(
          Lpa.propagate(standing.toDF("src", "dst"), rounds = 3),
          merged.toDF("src", "dst"), rounds = 2)
        .as[(Long, Long)].collect().toMap
      assert(fold === got, s"seed $seed: Spark fold diverged from seeded run")
    }
    val edges = undirected(3, n = 30, p = 0.1)
    val cold = Lpa.propagate(edges.toDF("src", "dst"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    val warmEmpty = Lpa.warmStart(
        Seq.empty[(Long, Long)].toDF("node", "lbl"),
        edges.toDF("src", "dst"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(warmEmpty === cold, "empty seed must reduce to the cold run")
  }

  /** Clamped-spread reference: seeds never update; unlabeled nodes
    * adopt the majority among labeled in-neighbors, keep when unvoted. */
  private def refSpread(edges: Seq[(Long, Long)], seeds: Map[Long, Long],
      rounds: Int): Map[Long, Long] = {
    // src UNION dst: a dst-only seed receives votes on directed input
    // and must stay in the clamp set (the op's retention rule)
    val graphNodes = edges.map(_._1).toSet ++ edges.map(_._2).toSet
    val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var lbl = seeds.filter(s => graphNodes(s._1))
    for (_ <- 1 to rounds) {
      val next = graphNodes.flatMap { v =>
        val votes = in.getOrElse(v, Nil).flatMap(lbl.get)
          .groupBy(identity).view.mapValues(_.size)
        if (votes.nonEmpty)
          Some(v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1)
        else lbl.get(v).map(v -> _)
      }.toMap
      lbl = next ++ seeds.filter(s => graphNodes(s._1))
    }
    lbl
  }

  test("spread matches the clamped reference; seeds never move; unreached stay absent") {
    for (seed <- Seq(9, 27)) {
      val edges = undirected(seed, n = 40, p = 0.06)
      val graphNodes = edges.map(_._1).distinct
      val seedLbls = graphNodes.filter(_ % 4 == 0).map(v => v -> (v % 3)).toMap ++
        Map(999L -> 2L) // off-graph seed: must be ignored, not emitted
      val got = Lpa.spread(edges.toDF("src", "dst"),
          seedLbls.toSeq.toDF("node", "lbl"), rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(got === refSpread(edges, seedLbls, 3), s"seed $seed diverged")
      assert(!got.contains(999L), "off-graph seed leaked into the output")
      seedLbls.filterKeys(k => graphNodes.contains(k)).foreach { case (v, l) =>
        assert(got(v) === l, s"clamped seed $v moved")
      }
    }
  }

  test("spread: two seed classes meet on a path, min-tie favors the smaller class") {
    // 0(class 10) - 1 - 2 - 3 - 4(class 20), bidirectional. Round 1:
    // 1 -> 10, 3 -> 20. Round 2: 2 hears one 10 and one 20 — tie to
    // the smaller, 10. Round 3: 3 now hears 2(10) and 4(20) — tie,
    // so the min rule drags 3 to 10 too; only the clamped seed 4
    // holds class 20. Deterministic, if one-sided — exactly what the
    // documented tie-break does.
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = Lpa.spread(path.toDF("src", "dst"),
        Seq((0L, 10L), (4L, 20L)).toDF("node", "lbl"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 10L, 1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L))
  }

  test("spread on directed input: a dst-only seed stays clamped, never voted over") {
    // 1 -> 2 -> 3, one direction only. Node 3 appears ONLY as dst and
    // carries ground truth 77. The r15 defect: seed retention semi-
    // joined against src nodes alone, so 3 fell out of the clamp set
    // yet still received votes — by round 2 the propagated label 50
    // (from seed 1) overrode its ground truth, violating the
    // documented "seeds NEVER update" invariant.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, 50L), (3L, 77L)).toDF("node", "lbl")
    val got = Lpa.spread(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(3L) === 77L, "dst-only seed was voted over")
    assert(got(1L) === 50L)
    assert(got(2L) === 50L) // propagated from seed 1
    assert(got === refSpread(Seq((1L, 2L), (2L, 3L)), Map(1L -> 50L, 3L -> 77L), 3))
  }

  test("warmStart rejects out-of-domain seed labels loudly") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val bad = Seq((1L, 1L << 33)).toDF("node", "lbl")
    val e = intercept[IllegalArgumentException](Lpa.warmStart(bad, edges, rounds = 1))
    assert(e.getMessage.contains("seed labels"))
  }

  test("ids outside [0, 2^32) fail loudly instead of mis-ranking") {
    val bad = Seq((1L, 1L << 33), (1L << 33, 1L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](Lpa.propagate(bad, rounds = 1))
    assert(e.getMessage.contains("2^32"))
  }
}
