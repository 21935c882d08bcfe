package graft.streaming

import java.nio.file.Files

import scala.util.Random

import graft.SparkSpec
import graft.ops.{KCore, KTruss, Lpa, PageRank, Reachability, Triangles}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The standing-state graph ledgers under one replay contract. Every
  * ledger tracks its own ground truth epoch by epoch; an in-order
  * replay, an OUT-OF-ORDER replay and re-sent edges leave it unchanged;
  * batch edges normalize on ingest. Plus the two behaviours only one
  * ledger has: rank refinement and truss wedge promotion. */
class EdgeLedgerSpec extends SparkSpec {
  import spark.implicits._

  private type Edges = Seq[(Long, Long)]

  /** One ledger under test. `truth(prev, edges)` is the expected ledger
    * read after an epoch, from the previous epoch's truth and every
    * edge so far: the rank and LPA folds read `prev`, the cold runs
    * ignore it. The random graph is (seed, nodes, edge probability,
    * batches). */
  private case class Case(name: String, ledger: () => EdgeLedger,
      truth: (DataFrame, Edges) => DataFrame,
      seed: Int, nodes: Long, p: Double, parts: Int,
      read: EdgeLedger => String => DataFrame = l => l.current(spark, _))

  private val K = 3

  private def directed(e: Edges): DataFrame = e.toDF("src", "dst")
  private def undirected(e: Edges): DataFrame = e.toDF("id_a", "id_b")
  private val triangleRead: EdgeLedger => String => DataFrame =
    _ => EdgeLedger.triangleCounts(spark, _)

  private val cases = Seq(
    Case("rank", () => EdgeLedger.rank(rounds = 2),
      (prev, e) => PageRank.warmStart(prev, directed(e), rounds = 2), 29, 30L, 0.2, 3),
    Case("community", () => EdgeLedger.community(rounds = 2),
      (prev, e) => Lpa.warmStart(prev, directed(e), rounds = 2), 17, 30L, 0.15, 3),
    Case("reach", () => EdgeLedger.reach(Seq(0L, 7L).toDF("id"), maxHop = 3),
      (_, e) => Reachability.hops(directed(e), Seq(0L, 7L).toDF("id"), maxHop = 3),
      41, 40L, 0.05, 4),
    Case("core", () => EdgeLedger.core(K),
      (_, e) => KCore.core(undirected(e), K), 23, 40L, 0.12, 3),
    Case("truss", () => EdgeLedger.truss(K),
      (_, e) => KTruss.truss(undirected(e), K), 31, 30L, 0.2, 3),
    Case("triangles", () => EdgeLedger.triangles,
      (_, e) => Triangles.perNodeCounts(undirected(e)), 13, 40L, 0.2, 3, triangleRead))

  private def paths(tag: String): (String, String) =
    (Files.createTempDirectory(s"ledger_${tag}_e").toString + "/edges",
      Files.createTempDirectory(s"ledger_${tag}_o").toString + "/out")

  /** A directed ledger sees both orientations of every pair. */
  private def edges(l: EdgeLedger, pairs: Edges): DataFrame =
    if (l.undirected) undirected(pairs) else directed(pairs.flatMap(p => Seq(p, p.swap)))

  /** Rows as long tuples, in `cols` order (all ledger columns are long). */
  private def rows(df: DataFrame, cols: Seq[String]): Set[Seq[Long]] =
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(_.asInstanceOf[Number].longValue)).toSet

  private def emptyOf(cols: Seq[String]): DataFrame =
    spark.emptyDataFrame.select(cols.map(lit(0L).as(_)): _*).limit(0)

  cases.foreach { c =>
    test(s"${c.name}: per-epoch convergence, in-order replay, re-sent edges") {
      val ledger = c.ledger()
      val (ep, op) = paths(c.name)
      def read(): DataFrame = c.read(ledger)(op)
      def current(): Set[Seq[Long]] = { val r = read(); rows(r, r.columns.toSeq) }
      val rnd = new Random(c.seed)
      val pairs = for {
        i <- 0L until c.nodes; j <- i + 1 until c.nodes if rnd.nextDouble() < c.p
      } yield (i, j)
      val batches = pairs.grouped((pairs.size + c.parts - 1) / c.parts).toSeq

      var sofar = Seq.empty[(Long, Long)]
      var truth = emptyOf(ledger.cols)
      batches.zipWithIndex.foreach { case (b, i) =>
        ledger.process(edges(ledger, b), ep, op, i.toLong)
        sofar ++= b
        truth = c.truth(truth, if (ledger.undirected) sofar else sofar.flatMap(p => Seq(p, p.swap)))
        val got = read()
        assert(rows(got, got.columns.toSeq) === rows(truth, got.columns.toSeq),
          s"${c.name}: epoch $i diverged from its ground truth")
      }

      // replayed epoch: same batch id, same edges — ledger unchanged
      val before = current()
      ledger.process(edges(ledger, batches.last), ep, op, (batches.size - 1).toLong)
      assert(current() === before, "replayed epoch changed the ledger")

      // re-sent edges under a NEW batch id, in both orientations (an
      // undirected ledger must canonicalize the flipped ones): the
      // anti-join drops them all, nothing is written
      ledger.process(edges(ledger, batches.head ++ batches.head.map(_.swap)), ep, op, 99L)
      assert(current() === before, "re-sent edges advanced the ledger")
    }

    test(s"${c.name}: OUT-OF-ORDER replay rewrites a past partition identically") {
      // epoch e's standing reads are bounded batch_id < e, so replaying
      // e after e+1 committed must not absorb e+1's edges: epoch 1
      // closes K4 on 0..3, epoch 2's edges close the triangle 2-3-4 on
      // epoch 1's edge, which a replay of epoch 1 must not see
      val ledger = c.ledger()
      val (ep, op) = paths(s"${c.name}_ooo")
      val batches = Seq(
        Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (1L, 3L)),
        Seq((2L, 3L)),
        Seq((2L, 4L), (3L, 4L)))
      batches.zipWithIndex.foreach { case (b, i) =>
        ledger.process(edges(ledger, b), ep, op, i.toLong)
      }
      def partition(id: Long): Set[Seq[Long]] =
        rows(spark.read.parquet(op).filter(col("batch_id").cast("long") === id), ledger.cols)
      def current(): Set[Seq[Long]] = { val r = c.read(ledger)(op); rows(r, r.columns.toSeq) }
      val (part1, head) = (partition(1L), current())
      assert(part1.nonEmpty, "epoch 1 must write a partition for the replay to rewrite")
      ledger.process(edges(ledger, batches(1)), ep, op, 1L)
      assert(partition(1L) === part1,
        "out-of-order replay of epoch 1 rewrote its partition with different content")
      assert(current() === head, "out-of-order replay disturbed the ledger read")
    }
  }

  // (ledger, messy batch, distinct stored edges, expected read)
  private val normalization = Seq(
    ("rank", () => EdgeLedger.rank(rounds = 1), Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L)),
      2L, Set(Seq(1L, 1000000L), Seq(2L, 1000000L))), // deg 1 each: 150000 + 850000
    ("community", () => EdgeLedger.community(rounds = 1), Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L)),
      2L, Set(Seq(1L, 2L), Seq(2L, 1L))), // one round: each adopts the other's identity label
    ("reach", () => EdgeLedger.reach(Seq(1L).toDF("id"), maxHop = 3),
      Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L)), 2L, Set(Seq(1L, 0L), Seq(2L, 1L))),
    ("core", () => EdgeLedger.core(2), Seq((2L, 1L), (1L, 2L), (2L, 2L), (1L, 3L), (2L, 3L)),
      3L, Set(Seq(1L, 2L), Seq(2L, 2L), Seq(3L, 2L))), // triangle 1-2-3: the 2-core, degree 2
    ("truss", () => EdgeLedger.truss(K), Seq((2L, 1L), (1L, 2L), (2L, 2L), (1L, 3L), (2L, 3L)),
      3L, Set(Seq(1L, 2L, 1L), Seq(1L, 3L, 1L), Seq(2L, 3L, 1L))),
    // a triangle sent reversed + duplicated + with a self-loop
    ("triangles", () => EdgeLedger.triangles, Seq((2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L), (4L, 4L)),
      3L, Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L))))

  normalization.foreach { case (name, mk, messy, stored, want) =>
    test(s"$name: edges normalize on ingest (orientation, self-loops, dups)") {
      val ledger = mk()
      val (ep, op) = paths(s"${name}_norm")
      val batch = if (ledger.undirected) undirected(messy) else directed(messy)
      ledger.process(batch, ep, op, 1L)
      assert(spark.read.parquet(ep).count() === stored,
        "store must hold distinct, oriented, non-loop edges")
      val read = cases.find(_.name == name).get.read(ledger)(op)
      assert(rows(read, read.columns.toSeq) === want)
    }
  }

  test("rank: refine after quiescence equals the direct warm iterate") {
    val ledger = EdgeLedger.rank(rounds = 2)
    val (ep, rp) = paths("rank_refine")
    val batches = Seq(Seq((1L, 2L), (2L, 3L)), Seq((3L, 1L), (3L, 4L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      ledger.process(edges(ledger, b), ep, rp, i.toLong)
    }
    // a quiescent epoch equals iterating the op directly from the
    // standing snapshot over the full graph
    val want = rows(PageRank.warmStart(ledger.current(spark, rp),
      batches.flatten.flatMap(p => Seq(p, p.swap)).toDF("src", "dst"), rounds = 2), ledger.cols)
    EdgeLedger.refineRanks(spark, ep, rp, batchId = 100L, rounds = 2)
    assert(rows(ledger.current(spark, rp), ledger.cols) === want,
      "refine diverged from the direct warm iterate")
  }

  test("truss: a batch edge that closes a wedge promotes all three edges") {
    val ledger = EdgeLedger.truss(K)
    val (ep, tp) = paths("truss_wedge")
    // epoch 0: open wedge — 3-truss empty
    ledger.process(undirected(Seq((1L, 2L), (1L, 3L))), ep, tp, 0L)
    assert(rows(ledger.current(spark, tp), ledger.cols) === Set.empty)
    // epoch 1: the closing edge, sent flipped + with a self-loop
    ledger.process(undirected(Seq((3L, 2L), (2L, 2L))), ep, tp, 1L)
    assert(spark.read.parquet(ep).count() === 3L,
      "store must hold canonical distinct non-loop pairs")
    assert(rows(ledger.current(spark, tp), ledger.cols) ===
      Set(Seq(1L, 2L, 1L), Seq(1L, 3L, 1L), Seq(2L, 3L, 1L)))
  }
}
