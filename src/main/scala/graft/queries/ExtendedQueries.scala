package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import CoreQueries.{QFn, QueryDef}

/** Operators beyond the reference's own surface that a complete
  * engine needs (SURVEY §2.7 "absent" list + BASELINE.json north star):
  * ranking/frame window functions, top-k per group, set operations,
  * rollup subtotals, distinct aggregation, exact-moment statistics,
  * as-of and range joins, sliding event-time windows, and a sign-bit
  * LSH ANN variant. Same determinism rules as CoreQueries (scaladoc
  * there); every query is DuckDB-oracled except the sketch aggregates
  * (approximate by definition -> rows-only check).
  */
object ExtendedQueries {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  // ---- O: windows / ranking / top-k ---------------------------------------

  private val o3RankLag: QFn = (s, dir) => {
    // Ranking with real ties (rank vs dense_rank) + lag/lead over a
    // fully deterministic ordering. Rank values depend only on the
    // orderBy key, so ties are reproducible; lag/lead order by the
    // unique event_id.
    val ev = Tables.events(s, dir)
      .withColumn("vb", floor(col("value") / 100).cast("int"))
    val wRank = Window.partitionBy(col("user_id")).orderBy(col("vb"))
    val wSeq = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.select(col("event_id"), col("user_id"), col("vb"),
      rank().over(wRank).as("rnk"),
      dense_rank().over(wRank).as("drnk"),
      lag(col("value"), 1).over(wSeq).as("prev_value"),
      lead(col("value"), 1).over(wSeq).as("next_value"))
  }

  private val o7DistributionWindows: QFn = (s, dir) => {
    // The distribution window members o3's rank family doesn't cover:
    // ntile (equal-height bucketing for quantile cohorts), percent_rank
    // and cume_dist (relative standing — the per-group percentile a
    // leaderboard or an SLA report derives). All three depend only on
    // the ordering key, so ties are engine-reproducible; percent_rank /
    // cume_dist are ratios of exact integers, bit-identical everywhere.
    val ev = Tables.events(s, dir)
      .withColumn("vb", floor(col("value") / 100).cast("int"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("vb"))
    ev.select(col("event_id"), col("user_id"), col("vb"),
      ntile(4).over(Window.partitionBy(col("user_id")).orderBy(col("event_id")))
        .as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
  }

  private val o4MovingAgg: QFn = (s, dir) => {
    // Frame-spec window: trailing 4-row sum/avg per user ordered by
    // event_id. Decimal-exact inside the frame, double at the edge.
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    Tables.events(s, dir).select(col("event_id"), col("user_id"),
      sum(dec(col("value"))).over(w).cast("double").as("mov_sum"),
      count(lit(1)).over(w).as("mov_n"))
      .withColumn("mov_avg", col("mov_sum") / col("mov_n").cast("double"))
  }

  private val o6RangeFrame: QFn = (s, dir) => {
    // RANGE frame keyed on event time: trailing 1-hour sum per user -
    // the time-based window a rate/volume monitor computes per entity.
    // Unlike the ROWS frame (o4), frame membership is a value predicate
    // on the ordering key, so peers with equal ts aggregate together.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L + 1, Window.currentRow)
    Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts_us"),
      sum(dec(col("value"))).over(w).cast("double").as("trail_1h_sum"),
      count(lit(1)).over(w).as("trail_1h_n"))
  }

  private val o5TopkPerGroup: QFn = (s, dir) => {
    // Top-3 rows per group. row_number + filter plans as
    // WindowGroupLimit: each input partition forwards at most k rows
    // per group to the shuffle - the shape that keeps per-entity top-k
    // viable when groups are millions of rows.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("event_id"), col("user_id"), col("value"), col("rn"))
  }

  // ---- U: set operations ---------------------------------------------------

  private val u1SetOps: QFn = (s, dir) => {
    // INTERSECT / EXCEPT as user-facing operators (the reference only
    // has the J2 full-outer anti sides).
    val ev = Tables.events(s, dir)
    val purchasers = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    val erroring = ev.filter(col("event_type") === "error").select(col("user_id"))
    purchasers.intersect(erroring).withColumn("tag", lit("both"))
      .unionByName(purchasers.except(erroring).withColumn("tag", lit("purchase_only")))
      .unionByName(erroring.except(purchasers).withColumn("tag", lit("error_only")))
  }

  // ---- A: grouping sets / distinct / moments -------------------------------

  private val a8Rollup: QFn = (s, dir) =>
    // ROLLUP subtotals; null grouping slots replaced by sentinels so
    // the oracle compare never depends on null-vs-subtotal ambiguity
    // (event_type / bucket are never null in the data).
    Tables.events(s, dir)
      .withColumn("bucket", col("user_id") % 5)
      .rollup(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("bucket"), lit(-1L)).as("bucket"), col("n"), col("total"))

  private val a13Cube: QFn = (s, dir) =>
    // full CUBE: all four grouping-set combinations in ONE pass —
    // Spark plans a single Expand (4x rows) into one aggregate
    // exchange instead of four scans; sentinels as in a8_rollup
    Tables.events(s, dir)
      .withColumn("bucket", col("user_id") % 3)
      .cube(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("bucket"), lit(-1L)).as("bucket"), col("n"), col("total"))

  private val g6KhopReachability: QFn = (s, dir) => {
    // Fixed-depth BFS over the bipartite customer-supplier graph
    // (edge = "this customer's order contained this supplier's item"):
    // 3 hops from a seed customer set, each node labeled with its
    // FIRST (minimal) hop. The scale shape is frontier expansion —
    // per hop one semi-join against the edge relation + one anti-join
    // against the visited set; frontiers and visited sets are skinny
    // id relations, paths are never materialized.
    // The FRONTIERS are staged: each hop's definition nests the
    // previous hop's, so unstaged lineage re-derives every earlier hop
    // inside every later one — 2^h-1 edge derivations (7 at h=3,
    // observed in the r12 plan), the classic iterative-algorithm
    // lineage blow-up. Frontiers are skinny id relations, so an eager
    // localCheckpoint per hop costs one tiny job; GraphPlanSpec pins
    // the shape.
    // r17: the edge list is the shared GraphFixtures relation (the
    // custSuppFlagged key set — same distinct pairs; the flag is
    // ignored, the g8/g13/g18 convention) instead of an inline
    // lineitem⋈orders rebuild PER HOP: the r12 A/B that kept the
    // inline build ("pruned fact scan per hop beats an eager edge
    // checkpoint") predates the at-rest fixture tier — with fixtures
    // at rest each hop probes a small parquet relation instead of
    // re-deriving the join three times, and in the memo regime the
    // build is shared with the rank/ppr queries instead of paid again.
    val e = graft.tables.GraphFixtures.custSuppFlagged(s, dir)
      .select(col("cust"), col("supp"))
    val c0 = Tables.customer(s, dir).filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").as("id"))
    val s1 = e.join(c0.withColumnRenamed("id", "cust"), Seq("cust"), "left_semi")
      .select(col("supp").as("id")).distinct().localCheckpoint(true)
    val c2 = e.join(s1.withColumnRenamed("id", "supp"), Seq("supp"), "left_semi")
      .select(col("cust").as("id")).distinct()
      .join(c0, Seq("id"), "left_anti").localCheckpoint(true)
    val s3 = e.join(c2.withColumnRenamed("id", "cust"), Seq("cust"), "left_semi")
      .select(col("supp").as("id")).distinct()
      .join(s1, Seq("id"), "left_anti")
    c0.select(lit("cust").as("kind"), col("id"), lit(0L).as("hop"))
      .unionByName(s1.select(lit("supp").as("kind"), col("id"), lit(1L).as("hop")))
      .unionByName(c2.select(lit("cust").as("kind"), col("id"), lit(2L).as("hop")))
      .unionByName(s3.select(lit("supp").as("kind"), col("id"), lit(3L).as("hop")))
  }

  private val g7CopurchaseProjection: QFn = (s, dir) => {
    // Weighted one-mode projection of the bipartite customer-supplier
    // graph: supplier pairs weighted by shared customers, kept when the
    // weight exceeds the GLOBAL mean (scalar threshold multiplied
    // through — exact integer compare, the q11/q22 pattern — so the
    // filter discriminates at every SF instead of going vacuous). The
    // classic blow-up is the per-customer self-join — a hot customer
    // who bought from everyone contributes degree² pairs — so each
    // customer's supplier list is capped at 100 BEFORE the pairing
    // (WindowGroupLimit below the shuffle, smallest supplier ids win,
    // the Dedup.capBuckets discipline with the cap mirrored in the
    // oracle via QUALIFY). Co-occurrence pairing via self-join on the
    // customer key — the postings pattern, never a cartesian.
    // Deliberately NOT staged: the capped relation and the pairs agg
    // each feed two consumers, but r13 A/B'd localCheckpoint staging
    // of both (warm min-of-3 at sf0.1: current 2.2 s, capped-staged
    // 2.6 s, pairs-staged 2.1 s) — AQE stage reuse already dedupes the
    // shared subtrees at runtime, so staging only adds a barrier.
    // r17: the distinct pair set is the shared GraphFixtures relation's
    // key set (the g8/g13/g18 convention) — at rest it is one small
    // parquet read instead of a lineitem⋈orders + distinct rebuild
    val e = graft.tables.GraphFixtures.custSuppFlagged(s, dir)
      .select(col("cust"), col("supp"))
    val capped = graft.ops.Dedup.capBuckets(e, Seq(col("cust")), col("supp"), 100)
    val x = capped.select(col("cust"), col("supp").as("supp_a"))
    val y = capped.select(col("cust"), col("supp").as("supp_b"))
    val pairs = x.join(y, Seq("cust"))
      .filter(col("supp_a") < col("supp_b"))
      .groupBy(col("supp_a"), col("supp_b"))
      .agg(count(lit(1)).as("n_shared"))
    val tot = pairs.agg(sum(col("n_shared")).as("ts"), count(lit(1)).as("np"))
    pairs.crossJoin(broadcast(tot))
      .filter(col("n_shared") * col("np") > col("ts"))
      .select(col("supp_a"), col("supp_b"), col("n_shared"))
  }

  private val a9DistinctAgg: QFn = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("user_id"), col("event_id") % 7).as("n_user_slots"),
        count(lit(1)).as("n"))

  private val a10Moments: QFn = (s, dir) => {
    // Exact-moment statistics: accumulate sum and sum-of-squares as
    // decimals (order-independent), derive variance/stddev with a fixed
    // double expression afterwards. Spark's stddev_samp aggregates in
    // floating point where the result depends on partition order - this
    // formulation is the scale-safe deterministic alternative.
    val d = dec(col("value"))
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(d).cast("double").as("s1"),
        sum(d * d).cast("double").as("s2"))
      .withColumn("variance",
        (col("s2") - col("s1") * col("s1") / col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0)))
      .withColumn("stddev", sqrt(col("variance")))
  }

  // ---- J: as-of / range joins ---------------------------------------------

  private val j5AsofJoin: QFn = (s, dir) => {
    // As-of join (absent from both the reference and stock Spark as a
    // physical operator): for each event, the latest order of the same
    // user at-or-before the event time. Composed from existing ops:
    // equi-join on the user key + inequality filter + argmax, packed
    // into one long so the argmax stays a plain max in HashAggregate.
    // At scale this shuffles both sides once on the user key; the
    // inequality never leaves the probe side.
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts_us"))
    val ord = Tables.orders(s, dir)
    val o = ord.select(
      col("o_custkey"),
      Tables.epochDay(ord, "o_orderdate").as("o_day"),
      col("o_orderkey"))
    // packed = day * 1e10 + orderkey: day ~2e4, orderkey < 1e10 -> no overflow,
    // max() picks latest day then highest orderkey (deterministic tiebreak).
    val packed = col("o_day") * lit(10000000000L) + col("o_orderkey")
    ev.join(o,
        ev("user_id") === o("o_custkey") &&
          o("o_day") * lit(86400000000L) <= ev("ts_us"), "left")
      .groupBy(col("event_id"), col("user_id"), col("ts_us"))
      .agg(max(packed).as("lp"))
      .select(col("event_id"), col("user_id"),
        (col("lp") / lit(10000000000L)).cast("long").as("last_order_day"),
        (col("lp") % lit(10000000000L)).as("last_orderkey"))
  }

  private val j7AsofMerge: QFn = (s, dir) => {
    // Same as-of semantics as j5, different physical strategy: the
    // merge-sweep operator (ops/AsofJoin) - union + one key shuffle +
    // secondary sort + O(n) sweep, shuffling rows instead of pairs.
    // Hash-checked against the identical oracle SQL as j5, proving the
    // two strategies agree bit-for-bit.
    import graft.ops.AsofJoin
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts_us"))
    val ord = Tables.orders(s, dir)
    val o = ord.select(
      col("o_custkey"),
      Tables.epochDay(ord, "o_orderdate").as("o_day"),
      col("o_orderkey"))
      .withColumn("o_us", col("o_day") * lit(86400000000L))
    AsofJoin.asofJoin(ev, o, "user_id", "o_custkey", "ts_us", "o_us",
        Seq("o_day", "o_orderkey"))
      .select(col("event_id"), col("user_id"),
        col("o_day").as("last_order_day"), col("o_orderkey").as("last_orderkey"))
  }

  private val j6RangeJoin: QFn = (s, dir) => {
    // Range (band) join: orders of the same user within the 7 days
    // before each event. Equality on the user key keeps the join
    // hash-partitioned; the band predicate filters inside the bucket,
    // so matched volume stays O(orders-per-user), never a cross product.
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts_us"))
    val ord = Tables.orders(s, dir)
    val o = ord.select(col("o_custkey"),
      Tables.epochUs(ord, "o_orderdate").as("o_us"),
      col("o_orderkey"))
    ev.join(o,
        ev("user_id") === o("o_custkey") &&
          o("o_us") <= ev("ts_us") &&
          o("o_us") > ev("ts_us") - lit(7L * 86400000000L), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(col("o_orderkey")).as("n_orders_7d"),
        coalesce(max(col("o_orderkey")), lit(-1L)).as("max_orderkey_7d"))
  }

  private val j8PointInInterval: QFn = (s, dir) => {
    // KEYLESS point-in-interval join (no shared equi key exists — j6's
    // user-key trick doesn't apply): which events fall inside each
    // 2-hour window opened by a sampled purchase? A plain inequality
    // join would plan BroadcastNestedLoopJoin — O(P·I) scored pairs.
    // RangeJoin buckets time at the window length (each interval spans
    // <= 2 buckets, each point exactly 1) and turns it into ONE hash
    // shuffle on the bucket id; a pair can meet only in the point's
    // bucket, so no dedup pass exists. RangeJoinSpec pins the plan
    // (no BNLJ/cartesian) and the semantics (differential vs naive).
    import graft.ops.RangeJoin
    val ev = Tables.events(s, dir)
    val twoH = 2L * 3600000000L
    val points = ev.select(col("event_id"), col("ts_us"))
    val intervals = ev
      .filter(col("event_type") === "purchase" && col("event_id") % 20 === 0)
      .select(col("event_id"), col("ts_us"), (col("ts_us") + twoH).as("end_us"))
    RangeJoin.pointInInterval(points, col("event_id"), col("ts_us"),
      intervals, col("event_id"), col("ts_us"), col("end_us"), bucketWidth = twoH)
  }

  private val j9IntervalOverlap: QFn = (s, dir) => {
    // KEYLESS interval-overlap join: 12-hour purchase windows vs
    // 12-hour signup windows, one row per overlapping pair. Same
    // bucketed-banding plan; each overlapping pair is allocated to the
    // single bucket holding the LATER start, so the result needs no
    // dedup even though wide intervals share many buckets.
    import graft.ops.RangeJoin
    val ev = Tables.events(s, dir)
    val h12 = 12L * 3600000000L
    def win(tpe: String) = ev
      .filter(col("event_type") === tpe && col("event_id") % 5 === 0)
      .select(col("event_id"), col("ts_us"), (col("ts_us") + h12).as("end_us"))
    RangeJoin.intervalOverlap(
      win("purchase"), col("event_id"), col("ts_us"), col("end_us"),
      win("signup"), col("event_id"), col("ts_us"), col("end_us"),
      bucketWidth = h12)
  }

  private val j10FuzzyJoin: QFn = (s, dir) => {
    // PassJoin fuzzy string join (edit distance <= 1): a probe set of
    // deliberately-corrupted customer names (every third customer, one
    // deletion or one substitution — both corruptions SQL-replayable,
    // so the DuckDB oracle is the naive cross-join levenshtein filter)
    // matched against the full name roster. Short keys + k=1 is the
    // deletion-neighborhood regime (the segment scheme's per-segment
    // key degenerates on this data — every name shares "Customer#", so
    // its candidate set approaches |P|·|N| and measured 20-233 s at
    // sf0.1 across salting/partition-pinning variants, vs well under a
    // second here); FuzzyJoinSpec proves both blockings complete
    // differentially, this query proves the values against the oracle.
    import graft.ops.FuzzyJoin
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val probe = c.filter(col("id") % 3 === 0)
      .select(col("id").as("pid"),
        when(col("id") % 2 === 0,
          concat(substring(col("name"), 1, 9), expr("substring(name, 11)")))
          .otherwise(concat(substring(col("name"), 1, 17), lit("X")))
          .as("pname"))
    FuzzyJoin.edJoinDeletes(c, col("id"), col("name"),
      probe, col("pid"), col("pname"), k = 1)
  }

  private val o8Funnel: QFn = (s, dir) =>
    // First-touch conversion funnel signup -> click -> purchase within
    // 12 hours: the ordered-event pattern metric (ClickHouse
    // windowFunnel / MATCH_RECOGNIZE-lite). Greedy-earliest chaining
    // is exact for this metric and pure integer-microsecond compares,
    // so the DuckDB oracle replays the same per-step conditional mins.
    graft.ops.Funnel.firstTouch(Tables.events(s, dir),
      col("user_id"), col("ts_us"), col("event_type"),
      Seq("signup", "click", "purchase"), windowUs = 12L * 3600000000L)

  private val j10FuzzyIncremental: QFn = (s, dir) => {
    // the operational fuzzy-match shape: a standing corpus (custkey %
    // 10 < 8) is variant-indexed once; each batch (the rest) probes it
    // with O(batch·fanout) new work — the incrementalMinhashPairs
    // discipline applied to edit distance. Customer names differing in
    // one digit supply the ed<=1 cross-partition pairs.
    import graft.ops.FuzzyJoin
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val idx = FuzzyJoin.deleteVariantIndex(
      c.filter(col("id") % 10 < 8), col("id"), col("name"), k = 1)
    FuzzyJoin.probeDeletes(
      c.filter(col("id") % 10 >= 8), col("id"), col("name"), idx, k = 1)
  }

  private val t7Anomaly: QFn = (s, dir) => {
    // Rolling z-score anomaly detection — body extracted to
    // ops.Anomaly.rolling so the streaming twin (StreamAnomaly)
    // converges against the same batch operator; semantics, decimal
    // determinism, and shape documented there.
    graft.ops.Anomaly.rolling(Tables.events(s, dir), col("event_id"),
      col("user_id"), col("value"), Seq(col("event_id")))
  }

  private val t8HeavyHitters: QFn = (s, dir) =>
    // Exact frequency-threshold heavy hitters at bounded memory: a
    // Misra-Gries candidate sketch followed by a broadcast exact
    // recount — see ops.HeavyHitters for the recall guarantee and the
    // 100 TB shape. The threshold is a corpus-size-TIERED pure-integer
    // schedule (0.7% below 20k rows, 0.09% above): with uniform users
    // the per-user share falls ~10× per SF decade, so no single theta
    // is both selective at the sf0.01 gate (54 of 150 users) and
    // non-vacuous at the sf0.1 bench (6 of 1500) — the tier branch is
    // the same exact-integer CASE on n_total the oracle takes, so it
    // stays hash-provable. Capacity 1200 satisfies the strict recall
    // guard for the smallest tier (1201·9 > 10000) and is below the
    // 1500 distinct users at sf0.1, so the benched sketch genuinely
    // evicts (eviction correctness is additionally spec-pinned
    // adversarially in HeavyHittersSpec).
    graft.ops.HeavyHitters.frequentItemsTiered(Tables.events(s, dir),
      col("user_id"),
      tiers = Seq((20000L, 7L, 1000L), (Long.MaxValue, 9L, 10000L)),
      capacity = 1200)

  private val o9Retention: QFn = (s, dir) => {
    // Cohort retention — body extracted to ops.Retention.matrix so the
    // streaming twin (StreamRetention) converges against the same batch
    // operator; semantics, shape, and output contract documented there.
    graft.ops.Retention.matrix(Tables.events(s, dir),
      col("user_id"), col("ts_us"), col("event_type"))
  }

  private val g8Pagerank: QFn = (s, dir) => {
    // PageRank over the bipartite customer-supplier graph (both
    // directions, so the walk alternates sides and no node dangles),
    // FIVE cold-start power iterations. The fixed-point integer
    // recurrence, determinism argument, and per-iteration staging
    // discipline live in ops.PageRank (shared with the g13 warm-start
    // incremental tier and the streaming rank ledger). The
    // staging A/B at sf0.1 measured neutral (3.1-4.0 s both ways) —
    // staged anyway: it bounds plan depth and recovery cost as the
    // iteration count grows (the Pregel discipline), for free. The
    // distinct pair set = the session-memoized flagged relation's keys
    // (flag ignored — g13 consumes it; same groupBy keys, same set).
    val e0 = graft.tables.GraphFixtures.custSuppFlagged(s, dir)
      .select(col("cust"), col("supp"))
    val edges = e0.select(col("cust").as("src"), (col("supp") + 1000000000L).as("dst"))
      .unionByName(e0.select((col("supp") + 1000000000L).as("src"), col("cust").as("dst")))
    val ranks = graft.ops.PageRank.cold(edges, rounds = 5)
    ranks.select(
        when(col("id") >= 1000000000L, lit("supp")).otherwise(lit("cust")).as("kind"),
        when(col("id") >= 1000000000L, col("id") - 1000000000L)
          .otherwise(col("id")).as("node_id"),
        col("pr"))
      .orderBy(col("pr").desc, col("kind"), col("node_id")).limit(100)
  }

  private val g13PagerankIncremental: QFn = (s, dir) => {
    // Incremental PageRank across the g11 corpus/batch order split:
    // the standing graph (orders with o_orderkey % 50 <> 49) has its
    // ranks at rest (5 cold iterations — built inline for the fixture,
    // the j13 convention: the localCheckpoint is the analog of reading
    // the standing rank table from storage), then the last 2% of
    // orders arrive as an edge batch and ranks are WARM-STARTED on the
    // merged graph for 3 refinement rounds instead of re-running the
    // full cold chain — the power iteration contracts at d = 0.85 from
    // any start, and the warm seed is already near the new fixpoint
    // (see ops.PageRank). ONE lineitem⋈orders pass derives both edge
    // sets via the in_corpus flag (the g11 replayed-edge rule — a
    // (cust, supp) pair reachable from any corpus order is a standing
    // edge, not a batch edge). Output = refreshed rank per node plus
    // its standing rank (NULL for nodes the batch introduced), so the
    // delta is auditable. Deterministic integer replay end-to-end ->
    // the oracle unrolls BOTH chains (r0..r5 standing, w0..w3 merged)
    // and hash-matches exactly.
    import graft.ops.PageRank
    // session-memoized (shared with g8): staged once; the STANDING
    // ranks are the GraphFixtures.corpusRanks relation (r17 — at rest
    // in the production regime, the same 5-round deterministic chain
    // built inline otherwise; the measured work is the REFRESH)
    val flagged = graft.tables.GraphFixtures.custSuppFlagged(s, dir)
    def bidir(pairs: org.apache.spark.sql.DataFrame) =
      pairs.select(col("cust").as("src"), (col("supp") + 1000000000L).as("dst"))
        .unionByName(
          pairs.select((col("supp") + 1000000000L).as("src"), col("cust").as("dst")))
    val standing = graft.tables.GraphFixtures.corpusRanks(s, dir)
    val refreshed = PageRank.warmStart(standing, bidir(flagged), rounds = 3)
    refreshed
      .join(standing.select(col("id"), col("pr").as("pr_prev")), Seq("id"), "left")
      .select(
        when(col("id") >= 1000000000L, lit("supp")).otherwise(lit("cust")).as("kind"),
        when(col("id") >= 1000000000L, col("id") - 1000000000L)
          .otherwise(col("id")).as("node_id"),
        col("pr"), col("pr_prev"))
  }

  private val g14ReachIncremental: QFn = (s, dir) => {
    // Incremental k-hop reachability on the STRONG co-purchase graph
    // (parts sharing >= 2 distinct orders — g12's support threshold,
    // and for the same reason: the support-1 graph saturates 3-hop BFS
    // from any seed set, leaving the increment nothing to improve;
    // the support-2 graph is sparse enough that the batch genuinely
    // re-labels — 66 newly-reachable + 7 hop-shortcuts at sf0.01).
    // The corpus/batch order split (o % 50) moves EDGES, not rows: an
    // edge whose support only clears 2 once batch orders count is a
    // batch edge — insert-only arrival at the edge level, the regime
    // where reachability is monotone and ops.Reachability.refreshHops
    // is exact. ONE self-join derives both support counts (the g11
    // flag discipline). Standing labels are built inline for the
    // fixture (the j13 convention); output = the full refreshed label
    // table with hop_prev (NULL = newly reachable), so the delta is
    // auditable and the row never goes vacuous at tiny SF. The pair
    // stats are the session-memoized GraphFixtures relation (three
    // consumers here: corpus, merged, batch edges).
    import graft.ops.Reachability
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
    def bidir(pairs: org.apache.spark.sql.DataFrame) =
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    // the support-filtered edge lists are ~400x smaller than the pair
    // relation; staged, each relaxation round reads a skinny RDD
    // instead of re-scanning + re-filtering the pair relation per job
    // (measured 9.3 -> ~4 s at sf0.1). batchE feeds ONE join —
    // staging it would do the same scan-filter work a job earlier.
    // The STANDING labels are the GraphFixtures.corpusHops relation
    // (r17 standing-state convention; same deterministic BFS).
    val mergedE = bidir(sup.filter(col("tsup") >= 2)).localCheckpoint(true)
    val batchE = bidir(sup.filter(col("tsup") >= 2 && col("csup") < 2))
    val standing = graft.tables.GraphFixtures.corpusHops(s, dir)
    Reachability.refreshHops(standing, mergedE, batchE, maxHop = 3)
      .select(col("id").as("part_id"), col("hop"), col("hop_prev"))
  }

  private val g15Communities: QFn = (s, dir) => {
    // Community detection on the STRONG co-purchase graph (the g12
    // support-2 graph — sparse and clustered, so labels actually
    // coalesce; the support-1 graph is near-complete and LPA collapses
    // it to one community immediately). Four deterministic synchronous
    // LPA rounds (ops.Lpa: most-frequent neighbor label, ties to the
    // smallest — a pure function of the edge set, so the oracle
    // replays the rounds as unrolled CTEs hash-exactly). Output: each
    // part's community plus the community size. Strong graph =
    // session-memoized GraphFixtures relation.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val lab = graft.ops.Lpa.propagate(edges, rounds = 4)
    val sz = lab.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    lab.join(sz, Seq("lbl"))
      .select(col("node").as("part_id"), col("lbl").as("community"),
        col("n_members"))
  }

  private val g16WalkCorpus: QFn = (s, dir) => {
    // DeepWalk-style walk corpus on the strong co-purchase graph: a
    // 4-step deterministic walk from every 20th graph node (ops.Walks
    // — md5-seeded neighbor draws, so the corpus replays hash-exact).
    // The sequences are what a skip-gram embedding trainer would
    // consume; at 100 TB the indexed adjacency is a Prepare-convention
    // staged table and walk work is O(walks·steps), graph-size-free.
    // Strong graph = session-memoized GraphFixtures relation; the
    // bidir union of its staged leaf needs no checkpoint of its own.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val starts = edges.select(col("src").as("id")).distinct()
      .filter(col("id") % 20 === 0)
    graft.ops.Walks.deterministicWalks(edges, starts, steps = 4)
      .select(col("walk_id"), col("step"), col("node").as("node_id"))
  }

  private val g17WalkPairs: QFn = (s, dir) => {
    // Skip-gram training pairs from the g16 walk corpus: every ordered
    // (center, context) co-occurrence within a ±2-step window, counted
    // — the word2vec input convention applied to node sequences (the
    // walks ARE the sentences). The pairing is an equi-join on walk_id
    // with the step band as a residual (the j6 range-join shape): a
    // walk contributes O(len·window) pairs, never a cross product.
    // Walk rows are unions of staged step frontiers (ops.Walks), so
    // the self-join reads leaves twice, not the build twice. Strong
    // graph = session-memoized GraphFixtures relation.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val starts = edges.select(col("src").as("id")).distinct()
      .filter(col("id") % 20 === 0)
    val walks = graft.ops.Walks.deterministicWalks(edges, starts, steps = 4)
    walks.as("l").join(walks.as("r"),
        col("l.walk_id") === col("r.walk_id")
          && abs(col("l.step") - col("r.step")) <= 2
          && col("l.step") =!= col("r.step"))
      .groupBy(col("l.node").as("center"), col("r.node").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val g18Ppr: QFn = (s, dir) => {
    // Personalized PageRank from the g6 seed customers (every 50th):
    // teleport mass restricted to the seeds, so rank = proximity to
    // the seed cohort over the bipartite purchase graph — the
    // recommendation primitive beside g8's global centrality. Same
    // integer recurrence (ops.PageRank.personalized), same shared
    // fixture (GraphFixtures.custSuppFlagged, flag ignored), top 100.
    val e0 = graft.tables.GraphFixtures.custSuppFlagged(s, dir)
      .select(col("cust"), col("supp"))
    val edges = e0.select(col("cust").as("src"), (col("supp") + 1000000000L).as("dst"))
      .unionByName(e0.select((col("supp") + 1000000000L).as("src"), col("cust").as("dst")))
    val seeds = Tables.customer(s, dir).filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").cast("long").as("id"))
    graft.ops.PageRank.personalized(edges, seeds, rounds = 5)
      .select(
        when(col("id") >= 1000000000L, lit("supp")).otherwise(lit("cust")).as("kind"),
        when(col("id") >= 1000000000L, col("id") - 1000000000L)
          .otherwise(col("id")).as("node_id"),
        col("pr"))
      .orderBy(col("pr").desc, col("kind"), col("node_id")).limit(100)
  }

  private val g19Components: QFn = (s, dir) => {
    // First-class connected components on the strong co-purchase graph
    // — min-label per component + component size, the adaptive CC
    // machinery the dedup/ER clusters already rely on (ops.Dedup:
    // one-task union-find under the edge limit, hash-to-min loop
    // above it — same output, differentially proven there). Every
    // strong-graph node has an edge, so no coalesce-to-self is needed.
    val cc = graft.ops.Dedup.connectedComponents(
      graft.tables.GraphFixtures.strongPairs(s, dir)
        .select(col("a").as("id_a"), col("b").as("id_b")))
    val sz = cc.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    cc.join(sz, Seq("label"))
      .select(col("node").as("part_id"), col("label").as("component"),
        col("n_members"))
  }

  private val g12Kcore: QFn = (s, dir) => {
    // 2-core of the STRONG co-purchase graph (parts sharing >= 2
    // distinct orders — the support threshold is what makes peeling
    // non-degenerate: the support-1 graph's min degree is 42 at sf0.01,
    // so every k <= 42 keeps everything and every k near the median
    // collapses it all at once; the support-2 graph is sparse and
    // skewed, and the 2-core strips 345 of 1880 nodes over a genuine
    // 4-round whisker cascade at sf0.01, 6 rounds at sf0.1). Exact
    // integer output (node, in-core degree); the peel fixpoint is
    // unique, so any oracle unroll >= the actual round count matches
    // hash-exactly. Scale shape documented in ops.KCore; the strong
    // graph is the session-memoized GraphFixtures relation (shared
    // with g15/g16/g17 — the Prepare convention).
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    graft.ops.KCore.core(strong, k = 2)
      .select(col("node_id").cast("long").as("part_id"), col("core_deg"))
  }

  private val g20Coreness: QFn = (s, dir) => {
    // Full coreness decomposition of the strong co-purchase graph —
    // the completion of g12's single 2-core: every node's core number
    // (largest k with the node in the k-core), i.e. the degeneracy
    // structure. Level k's peel starts from the staged (k-1)-core
    // (ops.KCore.coreness — the telescoped peel), and the loop runs
    // until a core comes up empty, so the output is complete, not
    // capped (max coreness 3 at sf0.01, 2 at sf0.1 — the oracle's
    // level/round unroll carries ~2x headroom over both). The strong
    // graph is the session-memoized / at-rest GraphFixtures relation.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    graft.ops.KCore.coreness(strong)
      .select(col("node_id").cast("long").as("part_id"), col("coreness"))
  }

  private val g21CommunitiesIncremental: QFn = (s, dir) => {
    // Incremental LPA communities across the g14 corpus/batch edge
    // split: standing labels = 4 deterministic LPA rounds on the
    // corpus strong graph (csup >= 2), then the batch edges arrive
    // (tsup >= 2 merged graph) and labels are WARM-STARTED for 2 more
    // rounds instead of re-running the cold chain (ops.Lpa.warmStart —
    // the g13 PageRank-warm-start discipline applied to communities;
    // LPA has no contraction theorem, so the claim is the
    // deterministic fold itself, which the oracle unrolls chain for
    // chain). Output = refreshed community per node plus its standing
    // community (NULL for nodes the batch introduced), so the delta is
    // auditable: 19 new nodes + 494 moved labels at sf0.01, 200 + 49
    // at sf0.1 — non-vacuous at both SFs. Pair stats are the
    // session-memoized / at-rest GraphFixtures relation.
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
    def bidir(pairs: org.apache.spark.sql.DataFrame) =
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    // the merged edge set feeds ONE Lpa call, which stages internally —
    // checkpointing here would stage the same relation twice. The
    // STANDING labels are the GraphFixtures.corpusLabels relation (r17
    // standing-state convention; same deterministic 4-round chain).
    val mergedE = bidir(sup.filter(col("tsup") >= 2))
    val standing = graft.tables.GraphFixtures.corpusLabels(s, dir)
    val refreshed = graft.ops.Lpa.warmStart(standing, mergedE, rounds = 2)
    refreshed
      .join(standing.select(col("node"), col("lbl").as("community_prev")),
        Seq("node"), "left")
      .select(col("node").as("part_id"), col("lbl").as("community"),
        col("community_prev"))
  }

  private val g22Harmonic: QFn = (s, dir) => {
    // Hop-bounded harmonic centrality from the g14 seed cohort (every
    // 100th part) over the strong co-purchase graph — the
    // closeness-family primitive beside PageRank: each seed runs its
    // own BFS lane inside ONE multi-source labeled BFS (frontier keyed
    // on (seed, node) pairs, ops.Centrality), contribution floor(1e6 /
    // hop) per reaching seed in integer division. State is
    // O(seeds × reached) — the sampled-cohort estimate trade
    // (Eppstein–Wang) made explicit, never all-pairs. 884 scored nodes
    // at sf0.01, 120 at sf0.1. Strong graph = session-memoized /
    // at-rest GraphFixtures relation.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val seeds = Tables.part(s, dir)
      .filter(col("p_partkey") % 100 === 0)
      .select(col("p_partkey").cast("long").as("id"))
    graft.ops.Centrality.harmonic(edges, seeds, maxHop = 3)
      .select(col("node_id").as("part_id"), col("centrality_ppm"),
        col("n_seeds_reaching"))
  }

  private val textDriftTv: QFn = (s, dir) => {
    // Corpus drift between the j10/j13 corpus/batch document split:
    // which tokens shifted frequency when the last 20% of documents
    // landed, and by how much overall (L1 distance in integer ppm —
    // ops.Drift; KL/PSI need ln, whose libm rounding differs across
    // engines, so TV/L1 is the oracled statistic). The continuous-
    // ingest monitoring primitive beside mixtureReport's one-snapshot
    // composition report.
    val docs = Tables.documents(s, dir)
    graft.ops.Drift.tokenDrift(
      docs.filter(col("doc_id") % 10 < 8),
      docs.filter(col("doc_id") % 10 >= 8),
      col("text"), k = 100)
  }

  private val embedDrift: QFn = (s, dir) => {
    // Embedding-space drift between the corpus/batch vector split:
    // compare the distributions over sign-pattern LSH cells (the
    // ann_lsh bucket arithmetic) — did the new batch's vectors land in
    // different regions? Cheap O(cells) monitoring beside the exact
    // embed_* moment queries; same integer-ppm L1 statistic as
    // text_drift_tv.
    val emb = Tables.embeddings(s, dir)
    val bucket = graft.ops.Similarity.signBucket(
      graft.ops.Similarity.quantize(col("embedding")))
    graft.ops.Drift.categoryDrift(
      emb.filter(col("vec_id") % 10 < 8),
      emb.filter(col("vec_id") % 10 >= 8),
      bucket, k = 100)
      .withColumnRenamed("key", "bucket")
  }

  private val g30Node2vecCorpus: QFn = (s, dir) => {
    // node2vec biased walk corpus on the strong co-purchase graph:
    // SECOND-ORDER 3-step walks from every 20th node with integer
    // bias weights (wRet, wIn, wFar) = (1, 2, 4) — the classic
    // (1/p, 1, 1/q) alphas at p = 2, q = 1/2 scaled to integers, an
    // outward/DFS-leaning exploration (ops.Walks.biasedWalks — md5
    // cumulative-interval draws over the dst-sorted candidates, so
    // the corpus replays hash-exact in SQL; (1,1,1) reduces exactly
    // to g16's uniform walks, spec-pinned). Per step: one frontier ⋈
    // adjacency equi-join, one edge-probe equi-join for the
    // distance-1 flag, one per-walk window — O(walks·deg) work,
    // graph-size-free. Strong graph = session-memoized / at-rest
    // GraphFixtures relation.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val starts = edges.select(col("src").as("id")).distinct()
      .filter(col("id") % 20 === 0)
    graft.ops.Walks.biasedWalks(edges, starts, steps = 3,
        wRet = 1L, wIn = 2L, wFar = 4L)
      .select(col("walk_id"), col("step"), col("node").as("node_id"))
  }

  private val g31Louvain: QFn = (s, dir) => {
    // One Louvain level over the strong co-purchase graph, from
    // singletons, 4 deterministic parity-alternating move rounds
    // (ops.Louvain): the community family now OPTIMIZES the
    // modularity g28 scores — greedy ΔQ moves on the same exact
    // integer lattice (score 2m·k_ic − k_i·Σtot), argmax as max-score
    // + min-label (two aggregates, deterministic in both engines).
    // LouvainSpec pins Q(louvain) ≥ Q(LPA) on the fixture graph.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val lab = graft.ops.Louvain.fromSingletons(strong, rounds = 4)
    val sz = lab.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    lab.join(sz, Seq("lbl"))
      .select(col("node").as("part_id"), col("lbl").as("community"),
        col("n_members"))
  }

  private val g32Betweenness: QFn = (s, dir) => {
    // Sampled Brandes betweenness from the g22 seed cohort (every
    // 100th part), hop bound 3 (ops.Centrality.betweenness): forward
    // = the g22 labeled BFS carrying shortest-path COUNTS, backward =
    // per-layer dependency accumulation in integer millionths with
    // the division floored identically in both engines. The traffic
    // complement to g22's proximity: which nodes shortest paths flow
    // THROUGH. State O(seeds × reached) per layer — the Brandes–Pich
    // estimator trade, never all-pairs.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val seeds = Tables.part(s, dir)
      .filter(col("p_partkey") % 100 === 0)
      .select(col("p_partkey").cast("long").as("id"))
    graft.ops.Centrality.betweenness(edges, seeds, maxHop = 3)
      .select(col("node_id").as("part_id"), col("betweenness_ppm"),
        col("n_seeds_reaching"))
  }

  private val driftAtRest: QFn = (s, dir) => {
    // Standing-drift ledger replay over counts AT REST — the
    // DriftIngest math as a batch query (the x3_sketch_at_rest
    // precedent: the 100 TB monitoring idiom stores per-epoch COUNT
    // partitions, and every drift row derives from counts, never
    // re-observing rows). Epochs = doc_id % 4; each epoch b >= 1
    // yields one row: the integer-ppm L1 distance between the counts
    // accumulated STRICTLY BEFORE b (the ledger's replay rule) and
    // b's own counts. The corpus is tokenized and counted ONCE,
    // staged at O(epochs × vocab); the three summaries read counts.
    val counts = Tables.documents(s, dir)
      .select((col("doc_id") % 4).as("batch_id"),
        explode(split(col("text"), " ")).as("key"))
      .groupBy(col("batch_id"), col("key")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    (1 to 3).map { b =>
      graft.ops.Drift.l1Summary(
          counts.filter(col("batch_id") < b)
            .groupBy(col("key")).agg(sum(col("cnt")).as("cnt_a")),
          counts.filter(col("batch_id") === b)
            .select(col("key"), col("cnt").as("cnt_b")))
        .withColumn("batch_id", lit(b.toLong))
    }.reduce(_.unionByName(_))
      .select(col("batch_id"), col("n_a"), col("n_b"), col("n_keys"),
        col("l1_ppm"))
  }

  private val g33LinkFeatures: QFn = (s, dir) => {
    // Local link-prediction features over the strong co-purchase
    // graph (ops.LinkPrediction — Liben-Nowell & Kleinberg's indices,
    // the graph feature-engineering primitive a ranking model trains
    // on): for every distance-2 candidate pair through a wedge center
    // of degree <= 64 (the Σdeg² practicality cap, exercised even at
    // the sf0.001 smoke SF where max degree is 138), common-neighbor
    // count, resource-allocation ppm (the oracled member of the
    // Adamic-Adar family — AA's ln differs across libms), preferential
    // attachment, and neighborhood-jaccard ppm. Top 1000 by support
    // with the pair as the total-order tiebreak.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    graft.ops.LinkPrediction.features(strong, maxHubDeg = 64L)
      .orderBy(col("common_neighbors").desc, col("id_a"), col("id_b"))
      .limit(1000)
      .select(col("id_a").as("part_a"), col("id_b").as("part_b"),
        col("common_neighbors"), col("resource_alloc_ppm"),
        col("pref_attach"), col("jaccard_ppm"))
  }

  private val g34Ktruss: QFn = (s, dir) => {
    // 3-truss of the strong co-purchase graph (ops.KTruss — every
    // surviving edge closes >= 1 triangle WITHIN the truss): the
    // edge-cohesion nucleus one notch stronger than g12's k-core,
    // separating genuinely clustered co-purchases from hub-and-spoke
    // stars. k = 3 because the strong graph's triangle density FALLS
    // with SF (probed: the 4-truss is empty at sf0.01/0.1 — the g24
    // vacuous-tier lesson — while the 3-truss holds 2244/181/3 edges
    // at sf0.001/0.01/0.1, and its peel still cascades: dropping a
    // triangle-free edge breaks neighbors' triangles next round).
    // Degree-ordered triangle enumeration per peel round, edge set
    // staged per round; output edges with their in-truss support.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    graft.ops.KTruss.truss(strong, k = 3)
      .select(col("id_a").as("part_a"), col("id_b").as("part_b"),
        col("support"))
  }

  private val g35KtrussIncremental: QFn = (s, dir) => {
    // Incremental 3-truss refresh under insert-only arrival — the
    // g24 story lifted from node degrees to edge supports
    // (ops.KTruss.refreshTruss): the standing truss of the CORPUS
    // strong graph (csup >= 2, the replayed-edge rule) is protected by
    // monotonicity (triangles only form), so the refresh peels only
    // the ACTIVE edges the full graph (tsup >= 2) adds, with triangle
    // enumeration anchored on the active region. Output is the merged
    // fixpoint with the g13/g24 delta convention: support_prev NULL
    // for batch-promoted edges. Both edge tiers come off the shared
    // supCounts fixture (csup >= 2 ⊆ tsup >= 2, so arrival is
    // insert-only by construction).
    // The STANDING truss is the GraphFixtures.corpusTruss relation (r17
    // standing-state convention; same deterministic peel).
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
    val mergedE = sup.filter(col("tsup") >= 2)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val standing = graft.tables.GraphFixtures.corpusTruss(s, dir)
    graft.ops.KTruss.refreshTruss(standing, mergedE, k = 3)
      .select(col("id_a").as("part_a"), col("id_b").as("part_b"),
        col("support"), col("support_prev"))
  }

  private val g36LouvainMultilevel: QFn = (s, dir) => {
    // MULTI-LEVEL Louvain over the strong co-purchase graph: the g31
    // level-1 move rounds, then Coarsen.contract collapses each
    // community into a weighted supernode (modularity-preserving —
    // Blondel's phase 2), then a weighted move pass merges whole
    // communities where the bridge mass justifies it
    // (Louvain.oneLevelWeighted, the same integer lattice with weight
    // mass). Output: each part labeled by its LEVEL-2 super-community
    // + member count — the partition multi-level Louvain actually
    // ships, refined past anything one level can see.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val l1 = graft.ops.Louvain.fromSingletons(strong, rounds = 4)
    val l2 = graft.ops.Louvain.oneLevelWeighted(
      graft.ops.Coarsen.contract(strong, l1), rounds = 2)
    val projected = l1
      .join(l2.select(col("node").as("lbl"), col("lbl").as("super")), Seq("lbl"))
      .select(col("node").as("part_id"), col("super").as("community"))
    val sz = projected.groupBy(col("community")).agg(count(lit(1)).as("n_members"))
    projected.join(sz, Seq("community"))
      .select(col("part_id"), col("community"), col("n_members"))
  }

  private val x6Anf: QFn = (s, dir) => {
    // Approximate neighborhood function over the strong co-purchase
    // graph (ops.Anf — the HyperBall iteration: per-node HLL ball
    // sketches, one edge⋈state join + union-agg per hop, O(|E|)
    // sketch merges at any graph size): N(h) = ordered pairs within h
    // hops, the effective-diameter / reach profile read. Approximate
    // by definition, so the oracled contract is the x2/x3 discipline:
    // the exact side is THIS query's own all-pairs BFS (the documented
    // exact-truth harness — the quadratic path ANF exists to replace),
    // and the compared columns (hop, exact_pairs, anf_ok) are
    // deterministic; the DuckDB side replays the BFS and emits literal
    // TRUE, so the hash compare ASSERTS the sketch sits in its
    // envelope.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val est = graft.ops.Anf.neighborhoodFunction(edges, maxHop = 3)
    val nodes = edges.select(col("src").as("node")).distinct()
    var visited = nodes.select(col("node").as("seed"), col("node").as("id"))
      .localCheckpoint(true)
    val exact = (1 to 3).map { h =>
      val next = edges
        .join(visited.select(col("seed"), col("id").as("src")), Seq("src"))
        .select(col("seed"), col("dst").as("id")).distinct()
        .join(visited, Seq("seed", "id"), "left_anti")
      visited = visited.unionByName(next).localCheckpoint(true)
      visited.agg(count(lit(1)).as("exact_pairs"))
        .select(lit(h.toLong).as("hop"), col("exact_pairs"))
    }.reduce(_.unionByName(_))
    exact.join(est, Seq("hop"))
      .select(col("hop"), col("exact_pairs"),
        (abs(col("est_pairs").cast("double") - col("exact_pairs").cast("double"))
          <= greatest(col("exact_pairs").cast("double") * lit(0.10), lit(50.0)))
          .as("anf_ok"))
  }

  private val g37LinkIncremental: QFn = (s, dir) => {
    // Incremental link-feature refresh under insert-only arrival (the
    // g35 split, the g11 delta-region discipline): standing features
    // over the CORPUS strong graph (csup >= 2), batch = the edges the
    // full graph adds (tsup >= 2 minus corpus), refresh =
    // ops.LinkPrediction.refreshFeatures — affected pairs generated
    // anchored on the batch's endpoint set (features are NOT monotone:
    // a batch edge kills its own candidate and rewrites every index
    // touching its endpoints), unchanged rows carried verbatim,
    // fixpoint == cold merged features (spec-proven). Output the
    // g33 top-1000 with prev_common_neighbors (NULL = batch-created
    // pair, the delta convention).
    // The STANDING features are the GraphFixtures.corpusLinkFeatures
    // relation (r17 standing-state convention; same hub cap).
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
    val mergedE = sup.filter(col("tsup") >= 2)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val batchE = sup.filter(col("tsup") >= 2 && col("csup") < 2)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val standing = graft.tables.GraphFixtures.corpusLinkFeatures(s, dir)
    graft.ops.LinkPrediction.refreshFeatures(standing, mergedE, batchE,
        maxHubDeg = 64L)
      .orderBy(col("common_neighbors").desc, col("id_a"), col("id_b"))
      .limit(1000)
      .select(col("id_a").as("part_a"), col("id_b").as("part_b"),
        col("common_neighbors"), col("resource_alloc_ppm"),
        col("pref_attach"), col("jaccard_ppm"), col("prev_common_neighbors"))
  }

  private val g38Motifs: QFn = (s, dir) => {
    // Small-motif census of the strong co-purchase graph (ops.Motifs):
    // node/edge/wedge/triangle/4-cycle counts from closed-form
    // aggregates (4-cycles via the diagonal-pair identity — no motif
    // is ever enumerated), one exact BIGINT row — the structural
    // fingerprint beside g29's assortativity scalar. The strong tier
    // IS the hub clamp the census cost model requires (Σdeg², the
    // triangle budget).
    graft.ops.Motifs.census(
      graft.tables.GraphFixtures.strongPairs(s, dir)
        .select(col("a").as("id_a"), col("b").as("id_b")))
  }

  private val g39Richclub: QFn = (s, dir) => {
    // Rich-club profile of the strong co-purchase graph
    // (ops.RichClub): per degree threshold k, how densely the
    // degree->k club connects internally — rising phi(k) = hub
    // oligarchy, the distributional complement of g29's one-number
    // assortativity. Whole profile = TWO grouped aggregates against a
    // broadcast 6-row literal series; exact BIGINT num/den + one IEEE
    // division, NULL (not 0) below two members.
    graft.ops.RichClub.profile(
      graft.tables.GraphFixtures.strongPairs(s, dir)
        .select(col("a").as("id_a"), col("b").as("id_b")),
      ks = Seq(1L, 2L, 4L, 8L, 16L, 32L))
  }

  private val g40ComponentsIncremental: QFn = (s, dir) => {
    // Incremental connected components (ops.Components — the cheapest
    // incremental-family member: components only MERGE, so the refresh
    // contracts standing components to their labels and solves CC on
    // the components+batch-sized contracted graph, NEVER re-touching
    // the full edge set). Same corpus/full split as g35/g37; output
    // the g19 shape; refresh == cold proven by the spec and by this
    // oracle (which just computes the merged CC cold).
    // The STANDING components are the GraphFixtures.corpusComponents
    // relation (r17 standing-state convention; staged by the getter —
    // refresh input + the prev column share it).
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
    val batchE = sup.filter(col("tsup") >= 2 && col("csup") < 2)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val standing = graft.tables.GraphFixtures.corpusComponents(s, dir)
    val cc = graft.ops.Components.refreshComponents(standing, batchE)
    val sz = cc.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    cc.join(sz, Seq("label"))
      .join(standing.select(col("node"),
        col("label").as("component_prev")), Seq("node"), "left")
      .select(col("node").as("part_id"), col("label").as("component"),
        col("n_members"), col("component_prev"))
  }

  private val x7EffDiameter: QFn = (s, dir) => {
    // Effective diameter + reach profile read off the ANF state — the
    // Palmer et al. 2002 headline statistic: the smallest hop h whose
    // neighborhood function N(h) reaches 90% of the hop-H plateau,
    // plus the whole N(h)/N(H) profile in ppm. Deterministic surface =
    // the exact BFS side (x6's harness): profile_ppm and
    // is_eff_diameter derive from exact pair counts on the integer
    // lattice (the 90% test is the cross-multiplied compare
    // N(h)·10⁶ ≥ 9·10⁵·N(H) — no division before the comparison).
    // The ANF estimates bind through TWO assertion booleans: the x6
    // per-hop envelope, and anf_eff_ok = the sketch-derived effective
    // diameter lands within ±1 hop of the exact one (HLL sketches are
    // deterministic functions of the node sets, so both are
    // rerun-stable). At 100 TB only the sketch path runs — this
    // query's exact BFS is the sf-scale truth harness, x2/x3's role.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val est = graft.ops.Anf.neighborhoodFunction(edges, maxHop = 3)
      .localCheckpoint(true) // three consumers: join, plateau, eff scan
    val nodes = edges.select(col("src").as("node")).distinct()
    var visited = nodes.select(col("node").as("seed"), col("node").as("id"))
      .localCheckpoint(true)
    val exact = (1 to 3).map { h =>
      val next = edges
        .join(visited.select(col("seed"), col("id").as("src")), Seq("src"))
        .select(col("seed"), col("dst").as("id")).distinct()
        .join(visited, Seq("seed", "id"), "left_anti")
      visited = visited.unionByName(next).localCheckpoint(true)
      visited.agg(count(lit(1)).as("exact_pairs"))
        .select(lit(h.toLong).as("hop"), col("exact_pairs"))
    }.reduce(_.unionByName(_)).localCheckpoint(true)
    val exactH = exact.filter(col("hop") === 3)
      .select(col("exact_pairs").as("ep_h"))
    val estH = est.filter(col("hop") === 3).select(col("est_pairs").as("est_h"))
    val effExact = exact.join(broadcast(exactH))
      .filter(col("exact_pairs") * lit(1000000L) >= lit(900000L) * col("ep_h"))
      .agg(min(col("hop")).as("eff_exact"))
    val effEst = est.join(broadcast(estH))
      .filter(col("est_pairs") >= lit(0.9) * col("est_h"))
      .agg(min(col("hop")).as("eff_est"))
    exact.join(est, Seq("hop"))
      .join(broadcast(exactH)).join(broadcast(estH))
      .join(broadcast(effExact)).join(broadcast(effEst))
      .select(col("hop"), col("exact_pairs"),
        expr("exact_pairs * 1000000 div ep_h").as("profile_ppm"),
        (col("hop") === col("eff_exact")).as("is_eff_diameter"),
        (abs(col("est_pairs").cast("double") - col("exact_pairs").cast("double"))
          <= greatest(col("exact_pairs").cast("double") * lit(0.10), lit(50.0)))
          .as("anf_ok"),
        (abs(col("eff_est") - col("eff_exact")) <= 1).as("anf_eff_ok"))
  }

  private val g41Node2vecPairs: QFn = (s, dir) => {
    // Skip-gram training pairs from the g30 node2vec corpus — the g17
    // window-pair extraction applied to BIASED walks, so node2vec has
    // the same corpus→pairs path DeepWalk has: every ordered
    // (center, context) co-occurrence within ±2 steps of the same
    // walk, counted. Pairing is an equi-join on walk_id with the step
    // band as a residual; walk rows are unions of staged step
    // frontiers, so the self-join reads leaves twice, not the build.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val starts = edges.select(col("src").as("id")).distinct()
      .filter(col("id") % 20 === 0)
    val walks = graft.ops.Walks.biasedWalks(edges, starts, steps = 3,
      wRet = 1L, wIn = 2L, wFar = 4L)
    walks.as("l").join(walks.as("r"),
        col("l.walk_id") === col("r.walk_id")
          && abs(col("l.step") - col("r.step")) <= 2
          && col("l.step") =!= col("r.step"))
      .groupBy(col("l.node").as("center"), col("r.node").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val g42LouvainConverged: QFn = (s, dir) => {
    // Multi-level Louvain run to CONVERGENCE (ops.Louvain.multiLevel —
    // the full Blondel outer loop): contract-and-move levels are
    // accepted while the exact integer modularity numerator strictly
    // improves on the base graph, bounded by a loud maxLevels. Output
    // = the converged partition with member counts plus the accepted
    // level count (audit column). The oracle unrolls the probed level
    // chain AND asserts the stop rule from its own Q numerators: a
    // sentinel row fires if any accepted level failed to improve Q or
    // the next candidate level would still improve it — the same
    // discipline as g34's fixpoint sentinel, lifted to the level loop.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val ml = graft.ops.Louvain.multiLevel(strong,
      level1Rounds = 4, weightedRounds = 2, maxLevels = 10)
    val sz = ml.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
    ml.join(sz, Seq("lbl"))
      .select(col("node").as("part_id"), col("lbl").as("community"),
        col("n_members"), col("levels"))
  }

  private val g29Assortativity: QFn = (s, dir) => {
    // Degree assortativity of the strong co-purchase graph
    // (ops.Assortativity — exact BIGINT moment sums, one fixed
    // IEEE-exact formula with correctly-rounded sqrt): the one-number
    // structural summary beside the centrality/community families.
    graft.ops.Assortativity.degreeAssortativity(
      graft.tables.GraphFixtures.strongPairs(s, dir)
        .select(col("a").as("id_a"), col("b").as("id_b")))
  }

  private val g28Modularity: QFn = (s, dir) => {
    // Modularity decomposition of the g15 LPA partition over the
    // strong co-purchase graph — the community family judged, not just
    // produced (ops.Modularity): per-community in-edges, degree mass,
    // exact integer numerator 4·m·in_c − deg_c², and the two IEEE
    // single-division scores (contribution + whole-partition Q).
    // Both fixture-shared: the strong graph is the session-memoized /
    // at-rest relation, the labels are the same 4-round chain g15
    // runs.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"))
    val edges = strong.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(strong.select(col("id_b").as("src"), col("id_a").as("dst")))
    val labels = graft.ops.Lpa.propagate(edges, rounds = 4)
    // the op's lattice is DECIMAL(38,0) (exact past 1e9 edges); the
    // REPORT casts it to BIGINT — the compare-friendly type, in range
    // at any driver-verified SF (the cast is ANSI-loud, never silent)
    graft.ops.Modularity.ofPartition(strong, labels)
      .select(col("community"), col("n_members"), col("in_edges"),
        col("deg_sum"), col("numer").cast("long").as("numer"),
        col("denom").cast("long").as("denom"), col("q_contrib"),
        col("q_total"))
  }

  private val g26LabelSpread: QFn = (s, dir) => {
    // Semi-supervised label spreading with hard clamping over the
    // strong co-purchase graph: every 50th part carries a ground-truth
    // class (p_partkey % 5 — five classes), seeds never update, and
    // unlabeled parts adopt the majority class among labeled neighbors
    // for 4 rounds (ops.Lpa.spread — Zhu & Ghahramani's SSL label
    // propagation, the training-data labeling primitive: spread a
    // small human-labeled set through a similarity graph). 1676
    // non-seed parts labeled at sf0.01, 236 at sf0.1. Strong graph =
    // session-memoized / at-rest GraphFixtures relation.
    val strong = graft.tables.GraphFixtures.strongPairs(s, dir)
    val edges = strong.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(strong.select(col("b").as("src"), col("a").as("dst")))
    val seeds = Tables.part(s, dir)
      .filter(col("p_partkey") % 50 === 0)
      .select(col("p_partkey").cast("long").as("node"),
        (col("p_partkey") % 5).cast("long").as("lbl"))
    graft.ops.Lpa.spread(edges, seeds, rounds = 4)
      .select(col("node").as("part_id"), col("lbl").as("label"))
  }

  private val g27TemporalReach: QFn = (s, dir) => {
    // Temporal earliest-arrival reachability over the customer-
    // supplier event graph: each (cust, supp) purchase carries its
    // order day, influence starting at the g6 seed cohort (every 100th
    // customer, day 0) flows only through chronologically ordered
    // events, bounded at 3 hops (ops.Reachability.earliestArrival).
    // The static-graph answer overstates reach — a path whose edges
    // happened out of order never carried anything. Exact integer
    // days, oracle = min-merged layer DP.
    val joined = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
    val p0 = joined
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"),
        Tables.epochDay(joined, "o_orderdate").as("t"))
      .distinct()
    val edges = p0.select(col("cust").as("src"),
        (col("supp") + 1000000000L).as("dst"), col("t"))
      .unionByName(p0.select((col("supp") + 1000000000L).as("src"),
        col("cust").as("dst"), col("t")))
    val seeds = Tables.customer(s, dir)
      .filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey").cast("long").as("id"))
    graft.ops.Reachability.earliestArrival(edges, seeds, maxHop = 3)
      .select(
        when(col("id") >= 1000000000L, lit("supp")).otherwise(lit("cust")).as("kind"),
        when(col("id") >= 1000000000L, col("id") - 1000000000L)
          .otherwise(col("id")).as("node_id"),
        col("arr").as("arrival_day"))
  }

  private val g25Sssp: QFn = (s, dir) => {
    // Hop-bounded weighted shortest distances from the g14 seed cohort
    // over the strong co-purchase graph, edge cost = 1e6 div support
    // ("rarer co-purchases are farther" — positive, integer,
    // deterministic): the SSSP primitive beside g6/g14's unweighted
    // BFS (ops.Reachability.weightedDistances — improvement-frontier
    // relaxation, never full node-sized layers). The oracle replays
    // the equivalent layer DP. Support stats are the session-memoized /
    // at-rest GraphFixtures relation.
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
      .filter(col("tsup") >= 2)
      .select(col("a"), col("b"), expr("1000000L div tsup").as("w"))
    val edges = sup.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(sup.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val seeds = Tables.part(s, dir)
      .filter(col("p_partkey") % 100 === 0)
      .select(col("p_partkey").cast("long").as("id"))
    graft.ops.Reachability.weightedDistances(edges, seeds, maxHop = 3)
      .select(col("id").as("part_id"), col("dist"))
  }

  private val g24KcoreIncremental: QFn = (s, dir) => {
    // Incremental k-core across the corpus/batch order split, on the
    // SUPPORT-1 co-occurrence graph at k = 80 (the strong graph's
    // 2-core is 3 nodes at sf0.1 — vacuous; the co-occurrence graph at
    // k = 80 cascades 7-9 rounds AND the batch genuinely promotes: 54
    // newly-in-core + 1706 degree changes at sf0.01, 369 + 16150 at
    // sf0.1). Insert-only edge arrival ⇒ the core only grows, so the
    // refresh is EXACT: standing-core nodes are protected, core-core
    // edges skip the peel, and per-round work is the ACTIVE region
    // (the ~8% of nodes outside the standing core), not the 1.2M-pair
    // graph (ops.KCore.refreshCore). Output = merged-core degree per
    // node + its standing degree (NULL = promoted by the batch). Pair
    // stats are the session-memoized / at-rest GraphFixtures relation.
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
    val mergedE = sup.select(col("a").as("id_a"), col("b").as("id_b"))
    // the standing core is a fixture relation (at rest between batches
    // in production — the refresh's premise), not a per-query rebuild;
    // k is corpus-size-tiered (the t8 discipline, CASE-mirrored in the
    // oracle) so the smoke SF keeps a non-vacuous core
    val standing = graft.tables.GraphFixtures.coOccurCorpusCore(s, dir)
    graft.ops.KCore.refreshCore(standing, mergedE,
      k = graft.tables.GraphFixtures.coOccurCoreK(s, dir))
      .select(col("node_id").cast("long").as("part_id"), col("core_deg"),
        col("core_deg_prev"))
  }

  private val g23PagerankWeighted: QFn = (s, dir) => {
    // Weighted PageRank over the strong co-purchase graph with the
    // pair SUPPORT as edge weight (ops.PageRank.weighted): mass flows
    // toward parts whose co-purchases repeat, not merely exist — the
    // weighted-graph primitive the unweighted family (g8/g13/g18)
    // lacks. Same integer lattice, so the oracle unrolls the weighted
    // recurrence hash-exactly. Support stats are the session-memoized /
    // at-rest GraphFixtures relation; full rank table out (no top-k),
    // with the weight-degree for auditability.
    val sup = graft.tables.GraphFixtures.supCounts(s, dir)
      .filter(col("tsup") >= 2)
    val edges = sup.select(col("a").as("src"), col("b").as("dst"), col("tsup").as("w"))
      .unionByName(sup.select(col("b").as("src"), col("a").as("dst"),
        col("tsup").as("w")))
    graft.ops.PageRank.weighted(edges, rounds = 5)
      .select(col("id").as("part_id"), col("pr"))
  }

  private val j11SetSimJoin: QFn = (s, dir) =>
    // Exact set-similarity self-join (Jaccard >= 0.5) via prefix
    // filtering — the provably-complete tier beside
    // dedup_ngram_jaccard's MinHash recall trade. Element domain is
    // 3-gram SHINGLE sets, not tokens: on this shared-vocabulary
    // corpus token-Jaccard >= 0.5 holds for most pairs (the
    // dedup_recall finding — an intrinsically quadratic OUTPUT no
    // algorithm fixes; a token-set run measured 55 s at sf0.1 with
    // virtually every pair surviving the verify). The oracle is the
    // postings-exact scan; the operator's prefix math never needs to
    // match it (candidates are an implementation detail, the exact
    // verify defines the output). SetSimJoinSpec proves completeness
    // differentially incl. template corpora.
    graft.ops.SetSimJoin.jaccardSelfJoin(
      Tables.documents(s, dir).select(col("doc_id"),
        graft.expr.ArrayExprs.shingleHashes(col("text")).as("ts"))
        .filter(col("ts").isNotNull),
      tau = 0.8)

  private val j12EntityResolution: QFn = (s, dir) =>
    // Entity resolution over customer names: conjunctive match rule
    // (lev <= 1 AND char-trigram Jaccard >= 0.9), both channels
    // provably-complete blocked joins, entities = connected
    // components. At sf0.01 this yields 3 multi-record entities
    // (sizes 47/11/10) and 1432 singletons — non-trivial on both
    // sides of the rule. See ops.EntityResolution for the shape.
    // The resolved table is the session-memoized / at-rest ErFixtures
    // relation (the GraphFixtures convention): in production it is a
    // standing table rebuilt per corpus snapshot, not re-resolved per
    // reader.
    graft.tables.ErFixtures.resolvedAll(s, dir)

  private val j13ErIncremental: QFn = (s, dir) => {
    // Incremental entity resolution across the j10 corpus/batch split:
    // the 80% corpus is resolved once (standing entity table + FastSS
    // variant index at rest in production; the session-memoized /
    // at-rest ErFixtures relation — staged eagerly because assignBatch
    // consumes it three times), then the 20% batch is placed with
    // O(batch) pairing work. Oracled against the FULL re-resolve
    // restricted to batch records — the convergence the operator's
    // coarsened-edge argument claims.
    val corpus = graft.tables.ErFixtures.resolvedCorpus(s, dir)
    graft.ops.EntityResolution.assignBatch(
      corpus, col("record_id"), col("entity_id"), col("c_name"),
      Tables.customer(s, dir).filter(col("c_custkey") % 10 >= 8),
      col("c_custkey"), col("c_name"),
      k = 1, tau = 0.9)
  }

  /** Part co-occurrence graph: parts sharing an order, one undirected
    * edge per distinct pair (115k edges / 413k triangles at sf0.01).
    * Shared by g9/g10 via the session-memoized
    * [[graft.tables.GraphFixtures.partCoPairs]] (the Prepare
    * convention: one build per session+dir, every consumer reads the
    * staged relation — without it each query re-runs the lineitem
    * self-join, measured 7.6 → ~3 s for g10 at sf0.1 for the
    * within-query sharing alone). */
  private def partCoEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.tables.GraphFixtures.partCoPairs(s, dir)

  private val g11TriIncremental: QFn = (s, dir) => {
    // Incremental triangle maintenance: the co-occurrence edges of the
    // last 2% of orders arrive as a batch against the standing 98%
    // graph (an increment should be small against its corpus — that is
    // the regime the operator exists for); new-triangle counts per
    // part come from batch-edge wedges only
    // (ops.Triangles.newTrianglesPerNode — the corpus is never
    // re-enumerated). ONE self-join derives both relations: each
    // distinct pair is flagged by whether any CORPUS order produces it
    // — pairs also reachable from corpus orders are standing edges,
    // not batch edges (the replayed-edge rule as a flag, no second
    // edge build + anti-join). Oracle = recount(union) −
    // recount(corpus). The flag derives from the session-memoized
    // pair stats: csup >= 1 ⟺ max over orders of (o % 50 <> 49) —
    // the exact flag the inline build computed.
    val flagged = graft.tables.GraphFixtures.supCounts(s, dir)
      .select(col("a").as("id_a"), col("b").as("id_b"),
        (col("csup") >= 1).as("in_corpus"))
    graft.ops.Triangles.newTrianglesPerNode(
        flagged.filter(col("in_corpus")),
        flagged.filter(!col("in_corpus")))
      .select(col("node").as("part_id"), col("n_tri_new"))
  }

  private val g9Triangles: QFn = (s, dir) =>
    // Per-part triangle counts. The interesting machinery is in
    // ops.Triangles: degree-ordered orientation caps closure cost at
    // O(m^1.5) under any skew.
    graft.ops.Triangles.perNodeCounts(partCoEdges(s, dir))
      .select(col("node").as("part_id"), col("n_tri"))

  private val g10Clustering: QFn = (s, dir) => {
    // Local clustering coefficient per part — triangles over possible
    // wedges, kept in INTEGER math (millionths, floor division) so the
    // oracle hash-matches exactly: coef_ppm = n_tri·2·10⁶ div
    // (d·(d−1)). Degree joins broadcast (node-scale); nodes with no
    // triangles still appear (coef 0) via the degree side.
    val edges = partCoEdges(s, dir)
    val deg = edges.select(explode(array(col("id_a"), col("id_b"))).as("part_id"))
      .groupBy(col("part_id")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
    val tri = graft.ops.Triangles.perNodeCounts(edges)
      .select(col("node").as("part_id"), col("n_tri"))
    deg.join(tri, Seq("part_id"), "left")
      .select(col("part_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      // `div` = true integer division on both engines (no double
      // quotient that could round across the floor boundary)
      .withColumn("coef_ppm", expr("n_tri * 2000000 div (deg * (deg - 1))"))
  }

  private val t6Resample: QFn = (s, dir) => {
    // Gap-filled per-user daily resample: one row per (user, day) over
    // each user's own active span, n_events = 0 on gap days, value
    // forward-filled from the last observed event ((ts, event_id)
    // argmax — deterministic under ties). floor(ts_us / day) is exact
    // here: for integer a < 2^53, double division can't misround the
    // floor (epoch micros ≈ 1.7e15 stays far under), so Spark's floor
    // and DuckDB's integer // agree on every boundary.
    import graft.ops.Resample
    val ev = Tables.events(s, dir)
    Resample.resample(ev, col("user_id"), col("ts_us"), col("value"),
        col("event_id"), stepUs = 86400000000L)
      .withColumnRenamed("key", "user_id")
  }

  // ---- T: sliding windows --------------------------------------------------

  private val t4SlidingWindow: QFn = (s, dir) =>
    // Sliding event-time windows (6h length, 3h slide): every event
    // lands in exactly two epoch-aligned windows. Native window()
    // generator - the streaming-ready formulation.
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total"))

  // ---- ANN: sign-bit LSH ---------------------------------------------------

  private val annLsh: QFn = (s, dir) =>
    // Random-hyperplane-style LSH with the coordinate signs of the
    // first 8 dims as the hyperplane set (deterministic, engine-
    // agnostic; 8 bits, not 16 — 2^16 buckets left every query alone
    // in its bucket at the gate SFs, a vacuously-empty result).
    // Bucket equality prunes candidates before any scoring; the bucket
    // id is a shuffle key, so at scale this is one hash shuffle + tiny
    // per-bucket scoring, same shape as dedup_minhash.
    graft.ops.Similarity.lshTopK(Tables.embeddings(s, dir),
      k = 3, queryStride = 100, bits = 8)

  // the multi-probe repair of the above: same single table, queries
  // additionally probe every Hamming-1 sign bucket — the standard
  // recall fix that costs probe fan-out instead of extra tables
  private val annLshProbe: QFn = (s, dir) =>
    graft.ops.Similarity.lshTopKProbe(Tables.embeddings(s, dir),
      k = 3, queryStride = 100, bits = 8)

  // ---- P/K/A/text: JSON, exact uint256 agg, percentiles, doc frequency ----

  private val p7JsonExtract: QFn = (s, dir) =>
    // JSON path extraction at the source edge (SURVEY §2.3: RPC payload
    // decode = from_json/get_json_object). Codegen'd path evaluation,
    // no UDF.
    Tables.events(s, dir).select(col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      get_json_object(col("props"), "$.k").cast("int").as("k_int"))

  private val k9Uint256Sum: QFn = (s, dir) => {
    // The custom uint256 Aggregator (SURVEY §2.9) made differentially
    // checkable: Spark sums 64-char-hex values exactly in BigInt and
    // renders the decimal string; the oracle sums the same values into
    // a 128-bit HUGEINT. Values here stay far below 2^127, so both are
    // exact and equal; beyond 2^127 only the Spark side stays correct.
    import org.apache.spark.sql.functions.udaf
    val u256 = udaf(graft.expr.Uint256Sum)
    Tables.events(s, dir)
      .withColumn("qty_hex", lpad(lower(hex(col("event_id") * lit(1000000000L))), 64, "0"))
      .groupBy(col("user_id"))
      .agg(u256(col("qty_hex")).as("total_hex"))
      .select(col("user_id"), graft.expr.Exprs.hexToDec(col("total_hex")).as("total_dec"))
  }

  private val k10Uint256Net: QFn = (s, dir) => {
    // Signed net of two exact uint256 folds — the shape the NFT
    // derivation uses for token supply (mint total - burn total,
    // Derive.tokens) and owner balances (in - out, Derive.owners),
    // made differentially checkable: hex_sub renders `-` + pad64 for
    // negative nets, translated to a signed decimal string.
    import org.apache.spark.sql.functions.udaf
    val u256 = udaf(graft.expr.Uint256Sum)
    Tables.events(s, dir)
      .withColumn("qty_hex", lpad(lower(hex(col("event_id") * lit(1000000L))), 64, "0"))
      .groupBy(col("user_id"))
      .agg(u256(when(col("event_type") === "click", col("qty_hex"))).as("in_hex"),
        u256(when(col("event_type") === "view", col("qty_hex"))).as("out_hex"))
      .withColumn("net_hex", graft.expr.Exprs.hexSub(col("in_hex"), col("out_hex")))
      .select(col("user_id"),
        when(col("net_hex").startsWith("-"),
          concat(lit("-"), graft.expr.Exprs.hexToDec(substring(col("net_hex"), 2, 64))))
          .otherwise(graft.expr.Exprs.hexToDec(col("net_hex"))).as("net_dec"))
  }

  private val a11Percentiles: QFn = (s, dir) =>
    // Exact percentiles (linear interpolation over sorted values) on an
    // integer-floored measure so the interpolation arithmetic is
    // bit-identical across engines.
    Tables.events(s, dir)
      .withColumn("v", floor(col("value")))
      .groupBy(col("event_type"))
      .agg(expr("percentile(v, 0.5)").as("median_v"),
        expr("percentile(v, 0.9)").as("p90_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))

  private val textDf: QFn = (s, dir) =>
    // Corpus vocabulary statistics: term frequency + document frequency
    // per token — the df table a TF-IDF pipeline joins against. Explode
    // -> hash shuffle on token -> count + distinct count.
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 10)

  // ---- E: skew mitigation --------------------------------------------------

  private val e1SaltedHotkey: QFn = (s, dir) => {
    // Two-phase salted aggregation over a 5-value hot key (event_type):
    // shuffle 1 on (key, salt) spreads each hot key over 32 reducers,
    // shuffle 2 moves only 32 partial rows per key. Oracled against the
    // plain GROUP BY - the salting must be semantically invisible
    // (decimal partials keep the merge order-independent).
    import graft.ops.Skew
    val agg = Skew.SaltedAgg(
      partial = Seq(sum(dec(col("value"))).as("__p_sum"), count(lit(1)).as("__p_cnt")),
      merge = Seq(sum(col("__p_sum")).cast("double").as("total"),
        sum(col("__p_cnt")).as("n")))
    Skew.saltedAggregate(
      Tables.events(s, dir).select(col("event_type"), col("value")),
      Seq("event_type"), agg)
  }

  private val e2ZorderLocality: QFn = (s, dir) =>
    // Morton z-value over (user_id, floor(value)) — the clustering key
    // a 100 TB lake lays files out by so that BOTH range predicates
    // prune via footer stats (LayoutSpec measures the actual file-level
    // prune). The bit-interleave is plain integer arithmetic, generated
    // from the same enumeration as the SQL mirror below.
    Tables.events(s, dir).select(col("event_id"),
      graft.ops.Layout.zValue(
        Seq(col("user_id"), floor(col("value")).cast("long"))).as("zv"))

  // ---- X: sketch aggregates (approximate -> rows-only check) ---------------

  private val x1ApproxSketch: QFn = (s, dir) =>
    // HLL++ distinct sketch + quantile sketch - the partial-mergeable
    // aggregates a 1000-executor rollup actually ships between stages.
    // Approximate by definition, so no DuckDB hash oracle (driver
    // records a rows-only check), but estimates are asserted against
    // exact counts in ExtendedQueriesSpec.
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_median"),
        count(lit(1)).as("n"))

  private val x3SketchAtRest: QFn = (s, dir) => {
    // Mergeable sketches AT REST — the 100 TB distinct-count idiom: a
    // daily pre-aggregation stores ONE HLL sketch per day (a KB-scale
    // binary), and every later rollup (here weekly) merges the STORED
    // sketches with hll_union_agg instead of rescanning raw rows. At
    // 1000 executors this turns "distinct users last week" from a
    // full-corpus shuffle into a 7-row sketch merge. Approximate by
    // definition, so the oracled contract is the x2 discipline: each
    // engine asserts its own estimate against its own exact count,
    // and the compared columns (week, n_days, exact_users, users_ok)
    // are deterministic. Day/week use integer division on positive
    // epoch-us, matching DuckDB's `//` floor semantics.
    val ev = Tables.events(s, dir).select(
      (col("ts_us") / lit(86400000000L)).cast("long").as("day"),
      col("user_id"))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val weekly = daily
      .groupBy((col("day") / lit(7L)).cast("long").as("week"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev
      .groupBy((col("day") / lit(7L)).cast("long").as("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    weekly.join(exact, Seq("week"))
      .select(col("week"), col("n_days"), col("exact_users"),
        (abs(col("est").cast("double") - col("exact_users").cast("double")) <=
          greatest(col("exact_users").cast("double") * lit(0.10), lit(10.0)))
          .as("users_ok"))
  }

  private val x4CmsBounds: QFn = (s, dir) => {
    // Count-Min point-frequency contract: build ONE seeded CMS over
    // all events (counters are additive, so the binary — and hence
    // every estimate — is identical under any partitioning, unlike
    // MG), broadcast it, and probe per-user frequencies with the
    // native cms_estimate expression. CMS only over-counts: est ≥
    // exact always; the upper envelope uses 2·eps·N headroom over the
    // per-item eps·N @ 0.999-confidence bound so the booleans are
    // stable, not flaky. DuckDB has no CMS, so the oracle emits
    // literal TRUE bounds — the hash compare thereby ASSERTS Spark's
    // sketch sits inside its envelope (the x2 discipline, one-sided).
    val ev = Tables.events(s, dir).select(col("user_id"))
    val sk = ev.agg(
      count_min_sketch(col("user_id"), lit(0.005), lit(0.999), lit(42)).as("sk"),
      count(lit(1)).as("n_total"))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
      .crossJoin(broadcast(sk)) // 1-row scalar, the q11/q15 pattern
      .withColumn("est", graft.expr.Cms.cmsEstimate(col("sk"), col("user_id")))
      .select(col("user_id"), col("exact_cnt"),
        (col("est") >= col("exact_cnt")).as("ok_lower"),
        (col("est") <= col("exact_cnt") +
          ceil(col("n_total").cast("double") * lit(0.01)).cast("long")).as("ok_upper"))
  }

  private val x5QuantileAtRest: QFn = (s, dir) => {
    // Quantile sketches AT REST (the x3 idiom for ranks): one KLL
    // sketch per day, weekly rollups merge the STORED binaries with
    // kll_merge — no raw rescan. KLL compaction is randomized
    // (expr/Kll.scala caveat), so unlike x3 the estimate itself can
    // never face the hash oracle: the contract exposes exact counts
    // plus a wide-envelope boolean — the EXACT rank of the estimated
    // median must sit in [0.40, 0.60] (k=200 rank error is ~1.65%;
    // the envelope is ~6 sigma, so the boolean is stable, not flaky).
    // DuckDB has no KLL: literal TRUE, the one-sided x4 discipline.
    val ev = Tables.events(s, dir).select(
      (col("ts_us") / lit(86400000000L)).cast("long").as("day"),
      col("value"))
    val weekly = ev.groupBy(col("day"))
      .agg(graft.expr.Kll.kllSketch(col("value").cast("double")).as("sk"))
      .groupBy((col("day") / lit(7L)).cast("long").as("week"))
      .agg(count(lit(1)).as("n_days"),
        graft.expr.Kll.kllMerge(col("sk")).as("sk"))
      .select(col("week"), col("n_days"),
        graft.expr.Kll.kllQuantile(col("sk"), lit(0.5)).as("est"))
    ev.select((col("day") / lit(7L)).cast("long").as("week"), col("value"))
      .join(broadcast(weekly), Seq("week"))
      .groupBy(col("week"), col("n_days"))
      .agg(count(lit(1)).as("n_values"),
        sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("n_le"))
      .select(col("week"), col("n_days"), col("n_values"),
        (abs(col("n_le").cast("double") / col("n_values").cast("double") - lit(0.5))
          <= lit(0.10)).as("p50_ok"))
  }

  private val x2SketchBounds: QFn = (s, dir) =>
    // Cross-engine sketch-accuracy CONTRACT, hash-oracled: each engine
    // runs its own HLL / quantile sketch and asserts it against its own
    // exact aggregate, so the compared columns are deterministic
    // booleans + exact counts even though the sketches themselves are
    // approximate. This pins what x1 (rows-only by necessity) cannot:
    // that the estimate the 1000-executor rollup would ship is inside
    // its advertised error envelope on this data. Tolerances are wide
    // vs the configured accuracy (rsd 0.02 vs 10% bound; rank error
    // n/10000 vs the 45th-55th percentile band) so the booleans are
    // stable, not flaky.
    Tables.events(s, dir)
      .withColumn("v", floor(col("value")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("exact_users"),
        (abs(approx_count_distinct(col("user_id"), 0.02).cast("double") -
          countDistinct(col("user_id")).cast("double")) <=
          greatest(countDistinct(col("user_id")).cast("double") * lit(0.10),
            lit(10.0))).as("users_ok"),
        // Small-group escape (n < 1000, both engines compute n
        // identically): Spark's approx median is an actual element
        // while DuckDB's t-digest interpolates, and for tiny/degenerate
        // groups an element can sit outside ANY interior percentile
        // band — the check is only meaningful where the sketches'
        // error bounds are (rank error n/10000 vs the 5pp band).
        (percentile_approx(col("v"), lit(0.5), lit(10000)).cast("double")
          .between(expr("percentile(v, 0.45)"), expr("percentile(v, 0.55)"))
          || count(lit(1)) < 1000).as("median_ok"))

  // ---- R: retrieval / corpus scoring / snapshot diff -----------------------

  /** Fixed BM25 query-term set — small (3 terms) so the map-side
    * per-term-column plan applies; see ops/Retrieval scaladoc for the
    * large-query-set alternative. */
  private val Bm25Terms = Seq("spark", "join", "window")

  private val textBm25TopK: QFn = (s, dir) =>
    graft.ops.Retrieval.bm25TopK(Tables.documents(s, dir), Bm25Terms, k = 10)

  private val textKeywords: QFn = (s, dir) =>
    graft.ops.Retrieval.tfidfKeywords(Tables.documents(s, dir), topN = 3)

  private val textLmBigram: QFn = (s, dir) =>
    graft.ops.Retrieval.bigramKnownRatio(Tables.documents(s, dir))

  private val textPmi: QFn = (s, dir) =>
    graft.ops.Retrieval.pmiBigrams(Tables.documents(s, dir), minCount = 5L)

  private val embedCovariance: QFn = (s, dir) =>
    graft.ops.Moments.covarianceStats(Tables.embeddings(s, dir), dims = 64)

  private val embedCenter: QFn = (s, dir) =>
    graft.ops.Moments.centered(Tables.embeddings(s, dir), dims = 64)

  private val embedProject: QFn = (s, dir) =>
    graft.ops.Moments.pcaProject(Tables.embeddings(s, dir), dims = 64)

  private val embedWhiten: QFn = (s, dir) =>
    graft.ops.Moments.pcaWhiten(Tables.embeddings(s, dir), dims = 64)

  // the 100 TB stats tier: direction/mean from a deterministic
  // md5-bucket sample when the corpus exceeds the bound, projection
  // over everything. maxStatsN = 800 exercises BOTH branches across
  // the driver SFs: sf0.001/0.01 (500 vectors) pass through exact,
  // sf0.1 (2000 vectors) actually samples.
  private val embedProjectSampled: QFn = (s, dir) =>
    graft.ops.Moments.pcaProjectSampled(Tables.embeddings(s, dir), dims = 64,
      maxStatsN = 800L)

  private val corpusDiff: QFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.ops.Snapshot.corpusDiff(
      graft.ops.Snapshot.simulatedOld(docs), graft.ops.Snapshot.simulatedNew(docs))
  }

  // ---- oracle SQL ----------------------------------------------------------

  val defs: Seq[QueryDef] = Seq(
    QueryDef("text_bm25_topk", textBm25TopK,
      graft.ops.Retrieval.bm25Sql(Bm25Terms, k = 10)),
    QueryDef("text_keywords", textKeywords,
      graft.ops.Retrieval.keywordsSql(topN = 3)),
    QueryDef("text_lm_bigram", textLmBigram, graft.ops.Retrieval.bigramSql),
    QueryDef("text_pmi", textPmi, graft.ops.Retrieval.pmiSql(minCount = 5L)),
    QueryDef("embed_covariance", embedCovariance,
      graft.ops.Moments.covarianceSql(dims = 64)),
    QueryDef("embed_center", embedCenter,
      graft.ops.Moments.centeredSql(dims = 64)),
    QueryDef("embed_project", embedProject,
      graft.ops.Moments.pcaProjectSql(dims = 64)),
    QueryDef("embed_whiten", embedWhiten,
      graft.ops.Moments.pcaWhitenSql(dims = 64)),
    QueryDef("embed_project_sampled", embedProjectSampled,
      graft.ops.Moments.pcaProjectSql(dims = 64, maxStatsN = Some(800L))),
    QueryDef("corpus_diff", corpusDiff, graft.ops.Snapshot.diffSql),
    QueryDef("o3_rank_lag", o3RankLag,
      """SELECT event_id, user_id, CAST(floor(value / 100) AS INTEGER) AS vb,
        |rank() OVER (PARTITION BY user_id ORDER BY CAST(floor(value / 100) AS INTEGER)) AS rnk,
        |dense_rank() OVER (PARTITION BY user_id ORDER BY CAST(floor(value / 100) AS INTEGER)) AS drnk,
        |lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        |lead(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
        |FROM events""".stripMargin),
    QueryDef("o7_distribution_windows", o7DistributionWindows,
      """SELECT event_id, user_id, CAST(floor(value / 100) AS INTEGER) AS vb,
        |CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY event_id) AS INTEGER) AS quartile,
        |percent_rank() OVER (PARTITION BY user_id ORDER BY CAST(floor(value / 100) AS INTEGER)) AS pr,
        |cume_dist() OVER (PARTITION BY user_id ORDER BY CAST(floor(value / 100) AS INTEGER)) AS cd
        |FROM events""".stripMargin),
    QueryDef("o4_moving_agg", o4MovingAgg,
      """SELECT event_id, user_id,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mov_sum,
        |count(*) OVER w AS mov_n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) AS mov_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin),
    QueryDef("o6_range_frame", o6RangeFrame,
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_1h_sum,
        |count(*) OVER w AS trail_1h_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin),
    QueryDef("o5_topk_per_group", o5TopkPerGroup,
      """SELECT event_id, user_id, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |FROM events
        |QUALIFY rn <= 3""".stripMargin),
    QueryDef("u1_set_ops", u1SetOps,
      """SELECT user_id, 'both' AS tag FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT user_id, 'purchase_only' AS tag FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT user_id, 'error_only' AS tag FROM (
        |  SELECT user_id FROM events WHERE event_type = 'error'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin),
    QueryDef("a8_rollup", a8Rollup,
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |coalesce(bucket, -1) AS bucket, n, total FROM (
        |  SELECT event_type, user_id % 5 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY ROLLUP(event_type, user_id % 5))""".stripMargin),
    QueryDef("a13_cube", a13Cube,
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |coalesce(bucket, -1) AS bucket, n, total FROM (
        |  SELECT event_type, user_id % 3 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY CUBE(event_type, user_id % 3))""".stripMargin),
    QueryDef("g7_copurchase_projection", g7CopurchaseProjection,
      """WITH e AS (SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |c AS (SELECT cust, supp FROM e
        |  QUALIFY row_number() OVER (PARTITION BY cust ORDER BY supp) <= 100),
        |p AS (SELECT a.supp AS supp_a, b.supp AS supp_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM c a JOIN c b ON a.cust = b.cust AND a.supp < b.supp
        |  GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_shared) AS BIGINT) AS ts,
        |  CAST(count(*) AS BIGINT) AS np FROM p)
        |SELECT p.supp_a, p.supp_b, p.n_shared FROM p, t
        |WHERE p.n_shared * t.np > t.ts""".stripMargin),
    QueryDef("g6_khop_reachability", g6KhopReachability,
      """WITH e AS (SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |c0 AS (SELECT c_custkey AS id FROM customer WHERE c_custkey % 50 = 0),
        |s1 AS (SELECT DISTINCT supp AS id FROM e JOIN c0 ON e.cust = c0.id),
        |c2 AS (SELECT DISTINCT cust AS id FROM e JOIN s1 ON e.supp = s1.id
        |  WHERE cust NOT IN (SELECT id FROM c0)),
        |s3 AS (SELECT DISTINCT supp AS id FROM e JOIN c2 ON e.cust = c2.id
        |  WHERE supp NOT IN (SELECT id FROM s1))
        |SELECT 'cust' AS kind, id, CAST(0 AS BIGINT) AS hop FROM c0
        |UNION ALL SELECT 'supp' AS kind, id, CAST(1 AS BIGINT) AS hop FROM s1
        |UNION ALL SELECT 'cust' AS kind, id, CAST(2 AS BIGINT) AS hop FROM c2
        |UNION ALL SELECT 'supp' AS kind, id, CAST(3 AS BIGINT) AS hop FROM s3""".stripMargin),
    QueryDef("a9_distinct_agg", a9DistinctAgg,
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |count(DISTINCT (user_id, event_id % 7)) AS n_user_slots,
        |count(*) AS n FROM events GROUP BY event_type""".stripMargin),
    QueryDef("a10_moments", a10Moments,
      """SELECT event_type, n, s1, s2,
        |(s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS variance,
        |sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS stddev
        |FROM (SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type)""".stripMargin),
    QueryDef("j5_asof_join", j5AsofJoin,
      """SELECT e.event_id, e.user_id,
        |max(o.o_day * 10000000000 + o.o_orderkey) // 10000000000 AS last_order_day,
        |max(o.o_day * 10000000000 + o.o_orderkey) % 10000000000 AS last_orderkey
        |FROM events e LEFT JOIN (
        |  SELECT o_custkey, epoch_ms(o_orderdate) // 86400000 AS o_day, o_orderkey
        |  FROM orders) o
        |ON e.user_id = o.o_custkey AND o.o_day * 86400000000 <= epoch_us(ts)
        |GROUP BY e.event_id, e.user_id""".stripMargin),
    QueryDef("j7_asof_merge", j7AsofMerge,
      // identical oracle as j5_asof_join: two physical strategies, one semantic
      """SELECT e.event_id, e.user_id,
        |max(o.o_day * 10000000000 + o.o_orderkey) // 10000000000 AS last_order_day,
        |max(o.o_day * 10000000000 + o.o_orderkey) % 10000000000 AS last_orderkey
        |FROM events e LEFT JOIN (
        |  SELECT o_custkey, epoch_ms(o_orderdate) // 86400000 AS o_day, o_orderkey
        |  FROM orders) o
        |ON e.user_id = o.o_custkey AND o.o_day * 86400000000 <= epoch_us(ts)
        |GROUP BY e.event_id, e.user_id""".stripMargin),
    QueryDef("j6_range_join", j6RangeJoin,
      """SELECT e.event_id, e.user_id,
        |count(o.o_orderkey) AS n_orders_7d,
        |coalesce(max(o.o_orderkey), -1) AS max_orderkey_7d
        |FROM events e LEFT JOIN (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS o_us, o_orderkey FROM orders) o
        |ON e.user_id = o.o_custkey AND o.o_us <= epoch_us(e.ts)
        |  AND o.o_us > epoch_us(e.ts) - 604800000000
        |GROUP BY e.event_id, e.user_id""".stripMargin),
    QueryDef("j8_point_in_interval", j8PointInInterval,
      """SELECT i.event_id AS interval_id, p.event_id AS point_id
        |FROM events i, events p
        |WHERE i.event_type = 'purchase' AND i.event_id % 20 = 0
        |  AND epoch_us(p.ts) >= epoch_us(i.ts)
        |  AND epoch_us(p.ts) < epoch_us(i.ts) + 7200000000""".stripMargin),
    QueryDef("j9_interval_overlap", j9IntervalOverlap,
      """SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM events a, events b
        |WHERE a.event_type = 'purchase' AND a.event_id % 5 = 0
        |  AND b.event_type = 'signup' AND b.event_id % 5 = 0
        |  AND epoch_us(a.ts) < epoch_us(b.ts) + 43200000000
        |  AND epoch_us(b.ts) < epoch_us(a.ts) + 43200000000""".stripMargin),
    QueryDef("j10_fuzzy_join", j10FuzzyJoin,
      """WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |p AS (SELECT id AS probe_id,
        |    CASE WHEN id % 2 = 0 THEN substr(name, 1, 9) || substr(name, 11)
        |         ELSE substr(name, 1, 17) || 'X' END AS pname
        |  FROM c WHERE id % 3 = 0)
        |SELECT p.probe_id, c.id AS match_id,
        |  CAST(levenshtein(p.pname, c.name) AS BIGINT) AS dist
        |FROM p CROSS JOIN c
        |WHERE levenshtein(p.pname, c.name) <= 1""".stripMargin),
    QueryDef("o8_funnel", o8Funnel,
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS us, event_type AS tpe
        |  FROM events),
        |l1 AS (SELECT u, CAST(MIN(us) AS BIGINT) AS t1_us FROM ev
        |  WHERE tpe = 'signup' GROUP BY u),
        |l2 AS (SELECT e.u, CAST(MIN(e.us) AS BIGINT) AS t2_us
        |  FROM ev e JOIN l1 ON l1.u = e.u
        |  WHERE e.tpe = 'click' AND e.us >= l1.t1_us
        |    AND e.us - l1.t1_us <= 43200000000 GROUP BY e.u),
        |l3 AS (SELECT e.u, CAST(MIN(e.us) AS BIGINT) AS t3_us
        |  FROM ev e JOIN l2 ON l2.u = e.u JOIN l1 ON l1.u = e.u
        |  WHERE e.tpe = 'purchase' AND e.us >= l2.t2_us
        |    AND e.us - l1.t1_us <= 43200000000 GROUP BY e.u)
        |SELECT l1.u AS user_id, l1.t1_us, l2.t2_us, l3.t3_us,
        |  CAST(CASE WHEN l3.t3_us IS NOT NULL THEN 3
        |            WHEN l2.t2_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS level
        |FROM l1 LEFT JOIN l2 ON l2.u = l1.u LEFT JOIN l3 ON l3.u = l1.u""".stripMargin),
    QueryDef("j10_fuzzy_incremental", j10FuzzyIncremental,
      """WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer)
        |SELECT p.id AS probe_id, r.id AS match_id,
        |  CAST(levenshtein(p.name, r.name) AS BIGINT) AS dist
        |FROM c p CROSS JOIN c r
        |WHERE p.id % 10 >= 8 AND r.id % 10 < 8
        |  AND levenshtein(p.name, r.name) <= 1""".stripMargin),
    QueryDef("t7_anomaly", t7Anomaly,
      """WITH ev AS (SELECT event_id, user_id, value FROM events),
        |wi AS (SELECT event_id, user_id, value,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |    OVER w AS DOUBLE) AS s2
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, value, n, s1 / CAST(n AS DOUBLE) AS mean,
        |  CASE WHEN (s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0
        |    THEN (value - s1 / CAST(n AS DOUBLE)) /
        |      sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
        |  END AS z,
        |  CAST(CASE WHEN (s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0
        |    AND abs((value - s1 / CAST(n AS DOUBLE)) /
        |      sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))) > 3.0
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM wi WHERE n >= 5""".stripMargin),
    QueryDef("t8_heavy_hitters", t8HeavyHitters,
      """WITH r AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM r)
        |SELECT r.item, CAST(count(*) AS BIGINT) AS cnt, n.n_total
        |FROM r, n GROUP BY r.item, n.n_total
        |HAVING count(*) * (CASE WHEN n.n_total <= 20000 THEN 1000 ELSE 10000 END)
        |  >= (CASE WHEN n.n_total <= 20000 THEN 7 ELSE 9 END) * n.n_total""".stripMargin),
    QueryDef("o9_retention", o9Retention,
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |cohort AS (SELECT user_id, MIN(us) // 604800000000 AS cw
        |  FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        |active AS (SELECT DISTINCT e.user_id, c.cw,
        |    (e.us // 604800000000) - c.cw AS off
        |  FROM ev e JOIN cohort c ON c.user_id = e.user_id
        |  WHERE (e.us // 604800000000) - c.cw BETWEEN 0 AND 8),
        |sizes AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_cohort
        |  FROM cohort GROUP BY cw)
        |SELECT CAST(a.cw AS BIGINT) AS cohort_week,
        |  CAST(a.off AS BIGINT) AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_active, s.n_cohort,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention
        |FROM active a JOIN sizes s ON s.cw = a.cw
        |GROUP BY a.cw, a.off, s.n_cohort""".stripMargin),
    QueryDef("g10_clustering", g10Clustering,
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p),
        |deg AS (SELECT v AS part_id, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY v HAVING count(*) >= 2),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT part_id, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT x AS part_id FROM tri
        |    UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |  GROUP BY part_id)
        |SELECT d.part_id, d.deg, COALESCE(tc.n_tri, 0) AS n_tri,
        |  COALESCE(tc.n_tri, 0) * 2000000 // (d.deg * (d.deg - 1)) AS coef_ppm
        |FROM deg d LEFT JOIN tc ON tc.part_id = d.part_id""".stripMargin),
    QueryDef("g11_tri_incremental", g11TriIncremental,
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |eu AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p),
        |lc AS (SELECT * FROM li WHERE o % 50 <> 49),
        |ec AS (SELECT DISTINCT x.p AS a, y.p AS b FROM lc x
        |  JOIN lc y ON x.o = y.o AND x.p < y.p),
        |tu AS (SELECT e1.a x, e1.b y, e2.b z FROM eu e1
        |  JOIN eu e2 ON e2.a = e1.b JOIN eu e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT e1.a x, e1.b y, e2.b z FROM ec e1
        |  JOIN ec e2 ON e2.a = e1.b JOIN ec e3 ON e3.a = e1.a AND e3.b = e2.b),
        |cu AS (SELECT part_id, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT x AS part_id FROM tu UNION ALL SELECT y FROM tu
        |    UNION ALL SELECT z FROM tu) GROUP BY part_id),
        |cc AS (SELECT part_id, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT x AS part_id FROM tc UNION ALL SELECT y FROM tc
        |    UNION ALL SELECT z FROM tc) GROUP BY part_id)
        |SELECT cu.part_id, cu.n - COALESCE(cc.n, 0) AS n_tri_new
        |FROM cu LEFT JOIN cc ON cc.part_id = cu.part_id
        |WHERE cu.n - COALESCE(cc.n, 0) > 0""".stripMargin),
    QueryDef("g9_triangles", g9Triangles,
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT x AS part_id FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT part_id, CAST(count(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY part_id""".stripMargin),
    QueryDef("g8_pagerank", g8Pagerank, {
      val rounds = (1 to 5).map { t =>
        s"""r$t AS (SELECT e.dst AS id,
           |    CAST(150000 + SUM((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
           |  FROM edges e JOIN r${t - 1} r ON r.id = e.src
           |  JOIN deg d ON d.src = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS (SELECT cust AS src, supp + 1000000000 AS dst FROM e0
         |  UNION ALL SELECT supp + 1000000000, cust FROM e0),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |$rounds
         |SELECT CASE WHEN id >= 1000000000 THEN 'supp' ELSE 'cust' END AS kind,
         |  CASE WHEN id >= 1000000000 THEN id - 1000000000 ELSE id END AS node_id,
         |  pr
         |FROM r5 ORDER BY pr DESC, id LIMIT 100""".stripMargin
    }),
    QueryDef("g13_pagerank_incremental", g13PagerankIncremental, {
      // both iteration chains unrolled exactly like g8's oracle; the
      // multi-referenced relations (flagged pairs, edge/degree sides,
      // the standing r5 seeding w0 AND supplying pr_prev) are
      // MATERIALIZED — the g12 lesson: inlined, each reference
      // re-derives the chain and the unroll goes exponential.
      val standingRounds = (1 to 5).map { t =>
        val m = if (t == 5) " MATERIALIZED" else ""
        s"""r$t AS$m (SELECT e.dst AS id,
           |    CAST(150000 + SUM((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
           |  FROM ce e JOIN r${t - 1} r ON r.id = e.src
           |  JOIN cd d ON d.src = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      val warmRounds = (1 to 3).map { t =>
        s"""w$t AS (SELECT e.dst AS id,
           |    CAST(150000 + SUM((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
           |  FROM me e JOIN w${t - 1} r ON r.id = e.src
           |  JOIN md d ON d.src = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH p0 AS MATERIALIZED (SELECT o_custkey AS cust, l_suppkey AS supp,
         |    max(CASE WHEN o_orderkey % 50 <> 49 THEN 1 ELSE 0 END) AS in_corpus
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
         |ce AS MATERIALIZED (
         |  SELECT cust AS src, supp + 1000000000 AS dst FROM p0 WHERE in_corpus = 1
         |  UNION ALL SELECT supp + 1000000000, cust FROM p0 WHERE in_corpus = 1),
         |cd AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ce GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM cd),
         |$standingRounds,
         |me AS MATERIALIZED (
         |  SELECT cust AS src, supp + 1000000000 AS dst FROM p0
         |  UNION ALL SELECT supp + 1000000000, cust FROM p0),
         |md AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM me GROUP BY src),
         |w0 AS (SELECT m.src AS id, CAST(COALESCE(r.pr, 1000000) AS BIGINT) AS pr
         |  FROM (SELECT DISTINCT src FROM me) m LEFT JOIN r5 r ON r.id = m.src),
         |$warmRounds
         |SELECT CASE WHEN w.id >= 1000000000 THEN 'supp' ELSE 'cust' END AS kind,
         |  CASE WHEN w.id >= 1000000000 THEN w.id - 1000000000 ELSE w.id END AS node_id,
         |  w.pr, r5.pr AS pr_prev
         |FROM w3 w LEFT JOIN r5 ON r5.id = w.id""".stripMargin
    }),
    QueryDef("g14_reach_incremental", g14ReachIncremental, {
      // two layered BFS unrolls (corpus, merged) — min-hop layer k is
      // "reached at k, not in any earlier layer", the g6 oracle shape;
      // every layer is referenced by every later one -> MATERIALIZED
      // throughout (the g12 lesson)
      def bfs(tag: String, edges: String) = (1 to 3).map { h =>
        val excl = (0 until h).map(i => s"AND e.dst NOT IN (SELECT id FROM $tag$i)")
          .mkString(" ")
        s"""$tag$h AS MATERIALIZED (SELECT DISTINCT e.dst AS id
           |  FROM $edges e JOIN $tag${h - 1} f ON e.src = f.id
           |  WHERE true $excl)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |sup AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
         |    count(*) FILTER (WHERE x.o % 50 <> 49) AS csup, count(*) AS tsup
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |ce AS MATERIALIZED (SELECT a AS src, b AS dst FROM sup WHERE csup >= 2
         |  UNION ALL SELECT b, a FROM sup WHERE csup >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM sup WHERE tsup >= 2
         |  UNION ALL SELECT b, a FROM sup WHERE tsup >= 2),
         |b0 AS MATERIALIZED (
         |  SELECT p_partkey AS id FROM part WHERE p_partkey % 100 = 0),
         |m0 AS MATERIALIZED (
         |  SELECT p_partkey AS id FROM part WHERE p_partkey % 100 = 0),
         |${bfs("b", "ce")},
         |${bfs("m", "me")},
         |bh AS MATERIALIZED (SELECT id, 0 AS hop FROM b0
         |  UNION ALL SELECT id, 1 FROM b1 UNION ALL SELECT id, 2 FROM b2
         |  UNION ALL SELECT id, 3 FROM b3),
         |mh AS (SELECT id, 0 AS hop FROM m0
         |  UNION ALL SELECT id, 1 FROM m1 UNION ALL SELECT id, 2 FROM m2
         |  UNION ALL SELECT id, 3 FROM m3)
         |SELECT CAST(mh.id AS BIGINT) AS part_id, CAST(mh.hop AS BIGINT) AS hop,
         |  CAST(bh.hop AS BIGINT) AS hop_prev
         |FROM mh LEFT JOIN bh ON bh.id = mh.id""".stripMargin
    }),
    QueryDef("g15_communities", g15Communities, {
      // LPA rounds unrolled as MATERIALIZED CTEs (each round feeds the
      // next AND the final size join — the g12 lesson); the tie-break
      // (max count, then min label) is the row_number ordering, the
      // exact mirror of the Spark packed-long argmax
      val rounds = (1 to 4).map { t =>
        s"""l$t AS MATERIALIZED (SELECT dst AS node, lbl FROM (
           |  SELECT e.dst, l.lbl, count(*) AS cnt,
           |    row_number() OVER (PARTITION BY e.dst
           |      ORDER BY count(*) DESC, l.lbl) AS rn
           |  FROM me e JOIN l${t - 1} l ON l.node = e.src
           |  GROUP BY e.dst, l.lbl) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM me),
         |$rounds,
         |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
         |  FROM l4 GROUP BY lbl)
         |SELECT CAST(l4.node AS BIGINT) AS part_id,
         |  CAST(l4.lbl AS BIGINT) AS community, sz.n_members
         |FROM l4 JOIN sz ON sz.lbl = l4.lbl""".stripMargin
    }),
    QueryDef("g16_walk_corpus", g16WalkCorpus, {
      // walk steps unrolled; the draw replays the Spark conv(md5)
      // arithmetic as positional hex sums (the sample_split mirror)
      def hex8(t: Int) = (0 until 8).map { i =>
        s"""(position(substr(md5(CAST(w.walk_id AS VARCHAR) || ':$t'),
           | ${i + 1}, 1) IN '0123456789abcdef') - 1) * ${1L << (4 * (7 - i))}"""
          .stripMargin.replace("\n", "")
      }.mkString(" + ")
      val steps = (1 to 4).map { t =>
        s"""w$t AS MATERIALIZED (SELECT w.walk_id, a.dst AS node
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.node
           |  AND a.rk = (${hex8(t)}) % a.deg + 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |adj AS MATERIALIZED (SELECT src, dst,
         |  row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
         |  count(*) OVER (PARTITION BY src) AS deg FROM me),
         |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node
         |  FROM me WHERE src % 20 = 0),
         |$steps
         |SELECT CAST(walk_id AS BIGINT) AS walk_id, CAST(step AS BIGINT) AS step,
         |  CAST(node AS BIGINT) AS node_id FROM (
         |  SELECT walk_id, 0 AS step, node FROM w0
         |  UNION ALL SELECT walk_id, 1, node FROM w1
         |  UNION ALL SELECT walk_id, 2, node FROM w2
         |  UNION ALL SELECT walk_id, 3, node FROM w3
         |  UNION ALL SELECT walk_id, 4, node FROM w4)""".stripMargin
    }),
    QueryDef("g17_walk_pairs", g17WalkPairs, {
      // the g16 walk unroll verbatim, then the banded self-join pairing
      def hex8(t: Int) = (0 until 8).map { i =>
        s"""(position(substr(md5(CAST(w.walk_id AS VARCHAR) || ':$t'),
           | ${i + 1}, 1) IN '0123456789abcdef') - 1) * ${1L << (4 * (7 - i))}"""
          .stripMargin.replace("\n", "")
      }.mkString(" + ")
      val steps = (1 to 4).map { t =>
        s"""w$t AS MATERIALIZED (SELECT w.walk_id, a.dst AS node
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.node
           |  AND a.rk = (${hex8(t)}) % a.deg + 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |adj AS MATERIALIZED (SELECT src, dst,
         |  row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
         |  count(*) OVER (PARTITION BY src) AS deg FROM me),
         |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node
         |  FROM me WHERE src % 20 = 0),
         |$steps,
         |walks AS MATERIALIZED (
         |  SELECT walk_id, 0 AS step, node FROM w0
         |  UNION ALL SELECT walk_id, 1, node FROM w1
         |  UNION ALL SELECT walk_id, 2, node FROM w2
         |  UNION ALL SELECT walk_id, 3, node FROM w3
         |  UNION ALL SELECT walk_id, 4, node FROM w4)
         |SELECT CAST(l.node AS BIGINT) AS center, CAST(r.node AS BIGINT) AS context,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM walks l JOIN walks r ON l.walk_id = r.walk_id
         |  AND abs(l.step - r.step) <= 2 AND l.step <> r.step
         |GROUP BY 1, 2""".stripMargin
    }),
    QueryDef("g18_ppr", g18Ppr, {
      // the g8 unroll with the teleport CASE restricted to seeds
      val rounds = (1 to 5).map { t =>
        s"""r$t AS (SELECT e.dst AS id,
           |    CAST((CASE WHEN e.dst IN (SELECT id FROM sd) THEN 150000 ELSE 0 END)
           |      + SUM((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS pr
           |  FROM edges e JOIN r${t - 1} r ON r.id = e.src
           |  JOIN deg d ON d.src = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH p0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |edges AS MATERIALIZED (
         |  SELECT cust AS src, supp + 1000000000 AS dst FROM p0
         |  UNION ALL SELECT supp + 1000000000, cust FROM p0),
         |deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |sd AS MATERIALIZED (
         |  SELECT c_custkey AS id FROM customer WHERE c_custkey % 50 = 0),
         |r0 AS (SELECT src AS id, CAST(CASE WHEN src IN (SELECT id FROM sd)
         |    THEN 1000000 ELSE 0 END AS BIGINT) AS pr FROM deg),
         |$rounds
         |SELECT CASE WHEN id >= 1000000000 THEN 'supp' ELSE 'cust' END AS kind,
         |  CASE WHEN id >= 1000000000 THEN id - 1000000000 ELSE id END AS node_id,
         |  pr
         |FROM r5 ORDER BY pr DESC, id LIMIT 100""".stripMargin
    }),
    QueryDef("g19_components", g19Components,
      """WITH RECURSIVE li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |reach(src, dst) AS (SELECT src, dst FROM e
        |  UNION SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS node, least(src, min(dst)) AS label
        |  FROM reach GROUP BY src),
        |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
        |  FROM lab GROUP BY label)
        |SELECT CAST(lab.node AS BIGINT) AS part_id,
        |  CAST(lab.label AS BIGINT) AS component, sz.n_members
        |FROM lab JOIN sz ON sz.label = lab.label""".stripMargin),
    QueryDef("g12_kcore", g12Kcore, {
      // peel rounds unrolled as MATERIALIZED CTEs (each round
      // references its predecessor 4x — inlined, the unroll re-derives
      // round r-1 per reference and the expansion is 4^r; materialized,
      // each round evaluates once, the Spark staging's exact analog).
      // 9 unrolled rounds: sf0.01 cascades 4 deep, sf0.1 cascades 6 —
      // the three extra rounds are near-free identity passes at the
      // fixpoint and give the oracle headroom against a deeper cascade
      // at a regenerated/larger SF (review finding: a 7-round corpus
      // would silently diverge from Spark's true fixpoint).
      val rounds = (1 to 9).map { i =>
        val p = s"e${i - 1}"
        s"""n$i AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM $p
           |    UNION ALL SELECT b FROM $p) GROUP BY v HAVING count(*) >= 2),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM $p e
           |  JOIN n$i x ON x.v = e.a JOIN n$i y ON y.v = e.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |$rounds
         |SELECT CAST(v AS BIGINT) AS part_id,
         |  CAST(count(*) AS BIGINT) AS core_deg
         |FROM (SELECT a AS v FROM e9 UNION ALL SELECT b FROM e9)
         |GROUP BY v""".stripMargin
    }),
    QueryDef("text_drift_tv", textDriftTv,
      """WITH ta AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 10 < 8),
        |tb AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 10 >= 8),
        |ca AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS cnt_a
        |  FROM ta GROUP BY token),
        |cb AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS cnt_b
        |  FROM tb GROUP BY token),
        |j AS MATERIALIZED (SELECT COALESCE(ca.token, cb.token) AS token,
        |    COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |n AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
        |    CAST(SUM(cnt_b) AS BIGINT) AS n_b FROM j),
        |p AS MATERIALIZED (SELECT token, cnt_a, cnt_b,
        |    CAST((cnt_a * 1000000) // n.n_a AS BIGINT) AS ppm_a,
        |    CAST((cnt_b * 1000000) // n.n_b AS BIGINT) AS ppm_b,
        |    CAST((cnt_a * 1000000) // n.n_a - (cnt_b * 1000000) // n.n_b AS BIGINT)
        |      AS delta_ppm
        |  FROM j, n),
        |l1 AS (SELECT CAST(SUM(ABS(delta_ppm)) AS BIGINT) AS l1_ppm FROM p)
        |SELECT p.token, p.cnt_a, p.cnt_b, p.ppm_a, p.ppm_b, p.delta_ppm, l1.l1_ppm
        |FROM p, l1
        |ORDER BY ABS(p.delta_ppm) DESC, p.token LIMIT 100""".stripMargin),
    QueryDef("embed_drift", embedDrift,
      """WITH q0 AS MATERIALIZED (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |bk AS MATERIALIZED (SELECT vec_id,
        |  CAST(list_sum(list_transform(generate_series(1, 8),
        |    i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT)
        |    AS key FROM q0),
        |ca AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt_a FROM bk
        |  WHERE vec_id % 10 < 8 GROUP BY key),
        |cb AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt_b FROM bk
        |  WHERE vec_id % 10 >= 8 GROUP BY key),
        |j AS MATERIALIZED (SELECT COALESCE(ca.key, cb.key) AS key,
        |    COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.key = cb.key),
        |n AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
        |    CAST(SUM(cnt_b) AS BIGINT) AS n_b FROM j),
        |p AS MATERIALIZED (SELECT key, cnt_a, cnt_b,
        |    CAST((cnt_a * 1000000) // n.n_a AS BIGINT) AS ppm_a,
        |    CAST((cnt_b * 1000000) // n.n_b AS BIGINT) AS ppm_b,
        |    CAST((cnt_a * 1000000) // n.n_a - (cnt_b * 1000000) // n.n_b AS BIGINT)
        |      AS delta_ppm
        |  FROM j, n),
        |l1 AS (SELECT CAST(SUM(ABS(delta_ppm)) AS BIGINT) AS l1_ppm FROM p)
        |SELECT p.key AS bucket, p.cnt_a, p.cnt_b, p.ppm_a, p.ppm_b,
        |  p.delta_ppm, l1.l1_ppm
        |FROM p, l1
        |ORDER BY ABS(p.delta_ppm) DESC, p.key LIMIT 100""".stripMargin),
    QueryDef("g29_assortativity", g29Assortativity,
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
        |de AS MATERIALIZED (SELECT da.d AS x, db.d AS y
        |  FROM (SELECT a AS src, b AS dst FROM e0
        |        UNION ALL SELECT b, a FROM e0) me
        |  JOIN deg da ON da.v = me.src JOIN deg db ON db.v = me.dst),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x * y) AS BIGINT) AS sxy,
        |  CAST(SUM(x * x) AS BIGINT) AS sxx,
        |  CAST(SUM(y * y) AS BIGINT) AS syy FROM de)
        |SELECT m, sx, sy, sxy, sxx, syy,
        |  CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0 THEN NULL
        |    ELSE CAST(m * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(m * syy - sy * sy AS DOUBLE))) END AS r
        |FROM s""".stripMargin),
    QueryDef("g30_node2vec_corpus", g30Node2vecCorpus, {
      // the g16 unroll with second-order bias from step 2: candidates
      // carry CASE weights (return 1 / distance-1 2 / outward 4), the
      // per-walk window builds cumulative + total weight, and the md5
      // draw picks the covering interval — pure integer compares
      def hex8(t: Int, al: String) = (0 until 8).map { i =>
        s"""(position(substr(md5(CAST($al.walk_id AS VARCHAR) || ':$t'),
           | ${i + 1}, 1) IN '0123456789abcdef') - 1) * ${1L << (4 * (7 - i))}"""
          .stripMargin.replace("\n", "")
      }.mkString(" + ")
      val biased = (2 to 3).map { t =>
        s"""c$t AS MATERIALIZED (SELECT w.walk_id, w.prev, w.node, a.dst,
           |  CASE WHEN a.dst = w.prev THEN 1
           |       WHEN pe.src IS NOT NULL THEN 2
           |       ELSE 4 END AS wt
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.node
           |  LEFT JOIN me pe ON pe.src = w.prev AND pe.dst = a.dst),
           |s$t AS MATERIALIZED (SELECT walk_id, node, dst, wt,
           |  SUM(wt) OVER (PARTITION BY walk_id ORDER BY dst) AS cum,
           |  SUM(wt) OVER (PARTITION BY walk_id) AS tot
           |  FROM c$t),
           |w$t AS MATERIALIZED (SELECT w.walk_id, w.node AS prev, w.dst AS node
           |  FROM s$t w
           |  WHERE (${hex8(t, "w")}) % w.tot >= w.cum - w.wt
           |    AND (${hex8(t, "w")}) % w.tot < w.cum)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |adj AS MATERIALIZED (SELECT src, dst,
         |  row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
         |  count(*) OVER (PARTITION BY src) AS deg FROM me),
         |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node
         |  FROM me WHERE src % 20 = 0),
         |w1 AS MATERIALIZED (SELECT w.walk_id, w.node AS prev, a.dst AS node
         |  FROM w0 w JOIN adj a ON a.src = w.node
         |  AND a.rk = (${hex8(1, "w")}) % a.deg + 1),
         |$biased
         |SELECT CAST(walk_id AS BIGINT) AS walk_id, CAST(step AS BIGINT) AS step,
         |  CAST(node AS BIGINT) AS node_id FROM (
         |  SELECT walk_id, 0 AS step, node FROM w0
         |  UNION ALL SELECT walk_id, 1, node FROM w1
         |  UNION ALL SELECT walk_id, 2, node FROM w2
         |  UNION ALL SELECT walk_id, 3, node FROM w3)""".stripMargin
    }),
    QueryDef("g41_node2vec_pairs", g41Node2vecPairs, {
      // the g30 biased unroll verbatim, then the g17 banded self-join
      // pairing over the assembled corpus
      def hex8(t: Int, al: String) = (0 until 8).map { i =>
        s"""(position(substr(md5(CAST($al.walk_id AS VARCHAR) || ':$t'),
           | ${i + 1}, 1) IN '0123456789abcdef') - 1) * ${1L << (4 * (7 - i))}"""
          .stripMargin.replace("\n", "")
      }.mkString(" + ")
      val biased = (2 to 3).map { t =>
        s"""c$t AS MATERIALIZED (SELECT w.walk_id, w.prev, w.node, a.dst,
           |  CASE WHEN a.dst = w.prev THEN 1
           |       WHEN pe.src IS NOT NULL THEN 2
           |       ELSE 4 END AS wt
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.node
           |  LEFT JOIN me pe ON pe.src = w.prev AND pe.dst = a.dst),
           |s$t AS MATERIALIZED (SELECT walk_id, node, dst, wt,
           |  SUM(wt) OVER (PARTITION BY walk_id ORDER BY dst) AS cum,
           |  SUM(wt) OVER (PARTITION BY walk_id) AS tot
           |  FROM c$t),
           |w$t AS MATERIALIZED (SELECT w.walk_id, w.node AS prev, w.dst AS node
           |  FROM s$t w
           |  WHERE (${hex8(t, "w")}) % w.tot >= w.cum - w.wt
           |    AND (${hex8(t, "w")}) % w.tot < w.cum)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |adj AS MATERIALIZED (SELECT src, dst,
         |  row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
         |  count(*) OVER (PARTITION BY src) AS deg FROM me),
         |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node
         |  FROM me WHERE src % 20 = 0),
         |w1 AS MATERIALIZED (SELECT w.walk_id, w.node AS prev, a.dst AS node
         |  FROM w0 w JOIN adj a ON a.src = w.node
         |  AND a.rk = (${hex8(1, "w")}) % a.deg + 1),
         |$biased,
         |walks AS MATERIALIZED (
         |  SELECT walk_id, 0 AS step, node FROM w0
         |  UNION ALL SELECT walk_id, 1, node FROM w1
         |  UNION ALL SELECT walk_id, 2, node FROM w2
         |  UNION ALL SELECT walk_id, 3, node FROM w3)
         |SELECT CAST(l.node AS BIGINT) AS center, CAST(r.node AS BIGINT) AS context,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM walks l JOIN walks r ON l.walk_id = r.walk_id
         |  AND abs(l.step - r.step) <= 2 AND l.step <> r.step
         |GROUP BY 1, 2""".stripMargin
    }),
    QueryDef("g42_louvain_converged", g42LouvainConverged, {
      // the g31 level-1 unroll, then the g36 contract+weighted-rounds
      // template ITERATED to a fixed probe depth; the CONVERGENCE level
      // is then DERIVED inside the oracle from its own Q numerators —
      // jstar = the first level j whose candidate level j+1 fails to
      // improve Q — and the output selects level jstar's partition.
      // This replaces the r16-interim probed `accepted = 6` constant,
      // which silently encoded ONE SF's convergence depth (correct at
      // sf0.01, wrong at sf0.001 where the chain converges earlier —
      // caught by the r17 green-tree check). The stop rule needs no
      // separate accepted-level sentinel now: every level below jstar
      // strictly improved by jstar's minimality, exactly the Spark
      // loop's accept rule. The one remaining sentinel fires when the
      // chain is STILL improving at the probe depth (jstar undefined)
      // — the loud too-shallow-unroll signal, g34's discipline.
      val maxUnroll = 7 // probe depth; sentinel polices sufficiency
      // the per-round hashed activation (Louvain.active): low bit of
      // the 8th md5 hex digit of node ":" round
      def act(c: String, r: Int) =
        s"(position(substr(md5(CAST($c AS VARCHAR) || ':$r'), 8, 1) " +
          "IN '0123456789abcdef') - 1) % 2 = 0"
      val l1Rounds = (1 to 4).map { r =>
        s"""sg$r AS MATERIALIZED (SELECT l.lbl, CAST(SUM(d.d) AS BIGINT) AS tot
           |  FROM r${r - 1} l JOIN deg d ON d.v = l.node GROUP BY l.lbl),
           |kic$r AS MATERIALIZED (SELECT e.src AS node, l.lbl,
           |    CAST(count(*) AS BIGINT) AS kic
           |  FROM me e JOIN r${r - 1} l ON l.node = e.dst
           |  WHERE ${act("e.src", r)} GROUP BY 1, 2),
           |cand$r AS MATERIALIZED (SELECT node, lbl, MAX(kic) AS kic FROM (
           |  SELECT node, lbl, kic FROM kic$r
           |  UNION ALL SELECT node, lbl, CAST(0 AS BIGINT) FROM r${r - 1}
           |    WHERE ${act("node", r)}) GROUP BY 1, 2),
           |sc$r AS MATERIALIZED (SELECT c.node, c.lbl,
           |    2 * mm.m * c.kic - d.d * (s.tot
           |      - CASE WHEN c.lbl = cur.lbl THEN d.d ELSE 0 END) AS score
           |  FROM cand$r c JOIN deg d ON d.v = c.node
           |  JOIN sg$r s ON s.lbl = c.lbl
           |  JOIN r${r - 1} cur ON cur.node = c.node, mm),
           |r$r AS MATERIALIZED (
           |  SELECT s.node, MIN(s.lbl) AS lbl FROM sc$r s
           |  JOIN (SELECT node, MAX(score) AS ms FROM sc$r GROUP BY node) x
           |    ON x.node = s.node AND s.score = x.ms
           |  GROUP BY s.node
           |  UNION ALL SELECT node, lbl FROM r${r - 1} WHERE NOT (${act("node", r)}))"""
          .stripMargin
      }.mkString(",\n")
      // Q numerator of base-node partition P on the base graph
      def qOf(j: Int, p: String) =
        s"""qin$j AS (SELECT la.lbl AS lbl, CAST(count(*) AS BIGINT) AS in_edges
           |  FROM e0 JOIN $p la ON la.node = e0.a JOIN $p lb ON lb.node = e0.b
           |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
           |qdg$j AS (SELECT l.lbl, CAST(count(*) AS BIGINT) AS deg_sum
           |  FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) n
           |  JOIN $p l ON l.node = n.v GROUP BY l.lbl),
           |q$j AS (SELECT CAST(SUM(4 * mm.m * COALESCE(i.in_edges, 0)
           |    - d.deg_sum * d.deg_sum) AS BIGINT) AS qn
           |  FROM qdg$j d LEFT JOIN qin$j i ON i.lbl = d.lbl, mm)""".stripMargin
      // one contract + 2 weighted rounds + base projection, level j
      // (input partition p${j-1}; weight mass is m — contraction
      // preserves it — so scores use mm.m directly)
      def level(j: Int) = {
        val p = s"p${j - 1}"
        val rounds = (1 to 2).map { r =>
            s"""v${j}sg$r AS MATERIALIZED (SELECT l.lbl,
             |    CAST(SUM(d.k) AS BIGINT) AS tot
             |  FROM v${j}w${r - 1} l JOIN v${j}deg d ON d.node = l.node
             |  GROUP BY l.lbl),
             |v${j}kic$r AS MATERIALIZED (SELECT e.src AS node, l.lbl,
             |    CAST(SUM(e.w) AS BIGINT) AS kic
             |  FROM v${j}ed e JOIN v${j}w${r - 1} l ON l.node = e.dst
             |  WHERE ${act("e.src", r)} GROUP BY 1, 2),
             |v${j}cand$r AS MATERIALIZED (SELECT node, lbl, MAX(kic) AS kic
             |  FROM (SELECT node, lbl, kic FROM v${j}kic$r
             |  UNION ALL SELECT node, lbl, CAST(0 AS BIGINT) FROM v${j}w${r - 1}
             |    WHERE ${act("node", r)}) GROUP BY 1, 2),
             |v${j}sc$r AS MATERIALIZED (SELECT c.node, c.lbl,
             |    2 * mm.m * c.kic - d.k * (s.tot
             |      - CASE WHEN c.lbl = cur.lbl THEN d.k ELSE 0 END) AS score
             |  FROM v${j}cand$r c JOIN v${j}deg d ON d.node = c.node
             |  JOIN v${j}sg$r s ON s.lbl = c.lbl
             |  JOIN v${j}w${r - 1} cur ON cur.node = c.node, mm),
             |v${j}w$r AS MATERIALIZED (
             |  SELECT s.node, MIN(s.lbl) AS lbl FROM v${j}sc$r s
             |  JOIN (SELECT node, MAX(score) AS ms FROM v${j}sc$r
             |    GROUP BY node) x
             |    ON x.node = s.node AND s.score = x.ms
             |  GROUP BY s.node
             |  UNION ALL SELECT node, lbl FROM v${j}w${r - 1}
             |    WHERE NOT (${act("node", r)}))""".stripMargin
        }.mkString(",\n")
        s"""v${j}cg AS MATERIALIZED (SELECT LEAST(la.lbl, lb.lbl) AS a2,
           |    GREATEST(la.lbl, lb.lbl) AS b2, CAST(count(*) AS BIGINT) AS w
           |  FROM e0 JOIN $p la ON la.node = e0.a JOIN $p lb ON lb.node = e0.b
           |  GROUP BY 1, 2),
           |v${j}deg AS MATERIALIZED (SELECT node, CAST(SUM(w) AS BIGINT) AS k
           |  FROM (SELECT a2 AS node, w FROM v${j}cg WHERE a2 <> b2
           |  UNION ALL SELECT b2, w FROM v${j}cg WHERE a2 <> b2
           |  UNION ALL SELECT a2, 2 * w FROM v${j}cg WHERE a2 = b2)
           |  GROUP BY node),
           |v${j}ed AS MATERIALIZED (SELECT a2 AS src, b2 AS dst, w FROM v${j}cg
           |  WHERE a2 <> b2
           |  UNION ALL SELECT b2, a2, w FROM v${j}cg WHERE a2 <> b2),
           |v${j}w0 AS MATERIALIZED (SELECT node, node AS lbl FROM v${j}deg),
           |$rounds,
           |p$j AS MATERIALIZED (SELECT p.node, w.lbl FROM $p p
           |  JOIN v${j}w2 w ON w.node = p.lbl),
           |${qOf(j, s"p$j")}""".stripMargin
      }
      val levels = (2 to maxUnroll + 1).map(level).mkString(",\n")
      // the per-level Q spine and the derived convergence level
      val qSpine = (1 to maxUnroll + 1)
        .map(j => s"SELECT $j AS j, (SELECT qn FROM q$j) AS qn")
        .mkString("\n  UNION ALL ")
      val partRows = (1 to maxUnroll).map { j =>
        s"""SELECT CAST(p.node AS BIGINT) AS part_id,
           |  CAST(p.lbl AS BIGINT) AS community,
           |  CAST(s.n AS BIGINT) AS n_members, CAST($j AS INT) AS levels
           |FROM p$j p
           |JOIN (SELECT lbl, count(*) AS n FROM p$j GROUP BY lbl) s
           |  ON s.lbl = p.lbl
           |WHERE (SELECT jstar FROM conv) = $j""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
         |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |r0 AS MATERIALIZED (SELECT v AS node, v AS lbl FROM deg),
         |$l1Rounds,
         |p1 AS MATERIALIZED (SELECT node, lbl FROM r4),
         |${qOf(1, "p1")},
         |$levels,
         |qs AS ($qSpine),
         |conv AS (SELECT MIN(a.j) AS jstar FROM qs a
         |  JOIN qs b ON b.j = a.j + 1 WHERE b.qn <= a.qn)
         |$partRows
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
         |  CAST((SELECT qn FROM q${maxUnroll + 1})
         |    - (SELECT qn FROM q$maxUnroll) AS BIGINT), CAST(-1 AS INT)
         |WHERE (SELECT jstar FROM conv) IS NULL"""
        .stripMargin
    }),
    QueryDef("g31_louvain", g31Louvain, {
      // parity-alternating greedy move rounds unrolled: per round the
      // movers' candidate communities (neighbors ∪ current) score on
      // the exact lattice 2m·kic − k_i·(tot − [cur]·k_i); argmax is
      // max-score + MIN-label (two grouped selects); off-parity nodes
      // carry via UNION ALL
      // the per-round hashed activation (Louvain.active): low bit of
      // the 8th md5 hex digit of node ":" round
      def act(c: String, r: Int) =
        s"(position(substr(md5(CAST($c AS VARCHAR) || ':$r'), 8, 1) " +
          "IN '0123456789abcdef') - 1) % 2 = 0"
      val rounds = (1 to 4).map { r =>
        s"""sg$r AS MATERIALIZED (SELECT l.lbl, CAST(SUM(d.d) AS BIGINT) AS tot
           |  FROM r${r - 1} l JOIN deg d ON d.v = l.node GROUP BY l.lbl),
           |kic$r AS MATERIALIZED (SELECT e.src AS node, l.lbl,
           |    CAST(count(*) AS BIGINT) AS kic
           |  FROM me e JOIN r${r - 1} l ON l.node = e.dst
           |  WHERE ${act("e.src", r)} GROUP BY 1, 2),
           |cand$r AS MATERIALIZED (SELECT node, lbl, MAX(kic) AS kic FROM (
           |  SELECT node, lbl, kic FROM kic$r
           |  UNION ALL SELECT node, lbl, CAST(0 AS BIGINT) FROM r${r - 1}
           |    WHERE ${act("node", r)}) GROUP BY 1, 2),
           |sc$r AS MATERIALIZED (SELECT c.node, c.lbl,
           |    2 * mm.m * c.kic - d.d * (s.tot
           |      - CASE WHEN c.lbl = cur.lbl THEN d.d ELSE 0 END) AS score
           |  FROM cand$r c JOIN deg d ON d.v = c.node
           |  JOIN sg$r s ON s.lbl = c.lbl
           |  JOIN r${r - 1} cur ON cur.node = c.node, mm),
           |r$r AS MATERIALIZED (
           |  SELECT s.node, MIN(s.lbl) AS lbl FROM sc$r s
           |  JOIN (SELECT node, MAX(score) AS ms FROM sc$r GROUP BY node) x
           |    ON x.node = s.node AND s.score = x.ms
           |  GROUP BY s.node
           |  UNION ALL SELECT node, lbl FROM r${r - 1}
           |    WHERE NOT (${act("node", r)}))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
         |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |r0 AS MATERIALIZED (SELECT v AS node, v AS lbl FROM deg),
         |$rounds,
         |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
         |  FROM r4 GROUP BY lbl)
         |SELECT CAST(r4.node AS BIGINT) AS part_id,
         |  CAST(r4.lbl AS BIGINT) AS community, sz.n_members
         |FROM r4 JOIN sz ON sz.lbl = r4.lbl""".stripMargin
    }),
    QueryDef("g32_betweenness", g32Betweenness, {
      // the g22 pair-keyed BFS carrying shortest-path counts (SUM of
      // predecessor sigmas per newly-reached pair), then the Brandes
      // dependency DP back down the layers with the SAME floored
      // integer division
      val fwd = (1 to 3).map { h =>
        val prev = if (h == 1) "f0" else s"f${h - 1}"
        val excl = (0 until h).map(i =>
          s"NOT EXISTS (SELECT 1 FROM f$i p$i WHERE p$i.seed = f.seed AND p$i.id = e.dst)")
          .mkString("\n    AND ")
        s"""f$h AS MATERIALIZED (SELECT f.seed, e.dst AS id,
           |  CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM me e JOIN $prev f ON e.src = f.id
           |  WHERE $excl
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val back = (2 to 1 by -1).map { h =>
        s"""cb$h AS (SELECT v.seed, v.id,
           |  CAST(SUM((v.sigma * (1000000 + w.delta)) // w.sigma) AS BIGINT) AS dsum
           |  FROM f$h v JOIN me e ON e.src = v.id
           |  JOIN d${h + 1} w ON w.seed = v.seed AND w.id = e.dst
           |  GROUP BY 1, 2),
           |d$h AS MATERIALIZED (SELECT v.seed, v.id, v.sigma,
           |  COALESCE(c.dsum, CAST(0 AS BIGINT)) AS delta
           |  FROM f$h v LEFT JOIN cb$h c ON c.seed = v.seed AND c.id = v.id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |f0 AS MATERIALIZED (SELECT p_partkey AS seed, p_partkey AS id,
         |  CAST(1 AS BIGINT) AS sigma FROM part WHERE p_partkey % 100 = 0),
         |$fwd,
         |d3 AS MATERIALIZED (SELECT seed, id, sigma, CAST(0 AS BIGINT) AS delta
         |  FROM f3),
         |$back
         |SELECT CAST(id AS BIGINT) AS part_id,
         |  CAST(SUM(delta) AS BIGINT) AS betweenness_ppm,
         |  CAST(count(*) AS BIGINT) AS n_seeds_reaching
         |FROM (SELECT seed, id, delta FROM d1
         |  UNION ALL SELECT seed, id, delta FROM d2
         |  UNION ALL SELECT seed, id, delta FROM d3)
         |GROUP BY id""".stripMargin
    }),
    QueryDef("drift_at_rest", driftAtRest, {
      // the DriftIngest fold over counts at rest: epoch counts built
      // once (MATERIALIZED — the single-evaluation requirement), then
      // per epoch the standing-before-vs-batch L1 summary, totals as
      // a 1-row cross join
      val epochs = (1 to 3).map { b =>
        s"""p$b AS MATERIALIZED (SELECT COALESCE(a.key, b.key) AS key,
           |    COALESCE(a.cnt_a, 0) AS cnt_a, COALESCE(b.cnt_b, 0) AS cnt_b
           |  FROM (SELECT key, CAST(SUM(cnt) AS BIGINT) AS cnt_a FROM cc
           |    WHERE batch_id < $b GROUP BY key) a
           |  FULL OUTER JOIN (SELECT key, cnt AS cnt_b FROM cc
           |    WHERE batch_id = $b) b ON a.key = b.key),
           |t$b AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
           |    CAST(SUM(cnt_b) AS BIGINT) AS nb FROM p$b),
           |s$b AS (SELECT CAST($b AS BIGINT) AS batch_id, t.na AS n_a,
           |    t.nb AS n_b, CAST(count(*) AS BIGINT) AS n_keys,
           |    CAST(SUM(ABS((cnt_a * 1000000) // t.na
           |      - (cnt_b * 1000000) // t.nb)) AS BIGINT) AS l1_ppm
           |  FROM p$b, t$b t GROUP BY t.na, t.nb)""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS MATERIALIZED (SELECT doc_id % 4 AS batch_id,
         |  unnest(string_split(text, ' ')) AS key FROM documents),
         |cc AS MATERIALIZED (SELECT batch_id, key,
         |  CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
         |$epochs
         |SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |UNION ALL SELECT * FROM s3""".stripMargin
    }),
    QueryDef("g33_link_features", g33LinkFeatures,
      // wedge enumeration through permitted centers, NOT EXISTS for
      // the existing-edge exclusion, integer-div RA/jaccard
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
        |ctr AS MATERIALIZED (SELECT m.src, m.dst FROM me m
        |  JOIN deg dd ON dd.v = m.src WHERE dd.d <= 64),
        |wed AS MATERIALIZED (SELECT x.src AS z, x.dst AS u, y.dst AS w
        |  FROM ctr x JOIN ctr y ON x.src = y.src AND x.dst < y.dst
        |  WHERE NOT EXISTS (SELECT 1 FROM e0
        |    WHERE e0.a = x.dst AND e0.b = y.dst)),
        |agg AS MATERIALIZED (SELECT u, w,
        |    CAST(count(*) AS BIGINT) AS common_neighbors,
        |    CAST(SUM(1000000 // dz.d) AS BIGINT) AS resource_alloc_ppm
        |  FROM wed JOIN deg dz ON dz.v = wed.z GROUP BY u, w)
        |SELECT CAST(agg.u AS BIGINT) AS part_a, CAST(agg.w AS BIGINT) AS part_b,
        |  agg.common_neighbors, agg.resource_alloc_ppm,
        |  CAST(du.d * dw.d AS BIGINT) AS pref_attach,
        |  CAST((agg.common_neighbors * 1000000)
        |    // (du.d + dw.d - agg.common_neighbors) AS BIGINT) AS jaccard_ppm
        |FROM agg JOIN deg du ON du.v = agg.u JOIN deg dw ON dw.v = agg.w
        |ORDER BY agg.common_neighbors DESC, part_a, part_b
        |LIMIT 1000""".stripMargin),
    QueryDef("g34_ktruss", g34Ktruss, {
      // peel rounds unrolled (the g12/g20 headroom discipline —
      // surplus rounds are the identity at the fixpoint): triangles
      // per round by id-ordered enumeration (orientation affects cost,
      // not the result set), support = the three canonical edge
      // projections aggregated, final support joined off the LAST
      // round's identity pass
      val rounds = 12
      val peel = (1 to rounds).map { r =>
        s"""tr$r AS MATERIALIZED (SELECT p.a AS x, p.b AS y, q.b AS z
           |  FROM t${r - 1} p JOIN t${r - 1} q ON q.a = p.a AND q.b > p.b
           |  JOIN t${r - 1} c ON c.a = p.b AND c.b = q.b),
           |sp$r AS MATERIALIZED (SELECT id_a, id_b,
           |    CAST(count(*) AS BIGINT) AS support FROM (
           |  SELECT x AS id_a, y AS id_b FROM tr$r
           |  UNION ALL SELECT x, z FROM tr$r
           |  UNION ALL SELECT y, z FROM tr$r) GROUP BY 1, 2),
           |t$r AS MATERIALIZED (SELECT e.a, e.b FROM t${r - 1} e
           |  JOIN sp$r s ON s.id_a = e.a AND s.id_b = e.b
           |  WHERE s.support >= 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |t0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |$peel
         |SELECT CAST(e.a AS BIGINT) AS part_a, CAST(e.b AS BIGINT) AS part_b,
         |  s.support
         |FROM t$rounds e JOIN sp$rounds s ON s.id_a = e.a AND s.id_b = e.b
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
         |  CAST((SELECT count(*) FROM t${rounds - 1})
         |    - (SELECT count(*) FROM t$rounds) AS BIGINT)
         |WHERE (SELECT count(*) FROM t${rounds - 1})
         |  <> (SELECT count(*) FROM t$rounds)"""
        .stripMargin
      // the trailing sentinel ASSERTS the unroll reached the fixpoint:
      // round N is the identity iff |t(N-1)| = |tN| (the peel only
      // shrinks), so a larger SF needing > N rounds surfaces as a loud
      // extra (-1, -1, shrinkage) row instead of a silent non-fixpoint
      // parity break (the r16 ADVICE finding on the probed round count)
    }),
    QueryDef("g35_ktruss_incremental", g35KtrussIncremental, {
      // two cold peel unrolls (the g24 oracle convention): the corpus
      // truss for support_prev, the merged truss for the fixpoint;
      // truss uniqueness makes refresh == cold, so the oracle never
      // needs the incremental machinery
      def peelRounds(pfx: String, rounds: Int) = (1 to rounds).map { r =>
        s"""${pfx}tr$r AS MATERIALIZED (SELECT p.a AS x, p.b AS y, q.b AS z
           |  FROM ${pfx}t${r - 1} p JOIN ${pfx}t${r - 1} q
           |    ON q.a = p.a AND q.b > p.b
           |  JOIN ${pfx}t${r - 1} c ON c.a = p.b AND c.b = q.b),
           |${pfx}sp$r AS MATERIALIZED (SELECT id_a, id_b,
           |    CAST(count(*) AS BIGINT) AS support FROM (
           |  SELECT x AS id_a, y AS id_b FROM ${pfx}tr$r
           |  UNION ALL SELECT x, z FROM ${pfx}tr$r
           |  UNION ALL SELECT y, z FROM ${pfx}tr$r) GROUP BY 1, 2),
           |${pfx}t$r AS MATERIALIZED (SELECT e.a, e.b FROM ${pfx}t${r - 1} e
           |  JOIN ${pfx}sp$r s ON s.id_a = e.a AND s.id_b = e.b
           |  WHERE s.support >= 1)""".stripMargin
      }.mkString(",\n")
      val rounds = 12
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |sup0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
         |    count(CASE WHEN x.o % 50 <> 49 THEN 1 END) AS csup,
         |    count(*) AS tsup
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |ct0 AS MATERIALIZED (SELECT a, b FROM sup0 WHERE csup >= 2),
         |mt0 AS MATERIALIZED (SELECT a, b FROM sup0 WHERE tsup >= 2),
         |${peelRounds("c", rounds)},
         |${peelRounds("m", rounds)}
         |SELECT CAST(e.a AS BIGINT) AS part_a, CAST(e.b AS BIGINT) AS part_b,
         |  sm.support,
         |  sc.support AS support_prev
         |FROM mt$rounds e
         |JOIN msp$rounds sm ON sm.id_a = e.a AND sm.id_b = e.b
         |LEFT JOIN csp$rounds sc ON sc.id_a = e.a AND sc.id_b = e.b
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
         |  CAST((SELECT count(*) FROM ct${rounds - 1})
         |      - (SELECT count(*) FROM ct$rounds)
         |    + (SELECT count(*) FROM mt${rounds - 1})
         |      - (SELECT count(*) FROM mt$rounds) AS BIGINT),
         |  CAST(NULL AS BIGINT)
         |WHERE (SELECT count(*) FROM ct${rounds - 1})
         |    <> (SELECT count(*) FROM ct$rounds)
         |  OR (SELECT count(*) FROM mt${rounds - 1})
         |    <> (SELECT count(*) FROM mt$rounds)"""
        .stripMargin
      // same fixpoint sentinel as g34, over BOTH cold unrolls: either
      // tier still shrinking at the probed round ceiling yields a loud
      // extra row, never a silent non-fixpoint oracle
    }),
    QueryDef("g36_louvain_multilevel", g36LouvainMultilevel, {
      // the g31 unroll (4 rounds), the contraction aggregate, then the
      // weighted rounds with SUM(w) votes and the weight-mass scalar;
      // per-round hashed activation as in Louvain.active
      def act(c: String, r: Int) =
        s"(position(substr(md5(CAST($c AS VARCHAR) || ':$r'), 8, 1) " +
          "IN '0123456789abcdef') - 1) % 2 = 0"
      val l1Rounds = (1 to 4).map { r =>
        s"""sg$r AS MATERIALIZED (SELECT l.lbl, CAST(SUM(d.d) AS BIGINT) AS tot
           |  FROM r${r - 1} l JOIN deg d ON d.v = l.node GROUP BY l.lbl),
           |kic$r AS MATERIALIZED (SELECT e.src AS node, l.lbl,
           |    CAST(count(*) AS BIGINT) AS kic
           |  FROM me e JOIN r${r - 1} l ON l.node = e.dst
           |  WHERE ${act("e.src", r)} GROUP BY 1, 2),
           |cand$r AS MATERIALIZED (SELECT node, lbl, MAX(kic) AS kic FROM (
           |  SELECT node, lbl, kic FROM kic$r
           |  UNION ALL SELECT node, lbl, CAST(0 AS BIGINT) FROM r${r - 1}
           |    WHERE ${act("node", r)}) GROUP BY 1, 2),
           |sc$r AS MATERIALIZED (SELECT c.node, c.lbl,
           |    2 * mm.m * c.kic - d.d * (s.tot
           |      - CASE WHEN c.lbl = cur.lbl THEN d.d ELSE 0 END) AS score
           |  FROM cand$r c JOIN deg d ON d.v = c.node
           |  JOIN sg$r s ON s.lbl = c.lbl
           |  JOIN r${r - 1} cur ON cur.node = c.node, mm),
           |r$r AS MATERIALIZED (
           |  SELECT s.node, MIN(s.lbl) AS lbl FROM sc$r s
           |  JOIN (SELECT node, MAX(score) AS ms FROM sc$r GROUP BY node) x
           |    ON x.node = s.node AND s.score = x.ms
           |  GROUP BY s.node
           |  UNION ALL SELECT node, lbl FROM r${r - 1} WHERE NOT (${act("node", r)}))"""
          .stripMargin
      }.mkString(",\n")
      val l2Rounds = (1 to 2).map { r =>
        s"""wsg$r AS MATERIALIZED (SELECT l.lbl, CAST(SUM(d.k) AS BIGINT) AS tot
           |  FROM w${r - 1} l JOIN wdeg d ON d.node = l.node GROUP BY l.lbl),
           |wkic$r AS MATERIALIZED (SELECT e.src AS node, l.lbl,
           |    CAST(SUM(e.w) AS BIGINT) AS kic
           |  FROM wed e JOIN w${r - 1} l ON l.node = e.dst
           |  WHERE ${act("e.src", r)} GROUP BY 1, 2),
           |wcand$r AS MATERIALIZED (SELECT node, lbl, MAX(kic) AS kic FROM (
           |  SELECT node, lbl, kic FROM wkic$r
           |  UNION ALL SELECT node, lbl, CAST(0 AS BIGINT) FROM w${r - 1}
           |    WHERE ${act("node", r)}) GROUP BY 1, 2),
           |wsc$r AS MATERIALIZED (SELECT c.node, c.lbl,
           |    2 * ww.wtot * c.kic - d.k * (s.tot
           |      - CASE WHEN c.lbl = cur.lbl THEN d.k ELSE 0 END) AS score
           |  FROM wcand$r c JOIN wdeg d ON d.node = c.node
           |  JOIN wsg$r s ON s.lbl = c.lbl
           |  JOIN w${r - 1} cur ON cur.node = c.node, ww),
           |w$r AS MATERIALIZED (
           |  SELECT s.node, MIN(s.lbl) AS lbl FROM wsc$r s
           |  JOIN (SELECT node, MAX(score) AS ms FROM wsc$r GROUP BY node) x
           |    ON x.node = s.node AND s.score = x.ms
           |  GROUP BY s.node
           |  UNION ALL SELECT node, lbl FROM w${r - 1} WHERE NOT (${act("node", r)}))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
         |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |r0 AS MATERIALIZED (SELECT v AS node, v AS lbl FROM deg),
         |$l1Rounds,
         |cg AS MATERIALIZED (SELECT LEAST(la.lbl, lb.lbl) AS a2,
         |    GREATEST(la.lbl, lb.lbl) AS b2, CAST(count(*) AS BIGINT) AS w
         |  FROM e0 JOIN r4 la ON la.node = e0.a JOIN r4 lb ON lb.node = e0.b
         |  GROUP BY 1, 2),
         |wdeg AS MATERIALIZED (SELECT node, CAST(SUM(w) AS BIGINT) AS k FROM (
         |  SELECT a2 AS node, w FROM cg WHERE a2 <> b2
         |  UNION ALL SELECT b2, w FROM cg WHERE a2 <> b2
         |  UNION ALL SELECT a2, 2 * w FROM cg WHERE a2 = b2) GROUP BY node),
         |ww AS (SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM cg),
         |wed AS MATERIALIZED (SELECT a2 AS src, b2 AS dst, w FROM cg
         |  WHERE a2 <> b2
         |  UNION ALL SELECT b2, a2, w FROM cg WHERE a2 <> b2),
         |w0 AS MATERIALIZED (SELECT node, node AS lbl FROM wdeg),
         |$l2Rounds,
         |proj AS MATERIALIZED (SELECT l1.node AS part_id, w2.lbl AS community
         |  FROM r4 l1 JOIN w2 ON w2.node = l1.lbl),
         |sz AS (SELECT community, CAST(count(*) AS BIGINT) AS n_members
         |  FROM proj GROUP BY community)
         |SELECT CAST(proj.part_id AS BIGINT) AS part_id,
         |  CAST(proj.community AS BIGINT) AS community, sz.n_members
         |FROM proj JOIN sz ON sz.community = proj.community""".stripMargin
    }),
    QueryDef("x6_anf", x6Anf, {
      // the exact side only: all-nodes pair BFS layers (the g22 shape
      // with every node as its own seed), cumulative counts per hop,
      // literal TRUE envelope (the x2 one-sided discipline)
      val layers = (1 to 3).map { h =>
        val prev = if (h == 1) "s0" else s"b${h - 1}"
        val excl = (Seq("s0") ++ (1 until h).map(i => s"b$i")).map(t =>
          s"NOT EXISTS (SELECT 1 FROM $t p$t WHERE p$t.seed = f.seed AND p$t.id = e.dst)")
          .mkString("\n    AND ")
        s"""b$h AS MATERIALIZED (SELECT DISTINCT f.seed, e.dst AS id
           |  FROM me e JOIN $prev f ON e.src = f.id
           |  WHERE $excl)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS seed, src AS id FROM me),
         |$layers,
         |c AS (SELECT (SELECT count(*) FROM s0) AS c0,
         |  (SELECT count(*) FROM b1) AS c1,
         |  (SELECT count(*) FROM b2) AS c2,
         |  (SELECT count(*) FROM b3) AS c3)
         |SELECT CAST(1 AS BIGINT) AS hop,
         |  CAST(c0 + c1 AS BIGINT) AS exact_pairs, TRUE AS anf_ok FROM c
         |UNION ALL SELECT 2, CAST(c0 + c1 + c2 AS BIGINT), TRUE FROM c
         |UNION ALL SELECT 3, CAST(c0 + c1 + c2 + c3 AS BIGINT), TRUE FROM c"""
        .stripMargin
    }),
    QueryDef("x7_eff_diameter", x7EffDiameter, {
      // the x6 exact BFS verbatim, then the profile/effective-diameter
      // read on the same integer lattice (cross-multiplied 90% test,
      // one integer division for the displayed ppm); the two sketch
      // assertions are literal TRUE — the x2 one-sided discipline
      val layers = (1 to 3).map { h =>
        val prev = if (h == 1) "s0" else s"b${h - 1}"
        val excl = (Seq("s0") ++ (1 until h).map(i => s"b$i")).map(t =>
          s"NOT EXISTS (SELECT 1 FROM $t p$t WHERE p$t.seed = f.seed AND p$t.id = e.dst)")
          .mkString("\n    AND ")
        s"""b$h AS MATERIALIZED (SELECT DISTINCT f.seed, e.dst AS id
           |  FROM me e JOIN $prev f ON e.src = f.id
           |  WHERE $excl)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS seed, src AS id FROM me),
         |$layers,
         |n AS (SELECT
         |  CAST((SELECT count(*) FROM s0) + (SELECT count(*) FROM b1) AS BIGINT) AS n1,
         |  CAST((SELECT count(*) FROM s0) + (SELECT count(*) FROM b1)
         |    + (SELECT count(*) FROM b2) AS BIGINT) AS n2,
         |  CAST((SELECT count(*) FROM s0) + (SELECT count(*) FROM b1)
         |    + (SELECT count(*) FROM b2) + (SELECT count(*) FROM b3) AS BIGINT) AS n3),
         |eff AS (SELECT CASE WHEN n1 * 1000000 >= 900000 * n3 THEN 1
         |  WHEN n2 * 1000000 >= 900000 * n3 THEN 2 ELSE 3 END AS eh FROM n)
         |SELECT CAST(1 AS BIGINT) AS hop, n.n1 AS exact_pairs,
         |  CAST(n.n1 * 1000000 // n.n3 AS BIGINT) AS profile_ppm,
         |  (eff.eh = 1) AS is_eff_diameter, TRUE AS anf_ok, TRUE AS anf_eff_ok
         |FROM n, eff
         |UNION ALL SELECT 2, n.n2, CAST(n.n2 * 1000000 // n.n3 AS BIGINT),
         |  (eff.eh = 2), TRUE, TRUE FROM n, eff
         |UNION ALL SELECT 3, n.n3, CAST(n.n3 * 1000000 // n.n3 AS BIGINT),
         |  (eff.eh = 3), TRUE, TRUE FROM n, eff""".stripMargin
    }),
    QueryDef("g37_link_incremental", g37LinkIncremental, {
      // refresh == cold (delta-region correctness is the Spark side's
      // burden), so the oracle is the g33 wedge computation over the
      // MERGED graph + a LEFT JOIN of the corpus computation's
      // common-neighbor counts for prev
      def wedge(pfx: String, src: String) =
        s"""${pfx}deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d
           |  FROM (SELECT a AS v FROM $src UNION ALL SELECT b FROM $src)
           |  GROUP BY v),
           |${pfx}ctr AS MATERIALIZED (SELECT m.src, m.dst FROM (
           |    SELECT a AS src, b AS dst FROM $src
           |    UNION ALL SELECT b, a FROM $src) m
           |  JOIN ${pfx}deg dd ON dd.v = m.src WHERE dd.d <= 64),
           |${pfx}wed AS MATERIALIZED (SELECT x.src AS z, x.dst AS u, y.dst AS w
           |  FROM ${pfx}ctr x JOIN ${pfx}ctr y
           |    ON x.src = y.src AND x.dst < y.dst
           |  WHERE NOT EXISTS (SELECT 1 FROM $src
           |    WHERE $src.a = x.dst AND $src.b = y.dst)),
           |${pfx}agg AS MATERIALIZED (SELECT u, w,
           |    CAST(count(*) AS BIGINT) AS common_neighbors,
           |    CAST(SUM(1000000 // dz.d) AS BIGINT) AS resource_alloc_ppm
           |  FROM ${pfx}wed JOIN ${pfx}deg dz ON dz.v = ${pfx}wed.z
           |  GROUP BY u, w)""".stripMargin
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |sup0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
         |    count(CASE WHEN x.o % 50 <> 49 THEN 1 END) AS csup,
         |    count(*) AS tsup
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |ce0 AS MATERIALIZED (SELECT a, b FROM sup0 WHERE csup >= 2),
         |me0 AS MATERIALIZED (SELECT a, b FROM sup0 WHERE tsup >= 2),
         |${wedge("c", "ce0")},
         |${wedge("m", "me0")}
         |SELECT CAST(m.u AS BIGINT) AS part_a, CAST(m.w AS BIGINT) AS part_b,
         |  m.common_neighbors, m.resource_alloc_ppm,
         |  CAST(du.d * dw.d AS BIGINT) AS pref_attach,
         |  CAST((m.common_neighbors * 1000000)
         |    // (du.d + dw.d - m.common_neighbors) AS BIGINT) AS jaccard_ppm,
         |  c.common_neighbors AS prev_common_neighbors
         |FROM magg m
         |JOIN mdeg du ON du.v = m.u JOIN mdeg dw ON dw.v = m.w
         |LEFT JOIN cagg c ON c.u = m.u AND c.w = m.w
         |ORDER BY m.common_neighbors DESC, part_a, part_b
         |LIMIT 1000""".stripMargin
    }),
    QueryDef("g38_motifs", g38Motifs,
      // the same closed-form aggregates: degree moments, one codeg
      // wedge aggregation read by both the triangle (edge-restricted)
      // and 4-cycle (C(cd,2) halved) sums
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |  FROM me GROUP BY src),
        |basics AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
        |  CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |codeg AS MATERIALIZED (SELECT x.dst AS u, y.dst AS w,
        |    CAST(count(*) AS BIGINT) AS cd
        |  FROM me x JOIN me y ON x.src = y.src AND x.dst < y.dst
        |  GROUP BY 1, 2),
        |tri AS (SELECT CAST(COALESCE(SUM(cd), 0) // 3 AS BIGINT) AS n_triangles
        |  FROM codeg JOIN e0 ON e0.a = codeg.u AND e0.b = codeg.w),
        |cyc AS (SELECT CAST(COALESCE(SUM(cd * (cd - 1) // 2), 0) // 2 AS BIGINT)
        |    AS n_four_cycles FROM codeg)
        |SELECT basics.n_nodes, basics.n_edges, basics.n_wedges,
        |  tri.n_triangles, cyc.n_four_cycles
        |FROM basics, tri, cyc""".stripMargin),
    QueryDef("g39_richclub", g39Richclub,
      // same two grouped aggregates against the literal series; phi as
      // the single guarded division
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
        |  JOIN li y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
        |ks AS (SELECT CAST(k AS BIGINT) AS k
        |  FROM (VALUES (1), (2), (4), (8), (16), (32)) t(k)),
        |nr AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_rich
        |  FROM deg JOIN ks ON deg.d > ks.k GROUP BY ks.k),
        |md AS MATERIALIZED (SELECT LEAST(da.d, db.d) AS mindeg
        |  FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
        |er AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS e_rich
        |  FROM md JOIN ks ON md.mindeg > ks.k GROUP BY ks.k)
        |SELECT ks.k, COALESCE(nr.n_rich, 0) AS n_rich,
        |  COALESCE(er.e_rich, 0) AS e_rich,
        |  COALESCE(er.e_rich, 0) * 2 AS phi_num,
        |  COALESCE(nr.n_rich, 0) * (COALESCE(nr.n_rich, 0) - 1) AS phi_den,
        |  CASE WHEN COALESCE(nr.n_rich, 0) >= 2 THEN
        |    CAST(COALESCE(er.e_rich, 0) * 2 AS DOUBLE)
        |      / CAST(nr.n_rich * (nr.n_rich - 1) AS DOUBLE) END AS phi
        |FROM ks LEFT JOIN nr ON nr.k = ks.k LEFT JOIN er ON er.k = ks.k"""
        .stripMargin),
    QueryDef("g40_components_incremental", g40ComponentsIncremental,
      // refresh == cold (the contraction argument), so the oracle is
      // TWO recursive-CC computations: the merged graph for the
      // labels, the corpus graph LEFT-JOINED for component_prev
      // (NULL = node the batch introduced) — the g35/g37 convention
      """WITH RECURSIVE li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |sup0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
        |    count(CASE WHEN x.o % 50 <> 49 THEN 1 END) AS csup,
        |    count(*) AS tsup
        |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
        |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM sup0
        |  WHERE tsup >= 2 UNION ALL SELECT b, a FROM sup0 WHERE tsup >= 2),
        |ce AS MATERIALIZED (SELECT a AS src, b AS dst FROM sup0
        |  WHERE csup >= 2 UNION ALL SELECT b, a FROM sup0 WHERE csup >= 2),
        |mreach(src, dst) AS (SELECT src, dst FROM me
        |  UNION SELECT r.src, e2.dst FROM mreach r JOIN me e2 ON r.dst = e2.src),
        |mlab AS MATERIALIZED (SELECT src AS node, least(src, min(dst)) AS label
        |  FROM mreach GROUP BY src),
        |creach(src, dst) AS (SELECT src, dst FROM ce
        |  UNION SELECT r.src, e2.dst FROM creach r JOIN ce e2 ON r.dst = e2.src),
        |clab AS MATERIALIZED (SELECT src AS node, least(src, min(dst)) AS label
        |  FROM creach GROUP BY src),
        |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
        |  FROM mlab GROUP BY label)
        |SELECT CAST(mlab.node AS BIGINT) AS part_id,
        |  CAST(mlab.label AS BIGINT) AS component, sz.n_members,
        |  CAST(clab.label AS BIGINT) AS component_prev
        |FROM mlab JOIN sz ON sz.label = mlab.label
        |LEFT JOIN clab ON clab.node = mlab.node""".stripMargin),
    QueryDef("g28_modularity", g28Modularity, {
      // the g15 label chain verbatim, then the modularity aggregates:
      // intra = edge list joined on BOTH endpoint labels, degree mass
      // = the endpoint union joined once; one double division per
      // score (single IEEE op — engine-exact)
      val rounds = (1 to 4).map { t =>
        s"""l$t AS MATERIALIZED (SELECT dst AS node, lbl FROM (
           |  SELECT e.dst, l.lbl, count(*) AS cnt,
           |    row_number() OVER (PARTITION BY e.dst
           |      ORDER BY count(*) DESC, l.lbl) AS rn
           |  FROM me e JOIN l${t - 1} l ON l.node = e.src
           |  GROUP BY e.dst, l.lbl) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM me),
         |$rounds,
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |intra AS MATERIALIZED (SELECT la.lbl AS community,
         |    CAST(count(*) AS BIGINT) AS in_edges
         |  FROM e0 JOIN l4 la ON la.node = e0.a JOIN l4 lb ON lb.node = e0.b
         |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
         |degs AS MATERIALIZED (SELECT l.lbl AS community,
         |    CAST(count(*) AS BIGINT) AS deg_sum,
         |    CAST(count(DISTINCT n.v) AS BIGINT) AS n_members
         |  FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) n
         |  JOIN l4 l ON l.node = n.v GROUP BY l.lbl),
         |per AS MATERIALIZED (SELECT d.community, d.n_members,
         |    COALESCE(i.in_edges, 0) AS in_edges, d.deg_sum,
         |    CAST(4 * mm.m * COALESCE(i.in_edges, 0)
         |      - d.deg_sum * d.deg_sum AS BIGINT) AS numer,
         |    CAST(4 * mm.m * mm.m AS BIGINT) AS denom
         |  FROM degs d LEFT JOIN intra i ON i.community = d.community, mm),
         |tot AS (SELECT CAST(SUM(numer) AS BIGINT) AS numer_total FROM per)
         |SELECT CAST(per.community AS BIGINT) AS community, per.n_members,
         |  per.in_edges, per.deg_sum, per.numer, per.denom,
         |  CAST(per.numer AS DOUBLE) / CAST(per.denom AS DOUBLE) AS q_contrib,
         |  CAST(tot.numer_total AS DOUBLE) / CAST(per.denom AS DOUBLE) AS q_total
         |FROM per, tot""".stripMargin
    }),
    QueryDef("g26_label_spread", g26LabelSpread, {
      // rounds unrolled with the clamp as a seed-first union: votes
      // over the previous round's labeled set (inner join — identity
      // with the keep rule on this bidirectional graph, the g15
      // argument), then c_r = seeds UNION non-seed votes; the
      // row_number tie-break mirrors the packed argmax
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "s0" else s"c${r - 1}"
        s"""v$r AS MATERIALIZED (SELECT node, lbl FROM (
           |  SELECT e.dst AS node, l.lbl, count(*) AS cnt,
           |    row_number() OVER (PARTITION BY e.dst
           |      ORDER BY count(*) DESC, l.lbl) AS rn
           |  FROM me e JOIN $prev l ON l.node = e.src
           |  GROUP BY e.dst, l.lbl) WHERE rn = 1),
           |c$r AS MATERIALIZED (SELECT node, lbl FROM s0
           |  UNION ALL SELECT v.node, v.lbl FROM v$r v
           |  WHERE NOT EXISTS (SELECT 1 FROM s0 p WHERE p.node = v.node))""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |s0 AS MATERIALIZED (SELECT p_partkey AS node, p_partkey % 5 AS lbl
         |  FROM part WHERE p_partkey % 50 = 0
         |    AND p_partkey IN (SELECT src FROM me)),
         |$rounds
         |SELECT CAST(node AS BIGINT) AS part_id, CAST(lbl AS BIGINT) AS label
         |FROM c4""".stripMargin
    }),
    QueryDef("g27_temporal_reach", g27TemporalReach, {
      // min-merged layer DP: a_h = min(a_{h-1}, earliest edge time t
      // with t >= a_{h-1}(src)) — the time-respecting residual rides
      // the node equi-join (the j6 band shape)
      val layers = (1 to 3).map { h =>
        s"""v$h AS MATERIALIZED (SELECT e.dst AS id, CAST(MIN(e.t) AS BIGINT) AS arr
           |  FROM te e JOIN a${h - 1} a ON a.id = e.src AND e.t >= a.arr
           |  GROUP BY e.dst),
           |a$h AS MATERIALIZED (SELECT id, MIN(arr) AS arr FROM (
           |  SELECT id, arr FROM a${h - 1} UNION ALL SELECT id, arr FROM v$h)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH p0 AS MATERIALIZED (SELECT DISTINCT o_custkey AS cust,
         |    l_suppkey AS supp, epoch(o_orderdate) // 86400 AS t
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |te AS MATERIALIZED (SELECT cust AS src, supp + 1000000000 AS dst, t FROM p0
         |  UNION ALL SELECT supp + 1000000000, cust, t FROM p0),
         |a0 AS MATERIALIZED (SELECT c_custkey AS id, CAST(0 AS BIGINT) AS arr
         |  FROM customer WHERE c_custkey % 100 = 0),
         |$layers
         |SELECT CASE WHEN id >= 1000000000 THEN 'supp' ELSE 'cust' END AS kind,
         |  CAST(CASE WHEN id >= 1000000000 THEN id - 1000000000 ELSE id END AS BIGINT)
         |    AS node_id,
         |  arr AS arrival_day
         |FROM a3""".stripMargin
    }),
    QueryDef("g25_sssp", g25Sssp, {
      // the layer DP mirror of the improvement-frontier relaxation:
      // d_h = min over exactly-h-edge walks (positive weights make
      // walks == paths for the min), answer = min over layers 0..3;
      // every layer feeds the next AND the final min -> MATERIALIZED
      val layers = (1 to 3).map { h =>
        s"""d$h AS MATERIALIZED (SELECT e.dst AS id, MIN(d.dist + e.w) AS dist
           |  FROM we e JOIN d${h - 1} d ON d.id = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
         |    1000000 // count(*) AS w FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |we AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM e0
         |  UNION ALL SELECT b, a, w FROM e0),
         |d0 AS MATERIALIZED (SELECT p_partkey AS id, CAST(0 AS BIGINT) AS dist
         |  FROM part WHERE p_partkey % 100 = 0),
         |$layers
         |SELECT CAST(id AS BIGINT) AS part_id, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM (SELECT id, dist FROM d0 UNION ALL SELECT id, dist FROM d1
         |  UNION ALL SELECT id, dist FROM d2 UNION ALL SELECT id, dist FROM d3)
         |GROUP BY id""".stripMargin
    }),
    QueryDef("g24_kcore_incremental", g24KcoreIncremental, {
      // two cold peel unrolls at the corpus-size-tiered k (the k-core
      // is unique, so the cold merged peel equals the protected
      // incremental refresh), the g12 n/e MATERIALIZED pattern; the
      // tier is one scalar CASE on the pair count (the t8 mirror);
      // 14 rounds vs the 9 the deepest observed cascade needs (~1.5x
      // headroom, surplus rounds are identity passes)
      val rounds = 14
      def chain(tag: String, base: String) = (1 to rounds).map { r =>
        val p = if (r == 1) base else s"${tag}e${r - 1}"
        s"""${tag}n$r AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM $p
           |    UNION ALL SELECT b FROM $p) GROUP BY v
           |  HAVING count(*) >= (SELECT k FROM kk)),
           |${tag}e$r AS MATERIALIZED (SELECT e.a, e.b FROM $p e
           |  JOIN ${tag}n$r x ON x.v = e.a JOIN ${tag}n$r y ON y.v = e.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |sup AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
         |    count(*) FILTER (WHERE x.o % 50 <> 49) AS csup
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |kk AS MATERIALIZED (
         |  SELECT CASE WHEN count(*) < 50000 THEN 20 ELSE 80 END AS k FROM sup),
         |ce0 AS MATERIALIZED (SELECT a, b FROM sup WHERE csup >= 1),
         |me0 AS MATERIALIZED (SELECT a, b FROM sup),
         |${chain("c", "ce0")},
         |${chain("m", "me0")},
         |cd AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS v FROM ce$rounds UNION ALL SELECT b FROM ce$rounds) GROUP BY v),
         |md AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS v FROM me$rounds UNION ALL SELECT b FROM me$rounds) GROUP BY v)
         |SELECT CAST(md.v AS BIGINT) AS part_id, md.deg AS core_deg,
         |  cd.deg AS core_deg_prev
         |FROM md LEFT JOIN cd ON cd.v = md.v""".stripMargin
    }),
    QueryDef("g23_pagerank_weighted", g23PagerankWeighted, {
      // the g8 unroll with the weighted recurrence: contribution
      // (pr·85·w) // (100·tw), tw = source's total out-weight
      val rounds = (1 to 5).map { t =>
        s"""r$t AS (SELECT e.dst AS id,
           |    CAST(150000 + SUM((r.pr * 85 * e.w) // (100 * d.tw)) AS BIGINT) AS pr
           |  FROM we e JOIN r${t - 1} r ON r.id = e.src
           |  JOIN wd d ON d.src = e.src GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
         |    CAST(count(*) AS BIGINT) AS w FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |we AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM e0
         |  UNION ALL SELECT b, a, w FROM e0),
         |wd AS MATERIALIZED (
         |  SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM we GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM wd),
         |$rounds
         |SELECT CAST(id AS BIGINT) AS part_id, pr FROM r5""".stripMargin
    }),
    QueryDef("g22_harmonic", g22Harmonic, {
      // multi-source labeled BFS layers unrolled (the g14 shape with
      // (seed, id) PAIR keys — exclusion is a pair NOT EXISTS per
      // earlier layer); harmonic sum replays the integer division
      val layers = (1 to 3).map { h =>
        val prev = if (h == 1) "s0" else s"b${h - 1}"
        val excl = (Seq("s0") ++ (1 until h).map(i => s"b$i")).map(t =>
          s"NOT EXISTS (SELECT 1 FROM $t p$t WHERE p$t.seed = f.seed AND p$t.id = e.dst)")
          .mkString("\n    AND ")
        s"""b$h AS MATERIALIZED (SELECT DISTINCT f.seed, e.dst AS id
           |  FROM me e JOIN $prev f ON e.src = f.id
           |  WHERE $excl)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |s0 AS MATERIALIZED (SELECT p_partkey AS seed, p_partkey AS id
         |  FROM part WHERE p_partkey % 100 = 0),
         |$layers,
         |hops AS (SELECT seed, id, 1 AS hop FROM b1
         |  UNION ALL SELECT seed, id, 2 FROM b2
         |  UNION ALL SELECT seed, id, 3 FROM b3)
         |SELECT CAST(id AS BIGINT) AS part_id,
         |  CAST(SUM(1000000 // hop) AS BIGINT) AS centrality_ppm,
         |  CAST(count(*) AS BIGINT) AS n_seeds_reaching
         |FROM hops GROUP BY id""".stripMargin
    }),
    QueryDef("g20_coreness", g20Coreness, {
      // peel LEVELS x ROUNDS unrolled as MATERIALIZED n/e CTE pairs
      // (the g12 lesson, telescoped: level k starts from the prior
      // level's final edge set c{k-1}); coreness(v) = count of levels
      // whose core contains v. Levels 2..18 x 24 rounds — the r16
      // unroll stopped at level 6, probed against sf0.01/sf0.1 maxima
      // (3), but this round's sf0.001 fixture has degeneracy 15 and the
      // silent truncation mis-labeled 197 of 200 nodes (caught by the
      // r17 green-tree check; the r16 ADVICE flagged exactly this
      // defect class on the g34/g35 round unrolls). Surplus levels are
      // near-free identity passes over empty cores. The probe depth is
      // now POLICED rather than trusted: a sentinel row fires when the
      // top unrolled core is still non-empty (truncated decomposition)
      // and one per level whose `rounds`-round peel missed fixpoint —
      // either turns a would-be silent mismatch into a loud row-count
      // failure (the g34 fixpoint-sentinel discipline).
      // rounds: the deepest probed cascade is level 16's 19-round
      // final collapse at sf0.001 (the whole 15-core unravelling);
      // 24 gives headroom and the per-level fixpoint sentinels police
      // the rest. Surplus rounds at the fixpoint are identity passes.
      val rounds = 24
      val maxK = 18
      def level(k: Int) = ((1 to rounds).map { r =>
        val p = if (r == 1) s"c${k - 1}" else s"e${k}_${r - 1}"
        s"""n${k}_$r AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM $p
           |    UNION ALL SELECT b FROM $p) GROUP BY v HAVING count(*) >= $k),
           |e${k}_$r AS MATERIALIZED (SELECT e.a, e.b FROM $p e
           |  JOIN n${k}_$r x ON x.v = e.a JOIN n${k}_$r y ON y.v = e.b)""".stripMargin
      } :+ s"c$k AS MATERIALIZED (SELECT a, b FROM e${k}_$rounds)").mkString(",\n")
      val levels = (2 to maxK).map(level).mkString(",\n")
      val mem = (1 to maxK).map(k =>
        s"SELECT DISTINCT v FROM (SELECT a AS v FROM c$k UNION ALL SELECT b FROM c$k)")
        .mkString("\n  UNION ALL ")
      val fixpointChecks = (2 to maxK).map(k =>
        s"""SELECT CAST(-$k AS BIGINT) AS part_id, CAST(-1 AS BIGINT) AS coreness
           |WHERE (SELECT count(*) FROM e${k}_$rounds)
           |  <> (SELECT count(*) FROM e${k}_${rounds - 1})""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |c1 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x
         |  JOIN li y ON x.o = y.o AND x.p < y.p
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |$levels,
         |mem AS ($mem)
         |SELECT CAST(v AS BIGINT) AS part_id, CAST(count(*) AS BIGINT) AS coreness
         |FROM mem GROUP BY v
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
         |WHERE EXISTS (SELECT 1 FROM c$maxK)
         |UNION ALL
         |$fixpointChecks""".stripMargin
    }),
    QueryDef("g21_communities_incremental", g21CommunitiesIncremental, {
      // both LPA chains unrolled (4 standing rounds over the corpus
      // edges, 2 warm rounds over the merged edges seeded by l4 via
      // COALESCE), every round MATERIALIZED (each feeds the next AND
      // the final join — the g12 lesson); the row_number tie-break
      // (max count, then min label) is the exact mirror of the Spark
      // packed-long argmax, the g15 discipline.
      def lpa(tag: String, edges: String, init: String, n: Int) = (1 to n).map { t =>
        val prev = if (t == 1) init else s"$tag${t - 1}"
        s"""$tag$t AS MATERIALIZED (SELECT dst AS node, lbl FROM (
           |  SELECT e.dst, l.lbl, count(*) AS cnt,
           |    row_number() OVER (PARTITION BY e.dst
           |      ORDER BY count(*) DESC, l.lbl) AS rn
           |  FROM $edges e JOIN $prev l ON l.node = e.src
           |  GROUP BY e.dst, l.lbl) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |sup AS MATERIALIZED (SELECT x.p AS a, y.p AS b,
         |    count(*) FILTER (WHERE x.o % 50 <> 49) AS csup, count(*) AS tsup
         |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
         |ce AS MATERIALIZED (SELECT a AS src, b AS dst FROM sup WHERE csup >= 2
         |  UNION ALL SELECT b, a FROM sup WHERE csup >= 2),
         |me AS MATERIALIZED (SELECT a AS src, b AS dst FROM sup WHERE tsup >= 2
         |  UNION ALL SELECT b, a FROM sup WHERE tsup >= 2),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM ce),
         |${lpa("l", "ce", "l0", 4)},
         |w0 AS MATERIALIZED (SELECT m.node, CAST(COALESCE(l.lbl, m.node) AS BIGINT) AS lbl
         |  FROM (SELECT DISTINCT src AS node FROM me) m LEFT JOIN l4 l ON l.node = m.node),
         |${lpa("w", "me", "w0", 2)}
         |SELECT CAST(w.node AS BIGINT) AS part_id, CAST(w.lbl AS BIGINT) AS community,
         |  CAST(l4.lbl AS BIGINT) AS community_prev
         |FROM w2 w LEFT JOIN l4 ON l4.node = w.node""".stripMargin
    }),
    QueryDef("j13_er_incremental", j13ErIncremental,
      """WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |tg AS (SELECT id, name, list_distinct(list_transform(
        |    generate_series(1, len(name) - 2), i -> substr(name, i, 3))) AS ts
        |  FROM c),
        |m AS (SELECT a.id AS ia, b.id AS ib FROM tg a JOIN tg b ON a.id < b.id
        |  WHERE levenshtein(a.name, b.name) <= 1
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0
        |      / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.9),
        |e AS (SELECT ia AS src, ib AS dst FROM m UNION ALL SELECT ib, ia FROM m),
        |reach(src, dst) AS (SELECT src, dst FROM e
        |  UNION SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS node, least(src, min(dst)) AS label
        |  FROM reach GROUP BY src)
        |SELECT c.id AS record_id, COALESCE(l.label, c.id) AS entity_id
        |FROM c LEFT JOIN lab l ON l.node = c.id
        |WHERE c.id % 10 >= 8""".stripMargin),
    QueryDef("j12_entity_resolution", j12EntityResolution,
      """WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |tg AS (SELECT id, name, list_distinct(list_transform(
        |    generate_series(1, len(name) - 2), i -> substr(name, i, 3))) AS ts
        |  FROM c),
        |m AS (SELECT a.id AS ia, b.id AS ib FROM tg a JOIN tg b ON a.id < b.id
        |  WHERE levenshtein(a.name, b.name) <= 1
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0
        |      / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.9),
        |e AS (SELECT ia AS src, ib AS dst FROM m UNION ALL SELECT ib, ia FROM m),
        |reach(src, dst) AS (SELECT src, dst FROM e
        |  UNION SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |lab AS (SELECT src AS node, least(src, min(dst)) AS label
        |  FROM reach GROUP BY src),
        |ent AS (SELECT c.id AS record_id, COALESCE(l.label, c.id) AS entity_id
        |  FROM c LEFT JOIN lab l ON l.node = c.id),
        |sz AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
        |  FROM ent GROUP BY entity_id)
        |SELECT ent.record_id, ent.entity_id, sz.n_members
        |FROM ent JOIN sz USING (entity_id)""".stripMargin),
    QueryDef("j11_set_sim_join", j11SetSimJoin,
      """WITH dset AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(toks) - 2),
        |    i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))) AS ts
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |  WHERE len(toks) >= 3),
        |posts AS (SELECT doc_id, unnest(ts) AS sh FROM dset),
        |shared AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM posts x JOIN posts y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(ts) AS n FROM dset)
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / CAST(a.n + b.n - inter AS DOUBLE) AS jaccard
        |FROM shared JOIN sz a ON a.doc_id = id_a JOIN sz b ON b.doc_id = id_b
        |WHERE CAST(inter AS DOUBLE) / CAST(a.n + b.n - inter AS DOUBLE) >= 0.8""".stripMargin),
    QueryDef("t6_resample", t6Resample,
      """WITH obs AS (SELECT user_id, epoch_us(ts) // 86400000000 AS step,
        |    epoch_us(ts) AS us, event_id, value FROM events),
        |ps AS (SELECT user_id, step, CAST(count(*) AS BIGINT) AS n_events
        |  FROM obs GROUP BY 1, 2),
        |lastv AS (SELECT user_id, step, value FROM (
        |  SELECT user_id, step, value,
        |    row_number() OVER (PARTITION BY user_id, step
        |      ORDER BY us DESC, event_id DESC) AS rn
        |  FROM obs) WHERE rn = 1),
        |span AS (SELECT user_id, min(step) AS lo, max(step) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS step FROM span),
        |j AS (SELECT g.user_id, g.step, coalesce(ps.n_events, CAST(0 AS BIGINT)) AS n_events,
        |    lastv.value AS v
        |  FROM grid g
        |  LEFT JOIN ps ON g.user_id = ps.user_id AND g.step = ps.step
        |  LEFT JOIN lastv ON g.user_id = lastv.user_id AND g.step = lastv.step)
        |SELECT user_id, step, step * 86400000000 AS step_start_us, n_events,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY step
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_value
        |FROM j""".stripMargin),
    QueryDef("t4_sliding_window", t4SlidingWindow,
      """WITH x AS (SELECT event_type, value,
        |  (epoch_us(ts) // 10800000000) * 10800000000 AS s1 FROM events)
        |SELECT s AS window_start_us, event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT event_type, value, unnest([s1, s1 - 10800000000]) AS s FROM x)
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("ann_lsh", annLsh,
      """WITH q0 AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n0 AS (SELECT vec_id, qv,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm,
        |  CAST(list_sum(list_transform(generate_series(1, 8),
        |    i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM q0),
        |q AS (SELECT vec_id AS q_id, bucket AS q_bucket, qv AS q_qv, nrm AS q_nrm
        |  FROM n0 WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS c_id, bucket AS c_bucket, qv AS c_qv, nrm AS c_nrm FROM n0)
        |SELECT q_id, c_id, rank, score FROM (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
        |  FROM (SELECT q.q_id, c.c_id,
        |    CAST(CAST(list_sum(list_transform(generate_series(1, len(q.q_qv)),
        |      i -> q.q_qv[i] * c.c_qv[i])) AS BIGINT) AS DOUBLE) /
        |    (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS score
        |    FROM q JOIN c ON q.q_bucket = c.c_bucket AND q.q_id <> c.c_id))
        |WHERE rank <= 3""".stripMargin),
    QueryDef("ann_lsh_probe", annLshProbe, {
      val flips = graft.ops.Similarity.probeMasks(8, 2).mkString(", ")
      s"""WITH q0 AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n0 AS (SELECT vec_id, qv,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm,
        |  CAST(list_sum(list_transform(generate_series(1, 8),
        |    i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM q0),
        |q AS (SELECT vec_id AS q_id, xor(bucket, f.flip) AS q_bucket, qv AS q_qv, nrm AS q_nrm
        |  FROM n0, (SELECT CAST(unnest([$flips]) AS BIGINT) AS flip) f
        |  WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id AS c_id, bucket AS c_bucket, qv AS c_qv, nrm AS c_nrm FROM n0)
        |SELECT q_id, c_id, rank, score FROM (
        |  SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank, score
        |  FROM (SELECT q.q_id, c.c_id,
        |    CAST(CAST(list_sum(list_transform(generate_series(1, len(q.q_qv)),
        |      i -> q.q_qv[i] * c.c_qv[i])) AS BIGINT) AS DOUBLE) /
        |    (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(c.c_nrm AS DOUBLE))) AS score
        |    FROM q JOIN c ON q.q_bucket = c.c_bucket AND q.q_id <> c.c_id))
        |WHERE rank <= 3""".stripMargin
    }),
    QueryDef("p7_json_extract", p7JsonExtract,
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int FROM events""".stripMargin),
    QueryDef("k9_uint256_sum", k9Uint256Sum,
      """SELECT user_id, CAST(sum(event_id * 1000000000) AS VARCHAR) AS total_dec
        |FROM events GROUP BY user_id""".stripMargin),
    QueryDef("k10_uint256_net", k10Uint256Net,
      """SELECT user_id, CAST(
        |  sum(CASE WHEN event_type = 'click' THEN event_id * 1000000 ELSE 0 END) -
        |  sum(CASE WHEN event_type = 'view' THEN event_id * 1000000 ELSE 0 END)
        |AS VARCHAR) AS net_dec
        |FROM events GROUP BY user_id""".stripMargin),
    QueryDef("a11_percentiles", a11Percentiles,
      """SELECT event_type,
        |quantile_cont(floor(value), 0.5) AS median_v,
        |quantile_cont(floor(value), 0.9) AS p90_v,
        |CAST(min(floor(value)) AS BIGINT) AS min_v,
        |CAST(max(floor(value)) AS BIGINT) AS max_v
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("text_df", textDf,
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token HAVING count(DISTINCT doc_id) >= 10""".stripMargin),
    QueryDef("e1_salted_hotkey", e1SaltedHotkey,
      """SELECT event_type,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |count(*) AS n FROM events GROUP BY event_type""".stripMargin),
    QueryDef("e2_zorder_locality", e2ZorderLocality,
      s"""SELECT event_id,
        |${graft.ops.Layout.zValueSql(Seq("user_id", "CAST(floor(value) AS BIGINT)"))} AS zv
        |FROM events""".stripMargin),
    QueryDef("x1_approx_sketch", x1ApproxSketch, ""),
    QueryDef("x4_cms_bounds", x4CmsBounds,
      """SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt,
        |TRUE AS ok_lower, TRUE AS ok_upper
        |FROM events GROUP BY user_id""".stripMargin),
    QueryDef("x5_quantile_at_rest", x5QuantileAtRest,
      """WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, value FROM events),
        |wk AS (SELECT day // 7 AS week, day, value FROM ev)
        |SELECT CAST(week AS BIGINT) AS week,
        |  CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_values, TRUE AS p50_ok
        |FROM wk GROUP BY week""".stripMargin),
    QueryDef("x3_sketch_at_rest", x3SketchAtRest,
      """WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
        |wk AS (SELECT day // 7 AS week, day, user_id FROM ev),
        |days AS (SELECT week, CAST(count(DISTINCT day) AS BIGINT) AS n_days
        |  FROM wk GROUP BY week),
        |ex AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |    CAST(approx_count_distinct(user_id) AS DOUBLE) AS est
        |  FROM wk GROUP BY week)
        |SELECT CAST(d.week AS BIGINT) AS week, d.n_days, ex.exact_users,
        |  (abs(ex.est - CAST(ex.exact_users AS DOUBLE))
        |    <= greatest(CAST(ex.exact_users AS DOUBLE) * 0.10, 10.0)) AS users_ok
        |FROM days d JOIN ex ON ex.week = d.week""".stripMargin),
    QueryDef("x2_sketch_bounds", x2SketchBounds,
      """SELECT event_type, count(*) AS n,
        |count(DISTINCT user_id) AS exact_users,
        |(abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
        |   - CAST(count(DISTINCT user_id) AS DOUBLE))
        |  <= greatest(CAST(count(DISTINCT user_id) AS DOUBLE) * 0.10, 10.0)) AS users_ok,
        |((CAST(approx_quantile(floor(value), 0.5) AS DOUBLE)
        |  BETWEEN quantile_cont(floor(value), 0.45)
        |      AND quantile_cont(floor(value), 0.55))
        | OR count(*) < 1000) AS median_ok
        |FROM events GROUP BY event_type""".stripMargin)
  )
}
