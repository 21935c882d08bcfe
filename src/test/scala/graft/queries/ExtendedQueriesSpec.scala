package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row

/** Semantic checks for the extended operators on sf0.001 — invariants a
  * human can verify by hand, complementing the DuckDB hash oracle. */
class ExtendedQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("t4_sliding_window: every event lands in exactly two windows") {
    val events = graft.tables.Tables.events(spark, dir).count()
    val windowed = run("t4_sliding_window")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(windowed === 2 * events)
  }

  test("o5_topk_per_group: at most 3 rows per user, ranks 1..k contiguous") {
    val byUser = run("o5_topk_per_group").groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count("*").as("k"),
        org.apache.spark.sql.functions.collect_set("rn").as("rns"))
      .collect()
    byUser.foreach { r =>
      val k = r.getLong(1)
      assert(k <= 3)
      assert(r.getSeq[Int](2).sorted === (1 to k.toInt))
    }
  }

  test("j5_asof_join: picked order is at-or-before the event, none later exists") {
    import org.apache.spark.sql.functions._
    val res = run("j5_asof_join")
    val ev = graft.tables.Tables.events(spark, dir)
      .select(col("event_id"), col("ts_us"))
    val o = graft.tables.Tables.orders(spark, dir).select(col("o_custkey"),
      expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").as("o_day"))
    // every matched last_order_day is <= the event's day
    val bad = res.join(ev, "event_id")
      .filter(col("last_order_day").isNotNull &&
        col("last_order_day") * lit(86400000000L) > col("ts_us"))
      .count()
    assert(bad === 0)
    // and no order of that user exists strictly between it and the event
    val later = res.join(ev, "event_id")
      .join(o, res("user_id") === o("o_custkey") &&
        o("o_day") * lit(86400000000L) <= col("ts_us") &&
        o("o_day") > col("last_order_day"))
      .count()
    assert(later === 0)
  }

  test("j6_range_join: n_orders_7d matches a direct recount") {
    import org.apache.spark.sql.functions._
    val res = run("j6_range_join")
    val total = res.agg(sum("n_orders_7d")).head().getLong(0)
    val ev = graft.tables.Tables.events(spark, dir).select(col("user_id").as("u"), col("ts_us"))
    val o = graft.tables.Tables.orders(spark, dir).select(col("o_custkey"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("o_us"))
    val direct = ev.join(o, col("u") === col("o_custkey") &&
      col("o_us") <= col("ts_us") &&
      col("o_us") > col("ts_us") - lit(7L * 86400000000L)).count()
    assert(total === direct)
  }

  test("a10_moments: variance matches direct two-pass computation") {
    import org.apache.spark.sql.functions._
    val res = run("a10_moments").select("event_type", "variance").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val vals = graft.tables.Tables.events(spark, dir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)))
    vals.foreach { case (et, xs) =>
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
      assert(math.abs(res(et) - v) < 1e-6 * math.max(1.0, v), s"$et: ${res(et)} vs $v")
    }
  }

  test("x1_approx_sketch: estimates land within published error bounds") {
    import org.apache.spark.sql.functions._
    val res = run("x1_approx_sketch").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = graft.tables.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nu")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (et, nu) =>
      val est = res(et)._1
      assert(math.abs(est - nu).toDouble / nu < 0.1, s"$et: HLL $est vs exact $nu")
    }
  }

  test("u1_set_ops: tags partition the purchaser/error user sets") {
    val rows = run("u1_set_ops").collect()
    val byTag = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val both = byTag.getOrElse("both", Set.empty)
    val pOnly = byTag.getOrElse("purchase_only", Set.empty)
    val eOnly = byTag.getOrElse("error_only", Set.empty)
    assert((both & pOnly).isEmpty && (both & eOnly).isEmpty && (pOnly & eOnly).isEmpty)
  }

  test("a8_rollup: grand total row equals sum of leaf rows") {
    import org.apache.spark.sql.functions._
    val df = run("a8_rollup")
    val grand = df.filter(col("event_type") === "ALL" && col("bucket") === -1L)
      .select("n").head().getLong(0)
    val leaves = df.filter(col("event_type") =!= "ALL" && col("bucket") =!= -1L)
      .agg(sum("n")).head().getLong(0)
    assert(grand === leaves)
  }

  test("x3: merging stored daily HLL sketches == sketching the raw week") {
    // The property that makes sketch-at-rest rollups trustworthy:
    // hll_union_agg over per-day sketches must return the SAME
    // estimate as one hll_sketch_agg over the week's raw rows (the
    // datasketches merge is lossless for HLL registers). If this ever
    // breaks, x3's users_ok booleans could stay green while the
    // at-rest path silently degrades.
    import org.apache.spark.sql.functions._
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .select((col("ts_us") / lit(86400000000L)).cast("long").as("day"),
        col("user_id"))
    val viaRest = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy((col("day") / lit(7L)).cast("long").as("week"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val viaRaw = ev
      .groupBy((col("day") / lit(7L)).cast("long").as("week"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
    val rest = viaRest.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = viaRaw.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rest === raw, "at-rest merge diverged from raw sketch")
    assert(rest.nonEmpty)
  }

  test("o9_retention: offset 0 holds the whole cohort; offsets and rates in range") {
    // a user's signup event is itself activity at offset 0, so every
    // cohort's offset-0 row counts the whole cohort
    val rows = run("o9_retention").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val off = r.getAs[Long]("week_offset")
      val rate = r.getAs[Double]("retention")
      assert(off >= 0L && off <= 8L, s"week_offset $off out of [0, 8]")
      assert(rate > 0.0 && rate <= 1.0, s"retention $rate out of (0, 1]")
      if (off == 0L) {
        assert(r.getAs[Long]("n_active") === r.getAs[Long]("n_cohort"))
        assert(rate === 1.0)
      }
    }
    val cohorts = rows.map(_.getAs[Long]("cohort_week")).toSet
    assert(rows.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("cohort_week")).toSet === cohorts)
  }

  test("t7_anomaly: n in [5, 20], mean = average of the user's prior <= 20 values") {
    import org.apache.spark.sql.functions._
    val res = run("t7_anomaly")
    val bounds = res.agg(min("n"), max("n")).head()
    assert(bounds.getLong(0) >= 5L && bounds.getLong(1) <= 20L)
    // sample both sides of the trail cap: early rows and capped rows
    val sample = res.orderBy(col("event_id")).limit(3).collect() ++
      res.filter(col("n") === 20L).orderBy(col("event_id")).limit(3).collect()
    assert(sample.exists(_.getAs[Long]("n") == 20L), "no row reached the trail cap")
    val users = sample.map(_.getAs[Long]("user_id")).distinct
    val history = graft.tables.Tables.events(spark, dir)
      .filter(col("user_id").isin(users.toIndexedSeq: _*))
      .select(col("user_id"), col("event_id"), col("value")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(e => (e.getLong(1), e.getDouble(2))).sortBy(_._1)).toMap
    sample.foreach { r =>
      val id = r.getAs[Long]("event_id")
      val prior = history(r.getAs[Long]("user_id")).filter(_._1 < id).takeRight(20)
      assert(r.getAs[Long]("n") === prior.length.toLong, s"event $id")
      // the operator sums DECIMAL(18,2) values, then divides as double
      val want = prior.map(e => BigDecimal(e._2).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / prior.length
      val got = r.getAs[Double]("mean")
      assert(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want)),
        s"event $id: mean $got vs recomputed $want")
    }
  }

  test("LSH gate queries are non-vacuous at the gate SF (sf0.01)") {
    // Round-9 finding: at 16 sign bits both queries hash-matched the
    // oracle on ZERO rows — a green light that proved nothing. The
    // 8-bit bucket is tuned to collide at the gate SF; this spec turns
    // a future re-vacuation into a red test instead of a silent no-op.
    val gate = "/root/testdata/sf0.01"
    assert(SparkEntry.queries("ann_lsh")(spark, gate).count() > 0,
      "ann_lsh emitted 0 rows at sf0.01 — LSH bucket too wide")
    assert(SparkEntry.queries("dedup_embed_lsh")(spark, gate).count() > 0,
      "dedup_embed_lsh emitted 0 rows at sf0.01 — LSH bucket too wide")
    // t8's tier-1 threshold (0.7% below 20k rows) clears 54 of 150
    // users at the gate SF; with a vacuous emission the green oracle
    // check would prove nothing (the round-9 LSH lesson)
    assert(SparkEntry.queries("t8_heavy_hitters")(spark, gate).count() > 0,
      "t8_heavy_hitters emitted 0 rows at sf0.01 — threshold too high")
  }

  test("g12 peels a REAL cascade at the gate SF — nonempty, strictly smaller core") {
    // self-calibrating non-vacuity: the 2-core must keep some nodes
    // (else the green oracle proves nothing) and drop some (else the
    // support-2 graph stopped having whiskers and the peel is a no-op;
    // at sf0.01 it keeps 1535 of 1880 over 4 rounds)
    val gate = "/root/testdata/sf0.01"
    import org.apache.spark.sql.functions.{col, count, lit}
    val li = graft.tables.Tables.lineitem(spark, gate)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val strong = li.as("x").join(li.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
      .localCheckpoint(true) // two projections below — build once
    val strongNodes = strong.select(col("a").as("v"))
      .unionByName(strong.select(col("b").as("v")))
      .distinct().count()
    val coreNodes = SparkEntry.queries("g12_kcore")(spark, gate).count()
    assert(coreNodes > 0, "g12_kcore emitted 0 rows at sf0.01 — core collapsed")
    assert(coreNodes < strongNodes,
      s"g12_kcore peeled nothing at sf0.01 ($coreNodes of $strongNodes nodes)")
  }

  test("t8 emits AND evicts at the bench SF (sf0.1)") {
    // Round-13 verdict: the benched query used to output 0 rows at
    // sf0.1 (no uniform user clears 0.7% of 100k rows), so the bench
    // measured a query that emitted nothing. The tier-2 threshold
    // (0.09% above 20k rows) selects the top uniform outliers — and at
    // capacity 1200 < 1500 distinct users the benched sketch also
    // genuinely EVICTS, so the bench now exercises both the recall
    // guarantee under eviction and a non-empty recount.
    val bench = "/root/testdata/sf0.1"
    val rows = SparkEntry.queries("t8_heavy_hitters")(spark, bench).count()
    assert(rows > 0, "t8_heavy_hitters emitted 0 rows at sf0.1 — tier-2 threshold too high")
    assert(rows < 100, s"t8 at sf0.1 stopped being selective ($rows rows)")
  }
}
