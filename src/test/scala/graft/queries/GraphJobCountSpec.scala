package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.tables.{FixtureStore, Tables}
import org.apache.spark.JobExecutionStatus

/** Spark job count per iterative-graph query at sf0.001: one cold run
  * (graph fixtures rebuilt, source tables already loaded) whose result
  * is fully written to the `noop` sink. The launch-bound graph queries
  * pay one job per staged round, so a refactor of the shared frontier
  * and peel loops that adds a staging point or a probe shows here as a
  * higher count. Each bound is the most jobs the query ran over repeated
  * runs before those loops were shared (adaptive execution submits query
  * stages concurrently, so g32, g34 and g35 move by 1–3 jobs from run
  * to run); a query may get cheaper, never dearer.
  */
class GraphJobCountSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val bounds = Seq(
    "g9_triangles" -> 14,
    "g10_clustering" -> 16,
    "g11_tri_incremental" -> 13,
    "g12_kcore" -> 14,
    "g14_reach_incremental" -> 52,
    "g20_coreness" -> 272,
    "g22_harmonic" -> 31,
    "g24_kcore_incremental" -> 29,
    "g25_sssp" -> 34,
    "g27_temporal_reach" -> 31,
    "g32_betweenness" -> 62,
    "g34_ktruss" -> 31,
    "g35_ktruss_incremental" -> 90,
    "x6_anf" -> 61,
    "x7_eff_diameter" -> 70)

  /** Jobs launched by building and fully writing `name` from cold
    * fixtures. The status store is fed asynchronously, so a one-task
    * barrier job runs after the query: the store's listener handles
    * events in order, so once the barrier shows as finished every job
    * of the query is listed too. */
  private def jobs(name: String): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-$name"
    FixtureStore.release(spark)
    sc.setJobGroup(group, name)
    try SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    finally sc.clearJobGroup()
    val barrier = s"$group-barrier"
    sc.setJobGroup(barrier, "barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    def barrierDone = tracker.getJobIdsForGroup(barrier)
      .exists(id => tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.SUCCEEDED))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!barrierDone) {
      assert(System.nanoTime() < deadline, s"$name: the status store never saw the barrier job")
      Thread.sleep(10)
    }
    tracker.getJobIdsForGroup(group).length
  }

  test("graph queries launch no more Spark jobs than before the shared loops") {
    // source tables load once per session (a parquet footer read is a
    // job of its own), so warm them first: the counts then do not depend
    // on which suite touched a table first
    Seq("part", "orders", "lineitem", "customer", "supplier", "events")
      .foreach(t => Tables.table(spark, dir, t))
    val measured = bounds.map { case (name, _) => name -> jobs(name) }
    measured.foreach { case (name, n) => info(s"$name: $n jobs") }
    val over = bounds.zip(measured).collect {
      case ((name, bound), (_, n)) if n > bound => s"$name: $n jobs > $bound"
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}
