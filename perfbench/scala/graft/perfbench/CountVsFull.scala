package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

/** Times registry queries two ways, min of two runs each: the old bench's
  * `.count()`, which lets Catalyst prune columns and drop joins, against
  * a `noop`-sink write, which executes the full physical plan. Also counts
  * the joins left in each optimized plan. Prints one tab-separated row
  * per query; the results are recorded in `perfbench/NOTES.md`.
  *
  * {{{
  * java ... graft.perfbench.CountVsFull DATA_DIR WORK_DIR [query,query,...]
  * }}}
  * With no query list it uses [[BenchMain.Queries]]. */
object CountVsFull {
  private def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.size

  def main(args: Array[String]): Unit = {
    val data = args(0)
    val spark = BenchMain.session(BenchMain.Args("queries", 0L, 0.0, trace = false,
      work = args(1), data = data, classpath = ""))
    val names = args.lift(2).map(_.split(',').toSeq).getOrElse(BenchMain.Queries)
    def best(run: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); run; (System.nanoTime() - t0) / 1e9
    }.min
    println("query\tcount_s\tnoop_s\tratio\tjoins_full\tjoins_count")
    var (countTotal, noopTotal) = (0.0, 0.0)
    for (name <- names) {
      def df: DataFrame = graft.SparkEntry.queries(name)(spark, data)
      val c = best(df.count())
      val n = best(df.write.format("noop").mode("overwrite").save())
      val jf = joins(df.queryExecution.optimizedPlan)
      val jc = joins(df.groupBy().count().queryExecution.optimizedPlan)
      countTotal += c; noopTotal += n
      println(f"$name\t$c%.2f\t$n%.2f\t${n / c}%.1f\t$jf\t$jc")
    }
    println(f"total\t$countTotal%.2f\t$noopTotal%.2f\t${noopTotal / countTotal}%.1f")
    spark.stop()
  }
}
