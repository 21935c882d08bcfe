package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.JsonDSL._

/** Spans and counters recorded from the benchmark's side of each layer
  * boundary: workload, CLI/pipeline call, query, epoch, and every Spark
  * job as a child of the boundary that launched it (linked through the
  * `perfbench.span` local property this class sets). Everything is
  * kept in memory and rendered once when the run ends.
  *
  * With tracing off only the boundary spans are kept (they cost a few
  * objects per operation); the Spark listeners are not registered. */
final class Trace(val enabled: Boolean) {
  /** `batch` is the streaming micro-batch a job ran for (-1 outside one). */
  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startMs: Double, var endMs: Double, batch: Long = -1L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, Span]
  /** (output path, write seconds, files, bytes, rows, partitions) per write command. */
  val writes = mutable.ArrayBuffer.empty[(String, Double, Long, Long, Long, Long)]
  /** (batch id, jobs) counted from the streaming batch-id job property. */
  val jobsPerBatch = mutable.Map.empty[Long, Int]

  def nowMs(): Double = StubHost.nowMs()

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def open(kind: String, name: String, parent: Long = 0L, startMs: Double = nowMs(),
      batch: Long = -1L): Span = synchronized {
    val s = Span(nextId, parent, kind, name, startMs, Double.NaN, batch)
    nextId += 1
    spans += s
    s
  }

  /** Runs `body` inside a span; jobs it launches on this thread (and on
    * threads it starts) become the span's children. */
  def span[T](spark: SparkSession, kind: String, name: String, parent: Long = 0L)(body: => T): T = {
    val s = open(kind, name, parent)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try body
    finally {
      s.endMs = nowMs()
      sc.setLocalProperty("perfbench.span", prev)
    }
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  def uninstall(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      add("spark.jobs", 1)
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L)
      if (batch >= 0) jobsPerBatch(batch) = jobsPerBatch.getOrElse(batch, 0) + 1
      jobSpan(e.jobId) = open("job", e.jobId.toString, parent, batch = batch)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.endMs = nowMs())
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      add("spark.stages", 1)
      stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      add("spark.tasks", 1)
      if (!e.taskInfo.successful) add("spark.failed_tasks", 1)
      stageSubmitted.get(e.stageId).foreach { t =>
        add("spark.task_wait_ms", math.max(0L, e.taskInfo.launchTime - t).toDouble)
      }
      Option(e.taskMetrics).foreach { m =>
        add("spark.executor_run_ms", m.executorRunTime.toDouble)
        add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.gc_ms", m.jvmGCTime.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planning = qe.tracker.phases.values.map(_.durationMs).sum
      add("spark.planning_ms", planning.toDouble)
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
          val path = w.cmd match {
            case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
              c.outputPath.toString
            case _ => ""
          }
          Trace.this.synchronized {
            writes += ((path, durationNs / 1e9, v("numFiles"), v("numOutputBytes"),
              v("numOutputRows"), v("numParts")))
          }
        case other => other.children.foreach(walk)
      }
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def render(): JObject = synchronized {
    ("counters" -> JObject(counters.toList.map { case (k, v) => k -> (JDouble(v): JValue) })) ~
      ("spans" -> JArray(spans.toList.filterNot(_.endMs.isNaN).map { s =>
        ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("kind" -> s.kind) ~ ("name" -> s.name) ~
          ("start_ms" -> s.startMs) ~ ("end_ms" -> s.endMs) ~ ("batch" -> s.batch)
      }))
  }
}
