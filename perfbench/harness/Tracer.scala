package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.catalyst.plans.logical.{Command, V2WriteCommand}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, measured from outside the program through Spark's
  * public listener interfaces only:
  *  - `SparkListener`: jobs, stages, tasks and their task metrics
  *    (scheduler, task compute, shuffle, storage writes);
  *  - `QueryExecutionListener`: Catalyst phase times, executed plans
  *    (codegen fallbacks) and commands (catalog);
  *  - `StreamingQueryListener`: micro-batch progress.
  * Codegen compile time and class count are JVM-wide Spark counters.
  *
  * Listener callbacks run on the bus threads; [[snapshot]] drains the bus
  * first, so a snapshot taken after a query includes all of its events. */
final class Tracer(spark: SparkSession) {
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(key: String, v: Double): Unit = synchronized {
    counts(key) = counts.getOrElse(key, 0.0) + v
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      Tracer.this.synchronized { jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobStart.remove(e.jobId).foreach { t0 =>
          jobSpans += ((t0, e.time))
          add("scheduler.job_ms", (e.time - t0).toDouble)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task.run_ms", m.executorRunTime.toDouble)
        add("task.cpu_ms", m.executorCpuTime / 1e6)
        add("task.gc_ms", m.jvmGCTime.toDouble)
        add("task.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("shuffle.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("storage.write_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("storage.write_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ns)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, ns: Long): Unit = {
    add("catalyst.executions", 1)
    val phases = qe.tracker.phases
    def phase(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    add("catalyst.analysis_ms", phase("analysis"))
    add("catalyst.optimizer_ms", phase("optimization"))
    add("catalyst.planning_ms", phase("planning"))
    add("functions.fallback_exprs", Tracer.fallbacks(qe.executedPlan, false).toDouble)
    if (Tracer.isProgramCommand(qe)) {
      add("catalog.commands", 1)
      add("catalog.command_ms", ns / 1e6)
    }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.trigger_ms", ms("triggerExecution"))
      add("streaming.add_batch_ms", ms("addBatch"))
      add("streaming.wal_ms", ms("walCommit") + ms("commitOffsets"))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  /** Cumulative counters (plus the JVM-wide codegen ones) after a drain. */
  def snapshot(): Map[String, Double] = {
    drain()
    synchronized(counts.toMap) ++ Map(
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
      "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  }

  /** Milliseconds of [t0, t1] covered by at least one job, after a drain. */
  def jobCoverMs(t0: Long, t1: Long): Long = {
    drain()
    val spans = synchronized(jobSpans.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curStart, curEnd) = (-1L, -1L)
    spans.foreach { case (a, b) =>
      if (curEnd < 0 || a > curEnd) {
        if (curEnd >= 0) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd >= 0) covered += curEnd - curStart
    covered
  }
}

object Tracer {
  /** CodegenFallback expressions evaluated outside whole-stage codegen,
    * walking through adaptive-execution wrappers and subqueries. */
  def fallbacks(p: SparkPlan, inWholeStage: Boolean): Int = {
    val own =
      if (inWholeStage) 0
      else p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> inWholeStage)
      case q: QueryStageExec => Seq(q.plan -> inWholeStage)
      case w: WholeStageCodegenExec => Seq(w.child -> true)
      case other => other.children.map(_ -> inWholeStage)
    }
    own + kids.map { case (k, in) => fallbacks(k, in) }.sum +
      p.subqueries.map(fallbacks(_, false)).sum
  }

  /** A command the program ran (DDL, rename, insert, table or scratch
    * write), as opposed to the benchmark's own `noop` sink. */
  def isProgramCommand(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => !r.table.getClass.getName.contains(".noop.")
      case _ => true
    }
    case _: Command => true
    case _ => false
  }
}
