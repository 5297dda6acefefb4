package graft.perfbench

import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by the listeners below while [[Collect.active]] is set.
  * Totals only: the traced loop snapshots them around each op. */
object Collect {
  @volatile var active = false

  val names: Seq[String] = Seq(
    "exec.task_cpu_ms", "exec.task_run_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.peak_exec_memory_bytes",
    "exec.stages", "exec.tasks", "exec.skew_sum", "exec.skew_stages",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "plan.codegen_compile_ms", "plan.codegen_classes",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.query_planning_ms", "streaming.latest_offset_ms", "streaming.get_batch_ms",
    "state.rows_total", "state.memory_bytes", "state.commit_ms", "state.samples")
  private val sums: Map[String, DoubleAdder] = names.map(_ -> new DoubleAdder).toMap

  def add(name: String, v: Double): Unit = if (active) sums(name).add(v)
  def snapshot(): Map[String, Double] = sums.map { case (k, a) => k -> a.sum() }

  /** Trigger durations (ms) of every streaming micro-batch seen. */
  val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  private val stageRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  def taskRun(stage: Int, ms: Long): Unit =
    stageRuns.synchronized(stageRuns.getOrElseUpdate(stage, mutable.ArrayBuffer.empty) += ms)
  def stageDone(stage: Int): Unit = {
    val runs = stageRuns.synchronized(stageRuns.remove(stage)).getOrElse(Nil).toSeq.sorted
    if (runs.length >= 2) {
      val med = runs(runs.length / 2).max(1L)
      add("exec.skew_sum", runs.last.toDouble / med)
      add("exec.skew_stages", 1)
    }
  }
}

final class ExecListener extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (!Collect.active || m == null) return
    Collect.add("exec.tasks", 1)
    Collect.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
    Collect.add("exec.task_run_ms", m.executorRunTime.toDouble)
    Collect.add("exec.gc_ms", m.jvmGCTime.toDouble)
    Collect.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    Collect.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    Collect.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    Collect.add("exec.peak_exec_memory_bytes", m.peakExecutionMemory.toDouble)
    Collect.taskRun(e.stageId, m.executorRunTime)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Collect.active) {
      Collect.add("exec.stages", 1)
      Collect.stageDone(e.stageInfo.stageId)
    }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session the query registry derives with `newSession()` reports too. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    Collect.add("plan.analysis_ms", ms("analysis"))
    Collect.add("plan.optimization_ms", ms("optimization"))
    Collect.add("plan.planning_ms", ms("planning"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`. */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    if (!Collect.active) return
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Collect.add("streaming.add_batch_ms", d("addBatch"))
    Collect.add("streaming.wal_commit_ms", d("walCommit"))
    Collect.add("streaming.commit_offsets_ms", d("commitOffsets"))
    Collect.add("streaming.query_planning_ms", d("queryPlanning"))
    Collect.add("streaming.latest_offset_ms", d("latestOffset"))
    Collect.add("streaming.get_batch_ms", d("getBatch"))
    Collect.batchMs.add(d("triggerExecution").toLong)
    p.stateOperators.foreach { s =>
      Collect.add("state.rows_total", s.numRowsTotal.toDouble)
      Collect.add("state.memory_bytes", s.memoryUsedBytes.toDouble)
      Collect.add("state.commit_ms", s.commitTimeMs.toDouble)
      Collect.add("state.samples", 1)
    }
  }
}

/** Codegen compile time from CodeGenerator's own "Code generated in X ms"
  * log line, captured by an appender on that one logger. */
object CodegenLog {
  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Re = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Re(ms) =>
          Collect.add("plan.codegen_compile_ms", ms.toDouble)
          Collect.add("plan.codegen_classes", 1)
        case _ => ()
      }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(Logger, lc)
    ctx.updateLoggers()
  }
}
