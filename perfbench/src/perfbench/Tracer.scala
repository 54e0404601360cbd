package perfbench

import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, read from outside the engine:
  * a `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * per session (Catalyst phases of every executed action), a
  * `StreamingQueryListener` per session (micro-batch and state-store
  * progress) and the codegen compile counters. Only installed with
  * `--trace 1`; untraced runs carry no listener at all.
  */
final class Tracer(spark: SparkSession) {
  private val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val triggers = mutable.ArrayBuffer.empty[Double]
  private val firstBatch = mutable.ArrayBuffer.empty[Double]
  private val started = mutable.Map.empty[UUID, Instant]
  private val rowsTotal = mutable.Map.empty[(UUID, Int), Double]
  private val jobStart = mutable.Map.empty[Int, Long]
  @volatile private var events = 0L
  private var compile0 = 0L
  private var compiles0 = 0L

  private def add(kv: (String, Double)*): Unit = synchronized {
    events += 1
    kv.foreach { case (k, v) => sum(k) += v }
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Tracer.this.synchronized(jobStart(e.jobId) = e.time)
      add("exec.jobs" -> 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Tracer.this.synchronized(jobStart.remove(e.jobId))
      add("exec.job_wall_s" -> t0.map(t => (e.time - t) / 1e3).getOrElse(0.0))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages" -> 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks" -> 1, "exec.failed_tasks" -> (if (e.taskInfo.failed) 1 else 0))
      Option(e.taskMetrics).foreach { m =>
        add("exec.task_run_s" -> m.executorRunTime / 1e3,
          "exec.task_cpu_s" -> m.executorCpuTime / 1e9,
          "exec.gc_s" -> m.jvmGCTime / 1e3,
          "exec.shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1e6,
          "exec.shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1e6,
          "exec.spill_mb" -> m.diskBytesSpilled / 1e6)
      }
    }
  })

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ph(name: String) = phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
      add("plan.analysis_s" -> ph("analysis"), "plan.optimization_s" -> ph("optimization"),
        "plan.planning_s" -> ph("planning"))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      Tracer.this.synchronized(started(e.runId) = Instant.parse(e.timestamp))
      add("streaming.queries" -> 1)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Tracer.this.synchronized {
        triggers += d("triggerExecution")
        started.remove(p.runId).foreach { t0 =>
          val end = Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution")
          firstBatch += end - t0.toEpochMilli
        }
        p.stateOperators.zipWithIndex.foreach { case (op, i) =>
          rowsTotal((p.runId, i)) = op.numRowsTotal.toDouble
        }
      }
      add("streaming.batches" -> 1, "streaming.query_planning_ms" -> d("queryPlanning"),
        "streaming.wal_commit_ms" -> d("walCommit"),
        "streaming.commit_offsets_ms" -> d("commitOffsets"),
        "streaming.add_batch_ms" -> d("addBatch"),
        "streaming.input_rows" -> p.numInputRows.toDouble)
      p.stateOperators.foreach { op =>
        def c(k: String): Double =
          Option(op.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("state.update_ms" -> op.allUpdatesTimeMs.toDouble,
          "state.removal_ms" -> op.allRemovalsTimeMs.toDouble,
          "state.commit_ms" -> op.commitTimeMs.toDouble,
          "state.load_ms" -> c("rocksdbLoadLatencyMs"),
          "state.file_sync_ms" -> c("rocksdbCommitFileSyncLatencyMs"),
          "state.rocksdb_gets" -> c("rocksdbGetCount"),
          "state.rocksdb_puts" -> c("rocksdbPutCount"),
          "state.rows_updated" -> op.numRowsUpdated.toDouble,
          "state.keyed_input_rows" -> (if (op.numRowsUpdated > 0) p.numInputRows.toDouble else 0))
        Tracer.this.synchronized {
          sum("state.memory_mb") = math.max(sum("state.memory_mb"), op.memoryUsedBytes / 1e6)
        }
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = add()
  }

  /** Install the per-session listeners on a session the workload uses. */
  def attach(s: SparkSession): Unit = {
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
  }

  /** Zero every counter at the start of the timed region. */
  def begin(awaitQuiet: Boolean): Unit = {
    if (awaitQuiet) quiet()
    synchronized {
      sum.clear(); triggers.clear(); firstBatch.clear(); rowsTotal.clear()
    }
    compile0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Counters accumulated since [[begin]], plus the workload's own spans.
    * A layer the workload never reaches is absent; the caller reports it
    * as 0.
    */
  def end(own: Map[String, Double]): Map[String, Double] = {
    val compileS = (CodeGenerator.compileTime - compile0) / 1e9
    val compiles = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
    quiet()
    synchronized {
      val s = sum.toMap.withDefaultValue(0.0)
      val batches = math.max(s("streaming.batches"), 1.0)
      def perBatch(k: String) = k -> s(k) / batches
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      s ++
        Seq(perBatch("streaming.query_planning_ms"), perBatch("streaming.wal_commit_ms"),
          perBatch("streaming.commit_offsets_ms"), perBatch("streaming.add_batch_ms")) ++
        Map(
          "codegen.compile_s" -> compileS,
          "codegen.compiles" -> compiles,
          "exec.core_util" ->
            ratio(s("exec.task_run_s"), s("exec.job_wall_s") * spark.sparkContext.defaultParallelism),
          "streaming.first_batch_ms" -> medianOrZero(firstBatch.toSeq),
          "streaming.trigger_ms.p50" -> medianOrZero(triggers.toSeq),
          "streaming.rows_per_key" -> ratio(s("state.keyed_input_rows"), s("state.rows_updated")),
          "state.gets_per_row" -> ratio(s("state.rocksdb_gets"), s("streaming.input_rows")),
          "state.rows_total" -> rowsTotal.values.sum) ++ own
    }
  }

  private def medianOrZero(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Listener events arrive on Spark's asynchronous bus: wait until none
    * has arrived for a while (bounded), so a span's events are all in.
    */
  private def quiet(): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    var seen = -1L
    while (seen != events && System.nanoTime() < deadline) {
      seen = events
      Thread.sleep(300)
    }
  }
}
