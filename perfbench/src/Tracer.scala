package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The layer listeners, all public Spark APIs, installed on one session.
  * Each listener writes raw records (wall-clock stamped) to the record
  * sink; `run.py` attributes them to the call whose window holds them,
  * preferring the job group the harness sets around every call.
  *
  *  - SparkListener: jobs, stages, and per-stage task aggregates
  *    (run/cpu/GC time, scheduler delay, shuffle, spill, input).
  *  - QueryExecutionListener: one record per QueryExecution with the
  *    QueryPlanningTracker phase times (analysis, optimization, planning)
  *    and the time its first phase started.
  *  - StreamingQueryListener: one record per micro-batch progress.
  *
  * Listener callbacks run on Spark's listener bus threads, so records
  * arrive asynchronously; `SparkSession.stop()` drains the bus, after
  * which every record is on disk.
  */
final class Tracer(spark: SparkSession, rec: Records) {

  private final class StageAcc {
    var tasks, runMs, cpuNs, gcMs, delayMs, shWrite, shRead, fetchWaitMs,
        spillDisk, spillMem, inRows, inBytes = 0L
  }

  private val stages = mutable.Map.empty[(Int, Int), StageAcc]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      rec.write("job_start", "job" -> e.jobId, "t_ms" -> e.time,
        "group" -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")),
        "stages" -> e.stageIds)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      rec.write("job_end", "job" -> e.jobId, "t_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      stages.synchronized {
        val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          // Spark UI's scheduler delay: task wall minus the time the
          // executor spent deserializing, running and serializing it.
          val fetchingResult =
            if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          a.delayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetchingResult)
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillDisk += m.diskBytesSpilled
          a.spillMem += m.memoryBytesSpilled
          a.inRows += m.inputMetrics.recordsRead
          a.inBytes += m.inputMetrics.bytesRead
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = stages.synchronized(stages.remove((s.stageId, s.attemptNumber()))
        .getOrElse(new StageAcc))
      rec.write("stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit_ms" -> s.submissionTime, "end_ms" -> s.completionTime,
        "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "delay_ms" -> a.delayMs,
        "shuffle_write" -> a.shWrite, "shuffle_read" -> a.shRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill_disk" -> a.spillDisk,
        "spill_mem" -> a.spillMem, "input_rows" -> a.inRows,
        "input_bytes" -> a.inBytes)
    }
  }

  private val plans = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Seq[(String, Any)] = {
      val p = qe.tracker.phases
      def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
      Seq("start_ms" -> (if (p.isEmpty) None else Some(p.values.map(_.startTimeMs).min)),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      rec.write("execution", (Seq("func" -> f, "ok" -> true,
        "duration_ns" -> durationNs) ++ phases(qe)): _*)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
      rec.write("execution", (Seq("func" -> f, "ok" -> false) ++ phases(qe)): _*)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      rec.write("batch", "t_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "batch" -> p.batchId, "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
        "state_rows" -> p.stateOperators.map(_.numRowsUpdated).sum,
        "input_rows" -> p.numInputRows)
    }
  }

  def install(): Unit = { installQueries(); installBatches() }

  /** The SparkListener and the QueryExecutionListener. */
  def installQueries(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** The StreamingQueryListener alone: one event per micro-batch, the
    * only public view of trigger times. */
  def installBatches(): Unit = spark.streams.addListener(streams)
}

/** JVM-wide codegen counters (CodegenMetrics histograms). Counts are
  * exact; compile time and bytecode size are the count delta times the
  * histogram's reservoir mean, so they are estimates. */
object Codegen {
  final case class Sample(compiles: Long, compileMeanMs: Double,
      classes: Long, classMeanBytes: Double)

  def sample(): Sample = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val b = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    Sample(t.getCount, t.getSnapshot.getMean, b.getCount, b.getSnapshot.getMean)
  }

  /** (compiles, compile ms, bytecode bytes) between two samples. */
  def delta(a: Sample, b: Sample): Seq[(String, Any)] = {
    val n = b.compiles - a.compiles
    Seq("compiles" -> n, "compile_ms" -> n * b.compileMeanMs,
      "bytecode_bytes" -> (b.classes - a.classes) * b.classMeanBytes)
  }
}
