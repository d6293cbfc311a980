package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval recorded by the benchmark around a call into a
  * layer. Spans of one operation share `op`; `parent` is the index of
  * the enclosing span in the same trace (-1 for the operation itself). */
final case class Span(op: String, name: String, parent: Int,
    startNs: Long, var endNs: Long = 0L)

/** What the Spark listeners saw, attributed to benchmark operations.
  *
  * Jobs carry the local property [[Probe.OpKey]] that the benchmark sets
  * on its own thread around each call; a job started on a thread the
  * property cannot reach (the gateway's handler thread) is attributed
  * afterwards by the operation's time window. The probe is registered
  * only in traced runs, so untraced runs carry no listener cost. */
final class Probe(spark: SparkSession) {
  import Probe._

  final class Job(val id: Int, val startMs: Long, var op: String) {
    var endMs = 0L
    var stages = 0
  }
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputB = 0L; var shWriteB = 0L; var shReadB = 0L; var spillB = 0L
    var resultB = 0L
    def +=(o: TaskAgg): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      inputB += o.inputB; shWriteB += o.shWriteB; shReadB += o.shReadB
      spillB += o.spillB; resultB += o.resultB
    }
  }
  final class Phases(val analysisMs: Long, val optimizationMs: Long,
      val planningMs: Long)
  final class StreamRec(val startMs: Long) {
    var firstProgressMs = 0L
    var batches = 0; var emptyBatches = 0
    var planningMs = 0L; var addBatchMs = 0L; var walMs = 0L
    var triggerMs = 0L
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  val tasksByJob = mutable.HashMap[Int, TaskAgg]()
  val phases = mutable.ArrayBuffer[Phases]()
  val streams = mutable.LinkedHashMap[java.util.UUID, StreamRec]()
  val spans = mutable.ArrayBuffer[Span]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Probe.this.synchronized {
        val op = Option(e.properties).flatMap(p =>
          Option(p.getProperty(OpKey))).getOrElse("")
        val j = new Job(e.jobId, e.time, op)
        j.stages = e.stageInfos.size
        jobs(e.jobId) = j
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Probe.this.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Probe.this.synchronized {
        val m = e.taskMetrics
        if (m != null) stageJob.get(e.stageId).foreach { j =>
          val a = tasksByJob.getOrElseUpdate(j, new TaskAgg)
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputB += m.inputMetrics.bytesRead
          a.shWriteB += m.shuffleWriteMetrics.bytesWritten
          a.shReadB += m.shuffleReadMetrics.totalBytesRead
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.resultB += m.resultSize
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def d(n: String) = p.get(n).map(x => x.endTimeMs - x.startTimeMs)
        .getOrElse(0L)
      Probe.this.synchronized {
        phases += new Phases(d("analysis"), d("optimization"), d("planning"))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      Probe.this.synchronized {
        streams(e.runId) = new StreamRec(System.currentTimeMillis())
      }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        streams.get(e.progress.runId).foreach { r =>
          val d = e.progress.durationMs
          def g(k: String): Long =
            Option(d.get(k)).map(_.longValue).getOrElse(0L)
          if (r.firstProgressMs == 0L)
            r.firstProgressMs = System.currentTimeMillis()
          r.batches += 1
          if (e.progress.numInputRows == 0) r.emptyBatches += 1
          r.planningMs += g("queryPlanning")
          r.addBatchMs += g("addBatch")
          r.walMs += g("walCommit")
          r.triggerMs += g("triggerExecution")
        }
      }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(
        e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private val codegen =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private var codegen0 = (0L, 0.0)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
  }

  /** Forget everything recorded so far: the warm-up is not measured. */
  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); tasksByJob.clear(); phases.clear()
    streams.clear(); spans.clear()
    codegen0 = (codegen.getCount, codegenSumMs)
  }

  private def codegenSumMs: Double =
    codegen.getSnapshot.getMean * codegen.getCount

  /** Codegen compiles and their milliseconds since [[reset]]. The
    * histogram keeps a reservoir, so the milliseconds are its mean times
    * its exact count. */
  def codegenDelta: (Long, Double) =
    (codegen.getCount - codegen0._1, codegenSumMs - codegen0._2)

  def span[T](op: String, name: String, parent: Int = -1)(
      body: Int => T): T = {
    val idx = synchronized {
      spans += Span(op, name, parent, System.nanoTime()); spans.size - 1
    }
    try body(idx)
    finally synchronized { spans(idx).endNs = System.nanoTime() }
  }

  /** Give every job that ran on a thread without the op property to the
    * operation whose window [startMs, endMs] holds the job's start. */
  def attributeByWindow(windows: Seq[(String, Long, Long)]): Unit =
    synchronized {
      jobs.values.filter(_.op.isEmpty).foreach { j =>
        windows.find { case (_, s, e) => j.startMs >= s && j.startMs <= e }
          .foreach { case (op, _, _) => j.op = op }
      }
    }

  def jobsOf(op: String): Seq[Job] = synchronized {
    jobs.values.filter(_.op == op).toSeq
  }

  def tasksOf(ops: Set[String]): TaskAgg = synchronized {
    val a = new TaskAgg
    jobs.values.filter(j => ops(j.op)).foreach { j =>
      tasksByJob.get(j.id).foreach(a += _)
    }
    a
  }

  /** The Spark-side layers over `ops`, per round: planner, codegen,
    * jobs, tasks, the driver's share of each operation's wall time, and
    * streaming progress. `kernelOps` names the operations whose task CPU
    * is the narrow-kernel time. */
  def sparkLayers(ops: Seq[Op], kernelOps: Set[String],
      rounds: Double): Map[String, Double] = {
    val ids = ops.map(_.id).toSet
    val all = synchronized(jobs.values.filter(j => ids(j.op)).toSeq)
    val t = tasksOf(ids)
    val gapMs = ops.map { o =>
      val iv = jobsOf(o.id).map(j => (j.startMs, j.endMs max j.startMs))
      (o.endNs - o.startNs) / 1e6 - unionMs(iv)
    }.sum
    val (cgN, cgMs) = codegenDelta
    val ph = synchronized(phases.toSeq)
    val st = synchronized(streams.values.toSeq)
    Map(
      "catalyst.analysis_ms" -> ph.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> ph.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> ph.map(_.planningMs).sum.toDouble,
      "codegen.compiles" -> cgN.toDouble,
      "codegen.compile_ms" -> cgMs,
      "driver.gap_s" -> gapMs / 1e3,
      "driver.collect_mb" -> t.resultB / 1e6,
      "spark.jobs" -> all.size.toDouble,
      "spark.stages" -> all.map(_.stages).sum.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "executor.task_run_s" -> t.runMs / 1e3,
      "executor.task_cpu_s" -> t.cpuNs / 1e9,
      "executor.gc_s" -> t.gcMs / 1e3,
      "executor.kernel_cpu_s" -> tasksOf(kernelOps).cpuNs / 1e9,
      "executor.input_mb" -> t.inputB / 1e6,
      "executor.shuffle_write_mb" -> t.shWriteB / 1e6,
      "executor.shuffle_read_mb" -> t.shReadB / 1e6,
      "executor.spill_mb" -> t.spillB / 1e6,
      "streaming.batches" -> st.map(_.batches).sum.toDouble,
      "streaming.empty_batches" -> st.map(_.emptyBatches).sum.toDouble,
      "streaming.start_ms" -> st.filter(_.firstProgressMs > 0)
        .map(r => (r.firstProgressMs - r.startMs).toDouble).sum,
      "streaming.planning_ms" -> st.map(_.planningMs).sum.toDouble,
      "streaming.add_batch_ms" -> st.map(_.addBatchMs).sum.toDouble,
      "streaming.wal_commit_ms" -> st.map(_.walMs).sum.toDouble,
      "streaming.trigger_ms" -> st.map(_.triggerMs).sum.toDouble
    ).map { case (k, v) => k -> v / rounds }
  }
}

object Probe {
  /** Local property naming the benchmark operation a job belongs to. */
  val OpKey = "perfbench.op"

  /** `body` inside a span when the run is traced; the span's index (-1
    * untraced) is the parent for nested spans. */
  def around[T](probe: Option[Probe], op: String, name: String,
      parent: Int = -1)(body: Int => T): T = probe match {
    case Some(p) => p.span(op, name, parent)(body)
    case None => body(-1)
  }

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that
    * its child spans cover. */
  def selfTimesNs(spans: Seq[Span]): Seq[Long] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val covered = unionMs(kids.getOrElse(i, Nil).map { k =>
        (spans(k).startNs max s.startNs, spans(k).endNs min s.endNs)
      }.filter { case (a, b) => b > a })
      (s.endNs - s.startNs) - covered
    }
  }
}
