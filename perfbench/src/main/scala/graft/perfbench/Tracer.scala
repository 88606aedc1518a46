package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing, entirely from outside the engine: a SparkListener
  * (jobs, stages, tasks), a QueryExecutionListener (Catalyst phase times
  * from `QueryExecution.tracker`, executed-plan inspection), a
  * StreamingQueryListener (micro-batch progress) and timers around each
  * call into a layer. Jobs are attributed to an operation through the
  * `perfbench.op` local property set before the call (streaming query
  * threads inherit it), plan events through their phase timestamps.
  * Spans stay in memory and are written once, by [[finish]]. */
final class Tracer(spark: SparkSession, cores: Int, work: String) {
  import Main.{OpKey, PhaseKey}

  final case class Span(name: String, startMs: Long, endMs: Long, parent: Int, op: Int)

  final class OpStat(val id: Int, val name: String, val startMs: Long) {
    var endMs = 0L
    var ok = true
    var buildS = 0.0
    var jobs = 0; var buildJobs = 0; var stages = 0; var tasks = 0; var tasksFailed = 0
    var taskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spillMem = 0L; var spillDisk = 0L
    var peakExecMem = 0L; var rowsRead = 0L; var bytesRead = 0L; var bytesWritten = 0L
    var filesWritten = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    val stageSigs = mutable.HashMap[Int, Int]()
    var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
    var exchanges = 0; var codegenNodes = 0; var planNodes = 0
    var batches = 0; var triggerMs = 0L; var addBatchMs = 0L; var walMs = 0L
    var latestOffsetMs = 0L; var queryStartMs = 0L; var streamQueries = 0
    var stateRows = 0L; var stateMem = 0L; var droppedLate = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val ops = mutable.ArrayBuffer[OpStat]()
  private val stageOp = mutable.HashMap[Int, OpStat]()
  private val jobStart = mutable.HashMap[Int, (OpStat, Long)]()
  private val streamOp = mutable.HashMap[java.util.UUID, OpStat]()
  private case class PlanRec(startMs: Long, analysis: Long, opt: Long, plan: Long,
      exchanges: Int, codegen: Int, nodes: Int)
  private val plans = mutable.ArrayBuffer[PlanRec]()
  @volatile private var current: OpStat = _
  @volatile private var events = 0L
  private var installed = false
  private val lock = new Object

  private def opOf(props: java.util.Properties): Option[OpStat] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .flatMap(id => lock.synchronized(ops.lift(id.toInt)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      events += 1
      opOf(e.properties).foreach { o =>
        o.jobs += 1
        if (Option(e.properties.getProperty(PhaseKey)).contains("build")) o.buildJobs += 1
        jobStart(e.jobId) = (o, e.time)
        e.stageInfos.foreach(s => stageOp(s.stageId) = o)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      events += 1
      jobStart.remove(e.jobId).foreach { case (o, t) =>
        o.jobSpans += ((t, e.time))
        spans += Span(s"job ${e.jobId}", t, e.time, -1, o.id)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      events += 1
      val s = e.stageInfo
      stageOp.get(s.stageId).foreach { o =>
        o.stages += 1
        if (s.rddInfos.nonEmpty) {
          val sig = s.rddInfos.map(_.id).max
          o.stageSigs(sig) = o.stageSigs.getOrElse(sig, 0) + 1
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      events += 1
      stageOp.get(e.stageId).foreach { o =>
        o.tasks += 1
        if (e.reason != Success) o.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          o.taskRunMs += m.executorRunTime
          o.taskCpuNs += m.executorCpuTime
          o.taskGcMs += m.jvmGCTime
          o.shuffleW += m.shuffleWriteMetrics.bytesWritten
          o.shuffleR += m.shuffleReadMetrics.totalBytesRead
          o.spillMem += m.memoryBytesSpilled
          o.spillDisk += m.diskBytesSpilled
          o.peakExecMem = math.max(o.peakExecMem, m.peakExecutionMemory)
          o.rowsRead += m.inputMetrics.recordsRead
          o.bytesRead += m.inputMetrics.bytesRead
          o.bytesWritten += m.outputMetrics.bytesWritten
        }
        o.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      }
    }
  }

  /** Physical-plan inspection: Exchange count and the share of operator
    * nodes compiled inside a whole-stage-codegen region. */
  private def inspect(plan: SparkPlan): (Int, Int, Int) = {
    var ex = 0; var cg = 0; var nodes = 0
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, false)
      case r: ReusedExchangeExec => ex += 1; nodes += 1
      case w: WholeStageCodegenExec => walk(w.child, true)
      case i: InputAdapter => walk(i.child, false)
      case other =>
        other match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => ex += 1
          case _ => ()
        }
        nodes += 1
        if (inCodegen) cg += 1
        other.children.foreach(walk(_, inCodegen))
        other.subqueries.foreach(walk(_, false))
    }
    walk(plan, false)
    (ex, cg, nodes)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    val (ex, cg, n) = scala.util.Try(inspect(qe.executedPlan)).getOrElse((0, 0, 0))
    lock.synchronized {
      events += 1
      plans += PlanRec(start, dur("analysis"), dur("optimization"), dur("planning"), ex, cg, n)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val o = current
      if (o != null) lock.synchronized {
        streamOp(e.id) = o
        o.streamQueries += 1
        o.queryStartMs += System.currentTimeMillis() - lastSpanStart
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        events += 1
        val p = e.progress
        streamOp.get(p.id).foreach { o =>
          val d = p.durationMs.asScala
          def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
          if (p.numInputRows > 0 || ms("addBatch") > 0) o.batches += 1
          o.triggerMs += ms("triggerExecution")
          o.addBatchMs += ms("addBatch")
          o.walMs += ms("walCommit") + ms("commitOffsets")
          o.latestOffsetMs += ms("latestOffset")
          p.stateOperators.foreach { s =>
            o.stateRows = math.max(o.stateRows, s.numRowsTotal)
            o.stateMem = math.max(o.stateMem, s.memoryUsedBytes)
            o.droppedLate += s.numRowsDroppedByWatermark
          }
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  /** Wait for the listener buses to drain (no event for 200 ms), then
    * remove the listeners: an untraced pass runs with none installed. */
  def uninstall(): Unit = if (installed) {
    var last = -1L
    var quiet = 0
    while (quiet < 2) { Thread.sleep(100); if (events == last) quiet += 1 else { quiet = 0; last = events } }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  @volatile private var lastSpanStart = 0L
  private var opSpan = -1

  def beginOp(name: String): Unit = if (installed) {
    val o = lock.synchronized {
      val o = new OpStat(ops.size, name, System.currentTimeMillis())
      ops += o
      spans += Span(name, o.startMs, 0L, -1, o.id)
      opSpan = spans.size - 1
      o
    }
    current = o
    spark.sparkContext.setLocalProperty(OpKey, o.id.toString)
  }

  /** Time one call into a layer as a child span of the current op. */
  def span[T](name: String)(body: => T): T = {
    val o = current
    if (!installed || o == null) return body
    val s = System.currentTimeMillis()
    lastSpanStart = s
    try body finally {
      val e = System.currentTimeMillis()
      lock.synchronized(spans += Span(name, s, e, opSpan, o.id))
      if (name == "build") o.buildS += (e - s) / 1000.0
    }
  }

  def endOp(ok: Boolean, outDir: Option[String]): Unit = if (installed) {
    val o = current
    o.endMs = System.currentTimeMillis()
    o.ok = ok
    outDir.foreach { d =>
      o.filesWritten = Option(new java.io.File(d)).toSeq.flatMap(countFiles).size
    }
    lock.synchronized(spans(opSpan) = spans(opSpan).copy(endMs = o.endMs))
    spark.sparkContext.setLocalProperty(OpKey, null)
    current = null
  }

  private def countFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(countFiles)
    else if (f.getName.startsWith("part-")) Seq(f) else Nil

  /** Length of [s, e] not covered by any of the intervals. */
  private def uncovered(s: Long, e: Long, iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var cur = s
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    (e - s) - covered
  }

  /** Remove the listeners once drained, attribute plan records, write
    * the span/per-op artifact and return the per-layer metrics
    * (per-operation means over the traced operations unless stated
    * otherwise). */
  def finish(inputBytes: Long): Map[String, Any] = {
    uninstall()
    lock.synchronized {
      plans.foreach { p =>
        ops.find(o => p.startMs >= o.startMs && p.startMs <= o.endMs).foreach { o =>
          o.analysisMs += p.analysis; o.optimizationMs += p.opt; o.planningMs += p.plan
          o.exchanges += p.exchanges; o.codegenNodes += p.codegen; o.planNodes += p.nodes
        }
      }
      val done = ops.filter(_.endMs > 0).toSeq
      def wallS(o: OpStat) = (o.endMs - o.startMs) / 1000.0
      def gapS(o: OpStat) = uncovered(o.startMs, o.endMs, o.jobSpans.toSeq) / 1000.0
      def skew(o: OpStat): Double = if (o.stageTasks.isEmpty) 1.0 else {
        val longest = o.stageTasks.values.maxBy(_.sum)
        val med = Main.quantile(longest.map(_.toDouble).toSeq, 0.5)
        if (med <= 0) 1.0 else longest.max / med
      }
      val rows = done.map { o =>
        mutable.LinkedHashMap[String, Any](
          "op" -> o.name, "ok" -> o.ok, "wall_s" -> wallS(o), "build_s" -> o.buildS,
          "build_jobs" -> o.buildJobs, "jobs" -> o.jobs, "stages" -> o.stages,
          "tasks" -> o.tasks, "tasks_failed" -> o.tasksFailed,
          "driver_gap_s" -> gapS(o), "task_run_s" -> o.taskRunMs / 1000.0,
          "task_cpu_s" -> o.taskCpuNs / 1e9, "task_gc_s" -> o.taskGcMs / 1000.0,
          "analysis_s" -> o.analysisMs / 1000.0, "optimization_s" -> o.optimizationMs / 1000.0,
          "planning_s" -> o.planningMs / 1000.0, "exchanges" -> o.exchanges,
          "codegen_ratio" -> (if (o.planNodes == 0) 0.0 else o.codegenNodes.toDouble / o.planNodes),
          "shuffle_write_bytes" -> o.shuffleW, "shuffle_read_bytes" -> o.shuffleR,
          "spill_mem_bytes" -> o.spillMem, "spill_disk_bytes" -> o.spillDisk,
          "peak_exec_mem_bytes" -> o.peakExecMem, "task_skew" -> skew(o),
          "stages_recomputed" -> o.stageSigs.values.map(_ - 1).sum,
          "rows_read" -> o.rowsRead, "bytes_read" -> o.bytesRead,
          "bytes_written" -> o.bytesWritten, "files_written" -> o.filesWritten,
          "stream_batches" -> o.batches, "stream_queries" -> o.streamQueries)
      }
      Json.write(s"$work/trace.json", Map("spans" -> spans.map(s => Map(
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "op" -> s.op)), "ops" -> rows))
      val n = math.max(1, done.size).toDouble
      def mean(f: OpStat => Double): Double = done.map(f).sum / n
      val wall = done.map(wallS).sum
      val sq = math.max(1, done.map(_.streamQueries).sum).toDouble
      Map(
        "operators.build_s" -> mean(_.buildS),
        "operators.build_jobs" -> mean(_.buildJobs.toDouble),
        "plan.analysis_s" -> mean(_.analysisMs / 1000.0),
        "plan.optimization_s" -> mean(_.optimizationMs / 1000.0),
        "plan.planning_s" -> mean(_.planningMs / 1000.0),
        "plan.exchanges" -> mean(_.exchanges.toDouble),
        "plan.codegen_ratio" -> {
          val nodes = done.map(_.planNodes).sum
          if (nodes == 0) 0.0 else done.map(_.codegenNodes).sum.toDouble / nodes
        },
        "exec.jobs" -> mean(_.jobs.toDouble),
        "exec.stages" -> mean(_.stages.toDouble),
        "exec.tasks" -> mean(_.tasks.toDouble),
        "exec.tasks_failed" -> done.map(_.tasksFailed).sum.toDouble,
        "exec.driver_gap_s" -> mean(gapS),
        "exec.core_busy_ratio" -> (if (wall == 0) 0.0 else done.map(_.taskRunMs).sum / 1000.0 / (wall * cores)),
        "exec.task_run_s" -> mean(_.taskRunMs / 1000.0),
        "exec.task_cpu_s" -> mean(_.taskCpuNs / 1e9),
        "exec.task_gc_s" -> mean(_.taskGcMs / 1000.0),
        "exec.shuffle_write_bytes" -> mean(_.shuffleW.toDouble),
        "exec.shuffle_read_bytes" -> mean(_.shuffleR.toDouble),
        "exec.task_skew" -> Main.quantile(done.map(skew), 0.5),
        "exec.spill_mem_bytes" -> mean(_.spillMem.toDouble),
        "exec.spill_disk_bytes" -> mean(_.spillDisk.toDouble),
        "exec.peak_exec_mem_bytes" -> done.map(_.peakExecMem).foldLeft(0L)(_ max _).toDouble,
        "exec.stages_recomputed" -> mean(_.stageSigs.values.map(_ - 1).sum.toDouble),
        "scan.rows_read" -> mean(_.rowsRead.toDouble),
        "scan.bytes_read" -> mean(_.bytesRead.toDouble),
        "publish.bytes_written" -> mean(_.bytesWritten.toDouble),
        "publish.files_written" -> mean(_.filesWritten.toDouble),
        "publish.write_amp" -> (if (inputBytes == 0) 0.0 else mean(_.bytesWritten.toDouble) / inputBytes),
        "stream.batches" -> done.map(_.batches).sum.toDouble / n,
        "stream.trigger_ms" -> done.map(_.triggerMs).sum / sq,
        "stream.add_batch_ms" -> done.map(_.addBatchMs).sum / sq,
        "stream.wal_commit_ms" -> done.map(_.walMs).sum / sq,
        "stream.latest_offset_ms" -> done.map(_.latestOffsetMs).sum / sq,
        "stream.query_start_ms" -> done.map(_.queryStartMs).sum / sq,
        "stream.state_rows" -> done.map(_.stateRows).foldLeft(0L)(_ max _).toDouble,
        "stream.state_mem_bytes" -> done.map(_.stateMem).foldLeft(0L)(_ max _).toDouble,
        "stream.rows_dropped_late" -> done.map(_.droppedLate).sum.toDouble)
    }
  }
}

object Tracer {
  /** `body` as a child span of the current op when tracing, else as is. */
  def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))
}
