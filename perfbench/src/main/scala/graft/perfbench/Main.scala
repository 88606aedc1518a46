package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.streaming.EventsPipeline

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * launches this main, checks the outputs it leaves behind and prints
  * the summary line; this side only drives graft's public entry points
  * and measures.
  *
  * Phases, in order:
  *  1. set-up: `GraftSession.create` + one cold pass over the workload's
  *     operations (its end is reported so `setup_s` spans process start
  *     to here);
  *  2. warm-up: a fixed number of passes (open loop: drops);
  *  3. the timed region (closed loop: whole passes until `--seconds`
  *     elapsed; open loop: the drops the schedule lands in `--seconds`);
  *  4. untimed check pass: every query op's output is written to
  *     parquet next to the oracle SQL, for the DuckDB compare.
  * With `--trace 1` the timed region alternates untraced and traced
  * units (closed loop: passes; open loop: ticks), the benchmark's
  * listeners installed only for the traced ones, so the traced run
  * states its own overhead without warm-up drift in it. */
object Main {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class Sample(op: String, latencyS: Double, ok: Boolean, rows: Long,
      traced: Boolean = false)

  final class Args(args: Array[String]) {
    private val kv: Map[String, String] =
      args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def dbl(k: String): Double = apply(k).toDouble
  }

  /** Retained heap (MB) after the timed region: a full collection, a
    * pause for Spark's ContextCleaner to drop the blocks of unreachable
    * RDDs, a second collection, then the heap in use. Data kept across
    * operations (pins, caches, registries) shows; garbage does not. It
    * runs once, after timing, so it does not reshape the heap the
    * timed operations run in. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time (ns) by Linux thread id of the threads whose name passes
    * `keep`, read from /proc; empty where /proc is not available. */
  def threadCpuNs(keep: String => Boolean): Map[String, Long] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
    val tick = 1e9 / 100 // USER_HZ
    tasks.flatMap { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm"))).trim
        if (!keep(comm)) None else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          Some(t.getName -> ((f(11).toLong + f(12).toLong) * tick).toLong)
        }
      } catch { case _: java.io.IOException => None }
    }.toMap
  }
  val isJit: String => Boolean = _.contains("CompilerThre")
  val isGc: String => Boolean = n => n.startsWith("GC Thread") || n.startsWith("G1 ")
  def cpuSince(keep: String => Boolean, t0: Map[String, Long]): Double =
    threadCpuNs(keep).map { case (t, ns) => ns - t0.getOrElse(t, 0L) }.sum / 1e9

  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      // linear interpolation between closest ranks (numpy's default)
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The workload's latency: the geometric mean over its operations of
    * each operation's median latency, so that every operation moves it
    * by its relative change, whatever its share of the pass. */
  def opLatency(samples: Seq[Sample]): Double = {
    val p50 = samples.filter(_.ok).groupBy(_.op).values.map(v => quantile(v.map(_.latencyS), 0.5))
    if (p50.isEmpty) Double.NaN else math.exp(p50.map(math.log).sum / p50.size)
  }

  /** Warm-up units (passes or drops) before timing. Pass times do not
    * level off within a run's budget (the JIT keeps compiling Spark's
    * generated code), so a fixed count starts the timed region at the
    * same point of that curve on every run, instead of wherever a time
    * budget or a noisy agreement test would put it. */
  val WarmUnits = 4

  def warmUp(unit: () => Double): Unit =
    (1 to WarmUnits).foreach { k =>
      val t = unit()
      System.err.println(f"[perfbench] warm unit $k: $t%.3f s, jit total ${jitS()}%.1f s")
    }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val workload = a("workload")
    val dir = a("data")
    val work = a("work")
    val seconds = a.dbl("seconds")
    val trace = a.int("trace") == 1
    val launchMs = a.long("launch-ms")
    val cpus = a("cpus")
    val tableRows: Map[String, Long] = a.get("rows").toSeq
      .flatMap(_.split(',')).filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split('='); k -> v.toLong }.toMap

    val t0 = System.nanoTime()
    val spark = GraftSession.create(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark, cpus.toInt, work)) else None
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "session_start_s" -> sessionS)

    try {
      val loop = a("loop") match {
        case "open" => new OpenLoop(spark, a, tracer)
        case "closed" =>
          new ClosedLoop(spark, dir, work, Workloads.ops(workload), tableRows, tracer)
      }
      loop.cold()
      result("setup_s") = (System.currentTimeMillis() - launchMs) / 1000.0
      result("jvm_jit_s") = jitS()
      result("jvm_gc_s") = gcMs() / 1000.0
      val phases = mutable.LinkedHashMap[String, Double]()
      var mark = System.nanoTime()
      def phase(name: String): Unit = {
        val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
      }
      result("phase_s") = phases
      loop.warm()
      phase("warm")

      val limits: Map[String, Double] = a("latency-limits").split(',')
        .map { kv => val Array(k, v) = kv.split('='); k -> v.toDouble }.toMap
      val cpu0 = cpuNs()
      val jitCpu0 = threadCpuNs(isJit)
      val gcCpu0 = threadCpuNs(isGc)
      val jit0 = jitS()
      val (samples, wallS) = loop.timed(seconds, alternateTracing = trace)
      // the JVM's own JIT-compiler and GC threads are reported apart
      // (jvm.jit_cpu_timed_s, jvm.gc_cpu_timed_s), not as the ops' work
      val jitCpuS = cpuSince(isJit, jitCpu0)
      val gcCpuS = cpuSince(isGc, gcCpu0)
      val cpuS = (cpuNs() - cpu0) / 1e9 - jitCpuS - gcCpuS
      val heapMb = retainedHeapMb()
      val jitTimedS = jitS() - jit0
      val (tracedS, untracedS) = samples.partition(_.traced)
      result("timed") = Map(
        "samples" -> samples.size,
        "failed" -> samples.count(!_.ok),
        "failed_ops" -> samples.filterNot(_.ok).map(_.op).distinct,
        "op_counts" -> samples.groupBy(_.op).map { case (k, v) => k -> v.size },
        "latency_p50_s" -> opLatency(untracedS),
        "rows_per_s" -> samples.filter(_.ok).map(_.rows).sum / wallS,
        "cpu_s_per_op" -> cpuS / math.max(1, samples.size),
        "peak_heap_mb" -> heapMb,
        "on_time_ratio" -> samples.count(s => s.ok && s.latencyS <= limits(s.op)).toDouble /
          math.max(1, samples.size),
        "wall_s" -> wallS,
        "jit_s" -> jitTimedS,
        "jit_cpu_s" -> jitCpuS,
        "gc_cpu_s" -> gcCpuS,
        "traced_p50_s" -> opLatency(tracedS),
        "per_op_p50_s" -> untracedS.filter(_.ok).groupBy(_.op)
          .map { case (k, v) => k -> quantile(v.map(_.latencyS), 0.5) })
      phase("timed")

      tracer.foreach { t =>
        result("layers") = t.finish(loop.inputBytes) ++
          Micro.run(spark, dir, a.long("seed"))
      }
      phase("layers")
      result("checks") = loop.checkPass(s"$work/check")
      phase("check")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("error") = e.toString.take(500)
    } finally {
      Json.write(s"$work/result.json", result)
      spark.stop()
    }
  }
}

/** A workload's driving loop. */
trait Loop {
  def cold(): Unit
  def warm(): Unit
  /** The timed samples and the timed wall; with `alternateTracing`,
    * every second unit (pass or tick) runs traced. */
  def timed(seconds: Double, alternateTracing: Boolean): (Seq[Main.Sample], Double)
  def inputBytes: Long
  def checkPass(checkDir: String): Map[String, Any]
}

/** Closed loop, one client: whole passes over the op list. */
final class ClosedLoop(spark: SparkSession, dir: String, work: String,
    ops: Seq[Op], tableRows: Map[String, Long], tracer: Option[Tracer]) extends Loop {
  import Main._
  private val outDir = s"$work/out"
  private val registry = mutable.LinkedHashMap[String, Array[Row]]()
  private val errors = mutable.LinkedHashMap[String, String]()
  def inputBytes: Long = ops.map(_.table).distinct.map { t =>
    Files.size(Paths.get(s"$dir/$t.parquet"))
  }.sum

  private def runOp(op: Op): Sample = {
    val sc = spark.sparkContext
    tracer.foreach(_.beginOp(op.name))
    val t = System.nanoTime()
    val ok = try {
      sc.setLocalProperty(PhaseKey, "build")
      val df = Tracer.span(tracer, "build")(op.build(spark, dir, outDir))
      sc.setLocalProperty(PhaseKey, "sink")
      val rows = Tracer.span(tracer, "sink")(op.sink(df))
      if (op.kind == "publish") registry(op.name) = rows
      true
    } catch {
      case e: Throwable =>
        errors(op.name) = e.toString.take(300)
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        false
    }
    val lat = (System.nanoTime() - t) / 1e9
    sc.setLocalProperty(PhaseKey, null)
    tracer.foreach(_.endOp(ok, if (op.kind == "publish") Some(s"$outDir/${op.name}") else None))
    Sample(op.name, lat, ok, tableRows.getOrElse(op.table, 0L))
  }

  private def pass(): (Seq[Sample], Double) = {
    val t = System.nanoTime()
    val s = ops.map(runOp)
    (s, (System.nanoTime() - t) / 1e9)
  }

  def cold(): Unit = pass()

  def warm(): Unit = warmUp(() => pass()._2)

  /** Whole passes until `seconds` of pass time elapsed (the listener
    * drain after a traced pass is not pass time); two at least when
    * tracing. */
  def timed(seconds: Double, alternateTracing: Boolean): (Seq[Sample], Double) = {
    val out = mutable.ArrayBuffer[Sample]()
    var wall = 0.0
    var n = 0
    while (out.isEmpty || wall < seconds || (alternateTracing && n < 2)) {
      val traced = alternateTracing && n % 2 == 1
      if (traced) tracer.foreach(_.install())
      val (s, t) = pass()
      out ++= s.map(_.copy(traced = traced))
      wall += t
      if (traced) tracer.foreach(_.uninstall())
      n += 1
    }
    (out.toSeq, wall)
  }

  def checkPass(checkDir: String): Map[String, Any] = {
    val written = mutable.ArrayBuffer[String]()
    ops.filter(_.kind == "query").foreach { op =>
      try {
        op.build(spark, dir, outDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/${op.name}")
        written += op.name
      } catch { case e: Throwable => errors(op.name) = e.toString.take(300) }
    }
    // the IVF/PQ/LSH oracles embed constants fitted on the corpus tables
    if (Seq("documents", "embeddings").forall(t => new java.io.File(s"$dir/$t.parquet").exists))
      SparkEntry.setOracleContext(spark, dir)
    Map(
      "queries" -> written.toSeq,
      "oracle_sql" -> SparkEntry.oracleSql,
      "registry" -> registry.map { case (k, rows) =>
        k -> rows.map(r => r.schema.fieldNames.zip(r.toSeq).toMap) },
      "errors" -> errors)
  }
}

/** Open loop at a fixed drop rate (`cron_ingest`). A separate lander
  * process renames pre-written drop files into the drop directory on
  * the schedule `due(k) = t0 + (k - 1) * interval`; each tick drains
  * everything landed through `EventsPipeline.streamPublish` (dynamic
  * day-partition overwrite) and then runs `EventsPipeline.runOnce` (the
  * watermarked hourly rollup). A tick fires `TickDelayMs` after the
  * earliest unpublished drop's due time (the margin keeps the tick from
  * racing the lander's rename), or as soon as the previous tick ends;
  * a drop's latency runs from its due time. */
final class OpenLoop(spark: SparkSession, a: Main.Args, tracer: Option[Tracer])
    extends Loop {
  import Main._
  private val work = a("work")
  private val dropDir = s"$work/drops"
  private val published = s"$work/out/events_live"
  private val rollup = s"$work/out/rollup"
  private val intervalMs = a.long("interval-ms")
  private val dropRows: IndexedSeq[Long] = a("drop-rows").split(',').map(_.toLong).toIndexedSeq
  private val dropBytes: IndexedSeq[Long] = a("drop-bytes").split(',').map(_.toLong).toIndexedSeq
  private val TickDelayMs = 200L
  private var t0Ms = 0L
  private var next = 1 // first drop not yet accounted for
  private var ticks = 0
  private val errors = mutable.LinkedHashMap[String, String]()
  def inputBytes: Long = dropBytes.sum
  private def due(k: Int): Long = t0Ms + (k - 1) * intervalMs
  private def day(k: Int): String = f"2024-01-${k + 1}%02d"

  private def publishedDays(): Set[String] = {
    val f = new java.io.File(published)
    Option(f.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("p_day=")).map(_.stripPrefix("p_day=")).toSet
  }

  /** One scheduled run: drain + publish, then the stateful rollup. */
  private def tick(): Boolean = {
    ticks += 1
    tracer.foreach(_.beginOp("tick"))
    val ok = try {
      def publish(): Unit = EventsPipeline.streamPublish(spark, dropDir,
        s"$work/ckpt/publish", s"$work/out", "events_live").awaitTermination()
      def roll(): Unit = EventsPipeline.runOnce(spark, dropDir,
        s"$work/ckpt/rollup", rollup).awaitTermination()
      Tracer.span(tracer, "stream_publish")(publish())
      Tracer.span(tracer, "run_once")(roll())
      true
    } catch {
      case e: Throwable =>
        errors(s"tick$ticks") = e.toString.take(300)
        System.err.println(s"[perfbench] tick $ticks failed: $e")
        false
    }
    tracer.foreach(_.endOp(ok, Some(published)))
    ok
  }

  /** Cold pass: drop 0 is landed before the process starts. Then the
    * schedule is handed to the lander through the ready file. */
  def cold(): Unit = {
    tick()
    t0Ms = System.currentTimeMillis() + 300
    val tmp = Paths.get(s"$work/ready.tmp")
    Files.write(tmp, s"$t0Ms $intervalMs".getBytes)
    Files.move(tmp, Paths.get(s"$work/ready"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Drive ticks until drop `last` is published (or the deadline);
    * returns one sample per drop in [next, last]. With
    * `alternateTracing`, every second tick runs traced. */
  private def drive(last: Int, alternateTracing: Boolean): Seq[Sample] = {
    val deadline = due(last) + 60000
    val out = mutable.ArrayBuffer[Sample]()
    var seen = publishedDays()
    var n = 0
    while (next <= last && System.currentTimeMillis() < deadline) {
      val wait = due(next) + TickDelayMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val traced = alternateTracing && n % 2 == 1
      if (traced) tracer.foreach(_.install())
      val start = System.currentTimeMillis()
      val ok = tick()
      val end = System.currentTimeMillis()
      System.err.println(s"[perfbench] tick $ticks: ${end - start} ms, starting ${start - due(next)} ms after drop $next was due")
      if (traced) tracer.foreach(_.uninstall())
      n += 1
      val now = publishedDays()
      (next to last).foreach { k =>
        if (!seen(day(k)) && now(day(k)))
          out += Sample("drop", (end - due(k)) / 1000.0, ok, dropRows(k), traced)
      }
      seen = now
      while (next <= last && seen(day(next))) next += 1
    }
    // drops never published count as failed
    (next to last).filter(k => !seen(day(k))).foreach { k =>
      out += Sample("drop", (System.currentTimeMillis() - due(k)) / 1000.0, ok = false, 0L)
    }
    next = math.max(next, last + 1)
    out.toSeq
  }

  /** Warm-up drops, one at a time. */
  def warm(): Unit =
    warmUp(() => drive(next, alternateTracing = false).map(_.latencyS).maxOption.getOrElse(0.0))

  /** The timed drops: as many as the schedule lands in `seconds`, two
    * at least when tracing. */
  def timed(seconds: Double, alternateTracing: Boolean): (Seq[Sample], Double) = {
    val first = next
    val n = math.max(if (alternateTracing) 2 else 1, math.round(seconds * 1000 / intervalMs).toInt)
    val last = math.min(dropRows.size - 1, first + n - 1)
    val start = math.max(System.currentTimeMillis(), due(first))
    val s = drive(last, alternateTracing)
    (s, (System.currentTimeMillis() - start) / 1000.0)
  }

  def checkPass(checkDir: String): Map[String, Any] = Map(
    "published" -> published, "rollup" -> rollup, "ticks" -> ticks,
    "last_drop" -> (next - 1), "errors" -> errors)
}
