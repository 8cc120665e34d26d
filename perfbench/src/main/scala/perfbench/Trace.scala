package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation the client waited on: a sweep query or an admin request.
  * Times are `System.nanoTime`; `startMs` anchors the op on the wall clock
  * that Spark's listener events and phase summaries use. `buildEnd` is the
  * moment a sweep query's DataFrame was built (the op start for requests,
  * which have no client-side build). `stolen` is the share of CPU time the
  * hypervisor took from this machine while the op ran ([[Steal]]). */
final case class Op(id: Int, kind: String, name: String, startMs: Long,
    start: Long, buildEnd: Long, end: Long, compileNs: Long, ok: Boolean,
    stolen: Double) {
  def wall: Double = (end - start) / 1e9
  def toMs(ns: Long): Long = startMs + (ns - start) / 1000000
}

/** Steal time from `/proc/stat`: CPU time a virtual machine's CPUs were
  * ready to run while the hypervisor ran another guest. It stretches wall
  * time without any work in the program, so each traced op record carries
  * its share as stall evidence. Reads as no steal where `/proc/stat` is
  * absent. */
object Steal {
  /** (steal, total) jiffies summed over all CPUs since boot. */
  def sample(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length == 8) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def share(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else (to._1 - from._1).toDouble / total
  }
}

/** A traced interval. Spans of one op share `op`; `parent` names the span
  * that caused it (-1 for the op's root). Spans whose layer reports only
  * a duration are placed where that layer runs: rule time at the end of
  * its optimization phase, compile time from the end of planning. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def dur: Double = (end - start) / 1e9
}

/** Raw Spark events, collected on the listener bus and attributed to ops
  * after the bus drains. */
final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int])
final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, inRows: Long, inBytes: Long, shufRead: Long, shufWrite: Long,
    spill: Long, outBytes: Long)
final case class QeRec(startMs: Long, phases: Map[String, (Long, Long)],
    ruleNs: Long, ruleRuns: Long, routed: Boolean)

/** Listeners for the traced run: a `SparkListener` for jobs and task
  * metrics and a `QueryExecutionListener` for Catalyst phases and the cube
  * rewrite rule's share of optimization. Nothing is read until [[drain]]. */
final class Tracer(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = JobRec(e.jobId, e.time, e.time, e.stageIds)
      jobById.put(e.jobId, j); jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val rule = t.rules.collect {
      case (n, s) if n.endsWith(Tracer.RewriteRule) => s }
    if (phases.nonEmpty)
      qes.add(QeRec(phases.values.map(_._1).min, phases,
        rule.map(_.totalTimeNs).sum, rule.map(_.numInvocations).sum,
        rule.exists(_.numEffectiveInvocations > 0)))
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Blocks until every posted event has reached the listeners, then
    * detaches them. */
  def drain(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Tracer {
  val RewriteRule = "CubeRewriteRule"
  def compileNs: Long = CodeGenerator.compileTime
  def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Per-op layer split derived from the spans, and the run's per-layer
  * metrics. Jobs and query executions are attributed to the op whose
  * [start, end] window holds their start: one client runs ops strictly
  * one after another, so windows never overlap. Concurrent spans (jobs of
  * one query, task-thread compiles inside a job) are counted once: a
  * span's self time is its length minus the union of its children. */
final class Attribution(ops: Seq[Op], tr: Tracer, cores: Int) {
  private val opsByStart = ops.sortBy(_.startMs).toArray
  private def opAt(ms: Long): Option[Op] = {
    // last op starting at or before ms, if ms falls inside its window
    var lo = 0; var hi = opsByStart.length - 1; var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (opsByStart(mid).startMs <= ms) { best = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (best < 0) None
    else {
      val o = opsByStart(best)
      val endMs = o.toMs(o.end)
      if (ms <= endMs + 1) Some(o) else None
    }
  }

  private val jobsOf: Map[Int, Seq[JobRec]] = tr.jobs.asScala.toSeq
    .flatMap(j => opAt(j.start).map(_.id -> j)).groupMap(_._1)(_._2)
  private val stageOp: Map[Int, Int] =
    jobsOf.toSeq.flatMap { case (op, js) => js.flatMap(_.stages.map(_ -> op)) }
      .toMap
  private val tasksOf: Map[Int, Seq[TaskRec]] = tr.tasks.asScala.toSeq
    .flatMap(t => stageOp.get(t.stage).map(_ -> t)).groupMap(_._1)(_._2)
  private val qesOf: Map[Int, Seq[QeRec]] = tr.qes.asScala.toSeq
    .flatMap(q => opAt(q.startMs).map(_.id -> q)).groupMap(_._1)(_._2)

  val spans = mutable.ArrayBuffer.empty[Span]
  private def msToNs(op: Op, ms: Long): Long = op.start + (ms - op.startMs) * 1000000

  /** Per-op split, seconds: self time by layer plus counters. */
  val split: Map[Int, Map[String, Double]] = ops.map { op =>
    val mine = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, s: Long, e: Long): Int = {
      mine += Span(spans.size + mine.size + 1, parent, op.id, name, s, math.max(s, e))
      mine.last.id
    }
    val root = span(-1, "op", op.start, op.end)
    val build = if (op.buildEnd > op.start)
      span(root, "entry.build", op.start, op.buildEnd) else root
    val exec = if (op.buildEnd > op.start)
      span(root, "execute", op.buildEnd, op.end) else root
    def parentAt(ns: Long) = if (ns < op.buildEnd) build else exec
    // clipped to the op: phase and job times have millisecond resolution
    def clip(ns: Long) = math.min(op.end, math.max(op.start, ns))
    val qs = qesOf.getOrElse(op.id, Nil)
    qs.foreach { q =>
      q.phases.foreach { case (ph, (s, e)) =>
        val (a, b) = (clip(msToNs(op, s)), clip(msToNs(op, e)))
        val sid = span(parentAt(a), s"catalyst.$ph", a, b)
        if (ph == "optimization" && q.ruleNs > 0)
          span(sid, "cube.rewrite.rule", math.max(a, b - q.ruleNs), b)
      }
    }
    // Spark reports compile time as a total over all threads. The driver
    // compiles a plan's classes once planning is done and before its first
    // job, so the span starts there; task-thread compiles overlap job
    // spans, and the union below counts that time once.
    if (op.compileNs > 0) {
      val planned = qs.flatMap(_.phases.get("planning")).map(p => clip(msToNs(op, p._2)))
        .filter(_ >= op.buildEnd).maxOption.getOrElse(op.buildEnd)
      val s = math.max(op.buildEnd, math.min(planned, op.end - op.compileNs))
      span(exec, "codegen.compile", s, math.min(op.end, s + op.compileNs))
    }
    val js = jobsOf.getOrElse(op.id, Nil)
    js.foreach { j =>
      val (a, b) = (clip(msToNs(op, j.start)), clip(msToNs(op, j.end)))
      span(parentAt(a), "exec.job", a, b)
    }
    spans ++= mine
    op.id -> selfTimes(op, mine.toSeq, js)
  }.toMap

  private def selfTimes(op: Op, mine: Seq[Span],
      js: Seq[JobRec]): Map[String, Double] = {
    val children = mine.groupBy(_.parent)
    def self(s: Span): Double = s.dur - Attribution.covered(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
    def layer(name: String): Double =
      mine.filter(_.name == name).map(self).sum
    val ts = tasksOf.getOrElse(op.id, Nil)
    val qs = qesOf.getOrElse(op.id, Nil)
    val buildJobs = js.count(j => msToNs(op, j.start) < op.buildEnd)
    val jobSpans = mine.filter(_.name == "exec.job").map(j => (j.start, j.end))
    val jobWall = Attribution.covered(jobSpans, op.start, op.end)
    val runS = ts.map(_.runMs).sum / 1e3
    val skew = ts.groupBy(_.stage).values.filter(_.size > 1).map { st =>
      val d = st.map(_.durMs.toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }.maxOption.getOrElse(1.0)
    val mb = 1024.0 * 1024.0
    Map(
      "wall_s" -> op.wall,
      "host.steal_share" -> op.stolen,
      "entry.build_s" -> layer("entry.build"),
      "entry.build_jobs" -> buildJobs.toDouble,
      "catalyst.analysis_s" -> layer("catalyst.analysis"),
      "catalyst.optimization_s" -> layer("catalyst.optimization"),
      "catalyst.planning_s" -> layer("catalyst.planning"),
      "cube.rewrite.rule_s" -> layer("cube.rewrite.rule"),
      "cube.rewrite.invocations" -> qs.map(_.ruleRuns).sum.toDouble,
      "cube.rewrite.routed_plans" -> qs.count(_.routed).toDouble,
      "codegen.compile_s" -> op.compileNs / 1e9,
      "exec.jobs" -> js.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.job_wall_s" -> jobWall,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.slot_util" -> (if (jobWall > 0) runS / (jobWall * cores) else 0.0),
      "exec.task_skew" -> skew,
      "exec.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "exec.input_mb" -> ts.map(_.inBytes).sum / mb,
      "exec.shuffle_read_mb" -> ts.map(_.shufRead).sum / mb,
      "exec.shuffle_write_mb" -> ts.map(_.shufWrite).sum / mb,
      "exec.spill_mb" -> ts.map(_.spill).sum / mb,
      "exec.output_mb" -> ts.map(_.outBytes).sum / mb,
      "driver.self_s" -> (layer("op") + layer("execute")),
      "cube.admin.self_s" -> (op.wall - jobWall))
  }
}

object Attribution {
  /** Seconds of [from, to] covered by the union of the intervals (ns). */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var total = 0L
    var reach = from
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total / 1e9
  }
}

/** Per-layer metrics of a traced timed phase: per-op means of each layer's
  * self time and counters, with the two ratios taken over the whole
  * phase. Also writes the spans and the per-op records (wall, CPU and
  * layer split side by side, so a stall reads as wall without CPU). */
object LayerSummary {
  val Layers: Seq[String] = Seq(
    "entry.build_s", "entry.build_jobs", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "cube.rewrite.rule_s",
    "cube.rewrite.invocations", "cube.rewrite.routed_plans",
    "codegen.compile_s", "codegen.classes", "exec.jobs", "exec.tasks",
    "exec.job_wall_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.slot_util", "exec.task_skew", "exec.input_rows", "exec.input_mb",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.output_mb", "driver.self_s")

  def apply(ops: Seq[Op], at: Attribution, classes: Long, cores: Int,
      out: java.nio.file.Path, tag: String): Seq[(String, Double)] = {
    val splits = ops.map(o => at.split(o.id))
    def mean(k: String) = Stats.mean(splits.map(_.getOrElse(k, 0.0)))
    def total(k: String) = splits.map(_.getOrElse(k, 0.0)).sum
    val ratios = Map(
      "exec.slot_util" -> (if (total("exec.job_wall_s") > 0)
        total("exec.run_s") / (total("exec.job_wall_s") * cores) else 0.0),
      "exec.task_skew" -> Stats.median(splits.filter(_("exec.tasks") > 0)
        .map(_("exec.task_skew"))),
      "codegen.classes" -> classes.toDouble / math.max(1, ops.size))
    java.nio.file.Files.createDirectories(out)
    val recs = ops.map { o =>
      val fields = at.split(o.id).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Stats.num(v)}""" }
      s"""{"op":${o.id},"kind":"${o.kind}","name":"${o.name}","ok":${o.ok},""" +
        fields.mkString(",") + "}"
    }
    val spans = at.spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(out.resolve(s"$tag.records.jsonl"), recs.asJava)
    java.nio.file.Files.write(out.resolve(s"$tag.spans.jsonl"), spans.asJava)
    Layers.map(k => k -> ratios.getOrElse(k, mean(k)))
  }
}
