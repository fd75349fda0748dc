package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler-side work of one job group: counts, summed task metrics and
  * the wall-clock intervals during which its tasks ran. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, deserMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, stages and tasks to the job group that was set on the
  * client thread when they were submitted — one group per traced span. */
final class ExecListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)
  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  def take(group: String): GroupStats = synchronized {
    groups.remove(group).getOrElse(new GroupStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stats(g).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      groupOf(e.properties).orElse(stageGroup.get(id)).foreach { g =>
        stageGroup(id) = g
        stats(g).stages += 1
      }
      stageSubmitMs(id) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      val ti = e.taskInfo
      s.tasks += 1
      s.intervals += ((ti.launchTime, ti.finishTime))
      stageSubmitMs.get(e.stageId).foreach { t =>
        s.waitMs += math.max(0L, ti.launchTime - t)
      }
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Catalyst phase times of every query that runs as a SQL execution
  * (writes, collects): the optimization and physical-planning phases
  * recorded by each query's planning tracker. */
final class PhaseListener extends QueryExecutionListener {
  var optimizeMs, planningMs = 0L
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      ph.get("optimization").foreach(p => optimizeMs += p.durationMs)
      ph.get("planning").foreach(p => planningMs += p.durationMs)
    }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    ()
  def snapshot: (Long, Long) = synchronized((optimizeMs, planningMs))
}

/** Engine-wide counters that only move forward: rule executor time and
  * runs, the graft optimizer rules' share, codegen compile time and
  * generated-class count. Per-op values are deltas of two snapshots. */
final case class Counters(ruleNs: Long, ruleRuns: Long, ruleEffective: Long,
                          graftRuleNs: Long, compileNs: Long,
                          classes: Long)

object Counters {
  import org.apache.spark.sql.catalyst.rules.RuleExecutor
  private val RuleLine =
    """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r

  def now(): Counters = {
    val m = RuleExecutor.getCurrentMetrics()
    val graft = RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case RuleLine(rule, _, total, _, _) if rule.startsWith("graft.") =>
        total.toLong
    }.sum
    Counters(m.time, m.numRuns, m.numEffectiveRuns, graft,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime,
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount)
  }
}

/** The traced run's recorder. Spans nest workload → op → layer call;
  * each span runs under its own job group, so the scheduler work it
  * caused is attributed to it exactly. Every finished span is written as
  * one JSON line; every finished op becomes one row of per-layer
  * metrics. With tracing off, `op` and `span` only run their body. */
final class Tracer(spark: SparkSession, spansPath: String,
                   workload: String, cores: Int) {
  private val sc = spark.sparkContext
  private val exec = new ExecListener
  private val phases = new PhaseListener
  private var out: java.io.PrintWriter = _
  private var on = false

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    sc.addSparkListener(exec)
    spark.listenerManager.register(phases)
    out = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(spansPath)))
    on = true
  }

  def close(): Unit = if (out != null) out.close()

  private final class Open(val name: String, val group: String,
                           val parent: Open, val t0: Long) {
    val startMs = System.currentTimeMillis()
    var childNs = 0L
  }
  private var current: Open = _
  private var opIndex = -1
  private var seq = 0
  private val opSums = mutable.LinkedHashMap.empty[String, Double]
  private val opIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var opPeakMem = 0L

  /** One row per traced op: metric name → value. */
  val opRows = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** span name → (calls, total seconds, self seconds). */
  val selfTime = mutable.LinkedHashMap.empty[String, Array[Double]]

  private def add(k: String, v: Double): Unit =
    opSums(k) = opSums.getOrElse(k, 0.0) + v

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    seq += 1
    val group = s"bench-$opIndex-$seq"
    val parent = current
    val o = new Open(name, group, parent, System.nanoTime())
    current = o
    sc.setJobGroup(group, name)
    try body
    finally {
      val dur = System.nanoTime() - o.t0
      current = parent
      if (parent != null) {
        parent.childNs += dur
        sc.setJobGroup(parent.group, parent.name)
      } else sc.clearJobGroup()
      BenchBus.drain(sc)
      finish(o, dur, exec.take(group))
    }
  }

  private def finish(o: Open, durNs: Long, g: GroupStats): Unit = {
    val dur = durNs / 1e9
    val self = (durNs - o.childNs) / 1e9
    val row = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "op" -> opIndex, "span" -> o.name,
      "parent" -> Option(o.parent).map(_.name), "start_ms" -> o.startMs,
      "dur_s" -> dur,
      "self_s" -> self, "jobs" -> g.jobs, "stages" -> g.stages,
      "tasks" -> g.tasks, "task_run_s" -> g.runMs / 1e3,
      "task_cpu_s" -> g.cpuNs / 1e9, "task_gc_s" -> g.gcMs / 1e3,
      "task_deser_s" -> g.deserMs / 1e3, "task_wait_s" -> g.waitMs / 1e3,
      "shuffle_write_mb" -> g.shuffleWrite / 1e6,
      "shuffle_read_mb" -> g.shuffleRead / 1e6, "spill_mb" -> g.spill / 1e6)
    out.println(Json.write(row))
    val st = selfTime.getOrElseUpdate(o.name, Array(0.0, 0.0, 0.0))
    st(0) += 1; st(1) += dur; st(2) += self
    if (o.name != "op") add(o.name + "_s", dur)
    add("exec.jobs", g.jobs)
    add("exec.stages", g.stages)
    add("exec.tasks", g.tasks)
    add("exec.task_run_s", g.runMs / 1e3)
    add("exec.task_cpu_s", g.cpuNs / 1e9)
    add("exec.task_gc_s", g.gcMs / 1e3)
    add("exec.task_deser_s", g.deserMs / 1e3)
    add("exec.task_wait_s", g.waitMs / 1e3)
    add("exec.shuffle_write_mb", g.shuffleWrite / 1e6)
    add("exec.shuffle_read_mb", g.shuffleRead / 1e6)
    add("exec.spill_mb", g.spill / 1e6)
    opIntervals ++= g.intervals
    opPeakMem = math.max(opPeakMem, g.peakExecMem)
  }

  /** Record a value for the current op (e.g. a statement count). */
  def note(metric: String, v: Double): Unit = if (on) add(metric, v)

  /** Run one op. Traced, it becomes the root span of its layer calls and
    * one row of `opRows`. */
  def op[T](i: Int)(body: => T): T = {
    if (!on) return body
    opIndex = i
    opSums.clear(); opIntervals.clear(); opPeakMem = 0L
    val c0 = Counters.now()
    val (opt0, plan0) = phases.snapshot
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = span("op")(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val c1 = Counters.now()
    val (opt1, plan1) = phases.snapshot
    // a workload that times the Catalyst phases itself (pig scripts
    // force optimizedPlan / executedPlan in their own spans) keeps those;
    // the others get the phases their SQL executions recorded
    if (!opSums.contains("catalyst.optimize_s"))
      add("catalyst.optimize_s", (opt1 - opt0) / 1e3)
    if (!opSums.contains("catalyst.physical_s"))
      add("catalyst.physical_s", (plan1 - plan0) / 1e3)
    add("catalyst.rule_s", (c1.ruleNs - c0.ruleNs) / 1e9)
    val runs = c1.ruleRuns - c0.ruleRuns
    add("catalyst.effective_rule_ratio",
      if (runs > 0) (c1.ruleEffective - c0.ruleEffective).toDouble / runs
      else 0.0)
    add("plans.graft_rules_s", (c1.graftRuleNs - c0.graftRuleNs) / 1e9)
    add("codegen.compile_s", (c1.compileNs - c0.compileNs) / 1e9)
    add("codegen.classes", (c1.classes - c0.classes).toDouble)
    val busy = Tracer.unionMs(opIntervals.toSeq, startMs, endMs) / 1e3
    add("exec.driver_gap_s", math.max(0.0, wall - busy))
    add("exec.core_util", opSums("exec.task_run_s") / (wall * cores))
    add("exec.peak_exec_mem_mb", opPeakMem / 1e6)
    opRows += opSums.toMap
    r
  }

  /** Per-layer metrics over the traced ops: the mean per op, except
    * peak execution memory, which is the largest any op reached. */
  def layerMetrics: Map[String, Double] = {
    if (opRows.isEmpty) return Map.empty
    val keys = opRows.flatMap(_.keys).distinct
    keys.map { k =>
      val vs = opRows.map(_.getOrElse(k, 0.0))
      k -> (if (k == "exec.peak_exec_mem_mb") vs.max else vs.sum / vs.size)
    }.toMap
  }

  /** The self-time table: where the traced ops' wall time went. */
  def selfTimeTable: Seq[Map[String, Any]] = {
    val opWall = selfTime.get("op").map(_(1)).getOrElse(0.0)
    selfTime.toSeq.map { case (name, a) =>
      Map("span" -> name, "calls" -> a(0).toLong, "total_s" -> a(1),
        "self_s" -> a(2),
        "self_share" -> (if (opWall > 0) a(2) / opWall else 0.0))
    }
  }
}

object Tracer {
  /** Milliseconds of [lo, hi) covered by at least one interval. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, end)
      val b = math.min(b0, hi)
      if (b > a) { covered += b - a; end = b }
    }
    covered
  }
}
