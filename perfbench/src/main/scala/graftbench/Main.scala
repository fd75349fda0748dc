package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** One benchmark workload as the timing loop sees it. */
trait Workload {
  /** Ops that make up the workload's fixed amount of work (a round). */
  def opsPerRound: Int
  /** The set-up step (warm-up, index build), run once before the first
    * timed op. */
  def setupStep(): Unit
  /** Op `i`: the timed call into the engine. Returns its units of work
    * (scripts or input documents). */
  def run(i: Int): Double
  /** Untimed follow-up of op `i`: record its answer for the oracles and
    * release what the op left behind. Throws if the answer is wrong. */
  def check(i: Int, out: java.io.PrintWriter): Unit
  /** True once the workload's input stream is used up. */
  def exhausted(i: Int): Boolean = false
  /** Per-layer values the workload measures itself. */
  def layerExtras: Map[String, Double] = Map.empty
}

/** The benchmark JVM. The launcher (`run.py`) generates the inputs,
  * writes a plan file and starts this main with it; results go to the
  * plan's `result` file, never to stdout. Phases:
  *
  *  1. bring-up: JVM launch to a ready SparkSession;
  *  2. set-up: the workload's set-up step, once; `setup_s` is JVM
  *     launch to the first timed op;
  *  3. timed: ops until `seconds` have passed and at least `min_rounds`
  *     rounds are complete. A traced run spends the first half of its
  *     time untraced and the second half traced, so the tracing
  *     overhead is measured in the same JVM. */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val code = try { run(plan); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def str(p: JsonNode, k: String) = p.get(k).asText

  /** Heap still in use once the engine has let go of what it can:
    * listener events processed, a full collection, a pause for Spark's
    * asynchronous cleaners (unpersisted blocks, broadcasts and shuffles
    * whose handles the first collection freed), then a second collection.
    * Allocation churn and GC timing do not count; retained state does. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def run(plan: JsonNode): Unit = {
    val workload = str(plan, "workload")
    val cores = plan.get("cores").asInt
    val work = str(plan, "work")
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asBoolean
    val minRounds = plan.get("min_rounds").asInt
    val launchMs = plan.get("launch_ms").asLong

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", "65536")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.tune(spark)
    val bringUp = (System.currentTimeMillis() - launchMs) / 1e3

    val tracer = new Tracer(spark, str(plan, "spans"), workload, cores)
    val checks = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(str(plan, "checks"))))
    val w: Workload = workload match {
      case "pig-scripts" => new PigScripts(spark, plan, tracer)
      case "curation" => new CurationRun(spark, plan, tracer, cores)
      case "dedup-ingest" => new DedupIngest(spark, plan, tracer)
      case other => throw new IllegalArgumentException(s"workload $other")
    }

    val setupT0 = System.nanoTime()
    w.setupStep()
    val setupStep = (System.nanoTime() - setupT0) / 1e9

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var peakHeapMb = 0.0
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    val firstOpMs = System.currentTimeMillis()

    def phase(secs: Double, traced: Boolean, minRounds: Int): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      var rWall, rCpu = 0.0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while ((elapsed < secs || n < minRounds * w.opsPerRound) &&
             !w.exhausted(i)) {
        val c0 = os.getProcessCpuTime
        val s0 = System.nanoTime()
        var units = 0.0
        var err: String = null
        try units = tracer.op(i)(w.run(i))
        catch { case e: Throwable => err = s"run: $e"; e.printStackTrace() }
        val wall = (System.nanoTime() - s0) / 1e9
        val cpu = (os.getProcessCpuTime - c0) / 1e9
        try w.check(i, checks)
        catch {
          case e: Throwable =>
            if (err == null) err = s"check: $e"
            e.printStackTrace()
        }
        ops += Map("i" -> i, "wall_s" -> wall, "cpu_s" -> cpu,
          "units" -> units, "error" -> err, "traced" -> traced)
        rWall += wall
        rCpu += cpu
        i += 1
        n += 1
        if (n % w.opsPerRound == 0) {
          rounds += Map("wall_s" -> rWall, "cpu_s" -> rCpu,
            "traced" -> traced)
          if (!traced)
            peakHeapMb = math.max(peakHeapMb, retainedHeapMb(spark))
          rWall = 0.0
          rCpu = 0.0
        }
      }
    }

    if (trace) {
      val half = math.max(1, minRounds / 2)
      phase(seconds / 2, traced = false, half)
      tracer.enable()
      phase(seconds / 2, traced = true, half)
    } else phase(seconds, traced = false, minRounds)
    checks.close()
    tracer.close()

    val layers = tracer.layerMetrics ++ w.layerExtras
    val result = mutable.LinkedHashMap[String, Any](
      "bring_up_s" -> bringUp,
      "setup_step_s" -> setupStep,
      "setup_s" -> (firstOpMs - launchMs) / 1e3,
      "peak_heap_mb" -> peakHeapMb,
      "ops" -> ops,
      "rounds" -> rounds,
      "layers" -> layers,
      "self_time" -> tracer.selfTimeTable)
    val tmp = str(plan, "result") + ".tmp"
    val f = new java.io.PrintWriter(tmp)
    try f.println(Json.write(result)) finally f.close()
    new java.io.File(tmp).renameTo(new java.io.File(str(plan, "result")))
    spark.stop()
  }
}
