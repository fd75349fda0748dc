package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.frontend.{PigParser, PigPreprocessor, PigRunner}

/** `pig-scripts`: a closed loop of PigMix-shaped Pig Latin scripts with
  * seeded parameters. An op is `PigRunner.run` on one script plus
  * `toRdd.count()` of its last alias, with Catalyst's optimization and
  * physical planning forced in spans of their own. The untimed check
  * collects the answer for the DuckDB oracle. */
final class PigScripts(spark: SparkSession, plan: JsonNode, tracer: Tracer)
    extends Workload {

  private val tables = plan.get("tables").asText
  private val texts: Map[String, String] =
    plan.get("scripts").fields.asScala.map(e => e.getKey -> e.getValue.asText)
      .toMap
  private def ops(k: String): IndexedSeq[PigScripts.Op] =
    plan.get(k).elements.asScala.map { o =>
      PigScripts.Op(o.get("script").asText,
        o.get("params").fields.asScala
          .map(e => e.getKey -> e.getValue.asText).toMap)
    }.toIndexedSeq
  private val warmup = ops("warmup")
  private val timed = ops("ops")

  def opsPerRound: Int = texts.size
  override def exhausted(i: Int): Boolean = i >= timed.size

  private var lastRunner: PigRunner = _
  private var lastDf: DataFrame = _
  private var lastCount = -1L

  private def exec(o: PigScripts.Op): Long = {
    val text = texts(o.script)
    val params = o.params + ("dir" -> tables)
    if (tracer.enabled) tracer.span("frontend.parse") {
      tracer.note("frontend.statements",
        PigParser.parse(PigPreprocessor.expand(text, params)).size)
    }
    val runner = tracer.span("frontend.interpret")(
      PigRunner(spark).run(text, params))
    lastRunner = runner
    val df = runner.lastAssigned.getOrElse(
      throw new IllegalStateException(s"${o.script} assigned no alias")).df
    lastDf = df
    val qe = df.queryExecution
    tracer.span("catalyst.optimize")(qe.optimizedPlan)
    tracer.span("catalyst.physical")(qe.executedPlan)
    tracer.span("exec.run")(qe.toRdd.count())
  }

  def setupStep(): Unit = warmup.foreach { o =>
    exec(o)
    lastRunner.close()
  }

  def run(i: Int): Double = {
    lastDf = null
    lastRunner = null
    lastCount = exec(timed(i))
    1.0
  }

  def check(i: Int, out: java.io.PrintWriter): Unit = {
    val o = timed(i)
    try {
      val rows = if (lastDf == null) Seq.empty
                 else lastDf.collect().toSeq.map(cells)
      out.println(Json.write(Map("op" -> i, "script" -> o.script,
        "params" -> o.params, "count" -> lastCount, "rows" -> rows)))
    } finally if (lastRunner != null) lastRunner.close()
  }

  private def cells(r: Row): Seq[Any] = (0 until r.length).map { k =>
    r.get(k) match {
      case null => null
      case v: java.lang.Number => v
      case v: String => v
      case v: Boolean => v
      case v => v.toString
    }
  }
}

object PigScripts {
  final case class Op(script: String, params: Map[String, String])
}
