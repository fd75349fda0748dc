package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Crawl, Warc}
import graft.text.{Curation, Dedup, LangModel, Pipeline}

/** `curation`: one op is a full pass of the composed crawl → curation
  * pipeline over a seeded WARC corpus, every stage through
  * `Pipeline.run` into a fresh pass directory:
  *
  *   Warc.read → Crawl.cleanDocs (ingest) → Dedup.standardPipeline →
  *   LangModel.perplexityBuckets (drop the tail bucket) →
  *   Curation.shuffleDeterministic → Curation.packSequences.
  *
  * The untimed check counts every stage's rows, requires counts that
  * never increase and that repeat exactly on every pass, and leaves the
  * last pass on disk for the DuckDB invariants in `oracles.py`. */
final class CurationRun(spark: SparkSession, plan: JsonNode, tracer: Tracer,
                        cores: Int) extends Workload {

  private val corpus = plan.get("warc").asText
  private val records = plan.get("records").asLong
  private val seed = plan.get("seed").asLong
  private val seqTokens = plan.get("seq_tokens").asLong
  private val root = plan.get("work").asText + "/curation"
  private val fanOut = 2 * cores

  private val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ingest" -> { (r: DataFrame) =>
      Crawl.cleanDocs(r).select(
        regexp_extract(col("record_id"), "doc:(\\d+)", 1).cast("long")
          .as("doc_id"),
        col("url"), col("lang"), col("clean_text"))
    },
    "dedup" -> { (d: DataFrame) =>
      Dedup.standardPipeline(d, "doc_id", "clean_text", urlCol = Some("url"))
    },
    "lm" -> { (d: DataFrame) =>
      val b = LangModel.perplexityBuckets(d, "doc_id", "clean_text",
        buckets = 3).select(col("doc_id"), col("ppl_bucket"))
      d.join(b, Seq("doc_id"), "left")
        .filter(col("ppl_bucket").isNull || col("ppl_bucket") <= 2)
    },
    "shuffle" -> { (d: DataFrame) =>
      Curation.shuffleDeterministic(d, "doc_id", seed, numShards = 16)
    },
    "pack" -> { (d: DataFrame) =>
      Curation.packSequences(d, "shard", "pos", "clean_text", seqTokens)
    })

  /** One pass; returns (stage, output dir) in stage order. */
  private def pass(input: String, dir: String): Seq[(String, String)] =
    try {
      var cur = Warc.read(spark, input)
      stages.map { case (name, f) =>
        // traced, the stage fingerprints the plan Pipeline.run writes,
        // in its own span, and Pipeline.run skips its own fingerprint
        val g = (d: DataFrame) => {
          val p = f(d)
          if (tracer.enabled)
            tracer.span("pipeline.fingerprint")(Pipeline.stageFingerprint(p))
          p
        }
        cur = tracer.span(s"text.$name")(Pipeline.run(cur, Seq(name -> g),
          s"$dir/$name", fanOut, fingerprints = !tracer.enabled))
        name -> s"$dir/$name/00_$name"
      }
    } finally graft.GraftSession.unpersistAll()

  private def delete(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Set-up reads the corpus once; the timed pass is the first pass in
    * the JVM, as a batch pipeline run is. */
  def setupStep(): Unit = Warc.read(spark, corpus).queryExecution.toRdd.count()

  def opsPerRound: Int = 1

  private var lastDirs: Seq[(String, String)] = Nil
  def run(i: Int): Double = {
    lastDirs = Nil
    lastDirs = pass(corpus, s"$root/pass-$i")
    records.toDouble
  }

  private var firstCounts: Seq[Long] = Nil
  private var lastCounts: Seq[Long] = Nil
  private val warcReads = mutable.ArrayBuffer.empty[Double]

  def check(i: Int, out: java.io.PrintWriter): Unit = {
    if (i > 0) delete(s"$root/pass-${i - 1}")
    if (lastDirs.isEmpty) return
    val counts = lastDirs.map { case (_, d) => spark.read.parquet(d).count() }
    out.println(Json.write(Map("op" -> i,
      "stages" -> lastDirs.map(_._1), "counts" -> counts,
      "dirs" -> lastDirs.map(_._2))))
    if (tracer.enabled) {
      // the WARC reader on its own, outside the op's wall time
      val t0 = System.nanoTime()
      Warc.read(spark, corpus).queryExecution.toRdd.count()
      warcReads += (System.nanoTime() - t0) / 1e9
    }
    val chain = records +: counts
    require(chain.zip(chain.tail).forall { case (a, b) => b <= a },
      s"stage row counts increased: ${chain.mkString(" -> ")}")
    if (firstCounts.isEmpty) firstCounts = counts
    require(counts == firstCounts,
      s"pass $i counts ${counts.mkString(",")} differ from the first " +
        s"pass's ${firstCounts.mkString(",")}")
    lastCounts = counts
  }

  override def layerExtras: Map[String, Double] = {
    val chain = (records +: lastCounts).map(_.toDouble)
    val keep = if (lastCounts.isEmpty) Map.empty[String, Double] else
      stages.map(_._1).zip(chain.zip(chain.tail)).map { case (s, (a, b)) =>
        s"text.${s}_keep_ratio" -> (if (a > 0) b / a else 0.0)
      }.toMap
    val warc = if (warcReads.isEmpty) Map.empty[String, Double]
               else Map("sources.warc_read_s" -> warcReads.sum / warcReads.size)
    keep ++ warc
  }
}
