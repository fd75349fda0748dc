package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.text.{DedupIndex, SigIndex}

/** `dedup-ingest`: set-up builds a `DedupIndex` over a seeded text corpus
  * and a `SigIndex` over seeded 64-bit signatures; each op takes the next
  * seeded batch (text and signature batches alternate), filters it with
  * `dropDupsAgainst` and `append`s the survivors, so the index grows as
  * the run goes. The untimed check records the survivors for the planted
  * truth in `oracles.py`. */
final class DedupIngest(spark: SparkSession, plan: JsonNode, tracer: Tracer)
    extends Workload {

  private val TextIndex = "bench_text"
  private val SigIdx = "bench_sig"
  private val baseText = plan.get("base_text").asText
  private val baseSigs = plan.get("base_sigs").asText
  private val batches = plan.get("batches").elements.asScala.map { b =>
    new DedupIngest.Batch(b.get("kind").asText, b.get("path").asText,
      b.get("rows").asLong)
  }.toIndexedSeq

  def opsPerRound: Int = 2
  override def exhausted(i: Int): Boolean = i >= batches.size

  private var writeS = 0.0
  private var indexed = 0L

  def setupStep(): Unit = {
    val text = spark.read.parquet(baseText)
    val sigs = spark.read.parquet(baseSigs)
    val t0 = System.nanoTime()
    // storage buckets scale with the corpus: four suit an index this
    // small on a few cores (the engine's default of 16 is for larger ones)
    DedupIndex.write(text, "id", "text", TextIndex, numBuckets = 4)
    SigIndex.write(sigs, "id", "sig", SigIdx, numBuckets = 4)
    writeS = (System.nanoTime() - t0) / 1e9
    graft.GraftSession.unpersistAll()
    indexed = text.count() + sigs.count()
  }

  private var survivors: DataFrame = _
  private var survivorIds: Array[Long] = Array.empty

  def run(i: Int): Double = {
    survivors = null
    survivorIds = Array.empty
    val b = batches(i)
    val batch = spark.read.parquet(b.path)
    val text = b.kind == "text"
    val kept = tracer.span("index.probe") {
      val s = (if (text)
        DedupIndex.dropDupsAgainst(batch, "id", "text", TextIndex)
      else SigIndex.dropDupsAgainst(batch, "id", "sig", SigIdx)).persist()
      survivors = s
      survivorIds = s.select(col("id")).collect().map(_.getLong(0))
      s
    }
    tracer.span("index.append") {
      if (text) DedupIndex.append(kept, "id", "text", TextIndex)
      else SigIndex.append(kept, "id", "sig", SigIdx)
    }
    indexed += survivorIds.length
    b.rows.toDouble
  }

  def check(i: Int, out: java.io.PrintWriter): Unit = {
    if (survivors != null) survivors.unpersist()
    graft.GraftSession.unpersistAll()
    out.println(Json.write(Map("op" -> i, "batch" -> i,
      "kind" -> batches(i).kind, "survivors" -> survivorIds.toSeq)))
  }

  override def layerExtras: Map[String, Double] = {
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val files = Option(wh.listFiles).toSeq.flatten
      .filter(d => d.getName.startsWith(TextIndex) ||
        d.getName.startsWith(SigIdx))
      .flatMap(d => walk(d)).filter(f => !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    val bytes = files.map(_.length).sum
    Map("index.write_s" -> writeS,
      "index.files" -> files.size.toDouble,
      "index.bytes_per_doc" ->
        (if (indexed > 0) bytes.toDouble / indexed else 0.0))
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else Seq(f)
}

object DedupIngest {
  final class Batch(val kind: String, val path: String, val rows: Long)
}
