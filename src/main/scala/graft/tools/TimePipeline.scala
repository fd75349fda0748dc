package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end pipeline scale stamp: the crawl front end + the curation
  * pipeline composed as ONE run over SPARK_GRAFT_SF_DIR's documents
  * table, timed per cumulative stage prefix.
  *
  * Stages (each building lazily on the previous):
  *   synth     — wrap each doc as an HTML page (q115 nav/footer
  *               boilerplate, q119 robots meta on a slice, q120
  *               unicode tails) with a URL over ~97 domains
  *   extract   — robots-noindex drop + boilerplate removal
  *   normalize — NFC + zero-width strip on the clean text
  *   filter    — langId + language-keyed quality score + Gopher
  *               word-count/symbol/alpha battery
  *   dedup     — Dedup.standardPipeline (URL exact + MinHash near +
  *               repeated-span removal)
  *   lm        — n-gram LM perplexity buckets, drop the tail bucket
  *               (the CCNet keep/filter split)
  *   shuffle   — seed-reproducible training-order shuffle into shards
  *   pack      — fixed-budget sequence packing within each shard
  *
  * Timing methodology: each stage MATERIALIZES to parquet and the next
  * stage reads that output — the restartable production shape, and the
  * only sane one: composing all eight stages into one Catalyst tree
  * makes optimization itself blow up (CollapseProject substitutes the
  * boilerplate-regex battery into every downstream consumer of
  * clean_text; measured: the driver spun minutes in planning before a
  * single task ran). Per-stage wall time = transform + write + the
  * read of its input; the total is the honest composed end-to-end
  * cost including the inter-stage IO a restartable pipeline pays.
  * Run: SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.TimePipeline". */
object TimePipeline {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus, cpus)
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
    spark.conf.set("spark.sql.files.openCostInBytes", "65536")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    // ---- stage builders (all lazy Column/DataFrame composition) ----

    def synth(d: DataFrame): DataFrame = {
      val idStr = col("doc_id").cast(StringType)
      // q119's three-form robots-noindex on ~1/31 of pages; q120's
      // decomposed/zero-width/control tails on a rotating quarter
      val robots = when(pmod(col("doc_id"), lit(31)) === 0,
        lit("<meta name=\"robots\" content=\"noindex\">")).otherwise(lit(""))
      val tail = when(pmod(col("doc_id"), lit(4)) === 0,
          lit(" cafe\u0301 deco\u0301mposed")) // e + combining acute
        .when(pmod(col("doc_id"), lit(4)) === 1,
          lit(" zero\u200Bwidth\u200Djoin\uFEFFbom\u00ADsoft"))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          lit(" ctrl\u0007bell\u001Besc"))
        .otherwise(lit(" caf\u00E9 precomposed"))
      d.select(col("doc_id"),
        concat(lit("https://d"), pmod(col("doc_id"), lit(97)),
          lit(".example.com/p/"), idStr).as("url"),
        concat(
          lit("<html><head><title>Site T"), idStr, lit("</title>"), robots,
          lit("<style>nav {color: blue}</style></head><body>" +
            "<nav><a href=\"/\">Home page</a> <a href=\"/about\">About " +
            "us</a> <a href=\"/contact\">Contact info</a></nav><p>"),
          col("text"), tail,
          lit("</p><div>Copyright 2026 Example Corp</div>" +
            "<p>Read more: <a href=\"/next\">the next related article " +
            "in this series</a></p></body></html>")).as("html"))
    }

    def extract(d: DataFrame): DataFrame =
      d.filter(!graft.text.Html.metaRobotsNoindex(col("html")))
        .select(col("doc_id"), col("url"),
          graft.text.Html.dropBoilerplate(col("html"))
            .getField("clean_text").as("clean_text"))

    def normalize(d: DataFrame): DataFrame =
      d.select(col("doc_id"), col("url"),
        graft.text.TextAnalysis.normalizeUnicode(col("clean_text"))
          .as("clean_text"))

    def qfilter(d: DataFrame): DataFrame = {
      import graft.text.TextAnalysis._
      // one langId run per row for BOTH conjuncts: a materialized lang
      // column gets substituted back into each by predicate pushdown
      // (measured: 2 detector runs = the filter stage at 153 s of the
      // 228 s sf10 total before this)
      d.filter(withLangBound(col("clean_text")) { l =>
        qualityScoreByLang(col("clean_text"), l) >= 0.3 &&
          gopherFlagsByLang(col("clean_text"), l)
            .getField("symbol_ratio_ok")
      })
    }

    def dedup(d: DataFrame): DataFrame =
      graft.text.Dedup.standardPipeline(d, "doc_id", "clean_text",
        urlCol = Some("url"))

    def lm(d: DataFrame): DataFrame = {
      val buckets = graft.text.LangModel
        .perplexityBuckets(d, "doc_id", "clean_text", buckets = 3)
        .select(col("doc_id"), col("ppl_bucket"))
      // CCNet's keep/filter split: drop the tail (worst-perplexity)
      // bucket; unscored short docs keep a null bucket and survive
      d.join(buckets, Seq("doc_id"), "left")
        .filter(col("ppl_bucket").isNull || col("ppl_bucket") <= 2)
    }

    def shuffle(d: DataFrame): DataFrame =
      graft.text.Curation.shuffleDeterministic(d, "doc_id",
        seed = 42L, numShards = 64)

    def pack(d: DataFrame): DataFrame =
      graft.text.Curation.packSequences(d, "shard", "pos",
        "clean_text", seqTokens = 2048)

    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "synth" -> synth, "extract" -> extract, "normalize" -> normalize,
      "filter" -> qfilter, "dedup" -> dedup, "lm" -> lm,
      "shuffle" -> shuffle, "pack" -> pack)

    val workDir = java.nio.file.Files
      .createTempDirectory("graft_pipeline").toString

    // warm the JVM/codegen once on a tiny slice so stage 1 doesn't
    // charge JIT+planning to the synth stage
    stages.zipWithIndex.foldLeft(docs.limit(50)) { case (d, ((_, f), k)) =>
      // distinct warm dirs: stage k+1's input must not be the same
      // path its own overwrite-write is clobbering
      f(d).write.mode("overwrite").parquet(s"$workDir/warm$k")
      spark.read.parquet(s"$workDir/warm$k")
    }
    graft.GraftSession.unpersistAll()

    println(s"[pipeline] sfDir=$sfDir workDir=$workDir")
    println(f"[pipeline] ${"stage"}%-10s ${"wall_s"}%8s rows")
    // fan each stage's output across the cores on WRITE: the sf dirs
    // are single small parquet files (one row group = one read task),
    // so without this every narrow per-row stage — the langid/quality
    // folds especially — inherits parallelism ONE from the scan and
    // runs single-threaded (measured: the filter stage was 198 s at
    // sf1 and 20x super-linear). The repartition shuffle is a few MB
    // per stage; a real cluster reading a many-file TB-scale stage
    // output gets the same balance for free from the scan.
    val fanOut = cpus * 2
    var cur = docs.repartition(fanOut)
    var total = 0.0
    for (((name, f), k) <- stages.zipWithIndex) {
      val t0 = System.nanoTime()
      f(cur).repartition(fanOut).write.mode("overwrite").parquet(s"$workDir/s$k")
      cur = spark.read.parquet(s"$workDir/s$k")
      val rows = cur.count()
      val secs = (System.nanoTime() - t0) / 1e9
      total += secs
      graft.GraftSession.unpersistAll()
      println(f"[pipeline] $name%-10s $secs%8.2f rows=$rows")
    }
    println(f"[pipeline] TOTAL      $total%8.2f")
    spark.stop()
  }
}
