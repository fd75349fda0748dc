package graft.tools

import java.nio.file.{Files, Paths}

/** Write `explain("formatted")` of named benchQueries to files —
  * the r17+ optimization-evidence artifact (`plans/r17/<q>_<tag>.txt`).
  * Run: SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.ExplainTo
  * <outDir> <tag> q114_script_tokens …" */
object ExplainTo {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainTo <outDir> <tag> <query>…")
    val (outDir, tag, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus, cpus)
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = graft.SparkEntry.benchQueries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
        (s"== $name ($tag) — sf=$sfDir ==\n" + txt).getBytes("UTF-8"))
      graft.GraftSession.unpersistAll()
      println(s"[explain] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
