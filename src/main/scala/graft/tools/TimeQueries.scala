package graft.tools

/** Micro-bench: time named SparkEntry queries (args) against
  * SPARK_GRAFT_SF_DIR, printing per-run wall times. For perf triage only —
  * the official artifact comes from [[graft.Bench]]. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = graft.GraftSession.local(cpus, cpus)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    val names = if (args.nonEmpty) args.toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    // benchQueries ⊇ queries — time the same form Bench times
    for (name <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      // same materialization policy as Bench: execute the query's own
      // plan (all columns), never a prunable count() over it
      val n = graft.SparkEntry.benchQueries(name)(spark, sfDir)
        .queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.GraftSession.unpersistAll()
      println(f"[time] $name%-24s run$r $dt%8.3f s  rows=$n")
    }
    spark.stop()
  }
}
