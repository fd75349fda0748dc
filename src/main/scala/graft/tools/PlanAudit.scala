package graft.tools

/** Scale-safety audit: execute named SparkEntry queries against
  * SPARK_GRAFT_SF_DIR and print the FINAL adaptive plan's join /
  * exchange skeleton — the tool that catches a statically planned
  * broadcast of a corpus-sized side (the q124 5-gram failure class:
  * garbage size estimates behind HOF-explode aggregates make the
  * planner broadcast a table that scales with the corpus, and AQE
  * cannot demote a static BroadcastExchange). Run:
  * SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.PlanAudit q43… q44…" */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus, cpus)
    val names = if (args.nonEmpty) args.toSeq
                else graft.SparkEntry.benchQueries.keys.toSeq.sorted
    for (name <- names) {
      val df = graft.SparkEntry.benchQueries(name)(spark, sfDir)
      // execute so the adaptive plan is FINAL — toRdd.count(), the
      // Bench materialization policy: a collect() of a corpus-sized
      // result would OOM the very driver this tool exists to protect
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan.toString
      println(s"[audit] ===== $name =====")
      plan.split('\n')
        .filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("InMemoryTableScan") || l.contains("AQEShuffleRead"))
        .foreach(l => println(s"[audit] ${l.take(160)}"))
      graft.GraftSession.unpersistAll()
    }
    spark.stop()
  }
}
