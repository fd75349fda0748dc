package graft.tools

import org.apache.spark.sql.functions._

/** Decades for the UNBOUNDED q132 operator (the gate itself is
  * fixed-2000-doc machinery, the q104 precedent): synthesize the
  * 4-videos-per-doc corpus once per sf dir (epoch artifact), then time
  * videoSignatures → multiProbe banding over the parquet scan — the
  * production path, decode-bound and scan-parallel.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.TimeVideoDedup
  */
object TimeVideoDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus, cpus)
    val mkPayload = udf((seed: Long, variant: Int) => variant match {
      case 0 => graft.multimodal.Decode.encodePatternAvi(seed)
      case 1 => graft.multimodal.Decode.encodePatternAvi(seed, dupFrames = 2)
      case 2 => graft.multimodal.Decode.encodePatternAvi(seed).take(60)
      case _ => graft.multimodal.Decode.encodePatternGif(seed)
    })
    val vids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"))
      // thin-row fan-out: synthesis must not serialize on the single-
      // row-group test scan, and the artifact must land as many files
      .repartition(cpus)
      .select(col("doc_id"),
        explode(array(lit(0), lit(1), lit(2), lit(3))).as("variant"))
      .select((col("doc_id") * 4 + col("variant")).as("vid_id"),
        mkPayload(col("doc_id"), col("variant")).as("payload"))
    // an epoch artifact (the q130/q132 discipline): a synthesis edit or
    // in-place corpus regen never reuses a stale one
    val t0 = System.nanoTime()
    val stored = graft.gates.Fixtures.epochParquet(spark, vids, "tvd", sfDir)
    println(f"[tvd] synth ${(System.nanoTime() - t0) / 1e9}%.1f s")
    for (r <- 1 to 3) {
      // release the previous run's tracked persists (simhashNearDups
      // trackPersists its input, which here CONTAINS the decode plan —
      // without this, runs 2-3 read cached signatures and skip the
      // decode this tool exists to time)
      graft.GraftSession.unpersistAll()
      val t0 = System.nanoTime()
      val sigs = graft.multimodal.Decode
        .videoSignatures(stored, "vid_id", "payload")
        .toDF()
      val pairs = graft.text.Dedup.simhashNearDups(
        sigs.where(col("vhash").isNotNull)
          .select(col("vid_id"), col("vhash").as("simhash")),
        "vid_id", maxDistance = 8, maxBucket = 17000, multiProbe = true)
      val n = pairs.queryExecution.toRdd.count()
      println(f"[tvd] run$r ${(System.nanoTime() - t0) / 1e9}%.1f s  pairs=$n  sf=$sfDir")
    }
    // the 128-bit A/B: same decode cost, 4×32-bit bands — the
    // n²/2^16-per-band candidate term that turns the 64-bit path
    // superlinear around 10^5-10^6 signatures becomes n²/2^32
    for (r <- 1 to 3) {
      graft.GraftSession.unpersistAll()
      val t0 = System.nanoTime()
      val sigs = graft.multimodal.Decode
        .videoSignatures128(stored, "vid_id", "payload")
      val pairs = graft.text.Dedup.simhashNearDups128(
        sigs.where(col("simhash_lo").isNotNull),
        "vid_id", maxDistance = 7, maxBucket = 17000, multiProbe = true)
      val n = pairs.queryExecution.toRdd.count()
      println(f"[tvd] 128run$r ${(System.nanoTime() - t0) / 1e9}%.1f s  pairs=$n  sf=$sfDir")
    }
    spark.stop()
  }
}
