package graft.text

import org.apache.spark.sql.DataFrame

/** Restartable multi-stage pipeline runner — the front door for
  * composing the crawl/curation stages ([[Html.dropBoilerplate]] →
  * [[TextAnalysis]] filters → [[Dedup.standardPipeline]] → …) into ONE
  * production job.
  *
  * Each stage materializes to parquet under `workDir/<NN>_<name>` and
  * the next stage reads that output. Two reasons this is the right
  * shape (measured, r16 — see BASELINE.md "pipeline scale stamp"):
  * composing many HOF-heavy stages into one Catalyst tree blows up
  * OPTIMIZATION itself (CollapseProject substitutes the extraction
  * regex battery into every downstream consumer — the driver spun
  * minutes before a task ran), and the materialized handoff is what
  * makes a multi-hour 100 TB run RESTARTABLE.
  *
  * Resume: a stage directory carrying `_SUCCESS` (written by Spark's
  * own output committer) is complete and is NOT recomputed — the run
  * resumes at the first incomplete stage, and every stage after a
  * recomputed one is invalidated in cascade (its input changed, so a
  * stale `_SUCCESS` downstream must not short-circuit it). A crashed
  * write leaves no marker and rebuilds.
  *
  * Logic fingerprints (r17): each completed stage dir also carries
  * `_graft_fingerprint` — a SHA-256 of the stage's canonicalized
  * ANALYZED plan over its actual input. On resume a marker only
  * short-circuits when the stored fingerprint matches the plan the
  * stage WOULD run now, so editing a stage's declarative logic
  * (thresholds, predicates, column lists, added/dropped stages)
  * recomputes it and everything downstream without manual deletes —
  * the classic silent-stale-checkpoint footgun in a multi-hour run.
  * The fingerprint is computed from the lazy plan (no job runs on the
  * skip path for pure-transformation stages), with JVM-run-dependent
  * tokens (synthetic `$$Lambda$N/0x…` class suffixes, `@identityHash`)
  * normalized away so a plain restart does not spuriously invalidate.
  * Honest limits, documented not hidden: (a) closure BODIES inside
  * typed ops (`map`/`mapPartitions` lambdas) are not in the plan — a
  * pure closure edit is invisible to the hash, the caller still owns
  * that invalidation (exactly the pre-r17 contract); (b) a stage
  * whose constructor does eager driver-side work (e.g. calibration
  * jobs) pays that work on every resume because building its plan
  * requires it — pass `fingerprints = false` to restore the pre-r17
  * marker-only resume (f is then not invoked on skipped stages);
  * (c) pre-r17 stage dirs carry no fingerprint file and recompute
  * once on first r17 resume (fail-safe over fast).
  *
  * `fanOut > 0` repartitions the input and every stage output: small
  * single-file intermediates otherwise collapse narrow per-row stages
  * to parallelism ONE (one parquet row group = one read task — the
  * filter stage ran 198 s at sf1 and 20x super-linear before this; a
  * many-file TB-scale stage output on a real cluster gets the same
  * balance from the scan, so 0 = off is the cluster default). */
object Pipeline {

  def run(input: DataFrame,
          stages: Seq[(String, DataFrame => DataFrame)],
          workDir: String,
          fanOut: Int = 0,
          fingerprints: Boolean = true): DataFrame = {
    require(stages.nonEmpty, "Pipeline.run: no stages")
    val names = stages.map(_._1)
    require(names.distinct.size == names.size,
      s"Pipeline.run: duplicate stage names: ${names.mkString(", ")} — " +
        "the resume key is (position, name)")
    val spark = input.sparkSession
    val root = new org.apache.hadoop.fs.Path(workDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fanned(df: DataFrame) =
      if (fanOut > 0) df.repartition(fanOut) else df
    var cur = fanned(input)
    var dirty = false
    for (((name, f), k) <- stages.zipWithIndex) {
      val dir = new org.apache.hadoop.fs.Path(root, f"$k%02d_$name")
      val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
      val fpFile = new org.apache.hadoop.fs.Path(dir, FingerprintFile)
      // lazy: with fingerprints off, f is never invoked for a stage
      // the marker skips (the pre-r17 contract, and what keeps eager
      // stage constructors free on resume)
      lazy val planned = f(cur)
      lazy val fp = stageFingerprint(planned)
      val complete = !dirty && fs.exists(marker) &&
        (!fingerprints || readFingerprint(fs, fpFile).contains(fp))
      if (!complete) {
        // invalidation cascades: this stage's input changed, its logic
        // changed (fingerprint mismatch), or it never completed —
        // recompute even under a stale marker
        fanned(planned).write.mode("overwrite").parquet(dir.toString)
        // fingerprint lands strictly AFTER the committer's _SUCCESS: a
        // crash between the two leaves marker-without-fingerprint,
        // which re-runs (fail-safe), never skips stale
        if (fingerprints) writeFingerprint(fs, fpFile, fp)
        dirty = true
      }
      cur = graft.sources.Parquet.read(spark, dir.toString)
    }
    cur
  }

  private val FingerprintFile = "_graft_fingerprint"

  /** SHA-256 of the stage's canonicalized analyzed plan — exprIds are
    * already position-normalized by `canonicalized`; synthetic lambda
    * class suffixes and identity hashes (the two JVM-run-dependent
    * token classes that leak into `toString` via typed-op function
    * arguments) are regex-normalized so the SAME code restarted in a
    * NEW JVM hashes identically. Both normalizations are anchored to
    * CLASS-NAME shapes, never bare `@hex` — a string LITERAL like
    * 'svc@c0de02' in a filter must keep its identity (rewriting it
    * would let an edit to that literal serve the stale checkpoint).
    * The lambda counter is optional: JDK 17 prints `$$Lambda$N/0x…`,
    * JDK 21+ drops the counter (`$$Lambda/0x…`) — both normalize.
    * Plan construction only — no job runs. */
  def stageFingerprint(df: DataFrame): String = {
    val norm = df.queryExecution.analyzed.canonicalized.toString
      .replaceAll("\\$\\$Lambda(\\$\\d+)?(/0x[0-9a-fA-F]+)?", "\\$\\$Lambda")
      // identity hashes only after a DOTTED (fully qualified) class
      // name — Object.toString always prints getClass.getName, which
      // carries the package; a bare word@hex is a literal, not a ref
      .replaceAll("((?:[\\w$]+\\.)+[\\w$]+)@[0-9a-fA-F]{1,16}\\b", "$1@x")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  private def readFingerprint(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bos = new java.io.ByteArrayOutputStream()
      try {
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
        Some(new String(bos.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }

  private def writeFingerprint(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path,
                               h: String): Unit = {
    val out = fs.create(p, true)
    try out.write(h.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
