package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.cosine_sim

/** IVF (inverted-file) approximate nearest neighbor — the scale path for
  * similarity search over an embedding corpus:
  *
  *  1. FIT: a coarse quantizer via Lloyd's k-means (deterministic seeded
  *     sample init, a few iterations). Each iteration is one scan:
  *     assignment is a codegen'd argmax over broadcast centroid literals;
  *     the update is a partial-aggregated per-cell mean.
  *  2. INDEX: each vector is assigned a cell id. At 100 TB the assigned
  *     table is written partitioned/clustered BY CELL, so a probe reads
  *     only nprobe cells' files — that layout is the entire point of IVF.
  *  3. SEARCH: rank the query's nprobe nearest cells, scan only those,
  *     exact cosine top-k within.
  *
  * Everything is DataFrame/Column work: no driver-side loops over data
  * (only over the k centroids, which are a handful of literals).
  */
object Ivf {

  final case class Model(assigned: DataFrame, centroids: Array[Seq[Float]],
                         idCol: String, vecCol: String)

  /** Cosine of a vector column against each centroid literal, as columns. */
  private def centroidSims(vec: Column, cents: Array[Seq[Float]]): Seq[Column] =
    cents.toIndexedSeq.map(c => cosine_sim(vec, typedlit(c)))

  /** argmax cell id over the centroids. Small k: a codegen'd chain of
    * comparisons over per-centroid literal columns (fastest, and the
    * plan shape PlanSpec pins). Large k (auto-k corpora): the native
    * [[graft.functions.NearestCells]] expression — one primitive loop
    * over the packed centroid matrix; a k-way comparison chain (or a
    * k-lambda HOF) is quadratic-in-corpus once k ∝ n. Both forms:
    * first index wins ties; NaN/empty similarities fall back to
    * cell 0. */
  private def nearestCell(vec: Column, cents: Array[Seq[Float]]): Column =
    if (cents.length <= 64) {
      val sims = centroidSims(vec, cents)
      val best = sims.reduce((a, b) => greatest(a, b))
      sims.zipWithIndex.foldRight(lit(0)) { case ((s, i), acc) =>
        when(s === best, lit(i)).otherwise(acc)
      }
    } else {
      graft.functions.VectorExpressions.nearest_cells(vec, cents, 1)(0)
    }

  /** Lloyd's k-means on a BOUNDED deterministic sample (the first
    * `sampleSize` vectors by id — a TakeOrdered, never a full sort),
    * iterated on the driver: quantizer training needs only a sample,
    * so the corpus is scanned exactly ONCE (the final assignment)
    * instead of once per iteration — at 100 TB that is iters full
    * scans saved, and the driver loop also sidesteps re-janino-ing the
    * k×dim literal assignment expression every round (which dominated
    * fit cost even at bench scale). The sample covers the whole corpus
    * below `sampleSize`, where this is exact full-data Lloyd. */
  /** Driver-side float budget for the fit sample: at dim 768 this caps
    * the sample near 21k vectors (~64 MB primitive), where the old
    * row-count-only default collected ~50M boxed floats. */
  private val fitSampleFloatBudget = 16 << 20

  /** Target rows per cell under auto-k (`k ≤ 0` in [[fit]]). A probe
    * reads nprobe cells in full, so per-query work is nprobe·cellSize —
    * constant once k scales as n / cellSize. A FIXED k means cells grow
    * with the corpus and every probe degrades linearly (the same
    * fixed-k trap the r12 SemDedup measurement exposed); recall at
    * fixed nprobe declines as k grows — raise nprobe (cost ∝ nprobe)
    * or this target (cost ∝ cellSize) to buy it back. */
  val TargetCellSize = 1024L

  /** Auto-k for a corpus of `n` vectors, capped at the fit sample
    * budget; warns through [[graft.functions.Warnings.driverWarn]]
    * when the cap clamps (past it, per-probe work grows linearly with
    * the corpus instead of staying constant). */
  private[graft] def autoK(n: Long, sampleSize: Int): Int = {
    // session-tunable via graft.ivf.targetCellSize (no recompile)
    val cellSize = graft.GraftSession.longConf(
      "graft.ivf.targetCellSize", TargetCellSize)
    val want = math.max(8L, n / math.max(1L, cellSize))
    if (want > sampleSize.toLong)
      graft.functions.Warnings.driverWarn(
        s"ivf auto-k capped at fit sample budget $sampleSize (corpus of " +
          s"$n vectors wants $want cells): per-probe work now grows with " +
          "the corpus. Shard the corpus or raise the fit sampleSize and " +
          "pass an explicit k.")
    math.min(sampleSize.toLong, want).toInt
  }

  def fit(emb: DataFrame, vecCol: String, k: Int, iters: Int,
          idCol: String = "vec_id", sampleSize: Int = -1): Model = {
    // sampleSize -1 = "not set explicitly" → session conf
    // graft.ivf.sampleSize decides (default 65536, the fit budget)
    val sampleEff =
      if (sampleSize > 0) sampleSize
      else graft.GraftSession.longConf(emb.sparkSession,
        "graft.ivf.sampleSize", 65536L).toInt
    // auto-k is capped at sampleEff: a centroid count beyond the fit
    // sample is meaningless (centroids seed FROM the sample) and the
    // uncapped value would drive a kEff-row driver collect below.
    // Past the cap cell sizes grow with the corpus again — warn loudly
    // rather than degrade silently (autoKCapped names the levers).
    val kEff =
      if (k > 0) k
      else autoK(emb.select(idCol).count(), sampleEff)
    // probe the dim from one row (LocalLimit(1) — stops as soon as a
    // usable row is found) so the sample row count scales DOWN with
    // dim: the driver holds at most ~fitSampleFloatBudget floats, as
    // primitive arrays, not a multi-GB boxed Seq at realistic dims.
    // The filter skips null/empty vectors: size(NULL) is NULL and a
    // leading null row must neither crash the probe nor collapse the
    // budget estimate to dim=1.
    val dimProbe = emb.select(size(col(vecCol)).as("d"))
      .where(col("d") > 0).head(1)
    if (dimProbe.isEmpty) // no usable vectors at all: one cell, no fit
      return Model(emb.withColumn("cell", lit(0)), Array.empty, idCol, vecCol)
    val probedDim = dimProbe(0).getInt(0)
    val rows = math.max(kEff,
      math.min(sampleEff, fitSampleFloatBudget / probedDim))
    // order by a HASH of the id, not the id: a raw-id prefix is a
    // biased sample whenever id order correlates with content (ids
    // assigned per source/crawl batch — the common case), and biased
    // centroids collapse out-of-prefix data into a few giant cells.
    // xxhash64 is deterministic, so fit stays reproducible.
    // null/empty vectors are in-scope corpus rows (they just never
    // pair) but carry no direction — keep them OUT of the fit sample:
    // a null would NPE the driver collect and an empty row would
    // contribute a zero centroid
    val sample: Array[Array[Float]] = emb
      .where(size(col(vecCol)) > 0)
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(rows)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    var centroids: Array[Array[Float]] = sample.take(kEff)
    // degenerate corpus (rows of empty/null vectors): one cell
    if (centroids.isEmpty)
      return Model(emb.withColumn("cell", lit(0)), Array.empty, idCol, vecCol)
    val dim = centroids(0).length
    // same metric + tiebreak + fallback as nearestCell: cosine, first
    // index wins, cell 0 when nothing compares (VectorExpressions
    // .nearestCellsOf is the shared primitive implementation)
    for (_ <- 0 until iters) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      // packed-matrix assignment (same math as assignOf, one flat loop —
      // the driver fit is O(sample × k × dim) per iter, which at auto-k
      // cell counts deserves the primitive form too)
      val k = centroids.length
      val flat = new Array[Float](k * dim)
      val norms = new Array[Double](k)
      var c0 = 0
      while (c0 < k) {
        val ct = centroids(c0); var i = 0; var nn = 0.0
        while (i < math.min(dim, ct.length)) {
          flat(c0 * dim + i) = ct(i); nn += ct(i).toDouble * ct(i); i += 1
        }
        norms(c0) = nn; c0 += 1
      }
      sample.foreach { v =>
        val c = graft.functions.VectorExpressions
          .nearestCellsOf(v, flat, norms, dim, k, 1)(0)
        counts(c) += 1
        val d = math.min(dim, v.length)
        var i = 0; while (i < d) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(centroids.length) { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val m = new Array[Float](dim)
          var i = 0; while (i < dim) {
            m(i) = (sums(c)(i) / counts(c)).toFloat; i += 1
          }
          m
        }
      }
    }
    val cents: Array[Seq[Float]] = centroids.map(_.toIndexedSeq)
    val assigned = emb.withColumn("cell", nearestCell(col(vecCol), cents))
    Model(assigned, cents, idCol, vecCol)
  }

  /** The query's nprobe nearest cells by centroid cosine — computed on the
    * driver over the k centroid literals (k is small by construction). */
  def probeCells(centroids: Array[Seq[Float]], query: Seq[Float],
                 nprobe: Int): Seq[Int] = {
    val qSims = centroids.map { c =>
      val n = math.min(c.length, query.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        dot += c(i).toDouble * query(i); na += c(i).toDouble * c(i)
        nb += query(i).toDouble * query(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    qSims.zipWithIndex.sortBy(-_._1).take(nprobe).map(_._2).toIndexedSeq
  }

  /** Probe the nprobe nearest cells, exact cosine top-k inside them.
    * In-memory form over the Model's lazily-defined assignment — each probe
    * re-scans and re-classifies the corpus, so this is for one-shot /
    * small-corpus use only. The scale path is [[writeIndex]] +
    * [[searchIndex]]: the assignment persisted cell-partitioned, probes
    * pruned at the file level. */
  def search(model: Model, query: Seq[Float], topK: Int,
             nprobe: Int): DataFrame =
    topKInCells(model.assigned, probeCells(model.centroids, query, nprobe),
      model.idCol, model.vecCol, query, topK)

  /** INDEX step — write the assigned table PARTITIONED BY CELL. At 100 TB
    * this layout is the entire point of IVF: a probe reads only its nprobe
    * cells' files (partition pruning on the `cell` directory column)
    * instead of scanning the corpus. */
  def writeIndex(model: Model, path: String): Unit =
    model.assigned.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** SEARCH over a written index: partition-pruned read of the nprobe
    * nearest cells, exact cosine top-k within. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  centroids: Array[Seq[Float]], idCol: String, vecCol: String,
                  query: Seq[Float], topK: Int, nprobe: Int): DataFrame =
    topKInCells(graft.sources.Parquet.read(spark, path),
      probeCells(centroids, query, nprobe),
      idCol, vecCol, query, topK)

  private def topKInCells(assigned: DataFrame, cells: Seq[Int], idCol: String,
                          vecCol: String, query: Seq[Float],
                          topK: Int): DataFrame =
    assigned
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol),
        round(cosine_sim(col(vecCol), typedlit(query)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
}
