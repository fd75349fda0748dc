package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a single codegen'd scan with a
  * `TakeOrderedAndProject` at the end (no shuffle of the vectors
  * themselves, only of the per-partition top-k rows).
  *
  * Scale path: random-hyperplane LSH bucketing — each vector maps to a
  * small bit-bucket; a query probes only its own bucket, so a 100 TB
  * corpus reads one bucket's partitions instead of everything
  * (bucket column is a perfect partition/cluster key for the sink).
  */
object Similarity {

  /** Σ aᵢ·bᵢ in index order (deterministic double accumulation).
    * HOF reference form; the hot path uses the codegen'd
    * [[graft.functions.VectorExpressions.dot_product]] (bit-identical —
    * same accumulation order). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** HOF reference form of cosine; kept for differential testing. */
  def cosineHof(a: Column, b: Column): Column = {
    def normH(x: Column) = sqrt(dotHof(x, x))
    when(normH(a) > 0 && normH(b) > 0,
      dotHof(a, b) / (normH(a) * normH(b))).otherwise(lit(0.0))
  }

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine_sim(a, b)

  /** Brute-force cosine top-k against one query vector. The query vector is
    * a literal (broadcast by value into the codegen'd plan). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    val q = typedlit(query)
    emb.select(col(idCol), round(cosine(col(vecCol), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** EXACT all-pairs cosine above a threshold — the quadratic
    * verification twin for [[nearNeighborPairs]]. O(n²) codegen'd dot
    * products: a CHECK for bounded inputs, not a production path at
    * 100 TB. Rounds to 6 digits BEFORE the threshold filter, exactly
    * like the approximate pipeline, so the two pair sets are directly
    * comparable. */
  def exactCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    // Precompute each vector's norm ONCE (n sqrt's instead of 2·n² ) —
    // dot_product accumulates x(i)² in the same index order as
    // CosineSimilarity's norm loop, and sqrt(nx)=0 iff nx=0, so
    // dot/(na·nb) with the zero guard is bit-identical to cosine().
    val withN = emb.select(col(idCol), col(vecCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("__norm"))
    val a = withN.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      col("__norm").as("na"))
    val b = withN.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      col("__norm").as("nb"))
    // explicit broadcast (r18, the exactHammingPairs precedent): the
    // input is documented BOUNDED, and with estimate-based static
    // broadcasts off this non-equi join otherwise plans a
    // CartesianProduct — left-parts × right-parts tiny tasks whose
    // scheduling overhead dwarfs the dot products at gate scale;
    // BroadcastNestedLoopJoin runs one task per left partition
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosineOfNormed)
      .filter(col("cos_sim") >= threshold)
  }

  /** `cos_sim` of a pair from its sides' vectors and precomputed norms
    * (`vec_a`/`na`, `vec_b`/`nb`), rounded to 6 digits; 0 when either
    * vector is zero. */
  private def cosineOfNormed: Column =
    round(when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
      .otherwise(dot(col("vec_a"), col("vec_b")) /
        (col("na") * col("nb"))), 6).as("cos_sim")

  /** Random-hyperplane LSH signature — `numPlanes` sign bits packed into a
    * long. A native codegen'd expression (tight primitive loop), NOT array
    * HOFs (interpreted lambdas); the driver-side twin
    * [[graft.functions.VectorExpressions.signatureOf]] is bit-identical so
    * a literal query vector can be bucketed without a Spark job. */
  def lshSignature(vec: Column, numPlanes: Int): Column =
    graft.functions.VectorExpressions.hyperplane_signature(vec, numPlanes)

  /** LSH bucket id from `numPlanes` sign bits (2^numPlanes buckets). */
  def lshBucket(vec: Column, numPlanes: Int): Column =
    lshSignature(vec, numPlanes)

  /** The query's probe set: its own bucket plus every bucket within
    * hamming distance `radius` (multi-probe LSH — near neighbors that fell
    * one sign-flip away are recovered without a second index). */
  def multiProbeBuckets(sig: Long, numPlanes: Int, radius: Int = 1): Seq[Long] = {
    def masks(start: Int, r: Int): Seq[Long] =
      if (r == 0) Seq(0L)
      else (start until numPlanes).flatMap(p =>
        masks(p + 1, r - 1).map(m => m | (1L << p)))
    (0 to radius).flatMap(r => masks(0, r)).distinct.map(sig ^ _)
  }

  /** ANN top-k without a prebuilt index: one scan that keeps only rows in
    * the query's multi-probe bucket set, exact cosine rank within.
    * Approximate — recall depends on numPlanes/probeRadius. For repeated
    * queries build an [[AnnIndex]] instead: the same signature persisted
    * bucket-partitioned, so a probe READS only its buckets' files. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, numPlanes: Int = 4,
              probeRadius: Int = 1): DataFrame = {
    val q = typedlit(query)
    val qSig = graft.functions.VectorExpressions.signatureOf(query, numPlanes)
    val probes = multiProbeBuckets(qSig, numPlanes, probeRadius)
    emb.filter(lshSignature(col(vecCol), numPlanes).isin(probes: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** A persisted LSH index: the corpus written PARTITIONED BY BUCKET, so a
    * probe's `bucket IN (…)` filter prunes at the file level — at 100 TB a
    * query reads (probes/2^numPlanes) of the corpus instead of all of it.
    * This is the repeated-query scale path the one-shot [[annTopK]] scan
    * can't offer. */
  final case class AnnIndex(spark: SparkSession, path: String,
                            idCol: String, vecCol: String, numPlanes: Int) {
    def topK(query: Seq[Float], k: Int, probeRadius: Int = 1): DataFrame = {
      val qSig = graft.functions.VectorExpressions.signatureOf(query, numPlanes)
      val probes = multiProbeBuckets(qSig, numPlanes, probeRadius)
      val q = typedlit(query)
      val idx = graft.sources.Parquet.read(spark, path)
      // the partition column's type comes from directory-name inference
      // (IntegerType when values fit, StringType if inference is off) —
      // match the probe literals to it exactly so the filter both matches
      // and PRUNES without relying on implicit casts
      val typedProbes: Seq[Any] = idx.schema("bucket").dataType match {
        case IntegerType => probes.map(p => p.toInt: Any)
        case StringType  => probes.map(p => p.toString: Any)
        case _           => probes
      }
      idx.filter(col("bucket").isin(typedProbes: _*)) // partition-pruned read
        .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col(idCol))
        .limit(k)
    }
  }

  /** Build the bucket-partitioned index: one signature scan, one write. */
  def buildAnnIndex(emb: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int, path: String): AnnIndex = {
    emb.select(col(idCol), col(vecCol),
        lshSignature(col(vecCol), numPlanes).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    AnnIndex(emb.sparkSession, path, idCol, vecCol, numPlanes)
  }

  /** Size-aware banding for [[nearNeighborPairs]]: each band hashes into
    * 2^(planes/band) buckets, so with FIXED planes-per-band the expected
    * bucket size grows linearly with the corpus and eventually exceeds
    * `maxBucket` — the cap then DROPS those buckets and recall silently
    * collapses at scale. Scale planes-per-band with log2(n/targetBucket)
    * so E[bucket] ≈ targetBucket at any corpus size; band count stays
    * fixed (it sets the recall/cost trade, not the bucket size).
    * More planes per band lowers per-band collision probability, so the
    * auto mode suits NEAR-DUPLICATE thresholds (high cosine); for loose
    * thresholds pass explicit parameters and more bands. */
  def bandingFor(n: Long, numBands: Int = 8, targetBucket: Int = 64,
                 maxPlanesPerBand: Int = 31): (Int, Int) = {
    val ppb = math.min(maxPlanesPerBand, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) /
        math.log(2.0)).toInt))
    (ppb * numBands, numBands)
  }

  /** [[nearNeighborPairs]] with banding chosen from the corpus size (one
    * count job — negligible next to the signature scan it parameterizes). */
  def nearNeighborPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, numBands: Int = 8,
                            targetBucket: Int = 64,
                            maxBucket: Int = 1000): DataFrame = {
    val (planes, bands) = bandingFor(emb.count(), numBands, targetBucket)
    nearNeighborPairs(emb, idCol, vecCol, threshold, planes, bands, maxBucket)
  }

  /** All-pairs near neighbors above a cosine threshold — banded
    * multi-plane signatures, exactly the MinHash-LSH shape: `numPlanes`
    * sign bits split into `numBands` bands; two vectors are candidates iff
    * they agree on EVERY bit of ≥1 band (2^(planes/band) buckets per band,
    * not the 2^numPlanes-total of a single signature). Buckets larger than
    * `maxBucket` are dropped ([[graft.text.Dedup.cappedCandidatePairs]]),
    * so degenerate corpora can't go quadratic; exact cosine verifies
    * candidates only. Never a global cross join. */
  def nearNeighborPairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, numPlanes: Int = 32,
                        numBands: Int = 8, maxBucket: Int = 1000,
                        multiProbe: Boolean = false): DataFrame = {
    require(numPlanes % numBands == 0,
      s"numPlanes ($numPlanes) must be a multiple of numBands ($numBands)")
    val ppb = numPlanes / numBands
    require(ppb <= 63, s"planes per band must be <= 63, got $ppb")
    // each band's bucket is its OWN signature over planes
    // [b·ppb, (b+1)·ppb) — identical bits to slicing one packed
    // signature (the plane hash keys on the absolute plane index), but
    // with no 63-plane total cap, so [[bandingFor]] can keep E[bucket]
    // bounded at any corpus size. Total projection work is unchanged:
    // numBands × ppb = numPlanes plane projections per vector.
    //
    // The (id, vec, norm) projection feeds three consumers (banding +
    // both verify sides) — persist it once (tracked), mirroring the
    // Dedup pipelines, instead of re-evaluating the scan per consumer.
    // Norms precomputed once per vector, not once per candidate pair —
    // same bit-identical argument as [[exactCosinePairs]] (dot_product
    // accumulates squares in cosine()'s index order); the verify join
    // then does 1 dot per pair instead of a dot plus two norm loops
    val base = graft.GraftSession.trackPersist(
      emb.select(col(idCol), col(vecCol).as("__vec"),
        sqrt(dot(col(vecCol), col(vecCol))).as("__norm")))
    // multiProbe: the standard recall lever for sign-LSH — a vector
    // near a hyperplane flips that ONE sign bit under noise, so each
    // band also posts its ppb one-bit-flip neighbors (ppb+1 buckets
    // per band; two-sided probing collides any band within 2 sign
    // flips). Bucket populations grow (ppb+1)× — raise maxBucket
    // proportionally to keep the cap semantics.
    graft.text.Dedup.bandedPairs(base, idCol,
      (0 until numBands).map(b =>
        graft.functions.VectorExpressions.hyperplane_signature(
          col("__vec"), ppb, planeOffset = b * ppb)),
      probeBits = if (multiProbe) ppb else 0, maxBucket,
      s => Seq(col("__vec").as(s"vec_$s"), col("__norm").as(s"n$s")),
      cosineOfNormed, col("cos_sim") >= threshold)
  }
}
