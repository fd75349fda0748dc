package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Incremental text dedup against a PERSISTED index — the
  * continuous-ingest form of the dedup family: the corpus pays its
  * shuffle ONCE, at write time, and each ingest batch then costs
  * O(batch), not O(corpus). The [[BandedIndex]] protocol over
  * MinHash-LSH bands of hashed word n-grams (`_buckets`,
  * `_bucketcounts`, `_meta` = (n, numHashes, numBands, numBuckets)),
  * plus two text tables:
  *  - `<name>_digests(digest, doc id)`, bucketed by digest — exact-dup
  *    lookups;
  *  - `<name>_grams(id, gram)`, bucketed by id — the 64-bit hashed gram
  *    stream, fetched for exact-Jaccard verification of candidates.
  * Tables hold ids + fixed-width longs/digests; the corpus TEXT is
  * never stored or rescanned. Gram hashing (xxhash64) and the seeded
  * MinHash family of [[Dedup]] are deterministic, so an index written
  * in one session joins against signatures computed in another.
  */
object DedupIndex {

  /** LSH/gram parameters an index is built with; persisted in
    * `<name>_meta` and re-read at query time. */
  case class Params(n: Int = 3, numHashes: Int = 64, numBands: Int = 16)

  private def index(name: String) = new BandedIndex("DedupIndex", name, "")

  private def digestOf(textCol: String) =
    md5(col(textCol).cast(BinaryType)).as("digest")

  /** `docs`' hashed gram stream (persisted: two consumers) and its LSH
    * band rows. */
  private def bandsOf(docs: DataFrame, idCol: String, textCol: String,
                      p: Params): (DataFrame, DataFrame) = {
    val grams = graft.GraftSession.trackPersist(
      Dedup.explodeHashedWordNgrams(docs, Seq(idCol), textCol, p.n, "gram"))
    val sigs = Dedup.minhashSignaturesFromGrams(
      grams, idCol, "gram", p.numHashes)
    (grams, Dedup.lshBuckets(sigs, idCol, "sig",
      p.numBands, p.numHashes / p.numBands))
  }

  /** `docs`' band rows and its rows for the two text tables. */
  private def rowsOf(docs: DataFrame, idCol: String, textCol: String,
                     name: String,
                     p: Params): (DataFrame, Seq[BandedIndex.Table]) = {
    val (grams, buckets) = bandsOf(docs, idCol, textCol, p)
    (buckets, Seq(
      BandedIndex.Table(s"${name}_grams", grams, Seq(idCol)),
      BandedIndex.Table(s"${name}_digests",
        docs.select(digestOf(textCol), col(idCol)), Seq("digest"))))
  }

  /** Build (or rebuild) the index for `docs`; `numBuckets` is the
    * storage bucket count ([[BandedIndex.write]]). */
  def write(docs: DataFrame, idCol: String, textCol: String,
            name: String, params: Params = Params(),
            numBuckets: Int = 16): Unit = {
    import docs.sparkSession.implicits._
    val (buckets, tables) = rowsOf(docs, idCol, textCol, name, params)
    index(name).write(buckets, tables,
      Seq((params.n, params.numHashes, params.numBands, numBuckets))
        .toDF("n", "num_hashes", "num_bands", "num_buckets"),
      numBuckets)
  }

  /** The parameters `name` was built with. */
  def paramsOf(spark: SparkSession, name: String): Params = {
    val r = index(name).metaOf(spark)
    Params(r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Add `docs` (e.g. the survivors of [[dropDupsAgainst]]) to the
    * index at its own `_meta` parameters — the ingest loop's closing
    * step, so an epoch never needs a full rebuild. */
  def append(docs: DataFrame, idCol: String, textCol: String,
             name: String): Unit = {
    val p = paramsOf(docs.sparkSession, name)
    val (buckets, tables) = rowsOf(BandedIndex.snapshot(docs), idCol,
      textCol, name, p)
    index(name).append(buckets, tables)
  }

  /** Exact duplicates of batch docs against the index: one row per
    * batch doc whose content digest exists in the index —
    * (new id, `dup_of` = the smallest matching indexed id).
    * `excludeSelfId` as in [[BandedIndex.candidates]]. */
  def exactDupsAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                       name: String,
                       excludeSelfId: Boolean = false): DataFrame = {
    index(name).requireExists(newDocs.sparkSession)
    val idx = newDocs.sparkSession.table(s"${name}_digests")
      .select(col("digest"), col(idCol).as("__old"))
    val hits = newDocs.select(col(idCol), digestOf(textCol))
      .join(idx, "digest") // index side exchange-free (bucketed)
    (if (excludeSelfId) hits.filter(col("__old") =!= col(idCol)) else hits)
      .groupBy(col(idCol)).agg(min(col("__old")).as("dup_of"))
  }

  /** Near-duplicate (batch doc, indexed doc) pairs at word-n-gram
    * Jaccard ≥ `threshold`, via the index's LSH buckets. Hot (band,
    * bucket) keys — on EITHER side — above `maxBucket` members are
    * dropped before the candidate join ([[BandedIndex.candidates]]).
    * Verification fetches gram SETS only for matched ids. Output:
    * (new id, old id, jaccard). */
  def nearDupsAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                      name: String, threshold: Double = 0.8,
                      maxBucket: Int = 1000,
                      excludeSelfId: Boolean = false): DataFrame = {
    val spark = newDocs.sparkSession
    val (newGrams, buckets) =
      bandsOf(newDocs, idCol, textCol, paramsOf(spark, name))
    val newBuckets = graft.GraftSession.trackPersist(buckets)
    // three consumers (both gram-set fetches and the verify join):
    // unpersisted, the batch ⋈ index bucket join — the query's heaviest
    // subtree — ran once per consumer. Two longs per candidate.
    val cand = graft.GraftSession.trackPersist(index(name).candidates(
      newBuckets.select(col(idCol).as("__new"), col("band"), col("bucket")),
      idCol, maxBucket, excludeSelfId))
    // exact-Jaccard verify over candidate ids only; the grams table is
    // bucketed by id, so its groupBy runs exchange-free
    def gramSets(grams: DataFrame, side: String) = grams
      .join(cand.select(col(side).as(idCol)).distinct(), idCol)
      .groupBy(col(idCol)).agg(collect_set(col("gram")).as("__sh"))
      .select(col(idCol).as(side), col("__sh").as(s"${side}_sh"))
    cand.join(gramSets(newGrams, "__new"), "__new")
      .join(gramSets(spark.table(s"${name}_grams"), "__old"), "__old")
      .select(col("__new").as("new_id"), col("__old").as("old_id"),
        round(Dedup.jaccard(col("__new_sh"), col("__old_sh")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The ingest-filter composition: batch docs that are neither exact
    * nor near duplicates of anything indexed. */
  def dropDupsAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                      name: String, threshold: Double = 0.8,
                      maxBucket: Int = 1000,
                      excludeSelfId: Boolean = false): DataFrame = {
    val exact = exactDupsAgainst(newDocs, idCol, textCol, name,
      excludeSelfId).select(col(idCol))
    val near = nearDupsAgainst(newDocs, idCol, textCol, name,
      threshold, maxBucket, excludeSelfId).select(col("new_id").as(idCol))
    newDocs.join(exact.union(near).distinct(), Seq(idCol), "left_anti")
  }
}
