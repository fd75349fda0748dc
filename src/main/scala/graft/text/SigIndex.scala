package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup dedup against a PERSISTED 64-bit-signature
  * index — the media counterpart of [[DedupIndex]]. One index serves
  * every operator that emits a 64-bit Hamming signature: image dHash
  * ([[graft.multimodal.Decode.imageSignatures]]), audio envelope/chroma
  * fingerprints, the video temporal hash, and text SimHash — a crawl
  * fingerprints new media in its scan stage and filters it against
  * the corpus WITHOUT rescanning a byte of old payload.
  *
  * The [[BandedIndex]] protocol (`_sigbuckets`, `_sigbucketcounts`,
  * `_meta` = the banding family) over the EXACT 4×16-bit chunks of
  * [[Dedup.simhashNearDups]]' banding, plus `<name>_sigs(id, sig)`,
  * bucketed by id, for Hamming verification. The index stores 4 rows
  * per signature; probing happens batch-side: 1-bit flips over each
  * chunk (17 buckets/band) guarantee recall to Hamming 7 — 4 bands
  * pigeonhole ≤ ⌊d/4⌋ flipped bits into some band, and probe radius 1
  * covers band-distance ≤ 1. (The in-corpus symmetric form reaches 11
  * because BOTH sides probe; an index that stored probes would pay 17×
  * the rows. 7 covers the measured re-encode classes — BASELINE.md r17
  * matrix.)
  */
object SigIndex {

  private val Bands = 4

  private def index(name: String) = new BandedIndex("SigIndex", name, "sig")

  /** (id, sig) rows; null sigs (undecodable payloads) are dropped —
    * they can never pair. */
  private def rowsOf(sigs: DataFrame, idCol: String,
                     sigCol: String): DataFrame =
    sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
      .where(col("sig").isNotNull)

  private def sigTable(name: String, s: DataFrame) =
    BandedIndex.Table(s"${name}_sigs", s, Seq("id"))

  /** Build (or rebuild) the index from (id, sig) rows. */
  def write(sigs: DataFrame, idCol: String, sigCol: String,
            name: String, numBuckets: Int = 16): Unit = {
    import sigs.sparkSession.implicits._
    val s = graft.GraftSession.trackPersist(rowsOf(sigs, idCol, sigCol))
    index(name).write(bandChunks(s), Seq(sigTable(name, s)),
      Seq((Bands, 16, numBuckets)).toDF("bands", "bits", "num_buckets"),
      numBuckets)
  }

  /** Append a batch of (id, sig) rows, e.g. the survivors of
    * [[dropDupsAgainst]]. */
  def append(sigs: DataFrame, idCol: String, sigCol: String,
             name: String): Unit = {
    checkFamily(sigs.sparkSession, name)
    val s = BandedIndex.snapshot(rowsOf(sigs, idCol, sigCol))
    index(name).append(bandChunks(s), Seq(sigTable(name, s)))
  }

  /** Loud guard against an index of another banding family. */
  private def checkFamily(spark: SparkSession, name: String): Unit = {
    val r = index(name).metaOf(spark)
    val (bands, bits) = (r.getAs[Int]("bands"), r.getAs[Int]("bits"))
    require(bands == Bands && bits == 16,
      s"SigIndex '$name' was built with a ($bands-band, $bits-bit) " +
        s"family; this build queries ($Bands, 16) — rebuild the index")
  }

  /** The exact 4×16-bit chunk rows of [[Dedup.simhashNearDups]]'
    * banding (the index stores these, never probe flips); `probeBits`
    * = 16 adds each chunk's one-bit flips for a batch-side probe. */
  private def bandChunks(s: DataFrame, probeBits: Int = 0): DataFrame =
    Dedup.bandRows(s, "id", Dedup.simhashChunks(col("sig")), probeBits)

  /** Near-dup pairs (id_new, id_old, hamming ≤ maxDistance) between a
    * batch of (id, sig) rows and the index, probed batch-side. Buckets
    * hot on either side are skipped ([[BandedIndex.candidates]]):
    * degenerate near-constant signatures pool there. */
  def nearDupsAgainst(batch: DataFrame, idCol: String, sigCol: String,
                      name: String, maxDistance: Int = 7,
                      maxBucket: Int = 17000,
                      excludeSelfId: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    require(maxDistance <= 7,
      s"query-side-probe banding guarantees recall only to Hamming 7 " +
        s"(got $maxDistance) — rebuild with a wider family for more")
    checkFamily(spark, name)
    val s = graft.GraftSession.trackPersist(rowsOf(batch, idCol, sigCol))
    // probes: each exact chunk, and the chunk with each one bit flipped
    val probed = graft.GraftSession.trackPersist(
      bandChunks(s, probeBits = 16).withColumnRenamed("id", "__new"))
    index(name).candidates(probed, "id", maxBucket, excludeSelfId)
      .join(s.select(col("id").as("__new"), col("sig").as("sig_new")),
        "__new")
      .join(spark.table(s"${name}_sigs")
          .select(col("id").as("__old"), col("sig").as("sig_old")),
        "__old")
      .select(col("__new").as("id_new"), col("__old").as("id_old"),
        Dedup.hamming(col("sig_new"), col("sig_old")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
  }

  /** The ingest filter: batch rows whose signature near-matches an
    * indexed one are dropped; survivors keep ALL their columns (the
    * caller appends them to the index + corpus). */
  def dropDupsAgainst(batch: DataFrame, idCol: String, sigCol: String,
                      name: String, maxDistance: Int = 7,
                      maxBucket: Int = 17000,
                      excludeSelfId: Boolean = false): DataFrame = {
    val dups = nearDupsAgainst(batch, idCol, sigCol, name,
      maxDistance, maxBucket, excludeSelfId)
      .select(col("id_new").as(idCol)).distinct()
    batch.join(dups, Seq(idCol), "left_anti")
  }
}
