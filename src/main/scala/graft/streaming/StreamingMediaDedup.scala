package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.text.{Dedup, SigIndex}

/** Continuous-ingest MEDIA dedup — the Structured Streaming form of
  * the q133 signature-index pipeline and the sibling of
  * [[StreamingDedup]] over [[SigIndex]]. Each micro-batch is
  * fingerprinted by the caller's `sign` hook (image dHash,
  * audio/chroma, video temporal hash), deduplicated (a) within itself,
  * then (b) against the index; survivors are written out and appended.
  *
  * Exactly-once: the [[Streams.loggedBatch]] protocol. Step (a) runs
  * MULTI-PROBE at the same `maxDistance` ≤ 7, which GUARANTEES every
  * ≤ maxDistance pair surfaces, so survivors are pairwise farther than
  * `maxDistance` and the replay's index pass cannot pair them.
  * Undecodable payloads carry null signatures: they never pair, so
  * they SURVIVE (reported upstream, never silently dropped) and
  * [[SigIndex.append]] skips them.
  */
object StreamingMediaDedup {

  /** Start the ingest query: stream → `sign` (fingerprint extraction,
    * must add `sigCol` and preserve `idCol` + payload columns;
    * deterministic, or replay idempotence breaks) → dedup → survivors
    * to `outPath/ingest_batch=<id>/` + index append. The index must
    * already exist ([[SigIndex.write]] over the seed corpus or an
    * empty frame). */
  def ingest(stream: DataFrame, idCol: String, sigCol: String,
             sign: DataFrame => DataFrame, indexName: String,
             outPath: String, checkpoint: String,
             maxDistance: Int = 7, maxBucket: Int = 17000,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foreachBatchSink(stream, checkpoint,
      (batch: DataFrame, batchId: Long) =>
        ingestBatch(sign(batch), batchId, idCol, sigCol, indexName,
          outPath, maxDistance, maxBucket),
      trigger)

  /** One micro-batch of the ingest loop (public: the unit the spec
    * pins, and a direct entry point for batch-driven backfills). The
    * batch must already carry `sigCol`. */
  def ingestBatch(batch0: DataFrame, batchId: Long, idCol: String,
                  sigCol: String, indexName: String, outPath: String,
                  maxDistance: Int = 7, maxBucket: Int = 17000): Unit = {
    require(maxDistance <= 7,
      s"the survivor-set idempotence argument needs the multi-probe " +
        s"guarantee, which holds to Hamming 7 (got $maxDistance)")
    Streams.loggedBatch(batch0, batchId, indexName, outPath, identity,
      dedup = batch => {
        // (a) in-batch, multi-probe at (b)'s distance and cap
        val pairs = Dedup.simhashNearDups(
          batch.select(col(idCol), col(sigCol).cast("long").as("simhash"))
            .where(col("simhash").isNotNull),
          idCol, maxDistance = maxDistance, maxBucket = maxBucket,
          multiProbe = true)
        // (b) against the index, self-matches excluded for the replay
        SigIndex.dropDupsAgainst(Dedup.dropNearDups(batch, pairs, idCol),
          idCol, sigCol, indexName, maxDistance, maxBucket,
          excludeSelfId = true)
      },
      append = SigIndex.append(_, idCol, sigCol, indexName))
  }

  /** All survivor batches written so far (the pipeline's output view). */
  def survivors(spark: SparkSession, outPath: String): DataFrame =
    Streams.loggedOutput(spark, outPath)
}
