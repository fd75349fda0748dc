package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.text.{Dedup, DedupIndex}

/** Continuous-ingest dedup — the Structured Streaming form of the
  * q105 incremental-index pipeline. Each micro-batch is deduplicated
  * (a) within itself, then (b) against the PERSISTED [[DedupIndex]] of
  * everything already accepted; survivors are written out and appended
  * to the index, so per-batch cost is O(batch), not O(corpus).
  *
  * Exactly-once: the [[Streams.loggedBatch]] protocol. Step (a) makes
  * survivors mutually non-duplicate at the same threshold AND the same
  * `maxBucket` cap as step (b) (a cap mismatch would let a pair the
  * in-batch pass skipped reappear as a cross-index match on replay).
  */
object StreamingDedup {

  /** Start the ingest query: stream → `preFilter` → dedup → survivors
    * to `outPath/ingest_batch=<id>/` + index append. The index must
    * already exist ([[DedupIndex.write]], over an empty frame if need
    * be). `preFilter` is the curation hook, run before any dedup work:
    * language/quality/Gopher-rule filters, PII redaction, span
    * trimming. It must be deterministic and keep `idCol` and `textCol`. */
  def ingest(stream: DataFrame, idCol: String, textCol: String,
             indexName: String, outPath: String, checkpoint: String,
             threshold: Double = 0.8, maxBucket: Int = 1000,
             preFilter: DataFrame => DataFrame = identity,
             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foreachBatchSink(stream, checkpoint,
      (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, idCol, textCol, indexName, outPath,
          threshold, maxBucket, preFilter),
      trigger)

  /** One micro-batch of the ingest loop (public: the unit the spec
    * pins, and a direct entry point for batch-driven backfills). */
  def ingestBatch(batch0: DataFrame, batchId: Long, idCol: String,
                  textCol: String, indexName: String, outPath: String,
                  threshold: Double = 0.8, maxBucket: Int = 1000,
                  preFilter: DataFrame => DataFrame = identity): Unit =
    Streams.loggedBatch(batch0, batchId, indexName, outPath, preFilter,
      dedup = batch => {
        val p = DedupIndex.paramsOf(batch.sparkSession, indexName)
        // (a) in-batch, exact then near, at (b)'s threshold and cap
        val exact = Dedup.dropExactDups(batch, textCol, idCol)
        val pairs = Dedup.minhashNearDupsByWords(exact, idCol, textCol,
          n = p.n, numHashes = p.numHashes, numBands = p.numBands,
          threshold = threshold, maxBucket = maxBucket)
        // (b) against the index, self-matches excluded for the replay
        DedupIndex.dropDupsAgainst(Dedup.dropNearDups(exact, pairs, idCol),
          idCol, textCol, indexName, threshold, maxBucket,
          excludeSelfId = true)
      },
      append = DedupIndex.append(_, idCol, textCol, indexName))

  /** All survivor batches written so far (the pipeline's output view). */
  def survivors(spark: SparkSession, outPath: String): DataFrame =
    Streams.loggedOutput(spark, outPath)
}
