package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface — a capability EXTENSION over the
  * reference (Pig's STREAM is an external-process pipe, §2.10 of
  * SURVEY.md; it has no incremental execution model). The same dataflow
  * shapes exposed by the batch DSL are available incrementally:
  * tumbling/sliding windows, session windows, watermarked dedup, and
  * arbitrary stateful processing via flatMapGroupsWithState on the
  * underlying Dataset.
  *
  * Design: each helper takes and returns DataFrames so a batch pipeline
  * can be re-pointed at a stream by swapping `spark.read` for
  * `spark.readStream` — operator code is identical (the Spark contract).
  */
object Streams {

  /** Streaming source over a parquet directory (file-arrival stream). */
  def readParquetStream(spark: SparkSession, path: String,
                        schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Tumbling event-time window aggregation with a watermark bounding
    * state: groupBy(window(ts)) keeps one partial aggregate per
    * (window, key) — state size is O(active windows × keys), not rows.
    * `valueCol` names the column to sum; pass None for count-only input
    * (the implicit "value" dependency was an undocumented trap). */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String,
                     valueCol: Option[String] = Some("value")): DataFrame = {
    val base = events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
    valueCol match {
      case Some(v) =>
        base.agg(count(lit(1)).as("n"), sum(col(v)).as("sum_value"))
      case None => base.agg(count(lit(1)).as("n"))
    }
  }

  /** Sliding window variant. */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowLen: String, slide: String,
                    watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Session windows: gap-based grouping, native session_window (state
    * merges adjacent sessions; the batch twin is q39_sessionize). */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Streaming dedup bounded by a watermark — the streaming form of
    * exact dedup (state holds keys only within the watermark horizon,
    * so it cannot grow without bound at 100 TB/day rates). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           watermark: String, keys: String*): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Stream-static enrichment: join each micro-batch against a batch
    * dimension table. The static side is re-read per batch (so slowly-
    * changing dims refresh). `hintBroadcast = true` (default) FORCES a
    * broadcast — right for a dimension that fits on executors; pass
    * false ONLY for a dim too big to broadcast, and expect a per-batch
    * shuffle join: the engine disables estimate-based static
    * broadcasts (GraftSession.tune — size estimates are untrusted) and
    * micro-batch plans do not run AQE, so there is no auto-broadcast
    * fallback on the streaming path. No state, no watermark needed:
    * the static side never adds rows to wait for. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       keys: Seq[String],
                       joinType: String = "inner",
                       hintBroadcast: Boolean = true): DataFrame =
    stream.join(if (hintBroadcast) broadcast(dim) else dim, keys, joinType)

  /** Watermarked stream-stream interval join — e.g. impressions joined
    * to clicks that arrive within `within` of the impression. BOTH sides
    * carry watermarks and the join condition bounds event-time distance,
    * so each side's buffered state is droppable once the other side's
    * watermark passes the interval: state is O(rows within the horizon),
    * never unbounded. Equality keys shuffle both streams to the same
    * state-store partitions (key-partitioned stateful join — the
    * streaming analog of the batch shuffle join). */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame,
                   rightTs: String, keys: Seq[String], within: String,
                   watermark: String): DataFrame = {
    require(keys.nonEmpty,
      "intervalJoin needs at least one equality key — a pure time-range " +
        "stream-stream join cannot partition state and would buffer " +
        "every row against every other")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    l.join(r, keyCond &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
  }

  /** Parquet file sink with checkpointing — exactly-once via the file
    * sink's transaction log (the durable end of a pipeline: a crashed
    * query restarted on the same checkpoint neither loses nor repeats a
    * batch). Append mode — file sinks cannot rewrite rows, so windowed
    * aggregations upstream need a watermark to emit finalized rows. */
  def writeParquetStream(df: DataFrame, path: String, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Escape hatch for sinks with no native streaming support: each
    * micro-batch arrives as a BATCH DataFrame plus its batch id — the id
    * is stable across restarts, so the function can be made idempotent
    * (the foreachBatch contract). */
  def foreachBatchSink(df: DataFrame, checkpoint: String,
                       f: (DataFrame, Long) => Unit,
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** One micro-batch of a LOGGED ingest loop over the persisted index
    * `indexName` — the foreachBatch body of [[StreamingDedup]] and
    * [[StreamingMediaDedup]]. Skip a batch id already in
    * `<indexName>_ingestlog`; snapshot `preFilter(batch)` (its plan is
    * re-evaluated per action while the index it joins changes);
    * `dedup` it; overwrite `outPath/ingest_batch=<id>/` with the
    * survivors; `append` them to the index; log the batch id LAST.
    *
    * Exactly-once (foreachBatch batch ids are stable across restarts):
    * a replayed committed batch is skipped; a batch replayed from the
    * crash window (appended, not logged) recomputes the SAME survivors
    * when `dedup` (a) excludes index matches with the batch's own
    * appended rows by id (`excludeSelfId`) and (b) leaves survivors its
    * index pass can never pair with each other — each caller says why
    * its in-batch pass qualifies. The survivor overwrite is then
    * idempotent. Two bounded divergences remain, recall-side only
    * (nothing is ever dropped as a false duplicate): the first run's
    * append can push a bucket over the cap, so the replay skips it one
    * batch early; and the double append leaves duplicate index rows —
    * lookups dedup by id, but the rows inflate the bucket counts. The
    * next epoch rebuild of the index heals both. Ids must be globally
    * unique over the stream's lifetime; `preFilter` and `dedup` must be
    * deterministic. */
  private[graft] def loggedBatch(batch: DataFrame, batchId: Long,
                                 indexName: String, outPath: String,
                                 preFilter: DataFrame => DataFrame,
                                 dedup: DataFrame => DataFrame,
                                 append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val log = s"${indexName}_ingestlog"
    val committed = spark.catalog.tableExists(log) &&
      !spark.table(log).filter(col("batch_id") === batchId).isEmpty
    if (!committed) {
      val mark = graft.GraftSession.mark()
      try {
        val survivors = graft.GraftSession.trackPersist(
          dedup(graft.text.BandedIndex.snapshot(preFilter(batch))))
        survivors.write.mode("overwrite")
          .parquet(s"$outPath/ingest_batch=$batchId")
        append(survivors)
        import spark.implicits._
        Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(log)
      } finally graft.GraftSession.unpersistSince(mark)
    }
  }

  /** Every survivor batch a [[loggedBatch]] loop wrote to `outPath`. */
  private[graft] def loggedOutput(spark: SparkSession,
                                  outPath: String): DataFrame =
    graft.sources.Parquet.read(spark, s"$outPath/ingest_batch=*")

  // ------------------------------------------------------------------
  // Arbitrary stateful processing (flatMapGroupsWithState) — running
  // per-key statistics that survive across micro-batches with explicit
  // timeout-based state eviction.
  case class KeyEvent(user_id: Long, value: Double)
  case class UserStats(user_id: Long, n: Long, total: Double)

  /** Running per-user count/total via explicit state — one small case
    * class per active key. In production pass
    * `GroupStateTimeout.ProcessingTimeTimeout` so idle keys are evicted
    * and the store stays bounded; tests use the default NoTimeout
    * (processing-time timeouts re-trigger empty batches forever, so
    * `processAllAvailable` would never settle). */
  def runningUserStats(events: org.apache.spark.sql.Dataset[KeyEvent],
                       timeout: org.apache.spark.sql.streaming.GroupStateTimeout =
                         org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      : org.apache.spark.sql.Dataset[UserStats] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val evict = timeout == GroupStateTimeout.ProcessingTimeTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, timeout) {
        (key: Long, rows: Iterator[KeyEvent], state: GroupState[UserStats]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(UserStats(key, 0L, 0.0))
            val batch = rows.toSeq
            val next = UserStats(key, prev.n + batch.size,
              prev.total + batch.map(_.value).sum)
            state.update(next)
            if (evict) state.setTimeoutDuration("1 hour")
            Iterator(next)
          }
      }
  }
}
