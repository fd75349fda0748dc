package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted banded-signature index protocol under [[DedupIndex]]
  * (MinHash-LSH bands over word n-grams) and [[SigIndex]] (4×16-bit
  * chunks of 64-bit Hamming signatures). The families own how a
  * signature bands, how a batch probes, how a candidate verifies and
  * their extra tables; this core owns the rest:
  *  - `<name>_<prefix>buckets(id, band, bucket)`, bucketed by (band,
  *    bucket): the index side of every candidate join reads
  *    exchange-free, only the batch shuffles;
  *  - `<name>_<prefix>bucketcounts(band, bucket, n)`: populations
  *    aggregated at write time and merge-bumped on append, so the
  *    per-batch hot-bucket guard never re-aggregates the index;
  *  - `<name>_meta`: the family parameters, written LAST, so its
  *    existence marks a completely built index.
  * `family` names the index kind in errors and warnings. */
private[graft] final class BandedIndex(family: String, name: String,
                                       prefix: String) {
  import BandedIndex._

  private val buckets = s"${name}_${prefix}buckets"
  private val counts = s"${name}_${prefix}bucketcounts"
  private val meta = s"${name}_meta"

  /** Build (or rebuild): clear every table, store the band rows and the
    * family tables bucketed, aggregate the counts (exchange-free on the
    * bucketed table), write `metaRow`. `numBuckets` is the STORAGE
    * bucket count (files per table — scale with corpus size). */
  def write(bandRows: DataFrame, tables: Seq[Table], metaRow: DataFrame,
            numBuckets: Int): Unit = {
    val spark = bandRows.sparkSession
    (Seq(buckets, counts, meta) ++ tables.map(_.name))
      .foreach(dropStale(spark, _))
    (Table(buckets, bandRows, Seq("band", "bucket")) +: tables)
      .foreach(t => graft.dsl.Relation(t.rows, t.name)
        .storeBucketed(t.name, numBuckets, t.keys))
    countRows(spark.table(buckets))
      .write.format("parquet").mode("overwrite").saveAsTable(counts)
    metaRow.write.mode("overwrite").saveAsTable(meta)
  }

  /** Append a batch in O(batch + counts), never O(index): rows insert
    * under the catalog's bucket spec (later joins stay exchange-free)
    * and the counts merge-bump from their pre-append state. The rows
    * must derive from a [[snapshot]] of the batch: a survivor set READS
    * this index, and re-evaluated between the inserts it would see its
    * own partial appends and vanish from the later tables. Appends
    * accrete files; an epoch rebuild via [[write]] compacts them. */
  def append(bandRows: DataFrame, tables: Seq[Table]): Unit = {
    val spark = bandRows.sparkSession
    // pre-append count base: a present table changes only after the
    // merge below is snapshotted, but the self-heal fallback reads the
    // bucket table the inserts change — snapshot it, or the batch would
    // be counted twice
    val base =
      if (spark.catalog.tableExists(counts)) spark.table(counts)
      else snapshot(countsOf(spark))
    (Table(buckets, bandRows, Seq("band", "bucket")) +: tables)
      .foreach(t => t.rows.write.mode("append").insertInto(t.name))
    // the merge READS the table it replaces; a crash between the drop
    // and the rewrite is healed by readers ([[countsOf]])
    val merged = snapshot(base.unionByName(countRows(bandRows))
      .groupBy(col("band"), col("bucket")).agg(sum(col("n")).as("n")))
    dropStale(spark, counts)
    merged.write.format("parquet").mode("overwrite").saveAsTable(counts)
  }

  /** Fail loudly on an index never (completely) written — a catalog
    * lookup, no Spark job. */
  def requireExists(spark: SparkSession): Unit =
    require(spark.catalog.tableExists(meta),
      s"$family '$name' does not exist — write() it first")

  def metaOf(spark: SparkSession): Row = {
    requireExists(spark)
    spark.table(meta).head()
  }

  /** The count table, SELF-HEALING: if a crash left it missing,
    * recompute it from the intact bucket table (exchange-free) and
    * warn; the next write/append re-materializes it. */
  private def countsOf(spark: SparkSession): DataFrame =
    if (spark.catalog.tableExists(counts)) spark.table(counts)
    else {
      graft.functions.Warnings.driverWarn(
        s"$family '$name': _${prefix}bucketcounts missing (crash " +
          s"window?) — recomputing from _${prefix}buckets for this " +
          "query; the next write/append re-materializes it")
      countRows(spark.table(buckets))
    }

  /** Distinct (`__new`, `__old`) candidates: batch `probes` (`__new`,
    * band, bucket) joined to the indexed band rows (id column
    * `indexIdCol`). Buckets over `maxBucket` on EITHER side — index or
    * batch population — are dropped first: a bucket's pair count is
    * |old|×|new|, and the cap is the recall/cost lever for degenerate
    * content. `excludeSelfId` drops matches whose indexed id EQUALS the
    * batch id, so an ingest replay of an already appended batch does
    * not match itself ([[graft.streaming.Streams.loggedBatch]]). */
  def candidates(probes: DataFrame, indexIdCol: String, maxBucket: Int,
                 excludeSelfId: Boolean): DataFrame = {
    val spark = probes.sparkSession
    def hot(populations: DataFrame) =
      populations.filter(col("n") > maxBucket)
        .select(col("band"), col("bucket"))
    val cand = probes
      .join(hot(countsOf(spark)).union(hot(countRows(probes))).distinct(),
        Seq("band", "bucket"), "left_anti")
      .join(spark.table(buckets).select(col("band"), col("bucket"),
        col(indexIdCol).as("__old")), Seq("band", "bucket"))
      .select(col("__new"), col("__old"))
    (if (excludeSelfId) cand.filter(col("__old") =!= col("__new"))
     else cand).distinct()
  }
}

private[graft] object BandedIndex {

  /** A family table: written bucketed on `keys`, appended under the
    * catalog's bucket spec (columns by position). */
  final case class Table(name: String, rows: DataFrame, keys: Seq[String])

  private def countRows(bandRows: DataFrame): DataFrame =
    bandRows.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))

  /** Drop a table AND its orphaned warehouse directory: an in-memory
    * catalog forgets tables across sessions while the directories
    * survive, and a later saveAsTable refuses with
    * LOCATION_ALREADY_EXISTS. */
  private def dropStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Materialize `df` now and cut its lineage: a reliable checkpoint
    * when a checkpoint dir is set (survives executor loss), a local
    * one otherwise. */
  def snapshot(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
