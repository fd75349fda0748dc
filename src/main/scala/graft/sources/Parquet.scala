package graft.sources

import scala.util.control.NonFatal

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** Parquet read-by-path with the schema resolved on the driver — the
  * analogue of Pig's `LoadMetadata.getSchema`, which a loader answers at
  * plan time without starting a job.
  *
  * A schemaless `spark.read.parquet(path)` infers through Spark's
  * `mergeSchemasInParallel`, which is always a distributed job, even
  * when `mergeSchema` is off and it reads a single footer. [[read]]
  * makes the same file choice as Spark's `ParquetUtils.inferSchema` for
  * `mergeSchema=false` (over the file list Spark's own
  * `InMemoryFileIndex` produces: `_common_metadata`, else `_metadata`,
  * else the first data file by sorted path string), reads that one
  * footer on the driver, converts it exactly as the inference job would,
  * and hands the result to `spark.read.schema(...)`. Schema (metadata
  * included), rows and plan are the same; nothing is cached, so nothing
  * can go stale.
  *
  * Every input it does not resolve that way — `mergeSchema` on, a
  * streaming sink's output directory, a missing path or empty glob, no
  * data files, a footer that fails to read, a listing that fails — goes
  * to plain `spark.read.parquet`, so errors and edge behaviour are
  * Spark's own. */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None     => spark.read.parquet(paths: _*)
    }

  /** The schema `spark.read.parquet(paths)` would infer, from one footer
    * read on the driver; None where Spark's own inference must run. */
  private[graft] def footerSchema(spark: SparkSession,
                                  paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (new ParquetOptions(Map.empty[String, String], conf).mergeSchema)
      return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      // a streaming sink's output lists its files from its metadata log
      if (FileStreamSink.hasMetadata(paths, hadoopConf, conf)) return None
      val roots = org.apache.spark.sql.graft.bridge.readRoots(paths,
        hadoopConf)
      val files = new InMemoryFileIndex(spark, roots, Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val isSummary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !isSummary(f.getPath.getName)))
        .map { f =>
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS))
          // the converter mergeSchemasInParallel builds: these five
          // flags from the session, the rest at their static defaults
          ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation =
                conf.parquetReaderRespectUnknownTypeAnnotation))
        }
    } catch { case NonFatal(_) => None }
  }
}
