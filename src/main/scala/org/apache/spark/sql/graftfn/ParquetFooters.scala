// Hosted under org.apache.spark.sql for private[sql] access to the session
// state and to the schema conversion Spark's parquet inference runs.
// Public face: graft.compile.ParquetEnv.
package org.apache.spark.sql.graftfn

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.MessageType
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet footers read on the driver: the schema Spark's inference would
  * derive and the row count, without the Spark job that
  * `spark.read.parquet(path)` starts to infer the schema.
  *
  * The schema is derived exactly as the inference derives it:
  * `ParquetFileFormat.readSchemaFromFooter` with the converter built from
  * the same session settings `mergeSchemasInParallel` reads. Every layout
  * that Spark would read differently returns None, and the caller keeps
  * `spark.read.parquet(path)`: glob paths, schema merging switched on,
  * subdirectories (partitioned trees), `_metadata`/`_common_metadata`
  * summary files, no data files, part files whose converted schemas
  * disagree, more part files than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold`, and any footer
  * that fails to read or convert (the inference then fails as it always
  * did).
  */
object ParquetFooters {

  /** What a path's part-file footers say. `rows` sums the row groups of
    * every part file; `nanoTimestampCols` are the top-level INT64
    * TIMESTAMP(NANOS) columns.
    */
  final case class Summary(schema: StructType, rows: Long,
                           nanoTimestampCols: Seq[String])

  def summary(spark: SparkSession, path: String): Option[Summary] =
    try {
      val conf = spark.sessionState.conf
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val files = if (conf.isParquetSchemaMergingEnabled ||
          SparkHadoopUtil.get.isGlobPath(root)) None
        else dataFiles(root, hadoopConf)
      files.filter(leaves => leaves.nonEmpty &&
          leaves.size <= conf.parallelPartitionDiscoveryThreshold)
        .flatMap { leaves =>
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              conf.parquetReaderRespectUnknownTypeAnnotation)
          val parts = leaves.map { f =>
            val meta = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, hadoopConf),
              ParquetMetadataConverter.NO_FILTER)
            val schema = ParquetFileFormat.readSchemaFromFooter(
              new Footer(f.getPath, meta), converter)
            (schema, nanoTimestampCols(meta.getFileMetaData.getSchema)) ->
              meta.getBlocks.asScala.map(_.getRowCount).sum
          }
          parts.map(_._1).distinct match {
            case Seq((schema, nanos)) =>
              Some(Summary(schema, parts.map(_._2).sum, nanos))
            case _ => None
          }
        }
    } catch { case NonFatal(_) => None }

  /** `spark.read.parquet(path)`, with the schema from `summary` when there
    * is one.
    */
  def read(spark: SparkSession, path: String,
           summary: Option[Summary]): DataFrame =
    summary.fold(spark.read.parquet(path))(
      s => spark.read.schema(s.schema).parquet(path))

  def nanoTimestampCols(schema: MessageType): Seq[String] =
    schema.getFields.asScala.toSeq.collect {
      case field if field.isPrimitive &&
          (field.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          }) => field.getName
    }

  /** The part files Spark's file index lists under `root`, sorted by path
    * as the inference sorts them, or None where it would list more than a
    * flat set of part files.
    */
  private def dataFiles(root: Path,
      hadoopConf: org.apache.hadoop.conf.Configuration): Option[Seq[FileStatus]] = {
    val fs = root.getFileSystem(hadoopConf)
    val status = fs.getFileStatus(root)
    val leaves =
      if (status.isFile) Seq(status)
      else fs.listStatus(root).toSeq
        .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
    val summaries = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    if (leaves.exists(s => s.isDirectory || summaries(s.getPath.getName) ||
        HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))) None
    else Some(leaves.sortBy(_.getPath.toString))
  }
}
