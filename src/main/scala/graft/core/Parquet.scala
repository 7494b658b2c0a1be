package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** The one parquet read of the engine: `spark.read.parquet(paths*)`
  * without its schema-inference job.
  *
  * A bare `spark.read.parquet` infers the schema by submitting a Spark
  * job that reads one footer (`SchemaMergeUtils.mergeSchemasInParallel`
  * always goes through `parallelize(...).collect()`), so building the
  * DataFrame runs work. Here the driver reads that same footer itself
  * and hands the schema to the reader, so building the DataFrame submits
  * no job. The schema is Spark's own: the footer Spark's inference would
  * touch (`_common_metadata`, then `_metadata`, then the first data file
  * in path order), read without row groups, converted by
  * `ParquetFileFormat.readSchemaFromFooter` (the stored Spark schema
  * when the writer left one, else `ParquetToSparkSchemaConverter` over
  * the session SQLConf, so `nanosAsLong` and friends apply). Partition
  * columns (`k=v` directories) are still inferred by the reader and
  * appended after the data columns, as before. The output directory
  * of a streaming file sink is listed from its `_spark_metadata` log,
  * as Spark's reader lists it.
  *
  * Schemas are not merged across files (Spark's default,
  * `mergeSchema=false`). A read that finds no file to take a schema
  * from (a missing path, an empty directory) goes to
  * `spark.read.parquet` unchanged, so the caller gets Spark's own error.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    schema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The data schema `spark.read.parquet(paths*)` would infer, read on
    * the driver; None when no path holds a parquet file. */
  private def schema(spark: SparkSession,
                     paths: Seq[String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sqlConf = spark.sessionState.conf
    val listed =
      if (paths.size == 1 && FileStreamSink.hasMetadata(paths, conf, sqlConf))
        new MetadataLogFileIndex(spark, new Path(paths.head), Map.empty, None)
          .allFiles()
      else paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        Option(fs.globStatus(path)).toSeq.flatten.flatMap(leaves(fs, _))
      }
    val files = listed.sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val footer = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !isSummary(f.getPath.getName)))
    footer.map { f =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(sqlConf))
    }
  }

  private def isSummary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** The files Spark's file index reads under `root`: the root itself
    * when it is a file; else its visible files, plus those under
    * `k=v` partition directories. Hidden names (`_x`, `.x`, in-flight
    * `._COPYING_`) are skipped, except the two summary files. */
  private def leaves(fs: FileSystem, root: FileStatus): Seq[FileStatus] =
    if (!root.isDirectory) Seq(root)
    else fs.listStatus(root.getPath).toSeq
      .filter(s => visible(s.getPath.getName))
      .flatMap { s =>
        if (!s.isDirectory) Seq(s)
        else if (s.getPath.getName.contains("=")) leaves(fs, s)
        else Nil
      }

  private def visible(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
      !((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_"))
}
