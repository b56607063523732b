package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema `spark.read.parquet(path)` infers, read from one footer on
  * the driver.
  *
  * Spark's non-merging inference reads a single footer too, but through
  * a Spark job (`mergeSchemasInParallel`): 24–58 ms per read, 0.8 s
  * over the 21 reads of one traced `catalog_serving` round (4 cores).
  * This makes the same choices without the job:
  *   - the same files: the leaves under `path` with hidden names
  *     (`_x`, `.x`, `x._COPYING_`) skipped, as the file index lists them;
  *   - the same footer: `_common_metadata`, then `_metadata`, then the
  *     first data file by path;
  *   - the same conversion: `ParquetFileFormat.readSchemaFromFooter`
  *     (Spark's own row metadata when the writer left it) with a
  *     converter over the session conf, so session flags such as
  *     `spark.sql.legacy.parquet.nanosAsLong` apply as they do to
  *     inference.
  * Partition columns are not in any footer; `spark.read.schema(...)`
  * still discovers them from directory names and appends them, as
  * inference does.
  */
object ParquetFooterSchema {

  def read(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summaries = Set(
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val chosen = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet file under $path"))
    val footer = new Footer(chosen.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(chosen, conf), SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(session.sessionState.conf))
  }
}
