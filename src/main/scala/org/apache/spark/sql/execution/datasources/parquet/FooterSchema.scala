package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's parquet inference would find for `path`, read from one
  * footer on the driver. Spark's own inference (`ParquetUtils.inferSchema`
  * with `mergeSchema` off) reads the same single footer, but always inside a
  * one-task Spark job (`SchemaMergeUtils.mergeSchemasInParallel`).
  *
  * The footer is converted by Spark's own code, `readParquetFootersInParallel`
  * then `readSchema`, so the Spark row metadata, INT96, nanos and NTZ rules
  * and the session conf that drives them stay Spark's. Both methods are
  * `private[parquet]`, which is why this object sits in Spark's parquet
  * package: a file in another `org.apache.spark.sql` package cannot call
  * them. */
object FooterSchema {

  /** `None` where the rule cannot reproduce Spark's inference, so the caller
    * hands the path to Spark: a glob path, `mergeSchema` on, or no file to
    * read (Spark then raises its own error). */
  def apply(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(root)) None
    else {
      val hadoopConf = session.sessionState.newHadoopConf()
      val leaves = leafFiles(root.getFileSystem(hadoopConf), root)
      // ParquetUtils.inferSchema: _common_metadata, else _metadata, else the
      // first data file, each in path order
      val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
      def first(p: String => Boolean) =
        leaves.filter(f => p(f.getPath.getName)).minByOption(_.getPath.toString)
      (summaries.map(n => first(_ == n)) :+ first(!summaries.contains(_))).flatten.headOption
        .flatMap { f =>
          ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
            hadoopConf, Seq(f), conf.ignoreCorruptFiles), spark)
        }
    }
  }

  /** Every file under `p` that Spark's file index lists: names Spark hides
    * (a leading `_` or `.` other than the two summary files, a
    * `._COPYING_` suffix) are skipped, partition directories recursed. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val children =
      try fs.listStatus(p).toSeq catch { case _: FileNotFoundException => Nil }
    children.filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .flatMap(c => if (c.isDirectory) leafFiles(fs, c.getPath) else Seq(c))
  }
}
