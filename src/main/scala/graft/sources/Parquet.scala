package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** The one parquet reader. It reads the schema from a single footer on the
  * driver and hands it to Spark, so building a frame from a parquet path
  * starts no Spark job: `spark.read.parquet(path)` learns the same schema
  * by running a one-task job, tens of times slower than the footer read
  * here. The footer and its conversion are Spark's
  * ([[FooterSchema]]), under the session conf current at the call. Where
  * that rule cannot reproduce Spark's inference — a glob path,
  * `mergeSchema` on, a path with no file to read — Spark infers, and its
  * errors stay its own. A partition directory takes the schema of its first
  * data file; Spark appends the partition columns to it. */
object Parquet {
  def read(spark: SparkSession, path: String): DataFrame =
    FooterSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
}
