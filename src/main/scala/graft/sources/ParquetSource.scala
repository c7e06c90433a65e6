package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** The one parquet read path of the program.
  *
  * A plain `spark.read.parquet(path)` infers its schema in a Spark job: a
  * job per read, 11 of them in one pass of the reference DAG. The schema
  * comes from one footer (Spark's own choice, see [[FooterSchema]]), so it
  * is read on the driver here and handed to the reader, which then plans
  * the same relation without the job. The footer is read afresh on every
  * call (about a millisecond): nothing is cached, nothing can go stale.
  * Where Spark would not infer from a single footer, the read is the
  * inferring one, unchanged.
  */
object ParquetSource {

  def read(spark: SparkSession, path: String): DataFrame =
    FooterSchema.infer(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
}
