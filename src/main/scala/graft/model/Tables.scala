package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetSource

/** Typed views of the core tables: `Dataset[T]` with case-class encoders
  * where type safety pays (pipeline composition, streaming state, tests);
  * the DataFrame form stays primary where schemas are dynamic (generic
  * operators over caller-supplied columns).
  */
case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

object Tables {

  def docs(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/documents.parquet").as[Doc]
  }

  def embeddings(spark: SparkSession, dir: String): Dataset[Embedding] = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/embeddings.parquet").as[Embedding]
  }

  /** events.parquet stores nanos timestamps; normalize to micros first
    * (see SparkEntry.events), then bind types.
    */
  def events(spark: SparkSession, dir: String): Dataset[Ev] = {
    import spark.implicits._
    val raw = ParquetSource.read(spark, s"$dir/events.parquet")
    val fixed = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
    fixed.as[Ev]
  }
}
