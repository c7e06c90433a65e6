package graft.sources

import org.apache.spark.sql.{DataFrame, Row}

/** Batched external sink, re-expressing the reference's ClickHouse load
  * (/root/reference/dags/main.py:381-437) WITHOUT its fatal scale flaw:
  * the reference `collect()`s the whole table to the driver and loops over
  * 2000-row batches there. Here each *executor partition* drains its own
  * iterator in batches — the driver never sees a row, so throughput scales
  * with the number of partitions and memory use is one batch per task.
  */
object BatchSink {

  /** Stream every partition through `send` in `batchSize`-row groups.
    * `send` runs ON THE EXECUTOR (it must be serializable): typically a
    * JDBC/HTTP client INSERT per batch, opened once per partition by
    * wrapping in a connection-per-partition closure.
    */
  def foreachBatched(df: DataFrame, batchSize: Int = 2000)(send: Seq[Row] => Unit): Unit =
    df.foreachPartition { (rows: Iterator[Row]) =>
      rows.grouped(batchSize).foreach(send)
    }

  /** Columnar sink: partitioned parquet (the lake-native equivalent of the
    * reference's MergeTree `ORDER BY house_id` table — partition pruning
    * replaces the primary-key index for downstream readers).
    */
  def writeParquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    // Shuffle rows to their partition value first: without it every task
    // opens a file per partition value it happens to hold (tasks × values
    // small files); with it each value's rows land in one task's file.
    // The partition count is explicit: a repartition by columns alone is
    // one AQE may coalesce, down to a single task writing every file.
    val arranged =
      if (partitionCols.nonEmpty)
        df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
          partitionCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    val w = arranged.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }
}
