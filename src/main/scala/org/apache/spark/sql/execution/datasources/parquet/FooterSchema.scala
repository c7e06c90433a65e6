package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schema inference with Spark's own helpers.
  *
  * `ParquetUtils.inferSchema` with `mergeSchema` off touches ONE file — a
  * summary file if there is one, otherwise the first data file by path —
  * but reads its footer inside a Spark job (`SchemaMergeUtils`). This
  * bridge picks the same file from the same leaf listing
  * (`InMemoryFileIndex.allFiles`) and reads that footer on the driver
  * through the same `readParquetFootersInParallel` / `readSchemaFromFooter`
  * pair, with the converter built from the five session flags
  * `ParquetFileFormat.mergeSchemasInParallel` reads. Those helpers are
  * `private[parquet]`, hence this package (the idiom of
  * `org.apache.spark.sql.graftbridge`).
  */
object FooterSchema {

  /** The data schema Spark would infer for `path`, or None where Spark
    * would not take the single-footer path: schema merging on, a
    * streaming sink directory (read through its metadata log), no file to
    * touch, or an unreadable footer under `ignoreCorruptFiles`. A None
    * sends the caller to the inferring read, which then behaves (and
    * fails) exactly as it always did.
    */
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConf()
    if (conf.isParquetSchemaMergingEnabled ||
        FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) return None
    val root = new Path(path)
    val qualified = root.getFileSystem(hadoopConf).makeQualified(root)
    val leaves = new InMemoryFileIndex(spark, Seq(qualified), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => Common, PARQUET_METADATA_FILE => Summary}
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val toTouch = named(Common).orElse(named(Summary))
      .orElse(leaves.find(f => !Set(Common, Summary).contains(f.getPath.getName)))
    toTouch.flatMap { f =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(f), conf.ignoreCorruptFiles)
        .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }
}
