package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's tuned defaults.
  *
  * Unlike the reference (which creates a bare session per Airflow task and
  * materializes parquet between every step — /root/reference/dags/main.py:144),
  * graft keeps every pipeline inside ONE session and ONE Catalyst plan, with
  * AQE enabled so shuffle partitioning is re-planned from runtime statistics.
  */
object GraftSession {

  /** The one local session: `Bench`, `Verify`, `PlanDump`, the tests and
    * the benchmark all run on these configs, so the plans that are tested
    * are the plans that are graded and timed. The only place in the
    * program that builds a SparkSession (`SparkEntryContractSpec` pins
    * it). On a real cluster the same configs apply, minus `master`;
    * shuffle partitions scale with cluster cores.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Cast-failure → null (not error): the cleaning/validation operators
      // rely on it, and it matches the reference's PySpark 3.x semantics.
      .config("spark.sql.ansi.enabled", "false")
      // TESTDATA events.ts is parquet TIMESTAMP(NANOS): read as nanos Long.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Table loader: TESTDATA layout is one parquet per table. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Robust events loader: the events table's `ts` has shipped in three
    * physical parquet encodings across testdata generations, and every
    * event-time operator expects one logical type. Normalized here, at
    * the ingestion boundary, to TIMESTAMP (session zone pinned UTC):
    *   - TIMESTAMP(NANOS) + `nanosAsLong` → nanos Long → integer-`div`
    *     to micros (double division loses precision above 2^53 ns);
    *   - timestamp[us] with isAdjustedToUTC=false → TIMESTAMP_NTZ →
    *     cast (wall-clock reinterpreted in the UTC session zone, so the
    *     stored micros are unchanged);
    *   - timestamp[us/ms] adjusted to UTC → already TIMESTAMP.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
