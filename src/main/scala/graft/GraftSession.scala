package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ParquetSource}

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
    *
    * Two more things make local mode cheaper without changing a result:
    *   - Local files go through [[graft.sources.ForkFreeLocalFileSystem]]
    *     and its `FileContext` twin [[graft.sources.ForkFreeLocalFs]].
    *     Both are registered because Spark writes through both: parquet
    *     sinks, staging and the drain harness through `FileSystem`; the
    *     streaming offset and commit logs and the state-store files
    *     through `FileContext`. Without libhadoop the stock classes start
    *     a `chmod` per created file and a `readlink` per rename; that
    *     fork/exec was most of a streaming drain's commit time.
    *   - The calling thread adopts the executor's task class loader as its
    *     context loader, and threads it starts later (query clients,
    *     stream execution, AQE and broadcast pools) inherit it. Spark keys
    *     its codegen cache on the context loader, so with the driver on
    *     the app loader and the tasks on the executor's loader every
    *     whole-stage class compiled twice, once per loader. The task
    *     loader delegates to the app loader, so class resolution is as
    *     before.
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
      // Spark keys its codegen cache on the context class loader, which is
      // per session while artifact isolation is on: every `newSession()`
      // query then recompiles all its classes on every run. graft adds no
      // session artifacts, so one shared loader loses nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (spark.sparkContext.isLocal) Thread.currentThread.setContextClassLoader(taskLoader(spark))
    spark
  }

  private val seenLoader = new AtomicReference[ClassLoader]

  /** The context class loader of the session's executor task threads, read
    * by one single-task job (local mode: the task runs in this JVM).
    */
  private def taskLoader(spark: SparkSession): ClassLoader = seenLoader.synchronized {
    spark.sparkContext.parallelize(Seq(0), 1)
      .foreach(_ => seenLoader.set(Thread.currentThread.getContextClassLoader))
    seenLoader.get
  }

  /** Table loader: TESTDATA layout is one parquet per table. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource.read(spark, s"$dir/$name.parquet")

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
