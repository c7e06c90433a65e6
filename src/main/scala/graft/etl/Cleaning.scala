package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Numeric cleaning + row validation + dense re-indexing.
  *
  * Re-expresses the reference's `validate_data` step
  * (/root/reference/dags/main.py:172-255) as pure `DataFrame => DataFrame`
  * transforms. Everything stays in one Catalyst plan: the cleaning
  * kernels, the validity predicate and the downstream consumer fuse into
  * a single WholeStageCodegen pass over the scan — no intermediate
  * materialization.
  */
object Cleaning {

  /** Keep digits and dot (reference: square). */
  val KeepNumericDot = "0123456789."

  /** Keep digits only (reference: population, communal_service_id, year). */
  val KeepDigits = "0123456789"

  /** Keep digits, dot, minus (reference: latitude/longitude). */
  val KeepSignedNumeric = "0123456789.-"

  /** The reference's cleaning idiom `regexp_replace(trim(c), "[^keep]", "")`
    * (main.py:178-183), as one native byte scan over the UTF-8 value
    * ([[graft.functions.KeepAsciiBytes]]): same result for every input,
    * without the UTF8String → String → regex → UTF8String round trip.
    */
  def cleanNumeric(c: Column, keep: String): Column =
    graft.functions.StringExprs.keepAsciiBytes(c, keep)

  /** Non-null, non-blank text (main.py:185-186). */
  def isNotEmpty(c: Column): Column = c.isNotNull && trim(c) =!= ""

  /** Unsigned decimal literal that survives a double cast (main.py:205-208). */
  def validDouble(c: Column): Column =
    c.rlike("^[0-9]+(\\.[0-9]+)?$") && c.cast(DoubleType).isNotNull

  /** Unsigned integer literal (main.py:209-216). */
  def validInt(c: Column): Column =
    c.rlike("^[0-9]+$") && c.cast(IntegerType).isNotNull

  /** Exactly four digits (main.py:201-204). */
  def validYear(c: Column): Column =
    c.rlike("^[0-9]{4}$") && c.cast(IntegerType).isNotNull

  /** Castable signed coordinate (main.py:197-200). */
  def validCoord(c: Column): Column = c.cast(DoubleType).isNotNull

  /** Sink-side date normalization (main.py:445-452): a bare 4-digit year
    * becomes "yyyy-01-01", then parses with `to_date`; anything already in
    * date form passes through the same parse. Non-parsable strings → null
    * (non-ANSI to_date), matching the reference's PySpark behavior.
    */
  def normalizeYearToDate(c: Column): Column =
    to_date(
      when(length(c) === 4, concat_ws("-", c, lit("01"), lit("01"))).otherwise(c),
      "yyyy-MM-dd")

  /** Faithful dense re-index (main.py:230-231): `row_number` over a GLOBAL
    * window. Correct but single-partition — small/medium data only. The
    * 100 TB path is [[reindexScalable]].
    */
  def reindex(df: DataFrame, order: Column, as: String): DataFrame =
    df.withColumn(as, row_number().over(Window.orderBy(order)).cast(LongType))

  /** Scale path for dense 1-based ids, pure DataFrame (stays in Catalyst —
    * codegen'd, AQE-visible, no RDD round-trip): range-partition on the
    * order key, sort within each partition, and number the rows with
    * `monotonically_increasing_id` (partition index in the high bits, row
    * within the partition in the low 33 — Spark's documented limit: fewer
    * than 2^33 rows per partition). That is ONE shuffle; numbering with a
    * window partitioned on `spark_partition_id()` costs a second, because
    * Catalyst cannot know the id is constant per partition and
    * hash-partitions the whole table on it. Per-partition offsets come
    * from the partition row counts (a #partitions-row frame, broadcast
    * back). Two passes over the sorted data — the persist boundary keeps
    * the range shuffle from running twice AND guarantees both passes see
    * the same ids. Equals the global-window [[reindex]] whenever the order
    * key is unique.
    */
  def reindexScalable(df: DataFrame, order: Column, as: String): DataFrame = {
    val reservedClash = df.columns.filter(Set("__pid", "__rn", "__off"))
    require(reservedClash.isEmpty,
      s"input columns use reserved internal names: ${reservedClash.mkString(", ")}")
    val sorted = graft.CachePool.persist(
      df.repartitionByRange(order)
        .sortWithinPartitions(order)
        .withColumn("__rn", monotonically_increasing_id())
        .withColumn("__pid", shiftright(col("__rn"), 33)))
    val offsets = sorted.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(
          sum("__cnt").over(
            Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__pid", "__off")
    sorted.join(broadcast(offsets), "__pid")
      .withColumn(as, col("__rn").bitwiseAND((1L << 33) - 1) + col("__off") + 1)
      .drop("__pid", "__rn", "__off")
  }
}
