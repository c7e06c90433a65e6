package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ParquetSource

/** End-to-end re-expression of the reference DAG's data path:
  * ingest → clean → validate → dense re-index → type-normalize
  * (/root/reference/dags/main.py tasks 1-3), as ONE composed Catalyst plan.
  *
  * The reference writes parquet between every Airflow task; here each stage
  * is a `DataFrame => DataFrame` so Catalyst fuses the cleaning kernels
  * (one native byte scan per column, [[Cleaning.cleanNumeric]]), the
  * validity filter and the casts into a single codegen'd scan — at 100 TB
  * that saves two full materializations of the dataset. Both input tables
  * are read through [[graft.sources.ParquetSource]], whose schema comes
  * from a footer read on the driver rather than an inference job.
  *
  * The houses CSV itself is not part of the driver's testdata, so the
  * pipeline is exercised over a *deterministically derived* dirty table
  * built from `customer ⋈ nation` (same noise classes as the CSV: unit
  * suffixes, padding whitespace, non-numeric garbage, blank text fields).
  */
object GeoEstatePipeline {
  import Cleaning._

  /** Deterministic dirty "houses" table derived from customer ⋈ nation.
    * Invalid-row classes: custkey%11==0 → garbage square, %13==0 → garbage
    * year, %17==0 → blank region (mirrors the CSV's failure modes).
    */
  def dirtyHouses(spark: SparkSession, dir: String): DataFrame = {
    val c = ParquetSource.read(spark, s"$dir/customer.parquet")
    val n = ParquetSource.read(spark, s"$dir/nation.parquet")
    val k = col("c_custkey")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        k.as("src_id"),
        when(k % 11 === 0, lit(" n/a "))
          .otherwise(
            concat(
              lit("  "),
              ((k * 37) % 100000).cast(StringType),
              lit("."),
              lpad((k % 100).cast(StringType), 2, "0"),
              lit(" м² ")
            )
          )
          .as("square_raw"),
        when(k % 13 === 0, lit(" построен "))
          .otherwise(concat(((k % 120) + 1900).cast(StringType), lit(" г.")))
          .as("year_raw"),
        concat(lit(" "), col("c_nationkey").cast(StringType), lit(" чел.")).as("population_raw"),
        concat((k % 90).cast(StringType), lit("."), ((k * 7919) % 1000000).cast(StringType))
          .as("latitude_raw"),
        concat((k % 180).cast(StringType), lit("."), ((k * 104729) % 1000000).cast(StringType))
          .as("longitude_raw"),
        when(k % 17 === 0, lit("")).otherwise(col("n_name")).as("region"),
        col("c_mktsegment").as("locality_name"),
        concat(col("c_name"), lit(" / "), col("n_name")).as("address")
      )
  }

  /** Clean the raw text columns (reference task 2 part 1). */
  def cleaned(dirty: DataFrame): DataFrame =
    dirty
      .withColumn("square_s", cleanNumeric(col("square_raw"), KeepNumericDot))
      .withColumn("year_s", cleanNumeric(col("year_raw"), KeepDigits))
      .withColumn("population_s", cleanNumeric(col("population_raw"), KeepDigits))
      .withColumn("latitude_s", cleanNumeric(col("latitude_raw"), KeepSignedNumeric))
      .withColumn("longitude_s", cleanNumeric(col("longitude_raw"), KeepSignedNumeric))

  /** Validity predicate over the cleaned columns (reference task 2 part 2). */
  def isValidHouse: org.apache.spark.sql.Column =
    validDouble(col("square_s")) &&
      validYear(col("year_s")) &&
      validInt(col("population_s")) &&
      validCoord(col("latitude_s")) &&
      validCoord(col("longitude_s")) &&
      isNotEmpty(col("region")) &&
      isNotEmpty(col("locality_name")) &&
      isNotEmpty(col("address"))

  /** Clean + validate: the reference's `validate_data` output, pre-cast. */
  def validated(dirty: DataFrame): DataFrame =
    cleaned(dirty).filter(isValidHouse)

  /** Type-normalize WITHOUT the dense re-index — the default form for any
    * consumer that never reads `house_id` (all the aggregate queries). The
    * reference's `row_number() OVER (ORDER BY …)` funnels the whole table
    * through ONE partition; omitting it where the id is unused removes that
    * scale-killer from the plan entirely.
    */
  def typedUnindexed(valid: DataFrame): DataFrame =
    valid.select(
      col("src_id"),
      round(col("latitude_s").cast(DoubleType), 6).as("latitude"),
      round(col("longitude_s").cast(DoubleType), 6).as("longitude"),
      make_date(col("year_s").cast(IntegerType), lit(1), lit(1)).as("maintenance_year"),
      col("square_s").cast(DoubleType).as("square"),
      col("population_s").cast(IntegerType).as("population"),
      col("region"),
      col("locality_name"),
      col("address")
    )

  /** Re-index + type-normalize (reference task 3, faithful variant — the
    * global window is the reference's own semantics; [[Cleaning
    * .reindexScalable]] is the distributed form when dense ids ARE needed).
    */
  def typed(valid: DataFrame): DataFrame =
    reindex(typedUnindexed(valid), col("src_id"), "house_id")
      .select(
        col("house_id"), col("src_id"), col("latitude"), col("longitude"),
        col("maintenance_year"), col("square"), col("population"),
        col("region"), col("locality_name"), col("address"))

  /** Clean + validate + re-index + cast (reference tasks 2-3 fused). */
  def cleanValidateCast(dirty: DataFrame): DataFrame = typed(validated(dirty))

  /** Full pipeline over the derived dirty table. */
  def houses(spark: SparkSession, dir: String): DataFrame =
    cleanValidateCast(dirtyHouses(spark, dir))

  /** Full pipeline minus the dense re-index — what every aggregate query
    * should read (no single-partition window anywhere in the plan).
    */
  def housesUnindexed(spark: SparkSession, dir: String): DataFrame =
    typedUnindexed(validated(dirtyHouses(spark, dir)))

  /** The REAL input path: the reference's UTF-16 multiline CSV
    * (main.py:149-168 column set) through the same clean → validate →
    * reindex → cast plan. Column values arrive with unit suffixes,
    * non-breaking-space thousands separators ("3 078.30") and free-text
    * garbage — all handled by the same cleaning kernel the derived-table
    * variant exercises under the DuckDB oracle.
    */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = graft.sources.CsvSource.read(spark, path)
    val prepared = raw.select(
      col("house_id").cast(LongType).as("src_id"),
      cleanNumeric(col("square").cast(StringType), KeepNumericDot).as("square_s"),
      cleanNumeric(col("maintenance_year").cast(StringType), KeepDigits).as("year_s"),
      cleanNumeric(col("population").cast(StringType), KeepDigits).as("population_s"),
      cleanNumeric(col("latitude").cast(StringType), KeepSignedNumeric).as("latitude_s"),
      cleanNumeric(col("longitude").cast(StringType), KeepSignedNumeric).as("longitude_s"),
      col("region"), col("locality_name"), col("address"))
    typed(prepared.filter(isValidHouse))
  }
}
