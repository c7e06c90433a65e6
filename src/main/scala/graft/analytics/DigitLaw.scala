package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BENFORD first-digit audit — the fraud/synthetic-data detector: the
  * leading digit of naturally-occurring multi-magnitude amounts follows
  * log₁₀(1+1/d); fabricated or range-clipped data does not. Per digit
  * the audit reports observed counts, observed vs expected ppm and the
  * absolute deviation; per source it carries a fixed-point chi-square
  * statistic (micro units) and the α=0.05 / df=8 rejection decision
  * (critical value 15.507).
  *
  * All arithmetic is exact fixed-point: expected ppm are the rounded
  * Benford constants (they sum to exactly 10⁶), and each chi-square
  * term is floor((10⁶·o_d − N·p_d)² / (N·p_d)) with the square in
  * DECIMAL(38,0)/HUGEINT — both engines replay every cell.
  *
  * Scale design: ONE hash aggregate to the 9-digit frame per source
  * (first digit extracted arithmetically — no strings in the hot path);
  * everything after runs on ≤9 rows.
  */
object DigitLaw {

  /** (digit, ppm·10⁶ of log10(1+1/d)) — sums to exactly 1 000 000. */
  val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** First (most significant) decimal digit of the positive BIGINT in
    * column `v` — log-free, string-free integer arithmetic. A CASE
    * ladder over the 18 decades a positive BIGINT spans picks the
    * largest power of ten ≤ v and divides once: v div 10^k with
    * 10^k ≤ v < 10^(k+1) IS the leading digit, bit-identically to a
    * divide-by-10 fold. Unlike the previous
    * `aggregate(sequence(1,18), …)` fold, the ladder is pure comparisons
    * and one division inside whole-stage codegen — higher-order
    * functions allocate the sequence array per row and evaluate their
    * lambda outside codegen, which made this expression the corpus
    * scan's bottleneck (r20, guide §4: prefer codegen-friendly builtins
    * in the per-row hot path). */
  private val FirstDigitExpr: String = {
    val branches = (18 to 1 by -1).map { k =>
      val p = "1" + "0" * k
      s"WHEN v >= ${p}L THEN v div ${p}L"
    }.mkString("\n")
    s"CAST(CASE\n$branches\nELSE v END AS INT)"
  }

  /** Benford audit of one positive-amount column; `source` labels the
    * output rows. Rows with non-positive amounts are excluded (Benford
    * is defined on positive magnitudes). */
  def benford(df: DataFrame, amount: Column, source: String): DataFrame = {
    val digits = df.select(amount.cast("long").as("v")).filter(col("v") > 0)
      .select(expr(FirstDigitExpr).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("observed"))
    val expected = digits.sparkSession.range(1)
      .select(explode(array(BenfordPpm.map { case (d, p) =>
        struct(lit(d).as("digit"), lit(p).as("expected_ppm"))
      }: _*)).as("x"))
      .select("x.*")
    // the preserved side of a left join cannot be its broadcast side:
    // hint the (≤ 9-row) observed digits instead
    val joined = expected.join(broadcast(digits), Seq("digit"), "left")
      .select(col("digit"), coalesce(col("observed"), lit(0L)).as("observed"),
        col("expected_ppm"))
    val n = joined.agg(sum("observed").as("n"))
    // n = 0 (no positive amounts at all) is NOT evidence against
    // Benford: ppm/terms pin to 0 so chi2 is 0 and the decision FALSE,
    // instead of a null boolean from a divide-by-zero
    val terms = joined.crossJoin(broadcast(n))
      .withColumn("observed_ppm",
        expr("CASE WHEN n = 0 THEN 0L ELSE observed * 1000000 div n END"))
      .withColumn("dev_ppm", abs(col("observed_ppm") - col("expected_ppm")))
      .withColumn("term_micro", expr(
        """CASE WHEN n = 0 THEN 0L ELSE
          |CAST((1000000 * observed - n * expected_ppm) AS DECIMAL(38,0)) *
          |CAST((1000000 * observed - n * expected_ppm) AS DECIMAL(38,0))
          |div (CAST(n AS DECIMAL(38,0)) * CAST(expected_ppm AS DECIMAL(38,0)))
          |END""".stripMargin))
    val chi = terms.agg(sum("term_micro").as("chi2_micro"))
    terms.crossJoin(broadcast(chi))
      .select(lit(source).as("source"), col("digit"), col("observed"),
        col("n"), col("observed_ppm"), col("expected_ppm"), col("dev_ppm"),
        col("chi2_micro"),
        (col("chi2_micro") >= 15507000L).as("benford_rejected"))
      .orderBy("digit")
  }
}
