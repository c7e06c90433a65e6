package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BpeExprs, MediaExprs, PackExprs, StringExprs, TextHashExprs, VecOps}

final case class FnRec(name: String, rows: Long, start: Double, end: Double, secs: Seq[Double])

/** Rows per second of the code-generated expressions behind the public
  * `graft.functions` entry points, each evaluated through the noop sink
  * over a seed-generated input that is materialized before timing.
  */
object FnBench {
  private val Reps = 3
  private val Vocab = ("a agg batch big column customer data fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window").split(" ")

  def run(spark: SparkSession, seed: Long, rows: Int): Seq[FnRec] = {
    val rnd = new scala.util.Random(seed)
    def h(i: Column, salt: Int): Column = xxhash64(col("id"), i, lit(seed + salt))
    def ints(n: Int, mod: Int, salt: Int): Column =
      transform(sequence(lit(1), lit(n)), i => pmod(h(i, salt), lit(mod)).cast("int"))
    val words = transform(sequence(lit(1), lit(24)),
      i => element_at(typedLit(Vocab.toSeq), (pmod(h(i, 1), lit(Vocab.length)) + 1).cast("int")))
    def vec(salt: Int): Column = transform(sequence(lit(1), lit(64)),
      i => ((pmod(h(i, salt), lit(2000)) - 1000) / 1000.0).cast("float"))
    val input = spark.range(rows).select(
      transform(sequence(lit(1), lit(48)), i => h(i, 0)).as("hashes"),
      words.as("words"),
      vec(2).as("va"), vec(3).as("vb"),
      ints(8, 16, 4).as("codes"),
      transform(sequence(lit(1), lit(16)),
        i => (pmod(h(i, 5), lit(60)) + 1).cast("int")).as("sizes"),
      concat_ws(" ", words, when(col("id") % 2 === 0, lit("caf\u00c3\u00a9")).otherwise(lit("")))
        .as("text"),
      unhex(concat(lit("89504E470D0A1A0A0000000D49484452"),
        lpad(hex(pmod(h(lit(1), 6), lit(4096)) + 1), 8, "0"),
        lpad(hex(pmod(h(lit(2), 6), lit(4096)) + 1), 8, "0"),
        lit("0806000000"))).as("png"))
      .localCheckpoint(true)
    val lut = typedLit(Seq.fill(8)(Seq.fill(16)(rnd.nextDouble())))
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "g", "ag" -> "g", "s" -> "t",
      "e" -> "r", "o" -> "r", "a" -> "r", "i" -> "n", "l" -> "e")
    val cases: Seq[(String, Column)] = Seq(
      "TextHashExprs.minhashSignature" -> TextHashExprs.minhashSignature(col("hashes"), 64),
      "TextHashExprs.windowPolyHash" -> TextHashExprs.windowPolyHash(col("hashes"), 5, 31L),
      "TextHashExprs.gramRepetitionStats" -> TextHashExprs.gramRepetitionStats(col("words"), 2),
      "VecOps.dotF" -> VecOps.dotF(col("va"), col("vb")),
      "VecOps.adcScore" -> VecOps.adcScore(col("codes"), lut),
      "BpeExprs.encodeCount" -> BpeExprs.encodeCount(col("words"), merges),
      "StringExprs.fixMojibake" -> StringExprs.fixMojibake(col("text")),
      "PackExprs.ffdBins" -> PackExprs.ffdBins(col("sizes"), 100),
      "MediaExprs.pngInfo" -> MediaExprs.pngInfo(col("png")))
    val out = cases.map { case (name, fn) =>
      val start = Runner.nowMs()
      val secs = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        noop(input.select(fn.as("r")))
        (System.nanoTime() - t0) / 1e9
      }
      FnRec(name, rows.toLong, start, Runner.nowMs(), secs)
    }
    graft.CachePool.releaseCheckpoint(input)
    out
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
