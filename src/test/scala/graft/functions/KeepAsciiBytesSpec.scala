package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.etl.Cleaning

/** The cleaning kernel against the regex form it replaces:
  * `keepAsciiBytes(c, keep)` equals `regexp_replace(trim(c), "[^keep]", "")`
  * byte for byte, for every keep-set, on seeded ScalaCheck inputs, under
  * both codegen factory modes with whole-stage codegen on and off.
  */
class KeepAsciiBytesSpec extends SparkSpec {

  private val fragments = Seq("0", "7", "42", "3", ".", "-", " ", "  ", " ",
    "3 078.30", "м²", " м² ", "г.", " чел.", "n/a", "построен", "\t", "\n",
    "\u0000", "\u007f", "\u0085", "e", "+", "1,5", "🏠")

  private val unicode: Gen[Array[Byte]] = Arbitrary.arbitrary[String].map(_.getBytes(UTF_8))

  private val surrogatePairs: Gen[Array[Byte]] =
    Gen.listOf(Gen.oneOf(Gen.choose(0x10000, 0x10ffff), Gen.choose(0x20, 0x7e)))
      .map(cps => cps.map(cp => new String(Character.toChars(cp))).mkString.getBytes(UTF_8))

  /** Arbitrary bytes: mostly invalid UTF-8, decoded as-is by the cast. */
  private val rawBytes: Gen[Array[Byte]] = Gen.containerOf[Array, Byte](Arbitrary.arbitrary[Byte])

  private val numericLike: Gen[Array[Byte]] =
    Gen.listOf(Gen.oneOf(fragments)).map(_.mkString.getBytes(UTF_8))

  private val input: Gen[Option[Array[Byte]]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(Array.emptyByteArray)),
    4 -> numericLike.map(Some(_)),
    2 -> unicode.map(Some(_)),
    2 -> surrogatePairs.map(Some(_)),
    2 -> rawBytes.map(Some(_)))

  private val printable = (33 to 126).map(_.toChar)
  private val randomKeep: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(printable)).map(_.distinct.mkString)

  private val params = Gen.Parameters.default.withSize(30)
  private val inputs = Gen.listOfN(600, input).pureApply(params, Seed(20261019L))
  private val keepSets = Seq(Cleaning.KeepNumericDot, Cleaning.KeepDigits,
    Cleaning.KeepSignedNumeric, "]^\\-[", "0-9") ++
    Gen.listOfN(4, randomKeep).pureApply(params, Seed(7L))

  private def dropPattern(keep: String): String =
    keep.map(c => f"\\x${c.toInt}%02x").mkString("[^", "", "]")

  private def withConfs(kv: (String, String)*)(f: => Unit): Unit = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("keepAsciiBytes equals regexp_replace(trim(c), [^keep], \"\") for every keep-set and codegen mode") {
    val rows = inputs.zipWithIndex.map { case (b, i) => Row(i, b.orNull) }
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("b", BinaryType)))
    // an RDD source: a local relation would be folded on the driver
    val strings = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .select(col("i"), col("b").cast("string").as("s"))
    var changed = 0
    for {
      factory <- Seq("CODEGEN_ONLY", "NO_CODEGEN")
      wholeStage <- Seq("true", "false")
    } withConfs("spark.sql.codegen.factoryMode" -> factory,
        "spark.sql.codegen.wholeStage" -> wholeStage) {
      keepSets.foreach { keep =>
        val got = strings.select(col("i"),
            StringExprs.keepAsciiBytes(col("s"), keep).cast("binary"),
            regexp_replace(trim(col("s")), dropPattern(keep), "").cast("binary"))
          .collect()
        assert(got.length === inputs.length)
        got.foreach { r =>
          val (kernel, regex) = (r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))
          val ctx = s"[$factory wholeStage=$wholeStage keep='$keep' case ${r.getInt(0)}: " +
            s"${Option(inputs(r.getInt(0)).orNull).map(_.map("%02x".format(_)).mkString(" "))}]"
          assert((kernel == null) === (regex == null), ctx)
          if (kernel != null) {
            assert(java.util.Arrays.equals(kernel, regex), ctx)
            if (kernel.length != inputs(r.getInt(0)).get.length) changed += 1
          }
        }
      }
    }
    assert(changed > 1000, "the inputs barely exercise the drop path")
  }

  test("keep-sets are printable non-space ASCII") {
    intercept[IllegalArgumentException](StringExprs.keepAsciiBytes(col("s"), "0 1"))
    intercept[IllegalArgumentException](StringExprs.keepAsciiBytes(col("s"), "²"))
    intercept[IllegalArgumentException](StringExprs.keepAsciiBytes(col("s"), ""))
  }
}
