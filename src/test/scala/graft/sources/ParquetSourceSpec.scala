package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.dedup.{BloomDedup, DedupData}
import graft.similarity.IvfKnn

/** The driver-side footer read must hand the reader exactly the schema
  * Spark's own inference would: on every test table, on directories the
  * program writes (a staged artifact, an index, a `partitionBy` sink), and
  * with the read-side flags that have changed ingestion before flipped.
  */
class ParquetSourceSpec extends SparkSpec {

  private val NtzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString

  private def withConf(kv: Seq[(String, String)])(f: => Unit): Unit = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The session conf, then each read-side flag flipped from it. */
  private def flagSettings: Seq[Seq[(String, String)]] = Seq(NtzKey, NanosKey).map { k =>
    Seq(k -> (!spark.conf.get(k).toBoolean).toString)
  }.prepended(Nil)

  /** The schema of each read, or the class of what it threw. */
  private def outcome(read: => DataFrame): Either[String, org.apache.spark.sql.types.StructType] =
    try Right(read.schema) catch { case e: Exception => Left(e.getClass.getSimpleName) }

  private def assertSameSchema(path: String): Unit = flagSettings.foreach { kv =>
    withConf(kv) {
      val viaFooter = outcome(ParquetSource.read(spark, path))
      val inferred = outcome(spark.read.parquet(path))
      assert(viaFooter === inferred, s"$path under $kv")
    }
  }

  private lazy val tables: Seq[String] =
    new java.io.File(Sf).list().filter(_.endsWith(".parquet")).sorted.toSeq

  test("every test table: the footer schema equals the inferred schema") {
    assert(tables.size >= 10, tables)
    tables.foreach(t => assertSameSchema(s"$Sf/$t"))
  }

  test("a staged dir, an index dir and a partitionBy dir read with the inferred schema") {
    val staged = SparkEntry.stagedDir("parquet_source_spec", Sf) { dd =>
      DedupData.withPlantedDups(table("documents")).select("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dd/docs")
    }
    assertSameSchema(s"$staged/docs")

    val ivf = tmp("ivf_src")
    IndexIO.saveIvf(spark,
      IvfKnn.fit(table("embeddings").select(col("embedding")), nlist = 4, seed = 1L), ivf)
    assertSameSchema(ivf)
    val bloom = tmp("bloom_src")
    IndexIO.saveBloom(spark,
      BloomDedup.buildFilter(table("documents"), col("text"), expectedItems = 100L),
      bloom, 100L, 0.03)
    assertSameSchema(bloom)

    // the partition column comes from the paths, not the footer
    val sink = tmp("sink_src")
    BatchSink.writeParquetPartitioned(
      table("orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
      sink, Seq("o_orderpriority"))
    assertSameSchema(sink)
    assert(ParquetSource.read(spark, sink).schema.fieldNames.last === "o_orderpriority")
  }

  test("TIMESTAMP(NANOS) without Spark metadata follows the nanosAsLong flag") {
    val dir = tmp("nanos_src")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      w.write(rows.newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    } finally w.close()
    assertSameSchema(dir)
    withConf(Seq(NanosKey -> "true")) {
      assert(ParquetSource.read(spark, dir).select("ts").as[Long](
        org.apache.spark.sql.Encoders.scalaLong).head() === 1700000000123456789L)
    }
  }

  test("an empty directory still fails with Spark's cannot-infer error") {
    val dir = tmp("empty_src")
    val e = intercept[AnalysisException](ParquetSource.read(spark, dir))
    assert(e.getMessage.contains("Unable to infer schema"), e.getMessage)
  }

  test("building the frame runs no Spark job") {
    val sc = spark.sparkContext
    def jobsFor(read: => DataFrame): Int = {
      val group = s"parquet_source_spec_${System.nanoTime()}"
      sc.setJobGroup(group, "schema inference probe")
      try read finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val path = s"$Sf/customer.parquet"
    assert(jobsFor(ParquetSource.read(spark, path)) === 0)
    assert(jobsFor(spark.read.parquet(path)) >= 1, "the inferring read no longer runs a job")
  }
}
