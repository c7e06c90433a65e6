package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.functions.sum

/** One codegen cache for the whole session: with per-session artifact
  * class loaders, every `newSession()` query recompiled all of its
  * classes on every run; with the driver and the tasks on different
  * context loaders, every whole-stage class compiled twice.
  */
class GraftSessionSpec extends SparkSpec {

  test("a newSession query compiles (almost) nothing on its second run") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    def run(): Unit = {
      SparkEntry.queries("q_runtime_filter")(spark, Sf).collect(): Unit
      CachePool.releaseAll()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    run()
    val before = compiles.getCount
    run()
    val added = compiles.getCount - before
    assert(added <= 2, s"the second run compiled $added classes")
  }

  /** Bodies of the generated classes in Spark's codegen cache, one per
    * cache entry. The cache is keyed on (context class loader, source).
    */
  private def cachedSources(): Seq[String] = {
    val owner = CodeGenerator.getClass
    val get = owner.getDeclaredMethod("cache")
    get.setAccessible(true)
    val loading = get.invoke(CodeGenerator)
    val guava = loading.getClass.getMethod("cache").invoke(loading)
    val keys = Class.forName("org.sparkproject.guava.cache.Cache").getMethod("asMap").invoke(guava)
      .asInstanceOf[java.util.Map[(AnyRef, CodeAndComment), AnyRef]].keySet
    keys.asScala.toSeq.map(_._2.body)
  }

  test("a never-seen query shape compiles each generated class once") {
    val k = 1000003L + System.nanoTime() % 100000L
    spark.range(0, 64, 1, 2).selectExpr(s"id * $k AS v").filter("v % 3 = 0")
      .agg(sum("v")).collect(): Unit
    val mine = cachedSources().filter(_.contains(s"${k}L"))
    assert(mine.nonEmpty, "no cached class carries the query's constant")
    assert(mine.distinct.size === mine.size,
      s"${mine.size - mine.distinct.size} of ${mine.size} classes compiled under two loaders")
  }
}
