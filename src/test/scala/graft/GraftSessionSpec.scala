package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Child sessions share the codegen cache: with per-session artifact
  * class loaders, every `newSession()` query recompiled all of its
  * classes on every run.
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
}
