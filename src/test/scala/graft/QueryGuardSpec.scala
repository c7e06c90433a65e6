package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The guarded runner `Bench` and `Verify` share: each query reports ok /
  * timeout / error, and none leaves cached blocks or running jobs behind
  * for the next query. The slow query is ONE task on one row, sleeping
  * far past its timeout, so the cancel path is exercised without load.
  */
class QueryGuardSpec extends SparkSpec with Eventually {
  import QueryGuardSpec._

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("SPARK_GRAFT_ONLY: tokens trimmed, empty tokens dropped, unknown names rejected") {
    assert(QueryGuard.only(None) === None)
    assert(QueryGuard.only(Some("  ")) === None)
    assert(QueryGuard.only(Some(" , ,")) === None)
    assert(QueryGuard.only(Some(",q_geo_pipeline")) === Some(Set("q_geo_pipeline")))
    assert(QueryGuard.only(Some("q_geo_pipeline,, q_benford ")) ===
      Some(Set("q_geo_pipeline", "q_benford")))
    val e = intercept[IllegalArgumentException](
      QueryGuard.only(Some("q_geo_pipeline,q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
    assert(QueryGuard.select(Some(Set("q_geo_pipeline", "q_benford"))).map(_._1) ===
      Seq("q_benford", "q_geo_pipeline"))
    val all = QueryGuard.select(None).map(_._1)
    assert(all === SparkEntry.queries.keySet.toSeq.sorted)
  }

  test("a normal query reports ok and leaves no blocks under its group") {
    CachePool.releaseAll()
    def body(): Set[Int] = {
      val pinned = CachePool.pinCheckpoint(spark.range(100).toDF("id"))
      CachePool.persist(pinned.select((col("id") * 2).as("x"))).count()
      noop(pinned)
      persisted
    }
    body(); CachePool.releaseAll() // warm codegen outside the 2 s budget
    val before = persisted
    var during = Set.empty[Int]
    val out = new QueryGuard(spark, 2, "spec").run("q_fine", "guard-fine") {
      during = body() -- before
    }
    assert(out.isInstanceOf[QueryGuard.Ok], out)
    assert(during.size >= 2, "the query should have pinned and persisted frames")
    assert(CachePool.registered === 0)
    assert((persisted -- before).isEmpty, "blocks left under the query's group")
  }

  test("a query that throws reports error and its group is released") {
    CachePool.releaseAll()
    val before = persisted
    val out = new QueryGuard(spark, 2, "spec").run("q_boom", "guard-boom") {
      CachePool.persist(spark.range(10).toDF("id")).count()
      throw new IllegalStateException("planted failure")
    }
    out match {
      case QueryGuard.Error(_, msg) => assert(msg.contains("planted failure"))
      case other => fail(s"expected error, got $other")
    }
    assert(CachePool.registered === 0)
    assert((persisted -- before).isEmpty)
  }

  test("a query past its timeout reports timeout; its group is cancelled and " +
    "its pins released before the next query runs") {
    CachePool.releaseAll()
    val before = persisted
    val guard = new QueryGuard(spark, 2, "spec")
    val slow = guard.run("q_slow", "guard-slow") {
      CachePool.pinCheckpoint(spark.range(10).toDF("id")).count()
      noop(spark.range(1).repartition(1).select(sleepy(col("id"))))
    }
    assert(slow.isInstanceOf[QueryGuard.Timeout], slow)
    assert(slow.seconds < 10)
    // still registered: a timed-out worker may yet use its frames
    assert(CachePool.registered === 1)
    var seen = (-1, Set(-1))
    val next = guard.run("q_next", "guard-next") {
      seen = (CachePool.registered, persisted -- before)
    }
    assert(next.isInstanceOf[QueryGuard.Ok], next)
    assert(seen === ((0, Set.empty[Int])), "the timed-out group's pins outlived it")
    val tracker = spark.sparkContext.statusTracker
    val jobs = tracker.getJobIdsForGroup("guard-slow").toSeq
    assert(jobs.nonEmpty)
    eventually(timeout(Span(30, Seconds))) {
      val running = jobs.flatMap(tracker.getJobInfo)
        .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
      assert(running.isEmpty, "the timed-out group still has running jobs")
    }
  }
}

object QueryGuardSpec {
  /** One task sleeping far past any timeout here; the group cancel
    * interrupts it. */
  val sleepy = udf { (x: Long) => Thread.sleep(60000L); x }
}
