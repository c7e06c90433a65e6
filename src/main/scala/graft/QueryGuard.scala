package graft

import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness's one guarded query runner, shared by `Bench` and `Verify`.
  *
  * Each query runs under its own job group on a dedicated single-thread
  * executor, so on timeout the worker thread is INTERRUPTED (not abandoned
  * into a shared pool) and its jobs cancelled: one pathological query can
  * neither eat the whole run nor keep burning CPU under later timings.
  * A timed-out query's worker may keep submitting jobs (cancelJobGroup
  * kills only ACTIVE jobs) and re-registering persists, so its group is
  * re-cancelled and re-released before every later query. Every query
  * starts cold: stale groups released, cache cleared.
  *
  * `tag` prefixes the stderr lines (`[bench]`, `[verify]`).
  */
private[graft] final class QueryGuard(spark: SparkSession, timeoutSec: Long, tag: String) {
  import QueryGuard._

  private val staleGroups = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Runs `body` (which builds and drains the query) under job group
    * `group`; the elapsed seconds cover `body` and, on timeout, the
    * cancellation.
    */
  def run(name: String, group: String)(body: => Unit): Outcome = {
    staleGroups.foreach { g =>
      spark.sparkContext.cancelJobGroup(g)
      CachePool.releaseGroup(g)
    }
    spark.catalog.clearCache()
    val exec = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, group); t.setDaemon(true); t
    }
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val work = exec.submit(new Callable[Unit] {
      def call(): Unit = {
        // job groups are thread-local: set on the thread that builds the
        // plan AND submits the jobs, so CachePool registrations and job
        // cancellation both key on this query's group.
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      }
    })
    try {
      work.get(timeoutSec, TimeUnit.SECONDS)
      CachePool.releaseGroup(group)
      Ok(elapsed)
    } catch {
      case _: TimeoutException =>
        work.cancel(true)
        spark.sparkContext.cancelJobGroup(group)
        staleGroups += group
        System.err.println(s"[$tag] $name timed out after ${timeoutSec}s")
        Timeout(elapsed)
      case e: Throwable =>
        CachePool.releaseGroup(group)
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        Error(elapsed, e.getMessage)
    } finally exec.shutdownNow()
  }
}

private[graft] object QueryGuard {
  sealed trait Outcome { def seconds: Double }
  final case class Ok(seconds: Double) extends Outcome
  final case class Timeout(seconds: Double) extends Outcome
  final case class Error(seconds: Double, message: String) extends Outcome

  /** The `SPARK_GRAFT_ONLY` subset: a comma-list of query keys, tokens
    * trimmed and empty ones dropped. Absent or blank → None, the full
    * suite (the driver never sets it). An unknown name fails loudly.
    */
  def only(raw: Option[String]): Option[Set[String]] = {
    val keys = raw.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = keys -- SparkEntry.queries.keySet
    require(unknown.isEmpty, "SPARK_GRAFT_ONLY names unknown queries: " +
      unknown.toSeq.sorted.mkString(", "))
    Option(keys).filter(_.nonEmpty)
  }

  /** The queries `only` selects, in name order. */
  def select(only: Option[Set[String]]): Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => only.forall(_(n)) }
}
