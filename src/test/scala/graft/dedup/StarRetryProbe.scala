package graft.dedup

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ExceptionFailure, SparkConf, SparkContext, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.GraftSession

/** Throws on the first attempt of every task that evaluates it. */
case class FailFirstAttempt() extends LeafExpression with Nondeterministic with CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0)
      throw new IllegalStateException("injected first-attempt failure")
    true
  }
}

/** Puts a [[FailFirstAttempt]] filter at the root of every optimized plan.
  * The root runs in the job's result stage, so every result task that
  * sees a row fails once and is retried — in the same stage as a
  * checkpoint job's edge tally.
  */
object FailResultTasksOnce extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case Filter(FailFirstAttempt(), _) => plan
    case _ => Filter(FailFirstAttempt(), plan)
  }
}

/** Runs the star-contraction tally, `starContractionCounted` and
  * `components` on a `local[4,3]` session (3 attempts per task) with and
  * without first-attempt result-task failures, and prints `key=value`
  * lines for `DedupSpec` to check. The distributed rounds run with the
  * advisory partition size at one byte; `starContractionCounted` and
  * `componentsAutoCounted` then run again in one task. A session's
  * task-retry budget is fixed when its SparkContext starts, so this runs
  * in its own JVM.
  */
object StarRetryProbe {
  def main(args: Array[String]): Unit = {
    new SparkContext(new SparkConf().setMaster("local[4,3]").setAppName("graft"))
    // adopts the running context, keeping the test sessions' SQL settings
    val spark = GraftSession.local(cores = 4)
    import spark.implicits._
    val failedResultTasks = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
        case _: ExceptionFailure if e.taskType == "ResultTask" =>
          failedResultTasks.incrementAndGet()
        case _ =>
      }
    })
    def out(key: String, value: Any): Unit = println(s"$key=$value")
    def labels(df: DataFrame): Set[(Long, Long)] = df.as[(Long, Long)].collect().toSet

    // an 80-edge chain plus the mixed fixture (chains, cliques, cycles,
    // an isolated pair) on disjoint ids
    val pairs = ((1000L until 1080L).map(i => (i, i + 1)) ++ Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))).toDF("id_a", "id_b")
    val round = DedupClusters.starRound(
      pairs.select(col("id_a").as("u"), col("id_b").as("v")))
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(advisory, "1")
    val (cleanStar, cleanRounds) = DedupClusters.starContractionCounted(pairs)
    val cleanStarLabels = labels(cleanStar)
    val cleanComponents = labels(DedupClusters.components(pairs))
    val (cleanAuto, _, cleanAutoRounds) = DedupClusters.componentsAutoCounted(pairs, 2)
    val cleanAutoLabels = labels(cleanAuto)

    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraOptimizations = Seq(FailResultTasksOnce)

    failedResultTasks.set(0)
    val (tallied, tally) = DedupClusters.truncateTallied(round, None)
    out("tally_failed_tasks", failedResultTasks.get())
    out("tally_rows", tally.rows)
    out("tally_fingerprint", tally.fingerprint)
    val hashes = tallied.select(xxhash64(col("u"), col("v"))).as[Long].collect()
    out("exact_rows", hashes.length)
    out("exact_fingerprint", hashes.sum)

    failedResultTasks.set(0)
    val (star, rounds) = DedupClusters.starContractionCounted(pairs)
    out("star_same_labels", labels(star) == cleanStarLabels)
    out("star_failed_tasks", failedResultTasks.get())
    out("star_rounds", rounds)
    out("star_clean_rounds", cleanRounds)

    failedResultTasks.set(0)
    out("components_same_labels", labels(DedupClusters.components(pairs)) == cleanComponents)
    out("components_failed_tasks", failedResultTasks.get())

    spark.conf.unset(advisory)
    failedResultTasks.set(0)
    val (oneStar, oneRounds) = DedupClusters.starContractionCounted(pairs)
    out("one_task_star_same_labels", labels(oneStar) == cleanStarLabels)
    out("one_task_star_rounds", oneRounds)
    val (oneAuto, escalated, oneAutoRounds) = DedupClusters.componentsAutoCounted(pairs, 2)
    out("one_task_auto_same", labels(oneAuto) == cleanAutoLabels)
    out("one_task_auto_escalated", escalated)
    out("one_task_auto_rounds", oneAutoRounds)
    out("one_task_auto_clean_rounds", cleanAutoRounds)
    out("one_task_failed_tasks", failedResultTasks.get())
    spark.stop()
  }
}
