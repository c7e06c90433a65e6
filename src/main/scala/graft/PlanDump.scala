package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for a comma-separated list of queries to
  * one file per query — the per-query plan evidence the optimization
  * rounds commit as `plans/rN/<query>_{before,after}.txt`.
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]"`
  * e.g. `sbt "runMain graft.PlanDump plans/r19 before q_media_release"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // a failed explain still writes its file (the failure is itself
    // evidence worth inspecting) but the run EXITS NON-ZERO with the
    // failures named, so a contaminated plan dump cannot be committed
    // unnoticed as if it were a clean artifact (ADVICE r19)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      val body =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable =>
          failed += name
          s"explain failed: ${e.getMessage}"
        }
      Files.writeString(out, s"# $name ($suffix, $sfDir)\n$body")
      println(s"[plandump] wrote $out")
      // building a frame executes its eager prefix (pins, staged builds);
      // release per query so a long dump list can't accumulate blocks
      CachePool.releaseAll(); spark.catalog.clearCache()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[plandump] FAILED explains: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
