package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CachePool, GraftSession, SparkEntry}

/** The benchmark's JVM side: one closed-loop client over the public entry
  * points. Reads a plan (java properties written by `perfbench/run.py`),
  * runs the verified pass, then timed passes until the time is up, and
  * writes every raw measurement as one JSON file. Metrics, oracle checks
  * and trace analysis happen in Python.
  *
  * Plan keys: data, dump, out, cores, seconds, trace (0|1), verify (query
  * order of the verified pass), passes (`;`-separated query orders, one
  * per timed pass), query_timeout_s, seed, fn_rows.
  */
object Runner {

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with nanosecond-timer resolution, on
    * the same time base as the listener timestamps.
    */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Largest heap in use right after a collection since the last reset:
    * the peak live set, which unlike raw pool peaks does not just track
    * how far the collector lets the young generation fill.
    */
  object LiveHeap extends javax.management.NotificationListener {
    @volatile var peakBytes = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }
  }

  final case class QRec(name: String, group: String, start: Double, buildEnd: Double,
                        execEnd: Double, releaseStart: Double, end: Double,
                        stagingS: Double, err: String,
                        storageMb: Double, blocksAfter: Long)

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"plan lacks $k"))
    val data = p("data")
    val dump = p("dump")
    val cores = p("cores").toInt
    val seconds = p("seconds").toDouble
    val trace = p("trace") == "1"
    val timeoutS = p("query_timeout_s").toLong
    val verifyOrder = p("verify").split(",").toSeq
    val passOrders = p("passes").split(";").toSeq.map(_.split(",").toSeq)

    val spark = GraftSession.local(cores)
    val sc = spark.sparkContext
    val worker = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }
    val stale = mutable.ArrayBuffer.empty[String]
    var probeStorage = false

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def dumpTo(q: String)(df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")

    def runQuery(q: String, group: String, sink: DataFrame => Unit): QRec = {
      stale.foreach { g => sc.cancelJobGroup(g); CachePool.releaseGroup(g) }
      spark.catalog.clearCache()
      val st0 = SparkEntry.stagingNanos.get()
      val start = nowMs()
      @volatile var buildEnd = Double.NaN
      @volatile var execEnd = Double.NaN
      var err = ""
      val work = worker.submit(new Callable[Unit] {
        def call(): Unit = {
          sc.setJobGroup(group, q, interruptOnCancel = true)
          try {
            val df = SparkEntry.queries(q)(spark, data)
            buildEnd = nowMs()
            sink(df)
            execEnd = nowMs()
          } finally sc.clearJobGroup()
        }
      })
      try work.get(timeoutS, TimeUnit.SECONDS)
      catch {
        case _: TimeoutException =>
          work.cancel(true); sc.cancelJobGroup(group); stale += group
          err = s"timeout after ${timeoutS}s"
        case e: java.util.concurrent.ExecutionException =>
          err = String.valueOf(e.getCause)
      }
      // a failed query's spans end where it failed
      val done = nowMs()
      if (buildEnd.isNaN) buildEnd = done
      if (execEnd.isNaN) execEnd = done
      if (err.nonEmpty) System.err.println(s"[perfbench] $q failed: $err")
      val storageMb = if (probeStorage) {
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      } else 0.0
      val releaseStart = nowMs()
      CachePool.releaseGroup(group)
      val end = nowMs()
      val blocks = if (probeStorage) sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
        else 0L
      QRec(q, group, start, buildEnd, execEnd, releaseStart, end,
        (SparkEntry.stagingNanos.get() - st0) / 1e9, err, storageMb, blocks)
    }

    // ── verified pass: every query once, result dumped for the oracle
    val verified = verifyOrder.map(q => runQuery(q, s"verify-$q", dumpTo(q)))
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), json.writeValueAsString(
      verifyOrder.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap))
    LiveHeap.install()
    val setupEndMs = nowMs()

    // ── timed passes, at least one. A traced run has at least three, the
    // middle one carrying the probes, so that warm-up still going on in the
    // early passes weighs on the untraced passes on both sides of it.
    val minPasses = if (trace) 3 else 1
    val streams = new StreamProbe
    val layers = new LayerListener(streams)
    final case class PassRec(traced: Boolean, wallS: Double, cpuS: Double, jitS: Double,
                             retainedMb: Double, qs: Seq[QRec])
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val deadline = setupEndMs + seconds * 1000
    var i = 0
    while (i < passOrders.size && (i < minPasses || nowMs() < deadline)) {
      val traced = trace && i % 2 == 1
      if (traced) {
        sc.addSparkListener(layers); probeStorage = true
      }
      val c0 = cpuBean.getProcessCpuTime
      val j0 = jitBean.getTotalCompilationTime
      val t0 = nowMs()
      val qs = passOrders(i).map(q => runQuery(q, s"p$i-$q", noop))
      val wall = (nowMs() - t0) / 1e3
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
      val jit = (jitBean.getTotalCompilationTime - j0) / 1e3
      // what the pass left alive: heap in use after a full collection. The
      // first collection queues the pass's dropped broadcasts and shuffles
      // for Spark's ContextCleaner, which frees their blocks on its own
      // thread; the second one, a moment later, reclaims those blocks.
      System.gc()
      Thread.sleep(1000)
      System.gc()
      val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passes += PassRec(traced, wall, cpu, jit, retained, qs)
      if (traced) {
        // deliver the pass's queued events before the probes come off
        org.apache.spark.perfbench.BusDrain.drain(sc)
        sc.removeSparkListener(layers)
        probeStorage = false
      }
      i += 1
    }
    val peakHeapMb = LiveHeap.peakBytes / 1048576.0
    val timedEndMs = nowMs()

    val fns = if (trace) FnBench.run(spark, p("seed").toLong, p("fn_rows").toInt) else Nil
    worker.shutdownNow()

    def qMap(r: QRec) = Map(
      "name" -> r.name, "group" -> r.group, "start" -> r.start, "build_end" -> r.buildEnd,
      "exec_end" -> r.execEnd, "release_start" -> r.releaseStart, "end" -> r.end,
      "staging_s" -> r.stagingS, "error" -> r.err,
      "storage_mb" -> r.storageMb, "blocks_after_release" -> r.blocksAfter)
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    val out = json.writeValueAsString(Map(
      "spark_version" -> spark.version,
      "jvm_version" -> (System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "master" -> sc.master,
      "configs" -> conf.toMap,
      "setup_end_ms" -> setupEndMs,
      "timed_end_ms" -> timedEndMs,
      "peak_heap_mb" -> peakHeapMb,
      "verify" -> verified.map(qMap),
      "passes" -> passes.toSeq.map(ps => Map(
        "traced" -> ps.traced, "wall_s" -> ps.wallS, "cpu_s" -> ps.cpuS,
        "jit_s" -> ps.jitS, "retained_heap_mb" -> ps.retainedMb,
        "queries" -> ps.qs.map(qMap))),
      "jobs" -> layers.jobs.toSeq.map(j => Map(
        "id" -> j.id, "start" -> j.startMs, "end" -> j.endMs, "details" -> j.details,
        "sql_details" -> layers.sqlDetails.getOrElse(j.sqlExecution, ""),
        "streaming" -> j.streaming, "ok" -> j.ok, "stages" -> j.stageIds)),
      "stages" -> layers.stages.toSeq.map(s => Map(
        "id" -> s.id, "submit" -> s.submitMs, "complete" -> s.completeMs,
        "tasks" -> s.tasks,
        "totals" -> layers.stageTotals.getOrElse(s.id, new Counters).v)),
      "progress" -> streams.progress.toSeq.map { case (at, c) =>
        Map("at" -> at, "totals" -> c.v)
      },
      "functions" -> fns.map(f => Map(
        "name" -> f.name, "rows" -> f.rows, "start" -> f.start, "end" -> f.end,
        "secs" -> f.secs))
    ))
    Files.writeString(Paths.get(p("out")), out)
    spark.stop()
  }
}
