package graft.sources

import java.nio.file.Files
import java.security.Permission
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Counts the programs the JVM starts while a `GraftSession.local`
  * session writes files: a two-batch checkpointed stateful drain
  * (`dropDuplicates` into a parquet sink: offset and commit logs, state
  * store delta and checksum files, sink metadata) and a `partitionBy`
  * parquet write. A `SecurityManager` sees every exec, failed or not
  * (Hadoop's `readlink` wrapper swallows a failed one), so the JVM runs
  * with `-Djava.security.manager=allow`. Prints `key=value` lines for
  * `LocalFsSpec`: `exec.<program>` counts and the drain's row counts.
  */
object NoForkProbe {
  def main(args: Array[String]): Unit = {
    val execs = new ConcurrentLinkedQueue[String]
    System.setSecurityManager(new SecurityManager {
      override def checkPermission(perm: Permission): Unit = ()
      override def checkPermission(perm: Permission, context: AnyRef): Unit = ()
      override def checkExec(cmd: String): Unit = { execs.add(cmd); () }
    })
    val spark = GraftSession.local(cores = 2)
    import spark.implicits._
    val root = Files.createTempDirectory("graft-nofork").toString
    val (src, cp, sink) = (s"$root/src", s"$root/cp", s"$root/sink")
    def out(key: String, value: Any): Unit = println(s"$key=$value")

    def publish(batch: Int, keys: Seq[Long]): Unit =
      keys.map(k => (k, batch)).toDF("k", "batch").coalesce(1)
        .write.parquet(s"$src/b$batch")
    publish(0, 0L until 40L)
    val query = spark.readStream.schema("k LONG, batch INT").parquet(s"$src/*")
      .dropDuplicates("k")
      .writeStream.format("parquet")
      .option("checkpointLocation", cp)
      .start(sink)
    query.processAllAvailable()
    publish(1, 20L until 60L)
    query.processAllAvailable()
    query.stop()
    out("drain_batches", query.recentProgress.count(_.numInputRows > 0))
    out("drain_rows", spark.read.schema("k LONG, batch INT").parquet(sink).count())

    spark.range(0, 100).select(col("id"), (col("id") % 4).as("part"))
      .write.partitionBy("part").parquet(s"$root/parts")
    out("partition_rows", ParquetSource.read(spark, s"$root/parts").count())

    val started = execs.asScala.toSeq.map(c => c.substring(c.lastIndexOf('/') + 1))
    started.groupBy(identity).foreach { case (prog, n) => out(s"exec.$prog", n.size) }
    spark.stop()
  }
}
