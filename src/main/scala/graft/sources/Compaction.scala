package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Small-file compaction: the standing maintenance task of any parquet
  * lake. Streaming sinks and fine-grained partitioned writes accumulate
  * files far below the ideal scan unit; a 100 TB table fragmented into
  * 4 MB files pays ~30k× the driver listing cost and loses vectorized-read
  * efficiency.
  *
  * Strategy: size the output file count from the actual byte size
  * (`targetBytes` per file, e.g. 128-512 MB), rewrite with a plain
  * `repartition(n)` (round-robin — balanced without a shuffle key), then
  * atomically swap directories. On object stores the swap is a manifest
  * commit; the local-FS variant here uses two renames.
  */
object Compaction {

  private def withWalk[A](dir: String)(f: Iterator[Path] => A): A = {
    val stream = Files.walk(Paths.get(dir))
    try f(stream.iterator().asScala) finally stream.close()
  }

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(rm) finally s.close()
    }
    Files.delete(p)
  }

  /** Bytes under `dir` (recursive, data files only). */
  def dataBytes(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else withWalk(dir)(_
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_"))
      .map(Files.size).sum)

  /** Number of parquet part-files under `dir`. */
  def dataFiles(dir: String): Int =
    withWalk(dir)(_.count(_.getFileName.toString.endsWith(".parquet")))

  /** Rewrite `dir` into ~`targetBytes`-sized files. Returns the new file
    * count. Compression makes on-disk size ≈ input size, so the input
    * byte count is the sizing signal.
    *
    * Re-runnable: stale tmp/old directories from a previous failed run
    * are removed BEFORE the (expensive) rewrite. The two renames at the
    * end are the local-FS stand-in for an object store's atomic manifest
    * commit — a crash exactly between them leaves the data safe in
    * `.compact_old` for manual (or next-run) recovery.
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long = 128L * 1024 * 1024): Int = {
    val tmp = Paths.get(dir + ".compact_tmp")
    val old = Paths.get(dir + ".compact_old")
    if (!Files.exists(Paths.get(dir)) && Files.exists(old)) {
      // previous run died between the two renames: roll back.
      Files.move(old, Paths.get(dir))
    }
    if (Files.exists(tmp)) rm(tmp)
    if (Files.exists(old)) rm(old)

    val bytes = dataBytes(dir)
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    ParquetSource.read(spark, dir).repartition(n).write.mode("overwrite").parquet(tmp.toString)
    Files.move(Paths.get(dir), old)
    Files.move(tmp, Paths.get(dir))
    rm(old)
    n
  }
}
