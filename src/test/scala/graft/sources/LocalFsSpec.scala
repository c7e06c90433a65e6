package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]] change how the local
  * filesystem sets modes and reads link status, not what it does: every
  * check runs the same operations through the stock classes (which run
  * `chmod` and `readlink` here: no libhadoop) and through the fork-free
  * ones, and compares what lands on disk or comes back.
  */
class LocalFsSpec extends SparkSpec {

  private val Local = URI.create("file:///")

  private def conf(fs: String, fc: String): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", fs)
    c.set("fs.AbstractFileSystem.file.impl", fc)
    c
  }
  private val stockConf = conf("org.apache.hadoop.fs.LocalFileSystem",
    "org.apache.hadoop.fs.local.LocalFs")
  private val forkFreeConf = conf(classOf[ForkFreeLocalFileSystem].getName,
    classOf[ForkFreeLocalFs].getName)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → (is dir, mode bits) of everything under `root`. */
  private def modes(root: JPath): Map[String, (Boolean, Int)] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> ((Files.isDirectory(p), mode(p)))).toMap
    finally st.close()
  }

  private val perms = Seq("644", "600", "755", "700", "777", "1777", "1755", "1700", "1644")
    .map(o => new FsPermission(Integer.parseInt(o, 8).toShort))

  /** Creates files and dirs under `root` through `FileSystem` and
    * `FileContext` on `c`, every permission in `perms`, in a parent whose
    * set-group-ID bit new dirs inherit too.
    */
  private def populate(c: Configuration, root: JPath): Unit = {
    val fs = FileSystem.newInstance(Local, c)
    val fc = FileContext.getFileContext(Local, c)
    try {
      val setgid = root.resolve("setgid")
      Files.createDirectory(setgid)
      Files.setAttribute(setgid, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))
      for (parent <- Seq(root, setgid); perm <- perms) {
        val tag = s"$parent/${perm.toShort.toInt.toOctalString}"
        // dirs stay listable by their owner, so the walk sees inside them
        val dirPerm = new FsPermission((perm.toShort | 0x1c0).toShort)
        fs.create(new Path(s"$tag-fs-file"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(s"$tag-fs-dir/nested"), dirPerm)
        fc.create(new Path(s"$tag-fc-file"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm)).close()
        fc.mkdir(new Path(s"$tag-fc-dir/nested"), dirPerm, true)
        fs.create(new Path(s"$tag-set-file")).close()
        fs.setPermission(new Path(s"$tag-set-file"), perm)
        fs.mkdirs(new Path(s"$tag-set-dir"))
        fs.setPermission(new Path(s"$tag-set-dir"), dirPerm)
      }
    } finally fs.close()
  }

  test("created files and dirs get the modes chmod gives them, sticky bit included") {
    val root = Files.createTempDirectory("graft_localfs_modes")
    val (stock, forkFree) = (root.resolve("stock"), root.resolve("forkfree"))
    Files.createDirectory(stock)
    Files.createDirectory(forkFree)
    populate(stockConf, stock)
    populate(forkFreeConf, forkFree)
    val want = modes(stock)
    assert(modes(forkFree) === want)
    // non-vacuous: the sticky bit lands (creates drop it with the umask;
    // setPermission keeps it), a dir keeps its inherited set-group-ID bit
    // through the mode change, and `.crc` sidecars are compared too
    def octal(s: String) = Integer.parseInt(s, 8)
    assert(want("1755-set-dir") === ((true, octal("1755"))))
    assert(want("1644-set-file") === ((false, octal("1644"))))
    assert(want("setgid/1755-set-dir") === ((true, octal("3755"))))
    assert(want("setgid/700-fs-dir/nested") === ((true, octal("2700"))))
    assert(want.keySet.exists(_.endsWith(".crc")))
  }

  private def summary(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink, Try(s.getSymlink).toOption, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  private def outcome(status: => FileStatus) =
    Try(summary(status)).toEither.left.map(_.getClass)

  test("getFileLinkStatus equals the stock one for files, dirs, missing paths and symlinks") {
    val root = Files.createTempDirectory("graft_localfs_links")
    val file = Files.writeString(root.resolve("file"), "x")
    val dir = Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val names = Seq("file", "dir", "missing", "link", "dangling")
    val paths = names.flatMap { n =>
      val p = root.resolve(n).toString
      Seq(new Path(p), new Path(s"file:$p"))
    }
    val stock = new RawLocalFileSystem
    val forkFree = new ForkFreeRawLocalFileSystem
    Seq(stock, forkFree).foreach(_.initialize(Local, new Configuration()))
    val stockFc = FileContext.getFileContext(Local, stockConf)
    val forkFreeFc = FileContext.getFileContext(Local, forkFreeConf)
    paths.foreach { p =>
      assert(outcome(forkFree.getFileLinkStatus(p)) === outcome(stock.getFileLinkStatus(p)), p)
      assert(outcome(forkFreeFc.getFileLinkStatus(p)) === outcome(stockFc.getFileLinkStatus(p)), p)
    }
    assert(stock.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    assert(outcome(stock.getFileLinkStatus(new Path(root.resolve("missing").toString)))
      .left.toOption.contains(classOf[java.io.FileNotFoundException]))
    assert(file.toFile.exists && dir.toFile.isDirectory)
  }

  test("the session's FileSystem and FileContext resolve to the fork-free classes") {
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Local, hconf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(new Path(System.getProperty("java.io.tmpdir")).getFileSystem(
      spark.sessionState.newHadoopConf()).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hconf).getDefaultFileSystem.getClass ===
      classOf[ForkFreeLocalFs])
  }

  test("a checkpointed stateful drain and a partitionBy write start no chmod, readlink, ls or stat") {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvm ++ Seq(
      "-Djava.security.manager=allow", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), "graft.sources.NoForkProbe")
    val log, err = new StringBuilder
    val exit = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      line => log.append(line).append('\n'), line => err.append(line).append('\n')))
    assert(exit === 0, s"probe failed:\n$log${err.takeRight(4000)}")
    val got = log.toString.linesIterator.collect {
      case l if l.contains('=') => l.split("=", 2) match { case Array(k, v) => k -> v }
    }.toMap
    assert(got.get("drain_batches").contains("2"), log)
    assert(got.get("drain_rows").contains("60"), log)
    assert(got.get("partition_rows").contains("100"), log)
    val forks = Seq("chmod", "readlink", "ls", "stat").flatMap(p => got.get(s"exec.$p").map(p -> _))
    assert(forks.isEmpty, s"programs started: $forks\n$log")
  }
}
