package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: every oracle names a real query,
  * every query is either oracled or on the DECLARED rows-only
  * allowlist (the ANN/MinHash/SimHash variants whose correctness rides
  * on planted-recovery specs and the recall-gate queries instead), and
  * the surface size is pinned so silently dropping a query — or adding
  * one without deciding its grading story — fails the suite rather
  * than weakening the correctness gate unnoticed.
  */
class SparkEntryContractSpec extends AnyFunSuite {

  // r11: the last four rows-only entries (minhash/minhash_w/simhash pair
  // dumps, ivfpq shortlist) became SQL-gated planted-recovery rows; the
  // allowlist is EMPTY — every query is oracle-graded. Raw dumps live in
  // MinHashSpec/SimHashSpec/IvfPqKnnSpec.
  private val RowsOnly = Set.empty[String]

  test("every oracle names an implemented query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.toSeq.sorted}")
  }

  test("every query is oracled or explicitly declared rows-only") {
    val ungraded = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- RowsOnly
    assert(ungraded.isEmpty,
      s"queries with neither oracle nor rows-only declaration: ${ungraded.toSeq.sorted}")
    // and the allowlist itself stays real: no stale entries
    val stale = RowsOnly -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"rows-only allowlist names missing queries: $stale")
    // rows-only queries must not ALSO carry an oracle (they would grade
    // two different ways depending on driver version)
    val both = RowsOnly & SparkEntry.oracleSql.keySet
    assert(both.isEmpty, s"rows-only queries with oracles: $both")
  }

  test("surface size and naming are pinned") {
    assert(SparkEntry.queries.size === 244,
      "query count changed — update this pin AND SURVEY.md together")
    val badNames = SparkEntry.queries.keySet.filterNot(_.matches("q_[a-z0-9_]+"))
    assert(badNames.isEmpty, s"non-conforming query names: $badNames")
  }

  /** Main source files (relative to `src/main/scala`) that match `re`. */
  private def sourcesMatching(re: scala.util.matching.Regex): Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources under $root")
    val st = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => re.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
        .map(p => root.relativize(p).toString)
        .toSeq.sorted
    } finally st.close()
  }

  test("only GraftSession builds a SparkSession") {
    // one harness session: a second builder drifts from the configs the
    // tests and the benchmark run on (it did: Bench and Verify once ran
    // a 10 MB broadcast threshold against GraftSession's 64 MB)
    assert(sourcesMatching("""SparkSession\s*\.\s*builder""".r) === Seq("graft/GraftSession.scala"),
      "SparkSession.builder outside GraftSession.scala — use GraftSession.local")
  }

  test("only CachePool takes a local checkpoint") {
    // a bare localCheckpoint's blocks escape CachePool.releaseGroup and
    // pile up over a long run (DedupClusters' and LinkGraph's round
    // frames once stayed cached after their query's release)
    assert(sourcesMatching("""localCheckpoint\(""".r) === Seq("graft/CachePool.scala"),
      "localCheckpoint( outside CachePool.scala — use CachePool.pinCheckpoint")
  }

  test("only ParquetSource reads parquet with an inferred schema") {
    // an inferring read runs a Spark job per call just to read a footer;
    // ParquetSource.read reads that footer on the driver instead
    assert(sourcesMatching("""read\s*\.\s*parquet\(""".r) === Seq("graft/sources/ParquetSource.scala"),
      "read.parquet( outside ParquetSource.scala — use ParquetSource.read")
  }

  test("no main source starts an operating-system process") {
    // the stock local filesystem's chmod and readlink forks were most of
    // a streaming drain's commit time; the program itself starts none
    assert(sourcesMatching("""ProcessBuilder|sys\.process|Runtime\.getRuntime\.exec""".r) === Nil,
      "a main source starts a process")
  }

  test("only GraftSession picks the local filesystem classes") {
    // a second setting could put the forking stock classes back on a path
    assert(sourcesMatching(""""(spark\.hadoop\.)?fs\.(AbstractFileSystem\.)?file\.impl"""".r) ===
      Seq("graft/GraftSession.scala"),
      "fs.file.impl or fs.AbstractFileSystem.file.impl set outside GraftSession.scala")
  }
}
