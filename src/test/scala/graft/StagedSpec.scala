package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The one staging memo (`SparkEntry.staged`): one build per kind and
  * dataset fingerprint, charged to `stagingNanos`; a failed build is not
  * memoized and its retry writes to a fresh subdir.
  */
class StagedSpec extends AnyFunSuite {

  /** A throwaway dataset dir holding one file. */
  private def dataset(): Path = {
    val d = Files.createTempDirectory("graft-staged-spec")
    Files.writeString(d.resolve("documents.parquet"), "v1")
    d
  }

  test("one kind on one dataset builds once and only the build is charged") {
    val d = dataset().toString
    var builds = 0
    val n0 = SparkEntry.stagingNanos.get()
    val first = SparkEntry.staged("spec_once", d) { dir =>
      builds += 1; Thread.sleep(20); dir
    }
    val n1 = SparkEntry.stagingNanos.get()
    assert(n1 - n0 >= 20L * 1000 * 1000, "the build's time was not charged")
    val again = SparkEntry.staged("spec_once", d) { dir => builds += 1; dir }
    assert(builds === 1)
    assert(again === first)
    assert(SparkEntry.stagingNanos.get() === n1, "a memo hit was charged")
  }

  test("a build that throws is not memoized and the retry gets a new seq subdir") {
    val d = dataset().toString
    var dirs = Vector.empty[String]
    intercept[IllegalStateException] {
      SparkEntry.stagedDir("spec_fail", d) { dir =>
        dirs :+= dir
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, "half-written"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    val got = SparkEntry.stagedDir("spec_fail", d) { dir =>
      dirs :+= dir
      Files.createDirectories(Paths.get(dir))
    }
    assert(dirs.size === 2)
    assert(got === dirs(1))
    assert(dirs(0) !== dirs(1))
    assert(Files.list(Paths.get(got)).count() === 0, "the retry saw the casualty's files")
    // and the successful build is now memoized
    SparkEntry.stagedDir("spec_fail", d) { dir => dirs :+= dir }
    assert(dirs.size === 2)
  }

  test("rewriting a file under the dataset dir re-stages") {
    val root = dataset()
    val d = root.toString
    var builds = 0
    val first = SparkEntry.stagedDir("spec_fp", d) { _ => builds += 1 }
    // a different size changes the fingerprint whatever the mtime resolution
    Files.writeString(root.resolve("documents.parquet"), "v2, regenerated")
    val second = SparkEntry.stagedDir("spec_fp", d) { _ => builds += 1 }
    assert(builds === 2)
    assert(second !== first)
    SparkEntry.stagedDir("spec_fp", d) { _ => builds += 1 }
    assert(builds === 2)
  }

  test("two kinds on one dataset get separate dirs") {
    val d = dataset().toString
    var built = Vector.empty[String]
    val a = SparkEntry.stagedDir("spec_kind_a", d) { dir => built :+= dir }
    val b = SparkEntry.stagedDir("spec_kind_b", d) { dir => built :+= dir }
    assert(built === Vector(a, b))
    assert(a !== b)
  }
}
