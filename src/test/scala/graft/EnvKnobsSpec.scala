package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps README's "Environment" table and the code in step: every
  * `SPARK_GRAFT_*` / `GRAFT_*` name that appears as a string literal under
  * `src/main` must have a row, and every row must name a variable the code
  * reads. An undocumented knob, or a documented one nothing reads, fails.
  */
class EnvKnobsSpec extends AnyFunSuite {

  private val literal = "\"((?:SPARK_)?GRAFT_[A-Z0-9_]+)\"".r
  private val row = "^\\|\\s*`((?:SPARK_)?GRAFT_[A-Z0-9_]+)`\\s*\\|".r

  private def readUnderSrcMain: Set[String] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap((p: Path) => literal.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  private def documented: Set[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
    val section = lines.dropWhile(_.trim != "## Environment").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    assert(section.nonEmpty, "README.md has no '## Environment' section")
    section.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("README's Environment table names exactly the knobs src/main reads") {
    val read = readUnderSrcMain
    val doc = documented
    assert(read.contains("SPARK_GRAFT_SF_DIR") && read.contains("GRAFT_SCRATCH_DIR"))
    assert((read -- doc).isEmpty,
      s"read under src/main but missing from README: ${(read -- doc).toSeq.sorted}")
    assert((doc -- read).isEmpty,
      s"in README but read nowhere under src/main: ${(doc -- read).toSeq.sorted}")
  }
}
