package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps per-query session wiring out of the main tree: catalogs are
  * configured only by `Sessions.build`, only `MemCatalog` knows where a
  * table's files live, and only `BoundedDrain` starts a bounded stream.
  */
class WiringGuardSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  private def sources(): Seq[Path] = {
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  /** `file:line` of every non-comment line matching `needle`, outside
    * `allowed` and outside the `exempt` (file name, top-level method) pairs.
    */
  private def offenders(needle: String, allowed: String,
      exempt: Set[(String, String)] = Set.empty): Seq[String] = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: $mainRoot missing")
    sources().filterNot(_.getFileName.toString == allowed).flatMap { f =>
      val name = f.getFileName.toString
      var member = ""
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        // a line at member indent (two spaces) opens the next member
        if (line.startsWith("  ") && !line.startsWith("   ") &&
            !line.trim.startsWith("*") && !line.trim.startsWith("/") &&
            !line.trim.startsWith("}")) {
          member = memberDef.findFirstMatchIn(line).map(_.group(1)).getOrElse("")
        }
        if (line.contains(needle) && !line.trim.startsWith("*") &&
            !line.trim.startsWith("//") && !exempt((name, member))) Some(s"$f:${i + 1}")
        else None
      }
    }
  }

  private val memberDef = """^  (?:[a-z]+(?:\[\w+\])? )*def (\w+)""".r

  /** The two streams that legitimately outlive one drain (see BoundedDrain). */
  private val streamExempt = Set(
    "Formats.scala" -> "dsv2MvAutorefresh",
    "EventStreams.scala" -> "toPartitionedParquet")

  test("no spark.sql.catalog conf.set outside Sessions.scala") {
    val hits = offenders("conf.set(\"spark.sql.catalog.", "Sessions.scala")
    assert(hits.isEmpty, s"catalog wiring belongs in Sessions.build: ${hits.mkString(", ")}")
  }

  test("no graft-memcat- path literal outside MemCatalog.scala") {
    val hits = offenders("\"graft-memcat-", "MemCatalog.scala")
    assert(hits.isEmpty,
      s"resolve table dirs with MemCatalog.tableDir: ${hits.mkString(", ")}")
  }

  test("no stream is started or drained outside BoundedDrain and its two exemptions") {
    val hits = Seq(".writeStream", "processAllAvailable(").flatMap(
      offenders(_, "BoundedDrain.scala", streamExempt))
    assert(hits.isEmpty, s"drain bounded streams through BoundedDrain: ${hits.mkString(", ")}")
  }

  test("no setLastModifiedTime outside BoundedDrain.stageFile") {
    val hits = offenders("setLastModifiedTime", "BoundedDrain.scala")
    assert(hits.isEmpty, s"stage files with BoundedDrain.stageFile: ${hits.mkString(", ")}")
  }
}
