package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps per-query session wiring out of the main tree: catalogs are
  * configured only by `Sessions.build`, and only `MemCatalog` knows where a
  * table's files live.
  */
class WiringGuardSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  private def sources(): Seq[Path] = {
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  /** `file:line` of every non-comment line matching `needle`, outside `allowed`. */
  private def offenders(needle: String, allowed: String): Seq[String] = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: $mainRoot missing")
    sources().filterNot(_.getFileName.toString == allowed).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) && !line.trim.startsWith("*")
            && !line.trim.startsWith("//") => s"$f:${i + 1}"
      }
    }
  }

  test("no spark.sql.catalog conf.set outside Sessions.scala") {
    val hits = offenders("conf.set(\"spark.sql.catalog.", "Sessions.scala")
    assert(hits.isEmpty, s"catalog wiring belongs in Sessions.build: ${hits.mkString(", ")}")
  }

  test("no graft-memcat- path literal outside MemCatalog.scala") {
    val hits = offenders("\"graft-memcat-", "MemCatalog.scala")
    assert(hits.isEmpty,
      s"resolve table dirs with MemCatalog.tableDir: ${hits.mkString(", ")}")
  }
}
