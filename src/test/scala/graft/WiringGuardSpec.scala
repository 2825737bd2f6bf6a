package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps per-query session wiring out of the main tree: catalogs are
  * configured only by `Sessions.build`, only `MemCatalog` knows where a
  * table's files live, and only `BoundedDrain` starts a bounded stream.
  * The local commit path (`fs.file.impl`, the checkpoint manager) is set
  * only there too, and nothing reaches the FileContext API, whose local
  * binding forks a process per permission change. Also keeps one copy of
  * each shared decision: the text rule on both
  * sides of the oracle (`TextPipeline`), the structural pruning proof
  * (`MemCatalog.proveFilesPruned`), the build-once artifact publish
  * (`CorpusKey.buildOnce`) and the catalog's commit path (one retrying
  * manifest commit loop, one `#seq` stamp, one staged-part publish and
  * discard, one per-file stats accumulator). Scans report what they pruned as their own SQL metrics,
  * never through JVM-global state, MV registrations live on the session
  * they arm, and the main tree holds no `@volatile var` and no `var`
  * member of a top-level object at all. Fixture tables are read only
  * through `Tables`, which infers each schema once.
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

  /** `file:line` of every match of `re` over whole source files, so a
    * pattern may span lines.
    */
  private def matches(re: scala.util.matching.Regex): Seq[String] =
    sources().flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      re.findAllMatchIn(text).map(m => s"$f:${text.take(m.start).count(_ == '\n') + 1}")
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

  test("no tokenizer regex outside TextPipeline.scala") {
    val hits = Seq("regexp_replace(lower(", "[^a-zA-Z0-9\\s]", "'\\s+'", "'\\\\s+'",
      "'\\\\\\\\s+'", "), \"\\\\s+\")").flatMap(offenders(_, "TextPipeline.scala"))
    assert(hits.isEmpty,
      s"use TextPipeline.words/tokens/normalize or TextPipeline.Oracle: ${hits.mkString(", ")}")
  }

  test("no hide-and-probe stash dir outside MemCatalog.proveFilesPruned") {
    val hits = offenders("-hide\")", "MemCatalog.scala")
    assert(hits.isEmpty, s"prove pruning with MemCatalog.proveFilesPruned: ${hits.mkString(", ")}")
  }

  test("no .staging- publish outside CorpusKey.scala and MemCatalog.scala") {
    val hits = offenders(".staging-", "CorpusKey.scala").filterNot(_.contains("/MemCatalog.scala:"))
    assert(hits.isEmpty, s"publish build-once artifacts with CorpusKey.buildOnce: ${hits.mkString(", ")}")
  }

  test("no fs.file.impl or checkpointFileManagerClass outside Sessions.scala, no FileContext") {
    val wiring = Seq("fs.file.impl", "checkpointFileManagerClass").flatMap(
      offenders(_, "Sessions.scala"))
    assert(wiring.isEmpty, s"the local commit path is set in Sessions.build: ${wiring.mkString(", ")}")
    val fc = offenders("FileContext", allowed = "")
    assert(fc.isEmpty, s"use FileSystem, not FileContext: ${fc.mkString(", ")}")
  }

  test("one commit path in the catalog: one create-new retry, one #seq stamp, one publish") {
    // a FileAlreadyExistsException handler with an empty body falls
    // through to the next attempt of its loop: a create-new retry
    val retries = matches("""FileAlreadyExistsException\s*=>\s*(?://[^\n]*)?\n\s*\}""".r)
    assert(retries.size == 1,
      s"retry a lost manifest race only in MemCatalog.commitManifestEq: ${retries.mkString(", ")}")
    // fastForward and cloneTable re-stamp once, without a retry
    val stamps = offenders("\"#seq\" ->", allowed = "",
      Set("MemCatalog.scala" -> "fastForward", "MemCatalog.scala" -> "cloneTable"))
    assert(stamps.size == 1,
      s"stamp new entries' #seq only in MemCatalog.commitManifestEq: ${stamps.mkString(", ")}")
    val destructures = offenders("case MemCommit(", allowed = "",
      Set("MemCatalog.scala" -> "publish", "MemCatalog.scala" -> "discard"))
    assert(destructures.isEmpty,
      s"publish or discard staged parts with MemCommit.publish/discard: ${destructures.mkString(", ")}")
  }

  test("one per-file stats accumulator in the catalog") {
    // every part file's zone maps, partition stamps and sketches come
    // from MemFileWriter: one site of each sketch and of the null stamp
    val sites = Seq("new MemNdv.Tracker", "new MemHist.Tracker", "MemBloom.add(", "\"ptn:\" +")
      .map(n => n -> offenders(n, allowed = ""))
    val copies = sites.filter(_._2.size != 1)
    assert(copies.isEmpty,
      s"build FileEntry stats only through MemFileWriter: ${copies.mkString(", ")}")
  }

  test("scans report pruning only as their own metrics: no JVM-global seam, no @volatile var") {
    // the retired seam names, spelled so this file does not match itself
    val seams = Seq("Skip", "RuntimePrune").map("last" + _)
    val walk = Files.walk(Paths.get("src"))
    val seamHits = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .filter(f => seams.exists(new String(Files.readAllBytes(f), "UTF-8").contains))
    finally walk.close()
    assert(seamHits.isEmpty,
      s"read what a scan pruned with graft.sparkutil.ScanMetrics: ${seamHits.mkString(", ")}")
    val volatiles = """@volatile\s+(?:private(?:\[\w+\])?\s+)?var\s+(\w+)""".r
    val shared = sources().flatMap { f =>
      volatiles.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
        .map(m => s"${f.getFileName}:${m.group(1)}")
    }
    // a var member of a top-level object is JVM-global state as well
    val mods = """(?:(?:private|protected)(?:\[\w+\])?\s+|@\w+\s+|[a-z]+\s+)*"""
    val topLevel = s"""^$mods(object|class|trait)\\s""".r
    val memberVar = s"""^  $mods(var)\\s+(\\w+)""".r
    val objectVars = sources().flatMap { f =>
      var inObject = false
      Files.readAllLines(f).asScala.flatMap { line =>
        topLevel.findFirstMatchIn(line).foreach(m => inObject = m.group(1) == "object")
        if (inObject) memberVar.findFirstMatchIn(line).map(m => s"${f.getFileName}:${m.group(2)}")
        else None
      }
    }
    assert(shared.isEmpty && objectVars.isEmpty,
      s"concurrent queries share no mutable object state: ${(shared ++ objectVars).mkString(", ")}")
  }

  test("fixture tables are read only through Tables, which infers each schema once") {
    val hits = offenders(".parquet(s\"$dir/", "Tables.scala")
    assert(hits.isEmpty, s"read fixture tables with Tables.table: ${hits.mkString(", ")}")
  }

  test("MV registrations live on the session they arm: no global registry, no test seam") {
    val hits = offenders("extraOptimizations =", "MvRewrite.scala")
    assert(hits.isEmpty, s"arm a session through MvRewrite.register: ${hits.mkString(", ")}")
    // the retired names, spelled so this file does not match itself
    val gone = Seq("install", "unregister").map("MvRewrite." + _) :+ ("test" + "InputPartitions")
    val text = Set(".scala", ".py", ".sh", ".sbt", ".md", ".json")
    val found = Seq("src", "perfbench", "scripts").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.toSeq
        .filter(f => text.exists(f.toString.endsWith) && !f.toString.contains("/target/"))
        .filter(f => gone.exists(new String(Files.readAllBytes(f), "UTF-8").contains))
      finally walk.close()
    }
    assert(found.isEmpty, s"retired MV registry or input seam still named in: ${found.mkString(", ")}")
  }
}
