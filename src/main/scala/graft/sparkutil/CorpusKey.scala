package graft.sparkutil

import java.nio.file.{DirectoryNotEmptyException, FileAlreadyExistsException, FileSystemException, Files, Path, Paths}

import graft.sources.v2.MemCatalog

/** Corpus fingerprint for persisted serving artifacts (IVF-PQ index, BPE
  * merge table, inverted postings): one token that changes whenever the
  * corpus does, so "corpus change retrains" is a real contract; and the
  * one build-once publish those artifacts share ([[buildOnce]]).
  *
  * The walk is RECURSIVE and the digest covers every regular file's
  * relative name, size and a CONTENT SAMPLE (first + last 4 KiB) plus the
  * total file count — a corpus rewritten in place with matching top-level
  * sizes, or one using a nested/partitioned parquet layout, produces a
  * different token. Order is pinned by sorting on relative path, so the
  * token is layout-deterministic across filesystems.
  *
  * Content-sampled, NOT mtime-keyed, deliberately: an mtime component
  * retrains on byte-identical corpora after any copy, /tmp restore or
  * re-synthesis — in round 13 that turned a round-start /tmp clean into
  * 68 s of cold IVF-PQ training charged to a sub-second serving probe.
  * Identical bytes now reuse the artifact across re-syntheses; any row
  * change lands in some file's head/tail pages or shifts its size (a
  * same-size interior-only rewrite is not a shape parquet/row-codec
  * rewrites produce — every metadata footer moves with the data).
  */
object CorpusKey {
  private val SampleBytes = 4096

  private def sample(md: java.security.MessageDigest, p: Path, size: Long): Unit = {
    val ch = Files.newByteChannel(p)
    try {
      val head = java.nio.ByteBuffer.allocate(SampleBytes)
      ch.read(head)
      md.update(head.array(), 0, head.position())
      if (size > SampleBytes) {
        val tail = java.nio.ByteBuffer.allocate(SampleBytes)
        ch.asInstanceOf[java.nio.channels.SeekableByteChannel]
          .position(math.max(0L, size - SampleBytes))
        ch.read(tail)
        md.update(tail.array(), 0, tail.position())
      }
    } finally ch.close()
  }

  def token(src: Path): String = {
    if (!Files.exists(src)) return "absent"
    import scala.jdk.CollectionConverters._
    val entries: Seq[(String, Path, Long)] =
      if (Files.isDirectory(src)) {
        val w = Files.walk(src)
        try w.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .map(p => (src.relativize(p).toString, p, Files.size(p)))
          .toSeq.sortBy(_._1)
        finally w.close()
      } else Seq((src.getFileName.toString, src, Files.size(src)))
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"n=${entries.size}".getBytes("UTF-8"))
    entries.foreach { case (n, p, sz) =>
      md.update(s"|$n:$sz:".getBytes("UTF-8"))
      sample(md, p, sz)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The artifact dir `<tmpdir>/<name>/<md5(src path|token(src)|salt)>`:
    * a corpus change or a `salt` bump (recipe or version) keys a new one,
    * while the old one keeps serving readers mid-flight.
    */
  def dir(name: String, src: Path, salt: String): Path = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${src.toAbsolutePath}|${token(src)}|$salt".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Paths.get(sys.props("java.io.tmpdir"), name, key)
  }

  /** Build the artifact [[dir]]`(name, src, salt)` once and return it.
    * If it has no `_SUCCESS`, `write` fills a fresh sibling staging dir,
    * which is then moved into place, so a reader never sees a torn
    * artifact. A concurrent writer that wins the move wrote the same
    * deterministic content: ours is dropped. Only the three lost-race
    * shapes are absorbed; a genuine IO failure (ENOSPC, permissions,
    * cross-device tmp) surfaces as itself.
    */
  def buildOnce(name: String, src: Path, salt: String)(write: Path => Unit): Path = {
    val path = dir(name, src, salt)
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      Files.createDirectories(path.getParent)
      val staging = path.resolveSibling(
        path.getFileName.toString + ".staging-" + java.util.UUID.randomUUID())
      write(staging)
      try Files.move(staging, path)
      catch {
        case _: FileAlreadyExistsException => MemCatalog.deleteRecursively(staging)
        case _: DirectoryNotEmptyException => MemCatalog.deleteRecursively(staging)
        // Linux rename(2) onto an existing non-empty dir returns
        // ENOTEMPTY, which Java surfaces as a plain FileSystemException
        // ("Directory not empty"): matched by reason, so genuine IO
        // failures still surface
        case e: FileSystemException
            if e.getReason != null && e.getReason.toLowerCase.contains("not empty") =>
          MemCatalog.deleteRecursively(staging)
      }
      require(Files.exists(path.resolve("_SUCCESS")),
        s"$name publish failed: $path has no _SUCCESS " +
          "(the move neither succeeded nor lost a race to a complete winner)")
    }
    path
  }
}
