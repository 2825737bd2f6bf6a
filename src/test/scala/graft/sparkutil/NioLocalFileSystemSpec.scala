package graft.sparkutil

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** The fork-free local commit path wired by `Sessions.build`: `file:` is
  * [[NioLocalFileSystem]], which sets exactly the permission bits the stock
  * `RawLocalFileSystem` sets (and keeps the `.crc` files), and streaming
  * checkpoints go through the FileSystem-based manager on every clone.
  */
class NioLocalFileSystemSpec extends AnyFunSuite with TempDirs {
  private val root = new URI("file:///")

  /** A new (uncached) `file:` FileSystem, so test order cannot matter. */
  private def withFs[T](conf: Configuration)(f: FileSystem => T): T = {
    val fs = FileSystem.newInstance(root, conf)
    try f(fs) finally fs.close()
  }

  /** `path -> mode bits` (sticky bit included) of everything under `dir`. */
  private def modes(dir: JPath): Map[String, Int] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filterNot(_ == dir).map { p =>
      dir.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff)
    }.toMap
    finally walk.close()
  }

  test("a session's hadoop conf resolves file: to NioLocalFileSystem") {
    Seq(TestSpark.spark, TestSpark.spark.newSession()).foreach { s =>
      withFs(s.sessionState.newHadoopConf()) { fs =>
        assert(fs.getClass == classOf[NioLocalFileSystem], fs.getClass.getName)
      }
    }
  }

  test("create, mkdirs and setPermission give the stock RawLocalFileSystem's bits") {
    Seq("022", "077", "002").foreach { umask =>
      def run(impl: Class[_ <: FileSystem]): Map[String, Int] = {
        val dir = tempDir("graft-niofs")
        val conf = new Configuration()
        conf.set("fs.file.impl", impl.getName)
        conf.set("fs.permissions.umask-mode", umask)
        withFs(conf) { fs =>
          assert(fs.getClass == impl)
          val d = new Path(dir.toUri)
          assert(fs.mkdirs(new Path(d, "a/b")))
          fs.create(new Path(d, "a/b/f")).close()
          fs.create(new Path(d, "c/d/g")).close() // parents made by create
          fs.mkdirs(new Path(d, "e"), new FsPermission("750"))
          fs.create(new Path(d, "h")).close()
          fs.setPermission(new Path(d, "h"), new FsPermission("640"))
          fs.mkdirs(new Path(d, "s"))
          fs.setPermission(new Path(d, "s"), new FsPermission("1777"))
        }
        modes(dir)
      }
      val stock = run(classOf[LocalFileSystem])
      val nio = run(classOf[NioLocalFileSystem])
      assert(nio == stock, s"umask $umask")
      assert(stock.contains("a/b/.f.crc") && stock.contains("c/d/.g.crc"), "checksums kept")
      assert(stock("h") == Integer.parseInt("640", 8))
      assert(stock("s") == Integer.parseInt("1777", 8), "sticky bit")
    }
  }

  test("a newSession() clone writes checkpoints through the FileSystem manager") {
    val clone = TestSpark.spark.newSession()
    assert(clone.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      classOf[FileSystemBasedCheckpointFileManager].getName)
    val dir = new Path(tempDir("graft-niofs-ckpt").toUri)
    val fm = CheckpointFileManager.create(dir, clone.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager], fm.getClass.getName)
    val out = fm.createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8"))
    out.close()
    val in = fm.open(new Path(dir, "0"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1") finally in.close()
  }
}
