package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLocalFileSystem, GraftLocalFs}

/** The session's local filesystem sets permission bits in-process, and
  * sets exactly the bits Hadoop's own local filesystem sets through
  * `chmod`: through the `FileSystem` API and the `FileContext` API,
  * for files, their checksums and directories. */
class LocalFileSystemSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  /** Every entry under `root`, relative path → `rwx` string. */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  private val perm = (s: String) => new FsPermission(s)

  test("FileSystem: files and directories get the bits Hadoop's chmod path gives them") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft-lfs")
    val session = FileSystem.get(root.toUri, conf)
    assert(session.isInstanceOf[GraftLocalFileSystem])
    val hadoop = new LocalFileSystem()
    hadoop.initialize(URI.create("file:///"), new Configuration(conf))
    for ((fs, side) <- Seq(session -> "graft", hadoop -> "hadoop")) {
      val dir = new Path(root.toUri.toString, side)
      assert(fs.mkdirs(new Path(dir, "d/e"), perm("750")))
      fs.create(new Path(dir, "d/f"), perm("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(new Path(dir, "g")).close()
      fs.create(new Path(dir, "h")).close()
      for (m <- Seq("600", "444", "755", "000", "604")) fs.setPermission(new Path(dir, "h"), perm(m))
    }
    val (g, h) = (modes(root.resolve("graft")), modes(root.resolve("hadoop")))
    assert(g.keySet.exists(_.endsWith(".crc")), "checksums are created too")
    assert(g === h)
    assert(g("h") === "rw----r--" && g("d/e") === "rwxr-x---")
  }

  test("FileContext: files and directories get the bits Hadoop's chmod path gives them") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft-lfc")
    val session = FileContext.getFileContext(root.toUri, conf)
    assert(session.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    val plain = new Configuration(conf)
    plain.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val hadoop = FileContext.getLocalFSFileContext(plain)
    assert(!hadoop.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    for ((fc, side) <- Seq(session -> "graft", hadoop -> "hadoop")) {
      val dir = new Path(root.toUri.toString, side)
      fc.mkdir(new Path(dir, "d/e"), perm("750"), true)
      fc.create(new Path(dir, "d/f"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm("640"))).close()
      fc.create(new Path(dir, "g"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.setPermission(new Path(dir, "g"), perm("604"))
    }
    val (g, h) = (modes(root.resolve("graft")), modes(root.resolve("hadoop")))
    assert(g === h)
    assert(g("g") === "rw----r--" && g("d/f") === "rw-r-----")
  }
}
