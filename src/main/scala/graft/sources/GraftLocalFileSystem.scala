package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The local filesystem graft's sessions write through: Hadoop's, with
  * permission bits set in-process. Without libhadoop's native code —
  * the usual case outside a Hadoop install —
  * `RawLocalFileSystem.setPermission` forks a `chmod` child process,
  * and Hadoop sets the permission of every file it creates (each data
  * file and its checksum) and of every directory it makes. Here the
  * same bits go through `java.nio`. A mode `java.nio` cannot express
  * (the sticky bit), and a JVM that has the native code, keep Hadoop's
  * path.
  *
  * [[graft.GraftSession]] installs this class for `fs.file.impl` (the
  * `FileSystem` API every read and write uses) and [[GraftLocalFs]]
  * for `fs.AbstractFileSystem.file.impl` (the `FileContext` API the
  * streaming checkpoints use).
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem` with an in-process `setPermission`. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || NativeIO.isAvailable) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      GraftRawLocalFileSystem.posix(mode))
  }
}

object GraftRawLocalFileSystem {
  /** The `rwxrwxrwx` bits of `mode`: `PosixFilePermission` declares
    * them in that order, owner-read (0400) first. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) out.add(p))
    out
  }
}

/** [[GraftLocalFileSystem]] under the `AbstractFileSystem` API: Hadoop's
  * checksummed `LocalFs` over [[GraftRawLocalFs]]. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** [[GraftRawLocalFileSystem]] under the `AbstractFileSystem` API, as
  * Hadoop's `RawLocalFs` delegates to `RawLocalFileSystem`. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
