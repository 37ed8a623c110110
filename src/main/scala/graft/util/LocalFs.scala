package graft.util

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process per file operation.
  *
  * Without `libhadoop`, `RawLocalFileSystem` shells out for two calls
  * every writer makes: `setPermission` runs `chmod` once per file, `.crc`
  * and directory created, and `getFileLinkStatus` runs `readlink` once
  * per `FileContext` rename (each checkpoint, WAL and state-store commit
  * of a streaming query). Each fork also starts a stderr-reader thread.
  * [[ForkFreeRawLocalFileSystem]] answers both in-process with the same
  * results; checksums, rename-based commits and everything else are the
  * stock classes'. [[hadoopConfs]] selects it for `file:` URIs through
  * both Hadoop APIs.
  */
object LocalFs {

  val hadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
  )
}

final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through NIO; a sticky or setuid bit, or a
    * filesystem without POSIX attributes, takes the stock `chmod`. Both
    * follow a symlink to its target. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val applied = (mode & ~0x1ff) == 0 && {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // declared from OWNER_READ (mode bit 8) down to OTHERS_EXECUTE (bit 0)
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try { Files.setPosixFilePermissions(pathToFile(p).toPath, bits); true }
      catch { case _: UnsupportedOperationException => false }
    }
    if (!applied) super.setPermission(p, permission)
  }

  /** The stock method runs `readlink` on `new File(f.toString)`, which
    * for a scheme-qualified path names no file, so it always ends in
    * `getFileStatus(f)`; only a scheme-less real symlink needs it. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (f.toUri.getScheme == null && Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` for `file:` (`fs.file.impl`). */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The checksummed `FileContext` filesystem for `file:`
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `local.LocalFs`.
  * Hadoop builds it reflectively with `(URI, Configuration)`; the URI
  * of a `file:` filesystem is always `file:///`. */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `local.RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
final class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
