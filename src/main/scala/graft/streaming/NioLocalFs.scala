package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileContext of graft sessions ([[graft.GraftSession]] sets
  * `fs.AbstractFileSystem.file.impl` to it): Hadoop's `LocalFs`, a
  * `ChecksumFs` over the raw local file system, minus two subprocesses.
  *
  * Without Hadoop's native library, the raw layer sets a new file's or
  * directory's permission by running `chmod`, and every rename asks
  * `readlink` whether its two paths are symlinks. Streaming checkpoints
  * write every offset, commit, state changelog and their `.crc` sidecars
  * through a FileContext, so each trigger started dozens of processes. Here
  * the raw layer sets rwx bits through `java.nio` and asks `java.nio`
  * whether a path is a symlink; it falls back to Hadoop for any other bit
  * and for a real symlink. Files, sidecars, permissions and renames are
  * Hadoop's. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
  class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val rwx = Seq(
    0x100 -> PosixFilePermission.OWNER_READ, 0x80 -> PosixFilePermission.OWNER_WRITE,
    0x40 -> PosixFilePermission.OWNER_EXECUTE, 0x20 -> PosixFilePermission.GROUP_READ,
    0x10 -> PosixFilePermission.GROUP_WRITE, 0x8 -> PosixFilePermission.GROUP_EXECUTE,
    0x4 -> PosixFilePermission.OTHERS_READ, 0x2 -> PosixFilePermission.OTHERS_WRITE,
    0x1 -> PosixFilePermission.OTHERS_EXECUTE)

  class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val bits = new java.util.HashSet[PosixFilePermission]()
        rwx.foreach { case (bit, perm) => if ((mode & bit) != 0) bits.add(perm) }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
