package graft.lake

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a process per file. Without
  * `libhadoop`, `RawLocalFileSystem` runs `chmod` for every file create and
  * `mkdirs` and `readlink` for every link-status probe (a checkpoint rename
  * makes several), one process spawn (~3 ms) each. This class sets the
  * same 9 mode bits through `java.nio` and answers the link status of a
  * non-link from `getFileStatus`; a sticky bit and a real symlink still take
  * Hadoop's own path. `src/main/resources/core-site.xml` registers the
  * checksummed wrappers below for `file:`, so every Hadoop `Configuration`
  * (Spark's included) picks them up. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's ordinals run OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(bits: _*))
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: `.crc` checksums over the fork-free raw file system. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` twin of [[ForkFreeRawLocalFileSystem]]; Hadoop's
  * `RawLocalFs` hard-wires the stock raw class. Overrides as `RawLocalFs`. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (the streaming checkpoint's
  * `FileContext`): `.crc` checksums over [[ForkFreeRawLocalFs]]. Hadoop
  * constructs it from (URI, Configuration); as in `LocalFs`, every URI
  * maps to `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))
