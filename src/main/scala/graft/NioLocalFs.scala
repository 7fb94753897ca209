package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its permission and link calls kept
  * in the JVM. Without libhadoop (Spark's distribution ships none),
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file it
  * creates and every directory it makes, and `getFileLinkStatus` forks
  * `readlink`, which every `FileContext` rename calls (streaming's offset
  * and commit logs). A fork costs about 4 ms; a micro-batch of the
  * replicator made about 170 of them. Both calls go through `java.nio`
  * here. Where NIO cannot answer alike, Hadoop's own code runs: a mode
  * with the sticky bit, and a path that is a symlink.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"

  /** Not a symlink: the path's own status, and `FileNotFoundException`
    * when it is missing, exactly as Hadoop answers once `readlink` reads
    * an empty target.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` (`.crc` files are
  * written and verified) over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (streaming's
  * checkpoint logs): `ChecksumFs` over [[NioRawLocalFileSystem]], as
  * Hadoop's `LocalFs` is over `RawLocalFs`. The constructor's signature
  * is the one `AbstractFileSystem.createFileSystem` calls.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` with [[NioRawLocalFileSystem]]
  * as its delegate, and the same overrides.
  */
private[graft] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("overrides a deprecated method, as RawLocalFs does", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in their rules: the OS checks the name
  override def isValidName(src: String): Boolean = true
}
