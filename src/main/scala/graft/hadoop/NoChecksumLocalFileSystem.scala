package graft.hadoop

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem for the FileSystem API
  * (`fs.file.impl`, named in `core-site.xml`). It differs from Hadoop's
  * default `LocalFileSystem` in two ways, both on local scratch only:
  *
  *  - No checksums. LocalFileSystem is a ChecksumFileSystem: every output
  *    file gets a sibling `.crc` written on write and re-hashed on
  *    read-back. For the engine's local-scratch traffic — foreachBatch
  *    landings written once and re-read once in the same process, verify
  *    dumps — that layer doubles the tiny-file count and hashes every
  *    byte twice for integrity nobody consumes (round-12 A/B: ws10
  *    7.3→3.7 s, ws05 3.9→2.5 s, ws04 7.4→5.8 s). Both checksum
  *    directions are off from initialize on — the switch `hadoop fs -get
  *    -ignoreCrc` flips per call.
  *  - No forks. It wraps [[ForkFreeRawLocalFileSystem]], which sets
  *    permissions and decides links without starting a `chmod` or
  *    `readlink` process.
  *
  * Why not `fs.file.impl = RawLocalFileSystem`: several Hadoop/Spark
  * paths (`FileSystem.getLocal`, used by RocksDBFileManager's
  * `copyFromLocalFile`) CAST the `file:` filesystem to
  * `LocalFileSystem`, and RawLocalFileSystem is not one — ws07's
  * RocksDB state commits fail with a ClassCastException (measured).
  * This subclass IS a LocalFileSystem, so every cast holds.
  *
  * Deployment posture: HDFS/S3/ABFS never route through this class
  * (scheme-specific impls carry their own integrity layers). To return
  * to the stock Hadoop classes — local `.crc` files and the shell-outs
  * included — delete both entries of `src/main/resources/core-site.xml`
  * (or override them in the deployment's own `core-site.xml`, or with
  * `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`).
  */
class NoChecksumLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** Hadoop 3.4's `RawLocalFileSystem` without libhadoop shells out to
  * `chmod` on every file and directory it creates with a permission,
  * and to `readlink` on every `getFileLinkStatus` — which every
  * FileContext rename calls twice, so Spark's offset log, commit log and
  * state-store deltas fork per file (ARCHITECTURE.md, "Measurement and
  * verification", has the counts). This subclass sets the same
  * permission bits through `java.nio` and makes the same link decision
  * without starting a process:
  *
  *  - [[setPermission]] maps the nine rwx bits to POSIX permissions on
  *    the path (following links, like `chmod`); a sticky bit has no
  *    `java.nio` form and goes to `super`.
  *  - [[getFileLinkStatus]] asks `java.nio` whether `new File(f.toString)`
  *    is a symbolic link — upstream runs `readlink` on exactly that file,
  *    so a `file:`-qualified path is never reported as a link here
  *    either. A real link goes to `super`; anything else gets
  *    `getFileStatus(f)`, which is what upstream returns when `readlink`
  *    prints nothing.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The engine's `file:` filesystem for the FileContext API
  * (`fs.AbstractFileSystem.file.impl`, named in `core-site.xml`): Hadoop's
  * `LocalFs` — checksummed, `.crc` siblings as before — over
  * [[ForkFreeRawLocalFileSystem]] instead of `RawLocalFileSystem`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]], with the same overrides. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
