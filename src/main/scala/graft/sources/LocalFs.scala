package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its process forks. Without
  * `libhadoop`, `RawLocalFileSystem` runs `chmod` for every create and
  * mkdir, and `FileContext.rename` runs `readlink` on source and
  * destination through `getFileLinkStatus`. Here the mode bits go through
  * `chmod(2)` via NIO, as the libhadoop path does, and a path that NIO does
  * not see as a symlink gets `getFileStatus`, which is what Hadoop returns
  * when `readlink` prints nothing. Sticky bits, which NIO cannot set, and
  * real symlinks keep Hadoop's own code. Checksums, umask and rename
  * semantics are untouched. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val bits = new java.util.HashSet[PosixFilePermission]()
      // PosixFilePermission is declared OWNER_READ .. OTHERS_EXECUTE, bit 8 .. 0
      PosixFilePermission.values.foreach { b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits): Unit
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed `file:` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`,
  * used by `FileContext`) over [[NioRawLocalFileSystem]]; Hadoop's `LocalFs`
  * with the raw layer swapped. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }) {
  /** `FilterFs.open(Path)` reads the raw file and skips the `.crc`; only
    * `ChecksumFs.open(Path, Int)` verifies. Spark's checkpoint manager reads
    * the offset and commit logs through `FileContext.open(path)`, so without
    * this a corrupted log entry is parsed as if it were intact. */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}
