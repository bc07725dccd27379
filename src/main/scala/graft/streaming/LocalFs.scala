package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that applies permissions and reads links through
  * `java.nio` instead of forking a process.
  *
  * Without `libhadoop` the stock class runs `chmod` on every file and
  * directory it creates, and `readlink` on both ends of every
  * `FileContext.rename` (handed the `file:/…` URI string, that one always
  * fails, so every path reads as a non-link). Checkpoint logs, state-store
  * deltas and sink files pay both on every trigger. Everything else —
  * `.crc` sidecars, rename semantics, statuses of non-links — is inherited
  * unchanged.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits via NIO; a sticky-bit mode or a non-POSIX filesystem
    * takes the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
      case e: NoSuchFileException => throw new FileNotFoundException(e.getFile)
    }

  /** A link is described by its own attributes (`lstat`) with its target
    * qualified against the link's parent, as Hadoop's native stat path
    * does; anything else is plain `getFileStatus`.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val nio = pathToFile(f).toPath
    if (!Files.isSymbolicLink(nio)) return getFileStatus(f)
    val attrs = Files.readAttributes(nio, classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
    val path = makeQualified(f)
    val target = new Path(Files.readSymbolicLink(nio).toString)
    new FileStatus(attrs.size, false, 1, getDefaultBlockSize(f),
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
      FsPermission.valueOf("l" + PosixFilePermissions.toString(attrs.permissions)),
      attrs.owner.getName, attrs.group.getName,
      FSLinkResolver.qualifySymlinkTarget(getUri, path, target), path)
  }

  /** The unqualified target, as the stock class returns it; a non-link
    * throws as `FileStatus.getSymlink` does, a missing path with
    * `FileNotFoundException`.
    */
  override def getLinkTarget(f: Path): Path = {
    val nio = pathToFile(f).toPath
    if (Files.isSymbolicLink(nio)) new Path(Files.readSymbolicLink(nio).toString)
    else getFileStatus(f).getSymlink
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free raw
  * filesystem (a `LocalFileSystem`, so `FileSystem.getLocal` still casts).
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` twin of `org.apache.hadoop.fs.local.RawLocalFs`
  * over the fork-free raw filesystem, with the same four overrides.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` — what `FileContext` (checkpoint
  * logs, state store, SnapTables pointer flips) uses for `file:` paths.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object LocalFs {

  /** Session conf installing the fork-free filesystem for `file:` paths
    * through both Hadoop APIs; other schemes keep their implementations.
    */
  val SessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
