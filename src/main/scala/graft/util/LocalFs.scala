package graft.util

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without the forked processes.
  *
  * Without the native Hadoop library (`libhadoop.so`),
  * `RawLocalFileSystem` runs every `setPermission` as a forked `chmod`
  * and every `getFileLinkStatus` as a forked `readlink`. Every file or
  * directory it creates gets a `setPermission`, and a `FileContext`
  * rename checks the link status of its paths. So a streaming
  * checkpoint file (offset log,
  * commit log, state-store delta, and their checksum files) costs one
  * `chmod` and four `readlink`s. [[Raw]] answers both calls in-process
  * with the same results; everything else is Hadoop's own code.
  *
  * Two thin wrappers install it, one per Hadoop API, mirroring Hadoop's
  * `LocalFileSystem` and `LocalFs`: [[Checksummed]] for `fs.file.impl`
  * and [[Context]] for `fs.AbstractFileSystem.file.impl`
  * ([[graft.GraftSession]] sets both). Both keep Hadoop's `.crc` files.
  */
object LocalFs {

  // octal 07777 and 06000 (Scala reads a leading zero as decimal)
  private val ModeBits = Integer.parseInt("7777", 8)
  private val SetIdBits = Integer.parseInt("6000", 8)

  /** `RawLocalFileSystem` with an in-process `chmod` and a `readlink`
    * that forks only for a real symbolic link. */
  final class Raw extends RawLocalFileSystem {

    /** The mode bits `chmod` would set. Hadoop passes it a four-digit
      * octal mode, and under that GNU chmod keeps a directory's setuid
      * and setgid bits (a directory made under a setgid parent inherits
      * setgid), so those are kept here too. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val kept =
        if (Files.isDirectory(file)) Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetIdBits
        else 0
      Files.setAttribute(file, "unix:mode", Int.box((permission.toShort & ModeBits) | kept))
    }

    /** Hadoop reads the link with `readlink` on `new File(f.toString)`.
      * For a qualified path (`file:/…`, what Spark passes) that names
      * no file, so `readlink` fails, and for any path that is not a
      * symbolic link it prints nothing; either way Hadoop then returns
      * `getFileStatus(f)`. Only a real symbolic link keeps Hadoop's
      * code, fork included. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[Raw]].
    *
    * Without the key, Hadoop resolves `file` through the service files
    * on the classpath, and among Spark's jars hive-exec registers Hive's
    * `ProxyLocalFileSystem` for it. That class is a `LocalFileSystem`
    * whose one change is that `rename` onto an existing file returns
    * false instead of replacing it, as Hadoop's file system contract
    * asks. This class keeps that rule, so the session's `file` scheme
    * renames as it did before. */
  final class Checksummed extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean = {
      val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
      !dstIsFile && super.rename(src, dst)
    }
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a
    * `ChecksumFs` over `RawLocalFs`) with [[Raw]] underneath. Spark's
    * default checkpoint file manager works through this API. Hadoop
    * instantiates it reflectively with `(URI, Configuration)`. Not being
    * a `LocalFs`, it makes the manager's `isLocal` false, which Spark
    * 4.1's sql module only forwards and never branches on. */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `RawLocalFs` (its constructors are package-private),
    * delegating to [[Raw]]. */
  private final class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
