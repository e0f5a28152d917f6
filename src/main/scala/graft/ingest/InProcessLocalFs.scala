package graft.ingest

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `file` scheme for `FileContext`, built as stock `LocalFs` is
  * (`ChecksumFs` over a `DelegateToFileSystem` over `RawLocalFileSystem`,
  * with `LocalFs`/`RawLocalFs`'s overrides), except that two calls run
  * in-process where stock Hadoop without native IO starts a process:
  *
  *  - `setPermission` sets the mode through java.nio (`unix:mode`)
  *    instead of `chmod`;
  *  - `getFileLinkStatus` reads the link through java.nio instead of
  *    `readlink`, and returns what the stock method returns.
  *
  * Spark's streaming checkpoint writers (offset, commit and source logs,
  * the file sink's `_spark_metadata` log, the HDFS-backed and RocksDB
  * state stores) write every file as a temp file plus a `FileContext`
  * rename: stock, that is two `chmod`s (file and `.crc`) and eight
  * `readlink`s (each operand and its `.crc`, twice) per checkpoint file,
  * tens of milliseconds. Names,
  * bytes, `.crc` sidecars, mode bits and exceptions are stock `LocalFs`'s
  * (`InProcessLocalFsSpec`). [[Pipelines.streamingSession]] installs it
  * on a cloned session through [[InProcessLocalFs.Setting]].
  * `AbstractFileSystem.get` instantiates it through the (URI,
  * Configuration) constructor; as in `LocalFs`, the URI is file:///.
  */
final class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessLocalFs.RawFs(conf)) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
}

object InProcessLocalFs {

  /** The Hadoop setting that makes `FileContext` use it for `file:`. */
  val Setting: (String, String) =
    "fs.AbstractFileSystem.file.impl" -> classOf[InProcessLocalFs].getName

  /** `RawLocalFs` over [[RawFileSystem]]. */
  private final class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new RawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private final class RawFileSystem extends RawLocalFileSystem {

    /** The stock shell path runs `chmod %04o <canonical path>`; a
      * four-digit numeric mode keeps a directory's setuid and setgid
      * bits (GNU coreutils), so they are kept here too.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable) super.setPermission(p, permission)
      else {
        val path = pathToFile(p).getCanonicalFile.toPath
        val kept =
          if (!Files.isDirectory(path)) 0
          else Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SetIds
        Files.setAttribute(path, "unix:mode", Int.box(permission.toShort | kept))
      }

    /** The stock method runs `readlink` on `f.toString` and returns
      * `getFileStatus(f)` when that names no link, which for a `file:`
      * URI it never does (the string is a relative path `file:/...`).
      * A real link takes the stock path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (isLink(new File(f.toString))) super.getFileLinkStatus(f) else getFileStatus(f)
  }

  /** S_ISUID | S_ISGID (octal 6000). */
  private val SetIds = 0xc00

  /** Whether `FileUtil.readLink(f)` would return a target. */
  private def isLink(f: File): Boolean =
    try Files.readSymbolicLink(f.toPath).toString.trim.nonEmpty
    catch { case _: IOException | _: InvalidPathException => false }
}
