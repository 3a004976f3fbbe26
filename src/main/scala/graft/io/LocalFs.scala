package graft.io

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem without
  * the child processes it starts when `libhadoop` is not loaded.
  *
  * Without the native library, stock `RawLocalFileSystem` runs `chmod`
  * for every file it creates (twice with the `.crc` sidecar) and every
  * directory it makes, and `readlink` for every `getFileLinkStatus` —
  * eight of those per `FileContext` rename. Streaming checkpoints
  * (WAL, commit log, source and sink logs, state-store deltas) create
  * and rename files on every micro-batch, so each log write cost
  * 35–50 ms of process starts instead of 1–4 ms.
  *
  * [[NioRawLocalFileSystem]] sets the same POSIX bits through
  * `java.nio.file.Files` and skips the `readlink` probe unless the path
  * really is a symlink. Everything else — `.crc` sidecars, checksum
  * verification, rename-based atomic commits — is Hadoop's own code.
  * Anything NIO cannot express (symlinks, mode bits outside 0777,
  * non-POSIX filesystems) goes down Hadoop's own path.
  */
object LocalFs {
  private val impls = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Makes `conf` resolve `file:` to the engine classes, for both the
    * `FileSystem` and the `FileContext` API. A value set anywhere but
    * Hadoop's `core-default.xml` is left alone. */
  def install(conf: Configuration): Unit = impls.foreach { case (key, cls) =>
    val sources = Option(conf.getPropertySources(key)).fold(Seq.empty[String])(_.toSeq)
    if (sources.forall(_ == "core-default.xml")) conf.set(key, cls)
  }
}

/** `RawLocalFileSystem` whose `setPermission` and `getFileLinkStatus`
  * start no process. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !setPosix(p, mode)) super.setPermission(p, permission)
  }

  /** Sets `mode` (within 0777) through NIO; false where NIO cannot. */
  private def setPosix(p: Path, mode: Int): Boolean = try {
    val bits = PosixFilePermission.values().toSeq.zipWithIndex
      .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }
    Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
    true
  } catch { case _: IOException | _: UnsupportedOperationException => false }

  /** Hadoop probes `new File(f.toString)` with `readlink` and, when it
    * is not a link, returns `getFileStatus(f)`; the same probe here is
    * one `lstat`. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = try Files.isSymbolicLink(new File(f.toString).toPath)
    catch { case _: InvalidPathException => true }
    if (link) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** Checksummed `FileSystem` (`fs.file.impl`) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` over [[NioRawLocalFileSystem]]: its local server defaults
  * and name check on `DelegateToFileSystem`, whose port and symlink calls
  * go to the raw filesystem. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`),
  * as `LocalFs` is over `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
