package graft.io

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a process per file.
  *
  * Without the native Hadoop library (Spark's jar set ships none),
  * `RawLocalFileSystem` sets the mode of every file and directory it
  * creates by exec'ing `chmod`, and answers every `getFileLinkStatus` by
  * exec'ing `readlink`; Structured Streaming's offset and commit log
  * renames call the latter. A streaming micro-batch that writes a few
  * dozen part files spawned ~80 processes. These classes do the same two
  * things through `java.nio.file` and leave every byte, mode bit and
  * `.crc` sidecar as the stock classes do.
  *
  * [[LocalFileSystem.install]] registers them as `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl` through a default resource
  * (`graft-default.xml`). It must run before the JVM caches its first
  * `file:` filesystem, i.e. before the first `SparkSession` is built;
  * `graft.plans.GraftExtensions`' constructor calls it, so
  * `.withExtensions(new GraftExtensions)` installs it in time.
  */
object LocalFileSystem {
  private val Resource = "graft-default.xml"

  private lazy val installed: Boolean = {
    // a deployment that names its own file: classes keeps them
    val conf = new Configuration()
    val free = Option(conf.getTrimmed("fs.file.impl")).forall(_.isEmpty) &&
      conf.get("fs.AbstractFileSystem.file.impl") ==
        classOf[org.apache.hadoop.fs.local.LocalFs].getName
    if (free) Configuration.addDefaultResource(Resource)
    free
  }

  /** Idempotent; true when the engine's classes are registered. */
  def install(): Boolean = installed
}

/** `RawLocalFileSystem` whose `chmod` and `readlink` run in-process. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) through NIO, with GNU `chmod 0NNN`'s result: the requested
    * sticky and nine mode bits, plus a directory's current setuid/setgid
    * (GNU keeps those unless the mode names them; an `FsPermission`
    * cannot).
    * A store without a `unix` attribute view goes to the stock `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    try {
      val current = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      val kept = if (Files.isDirectory(path)) current & 0xc00 else 0
      Files.setAttribute(path, "unix:mode",
        Int.box(kept | (permission.toShort & 0x3ff)))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** Not a symlink → the stock answer is `getFileStatus(f)`, which is
    * what this returns without asking `readlink`. Real links, dangling
    * ones included, go to the stock code. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` `FileSystem` (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]; `.crc` sidecars as stock. */
class NioLocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)

/** The `file:` `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`)
  * that `FileContext` — hence Structured Streaming's checkpoint log —
  * uses: Hadoop's `LocalFs` over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (package-private constructors) over
  * [[NioRawLocalFileSystem]], with the same overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem overload", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
