package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's checksummed local filesystem, minus one `chmod` process per
  * created file and directory.
  *
  * Spark ships without libhadoop, so `RawLocalFileSystem.setPermission`
  * falls back to `Shell.execCommand("chmod", ...)`. Hadoop calls it on
  * every create and mkdir: each data file, each `.crc` sidecar and each
  * directory of a write forks a process. Those forks were the largest
  * fixed cost of a sink commit. This class sets the same mode bits
  * in-process through `java.nio.file.Files.setPosixFilePermissions`.
  * Bits NIO cannot express (sticky) still go through Hadoop.
  *
  * It extends `LocalFileSystem`, so `.crc` sidecars are written and
  * verified exactly as before, and stored bytes, names and modes are
  * unchanged. Only the `file:` scheme is replaced; other schemes never
  * reach this class. */
final class ForklessLocalFileSystem
    extends LocalFileSystem(new ForklessLocalFileSystem.Raw)

object ForklessLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    // toShort, not toString: a create passes an FsCreateModes, whose
    // toString is not a mode string. A name the JVM's file-name encoding
    // cannot represent has no NIO path; Hadoop's own call handles it.
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      val nio = try Some(pathToFile(p).toPath) catch { case _: InvalidPathException => None }
      nio.filter(_ => (mode & ~0x1ff) == 0) match { // beyond rwxrwxrwx: Hadoop
        case Some(f) => Files.setPosixFilePermissions(f,
          PosixFilePermissions.fromString(new FsPermission(mode).toString))
        case None => super.setPermission(p, permission)
      }
    }
  }

  /** Hadoop options that route `file:` paths to this class. The cache
    * must be off: the JVM-wide `FileSystem` cache is keyed by scheme and
    * user, not by conf, so it would hand back the default instance. Pass
    * them to a Spark write with `.options(...)`. */
  private[graft] val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Run `f` on the filesystem of `path` under `conf` plus [[options]].
    * An instance of this class is uncached, so it is closed afterwards;
    * any other scheme gets its usual cached instance, left open. */
  private[graft] def withFileSystem[T](path: String, conf: Configuration)(
      f: FileSystem => T): T = {
    val c = new Configuration(conf)
    options.foreach { case (k, v) => c.set(k, v) }
    val fs = FileSystem.get(new java.net.URI(path), c)
    try f(fs) finally if (fs.isInstanceOf[ForklessLocalFileSystem]) fs.close()
  }
}
