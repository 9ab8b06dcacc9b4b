package graft.sink

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system, with the same checksums, modes and
  * semantics, minus one fork per file. Without libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a subprocess, and it
  * runs on every `create` (each part file and its `.crc`) and on every new
  * directory; a dump writes one part file per chunk, so that fork, not
  * Parquet or gzip, is most of a small file's cost. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `setPermission` applies the mode with `Files.setPosixFilePermissions`, one
  * `chmod` syscall in this process. Modes with bits above `0777` (sticky,
  * setuid, setgid), which a POSIX permission set cannot express, and file
  * stores without a POSIX view take Hadoop's own path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (mode > 0x1ff) super.setPermission(p, permission) // above 0777
    else {
      val file = pathToFile(p).toPath
      try Files.setPosixFilePermissions(file, ForkFreeRawLocalFileSystem.permissions(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist")
      }
    }
  }
}

object ForkFreeRawLocalFileSystem {
  /** OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private val Bits = PosixFilePermission.values

  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(Bits(i)))
    set
  }
}

object ForkFreeLocalFileSystem {

  /** The Hadoop keys that send a `file:` path (a path without a scheme
    * counts when the default file system is local) to
    * [[ForkFreeLocalFileSystem]]; empty for every other scheme. Given as
    * writer options, Spark merges them into the write job's Hadoop conf, so
    * the tasks and the committer use the class too. The cache must be off:
    * it keys on scheme, authority and user, not on the conf, and would hand
    * back a plain local file system made earlier. */
  def options(path: Path, conf: Configuration): Map[String, String] =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) match {
      case "file" => Map("fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
                         "fs.file.impl.disable.cache" -> "true")
      case _      => Map.empty
    }

  /** The file system of `path` under the keys of [[options]]. */
  def get(path: Path, conf: Configuration): FileSystem = {
    val extra = options(path, conf)
    if (extra.isEmpty) path.getFileSystem(conf)
    else {
      val local = new Configuration(conf)
      extra.foreach { case (k, v) => local.set(k, v) }
      path.getFileSystem(local)
    }
  }
}
