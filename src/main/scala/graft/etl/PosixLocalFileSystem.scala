package graft.etl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with one change: file modes are set
  * through `java.nio` instead of a forked `chmod`. Without Hadoop's
  * native library, `RawLocalFileSystem.setPermission` runs one `chmod`
  * process per created file or directory (two per checksummed file:
  * the file and its `.crc`), a few milliseconds each. Checksums,
  * layout and the resulting modes are unchanged. A mode `java.nio`
  * cannot express (the sticky bit), or a file store without POSIX
  * attributes, goes to Hadoop's own code.
  *
  * Scoped to one write through [[writeOptions]]: Spark copies a
  * writer's options into that write job's Hadoop conf, and the cache
  * switch keeps the process-wide `file:` instance out of it. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val mode = perm.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, perm) // bits past 0777
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }
    }
  }

  /** The nine `rwxrwxrwx` bits of `mode`; `PosixFilePermission`'s
    * constants are declared in that order, owner read (0400) first. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }

  /** `DataFrameWriter` options that route one write's `file:` paths
    * through this file system. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[PosixLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
