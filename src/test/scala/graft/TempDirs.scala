package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories for one suite: each is made in `java.io.tmpdir`
  * and deleted, with its contents, after the suite's last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A new empty directory whose name starts with `prefix`. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
}
