package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories a suite creates under `java.io.tmpdir`, deleted
  * when the suite ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}
