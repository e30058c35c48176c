package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a spec creates, each deleted with its contents after the
  * spec's last test. Under sbt `java.io.tmpdir` is a tmpfs, so a dir
  * left behind keeps holding memory after the run. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A new empty dir under `java.io.tmpdir`, deleted in `afterAll`. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    created.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally created.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
}
