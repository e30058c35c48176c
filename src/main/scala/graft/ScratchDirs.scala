package graft

import java.util.concurrent.ConcurrentLinkedQueue

/** Scratch dirs that query code writes to (staging, checkpoints, lake
  * tables): each lives under `java.io.tmpdir` until the JVM exits and
  * is then deleted by one shared shutdown hook. A query's DataFrame may
  * read its dir lazily after the query method returns, so nothing is
  * deleted earlier; repeated runs in one JVM (sbt test, Verify, Bench)
  * leave nothing behind. */
object ScratchDirs {
  private val created = new ConcurrentLinkedQueue[String]
  sys.addShutdownHook {
    created.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  /** A new empty dir named `prefix…`, deleted at JVM exit. */
  def create(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    created.add(d)
    d
  }
}
