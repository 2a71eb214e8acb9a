package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite}

/** Per-test temp directories: `tempDir(prefix)` makes one under the system
  * temp dir, and each test deletes the ones it made when it ends, pass or
  * fail. A test must stop its streams through `StreamStart.stop` before it
  * returns: a plain `StreamingQuery.stop()` returns while cancelled write
  * tasks still run, and those can recreate their output directory. */
trait TempDirs extends TestSuite {
  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(made.poll()).takeWhile(_ != null)
      .foreach(d => FileUtils.deleteQuietly(d.toFile))
}

object TempDirs {
  /** The snapshot versions under `dir`, ascending, listed with plain
    * `java.io.File` rather than the code under test. */
  def versions(dir: String): Seq[Long] =
    new java.io.File(dir).list().toSeq
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).sorted
}
