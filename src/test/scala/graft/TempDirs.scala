package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite}

/** Per-test temp directories: `tempDir(prefix)` makes one under the system
  * temp dir, and each test deletes the ones it made when it ends, pass or
  * fail. A test must stop its streams before it returns; the delete waits
  * (up to 10 s) for tasks still running, because a stopped stream's
  * cancelled write tasks can recreate their output directory. */
trait TempDirs extends TestSuite {
  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally if (!made.isEmpty) {
      val tracker = SharedSpark.spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 10000000000L
      while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) && System.nanoTime() < deadline)
        Thread.sleep(20)
      Iterator.continually(made.poll()).takeWhile(_ != null)
        .foreach(d => FileUtils.deleteQuietly(d.toFile))
    }
}
