package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (forked test JVM). */
object SharedSpark {
  /** The suites' warehouse, deleted at JVM exit. */
  private lazy val warehouse: java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouse.getPath)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** Run `body` with the RocksDB state-store provider active (required by
    * transformWithState); restores the previous provider afterwards. The
    * provider is captured at query START, so concurrent suites on the
    * shared session are unaffected. */
  def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
