package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one session policy for every program main (Bench, Verify, Smoke,
  * DevProbe, PlanAudit, ScaleCurve, StreamingSmoke) — the Spark analogue
  * of Flink's `StreamExecutionEnvironment.getExecutionEnvironment()`:
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`, where
  *    `cpus` is `SPARK_GRAFT_CPUS` when set, else every available core
  *    (set it to 32 to reproduce the local[32] rows in SCALE.md);
  *  - UTC session time zone, so a plain `java -cp` run matches sbt's
  *    `-Dspark.sql.session.timeZone=UTC` run;
  *  - `GraftExtensions` (the native DotProduct rewrite) and no UI;
  *  - ERROR logging: the WindowExec carry-frame WARN flood would bury
  *    Bench's JSON line and Verify's `[verify]` failure lines;
  *  - a warehouse of its own per process, deleted at JVM exit: two mains in
  *    one directory raced on a shared `spark-warehouse/` (q126's bucketed
  *    twins failed with `LOCATION_ALREADY_EXISTS`) and left its tables on
  *    disk. The twins are rebuilt once per JVM anyway.
  * The test suites keep their own fixed-width `SharedSpark` session.
  */
object GraftSession {

  private lazy val warehouse: File = {
    val dir = Files.createTempDirectory("graft_warehouse").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(dir))
    dir
  }

  def apply(): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
