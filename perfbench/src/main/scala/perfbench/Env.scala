package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    heap: String,
    runDir: String,
    dataRoot: String,
    verified: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, get("heap"), get("run-dir"), get("data-root"), kv.get("verified"))
  }
}

/** What one run measured and checked. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** Extra counts written only to the trace file. */
  val traceCounts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** One checked operation; a failed one keeps its first few reasons. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
}

/** Session, set-up repetitions and process-level readings, shared by all
  * workloads. The environment is pinned: `local[cores]`, as many shuffle
  * partitions as cores, and every scratch directory inside the run dir. */
object Env {
  val setupReps = 3

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${o.runDir}/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs the set-up `reps` times: a fresh session plus the workload's
    * fixed warmup. The first repetition counts from JVM start. Returns the
    * last session and the median set-up time in seconds. */
  def setup(o: Opts, tracer: Tracer)(warmup: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val times = (1 to setupReps).map { rep =>
      if (spark != null) spark.stop()
      val start = if (rep == 1) jvmStartMs else Clock.nowMs
      tracer.span("setup", key = rep.toString) { _ =>
        spark = session(o)
        warmup(spark)
      }
      (Clock.nowMs - start) / 1000.0
    }
    (spark, Stats.median(times))
  }

  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
