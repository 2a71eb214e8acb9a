package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The batch workloads: repeated sweeps over a fixed query set, each query
  * built through `SparkEntry.queries(name)` (which runs any eager
  * checkpoint jobs) and then reduced to an order-insensitive digest of its
  * full result. The seed only shuffles the order of each sweep. */
object BatchBench {
  final case class QuerySet(sf: String, warmupSf: String, names: Seq[String])

  val sets: Map[String, QuerySet] = Map(
    // eight of q01-q38, one per query shape, flagship q35 included:
    // single-pass relational and stream-shaped batch queries, planning-heavy
    "scan-batch" -> QuerySet("sf0.01", "sf0.001", Seq(
      "q01_scan_project", "q04_agg_pricing", "q07_cube", "q10_join_multi",
      "q16_join_asof", "q22_window_lag_lead", "q31_tumbling_window",
      "q35_broadcast_rules")),
    // iterative checkpoint-ladder queries, bound by per-job overhead
    "ladder-batch" -> QuerySet("sf0.1", "sf0.001", Seq(
      "q78_pipeline_counts", "q221_cc_spanning", "q254_pq_capacity_curve",
      "q219_ivfpq", "q228_ivfpq_rerank", "q225_kcore")))

  /** Row count and a sum of row hashes: equal results give equal digests
    * whatever their row order. Top-level maps are hashed as sorted entries. */
  def digestFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(pmod(col("h"), lit(2147483647L))).as("s"))
  }

  def digest(df: DataFrame): (DataFrame, (Long, Long)) = {
    val d = digestFrame(df)
    val row = d.collect().head
    (d, (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1)))
  }

  final case class Op(name: String, sweep: Int, constructMs: Double, actionMs: Double,
      digest: (Long, Long), planMs: Map[String, Double]) {
    def wallMs: Double = constructMs + actionMs
  }

  def phaseMs(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs.toDouble }

  def run(o: Opts, tracer: Tracer, report: Report): Unit = {
    val set = sets(o.workload)
    val queries = graft.SparkEntry.queries
    val sfDir = s"${o.dataRoot}/${set.sf}"
    val (spark, setupS) = Env.setup(o, tracer) { s =>
      set.names.foreach(n => digest(queries(n)(s, s"${o.dataRoot}/${set.warmupSf}")))
    }
    val sc = spark.sparkContext
    val jobs = new JobListener(tracer)
    if (tracer.enabled) sc.addSparkListener(jobs)

    def execute(name: String, sweep: Int, parent: Int): Op =
      tracer.span("query", parent, name) { qid =>
        sc.setLocalProperty("perfbench.key", name)
        sc.setLocalProperty("perfbench.phase", "construct")
        val t0 = Clock.nowMs
        val df = tracer.span("ops.construct", qid, name) { id =>
          sc.setLocalProperty("perfbench.span", id.toString)
          queries(name)(spark, sfDir)
        }
        sc.setLocalProperty("perfbench.phase", "action")
        val t1 = Clock.nowMs
        val (d, dg) = tracer.span("ops.action", qid, name) { id =>
          sc.setLocalProperty("perfbench.span", id.toString)
          digest(df)
        }
        val t2 = Clock.nowMs
        val plans = (phaseMs(df).toSeq ++ phaseMs(d).toSeq).groupMapReduce(_._1)(_._2)(_ + _)
        Op(name, sweep, t1 - t0, t2 - t1, dg, plans)
      }

    val rnd = new scala.util.Random(o.seed)
    val ops = mutable.ArrayBuffer.empty[Op]
    val sweepMs = mutable.ArrayBuffer.empty[Double]
    val gc0 = Env.gcMs
    val t0 = Clock.nowMs
    while (sweepMs.isEmpty || Clock.nowMs - t0 < o.seconds * 1000.0) {
      val sweep = sweepMs.size
      val s0 = Clock.nowMs
      tracer.span("sweep", key = sweep.toString) { id =>
        rnd.shuffle(set.names).foreach(n => ops += execute(n, sweep, id))
      }
      sweepMs += Clock.nowMs - s0
    }
    val wallMs = Clock.nowMs - t0
    val gcTimed = Env.gcMs - gc0
    Seq("perfbench.key", "perfbench.phase", "perfbench.span").foreach(sc.setLocalProperty(_, null))

    // ---- output checks (untimed): every timed result equals the digest of
    // the verified output that the DuckDB oracle passed --------------------
    o.verified match {
      case None => report.check(ok = false, "query outputs were not verified against the oracle")
      case Some(dir) =>
        val want = set.names.map(n => n -> digest(spark.read.parquet(s"$dir/$n"))._2).toMap
        ops.foreach(op => report.check(op.digest == want(op.name),
          s"${op.name} sweep ${op.sweep}: digest ${op.digest} != verified ${want(op.name)}"))
    }

    // the median runs over every query run; the tail over each query's
    // median, so one slow run cannot stand for its query
    val perQuery = ops.groupBy(_.name).values.map(qs => Stats.median(qs.map(_.wallMs).toSeq)).toSeq
    report.e2e("setup_s", setupS, "s")
    report.e2e("lat_p50_ms", Stats.median(ops.map(_.wallMs).toSeq), "ms")
    report.e2e("lat_p99_ms", Stats.percentile(perQuery, 99), "ms")
    report.e2e("throughput_per_s", set.names.size / (Stats.median(sweepMs.toSeq) / 1000.0), "1/s")
    report.notes("sweep_s") = f"${Stats.median(sweepMs.toSeq) / 1000}%.3f s (median of ${sweepMs.size} sweeps " +
      f"over ${set.names.size} queries at ${set.sf})"

    if (tracer.enabled) {
      val n = sweepMs.size.toDouble
      val (con, act) = (jobs.of("construct"), jobs.of("action"))
      def perSweep(f: Op => Double) =
        Stats.median(ops.groupBy(_.sweep).values.map(_.map(f).sum).toSeq)
      report.layer("ops.construct_s", perSweep(_.constructMs) / 1000, "s")
      report.layer("ops.action_s", perSweep(_.actionMs) / 1000, "s")
      report.layer("ops.construct_jobs", con.jobs / n, "count")
      report.layer("ops.action_jobs", act.jobs / n, "count")
      report.layer("ops.small_jobs", (con.smallJobs + act.smallJobs) / n, "count")
      report.layer("ops.stages", (con.stages + act.stages) / n, "count")
      report.layer("ops.shuffle_bytes", (con.shuffleWriteBytes + act.shuffleWriteBytes) / n, "bytes")
      for ((k, name) <- Seq("analysis" -> "plans.analysis_ms", "optimization" -> "plans.optimization_ms",
          "planning" -> "plans.planning_ms"))
        report.layer(name, perSweep(_.planMs.getOrElse(k, 0.0)), "ms")
      report.layer("sources.sink_rows", ops.map(_.digest._1).sum / n, "count")
      report.layer("jvm.gc_ms", gcTimed.toDouble, "ms")
      report.layer("executor.busy_share", (con.taskRunMs + act.taskRunMs) / (wallMs * o.cores), "ratio")
      for ((q, qs) <- ops.groupBy(_.name)) {
        report.traceCounts(s"query.$q.construct_ms") = Stats.median(qs.map(_.constructMs).toSeq)
        report.traceCounts(s"query.$q.action_ms") = Stats.median(qs.map(_.actionMs).toSeq)
      }
      SourceProbe.run(spark, o, report, tracer)
    }
    spark.stop()
  }
}
