package perfbench

import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM. `run.py` builds the classpath and calls
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *     --heap H --run-dir D --data-root R [--verified V]
  *
  * and reads `D/result.json`; with `--trace 1` the spans go to
  * `D/trace.jsonl`. `perfbench.Main --list W` prints a batch workload's
  * scale factor and query names.
  */
object Main {
  /** Every per-layer metric and its unit; a workload that lacks a layer
    * reports it as 0. */
  val layerUnits: Seq[(String, String)] = Seq(
    "sources.admitted_events" -> "count", "sources.lag_events" -> "count",
    "sources.gen_late_ms_max" -> "ms", "sources.latest_offset_ms" -> "ms",
    "sources.get_batch_ms" -> "ms", "sources.read_ms_per_mrow" -> "ms",
    "sources.sink_rows" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.trigger_ms_p90" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.no_data_batches" -> "count",
    "streaming.jobs_per_batch" -> "count", "streaming.scan_per_admitted" -> "ratio",
    "s1.alerts" -> "count", "s1.overflow_batches" -> "count",
    "s1.alert_selectivity" -> "ratio", "s1.rule_lag_batches" -> "batches",
    "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.memory_bytes" -> "bytes", "state.commit_ms" -> "ms", "state.update_ms" -> "ms",
    "shuffle.write_bytes_per_batch" -> "bytes",
    "ops.construct_s" -> "s", "ops.action_s" -> "s", "ops.construct_jobs" -> "count",
    "ops.action_jobs" -> "count", "ops.small_jobs" -> "count", "ops.stages" -> "count",
    "ops.shuffle_bytes" -> "bytes",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "executor.busy_share" -> "ratio")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--list")) {
      val set = BatchBench.sets(args(1))
      println((set.sf +: set.names).mkString(" "))
      return
    }
    val o = Opts.parse(args)
    val tracer = new Tracer(o.trace, o.workload)
    val report = new Report
    o.workload match {
      case "rules-stream" | "keyed-stream" => StreamBench.run(o, tracer, report)
      case w if BatchBench.sets.contains(w) => BatchBench.run(o, tracer, report)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    report.e2e("peak_rss_mb", Env.peakRssMb, "MB")
    SelfCheck.pure(report)
    if (o.trace) for ((k, u) <- layerUnits if !report.perLayer.contains(k)) report.layer(k, 0.0, u)

    def metrics(m: collection.Map[String, (Double, String)]) = Json.obj(m.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val json = Json.obj(Seq(
      "end_to_end" -> metrics(report.endToEnd),
      "per_layer" -> metrics(report.perLayer),
      "attempted" -> report.attempted.toString,
      "failed" -> report.failed.toString,
      "failures" -> report.failures.map(Json.str).mkString("[", ",", "]"),
      "notes" -> Json.obj(report.notes.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "config" -> Json.obj(Seq(
        "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
        "seconds" -> o.seconds.toString, "trace" -> (if (o.trace) "1" else "0"),
        "cores" -> o.cores.toString, "heap" -> Json.str(o.heap),
        "spans" -> tracer.size.toString))))
    tracer.write(Paths.get(o.runDir, "trace.jsonl"),
      report.perLayer.map { case (k, (v, _)) => k -> v }.toMap ++ report.traceCounts)
    Files.writeString(Paths.get(o.runDir, "result.json"), json)
    sys.exit(0)
  }
}
