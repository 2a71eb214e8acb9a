package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sources.StatsSinkRegistry
import graft.streaming.{Alert, Demos, Rule}

/** The two stream workloads. Each runs its pipeline three times:
  *  - warmup: a fixed number of back-to-back batches, part of set-up;
  *  - open loop: `rowsPerBatch` events created evenly over each
  *    `intervalMs` slot and due as one batch at its end; latency counts
  *    from each event's creation to the delivery of its batch;
  *  - closed loop: back-to-back batches, events admitted per second.
  * Each phase is a fresh query over ids 0, 1, 2, ..., so batch b always
  * holds ids [b * rowsPerBatch, (b + 1) * rowsPerBatch) and every output
  * is checked against the closed-form oracle in [[Gen]].
  */
object StreamBench {
  /** rules-stream: s1 against the fixture rules; ~23% of events alert,
    * far below s1's collect cap, so s1 stays on its one-scan path. */
  val rulesSpec = StreamSpec(
    Vector("view" -> 40, "click" -> 65, "purchase" -> 80, "signup" -> 90, "error" -> 100),
    users = 100000L, rowsPerBatch = 25000L, intervalMs = 500L)

  /** keyed-stream: s4 click→purchase detection over 10k users. A user's
    * previous event is 10k ids back, so a third of the matches pair events
    * inside one 15k-event batch and the rest read the state a batch left.
    * s4 pays ~0.4 s a batch whatever its size (state commit, shuffle), so
    * the interval is long enough to keep the open loop below saturation. */
  val keyedSpec = StreamSpec(
    Vector("view" -> 30, "click" -> 65, "purchase" -> 90, "signup" -> 95, "error" -> 100),
    users = 10000L, rowsPerBatch = 15000L, intervalMs = 1000L)

  val warmupBatches = 5
  /** Batches at the start of a timed phase that are run but not measured. */
  val rampBatches = 2
  /** Share of the run's seconds spent in the open loop; the rest is closed. */
  val openShare = 0.5
  /** The open-loop batch after whose delivery rules-stream swaps its rules. */
  val ruleChangeBatch = rampBatches + 2L
  val severityR2 = "R2"

  def v2Rules(v1: Seq[Rule]): Seq[Rule] =
    v1.filterNot(_.event_type == "click") :+ Rule("click", 190.0, severityR2)

  /** A started pipeline: its query and the time each batch was delivered. */
  abstract class Pipeline {
    val delivered = new ConcurrentHashMap[Long, Double]()
    def query: StreamingQuery
    /** Due time of the first measured open-loop batch, once known. */
    def anchorMs(progress: Map[Long, StreamingQueryProgress]): Double
    /** Checks one delivered batch; returns the rows it delivered. */
    def check(report: Report, batch: Long): Long
    def stop(): Unit = query.stop()
  }

  final class RulesPipeline(spark: SparkSession, o: Opts, v1: Seq[Rule],
      changeAfter: Option[Long], paced: Boolean) extends Pipeline {
    private val spec = rulesSpec
    private val v2 = v2Rules(v1)
    @volatile private var rules = v1
    @volatile private var anchor = Double.NaN
    val outputs = new ConcurrentHashMap[Long, (Seq[Alert], Long)]()

    /** s1's trigger is fixed by the program (back to back), so the open
      * loop holds the callback until the next slot is due. The engine's
      * commit of a batch therefore delays the next batch, and counts. */
    private def onBatch(alerts: Seq[Alert], overflow: Long, batch: Long): Unit = {
      delivered.put(batch, Clock.nowMs)
      outputs.put(batch, (alerts, overflow))
      if (changeAfter.contains(batch)) rules = v2
      if (paced && batch >= rampBatches - 1) {
        if (batch == rampBatches - 1) anchor = Clock.nowMs
        val due = anchor + (batch + 1 - rampBatches) * spec.intervalMs
        while (Clock.nowMs < due && !Thread.currentThread.isInterrupted)
          LockSupport.parkNanos(((due - Clock.nowMs) * 1e6).toLong.min(1000000L).max(1000L))
      }
    }

    val query: StreamingQuery = Demos.s1BroadcastRules(
      Gen.stream(spark, spec, o.cores, o.seed), () => rules, onBatch)

    def anchorMs(progress: Map[Long, StreamingQueryProgress]): Double = anchor

    def rulesFor(batch: Long): Seq[Rule] = if (changeAfter.exists(batch > _)) v2 else v1

    def check(report: Report, batch: Long): Long = {
      val (kept, overflow) = outputs.get(batch)
      val want = Gen.expectedAlerts(spec, o.seed, rulesFor(batch),
        batch * spec.rowsPerBatch, (batch + 1) * spec.rowsPerBatch)
      val ok = kept == want.take(kept.size) && kept.size + overflow == want.size
      report.check(ok, s"s1 batch $batch: ${kept.size}+$overflow alerts, expected ${want.size}")
      kept.size.toLong
    }
  }

  final class KeyedPipeline(spark: SparkSession, o: Opts, tag: String, trigger: Trigger)
      extends Pipeline {
    private val spec = keyedSpec
    private val key = s"perfbench-$tag-${o.seed}"
    @volatile private var polling = true

    val query: StreamingQuery = Demos.s4PatternDetect(spark, Gen.stream(spark, spec, o.cores, o.seed))
      .writeStream.format("graft-stats")
      .option("key", key)
      .option("checkpointLocation", s"${o.runDir}/checkpoints/$tag")
      .trigger(trigger)
      .start()

    /** The sink publishes each epoch from its driver-side commit; this
      * thread notes when each one appears. */
    private val poller = new Thread(() => {
      var next = 0L
      while (polling) {
        if (StatsSinkRegistry.epochReports.contains((key, next))) {
          delivered.put(next, Clock.nowMs)
          next += 1
        } else LockSupport.parkNanos(100000L)
      }
    }, "perfbench-sink-poller")
    poller.setDaemon(true)
    poller.start()

    override def stop(): Unit = { query.stop(); polling = false; poller.join() }

    /** ProcessingTime triggers fire on multiples of the interval. */
    def anchorMs(progress: Map[Long, StreamingQueryProgress]): Double =
      math.floor(startMs(progress(rampBatches.toLong)) / spec.intervalMs) * spec.intervalMs

    def check(report: Report, batch: Long): Long = {
      val rows = StatsSinkRegistry.epochReports.get((key, batch)).map(_.rows).getOrElse(-1L)
      val want = Gen.expectedMatches(spec, o.seed, 0L,
        batch * spec.rowsPerBatch, (batch + 1) * spec.rowsPerBatch)
      report.check(rows == want, s"s4 epoch $batch: $rows matches, expected $want")
      rows
    }
  }

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def offsets(p: StreamingQueryProgress): (Long, Long) = {
    def off(s: String) = Option(s).map(_.trim.toLong).getOrElse(0L)
    (off(p.sources.head.startOffset), off(p.sources.head.endOffset))
  }
  def admitted(p: StreamingQueryProgress): Long = { val (s, e) = offsets(p); e - s }

  /** Blocks until `done` holds, failing if the query dies or stalls. */
  def await(q: StreamingQuery, timeoutMs: Long)(done: => Boolean): Unit = {
    val deadline = Clock.nowMs + timeoutMs
    while (!done) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException(s"query ${q.id} stopped early")
      if (Clock.nowMs > deadline) throw new IllegalStateException(s"query ${q.id} stalled")
      Thread.sleep(2)
    }
  }

  def progressById(q: StreamingQuery): Map[Long, StreamingQueryProgress] =
    q.recentProgress.map(p => p.batchId -> p).toMap

  /** Waits for batches [0, last] to be delivered and reported, then stops. */
  def runTo(p: Pipeline, last: Long): Unit = {
    await(p.query, 120000L)(p.delivered.containsKey(last) &&
      Option(p.query.lastProgress).exists(_.batchId >= last))
    p.stop()
  }

  /** Checks every delivered batch that the engine also reported: its
    * offsets must be the deterministic id range, its output the oracle's. */
  def checkAll(report: Report, p: Pipeline, spec: StreamSpec,
      progress: Map[Long, StreamingQueryProgress]): Long =
    p.delivered.keySet.asScala.toSeq.sorted.filter(progress.contains).map { b =>
      val range = offsets(progress(b))
      report.check(range == (b * spec.rowsPerBatch, (b + 1) * spec.rowsPerBatch),
        s"batch $b admitted ids $range")
      p.check(report, b)
    }.sum

  def run(o: Opts, tracer: Tracer, report: Report): Unit = {
    val keyed = o.workload == "keyed-stream"
    val spec = if (keyed) keyedSpec else rulesSpec
    var v1: Seq[Rule] = Nil
    def pipeline(spark: SparkSession, tag: String, open: Boolean,
        changeAfter: Option[Long] = None): Pipeline =
      if (keyed) new KeyedPipeline(spark, o, tag,
        if (open) Trigger.ProcessingTime(spec.intervalMs) else Trigger.ProcessingTime(0L))
      else new RulesPipeline(spark, o, v1, changeAfter, paced = open)

    val (spark, setupS) = Env.setup(o, tracer) { s =>
      import s.implicits._
      v1 = graft.Tables.rules(s).as[Rule].collect().toSeq
      runTo(pipeline(s, s"warmup-${System.nanoTime()}", open = false), warmupBatches - 1L)
    }
    val jobs = new JobListener(tracer)
    val progressListener = new ProgressListener(tracer)
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progressListener)
    }
    val gc0 = Env.gcMs

    // ---- open loop ------------------------------------------------------
    val openBatches = math.max(4L, math.round(o.seconds * openShare * 1000 / spec.intervalMs))
    jobs.phase = "open"
    val t0 = Clock.nowMs
    val open = tracer.span("phase.open_loop") { id =>
      progressListener.parent = id
      val p = pipeline(spark, "open", open = true, if (keyed) None else Some(ruleChangeBatch))
      runTo(p, rampBatches + openBatches - 1)
      p
    }
    val openProgress = progressById(open.query)
    val openWall = Clock.nowMs - t0
    val measured = (rampBatches.toLong until rampBatches + openBatches).map { b =>
      Stats.Batch(startMs(openProgress(b)), open.delivered.get(b), admitted(openProgress(b)))
    }
    val sched = Stats.openLoop(measured, open.anchorMs(openProgress), spec.intervalMs, spec.rowsPerBatch)
    val latencies = sched.zip(measured).flatMap { case ((delay, _, _), b) =>
      Stats.eventLatencies(delay, b.admitted, spec.intervalMs)
    }.toArray
    val p50 = Stats.percentile(latencies, 50)
    val p99 = Stats.percentile(latencies, 99)
    val lateMax = sched.map(_._2).max
    val lagMax = sched.map(_._3).max

    // ---- closed loop ----------------------------------------------------
    jobs.phase = "closed"
    val closedMs = o.seconds * (1 - openShare) * 1000
    val t1 = Clock.nowMs
    val closed = tracer.span("phase.closed_loop") { id =>
      progressListener.parent = id
      val p = pipeline(spark, "closed", open = false)
      await(p.query, 120000L) {
        val ds = p.delivered
        ds.containsKey(rampBatches - 1L) &&
          ds.asScala.exists { case (b, t) => b >= rampBatches && t - ds.get(rampBatches - 1L) >= closedMs }
      }
      p.stop()
      p
    }
    val closedProgress = progressById(closed.query)
    val closedWall = Clock.nowMs - t1
    jobs.phase = "other"
    val gcTimed = Env.gcMs - gc0
    // each measured batch admits its events over the time to the next start
    val satIds = closedProgress.keys.filter(_ >= rampBatches).toSeq.sorted
    val satRates = satIds.zip(satIds.tail).map { case (b, next) =>
      admitted(closedProgress(b)) / ((startMs(closedProgress(next)) - startMs(closedProgress(b))) / 1000.0)
    }
    val satRate = Stats.median(satRates)

    // ---- output checks (untimed) ------------------------------------------
    val openRows = checkAll(report, open, spec, openProgress)
    val closedRows = checkAll(report, closed, spec, closedProgress)
    val ruleLag = open match {
      case r: RulesPipeline =>
        val fired = r.outputs.asScala.toSeq.sortBy(_._1)
          .find { case (b, (alerts, _)) => b > ruleChangeBatch && alerts.exists(_.severity == severityR2) }
        val lag = fired.map(_._1 - ruleChangeBatch).getOrElse(-1L)
        report.check(lag == 1L, s"rule change after batch $ruleChangeBatch fired after $lag batches")
        lag.toDouble
      case _ => 0.0
    }

    report.e2e("setup_s", setupS, "s")
    report.e2e("lat_p50_ms", p50, "ms")
    report.e2e("lat_p99_ms", p99, "ms")
    report.e2e("throughput_per_s", satRate, "1/s")
    report.notes("sat_events_per_s") = f"$satRate%.1f 1/s (closed loop, median of ${satRates.size} batches)"
    report.notes("open_loop") =
      f"$openBatches batches of ${spec.rowsPerBatch} events every ${spec.intervalMs} ms " +
        f"(${spec.rowsPerBatch * 1000.0 / spec.intervalMs}%.0f events/s offered)"
    report.notes("gen_late_ms") = f"max $lateMax%.1f ms, lag max $lagMax events"
    if (!keyed) report.notes("rule_lag_batches") = f"$ruleLag%.0f batches"

    if (tracer.enabled) {
      // engine phase timings come from the closed loop: in the open loop
      // s1's sink holds each batch until the next slot is due
      val openProg = progressListener.progress(open.query.runId).filter(_.batchId >= rampBatches)
      val prog = progressListener.progress(closed.query.runId).filter(_.batchId >= rampBatches)
      val timed = jobs.of("open") :: jobs.of("closed") :: Nil
      def med(k: String) = Stats.median(prog.map(duration(_, k)))
      val admittedAll = (openProg ++ prog).map(admitted).sum.toDouble
      report.layer("sources.admitted_events", admittedAll, "count")
      report.layer("sources.lag_events", lagMax.toDouble, "count")
      report.layer("sources.gen_late_ms_max", lateMax, "ms")
      report.layer("sources.latest_offset_ms", med("latestOffset"), "ms")
      report.layer("sources.get_batch_ms", med("getBatch"), "ms")
      report.layer("sources.sink_rows", (openRows + closedRows).toDouble, "count")
      report.layer("streaming.trigger_ms_p50", med("triggerExecution"), "ms")
      report.layer("streaming.trigger_ms_p90", Stats.percentile(prog.map(duration(_, "triggerExecution")), 90), "ms")
      report.layer("streaming.query_planning_ms", med("queryPlanning"), "ms")
      report.layer("streaming.add_batch_ms", med("addBatch"), "ms")
      report.layer("streaming.wal_commit_ms", med("walCommit"), "ms")
      report.layer("streaming.commit_offsets_ms", med("commitOffsets"), "ms")
      val all = openProg ++ prog
      // job and shuffle counts cover the ramp batches too
      val phaseBatches = (openProgress.size + closedProgress.size).toDouble
      report.layer("streaming.batches", all.size.toDouble, "count")
      report.layer("streaming.no_data_batches", all.count(_.numInputRows == 0).toDouble, "count")
      report.layer("streaming.jobs_per_batch", timed.map(_.jobs).sum / phaseBatches, "count")
      report.layer("streaming.scan_per_admitted", all.map(_.numInputRows).sum / admittedAll, "ratio")
      open match {
        case r: RulesPipeline =>
          val outs = Seq(r, closed.asInstanceOf[RulesPipeline])
            .flatMap(_.outputs.asScala.collect { case (b, out) if b >= rampBatches => out })
          report.layer("s1.alerts", outs.map(o => o._1.size + o._2).sum.toDouble, "count")
          report.layer("s1.overflow_batches", outs.count(_._2 > 0).toDouble, "count")
          report.layer("s1.alert_selectivity", Gen.selectivity(spec, o.seed, v1, 20000L), "ratio")
          report.layer("s1.rule_lag_batches", ruleLag, "batches")
        case _ =>
      }
      val states = all.flatMap(_.stateOperators.headOption)
      def stateMed(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        if (states.isEmpty) 0.0 else Stats.median(states.map(f))
      report.layer("state.rows_total", states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
      report.layer("state.rows_updated", states.map(_.numRowsUpdated).sum.toDouble, "count")
      report.layer("state.memory_bytes", states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
      report.layer("state.commit_ms", stateMed(_.commitTimeMs.toDouble), "ms")
      report.layer("state.update_ms", stateMed(_.allUpdatesTimeMs.toDouble), "ms")
      report.layer("shuffle.write_bytes_per_batch",
        timed.map(_.shuffleWriteBytes).sum / phaseBatches, "bytes")
      report.layer("jvm.gc_ms", gcTimed.toDouble, "ms")
      report.layer("executor.busy_share",
        timed.map(_.taskRunMs).sum / ((openWall + closedWall) * o.cores), "ratio")
      SourceProbe.run(spark, o, report, tracer)
    }
    spark.stop()
  }
}

/** Reads a fixed batch range of `graft-gen`, all columns, into the `noop`
  * sink: the source layer's cost per row without any streaming around it. */
object SourceProbe {
  val rows = 2000000L
  def run(spark: SparkSession, o: Opts, report: Report, tracer: Tracer): Unit = {
    val times = (1 to 3).map { i =>
      tracer.span("sources.read_probe", key = i.toString) { _ =>
        val t = Clock.nowMs
        spark.read.format("graft-gen").option("rows", rows.toString)
          .option("partitions", o.cores.toString).load()
          .select(col("id"), col("lang"), col("n_toks"), col("score"))
          .write.format("noop").mode("overwrite").save()
        Clock.nowMs - t
      }
    }
    report.layer("sources.read_ms_per_mrow", Stats.median(times) / (rows / 1e6), "ms")
  }
}
