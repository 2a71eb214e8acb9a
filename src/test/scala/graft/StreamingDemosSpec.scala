package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{IncrementalExecution, MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._
import TempDirs.versions

/** An event whose value may be null, and whose user_id is an int (s1 casts
  * it to the alert's long). */
case class NullableEvent(event_id: Long, user_id: Int, event_type: String, value: Option[Double])

/** MemoryStream-driven tests for the Structured Streaming demos s1–s5
  * (SURVEY.md §2.3/§5.4), including the R10 semantics: a rule update
  * between micro-batches affects subsequent batches only.
  */
class StreamingDemosSpec extends AnyFunSuite with TempDirs {
  import SharedSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, uid: Long, typ: String, v: Double): Event =
    Event(id, ts(minute), uid, typ, v, """{"k": 1}""")

  private def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable()
  }

  /** Counts the Spark jobs each streaming batch starts, keyed by the query
    * and batch ids the engine sets on its thread, so other suites' jobs on
    * the shared session never count. */
  private final class BatchJobs extends SparkListener {
    private val jobs = new ConcurrentHashMap[(String, String), Integer]()
    override def onJobStart(js: SparkListenerJobStart): Unit = for {
      p <- Option(js.properties)
      q <- Option(p.getProperty("sql.streaming.queryId"))
      b <- Option(p.getProperty("streaming.sql.batchId"))
    } jobs.merge((q, b), 1, (a: Integer, c: Integer) => a + c)
    def of(q: StreamingQuery, batch: Long): Int =
      Option(jobs.get((q.id.toString, batch.toString))).fold(0)(_.intValue)
  }

  /** Runs `body` with a [[BatchJobs]] listener, and returns what `read`
    * makes of it once the listener bus has settled (two equal reads 50 ms
    * apart — PlanAudit.awaitStable's rule). */
  private def withBatchJobs[A, B](body: => A)(read: (A, BatchJobs) => B): B = {
    val listener = new BatchJobs
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      def poll(): B = { Thread.sleep(50); read(a, listener) }
      var (prev, cur, polls) = (poll(), poll(), 2)
      while (cur != prev && polls < 100) { prev = cur; cur = poll(); polls += 1 }
      cur
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("s1: broadcast rules fire alerts; rule updates apply to the NEXT batch (R10)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    @volatile var rules = Seq(Rule("purchase", 150.0, "HIGH"))
    val seen = mutable.Buffer[(Long, Seq[Alert])]()
    val q = Demos.s1BroadcastRules(
      input.toDF(),
      () => rules,
      (alerts, overflow, id) => seen.synchronized {
        assert(overflow == 0L); seen += ((id, alerts))
      }
    )
    try {
      input.addData(ev(1, 0, 7, "purchase", 200.0), ev(2, 1, 7, "purchase", 100.0))
      runToCompletion(q)
      val firstAlerts = seen.synchronized(seen.flatMap(_._2).toVector)
      assert(firstAlerts.map(_.event_id) == Vector(1L)) // only >=150 fires
      assert(firstAlerts.head.severity == "HIGH")

      // Broadcast-state update between micro-batches: lower the threshold.
      rules = Seq(Rule("purchase", 50.0, "MED"))
      input.addData(ev(3, 2, 7, "purchase", 100.0))
      runToCompletion(q)
      val all = seen.synchronized(seen.flatMap(_._2).toVector)
      assert(all.map(_.event_id).sorted == Vector(1L, 3L)) // event 2 was judged by OLD rules
      assert(all.find(_.event_id == 3).get.severity == "MED")
    } finally StreamStart.stop(q)
  }

  test("s1: alert collect is capped — lowest event_ids kept, overflow counted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val seen = mutable.Buffer[(Seq[Alert], Long)]()
    // the cap-hit batch counts its overflow in the same job as its alerts
    val jobs = withBatchJobs {
      val q = Demos.s1BroadcastRules(
        input.toDF(),
        () => Seq(Rule("purchase", 150.0, "HIGH")),
        (alerts, overflow, _) => seen.synchronized { seen += ((alerts, overflow)) },
        maxCollect = 2
      )
      try {
        // 4 qualifying alerts in one batch against a cap of 2
        input.addData(ev(4, 0, 1, "purchase", 200.0), ev(2, 1, 2, "purchase", 300.0),
          ev(3, 2, 3, "purchase", 250.0), ev(1, 3, 4, "purchase", 400.0))
        q.processAllAvailable()
        q
      } finally StreamStart.stop(q)
    }((q, j) => j.of(q, 0L))
    val (alerts, overflow) = seen.synchronized(seen.head)
    assert(alerts.map(_.event_id) == Seq(1L, 2L)) // deterministic: lowest ids survive
    assert(overflow == 2L)
    assert(jobs == 1, s"the cap-hit batch ran $jobs Spark jobs")
  }

  test("s1: literal rules map gives the broadcast join's alerts in a join-free plan") {
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(Rule("purchase", 100.0, "MED"), Rule("purchase", 150.0, "HIGH"),
      Rule(null, 0.0, "ANY"), Rule("click", 5.0, "LOW"))
    val events = Seq(
      ev(1, 0, 1, "purchase", 200.0), // both purchase rules fire
      ev(2, 1, 2, "purchase", 120.0),
      ev(3, 2, 3, "purchase", 100.0), // exactly at the MED threshold
      ev(4, 3, 4, "click", 4.0),
      ev(5, 4, 5, "view", 900.0), // no rule for this event_type
      ev(6, 5, 6, null, 900.0))
    val joined = events.toDF()
      .join(broadcast(rules.toDF()), Seq("event_type"))
      .where($"value" >= $"threshold")
      .select("event_id", "user_id", "event_type", "value", "severity")
      .as[Alert].collect().toSeq

    // s1 builds no query of its own: the only SQL executions its stream
    // reports are the engine's own streaming batches
    val executions = mutable.Buffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        executions.synchronized { executions += qe }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.synchronized { executions += qe }
    }
    val input = MemoryStream[Event]
    val seen = mutable.Buffer[Alert]()
    spark.listenerManager.register(listener)
    val (q, jobs) = try withBatchJobs {
      val q = Demos.s1BroadcastRules(input.toDF(), () => rules,
        (alerts, _, _) => seen.synchronized { seen ++= alerts })
      try {
        input.addData(events.take(3): _*)
        q.processAllAvailable()
        input.addData(events.drop(3): _*)
        q.processAllAvailable()
        q
      } finally StreamStart.stop(q)
    } { (q, j) =>
      (q, q.recentProgress.filter(_.numInputRows > 0).map(p => p.batchId -> j.of(q, p.batchId)).toSeq)
    } finally spark.listenerManager.unregister(listener)

    def key(a: Alert) = (a.event_id, a.severity)
    assert(joined.map(key).sorted == Seq((1L, "HIGH"), (1L, "MED"), (2L, "MED"), (3L, "MED")))
    assert(seen.synchronized(seen.toSeq).sortBy(key) == joined.sortBy(key))
    object Aqe extends AdaptiveSparkPlanHelper
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    val bad = Aqe.collectWithSubqueries(plan) {
      case j: BaseJoinExec => j
      case b: BroadcastExchangeExec => b
    }
    assert(bad.isEmpty, s"s1's batch plan must hold no join or broadcast exchange:\n$plan")
    val own = executions.synchronized(executions.toSeq).filterNot(_.isInstanceOf[IncrementalExecution])
    assert(own.isEmpty, s"s1 started ${own.size} SQL executions of its own:\n" +
      own.map(_.executedPlan.treeString).mkString("\n"))
    assert(jobs.map(_._1) == Seq(0L, 1L) && jobs.forall(_._2 == 1),
      s"each data batch must run exactly one Spark job, (batch, jobs) = $jobs")
  }

  test("s1: edge values — NaN, -0.0, nulls and equal thresholds alert as SQL's value >= threshold") {
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(Rule("purchase", 100.0, "MED"), Rule("purchase", Double.NaN, "NAN"),
      Rule("click", 0.0, "ZERO"), Rule("view", -0.0, "NEGZERO"), Rule(null, -1e9, "ANY"))
    val events = Seq(
      NullableEvent(1, 1, "purchase", Some(Double.NaN)), // NaN sorts above everything
      NullableEvent(2, 2, "purchase", Some(100.0)), // equal to its threshold
      NullableEvent(3, 3, "purchase", Some(Double.PositiveInfinity)), // below NaN
      NullableEvent(4, 4, "click", Some(-0.0)), // -0.0 equals 0.0
      NullableEvent(5, 5, "view", Some(0.0)), // 0.0 equals -0.0
      NullableEvent(6, 6, "click", None), // null value never alerts
      NullableEvent(7, 7, null, Some(500.0)), // null type, and the null-type rule, never match
      NullableEvent(8, 8, "click", Some(-Double.MinPositiveValue)),
      NullableEvent(9, 9, "click", Some(Double.MinPositiveValue)))
    def key(a: Alert) = (a.event_id, a.user_id, a.event_type, a.value.toString, a.severity)
    val joined = events.toDF()
      .join(broadcast(rules.toDF()), Seq("event_type"))
      .where($"value" >= $"threshold")
      .select("event_id", "user_id", "event_type", "value", "severity")
      .as[Alert].collect().toSeq.map(key).sorted
    assert(joined.map(k => (k._1, k._5)) == Seq((1L, "MED"), (1L, "NAN"), (2L, "MED"),
      (3L, "MED"), (4L, "ZERO"), (5L, "NEGZERO"), (9L, "ZERO")))

    val input = MemoryStream[NullableEvent]
    val seen = mutable.Buffer[Alert]()
    val q = Demos.s1BroadcastRules(input.toDF(), () => rules,
      (alerts, overflow, _) => seen.synchronized { assert(overflow == 0L); seen ++= alerts })
    try {
      input.addData(events: _*)
      q.processAllAvailable()
    } finally StreamStart.stop(q)
    assert(seen.synchronized(seen.toSeq).map(key).sorted == joined)
  }

  test("s1: 10,000 rules, ten per event type, give the broadcast join's alerts") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val types = (0 until 1000).map(i => f"t$i%04d")
    // per type, one threshold in each tenth of the values' 0..1000 range
    val rules = for (t <- types; j <- 0 until 10)
      yield Rule(t, j * 100.0 + rnd.nextInt(100), s"$t/$j")
    val events = (0 until 4000).map { i =>
      val typ = if (i % 50 == 0) "untyped" else types(rnd.nextInt(types.size))
      ev(i, i % 600, i % 97, typ, rnd.nextInt(1001).toDouble)
    }
    def key(a: Alert) = (a.event_id, a.severity)
    val joined = events.toDF()
      .join(broadcast(rules.toDF()), Seq("event_type"))
      .where($"value" >= $"threshold")
      .select("event_id", "user_id", "event_type", "value", "severity")
      .as[Alert].collect().toSeq.sortBy(key)
    assert(joined.size > 15000, s"only ${joined.size} joined alerts")

    val input = MemoryStream[Event]
    val seen = mutable.Buffer[Alert]()
    val q = Demos.s1BroadcastRules(input.toDF(), () => rules,
      (alerts, overflow, _) => seen.synchronized { assert(overflow == 0L); seen ++= alerts })
    try for (half <- events.grouped(2000)) {
      input.addData(half: _*)
      q.processAllAvailable()
    } finally StreamStart.stop(q)
    assert(seen.synchronized(seen.toSeq).sortBy(key) == joined)
  }

  test("foreachBatch hands s1 its batch as a LogicalRDD over the engine's rows") {
    // s1 runs its job on this LogicalRDD's rdd and has no other path: a
    // Spark whose ForeachBatchSink hands over another plan fails here
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val seen = mutable.Buffer[(String, Long)]()
    val q = StreamStart(input.toDF())(_.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val plan = batch.queryExecution.logical
      val rows = plan match {
        case r: LogicalRDD => r.rdd.count()
        case _ => -1L
      }
      seen.synchronized { seen += ((plan.getClass.getName, rows)) }
      ()
    })
    try {
      input.addData(ev(1, 0, 7, "purchase", 200.0), ev(2, 1, 7, "click", 1.0))
      q.processAllAvailable()
    } finally StreamStart.stop(q)
    assert(seen.synchronized(seen.toSeq) == Seq((classOf[LogicalRDD].getName, 2L)))
  }

  test("s1: offset and commit logs hold only batch files — no .crc, no temp files") {
    // Spark's default checkpoint manager leaves a `.N.crc` per log file,
    // written through the forking Hadoop local FS; s1 starts through
    // StreamStart, whose java.nio manager writes neither
    val s = spark.newSession()
    val root = tempDir("s1_layout")
    s.conf.set("spark.sql.streaming.checkpointLocation", root.toString)
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s1BroadcastRules(input.toDF(), () => Seq(Rule("purchase", 150.0, "HIGH")),
      (_, _, _) => ())
    try for (i <- 0 until 3) {
      input.addData(ev(i, i, 7, "purchase", 200.0))
      q.processAllAvailable()
    } finally StreamStart.stop(q)
    def ls(d: java.nio.file.Path) = d.toFile.list().toSet
    val ckpt = root.resolve(ls(root).toSeq.head)
    for (log <- Seq("offsets", "commits"))
      assert(ls(ckpt.resolve(log)) == Set("0", "1", "2"), s"$log: ${ls(ckpt.resolve(log))}")
    assert(spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass").isEmpty &&
      s.conf.getOption("spark.sql.streaming.checkpointFileManagerClass").isEmpty,
      "StreamStart must put the session's manager conf back")
  }

  test("s2: watermarked tumbling window emits finalized hourly counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s2TumblingCounts(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s2_out").start()
    try {
      input.addData(ev(1, 5, 1, "click", 1.0), ev(2, 10, 2, "click", 1.0), ev(3, 65, 1, "view", 1.0))
      runToCompletion(q)
      // Watermark pusher: far-future event finalizes all earlier windows.
      input.addData(ev(99, 60 * 24, 1, "click", 1.0))
      runToCompletion(q)
      val rows = spark.table("s2_out").as[(Timestamp, String, Long)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L)))
      assert(rows.contains((ts(60), "view", 1L)))
    } finally StreamStart.stop(q)
  }

  test("s3: streaming dedup keeps one row per (user_id, event_type)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s3Dedup(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s3_out").start()
    try {
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 1, 1, "click", 2.0), ev(3, 2, 1, "view", 3.0))
      runToCompletion(q)
      input.addData(ev(4, 3, 1, "click", 4.0)) // still a dup within state horizon
      runToCompletion(q)
      val n = spark.table("s3_out").count()
      assert(n == 2) // one click + one view for user 1
    } finally StreamStart.stop(q)
  }

  test("s3b: bounded-state dedup suppresses within the horizon, evicts state after it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s3DedupBounded(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s3b_out").start()
    try {
      // two duplicates inside the 10-minute horizon -> one survivor
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 1, 1, "click", 2.0))
      runToCompletion(q)
      assert(spark.table("s3b_out").where($"user_id" === 1).count() == 1)
      // watermark pusher far past the key's expiry -> state evicted
      input.addData(ev(99, 60, 9, "view", 1.0))
      runToCompletion(q)
      // same key again, beyond the horizon: RE-EMITTED (the deliberate
      // bounded-state trade vs s3's exact-forever dedup)
      input.addData(ev(3, 55, 1, "click", 3.0))
      runToCompletion(q)
      assert(spark.table("s3b_out")
        .where($"user_id" === 1 && $"event_type" === "click").count() == 2)
    } finally StreamStart.stop(q)
  }

  test("s4: flatMapGroupsWithState detects click→purchase across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s4PatternDetect(spark, input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s4_out").start()
    try {
      // batch 1: click for user 1; purchase WITHOUT prior click for user 2
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 0, 2, "purchase", 5.0))
      runToCompletion(q)
      // batch 2: purchase for user 1 — state (last=click) carried across batches
      input.addData(ev(3, 5, 1, "purchase", 9.0))
      runToCompletion(q)
      // batch 3: view then purchase for user 1 — no match (view broke the pattern)
      input.addData(ev(4, 6, 1, "view", 1.0), ev(5, 7, 1, "purchase", 2.0))
      runToCompletion(q)
      val matches = spark.table("s4_out").as[PatternMatch].collect().toVector
      assert(matches.map(m => (m.user_id, m.click_event_id, m.purchase_event_id)) == Vector((1L, 1L, 3L)))
    } finally StreamStart.stop(q)
  }

  test("s6: stream-stream join pairs purchases with clicks in the prior 30min") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s6StreamStreamJoin(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s6_out").start()
    try {
      input.addData(
        ev(1, 0, 1, "click", 1.0),      // joined (purchase 10min later)
        ev(2, 10, 1, "purchase", 5.0),
        ev(3, 20, 2, "click", 1.0),     // NOT joined (purchase 40min later)
        ev(4, 60, 2, "purchase", 5.0),
        ev(5, 15, 3, "purchase", 2.0)   // no click at all
      )
      runToCompletion(q)
      input.addData(ev(99, 60 * 24, 9, "view", 0.0)) // advance watermark
      runToCompletion(q)
      val joined = spark.table("s6_out")
        .select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(joined == Set((1L, 1L, 2L)))
    } finally StreamStart.stop(q)
  }

  test("s7: LEFT OUTER stream-stream join emits unmatched clicks only after watermark closes their interval") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s7StreamStreamLeftJoin(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s7_out").start()
    try {
      input.addData(
        ev(1, 0, 1, "click", 1.0),      // matched (purchase 10min later)
        ev(2, 10, 1, "purchase", 5.0),
        ev(3, 20, 2, "click", 1.0)      // never purchased
      )
      runToCompletion(q)
      // the unmatched click must NOT have emitted yet: its 30-minute join
      // interval is still open (watermark hasn't passed minute 20+30+10)
      val early = spark.table("s7_out")
        .select("user_id", "click_id").as[(Long, Long)].collect().toSet
      assert(early == Set((1L, 1L)),
        s"unmatched click leaked before watermark closed its interval: $early")
      // Advance the watermark far past every interval → the NULL row
      // drains. The pushers must SURVIVE each side's event_type filter
      // (the watermark operators sit above the filters, so a filtered-out
      // event advances nothing) and must not join each other — distinct
      // users, and their own intervals stay open past the final watermark,
      // so the pushers themselves never emit.
      input.addData(
        ev(99, 60 * 24, 8, "click", 0.0), ev(97, 60 * 24, 9, "purchase", 0.0))
      runToCompletion(q)
      input.addData(
        ev(98, 60 * 24 + 1, 8, "click", 0.0), ev(96, 60 * 24 + 1, 9, "purchase", 0.0))
      runToCompletion(q)
      val rows = spark.table("s7_out")
        .select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(rows == Set((1L, 1L, Some(2L)), (2L, 3L, None)),
        s"expected the matched pair plus the late NULL row, got $rows")
    } finally StreamStart.stop(q)
  }

  test("s8: dedup-on-ingest — first arrival claims the signature across batches; idle state evicts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocIngest]
    def doc(id: Long, minute: Int, text: String): DocIngest =
      DocIngest(id, ts(minute), text, "en")
    val q = Demos.s8DedupBySignature(spark, input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s8_out").start()
    try {
      // batch 1: two distinct texts + an intra-batch duplicate arriving
      // EARLIER in event time than doc 1 — event-time order, not arrival
      // order, picks the canonical
      input.addData(doc(1, 10, "alpha beta"), doc(2, 5, "alpha beta"), doc(3, 6, "gamma"))
      runToCompletion(q)
      // batch 2: cross-batch duplicate — state remembers doc 2 claimed it
      input.addData(doc(4, 12, "alpha beta"))
      runToCompletion(q)
      val verdicts = spark.table("s8_out")
        .as[DedupVerdict].collect().map(v => v.doc_id -> (v.is_first, v.canonical_id)).toMap
      assert(verdicts(2L) == ((true, 2L)), s"event-time-first doc must win: $verdicts")
      assert(verdicts(1L) == ((false, 2L)))
      assert(verdicts(3L) == ((true, 3L)))
      assert(verdicts(4L) == ((false, 2L)), s"cross-batch dup must point at the canonical: $verdicts")
      // batch 3: an OUT-OF-ORDER cross-batch duplicate — earlier event time
      // (minute 4) than the doc that claimed "gamma" (doc 3, minute 6), but
      // arriving in a later batch. The documented contract is first-ARRIVAL
      // across batches (append mode cannot revise emitted verdicts): doc 7
      // is a dup pointing at doc 3, even though it "happened" first.
      input.addData(doc(7, 4, "gamma"))
      runToCompletion(q)
      val crossBatch = spark.table("s8_out")
        .as[DedupVerdict].collect().map(v => v.doc_id -> (v.is_first, v.canonical_id)).toMap
      assert(crossBatch(7L) == ((false, 3L)),
        s"cross-batch is first-arrival: earlier-event-time late dup must NOT usurp: $crossBatch")
      // push the watermark ~25h ahead: signature state (idle 1h) evicts,
      // so the SAME text re-admits as a fresh first
      input.addData(doc(90, 60 * 25, "pusher text"))
      runToCompletion(q)
      input.addData(doc(91, 60 * 25 + 1, "pusher two"))
      runToCompletion(q)
      input.addData(doc(5, 60 * 25 + 2, "alpha beta"))
      runToCompletion(q)
      val after = spark.table("s8_out")
        .as[DedupVerdict].collect().map(v => v.doc_id -> (v.is_first, v.canonical_id)).toMap
      assert(after(5L) == ((true, 5L)),
        s"signature idle past the horizon must re-admit (bounded state): $after")
    } finally StreamStart.stop(q)
  }

  test("s9: near-dup candidates — band-sig collisions emit against every stored doc; idle state evicts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocIngest]
    def doc(id: Long, minute: Int, text: String): DocIngest =
      DocIngest(id, ts(minute), text, "en")
    val q = Demos.s9NearDupCandidates(spark, input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s9_out").start()
    try {
      // batch 1: two distinct texts — no collisions yet
      input.addData(doc(1, 0, "alpha beta gamma"), doc(2, 1, "delta epsilon"))
      runToCompletion(q)
      assert(spark.table("s9_out").count() == 0)
      // batch 2: doc 3 duplicates doc 1's text → collides on ALL 4 bands;
      // doc 4 is fresh → no candidate
      input.addData(doc(3, 2, "alpha beta gamma"), doc(4, 2, "zeta"))
      runToCompletion(q)
      val c1 = spark.table("s9_out").as[NearDupCandidate].collect().toVector
      assert(c1.map(c => (c.new_id, c.hist_id)).distinct == Vector((3L, 1L)), s"got $c1")
      assert(c1.map(_.band).sorted == Vector(0, 1, 2, 3), "identical text must collide on every band")
      // batch 3: a third copy collides with BOTH stored docs
      input.addData(doc(5, 3, "alpha beta gamma"))
      runToCompletion(q)
      val c2 = spark.table("s9_out").as[NearDupCandidate].collect()
        .filter(_.new_id == 5L).map(_.hist_id).toSet
      assert(c2 == Set(1L, 3L), s"new doc must probe every stored claimant: $c2")
      // watermark far ahead → signature state (idle 1h) evicts; the same
      // text then re-admits silently (no candidate — bounded-state trade)
      input.addData(doc(90, 60 * 25, "pusher text"))
      runToCompletion(q)
      input.addData(doc(91, 60 * 25 + 1, "pusher two"))
      runToCompletion(q)
      input.addData(doc(6, 60 * 25 + 2, "alpha beta gamma"))
      runToCompletion(q)
      assert(spark.table("s9_out").as[NearDupCandidate].collect()
        .count(_.new_id == 6L) == 0, "evicted signature must re-admit without candidates")
    } finally StreamStart.stop(q)
  }

  test("s4, s17–s20: a key idle past the watermark + 1 h horizon is forgotten, a younger one kept") {
    import org.apache.spark.sql.functions.col
    // batch 1: user 1's events at 22:50 (timer 23:50), user 2's at 23:05
    // (timer 00:05); pushers take the watermark to 00:01 the next day, 71 min
    // past user 1's last event and 56 min past user 2's; then both users
    // send the same final event at 00:35. Day d is 2024-01-01 plus d days.
    def day(d: Int) = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString
    // UTC instants, so the event days do not depend on the JVM's zone
    def at(id: Long, minute: Int, uid: Long, typ: String, v: Double): Event = Event(id,
      Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(minute * 60L)),
      uid, typ, v, """{"k": 1}""")
    /** `first` is each user's batch-1 event and `last` the final one, as
      * (type, value); `forgotten` and `kept` are the final batch's `column`
      * values for user 1 and user 2. */
    case class IdleCase(name: String, run: org.apache.spark.sql.DataFrame => Dataset[_],
        first: (String, Double), last: (String, Double), column: String,
        forgotten: Seq[String], kept: Seq[String])
    val cases = Seq(
      IdleCase("s4", Demos.s4PatternDetect(spark, _), ("click", 1.0), ("purchase", 1.0),
        "purchase_event_id", Seq(), Seq("202")),
      IdleCase("s17", Demos.s17RollingActive(spark, _), ("view", 1.0), ("view", 1.0),
        "wend", (1 to 7).map(day), Seq(day(7))),
      IdleCase("s18", Demos.s18AttributionTracker(spark, _), ("click", 1.0), ("purchase", 1.0),
        "channel", Seq("none"), Seq("click")),
      IdleCase("s19", Demos.s19PeakDropMonitor(spark, _), ("view", 10.0), ("view", 8.0),
        "dropCents", Seq(), Seq("200")),
      IdleCase("s20", Demos.s20StreakTracker(spark, _), ("view", 1.0), ("view", 1.0),
        "len", Seq("1"), Seq("2")))
    for (c <- cases) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      val q = c.run(input.toDF())
        .writeStream.outputMode("append").format("memory").queryName(s"${c.name}_idle").start()
      def out(): Seq[(Long, String)] = spark.table(s"${c.name}_idle")
        .select(col("user_id"), col(c.column).cast("string")).as[(Long, String)].collect().toSeq
      try {
        input.addData(at(101, 22 * 60 + 50, 1, c.first._1, c.first._2),
          at(102, 23 * 60 + 5, 2, c.first._1, c.first._2))
        runToCompletion(q)
        input.addData(at(90, 24 * 60 + 10, 9, "view", 1.0))
        runToCompletion(q)
        input.addData(at(91, 24 * 60 + 11, 9, "view", 1.0))
        runToCompletion(q)
        val before = out()
        input.addData(at(201, 24 * 60 + 35, 1, c.last._1, c.last._2),
          at(202, 24 * 60 + 35, 2, c.last._1, c.last._2))
        runToCompletion(q)
        val fin = out().diff(before)
        def of(u: Long) = fin.filter(_._1 == u).map(_._2).sorted
        assert(of(1) == c.forgotten, s"${c.name}: user 1, idle past the horizon, must start afresh: $fin")
        assert(of(2) == c.kept, s"${c.name}: user 2, within the horizon, must keep its state: $fin")
      } finally StreamStart.stop(q)
    }
  }

  test("s10: decontamination on ingest == the batch contamination rule, across batches") {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    implicit val sqlCtx = spark.sqlContext
    val sf001 = SharedSpark.sf001
    val base = Tables.documents(spark, sf001).select("doc_id", "lang", "text")
    val benchGrams = ops.Curation2.trigrams(base.where(col("doc_id") % 97 === 0))
      .localCheckpoint() // fixed benchmark — re-broadcast per batch, never recomputed
    val train = base.where(col("doc_id") % 97 =!= 0).collect().map { r =>
      DocIngest(r.getLong(0), ts((r.getLong(0) % 60).toInt), r.getString(2), r.getString(1))
    }
    val (b1, b2) = train.partition(_.doc_id % 2 == 0)

    val input = MemoryStream[DocIngest]
    val seen = mutable.Buffer[DropVerdict]()
    val q = Demos.s10DecontaminateOnIngest(
      input.toDF(), () => benchGrams,
      (drops, overflow, _) => seen.synchronized {
        assert(overflow == 0L); seen ++= drops
      })
    val got =
      try {
        input.addData(b1.toSeq)
        runToCompletion(q)
        input.addData(b2.toSeq)
        runToCompletion(q)
        seen.synchronized(seen.map(d => d.doc_id -> d.n_bench).toMap)
      } finally StreamStart.stop(q)

    // batch twin: the q73/q79 rule over the same docs in one pass
    val want = ops.Curation2.trigrams(base.where(col("doc_id") % 97 =!= 0))
      .join(broadcast(benchGrams.select(col("doc_id").as("bench_id"), col("g"))), "g")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .groupBy("doc_id").agg(count(lit(1)).as("n_bench"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty, "the carve must produce contaminated docs")
    assert(got == want,
      s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
  }

  test("s34: vector ingest — incremental IVF assignment == batch q62; replay idempotent") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf001 = SharedSpark.sf001
    val emb = Tables.embeddings(spark, sf001)
    // the frozen coarse quantizer: trained once, offline (q62's trainer)
    val cent = ops.Ann.ivfIndex(
      emb.select(col("vec_id"), col("embedding")), nlist = 16)._2.localCheckpoint()
    val vecs = emb.select("vec_id", "embedding").collect().map { r =>
      VecIngest(r.getLong(0), r.getSeq[Float](1))
    }
    val (b1, b2) = vecs.partition(_.vec_id % 2 == 0)
    val dir = tempDir("s34").toString

    val input = MemoryStream[VecIngest]
    val q = Demos.s34VectorIngest(spark, input.toDF(), cent, dir)
    try {
      input.addData(b1.toSeq)
      runToCompletion(q)
      input.addData(b2.toSeq)
      runToCompletion(q)
      // bounded state: the ingest query carries NO stateful operators —
      // all cross-batch knowledge lives in the frozen centroids + the
      // partitioned index table
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally StreamStart.stop(q)

    // replay batch 0 with the same batchId: overwrites ONLY b=0, rows identical
    val before = spark.read.parquet(s"$dir/b=0").collect().map(_.toString).sorted.toSeq
    Demos.vectorIngestBatch(b1.toSeq.toDF(), cent, dir, 0L)
    val after = spark.read.parquet(s"$dir/b=0").collect().map(_.toString).sorted.toSeq
    assert(before == after)

    // ingest-then-query equals the batch q62 declared query on the same data
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val got = ops.Ann.ivfTopKLargeQ(
        VersionedSink.logView(spark, dir, ""), cent, queries, k = 5, nprobe = 16)
      .select(col("qid"), col("vec_id").as("vid"), col("cos_sim"), col("rnk"))
      .orderBy("qid", "rnk").collect().toSeq
    val want = SparkEntry.queries("q62_ivf_ann")(spark, sf001).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("s35: semantic dedup on ingest — drops == JVM online replay == batch q231 rule; replay idempotent; stateless") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf001 = SharedSpark.sf001
    val emb = Tables.embeddings(spark, sf001)
    val originals: Seq[VecIngest] =
      emb.select("vec_id", "embedding").collect()
        .map(r => VecIngest(r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_.vec_id)
    // planted near-dups (cos >= ~0.9998 vs the 0.513 noise ceiling):
    // one WITHIN batch 0 (id 20005, twin of 5 — the batch-local rule) and
    // three in batch 1 (id+10000 twins — the committed-index rule)
    def twin(of: VecIngest, id: Long): VecIngest =
      VecIngest(id, of.embedding.updated(0, of.embedding.head + 0.01f))
    val seeds = originals.filter(v => v.vec_id % 17 == 5)
    val batch0 = originals :+ twin(originals.find(_.vec_id == 5).get, 20005L)
    val batch1 = seeds.map(v => twin(v, v.vec_id + 10000L))

    // frozen centroids: the 8 seed vectors on the 1e6 grid (offline training)
    val cent = ops.Round11.quantized(
        emb.where(col("vec_id") < 8).select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("j"), col("v").as("c")).localCheckpoint()
    val dir = tempDir("s35").toString

    val input = MemoryStream[VecIngest]
    val q = Demos.s35SemanticDedupIngest(spark, input.toDF(), cent, nlist = 8, dir)
    try {
      input.addData(batch0)
      runToCompletion(q)
      input.addData(batch1)
      runToCompletion(q)
      // stateless by design: cross-batch knowledge = frozen centroids +
      // the committed kept table, never stream state
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally StreamStart.stop(q)

    // ---- engine-independent JVM replay of the whole protocol ----------
    val centJ: Map[Long, Array[Long]] = cent.collect()
      .map(r => r.getAs[Long]("j") -> r.getAs[Seq[Long]]("c").toArray).toMap
    def grid(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e6).toLong).toArray
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def assign(v: Array[Long]): Long = {
      val key = centJ.toSeq.map { case (j, c) => d2(v, c) * 8 + j }.min
      key % 8
    }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      def dot(x: Array[Long], y: Array[Long]) =
        x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    val tau = 0.8
    // online rule over (batchId, vec_id) admission order
    var kept = Vector.empty[(Long, Long, Array[Long])] // (id, list, v)
    var dropsJ = Set.empty[Long]
    for (batch <- Seq(batch0, batch1)) {
      val rows = batch.sortBy(_.vec_id)
        .map(v => (v.vec_id, assign(grid(v.embedding)), grid(v.embedding)))
      val committed = kept
      var keptInBatch = Vector.empty[(Long, Long, Array[Long])]
      for ((id, l, v) <- rows) {
        val vsCommitted = committed.exists { case (_, cl, cv) =>
          cl == l && cos(v, cv) > tau }
        val vsLowerMates = rows.exists { case (id2, l2, v2) =>
          id2 < id && l2 == l && cos(v, v2) > tau }
        if (vsCommitted || vsLowerMates) dropsJ += id
        else keptInBatch :+= ((id, l, v))
      }
      kept ++= keptInBatch
    }
    // chain-free corpus (keepers pairwise below tau) — the precondition
    // under which online == the batch q231 any-lower-id rule
    val keptByList = kept.groupBy(_._2)
    assert(keptByList.values.forall(g => g.combinations(2).forall {
      case Seq(a, b) => cos(a._3, b._3) <= tau }), "corpus grew a keeper chain")
    // batch q231 rule on the unioned corpus in global id order
    val allRows = (batch0 ++ batch1)
      .map(v => (v.vec_id, assign(grid(v.embedding)), grid(v.embedding)))
      .sortBy(_._1)
    val dropsBatchRule = allRows.filter { case (id, l, v) =>
      allRows.exists { case (id2, l2, v2) => id2 < id && l2 == l && cos(v, v2) > tau }
    }.map(_._1).toSet
    assert(dropsBatchRule == dropsJ, "online and batch rules diverged on chain-free data")
    assert(dropsJ.nonEmpty && dropsJ.contains(20005L), "plant failed to fire")

    val gotDrops = VersionedSink.logView(spark, dir, "drops")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotDrops == dropsJ,
      s"missing=${(dropsJ -- gotDrops).take(3)} extra=${(gotDrops -- dropsJ).take(3)}")
    val gotKept = VersionedSink.logView(spark, dir, "kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotKept == kept.map(_._1).toSet)

    // replay batch 1 with the same batchId: overwrites ONLY its own
    // partitions, rows byte-identical (exactly-once via idempotence)
    val before = spark.read.parquet(s"$dir/kept/b=1").collect().map(_.toString).sorted.toSeq
    Demos.semanticDedupBatch(batch1.toDF(), cent, 8, dir, 1L, tau)
    val after = spark.read.parquet(s"$dir/kept/b=1").collect().map(_.toString).sorted.toSeq
    assert(before == after)
  }

  // JVM replay of the s36/s37 CDC chunker (shared by both tests)
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def chunksOf(text: String): Vector[String] = {
    val tk = text.split(" ")
    val codes = tk.map(t => java.lang.Long.parseLong(md5hex(t).substring(0, 8), 16))
    def brk(i: Int): Boolean = i >= 3 &&
      (codes(i) + 3 * codes(i - 1) + 9 * codes(i - 2) + 27 * codes(i - 3)) % 16 == 0
    val b = Vector.newBuilder[String]
    var start = 0
    for (i <- tk.indices) if (brk(i)) {
      b += tk.slice(start, i + 1).mkString(" "); start = i + 1
    }
    if (start < tk.length) b += tk.slice(start, tk.length).mkString(" ")
    b.result()
  }

  test("s36: CDC dedup on ingest — stats batching-invariant == JVM sequential replay; replay idempotent; stateless") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, SharedSpark.sf001)
      .select("doc_id", "source", "text").collect()
      .map(r => CdcDocIngest(r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id).toSeq
    // plant a verbatim duplicate doc so cross-DOC chunk dedup fires even
    // if the tiny sf0.001 carve has no natural duplicated chunks
    val all = docs :+ CdcDocIngest(90000L, docs.head.source, docs.head.text)

    def runBatches(batches: Seq[Seq[CdcDocIngest]]): (String, Map[(Long, String), (Long, Long, Long, Long)]) = {
      val dir = tempDir("s36").toString
      val input = MemoryStream[CdcDocIngest]
      val q = Demos.s36CdcDedupIngest(spark, input.toDF(), dir)
      try {
        batches.foreach { b => input.addData(b); runToCompletion(q) }
        assert(q.lastProgress.stateOperators.isEmpty) // stateless by design
      } finally StreamStart.stop(q)
      dir -> VersionedSink.logView(spark, dir, "stats").collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("source")) ->
          (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_toks"),
            r.getAs[Long]("dup_chunks"), r.getAs[Long]("dup_toks"))).toMap
    }
    val (_, oneShot) = runBatches(Seq(all))
    val (dir3, threeWay) = runBatches(
      Seq(all.take(15), all.slice(15, 30), all.drop(30)))

    // ---- JVM sequential replay (doc_id-order scan, one global seen set)
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = all.sortBy(_.doc_id).map { d =>
      val cs = chunksOf(d.text)
      var (dupC, dupT) = (0L, 0L)
      cs.foreach { c =>
        if (!seen.add(c)) { dupC += 1; dupT += c.split(" ").length }
      }
      (d.doc_id, d.source) ->
        (cs.size.toLong, cs.map(_.split(" ").length.toLong).sum, dupC, dupT)
    }.toMap
    assert(oneShot == expected, "1-batch run diverged from the JVM sequential replay")
    assert(threeWay == expected, "3-batch run diverged — batching is not invariant")
    assert(expected.values.exists(_._3 > 0), "no duplicate chunk fired — vacuous")
    assert(expected((90000L, docs.head.source))._3 ==
      expected((90000L, docs.head.source))._1, "planted verbatim doc not fully dedup'd")

    // replay batch 1 with the same batchId: byte-identical (exactly-once)
    import spark.implicits._
    val before = spark.read.parquet(s"$dir3/stats/b=1").collect().map(_.toString).sorted.toSeq
    Demos.cdcDedupBatch(all.slice(15, 30).toDF(), dir3, 1L)
    val after = spark.read.parquet(s"$dir3/stats/b=1").collect().map(_.toString).sorted.toSeq
    assert(before == after)
  }

  test("s37: chunk-store compaction — re-ingest supersedes; reclaim == JVM replay; compact idempotent") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val texts = Tables.documents(spark, SharedSpark.sf001)
      .orderBy("doc_id").select("text").limit(3).collect().map(_.getString(0))
    val Array(ta, tb, tc) = texts
    // re-ingest of doc 1 with one token INSERTED mid-doc: CDC resync means
    // only the edit-window chunks differ (the s36-locked property), so
    // compaction must reclaim exactly chunks(ta) − live
    val taToks = ta.split(" ")
    val ta2 = (taToks.take(taToks.length / 2) ++ Array("INSERTED") ++
      taToks.drop(taToks.length / 2)).mkString(" ")
    val b1 = Seq(CdcDocIngest(1L, "s", ta), CdcDocIngest(2L, "s", tb))
    val b2 = Seq(CdcDocIngest(1L, "s", ta2), CdcDocIngest(3L, "s", tc))

    val dir = tempDir("s37").toString
    val input = MemoryStream[CdcDocIngest]
    val q = Demos.s37ChunkStoreIngest(spark, input.toDF(), dir)
    try {
      input.addData(b1); runToCompletion(q)
      input.addData(b2); runToCompletion(q)
      assert(q.lastProgress.stateOperators.isEmpty) // stateless by design
    } finally StreamStart.stop(q)

    // ---- JVM replay: admission (batch order, doc order, chunk order, one
    // global content-addressed store) then latest-version liveness
    val admitted = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    for (batch <- Seq(b1, b2); d <- batch.sortBy(_.doc_id); c <- chunksOf(d.text))
      if (!admitted.contains(c)) admitted(c) = c.split(" ").length.toLong
    val live: Set[String] =
      (chunksOf(ta2) ++ chunksOf(tb) ++ chunksOf(tc)).toSet
    val deadExpected = admitted.keySet.toSet -- live
    assert(deadExpected.nonEmpty,
      "edit produced no superseded chunk — the compaction test is vacuous")

    val reclaimed = Demos.compactChunkStore(spark, dir).collect()
      .map(r => (r.getAs[String]("ck"), r.getAs[Long]("ctoks"))).toSet
    assert(reclaimed == deadExpected.map(c => (md5hex(c), admitted(c))),
      s"reclaimed=${reclaimed.take(3)} expected=${deadExpected.take(3).map(md5hex)}")

    // the compacted store is exactly the live admitted chunks
    val compacted = spark.read.parquet(s"$dir/compacted/v=1")
      .select("ck", "ctext", "ctoks").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val liveAdmitted = (admitted.keySet.toSet & live)
      .map(c => (md5hex(c), c, admitted(c)))
    assert(compacted == liveAdmitted)
    // chunks of the re-ingested doc OUTSIDE the edit window stayed live —
    // the CDC surgical-reclaim claim (old and new version share chunks)
    assert((chunksOf(ta).toSet & chunksOf(ta2).toSet).nonEmpty)

    // compact is a pure function of the directory: rerun, content-identical
    val before = spark.read.parquet(s"$dir/compacted/v=1").collect()
      .map(_.toString).sorted.toSeq
    Demos.compactChunkStore(spark, dir)
    val after = spark.read.parquet(s"$dir/compacted/v=1").collect()
      .map(_.toString).sorted.toSeq
    assert(before == after)
  }

  test("s38: quality-keeper admission — snapshot == JVM argmax fold; batching-invariant; latest-version-wins demotion; replay idempotent; stateless") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, SharedSpark.sf001)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => QkDocIngest(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
      .sortBy(_.doc_id).toSeq

    def quality(text: String): Double = {
      val tk = text.split(" ")
      val n = tk.length.toLong
      val nd = tk.distinct.length.toLong
      val stops = Set("a", "the", "row", "value", "table", "and", "of")
      val ns = tk.count(stops.contains).toLong
      0.5 * (nd.toDouble / n) + 0.3 * (1.0 - ns.toDouble / n) +
        0.2 * (math.min(n, 100L).toDouble / 100.0)
    }
    val expected = docs.groupBy(d => (d.lang, d.source)).map { case (k, ms) =>
      val qs = ms.map(d => (d.doc_id, quality(d.text)))
      val qmax = qs.map(_._2).max
      k -> (qs.filter(_._2 == qmax).map(_._1).min, qmax)
    }.toSet

    def run(batches: Seq[Seq[QkDocIngest]]): (String, Set[((String, String), (Long, Double))]) = {
      val dir = tempDir("s38").toString
      val input = MemoryStream[QkDocIngest]
      val q = Demos.s38QualityKeeperIngest(spark, input.toDF(), dir)
      try {
        batches.foreach { b => input.addData(b); runToCompletion(q) }
        assert(q.lastProgress.stateOperators.isEmpty) // stateless by design
      } finally StreamStart.stop(q)
      dir -> Demos.keeperView(spark, dir).collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
          (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toSet
    }
    val (_, oneShot) = run(Seq(docs))
    val (dir2, twoWay) = run(Seq(docs.take(20), docs.drop(20)))
    assert(oneShot == expected, "1-batch snapshot diverged from the JVM argmax fold")
    assert(twoWay == expected, "2-batch snapshot diverged — admission is not batching-invariant")
    // keeper history is pruned: only the latest snapshot and its predecessor survive
    assert(versions(s"$dir2/keepers") == Seq(0L, 1L))

    // a later better member REPLACES the committed keeper: re-ingest the
    // worst (lang, source) member boosted past its keeper (distinct-token
    // padding) and check the snapshot updates
    val k0 = expected.head
    val boosted = QkDocIngest(999999L, k0._1._1, k0._1._2,
      (1 to 120).map(i => s"uniq$i").mkString(" "))
    assert(quality(boosted.text) > k0._2._2)
    val dirB = tempDir("s38b").toString
    val inB = MemoryStream[QkDocIngest]
    val qB = Demos.s38QualityKeeperIngest(spark, inB.toDF(), dirB)
    try {
      inB.addData(docs); runToCompletion(qB)
      inB.addData(Seq(boosted)); runToCompletion(qB)
    } finally StreamStart.stop(qB)
    val afterBoost = Demos.keeperView(spark, dirB).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        r.getAs[Long]("doc_id")).toMap
    assert(afterBoost(k0._1) == 999999L,
      "a later better-quality member did not replace the committed keeper")

    // LATEST-VERSION-WINS demotion (round 15 — unified with s37's chunk
    // rule): re-ingest the now-committed keeper's own doc_id with a
    // gutted edit. The fold must REPLACE its committed row BEFORE the
    // argmax, so the cluster's keeper quality DROPS to the edit's —
    // impossible under the old append-only argmax, where the stale
    // higher-quality row shadowed every edit forever.
    locally {
      import spark.implicits._
      val worse = QkDocIngest(999999L, k0._1._1, k0._1._2,
        Seq.fill(100)("the").mkString(" "))
      assert(quality(worse.text) < quality(boosted.text))
      Demos.qualityKeeperBatch(Seq(worse).toDF(), dirB, 2L)
      assert(versions(s"$dirB/keepers") == Seq(1L, 2L), "keeper history not pruned")
      val afterDemote = Demos.keeperView(spark, dirB).collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
          (r.getAs[Long]("doc_id"), r.getAs[Double]("quality"))).toMap
      // the cluster re-folds over (edited keeper ∪ batch) = the edit only
      // (the snapshot is keeper-sized: the historical runner-up is gone
      // by design — the doc block says so)
      assert(afterDemote(k0._1) == (999999L, quality(worse.text)),
        "keeper did not follow the lower-quality edit — demotion failed")
      // every other cluster untouched
      assert(afterDemote.view.filterKeys(_ != k0._1).mapValues(_._1).toMap ==
        afterBoost.view.filterKeys(_ != k0._1).toMap)
    }

    // replay batch 1 with the same batchId: content-identical (exactly-once)
    import spark.implicits._
    val before = spark.read.parquet(s"$dir2/keepers/v=1").collect()
      .map(_.toString).sorted.toSeq
    Demos.qualityKeeperBatch(docs.drop(20).toDF(), dir2, 1L)
    val after = spark.read.parquet(s"$dir2/keepers/v=1").collect()
      .map(_.toString).sorted.toSeq
    assert(before == after)
  }

  test("s11: budget admission — FCFS per-lang quota matches a sequential fold, across batches") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val budget = 2000L
    val docs = Tables.documents(spark, SharedSpark.sf001)
      .select("doc_id", "lang", "text").collect().map { r =>
        DocIngest(r.getLong(0), ts((r.getLong(0) % 60).toInt), r.getString(2), r.getString(1))
      }
    val (b1, b2) = docs.partition(_.doc_id % 2 == 0)

    val input = MemoryStream[DocIngest]
    val q = Demos.s11BudgetAdmission(spark, input.toDF(), budget)
      .writeStream.outputMode("append").format("memory").queryName("s11_out").start()
    val got =
      try {
        input.addData(b1.toSeq)
        runToCompletion(q)
        input.addData(b2.toSeq)
        runToCompletion(q)
        spark.table("s11_out").as[AdmitVerdict].collect()
          .map(v => v.doc_id -> ((v.prior_toks, v.admitted))).toMap
      } finally StreamStart.stop(q)

    // ground truth: sequential fold per lang in (batch, event-time, doc_id)
    // arrival order — the s11 contract
    val want = mutable.Map[Long, (Long, Boolean)]()
    val used = mutable.Map[String, Long]().withDefaultValue(0L)
    for (batch <- Seq(b1, b2); d <- batch.sortBy(x => (x.ts.getTime, x.doc_id))) {
      val nToks = d.text.split(" ", -1).length.toLong
      val prior = used(d.lang)
      val admit = prior < budget
      if (admit) used(d.lang) = prior + nToks
      want(d.doc_id) = (prior, admit)
    }
    assert(got.nonEmpty && got.values.exists(_._2) && got.values.exists(!_._2),
      "the budget must both admit and reject on this corpus")
    assert(got == want.toMap,
      s"diff=${(got.toSet -- want.toSet).take(3)} / ${(want.toSet -- got.toSet).take(3)}")
  }

  test("s5: session windows split on >=30min gaps") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Demos.s5Sessions(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("s5_out").start()
    try {
      // user 1: events at 0, 10 (same session), then 50 (gap 40min → new session)
      input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "click", 1.0), ev(3, 50, 1, "click", 1.0))
      runToCompletion(q)
      input.addData(ev(99, 60 * 24, 2, "click", 1.0)) // watermark pusher
      runToCompletion(q)
      val sessions = spark.table("s5_out")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toVector
        .filter(_._1 == 1L).sortBy(_._2.getTime)
      assert(sessions.map(s => (s._2, s._4)) == Vector((ts(0), 2L), (ts(50), 1L)))
    } finally StreamStart.stop(q)
  }

  test("s14: foreachBatch upsert — versioned snapshot holds the latest row per user; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s14").toString + "/snap"
    val input = MemoryStream[Event]
    val q = Demos.s14SnapshotUpsert(spark, input.toDF(), dir)
    def snapshot(v: Long): Map[Long, (Long, Double)] =
      spark.read.parquet(s"$dir/v=$v").collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("event_id"), r.getAs[Double]("value")))).toMap
    try {
      input.addData(ev(1, 5, 1, "view", 1.0), ev(2, 3, 2, "view", 2.0))
      q.processAllAvailable()
      assert(snapshot(0) == Map(1L -> ((1L, 1.0)), 2L -> ((2L, 2.0))))
      // batch 1: user 1 gets a NEWER event; user 3 appears
      input.addData(ev(3, 10, 1, "view", 7.0), ev(4, 1, 3, "view", 4.0))
      q.processAllAvailable()
      assert(snapshot(1) == Map(1L -> ((3L, 7.0)), 2L -> ((2L, 2.0)), 3L -> ((4L, 4.0))))
    } finally StreamStart.stop(q)
    // replay batch 1 directly (the post-crash re-execution): the merge must
    // read v=0 — never its own v=1 output — and rewrite v=1 byte-identically
    Demos.upsertBatch(spark,
      Seq(ev(3, 10, 1, "view", 7.0), ev(4, 1, 3, "view", 4.0)).toDF(), dir, 1L)
    assert(snapshot(1) == Map(1L -> ((3L, 7.0)), 2L -> ((2L, 2.0)), 3L -> ((4L, 4.0))),
      "replaying a committed batch changed the snapshot")
  }

  test("s16: streaming drift monitor — final drift row equals batch q92 exactly; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s16").toString + "/drift"
    val docs = graft.Tables.documents(spark, SharedSpark.sf001)
      .select("doc_id", "text").collect()
      .map(r => DocIngest(r.getLong(0), new Timestamp(0L), r.getString(1), "en"))
    val chunks = docs.grouped(200).toVector // 500 docs -> batches 0, 1, 2
    val input = MemoryStream[DocIngest]
    val q = Demos.s16DriftMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)
    def driftRow(v: Long) = spark.read.parquet(s"$dir/v=$v/drift").collect()(0)
    val got = driftRow(last)
    val want = SparkEntry.queries("q92_sketch_drift")(spark, SharedSpark.sf001).collect()(0)
    // exact equality incl. the double: identical integer counters feeding
    // identical decimal/double arithmetic
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getDouble(3)) ==
      ((want.getLong(0), want.getLong(1), want.getLong(2), want.getDouble(3))),
      s"streamed drift $got != batch q92 $want")
    // history is pruned to at most two retained versions (predecessor kept
    // for replay), and the surviving rows are well-formed monitors
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last),
      s"expected pruned history (v=${last - 1}, v=$last), got $surviving")
    val l1s = surviving.map(driftRow)
    assert(l1s.map(_.getLong(1)).sliding(2).forall(p => p.head <= p.last))
    assert(l1s.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 2.0))
    // replay the last batch directly (post-crash re-execution): must read
    // only v<last and rewrite v=last identically
    Demos.driftBatch(spark, chunks.last.toSeq.toDF().select("doc_id", "text"), dir, last)
    val replayed = driftRow(last)
    assert((replayed.getLong(0), replayed.getLong(1), replayed.getLong(2), replayed.getDouble(3)) ==
      ((got.getLong(0), got.getLong(1), got.getLong(2), got.getDouble(3))),
      "replaying the committed last batch changed the drift row")
  }

  test("s21: streaming CMS monitor — final audit equals batch q122 exactly; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s21").toString + "/cms"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector // 3 batches
    val input = MemoryStream[Event]
    val q = Demos.s21CmsMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)
    def audit(v: Long) = spark.read.parquet(s"$dir/v=$v/audit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = audit(last)
    val want = SparkEntry.queries("q122_cms_audit")(spark, SharedSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"streamed CMS audit $got != batch q122 $want")
    // the counter snapshot stays d*w-bounded, history is pruned to two
    // retained versions, and est >= exact holds on every surviving version
    assert(spark.read.parquet(s"$dir/v=$last/counters").count() <= 4 * 256)
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last),
      s"expected pruned history (v=${last - 1}, v=$last), got $surviving")
    surviving.foreach(v => audit(v).foreach { case (u, ex, est, over) =>
      assert(est >= ex && over == est - ex, s"v=$v user $u: est $est < exact $ex")
    })
    // replay the last committed batch directly (post-crash re-execution)
    Demos.cmsBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(audit(last) == got, "replaying the committed last batch changed the audit")
  }

  test("s22: streaming heavy hitters — SpaceSaving merge matches a " +
    "sequential fold, bounds hold structurally, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s22").toString + "/hh"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector // 3 batches
    // 4 buckets × capacity 2 over the 15-user fixture (~4 users/bucket):
    // eviction MUST trigger, so est ≥ exact and the err certificate are
    // exercised non-vacuously (production defaults are 16 × 5)
    val (nb, m) = (4, 2)
    val input = MemoryStream[Event]
    val q = Demos.s22HeavyHittersMonitor(spark, input.toDF(), dir, nb, m)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)
    def state(v: Long): (Map[(Long, Long), Long], Map[Long, Long]) = (
      spark.read.parquet(s"$dir/v=$v/counters").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap,
      spark.read.parquet(s"$dir/v=$v/err").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val (gotC, gotE) = state(last)

    // the same merge as a sequential driver-side fold over the same chunks
    var foldC = Map.empty[(Long, Long), Long]
    var foldE = Map.empty[Long, Long].withDefaultValue(0L)
    for (chunk <- chunks) {
      val delta = chunk.groupBy(e => (e.user_id % nb, e.user_id)).view
        .mapValues(_.length.toLong).toMap
      val est = (foldC.keySet ++ delta.keySet).map { k =>
        k -> (foldC.getOrElse(k, foldE(k._1)) + delta.getOrElse(k, 0L))
      }.toMap
      val byBucket = est.groupBy(_._1._1)
      foldC = byBucket.values.flatMap(
        _.toSeq.sortBy { case ((_, u), n) => (-n, u) }.take(m)).toMap
      foldE = foldE ++ byBucket.map { case (b, xs) =>
        val evicted = xs.toSeq.sortBy { case ((_, u), n) => (-n, u) }.drop(m)
        b -> math.max(foldE(b), evicted.map(_._2).maxOption.getOrElse(0L))
      }
    }
    assert(gotC == foldC, "streamed summary differs from the sequential fold")
    assert(gotE == foldE.toMap, "streamed err floors differ from the fold")

    // structural bounds: est >= exact for retained keys; any key with
    // exact count above its bucket's err floor is PROVABLY retained;
    // state is bounded
    val exact = evs.groupBy(_.user_id).view.mapValues(_.length.toLong).toMap
    assert(gotC.size <= nb * m && gotE.size <= nb)
    gotC.foreach { case ((b, u), est) =>
      assert(u % nb == b && est >= exact(u),
        s"retained user $u underestimated: $est < ${exact(u)}")
    }
    val retained = gotC.keySet.map(_._2)
    exact.foreach { case (u, n) =>
      if (n > gotE.getOrElse(u % nb, 0L))
        assert(retained.contains(u),
          s"user $u with exact $n above err floor ${gotE.getOrElse(u % nb, 0L)} was evicted")
    }
    // eviction must actually trigger at this corpus (else the test is vacuous)
    assert(gotE.values.exists(_ > 0L), "no eviction happened — m too large for the fixture")

    // pruned history + idempotent replay
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    Demos.hhBatch(spark, chunks.last.toSeq.toDF(), dir, last, nb, m)
    assert(state(last) == ((gotC, gotE)),
      "replaying the committed last batch changed the summary")
  }

  test("s23: streaming drift monitor — cumulative histogram equals the " +
    "batch decile counts, the reference stays frozen, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s23").toString + "/drift"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector // 3 batches
    val input = MemoryStream[Event]
    val q = Demos.s23DriftMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def decile(e: Event): Long =
      (BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
        .toLongExact / 5000
    def histOf(es: Seq[Event]): Map[Long, Long] =
      es.groupBy(decile).view.mapValues(_.length.toLong).toMap

    // cumulative histogram == exact decile counts of everything streamed
    val gotHist = spark.read.parquet(s"$dir/v=$last/hist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotHist == histOf(evs.toSeq), "cumulative histogram drifted from exact")
    // reference == the FIRST batch's histogram, frozen across versions
    val gotRef = spark.read.parquet(s"$dir/v=$last/ref").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRef == histOf(chunks.head.toSeq), "reference was not frozen")
    // audit arithmetic: shares are the raw quotients of those exact counts
    val refTot = gotRef.values.sum.toDouble
    val curTot = gotHist.values.sum.toDouble
    val audit = spark.read.parquet(s"$dir/v=$last/audit").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(audit.keySet == (gotRef.keySet ++ gotHist.keySet))
    audit.foreach { case (dc, (rn, cn, rs, cs, dr)) =>
      assert(rn == gotRef.getOrElse(dc, 0L) && cn == gotHist.getOrElse(dc, 0L))
      assert(rs == rn.toDouble / refTot && cs == cn.toDouble / curTot)
      assert(dr == math.abs(rs - cs))
    }
    // bounded state (≤ 10 deciles each) and pruned history
    assert(gotHist.size <= 10 && gotRef.size <= 10)
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    // replay the committed last batch (post-crash re-execution)
    Demos.valueDriftBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    val replayed = spark.read.parquet(s"$dir/v=$last/hist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == gotHist, "replaying the committed last batch changed the histogram")
  }

  test("s23: an empty first micro-batch defers the reference freeze — no " +
    "NaN shares for the stream's lifetime (round-9 ADVICE)") {
    import spark.implicits._
    val dir = tempDir("graft_s23e").toString + "/drift"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val half = evs.length / 2
    // batch 0 is EMPTY; the reference must defer to batch 1, not freeze empty
    Demos.valueDriftBatch(spark, Seq.empty[Event].toDF(), dir, 0L)
    Demos.valueDriftBatch(spark, evs.take(half).toSeq.toDF(), dir, 1L)
    Demos.valueDriftBatch(spark, evs.drop(half).toSeq.toDF(), dir, 2L)
    def decile(e: Event): Long =
      (BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
        .toLongExact / 5000
    def histOf(es: Seq[Event]): Map[Long, Long] =
      es.groupBy(decile).view.mapValues(_.length.toLong).toMap
    val gotRef = spark.read.parquet(s"$dir/v=2/ref").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotRef == histOf(evs.take(half).toSeq),
      "reference must freeze at the first NON-empty batch")
    val audit = spark.read.parquet(s"$dir/v=2/audit").collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(!r.getDouble(3).isNaN && !r.getDouble(4).isNaN && !r.getDouble(5).isNaN,
        s"NaN share survived the empty-first-batch guard: $r")
    }
  }

  test("s25: streaming CDC apply — the final snapshot equals q145's batch " +
    "merge on the same changelog, deletes drop, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft_s25").toString + "/cdc"
    // the q145 changelog over the q145 base, as one ordered stream:
    // base rows arrive first as seq-0 inserts, then D %11, U %13, I %17
    val ords = graft.Tables.orders(spark, SharedSpark.sf001)
      .selectExpr("o_orderkey", "o_orderstatus",
        "CAST(o_totalprice AS DOUBLE)").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val baseB = ords.map { case (k, st, pr) =>
      Change(k, 0L, "I", Some(pr), Some(st)) }.toSeq
    val chg1 = ords.collect { case (k, _, _) if k % 11 == 0 =>
      Change(k, 1L, "D", None, None) }.toSeq
    val chg2 = ords.collect { case (k, _, pr) if k % 13 == 0 =>
      Change(k, 2L, "U", Some(pr + 1), None) }.toSeq
    val chg3 = ords.collect { case (k, st, pr) if k % 17 == 0 =>
      Change(k + 10000000L, 3L, "I", Some(pr), Some(st)) }.toSeq
    val input = MemoryStream[Change]
    val q = Demos.s25CdcApply(spark, input.toDF(), dir)
    try Seq(baseB, chg1, chg2, chg3).foreach { c =>
      input.addData(c: _*); q.processAllAvailable()
    } finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == 3L)

    // q145's merge rules applied in one shot (latest-op-wins, D drops,
    // U/I set price, status = earliest non-null = the base's)
    val expected = (baseB ++ chg1 ++ chg2 ++ chg3)
      .groupBy(_.k).flatMap { case (k, cs) =>
        val byseq = cs.sortBy(_.seq)
        val top = byseq.last
        if (top.op == "D") None
        else Some(k -> ((top.price.get, byseq.flatMap(_.status).headOption)))
      }
    def snap(v: Long) = Demos.cdcLiveView(spark, dir, v).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(2), Option(r.getString(3))))).toMap
    val got = snap(last)
    assert(got == expected, "streamed snapshot differs from the batch merge")
    // deletes actually dropped from the live view (unless a later U
    // resurrected the key — the D∩U overlap q145 also resolves to U);
    // inserts actually present
    val deleted = chg1.filter(_.k % 13 != 0)
    assert(deleted.forall(c => !got.contains(c.k)) && deleted.nonEmpty)
    assert(chg1.exists(_.k % 13 == 0), "fixture must exercise the D→U overlap")
    assert(chg3.forall(c => got.contains(c.k)) && chg3.nonEmpty)
    // bounded state: exactly the live keys, pruned history
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    // replay the committed last batch (post-crash re-execution)
    Demos.cdcApplyBatch(spark, chg3.toDF(), dir, last)
    assert(snap(last) == got, "replaying the committed last batch changed the snapshot")
  }

  test("s26: streaming novelty monitor — final counters equal batch q158, " +
    "state is hash-only and distinct-text-sized, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s26").toString + "/novel"
    val docs = graft.Tables.documents(spark, SharedSpark.sf001)
      .select("doc_id", "source", "text").orderBy("doc_id").collect()
      .map(r => DocSrc(r.getLong(0), r.getString(1), r.getString(2)))
    // doc_id-ordered chunks: the stream admission order q158's
    // first-occurrence-by-doc_id semantics assume
    val chunks = docs.grouped((docs.length + 2) / 3).toVector
    val input = MemoryStream[DocSrc]
    val q = Demos.s26NoveltyMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def counters(v: Long): Map[String, (Long, Long)] =
      spark.read.parquet(s"$dir/v=$v/counts").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = counters(last)
    // batch q158 on the same corpus: (source, n_docs, novel_docs)
    val expected = SparkEntry.queries("q158_novelty_rate")(spark, SharedSpark.sf001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, "streamed novelty counters differ from batch q158")
    // state is 8-byte hash keys only, exactly one per distinct text
    val seenDf = spark.read.parquet(s"$dir/v=$last/seen")
    assert(seenDf.schema.length == 1 &&
      seenDf.schema.head.dataType == org.apache.spark.sql.types.LongType)
    val nDistinctTexts = graft.Tables.documents(spark, SharedSpark.sf001)
      .select("text").distinct().count()
    assert(seenDf.count() == nDistinctTexts, "seen-set not distinct-text-sized")
    // versioned history pruned to the last two snapshots
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    // replay the committed last batch (post-crash re-execution)
    Demos.noveltyBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(counters(last) == got, "replaying the committed last batch changed the counters")
  }

  test("s28: streaming decontamination monitor — final counters equal batch " +
    "q188, state is language-cardinality-bounded, replay is idempotent") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s28").toString + "/decon"
    // the static benchmark gram registry: the eval carve of the corpus,
    // known before ingest (exactly batch q188's bench set)
    val benchGrams = graft.ops.Round10i
      .docGrams(graft.Tables.documents(spark, SharedSpark.sf001))
      .where(col("doc_id") % 50 === 0)
      .select("gram").distinct().localCheckpoint()
    val docs = graft.Tables.documents(spark, SharedSpark.sf001)
      .select("doc_id", "lang", "text").orderBy("doc_id").collect()
      .map(r => DocLang(r.getLong(0), r.getString(1), r.getString(2)))
    val chunks = docs.grouped((docs.length + 2) / 3).toVector
    val input = MemoryStream[DocLang]
    val q = Demos.s28DecontamMonitor(spark, input.toDF(), benchGrams, dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def counters(v: Long): Map[String, (Long, Long)] =
      spark.read.parquet(s"$dir/v=$v/counts").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = counters(last)
    // batch q188 on the same corpus: (lang, n_docs, n_contaminated, rate)
    val expected = SparkEntry.queries("q188_ngram_decontam")(spark, SharedSpark.sf001)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"streamed decontam counters $got != batch q188 $expected")
    // state: one counts row per language, nothing else
    assert(spark.read.parquet(s"$dir/v=$last/counts").count() ==
      got.size.toLong, "state not language-cardinality-bounded")
    // versioned history pruned to the last two snapshots
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    // replay the committed last batch (post-crash re-execution)
    Demos.decontamBatch(spark, chunks.last.toSeq.toDF(), benchGrams, dir, last)
    assert(counters(last) == got, "replaying the committed last batch changed the counters")
  }

  test("s29: streaming padding-waste monitor — final snapshot equals batch " +
    "q191, state is langs×rungs-bounded, replay is idempotent") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s29").toString + "/pad"
    val docs = graft.Tables.documents(spark, SharedSpark.sf001)
      .select("doc_id", "lang", "text").orderBy("doc_id").collect()
      .map(r => DocLang(r.getLong(0), r.getString(1), r.getString(2)))
    val chunks = docs.grouped((docs.length + 2) / 3).toVector
    val input = MemoryStream[DocLang]
    val q = Demos.s29PaddingMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def snapshot(v: Long): Map[(String, Int), (Long, Long, Long)] =
      spark.read.parquet(s"$dir/v=$v/counts").collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val got = snapshot(last)
    // batch q191: (lang, cap, n_docs, sum_tok, max_len, waste, pad_share);
    // the snapshot's exact sums must reproduce ALL of it (waste/share are
    // pure derivations of n_docs/sum_tok)
    val expected = SparkEntry.queries("q191_padding_waste")(spark, SharedSpark.sf001)
      .collect().map { r =>
        ((r.getString(0), r.getInt(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      }.toMap
    assert(got.keySet == expected.keySet, s"bucket sets differ: $got vs $expected")
    got.foreach { case (k @ (_, cap), (n, sumTok, maxLen)) =>
      val (en, esum, emax, ewaste, eshare) = expected(k)
      assert(n == en && sumTok == esum && maxLen == emax, s"s29 $k: $got")
      assert(cap * n - sumTok == ewaste, s"s29 waste $k")
      assert((cap * n - sumTok).toDouble / (cap * n) == eshare, s"s29 share $k")
    }
    // state: one row per (lang, cap) bucket, never doc-volume-scaled
    assert(got.size <= 5 * 4, "state not langs×rungs-bounded")
    // versioned history pruned to the last two snapshots
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    // replay the committed last batch (post-crash re-execution)
    Demos.paddingBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(snapshot(last) == got, "replaying the committed last batch changed the snapshot")
  }

  test("s30: streaming redaction monitor — derived per-type rollup equals " +
    "batch q200, state is template-cardinality-bounded, replay is idempotent") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s30").toString + "/red"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector
    val input = MemoryStream[Event]
    val q = Demos.s30RedactionMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    // derive q200's per-type rollup from the (event_type, template) snapshot
    def rollup(v: Long): Map[String, (Long, Long, Long, Long, Long)] =
      spark.read.parquet(s"$dir/v=$v/counts").collect()
        .groupBy(_.getString(0)).map { case (t, rows) =>
          t -> ((rows.map(_.getLong(2)).sum, rows.map(_.getLong(3)).sum,
            rows.map(_.getLong(4)).sum, rows.map(_.getLong(5)).sum,
            rows.length.toLong))
        }
    val got = rollup(last)
    val expected = SparkEntry.queries("q200_redaction")(spark, SharedSpark.sf001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == expected, s"streamed redaction rollup $got != batch q200 $expected")
    // state: one row per (type, template) — template cardinality, not volume
    assert(spark.read.parquet(s"$dir/v=$last/counts").count() ==
      expected.values.map(_._5).sum, "state not template-cardinality-bounded")
    // versioned history pruned to the last two snapshots
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    // replay the committed last batch (post-crash re-execution)
    Demos.redactionBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(rollup(last) == got, "replaying the committed last batch changed the snapshot")
  }

  test("s31: streaming DQ monitor — final counters equal batch q202's " +
    "row-local constraints, state is 3 rows, replay is idempotent") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s31").toString + "/dq"
    val custDim = graft.Tables.customer(spark, SharedSpark.sf001)
      .select("c_custkey").localCheckpoint()
    val ords = graft.Tables.orders(spark, SharedSpark.sf001)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").orderBy("o_orderkey").collect()
      .map(r => graft.ops.Order(r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getAs[java.time.LocalDateTime](4), r.getString(5)))
    val chunks = ords.grouped((ords.length + 2) / 3).toVector
    val input = MemoryStream[graft.ops.Order]
    val q = Demos.s31DqMonitor(spark, input.toDF(), custDim, dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def counters(v: Long): Map[String, (Long, Long)] =
      spark.read.parquet(s"$dir/v=$v/counts").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = counters(last)
    val expected = SparkEntry.queries("q202_dq_suite")(spark, SharedSpark.sf001)
      .collect()
      .filter(r => Set("orders_fk_customer", "orders_status_accepted",
        "orders_date_range")(r.getString(0)))
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"streamed DQ counters $got != batch q202 $expected")
    assert(got.size == 3, "state not 3 counter rows")
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    Demos.dqBatch(spark, chunks.last.toSeq.toDF(), custDim, dir, last)
    assert(counters(last) == got, "replaying the committed last batch changed the counters")
  }

  test("s32: streaming transition monitor — final matrix equals batch q96, " +
    "derived stationary equals q210, state is bounded, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s32").toString + "/tm"
    // global (ts, event_id) order ⇒ per-user event-time order across
    // batches — the documented in-order-ingest contract of the stitch
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("ts", "event_id").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector
    val input = MemoryStream[Event]
    val q = Demos.s32TransitionMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def matrix(v: Long): Map[(String, String), Long] =
      spark.read.parquet(s"$dir/v=$v/counts").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = matrix(last)
    val expected = SparkEntry.queries("q96_event_transitions")(spark, SharedSpark.sf001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"streamed matrix != batch q96")
    // state bounds: per-user last is user-cardinality-, not volume-, sized
    val nUsers = graft.Tables.events(spark, SharedSpark.sf001)
      .select("user_id").distinct().count()
    assert(spark.read.parquet(s"$dir/v=$last/last").count() == nUsers)

    // the stationary distribution DERIVED from the streamed matrix by
    // q210's exact-integer recipe equals the declared q210 output
    def stationary(m: Map[(String, String), Long]): Map[String, Long] = {
      val rowTot = m.groupBy(_._1._1).map { case (f, xs) => f -> xs.values.sum }
      val p = m.map { case ((f, t), n) => (f, t) -> (1000000L * n / rowTot(f)) }
      var v: Map[String, Long] =
        rowTot.keys.map(_ -> 1000000L / rowTot.size).toMap
      for (_ <- 1 to 3)
        v = p.toSeq
          .flatMap { case ((f, t), pp) => v.get(f).map(vf => t -> vf * pp) }
          .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum / 1000000L }
      v
    }
    val q210 = SparkEntry.queries("q210_markov_stationary")(spark, SharedSpark.sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stationary(got) == q210, "derived stationary != batch q210")

    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    Demos.transitionBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(matrix(last) == got, "replaying the committed last batch changed the matrix")
  }

  test("s33: streaming seasonal monitor — derived profile equals batch q215, " +
    "state is grid-bounded, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s33").toString + "/sea"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector
    val input = MemoryStream[Event]
    val q = Demos.s33SeasonalMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    // derive q215's full row (n, avg, load_ratio) from the cell state
    def profile(v: Long): Map[(Long, Long), (Long, Double, Double)] = {
      val cells = spark.read.parquet(s"$dir/v=$v/cells").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDecimal(3))))
      val tot = cells.map(_._2._1).sum
      cells.map { case (k, (n, s)) =>
        k -> ((n, s.doubleValue() / n, n * 168.0 / tot))
      }.toMap
    }
    val got = profile(last)
    val expected = SparkEntry.queries("q215_seasonal_profile")(spark, SharedSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == expected, "streamed seasonal profile != batch q215")
    assert(got.size <= 168, "state not grid-bounded")
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    Demos.seasonalBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(profile(last) == got, "replaying the committed last batch changed the profile")
  }

  test("s27: streaming burst monitor — published bursts equal batch q169, " +
    "state is hour-count-bounded, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s27").toString + "/burst"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector
    val input = MemoryStream[Event]
    val q = Demos.s27BurstMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def bursts(v: Long): Set[(String, Long, Long, Long, Long)] =
      spark.read.parquet(s"$dir/v=$v/bursts").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val got = bursts(last)
    val expected = SparkEntry.queries("q169_burst_detect")(spark, SharedSpark.sf001)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected, "streamed bursts differ from batch q169")
    assert(got.nonEmpty, "burst fixture is vacuous")
    // state is the exact hour-count table: one row per (type, hour), mass
    // equal to the event count
    val counts = spark.read.parquet(s"$dir/v=$last/counts")
    val distinctHours = graft.Tables.events(spark, SharedSpark.sf001)
      .selectExpr("event_type", "date_trunc('hour', ts)").distinct().count()
    assert(counts.count() == distinctHours, "state not hour-count-bounded")
    assert(counts.selectExpr("sum(cnt)").collect()(0).getLong(0) == evs.length.toLong)
    // replay the committed last batch (post-crash re-execution)
    Demos.burstBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(bursts(last) == got, "replaying the committed last batch changed the bursts")
  }

  test("s24: streaming freshness monitor — merged watermarks equal the " +
    "batch audit, the newest type lags zero, replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_s24").toString + "/fresh"
    val evs = graft.Tables.events(spark, SharedSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5)))
    val chunks = evs.grouped((evs.length + 2) / 3).toVector
    val input = MemoryStream[Event]
    val q = Demos.s24FreshnessMonitor(spark, input.toDF(), dir)
    try chunks.foreach { c => input.addData(c.toSeq: _*); q.processAllAvailable() }
    finally StreamStart.stop(q)
    val last = versions(dir).max
    assert(last == chunks.length - 1)

    def us(e: Event): Long = {
      val i = e.ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val gmax = evs.map(us).max
    val exp = evs.groupBy(_.event_type).view.mapValues { xs =>
      (xs.length.toLong, xs.map(us).max, gmax - xs.map(us).max) }.toMap
    def audit(v: Long) = spark.read.parquet(s"$dir/v=$v/audit").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = audit(last)
    assert(got == exp, "merged freshness state differs from the batch computation")
    assert(got.values.exists(_._3 == 0L), "some type must own the high-water mark")
    // bounded state, pruned history, idempotent replay
    assert(spark.read.parquet(s"$dir/v=$last/state").count() <= 5)
    val surviving = versions(dir)
    assert(surviving == Seq(last - 1, last))
    Demos.freshnessBatch(spark, chunks.last.toSeq.toDF(), dir, last)
    assert(audit(last) == got, "replaying the committed last batch changed the audit")
  }
}
