package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.Encoders
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.DotProduct

/** The events record (mirrors the events table / FIXTURES.md). */
case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String
)

/** A CDC changelog row (s25): op ∈ I/U/D, per-key seq monotone in arrival
  * order; price/status are None where the op doesn't carry them. */
case class Change(k: Long, seq: Long, op: String,
    price: Option[Double], status: Option[String])

/** A broadcast rule (the control-stream element; FIXTURES.md fixture R). */
case class Rule(event_type: String, threshold: Double, severity: String)

/** Alert emitted by the broadcast-rules pattern. */
case class Alert(event_id: Long, user_id: Long, event_type: String, value: Double, severity: String)

/** Per-key state for the pattern detector: the last event seen. */
case class LastEvent(event_type: String, event_id: Long, tsMillis: Long)

/** s17 input row: an event reduced to its user and epoch day. */
case class EventDay(user_id: Long, ts: Timestamp, epday: Int)

/** s17 per-user state: window-end days already claimed (watermark-pruned)
  * plus the newest event time for timer eviction. */
case class WendSeen(wends: List[Int], lastTsMillis: Long)

/** s17 output: this user's FIRST contribution to this 7-day window end —
  * emitted exactly once per (user, wend), so count-by-wend downstream is
  * the exact rolling distinct-user count (batch q102). */
case class WendClaim(user_id: Long, wend: java.sql.Date)

/** s18 per-user state: the most recent non-purchase event type (the
  * last-touch carry) plus the newest event time for timer eviction. */
case class TouchState(touch: String, lastMs: Long)

/** s18 output: a purchase credited to its last-touch channel (batch
  * q110's attribution rule, applied at ingest). */
case class Credit(user_id: Long, event_id: Long, channel: String)

/** s19 per-user state: running peak and record drop in exact CENT space
  * (2-decimal data ⇒ cents are exact int64), plus the newest event time
  * for timer eviction. */
case class PeakState(peakCents: Long, maxDropCents: Long, lastMs: Long)

/** s19 output: a NEW record peak-to-trough drop for this user — the
  * collapse alert batch q114 computes after the fact, raised at ingest. */
case class DropAlert(user_id: Long, event_id: Long, dropCents: Long)

/** s20 per-user state: active days still within bridging reach of the
  * watermark (older islands can never be extended — only their best
  * summary survives) plus the record streak so far and the newest event
  * time for timer eviction. */
case class StreakState(days: List[Int], bestLen: Int, bestStart: Int,
    bestEnd: Int, lastMs: Long)

/** s20 output: a NEW record consecutive-day streak for this user — each
  * emission strictly beats the last under batch q113's total order
  * (longer, or equally long starting earlier), so the final record per
  * user IS q113's row. */
case class StreakRecord(user_id: Long, len: Int, start_day: java.sql.Date,
    end_day: java.sql.Date)

/** A document arriving on the ingest stream (s8). */
case class DocIngest(doc_id: Long, ts: Timestamp, text: String, lang: String)

/** s8 ingest row after the signature projection. */
case class DocSigned(doc_id: Long, ts: Timestamp, text: String, lang: String, sig: Long)

/** s8 per-signature state: the first document that claimed this content. */
case class SeenDoc(canonical_id: Long, tsMillis: Long)

/** s8 verdict: every ingested doc, tagged keep/drop with its canonical. */
case class DedupVerdict(doc_id: Long, sig: Long, is_first: Boolean, canonical_id: Long)

/** click→purchase match emitted by the pattern detector. */
case class PatternMatch(user_id: Long, click_event_id: Long, purchase_event_id: Long, purchase_ts: Timestamp)

/** s9 ingest row after the band-signature projection (4 rows per doc). */
case class DocBandSig(doc_id: Long, ts: Timestamp, lang: String, band: Int, sig: Long)

/** s9 per-(lang, band, sig) state: docs that have claimed this signature,
  * newest first, plus the newest event time for timer eviction. */
case class BandSeen(docIds: List[Long], lastTsMillis: Long)

/** s9 output: a near-dup CANDIDATE — new doc collided with a stored doc on
  * one band signature. Downstream exact-verifies (the q46/q75 jaccard step). */
case class NearDupCandidate(new_id: Long, hist_id: Long, lang: String, band: Int, sig: Long)

/** s10 output: a contamination drop verdict — the ingested doc shares >= 2
  * distinct trigrams with `n_bench` benchmark docs (q73's rule). */
case class DropVerdict(doc_id: Long, n_bench: Long)

/** s11 ingest row after the token-count projection. */
case class DocTok(doc_id: Long, ts: Timestamp, lang: String, n_toks: Long)

/** s28 ingest row: a candidate document for n-gram decontamination. */
case class DocLang(doc_id: Long, lang: String, text: String)

/** s34 ingest row: a vector arriving on the embedding stream. */
case class VecIngest(vec_id: Long, embedding: Seq[Float])

/** s36's ingest row (top-level: nested case classes break Janino codegen). */
case class CdcDocIngest(doc_id: Long, source: String, text: String)

/** s38's ingest row (top-level: nested case classes break Janino codegen). */
case class QkDocIngest(doc_id: Long, lang: String, source: String, text: String)

/** s26 ingest row: a document with its crawler/source attribution. */
case class DocSrc(doc_id: Long, source: String, text: String)

/** s11 output: admission verdict under the per-language token budget —
  * `prior_toks` is the tokens admitted to `lang` BEFORE this doc. */
case class AdmitVerdict(doc_id: Long, lang: String, n_toks: Long, prior_toks: Long, admitted: Boolean)

/** s12 per-key state: the open session accumulator. `timerMs` is the
  * registered close timer, re-registered whenever the session extends
  * (top-level case class — nested ones break encoder codegen, CLAUDE.md). */
case class OpenSession(startMs: Long, endMs: Long, nEvents: Long, sumValue: Double, timerMs: Long)

/** s12 output: a session finalized by an event-time timer. */
case class TwsSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long, sum_value: Double)

/** s12 — the Spark 4.x arbitrary-state API (`transformWithState`):
  * gap-based sessionization with EXPLICIT event-time timers, the operator
  * shape `session_window` (s5) compiles to, hand-held. One `ValueState`
  * per user holds the open session; each batch gap-splits its events in
  * event-time order (interior sessions emit immediately — see
  * handleInputRows for the late-bridge caveat vs s5), extends the tail
  * session, and re-arms a timer at `end + gap`; the tail session is
  * emitted from `handleExpiredTimer`, i.e. once the watermark proves no
  * in-gap event can still arrive. Batch twin: q88_session_stats
  * (StreamingEquivalenceSpec proves session-for-session equality on real
  * events). State is O(1) per key (5 fixed-width fields — no
  * event buffering) and lives in RocksDB (the API requires that provider,
  * which is also the 100 TB posture: state spills to executor disk, never
  * heap). Late events for a closed session open a NEW session — exactly
  * `session_window`'s watermark semantics.
  *
  * vs s4/s11's `GroupState`: timers here are first-class (register/delete
  * per key, fire on watermark) instead of a single per-key timeout, and
  * state/timer lifecycles are independent — the pattern the old API could
  * only fake with sentinel values.
  */
class SessionProcessor(gapMs: Long) extends StatefulProcessor[Long, Event, TwsSession] {
  @transient private var open: ValueState[OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[OpenSession](
      "open_session", Encoders.product[OpenSession], TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[Event], tv: TimerValues): Iterator[TwsSession] = {
    // Event-time order, then gap-split WITHIN the batch: interior sessions
    // (provably closed by a later same-batch event beyond the gap) emit
    // immediately; only the tail session stays open under a timer. Without
    // the split, a batch carrying a key's whole history would collapse
    // into one session. Caveat vs `session_window` (s5): an emitted
    // interior session cannot retro-merge if a later batch delivers a
    // within-watermark event that bridges its gap — the built-in operator
    // buffers sessions in state until the watermark to handle exactly
    // that; this processor trades it for O(1) state per key.
    val sorted = rows.toVector.sortBy(e => (e.ts.getTime, e.event_id))
    var s = if (open.exists()) open.get() else null
    val out = Vector.newBuilder[TwsSession]
    for (e <- sorted) {
      val ms = e.ts.getTime
      if (s == null) s = OpenSession(ms, ms, 1L, e.value, 0L)
      else if (ms > s.endMs + gapMs) {
        out += TwsSession(key, s.startMs, s.endMs, s.nEvents, s.sumValue)
        s = OpenSession(ms, ms, 1L, e.value, 0L)
      } else s = OpenSession(math.min(s.startMs, ms), math.max(s.endMs, ms),
        s.nEvents + 1, s.sumValue + e.value, s.timerMs)
    }
    if (s != null) { // defensive: an empty rows iterator with no prior state
      val timer = s.endMs + gapMs
      if (s.timerMs != timer) { // session extended/replaced: re-arm the close timer
        if (s.timerMs != 0L) getHandle.deleteTimer(s.timerMs)
        getHandle.registerTimer(timer)
      }
      open.update(s.copy(timerMs = timer))
    }
    out.result().iterator
  }

  override def handleExpiredTimer(
      key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[TwsSession] = {
    if (!open.exists()) Iterator.empty
    else {
      val s = open.get()
      // a deleted-then-fired race would surface as a stale expiry: ignore
      if (info.getExpiryTimeInMs() != s.timerMs) Iterator.empty
      else {
        open.clear()
        Iterator.single(TwsSession(key, s.startMs, s.endMs, s.nEvents, s.sumValue))
      }
    }
  }
}

/** s15 per-key state: the user's funnel stage timestamps (ms; MaxValue =
  * stage not reached), the latest event time seen, and the armed
  * finalize timer (top-level — nested case classes break encoder codegen). */
case class FunnelState(v: Long, c: Long, p: Long, lastMs: Long, timerMs: Long)

/** s15 output: one finalized funnel row per user (-1 = stage never
  * reached), emitted when the watermark proves the user quiet. */
case class FunnelDone(user_id: Long, t_view: Long, t_click: Long, t_purchase: Long)

/** s15 — the streaming twin of q85's ordered funnel (view → click at/after
  * the first view → purchase at/after that first qualifying click), as a
  * `transformWithState` per-user stage tracker. Each batch replays its
  * events in event-time order through the funnel recurrence (view lowers
  * t_view; a click/purchase claims its stage iff it is at/after the
  * previous stage and earlier than the stage's current holder) — in
  * sorted order this IS q85's stacked-window semantics whenever a user's
  * history arrives within one batch, because every view with a smaller
  * timestamp is applied before any later click. State is O(1) per key
  * (5 longs — no event buffering, RocksDB-resident). The funnel row is
  * emitted ONCE, from an event-time timer armed at lastSeen + quietMs —
  * the watermark proving the user quiet is what finalizes the funnel,
  * exactly the s12 session-close shape.
  *
  * Cross-batch caveat (the s12 trade, mirrored): stage claims are
  * monotone — a LATER batch's within-watermark view with a smaller
  * timestamp lowers t_view but cannot resurrect a click already rejected
  * against the old t_view; the batch-exact form over the full corpus is
  * q85 itself (StreamingEquivalenceSpec proves stream==batch per-user on
  * the real events table).
  */
class FunnelProcessor(quietMs: Long) extends StatefulProcessor[Long, Event, FunnelDone] {
  private val Unset = Long.MaxValue
  @transient private var st: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[Event], tv: TimerValues): Iterator[FunnelDone] = {
    // stage rank breaks timestamp ties: q85's min-based stages are
    // order-free at equal ts (a purchase AT its qualifying click's exact
    // ts counts), so the replay must apply view < click < purchase there
    val rank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    val sorted = rows.toVector.sortBy(e => (e.ts.getTime, rank.getOrElse(e.event_type, 3), e.event_id))
    var s = if (st.exists()) st.get()
            else FunnelState(Unset, Unset, Unset, Long.MinValue, 0L)
    for (e <- sorted) {
      val ms = e.ts.getTime
      e.event_type match {
        case "view" => if (ms < s.v) s = s.copy(v = ms)
        case "click" => if (ms >= s.v && ms < s.c) s = s.copy(c = ms)
        case "purchase" => if (ms >= s.c && ms < s.p) s = s.copy(p = ms)
        case _ => // wrapper filters; be robust anyway
      }
      if (ms > s.lastMs) s = s.copy(lastMs = ms)
    }
    if (sorted.nonEmpty) {
      val timer = s.lastMs + quietMs
      if (s.timerMs != timer) { // user active again: push the finalize out
        if (s.timerMs != 0L) getHandle.deleteTimer(s.timerMs)
        getHandle.registerTimer(timer)
      }
      st.update(s.copy(timerMs = timer))
    }
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[FunnelDone] = {
    if (!st.exists()) Iterator.empty
    else {
      val s = st.get()
      if (info.getExpiryTimeInMs() != s.timerMs) Iterator.empty // stale expiry
      else {
        st.clear()
        def out(x: Long) = if (x == Unset) -1L else x
        Iterator.single(FunnelDone(key, out(s.v), out(s.c), out(s.p)))
      }
    }
  }
}

/** s13 batch-side bootstrap row: the per-signature canonical a prior
  * (batch or streaming) run persisted. */
case class InitSeen(sig: Long, canonical_id: Long, tsMillis: Long)

/** s13 — s8's dedup-on-ingest, WARM-STARTED from a batch table via
  * `StatefulProcessorWithInitialState`: the production "day-2" pattern
  * where a new streaming job must not re-admit content the existing
  * corpus already holds. The initial state (one `SeenDoc` per signature,
  * canonical = first doc in event-time order — exactly what s8 would
  * have left in the store) is loaded through `handleInitialState` on the
  * job's FIRST batch, then live ingest runs s8's claim fold
  * ([[Demos.claimSignature]]): intra-batch event-time order, first-arrival
  * across batches. No timer: the warm-started seen-set is kept.
  */
class DedupWarmStartProcessor
    extends StatefulProcessorWithInitialState[Long, DocSigned, DedupVerdict, SeenDoc] {
  @transient private var seen: ValueState[SeenDoc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[SeenDoc]("seen", Encoders.product[SeenDoc], TTLConfig.NONE)

  override def handleInitialState(key: Long, s: SeenDoc, tv: TimerValues): Unit =
    seen.update(s)

  override def handleInputRows(
      key: Long, rows: Iterator[DocSigned], tv: TimerValues): Iterator[DedupVerdict] = {
    val (s, out) = Demos.claimSignature(key, rows, if (seen.exists()) Option(seen.get()) else None)
    seen.update(s)
    out
  }
}

/** Structured-Streaming-native forms of the reference's operators
  * (SURVEY.md §2.3 s1–s5). The batch-checkable analogs live in
  * graft.ops.StreamingBatch; these are the real `readStream` programs,
  * exercised by StreamingDemosSpec with MemoryStream inputs.
  *
  * Mapping (SURVEY.md §2.1):
  *  - s1 = R7–R10: broadcast state incl. rule updates between batches
  *    (processBroadcastElement == the per-batch `currentRules()` re-read;
  *    each micro-batch looks events up in the then-current rules map).
  *  - s2 = R12+R14: watermark + tumbling event-time window.
  *  - s3 = R9 dedup with watermark-bounded state.
  *  - s4 = R9+R11+R13: the literal KeyedBroadcastProcessFunction
  *    translation — per-key state + [[KeyedState]]'s idle timer.
  *  - s5 = R14 session windows.
  */
object Demos {

  /** s1 — the broadcast-state pattern, streaming-native. The rules
    * "stream" is low-volume control data: each micro-batch re-resolves
    * `currentRules()` on the driver into an `event_type → rules` hash map
    * (the MapStateDescriptor analog). The map rides once per job in the
    * task binary, and each task deserializes it. Rules with a null
    * `event_type` never match and are dropped. Rule updates apply to the
    * NEXT micro-batch, exactly Flink's eventually-consistent
    * broadcast-state semantics.
    *
    * A batch is ONE pass over the rows the engine already planned: the
    * streaming plan projects the four alert columns, and `foreachBatch`
    * hands them over as a `LogicalRDD` whose `rdd` is the engine's own
    * output. One `runJob` over that `rdd`, with [[S1Task]] as its
    * function, looks each event's rules up, keeps each task's
    * `maxCollect` lowest-`event_id` alerts and counts every alert it
    * finds. s1 plans nothing of its own: `batch.queryExecution.toRdd`
    * would re-run the optimizer, planning and codegen over that
    * `LogicalRDD`, and a per-batch DataFrame query (an inner
    * `orderBy/limit`) cost ~40 ms of driver time. A broadcast join
    * measured as a second job (its own AQE query stage) and a re-plan
    * per batch.
    * `value >= threshold` follows Spark SQL's double ordering (NaN above
    * every number, -0.0 = 0.0), so the alerts equal the SQL join's.
    *
    * The driver-side materialization is BOUNDED: at most `maxCollect`
    * alerts per batch reach the callback, lowest `event_id` first (ties in
    * partition, row and rule order), and `overflow` counts the alerts the
    * cap dropped, from the same job. Alert floods therefore cannot OOM the
    * driver — production points the overflow at a parquet sink (the s14
    * versioned protocol).
    *
    * The query starts through [[StreamStart]], so each batch's offset and
    * commit log files are written with `java.nio`: 0 forked processes per
    * batch, where Spark's default manager forked 20 (`chmod`, `readlink`)
    * on a host without libhadoop.
    */
  def s1BroadcastRules(
      events: DataFrame,
      currentRules: () => Seq[Rule],
      onBatch: (Seq[Alert], Long, Long) => Unit,
      maxCollect: Int = 65536
  ): StreamingQuery = {
    val alertColumns = events.select(col("event_id").cast("long"), col("user_id").cast("long"),
      col("event_type"), col("value").cast("double"))
    StreamStart(alertColumns)(_.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val rulesByType = currentRules().filter(_.event_type != null).toArray
          .groupBy(r => UTF8String.fromString(r.event_type))
        val rows = batch.queryExecution.logical match {
          case r: LogicalRDD => r.rdd
          case p => throw new IllegalStateException(
            s"s1 expects foreachBatch to hand it a LogicalRDD batch, got ${p.getClass.getName}")
        }
        val perTask = new Array[(Array[Alert], Long)](rows.getNumPartitions)
        rows.sparkContext.runJob(rows, new S1Task(rulesByType, maxCollect), perTask.indices,
          (i: Int, r: (Array[Alert], Long)) => perTask(i) = r)
        val kept = perTask.flatMap(_._1).sortBy(_.event_id).take(maxCollect).toSeq
        onBatch(kept, perTask.map(_._2).sum - kept.size, batchId)
      })
  }

  /** s1's task function. A named class, not a lambda: Spark's
    * `ClosureCleaner` returns at once for it, where for a lambda it parses
    * the defining class file (`Demos$` is 114 KB) on every batch. */
  private final class S1Task(rulesByType: Map[UTF8String, Array[Rule]], cap: Int)
      extends ((TaskContext, Iterator[InternalRow]) => (Array[Alert], Long)) with Serializable {
    def apply(tc: TaskContext, rows: Iterator[InternalRow]): (Array[Alert], Long) =
      s1Alerts(rows, rulesByType, cap)
  }

  /** One s1 task: the `cap` lowest-`event_id` alerts of its rows, in row
    * and rule order among equal ids, and the count of every alert found.
    * Rows are (event_id, user_id, event_type, value); the engine reuses
    * the row object, so an alert copies its values out. */
  private def s1Alerts(rows: Iterator[InternalRow], rulesByType: Map[UTF8String, Array[Rule]],
      cap: Int): (Array[Alert], Long) = {
    val kept = mutable.ArrayBuffer.empty[Alert]
    def lowest(): Unit = {
      val sorted = kept.sortBy(_.event_id).take(cap)
      kept.clear(); kept ++= sorted
    }
    var found = 0L
    while (rows.hasNext) {
      val row = rows.next()
      if (!row.isNullAt(2) && !row.isNullAt(3)) rulesByType.get(row.getUTF8String(2)).foreach { rules =>
        val value = row.getDouble(3)
        for (r <- rules if SQLOrderingUtil.compareDoubles(value, r.threshold) >= 0) {
          require(!row.isNullAt(0) && !row.isNullAt(1),
            s"s1 alert on an event with a null event_id or user_id: ${r.event_type} $value")
          found += 1
          kept += Alert(row.getLong(0), row.getLong(1), r.event_type, value, r.severity)
          if (kept.size > 2L * cap) lowest()
        }
      }
    }
    if (kept.size > cap) lowest()
    (kept.toArray, found)
  }

  /** s2 — watermarked tumbling window aggregation (append mode: a window
    * is emitted once the watermark passes its end, then its state is
    * dropped — bounded state at any stream length). */
  def s2TumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"))

  /** s3 — streaming dedup, exact: one row per key for the stream's whole
    * lifetime. NOTE the state-size contract: the dedup keys exclude the
    * event-time column, so the watermark CANNOT evict state — per-key state
    * lives forever (exactly Flink ValueState-without-TTL semantics, and
    * exactly what batch q34 computes). Fine for bounded key domains
    * (user × event_type); for unbounded keys at 100 TB use s3DedupBounded.
    */
  def s3Dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")

  /** s3b — the BOUNDED-STATE production dedup: duplicates are only
    * suppressed while the key is within the watermark horizon, and state is
    * evicted once the watermark passes it (SCALE.md §6). This is the shape
    * that survives an unbounded key domain — the deliberate trade is that a
    * duplicate arriving later than the horizon is re-emitted (Flink's
    * StateTtlConfig makes the identical trade).
    */
  def s3DedupBounded(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** s4 — the KeyedBroadcastProcessFunction#processElement translation:
    * per-key mutable state (ValueState[LastEvent]) with the cleanup timer
    * of [[KeyedState]] (R13), emitting click→purchase matches. */
  def s4PatternDetect(spark: SparkSession, events: DataFrame): Dataset[PatternMatch] = {
    import spark.implicits._
    KeyedState.fold(events.withWatermark("ts", "10 minutes").as[Event])(_.user_id)(
        (l: LastEvent) => l.tsMillis) { (uid, it, prev, _) =>
      // Micro-batch group iterators carry no order guarantee; impose
      // event-time order so cross-batch and intra-batch behavior agree.
      val evs = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Vector.newBuilder[PatternMatch]
      var last = prev
      for (e <- evs) {
        if (e.event_type == "purchase" && last.exists(_.event_type == "click"))
          out += PatternMatch(uid, last.get.event_id, e.event_id, e.ts)
        last = Some(LastEvent(e.event_type, e.event_id, e.ts.getTime))
      }
      (last.get, out.result().iterator)
    }
  }

  /** s6 — watermarked stream-stream join: each purchase is joined to the
    * clicks of the same user in the preceding 30 minutes. Watermarks on
    * BOTH sides + the interval condition bound the join state (clicks
    * older than watermark+30min are evicted) — unbounded-stream joins
    * without bounded state are impossible, this is the canonical shape.
    */
  def s6StreamStreamJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .where(col("event_type") === "click")
      .select(
        col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events
      .where(col("event_type") === "purchase")
      .select(
        col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "10 minutes")
    // the interval predicate must be IN the join condition — that's what
    // lets the engine derive state-eviction bounds for both sides
    clicks.join(
      purchases,
      clicks("user_id") === purchases("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES")
    ).select(
      clicks("user_id"), col("click_id"), col("purchase_id"),
      col("click_ts"), col("purchase_ts"))
  }

  /** s7 — LEFT OUTER stream-stream join: like s6, but clicks with no
    * purchase in their 30-minute window still emit (purchase columns
    * NULL). The engine can only declare a click unmatched once the
    * watermark passes the END of its join interval — so null rows are
    * emitted LATE, on a subsequent trigger after the watermark moves,
    * which is exactly Flink's interval-join late-cleanup semantics and
    * the part naive reimplementations get wrong (StreamingDemosSpec
    * locks the timing).
    */
  def s7StreamStreamLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .where(col("event_type") === "click")
      .select(
        col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events
      .where(col("event_type") === "purchase")
      .select(
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(
      purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter"
    ).select(
      col("user_id"), col("click_id"), col("purchase_id"),
      col("click_ts"), col("purchase_ts"))
  }

  /** s8 — dedup-on-ingest, the streaming form of the exact-dedup family
    * (q34/q39): documents are keyed by a content signature
    * (`xxhash64(text)` — the same projection-only id scheme as
    * minhashLshPairs) and the first arrival claims the signature; every
    * later duplicate is emitted with `is_first = false` and a pointer to
    * the canonical doc, so downstream can either filter to `is_first`
    * (dedup) or keep the full mapping (dedup map). Ordering contract:
    * WITHIN a micro-batch ties are broken by event time (the sort below),
    * but ACROSS batches the canonical is first-ARRIVAL — once a verdict
    * has been emitted, append mode cannot revise it, so a later batch
    * carrying an earlier-event-time duplicate is marked `is_first = false`
    * against the already-claimed canonical (StreamingDemosSpec locks this
    * in). Per-key state holds only (canonical_id, tsMillis) — O(1) per
    * distinct content — under [[KeyedState]]'s idle timer, the same
    * bounded-state trade as s3DedupBounded: a duplicate arriving after
    * eviction is re-admitted (at 100 TB an unbounded seen-set is a
    * state-store, not a stream).
    */
  def s8DedupBySignature(spark: SparkSession, docs: DataFrame): Dataset[DedupVerdict] = {
    import spark.implicits._
    val signed = docs
      .withWatermark("ts", "10 minutes")
      .withColumn("sig", xxhash64(col("text"))) // codegen'd, projection-only
      .as[DocSigned]
    KeyedState.fold(signed)(_.sig)((s: SeenDoc) => s.tsMillis)(
      (sig, it, prev, _) => claimSignature(sig, it, prev))
  }

  /** s8's claim fold, shared with s13's [[DedupWarmStartProcessor]]: in
    * event-time order (so intra- and cross-batch agree) the first arrival
    * claims `sig`, and every later doc is a duplicate pointing at the
    * canonical. Returns the signature's state and the verdicts. */
  private[streaming] def claimSignature(sig: Long, docs: Iterator[DocSigned],
      prev: Option[SeenDoc]): (SeenDoc, Iterator[DedupVerdict]) = {
    val out = Vector.newBuilder[DedupVerdict]
    var seen = prev
    for (d <- docs.toVector.sortBy(d => (d.ts.getTime, d.doc_id))) {
      seen match {
        case None =>
          seen = Some(SeenDoc(d.doc_id, d.ts.getTime))
          out += DedupVerdict(d.doc_id, sig, is_first = true, d.doc_id)
        case Some(s) =>
          seen = Some(s.copy(tsMillis = math.max(s.tsMillis, d.ts.getTime)))
          out += DedupVerdict(d.doc_id, sig, is_first = false, s.canonical_id)
      }
    }
    (seen.get, out.result().iterator)
  }

  /** s9 — NEAR-dup candidates on ingest: the streaming form of the
    * incremental-dedup probe (q75 / `minhashLshPairs`). Each document's 4
    * minhash band signatures are computed as a pure projection
    * (`LlmExt2.withBandSigs` — the production `pmod(xxhash64(tok), P)` id
    * scheme; no dictionary, no shuffle beyond the keyed state exchange),
    * then `flatMapGroupsWithState` keyed by (lang, band, sig) emits a
    * candidate pair for every stored doc the new doc collides with — the
    * exact probe the batch q75 runs against its persisted band index, but
    * with the index living in the state store. Downstream exact-verifies
    * candidates (jaccard on token sets, the q46/q75 step);
    * StreamingEquivalenceSpec proves the finalized candidate set equals
    * the batch band-join on the same data. State per signature is the doc
    * ids that claimed it — O(cluster size), the same growth as the batch
    * bucket; a production cap would keep only the first K (dedup needs
    * one collision, not all). Idle signatures are evicted by
    * [[KeyedState]]'s timer.
    */
  def s9NearDupCandidates(spark: SparkSession, docs: DataFrame): Dataset[NearDupCandidate] = {
    import spark.implicits._
    val banded = graft.ops.LlmExt2.withBandSigs(
        docs.withWatermark("ts", "10 minutes"),
        col("doc_id"), col("ts"), col("lang"))
      .as[DocBandSig]
    KeyedState.fold(banded)(d => (d.lang, d.band, d.sig))((s: BandSeen) => s.lastTsMillis) {
      case ((lang, band, sig), it, prev, _) =>
        // intra-batch ties in event-time order, as s8
        val arrived = it.toVector.sortBy(d => (d.ts.getTime, d.doc_id))
        val out = Vector.newBuilder[NearDupCandidate]
        var seen = prev.getOrElse(BandSeen(Nil, 0L))
        for (d <- arrived) {
          seen.docIds.foreach(h => out += NearDupCandidate(d.doc_id, h, lang, band, sig))
          seen = BandSeen(d.doc_id :: seen.docIds, math.max(seen.lastTsMillis, d.ts.getTime))
        }
        (seen, out.result().iterator)
    }
  }

  /** s10 — decontamination on ingest: the broadcast-state pattern (s1)
    * applied to the curation layer. The benchmark gram table is the
    * low-volume CONTROL side — re-resolved and re-broadcast each
    * micro-batch, so benchmark updates apply to the next batch exactly
    * like s1's rule updates — and each batch trigram-explodes its
    * documents and emits a drop verdict for any doc sharing >= 2 distinct
    * trigrams with a single benchmark doc (the q73/q79 contamination
    * rule). Verdicts depend only on the doc itself and the then-current
    * benchmark, so the union of per-batch drops over a fixed benchmark
    * equals the batch run on the same documents
    * (StreamingDemosSpec locks this in). At 100 TB the broadcast side is
    * the benchmark's BLOOM FILTER (q79) and the exact verify join runs in
    * the batch audit — the same prefilter/verify split, with the bloom as
    * the MapStateDescriptor analog.
    *
    * Driver-side materialization is BOUNDED: the batch collects at most
    * `maxCollect` verdicts, lowest doc_id first (`orderBy("doc_id")` +
    * `limit`). Only when that cap is hit does a second job, a `count()`
    * of all verdicts, fill `overflow` with the number capped away.
    */
  def s10DecontaminateOnIngest(
      docs: DataFrame,
      currentBenchGrams: () => DataFrame,
      onBatch: (Seq[DropVerdict], Long, Long) => Unit,
      maxCollect: Int = 65536
  ): StreamingQuery = {
    StreamStart(docs)(_.outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // SNAPSHOT the broadcast side once per batch (ADVICE round 11): the
        // overflow count below is a SECOND execution of a plan referencing
        // this DataFrame — if the caller's benchmark table mutated between
        // the collect job and the count job, overflow would be inconsistent
        // with the collected verdicts (even negative). localCheckpoint pins
        // both jobs to the same benchmark version; the table is
        // benchmark-scale (the broadcast side), so the materialization is
        // small by construction.
        val bench = currentBenchGrams()
          .select(col("doc_id").as("bench_id"), col("g"))
          .localCheckpoint()
        val drops = graft.ops.Curation2.trigrams(batch.toDF())
          .join(broadcast(bench), "g")
          .groupBy("doc_id", "bench_id")
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bench"))
        val kept = drops.orderBy("doc_id").limit(maxCollect).as[DropVerdict].collect().toSeq
        val overflow = if (kept.size < maxCollect) 0L else drops.count() - kept.size
        onBatch(kept, overflow, batchId)
      })
  }

  /** s11 — token-budget admission on ingest: the streaming complement of
    * q81's batch budget pack. q81 picks the BEST docs per language given
    * the whole corpus; an ingest stream cannot reorder by quality, so
    * admission is first-come-first-served: per-language `GroupState` holds
    * the tokens admitted so far, and a doc is admitted iff the tokens
    * BEFORE it are under budget — budgets are floors, the crossing doc is
    * still taken, exactly q81's rule. Intra-batch ties are processed in
    * event-time order (the s8 contract; across batches arrival order
    * rules). State is ONE long per language — no timer: a budget is a
    * lifetime quota, and |langs| longs is O(1) state at any corpus size.
    */
  def s11BudgetAdmission(
      spark: SparkSession, docs: DataFrame, budget: Long): Dataset[AdmitVerdict] = {
    import spark.implicits._
    docs
      .select(col("doc_id"), col("ts"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .as[DocTok]
      .groupByKey(_.lang)
      .flatMapGroupsWithState[Long, AdmitVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (lang: String, it: Iterator[DocTok], state: GroupState[Long]) =>
          val arrived = it.toVector.sortBy(d => (d.ts.getTime, d.doc_id))
          var used = state.getOption.getOrElse(0L)
          val out = arrived.map { d =>
            val prior = used
            val admit = prior < budget
            if (admit) used += d.n_toks
            AdmitVerdict(d.doc_id, lang, d.n_toks, prior, admit)
          }
          state.update(used)
          out.iterator
      }
  }

  /** s12 — sessionization on the new arbitrary-state API (see
    * [[SessionProcessor]]). Requires the RocksDB state-store provider at
    * query start (`transformWithState` rejects the HDFS-backed one). */
  def s12SessionsTws(spark: SparkSession, events: DataFrame, gapMs: Long): Dataset[TwsSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }

  /** s15 — the per-user funnel-stage tracker (see [[FunnelProcessor]]),
    * completing the q85↔stream pairing the way q88↔s12 pairs sessions.
    * RocksDB provider required (transformWithState). */
  def s15FunnelTws(spark: SparkSession, events: DataFrame, quietMs: Long): Dataset[FunnelDone] = {
    import spark.implicits._
    events
      .where(col("event_type").isin("view", "click", "purchase"))
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(quietMs), TimeMode.EventTime(), OutputMode.Append())
  }

  /** s13 — dedup-on-ingest warm-started from the existing corpus (see
    * [[DedupWarmStartProcessor]]). `history` is a BATCH docs table; its
    * per-signature canonicals become the job's initial state, so the
    * stream never re-admits content the corpus already holds. RocksDB
    * provider required (transformWithState). */
  def s13DedupWarmStart(
      spark: SparkSession, docs: DataFrame, history: DataFrame): Dataset[DedupVerdict] = {
    import spark.implicits._
    val initState = history
      .withColumn("sig", xxhash64(col("text")))
      .groupBy(col("sig"))
      .agg(
        min(struct(col("ts"), col("doc_id"))).as("first"),
        max(col("ts")).as("last_ts"))
      .select(col("sig"), col("first.doc_id").as("canonical_id"),
        unix_millis(col("last_ts")).as("tsMillis"))
      .as[InitSeen]
      .groupByKey(_.sig)
      .mapValues(r => SeenDoc(r.canonical_id, r.tsMillis))
    docs
      .withColumn("sig", xxhash64(col("text")))
      .as[DocSigned]
      .groupByKey(_.sig)
      .transformWithState(
        new DedupWarmStartProcessor, TimeMode.None(), OutputMode.Append(), initState)
  }

  /** s14 — the `foreachBatch` exactly-once UPSERT pattern: maintain a
    * "latest event per user" snapshot table from the stream. Each
    * micro-batch merges the previous snapshot VERSION with the batch and
    * writes version `batchId` ([[VersionedSink.snapshot]]: exactly-once
    * from determinism + idempotence, the documented foreachBatch
    * contract). Production points this at a transactional table format's
    * MERGE; the versioned-parquet form demonstrates the identical protocol
    * with the directory overwrite as the commit. StreamingDemosSpec drives
    * it over a stream AND replays a batch directly to prove idempotence.
    */
  def s14SnapshotUpsert(spark: SparkSession, events: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(upsertBatch(spark, _, dir, _))

  /** One snapshot-merge step. */
  private[graft] def upsertBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val cols = Seq("user_id", "ts", "event_id", "event_type", "value").map(col)
      val base = s.prev("").map(_.select(cols: _*)).getOrElse(batch.select(cols: _*).limit(0))
      val latest = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      s.write("", base.unionByName(batch.select(cols: _*))
        .withColumn("rn", row_number().over(latest)).where(col("rn") === 1).drop("rn"))
    }

  /** s16 — streaming corpus-drift monitor: the ingest-time twin of batch
    * q92. Each micro-batch of documents updates an EXACT versioned
    * (tok, c_a, c_b) counter snapshot over the same deterministic 1-in-7
    * md5 type carve, then publishes the drift row (n_terms, t_a, t_b, l1)
    * that snapshot implies — the always-on monitor SCALE.md's sketched-
    * drift note calls for, with every retained counter exact and
    * replayable. Once the whole corpus has streamed, the last drift row
    * equals batch q92 EXACTLY (integer counters + the same decimal-space
    * L1 numerator and final double division).
    */
  def s16DriftMonitor(spark: SparkSession, docs: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(docs, dir)(driftBatch(spark, _, dir, _))

  /** One drift-monitor step. */
  private[graft] def driftBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      // the micro-batch's sampled token-type count delta (q92's carve)
      val delta = batch
        .select((col("doc_id") % 2).as("half"),
          explode(split(col("text"), " ")).as("tok"))
        .where(conv(substring(md5(col("tok")), 1, 15), 16, 10)
          .cast("long") % 7 === 0)
        .groupBy("tok").agg(
          count(when(col("half") === 0, 1)).as("c_a"),
          count(when(col("half") === 1, 1)).as("c_b"))
      val base = s.prev("counts").getOrElse(delta.limit(0))
      val counts = s.write("counts", base.unionByName(delta).groupBy("tok")
        .agg(sum("c_a").as("c_a"), sum("c_b").as("c_b")))
      // publish the drift row the new snapshot implies — q92's arithmetic:
      // exact DECIMAL(19,0)-operand products, one final double division
      val totals = counts.agg(sum("c_a").as("t_a"), sum("c_b").as("t_b"))
      s.write("drift", counts.crossJoin(totals)
        .agg(
          sum(abs(col("c_a").cast("decimal(19,0)") * col("t_b").cast("decimal(19,0)")
            - col("c_b").cast("decimal(19,0)") * col("t_a").cast("decimal(19,0)")))
            .as("l1_num"),
          max(col("t_a")).as("t_a"), max(col("t_b")).as("t_b"),
          count(lit(1)).as("n_terms"))
        .select(
          col("n_terms"), col("t_a"), col("t_b"),
          (col("l1_num").cast("double") /
            (col("t_a").cast("double") * col("t_b").cast("double"))).as("l1")))
    }

  /** s17 — rolling-active-window claims: the streaming form of batch
    * q102's 7-day rolling distinct-user count. Keyed by user, the state
    * holds the set of window-end days this user has already claimed; an
    * incoming event on day d claims every unclaimed window end in
    * [d, d+6], emitting each (user, wend) EXACTLY ONCE — so a plain
    * downstream `groupBy(wend).count()` IS the exact rolling distinct
    * count, no distinct aggregation needed (the claim set is arrival-
    * order-free: whichever event claims a wend first, the SET of claims
    * is identical — StreamingEquivalenceSpec proves equality with q102).
    * State is bounded two ways: claimed wends strictly below the current
    * watermark day can never be re-claimed (any surviving event has
    * epday >= watermark day, and claims only reach forward), so they are
    * pruned every invocation; and [[KeyedState]]'s timer evicts idle
    * users. Per-user state is therefore O(watermark horizon + window
    * length) days — a state store at 100 TB, same trade as s8's seen-set.
    */
  def s17RollingActive(spark: SparkSession, events: DataFrame): Dataset[WendClaim] = {
    import spark.implicits._
    val days = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("epday"))
      .as[EventDay]
    KeyedState.fold(days)(_.user_id)((s: WendSeen) => s.lastTsMillis) { (uid, it, prev, wmMs) =>
      // intra-batch ties in event-time order, as s8 (the claim SET
      // is order-free; the order only fixes which event claims)
      val arrived = it.toVector.sortBy(e => (e.ts.getTime, e.epday))
      var seen = prev.getOrElse(WendSeen(Nil, 0L))
      val out = Vector.newBuilder[WendClaim]
      for (e <- arrived) {
        var w = e.epday
        while (w <= e.epday + 6) {
          if (!seen.wends.contains(w)) {
            out += WendClaim(uid,
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(w.toLong)))
            seen = seen.copy(wends = w :: seen.wends)
          }
          w += 1
        }
        seen = seen.copy(
          lastTsMillis = math.max(seen.lastTsMillis, e.ts.getTime))
      }
      // watermark-final wends are unreachable by any future event
      // (late rows below the watermark never reach this operator)
      val wmDay = (wmMs / 86400000L).toInt
      (seen.copy(wends = seen.wends.filter(_ >= wmDay)), out.result().iterator)
    }
  }

  /** s18 — last-touch attribution on ingest: the streaming form of batch
    * q110. Per-user GroupState carries ONLY the most recent non-purchase
    * event type (O(1) state); each purchase is credited to that carry (or
    * 'none') the moment it arrives — the attribution stream a marketing
    * pipeline joins to spend data. Ordering contract mirrors s8: WITHIN a
    * micro-batch events are walked in (ts, event_id) order, ACROSS
    * batches the carry is arrival-order (append mode cannot revise an
    * emitted credit) — on the single-batch file source the result equals
    * batch q110 exactly (StreamingEquivalenceSpec). Idle users are
    * evicted by [[KeyedState]]'s timer.
    */
  def s18AttributionTracker(spark: SparkSession, events: DataFrame): Dataset[Credit] = {
    import spark.implicits._
    KeyedState.fold(events.withWatermark("ts", "10 minutes").as[Event])(_.user_id)(
        (s: TouchState) => s.lastMs) { (uid, it, prev, _) =>
      val arrived = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
      var st = prev.getOrElse(TouchState(null, 0L))
      val out = Vector.newBuilder[Credit]
      for (e <- arrived) {
        if (e.event_type == "purchase")
          out += Credit(uid, e.event_id,
            if (st.touch == null) "none" else st.touch)
        else st = st.copy(touch = e.event_type)
        st = st.copy(lastMs = math.max(st.lastMs, e.ts.getTime))
      }
      (st, out.result().iterator)
    }
  }

  /** s19 — peak-drop monitoring on ingest: the streaming form of batch
    * q114. Per-user GroupState carries ONLY (running peak, record drop) in
    * exact cent space — O(1) state, no reading history — and an alert is
    * emitted the moment a drop sets a new per-user record (each alert
    * strictly deeper than the last, so the alert stream is sparse even on
    * a noisy series). On the single-batch file source the deepest alert
    * per user equals q114's max_drop exactly and users with zero drop
    * alert never (StreamingEquivalenceSpec). Idle users are evicted by
    * [[KeyedState]]'s timer.
    */
  def s19PeakDropMonitor(spark: SparkSession, events: DataFrame): Dataset[DropAlert] = {
    import spark.implicits._
    KeyedState.fold(events.withWatermark("ts", "10 minutes").as[Event])(_.user_id)(
        (s: PeakState) => s.lastMs) { (uid, it, prev, _) =>
      val arrived = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
      var st = prev.getOrElse(PeakState(Long.MinValue, 0L, 0L))
      val out = Vector.newBuilder[DropAlert]
      for (e <- arrived) {
        val cents = math.round(e.value * 100) // exact on 2-decimal data
        val peak = math.max(st.peakCents, cents)
        val drop = peak - cents
        if (drop > st.maxDropCents) out += DropAlert(uid, e.event_id, drop)
        st = PeakState(peak, math.max(st.maxDropCents, drop),
          math.max(st.lastMs, e.ts.getTime))
      }
      (st, out.result().iterator)
    }
  }

  /** s20 — activity-streak tracking on ingest: the streaming form of
    * batch q113's gaps-and-islands longest streak. Per-user GroupState
    * carries the active-day set plus the best (len, start, end) record; a
    * StreakRecord is emitted whenever the best improves under q113's
    * total order (longer, or equally long starting EARLIER — ties with a
    * later start never emit, matching the batch tie-break), so the final
    * record per user equals q113's row exactly
    * (StreamingEquivalenceSpec). State is bounded two ways: an island
    * whose newest day is below watermarkDay - 1 can never be extended or
    * bridged by a surviving event (late rows below the watermark never
    * reach this operator), so its days are pruned — the best summary
    * alone survives — and [[KeyedState]]'s timer evicts idle users.
    * Per-user state is therefore O(watermark horizon) days, a state store
    * at 100 TB — the same trade as s17's claim set.
    */
  def s20StreakTracker(spark: SparkSession, events: DataFrame): Dataset[StreakRecord] = {
    import spark.implicits._
    val epdays = events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("epday"))
      .as[EventDay]
    KeyedState.fold(epdays)(_.user_id)((s: StreakState) => s.lastMs) { (uid, it, prevState, wmMs) =>
      val arrived = it.toVector
      var st = prevState.getOrElse(StreakState(Nil, 0, 0, 0, 0L))
      val days =
        (arrived.map(_.epday) ++ st.days).distinct.sorted
      // islands of consecutive days, ascending by start
      val islands = Vector.newBuilder[(Int, Int)]
      if (days.nonEmpty) {
        var s0 = days.head
        var prev = days.head
        for (d <- days.tail) {
          if (d == prev + 1) prev = d
          else { islands += ((s0, prev)); s0 = d; prev = d }
        }
        islands += ((s0, prev))
      }
      val out = Vector.newBuilder[StreakRecord]
      for ((a, b) <- islands.result()) {
        val len = b - a + 1
        if (len > st.bestLen || (len == st.bestLen && a < st.bestStart)) {
          st = st.copy(bestLen = len, bestStart = a, bestEnd = b)
          out += StreakRecord(uid, len,
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(a.toLong)),
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(b.toLong)))
        }
      }
      // prune islands no surviving event can extend or bridge: any
      // future event has epday >= watermark day, and can only touch
      // an island whose newest day is >= that day - 1
      val wmDay = (wmMs / 86400000L).toInt
      val kept = islands.result().filter(_._2 >= wmDay - 1)
        .flatMap { case (a, b) => a to b }
      val lastMs = (st.lastMs +: arrived.map(_.ts.getTime)).max
      (st.copy(days = kept.toList, lastMs = lastMs), out.result().iterator)
    }
  }

  /** s21 — streaming Count-Min-Sketch monitor: the ingest-time twin of
    * batch q122. Each micro-batch of events folds its own depth-4 ×
    * width-256 CMS delta into an EXACT versioned 1024-row counter
    * snapshot — sketch MERGEABILITY (counters are sums, so per-batch
    * sketches add) is precisely what makes CMS distributable at 100 TB,
    * and this demo exercises it batch-by-batch. Alongside, a probe-carve
    * (user_id % 97) exact-count snapshot feeds the published audit rows
    * (user, exact, est, overcount), so once the whole stream has passed,
    * the audit equals batch q122 EXACTLY. State on disk is
    * O(d·w + |probe users|) rows at any stream size — the sketch IS the
    * bounded state.
    */
  def s21CmsMonitor(spark: SparkSession, events: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(cmsBatch(spark, _, dir, _))

  /** One CMS-monitor step. */
  private[graft] def cmsBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val P = 104729L
      val rows = spark.range(0, 4).toDF("i")
      val ev = batch.select(col("user_id"))
      val deltaCounters = ev.crossJoin(rows)
        .select(col("i"),
          (((col("i") * 4 + 3) * col("user_id") + col("i") * 7 + 5) % P % 256)
            .as("bucket"))
        .groupBy("i", "bucket").agg(count(lit(1)).as("c"))
      val deltaExact = ev.where(col("user_id") % 97 === 0)
        .groupBy("user_id").agg(count(lit(1)).as("exact"))
      // sketch merge = counter addition; probe-exact merge likewise
      val counters = s.write("counters",
        s.prev("counters").getOrElse(deltaCounters.limit(0))
          .unionByName(deltaCounters).groupBy("i", "bucket")
          .agg(sum("c").as("c")))
      val exact = s.write("exact",
        s.prev("exact").getOrElse(deltaExact.limit(0))
          .unionByName(deltaExact).groupBy("user_id")
          .agg(sum("exact").as("exact")))
      // publish the audit rows the new snapshot implies — q122's arithmetic
      s.write("audit", exact.crossJoin(rows)
        .select(col("user_id"), col("exact"), col("i"),
          (((col("i") * 4 + 3) * col("user_id") + col("i") * 7 + 5) % P % 256)
            .as("bucket"))
        .join(counters, Seq("i", "bucket"))
        .groupBy("user_id", "exact")
        .agg(min("c").as("est"))
        .select(col("user_id"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overcount")))
    }

  /** s22 — streaming heavy-hitters monitor: the ingest-time twin of batch
    * q127, and the place where the summary genuinely becomes a SKETCH. The
    * batch form's kept estimates are exact (it sees each key's whole
    * stream); an unbounded stream under bounded state cannot keep that, so
    * each micro-batch SpaceSaving-merges its exact per-bucket delta counts
    * into the versioned summary: a key absent from the retained summary
    * re-enters at the bucket's error floor `err` (it may have been evicted
    * with up to that count), the per-bucket top-m survives under the total
    * (est DESC, user ASC) order, and `err` rises to the largest evicted
    * estimate. Invariants (spec-locked, structural): est ≥ exact for every
    * retained key, any key with exact count > err(bucket) is PROVABLY
    * retained, and state is ≤ 16·m counter rows + 16 err rows at any
    * stream size.
    */
  def s22HeavyHittersMonitor(
      spark: SparkSession, events: DataFrame, dir: String,
      buckets: Int = 16, m: Int = 5): StreamingQuery =
    VersionedSink.start(events, dir)(hhBatch(spark, _, dir, _, buckets, m))

  /** One heavy-hitters merge step; buckets/m are parameters so the spec
    * can force eviction on the 15-user sf0.001 fixture. */
  private[graft] def hhBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long,
      buckets: Int = 16, m: Int = 5): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val delta = batch
        .select(col("user_id"), (col("user_id") % buckets).as("bucket"))
        .groupBy("bucket", "user_id").agg(count(lit(1)).as("dn"))
      val baseC = s.prev("counters").getOrElse(
        delta.select(col("bucket"), col("user_id"), col("dn").as("est")).limit(0))
      val baseE = s.prev("err").getOrElse(
        delta.select(col("bucket"), lit(0L).as("err")).limit(0))
      // SpaceSaving merge: a key absent from the retained summary re-enters
      // at the bucket's error floor (its evicted estimate was ≤ err).
      val combined = baseC
        .join(delta, Seq("bucket", "user_id"), "full_outer")
        .join(baseE, Seq("bucket"), "left")
        .select(col("bucket"), col("user_id"),
          (coalesce(col("est"), col("err"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("est"),
          coalesce(col("err"), lit(0L)).as("err0"))
      val byBucket = Window.partitionBy("bucket")
        .orderBy(col("est").desc, col("user_id"))
      val ranked = combined.withColumn("rk", row_number().over(byBucket))
      s.write("counters", ranked.where(col("rk") <= m)
        .select("bucket", "user_id", "est"))
      // err rises to the largest evicted estimate (monotone per bucket)
      s.write("err", ranked.groupBy("bucket")
        .agg(greatest(max("err0"),
          coalesce(max(when(col("rk") > m, col("est"))), lit(0L))).as("err")))
    }

  /** s23 — streaming distribution-drift monitor: the ingest-time twin of
    * batch q135's KS test. The FIRST micro-batch freezes a reference
    * per-decile histogram of the value distribution (decile = exact cents
    * DIV 5000, the q135/q138 binning); every subsequent batch merges its
    * own per-decile delta counts into a cumulative histogram (histogram
    * MERGEABILITY — bucket counts are sums — is what makes this
    * distributable) and publishes the audit rows (decile, ref_n, cur_n,
    * ref_share, cur_share, drift = |share diff|), whose max row is the
    * ingest-drift alarm a pipeline gates new data on. Shares are raw IEEE
    * quotients of exact int64 counts. State on disk is ≤ 10 histogram +
    * 10 reference rows at ANY stream size (the reference rides forward
    * into each version so pruned history never orphans it).
    */
  def s23DriftMonitor(spark: SparkSession, events: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(valueDriftBatch(spark, _, dir, _))

  /** One drift-monitor step. */
  private[graft] def valueDriftBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val delta = batch
        .select(((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long")).as("v"))
        .withColumn("decile", expr("v DIV 5000"))
        .groupBy("decile").agg(count(lit(1)).as("n"))
      val baseH = s.prev("hist").getOrElse(delta.limit(0))
      val ref0 = s.prev("ref").getOrElse(delta) // first batch freezes the reference
      // Round-9 ADVICE: an EMPTY first micro-batch must not freeze an empty
      // reference — rt would be 0 and every subsequent ref_share/drift NaN
      // for the stream's lifetime. While the stored reference is still empty,
      // keep deferring the freeze to the first non-empty batch (the emptiness
      // probe is a ≤10-row action on the versioned state, constant cost).
      val ref = if (ref0.isEmpty) delta else ref0
      // histogram merge = bucket-count addition
      val hist = s.write("hist", baseH.unionByName(delta).groupBy("decile").agg(sum("n").as("n")))
      val refR = s.write("ref", ref).select(col("decile"), col("n").as("ref_n"))
      // publish the audit the new snapshot implies — exact counts, raw
      // share quotients, one full-outer join of two ≤10-row tables
      val joined = hist.select(col("decile"), col("n").as("cur_n"))
        .join(refR, Seq("decile"), "full_outer")
        .select(col("decile"),
          coalesce(col("ref_n"), lit(0L)).as("ref_n"),
          coalesce(col("cur_n"), lit(0L)).as("cur_n"))
      val tots = joined.agg(sum("ref_n").as("rt"), sum("cur_n").as("ct"))
      s.write("audit", joined.crossJoin(broadcast(tots))
        .select(col("decile"), col("ref_n"), col("cur_n"),
          (col("ref_n").cast("double") / col("rt").cast("double")).as("ref_share"),
          (col("cur_n").cast("double") / col("ct").cast("double")).as("cur_share"))
        .withColumn("drift", abs(col("ref_share") - col("cur_share"))))
    }

  /** s24 — streaming freshness monitor: the ingest-time twin of batch
    * q147. Per-type high-water marks and row counts merge trivially
    * (max and sum — both associative), so the versioned state is ≤ one
    * row per event type at ANY stream volume; each commit publishes the
    * audit rows (type, n, tmax, lag behind the table-wide high-water
    * mark) — the "which producer stalled" alarm, updated per micro-batch.
    */
  def s24FreshnessMonitor(spark: SparkSession, events: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(freshnessBatch(spark, _, dir, _))

  /** One freshness-monitor step. */
  private[graft] def freshnessBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val delta = batch
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
        .groupBy("event_type").agg(count(lit(1)).as("n"), max("us").as("tmax"))
      // watermark merge: counts add, high-water marks take max
      val state = s.write("state", s.prev("state").getOrElse(delta.limit(0))
        .unionByName(delta).groupBy("event_type")
        .agg(sum("n").as("n"), max("tmax").as("tmax")))
      val g = state.agg(max("tmax").as("gmax"))
      s.write("audit", state.crossJoin(broadcast(g))
        .select(col("event_type"), col("n"), col("tmax"),
          (col("gmax") - col("tmax")).as("lag_us")))
    }

  /** s25 — streaming CDC apply: the ingest twin of batch q145's
    * merge-apply. The stream is a changelog of (k, seq, op ∈ I/U/D,
    * price, status) rows; each micro-batch merges into a versioned
    * snapshot with latest-op-wins per key (q145's exact rule: D drops the
    * row from the LIVE view, U/I set the price, status keeps the earliest
    * non-null — the base's — value; see [[cdcLiveView]]). State is
    * O(live keys + tombstones), the floor for CDC compaction: updates
    * replace in place, so the snapshot never grows with change volume.
    * Assumes the standard changelog contract — per-key seq is monotone in
    * arrival order.
    */
  def s25CdcApply(spark: SparkSession, changes: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(changes, dir)(cdcApplyBatch(spark, _, dir, _))

  /** One CDC-apply step. */
  private[graft] def cdcApplyBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val cols = Seq("k", "seq", "op", "price", "status").map(col)
      // Deletes persist as TOMBSTONES (op='D' rows, price null, status
      // retained): q145's batch merge resolves a D→U key to the updated row
      // with the BASE's status, and only a tombstone carrying that status
      // lets the incremental apply reproduce it. This is the standard CDC
      // compaction design — the live view is op != 'D'; production prunes
      // tombstones past the changelog's max-reorder horizon, so state is
      // O(live keys + recent deletes), never O(changes).
      val base = s.prev("").map(_.select(cols: _*)).getOrElse(batch.select(cols: _*).limit(0))
      // latest-op-wins per key in ONE keyed aggregation (no window sort):
      // winner op/price by seq (a replayed batch ties with its own prior
      // effect at EQUAL values, so either pick is byte-identical); status =
      // the EARLIEST non-null status (q145's coalesce(base.status,
      // op.status): the base wins while its lineage lives — U/D carry null)
      s.write("", base.unionByName(batch.select(cols: _*))
        .groupBy("k")
        .agg(
          max(col("seq")).as("seq"),
          max_by(col("op"), col("seq")).as("op"),
          max_by(col("price"), col("seq")).as("price"),
          min_by(col("status"), when(col("status").isNotNull, col("seq"))).as("status"))
        .select(cols: _*))
    }

  /** s26 — streaming per-source novelty monitor: the ingest twin of batch
    * q158. Each micro-batch of documents is split into corpus-wide FIRST
    * occurrences vs re-serves of already-seen content, and the versioned
    * snapshot carries (a) the seen-set as xxhash64(text) keys — the 8-byte
    * state design the 100 TB posture calls for: state is O(distinct
    * texts) longs, never O(docs) strings — and (b) the cumulative
    * per-source (n_docs, novel_docs) counters. Once the corpus has streamed in doc_id
    * order, the final counters equal batch q158's exactly (q158 keys
    * first-occurrence on exact text; the hash key is collision-free on
    * real corpora at 64 bits and the spec's equality assertion would
    * catch one).
    */
  def s26NoveltyMonitor(spark: SparkSession, docs: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(docs, dir)(noveltyBatch(spark, _, dir, _))

  /** One novelty-monitor step. */
  private[graft] def noveltyBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val withH = batch.select(col("doc_id"), col("source"), xxhash64(col("text")).as("h"))
      val seen = s.prev("seen").getOrElse(withH.select("h").limit(0))
      val counts0 = s.prev("counts").getOrElse(withH.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(lit(1)).as("novel_docs")).limit(0))
      // a batch may itself carry duplicates: only the batch's lowest doc_id
      // per hash can be the corpus-wide first occurrence
      val firstInBatch = withH.groupBy("h").agg(min("doc_id").as("first_id"))
      val delta = withH
        .join(firstInBatch, "h")
        .join(seen.select(col("h"), lit(1).as("dup")), Seq("h"), "left")
        .withColumn("novel", col("dup").isNull && col("doc_id") === col("first_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), count(when(col("novel"), 1)).as("novel_docs"))
      s.write("counts", counts0.unionByName(delta).groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("novel_docs").as("novel_docs")))
      s.write("seen", seen.unionByName(withH.select("h")).distinct())
    }

  /** s27 — streaming burst monitor: the ingest twin of batch q169. Each
    * micro-batch's (event_type, hour) count delta merges into a versioned
    * exact hour-count snapshot (counts merge by sum — associative, the
    * s24 mergeable-summary argument; state is bounded by
    * types × time range, never event volume), and each commit publishes
    * the burst hours the merged table implies under q169's pure-integer
    * predicate (2·cnt·trail_n > 3·trail_sum over the trailing-5-hour
    * frame). Once the whole stream is in, the published bursts equal
    * batch q169 EXACTLY. */
  def s27BurstMonitor(spark: SparkSession, events: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(burstBatch(spark, _, dir, _))

  /** One burst-monitor step. */
  private[graft] def burstBatch(
      spark: SparkSession, batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val delta = graft.Tables.normalizeTs(batch)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val counts = s.write("counts", s.prev("counts").getOrElse(delta.limit(0))
        .unionByName(delta)
        .groupBy("event_type", "hour").agg(sum("cnt").as("cnt")))
      // publish the burst hours the merged snapshot implies — q169's
      // integer predicate over the trailing-5-hour frame
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("hour").rowsBetween(-5, -1)
      s.write("bursts", counts
        .withColumn("trail_sum", sum("cnt").over(w))
        .withColumn("trail_n", count(lit(1)).over(w))
        .where(col("trail_n") >= 3 &&
          col("cnt") * col("trail_n") * 2 > col("trail_sum") * 3)
        .select("event_type", "hour", "cnt", "trail_sum", "trail_n"))
    }

  /** s28 — streaming n-gram decontamination monitor: the ingest twin of
    * batch q188. The benchmark gram set is STATIC (eval sets change by
    * release, not by stream — it broadcasts at any corpus scale because
    * it is eval-set-sized by definition); each micro-batch's candidate
    * docs are flagged by the same shared gram extraction
    * (ops.Round10i.docGrams — twins are the same logic by construction),
    * and the per-lang (n_docs, n_contaminated) delta merges into a
    * versioned exact snapshot (counts merge by sum — associative, the
    * s24 mergeable-summary argument; state is bounded by the language
    * cardinality, never doc volume). Once the whole corpus is in, the
    * snapshot equals batch q188's counts EXACTLY. */
  def s28DecontamMonitor(spark: SparkSession, docs: DataFrame,
      benchGrams: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(docs, dir)(decontamBatch(spark, _, benchGrams, dir, _))

  /** One decontamination step. */
  private[graft] def decontamBatch(spark: SparkSession, batch: DataFrame,
      benchGrams: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val cand = graft.ops.Round10i.docToks(batch)
        .where(col("doc_id") % 50 =!= 0)
      val hit = graft.ops.Round10i.docGrams(batch)
        .where(col("doc_id") % 50 =!= 0)
        .join(broadcast(benchGrams.select("gram")), Seq("gram"), "left_semi")
        .select("doc_id").distinct()
      val delta = cand
        .join(hit.withColumn("contam", lit(1)), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("contam"), lit(0L)).as("n_contaminated"))
      s.write("counts", s.prev("counts").getOrElse(delta.limit(0))
        .unionByName(delta)
        .groupBy("lang")
        .agg(sum("n_docs").as("n_docs"), sum("n_contaminated").as("n_contaminated")))
    }

  /** s29 — streaming padding-waste monitor: the ingest twin of batch
    * q191. Each micro-batch aggregates its docs into the shared
    * power-of-two bucket counts (ops.Round10j.padBucketCounts — twins
    * are the same logic by construction); the per-(lang, cap) deltas
    * merge into a versioned exact snapshot (n_docs/sum_tok merge by sum,
    * max_len by max — all associative, the s24 mergeable-summary
    * argument; state is bounded by langs × rungs, never doc volume).
    * waste and pad_share are DERIVED per publish from the merged exact
    * sums, so they equal batch q191's numbers at every version. Once the
    * whole corpus is in, the snapshot equals batch q191 EXACTLY. */
  def s29PaddingMonitor(spark: SparkSession, docs: DataFrame,
      dir: String): StreamingQuery =
    VersionedSink.start(docs, dir)(paddingBatch(spark, _, dir, _))

  /** One padding-waste step. */
  private[graft] def paddingBatch(spark: SparkSession, batch: DataFrame,
      dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val delta = graft.ops.Round10j.padBucketCounts(batch)
      s.write("counts", s.prev("counts").getOrElse(delta.limit(0))
        .unionByName(delta)
        .groupBy("lang", "cap")
        .agg(sum("n_docs").as("n_docs"), sum("sum_tok").as("sum_tok"),
          max("max_len").as("max_len")))
    }

  /** s30 — streaming redaction monitor: the ingest twin of batch q200.
    * Each micro-batch masks digit runs in its props payloads and folds
    * per-(event_type, template) counters — n_events/n_hit/n_runs/
    * n_chars_masked, all sum-mergeable — into the versioned exact
    * snapshot keyed by (event_type, red). State is bounded by the
    * TEMPLATE cardinality (what redaction is for: the payload space
    * collapses to its templates — 1/type on this fixture), never event
    * volume; q200's per-type rollup (incl. n_templates = row count per
    * type) derives exactly from the snapshot at every version. */
  def s30RedactionMonitor(spark: SparkSession, events: DataFrame,
      dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(redactionBatch(spark, _, dir, _))

  /** One redaction step. */
  private[graft] def redactionBatch(spark: SparkSession, batch: DataFrame,
      dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val delta = batch
        .select(col("event_type"), col("props"),
          regexp_replace(col("props"), "[0-9]+", "#").as("red"))
        .groupBy("event_type", "red")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("props") =!= col("red"), 1L).otherwise(0L)).as("n_hit"),
          sum(size(expr("regexp_extract_all(props, '[0-9]+', 0)")).cast("long"))
            .as("n_runs"),
          sum((length(col("props")) - length(col("red"))).cast("long") +
            size(expr("regexp_extract_all(props, '[0-9]+', 0)")).cast("long"))
            .as("n_chars_masked"))
      s.write("counts", s.prev("counts").getOrElse(delta.limit(0))
        .unionByName(delta)
        .groupBy("event_type", "red")
        .agg(sum("n_events").as("n_events"), sum("n_hit").as("n_hit"),
          sum("n_runs").as("n_runs"), sum("n_chars_masked").as("n_chars_masked")))
    }

  /** s31 — streaming data-quality monitor: the ingest twin of batch
    * q202's constraint suite, covering its ROW-LOCAL constraints (FK
    * integrity against the static broadcast customer dim, accepted
    * status values, date range) — exactly the per-row checks whose
    * (n_checked, n_violations) counters are sum-mergeable, so the
    * versioned snapshot is exact at every version and equals batch
    * q202's rows for those constraints once the table is in.
    * PK-uniqueness deliberately stays out: it is NOT mergeable from
    * per-batch counters (a duplicate can straddle batches) — in a live
    * pipeline it composes with the s8 keyed-dedup GroupState pattern
    * instead. State = 3 counter rows. */
  def s31DqMonitor(spark: SparkSession, orders: DataFrame,
      customerDim: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(orders, dir)(dqBatch(spark, _, customerDim, dir, _))

  /** One DQ step. */
  private[graft] def dqBatch(spark: SparkSession, batch: DataFrame,
      customerDim: DataFrame, dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val agg = batch.agg(
        count(lit(1)).as("n"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("v_status"),
        sum(when(col("o_orderdate") < lit("1990-01-01").cast("date") ||
          col("o_orderdate") > lit("2005-12-31").cast("date"), 1L)
          .otherwise(0L)).as("v_date"))
      val fk = batch.join(broadcast(customerDim),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v_fk"))
      val delta = agg.crossJoin(fk).selectExpr(
        """stack(3,
          |  'orders_fk_customer', n, v_fk,
          |  'orders_status_accepted', n, v_status,
          |  'orders_date_range', n, v_date)
          |AS (`constraint`, n_checked, n_violations)""".stripMargin)
      s.write("counts", s.prev("counts").getOrElse(delta.limit(0))
        .unionByName(delta)
        .groupBy("constraint")
        .agg(sum("n_checked").as("n_checked"),
          sum("n_violations").as("n_violations")))
    }

  /** s32 — streaming transition-matrix maintenance: the ingest twin of
    * batch q96/q210. State per version: the event-type transition COUNT
    * matrix (≤ |types|² rows) plus each user's LAST event (one row per
    * active user — the s4 keyed-state bound); counts are sum-mergeable
    * and the last-event row is max-mergeable, so every version's matrix
    * equals the batch matrix over everything ingested so far.
    * Batch-boundary transitions are stitched from the stored per-user
    * last event to the batch's per-user first. Assumes per-user
    * event-time-ordered arrival (compose with upstream watermark
    * reordering otherwise — the s2 shape). The stationary distribution
    * is DERIVED from any committed version by q210's
    * exact-integer power iteration (spec-proven equal). */
  def s32TransitionMonitor(spark: SparkSession, events: DataFrame,
      dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(transitionBatch(spark, _, dir, _))

  /** One transition-matrix step. */
  private[graft] def transitionBatch(spark: SparkSession, batch: DataFrame,
      dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val wAsc = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wDesc = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val intra = batch
        .withColumn("to_type", lead("event_type", 1).over(wAsc))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val marked = batch
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(wAsc))
        .withColumn("rnd", row_number().over(wDesc))
      val first = marked.where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_type"))
      val lastE = marked.where(col("rnd") === 1)
        .select("user_id", "ts", "event_id", "event_type")
      val baseC = s.prev("counts").getOrElse(intra.limit(0))
      val baseL = s.prev("last").getOrElse(lastE.limit(0))
      val boundary = baseL
        .select(col("user_id"), col("event_type").as("from_type"))
        .join(first, Seq("user_id"))
        .groupBy(col("from_type"), col("first_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      s.write("counts", baseC.unionByName(intra).unionByName(boundary)
        .groupBy("from_type", "to_type").agg(sum("n").as("n")))
      // max-merge the per-user last event: stored ∪ batch, keep the latest
      s.write("last", baseL.unionByName(lastE)
        .withColumn("rk", row_number().over(wDesc))
        .where(col("rk") === 1).drop("rk"))
    }

  /** s33 — streaming seasonal-profile maintenance: the ingest twin of
    * batch q215. State per version: the ≤168-row (dow, hr) cell table
    * carrying the event count and the EXACT DECIMAL(18,4) value sum —
    * both sum-mergeable, so every version's derived profile (avg =
    * decimal-sum→double ÷ n, load ratio = n·168/total) equals batch
    * q215 over everything ingested. Day-of-week is the q215 arithmetic
    * form ((epoch_days + 4) % 7), never an engine calendar function. */
  def s33SeasonalMonitor(spark: SparkSession, events: DataFrame,
      dir: String): StreamingQuery =
    VersionedSink.start(events, dir)(seasonalBatch(spark, _, dir, _))

  /** One seasonal step. */
  private[graft] def seasonalBatch(spark: SparkSession, batch: DataFrame,
      dir: String, batchId: Long): Unit =
    VersionedSink.snapshot(spark, dir, batchId) { s =>
      val delta = batch.select(
          expr("(datediff(CAST(ts AS DATE), DATE '1970-01-01') + 4) % 7")
            .cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"),
          col("value"))
        .groupBy("dow", "hr")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(graft.Det.D)).as("sum_v"))
      s.write("cells", s.prev("cells").getOrElse(delta.limit(0))
        .unionByName(delta)
        .groupBy("dow", "hr")
        .agg(sum("n").as("n"), sum("sum_v").cast(graft.Det.D).as("sum_v")))
    }

  /** s34 — streaming vector ingest: the ANN family's ingest twin (the q75
    * history-probe pattern applied to embeddings). The coarse quantizer is
    * TRAINED OFFLINE and FROZEN — the production IVF posture: codebooks
    * come from a sample, and retraining online would silently move list
    * boundaries under already-committed assignments. Each micro-batch
    * assigns its vectors to the persisted centroids (`Ann.assignVectors`:
    * one broadcast of the nlist-row table + a per-vector argmin — the
    * batch build's exact math and tie-breaks) and appends the assigned
    * rows as this batch's partition of the index log
    * ([[VersionedSink.log]]; assignment is deterministic given the frozen
    * centroids, so a replay rewrites identical rows). Per-batch work is
    * O(batch), never O(index): ingest writes deltas, not snapshots.
    *
    * State: the frozen centroid table (nlist rows — O(1) in corpus size);
    * the index itself is DATA in the partitioned table, not stream state.
    * Once the whole corpus has streamed, the log view of `dir` equals the
    * assignment pass of `Ann.ivfIndex` on the same corpus with the same
    * centroids, so ingest-then-query == batch q62 (StreamingDemosSpec
    * locks equality, replay idempotence, and the bounded-state claim). */
  def s34VectorIngest(spark: SparkSession, vectors: DataFrame,
      centroids: DataFrame, dir: String): StreamingQuery =
    VersionedSink.start(vectors, dir)(vectorIngestBatch(_, centroids, dir, _))

  /** One ingest step. */
  private[graft] def vectorIngestBatch(batch: DataFrame,
      centroids: DataFrame, dir: String, batchId: Long): Unit = {
    val emb = batch
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      // guardedNorm2: a malformed vector fails the batch loudly instead of
      // silently vanishing from the index (ADVICE round 11)
      .withColumn("n2", graft.ops.Ann.guardedNorm2(col("e"), col("vec_id")))
    VersionedSink.log(batch.sparkSession, dir, batchId)
      .write("", graft.ops.Ann.assignVectors(emb, centroids))
  }

  /** s35 — semantic dedup on ingest: q231's streaming twin (SemDeDup,
    * Abbas et al. 2023), the s34 posture applied to dedup. The coarse
    * centroids are TRAINED OFFLINE and FROZEN (retraining online would
    * move cluster boundaries under already-committed keep/drop verdicts).
    * Each micro-batch: quantize to the 1e6 integer grid, assign with the
    * batch query's EXACT argmin (`Lloyd.assignNarrow` — same key encoding,
    * same tie-breaks), then drop a vector iff
    *   (a) some already-KEPT committed vector in its cluster clears τ, or
    *   (b) some lower-id batch-mate in its cluster clears τ (q231's
    *       any-lower-id rule applied batch-locally).
    * Admission order is (batchId, vec_id). On chain-free data — no
    * above-τ pair among surviving keepers, which τ=0.8 vs the corpus's
    * 0.513 noise ceiling guarantees — the union of drops equals the batch
    * q231 removal set regardless of batching (StreamingDemosSpec locks it
    * against an engine-independent JVM replay). With chains the online
    * rule is the paper's greedy (kept-only comparisons) and the batch
    * rule can drop strictly more — the documented semantic difference.
    *
    * Verdicts go to the `kept` and `drops` logs; the verdict for batch N
    * is a pure function of (frozen centroids, committed `kept` partitions
    * below N, batch rows). Per-batch cost is O(batch × cluster
    * population), never O(index): the committed side is read only for
    * the ≤nlist clusters present in the batch (broadcast semi-join
    * pushdown), and at 100 TB the kept table is list_id-partitioned so
    * the read prunes to those clusters' files. No stream state at all —
    * all cross-batch knowledge is the frozen centroids + the committed
    * table (stateOperators empty, spec-locked). */
  def s35SemanticDedupIngest(spark: SparkSession, vectors: DataFrame,
      centroids: DataFrame, nlist: Int, dir: String,
      tau: Double = 0.8): StreamingQuery =
    VersionedSink.start(vectors, dir)(semanticDedupBatch(_, centroids, nlist, dir, _, tau))

  /** One dedup-admission step. */
  private[graft] def semanticDedupBatch(batch: DataFrame, centroids: DataFrame,
      nlist: Int, dir: String, batchId: Long, tau: Double): Unit = {
    val log = VersionedSink.log(batch.sparkSession, dir, batchId)
    val qv = graft.ops.Round11.quantized(batch.select(col("vec_id"), col("embedding")))
    // checkpointed: consumed by the committed join, BOTH sides of the
    // batch-local pair join, and the kept write (the dupClusters rule)
    val asg = graft.ops.Lloyd.assignNarrow(qv, centroids, nlist)
      .select(col("vec_id"), col("list_id"), col("v").cast("array<double>").as("vd"))
      .withColumn("n2", DotProduct.norm2(col("vd")))
      .localCheckpoint()
    val committed = log.committed("kept").getOrElse(asg.limit(0))
    // cluster pushdown: only the ≤nlist clusters present in this batch
    val clusters = asg.select("list_id").distinct()
    val commIn = committed.join(broadcast(clusters), Seq("list_id"))
      .select(col("vec_id").as("id_y"), col("list_id"),
        col("vd").as("vy"), col("n2").as("ny"))
    val batchLower = asg
      .select(col("vec_id").as("id_y"), col("list_id"),
        col("vd").as("vy"), col("n2").as("ny"))
    val x = asg.select(col("vec_id").as("id_x"), col("list_id"),
      col("vd").as("vx"), col("n2").as("nx"))
    def dropsVs(y: DataFrame, lowerIdOnly: Boolean): DataFrame = {
      val base = x.join(y, Seq("list_id"))
      val scoped = if (lowerIdOnly) base.where(col("id_y") < col("id_x"))
        else base.where(col("id_y") =!= col("id_x"))
      scoped
        .where(DotProduct.dot(col("vx"), col("vy")) / sqrt(col("nx") * col("ny")) > tau)
        .select(col("id_x").as("vec_id"))
    }
    val drops = dropsVs(commIn, lowerIdOnly = false)
      .unionAll(dropsVs(batchLower, lowerIdOnly = true))
      .distinct()
    log.write("kept", asg.join(drops, Seq("vec_id"), "left_anti"))
    log.write("drops", asg.join(drops, Seq("vec_id"), "left_semi")
      .select("vec_id", "list_id"))
  }

  /** s36 — CDC chunk dedup on ingest: q236's streaming twin (the s35
    * admission posture applied to storage-level text dedup). Each
    * micro-batch is chunked with the batch query's EXACT chunker
    * (`Round12c.cdcChunkTable` — same rolling hash, same boundary rule),
    * and each chunk occurrence gets a verdict: DUPLICATE iff its chunk
    * key was committed by an earlier batch OR a batch-mate precedes it in
    * the (doc_id, chunk_id) admission order; else NOVEL. Novel keys go to
    * the `chunks` log, per-doc savings rows to the `stats` log.
    *
    * Batching-invariance: when batch boundaries respect doc_id order
    * (admission order is (batchId, doc_id)), the verdict for every chunk
    * occurrence equals the sequential doc_id-order scan's — so the union
    * of per-doc stats is a pure function of the corpus, independent of
    * HOW it was batched (StreamingDemosSpec locks 1-batch == 3-batch ==
    * the JVM sequential replay). A replay rewrites content-identical rows
    * (spec-locked via sorted-row compare; parquet file bytes/row order
    * across a replay are not pinned — idempotence is at the row-content
    * level). No stream state: cross-batch knowledge is the
    * committed chunk-key store, read per batch (at 100 TB it is
    * key-partitioned parquet and the membership probe is a broadcast of
    * the BATCH's keys against it — the batch side is always the small
    * side; a Bloom filter over committed keys is the standard
    * first-level screen). stateOperators empty, spec-locked. */
  def s36CdcDedupIngest(spark: SparkSession, docs: DataFrame,
      dir: String): StreamingQuery =
    VersionedSink.start(docs, dir)(cdcDedupBatch(_, dir, _))

  /** One CDC-dedup admission step. */
  private[graft] def cdcDedupBatch(batch: DataFrame, dir: String,
      batchId: Long): Unit = {
    val log = VersionedSink.log(batch.sparkSession, dir, batchId)
    // checkpointed: consumed by the novel-key write AND the stats rollup
    // (un-checkpointed, the chunker windows would replay per consumer)
    val chunks = graft.ops.Round12c.cdcChunkTable(batch)
      .withColumn("ck", md5(col("ctext")))
      .localCheckpoint()
    val committed = log.committed("chunks").map(_.select(col("ck")))
      .getOrElse(chunks.select(col("ck")).limit(0))
    // batch-local admission order: first occurrence per key by
    // (doc_id, chunk_id); later occurrences are duplicates even if novel
    val w = Window.partitionBy("ck").orderBy("doc_id", "chunk_id")
    val marked = chunks
      .withColumn("rnk", row_number().over(w))
      .join(committed.withColumn("seen", lit(1)).distinct(), Seq("ck"), "left")
      .withColumn("is_dup", col("seen").isNotNull || col("rnk") > 1)
      .localCheckpoint()
    log.write("chunks", marked.where(!col("is_dup")).select("ck"))
    log.write("stats", marked.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("ctoks")).as("n_toks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("is_dup"), col("ctoks")).otherwise(0L)).as("dup_toks")))
  }

  /** s37 — chunk-store COMPACTION: the s14 snapshot-upsert posture applied
    * to the CDC chunk store (round-13; VERDICT r12 #6). s36 admits novel
    * chunks but nothing reclaims a chunk superseded when a doc is
    * RE-ingested with edited text. s37's ingest records, per batch, BOTH
    * the novel chunks (the `store` log — content-addressed, the s36
    * admission rule) AND the batch docs' full chunk REFERENCE lists (the
    * `refs` log); a doc's latest ref set supersedes its earlier ones (the
    * s14 latest-version-wins rule at doc granularity). compactChunkStore()
    * then rebuilds the live store as a PURE FUNCTION of the committed
    * directory: live ck = referenced by some doc's latest ref set; every
    * other stored chunk is reclaimed. CDC chunking makes the reclaim
    * surgical — an edit kills only the chunks overlapping the edit window
    * (the resync property the s36 spec locks), so re-ingesting a
    * lightly-edited doc reclaims O(edit) chunks, not O(doc).
    * Compaction writes snapshot version V = max committed batch under
    * `compacted` — a replayed compact rewrites content-identical rows
    * (spec-locked via sorted-row compare). At 100 TB: refs and store are
    * ck-partitioned parquet, `latest` is a doc-keyed rollup, the live set
    * is one semi-join — all hash shuffles, no windows wider than a doc. */
  def s37ChunkStoreIngest(spark: SparkSession, docs: DataFrame,
      dir: String): StreamingQuery =
    VersionedSink.start(docs, dir)(chunkStoreBatch(_, dir, _))

  /** One chunk-store admission step. */
  private[graft] def chunkStoreBatch(batch: DataFrame, dir: String,
      batchId: Long): Unit = {
    val log = VersionedSink.log(batch.sparkSession, dir, batchId)
    val chunks = graft.ops.Round12c.cdcChunkTable(batch)
      .withColumn("ck", md5(col("ctext")))
      .localCheckpoint() // refs write + novel-store write
    log.write("refs", chunks.select("doc_id", "source", "chunk_id", "ck", "ctoks"))
    val committed = log.committed("store").map(_.select(col("ck")))
      .getOrElse(chunks.select(col("ck")).limit(0))
    val w = Window.partitionBy("ck").orderBy("doc_id", "chunk_id")
    log.write("store", chunks.withColumn("rnk", row_number().over(w))
      .join(committed.withColumn("seen", lit(1)).distinct(), Seq("ck"), "left")
      .where(col("seen").isNull && col("rnk") === 1)
      .select("ck", "ctext", "ctoks"))
  }

  /** s38 — quality-keeper admission: q245's streaming twin (the keeper
    * rule real curation stacks run, applied at ingest). Cluster key =
    * (lang, source); every batch scores its docs with q50's quality
    * expression (`Round13.withQuality` — the batch query's EXACT
    * arithmetic) and writes a FULL keeper snapshot under `keepers` =
    * argmax(quality, tie min doc_id) over (latest committed snapshot ∪
    * batch) — the s14 versioned-snapshot posture, so a better-quality
    * member arriving later REPLACES the committed keeper, and the
    * snapshot is a pure function of (committed prefix, batch rows):
    * batching-invariant and replay-idempotent (spec-locked against a JVM
    * fold). The argmax is the two-pass primitive form (max double →
    * equality join → min id): no struct min/max (the SortAggregate
    * trap), no stream state — cross-batch knowledge is the committed
    * snapshot, keeper-count-sized (≤ |clusters| rows, broadcast-scale at
    * any corpus size).
    *
    * LATEST-VERSION-WINS (round 15 — unified with s37's chunk-store
    * rule): the snapshot carries each keeper's admission batch as `ver`,
    * and the fold re-keys (snapshot ∪ batch) by doc_id latest-version
    * BEFORE the argmax. A doc RE-ingested with edited text therefore
    * REPLACES its committed (doc_id, quality) row first — a
    * lower-quality edit of the committed keeper DEMOTES it, and the
    * cluster's keeper becomes the argmax over (the edited row ∪ the
    * batch's other members). Note what demotion can and cannot recover:
    * the snapshot is keeper-count-sized by design, so the historical
    * runner-up is NOT retained — recovering it would need full-corpus
    * state (the batch q245 form recomputes it; a stream cannot at this
    * state budget). Within one batch a doc_id appears at most once (the
    * same per-batch ingest contract s37's ref log relies on — both
    * stores key versions by batch id). StreamingDemosSpec locks the
    * demotion path, batching-invariance on edit-free streams, and replay
    * idempotence. */
  def s38QualityKeeperIngest(spark: SparkSession, docs: DataFrame,
      dir: String): StreamingQuery =
    VersionedSink.start(docs, dir)(qualityKeeperBatch(_, dir, _))

  /** One keeper-admission step. */
  private[graft] def qualityKeeperBatch(batch: DataFrame, dir: String,
      batchId: Long): Unit =
    VersionedSink.snapshot(batch.sparkSession, s"$dir/keepers", batchId) { s =>
      val cand = graft.ops.Round13.withQuality(batch)
        .select(col("lang"), col("source"), col("doc_id"), col("quality"),
          lit(batchId).as("ver"))
      // the latest committed snapshot already folds everything earlier
      val all0 = s.prev("").map(_.select("lang", "source", "doc_id", "quality", "ver"))
        .getOrElse(cand.limit(0)).unionAll(cand)
      // latest-version-wins per doc BEFORE the argmax (s37's rule): a
      // re-ingested edit replaces the committed row — demotion included.
      // Two-pass primitive form, same as the argmax below (no struct
      // max_by — the SortAggregate trap); (doc_id, ver) is unique because
      // the snapshot holds one row per doc and a batch ingests each doc
      // at most once (the shared per-batch ingest contract).
      val all = all0
        .join(all0.groupBy("doc_id").agg(max("ver").as("ver")),
          Seq("doc_id", "ver"))
        .localCheckpoint() // both argmax passes + the ver rejoin
      val mx = all.groupBy("lang", "source").agg(max("quality").as("q"))
      s.write("", all.join(mx, Seq("lang", "source"))
        .where(col("quality") === col("q"))
        .groupBy("lang", "source", "q").agg(min("doc_id").as("doc_id"))
        .select(col("lang"), col("source"), col("doc_id"), col("q").as("quality"))
        // rejoin the kept doc's ver (doc_id is unique in `all`) so the next
        // batch's latest-version re-key sees the keeper's true admission age
        .join(all.select(col("doc_id"), col("ver")), Seq("doc_id"))
        .select("lang", "source", "doc_id", "quality", "ver"))
    }

  /** The verdict view of an s38 directory: the latest keeper snapshot. */
  private[graft] def keeperView(spark: SparkSession, dir: String): DataFrame =
    VersionedSink.latest(spark, s"$dir/keepers")

  /** Rebuild the live chunk store from the committed directory (a pure
    * function of refs + store — rerunnable, content-identical): writes
    * the live store as version V of `compacted` and RETURNS the reclaimed rows
    * (ck, ctoks) — the chunks no doc's latest version references. */
  private[graft] def compactChunkStore(spark: SparkSession, dir: String): DataFrame = {
    val refs = spark.read.parquet(s"$dir/refs")
      .withColumn("b", col("b").cast("long"))
    val store = VersionedSink.logView(spark, dir, "store")
      .localCheckpoint() // live write + reclaim anti-join
    val vmax = refs.agg(max("b")).collect()(0).getLong(0)
    val latest = refs.groupBy("doc_id").agg(max("b").as("b"))
    val live = refs.join(latest, Seq("doc_id", "b"))
      .select("ck").distinct()
      .localCheckpoint() // live write + reclaim anti-join
    store.join(live, Seq("ck"), "left_semi")
      .write.mode("overwrite").parquet(VersionedSink.versionDir(s"$dir/compacted", vmax))
    store.join(live, Seq("ck"), "left_anti").select("ck", "ctoks")
  }

  /** The LIVE view of an s25 snapshot version: tombstones excluded. */
  private[graft] def cdcLiveView(spark: SparkSession, dir: String, version: Long): DataFrame =
    spark.read.parquet(VersionedSink.versionDir(dir, version))
      .where(col("op") =!= "D")
      .select("k", "seq", "price", "status")

  /** s5 — session windows (30-minute gap), watermark-bounded state. */
  def s5Sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")
      )
}
