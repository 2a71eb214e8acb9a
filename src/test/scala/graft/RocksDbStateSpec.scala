package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming._

/** SCALE.md §6 claims the 100 TB state-store story is config-only: swap the
  * in-memory (HDFS-backed) provider for RocksDB and every stateful query
  * keeps its semantics, with state spilling to local disk instead of
  * executor heap. This spec makes that claim spec-backed instead of
  * asserted: the windowed aggregation (s2) and the arbitrary-state pattern
  * detector (s4) run on `RocksDBStateStoreProvider` end-to-end, produce
  * the same output the memory-provider tests lock, and the progress
  * metrics prove RocksDB actually held the state.
  */
class RocksDbStateSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, uid: Long, typ: String, v: Double): Event =
    Event(id, ts(minute), uid, typ, v, """{"k": 1}""")

  /** Run `body` with the RocksDB provider active; restore the previous
    * provider afterwards (the provider is captured at query START, so
    * other suites on the shared session are unaffected). */
  private def withRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  /** True iff any state operator in the query's recent progress reports a
    * RocksDB custom metric — the proof the provider engaged. */
  private def sawRocksDb(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean =
    q.recentProgress.exists(_.stateOperators.exists(
      _.customMetrics.keySet().toArray.exists(_.toString.toLowerCase.contains("rocksdb"))))

  test("s2 tumbling counts on RocksDB: same finalized windows, state held in RocksDB") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      val q = Demos.s2TumblingCounts(input.toDF())
        .writeStream.outputMode("append").format("memory").queryName("rocks_s2").start()
      try {
        input.addData(ev(1, 5, 1, "click", 1.0), ev(2, 10, 2, "click", 1.0), ev(3, 65, 1, "view", 1.0))
        q.processAllAvailable()
        input.addData(ev(99, 60 * 24, 1, "click", 1.0)) // watermark pusher
        q.processAllAvailable()
        val rows = spark.table("rocks_s2").as[(Timestamp, String, Long)].collect().toSet
        assert(rows.contains((ts(0), "click", 2L)))
        assert(rows.contains((ts(60), "view", 1L)))
        assert(sawRocksDb(q), "no state operator reported RocksDB metrics")
      } finally StreamStart.stop(q)
    }
  }

  test("s4 pattern detector (flatMapGroupsWithState) on RocksDB: state crosses batches") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      val q = Demos.s4PatternDetect(spark, input.toDF())
        .writeStream.outputMode("append").format("memory").queryName("rocks_s4").start()
      try {
        input.addData(ev(1, 0, 1, "click", 1.0), ev(2, 0, 2, "purchase", 5.0))
        q.processAllAvailable()
        // the click lives in ROCKSDB between these two micro-batches
        input.addData(ev(3, 5, 1, "purchase", 9.0))
        q.processAllAvailable()
        val matches = spark.table("rocks_s4").as[PatternMatch].collect().toVector
        assert(matches.map(m => (m.user_id, m.click_event_id, m.purchase_event_id)) ==
          Vector((1L, 1L, 3L)))
        assert(sawRocksDb(q), "no state operator reported RocksDB metrics")
      } finally StreamStart.stop(q)
    }
  }

  test("s13 warm-start dedup: batch-bootstrapped state blocks re-admission, live state grows") {
    withRocksDb {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      def doc(id: Long, minute: Int, text: String): DocIngest =
        DocIngest(id, ts(minute), text, "en")
      // existing corpus: "X" claimed by doc 1 (doc 2 is a history dup), "Y" by doc 3
      val history = Seq(doc(1, 0, "X"), doc(2, 5, "X"), doc(3, 0, "Y")).toDF()
      val input = MemoryStream[DocIngest]
      val q = Demos.s13DedupWarmStart(spark, input.toDF(), history)
        .writeStream.outputMode("append").format("memory").queryName("rocks_s13").start()
      try {
        // batch 1: a corpus dup (must point at the WARM-STARTED canonical) + fresh content
        input.addData(doc(10, 60, "X"), doc(11, 60, "Z"))
        q.processAllAvailable()
        // batch 2: dups of both the live-claimed and the warm-started content
        input.addData(doc(12, 70, "Z"), doc(13, 70, "Y"))
        q.processAllAvailable()
        val v = spark.table("rocks_s13").as[DedupVerdict].collect()
          .map(d => d.doc_id -> ((d.is_first, d.canonical_id))).toMap
        assert(v(10L) == ((false, 1L)), s"corpus dup must hit the warm-started state: $v")
        assert(v(11L) == ((true, 11L)), s"fresh content admits: $v")
        assert(v(12L) == ((false, 11L)), s"live-claimed dup points at the live canonical: $v")
        assert(v(13L) == ((false, 3L)), s"warm state survives across batches: $v")
        assert(sawRocksDb(q), "no state operator reported RocksDB metrics")
      } finally StreamStart.stop(q)
    }
  }

  test("s12 transformWithState sessions: timers fire on watermark, state clears, reopens") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      val q = Demos.s12SessionsTws(spark, input.toDF(), gapMs = 30 * 60 * 1000L)
        .writeStream.outputMode("append").format("memory").queryName("rocks_s12").start()
      try {
        // two open sessions; nothing may emit before the watermark passes end+gap
        input.addData(ev(1, 5, 1, "click", 1.0), ev(2, 20, 1, "view", 2.0),
          ev(3, 10, 2, "view", 5.0))
        q.processAllAvailable()
        assert(spark.table("rocks_s12").isEmpty,
          "sessions emitted before their close timer could have fired")
        // watermark pusher: wm -> min 110, past both timers (50 and 40)
        input.addData(ev(4, 120, 3, "view", 1.0))
        q.processAllAvailable()
        val first = spark.table("rocks_s12").as[TwsSession].collect()
          .map(s => s.user_id -> s).toMap
        assert(first.size == 2, s"expected users 1 and 2 closed: ${first.keySet}")
        assert(first(1L) == TwsSession(1L, ts(5).getTime, ts(20).getTime, 2L, 3.0))
        assert(first(2L) == TwsSession(2L, ts(10).getTime, ts(10).getTime, 1L, 5.0))
        // user 1's state was CLEARED on emit: a later event opens a fresh session
        input.addData(ev(5, 115, 1, "view", 7.0))
        q.processAllAvailable()
        input.addData(ev(6, 60 * 5, 4, "view", 0.0)) // push wm past 115+30
        q.processAllAvailable()
        val again = spark.table("rocks_s12").as[TwsSession].collect()
          .filter(_.user_id == 1L).sortBy(_.start_ms)
        assert(again.toVector == Vector(
          TwsSession(1L, ts(5).getTime, ts(20).getTime, 2L, 3.0),
          TwsSession(1L, ts(115).getTime, ts(115).getTime, 1L, 7.0)),
          s"second session wrong: ${again.toVector}")
        assert(sawRocksDb(q), "no state operator reported RocksDB metrics")
      } finally StreamStart.stop(q)
    }
  }
}
