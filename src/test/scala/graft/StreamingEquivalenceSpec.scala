package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamStart

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The streaming capability-parity claim (SURVEY.md §2.1 R12/R14, round-2
  * VERDICT task 1): the Structured-Streaming demos and the batch-declared
  * queries compute THE SAME THING on the same real data, via a genuine
  * file-source stream (not MemoryStream) over the events parquet.
  *
  *   s2TumblingCounts == q31_tumbling_window
  *   s3Dedup          == q34_dedup          (key set — arrival order picks the row)
  *   s5Sessions       == q33_session_window
  *
  * Append mode only emits watermark-finalized windows, so each stream gets
  * a far-future FLUSH event appended as a second file: the watermark then
  * passes every real window and the streaming output is the complete,
  * exactly-finalized set — comparable 1:1 with the batch result. The flush
  * event's own window/session/key stays unfinalized or is filtered out.
  */
class StreamingEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {
  import SharedSpark.{sf001, spark}

  // Probed from the real file: ts encoding varies across testdata
  // regenerations (raw nanos Long through round 7, TIMESTAMP_MICROS NTZ
  // since), so the stream schema and the flush row adapt to it.
  private lazy val rawSchema =
    Tables.eventsRawSchema(spark, s"$sf001/events.parquet")

  private val FlushUser = 999999999L
  // 2100-01-01 00:00:00 UTC — decades past every real event, spelled in
  // whatever external type the probed ts column demands.
  private val flushEpochSec = 4102444800L
  private lazy val flushTsValue: Any = rawSchema("ts").dataType match {
    case LongType         => flushEpochSec * 1000000000L // raw nanos
    case TimestampNTZType =>
      java.time.LocalDateTime.ofEpochSecond(flushEpochSec, 0, java.time.ZoneOffset.UTC)
    case _ => new Timestamp(flushEpochSec * 1000L)
  }

  private var inputDir: Path = _

  override def beforeAll(): Unit = {
    inputDir = Files.createTempDirectory("graft_stream_eq")
    Files.copy(
      Paths.get(s"$sf001/events.parquet"),
      inputDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  override def afterAll(): Unit = {
    inputDir.toFile.listFiles().foreach(_.delete())
    Files.deleteIfExists(inputDir)
  }

  /** The file-source stream, normalized exactly like Tables.events. */
  private def eventStream: DataFrame = Tables.normalizeTs(
    spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(inputDir.toString))

  /** Append the flush file (once) so the watermark passes all real data. */
  private lazy val flushWritten: Unit = {
    val tmp = tempDir("graft_flush")
    val flush = spark.createDataFrame(
      java.util.List.of(
        Row(999999998L, flushTsValue, FlushUser, "view", 0.0, "{}")),
      rawSchema)
    flush.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = tmp.resolve("out").toFile.listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, inputDir.resolve("zz_flush.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run a demo stream to a memory sink: main file, then flush, then stop. */
  private def runStream(out: DataFrame, name: String): DataFrame = {
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      flushWritten
      q.processAllAvailable()
    } finally StreamStart.stop(q)
    spark.table(name)
  }

  test("s2 tumbling counts over the file stream == batch q31 (all windows finalized)") {
    val got = runStream(streaming.Demos.s2TumblingCounts(eventStream), "eq_s2")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = SparkEntry.queries("q31_tumbling_window")(spark, sf001)
      .select("hour_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("s3 dedup over the file stream == batch q34 key set (one row per key)") {
    val got = runStream(streaming.Demos.s3Dedup(eventStream), "eq_s3")
      .where(col("user_id") =!= FlushUser)
    val gotKeys = got.collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))).toVector
    val want = SparkEntry.queries("q34_dedup")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want.nonEmpty)
    // exactly one surviving row per key (arrival order chooses WHICH row;
    // the batch query pins min (ts, event_id) — the KEY SET must agree)
    assert(gotKeys.size == gotKeys.distinct.size, "streaming dedup emitted a duplicate key")
    assert(gotKeys.toSet == want,
      s"missing=${(want -- gotKeys.toSet).take(3)} extra=${(gotKeys.toSet -- want).take(3)}")
  }

  test("s5 session windows over the file stream == batch q33 (all sessions finalized)") {
    val got = runStream(streaming.Demos.s5Sessions(eventStream), "eq_s5")
      .where(col("user_id") =!= FlushUser)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
    val want = SparkEntry.queries("q33_session_window")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** s9 == the batch band-signature probe (the q75 shape) on the SAME
    * production id scheme (`LlmExt2.withBandSigs`, pmod(xxhash64(tok), P)).
    * Literal equality with the DECLARED q75 output is impossible by
    * construction — q75's oracle uses dictionary token ids, and LSH recall
    * on borderline pairs depends on the id values the hash family sees —
    * so the claim locked here is the one that matters: the streaming state
    * store and a batch self-join over identical signatures produce the
    * SAME candidate set, with history docs arriving before the delta
    * exactly as q75's persisted index precedes its probe batch.
    */
  test("s9 near-dup candidates over the doc stream == batch band-signature join (q75 probe shape)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val histMin = 0
    val deltaMin = 5
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect()
      .map { r =>
        val id = r.getLong(0)
        val minute = if (id % 5 == 0) deltaMin else histMin
        streaming.DocIngest(id, Timestamp.valueOf(f"2024-01-01 00:0$minute:00"), r.getString(2), r.getString(1))
      }
    val (delta, hist) = docs.partition(_.doc_id % 5 == 0)
    assert(hist.nonEmpty && delta.nonEmpty)

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[streaming.DocIngest]
    val q = streaming.Demos.s9NearDupCandidates(spark, input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("eq_s9").start()
    val got =
      try {
        input.addData(hist.toSeq) // the "persisted index" batch
        q.processAllAvailable()
        input.addData(delta.toSeq) // the probe batch
        q.processAllAvailable()
        spark.table("eq_s9").select("new_id", "hist_id").distinct()
          .as[(Long, Long)].collect().toSet
      } finally StreamStart.stop(q)

    // batch twin: identical signature projection, self-joined on
    // (lang, band, sig) with the stream's arrival order (ts, doc_id)
    val sig = ops.LlmExt2.withBandSigs(docs.toSeq.toDF(),
      col("doc_id"), col("ts"), col("lang"))
    val want = sig.as("a")
      .join(sig.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
          col("a.sig") === col("b.sig") &&
          (col("a.ts") < col("b.ts") ||
            (col("a.ts") === col("b.ts") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("b.doc_id").as("new_id"), col("a.doc_id").as("hist_id"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "the adversarial near-dup corpus must produce collisions")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // and the q75 probe restriction (delta new vs hist stored) is non-empty
    assert(got.exists { case (n, h) => n % 5 == 0 && h % 5 != 0 })
  }

  test("s12 transformWithState sessions over the file stream == batch q88 (all sessions closed)") {
    SharedSpark.withRocksDb {
      val got = runStream(
        streaming.Demos.s12SessionsTws(spark, eventStream, gapMs = 30 * 60 * 1000L).toDF(),
        "eq_s12")
        .where(col("user_id") =!= FlushUser)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      val want = SparkEntry.queries("q88_session_stats")(spark, sf001)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getLong(3), r.getDouble(4)))
      assert(got.nonEmpty && want.nonEmpty)
      val gotKeys = got.map(t => (t._1, t._2, t._3, t._4)).toSet
      val wantKeys = want.map(t => (t._1, t._2, t._3, t._4)).toSet
      assert(gotKeys == wantKeys,
        s"missing=${(wantKeys -- gotKeys).take(3)} extra=${(gotKeys -- wantKeys).take(3)}")
      // value sums: the stream folds doubles sequentially in event-time
      // order, the batch uses the order-free decimal bridge — equal to ulps
      val gotSum = got.map(t => (t._1, t._2) -> t._5).toMap
      for (w <- want)
        assert(math.abs(gotSum((w._1, w._2)) - w._5) < 1e-6,
          s"session sum diverged for user ${w._1} @ ${w._2}: ${gotSum((w._1, w._2))} vs ${w._5}")
    }
  }

  test("s17 rolling-window claims over the file stream == batch q102 distinct users") {
    val claims = runStream(
      streaming.Demos.s17RollingActive(spark, eventStream).toDF(), "eq_s17")
      .where(col("user_id") =!= FlushUser)
    val rows = claims.collect().map(r => (r.getLong(0), r.getDate(1).toString))
    // exactly-once per (user, wend): counting claims IS counting users
    assert(rows.length == rows.distinct.length, "a (user, wend) claim was emitted twice")
    val got = rows.groupBy(_._2).map { case (w, xs) => (w, xs.length.toLong) }
    val want = SparkEntry.queries("q102_rolling_distinct")(spark, sf001)
      .select("wend", "n_users")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(want.nonEmpty)
    assert(got == want,
      s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
  }

  test("s18 attribution tracker over the file stream == batch q110 channel counts") {
    val got = runStream(
      streaming.Demos.s18AttributionTracker(spark, eventStream).toDF(), "eq_s18")
      .where(col("user_id") =!= FlushUser)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.nonEmpty)
    assert(got.map(_._2).distinct.length == got.length,
      "a purchase was credited twice")
    val gotChannels = got.groupBy(_._3).map { case (ch, xs) => ch -> xs.length.toLong }
    val want = SparkEntry.queries("q110_attribution")(spark, sf001)
      .select("channel", "n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want.nonEmpty)
    assert(gotChannels == want,
      s"missing=${(want.toSet -- gotChannels.toSet).take(3)} extra=${(gotChannels.toSet -- want.toSet).take(3)}")
  }

  test("s19 peak-drop monitor over the file stream == batch q114 record drops") {
    val got = runStream(
      streaming.Demos.s19PeakDropMonitor(spark, eventStream).toDF(), "eq_s19")
      .where(col("user_id") =!= FlushUser)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // each alert is a strictly deeper record than the user's previous one,
    // so per user the alert count equals the distinct-drop count
    val perUser = got.groupBy(_._1)
    perUser.foreach { case (u, xs) =>
      assert(xs.map(_._3).distinct.length == xs.length,
        s"user $u emitted a non-record alert")
    }
    val want = SparkEntry.queries("q114_peak_drop")(spark, sf001)
      .select("user_id", "max_drop")
      .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100)).toMap
    assert(want.nonEmpty)
    // the deepest alert per user IS the batch max drop; silent users are
    // exactly the zero-drop users
    perUser.foreach { case (u, xs) =>
      assert(xs.map(_._3).max == want(u),
        s"user $u deepest alert ${xs.map(_._3).max} != batch ${want(u)}")
    }
    val silent = want.keySet -- perUser.keySet
    assert(silent.forall(want(_) == 0L),
      s"users ${silent.filter(want(_) != 0L).take(3)} dropped but never alerted")
  }

  test("s20 streak tracker over the file stream == batch q113 longest streaks") {
    val got = runStream(
      streaming.Demos.s20StreakTracker(spark, eventStream).toDF(), "eq_s20")
      .where(col("user_id") =!= FlushUser)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDate(2).toLocalDate,
        r.getDate(3).toLocalDate))
    assert(got.nonEmpty)
    // each emission is a NEW record under q113's total order, so per user
    // every (len, start) pair is distinct
    val perUser = got.groupBy(_._1)
    perUser.foreach { case (u, xs) =>
      assert(xs.map(x => (x._2, x._3)).distinct.length == xs.length,
        s"user $u emitted a non-record streak")
    }
    // the final record per user (max by len, then earliest start) IS the
    // batch longest streak, including its start/end days
    val fin = perUser.map { case (u, xs) =>
      val best = xs.maxBy(x => (x._2, -x._3.toEpochDay))
      (u, best._2.toLong, best._3, best._4)
    }.toSet
    val want = SparkEntry.queries("q113_streaks")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate,
        r.getDate(3).toLocalDate)).toSet
    assert(want.nonEmpty)
    assert(fin == want,
      s"missing=${(want -- fin).take(3)} extra=${(fin -- want).take(3)}")
  }

  test("s15 funnel tracker over the file stream == batch q85 (per-user stages and corpus counts)") {
    SharedSpark.withRocksDb {
      val got = runStream(
        streaming.Demos.s15FunnelTws(spark, eventStream, quietMs = 60 * 60 * 1000L).toDF(),
        "eq_s15")
        .where(col("user_id") =!= FlushUser)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.nonEmpty)
      assert(got.map(_._1).distinct.length == got.length,
        "the finalize timer must emit exactly one funnel row per user")
      // independent batch derivation: the oracle's sequential join-chain
      // shape, NOT q85's stacked windows — so stream, declared query, and
      // this derivation are three independent spellings of the semantics
      val ev = Tables.events(spark, sf001)
        .where(col("event_type").isin("view", "click", "purchase"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv"))
      val c = ev.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") >= col("tv"))
        .groupBy("user_id").agg(min("ts").as("tc"))
      val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts") >= col("tc"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      def ms(r: Row, i: Int): Long =
        Option(r.getTimestamp(i)).map(_.getTime).getOrElse(-1L)
      val want = ev.select("user_id").distinct()
        .join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .collect()
        .map(r => (r.getLong(0), ms(r, 1), ms(r, 2), ms(r, 3)))
      assert(got.toSet == want.toSet,
        s"missing=${(want.toSet -- got.toSet).take(3)} extra=${(got.toSet -- want.toSet).take(3)}")
      // and the corpus-level q85 row agrees with the stream's aggregate
      val q85 = SparkEntry.queries("q85_funnel")(spark, sf001).collect().head
      assert(q85.getLong(0) == got.count(_._2 >= 0L))
      assert(q85.getLong(1) == got.count(_._3 >= 0L))
      assert(q85.getLong(2) == got.count(_._4 >= 0L))
    }
  }
}
