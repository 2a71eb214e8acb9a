package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StreamStart
import TempDirs.versions

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Fault tolerance (SURVEY.md §3.1, SCALE.md §6, round-2 VERDICT task 2):
  * a stateful streaming query stopped mid-stream and restarted from its
  * checkpoint loses nothing and duplicates nothing.
  *
  * Shape: s2TumblingCounts (watermarked windowed agg — real state) over a
  * file source, parquet sink. The parquet sink's _spark_metadata commit log
  * plus the checkpoint's offset/state stores are the exactly-once contract;
  * `spark.read.parquet(sink)` shows exactly the committed rows.
  *
  * The hour-5 window is the restart probe: its ONLY pre-restart event (the
  * watermark pusher) lives in checkpointed state when the query stops, and
  * its remaining events arrive after the restart — the final count is
  * correct only if state crossed the restart intact.
  */
class CheckpointRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {
  import SharedSpark.spark
  import spark.implicits._

  private var root: Path = _
  private def inDir = root.resolve("in").toString
  private def ckDir = root.resolve("ck").toString
  private def outDir = root.resolve("out").toString

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft_ckpt")
    Files.createDirectories(root.resolve("in"))
  }

  override def afterAll(): Unit = {
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete()
    }
    rm(root.toFile)
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def addFile(name: String, events: Seq[streaming.Event], in: String = "in"): Unit = {
    val tmp = Files.createTempDirectory(root, "w") // deleted with the root
    events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.resolve("o").toString)
    val part = tmp.resolve("o").toFile.listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, root.resolve(in).resolve(name),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def ev(id: Long, minute: Int, uid: Long, typ: String): streaming.Event =
    streaming.Event(id, ts(minute), uid, typ, 1.0, "{}")

  private def startQuery(): StreamingQuery = {
    val stream = spark.readStream
      .schema(Seq.empty[streaming.Event].toDF().schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(inDir)
    streaming.Demos.s2TumblingCounts(stream)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckDir)
      .start(outDir)
  }

  private def sink: DataFrame = spark.read.parquet(outDir)

  test("windowed agg restarted from checkpoint: no lost state, no lost rows, no duplicates") {
    // ---- phase 1: hours 0-1 plus the hour-5 watermark pusher -----------
    addFile("a.parquet", Seq(
      ev(1, 5, 1, "click"), ev(2, 10, 2, "click"), ev(3, 20, 1, "view"),
      ev(4, 75, 1, "click"),
      ev(5, 300, 9, "view") // pusher: watermark -> 04:50, finalizes hr0+hr1
    ))
    val q1 = startQuery()
    try q1.processAllAvailable() finally StreamStart.stop(q1)

    val afterPhase1 = sink.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(afterPhase1 == Set(
      (ts(0), "click", 2L), (ts(0), "view", 1L), (ts(60), "click", 1L)),
      s"pre-restart sink wrong: $afterPhase1")
    // hour-5 window exists ONLY in checkpointed state at this point

    // ---- phase 2: restart; more hour-5 events + the final flush --------
    addFile("b.parquet", Seq(
      ev(6, 310, 3, "click"), ev(7, 320, 3, "view"),
      ev(8, 1800, 9, "view") // flush: watermark -> 29:50, finalizes hr5
    ))
    val q2 = startQuery()
    try q2.processAllAvailable() finally StreamStart.stop(q2)

    val finalRows = sink.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toVector
    assert(finalRows.size == finalRows.distinct.size, s"duplicated output: $finalRows")
    // hr5 view count = pusher (pre-restart, from recovered state) + ev7
    assert(finalRows.toSet == afterPhase1 ++ Set(
      (ts(300), "click", 1L), (ts(300), "view", 2L)),
      s"post-restart sink wrong: ${finalRows.toSet}")

    // ---- phase 3: restart with NO new data is a no-op ------------------
    val q3 = startQuery()
    try q3.processAllAvailable() finally StreamStart.stop(q3)
    assert(sink.count() == finalRows.size.toLong, "idempotent restart added rows")
  }

  test("transformWithState restarted from checkpoint: open session + timer survive") {
    SharedSpark.withRocksDb {
      Files.createDirectories(root.resolve("in2"))
      def startS12(): StreamingQuery = {
        val stream = spark.readStream
          .schema(Seq.empty[streaming.Event].toDF().schema)
          .option("pathGlobFilter", "*.parquet")
          .parquet(root.resolve("in2").toString)
        streaming.Demos.s12SessionsTws(spark, stream, gapMs = 30 * 60 * 1000L).toDF()
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", root.resolve("ck2").toString)
          .start(root.resolve("out2").toString)
      }
      def evV(id: Long, minute: Int, uid: Long, v: Double): streaming.Event =
        streaming.Event(id, ts(minute), uid, "view", v, "{}")

      // phase 1: user 1's session is OPEN (events at 0 and 5), user 2's too
      addFile("a.parquet", Seq(evV(1, 0, 1, 1.0), evV(2, 5, 1, 2.0), evV(3, 3, 2, 5.0)), "in2")
      val q1 = startS12()
      try q1.processAllAvailable() finally StreamStart.stop(q1)
      // nothing may be committed yet — both sessions live ONLY in RocksDB state
      val out2 = root.resolve("out2").toString
      assert(spark.read.parquet(out2).isEmpty,
        "sessions emitted before any close timer could fire")

      // phase 2: restart; an in-gap event EXTENDS the recovered session,
      // then a pusher closes everything
      addFile("b.parquet", Seq(evV(4, 10, 1, 3.0), evV(5, 300, 9, 0.0)), "in2")
      val q2 = startS12()
      try q2.processAllAvailable() finally StreamStart.stop(q2)
      val sessions = spark.read.parquet(out2).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      // (0→10, 3 events, sum 6.0) is only possible if the checkpointed open
      // session AND its re-armed timer crossed the restart intact
      assert(sessions.get(1L).contains((ts(0).getTime, ts(10).getTime, 3L, 6.0)),
        s"user 1's recovered session is wrong: $sessions")
      assert(sessions.get(2L).contains((ts(3).getTime, ts(3).getTime, 1L, 5.0)),
        s"user 2's session lost across restart: $sessions")
      assert(!sessions.contains(9L), "the pusher's own session must still be open")
    }
  }

  test("s14 versioned sink killed mid-stream and restarted from _ckpt: snapshot == one-shot upsert") {
    Files.createDirectories(root.resolve("in3"))
    val dir = root.resolve("s14").toString
    def startS14(): StreamingQuery = streaming.Demos.s14SnapshotUpsert(spark,
      spark.readStream
        .schema(Seq.empty[streaming.Event].toDF().schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1") // one file per batch
        .parquet(root.resolve("in3").toString),
      dir)
    // users 1-3 get newer rows in later files; user 4 only appears late
    val files = Seq(
      Seq(ev(1, 0, 1, "view"), ev(2, 1, 2, "view"), ev(3, 2, 3, "click")),
      Seq(ev(4, 10, 1, "click"), ev(5, 11, 2, "buy")),
      Seq(ev(6, 20, 3, "view"), ev(7, 5, 1, "view")), // user 1's row here is OLDER
      Seq(ev(8, 30, 4, "buy"), ev(9, 31, 2, "view")))

    // ---- phase 1: batches 0-1, then a kill after batch 1's sink write --
    files.take(2).zipWithIndex.foreach { case (f, i) => addFile(s"f$i.parquet", f, "in3") }
    val q1 = startS14()
    try q1.processAllAvailable() finally StreamStart.stop(q1)
    assert(versions(dir) == Seq(0L, 1L))
    // dropping batch 1's commit marker is a crash between the sink's
    // overwrite of v=1 and the engine's commit: the restart must replay
    // batch 1 through the wrapper's checkpoint against v=0 only
    assert(new java.io.File(s"$dir/_ckpt/commits/1").delete())
    new java.io.File(s"$dir/_ckpt/commits/.1.crc").delete()

    // ---- phase 2: restart with more files ------------------------------
    files.drop(2).zipWithIndex.foreach { case (f, i) => addFile(s"f${i + 2}.parquet", f, "in3") }
    val q2 = startS14()
    try q2.processAllAvailable() finally StreamStart.stop(q2)

    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val oneShot = root.resolve("s14_oneshot").toString
    streaming.Demos.upsertBatch(spark, files.flatten.toDF(), oneShot, 0L)
    assert(versions(dir) == Seq(2L, 3L), s"history not pruned to two versions: ${versions(dir)}")
    assert(sorted(spark.read.parquet(s"$dir/v=3")) == sorted(spark.read.parquet(s"$oneShot/v=0")),
      "restarted stream's snapshot diverged from the one-shot upsert")
  }
}
