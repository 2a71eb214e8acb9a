package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end streaming drive against the REAL events parquet via the
  * file source (not MemoryStream): proves the §2.3 demos run as actual
  * readStream→writeStream programs, and that s1's alert stream agrees
  * with the batch flagship q35 on the same data.
  * Usage: runMain graft.streaming.StreamingSmoke [sfDir]
  */
object StreamingSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()

    // File-source stream over the events table — schema probed from the
    // actual file (ts encoding varies across testdata regenerations), then
    // normalized exactly like Tables.events.
    val rawSchema = graft.Tables.eventsRawSchema(spark, s"$sfDir/events.parquet")
    def eventStream: DataFrame = graft.Tables.normalizeTs(
      spark.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet") // file source needs a dir
        .parquet(sfDir))

    // s1: broadcast-rules alerts, counted across micro-batches (the alerts
    // past s1's collect cap count through its overflow).
    val alertCount = new AtomicLong(0)
    val q1 = Demos.s1BroadcastRules(
      eventStream,
      () => graft.Tables.rules(spark).collect().toSeq
        .map(r => Rule(r.getString(0), r.getDouble(1), r.getString(2))),
      (alerts, overflow, _) => alertCount.addAndGet(alerts.size + overflow)
    )
    q1.processAllAvailable(); StreamStart.stop(q1)
    val batchAlerts = graft.SparkEntry.queries("q35_broadcast_rules")(spark, sfDir).count()
    println(s"[stream-smoke] s1 alerts=${alertCount.get} batch q35=$batchAlerts " +
      (if (alertCount.get == batchAlerts) "OK" else "MISMATCH"))

    // s2: tumbling counts to a memory sink (append mode — only finalized
    // windows; the unfinalized tail is expected to be withheld).
    val q2 = StreamStart(Demos.s2TumblingCounts(eventStream))(
      _.outputMode("append").format("memory").queryName("smoke_s2"))
    q2.processAllAvailable(); StreamStart.stop(q2)
    val s2n = spark.table("smoke_s2").count()
    println(s"[stream-smoke] s2 finalized windows=$s2n " + (if (s2n > 0) "OK" else "FAIL"))

    // s4: stateful pattern detection over the real stream.
    val q4 = StreamStart(Demos.s4PatternDetect(spark, eventStream))(
      _.outputMode("append").format("memory").queryName("smoke_s4"))
    q4.processAllAvailable(); StreamStart.stop(q4)
    val s4n = spark.table("smoke_s4").count()
    val batchMatches = graft.SparkEntry.queries("q38_pattern_detect")(spark, sfDir)
      .agg(sum("n_matches")).collect()(0).getLong(0)
    println(s"[stream-smoke] s4 matches=$s4n batch q38 total=$batchMatches " +
      (if (s4n == batchMatches) "OK" else "MISMATCH"))

    // s6: stream-stream interval join vs its batch equivalent.
    val q6 = StreamStart(Demos.s6StreamStreamJoin(eventStream))(
      _.outputMode("append").format("memory").queryName("smoke_s6"))
    q6.processAllAvailable(); StreamStart.stop(q6)
    val s6n = spark.table("smoke_s6").count()
    val ev = graft.Tables.events(spark, sfDir)
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val batchJoin = c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES")).count()
    println(s"[stream-smoke] s6 joined=$s6n batch=$batchJoin " +
      (if (s6n == batchJoin) "OK" else "MISMATCH"))

    spark.stop()
  }
}
