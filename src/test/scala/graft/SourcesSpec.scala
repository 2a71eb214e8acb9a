package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources
import graft.streaming.StreamStart

/** Rows that take a second each to compute and ignore task interrupts, so
  * a cancelled task finishes its row; the counters count rows begun and
  * rows done. */
private object SlowRows {
  val started = new AtomicInteger(0)
  val finished = new AtomicInteger(0)
  def apply(v: Long): Long = {
    started.incrementAndGet()
    val end = System.nanoTime() + 1000L * 1000 * 1000
    while (System.nanoTime() < end)
      try Thread.sleep(10) catch { case _: InterruptedException => }
    finished.incrementAndGet()
    v
  }
}

/** Round-trips through every source/sink format plus the rate stream
  * (SURVEY.md §2.1 R2/R17 coverage). */
class SourcesSpec extends AnyFunSuite with TempDirs {
  import SharedSpark.{sf001, spark}

  private def tmp(): String =
    tempDir("graft_sources").toString

  test("csv and json round-trip the customer table losslessly") {
    val customer = Tables.customer(spark, sf001)
    val expected = customer.orderBy("c_custkey").collect().toSeq

    val csvDir = tmp() + "/c.csv"
    Sources.writeCsv(customer, csvDir)
    val backCsv = Sources.readCsv(spark, csvDir, customer.schema)
    assert(backCsv.orderBy("c_custkey").collect().toSeq == expected)

    val jsonDir = tmp() + "/c.json"
    Sources.writeJson(customer, jsonDir)
    val backJson = Sources.readJson(spark, jsonDir, customer.schema)
    assert(backJson.orderBy("c_custkey").collect().toSeq == expected)
  }

  test("partitioned parquet write prunes partitions at read time") {
    val orders = Tables.orders(spark, sf001).withColumn("status", col("o_orderstatus"))
    val dir = tmp() + "/orders_part"
    Sources.writeParquet(orders, dir, partitionBy = Seq("status"))
    val back = Sources.readParquet(spark, dir)
    val one = back.where(col("status") === "O")
    one.collect()
    val planStr = one.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(status"), planStr.linesIterator.take(8).mkString("\n"))
    assert(one.count() == orders.where(col("o_orderstatus") === "O").count())
  }

  test("inMemory fromElements analog builds a queryable frame") {
    val df = Sources.inMemory(spark, Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    assert(df.agg(sum("value")).collect()(0).getDouble(0) == 4.0)
  }

  test("rate source streams events-shaped rows into the broadcast-rules demo") {
    val stream = Sources.rateEvents(spark, rowsPerSecond = 500)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    // run the flagship pattern over the unbounded source for a couple of
    // micro-batches via the streaming file sink
    val outDir = tmp() + "/alerts"
    val ckpt = tmp() + "/ckpt"
    val alerts = stream
      .join(broadcast(Tables.rules(spark)), Seq("event_type"))
      .where(col("value") >= col("threshold"))
    val q = Sources.fileSink(alerts, outDir, ckpt)
    try {
      var waited = 0
      while (waited < 20000 && spark.read.schema(alerts.schema).parquet(outDir).count() == 0) {
        Thread.sleep(500); waited += 500
      }
      assert(spark.read.schema(alerts.schema).parquet(outDir).count() > 0)
    } finally StreamStart.stop(q)
  }

  test("StreamStart.stop outlasts a file sink's write tasks: output deleted after the stop stays gone") {
    // StreamingQuery.stop() returns while the query's cancelled tasks still
    // run; a write task that finishes its row opens its next file, which
    // re-creates the deleted output directory
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxRecordsPerFile", "1") // a new file per row
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val input = MemoryStream[Long](1)
    input.addData(1L, 2L, 3L, 4L)
    val out = Paths.get(tmp(), "out")
    val slow = udf((v: Long) => SlowRows(v))
    SlowRows.started.set(0); SlowRows.finished.set(0)
    val q = Sources.fileSink(input.toDF().select(slow($"value").as("v")), out.toString,
      tmp() + "/ckpt")
    try {
      // stop inside the second row, after which the task opens its second file
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (SlowRows.started.get < 2 && System.nanoTime() < deadline) Thread.sleep(5)
      assert(SlowRows.started.get >= 2 && Files.exists(out), "the write task never started")
    } finally StreamStart.stop(q)
    FileUtils.deleteDirectory(out.toFile)
    // let a row still in flight finish and its task open the next file (the
    // status tracker's per-executor running-task count can lag, so the rows
    // themselves say when the task is done)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (SlowRows.finished.get < SlowRows.started.get && System.nanoTime() < deadline)
      Thread.sleep(10)
    Thread.sleep(500)
    assert(!Files.exists(out), s"a task of the stopped query re-created $out")
  }
}
