package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources

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
    } finally q.stop()
  }
}
