package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.streaming.StreamStart
import org.scalatest.funsuite.AnyFunSuite

/** The `graft-gen` DataSource V2 (sources/GraftGenSource): generator
  * contract, parallel range partitioning, column pruning, and
  * filter-driven partition pruning — the custom-source rung of the
  * extension ladder, complementing q84's oracle gate (which replays the
  * generator arithmetic in DuckDB).
  */
class GenSourceSpec extends AnyFunSuite with TempDirs {
  import SharedSpark.spark

  private def read(rows: Long, parts: Int) =
    spark.read.format("graft-gen")
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.size == 1, s"expected one BatchScanExec: ${df.queryExecution.executedPlan}")
    scans.head
  }

  test("generator contract: every row matches GraftGen.expected") {
    val got = read(997, 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = (0L until 997L).map(sources.GraftGen.expected).toSet
    assert(got == want)
  }

  test("rows split into the requested number of range partitions") {
    assert(scanOf(read(1000, 8)).inputPartitions.size == 8)
    assert(scanOf(read(3, 8)).inputPartitions.size == 3) // never more than rows
  }

  test("id-range filters prune whole partitions AND stay residual") {
    val df = read(1000, 8).where(col("id") >= 500L && col("id") < 625L)
    val scan = scanOf(df)
    assert(scan.inputPartitions.size == 1,
      s"[500, 625) spans exactly one 125-row partition: ${scan.inputPartitions}")
    // residual semantics: a predicate the source does NOT understand still
    // returns exact results (pushdown is a pruning hint, not correctness)
    val odd = read(1000, 8).where(col("id") >= 990L && col("id") % 2 === 1)
    assert(odd.collect().map(_.getLong(0)).sorted.toSeq ==
      (991L until 1000L by 2).toSeq)
  }

  test("column pruning reaches the reader (readSchema is the projection)") {
    val scan = scanOf(read(100, 2).select("lang", "n_toks"))
    assert(scan.scan.readSchema().fieldNames.toSet == Set("lang", "n_toks"))
  }

  test("graft-gen streams in rowsPerBatch micro-batches; content equals the batch read") {
    val dir = tempDir("gen_stream").toString
    val q = spark.readStream.format("graft-gen")
      .option("rows", "1000").option("partitions", "4").option("rowsPerBatch", "300")
      .load()
      .writeStream.format("memory").queryName("gen_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gen_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == (0L until 1000L).map(sources.GraftGen.expected).toSet)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 4, // 300+300+300+100
        s"expected >=4 admission-controlled micro-batches: ${batches.length}")
      assert(batches.forall(_.numInputRows <= 300),
        s"a batch exceeded rowsPerBatch: ${batches.map(_.numInputRows).toSeq}")
    } finally StreamStart.stop(q)
    val _ = dir
  }

  test("graft-gen stream restart from checkpoint re-emits nothing (exactly-once)") {
    val base = tempDir("gen_restart").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-gen")
        .option("rows", "800").option("partitions", "4").option("rowsPerBatch", "250")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally StreamStart.stop(q)
    }
    run() // drains all 800 rows
    run() // restart: offset log says done; nothing may re-emit
    val ids = spark.read.parquet(s"$base/out").collect().map(_.getLong(0)).toSeq
    assert(ids.length == 800, s"restart duplicated or lost rows: ${ids.length}")
    assert(ids.sorted == (0L until 800L).toSeq)
  }

  test("graft-gen crash-replayed batch re-admits its logged range once, then continues") {
    val base = tempDir("gen_replay").toString
    val delivered = scala.collection.mutable.Buffer[(Long, Seq[Long])]()
    def run(rows: Long): Unit = {
      val q = spark.readStream.format("graft-gen")
        .option("rows", rows.toString).option("partitions", "4").option("rowsPerBatch", "250")
        .load()
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val ids = b.collect().map(_.getLong(0)).toSeq.sorted
          delivered.synchronized { delivered += ((id, ids)) }
          ()
        }
        .start()
      try q.processAllAvailable() finally StreamStart.stop(q)
    }
    run(800) // batches 0-3: [0,250) [250,500) [500,750) [750,800)
    // a crash after batch 3's sink write but before the engine's commit
    assert(new java.io.File(s"$base/ckpt/commits/3").delete())
    new java.io.File(s"$base/ckpt/commits/.3.crc").delete()
    run(1200) // replays batch 3 from the offset log, then admits [800,1200)
    val byBatch = delivered.groupBy(_._1)
    assert(byBatch(3L).map(_._2) == Seq.fill(2)(750L until 800L),
      s"batch 3 must replay its logged range exactly once: ${byBatch(3L)}")
    // an idempotent sink keeps one delivery per batch id
    val ids = byBatch.values.map(_.last._2).toSeq.flatten
    assert(ids.sorted == (0L until 1200L), s"lost or duplicated ids after restart")
    assert(byBatch.keySet.max == 5L, s"expected batches 4-5 after the replay: ${byBatch.keySet}")
    val cursors = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/ckpt")).toArray
      .map(_.toString).filter(_.contains("graft-gen-cursor"))
    assert(cursors.isEmpty, s"the source must keep no cursor: ${cursors.toSeq}")
  }

  test("graft-stats streaming sink: one idempotent report per committed epoch") {
    sources.StatsSinkRegistry.epochReports.filterInPlace { case ((k, _), _) => k != "sspec" }
    val ckpt = tempDir("stats_stream").toString
    val q = spark.readStream.format("graft-gen")
      .option("rows", "1000").option("partitions", "4").option("rowsPerBatch", "400")
      .load()
      .writeStream.format("graft-stats")
      .option("key", "sspec").option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally StreamStart.stop(q)
    val epochs = sources.StatsSinkRegistry.epochReports.collect {
      case ((k, e), r) if k == "sspec" => e -> r
    }.toMap
    assert(epochs.values.map(_.rows).sum == 1000L,
      s"epoch reports must sum to the stream total: $epochs")
    assert(epochs.size >= 3, s"expected one report per micro-batch: $epochs")
    assert(epochs.values.forall(_.tasks >= 1))
  }

  test("graft-stats sink: commit protocol aggregates exactly what tasks wrote") {
    sources.StatsSinkRegistry.reports.remove("spec")
    val df = read(10000, 6).where(col("id") % 3 === 0)
    df.write.format("graft-stats").option("key", "spec").mode("append").save()
    val report = sources.StatsSinkRegistry.reports.get("spec")
    assert(report.isDefined, "commit() never published a report")
    assert(report.get.rows == df.count(), s"committed row count is wrong: $report")
    assert(report.get.tasks > 1, s"write should run in parallel tasks: $report")
    assert(report.get.bytesApprox > 0)
  }
}
