package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TrainingDataPipeline

class PipelineSpec extends AnyFunSuite with TempDirs {
  import SharedSpark.{sf001, spark}

  test("training-data pipeline: monotone stages, partitioned output, reproducible") {
    val out = tempDir("graft_pipeline").toString + "/docs"
    val r = TrainingDataPipeline.run(spark, sf001, out)

    // stages only ever remove rows
    assert(r.input >= r.afterQuality)
    assert(r.afterQuality >= r.afterLang)
    assert(r.afterLang >= r.afterExactDedup)
    assert(r.afterExactDedup >= r.afterNearDedup)
    assert(r.afterNearDedup > 0, "pipeline removed everything")
    assert(r.afterQuality < r.input, "quality filter was vacuous")

    // output is lang-partitioned and readable; partition pruning works
    val back = spark.read.parquet(out)
    assert(back.count() == r.afterNearDedup)
    val en = back.where(col("lang") === "en")
    en.collect()
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan.linesIterator.take(6).mkString("\n"))

    // deterministic: a second run produces the identical document set
    val out2 = tempDir("graft_pipeline").toString + "/docs"
    val r2 = TrainingDataPipeline.run(spark, sf001, out2)
    assert(r2 == r.copy(outPath = out2))
    val ids1 = back.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = spark.read.parquet(out2).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
  }
}
