package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §5.3): the declared queries must
  * not just be correct — they must produce the plans we designed for
  * scale: broadcast joins for dims, pushed filters at the scan, top-k
  * without a total sort, and whole-stage codegen coverage.
  */
class PlanShapeSpec extends AnyFunSuite with TempDirs {
  import SharedSpark.{sf001, spark}

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf001)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    df.queryExecution.executedPlan.toString
  }

  test("q35 flagship + q14 use BroadcastHashJoin (the R7 broadcast connect)") {
    assert(plan("q35_broadcast_rules").contains("BroadcastHashJoin"))
    assert(plan("q14_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q02 pushes its predicates into the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"))
  }

  test("q01 prunes columns at the scan (ReadSchema is the 4-col projection)") {
    val p = plan("q01_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_shipdate"), s"unpruned scan: $readSchema")
  }

  test("q23 top-k plans TakeOrderedAndProject, not a total sort") {
    assert(plan("q23_topk").contains("TakeOrderedAndProject"))
  }

  test("q12/q13 plan semi/anti joins (not materialized subqueries)") {
    assert(plan("q12_join_semi").contains("LeftSemi"))
    assert(plan("q13_join_anti").contains("LeftAnti"))
  }

  test("q04 aggregation is two-phase (partial + final HashAggregate)") {
    val p = plan("q04_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q126 joins bucketed twins with ZERO join-side exchanges " +
    "(SCALE.md §1 as a declared query, not just a spec)") {
    val p = plan("q126_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n${p.take(1200)}")
    // the only exchange allowed is the final status rollup — the join
    // itself reads both sides pre-partitioned by bucketBy(16, orderkey)
    val joinSection = p.split("SortMergeJoin")(1)
    assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join still shuffles a side:\n${p.take(1500)}")
  }

  test("single-window rank<=k plans a WindowGroupLimit (partial per-key top-k)") {
    // rank-filter windows are rewritten to push a group-limit below the
    // full per-key sort retention (Spark's WindowGroupLimit) — the reason
    // the per-key top-k family needs no custom operator at 100 TB. q20
    // itself is excluded CORRECTLY: its rnk/drnk ride a second window
    // over a different ordering whose values depend on ALL rows, so the
    // limit cannot be pushed there without changing results.
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = Tables.orders(spark, sf001)
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank<=k filter was not pushed into a WindowGroupLimit")
  }

  test("a partition-pruned layout reads only the filtered partitions") {
    // the 100 TB datalake layout (SCALE.md §1): facts partitioned by a
    // dim-like column; a filter on it must prune at PLANNING time (the
    // scan's partition filters), not scan-and-discard
    val dir = tempDir("graft_part").toString
    val ev = Tables.events(spark, sf001)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val df = spark.read.parquet(dir)
      .where(org.apache.spark.sql.functions.col("event_type") === "purchase")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition filter in scan:\n${scan.take(600)}")
    val expected = ev.where(
      org.apache.spark.sql.functions.col("event_type") === "purchase").count()
    assert(df.count() == expected)
  }

  test("q69 hash sampling shuffles only for the output sort") {
    // the sampling decision is a pure projection+filter over the scan —
    // the ONLY exchange in the plan is the rangepartitioning that serves
    // the deterministic output ORDER BY (which exists for the oracle hash
    // compare, not for the operator)
    val df = SparkEntry.queries("q69_stratified_sample")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("rangepartitioning")),
      s"sampling shuffled beyond the output sort:\n${exchanges.mkString("\n")}")
  }

  test("round-9 wave plans: q134 LM join broadcasts, q142 probe join " +
    "broadcasts, q143 has no join at all, q145 merges with exactly one " +
    "sort-merge join and no nested loop") {
    val p134 = plan("q134_unigram_nll")
    assert(p134.contains("BroadcastHashJoin"),
      "q134 per-token LM join must broadcast the vocab-sized table")
    assert(!p134.contains("SortMergeJoin"),
      "q134 must not sort-merge the token table against the LM")
    val p142 = plan("q142_containment_join")
    assert(p142.contains("BroadcastHashJoin"),
      "q142 postings join must broadcast the langs×3 probe set")
    assert(!p142.contains("SortMergeJoin"))
    val p143 = plan("q143_golden_record")
    assert(!p143.contains("Join"),
      "q143 survivorship is one aggregate over a union — no join allowed")
    val p145 = plan("q145_cdc_apply")
    assert(p145.contains("SortMergeJoin") && p145.contains("FullOuter"),
      "q145 must merge base and changelog with a full-outer merge join")
    assert(!p145.contains("NestedLoop"), "q145 must not plan a nested loop")
  }

  test("q73 decontamination broadcasts the benchmark side (no sort-merge join)") {
    val p = plan("q73_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark side not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus side is being shuffled for the gram join")
  }

  test("q71 packing: global-order windows only see the bucket-reduced carry frame") {
    // same contract ScanSpec locks for runningMaxByRange, asserted on the
    // DECLARED packing query: the data-sized running sum is partitioned by
    // range bucket; any unpartitioned window reads only the P-row
    // bucket-totals aggregate
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = SparkEntry.queries("q71_seq_pack")(spark, sf001)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    val globals = windows.filter(_.partitionSpec.isEmpty)
    assert(globals.nonEmpty, "the carry prefix window should exist")
    globals.foreach { w =>
      assert(w.child.exists(_.isInstanceOf[Aggregate]),
        "an unpartitioned Window reads the raw corpus — the offset scan is not distributed")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty))
  }

  test("q79 probes a bloom filter before the exact gram join, and the bloom prunes") {
    val p = plan("q79_bloom_decontaminate")
    // the probe must survive optimization as a Filter on the train side
    // feeding the broadcast join (not be constant-folded away)
    assert(p.contains("Filter might_contain"), s"bloom pre-filter optimized away:\n$p")
    assert(p.contains("BroadcastHashJoin"), "exact verify join lost its broadcast")
    // and it must actually shrink the exact join's input: candidates that
    // pass the bloom vs all train grams (views registered by the query run)
    val bloom = "(SELECT graft_bloom_agg(xxhash64(g), 100000L, 800000L) FROM q79_bench)"
    val nTrain = spark.sql("SELECT COUNT(*) AS n FROM q79_train").head().getLong(0)
    val nCand = spark.sql(
      s"SELECT COUNT(*) AS n FROM q79_train WHERE graft_might_contain($bloom, xxhash64(g))"
    ).head().getLong(0)
    val nExact = spark.sql(
      "SELECT COUNT(*) AS n FROM q79_train t JOIN (SELECT DISTINCT g FROM q79_bench) b ON t.g = b.g"
    ).head().getLong(0)
    assert(nExact <= nCand, "bloom dropped a true match (false negative — impossible by contract)")
    assert(nCand < nTrain, s"bloom did not prune: $nCand of $nTrain train grams pass")
  }

  test("q81 budget pack runs one lang-partitioned window — no global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("q81_budget_pack")(spark, sf001)
      .queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"an unpartitioned window would serialize the corpus through one task: $windows")
  }

  test("q82 interval join is a bucketed hash join, not a nested loop") {
    val p = plan("q82_interval_bucket_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"inequality join fell back to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no equi-join on (user_id, bucket) in the plan")
  }

  test("q85 funnel is ONE type-pruned scan + stacked user-partitioned windows") {
    val p = plan("q85_funnel")
    assert(p.contains("In(event_type") || p.contains("in(event_type"),
      s"funnel-type filter not pushed to parquet:\n${p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
    // an executed AQE plan prints "== Initial Plan ==" after the final
    // plan — count scans in the FINAL section only
    val finalPlan = p.split("== Initial Plan ==")(0)
    assert("FileScan|Scan parquet".r.findAllIn(finalPlan).size == 1,
      "the funnel must read events exactly once (the join-chain form scanned it 11 times)")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("q85_funnel")(spark, sf001).queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.size == 3 && windows.forall(_.partitionSpec.nonEmpty),
      s"expected 3 user-partitioned stage windows: $windows")
  }

  test("q86 gap-fill windows are all user-partitioned — no global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("q86_gap_fill")(spark, sf001)
      .queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.size >= 2 && windows.forall(_.partitionSpec.nonEmpty),
      s"gap-fill must window per user (latest-obs + forward-fill), got: $windows")
  }

  test("whole-stage codegen covers the hot relational paths") {
    // codegen'd operators render with a "*(n) " stage prefix
    assert(plan("q04_agg_pricing").contains("*(1)"))
    assert(plan("q09_join_inner").contains("*(1)"))
  }
}
