package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Testdata-schema preflight (round-7 VERDICT task 4): the driver has
  * regenerated /root/testdata between rounds with a changed parquet
  * encoding (events.ts TIMESTAMP(NANOS) → TIMESTAMP_MICROS NTZ), which
  * silently killed 47 queries. This suite pins the Spark-reported schema
  * of EVERY table column at every SF against a checked-in expectation, so
  * the next regeneration fails ONE named test that names the drifted
  * column instead of a large anonymous slice of the contract.
  *
  * events.ts is the one column allowed multiple vintages (the loader is
  * schema-adaptive, tables.scala); the preflight instead asserts the
  * POST-normalization invariant all 47 consumers rely on.
  */
class SchemaPreflightSpec extends AnyFunSuite with TempDirs {
  import SharedSpark.spark

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  // Spark-reported types (TIMESTAMP parquet columns surface as NTZ).
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  test("every non-events table column matches the checked-in schema at all SFs") {
    for (sf <- sfs; (table, cols) <- expected.toSeq.sortBy(_._1)) {
      val got = Tables.t(spark, sf, table).schema
        .map(f => f.name -> f.dataType)
      assert(got == cols, s"SCHEMA DRIFT in $sf/$table.parquet — " +
        s"expected $cols, scanned $got; update Tables loaders and this " +
        "preflight together")
    }
  }

  // Exact row counts per SF (2026-08-13 regen). A regen that changes
  // VOLUME without changing schema would otherwise pass every gate while
  // silently shifting every bench number off the historical envelope —
  // pin the counts so scale drift fails one named test too.
  private val expectedCounts: Map[String, Map[String, Long]] = Map(
    "/root/testdata/sf0.001" -> Map(
      "region" -> 5L, "nation" -> 25L, "customer" -> 150L, "supplier" -> 10L,
      "part" -> 200L, "orders" -> 1500L, "lineitem" -> 6000L,
      "events" -> 1000L, "documents" -> 500L, "embeddings" -> 500L),
    "/root/testdata/sf0.01" -> Map(
      "region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "supplier" -> 100L,
      "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L,
      "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L),
    "/root/testdata/sf0.1" -> Map(
      "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
      "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
      "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L))

  test("every table's row count matches the checked-in volume at all SFs") {
    for (sf <- sfs; (table, want) <- expectedCounts(sf).toSeq.sortBy(_._1)) {
      val got =
        if (table == "events") Tables.events(spark, sf).count()
        else Tables.t(spark, sf, table).count()
      assert(got == want, s"VOLUME DRIFT in $sf/$table.parquet — expected " +
        s"$want rows, scanned $got; the driver regenerated testdata at a " +
        "different scale: re-baseline bench expectations and update this " +
        "preflight in the same commit")
    }
  }

  test("events.ts is a known vintage raw and TimestampType after Tables.events") {
    val knownTs = Set[DataType](LongType, TimestampNTZType, TimestampType)
    for (sf <- sfs) {
      val raw = Tables.eventsRawSchema(spark, s"$sf/events.parquet")
      assert(raw.map(_.name) ==
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
        s"SCHEMA DRIFT in $sf/events.parquet columns: ${raw.map(_.name)}")
      assert(knownTs.contains(raw("ts").dataType),
        s"NEW events.ts vintage ${raw("ts").dataType} in $sf — teach " +
          "Tables.normalizeTs the new encoding")
      val nonTs = raw.filter(_.name != "ts").map(f => f.name -> f.dataType)
      assert(nonTs == Seq("event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType), s"SCHEMA DRIFT in $sf/events.parquet: $nonTs")
      val norm = Tables.events(spark, sf)
      assert(norm.schema("ts").dataType == TimestampType,
        s"Tables.events must always yield ts: TimestampType, got " +
          s"${norm.schema("ts").dataType} at $sf")
    }
  }

  test("a repeated Tables.t load runs no Spark job and keeps the inferred schema") {
    // Jobs are attributed by a thread-local tag, so suites sharing the
    // session cannot add to the count.
    val tagKey = "graft.preflight.load"
    val tagged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tagKey))).foreach(tagged.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for (sf <- sfs; table <- expected.keys.toSeq.sorted :+ "events") {
        if (table == "events") Tables.events(spark, sf) else Tables.t(spark, sf, table)
        val inferred = spark.read.parquet(s"$sf/$table.parquet").schema
        sc.setLocalProperty(tagKey, s"$sf/$table")
        val again = try Tables.t(spark, sf, table) finally sc.setLocalProperty(tagKey, null)
        assert(again.schema == inferred, s"$sf/$table: the repeated load's " +
          s"schema ${again.schema} differs from Spark's inference $inferred")
      }
      // Poll until the listener bus drains (PlanAudit.awaitStable's rule).
      def poll(): Int = { Thread.sleep(50); tagged.size }
      var (prev, cur, polls) = (-1, poll(), 1)
      while (cur != prev && polls < 100) { prev = cur; cur = poll(); polls += 1 }
      import scala.jdk.CollectionConverters._
      assert(tagged.size == 0, "repeated loads started Spark jobs (schema " +
        s"re-inferred from the footer): ${tagged.asScala.mkString(", ")}")
    } finally sc.removeSparkListener(listener)
  }

  test("the schema memo re-infers a rewritten file and a session's parquet confs") {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = tempDir("graft_preflight")
    // One parquet file (Spark writes a directory; keep its single part).
    def writeFile(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val out = dir.resolve(tag)
      df.coalesce(1).write.parquet(out.toString)
      val parts = Files.list(out)
      val part = try parts.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
        finally parts.close()
      Files.copy(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(spark.range(3).toDF("a"), "v1")
    assert(Tables.t(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    writeFile(spark.range(3).selectExpr("id AS a", "id * 2 AS b"), "v2")
    val rewritten = Tables.t(spark, dir.toString, "t")
    assert(rewritten.columns.toSeq == Seq("a", "b"),
      s"stale schema served after a rewrite: ${rewritten.schema}")
    assert(rewritten.agg(org.apache.spark.sql.functions.sum("b")).head().getLong(0) == 6L)

    def orderdate(s: org.apache.spark.sql.SparkSession): DataType =
      Tables.t(s, SharedSpark.sf001, "orders").schema("o_orderdate").dataType
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(orderdate(spark) == TimestampNTZType)
    assert(orderdate(legacy) == TimestampType,
      "a session with different parquet confs was served another session's schema")
    assert(orderdate(spark) == TimestampNTZType)
  }
}
