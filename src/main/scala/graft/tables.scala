package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType}

/** Table loaders over the driver-generated parquet star schema
  * (FIXTURES.md; schemas verified against /root/testdata at build time).
  *
  * Reference provenance: the reference checkout is empty (SURVEY.md §0), so
  * reference citations are N/A throughout; the capability surface this
  * library implements is the reconstructed Flink broadcast-state tutorial
  * surface documented in SURVEY.md §1.1/§2.1 plus the LLM-pipeline
  * extensions mandated by the task brief.
  *
  * Scale posture: every loader is a plain parquet scan — at cluster scale
  * these become partitioned-directory scans and all pushdown/pruning flows
  * through the same code path.
  */
object Tables {
  /** Load `<sfDir>/<name>.parquet` with its schema passed to the reader, so
    * the load runs no Spark job; a schema-less `spark.read.parquet` infers
    * it from the footer in a job (`mergeSchemasInParallel`) on EVERY call.
    * The schema is inferred once per process and key (`footerSchema`):
    *   - qualified path: the file;
    *   - length and modification time: a rewrite of that path re-infers;
    *   - the session's explicitly set confs whose key contains `parquet`
    *     (`legacy.parquet.nanosAsLong`, `parquet.inferTimestampNTZ.enabled`,
    *     ...) plus `spark.sql.caseSensitive`: they change what Spark infers
    *     from the same footer.
    * Only the schema is shared: each call is a fresh relation, so self-joins
    * still get fresh attribute ids. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  private val footerSchemas =
    new ConcurrentHashMap[(String, Long, Long, Seq[(String, String)]), StructType]()

  /** Spark's inferred schema of the parquet file `path`, memoized under
    * `t`'s key. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.contains("parquet") || k == "spark.sql.caseSensitive" }
      .sorted
    val key = (st.getPath.toString, st.getLen, st.getModificationTime, confs)
    footerSchemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts has shipped under multiple parquet encodings across testdata
    * regenerations (TIMESTAMP(NANOS) through round 7, TIMESTAMP_MICROS NTZ
    * since the 2026-08-13 regen), so the loader adapts to whatever the scan
    * reports rather than hardcoding one vintage:
    *   - LongType        → legacy nanosAsLong mode is on; floor-divide to
    *                       micros (exactly DuckDB's nanos→micros conversion).
    *   - TimestampNTZType → cast to TimestampType; the session timezone is
    *                       pinned to UTC everywhere (GraftSession, SharedSpark),
    *                       so the cast is a pure micros-preserving relabel.
    *   - TimestampType   → as-is.
    * Downstream code always sees `ts: TimestampType` with identical micros
    * to DuckDB's read of the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, d, "events"))
  }

  /** Normalize any raw events frame (batch or stream, any data vintage) to
    * `ts: TimestampType` carrying the same micros DuckDB reads. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      // Fail LOUDLY on the next encoding drift: a silent pass-through here
      // would surface as confusing downstream errors in a driver-run
      // Verify/Bench (only the test preflight names the vintage otherwise).
      case other => throw new IllegalStateException(
        s"events.ts arrived as unrecognized type $other — a testdata regen " +
          "changed the parquet encoding again; teach Tables.normalizeTs " +
          "the new vintage (see SchemaPreflightSpec)")
    }
  }

  /** The raw (pre-normalizeTs) events schema as Spark's reader reports it,
    * probed from the footer through `t`'s memo — readStream needs an
    * explicit schema, and the driver has regenerated testdata with different
    * ts encodings between rounds, so streaming readers must probe rather
    * than hardcode. */
  def eventsRawSchema(s: SparkSession, eventsParquet: String): StructType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    footerSchema(s, eventsParquet)
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Inline rules fixture R (FIXTURES.md) — the broadcast "control stream".
    * Must stay byte-identical to the VALUES CTE used in every oracle.
    */
  def rules(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("purchase", 150.0, "HIGH"),
      ("error", 100.0, "CRIT"),
      ("signup", 120.0, "MED"),
      ("click", 180.0, "LOW"),
      ("view", 160.0, "LOW")
    ).toDF("event_type", "threshold", "severity")
  }

  /** The rules CTE for DuckDB oracles — byte-identical fixture. */
  val rulesCte: String =
    "WITH rules(event_type, threshold, severity) AS (VALUES " +
      "('purchase',150.0,'HIGH'),('error',100.0,'CRIT')," +
      "('signup',120.0,'MED'),('click',180.0,'LOW'),('view',160.0,'LOW'))"
}

/** Determinism helpers — SURVEY.md §2.4, sharpened by empirical probes of
  * DuckDB 1.0.0 on this machine.
  *
  * Facts the recipes rely on (verified):
  *  - All money/value DOUBLE columns in the testdata carry exactly 2 decimal
  *    digits, so CAST(x AS DECIMAL(18,4)) is tie-free and bit-identical in
  *    Spark (exact-binary-expansion HALF_UP) and DuckDB (shortest-repr
  *    rounding) — the two methods only disagree within ~half-ulp of a
  *    rounding boundary, which 2-decimal data never approaches at scale 4.
  *  - DECIMAL summation is exact ⇒ order-independent ⇒ safe under partial
  *    aggregation / shuffles on both engines.
  *  - decimal→double casts and double arithmetic (+,-,*,/,sqrt) are
  *    correctly-rounded IEEE in both engines ⇒ bit-identical given
  *    identical inputs. Therefore: NEVER round after a double division —
  *    emit the raw quotient instead (rounding a quotient like k/10^4/2
  *    lands exactly on a .xxxx5 tie where the engines' rounding methods
  *    disagree; the raw double is always identical).
  *  - DuckDB's list_aggregate(l,'sum') is a sequential left fold, matching
  *    Spark's `aggregate` higher-order function bit-for-bit on doubles.
  */
object Det {
  val D: DecimalType = DecimalType(18, 4)

  /** CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), 4) AS DOUBLE) —
    * round on a scale-4 decimal is an identity; kept for symmetry with the
    * oracle spelling. */
  def dsum(c: Column): Column = round(sum(c.cast(D)), 4).cast(DoubleType)

  /** Order-independent AVG: exact decimal sum → double (correctly-rounded
    * cast) → raw IEEE division by the count. No final rounding (see above).
    */
  def davg(c: Column): Column =
    sum(c.cast(D)).cast(DoubleType) / count(lit(1))

  /** DuckDB SQL spellings of the same recipes. */
  def sqlDsum(x: String): String =
    s"CAST(ROUND(SUM(CAST($x AS DECIMAL(18,4))), 4) AS DOUBLE)"
  def sqlDavg(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)"

}

/** One declared query: the Spark implementation plus its DuckDB oracle. */
final case class QDef(run: (SparkSession, String) => DataFrame, oracle: String)
