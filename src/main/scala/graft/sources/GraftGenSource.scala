package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns
}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl
}
import org.apache.spark.sql.sources.{
  Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual
}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic synthetic-documents-metadata generator as a full
  * DataSource V2 — the custom-SOURCE rung of the extension ladder (the
  * others: custom Expression, optimizer Rule, planner Strategy, physical
  * operator, SQL TVF — see GraftExtensions). Registered as format
  * `graft-gen` via DataSourceRegister (META-INF/services), options
  * `rows` and `partitions`.
  *
  * Row `id` ∈ [0, rows) maps to columns by pure integer arithmetic
  * ([[GraftGen.expected]]), so the source is REPLAYABLE BY THE ORACLE:
  * q84's DuckDB side regenerates identical rows with `generate_series` —
  * the whole source sits under the driver's hash gate, not just a spec.
  *
  * Scale surface implemented (what a real table source needs at 100 TB):
  *  - split into `partitions` independent range partitions (parallel read);
  *  - `SupportsPushDownRequiredColumns`: the reader materializes ONLY the
  *    pruned schema (a real source would skip column chunks);
  *  - `SupportsPushDownFilters`: range predicates on `id` narrow [lo, hi)
  *    and WHOLE partitions outside the range are never planned —
  *    partition pruning driven by pushed filters. All filters are also
  *    returned as residuals, so Spark re-evaluates them above the scan:
  *    pushdown is a pruning hint, never a correctness dependency
  *    (GenSourceSpec locks both the pruning and the residual behavior).
  */
class GraftGenSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-gen"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GraftGen.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GenTable(
      properties.asScala.getOrElse("rows", "1000").toLong,
      properties.asScala.getOrElse("partitions", "4").toInt,
      properties.asScala.getOrElse("rowsPerBatch", "100").toLong)
}

object GraftGen {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("n_toks", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  val langs: Array[String] = Array("en", "de", "fr", "es", "zh")

  type Row = (Long, String, Long, Double)

  /** The generator contract, shared with the oracle: q84's DuckDB SQL
    * computes exactly these expressions over generate_series. `score` is
    * a raw int/int IEEE quotient (identical in both engines). */
  def expected(id: Long): Row =
    (id, langs((id % 5).toInt), 20L + (id * 37L) % 300L, (id % 97L) / 97.0)
}

private[sources] class GenTable(rows: Long, partitions: Int, rowsPerBatch: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_gen($rows)"
  override def schema(): StructType = GraftGen.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GenScanBuilder(rows, partitions, rowsPerBatch)
}

private[sources] class GenScanBuilder(rows: Long, partitions: Int, rowsPerBatch: Long)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = GraftGen.schema
  private var lo: Long = 0L
  private var hi: Long = rows // exclusive
  private var accepted: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.collect {
      case f @ GreaterThanOrEqual("id", v: Long) => lo = math.max(lo, v); f
      case f @ GreaterThan("id", v: Long) => lo = math.max(lo, v + 1); f
      case f @ LessThan("id", v: Long) => hi = math.min(hi, v); f
      case f @ LessThanOrEqual("id", v: Long) => hi = math.min(hi, v + 1); f
    }
    filters // everything is residual: the range is pruning, not filtering
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    this.requiredSchema = requiredSchema

  override def build(): Scan =
    new GenScan(rows, partitions, lo, hi, requiredSchema, rowsPerBatch)
}

private[sources] case class GenRangePartition(start: Long, end: Long) extends InputPartition

private[sources] class GenScan(
    rows: Long, partitions: Int, lo: Long, hi: Long, required: StructType,
    rowsPerBatch: Long)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GenMicroBatchStream(rows, partitions, lo, hi, required, rowsPerBatch)
  override def description(): String =
    s"graft-gen rows=$rows pruned=[$lo,${math.max(lo, hi)}) cols=${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    // fixed row-range partitioning of [0, rows), then drop every partition
    // that cannot intersect the pushed [lo, hi) — filter-driven partition
    // pruning, the moral equivalent of parquet row-group skipping
    val per = math.max(1L, (rows + partitions - 1) / partitions)
    (0L until rows by per)
      .map(s => GenRangePartition(math.max(s, lo), math.min(s + per, math.min(rows, hi))))
      .filter(p => p.start < p.end)
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = new GenReaderFactory(required)
}

/** Stream position: the next id to serve. JSON form is the bare long. */
private[sources] case class GenOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

/** The generator as a MICRO-BATCH STREAM — the streaming-read rung of the
  * source ladder. Offsets are positions in the deterministic id sequence,
  * so any [start, end) range replays to bit-identical rows: restart from a
  * checkpoint re-plans the exact same batch (exactly-once with an
  * idempotent sink), which is the whole DSv2 streaming-source contract.
  * Each batch admits at most `rowsPerBatch` new ids (admission control),
  * and every batch range splits into `partitions` parallel readers — the
  * same [[GenReaderFactory]] the batch side uses.
  *
  * Restart correctness: the stream keeps NO cursor. Through
  * `SupportsAdmissionControl` the engine passes every `latestOffset` the
  * start it read from its own offset log (or `initialOffset` on a fresh
  * checkpoint), so admission is a pure function of that start; a restart
  * replays the last logged batch and then continues from its end.
  * GenSourceSpec locks restart-no-duplicates through a checkpointed sink
  * and a crash-replayed batch.
  */
private[sources] class GenMicroBatchStream(
    rows: Long, partitions: Int, lo: Long, hi: Long, required: StructType,
    rowsPerBatch: Long)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val end = math.max(lo, math.min(rows, hi))

  override def initialOffset(): Offset = GenOffset(lo)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is the admission path")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    GenOffset(math.min(end, start.asInstanceOf[GenOffset].pos + math.max(1L, rowsPerBatch)))

  override def deserializeOffset(json: String): Offset = GenOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, stop: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GenOffset].pos
    val e = stop.asInstanceOf[GenOffset].pos
    val per = math.max(1L, (e - s + partitions - 1) / partitions)
    (s until e by per)
      .map(p => GenRangePartition(p, math.min(p + per, e)))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = new GenReaderFactory(required)

  override def commit(offset: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[sources] class GenReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GenRangePartition]
    new PartitionReader[InternalRow] {
      // resolve the pruned projection ONCE per partition, not per row
      private val fields: Array[GraftGen.Row => Any] = required.fieldNames.map {
        case "id" => (e: GraftGen.Row) => e._1
        case "lang" => (e: GraftGen.Row) => UTF8String.fromString(e._2)
        case "n_toks" => (e: GraftGen.Row) => e._3
        case "score" => (e: GraftGen.Row) => e._4
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
      private var id = p.start - 1
      override def next(): Boolean = { id += 1; id < p.end }
      override def get(): InternalRow = {
        val e = GraftGen.expected(id) // once per row, shared by every column
        val values = new Array[Any](fields.length)
        var i = 0
        while (i < values.length) { values(i) = fields(i)(e); i += 1 }
        new GenericInternalRow(values)
      }
      override def close(): Unit = ()
    }
  }
}
