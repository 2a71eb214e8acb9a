package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.streaming.{Alert, Rule}

/** Event mix of one stream workload: cumulative percent cut points over
  * `types`, the user-key count and the micro-batch schedule. */
final case class StreamSpec(
    types: Vector[(String, Int)], // (event_type, cumulative percent upper bound)
    users: Long,
    rowsPerBatch: Long,
    intervalMs: Long)

/** The benchmark's event generator: `graft-gen` ids mapped to events by
  * pure integer arithmetic on (id, seed). The same arithmetic exists twice,
  * as Spark columns (what the program reads) and as Scala (the oracle), so
  * every output is checkable in closed form and never depends on timing.
  *
  *  - h          = xxhash64(id, seed)
  *  - event_type = first type whose cut point exceeds pmod(h, 100)
  *  - value      = pmod(h >> 8, 20000) / 100.0, two decimals in [0, 200)
  *  - user_id    = pmod(id, users) * 7919 + pmod(seed, 1000): the previous
  *                 event of an event's user is always `id - users`
  *  - ts         = a fixed epoch + 10 µs per id, increasing with id
  */
object Gen {
  val baseMicros: Long = 1700000000000000L
  val microsPerId: Long = 10L

  def hash(id: Long, seed: Long): Long = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))

  def eventType(spec: StreamSpec, h: Long): String = {
    val p = Math.floorMod(h, 100L)
    spec.types.find(p < _._2).get._1
  }
  def value(h: Long): Double = Math.floorMod(h >> 8, 20000L).toDouble / 100.0
  def userId(spec: StreamSpec, id: Long, seed: Long): Long =
    Math.floorMod(id, spec.users) * 7919L + Math.floorMod(seed, 1000L)

  /** Spark-side twin of the functions above, over a frame with column `id`. */
  def events(spec: StreamSpec, ids: DataFrame, seed: Long): DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    val pct = pmod(h, lit(100L))
    val typeCol = spec.types.init.foldRight(lit(spec.types.last._1)) {
      case ((t, cut), rest) => when(pct < cut, lit(t)).otherwise(rest)
    }
    ids.select(
      col("id").as("event_id"),
      timestamp_micros(lit(baseMicros) + col("id") * microsPerId).as("ts"),
      (pmod(col("id"), lit(spec.users)) * 7919L + Math.floorMod(seed, 1000L)).as("user_id"),
      typeCol.as("event_type"),
      (pmod(shiftright(h, 8), lit(20000L)) / 100.0).as("value"),
      lit("").as("props"))
  }

  /** The generated events as an unbounded `graft-gen` micro-batch stream,
    * admitting `rowsPerBatch` ids per trigger over `cores` partitions. */
  def stream(spark: SparkSession, spec: StreamSpec, cores: Int, seed: Long): DataFrame =
    events(spec, spark.readStream.format("graft-gen")
      .option("rows", (1L << 50).toString)
      .option("partitions", cores.toString)
      .option("rowsPerBatch", spec.rowsPerBatch.toString)
      .load().select(col("id")), seed)

  // ---- s1 oracle -------------------------------------------------------

  /** Alerts s1 must deliver for ids [start, end) under `rules`, lowest
    * event_id first (the order s1 delivers them in). */
  def expectedAlerts(spec: StreamSpec, seed: Long, rules: Seq[Rule],
      start: Long, end: Long): Vector[Alert] = {
    val byType = rules.groupBy(_.event_type)
    val out = Vector.newBuilder[Alert]
    var id = start
    while (id < end) {
      val h = hash(id, seed)
      val t = eventType(spec, h)
      val v = value(h)
      for (rs <- byType.get(t); r <- rs if v >= r.threshold)
        out += Alert(id, userId(spec, id, seed), t, v, r.severity)
      id += 1
    }
    out.result().sortBy(_.event_id)
  }

  // ---- s4 oracle -------------------------------------------------------

  /** click→purchase matches s4 must emit for ids [start, end) of a stream
    * that began at id `origin`: a purchase matches when its user's previous
    * event (`id - users`, if it is in the stream) was a click. */
  def expectedMatches(spec: StreamSpec, seed: Long, origin: Long,
      start: Long, end: Long): Long = {
    var n = 0L
    var id = start
    while (id < end) {
      val prev = id - spec.users
      if (prev >= origin && eventType(spec, hash(id, seed)) == "purchase" &&
          eventType(spec, hash(prev, seed)) == "click") n += 1
      id += 1
    }
    n
  }

  /** Share of events that raise an alert under `rules` over a sample. */
  def selectivity(spec: StreamSpec, seed: Long, rules: Seq[Rule], n: Long): Double =
    expectedAlerts(spec, seed, rules, 0L, n).size.toDouble / n
}
