package perfbench

/** The benchmark's arithmetic: percentiles and the open-loop schedule. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in (0, 100]): the smallest value
    * with at least p% of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} values")
    val sorted = xs.toArray.sorted
    sorted(math.ceil(p / 100.0 * sorted.length).toInt.max(1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** One micro-batch of an open-loop phase, times in epoch milliseconds. */
  final case class Batch(startMs: Double, deliveredMs: Double, admitted: Long)

  /** Per-batch figures of an open-loop phase whose first measured batch is
    * due at `anchorMs`, and every later one `intervalMs` after the one
    * before. A batch that starts late therefore charges its delay to its
    * own events and to every later slot it pushes back. Returns (delay,
    * lateness, lag) per batch: delivery minus the slot's due time, trigger
    * start minus the due time, and events due by the trigger minus events
    * admitted up to and including it. */
  def openLoop(batches: Seq[Batch], anchorMs: Double, intervalMs: Long, rowsPerBatch: Long)
      : Seq[(Double, Double, Long)] = {
    require(batches.nonEmpty)
    var admitted = 0L
    batches.zipWithIndex.map { case (b, i) =>
      val due = anchorMs + i.toDouble * intervalMs
      admitted += b.admitted
      val dueEvents = (math.floor((b.startMs - anchorMs) / intervalMs).toLong + 1L).max(0L) * rowsPerBatch
      (b.deliveredMs - due, b.startMs - due, dueEvents - admitted)
    }
  }

  /** Latency of every event of a batch delivered `delayMs` after its slot
    * was due. The slot's `n` events are created evenly over the interval
    * before it is due, the last one at the due time, so each event also
    * waits for the rest of its slot to fill. */
  def eventLatencies(delayMs: Double, n: Long, intervalMs: Long): Iterator[Double] =
    Iterator.range(0, n.toInt).map(j => delayMs + intervalMs * (1.0 - (j + 1).toDouble / n))
}
