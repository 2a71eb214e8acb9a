package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with nanosecond resolution. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
}

/** In-memory span recorder, written out once when the run ends. A span
  * names a layer boundary; `key` is the micro-batch id or query name. With
  * tracing off every call is a pass-through and nothing is kept. */
final class Tracer(val enabled: Boolean, workload: String) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)

  def record(name: String, startMs: Double, endMs: Double, parent: Int = 0,
      key: String = ""): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      spans.synchronized(spans += Span(id, name, startMs, endMs, parent, key))
      id
    }

  /** Times `f` as a span; `f` receives the span's id for its children. */
  def span[A](name: String, parent: Int = 0, key: String = "")(f: Int => A): A =
    if (!enabled) f(0)
    else {
      val id = ids.incrementAndGet()
      val start = Clock.nowMs
      try f(id)
      finally spans.synchronized(spans += Span(id, name, start, Clock.nowMs, parent, key))
    }

  def size: Int = spans.synchronized(spans.size)

  def write(path: java.nio.file.Path, counts: Map[String, Double]): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.synchronized(spans.sortBy(_.id).toVector).foreach { s =>
      sb ++= f"""{"span":${s.id},"name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"parent":${s.parent},"workload":${Json.str(workload)},"key":${Json.str(s.key)}}""" += '\n'
    }
    sb ++= s"""{"counts":${Json.obj(counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })}}""" += '\n'
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
      parent: Int, key: String)
}

/** Spark job, stage and task counts, bucketed by the `perfbench.phase`
  * local property of the submitting thread, or by [[phase]] for jobs the
  * streaming engine submits. Each job also becomes a span whose parent is
  * the `perfbench.span` local property. */
final class JobListener(tracer: Tracer) extends SparkListener {
  final class Counts {
    var jobs, stages, smallJobs = 0L
    var taskRunMs, shuffleWriteBytes = 0L
  }
  @volatile var phase: String = "setup"
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (Double, String, Int, String)]()

  def of(bucket: String): Counts = counts.computeIfAbsent(bucket, _ => new Counts)

  private def prop(js: SparkListenerJobStart, k: String): Option[String] =
    Option(js.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val bucket = prop(js, "perfbench.phase").getOrElse(phase)
    val parent = prop(js, "perfbench.span").map(_.toInt).getOrElse(0)
    val key = prop(js, "perfbench.key").orElse(prop(js, "streaming.sql.batchId")).getOrElse("")
    js.stageInfos.foreach(s => stageBucket.put(s.stageId, bucket))
    val c = of(bucket)
    c.synchronized { c.jobs += 1; c.stages += js.stageInfos.size }
    jobInfo.put(js.jobId, (Clock.nowMs, bucket, parent, key))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(je.jobId)).foreach { case (start, bucket, parent, key) =>
      val end = Clock.nowMs
      if (end - start < 100.0) { val c = of(bucket); c.synchronized(c.smallJobs += 1) }
      tracer.record("spark.job", start, end, parent, key)
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Option(te.taskMetrics).foreach { m =>
    val c = of(Option(stageBucket.get(te.stageId)).getOrElse(phase))
    c.synchronized {
      c.taskRunMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** Collects every micro-batch progress report, and turns each into a
  * `stream.batch` span with its engine phases laid out in execution order
  * (offset log write, source, planning, sink, commit). */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  /** Span that new batch spans hang under. */
  @volatile var parent = 0
  private val seen = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]()

  def progress(runId: java.util.UUID): Vector[StreamingQueryProgress] =
    Option(seen.get(runId)).map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val buf = seen.computeIfAbsent(p.runId, _ => mutable.ArrayBuffer.empty)
    buf.synchronized(buf += p)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val id = tracer.record("stream.batch", start, start + d.getOrElse("triggerExecution", 0L),
      parent, p.batchId.toString)
    var t = start
    for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets");
         ms <- d.get(k)) {
      tracer.record(s"stream.$k", t, t + ms, id, p.batchId.toString)
      t += ms
    }
  }
}

/** Minimal JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
