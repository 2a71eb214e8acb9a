package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The exactly-once commit protocol shared by the `foreachBatch` demos
  * (s14–s38): a replayable source plus an idempotent, versioned sink.
  * Batch N writes its output under id N: a snapshot step ([[snapshot]])
  * the version `<dir>/v=N/<table>`, an ingest step ([[log]]) the
  * partition `<dir>/<table>/b=N`. This object is the only code that knows
  * that layout. Each demo's step is a separate method so that a spec can
  * replay a batch with the same batchId and assert identical output.
  *
  * The filesystem is resolved from the path's OWN scheme, not the default
  * FS: with a local default and an s3a://…/hdfs://… dir, FileSystem.get
  * would list the wrong filesystem, the committed set would come back
  * empty, and a replayed batch would silently start from nothing.
  */
object VersionedSink {

  /** Run `step(batch, batchId)` per micro-batch, checkpointed at `dir/_ckpt`. */
  def start(df: DataFrame, dir: String)(step: (DataFrame, Long) => Unit): StreamingQuery =
    StreamStart(df)(_
      .foreachBatch((batch: Dataset[Row], batchId: Long) => step(batch.toDF(), batchId))
      .option("checkpointLocation", s"$dir/_ckpt"))

  /** One snapshot step's tables. A `table` names a directory inside the
    * version; `""` is the version directory itself. */
  final class Snapshot private[VersionedSink] (
      spark: SparkSession, dir: String, batchId: Long, last: Option[Long]) {

    /** `table` as of the newest committed version strictly below this
      * batch; `None` before the first version. */
    def prev(table: String): Option[DataFrame] =
      last.map(v => spark.read.parquet(under(versionDir(dir, v), table)))

    /** Overwrite `table` under this batch's version and return it read
      * back, with the written schema (no footer-inference job). */
    def write(table: String, df: DataFrame): DataFrame = {
      val p = under(versionDir(dir, batchId), table)
      df.write.mode("overwrite").parquet(p)
      spark.read.schema(df.schema).parquet(p)
    }
  }

  /** Run one snapshot step of batch `batchId` over `dir`. The rule:
    *   - READ strictly below: `prev` is the newest committed version
    *     `< batchId`, never this batch's own — on restart the engine
    *     replays the last unacknowledged batch while its (possibly
    *     half-written) output is already on disk.
    *   - OVERWRITE its own: the step is a pure function of (that version,
    *     batch rows), so a replay rewrites version `batchId` with
    *     identical content; the directory overwrite is the commit.
    *   - PRUNE behind: after the body, versions older than `batchId - 1`
    *     are deleted. A replay of N reads N-1, and the engine never
    *     replays a batch before the last unacknowledged one, so two
    *     versions on disk suffice instead of O(batches).
    */
  def snapshot(spark: SparkSession, dir: String, batchId: Long)(body: Snapshot => Unit): Unit = {
    body(new Snapshot(spark, dir, batchId, committed(spark, dir, Version, batchId).lastOption))
    val (fs, ids) = listed(spark, dir, Version)
    ids.filter(_._1 < batchId - 1).foreach { case (_, p) => fs.delete(p, true) }
  }

  /** One ingest step's append logs. A `table` names a log directory
    * under `dir`; `""` is `dir` itself. */
  final class Log private[VersionedSink] (spark: SparkSession, dir: String, batchId: Long) {

    /** Every committed partition of `table` strictly below this batch;
      * `None` before the first. */
    def committed(table: String): Option[DataFrame] = {
      val t = under(dir, table)
      val ids = VersionedSink.committed(spark, t, Batch, batchId)
      if (ids.isEmpty) None else Some(spark.read.parquet(ids.map(b => s"$t/$Batch$b"): _*))
    }

    /** Overwrite this batch's partition of `table`. */
    def write(table: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"${under(dir, table)}/$Batch$batchId")
  }

  /** The append logs of batch `batchId` under `dir`: the snapshot rule
    * without pruning. The step reads only partitions `< batchId` and
    * overwrites its own, so a replay rewrites identical content; readers
    * need every committed partition, so nothing is deleted. */
  def log(spark: SparkSession, dir: String, batchId: Long): Log = new Log(spark, dir, batchId)

  /** Every committed partition of log `table` under `dir`, as one table. */
  def logView(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(under(dir, table)).drop("b")

  /** The directory of snapshot `version` under `dir`. */
  def versionDir(dir: String, version: Long): String = s"$dir/$Version$version"

  /** The newest committed snapshot version under `dir`, read. */
  def latest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(versionDir(dir, committed(spark, dir, Version, Long.MaxValue).max))

  private val Version = "v="
  private val Batch = "b="

  private def under(dir: String, table: String): String =
    if (table.isEmpty) dir else s"$dir/$table"

  /** The committed ids under `dir` strictly below `batchId`, ascending;
    * empty when `dir` does not exist yet. */
  private def committed(spark: SparkSession, dir: String, prefix: String, batchId: Long): Seq[Long] =
    listed(spark, dir, prefix)._2.map(_._1).filter(_ < batchId).sorted

  private def listed(
      spark: SparkSession, dir: String, prefix: String): (FileSystem, Seq[(Long, Path)]) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val ids =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath).filter(_.getName.startsWith(prefix))
        .map(q => q.getName.stripPrefix(prefix).toLong -> q)
    (fs, ids)
  }
}
