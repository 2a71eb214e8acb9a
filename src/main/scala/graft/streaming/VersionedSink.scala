package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The exactly-once commit protocol shared by the `foreachBatch` demos
  * (s14–s38): a replayable source plus an idempotent, versioned sink.
  *
  * Batch N writes its output under `<dir>/<prefix>N` (`v=N` for the
  * snapshot demos, `b=N` for the ingest demos). The rule:
  *   - READ strictly below: batch N reads only committed ids `< N`, never
  *     its own id — on restart the engine replays the last unacknowledged
  *     batch while its (possibly half-written) output is already on disk.
  *   - OVERWRITE its own: batch N is a pure function of (committed ids
  *     `< N`, batch rows), so the replay rewrites `<prefix>N` with
  *     identical content; the directory overwrite is the commit.
  *   - PRUNE behind (snapshot demos only): after committing N, ids older
  *     than N-1 may be deleted. A replay of N reads N-1, and the engine
  *     never replays a batch before the last unacknowledged one, so two
  *     ids on disk suffice instead of O(batches). Demos whose readers need
  *     every committed partition (s34–s37) do not prune.
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

  /** The committed ids under `dir` strictly below `batchId`, ascending;
    * empty when `dir` does not exist yet. */
  def committed(spark: SparkSession, dir: String, prefix: String, batchId: Long): Seq[Long] =
    listed(spark, dir, prefix)._2.map(_._1).filter(_ < batchId).sorted

  /** Delete the committed ids under `dir` older than `batchId - 1`. */
  def pruneVersions(spark: SparkSession, dir: String, prefix: String, batchId: Long): Unit = {
    val (fs, ids) = listed(spark, dir, prefix)
    ids.filter(_._1 < batchId - 1).foreach { case (_, p) => fs.delete(p, true) }
  }

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
