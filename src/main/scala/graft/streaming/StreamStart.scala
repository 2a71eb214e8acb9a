package graft.streaming

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one way a program stream starts: `StreamStart(ds)(_.format(…)…)`
  * configures `ds.writeStream` and starts it with the query's offset and
  * commit logs written by [[LocalCheckpointFileManager]].
  *
  * Why: on a host without the native Hadoop library every write-and-rename
  * of Hadoop's local filesystem forks shell processes (`chmod` per created
  * file, `readlink` per rename). Spark's default checkpoint manager wrote
  * each `offsets/N` and `commits/N` that way: 20 forks per s1 micro-batch,
  * about 60 ms of every batch's `walCommit` + `commitOffsets` on a 4-cpu VM.
  *
  * How: the manager class is a session conf read when the query builds its
  * logs. `start()` clones the session for the stream, and the logs are built
  * from that clone, so the conf is set only around `start()` and then put
  * back (the prior value, or unset) — the caller's session is left as it
  * was. One lock serialises the set-and-restore across threads.
  * ContractSpec keeps every `writeStream` start in `src/main` on this path.
  *
  * [[StreamStart.stop]] is the matching stop: `StreamingQuery.stop()`
  * returns while the query's cancelled tasks still run, and a file sink's
  * write tasks can then re-create output the caller has already removed.
  */
object StreamStart {

  private[streaming] val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  def apply[T](ds: Dataset[T])(
      configure: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val writer = configure(ds.writeStream)
    val conf = ds.sparkSession.conf
    synchronized {
      val prior = conf.getOption(ManagerKey)
      conf.set(ManagerKey, classOf[LocalCheckpointFileManager].getName)
      try writer.start()
      finally prior.fold(conf.unset(ManagerKey))(conf.set(ManagerKey, _))
    }
  }

  /** Stops `q`, then waits until no task of its jobs still runs. The
    * engine runs every job of a query in the job group named by its
    * `runId`. The status tracker hears of jobs through the listener bus,
    * so "nothing running" must read the same twice, 20 ms apart. */
  def stop(q: StreamingQuery): Unit = {
    q.stop()
    val tracker = q.sparkSession.sparkContext.statusTracker
    def running: Boolean = tracker.getJobIdsForGroup(q.runId.toString).exists { id =>
      tracker.getJobInfo(id).exists(j => j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => tracker.getStageInfo(s).exists(_.numActiveTasks > 0)))
    }
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var idle = 0
    while (idle < 2) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"tasks of stopped query ${q.runId} still run after 60 s")
      idle = if (running) 0 else idle + 1
      if (idle < 2) Thread.sleep(20)
    }
  }
}
