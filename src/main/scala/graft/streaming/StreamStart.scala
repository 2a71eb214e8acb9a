package graft.streaming

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
}
