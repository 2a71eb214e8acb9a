package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LocalCheckpointFileManager, StreamStart}

/** The fork-free checkpoint manager behind `StreamStart`
  * (streaming/LocalCheckpointFileManager): its file-level contract, a crash
  * between a log file's temp write and its rename, and checkpoints that move
  * between it and Spark's stock manager. Each test runs in its own session,
  * so the stock runs see no manager conf at all.
  */
class CheckpointLogSpec extends AnyFunSuite {
  import SharedSpark.spark

  /** Runs `body` on a fresh temp directory and deletes it afterwards. */
  private def withTmp(prefix: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally FileUtils.deleteQuietly(dir.toFile)
  }

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  private def batchFiles(dir: String): Set[Long] =
    names(dir).filter(_.forall(_.isDigit)).map(_.toLong)

  private def nio(s: SparkSession, dir: String): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir), s.sessionState.newHadoopConf())

  /** A graft-gen stream of `rows` ids in 250-row batches into a sink that
    * records every delivery by batch id; started through `StreamStart` or,
    * with `stock`, directly (Spark's default manager). */
  private final class GenRun(s: SparkSession, ckpt: String) {
    val delivered = mutable.Buffer[(Long, Seq[(Long, String, Long, Double)])]()

    def apply(rows: Long, stock: Boolean = false): Unit = {
      val df = s.readStream.format("graft-gen")
        .option("rows", rows.toString).option("partitions", "4").option("rowsPerBatch", "250")
        .load()
      def sink(w: DataStreamWriter[org.apache.spark.sql.Row]) = w
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val got = b.collect().toSeq
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
          delivered.synchronized { delivered += ((id, got)) }
          ()
        }
      val q = if (stock) sink(df.writeStream).start() else StreamStart(df)(sink)
      try q.processAllAvailable() finally StreamStart.stop(q)
    }

    def times(batch: Long): Int = delivered.count(_._1 == batch)

    /** Exactly once: the last delivery per batch id (an idempotent sink)
      * holds every id below `rows` once, with the generator's content. */
    def assertExactlyOnce(rows: Long): Unit = {
      val rowsOut = delivered.groupBy(_._1).values.map(_.last._2).toSeq.flatten
      assert(rowsOut.map(_._1).sorted == (0L until rows), "lost or duplicated ids")
      assert(rowsOut.toSet == (0L until rows).map(sources.GraftGen.expected).toSet)
    }
  }

  test("nio manager: atomic placement, no-overwrite conflict, cancel, stale .crc dropped") {
    withTmp("nio_fm") { dir =>
      val s = spark.newSession()
      val fm = nio(s, dir)
      def put(name: String, body: String, overwrite: Boolean): Unit = {
        val out = fm.createAtomic(new Path(dir, name), overwrite)
        out.write(body.getBytes(StandardCharsets.UTF_8)); out.close()
      }
      def get(name: String): String = {
        val in = fm.open(new Path(dir, name))
        try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      }
      put("0", "a", overwrite = false)
      assert(get("0") == "a" && names(dir) == Set("0"), names(dir))
      // no overwrite: Hadoop's exception (the logs' concurrent-writer signal),
      // the old content stays and the temp file is gone
      intercept[FileAlreadyExistsException](put("0", "b", overwrite = false))
      assert(get("0") == "a" && names(dir) == Set("0"), names(dir))
      put("0", "bb", overwrite = true)
      assert(get("0") == "bb")
      val cancelled = fm.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
      cancelled.write(1); cancelled.cancel()
      assert(names(dir) == Set("0"), names(dir))

      // a file first written by Hadoop's checksummed local FS, then replaced
      // here: the stock manager must read the new bytes, not fail on the old .crc
      val stock = CheckpointFileManager.create(new Path(dir), s.sessionState.newHadoopConf())
      val w = stock.createAtomic(new Path(dir, "2"), overwriteIfPossible = false)
      w.write("old".getBytes(StandardCharsets.UTF_8)); w.close()
      assert(names(dir).contains(".2.crc"), names(dir))
      put("2", "replaced", overwrite = true)
      assert(!names(dir).contains(".2.crc"), names(dir))
      val in = stock.open(new Path(dir, "2"))
      try assert(new String(in.readAllBytes(), StandardCharsets.UTF_8) == "replaced") finally in.close()
      assert(fm.list(new Path(dir)).map(_.getPath.getName).toSet == Set("0", "2"))
      fm.delete(new Path(dir, "2"))
      assert(names(dir) == Set("0"), names(dir))
    }
  }

  test("crash between a log file's temp write and its rename restarts exactly-once") {
    withTmp("nio_crash") { ckpt =>
      val s = spark.newSession()
      val run = new GenRun(s, ckpt)
      /** A crash inside `createAtomic`: the temp file holds a partial entry,
        * the rename to `<log>/<batch>` never happens. */
      def crashWriting(log: String, batch: Long): Unit = {
        val out = nio(s, s"$ckpt/$log").createAtomic(new Path(s"$ckpt/$log", batch.toString), false)
        out.write("v1\n{\"batchWa".getBytes(StandardCharsets.UTF_8))
        out.getWrappedStream.close()
      }
      run(750) // batches 0-2
      crashWriting("offsets", 3) // batch 3's WAL entry never landed
      run(1000) // batch 3 = [750, 1000), planned afresh
      assert(run.times(3) == 1, run.delivered.map(_._1))
      Files.delete(Paths.get(s"$ckpt/commits/3"))
      crashWriting("commits", 3) // batch 3 ran, its commit never landed
      run(1200) // replays batch 3 from its WAL entry, then batch 4
      assert(run.delivered.map(_._1) == Seq(0L, 1L, 2L, 3L, 3L, 4L), run.delivered.map(_._1))
      val replays = run.delivered.filter(_._1 == 3L).map(_._2)
      assert(replays.head == replays.last, "a replayed batch must re-admit its logged range")
      run.assertExactlyOnce(1200)
      // the orphans are still on disk, and never parsed as batches
      for (log <- Seq("offsets", "commits")) {
        assert(names(s"$ckpt/$log").exists(_.endsWith(".tmp")), names(s"$ckpt/$log"))
        assert(batchFiles(s"$ckpt/$log") == (0L to 4L).toSet, names(s"$ckpt/$log"))
      }
    }
  }

  test("a checkpoint moves between the stock manager and the nio one, both ways, exactly-once") {
    withTmp("nio_compat") { ckpt =>
      val s = spark.newSession()
      val run = new GenRun(s, ckpt)
      run(750, stock = true) // batches 0-2, each log file with a .crc sibling
      assert(names(s"$ckpt/offsets").contains(".0.crc") && names(s"$ckpt/commits").contains(".0.crc"))
      // each restart first replays a batch whose commit was lost, so the new
      // manager rewrites a file the other one wrote (here leaving its .crc)
      Files.delete(Paths.get(s"$ckpt/commits/2"))
      run(1000) // nio: replays batch 2, then batch 3
      assert(!names(s"$ckpt/commits").contains(".2.crc") &&
        !names(s"$ckpt/offsets").contains(".3.crc"), names(s"$ckpt/commits"))
      Files.delete(Paths.get(s"$ckpt/commits/3"))
      run(1200, stock = true) // stock: replays batch 3, then batch 4
      assert(run.delivered.map(_._1) == Seq(0L, 1L, 2L, 2L, 3L, 3L, 4L), run.delivered.map(_._1))
      run.assertExactlyOnce(1200)
    }
  }

  test("a stateful stream through StreamStart writes state-store deltas with no Hadoop .crc, no temp files") {
    withTmp("nio_state") { ckpt =>
      val s = spark.newSession()
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val input = MemoryStream[streaming.Event]
      val q = StreamStart(streaming.Demos.s3Dedup(input.toDF()))(_.outputMode("append")
        .format("memory").queryName("nio_state").option("checkpointLocation", ckpt))
      try for (i <- 0 until 3) {
        input.addData(streaming.Event(i, new java.sql.Timestamp(i * 60000L), i % 2, "click", 1.0, "{}"))
        q.processAllAvailable()
      } finally StreamStart.stop(q)
      val versions = (1L to q.lastProgress.batchId + 1).toSet
      val state = s"$ckpt/state/0"
      val partitions = names(state).filter(_.forall(_.isDigit))
      assert(partitions == (0 until s.conf.get("spark.sql.shuffle.partitions").toInt).map(_.toString).toSet,
        names(state))
      for (p <- partitions) {
        val deltas = names(s"$state/$p").filter(_.matches("\\d+\\.delta"))
        assert(deltas.map(_.stripSuffix(".delta").toLong) == versions, s"partition $p: ${names(s"$state/$p")}")
      }
      // Spark 4.1 writes its own `N.delta.crc` state checksums; Hadoop's
      // `.N.delta.crc` and the manager's `.N.delta.<uuid>.tmp` start with a dot
      val walk = Files.walk(Paths.get(state))
      val hidden = try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".") || n.endsWith(".tmp")).toList
      finally walk.close()
      assert(hidden.isEmpty, s"state store files: $hidden")
    }
  }
}
