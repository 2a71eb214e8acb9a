package graft

import org.apache.spark.sql.SparkSession

/** Dev-only phase profiler for a single query: times plan CONSTRUCTION
  * (which executes any eager localCheckpoint jobs) separately from the
  * final count, per rep, and counts the Spark JOBS each phase submits
  * (at bench scale the fixed per-job overhead — broadcast builds,
  * checkpoint materializations — dominates several ladder queries, so
  * job count is the lever to watch).
  * Usage: runMain graft.DevProbe <sfDir> <reps> <q>
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val trace = sys.env.contains("GRAFT_JOB_TRACE")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(js.stageInfos.size)
        if (trace) {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          val callsite = js.stageInfos.lastOption.map(_.name).getOrElse("")
          jobStart.put(js.jobId, (System.nanoTime(), s"$desc | $callsite"))
        }
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (trace) Option(jobStart.remove(je.jobId)).foreach { case (t0, d) =>
          println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%6.3f s  ${d.take(140)}")
        }
    })
    def snap(): (Int, Int) = { Thread.sleep(50); (jobs.get, stages.get) }
    for (name <- names; r <- 1 to reps) {
      val (j0, s0) = snap()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val (j1, s1) = snap()
      df.count()
      val t2 = System.nanoTime()
      val (j2, s2) = snap()
      println(f"[devprobe] $name rep $r construct ${(t1 - t0) / 1e9}%.2f s (${j1 - j0} jobs/${s1 - s0} stages) count ${(t2 - t1) / 1e9}%.2f s (${j2 - j1} jobs/${s2 - s1} stages)")
    }
    spark.stop()
  }
}
