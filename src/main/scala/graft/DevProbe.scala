package graft

/** Dev-only per-query phase profiler: times plan CONSTRUCTION
  * (which executes any eager localCheckpoint jobs) separately from the
  * final count, per rep, and counts the Spark JOBS each phase submits
  * (at bench scale the fixed per-job overhead — broadcast builds,
  * checkpoint materializations — dominates several ladder queries, so
  * job count is the lever to watch). Repeated reps give the warm
  * per-query cost, free of the cold-JVM noise of Bench's first queries.
  * Usage: runMain graft.DevProbe <sfDir> <reps> [query ...]  (no query =
  * every declared query, sorted)
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
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
    // the listener bus is async: read the counters only once they stop
    // moving, so no phase is charged the previous phase's late jobs
    def snap(): (Int, Int) = PlanAudit.awaitStable((jobs.get, stages.get))
    for (name <- names; r <- 1 to reps) {
      val (j0, s0) = snap()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val (j1, s1) = snap()
      val t2 = System.nanoTime()
      df.count()
      val t3 = System.nanoTime()
      val (j2, s2) = snap()
      println(f"[devprobe] $name rep $r construct ${(t1 - t0) / 1e9}%.2f s (${j1 - j0} jobs/${s1 - s0} stages) count ${(t3 - t2) / 1e9}%.2f s (${j2 - j1} jobs/${s2 - s1} stages)")
    }
    spark.stop()
  }
}
