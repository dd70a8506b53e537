package graft

/** Per-job breakdown of a registered query — the measuring half of the
  * "job-count treatment" (count the eager actions, then fuse or batch
  * them): runs the query once warm, then once instrumented, printing
  * every Spark job it fires with wall duration, stage count, and task
  * count. A query whose time is spread over many ~100 ms jobs is
  * floor-bound by job scheduling, not by any single plan — the fix is
  * fusion (fewer eager actions), not plan surgery.
  *
  * Usage: runMain graft.JobProbe <sfDir> <queryName> [queryName...]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    final case class Job(id: Int, desc: String, t0: Long,
                         var tEnd: Long = -1L, var stages: Int = 0,
                         var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, desc, e.time,
          stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum))
        order.add(e.jobId)
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.tEnd = e.time
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm: JIT + codegen + FS cache
      spark.catalog.clearCache()
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // let the async listener bus deliver the last JobEnd
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(300) }
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobprobe] $name rows=$n wall=${wall}%.2f s, " +
        s"${jobs.size} jobs:")
      var covered = 0.0
      order.forEach { id =>
        val j = jobs.get(id)
        val dur = if (j.tEnd > 0) (j.tEnd - j.t0) / 1000.0 else -1.0
        covered += math.max(dur, 0)
        println(f"[jobprobe]   job ${j.id}%3d ${dur}%7.3f s " +
          f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d ${j.desc.take(90)}")
      }
      println(f"[jobprobe]   sum-of-jobs ${covered}%.2f s " +
        f"(gaps = driver-side work/scheduling: ${wall - covered}%.2f s)")
    }
    spark.stop()
  }
}
