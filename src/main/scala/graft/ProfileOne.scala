package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job profiling harness for optimization work: runs ONE suite
  * query (warm + 1 profiled run) with a listener that records every
  * Spark job's wall time and call site, then prints the jobs sorted by
  * duration plus a call-site rollup. Diagnostic tool only — not part
  * of the bench contract. `runMain graft.ProfileOne <name> [sfDir]`.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <query-name> [sfDir]")
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = Bench.suite.collectFirst { case (`name`, f) => f }
      .getOrElse(sys.error(s"unknown bench query: $name"))
    val spark = GraftSession.create()
    def run(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    run() // warm

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, Int)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Double, Int, String)]()
    val listener = new SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; e <- si.completionTime}
          yield (e - s) / 1e3).getOrElse(-1.0)
        val taskSum = si.taskMetrics.executorRunTime / 1e3
        stages.add((si.stageId, wall, taskSum, si.numTasks, si.name))
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // prefer an explicit job description (the pipeline runner labels
        // each step per guide §1.5); fall back to the RDD call site
        val site = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId, (System.nanoTime(), site, nTasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, site, nTasks) =>
          done.add((je.jobId, (System.nanoTime() - t0) / 1e9, site, nTasks))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    run()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // drain listener bus

    import scala.jdk.CollectionConverters._
    val jobs = done.asScala.toSeq.sortBy(_._1)
    println(f"== $name: wall ${wall}%.2fs, ${jobs.size} jobs, job-sum ${jobs.map(_._2).sum}%.2fs ==")
    println("-- top 40 jobs by duration --")
    jobs.sortBy(-_._2).take(40).foreach { case (id, sec, site, nTasks) =>
      println(f"job $id%4d  $sec%7.3fs  tasks=$nTasks%4d  $site")
    }
    if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
      println("-- stages over 0.3s wall --")
      stages.asScala.toSeq.filter(_._2 > 0.3).sortBy(-_._2).take(40).foreach {
        case (id, wall, tsum, n, nm) =>
          println(f"stage $id%5d  wall $wall%7.3fs  tasksum $tsum%7.3fs  tasks=$n%4d  $nm")
      }
      println("-- stage-name rollup by wall --")
      stages.asScala.toSeq.groupBy(_._5.takeWhile(_ != ':')).map { case (nm, ss) =>
        (ss.map(_._2).sum, ss.map(_._3).sum, ss.size, nm)
      }.toSeq.sortBy(-_._1).take(25).foreach { case (w, t, n, nm) =>
        println(f"$w%8.3fs wall  $t%8.3fs tasksum  n=$n%4d  $nm")
      }
    }
    if (sys.env.contains("SPARK_GRAFT_PROFILE_ALL")) {
      println("-- all jobs in order --")
      jobs.foreach { case (id, sec, site, nTasks) =>
        println(f"job $id%4d  $sec%7.3fs  tasks=$nTasks%4d  $site")
      }
    }
    println("-- rollup by call site --")
    jobs.groupBy(_._3).map { case (site, js) =>
      (js.map(_._2).sum, js.size, site)
    }.toSeq.sortBy(-_._1).foreach { case (sum, n, site) =>
      println(f"$sum%8.3fs  n=$n%4d  $site")
    }
    spark.stop()
  }
}
