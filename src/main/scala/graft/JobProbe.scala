package graft

import org.apache.spark.scheduler._

/** r16 measurement probe (guide §1 / §7.1 in spirit, headless): runs one
  * query end-to-end and prints a per-JOB breakdown — submission order,
  * wall duration, stage count, task count, shuffle bytes — so iterative
  * operators' fixed per-round jobs (checkpoint cuts, broadcast builds,
  * convergence probes) can be attributed individually. The UI is disabled
  * in every harness, so this is the scriptable stand-in for the Jobs tab.
  *
  * GRAFT_JOB_PROBE=q_hits[,q_pagerank,...]; never run by the driver.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("GRAFT_JOB_PROBE", "q_hits").split(",").toSeq
    val spark = Harness.session(defaultCpus = 32)
    import Harness.{force, seconds}

    @volatile var stageTasks = Map.empty[Int, (Int, Long)] // stageId -> (tasks, shuffleWriteBytes)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        stageTasks += info.stageId ->
          (info.numTasks, info.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, (j.time, j.stageIds.map(_.toInt)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(j.jobId)).foreach { case (t0, sids) =>
          val dur = (j.time - t0) / 1000.0
          val tasks = sids.flatMap(stageTasks.get).map(_._1).sum
          val shuf = sids.flatMap(stageTasks.get).map(_._2).sum
          jobs.add(f"""{"job":${j.jobId},"sec":$dur%.3f,"stages":${sids.size},"tasks":$tasks,"shuffle_mb":${shuf / 1e6}%.2f}""")
        }
      }
    })

    force(SparkEntry.queries("q_indicators_combined")(spark, sfDir)) // warm-up
    Harness.sweep(spark)
    names.foreach { name =>
      (1 to 2).foreach { round =>
        jobs.clear()
        // lazy: the first timer covers construction, eager operator jobs
        // included; the second covers the action alone
        lazy val df = SparkEntry.queries(name)(spark, sfDir)
        val tPlan = seconds(df)
        val tRun = seconds(force(df))
        // drain the listener bus so every job row is in
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        println(f"""JOBPROBE {"query":"$name","round":$round,"construct_sec":$tPlan%.3f,"action_sec":$tRun%.3f,"n_jobs":${jobs.size}}""")
        import scala.jdk.CollectionConverters._
        jobs.asScala.foreach(j => println(s"JOBPROBE_JOB $name $j"))
        Harness.sweep(spark)
      }
    }
    spark.stop()
  }
}
