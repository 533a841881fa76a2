package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query execution profile: Spark JOB / stage / task counts and summed
  * task time next to the wall clock, so fixed scheduling overhead (many
  * tiny jobs) separates from real compute (few jobs, high task time).
  * Usage:
  *   runMain graft.ProfileQ <sfDir> <q1,q2,...> [reps]
  * Each query runs `reps` measured times (default 2, best reported) after
  * one untimed warm-up, through the same noop sink as graft.Bench.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    sys.props("graft.sfdir") = sfDir
    val names = if (args.length > 1) args(1).split(",").map(_.trim).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // the session graft.Bench times under
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.enabled",
        sys.props.getOrElse("graft.profile.aqe", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val verbose = sys.props.contains("graft.profile.jobs")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (verbose) {
          jobStartNs.put(j.jobId, System.nanoTime())
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
          System.err.println(f"[job ${j.jobId}%4d start] " +
            f"stages=${j.stageIds.size} $site")
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd)
          : Unit = if (verbose) {
        val t0 = jobStartNs.remove(e.jobId)
        val ms = if (t0 == 0) -1 else (System.nanoTime() - t0) / 1000000
        System.err.println(f"[job ${e.jobId}%4d end  ] ${ms}%6d ms")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        if (verbose) {
          val i = s.stageInfo
          val tm = Option(i.taskMetrics)
          System.err.println(f"[stage ${i.stageId}%4d] tasks=${i.numTasks}%4d " +
            f"exec_ms=${tm.map(_.executorRunTime).getOrElse(-1L)}%7d " +
            f"cpu_ms=${tm.map(_.executorCpuTime / 1000000).getOrElse(-1L)}%7d " +
            f"deser_ms=${tm.map(_.executorDeserializeTime).getOrElse(-1L)}%6d " +
            i.name)
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
      }
    })
    // warm the JVM like Bench does
    Bench.timeOnce(spark, sfDir, (s, _) => SparkEntry.entry(s), "warm-up")
    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%7s " +
      f"${"tasks"}%6s ${"task_s"}%8s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def once(): Option[(Double, Int, Int, Int, Long)] = {
        Thread.sleep(200) // let the async listener bus drain
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L
        val wall = Bench.timeOnce(spark, sfDir, fn, n)
        Thread.sleep(200)
        wall.map((_, jobs, stages, tasks, taskMs))
      }
      once() // warm-up: fixture memoization, codegen
      val runs = (1 to reps).map(_ => once())
      if (runs.exists(_.isEmpty)) println(f"$n%-28s FAILED")
      else {
        val best = runs.flatten.minBy(_._1)
        println(f"$n%-28s ${best._1}%8.3f ${best._2}%5d ${best._3}%7d " +
          f"${best._4}%6d ${best._5 / 1000.0}%8.1f")
      }
    }
    spark.stop()
  }
}
