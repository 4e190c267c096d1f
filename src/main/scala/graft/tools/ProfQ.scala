package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query scheduling profile: times each named catalog query (1 warmup,
  * 1 timed run) and reports how many Spark jobs, stages and tasks the timed
  * run submitted plus the summed executor run time — separating
  * scheduling/planning overhead (wall ≫ task time / many tiny stages) from
  * genuine compute (task time ≈ wall × cores). Measurement-only; Verify and
  * Bench do not use it.
  *
  * Usage: runMain graft.tools.ProfQ <sfDir> <q1> [q2 ...]
  *        (q = "all" profiles the whole catalog)
  */
object ProfQ {
  final case class Profile(wallS: Double, jobs: Int, stages: Int, tasks: Int,
                           taskS: Double, gcMs: Long)

  /** Runs `body` under a job group of its own and counts only the jobs
    * carrying that group, and only their stages and tasks, so work that
    * other threads submit meanwhile is not charged to it. */
  def profile(spark: SparkSession)(body: => Any): Profile = {
    val sc = spark.sparkContext
    val group = s"profq_${java.util.UUID.randomUUID()}"
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stageIds.add)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(s.stageInfo.stageId)) stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(t.stageId)) {
          tasks.incrementAndGet()
          if (t.taskMetrics != null) {
            taskMs.addAndGet(t.taskMetrics.executorRunTime)
            gcMs.addAndGet(t.taskMetrics.jvmGCTime)
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ProfQ")
      val t0 = System.nanoTime()
      try body finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      // every event of the body's jobs is posted by now; the drain
      // delivers them to the listener
      org.apache.spark.graft.BusDrain(sc)
      Profile(wall, jobs.get, stages.get, tasks.get, taskMs.get / 1000.0, gcMs.get)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfQ <sfDir> <q...|all>")
    val dir = args(0)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args(1) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    println("query,wall_s,jobs,stages,tasks,task_s,gc_ms")
    names.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      try {
        fn(spark, dir).count() // warmup
        graft.Blocks.sweep(spark, blocking = true)
        val p = profile(spark)(fn(spark, dir).count())
        println(f"$q,${p.wallS}%.3f,${p.jobs},${p.stages},${p.tasks},${p.taskS}%.2f,${p.gcMs}")
        graft.Blocks.sweep(spark, blocking = true)
      } catch { case e: Throwable =>
        println(s"$q,ERR,${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
