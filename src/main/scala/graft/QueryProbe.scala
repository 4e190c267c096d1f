package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query scheduling profile: the Spark jobs a body of work submitted,
  * their stages and tasks, the summed executor run time, and the shuffle
  * and spill bytes of those tasks. Wall ≫ task time over many small stages
  * is scheduling and planning overhead; task time ≈ wall × cores is
  * genuine compute. GC is not counted here: `graft.Bench` reports the
  * JVM's GC time per run (`gc_ms`).
  *
  * The body runs under a job group of its own, and only the jobs carrying
  * that group count, with only their stages and tasks, so work that other
  * threads submit meanwhile is not charged to it; threads the body starts
  * inherit the group, so their jobs count. `graft.Bench` profiles every
  * timed run with it, and the specs' job-count pins use it.
  */
object QueryProbe {
  final case class Profile(wallS: Double, jobs: Int, stages: Int, tasks: Int, taskS: Double,
                           shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** Runs `body` under a fresh job group; returns its result and profile. */
  def apply[T](spark: SparkSession)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    val group = s"query_probe_${java.util.UUID.randomUUID()}"
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
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
          val m = t.taskMetrics
          if (m != null) {
            taskMs.addAndGet(m.executorRunTime)
            shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "QueryProbe")
      val t0 = System.nanoTime()
      val out = try body finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      // every event of the body's jobs is posted by now; the drain
      // delivers them to the listener
      org.apache.spark.graft.BusDrain(sc)
      (out, Profile(wall, jobs.get, stages.get, tasks.get, taskMs.get / 1000.0,
        shuffleRead.get, shuffleWrite.get, spill.get))
    } finally sc.removeSparkListener(listener)
  }

  /** The profile of `body` alone. */
  def profile(spark: SparkSession)(body: => Any): Profile = apply(spark)(body)._2
}
