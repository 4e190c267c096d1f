package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters of one timed operation. */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                             gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                             spillBytes: Long, inputBytes: Long) {
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes)
}
object SparkCounts { val zero: SparkCounts = SparkCounts(0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** A SparkListener that attributes jobs, stages and tasks to the job group
  * of the operation that submitted them. Each timed operation runs under
  * its own group; threads it starts (a pool inside `Pipeline.run`, Spark's
  * broadcast threads) inherit or capture the group, so work they submit is
  * counted too, and work of any other operation is not. */
final class Probe(sc: SparkContext) extends SparkListener {
  private final class Acc {
    var jobs, open, stages, tasks, taskMs, gcMs = 0L
    var shRead, shWrite, spill, input = 0L
    def counts: SparkCounts =
      SparkCounts(jobs, stages, tasks, taskMs, gcMs, shRead, shWrite, spill, input)
  }
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val groupJobs = new java.util.concurrent.atomic.AtomicLong()
  private val taskCount = new java.util.concurrent.atomic.AtomicLong()
  sc.addSparkListener(this)

  private def acc(group: String): Option[Acc] = Option(groups.get(group))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.flatMap(acc).foreach { a =>
      jobGroup.put(e.jobId, g.get)
      e.stageIds.foreach(stageGroup.putIfAbsent(_, g.get))
      groupJobs.incrementAndGet()
      a.synchronized { a.jobs += 1; a.open += 1 }
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).flatMap(acc).foreach { a =>
      a.synchronized { a.open -= 1; a.notifyAll() }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).flatMap(acc).foreach { a =>
      a.synchronized { a.stages += 1 }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskCount.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) Option(stageGroup.get(e.stageId)).flatMap(acc).foreach { a =>
      a.synchronized {
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Jobs seen so far under any scoped group, once the bus has drained. */
  def jobsSoFar: Long = {
    org.apache.spark.perfbench.BusDrain(sc, 60000L)
    groupJobs.get
  }

  /** Tasks of any job, scoped or not, ended so far, once the bus has drained. */
  def allTasks: Long = {
    org.apache.spark.perfbench.BusDrain(sc, 60000L)
    taskCount.get
  }

  /** Run `body` under a fresh job group and return its result with the
    * counters of every job the group submitted. After `body` returns, the
    * listener bus is drained and then the group's jobs are awaited until
    * the listener has seen each one end. */
  def scoped[T](label: String)(body: => T): (T, SparkCounts) = {
    val group = s"perfbench-${seq.incrementAndGet()}"
    val a = new Acc
    groups.put(group, a)
    sc.setJobGroup(group, label, interruptOnCancel = false)
    val r = try body finally sc.clearJobGroup()
    org.apache.spark.perfbench.BusDrain(sc, 60000L)
    val deadline = System.nanoTime() + 60L * 1000000000L
    a.synchronized {
      while (a.open > 0 && System.nanoTime() < deadline) a.wait(100L)
      if (a.open > 0) throw new IllegalStateException(s"$label: ${a.open} jobs never ended")
    }
    groups.remove(group)
    (r, a.counts)
  }
}
