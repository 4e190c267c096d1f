package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One operation of a workload. `phase` is `warm` (set-up, untimed),
  * `timed` (the end-to-end figures), `traced` or `untraced` (the pairs of a
  * traced run). `layers` holds the time (s) or count spent in each layer's
  * calls, keyed by per-layer metric name; `cpu` the host's CPU time used and
  * stolen while the operation ran. */
final case class Op(kind: String, name: String, phase: String, wallS: Double,
                    ok: Boolean, error: Option[String], counts: SparkCounts,
                    layers: Map[String, Double], cpu: HostCpu.Ticks) {
  /** Latency net of stolen CPU time, see `HostCpu`. */
  def latencyS: Double = cpu.netOf(wallS)
}

/** Shared state of a benchmark run: the session, the job-group probe, the
  * finished operations and the trace spans. */
final class Runner(val conf: Conf) {
  var spark: SparkSession = _
  var probe: Probe = _
  val ops = mutable.ArrayBuffer.empty[Op]
  /** (op index, layer metric, start ns, end ns), written out in traced runs. */
  val spans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private var cur: mutable.Map[String, Double] = mutable.Map.empty
  /** Phase of the operations run next. */
  var phase = "warm"
  def tracing: Boolean = phase == "traced"

  def now: Long = System.nanoTime()

  /** (Re)build the session the way the engine expects it. */
  def buildSession(): Double = {
    val t0 = now
    if (spark != null) {
      graft.Blocks.reset(spark)
      spark.stop()
    }
    spark = graft.GraftSession.builder(conf.cpus.toString)
      // cleanup runs between operations (Blocks.sweep), never on a timer
      .config("spark.cleaner.periodicGC.interval", "24h")
      .config("spark.sql.warehouse.dir", conf.workDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    probe = new Probe(spark.sparkContext)
    (now - t0) / 1e9
  }

  /** Time `body` as a call into `metric`'s layer of the current operation. */
  def span[T](metric: String)(body: => T): T = {
    val t0 = now
    try body finally {
      val t1 = now
      cur(metric) = cur.getOrElse(metric, 0.0) + (t1 - t0) / 1e9
      if (tracing) spans += ((ops.size, metric, t0, t1))
    }
  }

  /** Add a count to a per-layer metric of the current operation. */
  def count(metric: String, n: Double): Unit = cur(metric) = cur.getOrElse(metric, 0.0) + n

  /** Run one operation under its own job group. `check` validates the
    * result; a throw or a failed check makes the operation failed, and a
    * failed operation contributes no time to the latency figures. */
  def op[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    cur = mutable.Map.empty
    val cpu0 = HostCpu.read()
    val t0 = now
    var wall = 0.0
    var cpu1 = cpu0
    val (res, counts) =
      try {
        probe.scoped(s"$kind:$name") {
          val r = scala.util.Try(body)
          wall = (now - t0) / 1e9
          cpu1 = HostCpu.read()
          r
        }
      } catch { case e: Throwable => (scala.util.Failure(e), SparkCounts.zero) }
    val err = res match {
      case scala.util.Success(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw: $e") }
      case scala.util.Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }
    val cap = 1.05 * wall * conf.cpus
    val probeErr =
      if (counts.taskMs / 1000.0 > cap + 0.01)
        Some(f"probe self-test: task_s ${counts.taskMs / 1000.0}%.2f > 1.05 x wall x cpus = $cap%.2f")
      else None
    val error = err.orElse(probeErr)
    error.foreach(e => System.err.println(s"[perfbench] FAILED $kind $name: $e"))
    ops += Op(kind, name, phase, wall, error.isEmpty, error, counts, cur.toMap, cpu1 - cpu0)
    res.toOption.filter(_ => error.isEmpty)
  }

  /** Heap in use after full collections, in MB. The listener bus is
    * drained first, and collections repeat until the heap stops shrinking:
    * Spark's cleaner frees shuffle and broadcast state on its own thread
    * after a collection finds it unreachable. */
  def heapRetainedMb(): Double = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext, 60000L)
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var prev = Double.MaxValue
    var cur = used()
    var rounds = 1
    while (rounds < 10 && prev - cur > 0.5) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  /** Files and bytes under `dir`, per path. */
  def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.size(p)).toMap
      } finally s.close()
    }
}

object Runner {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally st.close()
    }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The host's CPU time from /proc/stat, summed over its CPUs: time spent
  * running (user, system, interrupts) and time stolen by the hypervisor
  * while a CPU was runnable. Zero where /proc/stat does not exist.
  *
  * On a shared virtual host the hypervisor takes CPU time from the guest
  * at a rate that drifts by tens of percent within minutes, and wall times
  * move with it. Latencies are reported net of it: the wall time scaled by
  * the share of runnable CPU time the guest actually got, i.e. the time the
  * operation would have taken had nothing been stolen. How much is stolen
  * depends on the host's other tenants, not on the engine's code. The
  * correction is partial: contention that slows the guest without
  * stealing from it (shared caches, memory bandwidth) is not removed. */
object HostCpu {
  final case class Ticks(usedS: Double, stealS: Double) {
    def -(o: Ticks): Ticks = Ticks(usedS - o.usedS, stealS - o.stealS)
    def netOf(wallS: Double): Double =
      if (usedS + stealS <= 0) wallS else wallS * usedS / (usedS + stealS)
  }
  private val Hz = 100.0

  /** Wall time of `body` and that time net of stolen CPU time (s). */
  def time(body: => Unit): (Double, Double) = {
    val c0 = read()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, (read() - c0).netOf(wall))
  }

  def read(): Ticks =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toDouble)
      // user nice system idle iowait irq softirq steal
      Ticks((f(0) + f(1) + f(2) + f(5) + f(6)) / Hz, f(7) / Hz)
    } catch { case _: Exception => Ticks(0, 0) }
}
