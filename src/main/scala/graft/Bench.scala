package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): times every catalog query at
  * SPARK_GRAFT_SF_DIR and prints one JSON line on stdout.
  *
  * Protocol: after an untimed warm-up at sf0.001 (plan shapes are the same
  * at every scale factor, so this compiles each query's codegen classes),
  * [[Passes]] full passes over the catalog time each query once per pass.
  * Pass p visits the sorted catalog rotated by p·n/[[Passes]], so each query
  * runs at [[Passes]] positions minutes apart, and its record is the min.
  * Host CPU steal arrives in multi-second windows that hit whichever query
  * is running; it reaches the record only if it hits the same query in
  * every pass. The protocol uses no reference times and no thresholds, so
  * it reads the same at any core count. The detail file also keeps each
  * query's median and dispersion (max/min); a dispersion above
  * [[MaxDispersion]] lists the query as an outlier, it is not timed again.
  *
  * The first run of a memo's first consumer pays the shared build, which
  * MemoStats reports separately as memo_build_ms; later passes hit the warm
  * memo, so the min is the query's own cost. A run that built a memo is
  * marked in the detail file and left out of the dispersion: its extra time
  * is a one-time build, not a stall.
  *
  * Every timed run runs under a [[QueryProbe]] and splits into building the
  * DataFrame and running its count ([[Layers]]); the detail file's `layers`
  * map holds the min run's split and probe counts for every timed query.
  *
  * A run that throws marks its query failed: the error goes to the detail
  * file's `failed` map, and the query is left out of every total.
  */
object Bench {
  val Passes = 3
  val MaxDispersion = 2.0
  val Protocol = "min_of_3_rotated_passes+sweep"

  /** Where one run's time went. `constructMs` builds the DataFrame (eager
    * checkpoints, memo builds); `execMs` runs its count, and `planMs` is
    * the count's Catalyst analysis, optimization and planning, a part of
    * `execMs`; `probe` holds the whole run's jobs, stages, tasks, task
    * time, shuffle and spill bytes. */
  final case class Layers(constructMs: Long, planMs: Long, execMs: Long,
                          probe: QueryProbe.Profile)

  /** One timed run: seconds, GC milliseconds, the milliseconds of memo
    * builds it paid, and its layers; `constructMs + execMs` is the run
    * time in whole milliseconds. */
  final case class Timing(s: Double, gcMs: Long, memoMs: Long, layers: Layers)

  /** One timed run, or the error it threw. */
  type Run = Either[String, Timing]

  /** The queries of pass `p` in visiting order: sorted, rotated by p·n/Passes. */
  def passOrder(names: Seq[String], p: Int): Seq[String] = {
    val (head, tail) = names.sorted.splitAt(p * names.size / Passes)
    tail ++ head
  }

  // GC time per run: a slow run whose time is GC is the JVM amortizing the
  // catalog's garbage onto whichever query was running
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private def memoBuildMs: Long = MemoStats.snapshot.values.sum

  /** Times one run of a catalog query under a [[QueryProbe]]: `query`
    * builds the DataFrame, then `groupBy().count()` over it, the plan
    * `Dataset.count` builds, runs. The probe's bus drain falls outside
    * the timed window. A run that throws yields its error, never a time. */
  def time(spark: SparkSession)(query: => DataFrame): Run =
    try {
      val g0 = gcMs
      val m0 = memoBuildMs
      val ((t0, t1, t2, gc, memo, counted), probe) = QueryProbe(spark) {
        val t0 = System.nanoTime()
        val df = query
        val t1 = System.nanoTime()
        val counted = df.groupBy().count()
        counted.collect()
        (t0, t1, System.nanoTime(), gcMs - g0, memoBuildMs - m0, counted)
      }
      val constructMs = Math.round((t1 - t0) / 1e6)
      val planMs = counted.queryExecution.tracker.phases.values
        .map(p => p.endTimeMs - p.startTimeMs).sum
      Right(Timing((t2 - t0) / 1e9, gc, memo,
        Layers(constructMs, planMs, Math.round((t2 - t0) / 1e6) - constructMs, probe)))
    } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  /** `gcMs` and `layers` are those of the run that gave the min.
    * `dispersion` is max/min over the runs that built no memo (over all
    * runs when every run built one). */
  final case class Stats(min: Double, median: Double, dispersion: Double, gcMs: Long,
                         layers: Layers) {
    def outlier: Boolean = dispersion > MaxDispersion
  }

  /** The record of one query's runs: the first error if any run threw. */
  def aggregate(runs: Seq[Run]): Either[String, Stats] = {
    val (errors, ok) = runs.partitionMap(identity)
    errors.headOption.toLeft {
      val ts = ok.map(_.s).sorted
      val best = ok.minBy(_.s)
      val noMemo = ok.filter(_.memoMs == 0).map(_.s)
      val steady = if (noMemo.nonEmpty) noMemo else ts
      // the middle run: Passes is odd
      Stats(best.s, ts(ts.size / 2), steady.max / steady.min, best.gcMs, best.layers)
    }
  }

  final case class Summary(timed: Seq[(String, Stats)], failed: Seq[(String, String)]) {
    val total: Double = timed.map(_._2.min).sum
  }

  /** `passes`: one map of runs per pass, each holding every query. */
  def summarize(passes: Seq[Map[String, Run]]): Summary = {
    val recs = passes.head.keys.toSeq.sorted.map(n => n -> aggregate(passes.map(_(n))))
    Summary(recs.collect { case (n, Right(s)) => n -> s },
      recs.collect { case (n, Left(e)) => n -> e })
  }

  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  private def jmap(xs: Seq[(String, String)]): String =
    xs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** The stdout line. Readers take it from a bounded 2000-character tail of
    * stdout, so `queries` lists only the slowest entries that fit in
    * 1500; `value` covers every timed query and the detail file has them
    * all. `pre_retry_total` and `n_retried` stay for readers of the older
    * retry protocol. */
  def line(s: Summary, memoSec: Double, sf: String): String = {
    val entries = s.timed.sortBy(-_._2.min).map { case (k, v) => jstr(k) + ":" + fmt(v.min) }
    val kept = entries.zip(entries.scanLeft(0)(_ + _.length + 1).tail)
      .takeWhile(_._2 <= 1500).map(_._1)
    val perQ = if (s.timed.nonEmpty) s.total / s.timed.size else 0.0
    jmap(Seq(
      "metric" -> jstr("total"),
      "value" -> fmt(s.total),
      "unit" -> jstr("sec"),
      "n_queries" -> s.timed.size.toString,
      "sec_per_query" -> fmt(perQ),
      "protocol" -> jstr(Protocol),
      "pre_retry_total" -> fmt(s.total),
      "n_retried" -> "0",
      "n_failed" -> s.failed.size.toString,
      "memo_build_sec" -> fmt(memoSec),
      // charges the one-time shared builds, so moving cost into a memo
      // does not read as a speedup
      "total_with_memo" -> fmt(s.total + memoSec),
      "queries" -> kept.mkString("{", ",", "}"),
      "queries_omitted" -> (entries.size - kept.size).toString,
      "sf" -> jstr(sf)))
  }

  private def layersJson(l: Layers): String = jmap(Seq(
    "construct_ms" -> l.constructMs.toString,
    "plan_ms" -> l.planMs.toString,
    "exec_ms" -> l.execMs.toString,
    "jobs" -> l.probe.jobs.toString,
    "stages" -> l.probe.stages.toString,
    "tasks" -> l.probe.tasks.toString,
    "task_s" -> fmt(l.probe.taskS),
    "shuffle_read_bytes" -> l.probe.shuffleReadBytes.toString,
    "shuffle_write_bytes" -> l.probe.shuffleWriteBytes.toString,
    "spill_bytes" -> l.probe.spillBytes.toString))

  /** The detail file: every query's min, median, dispersion and per-pass
    * times, the outliers, the failed queries with their errors, GC and
    * layers of the min run, the memo builds, and per pass the runs that
    * built a memo with the milliseconds they paid. */
  def detail(s: Summary, passes: Seq[Map[String, Run]], memoMs: Map[String, Long],
             sf: String, cpus: String): String = {
    def per(f: Stats => String) = jmap(s.timed.map { case (k, v) => k -> f(v) })
    jmap(Seq(
      "metric" -> jstr("total"),
      "value" -> fmt(s.total),
      "unit" -> jstr("sec"),
      "protocol" -> jstr(Protocol),
      "cpus" -> jstr(cpus),
      "sf" -> jstr(sf),
      "queries" -> per(v => fmt(v.min)),
      "median" -> per(v => fmt(v.median)),
      "dispersion" -> per(v => fmt(v.dispersion)),
      "outliers" -> jmap(s.timed.collect { case (k, v) if v.outlier => k -> fmt(v.dispersion) }),
      "passes" -> passes.map(p => jmap(p.toSeq.sortBy(_._1)
        .collect { case (k, Right(t)) => k -> fmt(t.s) })).mkString("[", ",", "]"),
      "memo_runs" -> passes.map(p => jmap(p.toSeq.sortBy(_._1)
        .collect { case (k, Right(t)) if t.memoMs > 0 => k -> t.memoMs.toString }))
        .mkString("[", ",", "]"),
      "failed" -> jmap(s.failed.map { case (k, e) => k -> jstr(e) }),
      "gc_ms" -> per(_.gcMs.toString),
      "layers" -> per(v => layersJson(v.layers)),
      "memo_build_ms" -> jmap(memoMs.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // The periodic-GC cleaner timer fires mid-pass, and the ContextCleaner's
    // removal storm stalls whichever query is running; the bench disables
    // it and nudges the collector between timed runs instead (below).
    val spark = GraftSession.builder(cpus)
      .config("spark.cleaner.periodicGC.interval", "24h")
      .getOrCreate()
    // ERROR, not WARN: stray WARN lines eat into the bounded stdout tail
    // the JSON line must land in
    spark.sparkContext.setLogLevel("ERROR")

    val warmDir = {
      val small = sfDir.replaceAll("sf[0-9.]+$", "sf0.001")
      if (new java.io.File(small).isDirectory) small else sfDir
    }
    // SPARK_GRAFT_ONLY: regex subset, as in Verify (unset → full
    // catalog); one query is the single-query layer profile
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val catalog = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.findFirstIn(n).isDefined)
    }
    catalog.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    // With no sf0.001 sibling the warm-up built the timed dataset's memos;
    // a full reset makes pass 0 rebuild and attribute them. Otherwise the
    // warm-up's memos are keyed by warmDir: reset only the accounting.
    if (warmDir == sfDir) Blocks.reset(spark)
    else { MemoStats.clear(); Blocks.sweep(spark) }

    var done = 0
    val passes = (0 until Passes).map { p =>
      passOrder(catalog.keys.toSeq, p).map { name =>
        val run = time(spark)(catalog(name)(spark, sfDir))
        // blocking, so the reclaim of this run's checkpoints lands outside
        // the next timed window
        Blocks.sweep(spark, blocking = true)
        done += 1
        // lets the weak-reference ContextCleaner retire broadcast and
        // shuffle garbage outside any timed window
        if (done % 20 == 0) { System.gc(); Thread.sleep(3000) }
        name -> run
      }.toMap
    }
    val summary = summarize(passes)
    val memo = MemoStats.snapshot
    val file = s"BENCH_DETAIL_c$cpus.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(file),
      detail(summary, passes, memo, sfDir, cpus))
    catch { case e: Throwable => System.err.println(s"[bench] $file write failed: $e") }
    println(line(summary, memo.values.sum / 1000.0, sfDir))
    spark.stop()
  }
}
