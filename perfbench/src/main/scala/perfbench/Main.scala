package perfbench

import java.nio.file.{Files, Path, Paths}

final case class Conf(mode: String, workload: String, seed: Long, seconds: Double,
                      trace: Boolean, sfDir: String, smallDir: String, workDir: Path,
                      expected: Path, cpus: Int, out: Path, dump: String)

/** Benchmark entry point, launched by run.py.
  *
  *   run       one workload run; writes the result record to --out
  *   record    prints `query  sf  rows  digest` for every catalog query
  *   dumpcheck digests the per-query parquet dumps of graft.Verify in
  *             --dump and compares them with the recorded values
  *   selftest  drop determinism and the per-operation probe bound
  */
object Main {
  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    val work = Paths.get(get("work-dir", "work")).toAbsolutePath
    Conf(get("mode", "run"), get("workload", "catalog"), get("seed", "1").toLong,
      get("seconds", "15").toDouble, get("trace", "0") == "1", get("sf-dir", ""),
      get("small-dir", ""), work, Paths.get(get("expected", "expected.tsv")),
      get("cpus", "4").toInt, Paths.get(get("out", "result.json")),
      get("dump", ""))
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val conf = parse(args)
    Files.createDirectories(conf.workDir.resolve("tmp"))
    val code = conf.mode match {
      case "run" => run(conf, bootS)
      case "record" => record(conf)
      case "dumpcheck" => dumpCheck(conf)
      case "selftest" => SelfTest(conf)
      case m => System.err.println(s"unknown mode $m"); 2
    }
    sys.exit(code)
  }

  private def run(conf: Conf, bootS: Double): Int = {
    val r = new Runner(conf)
    require(Set("catalog", "etl_daily")(conf.workload), s"unknown workload ${conf.workload}")
    val catalog = if (conf.workload == "catalog") Some(new CatalogWorkload(r)) else None
    val etl = if (conf.workload == "etl_daily") Some(new EtlWorkload(r)) else None

    // set-up, three times: session build and input generation; the median counts
    val setups = (1 to 3).map(_ => HostCpu.time { r.buildSession(); etl.foreach(_.generate()) })
    val sessionS = Stats.median(setups.map(_._2))
    val warm = HostCpu.time { catalog.foreach(_.prepare()); etl.foreach(_.prepare()) }
    val setupS = bootS + sessionS + warm._2

    val (timedS, _) = HostCpu.time { catalog.foreach(_.run()); etl.foreach(_.run()) }
    if (timedS > conf.seconds)
      System.err.println(f"[perfbench] timed window $timedS%.1f s exceeds --seconds ${conf.seconds}%.0f")
    val heapMb = r.heapRetainedMb()
    val ops = r.ops.toSeq

    val failed = ops.count(!_.ok)
    val timedOps = ops.filter(_.phase == "timed")
    val e2e = Map("setup_s" -> setupS, "ok_share" -> (ops.size - failed).toDouble / ops.size,
      "heap_retained_mb" -> heapMb) ++
      (if (timedOps.exists(_.ok)) catalog.map(_.endToEnd()).getOrElse(etl.get.endToEnd())
       else Map.empty)

    // per-layer figures come from the traced operations of a traced run
    val layerOps = ops.filter(_.phase == (if (conf.trace) "traced" else "timed"))
    def layerSum(k: String) = layerOps.map(_.layers.getOrElse(k, 0.0)).sum
    val c = layerOps.map(_.counts).foldLeft(SparkCounts.zero)(_ + _)
    val wall = layerOps.map(_.wallS).sum
    val layerKeys = Seq("analytics.construct_s", "operators.construct_s", "plans.plan_s",
      "memo.build_s", "memo.builds", "sources.commit_s", "sources.commits",
      "sources.tag_check_s", "sources.bytes_written", "sources.files", "sources.read_s",
      "sources.optimize_s", "sources.vacuum_s", "sources.bytes_rewritten", "etl.clean_s",
      "etl.clean_jobs", "etl.stage_s", "streaming.load_state_s")
    val perLayer = layerKeys.map(k => k -> layerSum(k)).toMap ++ Map(
      "session.build_s" -> sessionS,
      "blocks.sweep_s" -> catalog.map(_.sweepS(if (conf.trace) "traced" else "timed")).getOrElse(0.0),
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.ms_per_job" -> (if (c.jobs == 0) 0.0 else wall * 1000 / c.jobs),
      "spark.task_s" -> c.taskMs / 1000.0,
      "spark.parallelism" -> c.taskMs / 1000.0 / (wall * conf.cpus),
      "spark.max_op_parallelism" -> layerOps.filter(_.wallS > 0)
        .map(o => o.counts.taskMs / 1000.0 / (o.wallS * conf.cpus)).maxOption.getOrElse(0.0),
      "spark.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.input_bytes" -> c.inputBytes.toDouble,
      "spark.gc_s" -> c.gcMs / 1000.0,
      "timed_wall_s" -> wall,
      "trace.overhead_share" -> (if (!conf.trace) 0.0
        else catalog.map(_.traceOverhead()).getOrElse(etl.get.traceOverhead()))) ++
      etl.map(_.warehouseLayers()).getOrElse(
        Map("sources.manifest_bytes" -> 0.0, "sources.storage_amp" -> 0.0, "etl.day_s_growth" -> 0.0,
          "sources.maintenance_s" -> 0.0))

    val record = scala.collection.immutable.ListMap[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "cpus" -> conf.cpus, "sf" -> new java.io.File(conf.sfDir).getName,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "seconds" -> conf.seconds,
      "correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "end_to_end" -> e2e, "timed_window_s" -> timedS, "per_layer" -> perLayer,
      "setup" -> Map("boot_s" -> bootS, "session_and_inputs_s" -> setups.map(_._1),
        "session_and_inputs_net_s" -> setups.map(_._2), "warmup_s" -> warm._1, "warmup_net_s" -> warm._2),
      "queries" -> catalog.map(_.timed),
      "drops" -> etl.map(e => e.shares ++ Map("sha256" -> e.dropsDigest)),
      "ops" -> ops.map(o => scala.collection.immutable.ListMap[String, Any](
        "kind" -> o.kind, "name" -> o.name, "phase" -> o.phase, "wall_s" -> o.wallS,
        "latency_s" -> o.latencyS, "host_used_s" -> o.cpu.usedS,
        "host_steal_s" -> o.cpu.stealS, "ok" -> o.ok, "error" -> o.error,
        "jobs" -> o.counts.jobs, "tasks" -> o.counts.tasks, "task_s" -> o.counts.taskMs / 1000.0,
        "layers" -> o.layers)),
      "spans" -> (if (conf.trace) r.spans.map { case (i, m, a, b) => Seq(i, m, a, b) } else Nil))
    Files.writeString(conf.out, Json.render(record))
    0 // the JVM exits next; stopping the session first only adds time
  }

  /** Row count and digest of every catalog query at each scale factor. */
  private def record(conf: Conf): Int = {
    val r = new Runner(conf)
    r.buildSession()
    val names = Catalog.relational ++ Catalog.dedupSearch
    val dirs = Seq(conf.sfDir) ++ Option(conf.smallDir).filter(_.nonEmpty)
    var bad = 0
    for (dir <- dirs; q <- names) {
      try {
        val d = Digest.run(Catalog.build(r.spark, q, dir))
        println(s"$q\t${new java.io.File(dir).getName}\t${d.rows}\t${d.digest}")
      } catch { case e: Throwable => bad += 1; System.err.println(s"$q $dir FAILED $e") }
      graft.Blocks.sweep(r.spark, blocking = true)
    }
    r.spark.stop()
    if (bad == 0) 0 else 1
  }

  /** Compare the digests of graft.Verify's parquet dumps with the record. */
  private def dumpCheck(conf: Conf): Int = {
    val r = new Runner(conf)
    r.buildSession()
    val expected = Catalog.loadExpected(conf.expected)
    val sf = new java.io.File(conf.sfDir).getName
    val dump = Paths.get(conf.dump)
    var bad = 0
    (Catalog.relational ++ Catalog.dedupSearch).foreach { q =>
      val dir = dump.resolve(q)
      val verdict =
        if (!Files.isDirectory(dir)) "missing"
        else {
          val d = Digest.run(r.spark.read.parquet(dir.toString))
          expected.get((q, sf)) match {
            case Some(e) if e.rows == d.rows && e.digest == d.digest => "ok"
            case Some(e) => bad += 1; s"MISMATCH rows ${d.rows}/${e.rows} digest ${d.digest}/${e.digest}"
            case None => bad += 1; "no record"
          }
        }
      println(s"$q\t$verdict")
    }
    r.spark.stop()
    if (bad == 0) 0 else 1
  }
}
