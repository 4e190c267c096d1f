package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * HARDENED against partial driver runs (round-8 verdict item 1 — the
  * round shipped CORRECTNESS_r08.json as `{}` because a timed-out
  * driver killed Verify BEFORE the old code wrote oracle_sql.json,
  * which used to happen only after all ~400 dumps):
  *
  *  - `oracle_sql.json` is written FIRST, before any query executes —
  *    the oracle map is a static catalog constant, so a kill at any
  *    later point still leaves the driver a loadable oracle plus
  *    every dump completed so far (partial-but-real correctness rows
  *    instead of an empty file);
  *  - each completed dump appends one flushed line to
  *    `verify_progress.log` (name + wall ms), so a truncated run is
  *    diagnosable from the artifact directory alone;
  *  - dumps run in small CONCURRENT batches of 4: most of the
  *    391 queries are sub-second at sf0.01, so wall time is dominated
  *    by per-query Catalyst planning, which is single-threaded per
  *    query but parallelizes perfectly across queries. Memo builds
  *    stay single-build under concurrency: [[MemoStats.get]] installs
  *    one entry per memo and runs its build once, and a batch-mate
  *    that needs the same memo waits for that build. Blocks.sweep is
  *    NOT safe mid-flight (it would drop a running query's
  *    lineage-free localCheckpoints), so the sweep runs as a BARRIER
  *    between batches, never inside one;
  *  - `repartition(1)` replaces `coalesce(1)`: both yield the single
  *    output file the compare reads, but coalesce(1) collapsed every
  *    plan stage after the last shuffle to one task, serializing the
  *    dump; repartition inserts an exchange so the query itself keeps
  *    its parallelism and only the trivial file write is single-task.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GraftSession carries the library's session contract (ANSI off, UTC,
    // AQE, nanosAsLong, extensions) — one place, not per-main copies.
    // The 1-minute periodic ContextCleaner GC is set HERE, not in the
    // shared GraftSession default (round-8 ADVICE): this is the
    // long-catalog untimed session the aggressive interval exists for
    // (hundreds of executions whose dead broadcast/shuffle blocks a
    // 32 GiB heap would otherwise not weak-reference-GC for minutes).
    val spark = GraftSession.builder(cpus)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // builder-side iteration aid: SPARK_GRAFT_ONLY=<regex> restricts
    // the dump to matching query names (the driver never sets it, so
    // driver runs always dump the full catalog)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.findFirstIn(name).isDefined) }.toSeq.sortBy(_._1)

    val progress = Paths.get(s"$outDir/verify_progress.log")
    def logLine(line: String): Unit = synchronized {
      Files.writeString(progress, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    val threads = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    selected.grouped(threads).foreach { batch =>
      val fs = batch.map { case (name, fn) =>
        scala.concurrent.Future {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).repartition(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            logLine(s"$name ok ${(System.nanoTime() - t0) / 1000000} ms")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            logLine(s"$name FAILED ${e.getClass.getSimpleName}")
          }
        }
      }
      fs.foreach(f => scala.concurrent.Await.ready(f,
        scala.concurrent.duration.Duration.Inf))
      // Barrier sweep: drop the batch's transient checkpoints (memos
      // stay protected) — over a ~400-query dump the accumulated
      // blocks otherwise inflate the tail the same way they inflated
      // the bench. Safe here because no query is in flight.
      Blocks.sweep(spark)
    }
    pool.shutdown()
    spark.stop()
  }
}
