package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine: one place that encodes the
  * settings the library is designed against.
  *
  * - `shuffle.partitions` sized to the core count (not the 200 default
  *   — on a cluster, set to 2-3× total executor cores);
  * - AQE on (runtime coalescing + skew-join splitting);
  * - ANSI off: the scalar library's null-on-failure parse semantics
  *   mirror the reference's Python coercions (the library itself is
  *   also ANSI-safe via regex-guarded casts);
  * - UTC session timezone for deterministic date/timestamp text;
  * - legacy nanosAsLong: the events table is parquet TIMESTAMP(NANOS),
  *   which Spark's vectorized reader rejects; the session-level legacy
  *   conf reads nanos as long and `Tables.events` rebuilds a µs
  *   TimestampNTZ (set here, at session build — readers never mutate
  *   session conf as a side effect);
  * - GraftExtensions: graft_dot / graft_hll SQL functions + the HOF
  *   dot-product acceleration rule.
  */
object GraftSession {
  def builder(cores: String = "*"): SparkSession.Builder = {
    val parts =
      if (cores == "*") Runtime.getRuntime.availableProcessors() else cores.toInt
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT64 micros, not legacy INT96: parquet writes no (usable)
      // statistics for INT96, which would blind zone maps — and every
      // hidden-partitioning days() tuple — on timestamp columns
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // storage-partitioned joins over bucketed snapshot tables
      // (sources/BucketedScan.scala): lets KeyGroupedPartitioning
      // scans join shuffle-free when both sides share the bucket spec
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // ContextCleaner hygiene: broadcast/shuffle cleanup is driven by
      // weak references, which a 32 GiB heap may not GC for many
      // minutes — in LONG-CATALOG sessions dead broadcast blocks and
      // shuffle files pile up in the block manager and later queries
      // pay eviction contention (measured: repeated q_user_cf drifting
      // 2.4 s → 45 s without GC; stable 2.4-5 s with it). The
      // aggressive 1-minute periodicGC interval that fixes that is NOT
      // set here (round-8 ADVICE: a driver-wide full System.gc every
      // minute punishes ad-hoc and test sessions, and any timed
      // harness that forgets to override it re-creates the mid-query
      // stall the bench protocol documents). Sessions that need it opt
      // in explicitly: Verify sets 1min (long catalog, untimed);
      // Bench pins 24h and drives cleanup deterministically between
      // timed windows via Blocks.sweep; ScaleRehearsal sweeps via
      // Blocks.reset between batches. Everything else keeps Spark's
      // 30min default.
      // scratch I/O (shuffle files, disk-spilled checkpoint blocks,
      // broadcast disk store) on tmpfs when the host provides one: a
      // single-box local[n] run otherwise funnels every shuffle file
      // of a multi-hundred-query session through the (virtualized)
      // system disk, and the resulting I/O stalls land on whichever
      // query is running when the flush hits. On a real cluster this
      // maps to the standard practice of pointing spark.local.dir at
      // fast local SSDs, not the OS disk. Override/disable with
      // SPARK_GRAFT_LOCAL_DIR; falls back to the JVM default tmp when
      // no tmpfs is available.
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isWritable(shm)) "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir")
      }))
  }

  def local(cores: String = "*"): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
