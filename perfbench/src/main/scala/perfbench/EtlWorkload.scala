package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import graft.etl.{CleanJob, Pipeline, WarehouseLoad}
import graft.sources.{SnapshotTable, Tables}
import graft.streaming.StreamingJobs

/** `etl_daily`: the reference pipeline, one seeded scrape drop per day into
  * one warehouse. Set-up loads day 0. Each cycle then loads the next day
  * with `Pipeline.run`, reads `WarehouseLoad.currentSnapshot`, and runs
  * `optimize` and `vacuum(KeepVersions)` on every table. An untraced run
  * has `Cycles` cycles.
  *
  * A traced cycle calls the public functions `Pipeline.run` composes, in
  * the same order and with the same concurrency, so each layer's time is
  * visible; an untraced cycle calls `Pipeline.run` itself. A traced run has
  * four cycles, untraced, traced, traced, untraced, so the two pairs of
  * days give the tracing overhead with the warm-up trend cancelled. */
final class EtlWorkload(r: Runner) {
  import EtlWorkload._
  private val conf = r.conf
  private val drops = conf.workDir.resolve("drops")
  private val clean = conf.workDir.resolve("clean")
  private val wh = conf.workDir.resolve("warehouse")
  private var gen: Drops.Run = _
  private var parts: Seq[Drops.Part] = Nil
  var storageAmp = 0.0
  private val phases: Seq[String] =
    if (conf.trace) Seq("untraced", "traced", "traced", "untraced") else Seq.fill(Cycles)("timed")

  /** Generate the drops (repeated by each set-up). */
  def generate(): Unit = {
    Runner.rmrf(drops)
    if (parts.isEmpty) parts = Drops.parts(r.spark, conf.sfDir)
    gen = new Drops.Run(conf.seed, parts, 1 + phases.size, drops)
  }

  /** The initial load: day 0's drop (every product new) into a fresh
    * warehouse, and its read. It also warms the JIT on the timed code. */
  def prepare(): Unit = {
    Seq(clean, wh).foreach(Runner.rmrf)
    val res = Pipeline.run(r.spark, gen.dayDir(0).toString, clean.toString, wh.toString,
      Drops.Competitors)
    require(res.forall(_.ok), s"initial load failed: $res")
    read()
  }

  def shares: Map[String, Double] = gen.shares
  def dropsDigest: String = gen.digest

  private def tbl(n: String): SnapshotTable = SnapshotTable(wh.resolve(n).toString)

  /** Pipeline.run, or its decomposition into the public calls it makes. */
  private def runDay(raw: String): Seq[Pipeline.StageResult] =
    if (!r.tracing) Pipeline.run(r.spark, raw, clean.toString, wh.toString, Drops.Competitors)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val comps = Drops.Competitors
      val jobs0 = r.probe.jobsSoFar
      val cleanResults = r.span("etl.clean_s") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, math.min(comps.size, 4)))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.sequence(comps.map { c =>
          Future {
            try {
              Pipeline.withRetry() { CleanJob.run(r.spark, raw, clean.toString, Seq(c)) }
              Pipeline.StageResult(c, "clean", ok = true, None)
            } catch { case e: Throwable => Pipeline.StageResult(c, "clean", ok = false, Some(e.getMessage)) }
          }
        }), Duration.Inf)
        finally pool.shutdown()
      }
      r.count("etl.clean_jobs", (r.probe.jobsSoFar - jobs0).toDouble)
      val loadResults = comps.map { c =>
        try {
          Pipeline.withRetry() { loadCompetitor(c) }
          Pipeline.StageResult(c, "load", ok = true, None)
        } catch { case e: Throwable => Pipeline.StageResult(c, "load", ok = false, Some(e.getMessage)) }
      }
      val results = cleanResults ++ loadResults
      val spark = r.spark
      import spark.implicits._
      val logRows = results.map(x => (x.competitor, java.time.LocalDate.now().toString,
          x.error.getOrElse("no error")))
        .toDF("competitor_name", "scraped_at", "error_details")
        .withColumn("status", graft.functions.Scalars.statusOf(col("error_details")))
        .withColumn("scraped_at", to_date(col("scraped_at")))
      commit("logs")(tbl("logs").commit(logRows))
      results
    }

  /** One traced commit: its time, and the files it added to the warehouse. */
  private def commit[T](table: String)(body: => T): T = {
    val before = r.listing(wh.resolve(table))
    val out = r.span("sources.commit_s")(body)
    val added = r.listing(wh.resolve(table)).filter { case (p, _) => !before.contains(p) }
    r.count("sources.commits", 1)
    r.count("sources.bytes_written", added.values.sum.toDouble)
    out
  }

  /** Pipeline.loadCompetitor, call by call (its content key included). */
  private def loadCompetitor(c: String): Unit = {
    val productsPath = clean.resolve(s"${c}_products.ndjson").toFile
    if (productsPath.exists()) {
      val batch = Tables.ndjson(r.spark, graft.schema.Schemas.cleanProduct, productsPath.getAbsolutePath)
        .withColumn("scraped_at", to_date(col("scraped_at")))
      val key = contentKey(productsPath, c)
      val names = Seq("competitors", "products", "features", "product_prices")
      val done = r.span("sources.tag_check_s")(names.forall(n => tbl(n).tagCommitted(key)))
      if (!done) {
        val state = r.span("streaming.load_state_s")(StreamingJobs.loadState(r.spark, wh.toString))
        val delta = r.span("etl.stage_s")(WarehouseLoad.stageProducts(state, batch))
        Seq("competitors" -> delta.competitors, "products" -> delta.products,
          "features" -> delta.features, "product_prices" -> delta.prices).foreach { case (n, df) =>
          commit(n)(tbl(n).commitOnce(key, df))
        }
      }
    }
    val packsPath = clean.resolve(s"${c}_packs.ndjson").toFile
    if (packsPath.exists()) {
      val st = r.span("streaming.load_state_s")(StreamingJobs.loadState(r.spark, wh.toString))
      val rawPacks = Tables.ndjson(r.spark, graft.schema.Schemas.rawPack, packsPath.getAbsolutePath)
      val staged = r.span("etl.stage_s")(WarehouseLoad.stagePacks(st, rawPacks))
        .withColumn("scraped_at", to_date(col("scraped_at")))
      commit("packs")(tbl("packs").commitOnce(contentKey(packsPath, s"packs_$c"), staged))
    }
  }

  /** Read the current snapshot into the no-op sink: rows and the sum of
    * current prices in cents, observed in the same execution. */
  private def read(): (Long, Long) = {
    val state = r.span("streaming.load_state_s")(StreamingJobs.loadState(r.spark, wh.toString))
    r.span("sources.read_s") {
      val snap = WarehouseLoad.currentSnapshot(state)
      val obs = Observation("snapshot")
      snap.observe(obs, count(lit(1)).as("n"),
          coalesce(sum(round(col("cur_price") * 100).cast("long")), lit(0L)).as("cents"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      (m("n").asInstanceOf[Long], m("cents").asInstanceOf[Long])
    }
  }

  private def maintain(): Unit = WarehouseTables.foreach { n =>
    val t = tbl(n)
    val before = if (r.tracing) r.listing(wh.resolve(n)) else Map.empty[String, Long]
    r.span("sources.optimize_s")(t.optimize(r.spark))
    if (r.tracing) r.count("sources.bytes_rewritten",
      r.listing(wh.resolve(n)).filter { case (p, _) => !before.contains(p) }.values.sum.toDouble)
    r.span("sources.vacuum_s")(t.vacuum(KeepVersions))
  }

  /** Warehouse contents against the reference model (untimed). */
  private def checkTables(d: Int): Option[String] = {
    val e = gen.expectedAfter(d)
    val got = WarehouseTables.map(n => n -> tbl(n).read(r.spark).count()).toMap
    val want = Map("competitors" -> e.competitors, "products" -> e.products,
      "features" -> e.features, "product_prices" -> e.prices, "packs" -> e.packs, "logs" -> e.logs)
    val distinct = WarehouseLoad.currentSnapshot(StreamingJobs.loadState(r.spark, wh.toString))
      .select("product_uuid").distinct().count()
    val bad = want.collect { case (n, w) if got(n) != w => s"$n ${got(n)} != model $w" }.toSeq ++
      (if (distinct != e.products) Seq(s"current rows per product: $distinct uuids != ${e.products}") else Nil)
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  def run(): Unit = {
    for ((phase, i) <- phases.zipWithIndex) {
      val d = i + 1
      r.phase = phase
      r.op("day", s"day_$d")(runDay(gen.dayDir(d).toString)) { res =>
        val bad = res.filterNot(_.ok)
        if (bad.isEmpty) None else Some(bad.map(b => s"${b.competitor}/${b.stage}: ${b.error}").mkString("; "))
      }
      val e = gen.expectedAfter(d)
      r.op("read", s"read_$d")(read()) { case (rows, cents) =>
        if (rows != e.products) Some(s"snapshot rows $rows != model ${e.products}")
        else if (cents != e.currentPriceCents) Some(s"current price sum $cents != model ${e.currentPriceCents}")
        else None
      }
      r.op("maintenance", s"maintenance_$d")(maintain())(_ => checkTables(d))
    }
    if (conf.trace) storageAmp = amplification()
  }

  /** Warehouse bytes on disk over the bytes of its current snapshots
    * written once as fresh parquet. */
  private def amplification(): Double = {
    val fresh = conf.workDir.resolve("fresh")
    WarehouseTables.foreach(n => tbl(n).read(r.spark).write.mode("overwrite").parquet(fresh.resolve(n).toString))
    val freshBytes = r.listing(fresh).filter(_._1.endsWith(".parquet")).values.sum.toDouble
    Runner.rmrf(fresh)
    r.listing(wh).values.sum / freshBytes
  }

  private def okOps(kind: String, phase: String => Boolean): Seq[Op] =
    r.ops.filter(o => o.kind == kind && o.ok && phase(o.phase)).toSeq

  /** Per-layer figures that describe the warehouse as a whole. */
  def warehouseLayers(): Map[String, Double] = {
    val all = r.listing(wh)
    val days = okOps("day", _ != "warm").map(_.latencyS)
    val maint = okOps("maintenance", _ == (if (conf.trace) "traced" else "timed")).map(_.latencyS)
    Map("sources.files" -> all.keys.count(_.endsWith(".parquet")).toDouble,
      "sources.manifest_bytes" -> all.filter(_._1.contains("_manifests")).values.sum.toDouble,
      "sources.storage_amp" -> storageAmp,
      "etl.day_s_growth" -> (if (days.isEmpty) 0.0 else days.last / days.head),
      "sources.maintenance_s" -> (if (maint.isEmpty) 0.0 else Stats.median(maint)))
  }

  /** Days loaded per second of timed latency (days, reads, maintenance),
    * and the quantiles of every timed operation's latency over its kind's
    * reference latency. */
  def endToEnd(): Map[String, Double] = {
    val timedOps = r.ops.filter(_.phase == "timed").toSeq
    val rel = timedOps.filter(_.ok).map(o => o.latencyS / ReferenceS(o.kind))
    Map(
      "ops_per_s" -> okOps("day", _ == "timed").size / timedOps.map(_.latencyS).sum,
      "op_rel.p50" -> Stats.median(rel),
      "op_rel.p75" -> Stats.quantile(rel, 0.75))
  }

  /** Traced over untraced day latency, minus 1, for the pairs (2, 1) and
    * (3, 4); the median. */
  def traceOverhead(): Double = {
    val day = okOps("day", _ => true).map(o => o.name -> o.latencyS).toMap
    val pairs = Seq("day_2" -> "day_1", "day_3" -> "day_4").collect {
      case (t, u) if day.contains(t) && day.contains(u) => day(t) / day(u) - 1.0
    }
    if (pairs.isEmpty) 0.0 else Stats.median(pairs)
  }
}

object EtlWorkload {
  val Cycles = 2
  /** Latency (s) of each operation kind on the reference host (median of
    * five runs); the normaliser of `op_rel.*`. */
  val ReferenceS: Map[String, Double] = Map("day" -> 7.8, "read" -> 1.2, "maintenance" -> 1.8)
  val KeepVersions = 7
  val WarehouseTables: Seq[String] = Seq("competitors", "products", "features", "product_prices", "packs", "logs")

  /** The load's idempotency key, computed as `Pipeline` does: md5 over the
    * cleaned output's file names and bytes, in name order. */
  def contentKey(path: java.io.File, prefix: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(feed)
      else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
        md.update(f.getName.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f.toPath))
      }
    feed(path)
    s"load_${prefix}_" + md.digest().map("%02x".format(_)).mkString
  }
}
