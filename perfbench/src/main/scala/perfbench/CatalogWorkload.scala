package perfbench

import scala.collection.mutable

/** `catalog`: closed loop, one client, over a fixed subset of the
  * relational and dedup_search query populations in a fixed order.
  *
  * The run's shape is fixed: set-up runs `Catalog.warmup` once, untimed,
  * over the smallest scale factor, to take the session's first-query
  * start-up; then one timed pass follows. Before each query `Blocks.reset`
  * drops every memo; the query is then built, planned and executed into
  * the no-op sink, its row count and digest checked, so a dedup query pays
  * all of its memo builds cold and a relational query has none.
  * `Blocks.sweep` follows each query.
  *
  * A traced run adds two passes after the timed one. In the first, the
  * queries at even positions are traced and the others not; in the second
  * the other way round. Each query so gives one traced and one untraced
  * warm execution, a pair for the tracing overhead. */
final class CatalogWorkload(r: Runner) {
  private val conf = r.conf
  val timed: Seq[String] = Catalog.timed
  private val expected = Catalog.loadExpected(conf.expected)
  private val sfName = new java.io.File(conf.sfDir).getName
  private val scratch = conf.workDir.resolve("tmp")
  /** Blocks.reset and Blocks.sweep time per phase, net of stolen CPU time. */
  val sweepS = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def check(q: String, d: Digest.Result): Option[String] =
    expected.get((q, sfName)) match {
      case None => Some(s"no recorded result for $q at $sfName")
      case Some(e) if e.rows != d.rows => Some(s"rows ${d.rows} != recorded ${e.rows}")
      case Some(e) if e.digest != d.digest => Some(s"digest ${d.digest} != recorded ${e.digest}")
      case _ => None
    }

  def prepare(): Unit = {
    Digest.run(Catalog.build(r.spark, Catalog.warmup, conf.smallDir))
    graft.Blocks.sweep(r.spark, blocking = true)
  }

  private def runQuery(q: String): Unit = {
    val memo0 = graft.MemoStats.snapshot
    val before = if (r.tracing) r.listing(scratch) else Map.empty[String, Long]
    r.op("query", q) {
      val df = r.span(s"${Catalog.layerOf(q)}.construct_s")(Catalog.build(r.spark, q, conf.sfDir))
      if (r.tracing) r.span("plans.plan_s")(df.queryExecution.executedPlan)
      r.span("exec_s")(Digest.run(df))
    }(d => check(q, d))
    // MemoStats accumulates build time per memo name; a build nested in
    // another build counts in both
    val built = graft.MemoStats.snapshot.filter { case (k, v) => !memo0.get(k).contains(v) }
    val extra = mutable.Map(
      "memo.build_s" -> built.map { case (k, v) => v - memo0.getOrElse(k, 0L) }.sum / 1000.0,
      "memo.builds" -> built.size.toDouble)
    if (r.tracing) {
      // snapshot fixtures written by the query land under the JVM's temp dir
      val added = r.listing(scratch).filter { case (p, _) => !before.contains(p) }
      extra("sources.files") = added.count { case (p, _) => p.endsWith(".parquet") }.toDouble
      extra("sources.bytes_written") = added.values.sum.toDouble
    }
    val o = r.ops.last
    r.ops(r.ops.size - 1) = o.copy(layers = o.layers ++ extra)
  }

  private def pass(phase: Int => String): Unit = timed.zipWithIndex.foreach { case (q, i) =>
    r.phase = phase(i)
    sweepS(r.phase) += HostCpu.time(graft.Blocks.reset(r.spark))._2
    runQuery(q)
    sweepS(r.phase) += HostCpu.time(graft.Blocks.sweep(r.spark, blocking = true))._2
  }

  def run(): Unit = {
    pass(_ => "timed")
    if (conf.trace) {
      pass(i => if (i % 2 == 0) "traced" else "untraced")
      pass(i => if (i % 2 == 0) "untraced" else "traced")
    }
  }

  private def latencies(phase: String): Map[String, Double] =
    r.ops.filter(o => o.phase == phase && o.ok).map(o => o.name -> o.latencyS).toMap

  /** Queries per second of the timed pass, and the quantiles of each
    * query's latency over its reference latency. */
  def endToEnd(): Map[String, Double] = {
    val timedOps = r.ops.filter(_.phase == "timed")
    val rel = latencies("timed").map { case (q, s) => s / Catalog.referenceS(q) }.toSeq
    Map(
      "ops_per_s" -> timedOps.count(_.ok) / (timedOps.map(_.latencyS).sum + sweepS("timed")),
      "op_rel.p50" -> Stats.median(rel),
      "op_rel.p75" -> Stats.quantile(rel, 0.75))
  }

  /** Traced over untraced latency of each query, minus 1; the median. */
  def traceOverhead(): Double = {
    val untraced = latencies("untraced")
    val pairs = latencies("traced").collect { case (q, t) if untraced.contains(q) => t / untraced(q) - 1.0 }
    if (pairs.isEmpty) 0.0 else Stats.median(pairs.toSeq)
  }
}
