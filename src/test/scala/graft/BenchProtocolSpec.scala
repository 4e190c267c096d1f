package graft

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** Pins the bench protocol: rotated full passes, the per-query min /
  * median / dispersion record, and that a query which throws is reported
  * as failed, never timed. */
class BenchProtocolSpec extends SparkTestBase {
  private val noLayers = Bench.Layers(0, 0, 0, QueryProbe.Profile(0, 0, 0, 0, 0, 0, 0, 0))
  private def ok(t: Double, gc: Long = 0L, memo: Long = 0L): Bench.Run =
    Right(Bench.Timing(t, gc, memo, noLayers))
  private val json = new ObjectMapper()

  test("every query runs once per pass, at K distinct positions") {
    for (n <- Seq(3, 4, 10, 417)) {
      val names = (0 until n).map(i => f"q_$i%03d").reverse
      val orders = (0 until Bench.Passes).map(Bench.passOrder(names, _))
      orders.foreach(o => assert(o.sorted == names.sorted, s"n=$n"))
      names.foreach { q =>
        val positions = orders.map(_.indexOf(q))
        assert(positions.distinct.size == Bench.Passes, s"n=$n $q at $positions")
      }
    }
    assert(Bench.passOrder(Seq("c", "a", "b", "d", "e", "f"), 1) ==
      Seq("c", "d", "e", "f", "a", "b"))
  }

  test("min, median, dispersion and the outlier flag on given timings") {
    assert(Bench.aggregate(Seq(ok(3.0, 7), ok(1.0, 5), ok(1.5, 9))) ==
      Right(Bench.Stats(min = 1.0, median = 1.5, dispersion = 3.0, gcMs = 5, noLayers)))
    val stable = Bench.aggregate(Seq(ok(2.2), ok(2.0), ok(2.1))).toOption.get
    assert(stable.min == 2.0 && stable.median == 2.1 && !stable.outlier)
    assert(math.abs(stable.dispersion - 1.1) < 1e-12)
    // a single stalled pass makes an outlier, but the min stays the
    // unstalled time
    val stalled = Bench.aggregate(Seq(ok(0.3), ok(9.0), ok(0.4))).toOption.get
    assert(stalled.outlier && stalled.min == 0.3 && stalled.median == 0.4)
    // dispersion exactly 2 is not an outlier
    assert(!Bench.aggregate(Seq(ok(1.0), ok(2.0), ok(1.5))).toOption.get.outlier)
    // a run that built a memo (q_er_pipeline's first pass paid the
    // fuzzy_pairs build) counts for the min and the median, not for the
    // dispersion
    val built = Bench.aggregate(Seq(ok(6.17, memo = 4900), ok(0.27), ok(0.23))).toOption.get
    assert(built.min == 0.23 && built.median == 0.27 && !built.outlier)
    assert(math.abs(built.dispersion - 0.27 / 0.23) < 1e-12)
    // every run built one: the dispersion spans them all
    assert(Bench.aggregate(Seq(ok(3.0, memo = 1), ok(1.0, memo = 1), ok(1.5, memo = 1)))
      .toOption.get.dispersion == 3.0)
  }

  test("a run that throws is failed: left out of the totals, counted in n_failed") {
    val boom = Bench.time(spark)(throw new IllegalStateException("bad \"plan\"\nline 2"))
    assert(boom == Left("java.lang.IllegalStateException: bad \"plan\"\nline 2"))
    assert(Bench.time(spark)(spark.range(1).toDF()).isRight)
    val passes = Seq(
      Map("q_a" -> ok(1.0), "q_b" -> ok(5.0), "q_c" -> ok(2.0, memo = 40)),
      Map("q_a" -> ok(1.2), "q_b" -> boom, "q_c" -> ok(3.0)),
      Map("q_a" -> ok(1.1), "q_b" -> ok(5.5), "q_c" -> ok(2.5)))
    val s = Bench.summarize(passes)
    assert(s.failed == Seq("q_b" -> boom.swap.toOption.get))
    assert(s.timed.map(_._1) == Seq("q_a", "q_c"))
    assert(math.abs(s.total - 3.0) < 1e-12)

    val out = json.readTree(Bench.line(s, memoSec = 0.5, sf = "/data/sf0.1"))
    assert(out.get("n_failed").asInt == 1)
    assert(out.get("n_queries").asInt == 2)
    assert(out.get("value").asDouble == 3.0)
    assert(out.get("sec_per_query").asDouble == 1.5)
    assert(out.get("total_with_memo").asDouble == 3.5)
    assert(out.get("queries").fieldNames.asScala.toSet == Set("q_a", "q_c"))

    val det = json.readTree(Bench.detail(s, passes, Map("m" -> 500L), "/data/sf0.1", "4"))
    assert(det.get("failed").get("q_b").asText == boom.swap.toOption.get)
    assert(det.get("queries").fieldNames.asScala.toSet == Set("q_a", "q_c"))
    assert(det.get("passes").size == Bench.Passes)
    assert(!det.get("passes").get(1).has("q_b") && det.get("passes").get(0).has("q_b"))
    assert(det.get("memo_runs").size == Bench.Passes)
    assert(det.get("memo_runs").get(0).get("q_c").asLong == 40)
    assert(det.get("memo_runs").get(0).size == 1 && det.get("memo_runs").get(1).isEmpty)
  }

  test("the stdout line keeps its keys and fits the 2000-character tail") {
    val timed = (0 until 417).map(i =>
      f"q_some_long_catalog_query_name_$i%03d" -> Bench.Stats(i * 0.01 + 0.1, 0.2, 1.0, 0, noLayers))
    val text = Bench.line(Bench.Summary(timed, Seq("q_x" -> "boom")), 12.0, "/data/sf0.1")
    assert(text.length <= 2000, text.length)
    val out = json.readTree(text)
    assert(out.fieldNames.asScala.toSet == Set("metric", "value", "unit", "n_queries",
      "sec_per_query", "protocol", "pre_retry_total", "n_retried", "n_failed",
      "memo_build_sec", "total_with_memo", "queries", "queries_omitted", "sf"))
    assert(out.get("protocol").asText == "min_of_3_rotated_passes+sweep")
    assert(out.get("n_retried").asInt == 0)
    assert(out.get("pre_retry_total").asDouble == out.get("value").asDouble)
    val kept = out.get("queries").size
    assert(kept > 0 && kept + out.get("queries_omitted").asInt == 417)
    // the kept entries are the slowest ones
    assert(out.get("queries").has("q_some_long_catalog_query_name_416"))
  }

  test("a timed run splits into construct and exec, and the detail file keeps the min run's layers") {
    // construction runs one job of its own (the collect), the count
    // shuffles once more
    val run = Bench.time(spark) {
      val keys = spark.range(0, 20000, 1, 4).selectExpr("id % 7 as k").distinct().collect()
      spark.range(0, 200000, 1, 4).selectExpr(s"id % ${keys.length} as k").groupBy("k").count()
    }
    val t = run.toOption.get
    val l = t.layers
    assert(l.constructMs + l.execMs == Math.round(t.s * 1000))
    assert(l.planMs >= 0 && l.planMs <= l.execMs)
    assert(l.probe.jobs >= 2 && l.probe.tasks >= l.probe.stages && l.probe.stages > 0)
    assert(l.probe.shuffleWriteBytes > 0 && l.probe.shuffleReadBytes > 0)
    val cpus = spark.sparkContext.defaultParallelism
    assert(l.probe.taskS <= 1.05 * t.s * cpus)

    val passes = Seq(Map("q_a" -> ok(t.s + 2)), Map("q_a" -> run), Map("q_a" -> ok(t.s + 1)))
    val det = json.readTree(Bench.detail(Bench.summarize(passes), passes, Map.empty, "/data/sf0.1", "4"))
    val q = det.get("layers").get("q_a")
    assert(q.fieldNames.asScala.toSet == Set("construct_ms", "plan_ms", "exec_ms", "jobs", "stages",
      "tasks", "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"))
    assert(q.get("jobs").asInt == l.probe.jobs && q.get("exec_ms").asLong == l.execMs)
  }
}
