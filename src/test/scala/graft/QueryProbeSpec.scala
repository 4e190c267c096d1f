package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

/** QueryProbe charges a query only with its own jobs: another query running
  * at the same time in a different job group changes none of its counts. */
class QueryProbeSpec extends SparkTestBase {
  test("a concurrent query in another job group is not counted") {
    // two shuffling aggregates: each runs a map stage and a result stage
    def q1() = spark.range(0, 400000, 1, 8).selectExpr("id % 97 as k").groupBy("k").count().count()
    def q9() = spark.range(0, 400000, 1, 8).selectExpr("id % 13 as k", "id").groupBy("k").sum("id").count()
    q1()
    q9()
    val alone = QueryProbe.profile(spark)(q1())
    assert(alone.jobs > 0 && alone.tasks > 0)
    assert(alone.shuffleReadBytes > 0 && alone.shuffleWriteBytes > 0)

    val stop = new AtomicBoolean(false)
    val started = new CountDownLatch(1)
    val other = new Thread(() => {
      spark.sparkContext.setJobGroup("query_probe_spec_other", "concurrent query")
      while (!stop.get) {
        started.countDown()
        q9()
      }
    })
    other.start()
    started.await()
    val busy = try QueryProbe.profile(spark)(q1())
      finally { stop.set(true); other.join() }

    val cpus = spark.sparkContext.defaultParallelism
    assert(busy.taskS <= 1.05 * busy.wallS * cpus,
      s"task_s ${busy.taskS} on a ${busy.wallS} s wall x $cpus cpus")
    assert((busy.jobs, busy.stages, busy.tasks) == ((alone.jobs, alone.stages, alone.tasks)))
    // the shuffle of a fixed-size aggregate does not depend on the neighbour
    assert((busy.shuffleReadBytes, busy.shuffleWriteBytes) ==
      ((alone.shuffleReadBytes, alone.shuffleWriteBytes)))
  }
}
