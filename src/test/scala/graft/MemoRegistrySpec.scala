package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.col

/** The memo registry's two guarantees: one build per memo under
  * concurrent callers, and no memo outliving the data it was built from.
  */
class MemoRegistrySpec extends SparkTestBase {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  /** A directory holding one file, so the registry's listing is non-empty. */
  private def inputDir(): String = {
    val dir = Files.createTempDirectory("graft_memo")
    Files.writeString(dir.resolve("t.txt"), "x")
    dir.toString
  }

  test("concurrent callers of one memo share a single build") {
    val d = inputDir()
    val n = 8
    val calls = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val results = (0 until n).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            MemoStats.get("spec_single", spark, d) {
              calls.incrementAndGet()
              Thread.sleep(200)
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(calls.get == 1, s"build ran ${calls.get} times")
      assert(values.forall(_ eq values.head), "every caller must get the same instance")
    } finally pool.shutdown()
    assert(MemoStats.snapshot.contains("spec_single"))
  }

  test("a build that throws caches nothing and the next call builds again") {
    val d = inputDir()
    val calls = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      MemoStats.get[String]("spec_fails_once", spark, d) {
        calls.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(e.getMessage == "first build fails")
    val v = MemoStats.get("spec_fails_once", spark, d) { calls.incrementAndGet(); "built" }
    assert(v == "built" && calls.get == 2)
    assert(MemoStats.get("spec_fails_once", spark, d)("not again") == "built")
  }

  test("a build may get another memo") {
    val d = inputDir()
    val outer = MemoStats.get("spec_outer", spark, d) {
      MemoStats.get("spec_inner", spark, d)(20) + 1
    }
    assert(outer == 21)
    assert(MemoStats.get("spec_inner", spark, d)(0) == 20)
  }

  test("rewriting a memoized input gives fresh results and frees the stale checkpoint") {
    val dir = Files.createTempDirectory("graft_memo_sf")
    Files.list(Path.of(sf)).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val d = dir.toString
    def clusters(): Seq[String] =
      SparkEntry.queries("q_dedup_clusters")(spark, d).collect().map(_.toString).sorted.toSeq
    def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

    Blocks.reset(spark)
    val before = clusters()
    Blocks.sweep(spark, blocking = true)
    val protectedAfterBuild = Blocks.protectedCount
    val memoIds = persistentIds
    assert(protectedAfterBuild > 0 && memoIds.nonEmpty)

    // a filtered subset of a different byte length, so the change does
    // not depend on the file system's mtime resolution
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") % 3 =!= 0).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)

    val after = clusters()
    val changed = after != before
    assert(changed, "the rewritten corpus must change the clusters")
    Blocks.sweep(spark, blocking = true)
    assert(Blocks.protectedCount == protectedAfterBuild)
    assert((memoIds & persistentIds).isEmpty, "the superseded memo checkpoints must be freed")

    Blocks.reset(spark)
    val cold = clusters() == after
    assert(cold, "a warm run over changed data must equal a cold run")
  }
}
