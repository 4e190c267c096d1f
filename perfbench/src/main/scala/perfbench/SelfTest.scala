package perfbench

import java.nio.file.{Files, Path}

/** Self-tests of the benchmark's own machinery.
  *
  *  - The drop generator is a pure function of (seed, part): the same seed
  *    writes byte-identical files, another seed writes different ones.
  *  - A wrong or thrown result is a failed operation, never a time.
  *  - The probe scopes Spark counters to one operation: each query run
  *    alone and then by one of two concurrent clients in one session has
  *    the same job, stage and task counts both times; the concurrent
  *    queries' task counts add up to every task the listener saw; and no
  *    operation is charged more task time than 1.05 x its wall x cpus.
  */
object SelfTest {
  private def bytesOf(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    } finally s.close()
  }

  def apply(conf: Conf): Int = {
    val r = new Runner(conf)
    r.buildSession()
    var failures = 0
    def verdict(name: String, ok: Boolean, detail: String): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $name: $detail")
      if (!ok) failures += 1
    }

    val parts = Drops.parts(r.spark, conf.sfDir)
    val base = conf.workDir.resolve("selftest")
    Runner.rmrf(base)
    val a = new Drops.Run(conf.seed, parts, 3, base.resolve("a"))
    val b = new Drops.Run(conf.seed, parts, 3, base.resolve("b"))
    val c = new Drops.Run(conf.seed + 1, parts, 3, base.resolve("c"))
    val (fa, fb, fc) = (bytesOf(base.resolve("a")), bytesOf(base.resolve("b")), bytesOf(base.resolve("c")))
    verdict("same seed, byte-identical drops", fa == fb && a.digest == b.digest,
      s"${fa.size} files, sha256 ${a.digest.take(16)}")
    verdict("other seed, different drops", fa.keySet == fc.keySet && fa != fc && a.digest != c.digest,
      s"sha256 ${c.digest.take(16)}")
    val sh = a.shares
    verdict("drop shares near 3% / 1% / 2%",
      math.abs(sh("reprice_share") - Drops.RepriceP) < 0.01 &&
        math.abs(sh("feature_change_share") - Drops.FeatureP) < 0.005 &&
        math.abs(sh("churn_share") - Drops.ChurnP) < 0.01, sh.toString)
    Runner.rmrf(base)

    val q6 = Catalog.build(r.spark, "q_tpch_q6", conf.sfDir)
    r.op("query", "wrong digest")(Digest.run(q6))(d => if (d.digest == -1L) None else Some("mismatch"))
    r.op("query", "throws")(Catalog.build(r.spark, "q_no_such_query", conf.sfDir))(_ => None)
    verdict("wrong and thrown results fail", r.ops.forall(!_.ok) && r.ops.size == 2,
      r.ops.map(o => s"${o.name}: ${o.error.getOrElse("ok")}".take(60)).mkString("; "))

    // each query alone, then two clients at once in one session: a probe
    // that charged one client's work to the other's group would change the
    // counts, and one that missed work would not add up to the listener's
    // unscoped total
    val qs = Seq("q_tpch_q1", "q_tpch_q9", "q_tpch_q18", "q_snapshot_mor", "q_scd_load", "q_kcore")
    def scoped(q: String): (String, Double, SparkCounts) = {
      val t0 = System.nanoTime()
      val (_, c) = r.probe.scoped(q)(Digest.run(Catalog.build(r.spark, q, conf.sfDir)))
      (q, (System.nanoTime() - t0) / 1e9, c)
    }
    graft.Blocks.reset(r.spark)
    val memo0 = graft.MemoStats.snapshot
    val alone = qs.map(q => q -> scoped(q)._3).toMap
    verdict("self-test queries build no memo", graft.MemoStats.snapshot == memo0,
      "so a second run of each repeats the same jobs")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, SparkCounts)]()
    val tasks0 = r.probe.allTasks
    val threads = (0 until 2).map { t =>
      new Thread(() => qs.drop(t * 3).take(3).foreach(q => results.add(scoped(q))))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val unscoped = r.probe.allTasks - tasks0
    import scala.jdk.CollectionConverters._
    val conc = results.asScala.toSeq
    verdict("probe saw every operation", conc.size == qs.size, s"${conc.size} of ${qs.size}")
    conc.foreach { case (q, wall, c) =>
      val a = alone(q)
      verdict(s"probe counts $q", (c.jobs, c.stages, c.tasks) == ((a.jobs, a.stages, a.tasks)),
        s"concurrent jobs/stages/tasks ${c.jobs}/${c.stages}/${c.tasks}, alone ${a.jobs}/${a.stages}/${a.tasks}")
      verdict(s"probe bound $q", c.taskMs / 1000.0 <= 1.05 * wall * conf.cpus && c.taskMs > 0,
        f"task_s ${c.taskMs / 1000.0}%.2f, wall $wall%.2f s x ${conf.cpus} cpus")
    }
    verdict("scoped tasks add up to all tasks", conc.map(_._3.tasks).sum == unscoped,
      s"${conc.map(_._3.tasks).sum} scoped, $unscoped seen by the listener")
    r.spark.stop()
    if (failures == 0) 0 else 1
  }
}
