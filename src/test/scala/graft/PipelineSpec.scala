package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.etl.Pipeline
import java.nio.file.Files

/** D1–D6 orchestration: staged clean→load run with per-competitor
  * failure isolation and audit logging. */
class PipelineSpec extends SparkTestBase {

  test("full pipeline run: clean + load + audit logs; bad competitor isolated") {
    val raw = Files.createTempDirectory("graft_pl_raw").toFile.getAbsolutePath
    val clean = Files.createTempDirectory("graft_pl_clean").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("graft_pl_wh").toFile.getAbsolutePath

    Files.writeString(java.nio.file.Paths.get(raw, "mobileviking_products.json"),
      """{"products": [
        |  {"product_name": "mobile_a", "competitor_name": "mobileviking",
        |   "product_category": "mobile_prepaid", "product_url": "https://mv/a",
        |   "price": 15.0, "scraped_at": "2023-10-05", "data": 15.0, "minutes": -1.0,
        |   "sms": -1, "upload_speed": "20mbps", "download_speed": "1gbps"}
        |]}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(raw, "mobileviking_packs.json"),
      """{"packs": [
        |  {"competitor_name": "mobileviking", "pack_name": "combo_a",
        |   "pack_url": "https://mv/combo", "pack_description": null,
        |   "price": 55.0, "scraped_at": "2023-10-05"}
        |]}""".stripMargin)
    // scarlet raw file is INVALID json → its clean stage fails, run continues
    Files.writeString(java.nio.file.Paths.get(raw, "scarlet_products.json"), "{not json")

    val results = Pipeline.run(spark, raw, clean, wh)
    val byKey = results.map(r => (r.competitor, r.stage) -> r.ok).toMap
    assert(byKey(("mobileviking", "clean")))
    assert(byKey(("mobileviking", "load")))
    // D3: scarlet failure recorded, didn't abort the run
    assert(!byKey(("scarlet", "clean")))

    val st = graft.streaming.StreamingJobs.loadState(spark, wh)
    assert(st.competitors.count() === 1)
    assert(st.products.count() === 1)
    assert(st.features.count() === 1)
    assert(st.packs.count() === 1)

    // V2 audit rows: one per (competitor, stage), failed stage marked
    val logs = graft.sources.SnapshotTable(s"$wh/logs").read(spark)
    assert(logs.count() === 4)
    assert(logs.filter(col("status") === "failed").count() >= 1)

    // re-run over the same inputs: SCD makes it a no-op (idempotence)
    Pipeline.run(spark, raw, clean, wh)
    val st2 = graft.streaming.StreamingJobs.loadState(spark, wh)
    assert(st2.products.count() === 1)
    assert(st2.features.count() === 1)
    assert(st2.packs.count() === 1)

    // retry re-entry of the load alone (what withRetry does after a
    // transient failure): the commit marker makes the SCD append a
    // no-op even though version-append staging against the faithful
    // oldest-version probe would otherwise re-stage
    Pipeline.loadCompetitor(spark, clean, wh, "mobileviking")
    Pipeline.loadCompetitor(spark, clean, wh, "mobileviking")
    val st3 = graft.streaming.StreamingJobs.loadState(spark, wh)
    assert(st3.features.count() === 1 && st3.prices.count() === 1,
      "retried load must not append duplicate versions")
  }

  /** One cleaned single-product batch for `day`, written under `raw`. */
  private def cleanedBatch(raw: String, price: Double, day: String) = {
    val f = java.nio.file.Paths.get(raw, s"drop_$day.ndjson")
    Files.writeString(f,
      s"""{"product_name": "mobile_a", "competitor_name": "mobileviking",
         | "product_category": "mobile_prepaid", "product_url": "https://mv/a",
         | "price": $price, "scraped_at": "$day", "data": 15.0, "minutes": -1.0,
         | "sms": -1, "upload_speed": "20mbps", "download_speed": "1gbps"}"""
        .stripMargin.replaceAll("\n", ""))
    graft.etl.CleanJob.cleanProducts(
        spark.read.schema(graft.schema.Schemas.rawProduct).json(f.toString))
      .withColumn("scraped_at", to_date(col("scraped_at")))
  }

  test("a load crashing mid-write leaves previous versions readable; the retry completes exactly once") {
    import graft.streaming.StreamingJobs
    import graft.sources.SnapshotTable
    val raw = Files.createTempDirectory("graft_crash_raw").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("graft_crash_wh").toFile.getAbsolutePath
    def cleanedBatch(price: Double, day: String) = this.cleanedBatch(raw, price, day)
    StreamingJobs.upsertOnce(cleanedBatch(15.0, "2023-10-05"), "k1", wh)
    val pricesTable = SnapshotTable(s"$wh/product_prices")
    val vPinned = pricesTable.currentVersion()
    assert(StreamingJobs.loadState(spark, wh).prices.count() === 1)

    // day 2 is a PRICE change — the exact batch whose replay the ASC
    // current-version probe would re-stage. Simulate a loader that
    // crashed after committing ONLY product_prices.
    val b2 = cleanedBatch(25.0, "2023-10-06")
    val delta2 = graft.etl.WarehouseLoad.stageProducts(
      StreamingJobs.loadState(spark, wh), b2)
    assert(pricesTable.commitOnce("k2", delta2.prices).nonEmpty)
    // the crash tore nothing: the pinned pre-load version reads intact
    assert(pricesTable.readAt(spark, vPinned).count() === 1)

    // retry of the whole load: prices (tag present) must not
    // double-append even though the recomputed delta stages the price
    // again; the other tables complete under the same tag
    StreamingJobs.upsertOnce(b2, "k2", wh)
    val st = StreamingJobs.loadState(spark, wh)
    assert(st.prices.count() === 2, "retried load double-appended the price delta")
    assert(st.features.count() === 1 && st.products.count() === 1)

    // a retry after full success plans nothing and changes nothing
    val vAfter = pricesTable.currentVersion()
    StreamingJobs.upsertOnce(b2, "k2", wh)
    assert(pricesTable.currentVersion() === vAfter)
    assert(StreamingJobs.loadState(spark, wh).prices.count() === 2)
  }

  test("an SCD load stages its batch once: bounded jobs per load, none for a replay") {
    import graft.streaming.StreamingJobs
    val raw = Files.createTempDirectory("graft_jobs_raw").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("graft_jobs_wh").toFile.getAbsolutePath
    StreamingJobs.upsertOnce(cleanedBatch(raw, 15.0, "2023-10-05"), "k1", wh)
    val b2 = cleanedBatch(raw, 25.0, "2023-10-06")
    // A price change onto an existing warehouse ran 22 jobs while each
    // of the four commits re-ran the staging joins and windows; with one
    // materialized probe it runs 12. The count is exact: jobs started
    // outside the caller's job group would lower it.
    val load = jobsOf(StreamingJobs.upsertOnce(b2, "k2", wh))
    assert(load === 12, s"price-change load ran $load jobs")
    assert(StreamingJobs.loadState(spark, wh).prices.count() === 2)
    // a fully replayed batch is four tag lookups and no Spark job
    assert(jobsOf(StreamingJobs.upsertOnce(b2, "k2", wh)) === 0)
  }

  test("upsertOnce releases its staging checkpoint, also when a commit throws") {
    import graft.streaming.StreamingJobs
    val raw = Files.createTempDirectory("graft_ck_raw").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("graft_ck_wh").toFile.getAbsolutePath
    // Spark tracks persistent RDDs weakly, so an unreleased checkpoint
    // would vanish from the count at the next GC. Holding every executed
    // plan keeps such a checkpoint reachable, and counted. RDDs of
    // earlier suites may still be collected meanwhile, so the check is
    // that no RDD persisted here is left, not a bare size compare.
    val held = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val holder = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = held.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = held.add(qe)
    }
    spark.listenerManager.register(holder)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      def persistent = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      Seq(15.0 -> "2023-10-05", 17.0 -> "2023-10-06", 19.0 -> "2023-10-07")
        .foreach { case (price, day) =>
          StreamingJobs.upsertOnce(cleanedBatch(raw, price, day), day, wh)
        }
      assert(StreamingJobs.loadState(spark, wh).prices.count() === 3)
      assert(persistent === 0, "three loads left staging checkpoints behind")

      // the prices commit refuses its batch; the four commits run
      // concurrently, so the other three land before the error surfaces
      val prices = graft.sources.SnapshotTable(s"$wh/product_prices")
      prices.addCheckConstraint(spark, "price_cap", "price < 20")
      val b4 = cleanedBatch(raw, 25.0, "2023-10-08")
      val e = intercept[Exception](StreamingJobs.upsertOnce(b4, "2023-10-08", wh))
      assert(e.getMessage.contains("price_cap"), e.getMessage)
      assert(persistent === 0, "a failed commit left the staging checkpoint behind")
      val landed = Seq("competitors", "products", "features").map(n =>
        n -> graft.sources.SnapshotTable(s"$wh/$n").tagCommitted("2023-10-08"))
      assert(landed.forall(_._2), s"tables beside the refused commit: $landed")
      assert(!prices.tagCommitted("2023-10-08"))

      // the retry commits only the missing table, exactly once
      prices.dropCheckConstraint("price_cap")
      StreamingJobs.upsertOnce(b4, "2023-10-08", wh)
      val vAfter = prices.currentVersion()
      StreamingJobs.upsertOnce(b4, "2023-10-08", wh)
      assert(prices.currentVersion() === vAfter)
      val st = StreamingJobs.loadState(spark, wh)
      assert(st.prices.count() === 4 && st.features.count() === 1 && st.products.count() === 1)
      assert(persistent === 0, "the retry left the staging checkpoint behind")
    } finally spark.listenerManager.unregister(holder)
  }

  /** One competitor's raw products and packs drops for `day` under `raw`,
    * `price` on its one product. */
  private def rawDrops(raw: String, competitor: String, price: Double,
                       day: String = "2023-10-05"): Unit = {
    Files.writeString(java.nio.file.Paths.get(raw, s"${competitor}_products.json"),
      s"""{"products": [
        |  {"product_name": "mobile_a", "competitor_name": "$competitor",
        |   "product_category": "mobile_prepaid", "product_url": "https://mv/a",
        |   "price": $price, "scraped_at": "$day", "data": 15.0, "minutes": -1.0,
        |   "sms": -1, "upload_speed": "20mbps", "download_speed": "1gbps"}
        |]}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(raw, s"${competitor}_packs.json"),
      s"""{"packs": [
        |  {"competitor_name": "$competitor", "pack_name": "combo_$price",
        |   "pack_url": "https://mv/combo", "pack_description": null,
        |   "price": 55.0, "scraped_at": "$day"}
        |]}""".stripMargin): Unit
  }

  test("a fanned-out run starts every Spark job under the caller's job group and leaves no thread") {
    val raw = Files.createTempDirectory("graft_fan_raw").toFile.getAbsolutePath
    val clean = Files.createTempDirectory("graft_fan_clean").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("graft_fan_wh").toFile.getAbsolutePath
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull): Unit
    }
    org.apache.spark.graft.BusDrain(sc)
    sc.addSparkListener(listener)
    // Two runs under two groups: threads kept from the first run would
    // start the second run's jobs under the first run's group.
    try Seq(("fan_out_a", 15.0, "2023-10-05"), ("fan_out_b", 25.0, "2023-10-06"))
      .foreach { case (group, price, day) =>
        Seq("mobileviking", "scarlet").foreach(rawDrops(raw, _, price, day))
        sc.setJobGroup(group, "fan-out")
        val results = try Pipeline.run(spark, raw, clean, wh) finally sc.clearJobGroup()
        assert(results.forall(_.ok), results)
        org.apache.spark.graft.BusDrain(sc)
        val seen = Iterator.continually(groups.poll()).takeWhile(_ != null).toSeq
        assert(seen.size > 10 && seen.forall(_ == group),
          s"jobs of the run under $group carried ${seen.groupBy(identity).view.mapValues(_.size).toMap}")
      } finally sc.removeSparkListener(listener)
    val st = graft.streaming.StreamingJobs.loadState(spark, wh)
    assert(st.prices.count() === 4 && st.packs.count() === 4)
    val left = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith("graft-fan-out-"))
    assert(left.isEmpty, left.map(_.getName).mkString(", "))
  }

  test("one failing header fails its competitor's clean stage; the other headers' writes still finish") {
    val raw = Files.createTempDirectory("graft_hdr_raw").toFile.getAbsolutePath
    val clean = Files.createTempDirectory("graft_hdr_clean").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("graft_hdr_wh").toFile.getAbsolutePath
    rawDrops(raw, "mobileviking", 15.0)
    rawDrops(raw, "scarlet", 15.0)
    Files.writeString(java.nio.file.Paths.get(raw, "scarlet_products.json"), "{not json")
    val byKey = Pipeline.run(spark, raw, clean, wh).map(r => (r.competitor, r.stage) -> r).toMap
    assert(byKey(("mobileviking", "clean")).ok)
    assert(!byKey(("scarlet", "clean")).ok, byKey(("scarlet", "clean")))
    assert(new java.io.File(clean, "scarlet_packs.ndjson/_SUCCESS").exists(),
      "the packs write beside the failing products write did not finish")
  }

  test("an empty products drop cleans to zero rows; its load commits no product change") {
    val raw = Files.createTempDirectory("graft_empty_raw").toFile.getAbsolutePath
    val clean = Files.createTempDirectory("graft_empty_clean").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("graft_empty_wh").toFile.getAbsolutePath
    rawDrops(raw, "mobileviking", 15.0)
    assert(Pipeline.run(spark, raw, clean, wh, Seq("mobileviking")).forall(_.ok))
    // the next day's scrape found no products: the wrapper holds an empty array
    rawDrops(raw, "mobileviking", 16.0, day = "2023-10-06")
    Files.writeString(java.nio.file.Paths.get(raw, "mobileviking_products.json"),
      """{"products": []}""")
    val day2 = Pipeline.run(spark, raw, clean, wh, Seq("mobileviking"))
    assert(day2.forall(_.ok), day2)
    val cleaned = graft.sources.Tables.ndjson(spark, graft.schema.Schemas.cleanProduct,
      s"$clean/mobileviking_products.ndjson")
    assert(cleaned.count() === 0)
    val st = graft.streaming.StreamingJobs.loadState(spark, wh)
    assert((st.competitors.count(), st.products.count(), st.features.count(), st.prices.count())
      === ((1L, 1L, 1L, 1L)))
    // the packs of the same day still load
    assert(st.packs.count() === 2)
  }
}
