package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.etl.WarehouseLoad
import graft.etl.WarehouseLoad.{Delta, State}
import graft.schema.Schemas
import java.sql.Date

/** Golden scenarios from FIXTURES.md A6 for the SCD warehouse load
  * (dags/bigquery.py:223-333 semantics). */
class WarehouseLoadSpec extends SparkTestBase {

  private def df(schema: org.apache.spark.sql.types.StructType, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  private def empty(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def emptyState: State = State(
    competitors = empty(Schemas.competitors),
    products = empty(Schemas.products),
    features = empty(Schemas.features),
    prices = empty(Schemas.productPrices),
    packs = empty(Schemas.packs))

  /** One cleaned product record (Schemas.cleanProduct with DateType scraped_at). */
  private def productRow(name: String, price: Double, day: String,
                         data: Double = 15.0, minutes: Any = -1.0,
                         sms: Any = -1L, up: Any = 20.0, down: Any = 1000.0,
                         competitor: String = "mobileviking"): Row =
    Row(name, competitor, "mobile_prepaid", s"https://x/$name", price,
      day, data, minutes, sms, up, down)

  private def batch(rows: Row*): DataFrame = {
    val strs = df(Schemas.cleanProduct, rows: _*)
    strs.withColumn("scraped_at", to_date(col("scraped_at")))
  }

  private def applyDelta(s: State, d: Delta): State = State(
    competitors = s.competitors.unionByName(d.competitors),
    products = s.products.unionByName(d.products),
    features = s.features.unionByName(d.features),
    prices = s.prices.unionByName(d.prices),
    packs = s.packs)

  test("scenario 1: fresh load (new-competitor fast path) loads everything") {
    val b = batch(productRow("mobile_prepaid_15_gb", 15.0, "2023-10-05"),
                  productRow("fast_internet", 45.0, "2023-10-05"))
    val delta = WarehouseLoad.stageProducts(emptyState, b)
    assert(delta.competitors.count() === 1)
    assert(delta.products.count() === 2)
    assert(delta.features.count() === 2)
    assert(delta.prices.count() === 2)
    // FK chain intact: every product's feature_uuid exists in features
    val joined = delta.products.select(col("feature_uuid"))
      .join(delta.features.select(col("feature_uuid")), Seq("feature_uuid"))
    assert(joined.count() === 2)
    // surrogate keys deterministic: re-staging yields identical uuids
    val again = WarehouseLoad.stageProducts(emptyState, b)
    assert(delta.products.select("product_uuid").except(
      again.products.select("product_uuid")).count() === 0)
  }

  test("scenario 2: idempotent re-load of identical batch stages 0 rows") {
    val b = batch(productRow("mobile_prepaid_15_gb", 15.0, "2023-10-05"))
    val s1 = applyDelta(emptyState, WarehouseLoad.stageProducts(emptyState, b))
    val b2 = batch(productRow("mobile_prepaid_15_gb", 15.0, "2023-10-06"))
    val delta2 = WarehouseLoad.stageProducts(s1, b2)
    assert(delta2.competitors.count() === 0)
    assert(delta2.products.count() === 0)
    assert(delta2.features.count() === 0)
    assert(delta2.prices.count() === 0)
  }

  test("scenario 3: price-only change stages exactly 1 price row, 0 features") {
    val b = batch(productRow("mobile_prepaid_15_gb", 15.0, "2023-10-05"))
    val s1 = applyDelta(emptyState, WarehouseLoad.stageProducts(emptyState, b))
    val b2 = batch(productRow("mobile_prepaid_15_gb", 17.5, "2023-10-06"))
    val delta2 = WarehouseLoad.stageProducts(s1, b2)
    assert(delta2.products.count() === 0)
    assert(delta2.features.count() === 0)
    assert(delta2.prices.count() === 1)
    val p = delta2.prices.collect()(0)
    assert(p.getAs[Double]("price") === 17.5)
    // bound to the product's stored feature_uuid (dags/bigquery.py:311-312)
    val storedFk = s1.products.collect()(0).getAs[String]("feature_uuid")
    assert(p.getAs[String]("feature_uuid") === storedFk)
  }

  test("scenario 4: feature change stages 1 feature + price rows (faithful double-stage)") {
    val b = batch(productRow("mobile_prepaid_15_gb", 15.0, "2023-10-05", data = 15.0))
    val s1 = applyDelta(emptyState, WarehouseLoad.stageProducts(emptyState, b))
    // data changes, price unchanged
    val b2 = batch(productRow("mobile_prepaid_15_gb", 15.0, "2023-10-06", data = 20.0))
    val delta2 = WarehouseLoad.stageProducts(s1, b2)
    assert(delta2.products.count() === 0)
    assert(delta2.features.count() === 1)
    val f = delta2.features.collect()(0)
    assert(f.getAs[Double]("data") === 20.0)
    // product_uuid rebound to the existing product
    assert(f.getAs[String]("product_uuid") ===
      s1.products.collect()(0).getAs[String]("product_uuid"))
    // price unchanged → only the feature-branch price row is staged
    assert(delta2.prices.count() === 1)
  }

  test("scenario 4b: feature AND price change double-stages the price (faithful)") {
    val b = batch(productRow("mobile_prepaid_15_gb", 15.0, "2023-10-05", data = 15.0))
    val s1 = applyDelta(emptyState, WarehouseLoad.stageProducts(emptyState, b))
    val b2 = batch(productRow("mobile_prepaid_15_gb", 19.0, "2023-10-06", data = 20.0))
    val delta2 = WarehouseLoad.stageProducts(s1, b2)
    assert(delta2.features.count() === 1)
    // both the feature branch and the price branch stage a price row —
    // exactly what the reference's aliased price_data append does
    assert(delta2.prices.count() === 2)
    assert(delta2.prices.select("price").collect().map(_.getDouble(0)).toSeq === Seq(19.0, 19.0))
  }

  test("scenario 5: pack anti-join inserts only absent (competitor, pack) pairs") {
    val packs = df(Schemas.rawPack,
      Row("mobileviking", "pack_a", "https://x", null, 50.0, "2023-10-05"),
      Row("mobileviking", "pack_b", "https://x", null, 60.0, "2023-10-05"))
    val s = emptyState.copy(packs = df(Schemas.packs,
      Row("mobileviking", "pack_a", "https://x", null, 45.0,
        Date.valueOf("2023-09-01"), null, null)))
    val staged = WarehouseLoad.stagePacks(s, packs)
    assert(staged.count() === 1)
    assert(staged.collect()(0).getAs[String]("pack_name") === "pack_b")
  }

  test("faithful: within-batch duplicate records are staged per-record, like the reference loop") {
    // load_products_to_bq iterates the batch with no in-batch dedup
    // (dags/bigquery.py:276-326) — a product scraped twice in one batch
    // stages twice. Deterministic sha2 keys make the duplicates carry
    // the SAME surrogate uuids (visible, diagnosable), unlike uuid4.
    val b = batch(productRow("dup_product", 15.0, "2023-10-05"),
                  productRow("dup_product", 15.0, "2023-10-05"))
    val delta = WarehouseLoad.stageProducts(emptyState, b)
    assert(delta.products.count() === 2)
    assert(delta.products.select("product_uuid").distinct().count() === 1)
    assert(delta.features.count() === 2)
    assert(delta.prices.count() === 2)
  }

  test("currentSnapshot: one row per product carrying the latest feature and price") {
    val b = batch(productRow("p1", 10.0, "2023-10-01", data = 1.0))
    val s1 = applyDelta(emptyState, WarehouseLoad.stageProducts(emptyState, b))
    // feature change + price change create second versions
    val b2 = batch(productRow("p1", 12.0, "2023-10-02", data = 2.0))
    val s2 = applyDelta(s1, WarehouseLoad.stageProducts(s1, b2))
    val snap = WarehouseLoad.currentSnapshot(s2).collect()
    assert(snap.length === 1)
    val r = snap(0)
    assert(r.getAs[Double]("data") === 2.0, "snapshot must carry the NEWEST feature")
    assert(r.getAs[Double]("cur_price") === 12.0, "snapshot must carry the NEWEST price")
    // the faithful (oldest-version) view is still available
    val faithful = WarehouseLoad.currentSnapshot(s2, orderDesc = false).collect()(0)
    assert(faithful.getAs[Double]("data") === 1.0)
  }

  test("faithful ASC top-1: current version is the OLDEST feature row") {
    // two feature versions exist; reference compares against the oldest
    val b = batch(productRow("p1", 10.0, "2023-10-01", data = 1.0))
    val s1 = applyDelta(emptyState, WarehouseLoad.stageProducts(emptyState, b))
    val b2 = batch(productRow("p1", 10.0, "2023-10-02", data = 2.0))
    val s2 = applyDelta(s1, WarehouseLoad.stageProducts(s1, b2))
    assert(s2.features.count() === 2)
    // incoming equals the NEWEST version (data=2.0) but differs from the
    // oldest → reference semantics re-stage it (the A→B→A flapping bug)
    val b3 = batch(productRow("p1", 10.0, "2023-10-03", data = 2.0))
    val delta3 = WarehouseLoad.stageProducts(s2, b3)
    assert(delta3.features.count() === 1)
    // with the orderDesc fix the same batch stages nothing; both
    // directions can now run side-by-side (parameter, not global state)
    assert(WarehouseLoad.stageProducts(s2, b3, orderDesc = true)
      .features.count() === 0)
    assert(WarehouseLoad.stageProducts(s2, b3).features.count() === 1)
  }

  /** sha2-256 hex of the `|`-joined parts: Scalars.surrogateKey, in Scala. */
  private def sha(parts: String*): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("|").getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Rows as sorted value lists: a multiset compare that shows the rows. */
  private def shown(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("(", ", ", ")")).sorted

  test("one probe stages every branch's exact rows, oldest- and newest-version") {
    val mv = "mobileviking"
    val sc = "scarlet"
    val (d1, d2, d3) = ("2023-10-01", "2023-10-02", "2023-10-03")
    def pu(n: String, c: String = mv) = sha("pr", sha("c", c), n)
    def fu(n: String, day: String, c: String = mv) = sha("f", pu(n, c), day)
    def stored(n: String) = fu(n, d1) // every existing product's feature_uuid
    def featureRow(n: String, day: String, data: Double = 15.0,
                   minutes: Any = -1.0, up: Any = 20.0) =
      Row(fu(n, day), pu(n), n, s"https://x/$n", Date.valueOf(day),
        data, minutes, -1L, up, 1000.0)
    def priceRow(n: String, day: String, price: Double) =
      Row(sha("pc", stored(n), day), stored(n), price, Date.valueOf(day))

    val existing = Seq("same", "price_only", "feat_only", "feat_price",
      "nulls", "null_gain", "flip", "sameday")
    val history = State(
      competitors = df(Schemas.competitors, Row(sha("c", mv), mv, Date.valueOf(d1))),
      products = df(Schemas.products, existing.map(n => Row(pu(n), n,
        "mobile_prepaid", mv, sha("c", mv), stored(n), Date.valueOf(d1))): _*),
      features = df(Schemas.features,
        Seq("same", "price_only", "feat_only", "feat_price").map(featureRow(_, d1)) ++
        Seq(featureRow("nulls", d1, minutes = null),
          featureRow("null_gain", d1, up = null),
          // flip: the oldest and the newest version differ
          featureRow("flip", d1, data = 1.0), featureRow("flip", d2, data = 2.0),
          // sameday: the newest version is stored twice on the same day
          featureRow("sameday", d1, data = 1.0),
          featureRow("sameday", d2, data = 2.0), featureRow("sameday", d2, data = 2.0)): _*),
      prices = df(Schemas.productPrices,
        Seq("same", "price_only", "feat_only", "feat_price", "nulls", "null_gain")
          .map(priceRow(_, d1, 10.0)) ++
        Seq(priceRow("flip", d1, 5.0), priceRow("flip", d2, 6.0),
          priceRow("sameday", d1, 7.0),
          priceRow("sameday", d2, 8.0), priceRow("sameday", d2, 8.0)): _*),
      packs = empty(Schemas.packs))

    val b = batch(
      productRow("same", 10.0, d3),
      productRow("price_only", 12.0, d3),
      productRow("feat_only", 10.0, d3, data = 20.0),
      productRow("feat_price", 12.0, d3, data = 20.0),
      productRow("nulls", 10.0, d3, minutes = null), // null <=> null: unchanged
      productRow("null_gain", 10.0, d3, up = 50.0), // null -> value: changed
      productRow("flip", 6.0, d3, data = 2.0), // equals the newest version
      productRow("sameday", 8.0, d3, data = 2.0), // equals the same-day newest
      productRow("new_p", 9.0, d3, data = 30.0),
      productRow("s1", 40.0, d3, competitor = sc)) // new competitor

    val newRows = Seq("new_p" -> mv, "s1" -> sc)
    val newData = Map("new_p" -> 30.0, "s1" -> 15.0)
    val price = Map("same" -> 10.0, "price_only" -> 12.0, "feat_only" -> 10.0,
      "feat_price" -> 12.0, "nulls" -> 10.0, "null_gain" -> 10.0,
      "flip" -> 6.0, "sameday" -> 8.0, "new_p" -> 9.0, "s1" -> 40.0)
    def stagedFeature(n: String, c: String = mv) = {
      val data = newData.getOrElse(n, if (Set("feat_only", "feat_price")(n)) 20.0
        else if (Set("flip", "sameday")(n)) 2.0 else 15.0)
      val up = if (n == "null_gain") 50.0 else 20.0
      Row(fu(n, d3, c), pu(n, c), n, s"https://x/$n", Date.valueOf(d3),
        data, -1.0, -1L, up, 1000.0)
    }
    def existingPrice(n: String) = Row(sha("pc", stored(n), d3), stored(n), price(n),
      Date.valueOf(d3))

    val expCompetitors = Seq(Row(sha("c", sc), sc, Date.valueOf(d3)))
    val expProducts = newRows.map { case (n, c) =>
      Row(pu(n, c), n, "mobile_prepaid", c, sha("c", c), fu(n, d3, c), Date.valueOf(d3)) }
    val newPrices = newRows.map { case (n, c) =>
      Row(sha("pc", fu(n, d3, c), d3), fu(n, d3, c), price(n), Date.valueOf(d3)) }
    // a feature change stages a feature row and a price row; a price
    // change against the probed version stages one more price row
    val bothDirections = Seq("feat_only", "feat_price", "null_gain")
    val oldestOnly = Seq("flip", "sameday")
    val expected = Map(
      false -> (
        newRows.map { case (n, c) => stagedFeature(n, c) } ++
          (bothDirections ++ oldestOnly).map(stagedFeature(_)),
        newPrices ++ Seq("price_only", "feat_only", "feat_price", "feat_price",
          "null_gain", "flip", "flip", "sameday", "sameday").map(existingPrice)),
      true -> (
        newRows.map { case (n, c) => stagedFeature(n, c) } ++
          bothDirections.map(stagedFeature(_)),
        newPrices ++ Seq("price_only", "feat_only", "feat_price", "feat_price",
          "null_gain").map(existingPrice)))

    for (orderDesc <- Seq(false, true)) {
      val delta = WarehouseLoad.stageProducts(history, b, orderDesc)
      try {
        val (expFeatures, expPrices) = expected(orderDesc)
        Seq(delta.competitors -> expCompetitors, delta.products -> expProducts,
            delta.features -> expFeatures, delta.prices -> expPrices).foreach {
          case (actual, exp) =>
            assert(shown(actual.collect().toSeq) === shown(exp), s"orderDesc=$orderDesc")
        }
      } finally delta.release()
    }
  }
}
