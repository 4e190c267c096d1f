package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Scalars.surrogateKey

/** Warehouse load (SURVEY.md §2.8): the reference's flagship
  * change-detecting star-schema load, re-expressed as one set-level
  * probe per batch instead of up-to-3-point-SELECTs-per-record
  * (dags/bigquery.py:223-333). The probe joins the batch to
  * competitors, products, the current feature version and the current
  * price, is materialized once, and feeds all four table deltas.
  *
  * Faithful semantics preserved:
  * - new-competitor fast path loads the whole batch with no probes
  *   (dags/bigquery.py:247-272);
  * - "current version" is the OLDEST row (`ORDER BY scraped_at` ASC
  *   LIMIT 1 — dags/bigquery.py:295,315; almost certainly a reference
  *   bug, kept as default — see `stageProducts`' orderDesc parameter);
  * - field compare ignores scraped_at + uuid columns and is null-safe
  *   the way Python `!=` is (None == None → no change) — `<=>` here
  *   (dags/bigquery.py:53-68);
  * - a feature change stages BOTH a feature version and a price row
  *   bound to the product's stored feature_uuid (the post-mutation
  *   aliasing of price_data at dags/bigquery.py:311-312), and the price
  *   branch can stage a second, identical price row — kept faithfully;
  * - products keep their original feature_uuid forever (never updated).
  *
  * Documented deviation (SURVEY §7.6): uuid4 surrogates are replaced by
  * deterministic sha2 keys so re-runs are idempotent and outputs
  * oracle-comparable.
  *
  * Scale: competitors is a tiny dim → broadcast joins; features/prices
  * current-version extraction is one ranking window partitioned by the
  * probe key (shuffle on key, no driver loops), run once per batch;
  * every delta is a DataFrame over the materialized probe that the
  * caller appends to its table and then releases.
  */
object WarehouseLoad {

  /** Rows staged for append, one DataFrame per warehouse table, each
    * a filter and projection of `probe`, the batch's materialized
    * change-detection probe. */
  case class Delta(competitors: DataFrame, products: DataFrame,
                   features: DataFrame, prices: DataFrame, probe: DataFrame) {
    /** Drop the probe's checkpoint. A local checkpoint has no lineage,
      * so no delta can be read afterwards: call this once the last one
      * has been committed. */
    def release(): Unit = graft.Blocks.release(probe)
  }

  /** Current snapshot of the warehouse (empty DFs for a fresh one). */
  case class State(competitors: DataFrame, products: DataFrame,
                   features: DataFrame, prices: DataFrame, packs: DataFrame)

  private def top1(df: DataFrame, key: String, orderDesc: Boolean): DataFrame = {
    val ord = if (orderDesc) col("scraped_at").desc else col("scraped_at").asc
    val w = Window.partitionBy(key).orderBy(ord)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  private def differs(pairs: Seq[(Column, Column)]): Column =
    pairs.map { case (a, b) => !(a <=> b) }.reduce(_ || _)

  /** Stage the full product/feature/price load for one cleaned-products
    * batch (one competitor, schema Schemas.cleanProduct with DateType
    * scraped_at) and return the Delta to append.
    *
    * The batch is joined ONCE to competitors, products, the current
    * feature version and the current price; every change decision is a
    * boolean column of that probe, and the probe is materialized with
    * `localCheckpoint` before this returns. The four deltas are filters
    * and projections over it, so committing them re-runs none of the
    * joins or windows. The caller owns the checkpoint: call
    * [[Delta.release]] after the last delta has been consumed.
    *
    * `orderDesc` picks the "current version" probe direction:
    * false = faithful reference ASC / oldest (dags/bigquery.py:295,315 —
    * almost certainly a reference bug, kept as the default); true = the
    * fixed DESC / newest probe. A parameter, not global state, so
    * concurrent loads with different directions can't race. */
  def stageProducts(state: State, batch: DataFrame,
                    orderDesc: Boolean = false): Delta = {
    // J3 dim lookup (broadcast — competitors is tiny)
    val resolved = batch
      .join(broadcast(state.competitors.select(col("competitor_name"),
        col("competitor_uuid").as("competitor_uuid_old"))),
        Seq("competitor_name"), "left")
      .withColumn("is_new_competitor", col("competitor_uuid_old").isNull)
      .withColumn("competitor_uuid", coalesce(col("competitor_uuid_old"),
        surrogateKey(lit("c"), col("competitor_name"))))
      .drop("competitor_uuid_old")

    // J4 product existence probe (left join on (competitor_uuid, product_name));
    // new competitor ⇒ fast path (no probe can match)
    val probed = resolved.join(
      state.products.select(col("competitor_uuid"), col("product_name"),
        col("product_uuid").as("existing_product_uuid"),
        col("feature_uuid").as("stored_feature_uuid")),
      Seq("competitor_uuid", "product_name"), "left")

    val scrapedStr = date_format(col("scraped_at"), "yyyy-MM-dd")
    val staged = probed
      .withColumn("product_uuid",
        coalesce(col("existing_product_uuid"),
          surrogateKey(lit("pr"), col("competitor_uuid"), col("product_name"))))
      .withColumn("feature_uuid", surrogateKey(lit("f"), col("product_uuid"), scrapedStr))

    // J5 current feature version per product and current price per
    // stored feature_uuid (faithful ASC top-1). Both are unique on their
    // key, so the left joins keep exactly the batch's rows.
    val curFeature = top1(state.features, "product_uuid", orderDesc).select(
      col("product_uuid"),
      col("product_name").as("cur_product_name"), col("product_url").as("cur_product_url"),
      col("data").as("cur_data"), col("minutes").as("cur_minutes"),
      col("sms").as("cur_sms"), col("upload_speed").as("cur_upload"),
      col("download_speed").as("cur_download"))
    val curPrice = top1(state.prices, "feature_uuid", orderDesc)
      .select(col("feature_uuid").as("stored_feature_uuid"), col("price").as("cur_price"))

    val isNew = col("existing_product_uuid").isNull
    val featureChanged = col("cur_product_name").isNull || differs(Seq(
      col("cur_product_name") -> col("product_name"),
      col("cur_product_url") -> col("product_url"),
      col("cur_data") -> col("data"),
      col("cur_minutes") -> col("minutes"),
      col("cur_sms") -> col("sms"),
      col("cur_upload") -> col("upload_speed"),
      col("cur_download") -> col("download_speed")))
    val priceChanged = col("cur_price").isNull || !(col("cur_price") <=> col("price"))
    val probe = staged
      .join(curFeature, Seq("product_uuid"), "left")
      .join(curPrice, Seq("stored_feature_uuid"), "left")
      .select(staged.columns.toIndexedSeq.map(col) ++ Seq(
        isNew.as("is_new_product"),
        (!isNew && featureChanged).as("feature_changed"),
        (!isNew && priceChanged).as("price_changed")): _*)
      .localCheckpoint()

    val newCompetitors = probe.filter(col("is_new_competitor"))
      .groupBy("competitor_name", "competitor_uuid")
      .agg(min(col("scraped_at")).as("created_at"))
      .select("competitor_uuid", "competitor_name", "created_at")

    val newProducts = probe.filter(col("is_new_product")).select(
      col("product_uuid"), col("product_name"), col("product_category"),
      col("competitor_name"), col("competitor_uuid"), col("feature_uuid"),
      col("scraped_at"))

    val newFeatures = probe.filter(col("is_new_product") || col("feature_changed"))
      .select(col("feature_uuid"), col("product_uuid"), col("product_name"),
        col("product_url"), col("scraped_at"), col("data"), col("minutes"),
        col("sms"), col("upload_speed"), col("download_speed"))

    // prices: new products bind to the fresh feature_uuid; existing
    // products bind to the product's STORED feature_uuid (the
    // price_data["feature_uuid"] rebind, dags/bigquery.py:311-312). A
    // feature change stages a price row whether or not the price moved,
    // so a feature AND price change stages two.
    val priceOf = (flag: String, fk: String) => probe.filter(col(flag)).select(
      surrogateKey(lit("pc"), col(fk), scrapedStr).as("price_uuid"),
      col(fk).as("feature_uuid"), col("price"), col("scraped_at"))

    Delta(
      competitors = newCompetitors,
      products = newProducts,
      features = newFeatures,
      prices = priceOf("is_new_product", "feature_uuid")
        .unionByName(priceOf("feature_changed", "stored_feature_uuid"))
        .unionByName(priceOf("price_changed", "stored_feature_uuid")),
      probe = probe)
  }

  /** Current-state view over the versioned warehouse: one row per
    * product with its competitor, CURRENT feature version, and CURRENT
    * price — what a consumer of the reference's warehouse reads daily.
    * `orderDesc = true` (newest-version) is the default here because a
    * *snapshot* wants the latest state; pass false to reproduce the
    * reference's oldest-version probe view. One ranking window per
    * versioned table + two broadcast-eligible joins — no driver loops,
    * scales with the fact tables. */
  def currentSnapshot(state: State, orderDesc: Boolean = true): DataFrame = {
    // scraped_at is a DATE: two same-day versions of the same key would
    // make a bare scraped_at window nondeterministic (stageProducts can
    // produce them — a same-day change even reuses the surrogate uuid).
    // A content-hash tiebreaker pins one, deterministically across runs.
    def top1Stable(df: DataFrame, key: String): DataFrame = {
      val ord = if (orderDesc) col("scraped_at").desc else col("scraped_at").asc
      val tieBreak = xxhash64(df.columns.toIndexedSeq.map(col): _*)
      val w = Window.partitionBy(key).orderBy(ord, tieBreak.asc)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
    val curFeature = top1Stable(state.features, "product_uuid")
      .select(col("product_uuid"), col("product_name").as("cur_name"),
        col("product_url").as("cur_url"), col("scraped_at").as("feature_as_of"),
        col("data"), col("minutes"), col("sms"),
        col("upload_speed"), col("download_speed"))
    val curPrice = top1Stable(state.prices, "feature_uuid")
      .select(col("feature_uuid"), col("price").as("cur_price"),
        col("scraped_at").as("price_as_of"))
    state.products
      .select(col("product_uuid"), col("product_name"), col("product_category"),
        col("competitor_name"), col("feature_uuid"))
      .join(curFeature, Seq("product_uuid"), "left")
      .join(curPrice, Seq("feature_uuid"), "left")
  }

  /** J2 insert-if-absent for packs (load_packs_to_bq,
    * dags/bigquery.py:137-157): anti-join on (competitor_name, pack_name). */
  def stagePacks(state: State, batch: DataFrame): DataFrame =
    batch
      .join(state.packs.select("competitor_name", "pack_name"),
        Seq("competitor_name", "pack_name"), "left_anti")
      .select(col("competitor_name"), col("pack_name"), col("pack_url"),
        col("pack_description"), col("price"), col("scraped_at"),
        lit(null).cast("string").as("mobile_product_name"),
        lit(null).cast("string").as("internet_product_name"))

  /** K6 unconditional log append (load_logs_to_bq, dags/bigquery.py:160-172). */
  def stageLogs(batch: DataFrame): DataFrame =
    batch.select("competitor_name", "scraped_at", "error_details", "status")
}
