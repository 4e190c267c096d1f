package graft.schema

import org.apache.spark.sql.types._

/** Telecom star-schema + raw-payload schemas — SURVEY.md §1.2/§1.3.
  *
  * Mirrors the reference's two schema layers: scrape-time pydantic model
  * (dags/data_model.py:9-21) and load-time BQ_TABLE_SCHEMAS
  * (dags/load_to_bigquery_dag.py:25-79). BQ DATETIME carries only
  * `%Y-%m-%d` values in practice (dags/utils.py:62) → DateType here.
  */
object Schemas {

  /** Raw scraped product record, speeds still strings pre-clean
    * (dags/data_model.py:9-21; FIXTURES.md A1). */
  val rawProduct: StructType = StructType(Seq(
    StructField("product_name", StringType, nullable = false),
    StructField("competitor_name", StringType, nullable = false),
    StructField("product_category", StringType, nullable = false),
    StructField("product_url", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("scraped_at", StringType, nullable = false),
    StructField("data", DoubleType, nullable = false),
    StructField("minutes", DoubleType, nullable = true),
    StructField("sms", LongType, nullable = true),
    StructField("upload_speed", StringType, nullable = true),
    StructField("download_speed", StringType, nullable = true)))

  /** Cleaned product record: speeds numeric Mbps after X1
    * (dags/transform.py:52-67; FIXTURES.md A5). */
  val cleanProduct: StructType = StructType(
    rawProduct.fields.map {
      case StructField("upload_speed", _, _, _)   => StructField("upload_speed", DoubleType, nullable = true)
      case StructField("download_speed", _, _, _) => StructField("download_speed", DoubleType, nullable = true)
      case f => f
    })

  val rawPack: StructType = StructType(Seq(
    StructField("competitor_name", StringType, nullable = false),
    StructField("pack_name", StringType, nullable = false),
    StructField("pack_url", StringType, nullable = false),
    StructField("pack_description", StringType, nullable = true),
    StructField("price", DoubleType, nullable = false),
    StructField("scraped_at", StringType, nullable = false)))

  val rawLog: StructType = StructType(Seq(
    StructField("competitor_name", StringType, nullable = false),
    StructField("scraped_at", StringType, nullable = false),
    StructField("error_details", StringType, nullable = true),
    StructField("status", StringType, nullable = true)))

  /** Raw scarlet options record (FIXTURES.md A4): the union of the two
    * scraped shapes, `option_name/option_details/option_url` and
    * `options_name/options_details` (no url); a record of either shape
    * reads with the other shape's fields null. */
  val rawOption: StructType = StructType(Seq(
    StructField("product_category", StringType, nullable = true),
    StructField("option_name", StringType, nullable = true),
    StructField("option_details", StringType, nullable = true),
    StructField("option_url", StringType, nullable = true),
    StructField("options_name", StringType, nullable = true),
    StructField("options_details", StringType, nullable = true),
    StructField("price", DoubleType, nullable = true),
    StructField("scraped_at", StringType, nullable = true),
    StructField("pack_name", StringType, nullable = true)))

  // ---- Warehouse tables (dags/load_to_bigquery_dag.py:25-79) ----

  val competitors: StructType = StructType(Seq(
    StructField("competitor_uuid", StringType, nullable = false),
    StructField("competitor_name", StringType, nullable = false),
    StructField("created_at", DateType, nullable = false)))

  val products: StructType = StructType(Seq(
    StructField("product_uuid", StringType, nullable = false),
    StructField("product_name", StringType, nullable = false),
    StructField("product_category", StringType, nullable = false),
    StructField("competitor_name", StringType, nullable = false),
    StructField("competitor_uuid", StringType, nullable = false),
    StructField("feature_uuid", StringType, nullable = false),
    StructField("scraped_at", DateType, nullable = false)))

  val features: StructType = StructType(Seq(
    StructField("feature_uuid", StringType, nullable = false),
    StructField("product_uuid", StringType, nullable = false),
    StructField("product_name", StringType, nullable = false),
    StructField("product_url", StringType, nullable = false),
    StructField("scraped_at", DateType, nullable = false),
    StructField("data", DoubleType, nullable = true),
    StructField("minutes", DoubleType, nullable = true),
    StructField("sms", LongType, nullable = true),
    StructField("upload_speed", DoubleType, nullable = true),
    StructField("download_speed", DoubleType, nullable = true)))

  val productPrices: StructType = StructType(Seq(
    StructField("price_uuid", StringType, nullable = false),
    StructField("feature_uuid", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("scraped_at", DateType, nullable = false)))

  val packs: StructType = StructType(Seq(
    StructField("competitor_name", StringType, nullable = false),
    StructField("pack_name", StringType, nullable = false),
    StructField("pack_url", StringType, nullable = false),
    StructField("pack_description", StringType, nullable = true),
    StructField("price", DoubleType, nullable = false),
    StructField("scraped_at", DateType, nullable = false),
    // declared but never populated in the reference (producers commented
    // out — dags/viking_scraper.py:318-319, dags/bigquery.py:147-148)
    StructField("mobile_product_name", StringType, nullable = true),
    StructField("internet_product_name", StringType, nullable = true)))

  val logs: StructType = StructType(Seq(
    StructField("competitor_name", StringType, nullable = false),
    StructField("scraped_at", DateType, nullable = false),
    StructField("error_details", StringType, nullable = true),
    StructField("status", StringType, nullable = true)))
}

/** Typed scrape-time record — pydantic Product (dags/data_model.py:9-21).
  * `Dataset[Product]` gives the same compile-time field contract the
  * reference enforces at runtime via validate_products. */
case class Product(
  product_name: String,
  competitor_name: String,
  product_category: String,
  product_url: String,
  price: Double,
  scraped_at: String,
  data: Double,
  minutes: Option[Double],
  sms: Option[Long],
  upload_speed: Option[String],
  download_speed: Option[String])
