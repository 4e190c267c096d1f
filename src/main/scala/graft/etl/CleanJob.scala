package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.schema.Schemas
import graft.sources.Tables

/** Clean stage (SURVEY.md §3.3): raw wrapped-JSON scrape payloads →
  * cleaned NDJSON, speeds parsed to numeric Mbps.
  *
  * Reference: clean_data_task (dags/transform.py:83-100) — loops
  * (competitor × header), unwraps `{header: [...]}` (S1), applies
  * convert_speed to both speed columns of products (X1), writes NDJSON
  * (K2). Missing raw file skips the pair (F3). Here each pair is one
  * narrow Spark job: scan with the header's declared raw schema (no
  * inference pass) → withColumn ×2 → write, no shuffle at all — at
  * 100 TB this is a pure map stage bounded by IO. A malformed drop fails
  * its pair; an empty one (`{"products": []}`) cleans to zero rows.
  */
object CleanJob {

  /** X1 applied to the two speed columns of a raw products frame. */
  def cleanProducts(raw: DataFrame): DataFrame =
    raw
      .withColumn("upload_speed", Scalars.speedOrNumeric(col("upload_speed")))
      .withColumn("download_speed", Scalars.speedOrNumeric(col("download_speed")))

  /** Scarlet "options" raw table (SURVEY.md §1.2, FIXTURES.md A4): two
    * incompatible record shapes (`option_name/option_details/option_url`
    * vs `options_name/options_details`, no url) are kept as ONE relation
    * over `Schemas.rawOption`, which declares both shapes' fields, so each
    * record reads with the other shape's fields null. Faithful dead-end:
    * the reference scrapes and saves options but never cleans or loads
    * them downstream — so this raw view is the whole surface. */
  def optionsRaw(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths.map(p => Tables.wrappedJson(spark, "options", Schemas.rawOption, p)).reduce(_.union(_))

  /** The declared record schema of each raw header. */
  private val rawSchemas = Map("products" -> Schemas.rawProduct,
    "packs" -> Schemas.rawPack, "logs" -> Schemas.rawLog)

  /** Full stage: for each (competitor, header) present in rawDir, write
    * cleaned NDJSON to cleanDir. Returns the pairs actually cleaned.
    * The pairs' writes are independent and run concurrently
    * (`Pipeline.fanOut`); all of them finish before the first failure,
    * in pair order, is rethrown. */
  def run(spark: SparkSession, rawDir: String, cleanDir: String,
          competitors: Seq[String] = Seq("mobileviking", "scarlet"),
          headers: Seq[String] = Seq("products", "packs", "logs")): Seq[(String, String)] = {
    val fs = java.nio.file.Paths.get(rawDir)
    val pairs = for {
      competitor <- competitors
      header <- headers
      path = fs.resolve(s"${competitor}_$header.json")
      if java.nio.file.Files.exists(path)   // F3 skip-if-missing
    } yield (competitor, header, path)
    Pipeline.fanOut(pairs.map { case (competitor, header, path) => () =>
      val raw = Tables.wrappedJson(spark, header, rawSchemas(header), path.toString)
      val cleaned = if (header == "products") cleanProducts(raw) else raw
      cleaned.write.mode("overwrite")
        .json(s"$cleanDir/${competitor}_$header.ndjson")
    }).foreach(_.get)
    pairs.map { case (competitor, header, _) => (competitor, header) }
  }
}
