package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded daily scrape drops for the ETL workload, derived from the TPC-H
  * `part` table: each odd-keyed part becomes a product of the competitor
  * (10 000 at sf0.1). Day over day about 3%
  * of live products are repriced, 1% change a feature and 2% churn (each
  * churned product is replaced by a new one built from the same part), and
  * every competitor's packs list grows by a few packs.
  *
  * Every random choice is a hash of (seed, day, product), so the drops are
  * a pure function of the seed and the part rows: the same seed writes
  * byte-identical files. The generator also keeps the reference model the
  * workload checks the warehouse against (the load rules are those of
  * `WarehouseLoad.stageProducts` with the oldest-version probe).
  */
object Drops {
  val Competitors: Seq[String] = Seq("mobileviking")
  val RepriceP = 0.03
  val FeatureP = 0.01
  val ChurnP = 0.02
  val PacksDay0 = 40
  val PacksPerDay = 3
  private val Day0 = java.time.LocalDate.of(2024, 1, 1)

  /** The part columns a product is derived from. */
  final case class Part(key: Long, name: String, brand: String, ptype: String,
                        size: Int, retailCents: Long)

  /** The fields the load compares to detect a feature change. Speeds are
    * the raw strings; two equal raw strings clean to equal values, and
    * every generated change alters the cleaned value too. */
  final case class Features(name: String, url: String, data: Double,
                            minutes: Double, sms: Option[Long],
                            upload: String, download: String)

  private final class Product(val competitor: String, val name: String,
                              val category: String, var features: Features,
                              var priceCents: Long, val firstFeatures: Features,
                              val firstPriceCents: Long) {
    var curPriceCents: Long = firstPriceCents
  }

  final case class DayStats(day: Int, live: Int, repriced: Int,
                            featureChanged: Int, churned: Int)

  /** Expected warehouse contents after a number of loaded days. */
  final case class Expected(competitors: Long, products: Long, features: Long,
                            prices: Long, packs: Long, logs: Long,
                            currentPriceCents: Long)

  /** SplitMix64 finaliser: a well-mixed 64-bit hash. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(seed: Long, day: Int, key: Long, salt: Int): Double =
    (mix(mix(mix(seed) + day) + key * 31 + salt) >>> 11).toDouble / (1L << 53).toDouble

  private val categories = Map("STANDARD" -> "mobile_subscription",
    "SMALL" -> "mobile_prepaid", "MEDIUM" -> "internet", "LARGE" -> "tv",
    "ECONOMY" -> "combo", "PROMO" -> "bundle")

  private def speed(mbps: Int): String =
    if (mbps >= 1000) s"${mbps / 1000}gbps" else if (mbps % 3 == 0) mbps.toString else s"${mbps}mbps"

  private def baseFeatures(c: String, name: String, p: Part): Features = Features(
    name = name, url = s"https://$c.example/p/${p.key}",
    data = p.size.toDouble,
    minutes = if (p.size % 3 == 0) -1.0 else p.size * 20.0,
    sms = if (p.name.endsWith("bolt")) None
          else Some(if (p.size % 4 == 0) -1L else p.size * 10L),
    upload = speed(p.size * 2),
    download = if (p.size > 45) "1gbps" else speed(p.size * 20))

  /** A feature change: one of data, minutes or download speed moves. */
  private def changed(f: Features, pick: Double): Features =
    if (pick < 0.4) f.copy(data = f.data + 5.0)
    else if (pick < 0.7) f.copy(minutes = if (f.minutes < 0) 600.0 else f.minutes + 100.0)
    else f.copy(download = if (f.download == "1gbps") "500mbps" else "1gbps")

  private def fmtCents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
  private def fmtDouble(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString
  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Generate `days` days of drops into `outDir/day_NN/`, keeping the
    * reference model's expectations for each day. */
  final class Run(val seed: Long, parts: Seq[Part], val days: Int, outDir: Path) {
    private val live = scala.collection.mutable.LinkedHashMap.empty[(String, String), Product]
    private var featureRows = 0L
    private var priceRows = 0L
    private var productsSeen = 0L
    private val stats = scala.collection.mutable.ArrayBuffer.empty[DayStats]
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    private val expected = scala.collection.mutable.ArrayBuffer.empty[Expected]
    private val retired = scala.collection.mutable.ArrayBuffer.empty[Product]

    private def addProduct(c: String, name: String, p: Part): Unit = {
      val f = baseFeatures(c, name, p)
      val price = p.retailCents / 2
      val cat = categories.getOrElse(p.ptype.takeWhile(_ != ' '), "other")
      live((c, name)) = new Product(c, name, cat, f, price, f, price)
      productsSeen += 1
      featureRows += 1
      priceRows += 1
    }

    parts.foreach { p =>
      val c = Competitors((p.key % Competitors.size).toInt)
      addProduct(c, s"${p.brand.replace("#", "")}-${p.key}", p)
    }
    private val byKey = parts.map(p => p.key -> p).toMap

    (0 until days).foreach { d =>
      var repriced, featureChanged, churned = 0
      val liveBefore = live.size
      if (d > 0) {
        live.values.toVector.foreach { pr =>
          val key = pr.name.hashCode.toLong ^ (pr.competitor.hashCode.toLong << 32)
          val u = unit(seed, d, key, 0)
          if (u < ChurnP) {
            churned += 1
            live.remove((pr.competitor, pr.name))
            retired += pr
            val partKey = pr.name.substring(pr.name.indexOf('-') + 1).takeWhile(_ != '~').toLong
            addProduct(pr.competitor, s"${pr.name.takeWhile(_ != '~')}~$d", byKey(partKey))
          } else {
            if (u < ChurnP + RepriceP) {
              repriced += 1
              val up = unit(seed, d, key, 1) < 0.5
              val step = 1 + (unit(seed, d, key, 2) * 200).toLong
              pr.priceCents = if (up || pr.priceCents <= step) pr.priceCents + step
                              else pr.priceCents - step
            }
            if (unit(seed, d, key, 3) < FeatureP) {
              featureChanged += 1
              pr.features = changed(pr.features, unit(seed, d, key, 4))
            }
            // load rules: compare with the OLDEST stored version
            val featDiff = pr.features != pr.firstFeatures
            val priceDiff = pr.priceCents != pr.firstPriceCents
            if (featDiff) { featureRows += 1; priceRows += 1 }
            if (priceDiff) priceRows += 1
            if (featDiff || priceDiff) pr.curPriceCents = pr.priceCents
          }
        }
      }
      stats += DayStats(d, liveBefore, repriced, featureChanged, churned)
      val packs = PacksDay0 + PacksPerDay * d
      val dir = dayDir(d)
      Files.createDirectories(dir)
      val files = Competitors.flatMap { c =>
        Seq(s"${c}_products.json" -> productsJson(c, d), s"${c}_packs.json" -> packsJson(c, d, packs))
      }
      files.sortBy(_._1).foreach { case (n, body) =>
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        md.update(n.getBytes(StandardCharsets.UTF_8))
        md.update(bytes)
        Files.write(dir.resolve(n), bytes)
      }
      // Pipeline.run logs a clean and a load row per competitor and day
      expected += Expected(Competitors.size, productsSeen, featureRows, priceRows,
        Competitors.size.toLong * packs, 2L * Competitors.size * (d + 1),
        (live.values.iterator ++ retired.iterator).map(_.curPriceCents).sum)
    }

    private def productsJson(c: String, d: Int): String = {
      val date = Day0.plusDays(d).toString
      val sb = new StringBuilder("{\"products\": [\n")
      var first = true
      live.valuesIterator.filter(_.competitor == c).foreach { pr =>
        if (!first) sb.append(",\n")
        first = false
        val f = pr.features
        sb.append("  {\"product_name\": ").append(q(pr.name))
          .append(", \"competitor_name\": ").append(q(c))
          .append(", \"product_category\": ").append(q(pr.category))
          .append(", \"product_url\": ").append(q(f.url))
          .append(", \"price\": ").append(fmtCents(pr.priceCents))
          .append(", \"scraped_at\": ").append(q(date))
          .append(", \"data\": ").append(fmtDouble(f.data))
          .append(", \"minutes\": ").append(fmtDouble(f.minutes))
          .append(", \"sms\": ").append(f.sms.fold("null")(_.toString))
          .append(", \"upload_speed\": ").append(q(f.upload))
          .append(", \"download_speed\": ").append(q(f.download)).append("}")
      }
      sb.append("\n]}\n").toString
    }

    private def packsJson(c: String, d: Int, n: Int): String = {
      val date = Day0.plusDays(d).toString
      val rows = (0 until n).map { i =>
        val p = parts(i % parts.size)
        val desc = if (i % 5 == 0) "null" else q(s"${p.name} bundle")
        s"""  {"competitor_name": ${q(c)}, "pack_name": ${q(s"pack-$c-$i")}, """ +
          s""""pack_url": ${q(s"https://$c.example/packs/$i")}, "pack_description": $desc, """ +
          s""""price": ${fmtCents(p.retailCents / 3)}, "scraped_at": ${q(date)}}"""
      }
      rows.mkString("{\"packs\": [\n", ",\n", "\n]}\n")
    }

    def dayDir(d: Int): Path = outDir.resolve(f"day_$d%02d")

    def expectedAfter(d: Int): Expected = expected(d)
    def dayStats: Seq[DayStats] = stats.toSeq

    /** Mean daily shares over days 1.. of the run. */
    def shares: Map[String, Double] = {
      val later = stats.drop(1)
      def mean(f: DayStats => Int) =
        if (later.isEmpty) 0.0 else later.map(s => f(s).toDouble / s.live).sum / later.size
      Map("reprice_share" -> mean(_.repriced), "feature_change_share" -> mean(_.featureChanged),
        "churn_share" -> mean(_.churned))
    }

    /** Hex SHA-256 over every day's files, in day and name order. */
    val digest: String = md.digest().map("%02x".format(_)).mkString
  }

  /** Read the odd-keyed part rows the drops derive from, in key order. */
  def parts(spark: org.apache.spark.sql.SparkSession, sfDir: String): Seq[Part] =
    graft.sources.Tables.part(spark, sfDir).where("p_partkey % 2 = 1")
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .collect().toSeq
      .map(r => Part(r.getAs[Number](0).longValue, r.getString(1), r.getString(2), r.getString(3),
        r.getAs[Number](4).intValue, math.round(r.getAs[Number](5).doubleValue * 100)))
      .sortBy(_.key)
}
