package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Degenerate-denominator sentinels (round-7 verdict items 2–3 + ADVICE):
  * each guarded query must produce an explicit NULL (or floored) value on
  * inputs that zero its denominator — never a NaN that diverges from the
  * oracle's error-or-NULL, and never a crash. Fixtures are tiny parquet
  * dirs with the production schemas, so the CATALOG entries themselves
  * run, not re-derived formulas.
  */
class DegenerateInputSpec extends SparkTestBase {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_degen").toString
    // documents: one distinct token corpus-wide ⇒ zipf top-k has ONE
    // row (n = 1 ⇒ n·sxx − sx² = 0); plus a whitespace-only "empty"
    // source where words = 0 exactly (space-split yields no tokens)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Seq(
      Row(1L, "tok", "en", "s_one", 3L),
      Row(2L, "tok", "en", "s_one", 3L),
      Row(3L, "   ", "en", "s_empty", 3L))
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs, 1), docSchema)
      .write.parquet(s"$d/documents.parquet")
    // orders: a perfect matching on the pmod-2000 derived graph — every
    // node degree 1 ⇒ degree-REGULAR ⇒ m·sxx − sx² = 0
    val ordSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ords = Seq(Row(2L, 1L, "O", 1.0, t0, "1-URGENT"),
      Row(4L, 3L, "O", 1.0, t0, "1-URGENT"),
      Row(6L, 5L, "O", 1.0, t0, "1-URGENT"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(ords, 1), ordSchema)
      .write.parquet(s"$d/orders.parquet")
    // events: views only, ZERO purchases ⇒ p_ppm = 0
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val evs = (1L to 5L).map(i => Row(i, t0, i, "view", 0.0, "{}"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(evs, 1), evSchema)
      .write.parquet(s"$d/events.parquet")
    // embeddings: CONSTANT vectors ⇒ the covariance matrix is all
    // zeros ⇒ the power iteration collapses to the zero vector and
    // its Rayleigh denominator Σx² = 0
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val embs = (1L to 4L).map(i =>
      Row(i, Seq.fill(64)(0.5f), (i % 2).toInt))
    spark.createDataFrame(
      spark.sparkContext.parallelize(embs, 1), embSchema)
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("q_zipf_fit: single-token vocabulary yields NULL exponent, not NaN") {
    val rows = SparkEntry.queries("q_zipf_fit")(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("n") == 1L)
    assert(rows(0).isNullAt(rows(0).fieldIndex("zipf_exp")))
  }

  test("q_readability: all-empty-doc source floors words, lix stays defined") {
    val rows = SparkEntry.queries("q_readability")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val empty = rows("s_empty")
    assert(empty.getAs[Long]("words") == 0L)
    assert(!empty.isNullAt(empty.fieldIndex("lix_milli")),
      "words = 0 must floor to 1, not emit a NULL lix row")
    assert(empty.getAs[Long]("lix_milli") == 0L)
    // the healthy source still computes the real index
    assert(!rows("s_one").isNullAt(rows("s_one").fieldIndex("lix_milli")))
  }

  test("q_assortativity: degree-regular graph yields NULL, not NaN") {
    val rows = SparkEntry.queries("q_assortativity")(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("m") == 6L) // 3 undirected edges, both orientations
    assert(rows(0).isNullAt(rows(0).fieldIndex("assortativity")))
  }

  test("q_power_analysis: zero purchases yields NULL n_per_arm on both engines") {
    val rows = SparkEntry.queries("q_power_analysis")(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("p_ppm") == 0L)
    assert(rows(0).isNullAt(rows(0).fieldIndex("n_per_arm")))
  }

  test("q_span_corruption: oracle has no span cap — >20020-token doc matches Spark") {
    // k = n_tokens div 20: 1,200 spans at 24,000 tokens — over the old
    // oracle's silent range(0,1000) ceiling (round-7 ADVICE)
    val d = java.nio.file.Files.createTempDirectory("graft_span").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val big = (1 to 24000).map(i => s"w$i").mkString(" ")
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, big, "en", "s", big.length.toLong)), 1),
      docSchema).write.parquet(s"$d/documents.parquet")
    val sparkRows = SparkEntry.queries("q_span_corruption")(spark, d).count()
    assert(sparkRows == 1200L, s"expected k = 24000/20 spans, got $sparkRows")
  }

  test("q_pca_power: all-zero covariance yields zero vector + NULL eigenvalue") {
    val rows = SparkEntry.queries("q_pca_power")(spark, dir).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[Long]("eig_milli") == 0L),
      "zero matrix must collapse the iterate to the zero vector")
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("lambda_milli2"))),
      "Rayleigh quotient with zero denominator must be NULL, not a crash")
  }

  test("q_pca_power: vectors shorter than 8 dims skip the NULL covariance entries") {
    val d = java.nio.file.Files.createTempDirectory("graft_degen_short").toString
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val embs = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f), Seq(0f, 0f, 1f), Seq(1f, 1f, 1f))
      .zipWithIndex.map { case (v, i) => Row(i.toLong, v, i % 2) }
    spark.createDataFrame(spark.sparkContext.parallelize(embs, 1), embSchema)
      .write.parquet(s"$d/embeddings.parquet")
    // dims 3..7 exist in no vector: their covariance entries are NULL
    assert(SparkEntry.queries("q_embed_cov")(spark, d)
      .filter("cov_milli2 is null").count() > 0)
    val rows = SparkEntry.queries("q_pca_power")(spark, d).collect()
    assert(rows.map(_.getAs[Long]("dim")).toSeq == Seq(0L, 1L, 2L))
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("lambda_milli2"))))
  }

  test("q_embed_drift: constant vectors yield zero variance and zero shift") {
    val rows = SparkEntry.queries("q_embed_drift")(spark, dir).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[Long]("var_even_milli2") == 0L))
    assert(rows.forall(_.getAs[Long]("shift_milli") == 0L))
  }

  test("q_kcore: all degrees < k peels to the empty graph in round 1 and stays there") {
    val rows = SparkEntry.queries("q_kcore")(spark, dir).collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getAs[Long]("n_nodes") == 0L))
    assert(rows.forall(_.getAs[Long]("n_edges") == 0L))
  }

  test("q_pack_efficiency: all-empty corpus NULL-guards both waste ratios") {
    val d = java.nio.file.Files.createTempDirectory("graft_packdeg").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "   ", "en", "s", 3L), Row(2L, " ", "en", "s", 1L)), 1),
      docSchema).write.parquet(s"$d/documents.parquet")
    val rows = SparkEntry.queries("q_pack_efficiency")(spark, d).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == 0L)
      assert(r.isNullAt(r.fieldIndex("waste_ppm")))
      assert(r.isNullAt(r.fieldIndex("packed_waste_ppm")))
    }
  }

  test("q_simhash_eval: identical doc pair is both candidate and truth — P = R = 1e6") {
    val rows = SparkEntry.queries("q_simhash_eval")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    // docs 1 and 2 are the identical "tok" document in the same source:
    // hamming 0 ⇒ candidate; jaccard 1.0 ⇒ truth
    assert(r.getAs[Long]("n_candidates") == 1L)
    assert(r.getAs[Long]("n_truth") == 1L)
    assert(r.getAs[Long]("n_hits") == 1L)
    assert(r.getAs[Long]("precision_ppm") == 1000000L)
    assert(r.getAs[Long]("recall_ppm") == 1000000L)
  }
}
