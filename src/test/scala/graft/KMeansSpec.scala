package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.DotProduct.dotFast
import graft.operators.VectorOps
import graft.sources.Tables.embeddings
import java.nio.file.Files

/** The array-native Lloyd pipeline (VectorOps.kmeansParts) against the
  * exploded relational form it replaced — the form the DuckDB oracle
  * (kmeansCte) still runs — transcribed here as the reference model,
  * together with the consumers as they read that form. */
class KMeansSpec extends SparkTestBase {

  /** The generated test data, under the home directory. */
  private val testdata = s"${sys.props("user.home")}/testdata"

  /** Reference: one row per (vector, dim), centroids joined per dim,
    * distances re-assembled with SUM and the pick with a window. Returns
    * (vec_id, j, dist2) under the final centroids, the final assignment
    * (vec_id, cluster) and the final centroids (j, cd, cval). */
  private def refParts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val dims = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
    val c0 = dims.filter(col("vec_id") < 8)
      .select(col("vec_id").as("j"), col("dim").as("cd"), col("qv").as("cval"))
    def dists(cents: DataFrame): DataFrame =
      dims.join(broadcast(cents), col("dim") === col("cd"))
        .groupBy("vec_id", "j")
        .agg(sum((col("qv") - col("cval")) * (col("qv") - col("cval"))).as("dist2"))
    def pick(dd: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id").orderBy(col("dist2"), col("j"))
      dd.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("j").as("cluster"))
    }
    val a1 = pick(dists(c0))
    val upd = a1.join(dims, "vec_id")
      .groupBy(col("cluster"), col("dim"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
      .select(col("cluster").as("j2"), col("dim").as("cd2"),
        expr("sq div cnt").as("nval"))
    val c1 = c0.join(upd, col("j") === col("j2") && col("cd") === col("cd2"), "left")
      .select(col("j"), col("cd"), coalesce(col("nval"), col("cval")).as("cval"))
    val d2 = dists(c1)
    (d2, pick(d2), c1)
  }

  /** Reference consumers, each as it read (d2, a2, c1). */
  private def refQuery(name: String, s: SparkSession, d: String): DataFrame = {
    val (d2, a2, c1) = refParts(s, d)
    def window(cols: String*): DataFrame =
      d2.join(a2, "vec_id").filter(col("j") === col("cluster"))
        .select(col("vec_id"), col("cluster"), col("dist2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("cluster").orderBy(col("dist2"), col("vec_id"))))
        .filter(col("rnk") <= 64)
        .select(cols.map(col): _*)
    name match {
      case "q_kmeans" =>
        a2.withColumn("csize", count(lit(1)).over(Window.partitionBy("cluster")))
      case "q_silhouette" =>
        d2.join(a2, "vec_id")
          .groupBy("vec_id", "cluster")
          .agg(sum(when(col("j") === col("cluster"), col("dist2"))).as("a2d"),
            min(when(col("j") =!= col("cluster"), col("dist2"))).as("b2d"))
          .withColumn("s_milli", expr(
            """case when greatest(a2d, b2d) = 0 then 0
              |else (b2d - a2d) * 1000 div greatest(a2d, b2d) end""".stripMargin))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_vecs"), sum("s_milli").as("ssum"))
          .withColumn("mean_sil_milli", expr("ssum div n_vecs"))
          .select("cluster", "n_vecs", "mean_sil_milli")
      case "q_semdedup" =>
        val win = window("cluster", "vec_id", "rnk")
        val emb = embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nv", VectorOps.normFast(col("v")))
        val a = win.join(emb, "vec_id")
          .select(col("cluster"), col("rnk").as("ra"), col("v").as("va"), col("nv").as("na"))
        val b = win.join(emb, "vec_id")
          .select(col("cluster"), col("vec_id").as("vb"), col("rnk").as("rb"),
            col("v").as("vc"), col("nv").as("nb"))
        val drops = a.join(b, Seq("cluster"))
          .filter(col("ra") < col("rb"))
          .filter(dotFast(col("va"), col("vc")) / (col("na") * col("nb")) >= 0.35)
          .select(col("cluster"), col("vb")).distinct()
          .groupBy("cluster").agg(count(lit(1)).as("n_dropped"))
        win.groupBy("cluster").agg(count(lit(1)).as("n_window"))
          .join(drops, Seq("cluster"), "left")
          .withColumn("n_dropped", coalesce(col("n_dropped"), lit(0L)))
          .withColumn("kept_ppm", expr("(n_window - n_dropped) * 1000000 div n_window"))
          .select("cluster", "n_window", "n_dropped", "kept_ppm")
      case "q_hubness" =>
        val qemb = embeddings(s, d)
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
              .as("qv"))
        val weq = window("cluster", "vec_id").join(qemb, "vec_id")
          .select(col("cluster"), col("vec_id"), col("qv"))
        val wa = weq.select(col("cluster"), col("vec_id").as("va"), col("qv").as("qa"))
        val wb = weq.select(col("cluster"), col("vec_id").as("vb"), col("qv").as("qb"))
        val top3 = wa.join(wb, "cluster").filter(col("va") =!= col("vb"))
          .withColumn("pd2", expr(
            "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
          .withColumn("rk", row_number().over(Window.partitionBy("cluster", "va")
            .orderBy(col("pd2").asc, col("vb").asc)))
          .filter(col("rk") <= 3)
        weq.select("vec_id")
          .join(top3.groupBy(col("vb").as("vec_id")).agg(count(lit(1)).as("k_occ")),
            Seq("vec_id"), "left")
          .withColumn("k_occ", coalesce(col("k_occ"), lit(0L)))
          .groupBy("k_occ").agg(count(lit(1)).as("n_vectors"))
      case "q_residual_quantize" =>
        val dims = embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
          .select(col("vec_id"), (col("pos") + 1).as("dim"),
            round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
        val res = dims.join(a2, "vec_id")
          .join(broadcast(c1), col("cluster") === col("j") && col("dim") === col("cd"))
          .select(col("vec_id"), col("cluster"), col("dim"), (col("qv") - col("cval")).as("r"))
        val ranges = res.groupBy("dim").agg(min("r").as("minr"), max("r").as("maxr"))
        val e2 = res.join(broadcast(ranges), "dim")
          .withColumn("code",
            when(col("maxr") === col("minr"), 0L)
              .otherwise(expr("(r - minr) * 255 div (maxr - minr)")))
          .withColumn("deq", expr("minr + code * (maxr - minr) div 255"))
          .groupBy("vec_id", "cluster")
          .agg(sum(expr("(r - deq) * (r - deq)")).as("e2"))
        val e1 = d2.join(a2, Seq("vec_id")).filter(col("j") === col("cluster"))
          .select(col("vec_id"), col("dist2").as("e1"))
        e2.join(e1, "vec_id")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_vecs"),
            expr("sum(e1) div count(1)").as("mean_e1_micro2"),
            expr("sum(e2) div count(1)").as("mean_e2_micro2"))
          .withColumn("recovered_milli", expr(
            """case when mean_e1_micro2 = 0 then null
              |else (mean_e1_micro2 - mean_e2_micro2) * 1000
              |  div mean_e1_micro2 end""".stripMargin))
          .select("cluster", "n_vecs", "mean_e1_micro2", "mean_e2_micro2", "recovered_milli")
    }
  }

  private val consumers =
    Seq("q_kmeans", "q_silhouette", "q_semdedup", "q_hubness", "q_residual_quantize")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def schemaOf(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.map(f => f.name -> f.dataType).toSeq

  /** The new pipeline's (vec_id, j, dist2) rows, derived from its table. */
  private def longDists(km: VectorOps.KMeans): DataFrame =
    km.vecs.select(col("vec_id"), posexplode(col("dists")).as(Seq("i", "dist2")))
      .select(col("vec_id"), element_at(typedLit(km.ids), col("i") + 1).as("j"), col("dist2"))

  private def assertEquivalent(d: String): Unit = {
    val km = VectorOps.kmeansParts(spark, d)
    val (d2, a2, c1) = refParts(spark, d)
    assert(rows(km.vecs.select("vec_id", "cluster")) === rows(a2), "final assignment")
    assert(rows(longDists(km)) === rows(d2.select("vec_id", "j", "dist2")), "(vec_id, j, dist2)")
    assert(rows(km.c1) === rows(c1), "final centroids")
    assert(schemaOf(km.c1) === schemaOf(c1))
    consumers.foreach { q =>
      val got = VectorOps.queries(q)(spark, d)
      val want = refQuery(q, spark, d)
      assert(schemaOf(got) === schemaOf(want), q)
      assert(rows(got) === rows(want), q)
    }
  }

  /** A small embeddings table built to hit every degenerate case of the
    * exploded form: a seed with a null element, a null seed embedding
    * (no centroid 2), 3-dim and 64-dim vectors on both sides, an empty
    * and a null embedding, two identical seeds (5 and 6: every vector
    * that picks one ties at (dist2, j) and takes 5, so cluster 6 stays
    * empty and keeps its seed), and vectors whose shared positions with
    * the 3-dim seed 0 are all null (a null distance, picked first). */
  private lazy val degenerateDir: String = {
    val rnd = new scala.util.Random(5)
    def v64(nullAt: Set[Int] = Set.empty): Seq[java.lang.Float] =
      (0 until 64).map(i => if (nullAt(i)) null else java.lang.Float.valueOf(rnd.nextFloat() * 2 - 1))
    def f(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)
    val far = Seq.fill(64)(java.lang.Float.valueOf(5.0f))
    val fixed: Seq[(Long, Seq[java.lang.Float])] = Seq(
      0L -> f(0.1f, -0.2f, 0.3f),
      1L -> v64(Set(5)),
      2L -> null,
      3L -> v64(),
      4L -> v64(Set(0, 1, 2)),
      5L -> far,
      6L -> far,
      7L -> v64(Set(63)),
      8L -> Seq.empty,
      9L -> Seq(null, null, null),
      10L -> v64(Set(0, 1, 2)),
      11L -> f(0.12f, -0.18f, 0.31f),
      12L -> f(-0.5f, 0.5f, 0.0f))
    val bulk = (13L until 60L).map { id =>
      id -> (if (id % 7 == 0) f(rnd.nextFloat(), rnd.nextFloat(), rnd.nextFloat())
             else v64(if (id % 5 == 0) Set(rnd.nextInt(64)) else Set.empty))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType)))
    val data = (fixed ++ bulk).map { case (id, e) => Row(id, e, (id % 3).toInt) }
    val dir = Files.createTempDirectory("graft_kmeans_degenerate").toString
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("degenerate embeddings: kernel pipeline equals the exploded reference") {
    val km = VectorOps.kmeansParts(spark, degenerateDir)
    // the fixture exercises what it claims
    assert(km.ids === Seq(0L, 1L, 3L, 4L, 5L, 6L, 7L), "no centroid for the null seed")
    val asg = km.vecs.select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!asg.contains(2L) && !asg.contains(8L), "null and empty embeddings drop out")
    assert(asg(5L) === 5L && asg(6L) === 5L && !asg.values.exists(_ == 6L), "tie to the lower j")
    assert(asg(9L) === 0L && asg(10L) === 0L, "a null distance is picked first")
    val seed6 = km.c1.filter(col("j") === 6L).select("cval").collect().map(_.getLong(0)).toSet
    assert(seed6 === Set(5000000L), "the empty cluster keeps its seed")
    assertEquivalent(degenerateDir)
  }

  test("sf0.01: kernel pipeline and consumers equal the exploded reference") {
    assertEquivalent(s"$testdata/sf0.01")
  }

  test("q_ivf_cell_balance equals the exploded seed assignment") {
    Seq(degenerateDir, s"$testdata/sf0.01").foreach { d =>
      val dims = embeddings(spark, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), (col("pos") + 1).as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val c0 = dims.filter(col("vec_id") < 8)
        .select(col("vec_id").as("j"), col("dim").as("cd"), col("qv").as("cval"))
      val occ = dims.join(broadcast(c0), col("dim") === col("cd"))
        .groupBy("vec_id", "j")
        .agg(sum((col("qv") - col("cval")) * (col("qv") - col("cval"))).as("dist2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist2"), col("j"))))
        .filter(col("rn") === 1)
        .groupBy(col("j").as("cell")).agg(count(lit(1)).as("n_vecs"))
      val got = VectorOps.queries("q_ivf_cell_balance")(spark, d)
      assert(rows(got.select("cell", "n_vecs")) === rows(occ), d)
    }
  }

  test("a cold q_semdedup runs a bounded number of Spark jobs") {
    // The exploded Lloyd pipeline ran 31 jobs for a cold q_semdedup at
    // sf0.1: the shuffle stages of two rounds of per-dim joins,
    // group-bys and windows, plus the pairwise self-join. The kernel
    // pipeline runs 10: six for the memo (schema read, quantize
    // checkpoint, seed collect, the two stages of the update aggregate,
    // the final checkpoint) and four for the window, the per-cluster
    // pass and the ordered result.
    val sf = s"$testdata/sf0.1"
    Blocks.reset(spark)
    val jobs = jobsOf(
      VectorOps.queries("q_semdedup")(spark, sf).write.format("noop").mode("overwrite").save())
    assert(jobs <= 10, s"cold q_semdedup ran $jobs jobs")
  }
}
