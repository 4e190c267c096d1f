package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._
import graft.functions.DotProduct.dotFast
import graft.functions.CentroidDist2.centDist2

/** Embedding similarity search (SURVEY.md §2.12 E4/E6) + sketches (E2).
  *
  * Scale design:
  * - brute-force top-k: broadcast the (small) query set, stream the
  *   candidate corpus — no shuffle except the final per-query top-k,
  *   which is O(queries × k) rows;
  * - the dot product uses higher-order functions over array<double>
  *   (codegen'd, no UDF). Cast float→double BEFORE multiplying so
  *   per-element products are IEEE-double and the left-to-right fold is
  *   bit-identical to the oracle's;
  * - LSH variant: random-hyperplane signs via seeded md5 → bucket join,
  *   turning O(n·q) into O(n + collisions) at cluster scale.
  */
object VectorOps {
  type Q = (SparkSession, String) => DataFrame

  /** Left-to-right fold dot product over array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Codegen'd variants (graft.functions.DotProduct): same IEEE fold,
    * primitive loop instead of interpreted lambdas. */
  def normFast(a: Column): Column = sqrt(dotFast(a, a))

  /** Label-blocked embedding-cosine near-dup PAIRS (raw unrounded
    * cosine) — the ONE implementation of the pair pipeline, shared by
    * q_embed_near_dup and GraphOps' multi-signal clustering so the
    * threshold and norm math can't diverge between them. */
  def cosinePairs(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("label"), col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", normFast(col("v")))
    val a = emb.select(col("label"), col("vec_id").as("d1"), col("v").as("v1"), col("nv").as("n1"))
    val b = emb.select(col("label"), col("vec_id").as("d2"), col("v").as("v2"), col("nv").as("n2"))
    a.join(b, Seq("label")).filter(col("d1") < col("d2"))
      .withColumn("cosine",
        dotFast(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= threshold)
      .select(col("label"), col("d1"), col("d2"), col("cosine"))
  }

  /** Deterministic pseudo-random ±1 hyperplane for LSH bucketing:
    * component i of plane p is +1 iff the first md5("p|i") byte < 128.
    * Shared by the Spark query AND the generated DuckDB oracle SQL, so
    * the two engines agree by construction. */
  private def planeWeights(p: Int): Array[Double] =
    (0 until 64).map { i =>
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p|$i".getBytes("UTF-8"))(0)
      if ((b & 0xff) < 128) 1.0 else -1.0
    }.toArray

  /** Perceptual AVERAGE-HASH per document: real PNG/BMP pixel decode
    * (Multimodal.PixelCodec) → 8×8 block sums → bit per block
    * (blockSum·64 > total, all integral) → two 32-bit hash words.
    * The ONE implementation shared by q_image_phash and the banded
    * near-dup join so the hash math can't diverge between them.
    * Returns doc_id, width, height, phash_hi, phash_lo, mean_lum.
    *
    * Memoized: the pixel decode + block rollup is the expensive half of
    * every image query, and without the memo each consumer re-decodes
    * the corpus. */
  private def imagePhash(s: SparkSession, d: String): DataFrame =
    graft.MemoStats.get("image_phash", s, d)(imagePhashPlan(s, d).localCheckpoint())

  /** Memoized retrieval result tables: the exact cosine top-k feeds
    * five evals (MRR, NDCG, MAP, ANN recall, RRF fusion) and the ADC
    * top-k feeds three — each a 15-row table whose recomputation was
    * the whole brute-force/index pipeline per consumer. */
  private def cosineTopk(s: SparkSession, d: String): DataFrame =
    graft.MemoStats.get("cosine_topk", s, d)(cosineTopkPlan(s, d).localCheckpoint())

  private def ivfpqTopk(s: SparkSession, d: String): DataFrame =
    graft.MemoStats.get("ivfpq_topk", s, d)(ivfpqTopkPlan(s, d).localCheckpoint())

  /** The raw brute-force cosine top-k, pre-memo (PlanSpec pins THIS
    * shape — the codegen'd graft_dot probe join). */
  private[graft] def cosineTopkPlan(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // norm once per vector, not once per pair
      .withColumn("nv", normFast(col("v")))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv").as("nq"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("vid"),
        (dotFast(col("qv"), col("v")) / (col("nq") * col("nv"))).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      // long rank: row_number is int32 in Spark, int64 in DuckDB
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vid"),
        round(col("score"), 6).as("cosine"))
      .orderBy("qid", "rank")
  }

  /** The raw fused IVF-PQ pipeline, pre-memo (PlanSpec pins THIS
    * shape): coarse-cell pruning + ADC scoring against a broadcast
    * per-query LUT. */
  private[graft] def ivfpqTopkPlan(s: SparkSession, d: String): DataFrame = {
    val dims = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
      .select(col("vec_id"), expr("pos div 16").cast("long").as("sub"),
        (col("pos") + 1).cast("long").as("dim"),
        round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      .localCheckpoint() // re-read by coarse assign, trainer, codes, LUT
    // coarse quantizer: nearest of 8 seed centroids by exact L2²
    val coarse = dims.filter(col("vec_id") < 8)
      .select(col("vec_id").as("ccid"), col("dim").as("ccd"), col("qv").as("ccval"))
    val cells = dims.join(broadcast(coarse), col("dim") === col("ccd"))
      .groupBy("vec_id", "ccid")
      .agg(sum((col("qv") - col("ccval")) * (col("qv") - col("ccval"))).as("cdist2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cdist2"), col("ccid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("ccid").as("cell"))
    // PQ codebook: q_pq_codes' trainer (4 seeds/subspace, one Lloyd step)
    val c0 = dims.filter(col("vec_id") < 4)
      .select(col("sub").as("csub"), col("vec_id").as("j"),
        col("dim").as("cd"), col("qv").as("cval"))
    def assign(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id", "sub").orderBy(col("dist2"), col("j"))
      dims.join(broadcast(cents),
          col("sub") === col("csub") && col("dim") === col("cd"))
        .groupBy("vec_id", "sub", "j")
        .agg(sum((col("qv") - col("cval")) * (col("qv") - col("cval"))).as("dist2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("j").as("code"))
    }
    val u1 = assign(c0).join(dims, Seq("vec_id", "sub"))
      .groupBy(col("sub"), col("code"), col("dim"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
      .select(col("sub").as("usub"), col("code").as("j2"),
        col("dim").as("cd2"), expr("sq div cnt").as("nval"))
    val c1 = c0.join(broadcast(u1), col("csub") === col("usub") && col("j") === col("j2") &&
        col("cd") === col("cd2"), "left")
      .select(col("csub"), col("j"), col("cd"),
        coalesce(col("nval"), col("cval")).as("cval"))
    val codes = assign(c1)
    // ADC lookup table: query sub-vector × codebook centroid → partial L2²
    val lut = dims.filter(col("vec_id") < 5)
      .select(col("vec_id").as("lqid"), col("sub").as("lsub"),
        col("dim"), col("qv").as("q_qv"))
      .join(broadcast(c1), col("lsub") === col("csub") && col("dim") === col("cd"))
      .groupBy("lqid", "lsub", "j")
      .agg(sum((col("q_qv") - col("cval")) * (col("q_qv") - col("cval"))).as("pd2"))
    // probe the query's own cell; score = Σ over 4 subspaces of LUT adds
    val qcells = cells.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("cell"))
    cells.join(broadcast(qcells), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), col("qid") === col("lqid") &&
        col("sub") === col("lsub") && col("code") === col("j"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pd2")).as("adist2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist2"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id").as("vid"), col("adist2"))
      .orderBy("qid", "rank")
  }

  /** The raw decode pipeline, pre-memo (PlanSpec pins THIS shape). */
  private[graft] def imagePhashPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = documents(s, d)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id =>
        (id, Multimodal.syntheticPixelImage(id))))
      .toDF("doc_id", "payload")
    val cells = Multimodal.decodeLuma(payloads)
      .select(col("doc_id"), col("width"), col("height"),
        posexplode(col("lum")).as(Seq("pos", "v")))
      .withColumn("x", expr("pos % width"))
      .withColumn("y", expr("pos div width"))
      .withColumn("bi", expr("(y div (height div 8)) * 8 + (x div (width div 8))"))
      .groupBy("doc_id", "width", "height", "bi")
      .agg(sum(col("v").cast("long")).as("cellsum"))
    cells
      .withColumn("total", sum("cellsum").over(Window.partitionBy("doc_id")))
      .withColumn("bit",
        (col("cellsum") * 64 > col("total")).cast("long"))
      .groupBy("doc_id", "width", "height")
      .agg(
        sum(when(col("bi") < 32, expr("shiftleft(bit, cast(bi as int))"))
          .otherwise(lit(0L))).as("phash_hi"),
        sum(when(col("bi") >= 32, expr("shiftleft(bit, cast(bi - 32 as int))"))
          .otherwise(lit(0L))).as("phash_lo"),
        max(expr("total div (cast(width as bigint) * height)")).as("mean_lum"))
  }

  val queries: Map[String, Q] = Map(
    // E4 brute-force cosine top-k (baseline; exact)
    // E4 LABEL CENTROIDS (class prototypes): per-label dimension-wise
    // mean embedding — the prototype table behind nearest-class-mean
    // classification and the class anchors of contrastive training.
    // Exact integer micro-unit sums (order-independent; float sums
    // would hash-differ across partitionings) with truncating-div
    // means, one (label, dim)-keyed hash-aggregate over the
    // dim-exploded vectors — map-side partials absorb the 64× explode.
    "q_label_centroids" -> ((s, d) =>
      embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n_vecs"), sum("qv").as("sum_qv"))
        .withColumn("centroid_qv", expr("sum_qv div n_vecs"))
        .select("label", "dim", "n_vecs", "centroid_qv")
        .orderBy("label", "dim")),

    // E4 NEAREST-CLASS-MEAN EVAL — the self-evaluating consumer of the
    // prototype table: classify every vector by its nearest label
    // centroid (exact integral L2² in micro-units, row_number argmin
    // with the (dist, label) tie-break) and report the confusion
    // matrix against the true labels. Centroids broadcast (labels×64
    // rows); the distance aggregate shuffles on (vec, label) — fine
    // keys — and the argmin window partitions per vector. On
    // iid-random test embeddings the diagonal is honestly weak, which
    // is exactly what a measure-don't-guess eval is for.
    "q_ncm_eval" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("label"),
          (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val cents = dims.groupBy(col("label").as("clabel"), col("dim").as("cdim"))
        .agg(expr("sum(qv) div count(1)").as("cqv"))
      val dist = dims.join(broadcast(cents), col("dim") === col("cdim"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(expr("(qv - cqv) * (qv - cqv)")).as("dist2"))
      val w = Window.partitionBy("vec_id").orderBy(col("dist2"), col("clabel"))
      dist.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("label").as("true_label"), col("clabel").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    }),

    "q_cosine_topk" -> ((s, d) => cosineTopk(s, d)),

    // E4 MMR DIVERSIFIED RE-RANK — maximal marginal relevance over the
    // brute-force candidate pool: greedily pick 3 of the top-10 per
    // query, each round scoring 7·rel − 3·max-sim-to-selected (λ = 0.7
    // in integral ppm — relevance and redundancy both ppm-quantized
    // cosines, so the greedy argmax is an exact bigint compare with a
    // (score desc, vid asc) tie-break both engines replay). The
    // candidate-candidate similarity table is pool² WITHIN each query
    // (≤ 10·9 rows per probe), never corpus²; the greedy loop is 3
    // fixed dataflow rounds (the kmeans pattern) — no driver-side
    // collect. The oracle unrolls the same 3 rounds as CTEs.
    "q_mmr_rerank" -> ((s, d) => {
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", normFast(col("v")))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nv").as("nq"))
      val scored = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("vid"),
          (dotFast(col("qv"), col("v")) / (col("nq") * col("nv"))).as("score"))
      val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid").asc)
      val pool = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("vid"),
          round(col("score") * 1000000).cast("long").as("rel_ppm"))
        .localCheckpoint() // feeds the pair-sim table AND all 3 greedy rounds
      val pv = pool.select(col("qid"), col("vid"))
        .join(emb.select(col("vec_id").as("vid"), col("v"), col("nv")), "vid")
      val pv2 = pv.select(col("qid"), col("vid").as("v2"),
        col("v").as("w2"), col("nv").as("n2"))
      val simcc = pv.join(pv2, "qid").filter(col("vid") =!= col("v2"))
        .select(col("qid"), col("vid"), col("v2"),
          round((dotFast(col("v"), col("w2")) / (col("nv") * col("n2")))
            * 1000000).cast("long").as("sim_ppm"))
        .localCheckpoint() // re-read by rounds 2 and 3
      val wpick = Window.partitionBy("qid").orderBy(col("mmr").desc, col("vid").asc)
      def pick(cands: DataFrame): DataFrame =
        cands.withColumn("rn", row_number().over(wpick)).filter(col("rn") === 1)
          .select(col("qid"), col("vid"), col("rel_ppm"), col("mmr"))
      var selected = pick(pool.withColumn("mmr", col("rel_ppm") * 7))
        .withColumn("round", lit(1L))
      for (r <- 2 to 3) {
        val cand = pool
          .join(selected.select("qid", "vid"), Seq("qid", "vid"), "left_anti")
          .join(simcc, Seq("qid", "vid"))
          .join(selected.select(col("qid"), col("vid").as("v2")),
            Seq("qid", "v2"), "left_semi")
          .groupBy("qid", "vid", "rel_ppm").agg(max("sim_ppm").as("maxsim"))
          .withColumn("mmr", col("rel_ppm") * 7 - col("maxsim") * 3)
        selected = selected
          .unionByName(pick(cand).withColumn("round", lit(r.toLong)))
      }
      selected.select("qid", "round", "vid", "rel_ppm", "mmr")
        .orderBy("qid", "round")
    }),

    // E4 scale path: LSH bucketing by hyperplane-sign sketch over 4
    // deterministic pseudo-hyperplanes (sign of sum of md5-seeded
    // ±1 weights × components — portable across engines). Emits bucket
    // occupancy; candidate generation joins within buckets only.
    "q_ann_buckets" -> ((s, d) => {
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // Each plane is one dot product against a literal ±1 weight array
      // (single fold) rather than a 64-term Add tree; see [[planeWeights]].
      def planeSig(p: Int): Column =
        when(dot(col("v"), typedLit(planeWeights(p))) >= 0, lit(1)).otherwise(lit(0))
      emb.withColumn("bucket",
          concat_ws("", (0 until 4).map(p => planeSig(p).cast("string")): _*))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec"), max("vec_id").as("max_vec"))
        .orderBy("bucket")
    }),

    // E1/E4 embedding-cosine near-duplicate pairs, blocked by label
    // (the metadata blocking key; LSH buckets are the keyless variant).
    // Pair space is per-block quadratic — bounded by block size, not
    // corpus size, which is what survives a 100 TB corpus.
    "q_embed_near_dup" -> ((s, d) =>
      cosinePairs(s, d, threshold = 0.35)
        .select(col("label"), col("d1"), col("d2"),
          round(col("cosine"), 6).as("cos_r"))
        .orderBy("label", "d1", "d2")),

    // E4 IVF-style ANN: k fixed seed centroids; every vector is assigned
    // to its nearest centroid (one broadcast pass), then top-k search
    // only scans the query's own cell — the inverted-file pruning that
    // replaces the O(n·q) brute force at scale. Fully deterministic
    // (centroids = vec_id < 8, cosine ties broken by cid) → DuckDB
    // oracle below; in-cell recall also asserted in OperatorsSpec.
    "q_ivf_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", normFast(col("v")))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nv").as("nc"))
      val assign = emb.join(broadcast(cents), col("vec_id") =!= lit(-1))
        .withColumn("sim", dotFast(col("v"), col("cv")) / (col("nv") * col("nc")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid").asc)))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cell"), col("v"), col("nv"))
      val q = assign.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("cell"), col("v").as("qv"), col("nv").as("nq"))
      val scored = assign.join(broadcast(q), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", dotFast(col("qv"), col("v")) / (col("nq") * col("nv")))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id").as("vid"), round(col("score"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // E4 IVF PROBE TUNING — the nprobe sweep behind q_ivf_topk's
    // single-cell constant: for nprobe ∈ {1, 2, 4} of 8 coarse cells,
    // recall@3 against the memoized exact top-k AND the candidate
    // count actually scanned — the recall-vs-cost curve every IVF
    // deployment reads before fixing its probe width (the q_lsh_tuning
    // analog for the embedding index). The corpus-side cell assignment
    // is built ONCE and checkpointed; the three probe widths differ
    // only in which ≤4 of 8 broadcast probe rows they keep, so ×3
    // costs probe-join fan-out, never extra corpus scans.
    "q_ivf_tuning" -> ((s, d) => {
      val exact = cosineTopk(s, d)
        .select(col("qid").as("eqid"), col("vid").as("evid"))
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", normFast(col("v")))
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nv").as("nc"))
      val assign = emb.join(broadcast(cents), col("vec_id") =!= lit(-1))
        .withColumn("sim", dotFast(col("v"), col("cv")) / (col("nv") * col("nc")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid").asc)))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cell"), col("v"), col("nv"))
        .localCheckpoint() // shared by all three probe widths
      val qranks = emb.filter(col("vec_id") < 5)
        .join(broadcast(cents), col("vec_id") =!= lit(-1))
        .withColumn("sim", dotFast(col("v"), col("cv")) / (col("nv") * col("nc")))
        .withColumn("crank", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid").asc)))
        .select(col("vec_id").as("qid"), col("cid").as("cell"), col("crank"),
          col("v").as("qv"), col("nv").as("nq"))
      val probes = qranks
        .withColumn("np", explode(array(lit(1L), lit(2L), lit(4L))))
        .filter(col("crank") <= col("np"))
      val scored = assign.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", dotFast(col("qv"), col("v")) / (col("nq") * col("nv")))
        .select("np", "qid", "vec_id", "score")
        .localCheckpoint() // feeds the rank leg AND the scanned count
      val top3 = scored.withColumn("rank", row_number().over(
          Window.partitionBy("np", "qid").orderBy(col("score").desc, col("vec_id").asc)))
        .filter(col("rank") <= 3)
        .select(col("np"), col("qid"), col("vec_id").as("vid"))
      val hits = top3.join(exact,
          col("qid") === col("eqid") && col("vid") === col("evid"), "left_semi")
        .groupBy("np", "qid").agg(count(lit(1)).as("hits"))
      val scanned = scored.groupBy("np", "qid").agg(count(lit(1)).as("n_scanned"))
      probes.select("np", "qid").distinct()
        .join(scanned, Seq("np", "qid"), "left")
        .join(hits, Seq("np", "qid"), "left")
        .select(col("np"), col("qid"),
          coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall_micro", expr("hits * 1000000 div 3"))
        .orderBy("np", "qid")
    }),

    // E2 approx distinct count (HLL++). The raw estimate is
    // implementation-specific (built-in HLL++ register internals), so
    // it cannot be hash-compared cross-engine — instead the query
    // emits the DERIVED INVARIANT the estimate must satisfy (round-8
    // verdict item 6): exact count, the 3×rsd error bound the
    // RandomizedPropertySpec gate proves (rsd 5% default → 150000
    // ppm), and a within_bound boolean computed FROM the estimate.
    // The DuckDB oracle recomputes the exact side in plain SQL and
    // asserts within_bound = true, so an out-of-bound estimate now
    // FAILS the driver gate instead of being a permanent skip. The
    // exact countDistinct leg exists FOR the gate; the production form
    // of this operator is the estimate alone (fixed-size partial
    // aggregate per partition — the whole point of the sketch at
    // 100 TB), and the sketch's own error bounds stay proven in
    // RandomizedPropertySpec.
    "q_approx_distinct" -> ((s, d) =>
      events(s, d).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .withColumn("bound_ppm", lit(150000L))
        .withColumn("within_bound", expr(
          "abs(approx_users - exact_users) * 1000000 <= bound_ppm * exact_users"))
        .select("event_type", "exact_users", "n", "bound_ppm", "within_bound")
        .orderBy("event_type")),

    // E2 stretch: graft's own mergeable HLL sketch aggregate
    // (graft.functions.HllSketch) beside the built-in. The register
    // state is a MAX over a portable md5-derived hash — fully
    // order-independent — so unlike the built-in HLL++ this query
    // carries a complete DuckDB oracle that rebuilds the registers and
    // the estimator; accuracy bounds additionally spec'd in
    // OperatorsSpec.
    "q_hll_distinct" -> ((s, d) =>
      documents(s, d).groupBy("lang")
        .agg(graft.functions.HllSketch.hllDistinct(col("doc_id")).as("hll_docs"),
          countDistinct(col("doc_id")).as("exact_docs"))
        .orderBy("lang")),

    // E6/multimodal: opaque binary payload + typed metadata. The decode
    // itself is a deterministic stub (no image/audio libs in-container —
    // see graft.operators.Multimodal for the mapPartitions plumbing);
    // the Spark-side schema/partitioning/batching is real, and the
    // stub's md5-derived metadata is PORTABLE, so this query carries a
    // full DuckDB oracle despite the stubbed decode.
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.extractMeta(
          documents(s, d).select(col("doc_id"),
            col("text").cast("binary").as("payload"),
            col("source").as("media_source")))
        .orderBy("doc_id")),

    // E6 REAL header decode: the payloads are genuine PNG / JFIF+SOF0
    // JPEG / GIF89a containers (synthesized deterministically — no
    // media ships in this container) and the dimensions come out of
    // ImageHeaders' actual byte-level parse: BE32 IHDR fields, a JPEG
    // marker scan that must length-skip the APP0 preamble, LE16 GIF
    // screen descriptor. The oracle recomputes the same dims as pure
    // doc_id arithmetic (the synthesis rule), so any parser bug —
    // endianness, offset, marker skip — breaks the hash compare.
    "q_image_headers" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long"), col("source"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, src) =>
          (id, Multimodal.syntheticImage(id), src) })
        .toDF("doc_id", "payload", "media_source")
      Multimodal.extractMeta(payloads, Multimodal.ImageHeaders)
        .orderBy("doc_id")
    }),

    // E6 PIXEL-LEVEL multimodal compute: real grayscale-PNG (zlib
    // IDAT + filter reversal) and 24-bit BMP (BGR, bottom-up, padded
    // rows) decodes via Multimodal.PixelCodec, feeding a perceptual
    // AVERAGE-HASH fingerprint: luma pixels → 8×8 block sums → bit per
    // block (blockSum·64 > total, all integral) → two 32-bit hash
    // words. The payloads are synthesized from a deterministic pixel
    // rule the oracle recomputes arithmetically (no binary parsing
    // oracle-side), so a wrong PNG filter, missed BMP row pad, or
    // flipped channel breaks the hash compare. Spark shape: the only
    // black box is the per-row decode; the fingerprint itself is a
    // distributed explode + two hash-aggregations keyed on doc_id.
    "q_image_phash" -> ((s, d) => imagePhash(s, d).orderBy("doc_id")),

    // E6 MULTIMODAL NEAR-DUP: hamming-banded LSH join over the
    // perceptual hashes — the image analogue of q_minhash_lsh. The
    // 64-bit aHash splits into 4×16-bit bands; by pigeonhole any pair
    // within hamming distance 3 shares at least one intact band, so a
    // band-equality join is RECALL-LOSSLESS for the τ=2 filter (never
    // an approximation). The join runs over DISTINCT hashes, not docs
    // (dedup-before-LSH): identical-hash groups — the bulk of real
    // image-dup mass, 5000 docs → 394 hashes here — contribute
    // (groupsize−1) hamming-0 neighbors ARITHMETICALLY and never
    // enter the join, so candidate volume is bounded by distinct-hash
    // density, immune to exact-dup skew (the 442-doc group that
    // previously forced a salted 2.2M-pair self-join now costs one
    // aggregate row). A/B at sf0.1: 2.7 → 1.5 s warm, identical rows.
    // The oracle brute-forces all DOC pairs in DuckDB, so both the
    // banding's exactness and the group arithmetic sit under the hash
    // compare.
    "q_image_near_dup" -> ((s, d) => {
      // the memoized phash table is already a checkpoint scan — the
      // 3-column projection off it is cheap to re-evaluate per branch
      val ph = imagePhash(s, d)
        .select(col("doc_id"), col("phash_hi"), col("phash_lo"))
      val groups = ph.groupBy("phash_hi", "phash_lo")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds both join sides + the per-doc join
      val bands = groups
        .withColumn("band", explode(sequence(lit(0), lit(3))))
        .withColumn("bval", expr(
          """CASE WHEN band < 2 THEN (phash_hi >> (16 * band)) & 65535
            |ELSE (phash_lo >> (16 * (band - 2))) & 65535 END""".stripMargin))
        .select(col("band"), col("bval"),
          col("phash_hi").as("h"), col("phash_lo").as("l"), col("cnt"))
      // distinct-hash pairs sharing a band, canonical (h,l) order;
      // ham 0 is impossible across distinct hashes, so the filter is
      // 1..τ by construction
      val cross = bands
        .select(col("band"), col("bval"),
          col("h").as("h1"), col("l").as("l1"), col("cnt").as("c1"))
        .join(bands.select(col("band"), col("bval"),
          col("h").as("h2"), col("l").as("l2"), col("cnt").as("c2")),
          Seq("band", "bval"))
        .filter(col("h1") < col("h2") ||
          (col("h1") === col("h2") && col("l1") < col("l2")))
        .select("h1", "l1", "c1", "h2", "l2", "c2").distinct()
        .withColumn("ham",
          expr("bit_count(h1 ^ h2) + bit_count(l1 ^ l2)").cast("long"))
        .filter(col("ham") <= 2)
      // per-hash cross-group neighbor mass, both directions in one
      // explode (the unionAll form would re-run the candidate join
      // per branch)
      val crossAgg = cross
        .select(explode(array(
          struct(col("h1").as("h"), col("l1").as("l"),
            col("c2").as("oc"), col("ham")),
          struct(col("h2").as("h"), col("l2").as("l"),
            col("c1").as("oc"), col("ham")))).as("e"))
        .select(col("e.h"), col("e.l"), col("e.oc"), col("e.ham"))
        .groupBy("h", "l")
        .agg(sum(col("oc")).as("cross_n"), min(col("ham")).as("cross_min"))
      ph.join(groups, Seq("phash_hi", "phash_lo"))
        .join(crossAgg,
          col("phash_hi") === col("h") && col("phash_lo") === col("l"),
          "left")
        .withColumn("n_near_dups",
          col("cnt") - 1 + coalesce(col("cross_n"), lit(0L)))
        .filter(col("n_near_dups") > 0)
        .withColumn("min_ham",
          when(col("cnt") > 1, lit(0L)).otherwise(col("cross_min")))
        .select(col("doc_id"), col("n_near_dups"), col("min_ham"))
        .orderBy("doc_id")
    }),

    // E6 AUDIO multimodal compute: real RIFF/WAVE container walk +
    // PCM16 little-endian decode (Multimodal.AudioCodec), feeding the
    // classic audio-curation features — duration, energy (sum of
    // squares), peak, zero-crossing rate — ALL integral, so the
    // deterministic-synthesis oracle recomputes them arithmetically
    // from the waveform rule without touching a byte. Spark shape:
    // per-row decode is the only black box; the features are a
    // posexplode + per-doc window (bounded ≤193 samples/doc) + one
    // hash-aggregation on doc_id.
    "q_audio_features" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
        .toDF("doc_id", "payload")
      val ex = Multimodal.decodePcm(payloads)
        .select(col("doc_id"), col("sample_rate").cast("long").as("sample_rate"),
          posexplode(col("pcm")).as(Seq("pos", "v")))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      ex.withColumn("prev", lag(col("v"), 1).over(byDoc))
        .groupBy("doc_id", "sample_rate")
        .agg(count(lit(1)).as("n_samples"),
          sum((col("v") * col("v")).cast("long")).as("energy"),
          max(abs(col("v"))).cast("long").as("peak"),
          sum(when(col("prev").isNotNull && col("v") * col("prev") < 0, 1L)
            .otherwise(0L)).as("zero_crossings"))
        .withColumn("duration_ms", expr("n_samples * 1000 DIV sample_rate"))
        .orderBy("doc_id")
    }),

    // E6 VIDEO multimodal compute: real RIFF/AVI container walk
    // (nested LISTs, avih main header, raw 00db frame chunks) +
    // FRAME SAMPLING — decode emits one row per frame executor-side,
    // the sampler is an ordinary filter (every 2nd frame), and the
    // per-frame mean luma is an integral posexplode + hash-agg. The
    // triad q_image_* / q_audio_features / q_video_frames covers all
    // three media legs with honest byte-level decodes and arithmetic
    // oracles.
    "q_video_frames" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticAvi(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeFrames(payloads)
        .filter(col("frame_idx") % 2 === 0) // the frame sampler
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"),
          posexplode(col("pix")).as(Seq("pos", "v")))
        .groupBy("doc_id", "width", "height", "n_frames", "frame_idx")
        .agg(expr("sum(cast(v as bigint)) DIV (width * height)").as("mean_luma"),
          max(col("v")).cast("long").as("peak_luma"))
        .orderBy("doc_id", "frame_idx")
    }),

    // E6 VIDEO SCENE-CUT DETECTION — the temporal leg on top of the
    // frame decode: per-frame mean luma (all frames this time), then
    // a per-video lag window flags frames whose luma jumps ≥ 10 from
    // the previous frame — the shot-boundary heuristic a video
    // curation pass runs before sampling keyframes. Window partitions
    // by doc_id (fine-grained key, bounded frames per video), so no
    // single-task sort; everything integral, oracle mirrors the
    // synthetic frame rule arithmetically.
    "q_video_scenes" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticAvi(id))))
        .toDF("doc_id", "payload")
      val luma = Multimodal.decodeFrames(payloads)
        .select(col("doc_id"), col("width"), col("height"),
          col("n_frames"), col("frame_idx"),
          posexplode(col("pix")).as(Seq("pos", "v")))
        .groupBy("doc_id", "width", "height", "n_frames", "frame_idx")
        .agg(expr("sum(cast(v as bigint)) DIV (width * height)").as("mean_luma"))
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      luma
        .withColumn("delta", abs(col("mean_luma") - lag(col("mean_luma"), 1).over(w)))
        .groupBy(col("doc_id"), col("n_frames").cast("long").as("n_frames"))
        .agg(sum(when(col("delta") >= 10, 1L).otherwise(0L)).as("n_cuts"),
          max(col("delta")).as("max_delta"))
        .orderBy("doc_id")
    }),

    // Lloyd k-means in QUANTIZED integer space — the clustering stage
    // an IVF index or mixture analysis needs, made fully DuckDB-
    // oracle-able by the same move as the cents/PageRank conventions:
    // float k-means diverges cross-engine (summation order), but with
    // coordinates quantized to BIGINT micro-units, distances as exact
    // integer sums, centroid updates as truncating integer division
    // (Spark div == DuckDB //), and (dist, j) row_number tie-breaks,
    // two fixed Lloyd rounds are bit-identical in any engine. Physical
    // shape per round: the k centroids ride as a driver-held literal
    // and each vector's k squared distances come from ONE pass of the
    // CentroidDist2 kernel over its quantized array (no explode, no
    // join, no shuffle); the update is one k×dims aggregate collected
    // to the driver (kmeansParts). Seeds = the first k vectors; an
    // empty cluster keeps its previous centroid.
    "q_kmeans" -> ((s, d) => {
      kmeansParts(s, d).vecs.select("vec_id", "cluster")
        .withColumn("csize", count(lit(1)).over(Window.partitionBy("cluster")))
        .orderBy("vec_id")
    }),

    // E4 IVF CELL-BALANCE REPORT — index health for the coarse
    // quantizer: occupancy per cell under the seed centroids (the
    // assignment an IVF build starts from), each cell's corpus share,
    // and the global imbalance factor max/mean in ppm — the number
    // that predicts probe-latency skew (a 10× hot cell means 10× worst
    // -case probe cost; the fix is re-seeding or splitting, and this
    // report is how you notice). One kernel pass per vector against the
    // collected seeds (the kmeansParts assignment) + an O(k) aggregate;
    // shares and imbalance all integral.
    "q_ivf_cell_balance" -> ((s, d) => {
      val q = quantized(s, d)
      val asg = assignNearest(q, seedCentroids(q))
        .select(col("vec_id"), col("cluster").as("cell"))
      val occ = asg.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      val tot = broadcast(occ.agg(sum("n_vecs").as("n_total"),
        max("n_vecs").as("n_max"), count(lit(1)).as("k")))
      occ.crossJoin(tot)
        .withColumn("share_ppm", expr("n_vecs * 1000000 div n_total"))
        .withColumn("imbalance_ppm", expr("n_max * k * 1000000 div n_total"))
        .select("cell", "n_vecs", "share_ppm", "imbalance_ppm")
        .orderBy("cell")
    }),

    // E4 SIMPLIFIED SILHOUETTE — the internal-validity companion of
    // q_cluster_purity: per vector, a = dist² to its OWN final
    // centroid, b = min dist² to any OTHER centroid, s = (b−a)/max(a,b)
    // in integral milli (milli, not ppm: b is a 64-dim micro-unit
    // dist², up to ~2.6e14, so a ppm multiplier would overflow bigint).
    // The centroid-based form costs one O(vecs·k) distance table —
    // the one the assignment already computes, shared via kmeansParts,
    // so eval and clustering cannot drift — where full silhouette
    // would cost vecs² pairwise distances; at lake scale only the
    // centroid form survives, which is why it is the one implemented.
    "q_silhouette" -> ((s, d) => {
      val km = kmeansParts(s, d)
      val ids = lit(km.ids.toArray)
      val ab = km.vecs.select(col("cluster"), col("dist2").as("a2d"),
        array_min(filter(col("dists"),
          (_, i) => element_at(ids, i + 1) =!= col("cluster"))).as("b2d"))
      ab.withColumn("s_milli", expr(
          """case when greatest(a2d, b2d) = 0 then 0
            |else (b2d - a2d) * 1000 div greatest(a2d, b2d) end""".stripMargin))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), sum("s_milli").as("ssum"))
        .withColumn("mean_sil_milli", expr("ssum div n_vecs"))
        .select("cluster", "n_vecs", "mean_sil_milli")
        .orderBy("cluster")
    }),

    // E4 CLUSTER PURITY — the external-validity eval of the k-means
    // assignment against the label column: per-cluster majority label
    // + purity in integral ppm, and the corpus-level purity (Σ
    // majority / n). Composes the catalog's own q_kmeans (the q_mrr
    // rule — rides its oracle via the shared kmeansCte, so clustering
    // and eval can never drift); the eval itself is two O(k·labels)
    // aggregates. Honestly mediocre purity on iid-random embeddings —
    // which is what a measure-don't-guess eval is for.
    "q_cluster_purity" -> ((s, d) => {
      val asg = queries("q_kmeans")(s, d).select("vec_id", "cluster")
      val lab = embeddings(s, d).select(col("vec_id"), col("label"))
      val grid = asg.join(lab, "vec_id")
        .groupBy("cluster", "label").agg(count(lit(1)).as("n"))
      val per = grid
        .withColumn("csize", sum("n").over(Window.partitionBy("cluster")))
        .withColumn("rn", row_number().over(Window.partitionBy("cluster")
          .orderBy(col("n").desc, col("label").asc)))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("csize"),
          col("label").cast("long").as("majority_label"),
          col("n").as("n_majority"),
          expr("n * 1000000 div csize").as("purity_ppm"))
      val tot = broadcast(per.agg(sum("n_majority").as("sum_maj"),
        sum("csize").as("n_total")))
      per.crossJoin(tot)
        .withColumn("overall_purity_ppm",
          expr("sum_maj * 1000000 div n_total"))
        .select("cluster", "csize", "majority_label", "n_majority",
          "purity_ppm", "overall_purity_ppm")
        .orderBy("cluster")
    }),

    // E3/E4 SEMANTIC DEDUP (SemDeDup) — the embedding-space companion
    // of the lexical near-dup family: cluster the corpus with the
    // catalog's own k-means (kmeansParts — the cluster_purity lockstep
    // rule, so dedup and clustering can never drift), then look for
    // near-duplicates ONLY within a cluster. That within-cluster
    // restriction is the whole scale argument: k grows with the corpus
    // so expected occupancy stays bounded, and pairwise cost is
    // Σ occ² — never corpus². Belt-and-braces, the candidate window
    // per cluster is additionally capped at the 64 members CLOSEST to
    // their centroid (rank by (dist², vec_id) — the cross_source_dup
    // hot-bucket rule; a runaway cluster degrades to a bounded sample
    // instead of a quadratic task). A member is dropped when some
    // lower-ranked window member has cosine ≥ 0.35 with it (keep the
    // most-central representative — SemDeDup's policy). Cosine uses
    // the embed_near_dup double-fold convention; output is the
    // per-cluster retention report a curation pass reads. Physical
    // shape: the rank window reads the memoized kmeansParts table (own
    // dist², the vector and its norm are columns: no join), then ONE
    // array pass per cluster over its rank-sorted window, on the
    // window's own partitioning: member i is dropped when an `exists`
    // over members 0..i-1 finds a cosine ≥ 0.35 — folded with
    // dotFast(lower-ranked, higher-ranked), the operand order of the
    // pairwise form, so every cosine is bit-identical to it.
    "q_semdedup" -> ((s, d) => {
      val m = kmeansParts(s, d).vecs
        .withColumn("rnk", row_number().over(
          Window.partitionBy("cluster").orderBy(col("dist2"), col("vec_id"))))
        .filter(col("rnk") <= 64)
        .groupBy("cluster")
        .agg(sort_array(collect_list(struct(col("rnk"), col("v"), col("nv")))).as("m"))
      m.select(col("cluster"),
          size(col("m")).cast("long").as("n_window"),
          size(filter(col("m"), (b, i) => exists(slice(col("m"), lit(1), i),
            a => dotFast(a("v"), b("v")) / (a("nv") * b("nv")) >= 0.35)))
            .cast("long").as("n_dropped"))
        .withColumn("kept_ppm",
          expr("(n_window - n_dropped) * 1000000 div n_window"))
        .select("cluster", "n_window", "n_dropped", "kept_ppm")
        .orderBy("cluster")
    }),

    // E4 PRODUCT QUANTIZATION codes — the compression leg of ANN at
    // lake scale (IVF-PQ): each 64-dim embedding splits into 4
    // contiguous 16-dim subspaces, each independently k-means-coded
    // (k = 4 seeds, one Lloyd refinement), so a vector stores as 4
    // small codes instead of 64 floats — a 32x smaller candidate
    // table for the re-rank stage. The same integer micro-unit
    // convention as q_kmeans makes training AND assignment
    // bit-identical cross-engine, so the emitted codes themselves are
    // oracle-checked. All subspaces train in ONE dataflow — `sub` is
    // just another grouping key; no per-subspace driver loop, and the
    // shuffles stay keyed on (vec, sub) / (sub, code, dim).
    "q_pq_codes" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), expr("pos div 16").cast("long").as("sub"),
          (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
        .localCheckpoint()
      val c0 = dims.filter(col("vec_id") < 4)
        .select(col("sub").as("csub"), col("vec_id").as("j"),
          col("dim").as("cd"), col("qv").as("cval"))
      def assign(cents: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id", "sub").orderBy(col("dist2"), col("j"))
        dims.join(broadcast(cents),
            col("sub") === col("csub") && col("dim") === col("cd"))
          .groupBy("vec_id", "sub", "j")
          .agg(sum((col("qv") - col("cval")) * (col("qv") - col("cval"))).as("dist2"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("sub"), col("j").as("code"))
      }
      def update(asg: DataFrame, cents: DataFrame): DataFrame = {
        val upd = asg.join(dims, Seq("vec_id", "sub"))
          .groupBy(col("sub"), col("code"), col("dim"))
          .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
          .select(col("sub").as("usub"), col("code").as("j2"),
            col("dim").as("cd2"), expr("sq div cnt").as("nval"))
        // both sides are ≤ |subs|·k·16 = 256 rows by construction, but the
        // stats are opaque (checkpoint + agg) — broadcast explicitly
        cents.join(broadcast(upd), col("csub") === col("usub") && col("j") === col("j2") &&
            col("cd") === col("cd2"), "left")
          .select(col("csub"), col("j"), col("cd"),
            coalesce(col("nval"), col("cval")).as("cval"))
      }
      assign(update(assign(c0), c0))
        .orderBy("vec_id", "sub")
    }),

    // E4 FUSED IVF-PQ ANN (the FAISS IVFADC shape — the index that
    // actually serves 100 TB): coarse quantizer (8 seed centroids,
    // integral L2²) prunes the scan to the query's own cell; within
    // it, candidates are scored by ASYMMETRIC DISTANCE COMPUTATION —
    // a per-query lookup table (query sub-vector → each of the 4×4
    // codebook centroids, 80 rows, broadcast) turns per-candidate
    // cost into 4 table adds instead of 64 multiplies, against the
    // 32× smaller code table instead of raw vectors. Codebook = the
    // q_pq_codes trainer verbatim (same seeds, one Lloyd step).
    // Integer micro-units end-to-end: the ADC scores themselves are
    // exact longs, so the oracle hash covers training, assignment,
    // LUT, and ranking with zero float slack.
    "q_ivfpq_topk" -> ((s, d) => ivfpqTopk(s, d)),

    // E4 RANK CORRELATION (Kendall τ) between the exact cosine ranking
    // and the IVF-PQ ADC ranking over their common top-k docs — the
    // rank-AGREEMENT eval that complements set-overlap recall (an index
    // can recall all the right docs in the wrong order; recall won't
    // see it, τ will). Composes the two memoized top-k tables; pairs
    // are (common docs)² WITHIN each probe query — ≤ k² rows — and τ
    // is exact integral: (2·concordant − pairs)·1e6 div pairs, NULL
    // when fewer than 2 common docs (the kappa convention).
    "q_rank_tau" -> ((s, d) => {
      val a = cosineTopk(s, d).select(col("qid"), col("vid"), col("rank").as("ra"))
      val b = ivfpqTopk(s, d).select(col("qid"), col("vid"), col("rank").as("rb"))
      val common = a.join(b, Seq("qid", "vid"))
      val c1 = common.select(col("qid"), col("vid").as("v1"),
        col("ra").as("ra1"), col("rb").as("rb1"))
      val c2 = common.select(col("qid"), col("vid").as("v2"),
        col("ra").as("ra2"), col("rb").as("rb2"))
      val prs = c1.join(c2, "qid").filter(col("v1") < col("v2"))
        .select(col("qid"),
          when((col("ra1") - col("ra2")) * (col("rb1") - col("rb2")) > 0, 1L)
            .otherwise(0L).as("conc"))
      val agg = prs.groupBy("qid")
        .agg(count(lit(1)).as("n_pairs"), sum("conc").as("concordant"))
      val cnt = common.groupBy("qid").agg(count(lit(1)).as("n_common"))
      cnt.join(agg, Seq("qid"), "left")
        .select(col("qid"), col("n_common"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("concordant"), lit(0L)).as("concordant"),
          coalesce(col("n_pairs") - col("concordant"), lit(0L)).as("discordant"),
          expr("""case when coalesce(n_pairs, 0L) = 0L then null
                 else (2 * concordant - n_pairs) * 1000000 div n_pairs
                 end""").as("tau_ppm"))
        .orderBy("qid")
    }),

    // E4 HARD-NEGATIVE MINING for contrastive training: the top-3
    // most-similar DIFFERENT-label neighbors per probe — the negatives
    // that actually move an InfoNCE/triplet loss (random negatives are
    // trivially separable; these sit at the decision boundary). Same
    // broadcast-probe shape as the exact top-k with the label
    // inequality filtered BEFORE ranking; at lake scale the probe side
    // is the training batch (bounded), never the corpus.
    "q_hard_negatives" -> ((s, d) => {
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", normFast(col("v")))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("label").as("qlab"),
          col("v").as("qv"), col("nv").as("nq"))
      emb.join(broadcast(q), col("vec_id") =!= col("qid") && col("label") =!= col("qlab"))
        .select(col("qid"), col("vec_id").as("vid"),
          (dotFast(col("qv"), col("v")) / (col("nq") * col("nv"))).as("score"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("vid"),
          round(col("score"), 6).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // E4 RETRIEVAL EVAL (mean-reciprocal-rank leg): for each probe
    // vector, the reciprocal rank of the first top-k neighbor sharing
    // the probe's label — the relevance-judged eval loop a retrieval
    // index ships with (labels are the judgment proxy). Composes the
    // catalog's own exact top-k (referenced, not re-implemented), so
    // the metric rides that query's oracle; reciprocal rank in integer
    // micro-units (1e6 div rank), 0 = no relevant hit in the top-k.
    "q_mrr" -> ((s, d) => {
      val topk = queries("q_cosine_topk")(s, d).select("qid", "rank", "vid")
      val lab = embeddings(s, d).select(col("vec_id"), col("label"))
      val hit = topk
        .join(broadcast(lab.select(col("vec_id").as("qid"), col("label").as("qlab"))), "qid")
        .join(broadcast(lab.select(col("vec_id").as("vid"), col("label").as("vlab"))), "vid")
        .filter(col("qlab") === col("vlab"))
        .groupBy("qid").agg(min(col("rank")).as("first_hit"))
      topk.select("qid").distinct()
        .join(hit, Seq("qid"), "left")
        .withColumn("first_hit", coalesce(col("first_hit"), lit(0L)))
        .withColumn("rr_micro",
          coalesce(expr("1000000 div nullif(first_hit, 0)"), lit(0L)))
        .select("qid", "first_hit", "rr_micro")
        .orderBy("qid")
    }),

    // E4 measure-don't-guess for the IVF-PQ leg: recall@3 against the
    // exact integral-L2 brute force over the same quantized space (the
    // q_ann_recall pattern). Both legs are deterministic integer
    // pipelines, so the metric itself is oracle-gated — and the oracle
    // reuses the SAME CTE text as q_ivfpq_topk's, so the two can never
    // drift. The exact leg broadcasts the 5 query vectors (bounded by
    // the probe set, not the corpus). Expect LOW recall here by the
    // data's nature, not a bug: the synthetic embeddings are iid
    // random, so distances concentrate (the q_dbscan note) and a 4×4
    // codebook at nprobe=1 has little signal to preserve — which is
    // exactly what a self-evaluating metric is for.
    "q_ivfpq_recall" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val qd = dims.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("dim"), col("qv").as("qqv"))
      val exact = dims.join(broadcast(qd), Seq("dim"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id")
        .agg(sum((col("qv") - col("qqv")) * (col("qv") - col("qqv"))).as("dist2"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("dist2"), col("vec_id"))))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("vec_id"))
      val approx = queries("q_ivfpq_topk")(s, d)
        .select(col("qid").as("aqid"), col("vid").as("avid"))
      val hits = exact.join(approx,
          col("qid") === col("aqid") && col("vec_id") === col("avid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      exact.select("qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall_micro", expr("hits * 1000000 div 3"))
        .orderBy("qid")
    }),

    // E4/E14 RANDOM PROJECTION (Johnson-Lindenstrauss): 64-dim
    // embeddings compressed to 16 dims through a deterministic ±1 sign
    // matrix (md5 parity of "rp|p|dim") — the zero-training
    // dimensionality reduction that fronts ANN indexes and sketches at
    // lake scale. The sign matrix is 16×64 = 1024 rows built from
    // range() and BROADCAST to the dim-exploded vectors; each output
    // component is an exact integral Σ ±qv, so the projection is
    // hash-compare exact cross-engine. One shuffle, keyed (vec, p).
    "q_rand_proj" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val signs = s.range(16).select(col("id").as("p"))
        .crossJoin(s.range(1, 65).select(col("id").as("sdim")))
        .withColumn("sign",
          when(substring(md5(concat(lit("rp|"), col("p"), lit("|"), col("sdim"))), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), lit(1L)).otherwise(lit(-1L)))
      dims.join(broadcast(signs), col("dim") === col("sdim"))
        .groupBy("vec_id", "p")
        .agg(sum(col("sign") * col("qv")).as("comp"))
        .orderBy("vec_id", "p")
    }),

    // E4 SELF-EVALUATING ANN: recall@3 of the IVF leg against the
    // exact brute-force leg, per query vector — the measure-don't-
    // guess loop every approximate index needs before it replaces the
    // exact path at scale. Both legs ARE the catalog's own
    // deterministic queries (referenced, not re-implemented), so the
    // metric itself passes the oracle gate; recall in integer
    // micro-units per the repo convention.
    "q_ann_recall" -> ((s, d) => {
      val exact = queries("q_cosine_topk")(s, d).select("qid", "vid")
      val approx = queries("q_ivf_topk")(s, d)
        .select(col("qid").as("aqid"), col("vid").as("avid"))
      val hits = exact.join(approx,
          col("qid") === col("aqid") && col("vid") === col("avid"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      exact.select("qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall_micro", expr("hits * 1000000 div 3"))
        .orderBy("qid")
    }),

    // E4 MATRYOSHKA TRUNCATION RECALL — recall@3 of brute-force cosine
    // over the leading m ∈ {8, 16, 32} dimensions against the
    // memoized full-64-dim exact top-k: the design table behind
    // matryoshka-style dimension truncation (store/search a prefix of
    // the vector, keep most of the ranking). At 100 TB this is the
    // measurement that licenses cutting index memory 2-8× BEFORE
    // buying an IVF/PQ stage — and it composes with them (the
    // ivfpq_recall pattern). Shape: one corpus scan exploded ×3
    // truncation levels, a broadcast probe join (≤15 probe rows),
    // per-level top-3, then a semi-join against the exact memo —
    // probe-bounded everywhere, never corpus².
    "q_mrl_recall" -> ((s, d) => {
      val exact = cosineTopk(s, d).select(col("qid"), col("vid"))
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v64"))
        .select(col("vec_id"),
          explode(array(lit(8L), lit(16L), lit(32L))).as("m"), col("v64"))
        .select(col("vec_id"), col("m"),
          slice(col("v64"), lit(1), col("m").cast("int")).as("v"))
        .withColumn("nv", normFast(col("v")))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("m").as("qm"), col("vec_id").as("qid"),
          col("v").as("qv"), col("nv").as("nq"))
      val scored = emb.join(broadcast(q),
          col("m") === col("qm") && col("vec_id") =!= col("qid"))
        .select(col("m"), col("qid"), col("vec_id").as("vid"),
          (dotFast(col("qv"), col("v")) / (col("nq") * col("nv"))).as("score"))
      val w = Window.partitionBy("m", "qid")
        .orderBy(col("score").desc, col("vid").asc)
      val approx = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3).select("m", "qid", "vid")
      val hits = approx.join(exact
            .select(col("qid").as("eqid"), col("vid").as("evid")),
          col("qid") === col("eqid") && col("vid") === col("evid"), "left_semi")
        .groupBy("m", "qid").agg(count(lit(1)).as("hits"))
      q.select(col("qm").as("m"), col("qid")).distinct()
        .join(hits, Seq("m", "qid"), "left")
        .select(col("m").as("dims"), col("qid"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall_micro", expr("hits * 1000000 div 3"))
        .orderBy("dims", "qid")
    }),

    // E2/E13 SKETCH SET ALGEBRA: estimated vocabulary overlap between
    // two language slices via inclusion-exclusion over mergeable HLL
    // sketches — |A∩B| ≈ est(A) + est(B) − est(A∪B). This is what
    // mergeable sketches BUY at 100 TB: per-slice sketches computed
    // once (map-side combine, constant state) answer cross-slice
    // overlap questions with no re-scan and no shuffle of raw tokens.
    // Exact counterparts computed alongside; the portable md5 register
    // hash makes every estimate oracle-reproducible.
    "q_hll_overlap" -> ((s, d) => {
      import graft.functions.HllSketch.hllDistinct
      val tok = documents(s, d)
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("tk"))
        .filter(col("tk") =!= "")
      val a = tok.filter(col("lang") === "en")
      val b = tok.filter(col("lang") === "de")
      val ea = a.agg(hllDistinct(col("tk")).as("est_a"),
        countDistinct(col("tk")).as("exact_a"))
      val eb = b.agg(hllDistinct(col("tk")).as("est_b"),
        countDistinct(col("tk")).as("exact_b"))
      val eu = a.unionByName(b).agg(hllDistinct(col("tk")).as("est_union"))
      val xi = a.select("tk").distinct()
        .join(b.select("tk").distinct(), "tk")
        .agg(count(lit(1)).as("exact_inter"))
      ea.crossJoin(eb).crossJoin(eu).crossJoin(xi) // four 1-row frames
        .withColumn("est_inter", col("est_a") + col("est_b") - col("est_union"))
        .select("est_a", "est_b", "est_union", "est_inter",
          "exact_a", "exact_b", "exact_inter")
    }),

    // E16/E17 DBSCAN — density clustering over embeddings: exact
    // eps-neighborhoods (squared L2 in integer micro-units), core =
    // ≥ minPts neighbors, clusters = connected components of the
    // core↔core graph, border points adopt the smallest adjacent core
    // cluster, everything else is noise. Blocking key = `label`, the
    // family convention (cosinePairs): at dim 64 distance
    // concentration makes pivot/grid candidate pruning useless (the
    // within-block distance spread probes at ~15% of its mean, so an
    // eps-wide pivot bucket holds essentially the whole block) — an
    // EXACT eps-join rides the blocking key, and approximate
    // candidate pruning at 100 TB is the ANN family's job
    // (q_ann_buckets / q_minhash_lsh feed the same union-find).
    // Components via the one-shuffle blocked union-find; quantized
    // integer arithmetic end-to-end so the DuckDB oracle reproduces
    // roles AND cluster ids bit-exactly.
    "q_dbscan" -> ((s, d) => {
      val eps2 = 1500000000000L // (micro-unit distance)²; probed ≈ p02 of within-label pairs
      val minPts = 3
      val q = embeddings(s, d).select(col("label"), col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => round(x * 1000000).cast("double")).as("qv"))
        .withColumn("n2", dotFast(col("qv"), col("qv")))
      val a = q.select(col("label"), col("vec_id").as("u"),
        col("qv").as("qa"), col("n2").as("na"))
      val b = q.select(col("label"), col("vec_id").as("v"),
        col("qv").as("qb"), col("n2").as("nb"))
      // |x−y|² = |x|²+|y|²−2x·y over codegen'd dotFast; every term is
      // an integral double (≤ 64·(2e6)² ≈ 2.6e14 < 2^53) so the cast
      // back to long is exact on both engines
      val nbr = a.join(b, Seq("label")).filter(col("u") =!= col("v"))
        .withColumn("d2", (col("na") + col("nb")
          - lit(2.0) * dotFast(col("qa"), col("qb"))).cast("long"))
        .filter(col("d2") <= eps2)
        .select(col("label"), col("u"), col("v"))
        // post-filter pair set is tiny (~p02 of pairs) and feeds FOUR
        // consumers (degree, both edge semi-joins, border adoption)
        .localCheckpoint()
      val core = nbr.groupBy("label", "u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= minPts).select(col("label"), col("u"))
      val coreU = core.select(col("u"))
      val edges = nbr
        .join(coreU, Seq("u"), "left_semi")
        .join(coreU.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select(col("label").cast("string").as("block"),
          col("u").as("src"), col("v").as("dst"))
      // comp = min core id in the cluster; cores whose neighbors are
      // all non-core never reach an edge → their own id (the coalesce)
      val coreComp = core.select(col("u").as("node"))
        .join(GraphOps.blockedComponents(edges), Seq("node"), "left")
        .select(col("node"), coalesce(col("comp"), col("node")).as("ccomp"))
      val borderComp = nbr
        .join(coreU, Seq("u"), "left_anti")
        .join(coreComp.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u")).agg(min(col("ccomp")).as("bcomp"))
      embeddings(s, d).select(col("vec_id"), col("label"))
        .join(coreComp.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
        .join(borderComp.withColumnRenamed("u", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          when(col("ccomp").isNotNull, lit("core"))
            .when(col("bcomp").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("ccomp"), col("bcomp"), lit(-1L)).as("cluster"))
        .orderBy("vec_id")
    }),

    // E4/E9 CLASSIFIER EVAL: one-vs-rest ROC-AUC of the
    // nearest-class-mean scorer (score = integral dot with the label
    // centroid, the q_ncm_eval quantization) via the tie-aware
    // Mann-Whitney identity — AUC·2·P·N = Σ_s pos(s)·(2·cumneg(<s) +
    // neg(s)) over score-grouped counts. Exact integers end-to-end
    // (qv·cqv ≤ 64·(3e5)² ≈ 6e12 < 2^63), so the metric itself is
    // oracle-gated. Scale shape: one hash-agg to score-grouped counts
    // (card. ≤ distinct scores), then the running negative count runs
    // through the two-phase [[PrefixSum]] scan — no single-task
    // per-label sort survives a 100 TB eval set.
    "q_auc_eval" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("label"),
          (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val cents = dims.groupBy(col("label").as("clabel"), col("dim").as("cdim"))
        .agg(expr("sum(qv) div count(1)").as("cqv"))
      val scored = dims.join(broadcast(cents), col("dim") === col("cdim"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(col("qv") * col("cqv")).as("score"))
      val grp = scored.groupBy("clabel", "score")
        .agg(sum(when(col("label") === col("clabel"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("label") =!= col("clabel"), 1L).otherwise(0L)).as("n_neg"))
      val bounds = broadcast(grp.groupBy(col("clabel").as("blabel"))
        .agg(min(col("score")).as("slo"), max(col("score")).as("shi")))
      val cum = PrefixSum.runningSum(
        grp.join(bounds, col("clabel") === col("blabel")).drop("blabel"),
        Seq("clabel"), Seq(col("score")), col("n_neg"),
        PrefixSum.rangeBucket(col("score"), col("slo"), col("shi"), 32),
        "cum_neg")
      cum.groupBy("clabel")
        .agg(sum("n_pos").as("n_pos"), sum("n_neg").as("n_neg"),
          sum(col("n_pos") * (lit(2L) * col("cum_neg") - col("n_neg"))).as("u2"))
        .select(col("clabel").cast("long").as("clabel"),
          col("n_pos"), col("n_neg"),
          expr("u2 * 1000000 div (2 * n_pos * n_neg)").as("auc_micro"))
        .orderBy("clabel")
    }),

    // E4/E9 CALIBRATION (reliability diagram) for the same
    // centroid scorer: 10 equal-width score bins per one-vs-rest
    // label, each reporting volume, empirical positive rate, and mean
    // score — the table a probability-calibration pass (Platt /
    // isotonic) consumes. Bin edges from the per-label broadcast
    // min/max, bin math all-integral so both engines agree
    // bit-for-bit. One data-shuffle (the score hash-agg); the binning
    // aggregates the aggregate.
    "q_calibration" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("label"),
          (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val cents = dims.groupBy(col("label").as("clabel"), col("dim").as("cdim"))
        .agg(expr("sum(qv) div count(1)").as("cqv"))
      val scored = dims.join(broadcast(cents), col("dim") === col("cdim"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(col("qv") * col("cqv")).as("score"))
      val bounds = broadcast(scored.groupBy(col("clabel").as("blabel"))
        .agg(min(col("score")).as("slo"), max(col("score")).as("shi")))
      scored.join(bounds, col("clabel") === col("blabel"))
        .withColumn("bin", expr("(score - slo) * 10 div (shi - slo + 1)"))
        .groupBy("clabel", "bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("label") === col("clabel"), 1L).otherwise(0L)).as("n_pos"),
          sum("score").as("s_score"))
        .select(col("clabel").cast("long").as("clabel"), col("bin"), col("n"),
          expr("n_pos * 1000000 div n").as("pos_rate_micro"),
          expr("s_score div n").as("avg_score"))
        .orderBy("clabel", "bin")
    }),

    // E4/E9 YOUDEN OPERATING POINT — turn the q_calibration reliability
    // table into a DECISION: per one-vs-rest label, sweep the 10 bin
    // thresholds ("positive if bin ≥ t") and pick the one maximizing
    // Youden's J = TPR − FPR (milli, exact integers; (J desc, bin asc)
    // deterministic). The classic threshold choice when one must be
    // picked without a cost matrix. Rides the same centroid-scorer
    // binning as q_calibration (lockstep legs); the sweep is a 10-row
    // window per label over the bin AGGREGATE — nothing here rescans
    // data.
    "q_youden" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("label"),
          (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val cents = dims.groupBy(col("label").as("clabel"), col("dim").as("cdim"))
        .agg(expr("sum(qv) div count(1)").as("cqv"))
      val scored = dims.join(broadcast(cents), col("dim") === col("cdim"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(col("qv") * col("cqv")).as("score"))
      val bounds = broadcast(scored.groupBy(col("clabel").as("blabel"))
        .agg(min(col("score")).as("slo"), max(col("score")).as("shi")))
      val bins = scored.join(bounds, col("clabel") === col("blabel"))
        .withColumn("bin", expr("(score - slo) * 10 div (shi - slo + 1)"))
        .groupBy("clabel", "bin")
        .agg(sum(when(col("label") === col("clabel"), 1L).otherwise(0L))
            .as("np"),
          sum(when(col("label") =!= col("clabel"), 1L).otherwise(0L))
            .as("nn"))
      val wd = Window.partitionBy("clabel").orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy("clabel")
      bins
        .withColumn("tp", sum("np").over(wd))
        .withColumn("fp", sum("nn").over(wd))
        .withColumn("p", sum("np").over(wall))
        .withColumn("n", sum("nn").over(wall))
        .withColumn("tpr_milli", expr(
          "case when p = 0 then null else tp * 1000 div p end"))
        .withColumn("fpr_milli", expr(
          "case when n = 0 then null else fp * 1000 div n end"))
        .withColumn("j_milli", expr(
          """case when p = 0 or n = 0 then null
            |else tp * 1000 div p - fp * 1000 div n end""".stripMargin))
        .filter(col("j_milli").isNotNull) // degenerate one-class labels
        .groupBy(col("clabel"))
        .agg(min(struct((-col("j_milli")).as("nj"), col("bin").as("bin"),
          col("tp").as("tp"), col("fp").as("fp"),
          col("tpr_milli").as("tpr"), col("fpr_milli").as("fpr"))).as("x"))
        .select(col("clabel").cast("long").as("clabel"),
          col("x.bin").as("best_bin"), col("x.tp").as("tp"),
          col("x.fp").as("fp"), col("x.tpr").as("tpr_milli"),
          col("x.fpr").as("fpr_milli"), (-col("x.nj")).as("j_milli"))
        .orderBy("clabel")
    }),

    // E9 ADVERSARIAL VALIDATION — "can a classifier tell train from
    // validation?": split the corpus by vec_id parity, score every
    // vector on the exact integral mean-difference direction
    // w = μ₀ − μ₁, and report the split-separation ROC-AUC via the
    // same tie-aware Mann-Whitney identity as q_auc_eval. AUC ≈ ½ =
    // the splits are exchangeable (what a sound random split should
    // show); a big deviation means leakage or covariate shift, the
    // check run before trusting any eval number. One dim-exploded
    // hash-agg → O(dims) broadcast direction → score hash-agg → the
    // two-phase PrefixSum running negative count — no single-task
    // sort at any size.
    "q_adversarial_validation" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(pmod(col("vec_id"), lit(2L)).as("h"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("h"), col("vec_id"), col("pos").cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val w = broadcast(dims.groupBy("dim")
        .agg(expr("sum(case when h = 0 then qv else 0 end) " +
            "div greatest(sum(case when h = 0 then 1 else 0 end), 1)")
            .as("m0"),
          expr("sum(case when h = 1 then qv else 0 end) " +
            "div greatest(sum(case when h = 1 then 1 else 0 end), 1)")
            .as("m1"))
        .select(col("dim"), (col("m0") - col("m1")).as("wq")))
      val scored = dims.join(w, "dim")
        .groupBy("vec_id", "h")
        .agg(sum(expr("qv * wq")).as("score"))
      val grp = scored.groupBy("score")
        .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("h") === 1, 1L).otherwise(0L)).as("n_neg"))
      val bounds = broadcast(grp.agg(min("score").as("slo"),
        max("score").as("shi")))
      val cum = PrefixSum.runningSum(
        grp.crossJoin(bounds), Seq.empty, Seq(col("score")), col("n_neg"),
        PrefixSum.rangeBucket(col("score"), col("slo"), col("shi"), 32),
        "cum_neg")
      cum.agg(sum("n_pos").as("n_pos"), sum("n_neg").as("n_neg"),
          sum(col("n_pos") * (lit(2L) * col("cum_neg") - col("n_neg")))
            .as("u2"))
        .withColumn("auc_micro",
          expr("u2 * 1000000 div (2 * n_pos * n_neg)"))
        .withColumn("abs_dev_micro", abs(col("auc_micro") - lit(500000L)))
        .select("n_pos", "n_neg", "auc_micro", "abs_dev_micro")
    }),

    // E16 SEMI-SUPERVISED LABEL PROPAGATION — spread scarce labels
    // (seeds = vec_id < 100) over the similarity graph: edges join
    // vectors sharing a 6-plane LSH signature (64 buckets — the
    // q_ann_buckets machinery densified into a candidate graph), and
    // two synchronized rounds adopt the MIN neighbor label (the
    // deterministic tie-break; labeled nodes never change). The
    // workhorse of weak-supervision bootstrapping: label 20% by hand,
    // propagate to the near-duplicate neighborhood. Each round is one
    // edge-keyed shuffle + one hash-agg — O(edges) per round, edges
    // bucket-bounded (never all-pairs), rounds fixed at 2 so the
    // oracle unrolls exactly.
    "q_label_prop" -> ((s, d) => {
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      def planeSig(p: Int): Column =
        when(dot(col("v"), typedLit(planeWeights(p))) >= 0, lit(1L)).otherwise(lit(0L))
      val nodes = emb.withColumn("bucket",
        (0 until 6).map(p => planeSig(p) * (1L << p)).reduce(_ + _))
        .select(col("vec_id"), col("label"), col("bucket"))
        .localCheckpoint() // feeds the edge self-join AND both rounds
      val edges = nodes.select(col("vec_id").as("u"), col("bucket"))
        .join(nodes.select(col("vec_id").as("v"), col("bucket")), "bucket")
        .filter(col("u") =!= col("v"))
        .select("u", "v")
      val seed = nodes.select(col("vec_id"),
        when(col("vec_id") < 100, col("label")).otherwise(lit(null)).as("l"))
      def step(cur: DataFrame): DataFrame = {
        val nb = edges
          .join(cur.select(col("vec_id").as("v"), col("l").as("nl")), "v")
          .groupBy(col("u")).agg(min(col("nl")).as("nbmin"))
        cur.join(nb.withColumnRenamed("u", "vec_id"), Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("l"), col("nbmin")).as("l"))
      }
      step(step(seed))
        .select(col("vec_id"),
          coalesce(col("l"), lit(-1)).cast("long").as("prop_label"))
        .orderBy("vec_id")
    }),

    // E4/E9 SPLIT-CONFORMAL CALIBRATION — the distribution-free
    // prediction-set recipe: hold out a calibration split (vec_id % 5),
    // score every vector by its nonconformity (integral L2² to the own
    // -label centroid, the q_ncm_eval quantization), take the
    // ceil((n+1)(1−α))-th smallest calibration score as the per-label
    // threshold (α = 0.1), and report empirical coverage on the rest —
    // the finite-sample ≥ 1−α guarantee, measured. The exact-rank
    // selection runs through the two-phase [[PrefixSum]] scan (no
    // single-task per-label sort); everything else is hash-aggs with
    // broadcast probes. Exact integers end-to-end → oracle-gated.
    "q_conformal" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("label"),
          (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val cents = dims.groupBy(col("label").as("clabel"), col("dim").as("cdim"))
        .agg(expr("sum(qv) div count(1)").as("cqv"))
      val score = dims
        .join(broadcast(cents),
          col("label") === col("clabel") && col("dim") === col("cdim"))
        .groupBy("vec_id", "label")
        .agg(sum((col("qv") - col("cqv")) * (col("qv") - col("cqv"))).as("score"))
      val calib = score.filter(pmod(col("vec_id"), lit(5L)) === 0)
      val bounds = broadcast(calib.groupBy(col("label").as("blabel"))
        .agg(min(col("score")).as("slo"), max(col("score")).as("shi"),
          count(lit(1)).as("n_calib")))
      val ranked = PrefixSum.rowNumber(
        calib.join(bounds, col("label") === col("blabel")).drop("blabel"),
        Seq("label"), Seq(col("score"), col("vec_id")),
        PrefixSum.rangeBucket(col("score"), col("slo"), col("shi"), 32), "rn")
      val thr = ranked
        .withColumn("k",
          least(expr("(9 * (n_calib + 1) + 9) div 10"), col("n_calib")))
        .filter(col("rn") === col("k"))
        .select(col("label"), col("n_calib"), col("k"),
          col("score").as("thr_micro"))
      score.filter(pmod(col("vec_id"), lit(5L)) =!= 0)
        .join(broadcast(thr), "label")
        .groupBy(col("label"), col("n_calib"), col("k"), col("thr_micro"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("score") <= col("thr_micro"), 1L).otherwise(0L))
            .as("covered"))
        .select(col("label").cast("long").as("label"), col("n_calib"),
          col("k"), col("thr_micro"), col("n_eval"), col("covered"),
          expr("covered * 1000000 div n_eval").as("cov_micro"))
        .orderBy("label")
    }),

    // E4 RANKED-RETRIEVAL QUALITY: nDCG@3 per probe over the
    // catalog's own exact top-k (same composition as q_mrr — the
    // metric rides q_cosine_topk's oracle), binary relevance = label
    // match. The discount weights 1e6/log2(rank+1) are PINNED INTEGER
    // LITERALS (1000000, 630930, 500000) so no float log crosses the
    // engine boundary; every label has ≥ 3 corpus members, so the
    // ideal DCG is the constant full-relevance prefix and
    // ndcg = dcg/Σw exactly.
    "q_ndcg" -> ((s, d) => {
      val topk = queries("q_cosine_topk")(s, d).select("qid", "rank", "vid")
      val lab = embeddings(s, d).select(col("vec_id"), col("label"))
      topk
        .join(broadcast(lab.select(col("vec_id").as("qid"), col("label").as("qlab"))), "qid")
        .join(broadcast(lab.select(col("vec_id").as("vid"), col("label").as("vlab"))), "vid")
        .withColumn("w",
          when(col("rank") === 1, 1000000L).when(col("rank") === 2, 630930L)
            .otherwise(500000L))
        .groupBy("qid")
        .agg(sum(when(col("qlab") === col("vlab"), col("w")).otherwise(0L)).as("dcg"))
        .select(col("qid"), col("dcg"),
          expr("dcg * 1000000 div 2130930").as("ndcg_micro"))
        .orderBy("qid")
    }),

    // E4/E5 EMBEDDING COVARIANCE (leading 8 dims) — the moment matrix
    // behind PCA whitening and embedding-drift monitors: cov(i,j) =
    // (n·Σvᵢvⱼ − Σvᵢ·Σvⱼ)/n² over the upper triangle, in exact
    // integer MILLI units (1e3, not the usual 1e6: the n·Σvᵢvⱼ cross
    // term squares the quantization scale, and milli keeps it inside
    // long range out to ~1e9 rows where micro overflows at ~5e4).
    // One pass, no per-row state: the 36-pair spinner is a narrow
    // explode absorbed by map-side partials into exactly 36 groups —
    // shuffle volume is O(36) regardless of corpus size, the
    // classic single-pass distributed moment computation.
    "q_embed_cov" -> ((s, d) => {
      val dims = 8
      val pairLits = (for { i <- 0 until dims; j <- i until dims }
        yield s"struct(${i}L as i, ${j}L as j)").mkString(",")
      embeddings(s, d)
        .select(expr(s"explode(array($pairLits))").as("p"), col("embedding"))
        .select(col("p.i").as("i"), col("p.j").as("j"),
          round(element_at(col("embedding"), col("p.i").cast("int") + 1)
            .cast("double") * 1000).cast("long").as("vi"),
          round(element_at(col("embedding"), col("p.j").cast("int") + 1)
            .cast("double") * 1000).cast("long").as("vj"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"), sum("vi").as("si"), sum("vj").as("sj"),
          sum(col("vi") * col("vj")).as("sij"))
        .withColumn("cov_milli2", expr("(n * sij - si * sj) div n div n"))
        .select("i", "j", "n", "cov_milli2")
        .orderBy("i", "j")
    }),

    // E4 PCA TOP COMPONENT — the dominant eigenvector of q_embed_cov's
    // 8-dim covariance via 6 fixed power-iteration rounds, plus its
    // Rayleigh-quotient eigenvalue: the embedding-health diagnostic
    // (anisotropy / rogue-dimension detection) every embedding
    // pipeline runs before trusting cosine distances. The iteration
    // runs ON THE 36-ROW COVARIANCE AGGREGATE — at 100 TB the corpus
    // is scanned once (by the referenced q_embed_cov) and every
    // subsequent round is an O(dims²) join however large the data.
    // Integer lockstep throughout (matvec in bigint, per-round
    // renormalization to max|x| = 1000 by integral division), so 6
    // rounds are bit-identical cross-engine — the pagerank
    // convention; the all-zero-matrix degenerate denominator is
    // NULL-guarded on both engines.
    "q_pca_power" -> ((s, d) => {
      import s.implicits._
      val cov = queries("q_embed_cov")(s, d).select("i", "j", "cov_milli2")
      // r16: the corpus-sized work is the covariance AGGREGATE (the
      // referenced q_embed_cov — distributed, one scan); the power
      // iteration itself is O(dims²)=36 values. Running its 6 rounds
      // as Spark jobs (matvec join + 8-row localCheckpoint per round)
      // was pure scheduling floor — ProfQ measured 47 jobs and 0.30
      // task-seconds against 1.62 s wall. The iteration now runs on
      // the COLLECTED aggregate in exact Long arithmetic (the kmeans-
      // centroid / BPE-argmax bounded-fitter-state precedent; Scala /
      // and SQL `div` both truncate toward zero, so the integer
      // lockstep with the unrolled DuckDB oracle is unchanged).
      // A covariance entry is NULL when one of its two dims is absent
      // from every embedding (vectors shorter than 8). Such a dim has
      // no entry at all, so it drops out of the iteration and the
      // result, as a NULL term drops out of a SQL SUM.
      val entries = cov.filter(col("cov_milli2").isNotNull).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val m = (entries ++ entries.filter(e => e._1 != e._2)
        .map(e => (e._2, e._1, e._3))).toSeq
      val byRow = m.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
      var x: Map[Long, Long] =
        byRow.keysIterator.map(dd => dd -> 1000L).toMap
      def matvec(v: Map[Long, Long]): Map[Long, Long] =
        byRow.map { case (i, es) =>
          i -> es.iterator.map { case (j, c) => c * v(j) }.sum }
      for (_ <- 1 to 6) {
        val w = matvec(x)
        val ma = math.max(
          if (w.isEmpty) 0L else w.valuesIterator.map(math.abs).max, 1L)
        x = w.map { case (i, wi) => i -> wi * 1000L / ma }
      }
      val wf = matvec(x)
      val num = x.iterator.map { case (i, xi) => xi * wf(i) }.sum
      val den = x.valuesIterator.map(xi => xi * xi).sum
      val lam: Option[Long] = if (den == 0) None else Some(num / den)
      x.toSeq.sortBy(_._1)
        .map { case (dd, xi) => (dd, xi, lam) }
        .toDF("dim", "eig_milli", "lambda_milli2")
    }),

    // E4 ANISOTROPY REPORT — how much of the embedding variance the
    // top principal component owns: λ_top / trace(C) in ppm, composing
    // the catalog's own q_pca_power and q_embed_cov (referenced, not
    // re-implemented — the q_ann_recall rule). Near-1e6 = the space
    // has collapsed to a line and cosine similarity is meaningless;
    // the go/no-go check before shipping any similarity index. Cost
    // is the two referenced aggregates; the composition itself is
    // arithmetic on one row, NULL-guarded on the zero-trace and
    // NULL-λ degenerates.
    "q_anisotropy" -> ((s, d) => {
      val tr = queries("q_embed_cov")(s, d).filter(col("i") === col("j"))
        .agg(sum("cov_milli2").as("trace_milli2"))
      val lam = queries("q_pca_power")(s, d)
        .agg(min("lambda_milli2").as("lambda_milli2"))
      tr.crossJoin(lam)
        .withColumn("anisotropy_ppm", expr(
          """case when trace_milli2 <= 0 or lambda_milli2 is null then null
            |else lambda_milli2 * 1000000 div trace_milli2 end""".stripMargin))
        .select("trace_milli2", "lambda_milli2", "anisotropy_ppm")
    }),

    // E4 EMBEDDING GROUP DRIFT — per-dimension two-sample shift report
    // between the even- and odd-label halves of the corpus: mean and
    // variance per group (integral milli / milli², the embed_cov
    // convention) and the absolute mean shift — the train/serve-skew
    // diagnostic run before trusting a similarity index built on one
    // half against queries from the other. ONE corpus scan folded to
    // an O(dims) aggregate by map-side partials; everything after is
    // arithmetic on 8 rows. Degenerate empty-group denominators
    // NULL-guarded on both engines.
    "q_embed_drift" -> ((s, d) => {
      val base = embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "fv")))
        .filter(col("pos") < 8)
        .select((col("label") % 2 === 0).as("even"),
          (col("pos") + 1).cast("long").as("dim"),
          round(col("fv").cast("double") * 1000).cast("long").as("v"))
      base.groupBy("dim")
        .agg(
          count(when(col("even"), 1)).as("na"),
          sum(when(col("even"), col("v"))).as("sa"),
          sum(when(col("even"), col("v") * col("v"))).as("qa"),
          count(when(!col("even"), 1)).as("nb"),
          sum(when(!col("even"), col("v"))).as("sb"),
          sum(when(!col("even"), col("v") * col("v"))).as("qb"))
        .withColumn("mean_even_milli",
          expr("case when na = 0 then null else sa div na end"))
        .withColumn("mean_odd_milli",
          expr("case when nb = 0 then null else sb div nb end"))
        .withColumn("var_even_milli2",
          expr("case when na = 0 then null else (na * qa - sa * sa) div na div na end"))
        .withColumn("var_odd_milli2",
          expr("case when nb = 0 then null else (nb * qb - sb * sb) div nb div nb end"))
        .withColumn("shift_milli", abs(col("mean_even_milli") - col("mean_odd_milli")))
        .select("dim", "na", "nb", "mean_even_milli", "mean_odd_milli",
          "var_even_milli2", "var_odd_milli2", "shift_milli")
        .orderBy("dim")
    }),

    // E5/E9 DECISION STUMP — the one-split classifier sweep that
    // feature-importance screens and boosting weak learners are built
    // from: for each of the leading 8 dims, scan 7 fixed milli
    // thresholds and report the split minimizing weighted Gini
    // impurity of the binary target (label==0), all in integral ppm
    // (G_side·1e6 = (n²−c₀²−c₁²)·1e6 div n²). The 56-combo spinner is
    // a narrow explode collapsed by map-side partials into 56 groups —
    // one O(56)-volume shuffle however large the table — and the
    // per-dim argmin is a 56-row struct-min, deterministic via the
    // (gini, threshold) total order.
    "q_decision_stump" -> ((s, d) => {
      val comboLits = (for { dd <- 0 until 8; t <- -300 to 300 by 100 }
        yield s"struct(${dd}L as d, ${t}L as t)").mkString(",")
      val agg = embeddings(s, d)
        .select(expr(s"explode(array($comboLits))").as("p"),
          col("embedding"), col("label"))
        .select(col("p.d").as("d"), col("p.t").as("t"),
          round(element_at(col("embedding"), col("p.d").cast("int") + 1)
            .cast("double") * 1000).cast("long").as("v"),
          (col("label") === 0).cast("long").as("y0"))
        .withColumn("in_l", (col("v") <= col("t")).cast("long"))
        .groupBy("d", "t")
        .agg(count(lit(1)).as("n"), sum("y0").as("c0"),
          sum("in_l").as("nl"), sum(col("in_l") * col("y0")).as("c0l"))
      agg
        .withColumn("nr", col("n") - col("nl"))
        .withColumn("c0r", col("c0") - col("c0l"))
        .withColumn("gl_ppm", when(col("nl") === 0, lit(0L)).otherwise(expr(
          "(nl*nl - c0l*c0l - (nl-c0l)*(nl-c0l)) * 1000000 div (nl*nl)")))
        .withColumn("gr_ppm", when(col("nr") === 0, lit(0L)).otherwise(expr(
          "(nr*nr - c0r*c0r - (nr-c0r)*(nr-c0r)) * 1000000 div (nr*nr)")))
        .withColumn("gini_ppm", expr("(nl * gl_ppm + nr * gr_ppm) div n"))
        .groupBy("d")
        .agg(min(struct(col("gini_ppm"), col("t"), col("nl"))).as("b"))
        .select(col("d"), col("b.t").as("best_t_milli"),
          col("b.gini_ppm").as("gini_ppm"), col("b.nl").as("n_left"))
        .orderBy("d")
    }),

    // E4 MAP@3 — average precision per probe over the exact top-k,
    // completing the retrieval-eval trio (q_mrr rewards the FIRST hit,
    // q_ndcg discounts by position, AP integrates precision at every
    // hit): AP@3 = Σ_{i hit} prec@i / 3 with prec@i = hits≤i · 1e6
    // div i, exactly integral. Rides the memo-free q_cosine_topk
    // (15 rows out) — the window below orders ≤3 rows per probe, so
    // cost is the top-k's, not the window's.
    "q_map_eval" -> ((s, d) => {
      val topk = queries("q_cosine_topk")(s, d).select("qid", "rank", "vid")
      val lab = embeddings(s, d).select(col("vec_id"), col("label"))
      val byQ = Window.partitionBy("qid").orderBy("rank")
      topk
        .join(broadcast(lab.select(col("vec_id").as("qid"), col("label").as("qlab"))), "qid")
        .join(broadcast(lab.select(col("vec_id").as("vid"), col("label").as("vlab"))), "vid")
        .withColumn("rel", (col("qlab") === col("vlab")).cast("long"))
        .withColumn("cum_hits", sum(col("rel")).over(byQ))
        .withColumn("contrib", expr("rel * (cum_hits * 1000000 div rank)"))
        .groupBy("qid")
        .agg(sum("rel").as("n_hits"), expr("sum(contrib) div 3").as("ap_micro"))
        .orderBy("qid")
    }),

    // E4 EMBEDDING NORM PROFILE — per-label L2² norm stats in exact
    // integer micro²-units: the vector-QA pass run before any
    // similarity work (collapsed or exploded norms per class flag a
    // broken encoder batch; cosine needs non-degenerate norms). One
    // dim-exploded hash-agg to per-vector norms, one O(labels) rollup.
    "q_embed_norms" -> ((s, d) => {
      val norms = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("label"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
        .groupBy("vec_id", "label")
        .agg(sum(col("qv") * col("qv")).as("norm2"))
      norms.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), min("norm2").as("min_norm2"),
          max("norm2").as("max_norm2"),
          expr("sum(norm2) div count(1)").as("mean_norm2"))
        .select(col("label").cast("long").as("label"), col("n_vecs"),
          col("min_norm2"), col("mean_norm2"), col("max_norm2"))
        .orderBy("label")
    }),

    // E4 RECIPROCAL-RANK FUSION — the hybrid-search combiner: fuse the
    // exact cosine ranking with the IVF-PQ ADC ranking per probe via
    // RRF (Σ 1/(60+rank), held in integral micro-units — k=60 is the
    // canonical constant). Composes the two catalog queries directly
    // (the q_mrr precedent — rides their oracles, can never drift),
    // full-outer on (query, item) so a hit in either list scores, and
    // the fused top-3 uses the (score desc, item asc) tie-break. At
    // scale both input rankings are probe-bounded, so fusion is
    // O(probes · k) — the cheapest stage of the stack it sits on.
    "q_retrieval_fusion" -> ((s, d) => {
      val ex = queries("q_cosine_topk")(s, d)
        .select(col("qid"), col("vid").as("item"), col("rank").as("r_exact"))
      val adc = queries("q_ivfpq_topk")(s, d)
        .select(col("qid"), col("vid").as("item"), col("rank").as("r_adc"))
      val fused = ex.join(adc, Seq("qid", "item"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr("1000000 div (60 + r_exact)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + r_adc)"), lit(0L)))
      val w = Window.partitionBy("qid")
        .orderBy(col("rrf_micro").desc, col("item").asc)
      fused.withColumn("fused_rank", row_number().over(w).cast("long"))
        .filter(col("fused_rank") <= 3)
        .select("qid", "fused_rank", "item", "rrf_micro", "r_exact", "r_adc")
        .orderBy("qid", "fused_rank")
    }),

    // E6 IMAGE HISTOGRAM STATS — per-image luma-histogram Shannon
    // entropy + mean luminance over the REAL pixel decode path (the
    // same PNG-inflate/BMP-walk codec as q_image_phash): the
    // blur/blank/synthetic-content screen an image-curation pipeline
    // runs (near-zero entropy = flat or corrupt frame). Entropy uses
    // the count-only H = ln N − (Σ c·ln c)/N form (q_token_entropy
    // precedent, rounded 6); mean luma is integral. The histogram
    // aggregate is (doc, level)-keyed with ≤ 256 levels per doc —
    // map-side partials absorb the pixel explode, nothing scales
    // beyond O(docs · 256) past the first shuffle.
    "q_image_entropy" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticPixelImage(id))))
        .toDF("doc_id", "payload")
      val hist = Multimodal.decodeLuma(payloads)
        .select(col("doc_id"), posexplode(col("lum")).as(Seq("pos", "v")))
        .groupBy("doc_id", "v").agg(count(lit(1)).as("c"))
      hist.groupBy("doc_id")
        .agg(sum("c").as("n_px"), count(lit(1)).as("n_levels"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("s_clnc"),
          sum(col("v").cast("long") * col("c")).as("s_lum"))
        .select(col("doc_id"), col("n_px"), col("n_levels"),
          expr("s_lum div n_px").as("mean_lum"),
          round(log(col("n_px").cast("double")) - col("s_clnc") / col("n_px"), 6)
            .as("entropy_nats"))
        .orderBy("doc_id")
    }),

    // E6 BASELINE JPEG DECODE — the third real pixel codec (after the
    // PNG Inflater path and the BMP walk): per-doc synthetic payloads
    // are genuine Huffman-coded sequential-DCT JPEGs (JpegCodec, DC
    // prediction across blocks, byte stuffing, Annex K tables) whose
    // 8×8-block-constant pixels make the lossy pipeline EXACT — all AC
    // coefficients are exactly 0 and DC is a multiple of its quant
    // step — so the oracle recomputes the decoded pixels
    // arithmetically. The position-weighted checksum pins pixel
    // PLACEMENT (a transposed or cropped decode changes it even when
    // the histogram survives). Same scale shape as q_image_entropy:
    // decode per partition, (doc)-keyed aggregate, nothing beyond
    // O(docs) past the first shuffle.
    "q_jpeg_decode" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        // the id column is a few KB per parquet split, so the scan
        // yields ONE partition — but the work here is the per-row
        // DCT+Huffman decode, not the scan. Spread rows round-robin
        // across the executor cores first or the whole decode runs
        // serially on one thread (measured 13.5 s → ~1 s at sf0.1/32;
        // the same rule at lake scale: partition by COMPUTE, not by
        // input splits, when the payload synthesis is row-local).
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticJpegImage(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeLuma(payloads)
        .select(col("doc_id"), col("width"), col("height"),
          posexplode(col("lum")).as(Seq("pos", "v")))
        .groupBy("doc_id", "width", "height")
        .agg(count(lit(1)).as("n_px"),
          sum(col("v").cast("long")).as("lum_sum"),
          sum(col("v").cast("long") * (col("pos").cast("long") + 1))
            .as("pos_checksum"))
        .select(col("doc_id"), col("width"), col("height"), col("n_px"),
          col("lum_sum"), expr("lum_sum div n_px").as("mean_lum"),
          col("pos_checksum"))
        .orderBy("doc_id")
    }),

    // E6 COLOR JPEG DECODE (round-8 verdict item 3) — the YCbCr
    // upgrade to q_jpeg_decode: per-doc payloads are genuine
    // interleaved-MCU baseline color JPEGs (even ids 4:2:0 — four Y
    // blocks then Cb then Cr per 16×16 MCU, quarter-res chroma,
    // replicate upsampling; odd ids 4:4:4), with (Y, Cb, Cr) constant
    // per macroblock so Huffman→dequant→IDCT→upsample is EXACT, and
    // the YCbCr→RGB step is integer fixed-point (JpegCodec.yccToRgb)
    // so the oracle recomputes the decoded RGB arithmetically. The
    // position-weighted channel checksum pins placement AND channel
    // order (a swapped Cb/Cr or transposed decode shifts it). Scale
    // shape = q_jpeg_decode: decode per partition after a compute
    // repartition, one (doc)-keyed aggregate.
    "q_jpeg_color" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticColorJpegImage(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeRgb(payloads)
        .select(col("doc_id"), col("width"), col("height"),
          posexplode(col("rgb")).as(Seq("pos", "px")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("pos"),
          expr("px div 65536").cast("long").as("r"),
          expr("px div 256 % 256").cast("long").as("g"),
          expr("px % 256").cast("long").as("b"))
        .groupBy("doc_id", "width", "height")
        .agg(count(lit(1)).as("n_px"),
          sum("r").as("r_sum"), sum("g").as("g_sum"), sum("b").as("b_sum"),
          sum(expr("(r * 4 + g * 2 + b) * (pos + 1)")).as("pos_checksum"))
        .orderBy("doc_id")
    }),

    // E6 TRUECOLOR PNG DECODE (round-9 verdict item 3) — the lossless
    // color leg: per-doc payloads are genuine truecolor PNGs (even ids
    // RGB type 2, odd ids RGBA type 6 with a load-bearing alpha byte
    // in the filter stride) whose scanlines cycle ALL FIVE filters
    // (none/sub/up/average/paeth — the gray corpus never emitted
    // avg/paeth), deflate-compressed for real. PNG is lossless, so the
    // decode is pixel-EXACT and the oracle recomputes every channel
    // arithmetically from the synthesis rule; the channel-weighted
    // position checksum pins placement and channel order exactly as in
    // q_jpeg_color. Scale shape identical: per-partition decode after
    // a compute repartition, one (doc)-keyed aggregate.
    "q_png_color" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticColorPngImage(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeRgb(payloads)
        .select(col("doc_id"), col("width"), col("height"),
          posexplode(col("rgb")).as(Seq("pos", "px")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("pos"),
          expr("px div 65536").cast("long").as("r"),
          expr("px div 256 % 256").cast("long").as("g"),
          expr("px % 256").cast("long").as("b"))
        .groupBy("doc_id", "width", "height")
        .agg(count(lit(1)).as("n_px"),
          sum("r").as("r_sum"), sum("g").as("g_sum"), sum("b").as("b_sum"),
          sum(expr("(r * 4 + g * 2 + b) * (pos + 1)")).as("pos_checksum"))
        .orderBy("doc_id")
    }),

    // E6 INDEXED-COLOR PNG DECODE (round-10 verdict item 1) — the
    // palette leg: per-doc payloads are genuine color-type-3 PNGs
    // (PLTE lookup tables, scanlines of palette INDICES filtered at
    // the bpp-1 stride, odd ids with a tRNS short-transparency chunk,
    // every third id Adam7-interlaced), deflate-compressed for real.
    // The ARGB projection keeps alpha, so the tRNS boundary (first
    // P/2 entries translucent, rest opaque 255) is value-checked, not
    // just parsed. Lossless + closed-form palette ⇒ fully arithmetic
    // oracle; the alpha-weighted position checksum pins placement,
    // channel order AND the index→entry mapping. Scale shape =
    // q_png_color: per-partition decode after a compute repartition,
    // one (doc)-keyed aggregate.
    "q_png_palette" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticPalettePngImage(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeArgb(payloads)
        .select(col("doc_id"), col("width"), col("height"),
          posexplode(col("argb")).as(Seq("pos", "px")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("pos"),
          expr("(cast(px as bigint) & 4294967295) div 16777216").as("a"),
          expr("(cast(px as bigint) & 4294967295) div 65536 % 256").as("r"),
          expr("(cast(px as bigint) & 4294967295) div 256 % 256").as("g"),
          expr("(cast(px as bigint) & 4294967295) % 256").as("b"))
        .groupBy("doc_id", "width", "height")
        .agg(count(lit(1)).as("n_px"),
          sum("a").as("a_sum"), sum("r").as("r_sum"),
          sum("g").as("g_sum"), sum("b").as("b_sum"),
          sum(expr("(a * 8 + r * 4 + g * 2 + b) * (pos + 1)")).as("pos_checksum"))
        .orderBy("doc_id")
    }),

    // E6 G.711 TELEPHONY AUDIO (round 11) — the companded half of the
    // audio surface: WAV format tags 6/7 (A-law/μ-law, 8-bit) expand
    // through the ITU integer companding tables inside the existing
    // chunk-walking decode. Both laws are CLOSED-FORM integer maps, so
    // unlike most audio codecs the oracle recomputes every linear
    // sample arithmetically from the synthetic byte rule (complement /
    // xor-0x55, segment exponent, mantissa, bias — any table defect
    // shifts the sums). Corpus alternates laws by id parity; the byte
    // rule sweeps the full 0..255 domain, so every segment, mantissa
    // and sign of both tables is exercised. Scale shape = the other
    // per-row codecs: compute repartition, one doc-keyed aggregate.
    "q_audio_g711" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticG711Wav(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodePcm(payloads)
        .select(col("doc_id"), col("sample_rate"),
          posexplode(col("pcm")).as(Seq("pos", "v")))
        .select(col("doc_id"), col("sample_rate"),
          col("pos").cast("long").as("pos"), col("v").cast("long").as("v"))
        .groupBy("doc_id", "sample_rate")
        .agg(count(lit(1)).as("n_samples"),
          sum("v").as("sample_sum"),
          sum(abs(col("v"))).as("abs_sum"),
          max(abs(col("v"))).as("peak"),
          sum(expr("v * (pos + 1)")).as("pos_checksum"))
        .orderBy("doc_id")
    }),

    // E6 IMA ADPCM AUDIO (round 11) — the adaptive-differential leg
    // completing the audio compression set (PCM verbatim, G.711
    // companded, ADPCM adaptive 4-bit): published IMA step/index
    // tables, per-block predictor headers, low-nibble-first packing.
    // Lossy, so the row ships derived invariants (the
    // q_jpeg_progressive convention): exact sample count, block-head
    // exactness (every block header carries its first sample VERBATIM
    // — pins container geometry), and a ≤256 max-abs-error bound on a
    // smooth triangle source the adaptive quantizer must track.
    "q_audio_adpcm" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { id =>
          val (n, heads, tol) = Multimodal.adpcmRoundtrip(id)
          (id, n, heads, tol)
        })
        .toDF("doc_id", "n_samples", "block_heads_exact", "within_tol")
        .orderBy("doc_id")
    }),

    // E6 MULTI-CHANNEL AUDIO (round 12) — the realistic corpus mixes
    // MONO AND STEREO WAVs across all three lossless-decodable formats
    // (PCM16 verbatim, G.711 μ-law, G.711 A-law), closing the round-10
    // channel gap: decode deinterleaves frames per channel and emits
    // one row per channel, then per-channel energy/peak and the
    // INTER-CHANNEL cross-correlation (Σ v_L·v_R, the stereo-collapse
    // detector a curation pass runs) come out of one posexplode + one
    // left join on (doc, pos) + one hash aggregation. The left/right
    // signals differ by construction (a channel term in amplitude,
    // phase and companded byte rule), so a channel swap, an interleave
    // desync, or a mono-projection bug breaks the per-channel sums or
    // the cross term. All integral ⇒ fully arithmetic oracle.
    "q_audio_stereo" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id => (id, Multimodal.syntheticMultiWav(id))))
        .toDF("doc_id", "payload")
      val ex = Multimodal.decodePcmMulti(payloads)
        .select(col("doc_id"), col("n_channels"), col("channel"),
          posexplode(col("pcm")).as(Seq("pos", "v")))
        .select(col("doc_id"), col("n_channels"), col("channel"),
          col("pos").cast("long").as("pos"), col("v").cast("long").as("v"))
      val left = ex.filter(col("channel") === 0)
        .select(col("doc_id"), col("n_channels"), col("pos"), col("v").as("v0"))
      val right = ex.filter(col("channel") === 1)
        .select(col("doc_id"), col("pos"), col("v").as("v1"))
      left.join(right, Seq("doc_id", "pos"), "left")
        .na.fill(0L, Seq("v1"))
        .groupBy("doc_id", "n_channels")
        .agg(count(lit(1)).as("n_samples"),
          sum(expr("v0 * v0")).as("energy_l"),
          max(abs(col("v0"))).as("peak_l"),
          sum(expr("v1 * v1")).as("energy_r"),
          max(abs(col("v1"))).as("peak_r"),
          sum(expr("v0 * v1")).as("xcorr"))
        .select(col("doc_id"), col("n_channels").cast("long").as("n_channels"),
          col("n_samples"), col("energy_l"), col("peak_l"),
          col("energy_r"), col("peak_r"), col("xcorr"))
        .orderBy("doc_id")
    }),

    // E6 MOTION-JPEG VIDEO (round 11) — the compressed video leg
    // composing two existing codecs: the RIFF/AVI walker reads `00dc`
    // chunks (the real MJPEG convention — every frame a complete,
    // independently-decodable JPEG stream) and JpegCodec decodes each.
    // Frame luma is constant per 8×8 block, so the lossy pipeline is
    // exact end-to-end (the q_jpeg_decode trick per frame) and the
    // oracle recomputes every pixel. Corrupt-is-data holds at FRAME
    // granularity — one bad frame drops alone. Scale shape unchanged.
    "q_mjpeg_frames" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticMjpegAvi(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeMjpegFrames(payloads)
        .select(col("doc_id"), col("frame").cast("long").as("f"),
          col("width"), col("height"),
          posexplode(col("lum")).as(Seq("pos", "v")))
        .groupBy("doc_id", "width", "height")
        .agg((max("f") + 1).cast("int").as("n_frames"),
          count(lit(1)).as("n_px"),
          sum(col("v").cast("long")).as("lum_sum"),
          sum(expr("cast(v as bigint) * (pos + 1) * (f + 1)")).as("pos_checksum"))
        .select("doc_id", "width", "height", "n_frames", "n_px",
          "lum_sum", "pos_checksum")
        .orderBy("doc_id")
    }),

    // E6 MULTI-PAGE TIFF DECODE (round 11) — the document-scan
    // container and the engine's third entropy coder: TIFF-LZW is a
    // different machine from GIF-LZW (MSB-first packing, 256-literal
    // alphabet at 9 initial bits, the spec's EARLY CHANGE width bump
    // every reader must reproduce), alongside PackBits RLE and raw
    // strips — the corpus cycles all three by (id + page) % 3, mixes
    // gray and RGB photometrics per page, multi-strip layout (3-row
    // strips), and both byte orders. Lossless + closed form ⇒ fully
    // arithmetic oracle over (doc × page × pixel) with the page- and
    // position-weighted checksum. Scale shape = q_gif_decode.
    "q_tiff_decode" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticTiffImage(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeTiffPages(payloads)
        .select(col("doc_id"), col("page"), col("width"), col("height"),
          posexplode(col("rgb")).as(Seq("pos", "px")))
        .select(col("doc_id"), col("page").cast("long").as("g"),
          col("width"), col("height"),
          col("pos").cast("long").as("pos"),
          expr("px div 65536").cast("long").as("r"),
          expr("px div 256 % 256").cast("long").as("gc"),
          expr("px % 256").cast("long").as("b"))
        .groupBy("doc_id", "width", "height")
        .agg((max("g") + 1).cast("int").as("n_pages"),
          count(lit(1)).as("n_px"),
          sum("r").as("r_sum"), sum("gc").as("g_sum"), sum("b").as("b_sum"),
          sum(expr("(r * 4 + gc * 2 + b) * (pos + 1) * (g + 1)"))
            .as("pos_checksum"))
        .select("doc_id", "width", "height", "n_pages", "n_px",
          "r_sum", "g_sum", "b_sum", "pos_checksum")
        .orderBy("doc_id")
    }),

    // E6 DEEP-FORMAT PNG DECODE (round 11) — the depth axis the 8-bit
    // corpora never exercised, removing the codec's former refusals:
    // 16-bit grayscale and truecolor (network-order samples, high-byte
    // display reduction — exact because samples are g·257), 8-bit
    // gray+alpha (color type 4), and PACKED SUB-BYTE grayscale at
    // depths 1/2/4 (MSB-first bit unpacking, byte-stride filters over
    // packed rows, 255/(2^d−1) display scaling — exact integers). All
    // four shapes mixed in one corpus by id % 4; lossless + closed
    // form ⇒ fully arithmetic oracle, same checksum convention as
    // q_png_palette. Scale shape unchanged: per-partition decode after
    // a compute repartition, one (doc)-keyed aggregate.
    "q_png_depth" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticDeepPngImage(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeArgb(payloads)
        .select(col("doc_id"), col("width"), col("height"),
          posexplode(col("argb")).as(Seq("pos", "px")))
        .select(col("doc_id"), col("width"), col("height"),
          col("pos").cast("long").as("pos"),
          expr("(cast(px as bigint) & 4294967295) div 16777216").as("a"),
          expr("(cast(px as bigint) & 4294967295) div 65536 % 256").as("r"),
          expr("(cast(px as bigint) & 4294967295) div 256 % 256").as("g"),
          expr("(cast(px as bigint) & 4294967295) % 256").as("b"))
        .groupBy("doc_id", "width", "height")
        .agg(count(lit(1)).as("n_px"),
          sum("a").as("a_sum"), sum("r").as("r_sum"),
          sum("g").as("g_sum"), sum("b").as("b_sum"),
          sum(expr("(a * 8 + r * 4 + g * 2 + b) * (pos + 1)")).as("pos_checksum"))
        .orderBy("doc_id")
    }),

    // E6 GIF DECODE (round 11) — the LZW leg closing the image-format
    // family: per-doc payloads are genuine ANIMATED GIF89a streams
    // (variable-code-width LSB-first LZW for real, 1 + id%3 frames
    // with graphic-control extensions, disposal 2, transparent index
    // on odd ids, every third id 4-pass interlaced) over a closed-form
    // global color table. Lossless codec + closed-form palette ⇒ fully
    // arithmetic oracle over (doc × frame × pixel); the frame- and
    // alpha-weighted position checksum pins frame order, placement,
    // interlace reassembly AND the index→entry mapping at once. Scale
    // shape = q_png_color: per-partition decode after a compute
    // repartition, one (doc)-keyed aggregate.
    "q_gif_decode" -> ((s, d) => {
      import s.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticGifImage(id))))
        .toDF("doc_id", "payload")
      Multimodal.decodeGifFrames(payloads)
        .select(col("doc_id"), col("frame"), col("width"), col("height"),
          posexplode(col("argb")).as(Seq("pos", "px")))
        .select(col("doc_id"), col("frame").cast("long").as("f"),
          col("width"), col("height"),
          col("pos").cast("long").as("pos"),
          expr("(cast(px as bigint) & 4294967295) div 16777216").as("a"),
          expr("(cast(px as bigint) & 4294967295) div 65536 % 256").as("r"),
          expr("(cast(px as bigint) & 4294967295) div 256 % 256").as("g"),
          expr("(cast(px as bigint) & 4294967295) % 256").as("b"))
        .groupBy("doc_id", "width", "height")
        .agg((max("f") + 1).cast("int").as("n_frames"),
          count(lit(1)).as("n_px"),
          sum("a").as("a_sum"), sum("r").as("r_sum"),
          sum("g").as("g_sum"), sum("b").as("b_sum"),
          sum(expr("(a * 8 + r * 4 + g * 2 + b) * (pos + 1) * (f + 1)"))
            .as("pos_checksum"))
        .select("doc_id", "width", "height", "n_frames", "n_px",
          "a_sum", "r_sum", "g_sum", "b_sum", "pos_checksum")
        .orderBy("doc_id")
    }),

    // E6 PROGRESSIVE JPEG DECODE — the SOF2 leg (spectral selection,
    // successive approximation, EOB-run AC scans, non-interleaved
    // true-block-grid geometry): per-doc payloads are REAL multi-scan
    // progressive streams produced by the JDK's INDEPENDENT ImageIO
    // encoder over a deterministic smooth pattern, decoded by
    // JpegCodec's progressive path and compared per channel against
    // the arithmetic source inside the task. Lossy values aren't
    // SQL-recomputable, so this row ships the derived invariants
    // (dims, n_px, is-SOF2, within-tolerance — the q_kll_quantiles
    // convention); ImageIO cross-checks live in JpegCodecSpec. Scale
    // shape = q_jpeg_color: per-partition compute after an explicit
    // repartition, O(docs) rows out, no explode at all.
    "q_jpeg_progressive" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { id =>
          val (w, h, npx, sof2, ok) = Multimodal.progressiveJpegRoundtrip(id)
          (id, w, h, npx, sof2, ok)
        })
        .toDF("doc_id", "width", "height", "n_px", "sof2", "within_tol")
        .orderBy("doc_id")
    }),

    // E4 INT8 SCALAR QUANTIZATION — the cheapest vector-compression
    // leg (8× over float32, vs PQ's 32×): per-dimension [min, max]
    // over the corpus → affine code in [0, 255], reported with the
    // reconstruction-error profile per dimension (sum/max absolute
    // error in micro-units) that tells a retrieval stack whether SQ
    // suffices or PQ is needed. All integral: micro-unit quantize,
    // bigint min/max, truncating-div code and dequantize — exact in
    // both engines. One explode + two hash-aggs (dim-keyed partials
    // absorb the 64× fan-out); the [min,max] table is O(dims) and
    // broadcasts — at 100 TB this is two linear scans, no shuffle of
    // the raw vectors.
    "q_sq_codes" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val ranges = dims.groupBy("dim")
        .agg(min("qv").as("minq"), max("qv").as("maxq"))
      dims.join(broadcast(ranges), "dim")
        .withColumn("code",
          when(col("maxq") === col("minq"), 0L)
            .otherwise(expr("(qv - minq) * 255 div (maxq - minq)")))
        .withColumn("deq",
          expr("minq + code * (maxq - minq) div 255"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), max("minq").as("minq"), max("maxq").as("maxq"),
          sum(abs(col("qv") - col("deq"))).as("sum_abs_err"),
          max(abs(col("qv") - col("deq"))).as("max_abs_err"))
        .withColumn("mean_abs_err", expr("sum_abs_err div n"))
        .select("dim", "n", "minq", "maxq", "sum_abs_err", "max_abs_err", "mean_abs_err")
        .orderBy("dim")
    }),

    // E4 kNN MAJORITY-VOTE CLASSIFIER — the third eval leg after
    // nearest-class-mean (q_ncm_eval) and first-hit MRR: exact top-3
    // neighbors per probe in integral micro-unit L2², then a label
    // vote with the (votes desc, label asc) deterministic tie-break.
    // Probe-bounded (5 query vectors broadcast against the corpus —
    // the sampled-queries trick that stays computable at any scale);
    // the vote is O(probes · k) driver-free window work.
    "q_knn_classify" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("label"), col("pos").as("dim"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val probes = dims.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("label").as("qlab"),
          col("dim").as("qdim"), col("qv").as("qqv"))
      val dist = dims.join(broadcast(probes), col("dim") === col("qdim"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "qlab", "vec_id", "label")
        .agg(sum(expr("(qv - qqv) * (qv - qqv)")).as("dist2"))
      val wk = Window.partitionBy("qid").orderBy(col("dist2").asc, col("vec_id").asc)
      val votes = dist.withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= 3)
        .groupBy("qid", "qlab", "label").agg(count(lit(1)).as("n_votes"))
      val wv = Window.partitionBy("qid").orderBy(col("n_votes").desc, col("label").asc)
      votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
        .select(col("qid"), col("qlab").cast("long").as("true_label"),
          col("label").cast("long").as("pred_label"), col("n_votes"),
          (col("qlab") === col("label")).as("hit"))
        .orderBy("qid")
    }),

    // E4 MAXSIM LATE INTERACTION (ColBERT-style) — multi-vector
    // retrieval scoring: each embedding splits into 4×16-dim
    // subvectors (the q_pq_codes subspace framing reused as a
    // multi-vector surrogate), and score(q, doc) =
    // Σ_{query sub} max_{doc sub} ⟨·,·⟩ — each query subvector finds
    // its best-matching doc subvector, unlike single-vector cosine
    // which forces one global alignment. Deliberately UNNORMALIZED
    // (the q_hits convention): components micro-quantize once, every
    // dot/max/sum after that is exact bigint — no sqrt anywhere.
    // Scale: probe-bounded (≤3 query vectors broadcast as 192
    // components); the corpus-side fan-out is a fixed 16 subvector
    // pairs per doc, folded by two hash-aggs; top-5 per probe plans
    // as TakeOrdered inside each qid partition, never a global sort.
    "q_maxsim" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), expr("pos div 16").as("m"),
          expr("pos % 16").as("r"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
      val probes = dims.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("m").as("mq"), col("r").as("qr"),
          col("qv").as("qqv"))
      val pairdot = dims
        .join(broadcast(probes),
          col("r") === col("qr") && col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id"), col("mq"), col("m").as("md"))
        .agg(sum(expr("qv * qqv")).as("dot_u2"))
      val scored = pairdot.groupBy("qid", "vec_id", "mq")
        .agg(max("dot_u2").as("best"))
        .groupBy("qid", "vec_id").agg(sum("best").as("maxsim_micro2"))
      val w = Window.partitionBy("qid")
        .orderBy(col("maxsim_micro2").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id").as("vid"),
          col("maxsim_micro2"))
        .orderBy("qid", "rank")
    }),

    // E4 K-CENTER CORESET (farthest-point sampling) — the 2-approx
    // coverage coreset behind kmeans++ seeding and diversity-first
    // data selection: seed at vec_id 0, then 3 greedy rounds each
    // adding the point FARTHEST from the chosen set; the would-be
    // 5th pick's distance is exactly the 4-center coverage radius, so
    // it ships as the radius row. Entirely integral (micro-quantized
    // components, exact bigint L2² — the q_knn_classify convention),
    // so the greedy argmax is a deterministic (dist² desc, vec_id
    // asc) compare both engines replay. Scale: per round one corpus
    // scan against the ≤4×64-component BROADCAST center set, folded
    // by two hash-aggs; the argmax plans as TakeOrdered(1). O(k·N)
    // total — the exploded table is checkpointed once and re-read by
    // all rounds.
    "q_coreset_kcenter" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "fval")))
        .select(col("vec_id"), col("pos"),
          round(col("fval").cast("double") * 1000000).cast("long").as("qv"))
        .localCheckpoint() // feeds 4 distance rounds + 4 comp extracts
      var comp = dims.filter(col("vec_id") === 0)
        .select(col("vec_id").as("cid"), col("pos").as("cpos"),
          col("qv").as("cqv"))
        .localCheckpoint()
      var meta = comp.select(col("cid").as("vec_id")).distinct()
        .select(lit(0L).as("rank"), col("vec_id"), lit(0L).as("dist2_micro2"),
          lit(true).as("is_center"))
        .localCheckpoint()
      for (r <- 1 to 4) {
        val mind = dims.join(broadcast(comp), col("pos") === col("cpos"))
          .groupBy("vec_id", "cid")
          .agg(sum(expr("(qv - cqv) * (qv - cqv)")).as("d2"))
          .groupBy("vec_id").agg(min("d2").as("mind2"))
        val next = mind
          .orderBy(col("mind2").desc, col("vec_id").asc).limit(1)
          .select(lit(r.toLong).as("rank"), col("vec_id"),
            col("mind2").as("dist2_micro2"), lit(r < 4).as("is_center"))
          .localCheckpoint()
        meta = meta.union(next).localCheckpoint()
        if (r < 4)
          comp = comp.union(
            dims.join(broadcast(next.select(col("vec_id").as("cid"))),
              col("vec_id") === col("cid"))
              .select(col("cid"), col("pos").as("cpos"), col("qv").as("cqv")))
            .localCheckpoint()
      }
      meta.orderBy("rank")
    }),

    // E4 RESIDUAL QUANTIZATION — the third codec after PQ (q_pq_codes)
    // and SQ (q_sq_codes): stage 1 assigns each vector to its Lloyd
    // cluster (the SHARED kmeans pipeline, so codec and clustering
    // cannot drift), stage 2 int8-quantizes the RESIDUAL v − centroid
    // per dimension with the exact q_sq_codes range formulas. The
    // report is the codec's own accounting: per cluster, the mean
    // stage-1 error (‖v−c‖², the own-centroid dist² of the shared
    // kmeansParts table) vs the mean error AFTER the residual stage,
    // and the ppm of stage-1 error the residual codebook recovers. All
    // exact bigint. Scale: the kmeans legs are the shared memo; the
    // residual pass is one centroid-broadcast join + one O(dims)
    // range broadcast over the memo's quantized arrays, exploded once.
    "q_residual_quantize" -> ((s, d) => {
      val km = kmeansParts(s, d)
      val res = km.vecs
        .select(col("vec_id"), col("cluster"),
          posexplode(col("qv")).as(Seq("pos", "qv")))
        .select(col("vec_id"), col("cluster"), (col("pos") + 1).as("dim"), col("qv"))
        .join(broadcast(km.c1),
          col("cluster") === col("j") && col("dim") === col("cd"))
        .select(col("vec_id"), col("cluster"), col("dim"),
          (col("qv") - col("cval")).as("r"))
        .localCheckpoint() // feeds the range table AND the coded pass
      val ranges = res.groupBy("dim")
        .agg(min("r").as("minr"), max("r").as("maxr"))
      val e2 = res.join(broadcast(ranges), "dim")
        .withColumn("code",
          when(col("maxr") === col("minr"), 0L)
            .otherwise(expr("(r - minr) * 255 div (maxr - minr)")))
        .withColumn("deq", expr("minr + code * (maxr - minr) div 255"))
        .groupBy("vec_id", "cluster")
        .agg(sum(expr("(r - deq) * (r - deq)")).as("e2"))
      val e1 = km.vecs.select(col("vec_id"), col("dist2").as("e1"))
      e2.join(e1, "vec_id")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"),
          expr("sum(e1) div count(1)").as("mean_e1_micro2"),
          expr("sum(e2) div count(1)").as("mean_e2_micro2"))
        // ratio over the per-cluster MEANS in milli: the means are
        // bounded by per-vector magnitudes (corpus-size-independent),
        // so the cross-multiply can't overflow — the raw error SUMS
        // × 10⁶ already exceed int64 at sf0.01
        .withColumn("recovered_milli", expr(
          """case when mean_e1_micro2 = 0 then null
            |else (mean_e1_micro2 - mean_e2_micro2) * 1000
            |  div mean_e1_micro2 end""".stripMargin))
        .select("cluster", "n_vecs", "mean_e1_micro2", "mean_e2_micro2",
          "recovered_milli")
        .orderBy("cluster")
    }),

    // E4 HUBNESS AUDIT — the high-dimensional pathology check: in a
    // hubby embedding space a few vectors appear in EVERYONE's
    // nearest-neighbor lists (and anti-hubs in nobody's), which
    // silently skews kNN classifiers, dedup and retrieval. Measures
    // the k-occurrence distribution (how often each vector shows up
    // in others' top-3) within each Lloyd cluster's ≤64-member
    // window — the q_semdedup cap, which bounds the pairwise leg at
    // k·64²/2 REGARDLESS of corpus size — in exact micro-unit L2²
    // (array-fold on quantized components, no explode needed at pair
    // scope). Output: the k-occurrence histogram + its max (the
    // biggest hub's in-degree).
    "q_hubness" -> ((s, d) => {
      // the quantized vectors ride in the memoized kmeansParts table;
      // wa, wb and the k-occurrence rollup all read this window
      val weq = kmeansParts(s, d).vecs
        .withColumn("rnk", row_number().over(
          Window.partitionBy("cluster").orderBy(col("dist2"), col("vec_id"))))
        .filter(col("rnk") <= 64)
        .select(col("cluster"), col("vec_id"), col("qv"))
      val wa = weq
        .select(col("cluster"), col("vec_id").as("va"), col("qv").as("qa"))
      val wb = weq
        .select(col("cluster"), col("vec_id").as("vb"), col("qv").as("qb"))
      val top3 = wa.join(wb, "cluster").filter(col("va") =!= col("vb"))
        .withColumn("pd2", expr(
          "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .withColumn("rk", row_number().over(Window.partitionBy("cluster", "va")
          .orderBy(col("pd2").asc, col("vb").asc)))
        .filter(col("rk") <= 3)
      val kocc = weq.select("vec_id").join(
          top3.groupBy(col("vb").as("vec_id")).agg(count(lit(1)).as("k_occ")),
          Seq("vec_id"), "left")
        .withColumn("k_occ", coalesce(col("k_occ"), lit(0L)))
      kocc.groupBy("k_occ").agg(count(lit(1)).as("n_vectors"))
        .orderBy("k_occ")
    }))

  /** Embeddings with their quantized form `qv array<bigint>`: each
    * element in micro-units, `round(cast(x as double) * 1e6)` — the
    * kmeansCte `dims` rule, one array per vector instead of one row per
    * element. Null and empty embeddings are dropped, as the posexplode
    * of the exploded form drops them. */
  private def quantized(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"), transform(col("embedding"),
        x => round(x.cast("double") * 1000000).cast("long")).as("qv"))

  /** The seed centroids — the first k = 8 vectors (vec_id < 8) of `q` —
    * collected in ascending vec_id, the order every pick breaks ties
    * in. Bounded by k × dims (the q_pca_power precedent). */
  private def seedCentroids(q: DataFrame): Seq[(Long, Array[java.lang.Long])] =
    q.filter(col("vec_id") < 8).collect().toSeq
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[java.lang.Long]]("qv").toArray)
      .sortBy(_._1)

  /** 1-based position of the nearest centroid in a `centDist2` result,
    * under the kmeansCte pick `ORDER BY dist2, j`: a null distance
    * first, then the smallest, ties to the lower position (centroids
    * are listed in ascending j). Null when there is no centroid. */
  private def nearest(dists: Column): Column = {
    val isNull = transform(dists, _.isNull)
    when(array_contains(isNull, true), array_position(isNull, true))
      .otherwise(array_position(dists, array_min(dists)))
      .cast("int")
  }

  /** `q` plus `dists` (squared distances to `cents`, in their order),
    * `i` (the position of the nearest) and `cluster` (its id): one
    * kernel pass per vector against the broadcast literal centroids. */
  private def assignNearest(q: DataFrame,
                            cents: Seq[(Long, Array[java.lang.Long])]): DataFrame =
    q.withColumn("dists", centDist2(col("qv"), lit(cents.map(_._2).toArray)))
      .withColumn("i", nearest(col("dists")))
      .filter(col("i").isNotNull)
      .withColumn("cluster", element_at(lit(cents.map(_._1).toArray), col("i")))

  /** The shared integer Lloyd pipeline: `vecs` holds one row per
    * quantized vector — `vec_id`, its final `cluster`, `dist2` to that
    * centroid, `dists` (array, one squared distance per final centroid,
    * centroid `ids(i)` at position i), `qv`, and the embedding as
    * array<double> `v` with its norm `nv` for the cosine consumers — and
    * `c1` the final centroids as `(j, cd, cval)` rows, so residual codecs
    * quantize against the EXACT centroids the assignment used (the
    * kmeansCte lockstep rule). */
  private[graft] final case class KMeans(vecs: DataFrame, ids: Seq[Long], c1: DataFrame)

  /** The k-means family's clustering (q_kmeans, q_silhouette,
    * q_semdedup, q_hubness, q_residual_quantize and q_cluster_purity
    * through q_kmeans): seeds = the first 8 vectors, one assignment +
    * one centroid update, then the assignment under the updated
    * centroids, in exact micro-unit integer math so it is bit-identical
    * to the exploded kmeansCte the oracle runs. The embeddings are
    * quantized once into a transient checkpoint; three Spark passes read
    * it, each against driver-held centroids:
    *  1. collect the k seeds;
    *  2. assign every vector to its nearest seed (CentroidDist2, one
    *     kernel pass per vector) and aggregate the members' coordinates
    *     per (cluster, position) — k × dims rows collected; the update
    *     is `sum div count(1)` (truncating, null elements counted, all
    *     null keeps the seed value) and an empty cluster keeps its seed;
    *  3. one kernel pass against the updated centroids, materialized
    *     once as `vecs`.
    * Memoized: the whole k-means family reads the one `vecs` table. */
  private[graft] def kmeansParts(s: SparkSession, d: String): KMeans =
    graft.MemoStats.get("kmeans_parts", s, d) {
      val q = quantized(s, d)
        .select(col("vec_id"), col("qv"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint()
      val c0 = seedCentroids(q)
      val upd = assignNearest(q, c0)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum("x").as("sq"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
      val c1 = c0.map { case (j, seed) =>
        j -> seed.indices.map { p =>
          upd.get((j, p)).filterNot(_.isNullAt(2))
            .map(r => java.lang.Long.valueOf(r.getLong(2) / r.getLong(3)))
            .getOrElse(seed(p))
        }.toArray
      }
      val vecs = assignNearest(q, c1)
        .select(col("vec_id"), col("cluster"),
          element_at(col("dists"), col("i")).as("dist2"), col("dists"), col("qv"),
          col("v"), normFast(col("v")).as("nv"))
        .localCheckpoint()
      graft.Blocks.release(q)
      val c1Rows = c1.flatMap { case (j, cent) =>
        cent.indices.map(p => Row(j, p + 1, cent(p)))
      }
      KMeans(vecs, c0.map(_._1),
        s.createDataFrame(c1Rows.asJava, StructType(Seq(StructField("j", LongType),
          StructField("cd", IntegerType), StructField("cval", LongType)))))
    }

  /** The q_kmeans two-Lloyd-round pipeline as DuckDB CTEs ending with
    * `a2` (vec_id, cluster) — shared by the kmeans oracle and the
    * purity eval so the two can never drift (the ivfpqCte rule). */
  private lazy val kmeansCte =
    """WITH dims AS (
      |  SELECT vec_id, d AS dim,
      |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |          generate_subscripts(embedding, 1) AS d
      |        FROM embeddings)),
      |c0 AS (SELECT vec_id AS j, dim, qv AS cval FROM dims WHERE vec_id < 8),
      |a1d AS (
      |  SELECT dims.vec_id, c0.j,
      |    SUM((dims.qv - c0.cval) * (dims.qv - c0.cval)) AS dist2
      |  FROM dims JOIN c0 ON dims.dim = c0.dim GROUP BY dims.vec_id, c0.j),
      |a1 AS (SELECT vec_id, j AS cluster FROM (
      |         SELECT vec_id, j,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, j) AS rn
      |         FROM a1d) WHERE rn = 1),
      |u1 AS (
      |  SELECT a1.cluster AS j, dims.dim,
      |    CAST(SUM(dims.qv) AS BIGINT) // COUNT(*) AS nval
      |  FROM a1 JOIN dims ON dims.vec_id = a1.vec_id
      |  GROUP BY a1.cluster, dims.dim),
      |c1 AS (SELECT c0.j, c0.dim, COALESCE(u1.nval, c0.cval) AS cval
      |       FROM c0 LEFT JOIN u1 ON u1.j = c0.j AND u1.dim = c0.dim),
      |a2d AS (
      |  SELECT dims.vec_id, c1.j,
      |    SUM((dims.qv - c1.cval) * (dims.qv - c1.cval)) AS dist2
      |  FROM dims JOIN c1 ON dims.dim = c1.dim GROUP BY dims.vec_id, c1.j),
      |a2 AS (SELECT vec_id, j AS cluster FROM (
      |         SELECT vec_id, j,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, j) AS rn
      |         FROM a2d) WHERE rn = 1)""".stripMargin

  /** The q_ivfpq_topk pipeline as DuckDB CTEs, ending with `scored`
    * (qid, vec_id, adist2) — shared by the top-k oracle and the
    * self-evaluating recall oracle so the two can never drift. */
  private val ivfpqCte =
    """WITH dims AS (
      |  SELECT vec_id, (d - 1) // 16 AS sub, d AS dim,
      |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |          generate_subscripts(embedding, 1) AS d
      |        FROM embeddings)),
      |coarse AS (SELECT vec_id AS ccid, dim AS ccd, qv AS ccval
      |           FROM dims WHERE vec_id < 8),
      |cellsd AS (
      |  SELECT dims.vec_id, coarse.ccid,
      |    SUM((dims.qv - coarse.ccval) * (dims.qv - coarse.ccval)) AS cdist2
      |  FROM dims JOIN coarse ON dims.dim = coarse.ccd
      |  GROUP BY dims.vec_id, coarse.ccid),
      |cells AS (SELECT vec_id, ccid AS cell FROM (
      |  SELECT vec_id, ccid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdist2, ccid) AS rn
      |  FROM cellsd) WHERE rn = 1),
      |c0 AS (SELECT sub AS csub, vec_id AS j, dim AS cd, qv AS cval
      |       FROM dims WHERE vec_id < 4),
      |a1d AS (
      |  SELECT dims.vec_id, dims.sub, c0.j,
      |    SUM((dims.qv - c0.cval) * (dims.qv - c0.cval)) AS dist2
      |  FROM dims JOIN c0 ON dims.sub = c0.csub AND dims.dim = c0.cd
      |  GROUP BY dims.vec_id, dims.sub, c0.j),
      |a1 AS (SELECT vec_id, sub, j AS code FROM (
      |         SELECT vec_id, sub, j,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, j) AS rn
      |         FROM a1d) WHERE rn = 1),
      |u1 AS (
      |  SELECT a1.sub AS usub, a1.code AS j2, dims.dim AS cd2,
      |    CAST(SUM(dims.qv) AS BIGINT) // COUNT(*) AS nval
      |  FROM a1 JOIN dims ON dims.vec_id = a1.vec_id AND dims.sub = a1.sub
      |  GROUP BY a1.sub, a1.code, dims.dim),
      |c1 AS (SELECT c0.csub, c0.j, c0.cd, COALESCE(u1.nval, c0.cval) AS cval
      |       FROM c0 LEFT JOIN u1
      |       ON u1.usub = c0.csub AND u1.j2 = c0.j AND u1.cd2 = c0.cd),
      |a2d AS (
      |  SELECT dims.vec_id, dims.sub, c1.j,
      |    SUM((dims.qv - c1.cval) * (dims.qv - c1.cval)) AS dist2
      |  FROM dims JOIN c1 ON dims.sub = c1.csub AND dims.dim = c1.cd
      |  GROUP BY dims.vec_id, dims.sub, c1.j),
      |codes AS (SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, j AS code,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, j) AS rn
      |  FROM a2d) WHERE rn = 1),
      |lut AS (
      |  SELECT dims.vec_id AS lqid, dims.sub AS lsub, c1.j,
      |    CAST(SUM((dims.qv - c1.cval) * (dims.qv - c1.cval)) AS BIGINT) AS pd2
      |  FROM dims JOIN c1 ON dims.sub = c1.csub AND dims.dim = c1.cd
      |  WHERE dims.vec_id < 5
      |  GROUP BY 1, 2, 3),
      |qcells AS (SELECT vec_id AS qid, cell FROM cells WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, c.vec_id, CAST(SUM(l.pd2) AS BIGINT) AS adist2
      |  FROM cells c JOIN qcells q ON c.cell = q.cell AND c.vec_id <> q.qid
      |  JOIN codes k ON k.vec_id = c.vec_id
      |  JOIN lut l ON l.lqid = q.qid AND l.lsub = k.sub AND l.j = k.code
      |  GROUP BY 1, 2)""".stripMargin

  /** The nearest-class-mean scorer as DuckDB CTEs ending with
    * `scored` (vec_id, label, clabel, score) — shared by the AUC and
    * calibration oracles so the two can never drift (the ivfpqCte /
    * cosineTopkOracle convention). Same quantization as q_ncm_eval. */
  private val centroidScoredCte =
    """WITH dims AS (
      |  SELECT vec_id, label, CAST(d AS BIGINT) AS dim,
      |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
      |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
      |          generate_subscripts(embedding, 1) AS d
      |        FROM embeddings)),
      |cents AS (
      |  SELECT label AS clabel, dim AS cdim,
      |    CAST(SUM(qv) AS BIGINT) // COUNT(*) AS cqv
      |  FROM dims GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.vec_id, d.label, c.clabel, SUM(d.qv * c.cqv) AS score
      |  FROM dims d JOIN cents c ON d.dim = c.cdim
      |  GROUP BY 1, 2, 3)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_auc_eval" ->
      s"""$centroidScoredCte,
         |grp AS (
         |  SELECT clabel, score,
         |    SUM(CASE WHEN label = clabel THEN 1 ELSE 0 END) AS n_pos,
         |    SUM(CASE WHEN label <> clabel THEN 1 ELSE 0 END) AS n_neg
         |  FROM scored GROUP BY 1, 2),
         |cum AS (
         |  SELECT clabel, n_pos, n_neg,
         |    SUM(n_neg) OVER (PARTITION BY clabel ORDER BY score) AS cum_neg
         |  FROM grp)
         |SELECT CAST(clabel AS BIGINT) AS clabel,
         |  CAST(SUM(n_pos) AS BIGINT) AS n_pos,
         |  CAST(SUM(n_neg) AS BIGINT) AS n_neg,
         |  CAST(SUM(n_pos * (2 * cum_neg - n_neg)) * 1000000
         |       // (2 * SUM(n_pos) * SUM(n_neg)) AS BIGINT) AS auc_micro
         |FROM cum GROUP BY 1 ORDER BY clabel""".stripMargin,

    "q_conformal" ->
      """WITH dims AS (
        |  SELECT vec_id, label, CAST(d AS BIGINT) AS dim,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d
        |        FROM embeddings)),
        |cents AS (
        |  SELECT label AS clabel, dim AS cdim,
        |    CAST(SUM(qv) AS BIGINT) // COUNT(*) AS cqv
        |  FROM dims GROUP BY 1, 2),
        |score AS (
        |  SELECT d.vec_id, d.label,
        |    SUM((d.qv - c.cqv) * (d.qv - c.cqv)) AS score
        |  FROM dims d JOIN cents c ON d.label = c.clabel AND d.dim = c.cdim
        |  GROUP BY 1, 2),
        |calib AS (
        |  SELECT label, vec_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY score, vec_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY label) AS n_calib
        |  FROM score WHERE vec_id % 5 = 0),
        |thr AS (
        |  SELECT label, n_calib,
        |    LEAST((9 * (n_calib + 1) + 9) // 10, n_calib) AS k,
        |    score AS thr_micro
        |  FROM calib
        |  WHERE rn = LEAST((9 * (n_calib + 1) + 9) // 10, n_calib))
        |SELECT CAST(s.label AS BIGINT) AS label,
        |  CAST(t.n_calib AS BIGINT) AS n_calib, CAST(t.k AS BIGINT) AS k,
        |  CAST(t.thr_micro AS BIGINT) AS thr_micro,
        |  CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(CASE WHEN s.score <= t.thr_micro THEN 1 ELSE 0 END) AS BIGINT)
        |    AS covered,
        |  CAST(SUM(CASE WHEN s.score <= t.thr_micro THEN 1 ELSE 0 END) * 1000000
        |       // COUNT(*) AS BIGINT) AS cov_micro
        |FROM score s JOIN thr t ON s.label = t.label
        |WHERE s.vec_id % 5 <> 0
        |GROUP BY 1, 2, 3, 4 ORDER BY label""".stripMargin,

    "q_calibration" ->
      s"""$centroidScoredCte,
         |bounds AS (
         |  SELECT clabel AS blabel, MIN(score) AS slo, MAX(score) AS shi
         |  FROM scored GROUP BY 1),
         |binned AS (
         |  SELECT s.clabel, (s.score - b.slo) * 10 // (b.shi - b.slo + 1) AS bin,
         |    s.label, s.score
         |  FROM scored s JOIN bounds b ON s.clabel = b.blabel)
         |SELECT CAST(clabel AS BIGINT) AS clabel, CAST(bin AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN label = clabel THEN 1 ELSE 0 END) * 1000000
         |       // COUNT(*) AS BIGINT) AS pos_rate_micro,
         |  CAST(SUM(score) // COUNT(*) AS BIGINT) AS avg_score
         |FROM binned GROUP BY 1, 2 ORDER BY clabel, bin""".stripMargin,

    "q_adversarial_validation" ->
      """WITH q AS (
        |  SELECT vec_id, vec_id % 2 AS h,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |dims AS (
        |  SELECT h, vec_id, u.i AS dim, u.v FROM (
        |    SELECT h, vec_id, unnest(qv) AS v,
        |      generate_subscripts(qv, 1) AS i
        |    FROM q) u(h, vec_id, v, i)),
        |w AS (
        |  SELECT dim,
        |    CAST(SUM(CASE WHEN h = 0 THEN v ELSE 0 END) AS BIGINT)
        |      // GREATEST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END), 1)
        |    - CAST(SUM(CASE WHEN h = 1 THEN v ELSE 0 END) AS BIGINT)
        |      // GREATEST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END), 1)
        |      AS wq
        |  FROM dims GROUP BY dim),
        |scored AS (
        |  SELECT d.vec_id, d.h, CAST(SUM(d.v * w.wq) AS BIGINT) AS score
        |  FROM dims d JOIN w ON w.dim = d.dim
        |  GROUP BY d.vec_id, d.h),
        |grp AS (
        |  SELECT score,
        |    CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |  FROM scored GROUP BY score),
        |cum AS (
        |  SELECT *, CAST(SUM(n_neg) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_neg
        |  FROM grp),
        |agg AS (
        |  SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(n_neg) AS BIGINT) AS n_neg,
        |    CAST(SUM(n_pos * (2 * cum_neg - n_neg)) AS BIGINT) AS u2
        |  FROM cum)
        |SELECT n_pos, n_neg,
        |  u2 * 1000000 // (2 * n_pos * n_neg) AS auc_micro,
        |  ABS(u2 * 1000000 // (2 * n_pos * n_neg) - 500000) AS abs_dev_micro
        |FROM agg""".stripMargin,

    "q_youden" ->
      s"""$centroidScoredCte,
         |bounds AS (
         |  SELECT clabel AS blabel, MIN(score) AS slo, MAX(score) AS shi
         |  FROM scored GROUP BY 1),
         |bins AS (
         |  SELECT s.clabel,
         |    (s.score - b.slo) * 10 // (b.shi - b.slo + 1) AS bin,
         |    CAST(SUM(CASE WHEN s.label = s.clabel THEN 1 ELSE 0 END)
         |      AS BIGINT) AS np,
         |    CAST(SUM(CASE WHEN s.label <> s.clabel THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nn
         |  FROM scored s JOIN bounds b ON s.clabel = b.blabel
         |  GROUP BY 1, 2),
         |sw AS (
         |  SELECT clabel, bin,
         |    CAST(SUM(np) OVER wdesc AS BIGINT) AS tp,
         |    CAST(SUM(nn) OVER wdesc AS BIGINT) AS fp,
         |    CAST(SUM(np) OVER wall AS BIGINT) AS p,
         |    CAST(SUM(nn) OVER wall AS BIGINT) AS n
         |  FROM bins
         |  WINDOW wdesc AS (PARTITION BY clabel ORDER BY bin DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wall AS (PARTITION BY clabel)),
         |j AS (
         |  SELECT clabel, bin, tp, fp,
         |    CASE WHEN p = 0 THEN NULL ELSE tp * 1000 // p END AS tpr_milli,
         |    CASE WHEN n = 0 THEN NULL ELSE fp * 1000 // n END AS fpr_milli,
         |    CASE WHEN p = 0 OR n = 0 THEN NULL
         |      ELSE tp * 1000 // p - fp * 1000 // n END AS j_milli
         |  FROM sw),
         |best AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY clabel
         |    ORDER BY j_milli DESC, bin) AS rn
         |  FROM j WHERE j_milli IS NOT NULL)
         |SELECT CAST(clabel AS BIGINT) AS clabel,
         |  CAST(bin AS BIGINT) AS best_bin, tp, fp,
         |  tpr_milli, fpr_milli, j_milli
         |FROM best WHERE rn = 1 ORDER BY clabel""".stripMargin,

    // the same quantize → exact pair distance → degree/core →
    // min-label components → border adoption pipeline, with the
    // recursive CTE playing the union-find (seeded from every core so
    // singleton cores label themselves, exactly the Spark coalesce)
    "q_dbscan" ->
      """WITH RECURSIVE q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |nbr AS (
        |  SELECT a.label AS label, a.vec_id AS u, b.vec_id AS v
        |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id <> b.vec_id
        |  WHERE (SELECT SUM((a.qv[g.i] - b.qv[g.i]) * (a.qv[g.i] - b.qv[g.i]))
        |         FROM generate_series(1, 64) g(i)) <= 1500000000000),
        |core AS (SELECT u FROM nbr GROUP BY u HAVING count(*) >= 3),
        |ce AS (
        |  SELECT n.u AS src, n.v AS dst FROM nbr n
        |  JOIN core cu ON cu.u = n.u JOIN core cv ON cv.u = n.v),
        |reach(node, lbl) AS (
        |  SELECT u, u FROM core
        |  UNION
        |  SELECT ce.dst, r.lbl FROM reach r JOIN ce ON ce.src = r.node),
        |cc AS (SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node),
        |bdr AS (
        |  SELECT n.u AS vec_id, MIN(c.comp) AS comp
        |  FROM nbr n JOIN cc c ON c.node = n.v
        |  WHERE n.u NOT IN (SELECT u FROM core)
        |  GROUP BY n.u)
        |SELECT q.vec_id, q.label,
        |  CASE WHEN c.node IS NOT NULL THEN 'core'
        |       WHEN b.vec_id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(c.comp, b.comp, -1) AS cluster
        |FROM q
        |LEFT JOIN cc c ON c.node = q.vec_id
        |LEFT JOIN bdr b ON b.vec_id = q.vec_id
        |ORDER BY q.vec_id""".stripMargin,

    // q_kmeans's oracle pattern with the subspace as an extra key in
    // every join/group — one Lloyd refinement per 16-dim subspace
    "q_pq_codes" ->
      """WITH dims AS (
        |  SELECT vec_id, (d - 1) // 16 AS sub, d AS dim,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d
        |        FROM embeddings)),
        |c0 AS (SELECT sub AS csub, vec_id AS j, dim AS cd, qv AS cval
        |       FROM dims WHERE vec_id < 4),
        |a1d AS (
        |  SELECT dims.vec_id, dims.sub, c0.j,
        |    SUM((dims.qv - c0.cval) * (dims.qv - c0.cval)) AS dist2
        |  FROM dims JOIN c0 ON dims.sub = c0.csub AND dims.dim = c0.cd
        |  GROUP BY dims.vec_id, dims.sub, c0.j),
        |a1 AS (SELECT vec_id, sub, j AS code FROM (
        |         SELECT vec_id, sub, j,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, j) AS rn
        |         FROM a1d) WHERE rn = 1),
        |u1 AS (
        |  SELECT a1.sub AS usub, a1.code AS j2, dims.dim AS cd2,
        |    CAST(SUM(dims.qv) AS BIGINT) // COUNT(*) AS nval
        |  FROM a1 JOIN dims ON dims.vec_id = a1.vec_id AND dims.sub = a1.sub
        |  GROUP BY a1.sub, a1.code, dims.dim),
        |c1 AS (SELECT c0.csub, c0.j, c0.cd, COALESCE(u1.nval, c0.cval) AS cval
        |       FROM c0 LEFT JOIN u1
        |       ON u1.usub = c0.csub AND u1.j2 = c0.j AND u1.cd2 = c0.cd),
        |a2d AS (
        |  SELECT dims.vec_id, dims.sub, c1.j,
        |    SUM((dims.qv - c1.cval) * (dims.qv - c1.cval)) AS dist2
        |  FROM dims JOIN c1 ON dims.sub = c1.csub AND dims.dim = c1.cd
        |  GROUP BY dims.vec_id, dims.sub, c1.j)
        |SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, j AS code,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist2, j) AS rn
        |  FROM a2d) WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin,

    "q_rand_proj" ->
      """WITH dims AS (
        |  SELECT vec_id, d AS dim,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d FROM embeddings)),
        |signs AS (
        |  SELECT p.p, sd.sdim,
        |    CASE WHEN substr(md5('rp|' || p.p || '|' || sd.sdim), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS sign
        |  FROM (SELECT unnest(range(0, 16)) AS p) p,
        |       (SELECT unnest(range(1, 65)) AS sdim) sd)
        |SELECT vec_id, p, CAST(SUM(sign * qv) AS BIGINT) AS comp
        |FROM dims JOIN signs ON dims.dim = signs.sdim
        |GROUP BY 1, 2 ORDER BY vec_id, p""".stripMargin,

    // q_pq_codes' trainer CTEs + coarse cells + ADC lookup + ranking —
    // every stage exact integer arithmetic, zero float slack
    "q_ivfpq_topk" -> (ivfpqCte +
      """
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS vid, adist2 FROM (
        |  SELECT qid, vec_id, adist2,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist2, vec_id) AS rank
        |  FROM scored) WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin),

    // the two rankings via their own oracle pipelines (the ADC scored
    // CTE + the nested exact-cosine oracle), then exact integral τ
    "q_rank_tau" -> (ivfpqCte + s""",
        |ivk AS (
        |  SELECT qid, vec_id AS vid, rank AS rb FROM (
        |    SELECT qid, vec_id, adist2,
        |      ROW_NUMBER() OVER (PARTITION BY qid
        |                         ORDER BY adist2, vec_id) AS rank
        |    FROM scored) WHERE rank <= 3),
        |ex AS ($cosineTopkOracle),
        |common AS (
        |  SELECT e.qid, e.vid, e.rank AS ra, i.rb
        |  FROM ex e JOIN ivk i ON i.qid = e.qid AND i.vid = e.vid),
        |prs AS (
        |  SELECT c1.qid,
        |    CASE WHEN (c1.ra - c2.ra) * (c1.rb - c2.rb) > 0
        |      THEN 1 ELSE 0 END AS conc
        |  FROM common c1 JOIN common c2
        |    ON c1.qid = c2.qid AND c1.vid < c2.vid),
        |agg AS (
        |  SELECT qid, COUNT(*) AS n_pairs,
        |    CAST(SUM(conc) AS BIGINT) AS concordant
        |  FROM prs GROUP BY qid),
        |cnt AS (SELECT qid, COUNT(*) AS n_common FROM common GROUP BY qid)
        |SELECT c.qid, c.n_common,
        |  CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(a.concordant, 0) AS BIGINT) AS concordant,
        |  CAST(COALESCE(a.n_pairs - a.concordant, 0) AS BIGINT) AS discordant,
        |  CASE WHEN COALESCE(a.n_pairs, 0) = 0 THEN NULL
        |    ELSE (2 * a.concordant - a.n_pairs) * 1000000 // a.n_pairs
        |    END AS tau_ppm
        |FROM cnt c LEFT JOIN agg a ON a.qid = c.qid
        |ORDER BY c.qid""".stripMargin),

    // the ADC leg via the shared CTE + an exact integral-L2 leg; recall
    // = |approx top-3 ∩ exact top-3| per query, in integer micro-units
    "q_ivfpq_recall" -> (ivfpqCte +
      """,
        |approx AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist2, vec_id) AS rank
        |    FROM scored) WHERE rank <= 3),
        |exd AS (
        |  SELECT q.vec_id AS qid, v.vec_id,
        |    SUM((v.qv - q.qv) * (v.qv - q.qv)) AS dist2
        |  FROM dims v JOIN dims q ON v.dim = q.dim AND q.vec_id < 5
        |  WHERE v.vec_id <> q.vec_id
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, vec_id) AS rank
        |    FROM exd) WHERE rank <= 3),
        |hits AS (
        |  SELECT e.qid, COUNT(*) AS hits
        |  FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id
        |  GROUP BY 1)
        |SELECT q.qid, COALESCE(h.hits, 0) AS hits,
        |  COALESCE(h.hits, 0) * 1000000 // 3 AS recall_micro
        |FROM (SELECT DISTINCT qid FROM exact) q
        |LEFT JOIN hits h ON q.qid = h.qid
        |ORDER BY q.qid""".stripMargin),

    "q_ncm_eval" ->
      """WITH dims AS (
        |  SELECT vec_id, label, CAST(d AS BIGINT) AS dim,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d
        |        FROM embeddings)),
        |cents AS (
        |  SELECT label AS clabel, dim AS cdim,
        |    CAST(SUM(qv) AS BIGINT) // COUNT(*) AS cqv
        |  FROM dims GROUP BY 1, 2),
        |dist AS (
        |  SELECT d.vec_id, d.label, c.clabel,
        |    CAST(SUM((d.qv - c.cqv) * (d.qv - c.cqv)) AS BIGINT) AS dist2
        |  FROM dims d JOIN cents c ON d.dim = c.cdim
        |  GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT vec_id, label, clabel,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
        |  FROM dist)
        |SELECT label AS true_label, clabel AS pred_label, COUNT(*) AS n
        |FROM pred WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_label_centroids" ->
      """WITH dims AS (
        |  SELECT label, CAST(d AS BIGINT) AS dim,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d
        |        FROM embeddings))
        |SELECT label, dim, COUNT(*) AS n_vecs,
        |  CAST(SUM(qv) AS BIGINT) // COUNT(*) AS centroid_qv
        |FROM dims GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    "q_kmeans" -> (kmeansCte +
      """
        |SELECT vec_id, cluster,
        |  COUNT(*) OVER (PARTITION BY cluster) AS csize
        |FROM a2 ORDER BY vec_id""".stripMargin),

    "q_cluster_purity" -> (kmeansCte +
      """,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |grid AS (
        |  SELECT a2.cluster, lab.label, COUNT(*) AS n
        |  FROM a2 JOIN lab ON lab.vec_id = a2.vec_id GROUP BY 1, 2),
        |per AS (
        |  SELECT cluster,
        |    CAST(SUM(n) OVER (PARTITION BY cluster) AS BIGINT) AS csize,
        |    label, n,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |                       ORDER BY n DESC, label ASC) AS rn
        |  FROM grid),
        |p1 AS (
        |  SELECT cluster, csize, CAST(label AS BIGINT) AS majority_label,
        |    CAST(n AS BIGINT) AS n_majority,
        |    n * 1000000 // csize AS purity_ppm
        |  FROM per WHERE rn = 1),
        |t AS (SELECT CAST(SUM(n_majority) AS BIGINT) AS sum_maj,
        |        CAST(SUM(csize) AS BIGINT) AS n_total FROM p1)
        |SELECT p1.cluster, p1.csize, p1.majority_label, p1.n_majority,
        |  p1.purity_ppm,
        |  t.sum_maj * 1000000 // t.n_total AS overall_purity_ppm
        |FROM p1, t ORDER BY p1.cluster""".stripMargin),

    "q_semdedup" -> (kmeansCte +
      """,
        |own AS (
        |  SELECT a2.vec_id, a2.cluster, d.dist2
        |  FROM a2 JOIN a2d d ON d.vec_id = a2.vec_id AND d.j = a2.cluster),
        |win AS (
        |  SELECT cluster, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |                       ORDER BY dist2, vec_id) AS rnk
        |  FROM own),
        |cap AS (SELECT * FROM win WHERE rnk <= 64),
        |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |drops AS (
        |  SELECT cluster, COUNT(DISTINCT vb) AS n_dropped FROM (
        |    SELECT a.cluster, b.vec_id AS vb
        |    FROM cap a JOIN cap b ON a.cluster = b.cluster AND a.rnk < b.rnk
        |    JOIN emb ea ON ea.vec_id = a.vec_id
        |    JOIN emb eb ON eb.vec_id = b.vec_id
        |    WHERE (SELECT SUM(ea.v[g.i] * eb.v[g.i]) FROM generate_series(1, 64) g(i))
        |      / (sqrt((SELECT SUM(ea.v[g.i] * ea.v[g.i]) FROM generate_series(1, 64) g(i)))
        |         * sqrt((SELECT SUM(eb.v[g.i] * eb.v[g.i]) FROM generate_series(1, 64) g(i))))
        |      >= 0.35) GROUP BY cluster)
        |SELECT c.cluster, COUNT(*) AS n_window,
        |  CAST(COALESCE(MAX(dr.n_dropped), 0) AS BIGINT) AS n_dropped,
        |  (COUNT(*) - CAST(COALESCE(MAX(dr.n_dropped), 0) AS BIGINT)) * 1000000
        |    // COUNT(*) AS kept_ppm
        |FROM cap c LEFT JOIN drops dr ON dr.cluster = c.cluster
        |GROUP BY c.cluster ORDER BY c.cluster""".stripMargin),

    // rides kmeansCte's a1 — the assignment to the raw seed centroids,
    // which IS the IVF coarse quantizer
    "q_ivf_cell_balance" -> (kmeansCte +
      """,
        |occ AS (SELECT cluster AS cell, COUNT(*) AS n_vecs
        |        FROM a1 GROUP BY cluster),
        |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
        |          CAST(MAX(n_vecs) AS BIGINT) AS n_max,
        |          COUNT(*) AS k
        |        FROM occ)
        |SELECT occ.cell, occ.n_vecs,
        |  occ.n_vecs * 1000000 // t.n_total AS share_ppm,
        |  t.n_max * t.k * 1000000 // t.n_total AS imbalance_ppm
        |FROM occ, tot t ORDER BY occ.cell""".stripMargin),

    // rides a2d — the final-centroid distance table the assignment is
    // picked from — so the silhouette's a/b use the clustering's own
    // integer distances
    "q_silhouette" -> (kmeansCte +
      """,
        |ab AS (
        |  SELECT a2d.vec_id, a2.cluster,
        |    CAST(SUM(CASE WHEN a2d.j = a2.cluster THEN a2d.dist2 END)
        |      AS BIGINT) AS a2v,
        |    CAST(MIN(CASE WHEN a2d.j <> a2.cluster THEN a2d.dist2 END)
        |      AS BIGINT) AS b2v
        |  FROM a2d JOIN a2 ON a2d.vec_id = a2.vec_id
        |  GROUP BY a2d.vec_id, a2.cluster),
        |sil AS (
        |  SELECT cluster,
        |    CASE WHEN GREATEST(a2v, b2v) = 0 THEN 0
        |      ELSE (b2v - a2v) * 1000 // GREATEST(a2v, b2v) END AS s_milli
        |  FROM ab)
        |SELECT cluster, COUNT(*) AS n_vecs,
        |  CAST(SUM(s_milli) AS BIGINT) // COUNT(*) AS mean_sil_milli
        |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin),

    // derived-invariant oracle (round-8 verdict item 6): the HLL++
    // estimate itself is engine-internal, but the exact side is plain
    // SQL and within_bound must be true — Spark computes it from the
    // real estimate, so an out-of-bound estimate hash-mismatches here
    "q_approx_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(150000 AS BIGINT) AS bound_ppm,
        |  true AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors HllSketch exactly: 60-bit md5 hash → (12-bit register
    // index, 48-bit sub-stream), rank = 49 - bitlength, registers =
    // MAX per index, then the HLL estimator with its linear-counting
    // small-range branch (which is the branch that fires at test
    // cardinalities — fully deterministic: only ln and exact powers
    // of two are involved)
    "q_hll_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h60
        |  FROM documents),
        |rk AS (
        |  SELECT lang, CAST(h60 // 281474976710656 AS INTEGER) AS idx,
        |    CASE WHEN h60 % 281474976710656 = 0 THEN 49
        |         ELSE 49 - length(bin(h60 % 281474976710656)) END AS rank
        |  FROM h),
        |reg AS (SELECT lang, idx, MAX(rank) AS rg FROM rk GROUP BY lang, idx),
        |s AS (SELECT lang, SUM(POWER(2.0, -rg)) AS sm, COUNT(*) AS nreg
        |      FROM reg GROUP BY lang),
        |est AS (
        |  SELECT lang,
        |    (0.7213 / (1 + 1.079/4096)) * 4096 * 4096 / (sm + (4096 - nreg)) AS e,
        |    4096 - nreg AS zeros
        |  FROM s),
        |ex AS (SELECT lang, COUNT(DISTINCT doc_id) AS exact_docs
        |       FROM documents GROUP BY lang)
        |SELECT est.lang AS lang,
        |  CAST(ROUND(CASE WHEN e <= 2.5 * 4096 AND zeros > 0
        |       THEN 4096 * ln(4096.0 / zeros) ELSE e END) AS BIGINT) AS hll_docs,
        |  ex.exact_docs
        |FROM est JOIN ex ON est.lang = ex.lang
        |ORDER BY est.lang""".stripMargin,

    // mirrors Multimodal.syntheticImage's dimension rule — the Spark
    // side PARSES real container headers; the oracle recomputes the
    // dims the headers were built from
    "q_image_headers" ->
      """SELECT doc_id, source AS media_source,
        |  CAST(64 AS BIGINT) AS byte_len,
        |  CAST(16 + doc_id % 1000 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 777 AS INTEGER) AS height,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
        |       WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Recomputes the synthesis pixel rule arithmetically — the Spark
    // side must recover the identical pixels THROUGH the container
    // encode/decode for the hashes to agree.
    "q_image_phash" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    8 * (2 + doc_id % 4) AS w,
        |    8 * (1 + doc_id % 3) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
        |    (7 * doc_id + 3 * gx.x + 5 * gy.y) % 256 AS v
        |  FROM dims, generate_series(0, 39) gx(x), generate_series(0, 23) gy(y)
        |  WHERE gx.x < w AND gy.y < h),
        |cells AS (
        |  SELECT doc_id, w, h,
        |    (y // (h // 8)) * 8 + (x // (w // 8)) AS bi,
        |    SUM(v) AS cellsum
        |  FROM px
        |  GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        |tot AS (
        |  SELECT doc_id, w, h, bi, cellsum,
        |    SUM(cellsum) OVER (PARTITION BY doc_id) AS total
        |  FROM cells)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(SUM(CASE WHEN bi < 32 AND cellsum * 64 > total
        |    THEN (CAST(1 AS BIGINT) << CAST(bi AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_hi,
        |  CAST(SUM(CASE WHEN bi >= 32 AND cellsum * 64 > total
        |    THEN (CAST(1 AS BIGINT) << CAST(bi - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS phash_lo,
        |  CAST(MAX(total // (w * h)) AS BIGINT) AS mean_lum
        |FROM tot GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // brute-force all-pairs hamming in DuckDB — so the Spark side's
    // 4×16-band pigeonhole exactness (every ham≤2 pair shares an
    // intact band) is itself under the hash compare
    "q_image_near_dup" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    8 * (2 + doc_id % 4) AS w,
        |    8 * (1 + doc_id % 3) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
        |    (7 * doc_id + 3 * gx.x + 5 * gy.y) % 256 AS v
        |  FROM dims, generate_series(0, 39) gx(x), generate_series(0, 23) gy(y)
        |  WHERE gx.x < w AND gy.y < h),
        |cells AS (
        |  SELECT doc_id, w, h,
        |    (y // (h // 8)) * 8 + (x // (w // 8)) AS bi,
        |    SUM(v) AS cellsum
        |  FROM px
        |  GROUP BY doc_id, w, h, (y // (h // 8)) * 8 + (x // (w // 8))),
        |tot AS (
        |  SELECT doc_id, bi, cellsum,
        |    SUM(cellsum) OVER (PARTITION BY doc_id) AS total
        |  FROM cells),
        |ph AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN bi < 32 AND cellsum * 64 > total
        |      THEN (CAST(1 AS BIGINT) << CAST(bi AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN bi >= 32 AND cellsum * 64 > total
        |      THEN (CAST(1 AS BIGINT) << CAST(bi - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo
        |  FROM tot GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS ham
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2),
        |sym AS (
        |  SELECT d1 AS doc_id, ham FROM pairs
        |  UNION ALL SELECT d2, ham FROM pairs)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups,
        |  CAST(MIN(ham) AS BIGINT) AS min_ham
        |FROM sym GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors Multimodal.syntheticWav's waveform rule — the oracle
    // regenerates the integer square wave arithmetically
    "q_audio_features" ->
      """WITH p AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    8000 + (doc_id % 4) * 4000 AS sample_rate,
        |    64 + (doc_id % 129) AS n,
        |    4 + (doc_id % 16) AS h,
        |    1000 + (doc_id % 7) * 100 AS a
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, sample_rate, i.i AS pos,
        |    CASE WHEN (i.i // h) % 2 = 0 THEN a ELSE -a END AS v
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) i),
        |x AS (
        |  SELECT *, lag(v) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM s)
        |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
        |  COUNT(*) AS n_samples,
        |  CAST(SUM(v * v) AS BIGINT) AS energy,
        |  CAST(MAX(abs(v)) AS BIGINT) AS peak,
        |  CAST(SUM(CASE WHEN prev IS NOT NULL AND v * prev < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST((COUNT(*) * 1000) // ANY_VALUE(sample_rate) AS BIGINT) AS duration_ms
        |FROM x GROUP BY doc_id, sample_rate ORDER BY doc_id""".stripMargin,

    // mirrors Multimodal.syntheticAvi's frame rule arithmetically
    "q_video_frames" ->
      """WITH p AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    2 + (doc_id % 5) AS n_frames,
        |    8 + (doc_id % 3) * 4 AS w,
        |    6 + (doc_id % 2) * 4 AS h
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, n_frames, w, h, f.f AS frame_idx
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS f) f
        |  WHERE f.f % 2 = 0),
        |px AS (
        |  SELECT doc_id, n_frames, w, h, frame_idx,
        |    (3 * doc_id + 11 * frame_idx + 2 * gx.x + 7 * gy.y) % 256 AS v
        |  FROM fr, generate_series(0, 15) gx(x), generate_series(0, 9) gy(y)
        |  WHERE gx.x < w AND gy.y < h)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(SUM(v) // (w * h) AS BIGINT) AS mean_luma,
        |  CAST(MAX(v) AS BIGINT) AS peak_luma
        |FROM px GROUP BY doc_id, w, h, n_frames, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // the scene-cut oracle extends the frame rule with a LAG window
    "q_video_scenes" ->
      """WITH p AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    2 + (doc_id % 5) AS n_frames,
        |    8 + (doc_id % 3) * 4 AS w,
        |    6 + (doc_id % 2) * 4 AS h
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, n_frames, w, h, f.f AS frame_idx
        |  FROM p, LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS f) f),
        |px AS (
        |  SELECT doc_id, n_frames, w, h, frame_idx,
        |    (3 * doc_id + 11 * frame_idx + 2 * gx.x + 7 * gy.y) % 256 AS v
        |  FROM fr, generate_series(0, 15) gx(x), generate_series(0, 9) gy(y)
        |  WHERE gx.x < w AND gy.y < h),
        |luma AS (
        |  SELECT doc_id, n_frames, frame_idx,
        |    CAST(SUM(v) // (w * h) AS BIGINT) AS mean_luma
        |  FROM px GROUP BY doc_id, n_frames, w, h, frame_idx),
        |d AS (
        |  SELECT doc_id, n_frames,
        |    ABS(mean_luma - LAG(mean_luma) OVER
        |      (PARTITION BY doc_id ORDER BY frame_idx)) AS delta
        |  FROM luma)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(SUM(CASE WHEN delta >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |  CAST(MAX(delta) AS BIGINT) AS max_delta
        |FROM d GROUP BY doc_id, n_frames ORDER BY doc_id""".stripMargin,

    // mirrors Multimodal.decodeStub: first md5 byte of the payload
    // (== the text's UTF-8 bytes) drives width/height/format
    "q_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id, source AS media_source,
        |    octet_length(encode(text)) AS byte_len,
        |    CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS d0
        |  FROM documents)
        |SELECT doc_id, media_source, CAST(byte_len AS BIGINT) AS byte_len,
        |  CAST(160 + (d0 % 8) * 160 AS INTEGER) AS width,
        |  CAST(120 + ((d0 // 8) % 8) * 120 AS INTEGER) AS height,
        |  CASE WHEN d0 % 2 = 0 THEN 'jpeg' ELSE 'png' END AS format
        |FROM m ORDER BY doc_id""".stripMargin,

    // Generated from the same planeWeights as the Spark query: each
    // plane's sign test embeds its ±1 weights as a DOUBLE[] literal.
    "q_ann_buckets" -> {
      val sig = (0 until 4).map { p =>
        val arr = planeWeights(p).map(w => if (w > 0) "1" else "-1")
          .mkString("[", ",", "]")
        s"""(CASE WHEN (SELECT SUM(v[g.i] * ($arr::DOUBLE[])[g.i])
           |  FROM generate_series(1, 64) g(i)) >= 0 THEN '1' ELSE '0' END)""".stripMargin
      }.mkString(" || ")
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, $sig AS bucket FROM emb)
         |SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    // same plane literals, 6 planes; the two propagation rounds
    // unroll as CTEs (min ignores NULL neighbor labels in both engines)
    "q_label_prop" -> {
      val sig = (0 until 6).map { p =>
        val arr = planeWeights(p).map(w => if (w > 0) "1" else "-1")
          .mkString("[", ",", "]")
        s"""(CASE WHEN (SELECT SUM(v[g.i] * ($arr::DOUBLE[])[g.i])
           |  FROM generate_series(1, 64) g(i)) >= 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"""WITH emb AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |nodes AS (SELECT vec_id, label, $sig AS bucket FROM emb),
         |edges AS (
         |  SELECT a.vec_id AS u, b.vec_id AS v
         |  FROM nodes a JOIN nodes b
         |  ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |l0 AS (
         |  SELECT vec_id, CASE WHEN vec_id < 100 THEN label END AS l
         |  FROM nodes),
         |l1 AS (
         |  SELECT c.vec_id,
         |    COALESCE(c.l, (SELECT MIN(n.l) FROM edges e JOIN l0 n ON n.vec_id = e.v
         |                   WHERE e.u = c.vec_id)) AS l
         |  FROM l0 c),
         |l2 AS (
         |  SELECT c.vec_id,
         |    COALESCE(c.l, (SELECT MIN(n.l) FROM edges e JOIN l1 n ON n.vec_id = e.v
         |                   WHERE e.u = c.vec_id)) AS l
         |  FROM l1 c)
         |SELECT vec_id, CAST(COALESCE(l, -1) AS BIGINT) AS prop_label
         |FROM l2 ORDER BY vec_id""".stripMargin
    },

    "q_ivf_topk" -> ivfTopkOracle,

    "q_ivf_tuning" ->
      (s"""WITH ex AS ($cosineTopkOracle),
         |temb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |tn AS (
         |  SELECT vec_id, v,
         |    sqrt((SELECT SUM(v[g.i] * v[g.i]) FROM generate_series(1, 64) g(i)))
         |      AS nv
         |  FROM temb),
         |tcents AS (SELECT vec_id AS cid, v AS cv, nv AS nc FROM tn
         |           WHERE vec_id < 8),
         |tsims AS (
         |  SELECT tn.vec_id, c.cid,
         |    (SELECT SUM(tn.v[g.i] * c.cv[g.i]) FROM generate_series(1, 64) g(i))
         |      / (tn.nv * c.nc) AS sim
         |  FROM tn, tcents c),
         |tassign AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sim DESC, cid ASC) AS rn
         |    FROM tsims) WHERE rn = 1),
         |tqranks AS (
         |  SELECT vec_id AS qid, cid AS cell, crank FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sim DESC, cid ASC) AS crank
         |    FROM tsims WHERE vec_id < 5)),
         |tprobes AS (
         |  SELECT l.np, q.qid, q.cell FROM tqranks q
         |  CROSS JOIN (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS np) l
         |  WHERE q.crank <= l.np),
         |tscored AS (
         |  SELECT p.np, p.qid, a.vec_id AS vid,
         |    (SELECT SUM(qn.v[g.i] * vn.v[g.i])
         |     FROM generate_series(1, 64) g(i)) / (qn.nv * vn.nv) AS score
         |  FROM tprobes p JOIN tassign a ON a.cell = p.cell
         |  JOIN tn qn ON qn.vec_id = p.qid JOIN tn vn ON vn.vec_id = a.vec_id
         |  WHERE a.vec_id <> p.qid),
         |ttop3 AS (
         |  SELECT np, qid, vid FROM (
         |    SELECT np, qid, vid,
         |      row_number() OVER (PARTITION BY np, qid
         |                         ORDER BY score DESC, vid ASC) AS rank
         |    FROM tscored) WHERE rank <= 3),
         |thits AS (
         |  SELECT t.np, t.qid, COUNT(*) AS hits FROM ttop3 t
         |  JOIN ex ON ex.qid = t.qid AND ex.vid = t.vid GROUP BY 1, 2),
         |tscanned AS (SELECT np, qid, COUNT(*) AS n_scanned FROM tscored
         |             GROUP BY 1, 2)
         |SELECT k.np, k.qid,
         |  CAST(COALESCE(s.n_scanned, 0) AS BIGINT) AS n_scanned,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) * 1000000 // 3 AS recall_micro
         |FROM (SELECT DISTINCT np, qid FROM tprobes) k
         |LEFT JOIN tscanned s ON s.np = k.np AND s.qid = k.qid
         |LEFT JOIN thits h ON h.np = k.np AND h.qid = k.qid
         |ORDER BY k.np, k.qid""".stripMargin),

    "q_embed_near_dup" ->
      """WITH emb AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.label, a.vec_id AS d1, b.vec_id AS d2,
        |  ROUND(
        |    (SELECT SUM(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))
        |    / (sqrt((SELECT SUM(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i)))
        |       * sqrt((SELECT SUM(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i)))), 6) AS cos_r
        |FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE (SELECT SUM(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))
        |      / (sqrt((SELECT SUM(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i)))
        |         * sqrt((SELECT SUM(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i)))) >= 0.35
        |ORDER BY a.label, d1, d2""".stripMargin,

    "q_cosine_topk" -> cosineTopkOracle,

    // the same 3 greedy rounds the Spark side runs, unrolled as CTEs;
    // pool and pair sims recomputed with the cosineTopkOracle dot
    // convention
    "q_mmr_rerank" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 5),
        |scoredq AS (
        |  SELECT q.qid, e.vec_id AS vid,
        |    (SELECT SUM(q.qv[g.i] * e.v[g.i]) FROM generate_series(1, 64) g(i))
        |    / (sqrt((SELECT SUM(q.qv[g.i] * q.qv[g.i]) FROM generate_series(1, 64) g(i)))
        |       * sqrt((SELECT SUM(e.v[g.i] * e.v[g.i]) FROM generate_series(1, 64) g(i)))) AS score
        |  FROM emb e, q WHERE e.vec_id <> q.qid),
        |pool AS (
        |  SELECT qid, vid, CAST(ROUND(score * 1000000) AS BIGINT) AS rel_ppm
        |  FROM (SELECT qid, vid, score,
        |          row_number() OVER (PARTITION BY qid
        |                             ORDER BY score DESC, vid ASC) AS rank
        |        FROM scoredq)
        |  WHERE rank <= 10),
        |pe AS (SELECT p.qid, p.vid, e.v FROM pool p
        |       JOIN emb e ON e.vec_id = p.vid),
        |simcc AS (
        |  SELECT a.qid, a.vid, b.vid AS v2,
        |    CAST(ROUND(
        |      (SELECT SUM(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))
        |      / (sqrt((SELECT SUM(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i)))
        |         * sqrt((SELECT SUM(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))))
        |      * 1000000) AS BIGINT) AS sim_ppm
        |  FROM pe a JOIN pe b ON a.qid = b.qid AND a.vid <> b.vid),
        |s1 AS (
        |  SELECT qid, vid, rel_ppm, rel_ppm * 7 AS mmr FROM (
        |    SELECT qid, vid, rel_ppm,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY rel_ppm * 7 DESC, vid ASC) AS rn
        |    FROM pool) WHERE rn = 1),
        |c2 AS (
        |  SELECT p.qid, p.vid, p.rel_ppm,
        |    p.rel_ppm * 7 - 3 * MAX(s.sim_ppm) AS mmr
        |  FROM pool p
        |  JOIN simcc s ON s.qid = p.qid AND s.vid = p.vid
        |  JOIN s1 ON s1.qid = s.qid AND s1.vid = s.v2
        |  WHERE NOT EXISTS (SELECT 1 FROM s1 x
        |                    WHERE x.qid = p.qid AND x.vid = p.vid)
        |  GROUP BY p.qid, p.vid, p.rel_ppm),
        |p2 AS (
        |  SELECT qid, vid, rel_ppm, mmr FROM (
        |    SELECT qid, vid, rel_ppm, mmr,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY mmr DESC, vid ASC) AS rn
        |    FROM c2) WHERE rn = 1),
        |sel2 AS (SELECT qid, vid FROM s1 UNION ALL SELECT qid, vid FROM p2),
        |c3 AS (
        |  SELECT p.qid, p.vid, p.rel_ppm,
        |    p.rel_ppm * 7 - 3 * MAX(s.sim_ppm) AS mmr
        |  FROM pool p
        |  JOIN simcc s ON s.qid = p.qid AND s.vid = p.vid
        |  JOIN sel2 ON sel2.qid = s.qid AND sel2.vid = s.v2
        |  WHERE NOT EXISTS (SELECT 1 FROM sel2 x
        |                    WHERE x.qid = p.qid AND x.vid = p.vid)
        |  GROUP BY p.qid, p.vid, p.rel_ppm),
        |p3 AS (
        |  SELECT qid, vid, rel_ppm, mmr FROM (
        |    SELECT qid, vid, rel_ppm, mmr,
        |      row_number() OVER (PARTITION BY qid
        |                         ORDER BY mmr DESC, vid ASC) AS rn
        |    FROM c3) WHERE rn = 1)
        |SELECT qid, CAST(1 AS BIGINT) AS round, vid, rel_ppm, mmr FROM s1
        |UNION ALL SELECT qid, CAST(2 AS BIGINT), vid, rel_ppm, mmr FROM p2
        |UNION ALL SELECT qid, CAST(3 AS BIGINT), vid, rel_ppm, mmr FROM p3
        |ORDER BY qid, round""".stripMargin,

    "q_hll_overlap" ->
      s"""WITH tk AS (
         |  SELECT lang, tk FROM (
         |    SELECT lang, unnest(string_split(lower(text), ' ')) AS tk
         |    FROM documents)
         |  WHERE tk <> ''),
         |ha AS (SELECT DISTINCT
         |  CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h60
         |  FROM tk WHERE lang = 'en'),
         |hb AS (SELECT DISTINCT
         |  CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h60
         |  FROM tk WHERE lang = 'de'),
         |hu AS (SELECT h60 FROM ha UNION SELECT h60 FROM hb),
         |vals AS (
         |  SELECT ${hllEstSql("ha")} AS est_a, ${hllEstSql("hb")} AS est_b,
         |    ${hllEstSql("hu")} AS est_union,
         |    (SELECT COUNT(DISTINCT tk) FROM tk WHERE lang = 'en') AS exact_a,
         |    (SELECT COUNT(DISTINCT tk) FROM tk WHERE lang = 'de') AS exact_b,
         |    (SELECT COUNT(*) FROM (
         |       SELECT DISTINCT tk FROM tk WHERE lang = 'en'
         |       INTERSECT SELECT DISTINCT tk FROM tk WHERE lang = 'de')) AS exact_inter)
         |SELECT est_a, est_b, est_union, est_a + est_b - est_union AS est_inter,
         |  exact_a, exact_b, exact_inter
         |FROM vals""".stripMargin,

    "q_hard_negatives" ->
      """WITH emb AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS qlab, v AS qv FROM emb WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS vid,
        |    (SELECT SUM(q.qv[g.i] * e.v[g.i]) FROM generate_series(1, 64) g(i))
        |    / (sqrt((SELECT SUM(q.qv[g.i] * q.qv[g.i]) FROM generate_series(1, 64) g(i)))
        |       * sqrt((SELECT SUM(e.v[g.i] * e.v[g.i]) FROM generate_series(1, 64) g(i)))) AS score
        |  FROM emb e, q WHERE e.vec_id <> q.qid AND e.label <> q.qlab),
        |ranked AS (
        |  SELECT qid, vid, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid ASC) AS rank
        |  FROM scored)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vid, ROUND(score, 6) AS cosine
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q_mrr" ->
      s"""WITH topk AS ($cosineTopkOracle),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |hit AS (
         |  SELECT t.qid, MIN(t.rank) AS first_hit
         |  FROM topk t
         |  JOIN lab ql ON ql.vec_id = t.qid
         |  JOIN lab vl ON vl.vec_id = t.vid
         |  WHERE ql.label = vl.label
         |  GROUP BY t.qid)
         |SELECT q.qid, CAST(COALESCE(h.first_hit, 0) AS BIGINT) AS first_hit,
         |  CAST(CASE WHEN h.first_hit IS NULL THEN 0
         |       ELSE 1000000 // h.first_hit END AS BIGINT) AS rr_micro
         |FROM (SELECT DISTINCT qid FROM topk) q
         |LEFT JOIN hit h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,

    "q_ndcg" ->
      s"""WITH topk AS ($cosineTopkOracle),
         |lab AS (SELECT vec_id, label FROM embeddings)
         |SELECT t.qid,
         |  CAST(SUM(CASE WHEN ql.label = vl.label THEN
         |    CASE t.rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930
         |    ELSE 500000 END ELSE 0 END) AS BIGINT) AS dcg,
         |  CAST(SUM(CASE WHEN ql.label = vl.label THEN
         |    CASE t.rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930
         |    ELSE 500000 END ELSE 0 END) * 1000000 // 2130930 AS BIGINT)
         |    AS ndcg_micro
         |FROM topk t
         |JOIN lab ql ON ql.vec_id = t.qid
         |JOIN lab vl ON vl.vec_id = t.vid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,

    // recall@3 of the IVF leg against the exact leg — both embedded
    // verbatim as CTEs, so the metric's oracle can never drift from
    // the legs' own oracles
    "q_ann_recall" ->
      s"""WITH exact AS ($cosineTopkOracle),
         |approx AS ($ivfTopkOracle),
         |hits AS (
         |  SELECT e.qid, COUNT(*) AS hits
         |  FROM exact e JOIN approx a ON e.qid = a.qid AND e.vid = a.vid
         |  GROUP BY e.qid)
         |SELECT q.qid, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(COALESCE(h.hits, 0) * 1000000 // 3 AS BIGINT) AS recall_micro
         |FROM (SELECT DISTINCT qid FROM exact) q LEFT JOIN hits h ON q.qid = h.qid
         |ORDER BY q.qid""".stripMargin,

    "q_embed_cov" -> embedCovOracle,

    "q_pca_power" -> pcaPowerOracle,

    "q_anisotropy" ->
      (s"""WITH pca AS ($pcaPowerOracle),
         |cov AS ($embedCovOracle),
         |tr AS (SELECT CAST(SUM(cov_milli2) AS BIGINT) AS trace_milli2
         |       FROM cov WHERE i = j),
         |lm AS (SELECT MIN(lambda_milli2) AS lambda_milli2 FROM pca)
         |SELECT tr.trace_milli2, lm.lambda_milli2,
         |  CASE WHEN tr.trace_milli2 <= 0 OR lm.lambda_milli2 IS NULL THEN NULL
         |       ELSE lm.lambda_milli2 * 1000000 // tr.trace_milli2
         |  END AS anisotropy_ppm
         |FROM tr, lm""".stripMargin),

    "q_embed_drift" ->
      """WITH base AS (
        |  SELECT (label % 2 = 0) AS even, CAST(p.i + 1 AS BIGINT) AS dim,
        |    CAST(ROUND(CAST(embedding[p.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS v
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i) p),
        |agg AS (
        |  SELECT dim,
        |    CAST(SUM(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN even THEN v END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN even THEN v * v END) AS BIGINT) AS qa,
        |    CAST(SUM(CASE WHEN NOT even THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN NOT even THEN v END) AS BIGINT) AS sb,
        |    CAST(SUM(CASE WHEN NOT even THEN v * v END) AS BIGINT) AS qb
        |  FROM base GROUP BY dim),
        |m AS (
        |  SELECT dim, na, nb,
        |    CASE WHEN na = 0 THEN NULL ELSE sa // na END AS mean_even_milli,
        |    CASE WHEN nb = 0 THEN NULL ELSE sb // nb END AS mean_odd_milli,
        |    CASE WHEN na = 0 THEN NULL
        |         ELSE (na * qa - sa * sa) // na // na END AS var_even_milli2,
        |    CASE WHEN nb = 0 THEN NULL
        |         ELSE (nb * qb - sb * sb) // nb // nb END AS var_odd_milli2
        |  FROM agg)
        |SELECT dim, na, nb, mean_even_milli, mean_odd_milli,
        |  var_even_milli2, var_odd_milli2,
        |  ABS(mean_even_milli - mean_odd_milli) AS shift_milli
        |FROM m ORDER BY dim""".stripMargin,

    "q_mrl_recall" ->
      (s"""WITH ex AS ($cosineTopkOracle),
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |lv AS (SELECT CAST(unnest([8, 16, 32]) AS BIGINT) AS m),
         |q AS (SELECT l.m, e.vec_id AS qid, e.v AS qv
         |      FROM emb e CROSS JOIN lv l WHERE e.vec_id < 5),
         |scored AS (
         |  SELECT q.m, q.qid, e.vec_id AS vid,
         |    (SELECT SUM(q.qv[g.i] * e.v[g.i])
         |     FROM generate_series(1, 64) g(i) WHERE g.i <= q.m)
         |    / (sqrt((SELECT SUM(q.qv[g.i] * q.qv[g.i])
         |             FROM generate_series(1, 64) g(i) WHERE g.i <= q.m))
         |       * sqrt((SELECT SUM(e.v[g.i] * e.v[g.i])
         |               FROM generate_series(1, 64) g(i) WHERE g.i <= q.m))) AS score
         |  FROM emb e, q WHERE e.vec_id <> q.qid),
         |ranked AS (
         |  SELECT m, qid, vid,
         |    row_number() OVER (PARTITION BY m, qid
         |                       ORDER BY score DESC, vid ASC) AS rank
         |  FROM scored),
         |ap AS (SELECT m, qid, vid FROM ranked WHERE rank <= 3),
         |hits AS (
         |  SELECT ap.m, ap.qid, COUNT(*) AS hits
         |  FROM ap JOIN ex ON ex.qid = ap.qid AND ex.vid = ap.vid
         |  GROUP BY 1, 2)
         |SELECT k.m AS dims, k.qid AS qid,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) * 1000000 // 3 AS recall_micro
         |FROM (SELECT DISTINCT m, qid FROM q) k
         |LEFT JOIN hits h ON h.m = k.m AND h.qid = k.qid
         |ORDER BY dims, qid""".stripMargin),

    "q_decision_stump" ->
      """WITH base AS (
        |  SELECT CAST(c.d AS BIGINT) AS d, CAST(c.t AS BIGINT) AS t,
        |    CAST(ROUND(CAST(embedding[c.d + 1] AS DOUBLE) * 1000) AS BIGINT) AS v,
        |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS y0
        |  FROM embeddings
        |  CROSS JOIN (SELECT d.d, t.t
        |    FROM (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS d) d
        |    CROSS JOIN (SELECT unnest([-300, -200, -100, 0, 100, 200, 300]) AS t) t) c),
        |agg AS (
        |  SELECT d, t, COUNT(*) AS n, CAST(SUM(y0) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN v <= t THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        |    CAST(SUM(CASE WHEN v <= t THEN y0 ELSE 0 END) AS BIGINT) AS c0l
        |  FROM base GROUP BY d, t),
        |sides AS (
        |  SELECT d, t, n, nl, c0l, n - nl AS nr, c0 - c0l AS c0r FROM agg),
        |g AS (
        |  SELECT d, t, n, nl,
        |    CASE WHEN nl = 0 THEN 0 ELSE
        |      (nl*nl - c0l*c0l - (nl-c0l)*(nl-c0l)) * 1000000 // (nl*nl) END AS gl,
        |    CASE WHEN nr = 0 THEN 0 ELSE
        |      (nr*nr - c0r*c0r - (nr-c0r)*(nr-c0r)) * 1000000 // (nr*nr) END AS gr
        |  FROM sides),
        |w AS (SELECT d, t, nl, (nl * gl + (n - nl) * gr) // n AS gini_ppm FROM g),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY d ORDER BY gini_ppm, t) AS rk
        |      FROM w)
        |SELECT d, t AS best_t_milli, gini_ppm, nl AS n_left
        |FROM r WHERE rk = 1 ORDER BY d""".stripMargin,

    "q_map_eval" ->
      s"""WITH topk AS ($cosineTopkOracle),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |scored AS (
         |  SELECT t.qid, t.rank,
         |    CASE WHEN ql.label = vl.label THEN 1 ELSE 0 END AS rel
         |  FROM topk t
         |  JOIN lab ql ON ql.vec_id = t.qid
         |  JOIN lab vl ON vl.vec_id = t.vid),
         |cum AS (
         |  SELECT qid, rank, rel,
         |    CAST(SUM(rel) OVER (PARTITION BY qid ORDER BY rank) AS BIGINT) AS cum_hits
         |  FROM scored)
         |SELECT qid, CAST(SUM(rel) AS BIGINT) AS n_hits,
         |  CAST(SUM(rel * (cum_hits * 1000000 // rank)) AS BIGINT) // 3 AS ap_micro
         |FROM cum GROUP BY qid ORDER BY qid""".stripMargin,

    "q_embed_norms" ->
      """WITH dims AS (
        |  SELECT vec_id, label,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v FROM embeddings)),
        |n AS (
        |  SELECT vec_id, label, CAST(SUM(qv * qv) AS BIGINT) AS norm2
        |  FROM dims GROUP BY 1, 2)
        |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
        |  MIN(norm2) AS min_norm2,
        |  CAST(SUM(norm2) AS BIGINT) // COUNT(*) AS mean_norm2,
        |  MAX(norm2) AS max_norm2
        |FROM n GROUP BY label ORDER BY label""".stripMargin,

    "q_retrieval_fusion" -> (ivfpqCte +
      s""",
        |adc AS (
        |  SELECT qid, vec_id AS item, CAST(rank AS BIGINT) AS r_adc FROM (
        |    SELECT qid, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist2, vec_id) AS rank
        |    FROM scored) WHERE rank <= 3),
        |ex AS (SELECT qid, vid AS item, rank AS r_exact
        |       FROM ($cosineTopkOracle) e),
        |fused AS (
        |  SELECT COALESCE(ex.qid, adc.qid) AS qid,
        |    COALESCE(ex.item, adc.item) AS item,
        |    ex.r_exact, adc.r_adc,
        |    COALESCE(1000000 // (60 + ex.r_exact), 0) +
        |    COALESCE(1000000 // (60 + adc.r_adc), 0) AS rrf_micro
        |  FROM ex FULL OUTER JOIN adc
        |    ON ex.qid = adc.qid AND ex.item = adc.item)
        |SELECT qid, CAST(fr AS BIGINT) AS fused_rank, item, rrf_micro,
        |  r_exact, r_adc
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY rrf_micro DESC, item ASC) AS fr
        |  FROM fused) WHERE fr <= 3
        |ORDER BY qid, fused_rank""".stripMargin),

    "q_image_entropy" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 * (2 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 40) t(x)),
        |ys AS (SELECT y FROM range(0, 32) t(y)),
        |px AS (
        |  SELECT d.doc_id, (7 * d.doc_id + 3 * xs.x + 5 * ys.y) % 256 AS v
        |  FROM dims d, xs, ys WHERE xs.x < d.w AND ys.y < d.h),
        |hist AS (SELECT doc_id, v, COUNT(*) AS c FROM px GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_px, COUNT(*) AS n_levels,
        |  CAST(SUM(v * c) AS BIGINT) // CAST(SUM(c) AS BIGINT) AS mean_lum,
        |  ROUND(ln(CAST(SUM(c) AS DOUBLE)) -
        |        SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c), 6) AS entropy_nats
        |FROM hist GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Recomputes the block-constant rule the Spark side must recover
    // THROUGH the entropy-coded JPEG (Huffman decode → dequant → IDCT):
    // any codec error — wrong DC prediction, run-length slip, IDCT
    // scale — shifts lum_sum or the position-weighted checksum.
    "q_jpeg_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 * (2 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 40) t(x)),
        |ys AS (SELECT y FROM range(0, 24) t(y)),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h, ys.y * d.w + xs.x AS pos,
        |    (7 * d.doc_id + 11 * (xs.x // 8) + 13 * (ys.y // 8)) % 256 AS v
        |  FROM dims d, xs, ys WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  COUNT(*) AS n_px, CAST(SUM(v) AS BIGINT) AS lum_sum,
        |  CAST(SUM(v) AS BIGINT) // COUNT(*) AS mean_lum,
        |  CAST(SUM(v * (pos + 1)) AS BIGINT) AS pos_checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // Recomputes the macroblock-constant YCbCr rule the Spark side
    // must recover THROUGH the interleaved entropy-coded color scan
    // (per-component DC prediction, chroma upsampling), then the SAME
    // integer fixed-point YCbCr→RGB (micro-unit BT.601, +500000,
    // truncating //, clamp) — any codec error (component order slip,
    // swapped Cb/Cr, wrong upsample) shifts a channel sum or the
    // position-weighted checksum.
    "q_jpeg_color" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 * (1 + doc_id % 3) AS w, 16 * (1 + doc_id % 2) AS h
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 48) t(x)),
        |ys AS (SELECT y FROM range(0, 32) t(y)),
        |ycc AS (
        |  SELECT d.doc_id, d.w, d.h, ys.y * d.w + xs.x AS pos,
        |    (7 * d.doc_id + 11 * (xs.x // 16) + 13 * (ys.y // 16)) % 256 AS yv,
        |    (5 * d.doc_id + 17 * (xs.x // 16) + 19 * (ys.y // 16)) % 256 AS cb,
        |    (3 * d.doc_id + 23 * (xs.x // 16) + 29 * (ys.y // 16)) % 256 AS cr
        |  FROM dims d, xs, ys WHERE xs.x < d.w AND ys.y < d.h),
        |px AS (
        |  SELECT doc_id, w, h, pos,
        |    LEAST(GREATEST((1000000 * yv + 1402000 * (cr - 128)
        |      + 500000) // 1000000, 0), 255) AS r,
        |    LEAST(GREATEST((1000000 * yv - 344136 * (cb - 128)
        |      - 714136 * (cr - 128) + 500000) // 1000000, 0), 255) AS g,
        |    LEAST(GREATEST((1000000 * yv + 1772000 * (cb - 128)
        |      + 500000) // 1000000, 0), 255) AS b
        |  FROM ycc)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  COUNT(*) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM((r * 4 + g * 2 + b) * (pos + 1)) AS BIGINT) AS pos_checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // lossless codec ⇒ fully arithmetic oracle: every decoded channel
    // value is the synthesis rule itself, so ANY filter-reversal,
    // stride, or channel-order defect hash-mismatches
    "q_png_color" ->
      """WITH dims AS (
        |  SELECT doc_id, 7 + doc_id % 9 AS w, 5 + doc_id % 6 AS h
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 16) t(x)),
        |ys AS (SELECT y FROM range(0, 11) t(y)),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h, ys.y * d.w + xs.x AS pos,
        |    (7 * d.doc_id + 3 * xs.x + 5 * ys.y) % 256 AS r,
        |    (11 * d.doc_id + 5 * xs.x + 7 * ys.y) % 256 AS g,
        |    (13 * d.doc_id + 7 * xs.x + 11 * ys.y) % 256 AS b
        |  FROM dims d, xs, ys WHERE xs.x < d.w AND ys.y < d.h)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  COUNT(*) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM((r * 4 + g * 2 + b) * (pos + 1)) AS BIGINT) AS pos_checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // lossless + closed-form palette ⇒ fully arithmetic oracle: the
    // decoded ARGB of pixel (x, y) is the palette rule applied to
    // index (id + 3x + 5y) mod P with the tRNS short-transparency
    // boundary at P div 2 on odd ids — a PLTE misparse, an index-
    // stride filter defect, or an off-by-one on the tRNS boundary
    // shifts a channel sum or the alpha-weighted checksum
    "q_png_palette" ->
      """WITH dims AS (
        |  SELECT doc_id, 7 + doc_id % 9 AS w, 5 + doc_id % 6 AS h,
        |    16 + doc_id % 17 AS p,
        |    CASE WHEN doc_id % 2 = 1 THEN (16 + doc_id % 17) // 2 ELSE 0 END AS t
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 16) t(x)),
        |ys AS (SELECT y FROM range(0, 11) t(y)),
        |px AS (
        |  SELECT doc_id, w, h, y * w + x AS pos,
        |    CASE WHEN j < t THEN (9 * doc_id + 17 * j) % 256 ELSE 255 END AS a,
        |    (3 * doc_id + 7 * j) % 256 AS r,
        |    (5 * doc_id + 11 * j) % 256 AS g,
        |    (7 * doc_id + 13 * j) % 256 AS b
        |  FROM (
        |    SELECT d.doc_id, d.w, d.h, d.t, xs.x, ys.y,
        |      (d.doc_id + 3 * xs.x + 5 * ys.y) % d.p AS j
        |    FROM dims d, xs, ys WHERE xs.x < d.w AND ys.y < d.h))
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  COUNT(*) AS n_px,
        |  CAST(SUM(a) AS BIGINT) AS a_sum, CAST(SUM(r) AS BIGINT) AS r_sum,
        |  CAST(SUM(g) AS BIGINT) AS g_sum, CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM((a * 8 + r * 4 + g * 2 + b) * (pos + 1)) AS BIGINT) AS pos_checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // both companding laws are closed-form integer maps, so the oracle
    // IS the ITU arithmetic: μ-law complement / A-law xor-0x55,
    // segment exponent as a CASE power-of-two, mantissa, bias — a
    // wrong sign convention, bias, or segment shift moves every sum
    "q_audio_g711" ->
      """WITH docs AS (
        |  SELECT doc_id, 48 + doc_id % 80 AS n FROM documents),
        |bytes AS (
        |  SELECT doc_id, n, r.i, (3 * doc_id + 7 * r.i) % 256 AS b
        |  FROM docs, range(0, 128) r(i) WHERE r.i < n),
        |mu AS (
        |  SELECT doc_id, n, i,
        |    CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END
        |    * ((((255 - b) % 16) * 8 + 132)
        |       * (CASE ((255 - b) // 16) % 8
        |          WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8
        |          WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END)
        |       - 132) AS v
        |  FROM bytes WHERE doc_id % 2 = 0),
        |al AS (
        |  SELECT doc_id, n, i,
        |    CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END
        |    * (CASE WHEN (xor(b, 85) // 16) % 8 = 0
        |        THEN (xor(b, 85) % 16) * 16 + 8
        |        ELSE ((xor(b, 85) % 16) * 16 + 264)
        |          * (CASE (xor(b, 85) // 16) % 8
        |             WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4 WHEN 4 THEN 8
        |             WHEN 5 THEN 16 WHEN 6 THEN 32 ELSE 64 END) END) AS v
        |  FROM bytes WHERE doc_id % 2 = 1),
        |s AS (SELECT * FROM mu UNION ALL SELECT * FROM al)
        |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  COUNT(*) AS n_samples,
        |  CAST(SUM(v) AS BIGINT) AS sample_sum,
        |  CAST(SUM(abs(v)) AS BIGINT) AS abs_sum,
        |  CAST(MAX(abs(v)) AS BIGINT) AS peak,
        |  CAST(SUM(v * (i + 1)) AS BIGINT) AS pos_checksum
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // derived-invariant oracle (lossy adaptive codec): sample count is
    // closed-form, and the Spark side computes block-head exactness +
    // the tolerance bound from the REAL decode — a table defect, a
    // nibble-order swap, or a block-header misread flips a boolean
    "q_audio_adpcm" ->
      """SELECT doc_id,
        |  CAST(9 * (2 + doc_id % 3) AS INTEGER) AS n_samples,
        |  true AS block_heads_exact, true AS within_tol
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every sample regenerated arithmetically per (doc, channel, pos):
    // square wave for fmt 0, the companding closed forms for μ/A-law —
    // the left join on position mirrors the Spark plan's cross term
    "q_audio_stereo" ->
      """WITH p AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    1 + doc_id % 2 AS ch, 40 + doc_id % 50 AS n, doc_id % 3 AS fmt
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, ch, fmt, c.c AS c, i.i AS pos
        |  FROM p, range(0, 2) c(c), range(0, 90) i(i)
        |  WHERE c.c < ch AND i.i < n),
        |withb AS (
        |  SELECT *, (3 * doc_id + 7 * pos + 89 * c) % 256 AS b FROM sc),
        |v AS (
        |  SELECT doc_id, ch, c, pos,
        |    CASE WHEN fmt = 0 THEN
        |      CASE WHEN ((pos // (3 + (doc_id + c) % 6)) % 2) = 0
        |        THEN 900 + (doc_id % 5) * 100 + 200 * c
        |        ELSE -(900 + (doc_id % 5) * 100 + 200 * c) END
        |    WHEN fmt = 1 THEN
        |      (CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END)
        |      * ((((255 - b) % 16) * 8 + 132)
        |         * (CASE ((255 - b) // 16) % 8
        |            WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8
        |            WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END)
        |         - 132)
        |    ELSE
        |      (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END)
        |      * (CASE WHEN (xor(b, 85) // 16) % 8 = 0
        |          THEN (xor(b, 85) % 16) * 16 + 8
        |          ELSE ((xor(b, 85) % 16) * 16 + 264)
        |            * (CASE (xor(b, 85) // 16) % 8
        |               WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4 WHEN 4 THEN 8
        |               WHEN 5 THEN 16 WHEN 6 THEN 32 ELSE 64 END) END)
        |    END AS val
        |  FROM withb),
        |lr AS (
        |  SELECT a.doc_id, a.ch, a.pos, a.val AS v0, COALESCE(b.val, 0) AS v1
        |  FROM (SELECT * FROM v WHERE c = 0) a
        |  LEFT JOIN (SELECT * FROM v WHERE c = 1) b
        |    ON a.doc_id = b.doc_id AND a.pos = b.pos)
        |SELECT doc_id, CAST(ch AS BIGINT) AS n_channels,
        |  COUNT(*) AS n_samples,
        |  CAST(SUM(v0 * v0) AS BIGINT) AS energy_l,
        |  CAST(MAX(abs(v0)) AS BIGINT) AS peak_l,
        |  CAST(SUM(v1 * v1) AS BIGINT) AS energy_r,
        |  CAST(MAX(abs(v1)) AS BIGINT) AS peak_r,
        |  CAST(SUM(v0 * v1) AS BIGINT) AS xcorr
        |FROM lr GROUP BY doc_id, ch ORDER BY doc_id""".stripMargin,

    // block-constant luma keeps the lossy JPEG pipeline exact per
    // frame, so the oracle recomputes every pixel of every frame from
    // the block rule — a frame-order or container-walk defect moves
    // the (pos+1)(f+1) checksum
    "q_mjpeg_frames" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 * (1 + doc_id % 2) AS w, 16 AS h,
        |    2 + doc_id % 3 AS nf
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 32) t(x)),
        |ys AS (SELECT y FROM range(0, 16) t(y)),
        |fs AS (SELECT f FROM range(0, 4) t(f)),
        |px AS (
        |  SELECT doc_id, w, h, nf, f, y * w + x AS pos,
        |    (7 * doc_id + 11 * (x // 8) + 13 * (y // 8) + 17 * f) % 256 AS v
        |  FROM dims, xs, ys, fs
        |  WHERE xs.x < w AND ys.y < h AND fs.f < nf)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(nf AS INTEGER) AS n_frames, COUNT(*) AS n_px,
        |  CAST(SUM(v) AS BIGINT) AS lum_sum,
        |  CAST(SUM(v * (pos + 1) * (f + 1)) AS BIGINT) AS pos_checksum
        |FROM px GROUP BY doc_id, w, h, nf ORDER BY doc_id""".stripMargin,

    // lossless codecs + closed-form pixels ⇒ fully arithmetic oracle:
    // gray pages expand r = g = b, RGB pages expose three channel
    // rules — an LZW early-change desync, a PackBits run/literal
    // confusion, a strip-boundary error, or a byte-order misread all
    // shift the sums or the (pos+1)(page+1)-weighted checksum
    "q_tiff_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 7 + doc_id % 10 AS w, 5 + doc_id % 6 AS h,
        |    1 + doc_id % 2 AS np
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 17) t(x)),
        |ys AS (SELECT y FROM range(0, 11) t(y)),
        |gs AS (SELECT g FROM range(0, 2) t(g)),
        |px AS (
        |  SELECT doc_id, w, h, np, g, y * w + x AS pos,
        |    CASE WHEN (doc_id + g) % 2 = 0
        |         THEN (3 * doc_id + 5 * x + 7 * y + 11 * g) % 256
        |         ELSE (5 * doc_id + 3 * x + 7 * y + g) % 256 END AS r,
        |    CASE WHEN (doc_id + g) % 2 = 0
        |         THEN (3 * doc_id + 5 * x + 7 * y + 11 * g) % 256
        |         ELSE (7 * doc_id + 5 * x + 11 * y + 3 * g) % 256 END AS gc,
        |    CASE WHEN (doc_id + g) % 2 = 0
        |         THEN (3 * doc_id + 5 * x + 7 * y + 11 * g) % 256
        |         ELSE (11 * doc_id + 7 * x + 13 * y + 5 * g) % 256 END AS b
        |  FROM dims, xs, ys, gs
        |  WHERE xs.x < w AND ys.y < h AND gs.g < np)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(np AS INTEGER) AS n_pages, COUNT(*) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(gc) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM((r * 4 + gc * 2 + b) * (pos + 1) * (g + 1)) AS BIGINT)
        |    AS pos_checksum
        |FROM px GROUP BY doc_id, w, h, np ORDER BY doc_id""".stripMargin,

    // lossless at every depth ⇒ fully arithmetic oracle: the 16-bit
    // variants reduce to their 8-bit generators exactly (samples are
    // g·257, high byte = g), gray-alpha exposes its alpha rule, and
    // the sub-byte variant recomputes the packed value's display
    // scaling v·255/(2^d−1) — a bit-unpacking defect, a 16-bit stride
    // error, or an alpha/gray channel swap all shift the sums
    "q_png_depth" ->
      """WITH dims AS (
        |  SELECT doc_id, 5 + doc_id % 12 AS w, 4 + doc_id % 8 AS h,
        |    doc_id % 4 AS variant,
        |    CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END AS m
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 17) t(x)),
        |ys AS (SELECT y FROM range(0, 12) t(y)),
        |px AS (
        |  SELECT doc_id, w, h, y * w + x AS pos,
        |    CASE WHEN variant = 2 THEN (5 * doc_id + 3 * x + 11 * y) % 256
        |         ELSE 255 END AS a,
        |    CASE variant
        |      WHEN 0 THEN (3 * doc_id + 5 * x + 7 * y) % 256
        |      WHEN 1 THEN (5 * doc_id + 3 * x + 7 * y) % 256
        |      WHEN 2 THEN (3 * doc_id + 5 * x + 7 * y) % 256
        |      ELSE ((doc_id + x + y) % m) * 255 // (m - 1) END AS r,
        |    CASE variant
        |      WHEN 0 THEN (3 * doc_id + 5 * x + 7 * y) % 256
        |      WHEN 1 THEN (7 * doc_id + 5 * x + 11 * y) % 256
        |      WHEN 2 THEN (3 * doc_id + 5 * x + 7 * y) % 256
        |      ELSE ((doc_id + x + y) % m) * 255 // (m - 1) END AS g,
        |    CASE variant
        |      WHEN 0 THEN (3 * doc_id + 5 * x + 7 * y) % 256
        |      WHEN 1 THEN (11 * doc_id + 7 * x + 13 * y) % 256
        |      WHEN 2 THEN (3 * doc_id + 5 * x + 7 * y) % 256
        |      ELSE ((doc_id + x + y) % m) * 255 // (m - 1) END AS b
        |  FROM dims, xs, ys WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  COUNT(*) AS n_px,
        |  CAST(SUM(a) AS BIGINT) AS a_sum, CAST(SUM(r) AS BIGINT) AS r_sum,
        |  CAST(SUM(g) AS BIGINT) AS g_sum, CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM((a * 8 + r * 4 + g * 2 + b) * (pos + 1)) AS BIGINT) AS pos_checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // lossless LZW + closed-form palette ⇒ fully arithmetic oracle:
    // the decoded ARGB of frame f pixel (x, y) is the palette rule at
    // index (id + 3x + 5y + 7f) mod P, transparent (all-zero) where
    // that index equals id mod P on odd ids — an LZW width-bump
    // defect, an interlace-pass misplacement, a frame-compositing
    // error, or a transparency off-by-one all shift a channel sum or
    // the (pos+1)(f+1)-weighted checksum
    "q_gif_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 6 + doc_id % 11 AS w, 4 + doc_id % 7 AS h,
        |    8 + doc_id % 9 AS p, 1 + doc_id % 3 AS nf,
        |    CASE WHEN doc_id % 2 = 1 THEN doc_id % (8 + doc_id % 9)
        |         ELSE -1 END AS t
        |  FROM documents),
        |xs AS (SELECT x FROM range(0, 17) t(x)),
        |ys AS (SELECT y FROM range(0, 11) t(y)),
        |fs AS (SELECT f FROM range(0, 3) t(f)),
        |px AS (
        |  SELECT doc_id, w, h, nf, f, y * w + x AS pos,
        |    CASE WHEN j = t THEN 0 ELSE 255 END AS a,
        |    CASE WHEN j = t THEN 0 ELSE (5 * doc_id + 3 * j) % 256 END AS r,
        |    CASE WHEN j = t THEN 0 ELSE (7 * doc_id + 5 * j) % 256 END AS g,
        |    CASE WHEN j = t THEN 0 ELSE (11 * doc_id + 7 * j) % 256 END AS b
        |  FROM (
        |    SELECT d.doc_id, d.w, d.h, d.nf, d.t, xs.x, ys.y, fs.f,
        |      (d.doc_id + 3 * xs.x + 5 * ys.y + 7 * fs.f) % d.p AS j
        |    FROM dims d, xs, ys, fs
        |    WHERE xs.x < d.w AND ys.y < d.h AND fs.f < d.nf))
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(nf AS INTEGER) AS n_frames, COUNT(*) AS n_px,
        |  CAST(SUM(a) AS BIGINT) AS a_sum, CAST(SUM(r) AS BIGINT) AS r_sum,
        |  CAST(SUM(g) AS BIGINT) AS g_sum, CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM((a * 8 + r * 4 + g * 2 + b) * (pos + 1) * (f + 1)) AS BIGINT)
        |    AS pos_checksum
        |FROM px GROUP BY doc_id, w, h, nf ORDER BY doc_id""".stripMargin,

    // derived-invariant oracle (lossy multi-scan values aren't
    // SQL-recomputable): dims + pixel count are arithmetic, and the
    // Spark side computes sof2/within_tol from the REAL progressive
    // payload — a scan-accumulation bug flips within_tol to false and
    // hash-mismatches here
    "q_jpeg_progressive" ->
      """SELECT doc_id,
        |  CAST(16 * (1 + doc_id % 3) AS INTEGER) AS width,
        |  CAST(16 * (1 + doc_id % 2) AS INTEGER) AS height,
        |  CAST(16 * (1 + doc_id % 3) AS BIGINT)
        |    * CAST(16 * (1 + doc_id % 2) AS BIGINT) AS n_px,
        |  true AS sof2, true AS within_tol
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sq_codes" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(d AS BIGINT) AS dim,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d
        |        FROM embeddings)),
        |r AS (
        |  SELECT dim, CAST(MIN(qv) AS BIGINT) AS minq, CAST(MAX(qv) AS BIGINT) AS maxq
        |  FROM dims GROUP BY dim),
        |coded AS (
        |  SELECT dims.dim, r.minq, r.maxq, dims.qv,
        |    CASE WHEN r.maxq = r.minq THEN 0
        |         ELSE (dims.qv - r.minq) * 255 // (r.maxq - r.minq) END AS code
        |  FROM dims JOIN r ON dims.dim = r.dim),
        |e AS (
        |  SELECT dim, minq, maxq, qv,
        |    minq + code * (maxq - minq) // 255 AS deq
        |  FROM coded)
        |SELECT dim, COUNT(*) AS n, MAX(minq) AS minq, MAX(maxq) AS maxq,
        |  CAST(SUM(abs(qv - deq)) AS BIGINT) AS sum_abs_err,
        |  CAST(MAX(abs(qv - deq)) AS BIGINT) AS max_abs_err,
        |  CAST(SUM(abs(qv - deq)) AS BIGINT) // COUNT(*) AS mean_abs_err
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin,

    "q_knn_classify" ->
      """WITH dims AS (
        |  SELECT vec_id, label, d AS dim,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d
        |        FROM embeddings)),
        |probes AS (
        |  SELECT vec_id AS qid, label AS qlab, dim AS qdim, qv AS qqv
        |  FROM dims WHERE vec_id < 5),
        |dist AS (
        |  SELECT p.qid, p.qlab, d.vec_id, d.label,
        |    SUM((d.qv - p.qqv) * (d.qv - p.qqv)) AS dist2
        |  FROM dims d JOIN probes p ON d.dim = p.qdim
        |  WHERE d.vec_id <> p.qid
        |  GROUP BY 1, 2, 3, 4),
        |topk AS (
        |  SELECT qid, qlab, label FROM (
        |    SELECT qid, qlab, label,
        |      row_number() OVER (PARTITION BY qid ORDER BY dist2 ASC, vec_id ASC) AS rk
        |    FROM dist) WHERE rk <= 3),
        |votes AS (
        |  SELECT qid, qlab, label, COUNT(*) AS n_votes FROM topk GROUP BY 1, 2, 3),
        |win AS (
        |  SELECT qid, qlab, label, n_votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label ASC) AS vr
        |  FROM votes)
        |SELECT qid, CAST(qlab AS BIGINT) AS true_label,
        |  CAST(label AS BIGINT) AS pred_label, n_votes,
        |  qlab = label AS hit
        |FROM win WHERE vr = 1 ORDER BY qid""".stripMargin,

    "q_maxsim" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(d - 1 AS BIGINT) AS pos,
        |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          generate_subscripts(embedding, 1) AS d FROM embeddings)),
        |dd AS (SELECT vec_id, pos // 16 AS m, pos % 16 AS r, qv FROM dims),
        |probes AS (
        |  SELECT vec_id AS qid, m AS mq, r, qv AS qqv FROM dd WHERE vec_id < 3),
        |pd AS (
        |  SELECT p.qid, e.vec_id, p.mq, e.m AS md,
        |    CAST(SUM(e.qv * p.qqv) AS BIGINT) AS dot_u2
        |  FROM dd e JOIN probes p ON e.r = p.r AND e.vec_id <> p.qid
        |  GROUP BY 1, 2, 3, 4),
        |mx AS (SELECT qid, vec_id, mq, CAST(MAX(dot_u2) AS BIGINT) AS best
        |       FROM pd GROUP BY 1, 2, 3),
        |sc AS (SELECT qid, vec_id, CAST(SUM(best) AS BIGINT) AS maxsim_micro2
        |       FROM mx GROUP BY 1, 2)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS vid, maxsim_micro2
        |FROM (SELECT qid, vec_id, maxsim_micro2,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY maxsim_micro2 DESC, vec_id ASC)
        |          AS rank
        |      FROM sc)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q_coreset_kcenter" -> coresetOracle,

    "q_residual_quantize" -> (kmeansCte +
      """,
        |res AS (
        |  SELECT dims.vec_id, a2.cluster, dims.dim, dims.qv - c1.cval AS r
        |  FROM dims JOIN a2 ON a2.vec_id = dims.vec_id
        |  JOIN c1 ON c1.j = a2.cluster AND c1.dim = dims.dim),
        |rng AS (SELECT dim, CAST(MIN(r) AS BIGINT) AS minr,
        |          CAST(MAX(r) AS BIGINT) AS maxr
        |        FROM res GROUP BY 1),
        |coded AS (
        |  SELECT res.vec_id, res.cluster, res.r, rng.minr, rng.maxr,
        |    CASE WHEN rng.maxr = rng.minr THEN 0
        |         ELSE (res.r - rng.minr) * 255 // (rng.maxr - rng.minr)
        |    END AS code
        |  FROM res JOIN rng ON rng.dim = res.dim),
        |e2 AS (
        |  SELECT vec_id, cluster,
        |    CAST(SUM((r - (minr + code * (maxr - minr) // 255))
        |           * (r - (minr + code * (maxr - minr) // 255))) AS BIGINT) AS e2
        |  FROM coded GROUP BY 1, 2),
        |e1 AS (
        |  SELECT a2d.vec_id, CAST(a2d.dist2 AS BIGINT) AS e1
        |  FROM a2d JOIN a2 ON a2.vec_id = a2d.vec_id AND a2.cluster = a2d.j),
        |g AS (
        |  SELECT e2.cluster, COUNT(*) AS n_vecs,
        |    CAST(SUM(e1.e1) AS BIGINT) // COUNT(*) AS mean_e1_micro2,
        |    CAST(SUM(e2.e2) AS BIGINT) // COUNT(*) AS mean_e2_micro2
        |  FROM e2 JOIN e1 ON e1.vec_id = e2.vec_id GROUP BY 1)
        |SELECT cluster, n_vecs, mean_e1_micro2, mean_e2_micro2,
        |  CASE WHEN mean_e1_micro2 = 0 THEN NULL
        |       ELSE (mean_e1_micro2 - mean_e2_micro2) * 1000
        |         // mean_e1_micro2 END AS recovered_milli
        |FROM g ORDER BY cluster""".stripMargin),

    "q_hubness" -> (kmeansCte +
      """,
        |own AS (SELECT a2d.vec_id, a2d.j AS cluster,
        |          CAST(a2d.dist2 AS BIGINT) AS dist2
        |        FROM a2d JOIN a2 ON a2.vec_id = a2d.vec_id
        |          AND a2.cluster = a2d.j),
        |win AS (SELECT cluster, vec_id FROM (
        |          SELECT cluster, vec_id,
        |            ROW_NUMBER() OVER (PARTITION BY cluster
        |                               ORDER BY dist2, vec_id) AS rnk
        |          FROM own) WHERE rnk <= 64),
        |qv AS (SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |       FROM embeddings),
        |pairs AS (
        |  SELECT a.cluster, a.vec_id AS va, b.vec_id AS vb,
        |    (SELECT CAST(SUM((qa.q[g.i] - qb.q[g.i]) * (qa.q[g.i] - qb.q[g.i]))
        |       AS BIGINT) FROM generate_series(1, 64) g(i)) AS pd2
        |  FROM win a JOIN win b
        |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
        |  JOIN qv qa ON qa.vec_id = a.vec_id
        |  JOIN qv qb ON qb.vec_id = b.vec_id),
        |top3 AS (SELECT cluster, va, vb FROM (
        |           SELECT cluster, va, vb,
        |             ROW_NUMBER() OVER (PARTITION BY cluster, va
        |                                ORDER BY pd2 ASC, vb ASC) AS rk
        |           FROM pairs) WHERE rk <= 3),
        |ko AS (
        |  SELECT w.vec_id,
        |    CAST(COALESCE(o.k_occ, 0) AS BIGINT) AS k_occ
        |  FROM win w LEFT JOIN (
        |    SELECT vb AS vec_id, COUNT(*) AS k_occ FROM top3 GROUP BY vb) o
        |    ON o.vec_id = w.vec_id)
        |SELECT k_occ, COUNT(*) AS n_vectors
        |FROM ko GROUP BY k_occ ORDER BY k_occ""".stripMargin))

  /** 4 unrolled farthest-point rounds — lockstep with the Spark loop
    * above (same seed, same exact-bigint L2², same (dist² desc, id
    * asc) argmax; the rank-0 row derives from comp1 so the degenerate
    * no-vec-0 input stays empty on both engines). */
  private lazy val coresetOracle: String = {
    val rounds = (1 to 4).map { r =>
      val base =
        s"""dc$r AS (
           |  SELECT e.vec_id, c.cid,
           |    CAST(SUM((e.qv - c.cqv) * (e.qv - c.cqv)) AS BIGINT) AS d2
           |  FROM dims e JOIN comp$r c ON c.cpos = e.pos GROUP BY 1, 2),
           |mind$r AS (SELECT vec_id, CAST(MIN(d2) AS BIGINT) AS mind2
           |           FROM dc$r GROUP BY 1),
           |next$r AS (SELECT vec_id, mind2 FROM mind$r
           |           ORDER BY mind2 DESC, vec_id ASC LIMIT 1)""".stripMargin
      val ext = if (r < 4)
        s""",
           |comp${r + 1} AS (
           |  SELECT c.cid, c.cpos, c.cqv FROM comp$r c
           |  UNION ALL
           |  SELECT d.vec_id, d.pos, d.qv
           |  FROM dims d JOIN next$r n ON n.vec_id = d.vec_id)""".stripMargin
      else ""
      base + ext
    }.mkString(",\n")
    s"""WITH dims AS (
       |  SELECT vec_id, CAST(d - 1 AS BIGINT) AS pos,
       |    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS qv
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |          generate_subscripts(embedding, 1) AS d FROM embeddings)),
       |comp1 AS (SELECT vec_id AS cid, pos AS cpos, qv AS cqv
       |          FROM dims WHERE vec_id = 0),
       |$rounds
       |SELECT * FROM (
       |  SELECT DISTINCT CAST(0 AS BIGINT) AS rank, cid AS vec_id,
       |    CAST(0 AS BIGINT) AS dist2_micro2, TRUE AS is_center
       |  FROM comp1
       |  UNION ALL SELECT 1, vec_id, mind2, TRUE FROM next1
       |  UNION ALL SELECT 2, vec_id, mind2, TRUE FROM next2
       |  UNION ALL SELECT 3, vec_id, mind2, TRUE FROM next3
       |  UNION ALL SELECT 4, vec_id, mind2, FALSE FROM next4)
       |ORDER BY rank""".stripMargin
  }

  /** The q_hll_distinct register-rebuild estimator as a scalar
    * subquery over a CTE named `src` holding DISTINCT h60 hashes —
    * identical constants/corrections to functions.HllSketch. */
  private def hllEstSql(src: String): String =
    s"""(WITH rk AS (
       |  SELECT CAST(h60 // 281474976710656 AS INTEGER) AS idx,
       |    CASE WHEN h60 % 281474976710656 = 0 THEN 49
       |         ELSE 49 - length(bin(h60 % 281474976710656)) END AS rank
       |  FROM $src),
       |reg AS (SELECT idx, MAX(rank) AS rg FROM rk GROUP BY idx),
       |s AS (SELECT SUM(POWER(2.0, -rg)) AS sm, COUNT(*) AS nreg FROM reg),
       |est AS (
       |  SELECT (0.7213 / (1 + 1.079/4096)) * 4096 * 4096 / (sm + (4096 - nreg)) AS e,
       |    4096 - nreg AS zeros
       |  FROM s)
       |SELECT CAST(ROUND(CASE WHEN e <= 2.5 * 4096 AND zeros > 0
       |       THEN 4096 * ln(4096.0 / zeros) ELSE e END) AS BIGINT) FROM est)""".stripMargin

  private lazy val ivfTopkOracle: String =
    """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v,
      |    sqrt((SELECT SUM(v[g.i] * v[g.i]) FROM generate_series(1, 64) g(i))) AS nv
      |  FROM emb),
      |cents AS (SELECT vec_id AS cid, v AS cv, nv AS nc FROM n WHERE vec_id < 8),
      |sims AS (
      |  SELECT n.vec_id, c.cid,
      |    (SELECT SUM(n.v[g.i] * c.cv[g.i]) FROM generate_series(1, 64) g(i))
      |      / (n.nv * c.nc) AS sim
      |  FROM n, cents c),
      |assign AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
      |    FROM sims)
      |  WHERE rn = 1),
      |qs AS (
      |  SELECT a.vec_id AS qid, a.cell, n.v AS qv, n.nv AS nq
      |  FROM assign a JOIN n ON a.vec_id = n.vec_id WHERE a.vec_id < 5),
      |scored AS (
      |  SELECT q.qid, n.vec_id AS vid,
      |    (SELECT SUM(q.qv[g.i] * n.v[g.i]) FROM generate_series(1, 64) g(i))
      |      / (q.nq * n.nv) AS score
      |  FROM qs q JOIN assign a ON a.cell = q.cell JOIN n ON n.vec_id = a.vec_id
      |  WHERE a.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, vid, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid ASC) AS rank
      |  FROM scored)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vid, ROUND(score, 6) AS cosine
      |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  private lazy val embedCovOracle: String =
    """WITH base AS (
      |  SELECT CAST(i.i AS BIGINT) AS i, CAST(j.j AS BIGINT) AS j,
      |    CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS vi,
      |    CAST(ROUND(CAST(embedding[j.j + 1] AS DOUBLE) * 1000) AS BIGINT) AS vj
      |  FROM embeddings
      |  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i) i
      |  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS j) j
      |  WHERE i.i <= j.j)
      |SELECT i, j, COUNT(*) AS n,
      |  (COUNT(*) * CAST(SUM(vi * vj) AS BIGINT)
      |    - CAST(SUM(vi) AS BIGINT) * CAST(SUM(vj) AS BIGINT))
      |    // COUNT(*) // COUNT(*) AS cov_milli2
      |FROM base GROUP BY i, j
      |ORDER BY i, j""".stripMargin

  /** 6 unrolled power-iteration rounds over the embed_cov aggregate —
    * lockstep with the Spark loop (same ×1000 init, same integral
    * renormalization to max|x| = 1000, same truncating division). */
  private lazy val pcaPowerOracle: String = {
    val rounds = (1 to 6).map { r =>
      s"""w$r AS (SELECT m.i, CAST(SUM(m.c * v.x) AS BIGINT) AS w
         |        FROM m JOIN v${r - 1} v ON v.d = m.j GROUP BY m.i),
         |v$r AS (SELECT i AS d,
         |          w * 1000 // (SELECT GREATEST(MAX(ABS(w)), 1) FROM w$r) AS x
         |        FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH cov AS ($embedCovOracle),
       |m AS (SELECT i, j, cov_milli2 AS c FROM cov
       |      UNION ALL
       |      SELECT j, i, cov_milli2 FROM cov WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS d, CAST(1000 AS BIGINT) AS x FROM m),
       |$rounds,
       |w7 AS (SELECT m.i, CAST(SUM(m.c * v.x) AS BIGINT) AS w
       |       FROM m JOIN v6 v ON v.d = m.j GROUP BY m.i),
       |lam AS (SELECT CASE WHEN CAST(SUM(v.x * v.x) AS BIGINT) = 0 THEN NULL
       |          ELSE CAST(SUM(v.x * w.w) AS BIGINT)
       |            // CAST(SUM(v.x * v.x) AS BIGINT) END AS lambda_milli2
       |        FROM w7 w JOIN v6 v ON v.d = w.i)
       |SELECT v.d AS dim, v.x AS eig_milli, lam.lambda_milli2
       |FROM v6 v CROSS JOIN lam ORDER BY dim""".stripMargin
  }

  private lazy val cosineTopkOracle: String =
    """WITH emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, e.vec_id AS vid,
      |    (SELECT SUM(q.qv[g.i] * e.v[g.i]) FROM generate_series(1, 64) g(i))
      |    / (sqrt((SELECT SUM(q.qv[g.i] * q.qv[g.i]) FROM generate_series(1, 64) g(i)))
      |       * sqrt((SELECT SUM(e.v[g.i] * e.v[g.i]) FROM generate_series(1, 64) g(i)))) AS score
      |  FROM emb e, q WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, vid, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid ASC) AS rank
      |  FROM scored)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, vid, ROUND(score, 6) AS cosine
      |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
}
