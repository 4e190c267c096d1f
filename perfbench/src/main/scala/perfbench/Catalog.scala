package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The catalog query populations of the `relational` and `dedup_search`
  * workloads, the subset each run times, and the result values recorded
  * for every query (expected.tsv, one line per query and scale factor). */
object Catalog {
  private val tpch = (1 to 22).map(i => s"q_tpch_q$i")
  private val snapshot = Seq("timetravel", "changes", "merge", "delete", "update", "diff",
    "dv", "mor", "colmap", "optimize", "widen", "logstore", "partition", "defaults",
    "stats").map("q_snapshot_" + _)

  /** The job-floor-bound relational population (44 queries). */
  val relational: Seq[String] = tpch ++ snapshot ++ Seq("q_scd_load", "q_scd_change_detect",
    "q_anti_join_packs", "q_cross_join_packs", "q_convert_speed", "q_kcore", "q_khop_reach")

  /** The dedup / near-dup / similarity-search population (41 queries). */
  val dedupSearch: Seq[String] = Seq(
    "q_dedup_winnow", "q_dedup_exact", "q_dedup_fuzzy", "q_dedup_threshold_sweep",
    "q_dedup_audit_queue", "q_dedup_incremental", "q_dedup_multisignal", "q_dedup_clusters",
    "q_dedup_cluster_sizes", "q_dedup_density", "q_dedup_savings", "q_dedup_best_quality",
    "q_dedup_rate", "q_dedup_survivors", "q_dedup_modularity", "q_passage_dedup", "q_semdedup",
    "q_minhash_lsh", "q_minhash_est", "q_lsh_tuning", "q_lsh_recall", "q_simhash",
    "q_simhash_eval", "q_shingle_jaccard", "q_winnow_fingerprint", "q_fuzzy_match",
    "q_cosine_topk", "q_ivf_topk", "q_ivfpq_topk", "q_ivfpq_recall", "q_ann_buckets",
    "q_ann_recall", "q_embed_near_dup", "q_image_near_dup", "q_tfidf_cosine", "q_knn_classify",
    "q_setsim_prefix", "q_maxsim", "q_mmr_rerank", "q_cross_source_dup", "q_hubness")

  /** The queries one pass runs, in this order. A pass over either whole
    * population takes over a minute on 4 cores, longer than a run may
    * last, so the pass covers a fixed subset of each that keeps the
    * families it was chosen for (see README.md). The order is fixed: in a
    * short-lived JVM each query's time depends on what ran before it. */
  val timed: Seq[String] = Seq(
    "q_tpch_q3", "q_semdedup", "q_snapshot_update", "q_cosine_topk", "q_anti_join_packs",
    "q_dedup_exact", "q_tpch_q6")

  /** Run once, untimed, in set-up: it takes the session's first-query
    * start-up and is not in the timed passes. */
  val warmup = "q_tpch_q12"

  /** Latency (s) of each timed query on the reference host (median of five
    * quiet runs); the normaliser of `op_rel.*`, so that every query weighs
    * the same. */
  val referenceS: Map[String, Double] = Map(
    "q_tpch_q3" -> 3.9, "q_semdedup" -> 9.0, "q_snapshot_update" -> 3.15, "q_cosine_topk" -> 1.37,
    "q_anti_join_packs" -> 0.86, "q_dedup_exact" -> 1.44, "q_tpch_q6" -> 0.7)

  /** Which repo layer builds a query's DataFrame. */
  def layerOf(q: String): String =
    if (graft.analytics.RefQueries.queries.contains(q) || graft.analytics.RelQueries.queries.contains(q))
      "analytics" else "operators"

  def build(spark: SparkSession, q: String, sfDir: String): DataFrame =
    graft.SparkEntry.queries(q)(spark, sfDir)

  final case class Expect(rows: Long, digest: Long)

  /** expected.tsv: `query  sf  rows  digest`. */
  def loadExpected(path: java.nio.file.Path): Map[(String, String), Expect] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => (a(0), a(1)) -> Expect(a(2).toLong, a(3).toLong))
      .toMap
  }
}
