package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables._

/** Graph-shaped dedup clustering (SURVEY.md §2.12 E3's follow-on stage):
  * LSH gives candidate PAIRS; a production dedup pipeline then needs the
  * transitive closure — connected components — so each near-dup CLUSTER
  * keeps exactly one survivor (pairwise dedup alone can drop both B and C
  * of an A~B, B~C chain, or keep duplicates A and C that never paired).
  *
  * Two physical strategies, chosen by a structural property of the
  * edge set:
  *
  *  - [[blockedComponents]] — dedup edges are produced WITHIN a blocking
  *    key (Jaccard verify is per `source`; LSH pairs per band bucket),
  *    so components can't cross blocks and CC is ONE shuffle + a local
  *    union-find per block. The catalog queries use this.
  *  - [[connectedComponents]] — the general iterative min-label
  *    propagation for graphs whose edges cross any blocking. Each round
  *    is one join + one aggregation shuffling on the node id — no
  *    driver-side graph state, no adjacency collected. Rounds needed =
  *    the graph diameter (near-dup clusters are shallow, so a handful);
  *    the convergence test is a 1-row aggregate (labels only ever
  *    decrease, so an unchanged count+hash signature == fixpoint — no
  *    join to diff generations). For adversarial diameters,
  *    [[starComponents]] (alternating large-star/small-star) drops
  *    rounds to O(log n) with the same per-round dataflow shape.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** Connected components over an undirected edge list.
    *
    * @param nodes single LONG column `node` (isolated nodes keep their
    *              own id as the component)
    * @param edges columns `src`, `dst` (LONG); direction ignored
    * @return (node, comp) where comp = min node id in the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // overflow-free fixpoint probe: labels only ever decrease, so the
    // (node, comp) set is unchanged iff its order-independent signature
    // is — count + XOR of row hashes, same recipe as starComponents (a
    // SUM over LongType comp ids overflows at large node-id scales — a
    // crash under ANSI sessions, a silent wrap otherwise)
    def signature(df: DataFrame): Seq[Any] =
      df.agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(col("node"), col("comp"))), lit(0L)))
        .head().toSeq

    // localCheckpoint each generation: persist alone caches DATA but the
    // logical plan still nests one union+join+agg per round — plan size
    // (and every explain/AQE re-plan) grows exponentially with rounds.
    // Checkpointing truncates lineage to the materialized RDD, keeping
    // round N's plan constant-size. (On a cluster with executor loss in
    // scope, use reliable `checkpoint` to the checkpoint dir instead.)
    var labels = nodes.select(col("node"), col("node").as("comp"))
      .localCheckpoint()
    var labelSig = signature(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("node"))
        .select(sym("dst").as("node"), col("comp"))
      val next = labels.select("node", "comp").union(prop)
        .groupBy("node").agg(min("comp").as("comp"))
        .localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == labelSig
      labels = next
      labelSig = nextSig
      i += 1
    }
    sym.unpersist()
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds " +
        "(pathological diameter — use starComponents)")
    labels
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the adversarial-diameter path that
    * [[connectedComponents]]'s Scaladoc promises: min-label
    * propagation needs diameter-many rounds (a 10⁶-node path graph
    * needs 10⁶ rounds), star contraction converges in O(log n) because
    * each round rewires whole neighborhoods at their minimum, halving
    * tree heights instead of walking them.
    *
    * Per round, each step is one aggregation + one join shuffling on
    * the node id — the same dataflow shape as a min-label round, no
    * driver-side graph state, edge set monotonically contracts toward
    * one star per component:
    *  - large-star: every node's strictly-LARGER neighbors rewire to
    *    the minimum of its neighborhood (incl. itself);
    *  - small-star: with edges parent-oriented (big → small), every
    *    node's smaller neighbors (and itself) rewire to its minimum
    *    neighbor.
    * Fixpoint = the edge set is stable. Stability is detected with ONE
    * 1-row aggregate per round
    * — (count, XOR of xxhash64(u,v)) — rather than a set-equality
    * join: the signature is order-independent over the distinct edge
    * set and overflow-free, a colliding non-equal set would need a
    * 64-bit hash coincidence, and a false convergence would surface
    * immediately in the oracle-gated output (the alternative
    * except()-join costs a shuffle per round and dominated the
    * runtime).
    *
    * @param nodes single LONG column `node` (isolated nodes keep their
    *              own id as the component)
    * @param edges columns `src`, `dst` (LONG); direction ignored
    * @return (node, comp), comp = min node id in the component
    */
  def starComponents(nodes: DataFrame, edges: DataFrame,
                     maxIter: Int = 50): DataFrame = {
    // orient big → small, drop self loops; localCheckpoint per round
    // keeps the plan constant-size (see connectedComponents)
    // overflow-free order-independent set signature: XOR of row hashes
    // (a SUM of uniform 64-bit hashes overflows LongType — a crash
    // under ANSI sessions)
    def signature(df: DataFrame): Seq[Any] =
      df.agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)))
        .head().toSeq
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    var eSig = signature(e)
    var converged = eSig.head == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR over the symmetric view: m(u) = min(N(u) ∪ {u});
      // emit (v, m(u)) for neighbors v > u — every emitted edge keeps
      // the big → small orientation
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMins = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = sym.join(lsMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // SMALL-STAR on parent-oriented edges: all neighbors are < u, so
      // m(u) = min neighbor; rewire them (and u) to m(u)
      val ssMins = ls.groupBy("u").agg(min(col("v")).as("m"))
      val withM = ls.join(ssMins, "u")
      val next = withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct().localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == eSig
      e = next
      eSig = nextSig
      i += 1
    }
    require(converged,
      s"starComponents did not converge within $maxIter rounds")
    // at fixpoint every edge is (node, component-min); min() per node
    // is a safety net, not a correctness requirement
    val parents = e.groupBy("u").agg(min(col("v")).as("comp"))
    nodes.select(col("node"))
      .join(parents, col("node") === col("u"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
  }

  /** General connected components with a size-gated endgame — the
    * production layering for dedup graphs:
    *  - a SMALL edge set (it fits one task — the normal outcome after
    *    per-signal contraction, since the contracted graph has one
    *    node per component, not per row) solves in ONE shuffle as a
    *    single-block local union-find; every round of a distributed
    *    iteration would cost more than the whole solve;
    *  - a LARGE edge set falls through to [[starComponents]]'
    *    O(log n)-round star contraction.
    * Same contract as starComponents: (node, comp), isolated nodes
    * keep their own id.
    */
  def generalComponents(nodes: DataFrame, edges: DataFrame,
                        maxSingleTaskEdges: Long = 5000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    if (e.count() <= maxSingleTaskEdges) {
      val labels = blockedComponents(
        e.select(lit("all").as("block"), col("src"), col("dst")))
      nodes.select(col("node"))
        .join(labels, Seq("node"), "left")
        .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
    } else starComponents(nodes, e)
  }

  /** Connected components when every edge lives WITHIN a blocking key:
    * components cannot cross blocks, so the whole computation is ONE
    * shuffle (group edges by block) + a local union-find per block — no
    * iteration, no lineage growth, no convergence actions. This is the
    * right CC for dedup graphs specifically, because the verify stage
    * that produces the edges is blocked by construction (Jaccard pairs
    * are computed within `source`; LSH pairs within a band bucket).
    *
    * At 100 TB the per-block state is one long per NODE IN THAT BLOCK
    * (not per corpus) — blocks are the dedup unit and fit an executor
    * by the same argument that made the pair join feasible. For graphs
    * whose edges genuinely cross blocks, use [[connectedComponents]].
    *
    * @param edges (block: String, src: Long, dst: Long)
    * @return (node, comp) for every node that appears in an edge;
    *         comp = min node id in the component. Isolated nodes don't
    *         appear (join back with a coalesce default, as the catalog
    *         queries do).
    */
  def blockedComponents(edges: DataFrame): DataFrame = {
    // explicit encoders (no TypeTag reflection — REPL/classloader safe)
    val inEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    edges.select(col("block"), col("src"), col("dst"))
      .as[(String, Long, Long)](inEnc)
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroups { (_: String, it: Iterator[(String, Long, Long)]) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (_, a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          // min root so the final label is the component's min node id
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.iterator.map(n => (n, find(n)))
      }(outEnc)
      .toDF("node", "comp")
  }

  /** One BFS frontier expansion for [[q_khop_reach]]: the frontier's
    * out-neighbors minus everything already visited, stamped with
    * round `h` — exposed un-checkpointed so PlanSpec can pin the round
    * shape (the query wraps each round in localCheckpoint, which hides
    * the joins from the final plan). */
  private[graft] def bfsRound(frontier: DataFrame, edges: DataFrame,
                              dist: DataFrame, h: Int): DataFrame =
    frontier.join(edges, frontier("node") === edges("src"))
      .select(col("dst").as("node")).distinct()
      .join(dist, Seq("node"), "left_anti")
      .select(col("node"), lit(h.toLong).as("hops"))

  /** VERIFIED near-dup pairs: the edges of the dedup graph are candidate
    * pairs that pass the exact token-set Jaccard threshold — the
    * standard recall-then-verify pipeline (LSH candidates →
    * q_dedup_fuzzy's verified pairs → clustering here). Raw LSH buckets
    * alone are NOT edges: on this synthetic corpus (31-token
    * vocabulary) every doc shares min-hashes with every other, and at
    * any scale unverified banding chains unrelated docs transitively —
    * the verify stage is what keeps components meaningful. */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    TextOps.jaccardPairs05(s, d) // r15: shared memoized build (lossless at 0.8)
      .filter(col("jaccard") >= 0.8)
      .select(col("source").as("block"), col("d1").as("src"), col("d2").as("dst"))

  /** (doc_id, comp) over ALL documents: blocked union-find on the
    * verified pairs, singletons defaulting to their own id.
    *
    * Memoized as a localCheckpoint: the verify pipeline under it
    * (tokenize → candidate join → verify → union-find) is the most
    * expensive subtree in the catalog, and THREE queries consume its
    * result (q_dedup_clusters, q_dedup_survivors, q_dedup_multisignal's
    * text signal) — without the memo each re-derives the whole
    * pipeline. The memoized frame is one row per document. */
  private def clusters(s: SparkSession, d: String): DataFrame =
    graft.MemoStats.get("cluster_labels", s, d) {
      val labels = blockedComponents(verifiedPairs(s, d))
      documents(s, d).select(col("doc_id"))
        .join(labels, col("doc_id") === col("node"), "left")
        .select(col("doc_id").as("node"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
        .localCheckpoint()
    }

  /** Embedding-cosine near-dup pairs blocked by `label` — the SECOND
    * dedup signal, with a DIFFERENT blocking key than the text pairs'
    * `source`. Delegates to [[VectorOps.cosinePairs]] (the same
    * pipeline q_embed_near_dup runs) so the math lives once. */
  private def embeddingPairs(s: SparkSession, d: String): DataFrame =
    VectorOps.cosinePairs(s, d, threshold = 0.35)
      .select(col("label").as("block"), col("d1").as("src"), col("d2").as("dst"))

  val queries: Map[String, Q] = Map(
    // MULTI-SIGNAL dedup clustering: text-Jaccard pairs (blocked by
    // source) UNION embedding-cosine pairs (blocked by label) over the
    // same document ids — components legitimately CROSS both
    // blockings, the case single-blocking union-find can't close.
    // Physical shape = contract-then-solve, the 100 TB layering:
    //  1. each signal contracts WITHIN its own blocking via the
    //     one-shuffle blocked union-find (cheap, no iteration);
    //  2. general CC runs only on the CONTRACTED bipartite graph (one
    //     node per per-signal component, one edge per doc) — orders of
    //     magnitude smaller than the raw pair graph — through the
    //     size-gated generalComponents: one-task union-find while the
    //     contracted graph fits a task (the normal case), O(log n)
    //     starComponents iteration beyond (path equality spec'd);
    //  3. decode: final label = min doc id inside each merged cluster.
    // Transitivity makes this equal to CC over the raw edge union,
    // which is exactly what the recursive-CTE DuckDB oracle computes.
    "q_dedup_multisignal" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"))
      def compOf(labels: DataFrame, out: String): DataFrame =
        docs.join(labels, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as(out))
      // one row per doc; materialized ONCE — it feeds the edge
      // derivation, the node set, and the final decode join, and
      // recomputing it would re-run both pair pipelines per branch.
      // The text signal is exactly the memoized [[clusters]] labels.
      val joined = clusters(s, d)
        .select(col("node").as("doc_id"), col("comp").as("tcomp"))
        .join(compOf(blockedComponents(embeddingPairs(s, d)), "vcomp"), "doc_id")
        .localCheckpoint()
      // distinct namespaces: text comps on even ids, vec comps on odd
      val edges = joined
        .select((col("tcomp") * 2).as("src"), (col("vcomp") * 2 + 1).as("dst"))
        .distinct()
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val cc = generalComponents(nodes, edges)
      val w = Window.partitionBy("ecomp")
      joined
        .join(cc, col("tcomp") * 2 === col("node"))
        .select(col("doc_id"), col("comp").as("ecomp"))
        .withColumn("comp", min(col("doc_id")).over(w))
        .withColumn("csize", count(lit(1)).over(w))
        .select(col("doc_id"), col("comp"), col("csize"))
        .orderBy("doc_id")
    }),
    // END-TO-END CURATION PIPELINE — the composed artifact the rest of
    // the catalog's operators exist for: quality gate (the
    // q_quality_filter rules) ∧ dedup survivorship (cluster
    // representative, reusing the memoized component labels) ∧
    // per-source token budget (the q_token_budget cut). Output = the
    // curated-corpus manifest per source. Every rule stays integral
    // and every stage is a shuffle on its natural key, so the whole
    // composition — including the transitive-closure dedup — is
    // hash-verified against one composed DuckDB oracle.
    "q_curation_pipeline" -> ((s, d) => {
      val toksC = array_remove(split(lower(col("text")), " "), "")
      val quality = documents(s, d)
        .withColumn("n_tokens", size(toksC).cast("long"))
        .withColumn("n_stop", size(filter(toksC, t =>
          t.isInCollection(TextOps.stopwords))).cast("long"))
        .filter(col("n_tokens") >= 25 && col("n_chars") <= col("n_tokens") * 8 &&
          col("n_stop") > 0)
        .select("source", "doc_id", "n_tokens")
      val survivors = clusters(s, d).filter(col("node") === col("comp"))
        .select(col("node").as("doc_id"))
      // materialized once: the two-phase prefix sum reads `kept` twice
      // (per-bucket totals, then the offset join-back); without the
      // checkpoint both branches recompute the quality scan + survivor
      // join (A/B at sf0.1: 0.78 → 0.62 s warm median)
      val kept = quality.join(survivors, "doc_id")
        .withColumn("h", md5(col("doc_id").cast("string")))
        .localCheckpoint()
      // budget stage = the same two-phase distributed prefix sum as
      // q_token_budget (operators/PrefixSum) — no per-source
      // single-task window in the composition either
      PrefixSum.runningSum(kept, Seq("source"), Seq(col("h"), col("doc_id")),
          col("n_tokens"), PrefixSum.hexBucket(col("h")), "cum_toks")
        .filter(col("cum_toks") <= 1500)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), max(col("cum_toks")).as("tokens_taken"))
        .orderBy("source")
    }),

    // E3 dedup clustering: every document labeled with its near-dup
    // cluster (min doc_id of the LSH-connected component) + cluster size.
    // Size via a count window on comp, NOT a groupBy+self-join: the join
    // form fans the cc subtree into two branches, recomputing the whole
    // verify-pairs pipeline when exchange reuse doesn't kick in; the
    // window is one extra narrow pass after the comp shuffle.
    "q_dedup_clusters" -> ((s, d) =>
      clusters(s, d)
        .withColumn("csize", count(lit(1)).over(Window.partitionBy("comp")))
        .select(col("node").as("doc_id"), col("comp"), col("csize"))
        .orderBy("doc_id")),

    // E3 CLUSTER-SIZE DISTRIBUTION — the dedup-health histogram: how
    // many clusters of each size, and how many documents they hold (a
    // heavy tail of large clusters means template spam; all-singletons
    // means the near-dup thresholds are too tight). Rides the memoized
    // labels; two tiny hash-aggs, output bounded by the distinct-size
    // domain.
    "q_dedup_cluster_sizes" -> ((s, d) =>
      clusters(s, d).groupBy("comp").agg(count(lit(1)).as("csize"))
        .groupBy("csize")
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("csize") * col("n_clusters"))
        .select("csize", "n_clusters", "n_docs")
        .orderBy("csize")),

    // E3 DEDUP CLUSTER DENSITY — transitivity audit of the union-find
    // clustering: per cluster size (2..64), how many of the C(size,2)
    // member pairs were DIRECTLY verified near-dups vs merely
    // transitively connected. Density near 1e6 = tight duplicate sets;
    // low density at large sizes = chain-merge clusters (A~B~C where
    // A≁C) — the signal that the survivorship policy is about to
    // collapse non-duplicates and the threshold needs raising. Rides
    // the memoized cluster labels; the direct-pair leg re-joins the
    // verified pairs (every pair's endpoints share a comp by
    // construction, so ONE side of the pair suffices for attribution);
    // the rollup is O(cluster sizes) after two hash-aggs. Clusters
    // above 64 members are excluded (the hot-bucket rule: a runaway
    // cluster's C(size,2) is its own report — q_dedup_cluster_sizes
    // already surfaces it).
    "q_dedup_density" -> ((s, d) => {
      val cc = clusters(s, d)
      val direct = verifiedPairs(s, d)
        .join(cc.select(col("node"), col("comp")), col("src") === col("node"))
        .groupBy("comp").agg(count(lit(1)).as("n_direct"))
      cc.groupBy("comp").agg(count(lit(1)).as("csize"))
        .filter(col("csize").between(2, 64))
        .join(direct, Seq("comp"), "left")
        .withColumn("n_direct", coalesce(col("n_direct"), lit(0L)))
        .groupBy("csize")
        .agg(count(lit(1)).as("n_clusters"),
          sum("n_direct").as("n_direct_pairs"),
          sum(expr("csize * (csize - 1) div 2")).as("n_possible_pairs"))
        .withColumn("density_ppm",
          expr("n_direct_pairs * 1000000 div n_possible_pairs"))
        .select("csize", "n_clusters", "n_direct_pairs", "n_possible_pairs",
          "density_ppm")
        .orderBy("csize")
    }),

    // E3 DEDUP SAVINGS — the business-case table for the whole dedup
    // family: per source, documents and characters before vs after
    // min-id survivorship (the q_dedup_survivors policy: a doc
    // survives iff it IS its component's label), and the storage/
    // compute share dedup reclaims in ppm. Rides the memoized cluster
    // labels; one join + one O(sources) hash-agg. The all-empty-
    // source denominator is NULL-guarded on both engines.
    "q_dedup_savings" -> ((s, d) => {
      val cc = clusters(s, d)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .join(cc, col("doc_id") === col("node"))
        .withColumn("kept", (col("doc_id") === col("comp")).cast("int"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs_before"),
          sum(col("kept").cast("long")).as("docs_after"),
          sum("n_chars").as("chars_before"),
          sum(expr("case when kept = 1 then n_chars else 0 end"))
            .as("chars_after"))
        .withColumn("savings_ppm", expr(
          """case when chars_before = 0 then null
            |else (chars_before - chars_after) * 1000000 div chars_before
            |end""".stripMargin))
        .select("source", "docs_before", "docs_after", "chars_before",
          "chars_after", "savings_ppm")
        .orderBy("source")
    }),

    // E3 SURVIVOR-BY-QUALITY — the alternative survivorship policy:
    // instead of the min-id representative (q_dedup_survivors), keep
    // each cluster's LONGEST document (n_chars, the quality proxy the
    // curation family already uses) with the (quality desc, id asc)
    // deterministic tie-break — the policy a production dedup actually
    // ships, since near-dup clusters usually contain one full document
    // and several truncated scrapes. Rides the memoized labels; one
    // join + one per-cluster argmax window over the O(docs) table.
    "q_dedup_best_quality" -> ((s, d) => {
      val cc = clusters(s, d)
      val j = documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(cc, col("doc_id") === col("node"))
      val w = Window.partitionBy("comp")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      j.withColumn("csize", count(lit(1)).over(Window.partitionBy("comp")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("comp"), col("csize"), col("doc_id").as("survivor_id"),
          col("n_chars").as("survivor_n_chars"))
        .orderBy("comp")
    }),

    // E3 DEDUP RATE BY SOURCE — the curation-report rollup: per source,
    // how many docs sit in multi-doc near-dup clusters, the dup rate in
    // integral ppm, and how many distinct clusters the source touches
    // (clusters span sources, so touched-clusters is the honest figure
    // — not a per-source survivor count). Rides the memoized cluster
    // labels like every other consumer; two O(docs) joins + an
    // O(sources) aggregate.
    "q_dedup_rate" -> ((s, d) => {
      val cc = clusters(s, d)
      val sizes = cc.groupBy("comp").agg(count(lit(1)).as("csize"))
      documents(s, d).select(col("doc_id"), col("source"))
        .join(cc, col("doc_id") === col("node"))
        .join(sizes, "comp")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("csize") >= 2, 1L).otherwise(0L)).as("n_in_multi"),
          countDistinct(col("comp")).as("n_clusters_touched"))
        .withColumn("dup_rate_ppm", expr("n_in_multi * 1000000 div n_docs"))
        .select("source", "n_docs", "n_in_multi", "dup_rate_ppm",
          "n_clusters_touched")
        .orderBy("source")
    }),

    // E3 dedup survivors: one representative per cluster (the min
    // doc_id), with how many near-dups it absorbed — the actual "write
    // the deduplicated corpus" output of the pipeline
    "q_dedup_survivors" -> ((s, d) => {
      val cc = clusters(s, d)
      val sizes = cc.groupBy("comp").agg(count(lit(1)).as("csize"))
      documents(s, d)
        .join(sizes, col("doc_id") === col("comp"))
        .select(col("doc_id"), col("source"), col("csize"))
        .orderBy("doc_id")
    }),

    // PageRank in INTEGER micro-units — the repo's cents convention
    // applied to graph analytics: float PageRank is un-oracle-able
    // (double summation order differs per engine/partitioning), but
    // with ranks as BIGINT micro-units, per-edge contributions as
    // integral division rank div outdeg, and the damping step as
    // (85 * inflow) div 100, every operation is order-independent —
    // so 4 fixed rounds are bit-identical in any engine. Per round the
    // dataflow is one join + one aggregation shuffling on the node id
    // (the same shape as min-label CC — no driver graph state); the
    // graph is a deterministic 500-node projection of orders. Dangling
    // nodes leak their mass (no redistribution term), identically on
    // both sides — the standard simplification, stated.
    "q_pagerank" -> ((s, d) => {
      val edges = orders(s, d)
        .select(pmod(col("o_custkey"), lit(500L)).as("src"),
          pmod(col("o_orderkey"), lit(500L)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val e = edges.join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      var ranks = nodes.select(col("node"), lit(1000000L).as("rank"))
      for (_ <- 1 to 4) {
        val contribs = e.join(ranks, e("src") === ranks("node"))
          .select(col("dst"), expr("rank div outdeg").as("contrib"))
          .groupBy("dst").agg(sum("contrib").as("inflow"))
        ranks = nodes.join(contribs, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(150000L) +
              expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100")).as("rank"))
      }
      ranks.orderBy("node")
    }),

    // HITS hubs & authorities (Kleinberg) — the other classic
    // link-analysis fixpoint: a good HUB points at good authorities, a
    // good AUTHORITY is pointed at by good hubs. Two UNNORMALIZED
    // rounds in pure BIGINT (the pagerank integer convention without
    // even a division: a_{k} = Σ_in h_{k-1}, h_k = Σ_out a_k are plain
    // integral sums, so the fixed-round values are bit-identical in
    // any engine — per-round normalization only rescales the ranking
    // and would force FP). Per half-round the dataflow is one join +
    // one aggregation shuffling on the node id, the CC/pagerank shape;
    // magnitudes are bounded by deg^4 · n — safe in bigint for any
    // graph whose degrees fit an int. Derived graph: a 400-node
    // orders projection (distinct from pagerank's 500 so the two
    // queries don't share a cached subtree by accident).
    "q_hits" -> ((s, d) => {
      val edges = orders(s, d)
        .select(pmod(col("o_custkey"), lit(400L)).as("src"),
          pmod(col("o_orderkey"), lit(400L)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint() // feeds 4 half-rounds: scan once
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      var hubs = nodes.select(col("node"), lit(1L).as("h"))
      var auths: DataFrame = null
      for (_ <- 1 to 2) {
        val aIn = edges.join(hubs, edges("src") === hubs("node"))
          .groupBy(col("dst")).agg(sum("h").as("a"))
        auths = nodes.join(aIn, col("node") === col("dst"), "left")
          .select(col("node"), coalesce(col("a"), lit(0L)).as("a"))
        val hOut = edges.join(auths.select(col("node").as("an"), col("a")),
            edges("dst") === col("an"))
          .groupBy(col("src")).agg(sum("a").as("h"))
        hubs = nodes.join(hOut, col("node") === col("src"), "left")
          .select(col("node"), coalesce(col("h"), lit(0L)).as("h"))
      }
      hubs.join(auths, "node")
        .select(col("node"), col("h").as("hub"), col("a").as("auth"))
        .orderBy("node")
    }),

    // K-CORE DECOMPOSITION (3-core peel) — the density filter link
    // analysis runs before anything expensive: iteratively delete
    // nodes of degree < k until only the k-core remains (spam/quality
    // heuristics, community pre-filters, graph sparsification all
    // start here). Six fixed peel rounds, each ONE degree hash-agg
    // (undirected: every edge feeds both endpoints) + two semi-joins
    // restricting edges to surviving endpoints — the per-round
    // dataflow shuffles on the node id only, the pagerank/CC shape,
    // and work SHRINKS monotonically as the graph peels. Pure counts
    // end-to-end (no division anywhere), so rounds are bit-identical
    // in any engine; the per-round (nodes, edges) trajectory is the
    // output — the curve that says when the peel converged. Derived
    // graph: a 600-node orders projection (distinct modulus from
    // pagerank's 500 / HITS' 400 so no accidental subtree sharing).
    "q_kcore" -> ((s, d) => {
      val k = 3
      var edges = orders(s, d)
        .select(pmod(col("o_custkey"), lit(600L)).as("a"),
          pmod(col("o_orderkey"), lit(600L)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint() // feeds round 1's degree agg + edge restrict
      val rounds = (1 to 6).map { r =>
        val deg = edges.select(col("a").as("n"))
          .unionAll(edges.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val surv = deg.filter(col("deg") >= k).select("n")
        edges = edges
          .join(surv.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(surv.select(col("n").as("b")), Seq("b"), "left_semi")
          .select("a", "b")
          .localCheckpoint() // truncate the per-round lineage doubling
        surv.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }
      rounds.reduce(_ unionByName _).orderBy("round")
    }),

    // K-HOP REACHABILITY (BFS levels) — "everything within k links of
    // these seeds", the traversal primitive behind blast-radius
    // queries (which suppliers does this outage reach in ≤3 tiers?)
    // and link-graph crawl frontiers. Classic distributed BFS: k
    // rounds of frontier-expand (join on src — ONE key shuffle per
    // round), each frontier anti-joined against the visited set so a
    // node keeps its MINIMUM hop count and rounds shrink as the
    // reachable set saturates; localCheckpoint truncates the k-deep
    // lineage like every iterative loop in this file. Work per round
    // is O(frontier out-edges), never O(nodes²) — the frontier shape
    // survives 100 TB graphs because nothing ever materializes more
    // than one hop of expansion. Derived graph: a sparse 5000-node
    // projection of orders (~3 out-edges/node at sf0.01); seeds =
    // nodes 0-9. The oracle walks the same graph with a recursive CTE
    // (UNION-dedup bounds it at nodes × k rows) + MIN(hops).
    "q_khop_reach" -> ((s, d) => {
      val k = 3
      val edges = orders(s, d)
        .select(pmod(col("o_custkey"), lit(5000L)).as("src"),
          pmod(col("o_orderkey"), lit(5000L)).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint() // reused k times: scan once, not per round
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      var dist = nodes.filter(col("node") < 10)
        .select(col("node"), lit(0L).as("hops")).localCheckpoint()
      var frontier = dist
      for (h <- 1 to k) {
        val next = bfsRound(frontier, edges, dist, h).localCheckpoint()
        dist = dist.union(next)
        frontier = next
      }
      dist.orderBy("node")
    }),

    // Per-node triangle counts — the local clustering signal (spam/SEO
    // detection in link graphs). One ordered edge list u < v makes the
    // E11 NEAR-DUP-AWARE SPLIT — the leakage-controlled train/test
    // cut: an 80/20 md5 split is only honest if no train document is a
    // near-duplicate of a test document, so any train doc sharing a
    // verified dedup CLUSTER with a test doc is dropped (the
    // cluster-transitive generalization of per-pair decontamination —
    // a train doc two hops from a test doc leaks too). Composes the
    // memoized cluster labels; the leak check is one semi-join of
    // cluster ids. Output: train / test / dropped_leak counts plus the
    // count of affected clusters.
    "q_split_leakage" -> ((s, d) => {
      val cl = clusters(s, d) // (node, comp)
        .withColumn("is_test",
          pmod(conv(substring(md5(concat(lit("split|"),
            col("node").cast("string"))), 1, 8), 16, 10).cast("long"), lit(5L)) === 0)
      val testComps = cl.filter(col("is_test")).select("comp").distinct()
      val tagged = cl.join(testComps.withColumn("leaky", lit(true)),
          Seq("comp"), "left")
        .withColumn("bucket",
          when(col("is_test"), "test")
            .when(coalesce(col("leaky"), lit(false)), "dropped_leak")
            .otherwise("train"))
      tagged.groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("comp").as("n_clusters"))
        .orderBy("bucket")
    }),

    // E16 CLUSTERING MODULARITY — Newman's Q for the dedup clustering,
    // measured over the WINNOW-SCREEN edge set rather than the edges
    // that induced the clusters (those would be trivially all-intra):
    // Q tells you how coherently the cheap fingerprint screen agrees
    // with the verified-Jaccard communities — inter-community winnow
    // pairs are exactly the screen's false merges. (On the testdata it
    // measures Q ≈ 0.003 with 1/25 pairs intra: the ≥3-fingerprint
    // screen is deliberately much looser than 0.8-Jaccard verification
    // — a high-recall screen feeding a strict verify, and the metric
    // is what QUANTIFIES that gap instead of guessing.) Integral, ONE
    // terminal division: Q·1e6 = Σ_c (4m·e_c − deg_c²) · 1e6 div 4m².
    // Everything runs on aggregates (degrees, per-community sums); the
    // only corpus-volume work is the shared memoized pipelines.
    "q_dedup_modularity" -> ((s, d) => {
      val wp = TextOps.winnowPairs(s, d).select("d1", "d2")
      val nodeComp = clusters(s, d) // (node, comp), every doc labeled
      val mdf = broadcast(wp.agg(count(lit(1)).as("m")))
      val deg = wp.select(col("d1").as("node"))
        .union(wp.select(col("d2").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val degC = deg.join(nodeComp, "node")
        .groupBy("comp").agg(sum("deg").as("deg_c"))
      val eC = wp
        .join(nodeComp.select(col("node").as("d1"), col("comp").as("c1")), "d1")
        .join(nodeComp.select(col("node").as("d2"), col("comp").as("c2")), "d2")
        .filter(col("c1") === col("c2"))
        .groupBy(col("c1").as("comp")).agg(count(lit(1)).as("e_c"))
      degC.join(eC, Seq("comp"), "left")
        .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
        .crossJoin(mdf)
        .agg(max("m").as("m"), count(lit(1)).as("n_comms"),
          sum("e_c").as("intra_edges"),
          sum(expr("4 * m * e_c - deg_c * deg_c")).as("q_num"))
        .select(coalesce(col("m"), lit(0L)).as("m"), col("n_comms"),
          coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
          coalesce(expr("q_num * 1000000 div nullif(4 * m * m, 0)"), lit(0L))
            .as("modularity_ppm"))
    }),

    // E16 LINK PREDICTION — common-neighbor / Jaccard candidate edges:
    // for every NON-adjacent pair sharing ≥2 neighbors, score
    // |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| in integral ppm and keep each node's
    // top-3 via the native TopKPerGroup operator (map-side bounded
    // heaps — the output is ≤3 rows/node regardless of density, so the
    // result never explodes as the graph densifies across SFs). The
    // wedge self-join shuffles on node id with Σdeg² fan-out — the
    // standard distributed common-neighbor shape — so the graph is
    // HUB-CAPPED first: every node keeps its 8 hash-ranked edges (the
    // md5 rank is deterministic in both engines; the same move as the
    // text family's df-cap, bounding, not balancing, hot keys). The
    // cap makes wedge volume O(nodes · cap²) — scale-INVARIANT as the
    // fixture graph densifies across SFs (uncapped, sf0.1's deg≈140
    // yields 39M wedges and a 12 s query; capped it is ~0.5 s, and the
    // derived fixture stays sparse the way real similarity graphs are).
    "q_link_predict" -> ((s, d) => {
      val raw = orders(s, d)
        .select(pmod(col("o_custkey"), lit(2000L)).as("p"),
          pmod(col("o_orderkey"), lit(2000L)).as("q"))
        .filter(col("p") =!= col("q"))
      val e0 = raw.select(least(col("p"), col("q")).as("u"),
        greatest(col("p"), col("q")).as("v")).distinct()
      val e = graft.plans.TopKPerGroup(
          e0.withColumn("ek", md5(concat_ws("|", col("u"), col("v")))),
          Seq(col("u")), Seq(col("ek").asc, col("v").asc), k = 8)
        .select(col("u"), col("v"))
      val adj = e.select(col("u").as("n"), col("v").as("nb"))
        .union(e.select(col("v").as("n"), col("u").as("nb")))
      val deg = adj.groupBy("n").agg(count(lit(1)).as("deg"))
      val cn = adj.as("x").join(adj.as("y"),
          col("x.n") === col("y.n") && col("x.nb") < col("y.nb"))
        .select(col("x.nb").as("a"), col("y.nb").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 2)
      val cand = cn.join(e,
        cn("a") === e("u") && cn("b") === e("v"), "left_anti")
      val sym = cand.select(col("a").as("node"), col("b").as("other"), col("cn"))
        .unionByName(
          cand.select(col("b").as("node"), col("a").as("other"), col("cn")))
      val scored = sym
        .join(deg.select(col("n").as("node"), col("deg").as("deg_n")), "node")
        .join(deg.select(col("n").as("other"), col("deg").as("deg_o")), "other")
        .withColumn("jaccard_ppm", expr("cn * 1000000 div (deg_n + deg_o - cn)"))
      graft.plans.TopKPerGroup(scored, Seq(col("node")),
          Seq(col("jaccard_ppm").desc, col("cn").desc, col("other").asc), k = 3)
        .select(col("node"), col("rn").cast("long").as("rank"), col("other"),
          col("cn"), col("deg_n"), col("deg_o"), col("jaccard_ppm"))
        .orderBy("node", "rank")
    }),

    // three-way self-join count each triangle exactly once (a<b<c):
    // wedge join (e1.v = e2.u) then closure probe (e3 = (a, c)). Both
    // joins are equi-joins shuffling on node ids — no pair explosion
    // beyond the true wedge count, the standard distributed-triangle
    // shape (order-by-degree is the 100 TB refinement when degree skew
    // bites). Derived graph: orders projected onto 2000 nodes.
    "q_triangles" -> ((s, d) => {
      val raw = orders(s, d)
        .select(pmod(col("o_custkey"), lit(2000L)).as("p"),
          pmod(col("o_orderkey"), lit(2000L)).as("q"))
        .filter(col("p") =!= col("q"))
      val e = raw.select(least(col("p"), col("q")).as("u"),
          greatest(col("p"), col("q")).as("v"))
        .distinct()
      val e1 = e.select(col("u").as("a"), col("v").as("b"))
      val e2 = e.select(col("u").as("b2"), col("v").as("c"))
      val e3 = e.select(col("u").as("a3"), col("v").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      val nodes = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node"))).distinct()
      val perNode = tri.select(col("a").as("node"))
        .union(tri.select(col("b").as("node")))
        .union(tri.select(col("c").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      nodes.join(perNode, Seq("node"), "left")
        .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .orderBy("node")
    }),

    // E16 LOCAL CLUSTERING COEFFICIENT — per node, how close its
    // neighborhood is to a clique: c(v) = 2·T(v)·1e6 div deg(v)·
    // (deg(v)−1) in ppm (0 where deg < 2), over the same derived
    // graph as q_triangles. The community-structure diagnostic that
    // separates "hub in a random graph" from "hub inside a cluster".
    // Adds one degree hash-agg to the triangle plan — the join-based
    // triangle count stays the dominant cost and keeps its bounded-
    // fan-out shape; everything else is O(nodes).
    "q_clustering_coeff" -> ((s, d) => {
      val raw = orders(s, d)
        .select(pmod(col("o_custkey"), lit(2000L)).as("p"),
          pmod(col("o_orderkey"), lit(2000L)).as("q"))
        .filter(col("p") =!= col("q"))
      val e = raw.select(least(col("p"), col("q")).as("u"),
          greatest(col("p"), col("q")).as("v"))
        .distinct()
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val e1 = e.select(col("u").as("a"), col("v").as("b"))
      val e2 = e.select(col("u").as("b2"), col("v").as("c"))
      val e3 = e.select(col("u").as("a3"), col("v").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      val perNode = tri.select(col("a").as("node"))
        .union(tri.select(col("b").as("node")))
        .union(tri.select(col("c").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      deg.join(perNode, Seq("node"), "left")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .withColumn("lcc_ppm", when(col("deg") < 2, lit(0L))
          .otherwise(expr("2 * n_tri * 1000000 div (deg * (deg - 1))")))
        .select("node", "deg", "n_tri", "lcc_ppm")
        .orderBy("node")
    }),

    // E16 DEGREE ASSORTATIVITY — do hubs attach to hubs? Pearson r of
    // the endpoint-degree pairs over the SYMMETRIZED edge list (so
    // Σx = Σy and one moment pass suffices: r = (mΣxy − (Σx)²) /
    // (mΣxx − (Σx)²)). Every moment is an exact integer sum — degrees
    // are ints — so the only float op is the final division, rounded 6
    // (the q_regr_trend convention; at graphs where m·Σxy nears long
    // range, pre-scale degrees). Broadcast degree lookup on both
    // endpoints; cost is the edge scan.
    "q_assortativity" -> ((s, d) => {
      val raw = orders(s, d)
        .select(pmod(col("o_custkey"), lit(2000L)).as("p"),
          pmod(col("o_orderkey"), lit(2000L)).as("q"))
        .filter(col("p") =!= col("q"))
      val e = raw.select(least(col("p"), col("q")).as("u"),
          greatest(col("p"), col("q")).as("v"))
        .distinct()
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val dirE = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      dirE
        .join(broadcast(deg.select(col("node").as("a"), col("deg").as("da"))), "a")
        .join(broadcast(deg.select(col("node").as("b"), col("deg").as("db"))), "b")
        .agg(count(lit(1)).as("m"), sum("da").as("sx"),
          sum(col("da") * col("da")).as("sxx"),
          sum(col("da") * col("db")).as("sxy"))
        // degree-REGULAR graph ⇒ m·sxx − sx² = 0 exactly (every deg
        // equal): 0/0 would be NaN here but an ERROR-or-NULL in the
        // oracle — an explicit NULL sentinel on BOTH engines, the
        // q_clustering_coeff deg<2 convention (round-7 verdict item 2)
        .withColumn("assortativity", when(
          col("m") * col("sxx") - col("sx") * col("sx") === 0,
          lit(null).cast("double")).otherwise(round(
          (col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)))
        .select("m", "assortativity")
    }))

  /** Shared oracle prelude: verified Jaccard pairs (same math as the
    * q_dedup_fuzzy oracle) → recursive-CTE connected components (min
    * reachable id). */
  private lazy val ccPrelude =
    "WITH RECURSIVE " + textPairsCte + """,
      |edges AS (SELECT src, dst FROM tpairs
      |          UNION ALL SELECT dst, src FROM tpairs),
      |reach(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      |cc AS (SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node),
      |sizes AS (SELECT comp, COUNT(*) AS csize FROM cc GROUP BY comp)""".stripMargin

  /** Shared oracle fragment: the verified text-Jaccard pair CTEs
    * (tok → tpairs), kept in lockstep with tokenJaccardPairs' math —
    * both the single-signal prelude and the multisignal oracle build
    * on this ONE string. */
  private val textPairsCte =
    """tok AS (
      |  SELECT DISTINCT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
      |  FROM documents),
      |tok2 AS (SELECT * FROM tok WHERE token <> ''),
      |sizes0 AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
      |inter AS (
      |  SELECT a.source, a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |  FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.token = b.token
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY a.source, a.doc_id, b.doc_id),
      |tpairs AS (
      |  SELECT d1 AS src, d2 AS dst FROM inter i
      |  JOIN sizes0 s1 ON i.d1 = s1.doc_id
      |  JOIN sizes0 s2 ON i.d2 = s2.doc_id
      |  WHERE ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) >= 0.8)""".stripMargin

  /** 4 unrolled integer-PageRank rounds — kept in lockstep with the
    * Spark loop above (same init, same div/damping order). */
  private lazy val pagerankOracle: String = {
    val rounds = (1 to 4).map { k =>
      s"""c$k AS (SELECT e.dst AS node, CAST(SUM(r.rank // e.outdeg) AS BIGINT) AS inflow
         |        FROM e JOIN r${k - 1} r ON r.node = e.src GROUP BY e.dst),
         |r$k AS (SELECT n.node,
         |          CAST(150000 + (85 * COALESCE(c.inflow, 0)) // 100 AS BIGINT) AS rank
         |        FROM nodes n LEFT JOIN c$k c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT (o_custkey % 500) AS src, (o_orderkey % 500) AS dst
       |  FROM orders WHERE (o_custkey % 500) <> (o_orderkey % 500)),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst, outdeg.outdeg
       |      FROM edges JOIN outdeg ON edges.src = outdeg.src),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
       |$rounds
       |SELECT node, rank FROM r4 ORDER BY node""".stripMargin
  }

  /** 2 unrolled HITS rounds — lockstep with the Spark loop above
    * (same init h0=1, same sum order-independence; no normalization,
    * no division anywhere). */
  private lazy val hitsOracle: String = {
    val rounds = (1 to 2).map { k =>
      s"""a$k AS (SELECT n.node,
         |          CAST(COALESCE((SELECT SUM(h.h) FROM e JOIN h${k - 1} h ON h.node = e.src
         |                         WHERE e.dst = n.node), 0) AS BIGINT) AS a
         |        FROM nodes n),
         |h$k AS (SELECT n.node,
         |          CAST(COALESCE((SELECT SUM(a.a) FROM e JOIN a$k a ON a.node = e.dst
         |                         WHERE e.src = n.node), 0) AS BIGINT) AS h
         |        FROM nodes n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT (o_custkey % 400) AS src, (o_orderkey % 400) AS dst
       |  FROM orders WHERE (o_custkey % 400) <> (o_orderkey % 400)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
       |$rounds
       |SELECT h2.node, h2.h AS hub, a2.a AS auth
       |FROM h2 JOIN a2 ON a2.node = h2.node ORDER BY h2.node""".stripMargin
  }

  /** 6 unrolled 3-core peel rounds — lockstep with the Spark loop
    * (same undirected degree fold, same ≥3 survivor cut, pure counts
    * so no division semantics in play). */
  private lazy val kcoreOracle: String = {
    val rounds = (1 to 6).map { r =>
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s"""d$r AS MATERIALIZED (SELECT n, COUNT(*) AS deg FROM (
         |          SELECT a AS n FROM $prev UNION ALL SELECT b FROM $prev)
         |        GROUP BY n),
         |s$r AS MATERIALIZED (SELECT n FROM d$r WHERE deg >= 3),
         |e$r AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
         |        JOIN s$r x ON e.a = x.n JOIN s$r y ON e.b = y.n),
         |r$r AS (SELECT CAST($r AS BIGINT) AS round,
         |          (SELECT CAST(COUNT(*) AS BIGINT) FROM s$r) AS n_nodes,
         |          (SELECT CAST(COUNT(*) AS BIGINT) FROM e$r) AS n_edges)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT (o_custkey % 600) AS a, (o_orderkey % 600) AS b
       |  FROM orders WHERE (o_custkey % 600) <> (o_orderkey % 600)),
       |$rounds
       |SELECT * FROM (
       |  ${(1 to 6).map(r => s"SELECT * FROM r$r").mkString(" UNION ALL ")})
       |ORDER BY round""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_pagerank" -> pagerankOracle,
    "q_hits" -> hitsOracle,
    "q_kcore" -> kcoreOracle,

    // same walk, recursive CTE: UNION (not UNION ALL) dedups (node,
    // hops) rows so the recursion is bounded at nodes × k regardless
    // of path multiplicity; MIN(hops) = the BFS level
    "q_khop_reach" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT o_custkey % 5000 AS src, o_orderkey % 5000 AS dst
        |  FROM orders WHERE o_custkey % 5000 <> o_orderkey % 5000),
        |nodes AS (
        |  SELECT DISTINCT src AS node FROM e
        |  UNION SELECT DISTINCT dst FROM e),
        |r(node, hops) AS (
        |  SELECT node, CAST(0 AS BIGINT) FROM nodes WHERE node < 10
        |  UNION
        |  SELECT e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.node
        |  WHERE r.hops < 3)
        |SELECT node, MIN(hops) AS hops FROM r
        |GROUP BY node ORDER BY node""".stripMargin,

    "q_split_leakage" -> (ccPrelude + """,
      |lbl AS (
      |  SELECT node, comp,
      |    CAST(('0x' || substr(md5('split|' || node), 1, 8)) AS BIGINT) % 5 = 0 AS is_test
      |  FROM cc),
      |tcomps AS (SELECT DISTINCT comp FROM lbl WHERE is_test),
      |tagged AS (
      |  SELECT l.node, l.comp,
      |    CASE WHEN l.is_test THEN 'test'
      |         WHEN t.comp IS NOT NULL THEN 'dropped_leak'
      |         ELSE 'train' END AS bucket
      |  FROM lbl l LEFT JOIN tcomps t ON t.comp = l.comp)
      |SELECT bucket, COUNT(*) AS n_docs, COUNT(DISTINCT comp) AS n_clusters
      |FROM tagged GROUP BY bucket
      |ORDER BY bucket""".stripMargin),

    "q_dedup_modularity" -> (ccPrelude + ",\n" + TextOps.winnowPairsCte + """,
      |wm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM wpairs),
      |wdeg AS (SELECT node, COUNT(*) AS deg FROM (
      |    SELECT d1 AS node FROM wpairs
      |    UNION ALL SELECT d2 FROM wpairs) GROUP BY node),
      |degc AS (SELECT cc.comp, CAST(SUM(w.deg) AS BIGINT) AS deg_c
      |         FROM wdeg w JOIN cc ON cc.node = w.node GROUP BY cc.comp),
      |ec AS (SELECT c1.comp, COUNT(*) AS e_c
      |       FROM wpairs p JOIN cc c1 ON c1.node = p.d1
      |                     JOIN cc c2 ON c2.node = p.d2
      |       WHERE c1.comp = c2.comp GROUP BY c1.comp),
      |percomp AS (SELECT d.comp, d.deg_c, COALESCE(e.e_c, 0) AS e_c
      |            FROM degc d LEFT JOIN ec e USING (comp))
      |SELECT (SELECT m FROM wm) AS m, COUNT(*) AS n_comms,
      |  COALESCE(CAST(SUM(e_c) AS BIGINT), 0) AS intra_edges,
      |  COALESCE(CAST(SUM(4 * (SELECT m FROM wm) * e_c - deg_c * deg_c) AS BIGINT) * 1000000
      |    // NULLIF(4 * (SELECT m FROM wm) * (SELECT m FROM wm), 0), 0) AS modularity_ppm
      |FROM percomp""".stripMargin),

    "q_link_predict" ->
      """WITH raw AS (
        |  SELECT (o_custkey % 2000) AS p, (o_orderkey % 2000) AS q
        |  FROM orders WHERE (o_custkey % 2000) <> (o_orderkey % 2000)),
        |e0 AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
        |e AS (SELECT u, v FROM (
        |        SELECT u, v, ROW_NUMBER() OVER (
        |          PARTITION BY u ORDER BY md5(u || '|' || v), v) AS rn
        |        FROM e0)
        |      WHERE rn <= 8),
        |adj AS (SELECT u AS n, v AS nb FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT n, COUNT(*) AS deg FROM adj GROUP BY n),
        |cn AS (
        |  SELECT x.nb AS a, y.nb AS b, COUNT(*) AS cn
        |  FROM adj x JOIN adj y ON x.n = y.n AND x.nb < y.nb
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |cand AS (
        |  SELECT c.a, c.b, c.cn FROM cn c
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.a AND e.v = c.b)),
        |sym AS (
        |  SELECT a AS node, b AS other, cn FROM cand
        |  UNION ALL SELECT b, a, cn FROM cand),
        |scored AS (
        |  SELECT s.node, s.other, s.cn, da.deg AS deg_n, db.deg AS deg_o,
        |    s.cn * 1000000 // (da.deg + db.deg - s.cn) AS jaccard_ppm
        |  FROM sym s JOIN deg da ON da.n = s.node
        |             JOIN deg db ON db.n = s.other),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY node ORDER BY jaccard_ppm DESC, cn DESC, other) AS rank
        |  FROM scored)
        |SELECT node, CAST(rank AS BIGINT) AS rank, other, cn, deg_n, deg_o, jaccard_ppm
        |FROM ranked WHERE rank <= 3
        |ORDER BY node, rank""".stripMargin,

    "q_triangles" ->
      """WITH raw AS (
        |  SELECT (o_custkey % 2000) AS p, (o_orderkey % 2000) AS q
        |  FROM orders WHERE (o_custkey % 2000) <> (o_orderkey % 2000)),
        |e AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        |per_node AS (
        |  SELECT node, COUNT(*) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) t
        |  GROUP BY node)
        |SELECT n.node, COALESCE(p.n_tri, 0) AS n_tri
        |FROM nodes n LEFT JOIN per_node p ON p.node = n.node
        |ORDER BY n.node""".stripMargin,

    "q_clustering_coeff" ->
      """WITH raw AS (
        |  SELECT (o_custkey % 2000) AS p, (o_orderkey % 2000) AS q
        |  FROM orders WHERE (o_custkey % 2000) <> (o_orderkey % 2000)),
        |e AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
        |deg AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) t
        |  GROUP BY node),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |per_node AS (
        |  SELECT node, COUNT(*) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) t
        |  GROUP BY node)
        |SELECT d.node, d.deg, COALESCE(p.n_tri, 0) AS n_tri,
        |  CASE WHEN d.deg < 2 THEN 0
        |    ELSE 2 * COALESCE(p.n_tri, 0) * 1000000 // (d.deg * (d.deg - 1))
        |  END AS lcc_ppm
        |FROM deg d LEFT JOIN per_node p ON p.node = d.node
        |ORDER BY d.node""".stripMargin,

    "q_assortativity" ->
      """WITH raw AS (
        |  SELECT (o_custkey % 2000) AS p, (o_orderkey % 2000) AS q
        |  FROM orders WHERE (o_custkey % 2000) <> (o_orderkey % 2000)),
        |e AS (SELECT DISTINCT LEAST(p, q) AS u, GREATEST(p, q) AS v FROM raw),
        |deg AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) t
        |  GROUP BY node),
        |dire AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |mm AS (
        |  SELECT COUNT(*) AS m, CAST(SUM(da.deg) AS BIGINT) AS sx,
        |    CAST(SUM(da.deg * da.deg) AS BIGINT) AS sxx,
        |    CAST(SUM(da.deg * db.deg) AS BIGINT) AS sxy
        |  FROM dire
        |  JOIN deg da ON da.node = dire.a
        |  JOIN deg db ON db.node = dire.b)
        |SELECT m, CASE WHEN m * sxx - sx * sx = 0 THEN NULL
        |  ELSE ROUND(CAST(m * sxy - sx * sx AS DOUBLE)
        |    / CAST(m * sxx - sx * sx AS DOUBLE), 6) END AS assortativity
        |FROM mm""".stripMargin,

    // components over the text ∪ embedding edge union; the closure is

    // restricted to DOCUMENT nodes before labeling/sizing (the Spark
    // side emits one row per documents.doc_id — a vec_id outside the
    // documents table must not add rows or inflate csize), and the
    // final label is the min DOC id of the merged cluster
    "q_dedup_multisignal" ->
      ("WITH RECURSIVE " + textPairsCte + """,
        |emb AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |vpairs AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE (SELECT SUM(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))
        |    / (sqrt((SELECT SUM(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i)))
        |       * sqrt((SELECT SUM(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))))
        |    >= 0.35),
        |allp AS (SELECT src, dst FROM tpairs UNION SELECT src, dst FROM vpairs),
        |edges AS (SELECT src, dst FROM allp UNION ALL SELECT dst, src FROM allp),
        |reach(node, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
        |cc AS (SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node),
        |ccd AS (SELECT c.node, c.comp FROM cc c JOIN documents dd ON c.node = dd.doc_id),
        |rel AS (SELECT node, MIN(node) OVER (PARTITION BY comp) AS comp FROM ccd),
        |sizes AS (SELECT comp, COUNT(*) AS csize FROM rel GROUP BY comp)
        |SELECT r.node AS doc_id, r.comp, s.csize
        |FROM rel r JOIN sizes s ON r.comp = s.comp
        |ORDER BY doc_id""".stripMargin),

    "q_dedup_clusters" -> (ccPrelude +
      """
        |SELECT c.node AS doc_id, c.comp, s.csize
        |FROM cc c JOIN sizes s ON c.comp = s.comp
        |ORDER BY doc_id""".stripMargin),

    "q_dedup_cluster_sizes" -> (ccPrelude +
      """
        |SELECT csize, COUNT(*) AS n_clusters,
        |  CAST(csize * COUNT(*) AS BIGINT) AS n_docs
        |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin),

    "q_dedup_savings" -> (ccPrelude +
      """,
        |j AS (
        |  SELECT d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
        |    CASE WHEN d.doc_id = c.comp THEN 1 ELSE 0 END AS kept
        |  FROM documents d JOIN cc c ON c.node = d.doc_id)
        |SELECT source, COUNT(*) AS docs_before,
        |  CAST(SUM(kept) AS BIGINT) AS docs_after,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_before,
        |  CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS chars_after,
        |  CASE WHEN CAST(SUM(n_chars) AS BIGINT) = 0 THEN NULL
        |       ELSE (CAST(SUM(n_chars) AS BIGINT)
        |             - CAST(SUM(CASE WHEN kept = 1 THEN n_chars ELSE 0 END)
        |               AS BIGINT)) * 1000000 // CAST(SUM(n_chars) AS BIGINT)
        |  END AS savings_ppm
        |FROM j GROUP BY source ORDER BY source""".stripMargin),

    "q_dedup_density" -> (ccPrelude +
      """,
        |direct AS (
        |  SELECT c.comp, COUNT(*) AS n_direct
        |  FROM tpairs t JOIN cc c ON c.node = t.src GROUP BY c.comp),
        |f AS (
        |  SELECT s.comp, s.csize, COALESCE(d.n_direct, 0) AS n_direct
        |  FROM sizes s LEFT JOIN direct d ON d.comp = s.comp
        |  WHERE s.csize BETWEEN 2 AND 64)
        |SELECT csize, COUNT(*) AS n_clusters,
        |  CAST(SUM(n_direct) AS BIGINT) AS n_direct_pairs,
        |  CAST(SUM(csize * (csize - 1) // 2) AS BIGINT) AS n_possible_pairs,
        |  CAST(SUM(n_direct) AS BIGINT) * 1000000
        |    // CAST(SUM(csize * (csize - 1) // 2) AS BIGINT) AS density_ppm
        |FROM f GROUP BY csize ORDER BY csize""".stripMargin),

    "q_dedup_best_quality" -> (ccPrelude +
      """,
        |jd AS (
        |  SELECT c.comp, d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
        |  FROM documents d JOIN cc c ON c.node = d.doc_id)
        |SELECT j.comp, s.csize, j.doc_id AS survivor_id,
        |  j.n_chars AS survivor_n_chars
        |FROM (
        |  SELECT comp, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY comp
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM jd) j
        |JOIN sizes s ON s.comp = j.comp
        |WHERE j.rn = 1 ORDER BY j.comp""".stripMargin),

    "q_dedup_rate" -> (ccPrelude +
      """
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN s.csize >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in_multi,
        |  CAST(SUM(CASE WHEN s.csize >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // COUNT(*) AS dup_rate_ppm,
        |  COUNT(DISTINCT c.comp) AS n_clusters_touched
        |FROM documents d
        |JOIN cc c ON c.node = d.doc_id
        |JOIN sizes s ON s.comp = c.comp
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    "q_dedup_survivors" -> (ccPrelude +
      """
        |SELECT d.doc_id, d.source, s.csize
        |FROM documents d JOIN sizes s ON d.doc_id = s.comp
        |ORDER BY d.doc_id""".stripMargin),

    // composed curation oracle: the ccPrelude's transitive closure,
    // the q_quality_filter rules, and the q_token_budget cut in one
    // statement — lockstep with the Spark composition by construction
    "q_curation_pipeline" -> (ccPrelude +
      """,
        |qual AS (
        |  SELECT d.source, d.doc_id,
        |    CAST(len(list_filter(string_split(lower(d.text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents d
        |  WHERE len(list_filter(string_split(lower(d.text), ' '), x -> x <> '')) >= 25
        |    AND d.n_chars <= len(list_filter(string_split(lower(d.text), ' '), x -> x <> '')) * 8
        |    AND len(list_filter(string_split(lower(d.text), ' '),
        |          x -> x IN ('the', 'a', 'of', 'and', 'in'))) > 0),
        |surv AS (SELECT node AS doc_id FROM cc WHERE node = comp),
        |kept AS (SELECT q.* FROM qual q JOIN surv ON q.doc_id = surv.doc_id),
        |cum AS (
        |  SELECT source, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum_toks
        |  FROM kept)
        |SELECT source, COUNT(*) AS n_docs, CAST(MAX(cum_toks) AS BIGINT) AS tokens_taken
        |FROM cum WHERE cum_toks <= 1500
        |GROUP BY source ORDER BY source""".stripMargin))
}
