package graft

/** Physical-plan regression guards: the scale properties ARCHITECTURE.md
  * claims must stay true as the catalog evolves. Each assertion pins a
  * Catalyst planning outcome, not a result value. */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    val qe = df.queryExecution
    df.collect() // finalize AQE so codegen stages are visible in the plan
    qe.executedPlan.toString
  }

  test("catalog-wide plan hygiene: no accidental cartesian products") {
    // cross joins are deliberate only in these bounded-side queries
    val intended = Set("q_cross_join_packs", "q_cosine_topk", "q_ann_buckets",
      "q_ivf_topk", "q_gap_fill", "q_tfidf", "q_embed_near_dup")
    SparkEntry.queries.keys.filterNot(intended).foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct")
    }
  }

  test("q_tpch_q1: shipdate filter pushed into the parquet scan, schema pruned") {
    val p = plan("q_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(800))
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q_tpch_q3: both joins broadcast, top-10 via TakeOrderedAndProject") {
    val p = plan("q_tpch_q3")
    assert(p.contains("TakeOrderedAndProject(limit=10"))
    assert(p.split("BroadcastHashJoin").length >= 3, "expected 2 broadcast joins")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "customer filter must push down")
  }

  test("q_dim_lookup: dim chain is broadcast-hash joined") {
    val p = plan("q_dim_lookup")
    assert(p.split("BroadcastHashJoin").length >= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_topk_orders: TakeOrderedAndProject, no global Sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject(limit=10"))
  }

  test("q_top1_per_key / q_topk_per_group: native whole-operator, no Sort/Window") {
    Seq("q_top1_per_key", "q_topk_per_group").foreach { q =>
      val p = plan(q)
      assert(p.contains("TopKPerGroupPartial"), s"$q missing map-side partial")
      assert(p.contains("TopKPerGroup"), s"$q missing final operator")
      assert(!p.contains("WindowGroupLimit") && !p.contains(" Window "),
        s"$q should not fall back to the window pipeline")
    }
  }

  test("session batch rides the native top-k: keywords/user_cf/trending, no window fallback") {
    Seq("q_keywords", "q_user_cf", "q_trending_terms").foreach { q =>
      val p = plan(q)
      assert(p.contains("TopKPerGroup"), s"$q must use the native bounded heap")
      assert(!p.contains("WindowGroupLimit"),
        s"$q should not fall back to the window-group-limit pipeline")
    }
  }

  test("q_negative_sampling: proposal-to-index join is hash on pidx, anti join present") {
    // the 1-row broadcast crossJoins (np, min/max) legitimately plan as
    // BNLJ; the regression this pins is the INDEX join demoting to a
    // nested loop when np is referenced from the right side (19 s → 1 s)
    val p = plan("q_negative_sampling")
    assert(p.contains("BroadcastHashJoin [(pmod(h"),
      "proposal→index lookup must be a broadcast HASH join on the computed pidx key")
    assert(p.contains("LeftAnti"), "collision rejection must be an anti join")
  }

  test("moment-aggregate family: one hash-agg pair, no Sort, no Window") {
    Seq("q_embed_cov", "q_decision_stump", "q_fano", "q_propensity").foreach { q =>
      val p = plan(q)
      assert(!p.contains(" Window "), s"$q must not plan a window")
      assert(p.contains("HashAggregate"), s"$q must hash-aggregate")
    }
  }

  test("q_filter_contains: StringContains pushed to the scan") {
    assert(plan("q_filter_contains").contains("StringContains(text,sort merge)"))
  }

  test("q_cross_join_packs: bounded sides, nested-loop broadcast join") {
    val p = plan("q_cross_join_packs")
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_anti_join_packs / q_semi_join: planned as anti/semi, not outer+filter") {
    assert(plan("q_anti_join_packs").contains("LeftAnti"))
    assert(plan("q_semi_join").contains("LeftSemi"))
  }

  test("q_cosine_topk: codegen'd graft_dot in the plan, not interpreted lambdas") {
    // pin the RAW pipeline (catalog entry memoizes to a checkpoint scan)
    val df = graft.operators.VectorOps.cosineTopkPlan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_dot"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must be broadcast")
  }

  test("q_cms_freq: sketch combines map-side and broadcasts to the probe") {
    val p = plan("q_cms_freq")
    assert(p.contains("partial_graft_cms"),
      "the CMS aggregate must produce map-side partials (mergeable sketch)")
    assert(p.contains("BroadcastExchange"), "the 1-row sketch must broadcast")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      "top-20 probe set must be a bounded heap, not a global sort")
  }

  test("q_zorder_key: interleave is pure projection arithmetic on a pushed-filter scan") {
    val p = plan("q_zorder_key")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey"),
      p.take(600))
    assert(p.contains("shiftleft"), "the Morton cascade must stay in the projection")
    assert(!p.contains("Join"), "no join belongs in a layout-key computation")
  }

  test("q_hilbert_key: staged rotation stays projection-only on a pushed-filter scan") {
    // 33 chained projections overflow the default plan-string budget,
    // truncating the scan node out of toString — raise it for this pin
    val prev = spark.conf.get("spark.sql.maxPlanStringLength")
    spark.conf.set("spark.sql.maxPlanStringLength", "10000000")
    val p = try plan("q_hilbert_key")
    finally spark.conf.set("spark.sql.maxPlanStringLength", prev)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey"),
      p.take(600))
    assert(!p.contains("Join"), "no join belongs in a layout-key computation")
    assert(!p.contains("Exchange hashpartitioning"),
      "the 16 rotation rounds must not introduce a shuffle (sort-only output)")
    // all 16 staged projections fuse into ONE whole-stage-codegen span
    // ("*(1)" stage-id prefixes, as in the scalar-suite pin below)
    assert(p.contains("*(1) Project"), "rotation rounds must be codegen'd")
  }

  test("q_interval_bin_join: bin replication plans an equi join, never a nested loop") {
    val p = plan("q_interval_bin_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the whole point of binning is escaping the O(n*m) interval probe")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected an equi join on the bin id")
  }

  test("q_asof_forward / q_asof_inner: native AsOfJoin with the right mode flags") {
    Seq(("q_asof_forward", "AsOfForward"), ("q_asof_inner", "AsOfBackward"))
      .foreach { case (q, dir) =>
        val p = plan(q)
        assert(p.contains("AsOfJoin") && p.contains(dir), s"$q: $dir expected")
        assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"),
          s"$q must not fall back to window/pair-join plans")
      }
  }

  test("sparse jaccard fallback plans the PPJoin shape: sorted-merge verify, no count-agg join") {
    import spark.implicits._
    val dt = (0 until 50).map(i =>
        ("s0", i.toLong, Seq("hot") ++ (0 until 4).map(k => s"u${i}_$k")))
      .toDF("source", "doc_id", "toks")
    // maxMaskWords = 0 forces the sparse fallback regardless of vocab
    val df = graft.operators.TextOps
      .tokenJaccardPairs(dt, threshold = 0.8, maxMaskWords = 0)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_sorted_inter"),
      "verification must be the codegen'd two-pointer merge, not a per-token count agg")
    assert(!p.contains("bit_count"), "must not pick the dense bitmask path")
  }

  test("q_dedup_incremental: prefix-filtered candidates, sorted-merge verify") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("graft_sorted_inter"),
      "delta-vs-corpus verification must be the codegen'd two-pointer merge")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tpch_q8: every dimension chain broadcasts around one fact shuffle") {
    val p = plan("q_tpch_q8")
    assert(p.split("BroadcastHashJoin").length >= 3,
      "part semi, customer-region semi, and supplier-nation joins must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tpch_q15: the max-revenue probe joins broadcast, never a second fact pass") {
    val p = plan("q_tpch_q15")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tpch_q17: brand dim broadcast semi-prunes the fact before the stats pass") {
    val p = plan("q_tpch_q17")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the selective dim filter must reach lineitem as a broadcast semi join")
  }

  test("q_pq_codes: per-subspace centroids broadcast to the dim-exploded vectors") {
    val p = plan("q_pq_codes")
    assert(p.contains("BroadcastHashJoin"), "centroid tables must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tpch_q9: both-key partsupp join plans as an equi join, never a nested loop") {
    val p = plan("q_tpch_q9")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "the (partkey, suppkey) join must be an equi join")
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "fact-side joins must not degrade to nested loops")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tpch_q2 / q_tpch_q11: derived partsupp probes broadcast around one shuffle") {
    Seq("q_tpch_q2", "q_tpch_q11").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: dimension sides must broadcast")
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct")
    }
  }

  test("budget/packing family: two-phase scan — no full-data window keyed on source alone") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    Seq("q_token_budget", "q_mix_sample", "q_seq_pack", "q_curation_pipeline",
        "q_epoch_shuffle")
      .foreach { q =>
        val sp = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
        val wins = sp.collect { case w: WindowExec => w }
        // the bucketed local-scan window must exist: partition spec
        // carries the synthetic prefix-sum bucket next to the stream key
        assert(wins.exists(_.partitionSpec.exists(
            _.references.exists(_.name.startsWith("_psb")))),
          s"$q: missing the (part, bucket)-keyed local running-sum window")
        // any window keyed on `source` alone — or on NOTHING, the
        // global-order form q_epoch_shuffle uses — must sit above an
        // aggregate (the tiny per-bucket totals), never the full data —
        // that single-task sort is exactly what the two-phase scan
        // exists to remove
        wins.foreach { w =>
          val refs = w.partitionSpec.flatMap(_.references.map(_.name)).distinct
          if (refs == Seq("source") || refs.isEmpty) {
            assert(w.find {
                case _: BaseAggregateExec => true
                case _ => false
              }.isDefined,
              s"$q: a source-only window runs over unaggregated data:\n$w")
          }
        }
      }
  }

  test("q_skyline: dominance via two-phase prefix max — keyless windows only over aggregates") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("q_skyline")(spark, sf).queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    // the bucketed local-scan window exists (runningMaxExclusive's _pmb)
    assert(wins.exists(_.partitionSpec.exists(
        _.references.exists(_.name.startsWith("_pmb")))),
      "missing the bucket-keyed local prefix-max window")
    // any keyless window (the per-bucket offsets scan) must sit above
    // an aggregate — never the raw per-customer data
    wins.foreach { w =>
      if (w.partitionSpec.isEmpty)
        assert(w.find {
            case _: BaseAggregateExec => true
            case _ => false
          }.isDefined, s"a keyless window runs over unaggregated data:\n$w")
    }
  }

  test("q_ivfpq_topk: codebook, LUT, and probe sides broadcast — no shuffle join on small sides") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // the RAW pipeline (catalog entry memoizes to a checkpoint scan)
    val sp = graft.operators.VectorOps.ivfpqTopkPlan(spark, sf)
      .queryExecution.sparkPlan
    val bhj = sp.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 4,
      s"coarse/codebook/LUT/probe joins should all broadcast, got ${bhj.size}")
    val smj = sp.collect { case j: SortMergeJoinExec => j }
    // sort-merge is legitimate only for the big⋈big joins — all keyed
    // on vec_id (training update, probe codes⋈cells); the codebook /
    // LUT / query-cell sides must never fall out of broadcast
    smj.foreach { j =>
      assert(j.leftKeys.forall(_.references.forall(_.name.startsWith("vec_id"))),
        s"sort-merge join on a non-vec_id key (a small side lost its broadcast):\n$j")
    }
  }

  test("snapshot DSv2 scan: filters push and columns prune through the connector scan node") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2").toString
    val t = graft.sources.SnapshotTable(dir)
    t.commit((0L until 1000L).map(i => (i, s"src${i % 3}", i * 7))
      .toDF("doc_id", "source", "n_chars"))
    val df = t.read(spark).filter(col("doc_id") < 100).select("doc_id", "source")
    assert(df.count() === 100)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), s"snapshot read must plan a DSv2 BatchScan:\n${p.take(600)}")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"),
      s"filter must push into the snapshot scan:\n${p.take(900)}")
    assert(p.contains("ReadSchema") && !p.contains("n_chars"),
      "unused columns must be pruned from the snapshot scan")
    // the CDC read path reports through the same connector scan
    val v1 = t.commit((1000L until 1200L).map(i => (i, s"src${i % 3}", i * 7))
      .toDF("doc_id", "source", "n_chars"))
    val cdc = t.readChanges(spark, 0L, v1).filter(col("n_chars") > 7100)
      .select("doc_id")
    assert(cdc.count() === 185)
    val pc = cdc.queryExecution.executedPlan.toString
    assert(pc.contains("BatchScan") && pc.contains("GreaterThan(n_chars,7100)"),
      s"CDC delta read must be a DSv2 scan with the filter pushed:\n${pc.take(900)}")
    // a renamed column: the mapped range reads the same connector scan,
    // its filter pushed under the column's frozen physical name
    t.renameColumn("n_chars", "chars")
    val v2 = t.commit((1200L until 1400L).map(i => (i, s"src${i % 3}", i * 7))
      .toDF("doc_id", "source", "chars"))
    val mapped = t.readChanges(spark, v1, v2).filter(col("chars") > 9700)
      .select("doc_id")
    assert(mapped.count() === 14)
    val pm = mapped.queryExecution.executedPlan.toString
    assert(pm.contains("BatchScan") && pm.contains("GreaterThan(n_chars,9700)"),
      s"a mapped CDC delta read must be a DSv2 scan with the filter pushed " +
        s"under the physical name:\n${pm.take(900)}")
  }

  test("q_fuzzy_match: blocking plans an equi join, never a nested loop") {
    // pin the RAW pipeline: the catalog entry is memoized and executes
    // as a checkpoint scan after first use (the itemsetPairsPlan rule)
    val df = graft.operators.TextOps.fuzzyMatchPlan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the whole point of first-token blocking is escaping the all-pairs distance matrix")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "expected an equi join on the block key")
  }

  test("q_chunk_overlap: narrow chunking — no join, no hash shuffle") {
    val p = plan("q_chunk_overlap")
    assert(!p.contains("Join"), "chunking must not join")
    assert(!p.contains("Exchange hashpartitioning"),
      "only the deterministic output sort may shuffle")
  }

  test("scalar suite stays inside whole-stage codegen; only the output sort shuffles") {
    val p = plan("q_convert_speed")
    // "*(n)" prefixes = whole-stage-codegen stage ids in the final plan
    assert(p.contains("*(1) Project"), "scalar projection must be codegen'd")
    // the only Exchange is the range partitioning for the deterministic
    // output orderBy — the transform itself never hash-shuffles
    assert(p.contains("Exchange rangepartitioning"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("snapshot DSv2 scan reports statistics: a small snapshot table broadcasts") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString
    val t = graft.sources.SnapshotTable(dir)
    t.commit((0L until 50L).map(i => (i, s"name$i")).toDF("k", "v"))
    val big = spark.range(0, 500000)
      .select(col("id").as("k"), (col("id") * 3).as("x"))
    // AQE OFF: the point is the PLANNING-TIME decision. At 100 TB a
    // wrong pre-AQE plan materializes a huge first shuffle before AQE
    // can correct it, so the manifest statistics (rows + bytes) must
    // reach Catalyst's size-based join selection on their own.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = big.join(t.read(spark), "k") // no broadcast() hint on purpose
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"small snapshot side must auto-broadcast WITHOUT AQE:\n${p.take(900)}")
      assert(!p.contains("SortMergeJoin"))
      assert(j.count() === 50)
      // the scan-level estimate is the EXACT manifest row count, not a
      // bytes/row guess — the stats path VERDICT r6 item 4 pins
      val stats = j.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics] =>
          r.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
            .estimateStatistics()
      }
      assert(stats.nonEmpty, "snapshot scan must implement SupportsReportStatistics")
      assert(stats.head.numRows.getAsLong === 50L,
        "numRows must be the exact manifest count")
      assert(stats.head.sizeInBytes.isPresent && stats.head.sizeInBytes.getAsLong > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_itemset_pairs: frequent-singleton prune broadcasts; pair-gen is an equi join") {
    // pin the RAW mining pipeline: the catalog entry is memoized and
    // executes as a checkpoint scan after first use
    val df = graft.analytics.RelQueries.itemsetPairsPlan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the A-priori singleton filter must broadcast to the item list")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair generation must stay an equi join on l_orderkey")
  }

  test("q_negative_sampling: index probe broadcasts small catalogs, shuffles big ones") {
    // small catalog (default gate): the index probe is a broadcast-hash
    // equi join — zero shuffle of the 4·|customers| candidate side
    val small = graft.analytics.RelQueries.negativeSampling(spark, sf)
    small.collect()
    val ps = small.queryExecution.executedPlan.toString
    assert(ps.contains("BroadcastHashJoin"),
      s"small item index must broadcast:\n${ps.take(600)}")
    // forced past the gate (and with broadcast fully disabled so tiny
    // test data can't re-broadcast via size stats or AQE): the join
    // must stay an EQUI shuffle join — the r6 verdict's scale path for
    // 10⁸-item catalogs — never demote to a nested loop
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val large = graft.analytics.RelQueries.negativeSampling(spark, sf,
        broadcastMaxRows = 0L)
      val pl = large.queryExecution.executedPlan.toString
      // the 1-row scalar probes (np/klo/khi) legitimately stay BNLJ
      // broadcasts; the assertion targets the INDEX probe join on pidx
      assert(pl.linesIterator.exists(l =>
          (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
            l.contains("pidx")),
        s"past the gate the pidx probe must shuffle-equi-join:\n${pl.take(900)}")
      assert(!pl.contains("CartesianProduct"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q_tfidf_cosine: inverted-index probe is a broadcast equi join on token") {
    val p = plan("q_tfidf_cosine")
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("token")),
      s"probe side must broadcast-equi-join the index on token:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_profile: all four columns profile through ONE parquet scan") {
    // AQE's toString prints Final AND Initial plans — count only the final
    val p = plan("q_profile").split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans === 1, s"profiler must be a single-pass aggregate, found $scans scans")
  }

  test("q_link_predict: hub cap and ranking both run the native top-k; anti join stays LeftAnti") {
    val p = plan("q_link_predict")
    assert(p.contains("TopKPerGroup"), "edge cap / ranking must use the native operator")
    assert(!p.contains("WindowGroupLimit") && !p.contains(" Window "),
      "must not fall back to the window pipeline")
    assert(p.contains("LeftAnti"), "existing-edge exclusion must stay an anti join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q_item_recos: ranking runs the native top-k operator, no Sort/Window") {
    val p = plan("q_item_recos")
    assert(p.contains("TopKPerGroup"), "reco ranking must use the native operator")
    assert(!p.contains("WindowGroupLimit") && !p.contains(" Window "),
      "must not fall back to the window pipeline")
  }

  test("q_rfm: quintile ranks run the two-phase scan — no global full-data sort window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("q_rfm")(spark, sf).queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    // the local rank windows carry the synthetic prefix-sum bucket
    assert(wins.exists(_.partitionSpec.exists(
        _.references.exists(_.name.startsWith("_psb")))),
      "missing the bucket-keyed local rank window")
    // any GLOBAL window (empty partition spec — the exclusive offset
    // scan) must run over the tiny per-bucket totals aggregate, never
    // the customer data: that single-task sort is what ntile(5) would
    // have cost and what the two-phase rank exists to avoid
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.find {
          case _: BaseAggregateExec => true
          case _ => false
        }.isDefined,
        s"global window over unaggregated data:\n$w")
    }
  }

  test("q_outlier_mad: both medians run the two-phase rank — no global full-data sort window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = SparkEntry.queries("q_outlier_mad")(spark, sf).queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.exists(
        _.references.exists(_.name.startsWith("_psb")))),
      "missing the bucket-keyed local rank window")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.find {
          case _: BaseAggregateExec => true
          case _ => false
        }.isDefined,
        s"global window over unaggregated data:\n$w")
    }
  }

  test("q_khop_reach: a BFS round is equi joins on the node id, never nested loops") {
    // the query localCheckpoints each round (lineage truncation), so
    // the round shape is pinned on the un-checkpointed round builder
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val dist = Seq((1L, 0L)).toDF("node", "hops")
    val p = graft.operators.GraphOps.bfsRound(dist.select(col("node"), col("hops")),
      edges, dist, 1).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "frontier expansion must shuffle/broadcast on node equality only")
    // the anti-join keeps min-hop semantics (visited nodes never re-enter)
    assert(p.contains("LeftAnti"), s"missing the visited-set anti join:\n$p")
  }

  test("q_image_near_dup: band-equality joins only, hamming verified by bit_count") {
    val p = plan("q_image_near_dup")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "banded candidate generation must never fall back to all-pairs")
    assert(p.contains("bit_count"),
      "hamming verification must stay a codegen'd bitwise expression")
  }

  test("q_spatial_join: grid-cell equi join — the distance predicate never plans a theta join") {
    val p = plan("q_spatial_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"radius join must ride the cell key, not all pairs:\n${p.take(1500)}")
    // the exact distance filter runs AFTER the equi join as a plain
    // codegen'd condition, visible as the join condition/filter on dist
    assert(p.contains("Join") || p.contains("join"), "expected a join in the plan")
  }

  test("q_skipgram_pairs: window pairing is an equi join on (doc, pos+offset)") {
    val p = plan("q_skipgram_pairs")
    assert(!p.contains("CartesianProduct"),
      "pair generation must never plan the |pos diff| theta form")
    // the only nested-loop joins allowed are the deliberate 1-row
    // aggregate-probe cross joins (vocab bounds / vocab size); the
    // data-plane pairing must never appear as an Inner/Outer BNLJ
    p.split('\n').filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-probe nested loop join:\n$l")
    }
  }

  test("q_sorted_neighborhood: global rank runs the two-phase scan; window join is equi") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // the RAW pipeline (catalog entry memoizes to a checkpoint scan)
    val df = graft.operators.TextOps.sortedNeighborhoodPlan(spark, sf)
    val sp = df.queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.exists(
        _.references.exists(_.name.startsWith("_psb")))),
      "missing the bucket-keyed local rank window")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.find {
          case _: BaseAggregateExec => true
          case _ => false
        }.isDefined,
        s"global window over unaggregated data:\n$w")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "rank-window candidates must come from the 1-D grid equi join")
  }

  test("q_itemset_triples: pair-screen prune broadcasts; triple-gen is explode-only") {
    // r16: sorted-basket posexplode/slice chain (codegen Generates, no
    // interpreted HOF) — the r15 self-join regression pinned out
    val p = plan("q_itemset_triples")
    assert(p.contains("BroadcastHashJoin"),
      "the pair-item prune must broadcast against the fact")
    assert(!p.contains("SortMergeJoin"),
      "triple generation must come from basket explodes, not a self-join")
    assert(p.contains("Generate posexplode") && p.contains("Generate explode"),
      "missing the chained posexplode/slice pipeline")
  }

  test("LSH/simhash 64-caps: native bounded-heap top-k, no window sort, no self-join") {
    // the RAW candidate pipelines (consumers checkpoint the results)
    Seq(
      "q_lsh_tuning" -> graft.operators.TextOps.lshTuningCandsPlan(spark, sf),
      "q_simhash_eval" -> graft.operators.TextOps.simhashCandsPlan(spark, sf)
    ).foreach { case (q, df) =>
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKPerGroup"),
        s"$q cap must run the native bounded heap, not a window sort")
      assert(!p.contains("WindowExec") && !p.contains(" Window "),
        s"$q must not fall back to a full window sort")
      assert(!p.contains("SortMergeJoin"),
        s"$q pair fan-out must come from within-bucket explodes, not a self-join")
      assert(p.contains("Generate posexplode"),
        s"$q missing the sorted-array slice-explode pair generation")
    }
  }

  test("q_user_cf pair-gen: sorted-set slice explodes, no self-join, no HOF filter") {
    // the RAW pre-checkpoint pipeline (the catalog entry checkpoints
    // the pair table because both symmetrization branches consume it)
    val df = graft.analytics.RelQueries.userCfPairsPlan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "pair generation must not re-shuffle-join the interaction table")
    assert(p.contains("Generate posexplode") && p.contains("Generate explode"),
      "missing the sorted-set posexplode/slice pipeline")
    assert(!p.contains("ArrayFilter") && !p.contains("lambdafunction"),
      "no interpreted higher-order filter in the pair fan-out")
  }

  test("q_mutual_info: source dimension and total broadcast to the vocab grid") {
    val p = plan("q_mutual_info")
    assert(!p.contains("CartesianProduct"))
    // the source-dim and N probes ride broadcast; only vocab-sized
    // exchanges remain (token hash-aggs + the token-keyed cell join)
    assert(p.split("BroadcastNestedLoopJoin").length >= 2 ||
      p.split("BroadcastHashJoin").length >= 2,
      "grid completion must broadcast the small sides")
  }

  test("q_hits: every half-round is an equi join + hash agg, never a nested loop") {
    val p = plan("q_hits")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "HITS rounds must plan as equi joins on the node id")
  }

  test("q_rouge_overlap: probe bigram sets broadcast against the corpus index") {
    val p = plan("q_rouge_overlap")
    assert(p.contains("BroadcastHashJoin"),
      "the probe join must broadcast the bounded probe side, never shuffle the index")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "probe-bounded retrieval must not shuffle-join the bigram index:\n" + p.take(800))
  }

  test("q_minhash_est: probe-bounded — exact side and signature compare join on keys") {
    val p = plan("q_minhash_est")
    assert(p.contains("BroadcastHashJoin"),
      "the probe signature side must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_psi_drift: documents scan prunes to (source, n_chars) — text never read") {
    val p = plan("q_psi_drift")
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq
      .filter(_.contains("struct"))
    assert(reads.nonEmpty)
    assert(reads.forall(!_.contains("text")),
      s"the length ladder needs no text column:\n${reads.mkString("\n")}")
  }

  test("q_price_index: base basket broadcasts, lineitem scan prunes to 4 columns") {
    val p = plan("q_price_index")
    assert(p.contains("BroadcastHashJoin"),
      "the base-month basket is dimension-sized and must broadcast")
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq.filter(_.contains("struct"))
    assert(reads.nonEmpty)
    assert(reads.forall(!_.contains("l_orderkey")),
      s"the index needs only shipdate/partkey/quantity/extendedprice:\n${reads.mkString("\n")}")
  }

  test("q_mrl_recall: truncated probe rows broadcast against the corpus scan") {
    val p = plan("q_mrl_recall")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤15 probe rows must broadcast; the corpus side never shuffles for scoring")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dsir_weights: both ≤256-row LM ratio tables broadcast to the token scan") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "the feature-hashed ratio table is O(buckets) and must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_kcore: per-round peel is semi joins + hash aggs, never a nested loop on edges") {
    // the per-round edge restriction executes eagerly inside each
    // round's localCheckpoint, so the RETURNED frame's plan only shows
    // the checkpointed summaries — pin the round dataflow directly
    import org.apache.spark.sql.functions._
    val edges = graft.sources.Tables.orders(spark, sf)
      .select(pmod(col("o_custkey"), lit(600L)).as("a"),
        pmod(col("o_orderkey"), lit(600L)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = edges.select(col("a").as("n"))
      .unionAll(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val surv = deg.filter(col("deg") >= 3).select("n")
    val restricted = edges
      .join(surv.select(col("n").as("a")), Seq("a"), "left_semi")
      .join(surv.select(col("n").as("b")), Seq("b"), "left_semi")
    restricted.collect()
    val p = restricted.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), "edge restriction must plan as semi joins")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // and the returned summary frame stays cartesian-free
    assert(!plan("q_kcore").contains("CartesianProduct"))
  }

  test("q_jpeg_decode: documents scan prunes to doc_id — payloads derive, text never read") {
    val p = plan("q_jpeg_decode")
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq
      .filter(_.contains("struct"))
    assert(reads.nonEmpty)
    assert(reads.forall(r => !r.contains("text") && !r.contains("source")),
      s"decode synthesizes payloads from doc_id alone:\n${reads.mkString("\n")}")
  }

  test("q_maxsim: probe components broadcast; corpus side never shuffle-joins") {
    val p = plan("q_maxsim")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤192-component probe side must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "probe-bounded late interaction must not shuffle the corpus:\n" + p.take(800))
  }

  test("q_psm_match: the score-lattice control side broadcasts into the caliper probe") {
    val p = plan("q_psm_match")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤1001-row control lattice must broadcast, never shuffle treated users")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_burstiness: global top-30 plans as TakeOrdered, never a full sort") {
    val p = plan("q_burstiness")
    assert(p.contains("TakeOrderedAndProject(limit=30"), p.take(600))
  }

  test("q_self_bleu: probe bigram set and filtered index both broadcast") {
    val p = plan("q_self_bleu")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the probe-filtered index is bounded — it must broadcast:\n" + p.take(800))
  }
}
