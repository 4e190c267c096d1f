package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Scalars._
import graft.sources.Tables._

/** Reference-shaped operators (SURVEY.md §2.3–§2.8) demonstrated on the
  * driver testdata so the DuckDB oracle can verify them (§7.5).
  *
  * Each query is a declarative DataFrame plan — Catalyst handles
  * pushdown/pruning; small dimension sides are explicitly `broadcast`.
  * Every query ends in a total-order `orderBy` with unique tie-breaks so
  * output is deterministic across engines and partition counts.
  */
object RefQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Per-JVM scratch root for queries that materialize a throwaway
    * snapshot table (q_snapshot_timetravel / q_snapshot_changes) —
    * recursively deleted by a shutdown hook, so repeated bench/verify
    * runs over the catalog don't accumulate data under /tmp. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try graft.sources.SnapshotTable.deleteRecursively(p)
      catch { case scala.util.control.NonFatal(_) => () }
    }))
    p
  }
  private def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** Per-JVM sequence for throwaway catalog names (Spark caches
    * catalog instances by name — see q_bucketed_join_mapped). */
  private val spjmSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  val queries: Map[String, Q] = Map(
    // ---- §2.5 scalar suite, each over a synthesized input column ----

    // X1 convert_speed (dags/transform.py:8-29)
    "q_convert_speed" -> ((s, d) => {
      val raw = when(col("p_partkey") % 4 === 0, concat(col("p_size").cast("string"), lit("mbps")))
        .when(col("p_partkey") % 4 === 1, concat(col("p_size").cast("string"), lit("Gbps")))
        .when(col("p_partkey") % 4 === 2, col("p_size").cast("string"))
        .otherwise(lit("junk"))
      part(s, d).select(col("p_partkey"), raw.as("speed_raw"))
        .withColumn("speed_mbps", parseSpeed(col("speed_raw")))
        .withColumn("speed_or_num", speedOrNumeric(col("speed_raw")))
        .orderBy("p_partkey")
    }),

    // X2 unlimited sentinel (dags/utils.py:31-32)
    "q_unlimited_sentinel" -> ((s, d) => {
      val raw = when(col("c_acctbal") < 0, lit("Unlimited").cast("string"))
        .when(col("c_custkey") % 7 === 0, lit("unlimited"))
        .otherwise(col("c_custkey").cast("string"))
      customer(s, d).select(col("c_custkey"), lower(raw).as("raw"))
        .withColumn("parsed", unlimitedToDouble(col("raw")))
        .orderBy("c_custkey")
    }),

    // X3 regex extract with -1 default (dags/viking_class_scraper.py:204-208)
    "q_regex_extract_default" -> ((s, d) => {
      val callsText = when(col("p_partkey") % 3 === 0,
          concat(col("p_size").cast("string"), lit(" minutes + "),
                 (col("p_partkey") % 50).cast("string"), lit(" texts")))
        .when(col("p_partkey") % 3 === 1, lit("Unlimited calls"))
        .otherwise(col("p_name"))
      part(s, d).select(col("p_partkey"), callsText.as("calls_text"))
        .withColumn("minutes", regexExtractOrMinus1(col("calls_text"), "(\\d+) minutes"))
        .withColumn("texts", regexExtractOrMinus1(col("calls_text"), "(\\d+) texts"))
        .orderBy("p_partkey")
    }),

    // X4 first-number extract (dags/viking_class_scraper.py:377-379)
    "q_regex_first_number" -> ((s, d) =>
      events(s, d).select(col("event_id"), col("props"))
        .withColumn("first_num", firstNumber(col("props")))
        .orderBy("event_id")),

    // X5 digit filter (dags/scarlet_scraper.py:238-244)
    "q_digit_filter" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          concat(col("props"), lit("#"), col("event_id").cast("string")).as("raw"))
        .withColumn("digits", digitFilter(col("raw")))
        .orderBy("event_id")),

    // X6 ASCII scrub (dags/viking_scraper.py:164-165)
    "q_ascii_scrub" -> ((s, d) =>
      part(s, d)
        .select(col("p_partkey"),
          concat(lit("€"), col("p_name"), lit(" "), col("p_brand")).as("raw"))
        .withColumn("scrubbed", asciiScrub(col("raw")))
        .orderBy("p_partkey")),

    // X7 price normalize + scarlet decimal-concat (dags/viking_class_scraper.py:201,
    // dags/scarlet_scraper.py:352 — "15"+"99" → 1599.0 is faithful)
    "q_price_normalize" -> ((s, d) =>
      part(s, d).select(col("p_partkey"),
          concat(lit("  "), col("p_size").cast("string"), lit(",-")).as("price_raw"),
          (col("p_partkey") % 100).cast("string").as("price_dec"),
          col("p_size").cast("string").as("price_unit"))
        .withColumn("norm_price", priceNormalize(col("price_raw")))
        .withColumn("concat_price",
          decimalConcatPrice(col("price_unit"), col("price_dec")))
        .drop("price_unit")
        .orderBy("p_partkey")),

    // X8 case/trim/replace chain (dags/scarlet_scraper.py:50-56)
    "q_string_chain" -> ((s, d) =>
      part(s, d).select(col("p_partkey"),
          regexp_replace(regexp_replace(lower(trim(col("p_name"))), "small", ""), " ", "_")
            .as("chained"))
        .orderBy("p_partkey")),

    // X9 name synthesis (dags/viking_class_scraper.py:127,211)
    "q_concat_name" -> ((s, d) =>
      part(s, d).select(col("p_partkey"),
          concat_ws("_", lit("mobile_prepaid"), col("p_brand"),
            col("p_size").cast("string"), lit("gb")).as("product_name"))
        .orderBy("p_partkey")),

    // X12 conditional run status (dags/utils.py:56)
    "q_when_status" -> ((s, d) =>
      events(s, d)
        .select(statusOf(when(col("event_type") === "error", lit("boom"))
          .otherwise(lit("no error"))).as("status"),
          col("value"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
             (sum(cents(col("value"))).cast("double") / 100).as("total_value"))
        .orderBy("status")),

    // ---- §2.4 filters ----

    // F1 substring-contains split (dags/viking_class_scraper.py:402-403)
    "q_filter_contains" -> ((s, d) =>
      documents(s, d)
        .filter(col("text").contains("sort merge"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")),

    // F2 equality predicates (dags/bigquery.py:151,243)
    "q_eq_filter" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")),

    // ---- §2.6 joins ----

    // J1 cross-join pack generation (dags/viking_class_scraper.py:389-431):
    // filtered "mobile" × "internet" sets, concat name, price arithmetic
    // with a folded scalar discount. BroadcastNestedLoopJoin: both sides
    // are key-bounded (size-independent of sf), so the cross join is
    // bounded too — the 100 TB-safe shape for this operator.
    "q_cross_join_packs" -> ((s, d) => {
      val p = part(s, d)
      val mobile = p.filter(col("p_type") === "ECONOMY" && col("p_partkey") < 80)
        .select(col("p_partkey").as("m_partkey"), col("p_name").as("m_name"),
                col("p_retailprice").as("m_price"))
      val internet = p.filter(col("p_type") === "SMALL" && col("p_partkey") < 80)
        .select(col("p_partkey").as("i_partkey"), col("p_name").as("i_name"),
                col("p_retailprice").as("i_price"))
      mobile.crossJoin(broadcast(internet))
        .select(col("m_partkey"), col("i_partkey"),
          regexp_replace(concat_ws("_", col("m_name"), col("i_name")), " ", "_").as("pack_name"),
          ((cents(col("m_price")) + cents(col("i_price")) - lit(500L)).cast("double") / 100)
            .as("pack_price"))
        .orderBy("m_partkey", "i_partkey")
    }),

    // J2 insert-if-absent anti join (dags/bigquery.py:137-157)
    "q_anti_join_packs" -> ((s, d) => {
      val existing = orders(s, d).filter(col("o_orderstatus") === "P")
        .select(col("o_custkey"))
      customer(s, d).join(existing, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // J6 semi join / existence probe (dags/bigquery.py:151,243)
    "q_semi_join" -> ((s, d) => {
      val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      customer(s, d).join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // J3 dimension lookup via broadcast equi-join (dags/bigquery.py:243-274)
    "q_dim_lookup" -> ((s, d) =>
      supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"), col("r_name"))
        .orderBy("s_suppkey")),

    // J5/A1 top-1-per-key, faithful ASC (oldest row — dags/bigquery.py:295)
    // via the NATIVE whole-operator (graft.plans.TopKPerGroup): bounded
    // per-group heaps map-side, shuffle of ≤1 survivor per (group,
    // partition), no Sort/WindowExec — row_number() semantics exactly,
    // same DuckDB oracle as the window form it replaced.
    "q_top1_per_key" -> ((s, d) =>
      graft.plans.TopKPerGroup(orders(s, d), Seq(col("o_custkey")),
          Seq(col("o_orderdate").asc, col("o_orderkey").asc), k = 1)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("first_date"),
          col("o_totalprice"))
        .orderBy("o_custkey")),

    // ---- §2.8 SCD change detection ----

    // Change-vs-previous-version detection: null-safe field compare
    // (is_different_record, dags/bigquery.py:53-68) as a window over the
    // version history instead of an N+1 probe loop.
    "q_scd_change_detect" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      orders(s, d)
        .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
        .withColumn("prev_priority", lag(col("o_orderpriority"), 1).over(w))
        .filter(col("prev_status").isNotNull &&
          (!(col("o_orderstatus") <=> col("prev_status")) ||
           !(col("o_orderpriority") <=> col("prev_priority"))))
        .select(col("o_custkey"), col("o_orderkey"), col("prev_status"),
          col("o_orderstatus"), col("prev_priority"), col("o_orderpriority"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Full SCD load (load_products_to_bq, dags/bigquery.py:223-333) as a
    // single set-based job: history current-version (faithful ASC top-1)
    // vs incoming batch → 'insert' (key absent) / 'version' (differs
    // null-safely) / drop (unchanged).
    "q_scd_load" -> ((s, d) => {
      val o = orders(s, d)
      val cutoff = lit(java.time.LocalDateTime.of(1999, 1, 1, 0, 0))
      val wAsc = Window.partitionBy("k").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val hist = o.filter(col("o_orderdate") < cutoff)
        .select(col("o_custkey").as("k"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus").as("cur_status"), col("o_orderpriority").as("cur_priority"))
        .withColumn("rn", row_number().over(wAsc)).filter(col("rn") === 1)
        .select(col("k"), col("cur_status"), col("cur_priority"))
      val incoming = o.filter(col("o_orderdate") >= cutoff)
        .select(col("o_custkey").as("k"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderstatus").as("new_status"), col("o_orderpriority").as("new_priority"))
        .withColumn("rn", row_number().over(wAsc)).filter(col("rn") === 1)
        .select(col("k"), col("o_orderkey"), col("new_status"), col("new_priority"))
      incoming.join(hist, Seq("k"), "left")
        .withColumn("action",
          when(col("cur_status").isNull && col("cur_priority").isNull, lit("insert"))
            .when(!(col("new_status") <=> col("cur_status")) ||
                  !(col("new_priority") <=> col("cur_priority")), lit("version")))
        .filter(col("action").isNotNull)
        .select(col("k").as("o_custkey"), col("o_orderkey"), col("action"),
          col("new_status"), col("new_priority"))
        .orderBy("o_custkey")
    }),

    // P1 star-schema split with deterministic sha2 surrogate keys
    // (prepare_data_for_insertion, dags/bigquery.py:175-220; §7.6): one
    // flat record fans out into product/feature/price projections chained
    // by FK surrogate keys, all computed once per row (no shuffle).
    "q_star_split" -> ((s, d) =>
      orders(s, d)
        .withColumn("scraped_at", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .withColumn("competitor_uuid", surrogateKey(col("o_orderstatus")))
        .withColumn("product_uuid",
          surrogateKey(col("o_orderstatus"), col("o_orderkey").cast("string")))
        .withColumn("feature_uuid",
          surrogateKey(lit("f"), col("o_orderkey").cast("string"), col("scraped_at")))
        .withColumn("price_uuid",
          surrogateKey(lit("p"), col("o_orderkey").cast("string"), col("scraped_at")))
        .select(col("o_orderkey"), col("product_uuid"),
          concat(lit("order_"), col("o_orderkey").cast("string")).as("product_name"),
          col("o_orderpriority").as("product_category"),
          col("o_orderstatus").as("competitor_name"),
          col("competitor_uuid"), col("feature_uuid"), col("price_uuid"),
          col("o_totalprice").as("price"), col("scraped_at"))
        .orderBy("o_orderkey")),

    // U1 union-by-name of heterogeneous sources
    // (dags/viking_class_scraper.py:351-354; options case §1.2)
    "q_union_sources" -> ((s, d) => {
      val a = orders(s, d).select(
        col("o_orderkey").as("key"),
        concat(lit("order_"), col("o_orderkey").cast("string")).as("name"),
        col("o_totalprice").as("price"),
        lit("orders").as("src"))
      val b = part(s, d).select(
        col("p_partkey").as("key"),
        col("p_name").as("name"),
        lit("part").as("src"),
        col("p_type").as("category"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy("src", "key")
    }),

    // E18 transactional snapshot table EXERCISED THROUGH the oracle
    // gate: build a fresh table from document deltas (append, append,
    // replace, clustered compaction), then time-travel-read every
    // version. The output is one aggregate row per version, so the
    // result is independent of file count/order and the oracle is the
    // equivalent frozen SELECT per version's defining predicate. v1
    // is read AFTER the head has moved past it (real time travel, not
    // a head read), and the v3 row must equal v2's aggregates —
    // compaction rewrites layout, never content.
    "q_snapshot_timetravel" -> ((s, d) => {
      val dir = scratchDir("graft_tt")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val v0 = t.commit(docs.filter(col("doc_id") < 250))
      val v1 = t.commit(docs.filter(col("doc_id") >= 250 && col("doc_id") < 500))
      val v2 = t.commit(
        docs.filter(col("doc_id") < 500 && col("n_chars") >= 300), replace = true)
      val v3 = t.compact(s, files = 2, sortKey = Some(col("doc_id")))
      def aggAt(v: Long, tag: String): DataFrame =
        t.readAt(s, v).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            countDistinct(col("source")).as("n_sources"))
          .select(lit(tag).as("version"), col("n_docs"),
            col("sum_chars"), col("n_sources"))
      aggAt(v0, "v0").unionByName(aggAt(v1, "v1"))
        .unionByName(aggAt(v2, "v2_replace"))
        .unionByName(aggAt(v3, "v3_compacted"))
        .orderBy("version")
    }),

    // E18 STORAGE-PARTITIONED JOIN exercised THROUGH the oracle gate:
    // build two snapshot tables bucketed on the join key with the same
    // spec (pay-the-shuffle-once at ingest), register a throwaway
    // catalog, and join them in SQL. The MERGE hint rules out a
    // broadcast plan, so the join must come out of KeyGroupedPartitioning
    // co-location — and the builder REQUIRES the executed plan to be
    // exchange-free before returning, so the oracle gate itself pins
    // the scale shape (a future regression that re-introduces a
    // shuffle fails verify, not just a spec). Values are checked
    // against the plain per-customer aggregate join in DuckDB.
    "q_bucketed_join" -> ((s, d) => {
      val wh = scratchDir("graft_spjq")
      s.conf.set("spark.sql.catalog.graft_spjq",
        classOf[graft.sources.SnapshotCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_spjq.warehouse", wh)
      val tc = graft.sources.SnapshotTable(s"$wh/db/cust")
      val to = graft.sources.SnapshotTable(s"$wh/db/ords")
      tc.commitBucketed(
        customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "c_custkey", 8)
      to.commitBucketed(
        orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("spend_cents")),
        "o_custkey", 8)
      val j = s.sql(
        """SELECT /*+ MERGE(c, o) */ c.c_custkey, c.c_mktsegment,
          |  o.n_orders, o.spend_cents
          |FROM graft_spjq.db.cust c
          |JOIN graft_spjq.db.ords o ON c.c_custkey = o.o_custkey
          |ORDER BY c.c_custkey""".stripMargin)
      // the deterministic-output ORDER BY legitimately plans one
      // rangepartitioning exchange AFTER the join; what must never
      // appear is a join-side shuffle or broadcast
      val plan = j.queryExecution.executedPlan.toString
      if (plan.contains("Exchange hashpartitioning") ||
          plan.contains("BroadcastExchange")) throw new IllegalStateException(
        "bucketed snapshot join planned a join-side exchange — " +
          s"storage-partitioned join regressed:\n$plan")
      j
    }),

    // E18 BLOOM-INDEXED POINT LOOKUPS through the oracle gate: build a
    // snapshot table whose customer keys are HASH-SCATTERED across 8
    // files (every file's [min, max] spans the domain — zone maps
    // cannot prune equality probes), commit with per-file blooms, and
    // run a batch of point lookups. The builder REQUIRES the planned
    // scan to have skipped files for a present key and (modulo bloom
    // fp) all files for an absent one — so a regression in bloom
    // skipping fails verify itself; values hash-check against plain
    // SELECTs in DuckDB.
    "q_bloom_point_lookup" -> ((s, d) => {
      val dir = scratchDir("graft_bfq")
      val t = graft.sources.SnapshotTable(dir)
      t.commitWithBlooms(
        customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
          .repartition(8, col("c_custkey")),
        Seq("c_custkey"), expectedItemsPerFile = 4000)
      def lookup(k: Long) = t.read(s).filter(col("c_custkey") === k)
      def planned(df: DataFrame): Int = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.collect {
              case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
            }.head
        }.collectFirst { case z: graft.sources.ZoneMaps.ZoneMapScan =>
          z.plannedFileCount
        }.getOrElse(8)
      }
      val present = planned(lookup(42L))
      val absent = planned(lookup(999999999L))
      if (present > 4 || absent > 2) throw new IllegalStateException(
        s"bloom point-lookup skipping regressed: present=$present absent=$absent files planned")
      lookup(42L).unionByName(lookup(77L)).unionByName(lookup(999999999L))
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // E18 INCREMENTAL consumption (CDC): readChanges scans only the
    // files appended between two versions — the daily-delta read that
    // replaces full-table rescans for downstream consumers. Exercised
    // as file-listing diffs over a three-append lineage, including the
    // bootstrap read (from = -1) and a two-version span; each range's
    // aggregate must equal the frozen SELECT of exactly the rows that
    // lineage segment appended.
    "q_snapshot_changes" -> ((s, d) => {
      val dir = scratchDir("graft_cdc")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val v0 = t.commit(docs.filter(col("doc_id") < 200))
      val v1 = t.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350))
      val v2 = t.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 500))
      def delta(a: Long, b: Long, tag: String): DataFrame =
        t.readChanges(s, a, b).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .select(lit(tag).as("range"), col("n_docs"), col("sum_chars"))
      delta(-1L, v0, "bootstrap_v0")
        .unionByName(delta(v0, v1, "v0_to_v1"))
        .unionByName(delta(v1, v2, "v1_to_v2"))
        .unionByName(delta(v0, v2, "v0_to_v2"))
        .orderBy("range")
    }),

    // E18 INCREMENTAL AGGREGATE MAINTENANCE exercised through the
    // oracle gate: three appends folded by two IncrementalStats.update
    // runs (bootstrap, then a two-delta fold) — the final stats table,
    // including the in-band thru_version high-water mark, must equal
    // the frozen direct aggregation of everything appended. Any bug in
    // the delta fold, the merge algebra, or the mark handling shifts a
    // count/sum and breaks the hash.
    // E18 COPY-ON-WRITE MERGE exercised through the oracle gate: a
    // clustered snapshot table takes one upsert+delete+insert delta
    // through SnapshotTable.merge, and the FULL post-merge row set is
    // hash-compared against the frozen relational definition of the
    // final state. Updates must replace (not duplicate), deletes must
    // drop, inserts must land, and every untouched row must survive
    // the file-local rewrite byte-identically — any pruning bug that
    // drops or double-reads a file shifts rows and breaks the hash.
    // The compact(sortKey) before the merge is what makes the
    // zone-map touch detection sharp (files cover disjoint key
    // ranges), mirroring how a 100 TB table would be laid out.
    "q_snapshot_merge" -> ((s, d) => {
      val dir = scratchDir("graft_mrg")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 400))
      t.compact(s, files = 4, sortKey = Some(col("doc_id")))
      val delta = docs
        .filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .withColumn("n_chars", col("n_chars") + lit(1000L))
        .withColumn("_deleted", lit(false))
        .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 220)
          .withColumn("_deleted", lit(true)))
        .unionByName(docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
          .withColumn("_deleted", lit(false)))
      t.merge(s, delta, Seq("doc_id"), deleteCol = Some("_deleted"))
      t.read(s).orderBy("doc_id")
    }),

    // E18 PREDICATE DELETE exercised through the oracle gate: three
    // files with known disjoint key ranges take a retention-shaped
    // deleteWhere. The output folds the DmlResult accounting INTO
    // the compared frame, so the hash check proves not just the final
    // row set but the classification itself: the fully-covered file
    // must drop METADATA-ONLY (files_dropped=1 — at 100 TB this is a
    // retention sweep costing O(manifest), no data I/O), the boundary
    // file must rewrite (files_rewritten=1), and the file past the
    // predicate must carry forward untouched (files_untouched=1). Any
    // regression in the zone-map prover — e.g. losing the null-count
    // guard and dropping a straddling file, or rewriting everything —
    // shifts a stat or an aggregate and breaks the hash.
    "q_snapshot_delete" -> ((s, d) => {
      val dir = scratchDir("graft_del")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 200).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 500).repartition(1))
      val r = t.deleteWhere(s, col("doc_id") < 260)
      val acct = s.createDataFrame(Seq(
        ("files_dropped", r.filesDropped.toLong),
        ("files_rewritten", r.filesRewritten.toLong),
        ("files_untouched", r.filesUntouched.toLong),
        ("files_added", r.filesAdded.toLong))).toDF("stat", "value")
      val after = t.read(s)
        .agg(count(lit(1)).as("rows_after"),
          sum(col("n_chars")).cast("long").as("sum_chars_after"),
          min(col("doc_id")).as("min_doc_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_chars_after', sum_chars_after, " +
          "'min_doc_after', min_doc_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 PREDICATE UPDATE exercised through the oracle gate: the FULL
    // post-update row set is hash-compared against the frozen CASE WHEN
    // definition — updated rows must carry the new values (cast back to
    // the manifest column types), every row outside the predicate must
    // survive byte-identically, including rows in the rewritten
    // boundary file that the predicate does not match. File accounting
    // (only covering files rewrite) is pinned in SnapshotTableSpec.
    "q_snapshot_update" -> ((s, d) => {
      val dir = scratchDir("graft_upd")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 200).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 500).repartition(1))
      t.updateWhere(s, col("doc_id") >= 300 && col("doc_id") < 460,
        Map("n_chars" -> (col("n_chars") * 2 + 7),
          "source" -> concat(lit("u_"), col("source"))))
      t.read(s).orderBy("doc_id")
    }),

    // E18 ROW-LEVEL VERSION DIFF: the semantic complement of the
    // file-level readChanges CDC — classify every key as
    // insert/delete/update between a pinned version and head via two
    // key-anti-joins + one changed-row inner join over time-travel
    // reads. Works across ANY lineage (appends, DML rewrites,
    // compaction) precisely where the append-only file diff refuses;
    // cost is one join pass over the two snapshots, keyed and
    // shuffle-partitioned on the table key. The fixture's lineage
    // exercises all three classes (append batch, predicate delete,
    // predicate update) and the oracle recomputes the expected diff
    // arithmetically from the frozen fixture rules.
    "q_snapshot_diff" -> ((s, d) => {
      val dir = scratchDir("graft_dif")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 300).repartition(2))
      val vFrom = t.currentVersion()
      t.commit(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400).repartition(1))
      t.deleteWhere(s, col("doc_id") < 50)
      t.updateWhere(s, col("doc_id") >= 100 && col("doc_id") < 150,
        Map("n_chars" -> (col("n_chars") + 1000)))
      val before = t.readAt(s, vFrom)
      val after = t.read(s)
      val ins = after.join(before.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("change", lit("insert"))
      val del = before.join(after.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("change", lit("delete")) // old row values, by contract
      val upd = after.as("a")
        .join(before.select(col("doc_id"),
          col("source").as("b_source"), col("n_chars").as("b_chars")), "doc_id")
        .filter(col("source") =!= col("b_source") ||
          col("n_chars") =!= col("b_chars"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("change", lit("update")) // new row values
      ins.unionByName(del).unionByName(upd)
        .select(col("change"), col("doc_id"), col("source"), col("n_chars"))
        .orderBy("change", "doc_id")
    }),

    // E18 MERGE-ON-READ DELETION VECTORS exercised through the oracle
    // gate: two predicate deletes land as `#dv=` position vectors on
    // the files they straddle — files_rewritten/files_added must be 0
    // (the 100 TB write-amplification fix: a trickle delete commits
    // O(deleted rows) bytes, never a file rewrite), the second delete
    // proves vector MERGING on an already-vectored file, the read path
    // proves the anti-join subtracts exactly the deleted keys, time
    // travel proves the old snapshot still reads whole, and the change
    // feed proves the commit-time sidecar replays exactly the deleted
    // rows. The oracle recomputes every number arithmetically from the
    // frozen predicates.
    "q_snapshot_dv" -> ((s, d) => {
      val dir = scratchDir("graft_dvq")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 200).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 500).repartition(1))
      val v0 = t.currentVersion()
      val r1 = t.deleteWhere(s, col("doc_id") % 10 === 3 && col("doc_id") < 230,
        dvMaxRowsPerFile = 1000)
      val r2 = t.deleteWhere(s, col("doc_id") === 24, dvMaxRowsPerFile = 1000)
      val cdcDeletes = t.readChangesCdc(s, v0, r2.version)
        .filter(col("_change_type") === "delete").count()
      val acct = s.createDataFrame(Seq(
        ("files_rewritten", (r1.filesRewritten + r2.filesRewritten).toLong),
        ("files_added", (r1.filesAdded + r2.filesAdded).toLong),
        ("files_dv_updated", (r1.filesDvUpdated + r2.filesDvUpdated).toLong),
        ("dv_rows_added", r1.dvRowsAdded + r2.dvRowsAdded),
        ("cdc_delete_rows", cdcDeletes),
        ("rows_time_travel", t.readAt(s, v0).count()))).toDF("stat", "value")
      val after = t.read(s)
        .agg(count(lit(1)).as("rows_after"),
          sum(col("n_chars")).cast("long").as("sum_chars_after"),
          sum(col("doc_id")).cast("long").as("sum_doc_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_chars_after', sum_chars_after, " +
          "'sum_doc_after', sum_doc_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 MERGE-ON-READ UPDATE + MERGE exercised through the oracle
    // gate (round 12, the write-amplification fix extended to the full
    // DML triad): a predicate UPDATE vectors its matched rows out and
    // appends the new versions; a keyed MERGE with update/delete/insert
    // arms vectors the matched target rows and appends only the
    // upserts — files_rewritten must be 0 across BOTH, the vector
    // accounting is pinned per verb, the change feed must replay
    // exactly old-versions-as-deletes + new-versions-as-inserts (no
    // carried-along noise — the MOR feed is EXACT, unlike the
    // copy-on-write file-diff), and the final row set is recomputed
    // arithmetically.
    "q_snapshot_mor" -> ((s, d) => {
      val dir = scratchDir("graft_mor")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 200).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 500).repartition(1))
      val v0 = t.currentVersion()
      val u = t.updateWhere(s, col("doc_id") % 50 === 3 && col("doc_id") < 300,
        Map("n_chars" -> (col("n_chars") + 100000L)), dvMaxRowsPerFile = 1000)
      val delta = s.createDataFrame(Seq(
        (10L, "m", 777L, false), (210L, "m", 777L, false),
        (20L, "m", 0L, true), (420L, "m", 0L, true),
        (900L, "m", 777L, false), (901L, "m", 777L, false)))
        .toDF("doc_id", "source", "n_chars", "_del")
      val m = t.merge(s, delta, Seq("doc_id"), deleteCol = Some("_del"),
        dvMaxRowsPerFile = 1000)
      val cdc = t.readChangesCdc(s, v0, m.version)
      val byType = cdc.groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val acct = s.createDataFrame(Seq(
        ("files_rewritten", (u.filesRewritten + m.filesRewritten).toLong),
        ("u_files_dv", u.filesDvUpdated.toLong),
        ("u_dv_rows", u.dvRowsAdded),
        ("m_files_dv", m.filesDvUpdated.toLong),
        ("m_dv_rows", m.dvRowsAdded),
        ("cdc_deletes", byType.getOrElse("delete", 0L)),
        ("cdc_inserts", byType.getOrElse("insert", 0L)))).toDF("stat", "value")
      val after = t.read(s)
        .agg(count(lit(1)).as("rows_after"),
          sum(col("n_chars")).cast("long").as("sum_chars_after"),
          sum(col("doc_id")).cast("long").as("sum_doc_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_chars_after', sum_chars_after, " +
          "'sum_doc_after', sum_doc_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 COLUMN MAPPING exercised through the oracle gate (round 13):
    // RENAME COLUMN and DROP COLUMN are metadata-only commits — the
    // `#colmap=` manifest line decouples the frozen PHYSICAL names the
    // parquet files store from the LOGICAL names readers see, so a
    // rename on a 100 TB table costs one manifest line instead of a
    // full rewrite. The fixture proves: zero files change on rename,
    // old files resolve under the new name, appends under the new
    // logical name write the frozen physical name (old+new files
    // agree on disk), time travel keeps the pre-rename shape, drop
    // removes the column logically while history retains it, and the
    // filtered read proves manifest file-skipping still applies on
    // the mapped (v1) read path. Oracle recomputes everything
    // arithmetically from the frozen fixture rules.
    "q_snapshot_colmap" -> ((s, d) => {
      val dir = scratchDir("graft_cmq")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 200).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 500).repartition(1))
      val vPre = t.currentVersion()
      val filesPre = t.fileCount(vPre)
      val vR = t.renameColumn("n_chars", "len_chars")
      val renameDelta = (t.fileCount(vR) - filesPre).toLong
      // row-level DML runs THROUGH the mapping (round 13): a
      // merge-on-read delete and update under the renamed logical
      // name — zero file rewrites, vectors + physical-name appends
      val rd = t.deleteWhere(s,
        col("doc_id") % 100 === 77 && col("doc_id") < 500,
        dvMaxRowsPerFile = 1000)
      val ru = t.updateWhere(s, col("doc_id") === 123,
        Map("len_chars" -> (col("len_chars") + 5000L)),
        dvMaxRowsPerFile = 1000)
      t.commit(docs.filter(col("doc_id") >= 500 && col("doc_id") < 600)
        .withColumnRenamed("n_chars", "len_chars").repartition(1))
      t.dropColumn("source")
      val head = t.read(s)
      val acct = s.createDataFrame(Seq(
        ("rename_files_delta", renameDelta),
        ("dml_files_rewritten", (rd.filesRewritten + ru.filesRewritten).toLong),
        ("dml_dv_rows", rd.dvRowsAdded + ru.dvRowsAdded),
        ("cols_head", head.columns.length.toLong),
        ("cols_time_travel", t.readAt(s, vPre).columns.length.toLong),
        ("rows_time_travel", t.readAt(s, vPre).count()),
        ("head_filtered", head.filter(col("doc_id") >= 550).count())))
        .toDF("stat", "value")
      val after = head
        .agg(count(lit(1)).as("rows_after"),
          sum(col("len_chars")).cast("long").as("sum_len_after"),
          sum(col("doc_id")).cast("long").as("sum_doc_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_len_after', sum_len_after, " +
          "'sum_doc_after', sum_doc_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 SELECTIVE OPTIMIZE exercised through the oracle gate (round
    // 14): bin-packing compaction rewrites ONLY the small and the
    // DV-carrying files — the large clean file carries by reference in
    // the delta commit. The accounting rides INSIDE the compared frame,
    // so the hash check proves the SELECTION (2 small + 1 DV'd
    // rewritten, 1 large untouched, the vector's position reclaimed)
    // as well as content identity across the rewrite — at 100 TB this
    // is what makes compaction usable as the deletion-vector escape
    // hatch: cost tracks the junk, never the table.
    "q_snapshot_optimize" -> ((s, d) => {
      val dir = scratchDir("graft_opt")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 250).repartition(1))          // largest
      t.commit(docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
        .repartition(1))                                                 // mid
      t.commit(docs.filter(col("doc_id") >= 400 && col("doc_id") < 430)
        .repartition(1))                                                 // small
      t.commit(docs.filter(col("doc_id") >= 430 && col("doc_id") < 460)
        .repartition(1))                                                 // small
      // vector one row out of the MID file: DV-carrying files always
      // rewrite (the optimize materializes the vector away)
      val rd = t.deleteWhere(s, col("doc_id") === 260,
        dvMaxRowsPerFile = 1000)
      // threshold = the largest file's size (strict <, so exactly that
      // file survives as "large"), derived from the actual layout so
      // the fixture holds at every SF
      val v = t.currentVersion()
      val sizes = t.listingOf(v).map(rel =>
        java.nio.file.Files.size(java.nio.file.Paths.get(dir).resolve(rel)))
      val r = t.optimize(s, smallFileBytes = sizes.max)
      val head = t.read(s)
      val acct = s.createDataFrame(Seq(
        ("dv_rows_before", rd.dvRowsAdded),
        ("files_rewritten", r.filesRewritten.toLong),
        ("files_untouched", r.filesUntouched.toLong),
        ("dv_rows_reclaimed", r.dvRowsReclaimed),
        ("dv_rows_after", t.dvRelOf(r.version).valuesIterator.map(_.count).sum)))
        .toDF("stat", "value")
      val after = head
        .agg(count(lit(1)).as("rows_after"),
          sum(col("n_chars")).cast("long").as("sum_chars_after"),
          sum(col("doc_id")).cast("long").as("sum_doc_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_chars_after', sum_chars_after, " +
          "'sum_doc_after', sum_doc_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 STORAGE-PARTITIONED JOIN THROUGH COLUMN MAPPING (round 14):
    // the dimension table is bucketed AND column-mapped (its segment
    // column was renamed before any data landed, so every file stores
    // the frozen physical name) — the mapped read plans the DSv2 scan
    // under the physical schema, reports KeyGroupedPartitioning, and
    // the alias Project carries the partitioning onto the logical
    // attributes, so the join still plans with NO exchange on either
    // side. The builder requires the executed plan exchange-free, so
    // the oracle gate itself pins the no-shuffle shape.
    "q_bucketed_join_mapped" -> ((s, d) => {
      val wh = scratchDir("graft_spjm")
      // unique catalog name per invocation: Spark CACHES catalog
      // instances by name, so a re-run (bench reps) with a fresh
      // scratch warehouse would otherwise resolve the FIRST run's
      // directory and refuse the CREATE
      val cat = s"graft_spjm_${spjmSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
      // schema-only v0 (zero data files), then a RENAME initializes the
      // mapping (frozen physical = c_mktsegment) BEFORE any data lands
      s.sql(s"CREATE TABLE $cat.db.cust " +
        "(c_custkey BIGINT, c_mktsegment STRING) USING `graft-snapshot`")
      val tc = graft.sources.SnapshotTable(s"$wh/db/cust")
      val to = graft.sources.SnapshotTable(s"$wh/db/ords")
      tc.renameColumn("c_mktsegment", "segment")
      tc.commitBucketed(
        customer(s, d).select(col("c_custkey"),
          col("c_mktsegment").as("segment")),
        "c_custkey", 8)
      to.commitBucketed(
        orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("spend_cents")),
        "o_custkey", 8)
      val j = s.sql(
        s"""SELECT /*+ MERGE(c, o) */ c.c_custkey, c.segment,
          |  o.n_orders, o.spend_cents
          |FROM $cat.db.cust c
          |JOIN $cat.db.ords o ON c.c_custkey = o.o_custkey
          |ORDER BY c.c_custkey""".stripMargin)
      val plan = j.queryExecution.executedPlan.toString
      if (plan.contains("Exchange hashpartitioning") ||
          plan.contains("BroadcastExchange")) throw new IllegalStateException(
        "mapped bucketed snapshot join planned a join-side exchange — " +
          s"storage-partitioned join through column mapping regressed:\n$plan")
      j
      } finally {
        // the frame is fully analyzed and planned above (the relation
        // nodes hold their Table instances, so later execution never
        // re-consults the catalog conf) — drop the per-invocation conf
        // entries so bench reps don't accumulate them without bound.
        // The CatalogManager's cached instance stays (no public evict),
        // but the unique-name trick already isolates reps.
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }),

    // E18 TYPE WIDENING exercised through the oracle gate (round 14):
    // ALTER COLUMN TYPE int→bigint is METADATA-ONLY — old int files
    // read widened through the parquet reader's native conversion, an
    // UPDATE then writes a value past the int range (provably impossible
    // pre-widen), a post-widen narrow append keeps the manifest wide,
    // and time travel reads the ORIGINAL narrow type. The (stat, value)
    // frame folds the type assertions in as 0/1 flags so the hash check
    // pins them alongside the arithmetic.
    "q_snapshot_widen" -> ((s, d) => {
      val dir = scratchDir("graft_wid")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"),
        col("n_chars").cast("int").as("n_chars"))
      t.commit(docs.filter(col("doc_id") < 300).repartition(1))
      val vPre = t.currentVersion()
      t.widenColumn("n_chars", org.apache.spark.sql.types.LongType)
      // a value only a BIGINT column can hold — merge-on-read, so the
      // int-era file is untouched (vectored) and the new row lands wide
      val ru = t.updateWhere(s, col("doc_id") === 100,
        Map("n_chars" -> lit(3000000007L)), dvMaxRowsPerFile = 1000)
      // a post-widen append still typed INT on the writer side: the
      // manifest stays wide, the narrow file reads widened
      t.commit(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .repartition(1))
      val head = t.read(s)
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val acct = s.createDataFrame(Seq(
        ("head_is_long",
          if (head.schema("n_chars").dataType == LongType) 1L else 0L),
        ("tt_is_int",
          if (t.readAt(s, vPre).schema("n_chars").dataType == IntegerType) 1L
          else 0L),
        ("upd_files_rewritten", ru.filesRewritten.toLong),
        ("rows_time_travel", t.readAt(s, vPre).count())))
        .toDF("stat", "value")
      val after = head
        .agg(count(lit(1)).as("rows_after"),
          sum(col("n_chars")).cast("long").as("sum_chars_after"),
          max(col("n_chars")).cast("long").as("max_chars_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_chars_after', sum_chars_after, " +
          "'max_chars_after', max_chars_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 COMMIT-PLANE STORE SEAM exercised through the oracle gate
    // (round 15): the identical transactional workload — appends, a
    // merge-on-read delete whose vector bytes publish through the
    // store, a selective optimize that materializes them away — run
    // with the commit plane on the Hadoop FileContext store
    // (rename-without-replace put-if-absent) instead of POSIX hard
    // links. The accounting pins that an INTERNAL re-construction of
    // the root resolves the same pinned store (the catalog/DML-rule
    // contract) and that DV accounting + content hash out identically
    // — the proof the 100 TB design point can ride the storage 100 TB
    // actually lives on (HDFS/object stores have no hard links).
    "q_snapshot_logstore" -> ((s, d) => {
      val dir = scratchDir("graft_ls")
      val t = graft.sources.SnapshotTable(dir, graft.sources.LogStore.hadoopFs)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 200).repartition(1))
      t.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
        .repartition(1))
      t.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 400)
        .repartition(1))
      // MOR delete: the deletion-vector sidecar bytes travel the
      // store's put-if-absent from EXECUTOR tasks
      val rd = t.deleteWhere(s, col("doc_id") % 10 === 3 && col("doc_id") < 200,
        dvMaxRowsPerFile = 1000)
      // an internal re-construction resolves the PINNED store — the
      // path every catalog load and DML rule takes
      val reopened = graft.sources.SnapshotTable(dir)
      val r = t.optimize(s)
      val head = t.read(s)
      val acct = s.createDataFrame(Seq(
        ("store_is_hadoop", if (reopened.store.name == "hadoop-fs") 1L else 0L),
        ("dv_rows", rd.dvRowsAdded),
        ("files_rewritten", r.filesRewritten.toLong),
        ("dv_after_optimize",
          t.dvRelOf(r.version).valuesIterator.map(_.count).sum),
        ("head_version", t.currentVersion())))
        .toDF("stat", "value")
      val after = head
        .agg(count(lit(1)).as("rows_after"),
          sum(col("n_chars")).cast("long").as("sum_chars_after"),
          sum(col("doc_id")).cast("long").as("sum_doc_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_chars_after', sum_chars_after, " +
          "'sum_doc_after', sum_doc_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 HIDDEN PARTITIONING exercised through the oracle gate (round
    // 15): a `days(ts)` partition spec on an events table — commits
    // cluster by day, every file records its transform-domain tuple in
    // the manifest, and a calendar-week probe on the BASE column prunes
    // off-week files at planning, zero data I/O (the selection flag
    // rides INSIDE the hash-compared frame). Spec evolution is
    // metadata-only and time travel keeps each version's own spec. At
    // 100 TB a year-partitioned events table is THE canonical shape —
    // this is the declarative layout + manifest pruning that makes its
    // scan cost proportional to the probed window, not ingest order.
    "q_snapshot_partition" -> ((s, d) => {
      val dir = scratchDir("graft_pt")
      val t = graft.sources.SnapshotTable(dir)
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("event_type"), col("value"))
      t.commit(ev.limit(0))
      t.setPartitionSpec("days(ts)")
      // four calendar-week commits (the streaming-ingest shape): each
      // lands ≥1 file whose day tuples stay inside its week
      val weeks = Seq(("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15"),
        ("2024-01-15", "2024-01-22"), ("2024-01-22", "2024-01-31"))
      weeks.foreach { case (lo, hi) =>
        t.commit(ev.filter(col("ts") >= lit(lo).cast("timestamp_ntz") &&
          col("ts") < lit(hi).cast("timestamp_ntz")))
      }
      val vDays = t.currentVersion()
      graft.sources.ZoneMaps.lastBuilderSelection = (-1, -1)
      val wk = t.read(s)
        .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp_ntz") &&
          col("ts") < lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
        .agg(count(lit(1)).as("wk_rows"),
          sum(cents(col("value"))).as("wk_value_cents"),
          countDistinct(to_date(col("ts"))).as("wk_days"))
        .head()
      val (sel, tot) = graft.sources.ZoneMaps.lastBuilderSelection
      // metadata-only evolution; the pre-change version keeps days(ts)
      t.setPartitionSpec("days(ts),truncate(2,event_type)")
      s.createDataFrame(Seq(
        ("probe_pruned", if (sel >= 0 && tot > sel) 1L else 0L),
        ("spec_at_days", if (t.partitionSpecOf(vDays).map(_.repr) ==
          Seq("days(ts)")) 1L else 0L),
        ("spec_evolved_size", t.partitionSpecOf(t.currentVersion()).size.toLong),
        ("evolve_rewrote_files",
          if (t.fileCount(t.currentVersion()) == t.fileCount(vDays)) 0L else 1L),
        ("wk_rows", wk.getLong(0)),
        ("wk_value_cents", wk.getLong(1)),
        ("wk_days", wk.getLong(2))))
        .toDF("stat", "value").orderBy("stat")
    }),

    // E18 COLUMN DEFAULTS + NOT NULL exercised through the oracle gate
    // (round 15): a column added after data landed gets a DEFAULT —
    // pre-evolution files read the EXISTS default PER FILE through
    // Spark's own existence-default machinery (zero rewrite, zero
    // extra planning I/O), post-default commits keep their explicit
    // values, NOT NULL validates at add and REFUSES a violating batch
    // pre-publish (nothing publishes — the refused-version flag rides
    // the frame), and time travel keeps the pre-evolution shape. The
    // arithmetic folds the default into the hash: sum_quality is only
    // right if exactly the pre-evolution rows read 7.
    "q_snapshot_defaults" -> ((s, d) => {
      val dir = scratchDir("graft_dfl")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 300).repartition(1))
      val vPre = t.currentVersion()
      t.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("quality",
          org.apache.spark.sql.types.LongType))))
      t.setColumnDefault(s, "quality", "7")
      t.setNotNull(s, "source")
      t.commit(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .withColumn("quality", col("doc_id") % 5).repartition(1))
      val headBefore = t.currentVersion()
      val refused =
        try { t.commit(docs.filter(col("doc_id") < 10)
          .withColumn("source", org.apache.spark.sql.functions
            .lit(null).cast("string"))
          .withColumn("quality", lit(1L))); 0L }
        catch { case _: Exception =>
          if (t.currentVersion() == headBefore) 1L else 0L }
      val head = t.read(s)
      val acct = s.createDataFrame(Seq(
        ("default_applied_rows",
          head.filter(col("quality") === 7 && col("doc_id") < 300).count()),
        ("notnull_refused_nothing_published", refused),
        ("cols_time_travel", t.readAt(s, vPre).columns.length.toLong),
        ("evolve_rewrote_files",
          if (t.fileCount(headBefore) ==
            t.fileCount(vPre) + 1) 0L else 1L)))
        .toDF("stat", "value")
      val after = head
        .agg(count(lit(1)).as("rows_after"),
          sum(col("quality")).cast("long").as("sum_quality"),
          sum(col("doc_id")).cast("long").as("sum_doc_after"))
        .selectExpr("stack(3, 'rows_after', rows_after, " +
          "'sum_quality', sum_quality, " +
          "'sum_doc_after', sum_doc_after) AS (stat, value)")
      acct.unionByName(after).orderBy("stat")
    }),

    // E18 MANIFEST-ONLY STATISTICS exercised through the oracle gate:
    // count(*) / min / max / null counts computed from the `#zm=`
    // manifest lines alone — zero data-file I/O — must equal DuckDB's
    // direct aggregation over the same rows. At 100 TB this answers
    // "how many rows, what key range" from kilobytes of metadata; the
    // same numbers feed the DSv2 scan's planning statistics (exact
    // numRows → correct broadcast-side choices).
    "q_snapshot_stats" -> ((s, d) => {
      val dir = scratchDir("graft_tst")
      val t = graft.sources.SnapshotTable(dir)
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      t.commit(docs.filter(col("doc_id") < 300).repartition(2))
      t.commit(docs.filter(col("doc_id") >= 300 && col("doc_id") < 500).repartition(1))
      val st = t.tableStats()
      val id = st.cols("doc_id")
      val nc = st.cols("n_chars")
      s.createDataFrame(Seq(
        ("n_files", st.files.toLong),
        ("n_rows", st.rows.getOrElse(-1L)),
        ("min_doc_id", id.min.toLong),
        ("max_doc_id", id.max.toLong),
        ("nulls_doc_id", id.nulls),
        ("min_n_chars", nc.min.toLong),
        ("max_n_chars", nc.max.toLong))).toDF("stat", "value")
        .orderBy("stat")
    }),

    "q_incremental_stats" -> ((s, d) => {
      val src = graft.sources.SnapshotTable(scratchDir("graft_incq_src"))
      val stats = graft.sources.SnapshotTable(scratchDir("graft_incq_st"))
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      src.commit(docs.filter(col("doc_id") < 200))
      graft.etl.IncrementalStats.update(s, src, stats)
      src.commit(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350))
      src.commit(docs.filter(col("doc_id") >= 350 && col("doc_id") < 500))
      graft.etl.IncrementalStats.update(s, src, stats)
      stats.read(s).orderBy("source")
    }))

  /** DuckDB-dialect oracle SQL. Notes on portability:
    * - regexp_replace needs the 'g' flag in DuckDB (Spark replaces all);
    * - numeric casts mirror the rlike-guarded Spark casts via CASE/TRY_CAST;
    * - money sums go through integer cents (see Scalars.cents) so double
    *   results are bit-identical across engines;
    * - every ORDER BY is total with non-null keys.
    */
  val oracle: Map[String, String] = Map(
    "q_convert_speed" ->
      """WITH t AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 4 = 0 THEN CAST(p_size AS VARCHAR) || 'mbps'
        |         WHEN p_partkey % 4 = 1 THEN CAST(p_size AS VARCHAR) || 'Gbps'
        |         WHEN p_partkey % 4 = 2 THEN CAST(p_size AS VARCHAR)
        |         ELSE 'junk' END AS speed_raw
        |  FROM part)
        |SELECT p_partkey, speed_raw,
        |  CASE WHEN regexp_extract(speed_raw, '^(\d+)((?i:mbps|gbps))', 1) <> ''
        |       THEN TRY_CAST(regexp_extract(speed_raw, '^(\d+)((?i:mbps|gbps))', 1) AS DOUBLE)
        |            * (CASE WHEN lower(regexp_extract(speed_raw, '^(\d+)((?i:mbps|gbps))', 2)) = 'gbps'
        |               THEN 1000.0 ELSE 1.0 END)
        |       END AS speed_mbps,
        |  COALESCE(
        |    CASE WHEN regexp_extract(speed_raw, '^(\d+)((?i:mbps|gbps))', 1) <> ''
        |         THEN TRY_CAST(regexp_extract(speed_raw, '^(\d+)((?i:mbps|gbps))', 1) AS DOUBLE)
        |              * (CASE WHEN lower(regexp_extract(speed_raw, '^(\d+)((?i:mbps|gbps))', 2)) = 'gbps'
        |                 THEN 1000.0 ELSE 1.0 END) END,
        |    CASE WHEN regexp_matches(speed_raw, '^-?\d+(\.\d+)?$')
        |         THEN CAST(CAST(TRY_CAST(speed_raw AS DOUBLE) AS BIGINT) AS DOUBLE) END
        |  ) AS speed_or_num
        |FROM t ORDER BY p_partkey""".stripMargin,

    "q_unlimited_sentinel" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    lower(CASE WHEN c_acctbal < 0 THEN 'Unlimited'
        |               WHEN c_custkey % 7 = 0 THEN 'unlimited'
        |               ELSE CAST(c_custkey AS VARCHAR) END) AS raw
        |  FROM customer)
        |SELECT c_custkey, raw,
        |  CASE WHEN lower(raw) = 'unlimited' THEN -1.0
        |       WHEN regexp_matches(raw, '^-?\d+(\.\d+)?$') THEN TRY_CAST(raw AS DOUBLE)
        |       END AS parsed
        |FROM t ORDER BY c_custkey""".stripMargin,

    "q_regex_extract_default" ->
      """WITH t AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 3 = 0
        |           THEN CAST(p_size AS VARCHAR) || ' minutes + ' || CAST(p_partkey % 50 AS VARCHAR) || ' texts'
        |         WHEN p_partkey % 3 = 1 THEN 'Unlimited calls'
        |         ELSE p_name END AS calls_text
        |  FROM part)
        |SELECT p_partkey, calls_text,
        |  COALESCE(TRY_CAST(NULLIF(regexp_extract(calls_text, '(\d+) minutes', 1), '') AS DOUBLE), -1.0) AS minutes,
        |  COALESCE(TRY_CAST(NULLIF(regexp_extract(calls_text, '(\d+) texts', 1), '') AS DOUBLE), -1.0) AS texts
        |FROM t ORDER BY p_partkey""".stripMargin,

    "q_regex_first_number" ->
      """SELECT event_id, props,
        |  TRY_CAST(NULLIF(regexp_extract(props, '(\d+)', 1), '') AS BIGINT) AS first_num
        |FROM events ORDER BY event_id""".stripMargin,

    "q_digit_filter" ->
      """WITH t AS (
        |  SELECT event_id, props || '#' || CAST(event_id AS VARCHAR) AS raw FROM events)
        |SELECT event_id, raw,
        |  TRY_CAST(NULLIF(regexp_replace(raw, '[^0-9]', '', 'g'), '') AS BIGINT) AS digits
        |FROM t ORDER BY event_id""".stripMargin,

    "q_ascii_scrub" ->
      """WITH t AS (
        |  SELECT p_partkey, chr(8364) || p_name || chr(160) || p_brand AS raw FROM part)
        |SELECT p_partkey, raw,
        |  regexp_replace(raw, '[^\x00-\x7F]', '', 'g') AS scrubbed
        |FROM t ORDER BY p_partkey""".stripMargin,

    "q_price_normalize" ->
      """WITH t AS (
        |  SELECT p_partkey,
        |    '  ' || CAST(p_size AS VARCHAR) || ',-' AS price_raw,
        |    CAST(p_partkey % 100 AS VARCHAR) AS price_dec,
        |    CAST(p_size AS VARCHAR) AS price_unit
        |  FROM part)
        |SELECT p_partkey, price_raw, price_dec,
        |  CASE WHEN regexp_matches(replace(trim(price_raw), ',-', ''), '^-?\d+(\.\d+)?$')
        |       THEN TRY_CAST(replace(trim(price_raw), ',-', '') AS DOUBLE) END AS norm_price,
        |  CASE WHEN regexp_matches(price_unit || price_dec, '^-?\d+(\.\d+)?$')
        |       THEN TRY_CAST(price_unit || price_dec AS DOUBLE) END AS concat_price
        |FROM t ORDER BY p_partkey""".stripMargin,

    "q_string_chain" ->
      """SELECT p_partkey,
        |  replace(replace(lower(trim(p_name)), 'small', ''), ' ', '_') AS chained
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_concat_name" ->
      """SELECT p_partkey,
        |  concat_ws('_', 'mobile_prepaid', p_brand, CAST(p_size AS VARCHAR), 'gb') AS product_name
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_when_status" ->
      """WITH t AS (
        |  SELECT CASE WHEN (CASE WHEN event_type = 'error' THEN 'boom' ELSE 'no error' END) = 'no error'
        |              THEN 'success' ELSE 'failed' END AS status,
        |         value FROM events)
        |SELECT status, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        |FROM t GROUP BY status ORDER BY status""".stripMargin,

    "q_filter_contains" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE text LIKE '%sort merge%' ORDER BY doc_id""".stripMargin,

    "q_eq_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    "q_cross_join_packs" ->
      """WITH mobile AS (
        |  SELECT p_partkey AS m_partkey, p_name AS m_name, p_retailprice AS m_price
        |  FROM part WHERE p_type = 'ECONOMY' AND p_partkey < 80),
        |internet AS (
        |  SELECT p_partkey AS i_partkey, p_name AS i_name, p_retailprice AS i_price
        |  FROM part WHERE p_type = 'SMALL' AND p_partkey < 80)
        |SELECT m_partkey, i_partkey,
        |  regexp_replace(concat_ws('_', m_name, i_name), ' ', '_', 'g') AS pack_name,
        |  CAST(CAST(ROUND(m_price * 100) AS BIGINT) + CAST(ROUND(i_price * 100) AS BIGINT) - 500 AS DOUBLE) / 100 AS pack_price
        |FROM mobile CROSS JOIN internet
        |ORDER BY m_partkey, i_partkey""".stripMargin,

    "q_anti_join_packs" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_orderstatus = 'P' AND o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (
        |  SELECT 1 FROM orders WHERE o_orderpriority = '1-URGENT' AND o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_dim_lookup" ->
      """SELECT s_suppkey, s_name, n_name, r_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY s_suppkey""".stripMargin,

    "q_top1_per_key" ->
      """WITH r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_date, o_totalprice
        |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_scd_change_detect" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
        |    lag(o_orderstatus) OVER w AS prev_status,
        |    lag(o_orderpriority) OVER w AS prev_priority
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC))
        |SELECT o_custkey, o_orderkey, prev_status, o_orderstatus, prev_priority, o_orderpriority
        |FROM r
        |WHERE prev_status IS NOT NULL
        |  AND (o_orderstatus IS DISTINCT FROM prev_status
        |       OR o_orderpriority IS DISTINCT FROM prev_priority)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_scd_load" ->
      """WITH hist AS (
        |  SELECT k, cur_status, cur_priority FROM (
        |    SELECT o_custkey AS k, o_orderstatus AS cur_status, o_orderpriority AS cur_priority,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
        |  WHERE rn = 1),
        |incoming AS (
        |  SELECT k, o_orderkey, new_status, new_priority FROM (
        |    SELECT o_custkey AS k, o_orderkey, o_orderstatus AS new_status, o_orderpriority AS new_priority,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |    FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |  WHERE rn = 1)
        |SELECT i.k AS o_custkey, i.o_orderkey,
        |  CASE WHEN h.cur_status IS NULL AND h.cur_priority IS NULL THEN 'insert'
        |       WHEN i.new_status IS DISTINCT FROM h.cur_status
        |            OR i.new_priority IS DISTINCT FROM h.cur_priority THEN 'version' END AS action,
        |  i.new_status, i.new_priority
        |FROM incoming i LEFT JOIN hist h ON i.k = h.k
        |WHERE (CASE WHEN h.cur_status IS NULL AND h.cur_priority IS NULL THEN 'insert'
        |            WHEN i.new_status IS DISTINCT FROM h.cur_status
        |                 OR i.new_priority IS DISTINCT FROM h.cur_priority THEN 'version' END) IS NOT NULL
        |ORDER BY o_custkey""".stripMargin,

    "q_star_split" ->
      """SELECT o_orderkey,
        |  sha256(o_orderstatus || '|' || CAST(o_orderkey AS VARCHAR)) AS product_uuid,
        |  'order_' || CAST(o_orderkey AS VARCHAR) AS product_name,
        |  o_orderpriority AS product_category,
        |  o_orderstatus AS competitor_name,
        |  sha256(o_orderstatus) AS competitor_uuid,
        |  sha256('f' || '|' || CAST(o_orderkey AS VARCHAR) || '|' || strftime(o_orderdate, '%Y-%m-%d')) AS feature_uuid,
        |  sha256('p' || '|' || CAST(o_orderkey AS VARCHAR) || '|' || strftime(o_orderdate, '%Y-%m-%d')) AS price_uuid,
        |  o_totalprice AS price,
        |  strftime(o_orderdate, '%Y-%m-%d') AS scraped_at
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_union_sources" ->
      """SELECT key, name, price, src, category FROM (
        |  SELECT o_orderkey AS key, 'order_' || CAST(o_orderkey AS VARCHAR) AS name,
        |         o_totalprice AS price, 'orders' AS src, CAST(NULL AS VARCHAR) AS category
        |  FROM orders
        |  UNION ALL
        |  SELECT p_partkey AS key, p_name AS name, CAST(NULL AS DOUBLE) AS price,
        |         'part' AS src, p_type AS category
        |  FROM part)
        |ORDER BY src, key""".stripMargin,

    // each snapshot version's FROZEN defining SELECT; v3 (compaction)
    // must reproduce v2's aggregates exactly — layout, never content
    "q_snapshot_timetravel" ->
      """SELECT 'v0' AS version, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents WHERE doc_id < 250
        |UNION ALL
        |SELECT 'v1', COUNT(*), CAST(SUM(n_chars) AS BIGINT), COUNT(DISTINCT source)
        |FROM documents WHERE doc_id < 500
        |UNION ALL
        |SELECT 'v2_replace', COUNT(*), CAST(SUM(n_chars) AS BIGINT), COUNT(DISTINCT source)
        |FROM documents WHERE doc_id < 500 AND n_chars >= 300
        |UNION ALL
        |SELECT 'v3_compacted', COUNT(*), CAST(SUM(n_chars) AS BIGINT), COUNT(DISTINCT source)
        |FROM documents WHERE doc_id < 500 AND n_chars >= 300
        |ORDER BY version""".stripMargin,

    // the same point lookups over the raw table — blooms are a
    // no-false-negative prefilter, so the pruned scan must return
    // exactly the plain SELECT's rows
    "q_bloom_point_lookup" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey IN (42, 77, 999999999)
        |ORDER BY c_custkey""".stripMargin,

    // the same join over the raw tables — values must be identical to
    // the shuffle-free storage-partitioned plan's
    "q_bucketed_join" ->
      """WITH ords AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_cents
        |  FROM orders GROUP BY 1)
        |SELECT c.c_custkey, c.c_mktsegment, o.n_orders, o.spend_cents
        |FROM customer c JOIN ords o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey""".stripMargin,

    // each lineage segment's frozen defining SELECT
    "q_snapshot_changes" ->
      """SELECT 'bootstrap_v0' AS range, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 200
        |UNION ALL
        |SELECT 'v0_to_v1', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id >= 200 AND doc_id < 350
        |UNION ALL
        |SELECT 'v1_to_v2', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id >= 350 AND doc_id < 500
        |UNION ALL
        |SELECT 'v0_to_v2', COUNT(*), CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id >= 200 AND doc_id < 500
        |ORDER BY range""".stripMargin,

    // the post-merge table = the frozen relational MERGE definition:
    // base rows minus deleted keys, updated keys rebound, inserts in
    "q_snapshot_merge" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id >= 100 AND doc_id < 150
        |       THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id < 450
        |  AND NOT (doc_id >= 200 AND doc_id < 220)
        |ORDER BY doc_id""".stripMargin,

    // the delete accounting is deterministic by construction (three
    // files with known key ranges, predicate straddling the middle
    // one), so it sits in the oracle as frozen constants; the final
    // state is the frozen SELECT of the surviving rows
    "q_snapshot_delete" ->
      """WITH fin AS (
        |  SELECT COUNT(*) AS rows_after,
        |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars_after,
        |         MIN(doc_id) AS min_doc_after
        |  FROM documents WHERE doc_id >= 260 AND doc_id < 500)
        |SELECT * FROM (
        |  SELECT 'files_dropped' AS stat, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'files_rewritten', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'files_untouched', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'files_added', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'rows_after', rows_after FROM fin
        |  UNION ALL SELECT 'sum_chars_after', sum_chars_after FROM fin
        |  UNION ALL SELECT 'min_doc_after', min_doc_after FROM fin)
        |ORDER BY stat""".stripMargin,

    // the expected row-level diff, recomputed from the fixture rules:
    // inserts = the appended batch, deletes = the predicate-dropped
    // keys (old values), updates = the SET rows (new values)
    "q_snapshot_diff" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS change, doc_id, source, n_chars
        |  FROM documents WHERE doc_id >= 300 AND doc_id < 400
        |  UNION ALL
        |  SELECT 'delete', doc_id, source, n_chars
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT 'update', doc_id, source, n_chars + 1000
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 150)
        |ORDER BY change, doc_id""".stripMargin,

    // the post-update table = the frozen CASE WHEN definition
    "q_snapshot_update" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id >= 300 AND doc_id < 460
        |       THEN 'u_' || source ELSE source END AS source,
        |  CASE WHEN doc_id >= 300 AND doc_id < 460
        |       THEN n_chars * 2 + 7 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id""".stripMargin,

    // manifest-derived statistics must equal the direct aggregation
    // (n_files is deterministic by construction: repartition(2) + 1)
    "q_snapshot_dv" ->
      """WITH base AS (SELECT * FROM documents WHERE doc_id < 500),
        |deleted AS (
        |  SELECT doc_id FROM base WHERE doc_id % 10 = 3 AND doc_id < 230
        |  UNION ALL SELECT doc_id FROM base WHERE doc_id = 24),
        |fin AS (
        |  SELECT COUNT(*) AS rows_after,
        |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars_after,
        |         CAST(SUM(doc_id) AS BIGINT) AS sum_doc_after
        |  FROM base WHERE doc_id NOT IN (SELECT doc_id FROM deleted))
        |SELECT * FROM (
        |  SELECT 'files_rewritten' AS stat, CAST(0 AS BIGINT) AS value
        |  UNION ALL SELECT 'files_added', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'files_dv_updated', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'dv_rows_added', (SELECT COUNT(*) FROM deleted)
        |  UNION ALL SELECT 'cdc_delete_rows', (SELECT COUNT(*) FROM deleted)
        |  UNION ALL SELECT 'rows_time_travel', (SELECT COUNT(*) FROM base)
        |  UNION ALL SELECT 'rows_after', rows_after FROM fin
        |  UNION ALL SELECT 'sum_chars_after', sum_chars_after FROM fin
        |  UNION ALL SELECT 'sum_doc_after', sum_doc_after FROM fin)
        |ORDER BY stat""".stripMargin,

    "q_snapshot_mor" ->
      """WITH base AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 500),
        |upd AS (SELECT doc_id FROM base WHERE doc_id % 50 = 3 AND doc_id < 300),
        |fin AS (
        |  SELECT COUNT(*) AS rows_after,
        |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars_after,
        |         CAST(SUM(doc_id) AS BIGINT) AS sum_doc_after
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id IN (10, 210) THEN 777
        |           WHEN doc_id IN (SELECT doc_id FROM upd) THEN n_chars + 100000
        |           ELSE n_chars END AS n_chars
        |    FROM base WHERE doc_id NOT IN (20, 420)
        |    UNION ALL SELECT 900, 777 UNION ALL SELECT 901, 777))
        |SELECT * FROM (
        |  SELECT 'files_rewritten' AS stat, CAST(0 AS BIGINT) AS value
        |  UNION ALL SELECT 'u_files_dv', CAST(2 AS BIGINT)
        |  UNION ALL SELECT 'u_dv_rows', (SELECT COUNT(*) FROM upd)
        |  UNION ALL SELECT 'm_files_dv', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'm_dv_rows', CAST(4 AS BIGINT)
        |  UNION ALL SELECT 'cdc_deletes', (SELECT COUNT(*) FROM upd) + 4
        |  UNION ALL SELECT 'cdc_inserts', (SELECT COUNT(*) FROM upd) + 4
        |  UNION ALL SELECT 'rows_after', rows_after FROM fin
        |  UNION ALL SELECT 'sum_chars_after', sum_chars_after FROM fin
        |  UNION ALL SELECT 'sum_doc_after', sum_doc_after FROM fin)
        |ORDER BY stat""".stripMargin,

    // column mapping: rename/drop are metadata-only and the final
    // logical shape equals the frozen arithmetic over the fixture
    "q_snapshot_colmap" ->
      """WITH base AS (SELECT * FROM documents WHERE doc_id < 600),
        |del AS (SELECT doc_id FROM base
        |        WHERE doc_id % 100 = 77 AND doc_id < 500),
        |live AS (SELECT * FROM base
        |         WHERE doc_id NOT IN (SELECT doc_id FROM del))
        |SELECT * FROM (
        |  SELECT 'rename_files_delta' AS stat, CAST(0 AS BIGINT) AS value
        |  UNION ALL SELECT 'dml_files_rewritten', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'dml_dv_rows',
        |    (SELECT COUNT(*) + 1 FROM del)
        |  UNION ALL SELECT 'cols_head', CAST(2 AS BIGINT)
        |  UNION ALL SELECT 'cols_time_travel', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'rows_time_travel',
        |    (SELECT COUNT(*) FROM base WHERE doc_id < 500)
        |  UNION ALL SELECT 'head_filtered',
        |    (SELECT COUNT(*) FROM base WHERE doc_id >= 550)
        |  UNION ALL SELECT 'rows_after', (SELECT COUNT(*) FROM live)
        |  UNION ALL SELECT 'sum_len_after',
        |    (SELECT CAST(SUM(n_chars) + 5000 AS BIGINT) FROM live)
        |  UNION ALL SELECT 'sum_doc_after',
        |    (SELECT CAST(SUM(doc_id) AS BIGINT) FROM live))
        |ORDER BY stat""".stripMargin,

    // selective optimize: the frozen selection accounting (2 small + 1
    // DV'd rewritten, the largest file untouched, 1 position reclaimed)
    // plus content identity across the rewrite
    "q_snapshot_optimize" ->
      """WITH live AS (SELECT doc_id, n_chars FROM documents
        |             WHERE doc_id < 460 AND doc_id <> 260)
        |SELECT * FROM (
        |  SELECT 'dv_rows_before' AS stat, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'dv_rows_reclaimed', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'dv_rows_after', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'files_rewritten', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'files_untouched', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'rows_after', (SELECT COUNT(*) FROM live)
        |  UNION ALL SELECT 'sum_chars_after',
        |    (SELECT CAST(SUM(n_chars) AS BIGINT) FROM live)
        |  UNION ALL SELECT 'sum_doc_after',
        |    (SELECT CAST(SUM(doc_id) AS BIGINT) FROM live))
        |ORDER BY stat""".stripMargin,

    // commit-plane store seam: content + DV accounting identical with
    // the manifest plane published through the Hadoop FileContext
    // adapter; the reopened-handle flag pins store resolution
    "q_snapshot_logstore" ->
      """WITH live AS (SELECT doc_id, n_chars FROM documents
        |              WHERE doc_id < 400
        |                AND NOT (doc_id % 10 = 3 AND doc_id < 200))
        |SELECT * FROM (
        |  SELECT 'store_is_hadoop' AS stat, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'dv_rows',
        |    (SELECT COUNT(*) FROM documents
        |     WHERE doc_id < 200 AND doc_id % 10 = 3)
        |  UNION ALL SELECT 'files_rewritten', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'dv_after_optimize', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'head_version', CAST(4 AS BIGINT)
        |  UNION ALL SELECT 'rows_after', (SELECT COUNT(*) FROM live)
        |  UNION ALL SELECT 'sum_chars_after',
        |    (SELECT CAST(SUM(n_chars) AS BIGINT) FROM live)
        |  UNION ALL SELECT 'sum_doc_after',
        |    (SELECT CAST(SUM(doc_id) AS BIGINT) FROM live))
        |ORDER BY stat""".stripMargin,

    // column defaults + NOT NULL: pre-evolution rows read the EXISTS
    // default (sum_quality proves exactly which rows), explicit values
    // survive, the violating batch refused pre-publish, time travel
    // keeps the narrow shape
    "q_snapshot_defaults" ->
      """WITH pre AS (SELECT doc_id FROM documents WHERE doc_id < 300),
        |post AS (SELECT doc_id, doc_id % 5 AS q FROM documents
        |         WHERE doc_id >= 300 AND doc_id < 400)
        |SELECT * FROM (
        |  SELECT 'default_applied_rows' AS stat,
        |    (SELECT COUNT(*) FROM pre) AS value
        |  UNION ALL SELECT 'notnull_refused_nothing_published', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'cols_time_travel', CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'evolve_rewrote_files', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'rows_after',
        |    (SELECT COUNT(*) FROM pre) + (SELECT COUNT(*) FROM post)
        |  UNION ALL SELECT 'sum_quality',
        |    7 * (SELECT COUNT(*) FROM pre) +
        |    (SELECT CAST(SUM(q) AS BIGINT) FROM post)
        |  UNION ALL SELECT 'sum_doc_after',
        |    (SELECT CAST(SUM(doc_id) AS BIGINT) FROM pre) +
        |    (SELECT CAST(SUM(doc_id) AS BIGINT) FROM post))
        |ORDER BY stat""".stripMargin,

    // hidden partitioning: the week probe's content plus the frozen
    // planning flags (pruned selection, metadata-only evolution, the
    // per-version spec under time travel)
    "q_snapshot_partition" ->
      """WITH wk AS (SELECT * FROM events
        |            WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |              AND ts < TIMESTAMP '2024-01-15 00:00:00')
        |SELECT * FROM (
        |  SELECT 'probe_pruned' AS stat, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'spec_at_days', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'spec_evolved_size', CAST(2 AS BIGINT)
        |  UNION ALL SELECT 'evolve_rewrote_files', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'wk_rows', (SELECT COUNT(*) FROM wk)
        |  UNION ALL SELECT 'wk_value_cents',
        |    (SELECT CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |     FROM wk)
        |  UNION ALL SELECT 'wk_days',
        |    (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM wk))
        |ORDER BY stat""".stripMargin,

    "q_bucketed_join_mapped" ->
      """WITH ords AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_cents
        |  FROM orders GROUP BY 1)
        |SELECT c.c_custkey, c.c_mktsegment AS segment,
        |  o.n_orders, o.spend_cents
        |FROM customer c JOIN ords o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey""".stripMargin,

    // type widening: int→bigint is metadata-only; the post-widen UPDATE
    // plants a value past the int range, the narrow append keeps the
    // manifest wide, time travel keeps the narrow type
    "q_snapshot_widen" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS INTEGER) AS n_chars
        |              FROM documents WHERE doc_id < 400),
        |fin AS (SELECT doc_id,
        |          CASE WHEN doc_id = 100 THEN CAST(3000000007 AS BIGINT)
        |               ELSE CAST(n_chars AS BIGINT) END AS n_chars
        |        FROM base)
        |SELECT * FROM (
        |  SELECT 'head_is_long' AS stat, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'tt_is_int', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'upd_files_rewritten', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'rows_time_travel',
        |    (SELECT COUNT(*) FROM base WHERE doc_id < 300)
        |  UNION ALL SELECT 'rows_after', (SELECT COUNT(*) FROM fin)
        |  UNION ALL SELECT 'sum_chars_after',
        |    (SELECT CAST(SUM(n_chars) AS BIGINT) FROM fin)
        |  UNION ALL SELECT 'max_chars_after',
        |    (SELECT CAST(MAX(n_chars) AS BIGINT) FROM fin))
        |ORDER BY stat""".stripMargin,

    "q_snapshot_stats" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id < 500)
        |SELECT * FROM (
        |  SELECT 'n_files' AS stat, CAST(3 AS BIGINT) AS value
        |  UNION ALL SELECT 'n_rows', COUNT(*) FROM d
        |  UNION ALL SELECT 'min_doc_id', MIN(doc_id) FROM d
        |  UNION ALL SELECT 'max_doc_id', MAX(doc_id) FROM d
        |  UNION ALL SELECT 'nulls_doc_id', COUNT(*) - COUNT(doc_id) FROM d
        |  UNION ALL SELECT 'min_n_chars', MIN(n_chars) FROM d
        |  UNION ALL SELECT 'max_n_chars', MAX(n_chars) FROM d)
        |ORDER BY stat""".stripMargin,

    // the incremental folds must converge to the direct aggregation,
    // with the mark at the last folded source version (v2)
    "q_incremental_stats" ->
      """SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        |  CAST(2 AS BIGINT) AS thru_version
        |FROM documents WHERE doc_id < 500
        |GROUP BY source ORDER BY source""".stripMargin)
}
