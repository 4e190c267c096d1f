package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Scalars.cents
import graft.sources.Tables._
import java.time.LocalDateTime

/** Relational completeness suite (SURVEY.md §2.12 E9): TPC-H-shaped
  * aggregation/join/top-k/set-op/rollup queries over the driver testdata.
  *
  * Scale notes (the shapes that must survive 100 TB):
  * - Q1: single hash-aggregate after a pushed-down scan filter — partial
  *   (map-side) aggregation means shuffle size = O(groups), not O(rows).
  * - Q3: two shuffles max; AQE picks broadcast for the filtered customer
  *   side when it fits. All money math is integer-cents (exact, order-
  *   independent — see Scalars.cents).
  * - top-k: TakeOrderedAndProject (per-partition heap + driver merge of
  *   k rows), never a global sort.
  */
object RelQueries {
  type Q = (SparkSession, String) => DataFrame

  private val q1Cutoff = LocalDateTime.of(1998, 9, 2, 0, 0)
  private val q3Date   = LocalDateTime.of(1998, 1, 1, 0, 0)

  val queries: Map[String, Q] = Map(
    "q_tpch_q1" -> ((s, d) => {
      val li = lineitem(s, d).filter(col("l_shipdate") <= lit(q1Cutoff))
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_quantity")).as("qty_c"),
          cents(col("l_extendedprice")).as("price_c"),
          cents(col("l_discount")).as("disc_pct"),
          cents(col("l_tax")).as("tax_pct"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(col("qty_c")).cast("double") / 100).as("sum_qty"),
          (sum(col("price_c")).cast("double") / 100).as("sum_base_price"),
          (sum(col("price_c") * (lit(100L) - col("disc_pct"))).cast("double") / 10000)
            .as("sum_disc_price"),
          (sum(col("price_c") * (lit(100L) - col("disc_pct")) * (lit(100L) + col("tax_pct")))
            .cast("double") / 1000000).as("sum_charge"),
          (sum(col("qty_c")).cast("double") / (count(lit(1)) * 100)).as("avg_qty"),
          (sum(col("price_c")).cast("double") / (count(lit(1)) * 100)).as("avg_price"),
          (sum(col("disc_pct")).cast("double") / (count(lit(1)) * 100)).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q_tpch_q3" -> ((s, d) => {
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = orders(s, d).filter(col("o_orderdate") < lit(q3Date))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = lineitem(s, d).filter(col("l_shipdate") > lit(q3Date))
        .select(col("l_orderkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .as("rev_c"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .withColumn("order_date", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .groupBy("l_orderkey", "order_date", "o_orderpriority")
        .agg((sum(col("rev_c")).cast("double") / 10000).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // sort + limit top-k: TakeOrderedAndProject, not a global sort
    "q_topk_orders" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // E9 ntile decile assignment, partitioned by priority class (ntile
    // is inherently a per-partition global rank — partitioning by a
    // real key is what keeps it scale-sane; a truly global ntile at
    // 100 TB would be a range-partitioned two-pass estimate instead).
    "q_ntile" -> ((s, d) =>
      orders(s, d)
        // long decile: ntile is int32 in Spark, int64 in DuckDB
        .withColumn("decile", ntile(10).over(
          Window.partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)).cast("long"))
        .groupBy("o_orderpriority", "decile")
        .agg(count(lit(1)).as("n"),
          (max(cents(col("o_totalprice"))).cast("double") / 100).as("decile_max"))
        .orderBy("o_orderpriority", "decile")),

    // E9 conditional aggregation battery: count_if / bool_and / bool_or
    // (FILTER-clause semantics) in one hash aggregate.
    "q_cond_agg" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(count_if(col("o_totalprice") > 100000.0).as("n_big"),
          bool_and(col("o_totalprice") > 900.0).as("all_above_min"),
          bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // E9 typed JSON parse: from_json with an explicit schema (the typed
    // complement of q_json_extract's path probing) then a plain
    // aggregate over the extracted field.
    "q_json_typed" -> ((s, d) =>
      events(s, d)
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .groupBy("event_type")
        .agg(sum(col("p.k")).cast("long").as("sum_k"),
          count_if(col("p.k") > 50).as("n_high"))
        .orderBy("event_type")),

    // E9 RANGE-frame window: 7-day rolling order count + spend per
    // customer — value-based frames (RANGE BETWEEN n PRECEDING) are
    // distinct semantics from the rows-based windows elsewhere in the
    // catalog. Partitioned by customer (never a global single-partition
    // window), ordered by epoch seconds so the frame bound is a plain
    // long in both engines; money in integer cents.
    "q_window_range_frame" -> ((s, d) => {
      val epoch = floor(unix_timestamp(col("o_orderdate").cast("timestamp"))).cast("long")
      val w = Window.partitionBy("o_custkey").orderBy(epoch)
        .rangeBetween(-6L * 86400L, 0L)
      orders(s, d)
        .withColumn("spend_c", cents(col("o_totalprice")))
        .withColumn("n_7d", count(lit(1)).over(w))
        .withColumn("spend_7d",
          (sum(col("spend_c")).over(w).cast("double") / 100).as("spend_7d"))
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("n_7d"), col("spend_7d"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // E9 fixed-width histogram (data profiling): bucket o_totalprice
    // into 10k-wide bins — one narrow projection + one hash aggregate,
    // the profiling pass a training pipeline runs before filtering.
    "q_histogram" -> ((s, d) =>
      orders(s, d)
        .withColumn("bucket", floor(col("o_totalprice") / 10000.0).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          (min(cents(col("o_totalprice"))).cast("double") / 100).as("lo"),
          (max(cents(col("o_totalprice"))).cast("double") / 100).as("hi"))
        .orderBy("bucket")),

    // E9 statistical aggregates: stddev/variance/correlation/covariance
    // per group. Rounded to 4 decimals for the cross-engine hash (both
    // engines accumulate IEEE doubles; the estimator formulas agree to
    // well past 4 places on these magnitudes).
    "q_stats_agg" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"))
        .orderBy("l_returnflag")),

    // COLUMN PROFILER — the data-quality sweep every ingest runs
    // first: per column, row/null/distinct counts and min/max, in ONE
    // scan (a single 17-measure aggregate, unpivoted afterwards with
    // stack() over the 1-row result — never one pass per column). The
    // date column profiles through an explicit DATE cast so the
    // min/max strings render identically cross-engine; n_distinct is
    // exact here — at lake scale the drop-in is the catalog's own
    // graft_hll sketch, per column, same single-scan shape.
    "q_profile" -> ((s, d) => {
      val o = orders(s, d).withColumn("o_orderdate",
        to_date(col("o_orderdate")))
      val cols = Seq("o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      // r15: min/max over a STRING column makes the whole aggregate
      // buffer variable-width, which disqualifies HashAggregate — the
      // plan fell back to SortAggregate and serially sorted the 5x
      // Expand of the table TWICE (measured 1.8 s of the query's
      // 2.3 s). The one-char status enum is profiled through its code
      // point (min/max over ints, rendered back via char), keeping
      // every buffer field fixed-width: the plan is HashAggregate end
      // to end. Values are identical for single-char ASCII enums
      // (binary collation on one char == code-point order).
      def mn(c: String) =
        if (c == "o_orderstatus") expr(s"char(min(ascii($c)))")
        else min(col(c)).cast("string")
      def mx(c: String) =
        if (c == "o_orderstatus") expr(s"char(max(ascii($c)))")
        else max(col(c)).cast("string")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.zipWithIndex.flatMap { case (c, i) => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nu$i"),
          countDistinct(col(c)).as(s"nd$i"),
          mn(c).as(s"mn$i"),
          mx(c).as(s"mx$i"))
        }
      o.agg(aggs.head, aggs.tail: _*)
        .selectExpr("n_rows",
          "stack(4, " + cols.zipWithIndex.map { case (c, i) =>
            s"'$c', nu$i, nd$i, mn$i, mx$i" }.mkString(", ") +
            ") as (col_name, n_null, n_distinct, min_val, max_val)")
        .select("col_name", "n_rows", "n_null", "n_distinct",
          "min_val", "max_val")
        .orderBy("col_name")
    }),

    // A1 at k>1 through the NATIVE whole-operator (graft.plans
    // .TopKPerGroup): 3 earliest orders per customer with their rank.
    // The oracle is the equivalent row_number() SQL — the hash gate
    // proves the custom physical operator implements row_number()
    // semantics exactly (ranks, ties, and group boundaries).
    "q_topk_per_group" -> ((s, d) =>
      graft.plans.TopKPerGroup(
          orders(s, d).select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice")),
          Seq(col("o_custkey")),
          Seq(col("o_orderdate").asc, col("o_orderkey").asc), k = 3)
        .select(col("o_custkey"), col("rn").cast("long").as("rank"),
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"))
        .orderBy("o_custkey", "rank")),

    "q_intersect" -> ((s, d) => {
      val a = orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val b = customer(s, d).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      a.intersect(b).orderBy("custkey")
    }),

    "q_except" -> ((s, d) => {
      val a = customer(s, d).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val b = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      a.except(b).orderBy("custkey")
    }),

    "q_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_quantity"))).cast("double") / 100).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // TPC-H Q5 shape: 5-way join down the region→nation dim chain with
    // local-supplier predicate; dims broadcast, facts shuffle on keys
    "q_tpch_q5" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c"))
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("o_orderdate") < lit(LocalDateTime.of(1998, 1, 1, 0, 0)))
        .select("o_orderkey", "o_custkey")
      val c = customer(s, d).select("c_custkey", "c_nationkey")
      val su = supplier(s, d).select("s_suppkey", "s_nationkey")
      val n = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val r = region(s, d).filter(col("r_name") === "EUROPE").select("r_regionkey")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg((sum(col("rev_c")).cast("double") / 10000).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // TPC-H Q10 shape: top-20 customers by revenue from RETURNED
    // items — join facts on the order key, aggregate per customer,
    // bounded top-k via TakeOrderedAndProject (never a global sort).
    "q_tpch_q10" -> ((s, d) => {
      val li = lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c"))
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("o_orderdate") < lit(LocalDateTime.of(1996, 7, 1, 0, 0)))
        .select("o_orderkey", "o_custkey")
      val c = customer(s, d).select("c_custkey", "c_name", "c_mktsegment")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg((sum(col("rev_c")).cast("double") / 10000).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q12 shape: conditional aggregation after a fact join —
    // high/low priority line counts per linestatus (the testdata has
    // no shipmode column; linestatus plays its grouping role).
    "q_tpch_q12" -> ((s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("l_shipdate") < lit(LocalDateTime.of(1997, 1, 1, 0, 0)))
        .select("l_orderkey", "l_linestatus")
        .join(orders(s, d).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q2 shape: min-cost supplier per part within a region — the
    // correlated scalar subquery (cost = regional minimum for that
    // part) decorrelated into a grouped-min joined back on
    // (part, cost). Runs over the DERIVED partsupp ([[partsupp]]);
    // supply costs are integer cents, so the min-equality is exact.
    "q_tpch_q2" -> ((s, d) => {
      val euroSupp = supplier(s, d)
        .join(broadcast(nation(s, d).join(broadcast(
            region(s, d).filter(col("r_name") === "EUROPE").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val sized = part(s, d).filter(col("p_size") === 15)
        .select("p_partkey", "p_brand")
      val eps = partsupp(s, d)
        .join(sized, col("ps_partkey") === col("p_partkey"))
        .join(euroSupp, col("ps_suppkey") === col("s_suppkey"))
      val minCost = eps.groupBy(col("ps_partkey").as("mk"))
        .agg(min(col("ps_supplycost_c")).as("min_c"))
      eps.join(broadcast(minCost),
          col("ps_partkey") === col("mk") && col("ps_supplycost_c") === col("min_c"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"),
          (col("ps_supplycost_c").cast("double") / 100).as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
          col("p_partkey").asc)
        .limit(100)
    }),

    // TPC-H Q9 shape: product-line profit by nation and year — the
    // five-table join with an arithmetic measure combining revenue and
    // supply cost. All money stays in integer 10^-4-dollar units
    // (revenue = cents × percent; cost = cents × qty × 100), so the
    // per-nation-year sums are exact.
    "q_tpch_q9" -> ((s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c"))
      val selParts = part(s, d).filter(col("p_name").contains("red")).select("p_partkey")
      val amounts = li
        .join(broadcast(selParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(partsupp(s, d),
          col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
        .withColumn("amount",
          col("rev_c") - col("ps_supplycost_c") * col("qty") * 100)
      amounts
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg((sum(col("amount")).cast("double") / 10000).as("profit"))
        .orderBy(col("n_name").asc, col("o_year").desc)
    }),

    // TPC-H Q11 shape: important stock — per-part inventory value
    // probed against a fraction of the GLOBAL value (scalar-subquery
    // HAVING). The 1/10000 fraction comparison stays integral.
    "q_tpch_q11" -> ((s, d) => {
      val natSupp = supplier(s, d)
        .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_3")
          .select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select("s_suppkey")
      val vals = partsupp(s, d)
        .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .withColumn("v_c", col("ps_supplycost_c") * col("ps_availqty"))
      val byPart = vals.groupBy("ps_partkey").agg(sum(col("v_c")).as("part_v"))
      val total = vals.agg(sum(col("v_c")).as("tot_v"))
      byPart.crossJoin(broadcast(total)) // 1-row global aggregate probe
        .filter(col("part_v") * 10000 > col("tot_v"))
        .select(col("ps_partkey"), (col("part_v").cast("double") / 100).as("value"))
        .orderBy(col("value").desc, col("ps_partkey").asc)
    }),

    // TPC-H Q16 shape: supplier-count distribution per part attribute
    // combo, with a NOT IN supplier exclusion (negative-balance
    // suppliers stand in for the comment-based complaint filter the
    // testdata lacks) — anti join + countDistinct.
    "q_tpch_q16" -> ((s, d) => {
      val excluded = supplier(s, d).filter(col("s_acctbal") < 0).select("s_suppkey")
      val selParts = part(s, d)
        .filter(col("p_brand") =!= "Brand#4" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      partsupp(s, d)
        .join(selParts, col("ps_partkey") === col("p_partkey"))
        .join(broadcast(excluded), col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_type").asc, col("p_size").asc)
    }),

    // TPC-H Q20 shape: suppliers holding excess stock — two nested
    // correlated subqueries (parts of interest; half the year's moved
    // quantity per (part, supplier)) decorrelated into a grouped sum
    // joined on both keys, with the integral 2·avail > qty rule.
    "q_tpch_q20" -> ((s, d) => {
      val selParts = part(s, d).filter(col("p_name").contains("small")).select("p_partkey")
      val moved = lineitem(s, d)
        .filter(col("l_shipdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("l_shipdate") < lit(LocalDateTime.of(1997, 1, 1, 0, 0)))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      val excess = partsupp(s, d)
        .join(broadcast(selParts), col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(moved, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("sum_qty"))
        .select("ps_suppkey").distinct()
      val euroSupp = supplier(s, d)
        .join(broadcast(nation(s, d).join(broadcast(
            region(s, d).filter(col("r_name") === "EUROPE").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey")).select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
      euroSupp.join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q8 shape: national market share — the deepest join tree in
    // the suite (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region on the
    // demand side, ⋈ supplier ⋈ nation on the supply side, ⋈ part).
    // Every dimension chain broadcasts; the facts shuffle once on the
    // order key. The share is a conditional-sum ratio computed in
    // integer micro-units over cent-exact revenue — no float
    // accumulation anywhere.
    "q_tpch_q8" -> ((s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c"))
        .join(broadcast(part(s, d).filter(col("p_type") === "STANDARD")
          .select("p_partkey")), col("l_partkey") === col("p_partkey"), "left_semi")
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("o_orderdate") < lit(LocalDateTime.of(1998, 1, 1, 0, 0)))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      val euroCust = customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(nation(s, d).join(broadcast(
            region(s, d).filter(col("r_name") === "EUROPE").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"), "left_semi")
        .select("c_custkey")
      val suppNation = supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(nation(s, d).select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(euroCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(sum(when(col("supp_nation") === "NATION_3", col("rev_c"))
            .otherwise(0L)).as("nation_c"),
          sum(col("rev_c")).as("total_c"))
        .select(col("o_year"),
          expr("nation_c * 1000000 div total_c").as("mkt_share_micro"),
          (col("total_c").cast("double") / 10000).as("total_revenue"))
        .orderBy("o_year")
    }),

    // TPC-H Q14 shape: promo revenue share — conditional aggregation
    // after a broadcast dim join, ratio in integer micro-units.
    "q_tpch_q14" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("l_shipdate") < lit(LocalDateTime.of(1997, 1, 1, 0, 0)))
        .select(col("l_partkey"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c"))
        .join(broadcast(part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", col("rev_c")).otherwise(0L)).as("promo_c"),
          sum(col("rev_c")).as("total_c"))
        .select(expr("promo_c * 1000000 div total_c").as("promo_share_micro"),
          (col("promo_c").cast("double") / 10000).as("promo_revenue"),
          (col("total_c").cast("double") / 10000).as("total_revenue"))),

    // TPC-H Q19 shape: DISJUNCTIVE multi-attribute predicate groups
    // (brand × size-range × quantity-range alternatives) — the OR-of-
    // ANDs join predicate that exercises predicate normalization; the
    // part side stays a broadcast hash join on the key with the
    // disjunction as a post-join filter.
    "q_tpch_q19" -> ((s, d) => {
      val qty = col("l_quantity").cast("long")
      val hit =
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
          qty.between(1L, 20L)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          qty.between(10L, 35L)) ||
        (col("p_brand") === "Brand#17" && col("p_size").between(20, 50) &&
          qty.between(20L, 50L))
      lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c"))
        .join(broadcast(part(s, d).select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(hit)
        .agg((sum(col("rev_c")).cast("double") / 10000).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q13 shape: customer order-count DISTRIBUTION — left outer
    // join preserving zero-order customers, then a two-level
    // aggregation (per-customer count, then histogram of counts). The
    // outer join shuffles once on custkey; the histogram input is one
    // row per customer, so the second aggregation is near-free.
    "q_tpch_q13" -> ((s, d) => {
      val o = orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      customer(s, d).select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count")) // nulls not counted
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 shape: top supplier by windowed revenue — grouped
    // revenue, then an EQUALITY probe against its own MAX (the view +
    // scalar-subquery pattern). Revenue stays in integer 10^-4-dollar
    // units, so the max comparison is exact integer equality on both
    // engines — no float boundary can drop or duplicate the winner.
    "q_tpch_q15" -> ((s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("l_shipdate") < lit(LocalDateTime.of(1996, 4, 1, 0, 0)))
        .groupBy("l_suppkey")
        .agg(sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("total_c"))
      val top = rev.agg(max(col("total_c")).as("m"))
      rev.join(broadcast(top), col("total_c") === col("m"))
        .join(supplier(s, d).select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("total_c").cast("double") / 10000).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q17 shape: small-quantity lines vs the per-part average —
    // the correlated-aggregate subquery decorrelated into a grouped
    // stats table joined back on the part key. The brand dim filter
    // broadcasts and prunes the fact FIRST, so the stats aggregation
    // runs on the restricted set (identical per-part stats, far less
    // data). The avg comparison is kept integral
    // (5 · qty · cnt < sum_qty  ⇔  qty < 0.2 · avg) — quantities are
    // integers, so no engine-specific float rounding can flip a row.
    "q_tpch_q17" -> ((s, d) => {
      val bp = part(s, d).filter(col("p_brand") === "Brand#4").select("p_partkey")
      val li = lineitem(s, d)
        .join(broadcast(bp), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          cents(col("l_extendedprice")).as("price_c"))
      val stats = li.groupBy("l_partkey")
        .agg(sum(col("qty")).as("sumq"), count(lit(1)).as("cnt"))
      li.join(stats, "l_partkey")
        .filter(col("qty") * col("cnt") * 5 < col("sumq"))
        .agg((sum(col("price_c")).cast("double") / 100 / 7).as("avg_yearly"))
    }),

    // TPC-H Q18 shape: large-volume orders — an IN-subquery on a
    // grouped HAVING aggregate, decorrelated as an inner join carrying
    // the aggregate through. One shuffle on orderkey for the quantity
    // rollup; orders/customer join broadcast-eligible dims after the
    // selective filter.
    "q_tpch_q18" -> ((s, d) => {
      val big = lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      orders(s, d).join(big, col("o_orderkey") === col("l_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // TPC-H Q21 shape (adapted: no commit/receipt dates in the
    // testdata — l_returnflag = 'R' marks a "problem" line): suppliers
    // whose problem lines were the ONLY problem in a finished
    // multi-supplier order. The correlated EXISTS (another supplier on
    // the order) and NOT EXISTS (another supplier with a problem)
    // decorrelate into per-order distinct-supplier counts joined back
    // — each a single shuffle on the order key, no nested probes.
    "q_tpch_q21" -> ((s, d) => {
      val li = lineitem(s, d).select("l_orderkey", "l_suppkey", "l_returnflag")
      // TWO separate per-order aggregations, deliberately: folding both
      // distinct counts into one agg (conditional countDistinct) plans
      // an Expand that doubles the shuffled rows and A/B-measured 1.5x
      // slower at sf0.1 (0.84s vs 0.56s core); the two 3-column scans
      // are cheap columnar reads, and the independent aggregations
      // pipeline as parallel stages.
      val multi = li.groupBy("l_orderkey")
        .agg(countDistinct(col("l_suppkey")).as("nsupp"))
        .filter(col("nsupp") > 1).select("l_orderkey")
      val prob = li.filter(col("l_returnflag") === "R")
        .groupBy("l_orderkey")
        .agg(countDistinct(col("l_suppkey")).as("nprob"))
        .filter(col("nprob") === 1).select(col("l_orderkey").as("po"))
      val fOrders = orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      li.filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey").distinct()
        .join(multi, "l_orderkey")
        .join(prob, col("l_orderkey") === col("po"))
        .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    }),

    // TPC-H Q22 shape (adapted: custkey % 7 stands in for the phone
    // country code): positive-balance average as a global scalar
    // subquery + NOT EXISTS orders as an anti join. The average
    // comparison is integral (bal_c · cnt > sum_c ⇔ bal > avg) and the
    // output balance sum goes through integer cents — no
    // summation-order drift on either side.
    "q_tpch_q22" -> ((s, d) => {
      val cust = customer(s, d)
        .select(col("c_custkey"), cents(col("c_acctbal")).as("bal_c"),
          (col("c_custkey") % 7).as("cc"))
        .filter(col("cc").isin(1L, 2L, 4L))
      val pos = customer(s, d).filter(col("c_acctbal") > 0)
        .agg(sum(cents(col("c_acctbal"))).as("sum_c"), count(lit(1)).as("cnt"))
      cust.crossJoin(broadcast(pos)) // 1-row global aggregate probe
        .filter(col("bal_c") * col("cnt") > col("sum_c"))
        // NOT EXISTS over urgent orders (nearly every customer has SOME
        // order in this testdata; the priority filter keeps the
        // anti-join selective instead of empty)
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cc")
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_c")).cast("double") / 100).as("totacctbal"))
        .orderBy("cc")
    }),

    // TPC-H Q7 shape: volume shipped between two nations by year —
    // the two-role dimension pattern (nation joined twice under
    // different aliases). Facts shuffle on the order key once; both
    // nation roles and the supplier dim broadcast; money in integer
    // cents per the cross-engine convention.
    "q_tpch_q7" -> ((s, d) => {
      val li = lineitem(s, d)
        .filter(col("l_shipdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("l_shipdate") < lit(LocalDateTime.of(1998, 1, 1, 0, 0)))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c"))
      val o = orders(s, d).select("o_orderkey", "o_custkey")
      val c = customer(s, d).select("c_custkey", "c_nationkey")
      val su = supplier(s, d).select("s_suppkey", "s_nationkey")
      val n1 = nation(s, d).select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))
      val n2 = nation(s, d).select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((sum(col("rev_c")).cast("double") / 10000).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q4 shape: correlated EXISTS decorrelated to a LEFT SEMI
    // join on the order key — orders with at least one returned line
    // item, counted by priority (the testdata lineitem carries no
    // commit/receipt dates, so the EXISTS predicate is returnflag).
    // The semi join shuffles both sides on l_orderkey once; no
    // distinct pass is needed (semi join semantics dedup the build
    // side for free).
    "q_tpch_q4" -> ((s, d) => {
      val late = lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      orders(s, d)
        .filter(col("o_orderdate") >= lit(LocalDateTime.of(1996, 7, 1, 0, 0)) &&
                col("o_orderdate") < lit(LocalDateTime.of(1996, 10, 1, 0, 0)))
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q6 shape: pure scan-filter-aggregate, zero joins — the
    // pushdown poster child (one partial+final agg, shuffle = 1 row)
    "q_tpch_q6" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit(LocalDateTime.of(1996, 1, 1, 0, 0)) &&
                col("l_shipdate") < lit(LocalDateTime.of(1997, 1, 1, 0, 0)) &&
                col("l_quantity") < 24)
        .select((cents(col("l_extendedprice")) * cents(col("l_discount"))).as("rev_c"),
          cents(col("l_discount")).as("disc_pct"))
        .filter(col("disc_pct").between(3, 7))
        .agg((sum(col("rev_c")).cast("double") / 10000).as("revenue"),
          count(lit(1)).as("n"))),

    "q_cube" -> ((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))).cast("double") / 100).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // window-function breadth: running sum, dense rank, delta-vs-prev
    // per customer — one shuffle on the partition key, then narrow
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          cents(col("o_totalprice")).as("price_c"))
        .withColumn("running_total",
          (sum(col("price_c")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / 100))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("delta_prev",
          ((col("price_c") - lag(col("price_c"), 1).over(w)).cast("double") / 100))
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          (col("price_c").cast("double") / 100).as("price"),
          col("running_total"), col("delta_prev"))
        .orderBy("o_custkey", "rn")
    }),

    // explicit GROUPING SETS (beyond rollup/cube): SQL-form entry —
    // catalog queries may register temp views and use spark.sql
    "q_grouping_sets" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_gs_v")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          |FROM orders_gs_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    // correlated scalar subquery (Catalyst rewrites it to an aggregate
    // + left outer join — RewriteCorrelatedScalarSubquery): orders
    // costing more than 2x their customer's average (exact-cents avg)
    "q_scalar_subquery" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_ss_v")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders_ss_v o
          |WHERE o_totalprice * 100 > 2 * (
          |  SELECT CAST(SUM(CAST(ROUND(i.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*)
          |  FROM orders_ss_v i WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // equi + range (banded) join: lineitems shipped within 60 days of
    // their order's date. The equality on the key keeps the join
    // hash-partitionable; the band is a post-join filter predicate —
    // the scalable shape for banded joins (no O(n·m) interval probe).
    "q_range_join" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      val l = lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      l.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy("o_orderkey")
    }),

    // PURE interval join (NO equi key) via BIN REPLICATION — the
    // shape Spark otherwise plans as BroadcastNestedLoop/Cartesian
    // (O(n·m) probes). Each interval is replicated to the W-wide bins
    // it covers, each point maps to exactly ONE bin, so the join is a
    // plain equi-shuffle on the bin id + a residual containment
    // filter, and every (interval, point) match meets in exactly one
    // bin — no dedup pass. Replication factor = width/W + 1 (bounded,
    // tune W toward the median interval width); the oracle states the
    // SEMANTICS as a brute-force BETWEEN join — physical strategy is
    // ours to choose.
    "q_interval_bin_join" -> ((s, d) => {
      val w = 100L
      val iv = part(s, d).select(col("p_partkey").as("iv_id"),
        (col("p_partkey") * 40).as("lo"),
        (col("p_partkey") * 40 + 100).as("hi"))
      val binned = iv.select(col("iv_id"), col("lo"), col("hi"),
        explode(sequence(expr(s"lo div $w"), expr(s"hi div $w"))).as("bin"))
      val pts = lineitem(s, d).select(col("l_orderkey").as("v"))
        .withColumn("bin", expr(s"v div $w"))
      binned.join(pts, "bin")
        .filter(col("v") >= col("lo") && col("v") <= col("hi"))
        .groupBy("iv_id").agg(count(lit(1)).as("n_points"))
        .orderBy("iv_id")
    }),

    // SPATIAL RADIUS SELF-JOIN via grid-cell bucketing — the
    // fixed-radius near-neighbor join (geo dedup, store-catchment
    // overlap, trajectory contact tracing) in its scale shape: bucket
    // points into cells of side ≥ r, explode ONE side to its 3×3 cell
    // neighborhood, equi-join on the cell key, then exact distance
    // filter. Every within-r pair lands in exactly one (neighbor-cell,
    // own-cell) combination, so no distinct is needed; the oracle is
    // the brute-force O(n²) distance join, proving the grid loses
    // nothing. Coordinates are md5-derived integers (the portable-
    // randomness convention — an LCG lattice was tried first and
    // produced ZERO within-radius pairs at every SF: multiplicative
    // lattices have a large minimum pair distance, exactly the
    // structure hashing destroys). Everything stays integral. Scale:
    // the cross join is gone — cost is 9 index rows/point and a hash
    // join on cell density, the textbook fixed-radius shape (cf.
    // ann/minhash bucketing above).
    "q_spatial_join" -> ((s, d) => {
      val r2 = 750L * 750L // radius 750 < cell side 1000
      def coord(salt: String): Column =
        conv(substring(md5(concat(col("c_custkey").cast("string"), lit(salt))), 1, 8),
          16, 10).cast("long") % 50000
      val pts = customer(s, d).select(col("c_custkey").as("id"),
        coord("x").as("x"), coord("y").as("y"))
      val probe = pts.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
          explode(sequence(lit(-1), lit(1))).as("dx"))
        .select(col("a_id"), col("ax"), col("ay"), col("dx"),
          explode(sequence(lit(-1), lit(1))).as("dy"))
        .select(col("a_id"), col("ax"), col("ay"),
          ((expr("ax div 1000") + col("dx")) * 1024
            + expr("ay div 1000") + col("dy")).as("cell"))
      val build = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"),
        (expr("x div 1000") * 1024 + expr("y div 1000")).as("cell"))
      probe.join(build, "cell")
        .filter(col("a_id") < col("b_id"))
        .withColumn("dist2", (col("ax") - col("bx")) * (col("ax") - col("bx"))
          + (col("ay") - col("by")) * (col("ay") - col("by")))
        .filter(col("dist2") <= r2)
        .select(col("a_id"), col("b_id"), col("dist2"))
        .orderBy("a_id", "b_id")
    }),

    // exact interpolated percentiles over integer cents (identical
    // linear-interpolation arithmetic in both engines)
    "q_percentiles" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_c"))
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(price_c, 0.5)").as("p50"),
          expr("percentile(price_c, 0.9)").as("p90"))
        .select(col("l_returnflag"),
          round(col("p50") / 100, 4).as("median_price"),
          round(col("p90") / 100, 4).as("p90_price"))
        .orderBy("l_returnflag")),

    // analytic-function breadth: rank family + distribution + frames
    "q_window_funcs" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      orders(s, d)
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cdist", round(cume_dist().over(w), 6))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .withColumn("grp_min", first(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("o_orderkey")
    }),

    // edit-distance near-dup over blocked pairs (both engines implement
    // the classic integer DP — exact match)
    "q_edit_distance" -> ((s, d) => {
      val p = part(s, d).filter(col("p_partkey") < 300)
        .select(col("p_partkey"), col("p_name"), col("p_type"))
      val a = p.select(col("p_type"), col("p_partkey").as("k1"), col("p_name").as("n1"))
      val b = p.select(col("p_type"), col("p_partkey").as("k2"), col("p_name").as("n2"))
      a.join(b, Seq("p_type")).filter(col("k1") < col("k2"))
        .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
        .filter(col("dist") <= 4)
        .select(col("p_type"), col("k1"), col("k2"), col("n1"), col("n2"), col("dist"))
        .orderBy("p_type", "k1", "k2")
    }),

    // null-semantics suite: null-safe equality, coalesce, nullif,
    // null-aware aggregation — the exact semantics the SCD compare
    // relies on, isolated and oracle-checked
    "q_null_semantics" -> ((s, d) => {
      val v = when(col("c_acctbal") < 0, lit(null).cast("double"))
        .otherwise(col("c_acctbal"))
      customer(s, d)
        .select(col("c_custkey"), v.as("bal"))
        .withColumn("is_null", col("bal").isNull)
        .withColumn("nullsafe_self", col("bal") <=> col("bal"))
        .withColumn("coalesced", coalesce(col("bal"), lit(-999.0)))
        .withColumn("nullif_zero", nullif(col("coalesced"), lit(-999.0)))
        .orderBy("c_custkey")
    }),

    // date/time function breadth over the NTZ order dates
    "q_date_functions" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          datediff(lit(java.sql.Date.valueOf("2002-01-01")),
            col("o_orderdate").cast("date")).cast("long").as("days_to_2002"))
        .orderBy("o_orderkey")),

    // arg-max/arg-min aggregation (min_by/max_by): the unique ranking
    // value (cents·1e6 + orderkey) rules out tie ambiguity cross-engine
    "q_argmax" -> ((s, d) => {
      val rankVal = cents(col("o_totalprice")) * 1000000L + col("o_orderkey")
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), rankVal.as("rv"))
        .groupBy("o_custkey")
        .agg(max_by(col("o_orderkey"), col("rv")).as("best_order"),
          min_by(col("o_orderkey"), col("rv")).as("worst_order"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey")
    }),

    // array-function breadth over per-customer order lists
    "q_array_funcs" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_custkey") < 100)
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o_orderkey"))).as("orders"))
        .select(col("o_custkey"),
          size(col("orders")).cast("long").as("n"),
          element_at(col("orders"), 1).as("first_key"),
          element_at(col("orders"), -1).as("last_key"),
          // string form: array-typed output columns are hash-hostile in
          // generic row comparators
          concat_ws(",", transform(slice(col("orders"), 1, 3),
            x => x.cast("string"))).as("first3"),
          array_contains(col("orders"), 7L).as("has_7"),
          coalesce(aggregate(col("orders"), lit(0L), (a, x) => a + x), lit(0L)).as("key_sum"))
        .orderBy("o_custkey")),

    // string-function breadth (initcap/lpad/translate/repeat/substr/
    // instr — all cross-engine exact on ASCII)
    "q_string_funcs" -> ((s, d) =>
      part(s, d)
        .filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          initcap(col("p_name")).as("title"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          translate(col("p_type"), "AEIOU", "aeiou").as("translated"),
          substring(col("p_name"), 2, 5).as("sub"),
          instr(col("p_name"), " ").cast("long").as("space_at"),
          reverse(col("p_brand")).as("rev"),
          repeat(lit("ab"), 3).as("rep"))
        .orderBy("p_partkey")),

    "q_groupby_agg" -> ((s, d) =>
      documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")),

    // FULL OUTER join (both-unmatched-sides preservation — the one
    // join type the catalog didn't yet exercise): bounded customer
    // slice vs per-customer order aggregates on an offset key range so
    // all three row classes (left-only, matched, right-only) appear.
    "q_full_outer" -> ((s, d) => {
      val custs = customer(s, d).filter(col("c_custkey") < 150)
        .select(col("c_custkey"), col("c_mktsegment"))
      val spend = orders(s, d)
        .filter(col("o_custkey") >= 100 && col("o_custkey") < 300)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      custs.join(spend, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_orders"))
        .orderBy("custkey")
    }),

    // UNPIVOT / melt (the inverse of q_pivot): wide per-part metrics to
    // (part, metric, value) long form via the Dataset unpivot API — a
    // narrow row-expansion, no shuffle except the output sort.
    "q_unpivot" -> ((s, d) =>
      part(s, d).filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retail"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("retail")), "metric", "value")
        .orderBy("p_partkey", "metric")),

    // Z-order (Morton) layout key via graft.sources.Bucketing.zorderKey:
    // customer id × order day interleaved bitwise, so sorting by zkey
    // clusters rows close in BOTH dimensions — the multi-column file-
    // pruning layout (each z-sorted file covers a compact (cust, day)
    // rectangle; parquet min/max stats then prune 2-D probes). The key
    // is pure built-in bitwise arithmetic: fully codegen'd, and exactly
    // reproducible in the oracle's SQL.
    // Hilbert-curve layout key over the same (customer, day) grid as
    // q_zorder_key — consecutive Hilbert positions are always
    // edge-adjacent cells (Morton jumps at power-of-two boundaries),
    // so key-range files cover connected rectangles: tighter 2-D
    // pruning at the same file count. 16 staged narrow projections
    // (see Bucketing.withHilbertKey), one whole-stage-codegen span.
    "q_hilbert_key" -> ((s, d) => {
      val base = orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("cell_x"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
            .cast("long").as("cell_y"))
      graft.sources.Bucketing
        .withHilbertKey(base, col("cell_x"), col("cell_y"), "hkey")
        .orderBy("hkey", "o_orderkey")
    }),

    "q_zorder_key" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("cell_x"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
            .cast("long").as("cell_y"))
        .withColumn("zkey",
          graft.sources.Bucketing.zorderKey(col("cell_x"), col("cell_y")))
        .orderBy("zkey", "o_orderkey")),

    // E14 3-D Z-ORDER layout key: (customer, day, price-bucket) mapped
    // to a 1024³ grid and Morton-interleaved — the layout for probes
    // that mix entity, time, and magnitude predicates. Projection-only
    // (no shuffle; the writer sorts by the key); the pure-bitwise
    // cascade is replicated verbatim in the DuckDB oracle, so a single
    // wrong mask or shift breaks the hash.
    "q_zorder3_key" -> ((s, d) =>
      orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(1024L)).as("cx"),
          pmod(datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
            .cast("long"), lit(1024L)).as("cy"),
          pmod(expr("cast(round(o_totalprice * 100) as bigint) div 100000"),
            lit(1024L)).as("cz"))
        .withColumn("zkey3",
          graft.sources.Bucketing.zorder3Key(col("cx"), col("cy"), col("cz")))
        .orderBy("zkey3", "o_orderkey")),

    // FREQUENT ITEMSET PAIRS (market-basket co-occurrence): which part
    // pairs appear together in the same order? A-priori pruning first:
    // a pair can only clear min-support if BOTH singletons do, so the
    // item list is semi-joined against the frequent-singleton set
    // before pair generation — at scale that set is small (broadcast).
    // Pair-gen (r15, re-confirmed by the r16 A/B) is the order-keyed
    // equi SELF-JOIN over one reused exchange — interleaved min-of-9
    // at sf0.1: join 0.633 s vs sorted-array+slice-explode 0.828 s
    // (the extra basket collect_set shuffle costs more than the
    // join's second sort of the reused exchange at this fan-out).
    // Fan-out stays ≤ order size², never catalog size.
    "q_itemset_pairs" -> ((s, d) =>
      itemsetPairs(s, d)
        .orderBy(col("support").desc, col("pa"), col("pb"))),

    // ITEM-TO-ITEM RECOMMENDATIONS: top-3 co-occurring parts per part —
    // the pair counts symmetrized (each pair recommends both ways) and
    // ranked through the NATIVE top-k-per-group operator: bounded
    // per-group heaps, shuffle of ≤3 survivors per (item, partition),
    // no Sort/WindowExec anywhere in the ranking.
    "q_item_recos" -> ((s, d) => {
      val p = itemsetPairs(s, d)
      val sym = p.select(col("pa").as("item"), col("pb").as("reco"), col("support"))
        .unionByName(
          p.select(col("pb").as("item"), col("pa").as("reco"), col("support")))
      graft.plans.TopKPerGroup(sym, Seq(col("item")),
          Seq(col("support").desc, col("reco").asc), k = 3)
        .select(col("item"), col("rn").cast("long").as("rank"),
          col("reco"), col("support"))
        .orderBy("item", "rank")
    }),

    // E16 DEGREE DISTRIBUTION of the co-purchase graph — the first
    // structural question about any derived graph ("is it heavy-tailed
    // enough to need hub capping?"; the link-predict hub cap at 8 was
    // motivated by exactly this shape). Each frequent pair contributes
    // one edge endpoint to each side, so degree = distinct co-items;
    // two hash-aggs over the memoized pair table (O(pairs), never the
    // fact) then a histogram over O(distinct degrees) rows.
    "q_degree_dist" -> ((s, d) => {
      val p = itemsetPairs(s, d)
      p.select(col("pa").as("item"))
        .unionByName(p.select(col("pb").as("item")))
        .groupBy("item").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_items"))
        .orderBy("degree")
    }),

    // E9 USER-USER COLLABORATIVE FILTERING — q_item_recos' dual: top-3
    // most-similar customers by co-purchased parts, the neighborhood
    // behind user-kNN recommenders and audience look-alikes. The
    // part-keyed inverted index carries a DETERMINISTIC popularity
    // band [2, 32]: a part every customer buys is pure fan-out noise
    // (its pairs say nothing about affinity — the IDF intuition), and
    // dropping it also caps per-key pair fan-out at 32²/2, the same
    // skew bound as the shingle df-cap. One fact shuffle (groupBy
    // part → customer set), narrow chained explodes, then the native
    // bounded-heap top-k — never a per-customer sort.
    // r16: pair generation from the SORTED per-part customer set via
    // chained posexplode/slice — each anchor explodes only the
    // strictly-later suffix, so the ca<cb constraint is free and every
    // operator runs in whole-stage codegen. This replaces BOTH earlier
    // forms on measurement (interleaved min-of-9 at sf0.1, identical
    // output verified): the r14 HOF-explode (filter(cs, x > ca) is
    // CodegenFallback — interpreted per emitted row) timed 1.403 s,
    // the r15 p-keyed equi self-join — which the round-15 driver
    // measured as a 25% in-catalog REGRESSION to 3.755 s — timed
    // 1.421 s, the slice form 1.361 s. The explicit-count round-robin
    // repartition keeps the ≤32²/2-per-part fan-out spread across
    // cores (the q_fuzzy_match 12× lesson: AQE would coalesce the
    // KB-sized banded shuffle into one task and serialize the
    // fan-out). localCheckpoint because BOTH symmetrization branches
    // consume the pair table; [[userCfPairsPlan]] exposes the raw
    // pre-checkpoint pipeline for plan pins/dumps.
    "q_user_cf" -> ((s, d) => {
      val pairs = userCfPairsPlan(s, d).localCheckpoint()
      val sym = pairs.select(col("ca").as("cust"), col("cb").as("peer"), col("co"))
        .unionByName(pairs.select(col("cb").as("cust"), col("ca").as("peer"), col("co")))
      graft.plans.TopKPerGroup(sym, Seq(col("cust")),
          Seq(col("co").desc, col("peer").asc), k = 3)
        .select(col("cust"), col("rn").cast("long").as("rank"),
          col("peer"), col("co"))
        .orderBy("cust", "rank")
    }),

    // E9 RECOMMENDATION CATALOG COVERAGE — the first health metric of
    // any recommender: what share of the purchasable catalog ever
    // appears in a top-3 list (a popularity-biased model craters
    // this long before accuracy metrics move). Rides the memoized
    // pair mining through q_item_recos; two count-distinct aggregates
    // and a 1-row broadcast — O(pairs), the fact is never rescanned.
    "q_reco_coverage" -> ((s, d) => {
      val recos = queries("q_item_recos")(s, d)
      val items = lineitem(s, d).select(col("l_partkey")).distinct()
      recos.agg(countDistinct(col("reco")).as("n_recommended"))
        .crossJoin(broadcast(items.agg(count(lit(1)).as("n_items"))))
        .withColumn("coverage_ppm", expr("n_recommended * 1000000 div n_items"))
        .select("n_recommended", "n_items", "coverage_ppm")
    }),

    // E9 ASSOCIATION RULES — the Apriori endgame: directed rules a→b
    // over the memoized frequent pairs with confidence supp(ab)/
    // supp(a) and lift supp(ab)·N/(supp(a)·supp(b)), both integral
    // ppm (lift > 1e6 = genuinely associated, < 1e6 = co-occurrence
    // below independence). Item supports are one more hash-agg over
    // the distinct (order, item) projection; the rule join probes the
    // broadcast support table twice — O(pairs) work end to end, the
    // fact is never rescanned.
    "q_assoc_rules" -> ((s, d) => {
      // the memoized basket projection feeds the support table AND the
      // order-count probe (shared with pair mining and triples)
      val items = basketItems(s, d)
      val supp = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("s1"))
        .localCheckpoint()
      val norders = broadcast(items.select("l_orderkey").distinct()
        .agg(count(lit(1)).as("n_orders")))
      val p = itemsetPairs(s, d)
      val rules = p.select(col("pa").as("ante"), col("pb").as("cons"), col("support"))
        .unionByName(
          p.select(col("pb").as("ante"), col("pa").as("cons"), col("support")))
      rules
        .join(broadcast(supp.select(col("l_partkey").as("ante"), col("s1").as("sa"))), "ante")
        .join(broadcast(supp.select(col("l_partkey").as("cons"), col("s1").as("sc"))), "cons")
        .crossJoin(norders)
        .withColumn("conf_ppm", expr("support * 1000000 div sa"))
        .withColumn("lift_ppm", expr("support * n_orders * 1000000 div (sa * sc)"))
        .select("ante", "cons", "support", "conf_ppm", "lift_ppm")
        .orderBy(col("conf_ppm").desc, col("ante"), col("cons"))
    }),

    // E10 NEGATIVE SAMPLING — the recsys-training counterpart of the
    // positives table: 4 hash-proposed candidate items per customer,
    // anti-joined against true interactions (propose-and-reject, the
    // standard trick that avoids materializing the user × item
    // complement — which at catalog scale is the single most common
    // OOM in naive implementations). Proposals are md5-derived, so
    // the sample is deterministic and cross-engine exact; rejected
    // collisions (a proposal the customer actually bought) are simply
    // dropped — with |interactions/user| ≪ |items| the loss is a few
    // ppm, and a training loader re-proposes with k+1. The dense part
    // index uses the two-phase distributed rank (no single-task sort
    // even though parts is dimension-sized); the anti join is
    // (c, item)-keyed — one shuffle of O(4·customers).
    "q_negative_sampling" -> ((s, d) => negativeSampling(s, d)),

    // FREQUENT ITEMSET TRIPLES — the Apriori level-3 pass: candidate
    // (a < b < c) triples are generated ONLY from items that survive
    // the frequent-PAIR screen (the level-wise prune that makes
    // Apriori scale: an item outside every frequent pair cannot be in
    // any frequent triple, so pruning it changes no reported row —
    // only candidate volume). Reuses the memoized pair mining; the
    // triple-gen is the same one-shuffle basket collect + chained
    // narrow explodes as the pair query, fan-out ≤ basket³/6, bounded
    // by order size, never catalog size.
    // r16: triple generation from the SORTED basket array via chained
    // posexplode/slice (see [[triplesSlice]]) — whole-stage codegen
    // with no interpreted HOF (the r14 form's filter(ps, x > pa) was
    // CodegenFallback) and no self-join (the r15 form planned 4
    // SortMergeJoins re-sorting one exchange, broke its own PlanSpec
    // pin, and the round-15 driver showed no win). Interleaved
    // min-of-9 at sf0.1, identical output verified: hof 0.634 s, join
    // 0.663 s, slice 0.546 s.
    "q_itemset_triples" -> ((s, d) => triplesSlice(s, d)),

    // APPROXIMATE QUERY PROCESSING (sampling estimator, self-
    // evaluated) — the answer-in-sample-time pattern for 100 TB
    // aggregates: a deterministic 1-in-32 md5 row sample (portable-
    // randomness convention, so the SAMPLE itself is oracle-stable),
    // the Horvitz-Thompson scale-up (sample_sum × 32), and the
    // realized relative error vs the exact answer per group — the
    // q_ann_recall pattern of an operator that measures its own
    // approximation. Revenue in integer cents throughout; at lake
    // scale the exact branch is dropped and the sample is a
    // pre-materialized table — the estimator column is what ships.
    "q_aqp_sum" -> ((s, d) => {
      val li = lineitem(s, d)
        .select(col("l_returnflag"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
          (conv(substring(md5(concat(lit("aqp|"),
            (col("l_orderkey") * 8 + col("l_linenumber")).cast("string"))), 1, 8), 16, 10)
            .cast("long") % 32 === 0).as("in_sample"))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"),
          sum("cents").as("exact_cents"),
          (sum(when(col("in_sample"), col("cents")).otherwise(0L)) * 32)
            .as("est_cents"))
        .withColumn("rel_err_ppm",
          expr("abs(est_cents - exact_cents) * 1000000 div exact_cents"))
        .orderBy("l_returnflag")
    }),

    // BENFORD'S-LAW AUDIT — first-significant-digit distribution of
    // order totals vs the log10(1+1/d) expectation: the classic
    // fabricated-numbers screen (synthetic uniform-ish prices FAIL it,
    // which is exactly what the chi-square column shows — the test
    // quantifies the deviation either way). Digit extraction is pure
    // string-of-integer arithmetic (no FP log on data); the expected
    // shares are 9 CONSTANTS, so the only FP is one deterministic
    // per-digit expression over integral counts. One hash-agg on a
    // 9-value key + a 1-row broadcast total: shape-free at scale.
    "q_benford" -> ((s, d) => {
      val digits = orders(s, d)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum("n").as("total"))
      digits.join(broadcast(tot))
        .withColumn("expected_ppm",
          expr("cast(round(log10(1.0 + 1.0 / digit) * 1000000) as bigint)"))
        .withColumn("observed_ppm", expr("n * 1000000 div total"))
        // χ² carried in integral milli (multiply-before-divide in
        // bigint, the modularity pattern): E3 = milli expected count,
        // D = milli deviation, chi2·1000 = D² div E3. Both engines
        // truncate identically — no half-ulp double rounding to
        // disagree on. Overflow bound: D ≤ n·1000, D² ≤ 9.2e18 for
        // n ≤ 3e7 per digit; beyond that drop to centi.
        .withColumn("chi2_milli", expr(
          """(n * 1000 - (total * expected_ppm) div 1000) *
            |(n * 1000 - (total * expected_ppm) div 1000) div
            |((total * expected_ppm) div 1000)""".stripMargin))
        .select("digit", "n", "observed_ppm", "expected_ppm", "chi2_milli")
        .orderBy("digit")
    }),

    // PRICE ELASTICITY — per-brand OLS of ln(quantity) on ln(unit
    // price), the classic log-log demand fit (slope = elasticity, r²
    // alongside). Inputs are micro-quantized ln values (bigint), then
    // CENTERED on the integral floor-mean before the moment sums (the
    // q_acf overflow discipline: n·Σxy on raw micro-units would
    // overflow bigint at sf0.1; centered deviations keep every sum
    // < 1e18), so the only FP is two final divisions over exact
    // bigints, rounded 6, zero-variance groups guarded to NULL. One
    // broadcast dim join + two brand-keyed hash-aggs.
    "q_price_elasticity" -> ((s, d) => {
      val li = lineitem(s, d)
        .join(broadcast(part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          expr("""cast(round(ln(cast(l_extendedprice as double) /
                 cast(l_quantity as double)) * 1000000) as bigint)""").as("x"),
          expr("cast(round(ln(cast(l_quantity as double)) * 1000000) as bigint)")
            .as("y"))
      val means = li.groupBy("p_brand")
        .agg(count(lit(1)).as("n"), expr("sum(x) div count(1)").as("mx"),
          expr("sum(y) div count(1)").as("my"))
      li.join(broadcast(means), "p_brand")
        .select(col("p_brand"), col("n"),
          (col("x") - col("mx")).as("dx"), (col("y") - col("my")).as("dy"))
        .groupBy("p_brand", "n")
        .agg(sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("p_brand"), col("n"), col("sxy"), col("sxx"),
          when(col("sxx") === 0 || col("syy") === 0, lit(null))
            .otherwise(round(col("sxy").cast("double") / col("sxx"), 6))
            .as("elasticity"),
          when(col("sxx") === 0 || col("syy") === 0, lit(null))
            .otherwise(round((col("sxy").cast("double") * col("sxy").cast("double")) /
              (col("sxx").cast("double") * col("syy").cast("double")), 6))
            .as("r2"))
        .orderBy("p_brand")
    }),

    // DATA-QUALITY EXPECTATION SUITE (the Deequ/Great-Expectations
    // shape): a declarative battery of constraints — completeness,
    // key uniqueness, value bounds, domain membership, referential
    // integrity — evaluated in ONE aggregation pass over the fact
    // (every metric is an agg expression sharing the same scan) plus
    // one anti-join for the foreign-key check, emitted as the
    // (check, metric, passed) report a pipeline gate consumes. All
    // metrics integral (discount bound in cents); uniqueness via an
    // injective bigint key encode (linenumber < 8), not a struct
    // distinct, so both engines count the identical domain.
    "q_expectations" -> ((s, d) => {
      val li = lineitem(s, d)
      val agg = li.agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_ok"),
        count(lit(1)).as("n"),
        countDistinct(col("l_orderkey") * 8 + col("l_linenumber")).as("n_key"),
        min(col("l_quantity")).cast("long").as("min_qty"),
        expr("cast(round(max(l_discount) * 100) as bigint)").as("max_disc_c"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
          .as("bad_flag"))
      val orphans = li.select("l_orderkey").distinct()
        .join(orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      agg.join(orphans) // 1-row × 1-row
        .select(explode(array(
          struct(lit("completeness:l_orderkey").as("check_name"),
            col("null_ok").as("metric"), (col("null_ok") === 0).as("passed")),
          struct(lit("uniqueness:l_orderkey+l_linenumber").as("check_name"),
            (col("n") - col("n_key")).as("metric"), (col("n") === col("n_key")).as("passed")),
          struct(lit("min:l_quantity>=1").as("check_name"),
            col("min_qty").as("metric"), (col("min_qty") >= 1).as("passed")),
          struct(lit("max:l_discount<=0.10").as("check_name"),
            col("max_disc_c").as("metric"), (col("max_disc_c") <= 10).as("passed")),
          struct(lit("domain:l_returnflag").as("check_name"),
            col("bad_flag").as("metric"), (col("bad_flag") === 0).as("passed")),
          struct(lit("referential:l_orderkey->orders").as("check_name"),
            col("n_orphans").as("metric"), (col("n_orphans") === 0).as("passed"))))
          .as("e"))
        .select(col("e.check_name"), col("e.metric"), col("e.passed"))
        .orderBy("check_name")
    }),

    // RFM SEGMENTATION (recency / frequency / monetary quintiles) —
    // PRICE INDEX (Laspeyres / Paasche / Fisher) — the classic
    // composite-price time series over the order book: monthly
    // basket-weighted price level vs the first month, base-weighted
    // (Laspeyres), current-weighted (Paasche), and their geometric
    // mean (Fisher). Unit prices in integral milli-cents (rev·1000
    // div qty), every index a cross-multiplied bigint ratio in ppm,
    // Fisher via floor(sqrt(L·P)) — IEEE sqrt is correctly rounded so
    // the floor is engine-exact (the q_temperature_mix precedent).
    // Shape: ONE (month, part) hash-agg over lineitem (map-side
    // partials absorb the scan), a broadcast of the base-month
    // basket, then an O(months) rollup — no shuffle larger than the
    // month-part aggregate, and the base basket is a dimension-sized
    // broadcast at any scale.
    "q_price_index" -> ((s, d) => {
      val pm = lineitem(s, d)
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
          col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          cents(col("l_extendedprice")).as("rev_c"))
        .groupBy("month", "l_partkey")
        .agg(sum("qty").as("qty"), sum("rev_c").as("rev_c"))
        .withColumn("p_milli", expr("rev_c * 1000 div qty"))
      // r15: the base month is min over the TIMESTAMP (hash-aggregable,
      // computed on the narrow scan), not min over the formatted string
      // (a SortAggregate); "yyyy-MM" formatting is monotone in the
      // date, so the value is identical
      val m0 = lineitem(s, d)
        .agg(date_format(min(col("l_shipdate")), "yyyy-MM").as("m0"))
      val base = pm
        .crossJoin(broadcast(m0))
        .filter(col("month") === col("m0"))
        .select(col("l_partkey"), col("qty").as("q0"), col("p_milli").as("p0"))
      pm.join(broadcast(base), "l_partkey")
        .groupBy("month")
        .agg(count(lit(1)).as("n_parts"),
          sum(expr("q0 * p_milli")).as("lnum"), sum(expr("q0 * p0")).as("lden"),
          sum(expr("qty * p_milli")).as("pnum"), sum(expr("qty * p0")).as("pden"))
        .withColumn("laspeyres_ppm", expr(
          "case when lden = 0 then null else lnum * 1000000 div lden end"))
        .withColumn("paasche_ppm", expr(
          "case when pden = 0 then null else pnum * 1000000 div pden end"))
        .withColumn("fisher_ppm", expr(
          """case when laspeyres_ppm is null or paasche_ppm is null then null
            |else cast(floor(sqrt(cast(laspeyres_ppm as double)
            |  * cast(paasche_ppm as double))) as bigint) end""".stripMargin))
        .select("month", "n_parts", "laspeyres_ppm", "paasche_ppm", "fisher_ppm")
        .orderBy("month")
    }),

    // the classic customer-base cut, with the quintile assignment done
    // by the distributed two-phase rank (PrefixSum.rowNumber) instead
    // of a global ntile window: ntile(5) over all customers is a
    // single-task sort of the whole customer dimension at scale, the
    // exact shape the prefix-sum machinery exists to break up. Ranks
    // are total-ordered (metric, custkey) so the quintile formula
    // (rn-1)*5 DIV n is deterministic and integral on both engines.
    "q_rfm" -> ((s, d) => {
      import graft.operators.PrefixSum
      // NOTE: the three nested rank passes rescan the orders groupBy
      // ~8x, but localCheckpoint-ing `cust` here A/B-measured
      // neutral-to-worse (2.69/1.83 vs 2.26/1.40 s warm at sf0.1) —
      // the aggregate is cheap enough that rescans beat
      // materialization, per the PrefixSum doc note. q_outlier_mad
      // below checkpoints because its subtree feeds SIX consumers.
      val cust = orders(s, d).groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(cents(col("o_totalprice"))).as("monetary_cents"))
      val bounds = broadcast(cust.agg(
        max(col("last_order")).as("anchor"),
        count(lit(1)).as("n_cust")))
      val base = cust.crossJoin(bounds)
        .withColumn("recency_days",
          datediff(col("anchor"), col("last_order")).cast("long"))
        .drop("last_order", "anchor")
      val mb = broadcast(base.agg(
        min(col("recency_days")).as("rlo"), max(col("recency_days")).as("rhi"),
        min(col("frequency")).as("flo"), max(col("frequency")).as("fhi"),
        min(col("monetary_cents")).as("mlo"), max(col("monetary_cents")).as("mhi")))
      def rank(df: DataFrame, key: Column, lo: Column, hi: Column,
               out: String): DataFrame =
        PrefixSum.rowNumber(df, Seq.empty, Seq(key, col("o_custkey")),
          PrefixSum.rangeBucket(key, lo, hi, 32), out)
      // recency ranked DESCENDING (negated key): rank n = most recent
      // → score 5; frequency / monetary ascending → 5 = best
      val ranked = rank(rank(rank(base.crossJoin(mb),
          -col("recency_days"), -col("rhi"), -col("rlo"), "rn_r"),
          col("frequency"), col("flo"), col("fhi"), "rn_f"),
          col("monetary_cents"), col("mlo"), col("mhi"), "rn_m")
      ranked
        .withColumn("r_score", expr("(rn_r - 1) * 5 DIV n_cust + 1"))
        .withColumn("f_score", expr("(rn_f - 1) * 5 DIV n_cust + 1"))
        .withColumn("m_score", expr("(rn_m - 1) * 5 DIV n_cust + 1"))
        .withColumn("rfm_segment",
          expr("r_score * 100 + f_score * 10 + m_score"))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"), col("r_score"), col("f_score"),
          col("m_score"), col("rfm_segment"))
        .orderBy("o_custkey")
    }),

    // ROBUST OUTLIER DETECTION (median + MAD): flag customers whose
    // total spend deviates from the median by more than 3× the median
    // absolute deviation — the robust alternative to mean/stddev
    // z-scores (one whale shifts a mean; it cannot shift a median).
    // Exact medians are LOWER medians at rank (n+1) div 2, computed by
    // the distributed two-phase rank (PrefixSum.rowNumber) — the same
    // no-global-sort-window shape as q_rfm, twice: once over spend,
    // once over |spend − median|. Everything stays integral cents, so
    // both engines agree bit-for-bit; the two median probes are 1-row
    // broadcast crossJoins (the repo's aggregate-probe pattern).
    "q_outlier_mad" -> ((s, d) => {
      import graft.operators.PrefixSum
      // the per-customer aggregate feeds SIX downstream subtrees
      // (bounds, two rank passes, both median probes, the final
      // filter) — localCheckpoint it once so the orders scan+shuffle
      // runs once, not per subtree (measured 2.15 → 1.76 s at sf0.1;
      // the remainder is the ~9 small sequential jobs an exact
      // two-median pipeline inherently runs, not recomputation)
      val cust = orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("cents"),
          count(lit(1)).as("n_orders"))
        .localCheckpoint()
      val nb = broadcast(cust.agg(count(lit(1)).as("n"),
        min(col("cents")).as("clo"), max(col("cents")).as("chi")))
      val base = cust.crossJoin(nb)
      val ranked = PrefixSum.rowNumber(base, Seq.empty,
        Seq(col("cents"), col("o_custkey")),
        PrefixSum.rangeBucket(col("cents"), col("clo"), col("chi"), 32), "rn")
      val med = broadcast(ranked.filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("cents").as("med")))
      val dev = base.crossJoin(med)
        .withColumn("dev", abs(col("cents") - col("med")))
        .localCheckpoint() // re-read by bounds, rank pass, and final filter
      val db = broadcast(dev.agg(min(col("dev")).as("dlo"), max(col("dev")).as("dhi")))
      val dranked = PrefixSum.rowNumber(dev.crossJoin(db), Seq.empty,
        Seq(col("dev"), col("o_custkey")),
        PrefixSum.rangeBucket(col("dev"), col("dlo"), col("dhi"), 32), "rn2")
      val mad = broadcast(dranked.filter(col("rn2") === expr("(n + 1) div 2"))
        .select(col("dev").as("mad")))
      dev.crossJoin(mad)
        .filter(col("dev") > lit(3L) * col("mad"))
        .select(col("o_custkey"), col("cents"), col("n_orders"),
          col("dev"), col("med"), col("mad"))
        .orderBy("o_custkey")
    }),

    // E9 SKYLINE (pareto frontier): customers not dominated on
    // (total spend, order count) — maximize both, via the O(n)
    // prefix-max dominance operator (operators/Skyline: per-x max +
    // exclusive distributed suffix max — no self-join, no single-task
    // sort; randomized brute-force equivalence in
    // RandomizedPropertySpec). Money in integer cents keeps the test
    // exact cross-engine.
    "q_skyline" -> ((s, d) => {
      val base = orders(s, d).groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("spent_c"),
          count(lit(1)).as("n_orders"))
      graft.operators.Skyline.pareto2D(base, "spent_c", "n_orders")
        .select(col("o_custkey"), col("spent_c"), col("n_orders"))
        .orderBy("o_custkey")
    }),

    // E9/E12 EQUI-DEPTH DISCRETIZATION: 4 quantile bins over order value
    // by exact distributed rank — feature bucketization without
    // engine-specific percentile interpolation (bin = (rank−1)·k div n,
    // deterministic down to the orderkey tiebreak). The rank is the
    // two-phase distributed row number (PrefixSum over a value-range
    // bucketing): a global total order with NO single-task sort, so the
    // discretizer survives a 100 TB fact table.
    "q_quantile_bins" -> ((s, d) => {
      import graft.operators.PrefixSum
      val base = orders(s, d)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"))
      val gb = broadcast(base.agg(min("cents").as("lo"), max("cents").as("hi"),
        count(lit(1)).as("n")))
      PrefixSum.rowNumber(base.crossJoin(gb), Seq.empty,
          Seq(col("cents"), col("o_orderkey")),
          PrefixSum.rangeBucket(col("cents"), col("lo"), col("hi"), 32), "rn")
        .withColumn("bin", expr("(rn - 1) * 4 div n"))
        .groupBy("bin").agg(count(lit(1)).as("n_rows"),
          min("cents").as("lo_c"), max("cents").as("hi_c"))
        .orderBy("bin")
    }))

  /** 16 unrolled Hilbert xy2d rounds — generated in lockstep with
    * Bucketing.withHilbertKey (same rotation, same bit planes). The
    * s² factor is CAST to BIGINT before multiplying: 3·2^30 overflows
    * DuckDB's INT32 literal arithmetic. */
  private lazy val hilbertOracle: String = {
    val stages = (0 until 16).map { k =>
      val s = 1L << (15 - k)
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
      s"""g${k + 1} AS (SELECT o_orderkey, cell_x, cell_y,
         |  CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END) ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END) ELSE y END AS y,
         |  d + CAST(${s * s} AS BIGINT) * xor(3 * $rx, $ry) AS d
         |FROM g$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH g0 AS (
       |  SELECT o_orderkey,
       |    o_custkey % 65536 AS cell_x,
       |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS cell_y,
       |    o_custkey % 65536 AS x,
       |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM orders WHERE o_orderkey < 2000),
       |$stages
       |SELECT o_orderkey, cell_x, cell_y, CAST(d AS BIGINT) AS hkey
       |FROM g16 ORDER BY hkey, o_orderkey""".stripMargin
  }

  /** The distinct (order, item) basket projection every Apriori-family
    * query starts from (pair mining, triples, association rules) —
    * memoized like the pairs themselves so the 600k-row distinct
    * shuffle is paid once per dataset, not once per consumer
    * (measured ~1 s per avoided re-derivation at sf0.1). */
  private def basketItems(s: SparkSession, d: String): DataFrame =
    graft.MemoStats.get("basket_items", s, d)(
      lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
        .distinct().localCheckpoint())

  /** The distinct (customer, part) interaction table — the positives
    * both recsys queries start from (user-CF's co-purchase index,
    * negative sampling's anti-join side): one orders⋈lineitem +
    * distinct, memoized so the fact join is paid once per dataset
    * (measured ~1.5 s per avoided re-derivation at sf0.1). */
  private def userItemPairs(s: SparkSession, d: String): DataFrame =
    graft.MemoStats.get("user_item_pairs", s, d)(
      orders(s, d).join(lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct().localCheckpoint())

  /** Part-catalog row count, memoized: the broadcast-gate probe in
    * [[negativeSampling]] is constant for a given input, but an
    * unmemoized `count()` launched an uncached job at every DataFrame
    * CONSTRUCTION (warmup + both bench passes + any plan inspection —
    * round-7 ADVICE). */
  private def partCount(s: SparkSession, d: String): Long =
    graft.MemoStats.get("part_count", s, d)(part(s, d).count())

  /** The raw mining pipeline, pre-memo — PlanSpec pins ITS shape (the
    * memoized form executes as a checkpoint scan). */
  private[graft] def itemsetPairsPlan(s: SparkSession, d: String): DataFrame = {
    val minSupport = 2L
    val items = basketItems(s, d)
    val freq = items.groupBy("l_partkey")
      .agg(count(lit(1)).as("n1")).filter(col("n1") >= minSupport)
      .select(col("l_partkey"))
    val pruned = items.join(broadcast(freq), "l_partkey")
    // r15: order-keyed equi self-join instead of collect_set + chained
    // explodes — the higher-order filter(ps, x > pa) is CodegenFallback
    // (interpreted per emitted pair); the join emits the identical
    // basket-bounded pair set in whole-stage codegen. Fan-out stays
    // bounded by basket size either way.
    val sides = pruned.repartition(
      items.sparkSession.sparkContext.defaultParallelism, col("l_orderkey"))
    sides.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(sides.select(col("l_orderkey"), col("l_partkey").as("pb")),
        Seq("l_orderkey"))
      .filter(col("pb") > col("pa"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Frequent part pairs (support ≥ 2) per the q_itemset_pairs
    * Scaladoc — shared by the pair query and the top-k reco ranking,
    * memoized (~3k rows localCheckpointed). Without the memo the reco
    * query re-derives the whole mining pipeline: 2.29 → ~0.4 s at
    * sf0.1. */
  private def itemsetPairs(s: SparkSession, d: String): DataFrame =
    graft.MemoStats.get("itemset_pairs", s, d)(itemsetPairsPlan(s, d).localCheckpoint())

  // ---- r16 A/B: candidate physical strategies for ordered k-subset
  // generation from baskets (pairs / triples / user-CF pairs). Three
  // forms produce identical row sets; the decision + numbers live in
  // OPTIMIZATION_r16.md and the losers are deleted once recorded.

  /** Shared Apriori level-3 prefix: baskets pruned to items that
    * survive the frequent-PAIR screen. */
  private[graft] def tripleBase(s: SparkSession, d: String): DataFrame = {
    val pairs = itemsetPairs(s, d)
    val pairItems = pairs.select(col("pa").as("l_partkey"))
      .union(pairs.select(col("pb").as("l_partkey"))).distinct()
    basketItems(s, d).join(broadcast(pairItems), "l_partkey")
  }

  private def tripleFinish(t: DataFrame): DataFrame =
    t.groupBy("pa", "pb", "pc").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2L)
      .orderBy(col("support").desc, col("pa"), col("pb"), col("pc"))

  /** r16 form: SORTED basket array + chained posexplode/slice — each
    * level explodes only the strictly-later suffix, so the a<b<c
    * filter is free and every operator (Generate over explode, slice
    * arithmetic) runs in whole-stage codegen: no interpreted HOF, no
    * self-join re-sorts, one basket shuffle. NO explicit repartition
    * after the basket aggregate (A/B'd: +0.15 s at sf0.1): unlike
    * q_user_cf's KB-sized post-band table, the basket table scales
    * WITH the fact, so AQE's post-shuffle coalescing keeps partition
    * counts proportional at any SF, and the per-row fan-out is bounded
    * by basket³/6 — pipelined straight into the partial aggregate. */
  private[graft] def triplesSlice(s: SparkSession, d: String): DataFrame =
    tripleFinish(tripleBase(s, d)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
      .select(col("pa"), col("i"), col("ps"),
        posexplode(slice(col("ps"), col("i") + lit(2), size(col("ps"))))
          .as(Seq("j", "pb")))
      .select(col("pa"), col("pb"),
        explode(slice(col("ps"), col("i") + col("j") + lit(3),
          size(col("ps")))).as("pc")))

  /** The banded (part, customer) interaction prefix q_user_cf mines:
    * popularity band [2, 32] (the IDF intuition + the 32²/2 fan-out
    * cap — see the catalog entry's Scaladoc). */
  private def userCfPrefix(s: SparkSession, d: String): DataFrame = {
    val cp = userItemPairs(s, d)
    val band = cp.groupBy("p").agg(count(lit(1)).as("nc"))
      .filter(col("nc").between(2, 32)).select("p")
    cp.join(broadcast(band), Seq("p"))
  }

  /** The raw (ca < cb, co) co-purchase pair pipeline, pre-checkpoint —
    * PlanSpec pins ITS shape and the plans/r16 dumps are taken from it
    * (the catalog entry checkpoints the result because both
    * symmetrization branches consume it). Sorted-set + posexplode/
    * slice generation: whole-stage codegen throughout, no interpreted
    * HOF, no self-join (decision + A/B numbers in OPTIMIZATION_r16.md). */
  private[graft] def userCfPairsPlan(s: SparkSession, d: String): DataFrame =
    userCfPrefix(s, d)
      .groupBy("p").agg(sort_array(collect_set(col("c"))).as("cs"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(posexplode(col("cs")).as(Seq("i", "ca")), col("cs"))
      .select(col("ca"),
        explode(slice(col("cs"), col("i") + lit(2), size(col("cs")))).as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("co"))

  /** q_negative_sampling body, parameterized so PlanSpec can pin BOTH
    * join strategies. The item-index probe is equi-keyed
    * (`pmod(h, np) + 1 === pidx`), so the broadcast hint is an
    * optimization, not a requirement — and at a 10⁸-item catalog an
    * unconditional hint would itself be the scale-killer (round-6
    * verdict). The hint is therefore gated on the index row count
    * (known from one cheap single-column dimension count; ~16 B/row,
    * so the default cap ≈ 32 MB broadcast): small catalog →
    * broadcast-hash probe with zero shuffle of the 4·|customers|
    * candidate side; large catalog → plain equi shuffle join, which
    * partitions both sides by the key and scales with the data. */
  private[graft] def negativeSampling(s: SparkSession, d: String,
      broadcastMaxRows: Long = 2000000L): DataFrame = {
    // the memoized interaction table feeds BOTH the customer universe
    // and the final anti join (shared with q_user_cf; before the memo
    // the orders⋈lineitem distinct ran per consumer — 17 s → ~2 s for
    // the double-run, now once per dataset)
    val pos = userItemPairs(s, d)
    val parts = part(s, d).select(col("p_partkey"))
    val gb = broadcast(parts.agg(count(lit(1)).as("np"),
      min("p_partkey").as("klo"), max("p_partkey").as("khi")))
    val idx = graft.operators.PrefixSum.rowNumber(
      parts.crossJoin(gb), Seq.empty, Seq(col("p_partkey")),
      graft.operators.PrefixSum.rangeBucket(col("p_partkey"),
        col("klo"), col("khi"), 32), "pidx")
      .select(col("p_partkey"), col("pidx"))
    val idxSide = if (partCount(s, d) <= broadcastMaxRows) broadcast(idx) else idx
    // np must ride the LEFT side: referencing a right-side column
    // inside the join key would demote this to a nested-loop join
    // (measured 19 s → ~1 s at sf0.1)
    val cands = pos.select("c").distinct()
      .select(col("c"), explode(sequence(lit(0), lit(3))).as("k"))
      .crossJoin(broadcast(gb.select("np")))
      .withColumn("h", conv(substring(md5(concat(lit("neg|"), col("c"),
        lit("|"), col("k"))), 1, 8), 16, 10).cast("long"))
    cands.join(idxSide, pmod(col("h"), col("np")) + 1 === col("pidx"))
      .select(col("c"), col("k").cast("long").as("k"),
        col("p_partkey").as("neg_p"))
      .join(pos.withColumnRenamed("p", "neg_p"), Seq("c", "neg_p"), "left_anti")
      .orderBy("c", "k")
  }

  /** DERIVED partsupp relation: the testdata ships no partsupp table,
    * so the five TPC-H queries that need one (Q2, Q9, Q11, Q16, Q20)
    * run over a deterministic derivation — four suppliers per part
    * (consecutive keys mod |supplier|, distinct because every SF ships
    * ≥ 4 dense 0-based supplier keys), integer-cents supply cost and
    * availqty as fixed arithmetic on the keys. The oracle derives the
    * IDENTICAL relation ([[partsuppCte]]), so the five shapes carry
    * the full hash-compare — the same synthesized-input precedent as
    * q_convert_speed's speed strings or the PII scrub's raw column. */
  private def partsupp(s: SparkSession, d: String): DataFrame = {
    val nSupp = broadcast(supplier(s, d)
      .agg((max(col("s_suppkey")) + lit(1L)).as("n_supp")))
    part(s, d).select(col("p_partkey"))
      .crossJoin(nSupp)
      .select(col("p_partkey"), col("n_supp"),
        explode(sequence(lit(0L), lit(3L))).as("i"))
      .select(col("p_partkey").as("ps_partkey"),
        pmod(col("p_partkey") * 4 + col("i"), col("n_supp")).as("ps_suppkey"))
      .withColumn("ps_supplycost_c",
        pmod(col("ps_partkey") * 7919 + col("ps_suppkey") * 104729, lit(90000L)) +
          lit(10000L))
      .withColumn("ps_availqty",
        pmod(col("ps_partkey") * 31 + col("ps_suppkey") * 17, lit(9000L)) + lit(1L))
  }

  /** The [[partsupp]] derivation as DuckDB CTEs (ends with `ps`). */
  private val partsuppCte =
    """nsupp AS (SELECT MAX(s_suppkey) + 1 AS n FROM supplier),
      |ps0 AS (
      |  SELECT p_partkey AS ps_partkey,
      |    (p_partkey * 4 + i.i) % (SELECT n FROM nsupp) AS ps_suppkey
      |  FROM part, (SELECT unnest([0, 1, 2, 3]) AS i) i),
      |ps AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    (ps_partkey * 7919 + ps_suppkey * 104729) % 90000 + 10000 AS ps_supplycost_c,
      |    (ps_partkey * 31 + ps_suppkey * 17) % 9000 + 1 AS ps_availqty
      |  FROM ps0)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_skyline" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spent_c,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT p.o_custkey, p.spent_c, p.n_orders FROM base p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM base q
        |  WHERE q.spent_c >= p.spent_c AND q.n_orders >= p.n_orders
        |    AND (q.spent_c > p.spent_c OR q.n_orders > p.n_orders))
        |ORDER BY p.o_custkey""".stripMargin,

    "q_quantile_bins" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ranked AS (
        |  SELECT cents,
        |    ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM base)
        |SELECT (rn - 1) * 4 // n AS bin, COUNT(*) AS n_rows,
        |  MIN(cents) AS lo_c, MAX(cents) AS hi_c
        |FROM ranked GROUP BY 1 ORDER BY bin""".stripMargin,

    "q_itemset_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 2),
        |pruned AS (SELECT i.l_orderkey, i.l_partkey
        |           FROM items i JOIN freq f USING (l_partkey)),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
        |  FROM pruned a JOIN pruned b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT pa, pb, support FROM pairs WHERE support >= 2
        |ORDER BY support DESC, pa, pb""".stripMargin,

    "q_degree_dist" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 2),
        |pruned AS (SELECT i.l_orderkey, i.l_partkey
        |           FROM items i JOIN freq f USING (l_partkey)),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM pruned a JOIN pruned b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT item, COUNT(*) AS degree FROM (
        |    SELECT pa AS item FROM pairs UNION ALL SELECT pb AS item FROM pairs)
        |  GROUP BY item)
        |SELECT degree, COUNT(*) AS n_items FROM deg GROUP BY degree
        |ORDER BY degree""".stripMargin,

    "q_user_cf" ->
      """WITH cp AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |band AS (
        |  SELECT p FROM cp GROUP BY p HAVING COUNT(*) BETWEEN 2 AND 32),
        |pairs AS (
        |  SELECT a.c AS ca, b.c AS cb, COUNT(*) AS co
        |  FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
        |  JOIN band ON band.p = a.p
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT ca AS cust, cb AS peer, co FROM pairs
        |  UNION ALL SELECT cb, ca, co FROM pairs),
        |r AS (
        |  SELECT cust, peer, co,
        |    ROW_NUMBER() OVER (PARTITION BY cust ORDER BY co DESC, peer ASC) AS rank
        |  FROM sym)
        |SELECT cust, CAST(rank AS BIGINT) AS rank, peer, co
        |FROM r WHERE rank <= 3
        |ORDER BY cust, rank""".stripMargin,

    "q_reco_coverage" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 2),
        |pruned AS (SELECT i.l_orderkey, i.l_partkey
        |           FROM items i JOIN freq f USING (l_partkey)),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
        |  FROM pruned a JOIN pruned b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT pa AS item, pb AS reco, support FROM pairs
        |  UNION ALL
        |  SELECT pb AS item, pa AS reco, support FROM pairs),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY item
        |    ORDER BY support DESC, reco ASC) AS rank
        |  FROM sym),
        |cov AS (SELECT COUNT(DISTINCT reco) AS n_recommended
        |        FROM ranked WHERE rank <= 3),
        |uni AS (SELECT COUNT(DISTINCT l_partkey) AS n_items FROM items)
        |SELECT n_recommended, n_items,
        |  n_recommended * 1000000 // n_items AS coverage_ppm
        |FROM cov, uni""".stripMargin,

    "q_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 2),
        |pruned AS (SELECT i.l_orderkey, i.l_partkey
        |           FROM items i JOIN freq f USING (l_partkey)),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
        |  FROM pruned a JOIN pruned b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |supp AS (SELECT l_partkey, COUNT(*) AS s1 FROM items GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
        |rules AS (
        |  SELECT pa AS ante, pb AS cons, support FROM pairs
        |  UNION ALL SELECT pb, pa, support FROM pairs)
        |SELECT r.ante, r.cons, r.support,
        |  r.support * 1000000 // sa.s1 AS conf_ppm,
        |  r.support * (SELECT n_orders FROM n) * 1000000
        |    // (sa.s1 * sc.s1) AS lift_ppm
        |FROM rules r
        |JOIN supp sa ON sa.l_partkey = r.ante
        |JOIN supp sc ON sc.l_partkey = r.cons
        |ORDER BY conf_ppm DESC, ante, cons""".stripMargin,

    "q_negative_sampling" ->
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |np AS (SELECT COUNT(*) AS np FROM part),
        |idx AS (
        |  SELECT p_partkey,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS BIGINT) AS pidx
        |  FROM part),
        |cands AS (
        |  SELECT cu.c, CAST(k.k AS BIGINT) AS k,
        |    (CAST(('0x' || substr(md5('neg|' || cu.c || '|' || k.k), 1, 8)) AS BIGINT)
        |      % (SELECT np FROM np)) + 1 AS pidx
        |  FROM (SELECT DISTINCT c FROM pos) cu
        |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k),
        |neg AS (
        |  SELECT ca.c, ca.k, i.p_partkey AS neg_p
        |  FROM cands ca JOIN idx i USING (pidx))
        |SELECT c, k, neg_p FROM neg
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pos WHERE pos.c = neg.c AND pos.p = neg.neg_p)
        |ORDER BY c, k""".stripMargin,

    "q_itemset_triples" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |f1 AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 2),
        |pi AS (SELECT i.l_orderkey, i.l_partkey FROM items i JOIN f1 USING (l_partkey)),
        |p2 AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM pi a JOIN pi b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |pitems AS (SELECT pa AS k FROM p2 UNION SELECT pb FROM p2),
        |pruned AS (SELECT * FROM items WHERE l_partkey IN (SELECT k FROM pitems)),
        |t AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc
        |  FROM pruned a
        |  JOIN pruned b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  JOIN pruned c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey)
        |SELECT pa, pb, pc, count(*) AS support FROM t
        |GROUP BY pa, pb, pc HAVING count(*) >= 2
        |ORDER BY support DESC, pa, pb, pc""".stripMargin,

    "q_aqp_sum" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(('0x' || substr(md5('aqp|' || (l_orderkey * 8 + l_linenumber)), 1, 8))
        |      AS BIGINT) % 32 = 0 AS in_sample
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
        |    CAST(SUM(cents) AS BIGINT) AS exact_cents,
        |    CAST(SUM(CASE WHEN in_sample THEN cents ELSE 0 END) * 32 AS BIGINT)
        |      AS est_cents
        |  FROM li GROUP BY l_returnflag)
        |SELECT l_returnflag, n_rows, n_sample, exact_cents, est_cents,
        |  abs(est_cents - exact_cents) * 1000000 // exact_cents AS rel_err_ppm
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT g.digit, g.n,
        |  g.n * 1000000 // t.total AS observed_ppm,
        |  CAST(ROUND(log10(1.0 + 1.0 / g.digit) * 1000000) AS BIGINT) AS expected_ppm,
        |  (g.n * 1000 - (t.total * CAST(ROUND(log10(1.0 + 1.0 / g.digit) * 1000000) AS BIGINT)) // 1000) *
        |  (g.n * 1000 - (t.total * CAST(ROUND(log10(1.0 + 1.0 / g.digit) * 1000000) AS BIGINT)) // 1000) //
        |  ((t.total * CAST(ROUND(log10(1.0 + 1.0 / g.digit) * 1000000) AS BIGINT)) // 1000) AS chi2_milli
        |FROM g CROSS JOIN t ORDER BY g.digit""".stripMargin,

    "q_price_elasticity" ->
      """WITH li AS (
        |  SELECT p.p_brand,
        |    CAST(ROUND(ln(CAST(l.l_extendedprice AS DOUBLE) /
        |               CAST(l.l_quantity AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(ROUND(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000) AS BIGINT) AS y
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |m AS (
        |  SELECT p_brand, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) // COUNT(*) AS mx,
        |    CAST(SUM(y) AS BIGINT) // COUNT(*) AS my
        |  FROM li GROUP BY 1),
        |dev AS (
        |  SELECT li.p_brand, m.n, li.x - m.mx AS dx, li.y - m.my AS dy
        |  FROM li JOIN m ON li.p_brand = m.p_brand),
        |a AS (
        |  SELECT p_brand, n, CAST(SUM(dx * dy) AS BIGINT) AS sxy,
        |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
        |    CAST(SUM(dy * dy) AS BIGINT) AS syy
        |  FROM dev GROUP BY 1, 2)
        |SELECT p_brand, n, sxy, sxx,
        |  CASE WHEN sxx = 0 OR syy = 0 THEN NULL
        |       ELSE ROUND(CAST(sxy AS DOUBLE) / sxx, 6) END AS elasticity,
        |  CASE WHEN sxx = 0 OR syy = 0 THEN NULL
        |       ELSE ROUND((CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)) /
        |                  (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6)
        |  END AS r2
        |FROM a ORDER BY p_brand""".stripMargin,

    "q_expectations" ->
      """WITH a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ok,
        |    COUNT(*) AS n,
        |    COUNT(DISTINCT l_orderkey * 8 + l_linenumber) AS n_key,
        |    CAST(MIN(l_quantity) AS BIGINT) AS min_qty,
        |    CAST(ROUND(MAX(l_discount) * 100) AS BIGINT) AS max_disc_c,
        |    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bad_flag
        |  FROM lineitem),
        |o AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans FROM (
        |    SELECT DISTINCT l_orderkey FROM lineitem
        |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
        |SELECT * FROM (
        |  SELECT 'completeness:l_orderkey' AS check_name, null_ok AS metric,
        |    null_ok = 0 AS passed FROM a
        |  UNION ALL SELECT 'uniqueness:l_orderkey+l_linenumber', n - n_key,
        |    n = n_key FROM a
        |  UNION ALL SELECT 'min:l_quantity>=1', min_qty, min_qty >= 1 FROM a
        |  UNION ALL SELECT 'max:l_discount<=0.10', max_disc_c, max_disc_c <= 10 FROM a
        |  UNION ALL SELECT 'domain:l_returnflag', bad_flag, bad_flag = 0 FROM a
        |  UNION ALL SELECT 'referential:l_orderkey->orders', n_orphans,
        |    n_orphans = 0 FROM o)
        |ORDER BY check_name""".stripMargin,

    "q_item_recos" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |freq AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 2),
        |pruned AS (SELECT i.l_orderkey, i.l_partkey
        |           FROM items i JOIN freq f USING (l_partkey)),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
        |  FROM pruned a JOIN pruned b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT pa AS item, pb AS reco, support FROM pairs
        |  UNION ALL
        |  SELECT pb AS item, pa AS reco, support FROM pairs),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY item
        |    ORDER BY support DESC, reco ASC) AS rank
        |  FROM sym)
        |SELECT item, CAST(rank AS BIGINT) AS rank, reco, support
        |FROM ranked WHERE rank <= 3 ORDER BY item, rank""".stripMargin,

    "q_price_index" ->
      """WITH pm AS (
        |  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month, l_partkey,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1, 2),
        |pp AS (SELECT month, l_partkey, qty, rev_c * 1000 // qty AS p_milli FROM pm),
        |base AS (
        |  SELECT l_partkey, qty AS q0, p_milli AS p0 FROM pp
        |  WHERE month = (SELECT MIN(month) FROM pp)),
        |agg AS (
        |  SELECT pp.month, COUNT(*) AS n_parts,
        |    CAST(SUM(b.q0 * pp.p_milli) AS BIGINT) AS lnum,
        |    CAST(SUM(b.q0 * b.p0) AS BIGINT) AS lden,
        |    CAST(SUM(pp.qty * pp.p_milli) AS BIGINT) AS pnum,
        |    CAST(SUM(pp.qty * b.p0) AS BIGINT) AS pden
        |  FROM pp JOIN base b ON b.l_partkey = pp.l_partkey
        |  GROUP BY pp.month),
        |idx AS (
        |  SELECT month, n_parts,
        |    CASE WHEN lden = 0 THEN NULL ELSE lnum * 1000000 // lden END
        |      AS laspeyres_ppm,
        |    CASE WHEN pden = 0 THEN NULL ELSE pnum * 1000000 // pden END
        |      AS paasche_ppm
        |  FROM agg)
        |SELECT month, n_parts, laspeyres_ppm, paasche_ppm,
        |  CASE WHEN laspeyres_ppm IS NULL OR paasche_ppm IS NULL THEN NULL
        |       ELSE CAST(FLOOR(SQRT(CAST(laspeyres_ppm AS DOUBLE)
        |         * CAST(paasche_ppm AS DOUBLE))) AS BIGINT) END AS fisher_ppm
        |FROM idx ORDER BY month""".stripMargin,

    "q_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    max(CAST(o_orderdate AS DATE)) AS last_order,
        |    count(*) AS frequency,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |b AS (SELECT max(last_order) AS anchor, count(*) AS n_cust FROM cust),
        |base AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', last_order, (SELECT anchor FROM b)) AS BIGINT) AS recency_days,
        |    frequency, monetary_cents
        |  FROM cust),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (ORDER BY recency_days DESC, o_custkey) AS rn_r,
        |    row_number() OVER (ORDER BY frequency ASC, o_custkey) AS rn_f,
        |    row_number() OVER (ORDER BY monetary_cents ASC, o_custkey) AS rn_m
        |  FROM base),
        |scored AS (
        |  SELECT o_custkey, recency_days, frequency, monetary_cents,
        |    (rn_r - 1) * 5 // (SELECT n_cust FROM b) + 1 AS r_score,
        |    (rn_f - 1) * 5 // (SELECT n_cust FROM b) + 1 AS f_score,
        |    (rn_m - 1) * 5 // (SELECT n_cust FROM b) + 1 AS m_score
        |  FROM ranked)
        |SELECT *, r_score * 100 + f_score * 10 + m_score AS rfm_segment
        |FROM scored ORDER BY o_custkey""".stripMargin,

    // lower medians at rank (n+1)//2 with the same (value, key)
    // tie-break as the Spark rank — integral cents end to end
    "q_outlier_mad" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT COUNT(*) AS n FROM c),
        |m AS (SELECT cents AS med FROM (
        |        SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rn FROM c)
        |      WHERE rn = (SELECT (n + 1) // 2 FROM n)),
        |d AS (SELECT o_custkey, cents, n_orders,
        |        abs(cents - (SELECT med FROM m)) AS dev FROM c),
        |mad AS (SELECT dev AS mad FROM (
        |          SELECT dev, row_number() OVER (ORDER BY dev, o_custkey) AS rn FROM d)
        |        WHERE rn = (SELECT (n + 1) // 2 FROM n))
        |SELECT o_custkey, cents, n_orders, dev,
        |  (SELECT med FROM m) AS med, (SELECT mad FROM mad) AS mad
        |FROM d
        |WHERE dev > 3 * (SELECT mad FROM mad)
        |ORDER BY o_custkey""".stripMargin,

    "q_tpch_q2" -> (s"WITH $partsuppCte," +
      """
        |esupp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |eps AS (
        |  SELECT ps.*, p.p_brand, e.s_name, e.s_acctbal, e.n_name
        |  FROM ps
        |  JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_size = 15
        |  JOIN esupp e ON ps.ps_suppkey = e.s_suppkey),
        |mc AS (SELECT ps_partkey AS mk, MIN(ps_supplycost_c) AS min_c
        |       FROM eps GROUP BY ps_partkey)
        |SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey, p_brand,
        |  CAST(ps_supplycost_c AS DOUBLE) / 100 AS supplycost
        |FROM eps JOIN mc ON ps_partkey = mk AND ps_supplycost_c = min_c
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        |LIMIT 100""".stripMargin),

    "q_tpch_q9" -> (s"WITH $partsuppCte," +
      """
        |li AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')),
        |am AS (
        |  SELECT li.l_orderkey, li.l_suppkey,
        |    li.rev_c - ps.ps_supplycost_c * li.qty * 100 AS amount
        |  FROM li JOIN ps
        |  ON li.l_partkey = ps.ps_partkey AND li.l_suppkey = ps.ps_suppkey)
        |SELECT n_name,
        |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |  CAST(CAST(SUM(amount) AS BIGINT) AS DOUBLE) / 10000 AS profit
        |FROM am
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY n_name, o_year
        |ORDER BY n_name ASC, o_year DESC""".stripMargin),

    "q_tpch_q11" -> (s"WITH $partsuppCte," +
      """
        |nats AS (
        |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'),
        |vals AS (
        |  SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v_c
        |  FROM ps WHERE ps_suppkey IN (SELECT s_suppkey FROM nats)),
        |bypart AS (
        |  SELECT ps_partkey, CAST(SUM(v_c) AS BIGINT) AS part_v
        |  FROM vals GROUP BY ps_partkey),
        |tot AS (SELECT CAST(SUM(v_c) AS BIGINT) AS tot_v FROM vals)
        |SELECT ps_partkey, CAST(part_v AS DOUBLE) / 100 AS value
        |FROM bypart, tot
        |WHERE part_v * 10000 > tot_v
        |ORDER BY value DESC, ps_partkey ASC""".stripMargin),

    "q_tpch_q16" -> (s"WITH $partsuppCte" +
      """
        |SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#4'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin),

    "q_tpch_q20" -> (s"WITH $partsuppCte," +
      """
        |moved AS (
        |  SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_partkey, l_suppkey),
        |excess AS (
        |  SELECT DISTINCT ps_suppkey
        |  FROM ps
        |  JOIN moved ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%small%')
        |    AND ps_availqty * 2 > sum_qty)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (SELECT ps_suppkey FROM excess)
        |ORDER BY s_suppkey""".stripMargin),

    "q_hilbert_key" -> hilbertOracle,

    "q_tpch_q1" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
        |    CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_pct
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(qty_c) AS BIGINT) AS DOUBLE) / 100 AS sum_qty,
        |  CAST(CAST(SUM(price_c) AS BIGINT) AS DOUBLE) / 100 AS sum_base_price,
        |  CAST(CAST(SUM(price_c * (100 - disc_pct)) AS BIGINT) AS DOUBLE) / 10000 AS sum_disc_price,
        |  CAST(CAST(SUM(price_c * (100 - disc_pct) * (100 + tax_pct)) AS BIGINT) AS DOUBLE) / 1000000 AS sum_charge,
        |  CAST(CAST(SUM(qty_c) AS BIGINT) AS DOUBLE) / (COUNT(*) * 100) AS avg_qty,
        |  CAST(CAST(SUM(price_c) AS BIGINT) AS DOUBLE) / (COUNT(*) * 100) AS avg_price,
        |  CAST(CAST(SUM(disc_pct) AS BIGINT) AS DOUBLE) / (COUNT(*) * 100) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM t GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
        |  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS DOUBLE) / 10000 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_ntile" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(10) OVER (PARTITION BY o_orderpriority
        |                    ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
        |  FROM orders)
        |SELECT o_orderpriority, decile, COUNT(*) AS n,
        |  CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS decile_max
        |FROM r GROUP BY o_orderpriority, decile
        |ORDER BY o_orderpriority, decile""".stripMargin,

    "q_cond_agg" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big,
        |  bool_and(o_totalprice > 900.0) AS all_above_min,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_json_typed" ->
      """SELECT event_type,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  COUNT(*) FILTER (WHERE TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) > 50) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_window_range_frame" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS ep,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS spend_c
        |  FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  COUNT(*) OVER w AS n_7d,
        |  CAST(CAST(SUM(spend_c) OVER w AS BIGINT) AS DOUBLE) / 100 AS spend_7d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY ep
        |             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS lo,
        |  CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_profile" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu0,
        |    COUNT(DISTINCT o_custkey) AS nd0,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS mn0, CAST(MAX(o_custkey) AS VARCHAR) AS mx0,
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu1,
        |    COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS nd1,
        |    CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn1,
        |    CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx1,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu2,
        |    COUNT(DISTINCT o_orderkey) AS nd2,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS mn2, CAST(MAX(o_orderkey) AS VARCHAR) AS mx2,
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu3,
        |    COUNT(DISTINCT o_orderstatus) AS nd3,
        |    CAST(MIN(o_orderstatus) AS VARCHAR) AS mn3, CAST(MAX(o_orderstatus) AS VARCHAR) AS mx3
        |  FROM orders)
        |SELECT 'o_custkey' AS col_name, n_rows, nu0 AS n_null, nd0 AS n_distinct,
        |  mn0 AS min_val, mx0 AS max_val FROM a
        |UNION ALL SELECT 'o_orderdate', n_rows, nu1, nd1, mn1, mx1 FROM a
        |UNION ALL SELECT 'o_orderkey', n_rows, nu2, nd2, mn2, mx2 FROM a
        |UNION ALL SELECT 'o_orderstatus', n_rows, nu3, nd3, mn3, mx3 FROM a
        |ORDER BY col_name""".stripMargin,

    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
        |  ROUND(var_samp(l_quantity), 4) AS var_qty,
        |  ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  ROUND(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_topk_per_group" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS rank
        |  FROM orders)
        |SELECT o_custkey, CAST(rank AS BIGINT) AS rank, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
        |FROM r WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY custkey""".stripMargin,

    "q_except" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY custkey""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100 AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS DOUBLE) / 10000 AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS DOUBLE) / 10000 AS revenue
        |FROM lineitem, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, c_mktsegment
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_tpch_q8" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'STANDARD')),
        |o AS (
        |  SELECT o_orderkey, o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |euroc AS (
        |  SELECT c_custkey FROM customer
        |  WHERE c_nationkey IN (
        |    SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')),
        |sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |j AS (
        |  SELECT o.o_year, sn.supp_nation, li.rev_c
        |  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
        |  JOIN sn ON li.l_suppkey = sn.s_suppkey
        |  WHERE o.o_custkey IN (SELECT c_custkey FROM euroc)),
        |agg AS (
        |  SELECT o_year,
        |    CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0 END) AS BIGINT) AS nation_c,
        |    CAST(SUM(rev_c) AS BIGINT) AS total_c
        |  FROM j GROUP BY o_year)
        |SELECT o_year, nation_c * 1000000 // total_c AS mkt_share_micro,
        |  CAST(total_c AS DOUBLE) / 10000 AS total_revenue
        |FROM agg ORDER BY o_year""".stripMargin,

    "q_tpch_q14" ->
      """WITH j AS (
        |  SELECT p_type,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
        |agg AS (
        |  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_c ELSE 0 END) AS BIGINT) AS promo_c,
        |    CAST(SUM(rev_c) AS BIGINT) AS total_c
        |  FROM j)
        |SELECT promo_c * 1000000 // total_c AS promo_share_micro,
        |  CAST(promo_c AS DOUBLE) / 10000 AS promo_revenue,
        |  CAST(total_c AS DOUBLE) / 10000 AS total_revenue
        |FROM agg""".stripMargin,

    "q_tpch_q19" ->
      """SELECT
        |  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS DOUBLE) / 10000 AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |       AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 35)
        |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 20 AND 50
        |       AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 50)""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_orderkey, o_custkey FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o
        |  ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_c AS DOUBLE) / 10000 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_c = (SELECT MAX(total_c) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q17" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')),
        |stats AS (
        |  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sumq, COUNT(*) AS cnt
        |  FROM li GROUP BY l_partkey)
        |SELECT CAST(CAST(SUM(price_c) AS BIGINT) AS DOUBLE) / 100 / 7 AS avg_yearly
        |FROM li JOIN stats USING (l_partkey)
        |WHERE qty * cnt * 5 < sumq""".stripMargin,

    "q_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "q_tpch_q21" ->
      """WITH multi AS (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) > 1),
        |prob AS (
        |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        |  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) = 1),
        |rpairs AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_returnflag = 'R')
        |SELECT s_name, COUNT(*) AS numwait
        |FROM rpairs
        |JOIN multi USING (l_orderkey)
        |JOIN prob USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC LIMIT 100""".stripMargin,

    "q_tpch_q22" ->
      """WITH pos AS (
        |  SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_c,
        |    COUNT(*) AS cnt
        |  FROM customer WHERE c_acctbal > 0),
        |sel AS (
        |  SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
        |    c_custkey % 7 AS cc
        |  FROM customer WHERE c_custkey % 7 IN (1, 2, 4))
        |SELECT cc, COUNT(*) AS numcust,
        |  CAST(CAST(SUM(bal_c) AS BIGINT) AS DOUBLE) / 100 AS totacctbal
        |FROM sel, pos
        |WHERE bal_c * cnt > sum_c
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY cc ORDER BY cc""".stripMargin,

    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(CAST(SUM(rev_c) AS BIGINT) AS DOUBLE) / 10000 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND l_suppkey = s_suppkey
        |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q6" ->
      """SELECT
        |  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |       * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000 AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_quantity < 24
        |  AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 3 AND 7""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_window_running" ->
      """WITH t AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(price_c AS DOUBLE) / 100 AS price,
        |  CAST(CAST(SUM(price_c) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 100 AS running_total,
        |  CAST(price_c - lag(price_c) OVER w AS DOUBLE) / 100 AS delta_prev
        |FROM t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_argmax" ->
      """WITH t AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1000000 + o_orderkey AS rv
        |  FROM orders)
        |SELECT o_custkey,
        |  arg_max(o_orderkey, rv) AS best_order,
        |  arg_min(o_orderkey, rv) AS worst_order,
        |  COUNT(*) AS n
        |FROM t GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_array_funcs" ->
      """WITH t AS (
        |  SELECT o_custkey, list_sort(list(o_orderkey)) AS orders
        |  FROM orders WHERE o_custkey < 100 GROUP BY o_custkey)
        |SELECT o_custkey,
        |  CAST(len(orders) AS BIGINT) AS n,
        |  orders[1] AS first_key,
        |  orders[-1] AS last_key,
        |  array_to_string(orders[1:3], ',') AS first3,
        |  list_contains(orders, 7) AS has_7,
        |  COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT), orders), (a, x) -> a + x), 0) AS key_sum
        |FROM t ORDER BY o_custkey""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey,
        |  -- initcap: capitalize each word
        |  list_aggregate(list_transform(string_split(p_name, ' '),
        |    w -> upper(w[1]) || lower(w[2:])), 'string_agg', ' ') AS title,
        |  lpad(p_brand, 12, '*') AS padded,
        |  translate(p_type, 'AEIOU', 'aeiou') AS translated,
        |  substring(p_name, 2, 5) AS sub,
        |  CAST(instr(p_name, ' ') AS BIGINT) AS space_at,
        |  reverse(p_brand) AS rev,
        |  repeat('ab', 3) AS rep
        |FROM part WHERE p_partkey < 300
        |ORDER BY p_partkey""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |  ROUND(cume_dist() OVER w, 6) AS cdist,
        |  lead(o_totalprice) OVER w AS next_price,
        |  first_value(o_totalprice) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp_min
        |FROM orders WHERE o_orderkey < 500
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin,

    "q_edit_distance" ->
      """WITH p AS (SELECT p_partkey, p_name, p_type FROM part WHERE p_partkey < 300)
        |SELECT a.p_type, a.p_partkey AS k1, b.p_partkey AS k2,
        |  a.p_name AS n1, b.p_name AS n2,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY a.p_type, k1, k2""".stripMargin,

    "q_null_semantics" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
        |  FROM customer)
        |SELECT c_custkey, bal,
        |  bal IS NULL AS is_null,
        |  bal IS NOT DISTINCT FROM bal AS nullsafe_self,
        |  COALESCE(bal, -999.0) AS coalesced,
        |  NULLIF(COALESCE(bal, -999.0), -999.0) AS nullif_zero
        |FROM t ORDER BY c_custkey""".stripMargin,

    "q_date_functions" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice * 100 > 2 * (
        |  SELECT CAST(SUM(CAST(ROUND(i.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*)
        |  FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_interval_bin_join" ->
      """WITH iv AS (
        |  SELECT p_partkey AS iv_id, p_partkey * 40 AS lo, p_partkey * 40 + 100 AS hi
        |  FROM part)
        |SELECT iv_id, COUNT(*) AS n_points
        |FROM iv JOIN lineitem ON l_orderkey BETWEEN lo AND hi
        |GROUP BY iv_id ORDER BY iv_id""".stripMargin,

    // brute-force distance join: proves the Spark grid loses no pair
    "q_spatial_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST(('0x' || substr(md5(c_custkey || 'x'), 1, 8)) AS BIGINT) % 50000 AS x,
        |    CAST(('0x' || substr(md5(c_custkey || 'y'), 1, 8)) AS BIGINT) % 50000 AS y
        |  FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT)
        |    AS dist2
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 562500
        |ORDER BY a_id, b_id""".stripMargin,

    "q_range_join" ->
      """SELECT o_orderkey, COUNT(*) AS n_in_window
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "q_percentiles" ->
      """WITH t AS (
        |  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  ROUND(quantile_cont(price_c, 0.5) / 100, 4) AS median_price,
        |  ROUND(quantile_cont(price_c, 0.9) / 100, 4) AS p90_price
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_groupby_agg" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_full_outer" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 150),
        |o AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |  WHERE o_custkey >= 100 AND o_custkey < 300 GROUP BY o_custkey)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_mktsegment, n_orders
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "q_unpivot" ->
      """WITH p AS (
        |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size, p_retailprice AS retail
        |  FROM part WHERE p_partkey < 100)
        |SELECT p_partkey, 'size' AS metric, size AS value FROM p
        |UNION ALL
        |SELECT p_partkey, 'retail' AS metric, retail AS value FROM p
        |ORDER BY p_partkey, metric""".stripMargin,

    "q_zorder3_key" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    o_custkey % 1024 AS cx,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |      % 1024 AS cy,
        |    (CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100000) % 1024 AS cz
        |  FROM orders WHERE o_orderkey < 2000),
        |g0 AS (SELECT o_orderkey, cx, cy, cz,
        |         cx & 1023 AS a, cy & 1023 AS b, cz & 1023 AS c FROM base),
        |g1 AS (SELECT o_orderkey, cx, cy, cz,
        |         (a | (a << 16)) & 50331903 AS a, (b | (b << 16)) & 50331903 AS b,
        |         (c | (c << 16)) & 50331903 AS c FROM g0),
        |g2 AS (SELECT o_orderkey, cx, cy, cz,
        |         (a | (a << 8)) & 50393103 AS a, (b | (b << 8)) & 50393103 AS b,
        |         (c | (c << 8)) & 50393103 AS c FROM g1),
        |g3 AS (SELECT o_orderkey, cx, cy, cz,
        |         (a | (a << 4)) & 51130563 AS a, (b | (b << 4)) & 51130563 AS b,
        |         (c | (c << 4)) & 51130563 AS c FROM g2),
        |g4 AS (SELECT o_orderkey, cx, cy, cz,
        |         (a | (a << 2)) & 153391689 AS a, (b | (b << 2)) & 153391689 AS b,
        |         (c | (c << 2)) & 153391689 AS c FROM g3)
        |SELECT o_orderkey, cx, cy, cz,
        |  CAST(a | (b << 1) | (c << 2) AS BIGINT) AS zkey3
        |FROM g4 ORDER BY zkey3, o_orderkey""".stripMargin,

    "q_zorder_key" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    o_custkey % 65536 AS cell_x,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |      AS cell_y
        |  FROM orders WHERE o_orderkey < 2000),
        |g0 AS (SELECT o_orderkey, cell_x, cell_y,
        |         cell_x & 65535 AS a, cell_y & 65535 AS b FROM base),
        |g1 AS (SELECT o_orderkey, cell_x, cell_y,
        |         (a | (a << 8)) & 16711935 AS a, (b | (b << 8)) & 16711935 AS b FROM g0),
        |g2 AS (SELECT o_orderkey, cell_x, cell_y,
        |         (a | (a << 4)) & 252645135 AS a, (b | (b << 4)) & 252645135 AS b FROM g1),
        |g3 AS (SELECT o_orderkey, cell_x, cell_y,
        |         (a | (a << 2)) & 858993459 AS a, (b | (b << 2)) & 858993459 AS b FROM g2),
        |g4 AS (SELECT o_orderkey, cell_x, cell_y,
        |         (a | (a << 1)) & 1431655765 AS a, (b | (b << 1)) & 1431655765 AS b FROM g3)
        |SELECT o_orderkey, cell_x, cell_y, a | (b << 1) AS zkey
        |FROM g4 ORDER BY zkey, o_orderkey""".stripMargin)
}
