package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** B-block: general analytics (SURVEY.md §2.B). Joins broadcast the small
  * side explicitly; aggregates use the exact-decimal pattern of §5. */
object BBlock {
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(6, 4))
  private val one4: Column = lit(1).cast(DecimalType(6, 4))
  private def moneySum(c: Column): Column = round(sum(c), 2).cast("double")
  private val revenueExpr: Column =
    dec2(col("l_extendedprice")) * (one4 - dec4(col("l_discount")))
  private val toksSqlB = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** q_skyline3's oracle — the independent 3-way NOT-EXISTS dominance
    * spelling; shared verbatim with the shard-merge twin. */
  private lazy val skyline3OracleSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1
      |), pts AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
      |    CAST(date_diff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day_n,
      |    CAST(li.n_items AS BIGINT) AS n_items
      |  FROM orders JOIN li ON o_orderkey = li.l_orderkey
      |)
      |SELECT p.o_orderkey, p.price_c, p.day_n, p.n_items FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts a
      |  WHERE a.price_c >= p.price_c AND a.day_n >= p.day_n
      |    AND a.n_items >= p.n_items
      |    AND (a.price_c > p.price_c OR a.day_n > p.day_n
      |      OR a.n_items > p.n_items))
      |ORDER BY p.price_c DESC, p.day_n, p.n_items, p.o_orderkey"""
      .stripMargin

  /** q_skyline's oracle — the independent NOT-EXISTS dominance
    * spelling; shared verbatim with the shard-merge twin. */
  private lazy val skylineOracleSql: String =
    """WITH pts AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
      |    CAST(date_diff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day_n
      |  FROM orders
      |)
      |SELECT p.o_orderkey, p.price_c, p.day_n FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts a
      |  WHERE a.price_c >= p.price_c AND a.day_n >= p.day_n
      |    AND (a.price_c > p.price_c OR a.day_n > p.day_n))
      |ORDER BY p.price_c DESC, p.day_n, p.o_orderkey""".stripMargin

  def queries(eventsUs: (SparkSession, String) => DataFrame)
      : Map[String, (SparkSession, String) => DataFrame] = Map(

    "q10_returned" -> ((s, dir) => {
      // TPC-H Q10 shape: revenue lost to returned items per customer,
      // top 20 — fact-fact shuffle join + broadcast nation dim
      val orders = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(moneySum(revenueExpr).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "q7_nation_volume" -> ((s, dir) => {
      // TPC-H Q7 shape: cross-nation shipping volume by year (all
      // supp≠cust pairs) — two broadcast nation lookups under aliases
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(moneySum(revenueExpr).as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    "q14_promo" -> ((s, dir) => {
      // TPC-H Q14 shape: monthly promo-revenue share — conditional
      // aggregation over a broadcast part join, ratio of exact decimals
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
        .agg(
          moneySum(when(col("p_type") === "PROMO", revenueExpr)
            .otherwise(lit(0).cast(DecimalType(12, 2)))).as("promo_revenue"),
          moneySum(revenueExpr).as("total_revenue"))
        .withColumn("promo_share",
          round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6))
        .orderBy(col("month"))
    }),

    "q_retention" -> ((s, dir) => {
      // cohort retention matrix: users grouped by first-activity week,
      // distinct-user counts per (cohort, week offset). The first-seen
      // table is O(users) — a shuffle join on user_id that AQE sizes;
      // the activity table is pre-distinct'd per (user, week) so the
      // final agg counts plain rows
      val ev = eventsUs(s, dir)
      val firstWeek = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort"))
      val active = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      active.join(firstWeek, "user_id")
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort")) / 7).cast("long"))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    }),

    "q_robust_outliers" -> ((s, dir) => {
      // robust per-type outlier detection (median + MAD + robust-z gate,
      // the data-quality screen that survives heavy tails where
      // mean/stddev break): three stages, each reducing to an O(types)
      // model table that broadcasts back — median pass, MAD pass,
      // outlier count at |v − med| > 3·1.4826·mad. Exact percentiles
      // (cross-engine parity proven by q_percentile)
      val ev = eventsUs(s, dir)
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val withMed = ev.join(broadcast(med), "event_type")
      val mad = withMed.groupBy(col("event_type"))
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      withMed.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 4).as("median_value"),
          round(max(col("mad")), 4).as("mad_value"),
          sum(when(abs(col("value") - col("med")) > lit(4.4478) * col("mad"),
            1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    "q19_disjunct" -> ((s, dir) => {
      // TPC-H Q19 shape: revenue under a DISJUNCTION of brand/size/qty
      // bands — the OR-of-conjunctions predicate a cost-based engine must
      // evaluate post-join (only isnotnull conjuncts push to the scans);
      // broadcast part dim, decimal-exact money
      def band(brand: String, sizeHi: Int, qLo: Int, qHi: Int): Column =
        col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)),
          col("l_partkey") === col("p_partkey"))
        .filter(band("Brand#11", 15, 1, 11) || band("Brand#22", 25, 10, 20)
          || band("Brand#33", 35, 20, 30))
        .agg(moneySum(revenueExpr).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q22_global_avg" -> ((s, dir) => {
      // TPC-H Q22 shape: high-balance customers (above the GLOBAL mean —
      // a broadcast scalar subquery) with no HIGH-VALUE orders (anti join
      // on a filtered fact), counted per nation. "bal > total/n" is
      // evaluated as the CROSS-MULTIPLIED
      // "bal·n > total" — decimal·integer is exact in both engines,
      // decimal DIVISION scale/rounding rules are not
      val cust = Tables.customer(s, dir)
      val tot = cust.agg(
        round(sum(col("c_acctbal").cast(DecimalType(18, 2))), 2)
          .as("bal_total"),
        count(lit(1)).as("n_total"))
      cust.crossJoin(broadcast(tot))
        .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("n_total")
          > col("bal_total"))
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast(DecimalType(18, 2))), 2)
            .cast("double").as("bal_sum"))
        .orderBy(col("c_nationkey"))
    }),

    "q6_revenue" -> ((s, dir) => {
      // TPC-H Q6 shape: forecast-revenue-change — the pure scan-side
      // query: EVERY predicate (shipdate range, discount band, quantity
      // cap) pushes to the parquet scan, the agg is one partial→final
      // sum with no shuffle beyond the 1-row exchange. The fastest
      // possible plan at any scale: bytes read is the only cost.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(moneySum(dec2(col("l_extendedprice")) * dec4(col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q13_custdist" -> ((s, dir) => {
      // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
      // join (zero-order customers land in the c_count = 0 bucket; an
      // inner join would silently drop them) with the priority filter on
      // the ORDERS side pre-join (≡ putting it in the ON clause), then
      // two cascaded aggs: per-customer counts shuffle on c_custkey,
      // the distribution agg runs on an O(distinct counts) table.
      val filtered = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
      Tables.customer(s, dir)
        .join(filtered, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    "q17_small_qty" -> ((s, dir) => {
      // TPC-H Q17 shape: small-quantity-order revenue — the correlated
      // per-part average DECORRELATES into an O(parts-in-brand) agg
      // joined back to the same fact slice. The brand part list
      // broadcasts ahead of both uses; the avg comparison is
      // CROSS-MULTIPLIED (5·qty·n < Σqty as decimal·int — exact) so no
      // engine-specific decimal-division rounding enters the filter.
      val brandParts = broadcast(Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey")))
      val li = Tables.lineitem(s, dir)
        .join(brandParts, col("l_partkey") === col("p_partkey"))
      val avg = li.groupBy(col("l_partkey").as("a_partkey"))
        .agg(round(sum(dec2(col("l_quantity"))), 2).as("qty_sum"),
          count(lit(1)).as("n_li"))
      li.join(avg, col("l_partkey") === col("a_partkey"))
        .filter(dec2(col("l_quantity")) * lit(5) * col("n_li") < col("qty_sum"))
        .agg(round(moneySum(dec2(col("l_extendedprice"))) / 7.0, 6)
          .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),

    "q8_market_share" -> ((s, dir) => {
      // TPC-H Q8 shape: one supplier nation's share of a region's PROMO
      // import volume by year — the deepest star join on the schema
      // (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region on the demand
      // side, supplier ⋈ nation on the supply side), every dimension
      // broadcast; the share is a ratio of conditional decimal sums
      // computed in ONE aggregation pass (no second join)
      val cnation = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nkey"), col("n_regionkey"))
      val snation = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(cnation), col("c_nationkey") === col("c_nkey"))
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(snation), col("s_nationkey") === col("s_nkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          moneySum(when(col("supp_nation") === "NATION_7", revenueExpr)
            .otherwise(lit(0).cast(DecimalType(12, 2)))).as("nation_volume"),
          moneySum(revenueExpr).as("total_volume"))
        .withColumn("mkt_share",
          round(col("nation_volume") / col("total_volume"), 6))
        .orderBy(col("o_year"))
    }),

    "q15_top_supplier" -> ((s, dir) => {
      // TPC-H Q15 shape: the supplier(s) with MAX quarterly revenue —
      // the scalar-aggregate correlated view decorrelated into a
      // broadcast 1-row max joined back; equality compares the SAME
      // rounded decimal-exact double on both sides
      // materialized: the max pass and the filter both read the O(supp)
      // revenue view — without it the fact slice scans twice
      val rev = graft.operators.Materialize(Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(moneySum(revenueExpr).as("total_revenue")))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    "q9_profit" -> ((s, dir) => {
      // TPC-H Q9 shape: product-line PROFIT by supplier nation and year
      // (the schema has no partsupp, so p_retailprice·quantity stands in
      // for supplycost — same plan shape): lineitem ⋈ filtered part ⋈
      // orders ⋈ supplier ⋈ nation, every dimension broadcast, profit =
      // revenue − cost as ONE decimal expression summed exactly
      val widgetParts = broadcast(Tables.part(s, dir)
        .filter(col("p_name").contains("widget"))
        .select(col("p_partkey"), col("p_retailprice")))
      val profit = revenueExpr -
        dec2(col("p_retailprice")) * dec2(col("l_quantity"))
      Tables.lineitem(s, dir)
        .join(widgetParts, col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(moneySum(profit).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    "q12_late_priority" -> ((s, dir) => {
      // TPC-H Q12 shape: order-priority accounting among LATE lineitems
      // (shipped > 60 days after the order date — the schema's stand-in
      // for commit < receipt), grouped by return flag (the shipmode
      // proxy): urgent/high vs other counted as conditional sums in one
      // agg; the date-window filter pushes to the lineitem scan
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    "q16_supplier_cnt" -> ((s, dir) => {
      // TPC-H Q16 shape: how many distinct suppliers can furnish each
      // (brand, type, size) — distinct part-supplier pairs from the fact
      // (no partsupp table), minus "complaint" suppliers (acctbal < 1000
      // — the NOT IN subquery becomes a broadcast ANTI join), count
      // DISTINCT suppkey after an exclusion filter on the part dim
      val pairs = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val complaints = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 1000).select(col("s_suppkey"))
      pairs
        .join(broadcast(complaints),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#13" && col("p_size") <= 25)
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    "q21_waiting" -> ((s, dir) => {
      // TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
      // finished multi-supplier order (late = shipped > 90 days after
      // the order date). The classic EXISTS / NOT-EXISTS self-join pair
      // DECORRELATES into one per-order aggregate — n_supp and n_late
      // as two countDistincts in a single pass — joined back to the
      // distinct late (order, supplier) pairs; the fact is scanned once
      // and reused (materialized) for both sides
      val li = graft.operators.Materialize(Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("late")))
      val perOrder = li.groupBy(col("l_orderkey").as("g_orderkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
      li.filter(col("late"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
        .join(perOrder, col("l_orderkey") === col("g_orderkey"))
        .filter(col("n_supp") > 1 && col("n_late") === 1)
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    "table_diff" -> ((s, dir) => {
      // version diff between two table snapshots (the data-versioning
      // audit before promoting a corpus build): FULL OUTER on the
      // primary key classifies every key as added / removed / changed,
      // unchanged rows drop out. Derived snapshots here (v1 = keys not
      // ≡0 mod 17; v2 = keys not ≡0 mod 13, prices +1 for keys ≡0 mod
      // 7) so the diff provably has all three classes at every scale.
      // One shuffle on the key; at 100 TB you'd compare a per-row hash
      // instead of each column, same plan shape.
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      val v1 = o.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey").as("k1"), col("o_totalprice").as("old_price"))
      val v2 = o.filter(col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey").as("k2"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("new_price"))
      v1.join(v2, col("k1") === col("k2"), "full_outer")
        .withColumn("status",
          when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("old_price") =!= col("new_price"), "changed"))
        .filter(col("status").isNotNull)
        .select(coalesce(col("k1"), col("k2")).as("o_orderkey"),
          col("status"), col("old_price"), col("new_price"))
        .orderBy(col("o_orderkey"))
    }),

    "profile_table" -> ((s, dir) => {
      // per-column data profile (the audit every ingest runs before a
      // corpus promotes): row count, null count, exact NDV, top-value
      // count and share — one long-format row per profiled column. Each
      // column's value histogram reduces map-side; the profile is
      // O(columns) rows. At 100 TB swap exact NDV for the HLL sketch
      // (sketch_hll) — same plan shape, bounded state.
      val o = Tables.orders(s, dir)
      val profiles = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
        .map { c =>
          val vc = o.filter(col(c).isNotNull)
            .groupBy(col(c).cast("string").as("v"))
            .agg(count(lit(1)).as("cnt"))
          val top = vc.agg(max(col("cnt")).as("top_count"))
          o.agg(count(lit(1)).as("n_rows"),
              sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
              countDistinct(col(c)).as("ndv"))
            .crossJoin(broadcast(top))
            .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
              col("ndv"), col("top_count"),
              round(col("top_count").cast("double") / col("n_rows"), 6)
                .as("top_share"))
        }
      profiles.reduce(_ unionAll _).orderBy(col("col_name"))
    }),

    "agg_incremental" -> ((s, dir) => {
      // INCREMENTAL VIEW MAINTENANCE — the 100 TB rollup pattern: the
      // historical slice collapses ONCE into a mergeable partial-agg
      // state table (decimal sum / count / max — all algebraic, so
      // state ⊕ delta == full recompute by construction), the daily
      // delta aggregates alone, and the merge re-aggregates two
      // O(groups) tables. History is never rescanned per refresh; here
      // the state is materialized from the pre-cutoff slice to stand in
      // for the stored artifact. Final values round in the decimal
      // domain AFTER the merge — bit-exact vs the full recompute.
      val cutoff = lit("1997-01-01").cast("timestamp")
      val orders = Tables.orders(s, dir)
      def partial(df: DataFrame): DataFrame = df.groupBy(col("o_custkey"))
        .agg(sum(dec2(col("o_totalprice"))).as("sum_d"),
          count(lit(1)).as("n"), max(col("o_totalprice")).as("mx"))
      val state = graft.operators.Materialize(
        partial(orders.filter(col("o_orderdate") < cutoff)))
      val delta = partial(orders.filter(col("o_orderdate") >= cutoff))
      state.unionAll(delta).groupBy(col("o_custkey"))
        .agg(round(sum(col("sum_d")), 2).cast("double").as("total"),
          sum(col("n")).as("n_orders"), max(col("mx")).as("max_price"))
        .orderBy(col("o_custkey"))
    }),

    "scd2_intervals" -> ((s, dir) => {
      // SCD2 dimension build from a changelog (CDC compaction): per-user
      // consecutive runs of the same event_type collapse to
      // [valid_from, valid_to] intervals — gaps-and-islands with a lag
      // change flag and a running change count, every window PARTITIONED
      // by user (parallel, no global sort). The sequence key is
      // event_id (monotone per stream — immune to timestamp ties).
      // is_current marks each user's open interval.
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val runs = eventsUs(s, dir)
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .withColumn("chg", when(col("prev").isNull ||
          col("prev") =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("run", sum(col("chg")).over(byUser))
        .groupBy(col("user_id"), col("run"))
        .agg(max(col("event_type")).as("event_type"),
          min(col("event_id")).as("valid_from"),
          max(col("event_id")).as("valid_to"),
          count(lit(1)).as("n_events"))
      runs.withColumn("is_current",
          col("run") === max(col("run")).over(Window.partitionBy(col("user_id"))))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_events"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    }),

    "q2_min_cost" -> ((s, dir) => {
      // TPC-H Q2 shape: the cheapest EUROPE supplier for each LARGE
      // small-size part. The schema has no partsupp, so the observed
      // per-(part, supplier) minimum extended price stands in for
      // ps_supplycost (min over doubles — no arithmetic, exact and
      // partition-order independent). The correlated
      // `cost = (SELECT min(cost) ... WHERE same part)` subquery
      // DECORRELATES into a per-part min agg joined back on equality —
      // the textbook Q2 plan. Supplier→nation→region is a pure
      // broadcast dim chain; the only wide stages are the pair agg and
      // the per-part min, both map-side combined.
      val euroSupp = broadcast(Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name")))
      val parts = broadcast(Tables.part(s, dir)
        .filter(col("p_type") === "LARGE" && col("p_size") <= 20)
        .select(col("p_partkey"), col("p_size")))
      val cost = Tables.lineitem(s, dir)
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("p_size"), col("s_suppkey"),
          col("s_name"), col("s_acctbal"), col("n_name"))
        .agg(min(col("l_extendedprice")).as("supply_cost"))
      val minCost = cost.groupBy(col("p_partkey").as("m_partkey"))
        .agg(min(col("supply_cost")).as("min_cost"))
      cost.join(minCost, col("p_partkey") === col("m_partkey") &&
          col("supply_cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_size"), col("supply_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    "q11_important_stock" -> ((s, dir) => {
      // TPC-H Q11 shape: parts whose EUROPE-supplied value exceeds the
      // mean part value — the scalar `HAVING value > fraction * total`
      // subquery becomes ONE broadcast totals row compared
      // cross-multiplied in exact integer cents (value_c · n_parts >
      // tot_c — no double division, no fixed fraction that would go
      // empty at 100× scale). Value table is materialized once and
      // feeds both the totals agg and the filter.
      val euroSupp = broadcast(Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey")))
      val value = graft.operators.Materialize(Tables.lineitem(s, dir)
        .join(euroSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg((round(sum(dec2(col("l_extendedprice"))), 2) * 100)
          .cast("long").as("value_c")))
      val tot = value.agg(sum(col("value_c")).as("tot_c"),
        count(lit(1)).as("n_parts"))
      value.crossJoin(broadcast(tot))
        .filter(col("value_c") * col("n_parts") > col("tot_c"))
        .select(col("l_partkey"),
          round(col("value_c").cast("double") / 100.0, 2).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    "q20_promotion" -> ((s, dir) => {
      // TPC-H Q20 shape: ASIA suppliers who shipped the MAJORITY of some
      // widget part's 1996 volume (availqty > ½·qty with the fact
      // standing in for partsupp). The nested IN-chain (part name → qty
      // threshold → supplier) becomes: per-(part, supplier) qty and
      // per-part totals off ONE materialized slice, the majority test in
      // exact integer units (quantities are integral doubles, sums are
      // exact well past 2^53 — cast to long for the compare), then a
      // LEFT SEMI from the supplier dim. Order of joins keeps every dim
      // broadcast; the qty agg is the only shuffle.
      val widgets = broadcast(Tables.part(s, dir)
        .filter(col("p_name").endsWith("widget"))
        .select(col("p_partkey")))
      val qty = graft.operators.Materialize(Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(widgets, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("pair_qty")))
      val perPart = qty.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("pair_qty")).as("part_qty"))
      val majority = qty.join(perPart, col("l_partkey") === col("t_partkey"))
        .filter(col("pair_qty") * 2 > col("part_qty"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .join(majority, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"), col("s_suppkey"))
    }),

    "q_decile" -> ((s, dir) => {
      // global decile stats WITHOUT ntile's single-partition sort: the
      // two-phase range-partitioned rank (Curation.globalRank — the
      // vocab_build machinery) establishes the total order in parallel,
      // then decile = (rank·10) div n as EXACT integer division (a
      // double divide could flip a boundary row cross-engine). The n
      // lookup is one count agg broadcast back.
      val o = Tables.orders(s, dir)
      val ranked = graft.operators.Curation.globalRank(
        o.select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), "rk")
      ranked.crossJoin(broadcast(o.agg(count(lit(1)).as("n"))))
        .withColumn("decile", expr("(rk * 10) div n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(dec2(col("o_totalprice"))).as("revenue"))
        .orderBy(col("decile"))
    }),

    "q_pareto" -> ((s, dir) => {
      // revenue-concentration (Pareto) audit: the minimum number of
      // customers covering HALF the total revenue, via the two-phase
      // global cumulative sum (Curation.globalCumSum) over per-customer
      // revenue in exact integer CENTS — no single-partition window, no
      // decimal division; the half test is cross-multiplied (2·cum <
      // tot). The totals derive from the cumsum's own materialized
      // table, so the per-customer agg runs once.
      val rev = Tables.orders(s, dir).groupBy(col("o_custkey"))
        .agg((round(sum(dec2(col("o_totalprice"))), 2) * 100)
          .cast("long").as("rev_c"))
      val cum = graft.operators.Curation.globalCumSum(rev,
        Seq(col("rev_c").desc, col("o_custkey")), col("rev_c"), "cum_c")
      val tot = cum.agg(sum(col("rev_c")).as("tot_c"),
        count(lit(1)).as("n_cust"), max(col("rev_c")).as("max_c"))
      cum.crossJoin(broadcast(tot))
        .agg(max(col("n_cust")).as("n_cust"),
          (sum(when(col("cum_c") * 2 < col("tot_c"), 1L).otherwise(0L)) + 1L)
            .as("n_half"),
          round(max(col("max_c")).cast("double") / max(col("tot_c")), 6)
            .as("top1_share"))
    }),

    "q_markov" -> ((s, dir) => {
      // event-sequence transition matrix (the Markov-chain estimate a
      // sequence-model pipeline derives from clickstreams): consecutive
      // event pairs per user, P(dst|src) = n / Σ_dst n. The sequence key
      // is event_id (monotone per stream — immune to sub-µs timestamp
      // ties that would order differently across engines). One
      // partitioned window (per-user, no global sort) + one
      // map-side-combined agg; p is a single division of exact counts.
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val totals = Window.partitionBy(col("src_type"))
      eventsUs(s, dir)
        .withColumn("dst_type", lead(col("event_type"), 1).over(w))
        .filter(col("dst_type").isNotNull)
        .groupBy(col("event_type").as("src_type"), col("dst_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double")
          / sum(col("n")).over(totals).cast("double"), 6))
        .orderBy(col("src_type"), col("dst_type"))
    }),

    "q_window_range" -> ((s, dir) => {
      // RANGE-frame window: trailing-1-hour event count + floor-value sum
      // per user over purchases (integer math for cross-engine parity)
      val ev = eventsUs(s, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          sum(floor(col("value")).cast("long")).over(w).as("trailing_1h_value"),
          count(lit(1)).over(w).as("trailing_1h_n"))
        .orderBy(col("event_id"))
    }),

    "q_outer_join" -> ((s, dir) => {
      // FULL OUTER over two per-user aggregates: users with only clicks
      // and users with only purchases both survive with zero-filled sides
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("n_clicks"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("pu"))
        .agg(count(lit(1)).as("n_purchases"))
      clicks.join(purchases, col("cu") === col("pu"), "full_outer")
        .select(coalesce(col("cu"), col("pu")).as("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy(col("user_id"))
    }),

    "q_group_topk" -> ((s, dir) => {
      // the custom bounded-heap plan node (plans/GroupTopK.scala): top-3
      // orders by totalprice per priority — the window row_number filter
      // executed as partial→final heaps with a k-bounded shuffle
      graft.plans.GroupTopK.topK(Tables.orders(s, dir),
          Seq(col("o_orderpriority")), 3,
          col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    "q_unnest" -> ((s, dir) => {
      // explode/unnest surface: top-5 words per language
      val words = Tables.documents(s, dir)
        .select(col("lang"),
          explode(graft.functions.Portable.tokens(col("text"))).as("word"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("word"))
      words.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("word"), col("cnt"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    "q_asof_join" -> ((s, dir) => {
      // click→purchase attribution: each purchase matched to the user's
      // most recent click at or before it — the as-of join, without an
      // inequality join (Temporal.asofJoin: union + running max)
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      graft.operators.Temporal.asofJoin(purchases, clicks,
          key = "user_id", leftTs = "purchase_ts", rightTs = "ts",
          rightPayload = Seq("event_id"))
        .select(col("purchase_id"), col("purchase_ts"),
          col("asof_ts").as("click_ts"), col("asof_event_id").as("click_id"))
        .orderBy(col("purchase_id"))
    }),

    "q_topic_drift" -> ((s, dir) => {
      // week-over-week topic COMPOSITION drift (the mixture monitor
      // pairing q_events_anomaly's volume view): per (topic, week),
      // share of all events and its delta vs the prior week. Shares
      // are integer-count ratios divided once in double; drift
      // subtracts the raw ratios and rounds once (cross-engine exact).
      val wk = eventsUs(s, dir)
        .groupBy(col("event_type").as("topic"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n"))
      val tot = wk.groupBy(col("week")).agg(sum(col("n")).as("wn"))
      val w = Window.partitionBy(col("topic")).orderBy(col("week"))
      wk.join(broadcast(tot), "week")
        .withColumn("sr", col("n").cast("double") / col("wn"))
        .select(col("topic"), col("week"), col("n"),
          round(col("sr"), 6).as("share"),
          round(col("sr") - lag(col("sr"), 1).over(w), 6).as("drift"))
        .orderBy(col("topic"), col("week"))
    }),

    "q_events_anomaly" -> ((s, dir) => {
      // per-(topic, day) volume anomaly vs a trailing-week baseline —
      // the consumption-rate monitoring the reference exposes as
      // counters (prometheus.rs) turned into a query: z = (n − mean7)
      // / std7 over the 7 preceding OBSERVED days (a ROWS frame — a
      // topic with a zero-event calendar day contributes no row, so
      // the baseline is the last 7 days WITH traffic, not the last 7
      // calendar days; densify days per topic before the window if
      // calendar-week behavior is wanted). Determinism: counts are integers,
      // mean/var come from integer sums (sum, sum of squares) divided
      // once in double; std>0 guard avoids 0/0. Windows PARTITIONED
      // by topic (parallel); one shuffle to daily counts, then a
      // days-sized window — at 100 TB the daily rollup is the only
      // corpus-sized pass.
      graft.operators.Temporal.volumeAnomaly(
          eventsUs(s, dir)
            .groupBy(col("event_type").as("topic"),
              to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n")),
          dense = false)
        .orderBy(col("topic"), col("day"))
    }),

    "q_events_anomaly_dense" -> ((s, dir) => {
      // the CALENDAR-week sibling of q_events_anomaly (the advisor's
      // observed-vs-calendar distinction made executable): days are
      // densified per topic with n=0 fillers, so the ROWS (-7,-1)
      // frame IS the 7 preceding calendar days and a zero-event day
      // both feeds the baseline and gets its own (collapse-alarm) z
      // row — see Temporal.volumeAnomaly for the scale shape
      graft.operators.Temporal.volumeAnomaly(
          eventsUs(s, dir)
            .groupBy(col("event_type").as("topic"),
              to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n")),
          dense = true)
        .orderBy(col("topic"), col("day"))
    }),

    "q_rfm" -> ((s, dir) => {
      // RFM customer segmentation — recency/frequency/monetary
      // QUINTILES without ntile's single-partition sort: three
      // two-phase global ranks (the q_decile machinery, one per
      // metric), score = 5 − (rank·5) div n as exact integer division
      // (a double quantile could flip boundary customers
      // cross-engine), then the classic segment rules on the scores
      // four consumers (three rank passes + the final join spine):
      // materialize the per-customer aggregate once instead of
      // re-scanning + re-aggregating orders per consumer
      val base = graft.operators.Materialize(
        Tables.orders(s, dir).groupBy(col("o_custkey"))
          .agg(max(datediff(col("o_orderdate"),
              lit("1970-01-01").cast("date")).cast("long")).as("rec_day"),
            count(lit(1)).as("freq"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("mon_c")))
      val n = base.agg(count(lit(1)).as("n"))
      def score(metric: String, out: String) =
        graft.operators.Curation.globalRank(
            base.select(col("o_custkey"), col(metric)),
            Seq(col(metric).desc, col("o_custkey")), "rk")
          .crossJoin(broadcast(n))
          .select(col("o_custkey"),
            (lit(5L) - expr("(rk * 5) div n")).as(out))
      base.select(col("o_custkey"))
        .join(score("rec_day", "r_score"), Seq("o_custkey"))
        .join(score("freq", "f_score"), Seq("o_custkey"))
        .join(score("mon_c", "m_score"), Seq("o_custkey"))
        .withColumn("segment",
          when(col("r_score") === 5 && col("f_score") === 5 &&
            col("m_score") === 5, "champion")
          .when(col("r_score") >= 4 && col("f_score") >= 4, "loyal")
          .when(col("r_score") <= 2 && col("m_score") >= 4, "at_risk_big")
          .when(col("r_score") <= 2, "lapsed")
          .otherwise("regular"))
        .orderBy(col("o_custkey"))
    }),

    "q_session_sweep" -> ((s, dir) => {
      // session-GAP policy sweep (15/30/60 min arms in ONE scan — the
      // pack_seqlen_sweep pattern on the sessionizer): the 3-row arm
      // table broadcasts against events, every window is PARTITIONED
      // by (arm, user), and the readout shows how session count,
      // length, and singleton share move with the gap — the data an
      // operator needs to PICK the gap q_sessionize hard-codes
      val ss2 = s; import ss2.implicits._
      val arms = Seq(15L, 30L, 60L).toDF("gap_min")
      val w = Window.partitionBy(col("gap_min"), col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sid = eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .crossJoin(broadcast(arms))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("ns", when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >
            col("gap_min") * 60000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("ns")).over(
          Window.partitionBy(col("gap_min"), col("user_id"))
            .orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sid.groupBy(col("gap_min"), col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("gap_min"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("len")).as("n_events"),
          sum(when(col("len") === 1, 1L).otherwise(0L)).as("n_singletons"))
        .withColumn("avg_len_milli",
          expr("(n_events * 1000) div n_sessions"))
        .select(col("gap_min"), col("n_sessions"), col("n_events"),
          col("avg_len_milli"), col("n_singletons"))
        .orderBy(col("gap_min"))
    }),

    "q_funnel_steps" -> ((s, dir) => {
      // TIME-CONSTRAINED 3-step funnel (view → click ≤ 1 h → purchase
      // ≤ 1 h): the greedy per-step chain — first view, first click
      // strictly after it within the window, first purchase after
      // that — that q_funnel's unconstrained conversion can't express.
      // Three user-keyed min-aggs chained by equi-joins on user_id
      // (shuffle-bounded by the per-user firsts, no inequality join:
      // the window bound is a post-join filter); stage = how far the
      // user got
      val ev = eventsUs(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val hour = expr("INTERVAL 1 HOUR")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + hour)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + hour)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"),
          (lit(1) + col("t_click").isNotNull.cast("int")
            + col("t_purchase").isNotNull.cast("int")).as("stage"))
        .orderBy(col("user_id"))
    }),

    "q_bitemporal" -> ((s, dir) => {
      // bitemporal as-of: the state believed AT transaction cutoff TX
      // (only records ingested by then, TX = ¾ of the id range) vs the
      // CURRENT belief about the same valid instant V — the two-axis
      // read scd2_intervals (valid time) and cdc_apply (transaction
      // time) each cover one half of. `revised` flags users whose
      // pre-V history was retroactively rewritten by late arrivals.
      // Both reads are user-partitioned rank windows over the SAME
      // V-filtered base (one corpus pass, pushdown-friendly ts bound);
      // TX is a broadcast 1-row scalar
      val ev = eventsUs(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), col("ts"))
      val v = lit("2024-01-20 00:00:00").cast("timestamp")
      val txCut = ev.agg(expr("(max(event_id) * 3) div 4").as("tx"))
      val base = ev.filter(col("ts") <= v).crossJoin(broadcast(txCut))
      val wCur = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val cur = base.withColumn("rn", row_number().over(wCur))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("state_current"))
      val atx = base.filter(col("event_id") <= col("tx"))
        .withColumn("rn", row_number().over(wCur))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("state_asof_tx"))
      cur.join(atx, Seq("user_id"), "left")
        .select(col("user_id"), col("state_current"), col("state_asof_tx"),
          (!(col("state_current") <=> col("state_asof_tx"))).cast("int")
            .as("revised"))
        .orderBy(col("user_id"))
    }),

    "q_cusum" -> ((s, dir) => {
      // sustained-drift changepoint score: one-sided upper CUSUM per
      // topic over calendar-dense daily counts — the detector class the
      // z-score rows can't express (a +1σ/day level shift never fires a
      // z alarm but accumulates linearly here). The max(0, s+x) recursion
      // runs as its exact prefix-sum closed form (two topic-partitioned
      // cumulative windows, all-integer — see Temporal.cusum); the daily
      // rollup is the only corpus-sized pass at 100 TB
      graft.operators.Temporal.cusum(
          eventsUs(s, dir)
            .groupBy(col("event_type").as("topic"),
              to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n")),
          hMult = 4L)
        .orderBy(col("topic"), col("day"))
    }),

    "q_skyline" -> ((s, dir) => {
      // Pareto front of orders on (totalprice, recency): the
      // multi-objective "best trade-offs" operator, computed by the
      // staircase decomposition in Pareto.skyline2d (groupBy-x max,
      // two-level prefix max, broadcast join back) instead of the
      // O(n²) NOT-EXISTS self-join the oracle spells — same integer
      // comparisons, so the two derivations agree bit-for-bit
      graft.operators.Pareto.skyline2d(
          Tables.orders(s, dir).select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("price_c"),
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
              .cast("long").as("day_n")),
          "price_c", "day_n")
        .select(col("o_orderkey"), col("price_c"), col("day_n"))
        .orderBy(col("price_c").desc, col("day_n"), col("o_orderkey"))
    }),

    "q_skyline_merge" -> ((s, dir) => {
      // the skyline's SHARD-MERGE theorem as an oracle row: per-shard
      // skyline → union → global skyline ≡ the direct front (local
      // prune only removes dominated points; dominance is transitive) —
      // what a 1000-executor skyline actually ships (each executor's
      // tiny front, never its partition); anchored by q_skyline's
      // IDENTICAL oracle SQL
      val pts = Tables.orders(s, dir).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_n"))
      // materialize the per-shard fronts before the global merge:
      // skyline2d consumes its input twice (per-x agg + join back), so
      // without this the GLOBAL call re-executes the entire per-shard
      // staircase tree — 18 orders scans in one plan; the front is tiny
      // by definition (exactly what a 1000-executor skyline ships)
      val local = graft.operators.Materialize(
        graft.operators.Pareto.skyline2d(
            pts.withColumn("__sh", pmod(col("o_orderkey"), lit(8L))),
            "price_c", "day_n", groupCols = Seq("__sh"))
          .drop("__sh"))
      graft.operators.Pareto.skyline2d(local, "price_c", "day_n")
        .select(col("o_orderkey"), col("price_c"), col("day_n"))
        .orderBy(col("price_c").desc, col("day_n"), col("o_orderkey"))
    }),

    "q_skyline_stream" -> ((s, dir) => {
      // the skyline as a LIVE complete-mode streaming aggregation
      // (SkylineAggregator — the front as a commutative monoid in
      // aggregation state, O(front) not O(corpus)): three real
      // micro-batches replay the points, and because dominance
      // filtering is confluent the drained front must equal the batch
      // front — q_skyline's own oracle anchors it
      val pts = Tables.orders(s, dir).select(
        col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("x"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("y"),
        pmod(col("o_orderkey"), lit(3L)).as("batch"))
      graft.streaming.StreamedBatch.skylineStreamed(s, pts, nBatches = 3)
        .select(explode(col("front")).as("p"))
        .select(col("p.id").as("o_orderkey"), col("p.x").as("price_c"),
          col("p.y").as("day_n"))
        .orderBy(col("price_c").desc, col("day_n"), col("o_orderkey"))
    }),

    "q_skyline3" -> ((s, dir) => {
      // 3-D Pareto front of orders on (price, recency, basket size) —
      // the dimensionality where the 2-D staircase stops existing (no
      // total order on x leaves a single sufficient statistic once a
      // third dim joins), so the MONOID front buffer (Skyline3Aggregator
      // — insert with dominance prune; map-side partials ship only
      // their front) IS the scalable algorithm; oracle is the
      // independent 3-way NOT-EXISTS dominance spelling
      val ss2 = s; import ss2.implicits._
      val items = Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      Tables.orders(s, dir)
        .join(items, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("id"),
          round(col("o_totalprice") * 100).cast("long").as("x"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("y"),
          col("n_items").as("z"))
        .as[graft.plans.FrontPoint3]
        .groupByKey(_ => 0L)
        .agg(new graft.plans.Skyline3Aggregator().toColumn.name("front"))
        .toDF("k", "front")
        .select(explode(col("front")).as("p"))
        .select(col("p.id").as("o_orderkey"), col("p.x").as("price_c"),
          col("p.y").as("day_n"), col("p.z").as("n_items"))
        .orderBy(col("price_c").desc, col("day_n"), col("n_items"),
          col("o_orderkey"))
    }),

    "q_skyline3_merge" -> ((s, dir) => {
      // the 3-D front's explicit SHARD route: 8 per-shard fronts
      // (each executor's monoid buffer) flattened and re-merged must
      // equal the direct front — the local-prune theorem holds in any
      // dimension because dominance stays transitive; anchored by
      // q_skyline3's IDENTICAL oracle
      val ss2 = s; import ss2.implicits._
      val items = Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      val pts = Tables.orders(s, dir)
        .join(items, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey").as("id"),
          round(col("o_totalprice") * 100).cast("long").as("x"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("y"),
          col("n_items").as("z"))
        .as[graft.plans.FrontPoint3]
      pts.groupByKey(_.id % 8)
        .agg(new graft.plans.Skyline3Aggregator().toColumn.name("front"))
        .flatMap(_._2)
        .groupByKey(_ => 0L)
        .agg(new graft.plans.Skyline3Aggregator().toColumn.name("front"))
        .toDF("k", "front")
        .select(explode(col("front")).as("p"))
        .select(col("p.id").as("o_orderkey"), col("p.x").as("price_c"),
          col("p.y").as("day_n"), col("p.z").as("n_items"))
        .orderBy(col("price_c").desc, col("day_n"), col("n_items"),
          col("o_orderkey"))
    }),

    "q_time_window" -> ((s, dir) => {
      // THE canonical 100 TB event query: aggregate over a time window.
      // Rides the pushdown-friendly eventsUs shape, so the ts range
      // reaches the parquet scan as PushedFilters (row-group pruning) —
      // posture-guarded in PlanPostureSpec
      eventsUs(s, dir)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
        .orderBy(col("event_type"))
    }),

    "q_salted_agg" -> ((s, dir) => {
      // skew-mitigated aggregation UNDER THE ORACLE (B13, previously
      // spec-only): the two-phase salted sum/count — partial on
      // (key, salt), final on key, the shape AQE does NOT rebalance for
      // aggs — must equal the plain GROUP BY bit for bit (integer sums
      // commute across any salt split)
      graft.operators.Skew.saltedSumCount(Tables.events(s, dir),
          keys = Seq("event_type"), valueCol = "user_id", salts = 16)
        .orderBy(col("event_type"))
    }),

    "q_interarrival" -> ((s, dir) => {
      // per-topic inter-arrival-gap profile (burst/lull diagnosis for
      // the sync's rate limits): lag over a topic-PARTITIONED window —
      // parallel across topics, never a global sort; exact µs integers
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      eventsUs(s, dir)
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          sum(col("gap_us")).as("gap_sum"),
          sum(when(col("gap_us") > 3600000000L, 1L).otherwise(0L))
            .as("n_lulls_1h"))
        // integer mean: at 10¹⁰ µs magnitudes a 6-dp double round sits
        // BELOW one ulp and the engines disagree in the last digit —
        // the exact `div` is the portable spelling
        .withColumn("avg_gap_us", expr("gap_sum div n_gaps"))
        .drop("gap_sum")
        .orderBy(col("event_type"))
    }),

    "q_attribution" -> ((s, dir) => {
      // the BATCH twin of StreamingIntervalJoin.attribute, run through
      // the SAME code path (EliminateEventTimeWatermark drops the
      // watermark node for batch): conversions matched to the same
      // user's impressions within 1h — oracle-checked here, streaming ≡
      // batch proven in StreamingJoinSpec
      val ev = eventsUs(s, dir)
      val impressions = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("imp_ts"),
          col("event_id").as("imp_id"))
      val conversions = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_user_id"), col("ts").as("conv_ts"),
          col("event_id").as("conv_id"))
      graft.streaming.StreamingIntervalJoin
        .attribute(impressions, conversions, windowSec = 3600)
        .orderBy(col("imp_id"), col("conv_id"))
    }),

    "q_attribution_stream" -> ((s, dir) => {
      // B33 promoted to a REAL stream-stream oracle row: impressions
      // and conversions arrive on separate file sources, the interval
      // join buffers keyed state on BOTH sides, and the single
      // AvailableNow micro-batch must emit exactly the batch range
      // join — the IDENTICAL DuckDB SQL as q_attribution anchors both
      val ev = eventsUs(s, dir)
      val impressions = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("imp_ts"),
          col("event_id").as("imp_id"))
      val conversions = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_user_id"), col("ts").as("conv_ts"),
          col("event_id").as("conv_id"))
      graft.streaming.StreamedBatch
        .attributed(s, impressions, conversions, windowSec = 3600)
        .orderBy(col("imp_id"), col("conv_id"))
    }),

    "q_attribution_multibatch" -> ((s, dir) => {
      // B33's state EVICTION executed under the oracle (the watermark
      // "IS the memory bound" claim, exercised): every 5th event is
      // redelivered after the whole rest of the stream, views and
      // purchases replay as 5 lockstep file micro-batches, and the
      // 1 h-horizon join must drop late inputs and refuse matches whose
      // buffered partner was already evicted — 34 of the batch join's
      // 40 pairs survive at sf0.01. The oracle models the pinned
      // semantics (filter watermark = both-sides max through batch b−2
      // minus 1 h; row drops below it; a cross-batch pair needs
      // imp_ts + window and conv_ts at-or-above the watermark of the
      // later arrival batch). Verified pair-for-pair against the live
      // stream at both SFs before the oracle was written down.
      val ev = eventsUs(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_type"), col("ts"), col("event_id"), col("user_id"))
      val n = ev.count() // bounded plan-time action (chunk sizing)
      val ranked = graft.streaming.StreamedBatch.chunked(ev
        .withColumn("arrival", col("event_id") +
          when(pmod(col("event_id"), lit(5)) === 0, lit(n)).otherwise(0L)),
        n, 5, col("arrival"), col("event_id"))
      val imps = ranked.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("imp_ts"),
          col("event_id").as("imp_id"), col("batch"))
      val convs = ranked.filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_user_id"), col("ts").as("conv_ts"),
          col("event_id").as("conv_id"), col("batch"))
      graft.streaming.StreamedBatch
        .attributedMulti(s, imps, convs, nBatches = 5,
          windowSec = 3600, horizon = "1 hour")
        .orderBy(col("imp_id"), col("conv_id"))
    }),

    "q_range_join" -> ((s, dir) => {
      // clicks within ±30 min of each purchase by the same user — the
      // bounded range join via time-bucket equi-join (Temporal)
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      graft.operators.Temporal.rangeJoinCount(purchases, clicks,
          key = "user_id", leftTs = "purchase_ts", rightTs = "ts",
          toleranceSec = 1800, countName = "n_clicks")
        .select(col("purchase_id"), col("n_clicks"))
        .orderBy(col("purchase_id"))
    }),

    "q3_join_topk" -> ((s, dir) => {
      val cutoff = lit("1998-06-01 00:00:00").cast("timestamp")
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(moneySum(revenueExpr).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q5_multijoin" -> ((s, dir) => {
      val lo = lit("1997-01-01 00:00:00").cast("timestamp")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp")
      val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val nat = Tables.nation(s, dir)
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, dir)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(moneySum(revenueExpr).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("running_spend",
          round(sum(dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .cast("double"))
        .select("o_custkey", "o_orderkey", "rn", "running_spend")
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q_semi_anti" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val ordKeys = Tables.orders(s, dir).select("o_custkey")
      val withO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("with_orders"))
      val noO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("without_orders"))
      Tables.nation(s, dir)
        .join(withO, col("n_nationkey") === withO("c_nationkey"), "left")
        .drop("c_nationkey")
        .join(noO, col("n_nationkey") === noO("c_nationkey"), "left")
        .select(col("n_name"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
        .orderBy(col("n_name"))
    }),

    "q4_exists" -> ((s, dir) => {
      // orders with at least one line shipped after a cutoff (EXISTS /
      // semi join), counted per priority
      val late = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1999-06-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"))
      Tables.orders(s, dir)
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    "q18_having" -> ((s, dir) => {
      // large-quantity orders: HAVING over the fact aggregate, joined
      // back to the order header
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(dec2(col("l_quantity"))), 2).cast("double").as("total_qty"))
        .filter(col("total_qty") > 120)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }),

    "q_funnel" -> ((s, dir) => {
      // signup → purchase conversion: per user, first signup time and
      // the purchases that happened strictly after it
      val ev = eventsUs(s, dir)
      val firstSignup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
      ev.filter(col("event_type") === "purchase")
        .join(firstSignup, Seq("user_id"), "right")
        .groupBy(col("user_id"), col("first_signup"))
        .agg(sum(when(col("ts") > col("first_signup"), 1L).otherwise(0L))
          .as("purchases_after"))
        .withColumn("converted", col("purchases_after") > 0)
        .orderBy(col("user_id"))
    }),

    "q_argmax" -> ((s, dir) => {
      // deterministic argmax: top customer by (acctbal desc, custkey asc)
      // per nation — window formulation, total order on ties
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey").as("top_custkey"),
          col("c_acctbal").as("top_acctbal"))
        .orderBy(col("c_nationkey"))
    }),

    "q_string_funcs" -> ((s, dir) => {
      Tables.part(s, dir).groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("p_name").contains("a"), 1L).otherwise(0L)).as("with_a"),
          sum(length(col("p_name"))).as("name_chars"),
          min(upper(col("p_type"))).as("first_type_upper"),
          max(substring(col("p_name"), 1, 3)).as("max_prefix3"))
        .orderBy(col("p_brand"))
    }),

    "q_date_funcs" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("yr"), col("qtr"))
    }),

    "q_histogram" -> ((s, dir) => {
      eventsUs(s, dir)
        .groupBy(floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("value"))).as("value_sum"))
        .orderBy(col("bucket"))
    }),

    "q_subquery" -> ((s, dir) => {
      // customers above their nation's average balance (correlated
      // aggregate subquery, decorrelated as a broadcast join on the
      // per-nation aggregate)
      val cust = Tables.customer(s, dir)
      val avgBal = cust.groupBy(col("c_nationkey").as("nk"))
        .agg((round(sum(dec2(col("c_acctbal"))), 2).cast("double") /
          count(lit(1))).as("avg_bal"))
      cust.join(broadcast(avgBal), col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_above"),
          moneySum(dec2(col("c_acctbal"))).as("bal_above"))
        .orderBy(col("c_nationkey"))
    }),

    "q_rollup" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("c_acctbal"))).as("acctbal"),
          grouping_id().cast("int").as("lvl"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }),

    "q_grouping_sets" -> ((s, dir) => {
      // independent grouping sets ((nation), (segment)) — the union
      // ROLLUP/CUBE can't express; one pass, expand + single agg
      val cust = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupingSets(Seq(Seq(col("n_name")), Seq(col("c_mktsegment"))),
          col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("c_acctbal"))).as("acctbal"),
          grouping_id().cast("int").as("lvl"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }),

    "q_cube" -> ((s, dir) => {
      // full CUBE over (status, priority): all 4 aggregation levels
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          moneySum(dec2(col("o_totalprice"))).as("total"),
          grouping_id().cast("int").as("lvl"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    "q_pivot_case" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val aggs = types.map(t =>
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")) :+
        moneySum(dec2(col("value"))).as("total_value")
      eventsUs(s, dir).groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("user_id"))
    }),

    "q_percentile" -> ((s, dir) => {
      Tables.orders(s, dir).groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_setops" -> ((s, dir) => {
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ordered97 = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      val ex = building.except(ordered97)
        .select(lit("except").as("op"), col("c_custkey"))
      val in = building.intersect(ordered97)
        .select(lit("intersect").as("op"), col("c_custkey"))
      ex.unionAll(in).orderBy(col("op"), col("c_custkey"))
    }),

    "q_tumbling_window" -> ((s, dir) => {
      eventsUs(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(dec2(col("value"))).as("value_sum"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n"), col("value_sum"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      eventsUs(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    "q_late_events" -> ((s, dir) => {
      // late-data audit (the operability readout behind A19's
      // watermarked dedup horizon): with msg_id order standing in for
      // arrival order (the stream's offset), an event is LATE at
      // horizon h when its event time is older than the running max
      // seen so far minus h — exactly the rows a watermark of h would
      // drop. The synthetic corpus arrives perfectly in order, so every
      // 17th event is deterministically REDELIVERED by a delay-class
      // mix (see lateArrival: ≈9 min/65 min/3.6 h/8.6 h of event time —
      // the broker-redelivery shape A19 dedups); those are the rows the
      // watermark sees as late. Per-topic windows (parallel, never a
      // global sort); the share tells you whether a 1 h watermark is
      // safe BEFORE you deploy it.
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("arrival"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      eventsUs(s, dir)
        .withColumn("arrival", lateArrival)
        .withColumn("wm",
          max(unix_micros(col("ts"))).over(w) - 3600L * 1000000)
        .withColumn("late", when(col("wm").isNotNull &&
          unix_micros(col("ts")) < col("wm"), 1L).otherwise(0L))
        .groupBy(col("event_type").as("topic"))
        .agg(count(lit(1)).as("n_events"), sum(col("late")).as("n_late"),
          round(sum(col("late")) / count(lit(1)), 6).as("late_share"))
        .orderBy(col("topic"))
    }),

    "q_sessionize_multibatch" -> ((s, dir) => {
      // B12's EVENT-TIME TIMEOUT path live under the oracle (the
      // single-batch twin needed a sentinel to close sessions; this one
      // must not): the in-order stream replays as 5 one-file
      // micro-batches, sessions merge across batch boundaries in
      // state, close mid-stream by successor OR by timeout as the
      // watermark advances, and each user's TAIL session emits only if
      // the terminal watermark (global max − 30 min) passed its
      // ms-truncated timeout — the one boundary the oracle must model,
      // since in-order arrival keeps session structure batch-identical.
      // Verified session-for-session against the live stream at both
      // SFs before the oracle was written down.
      val ev = eventsUs(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
      val batched = graft.streaming.StreamedBatch
        .chunked(ev, 5, col("event_id"))
      graft.streaming.StreamedBatch
        .sessionsMulti(s, batched, nBatches = 5, gapMinutes = 30)
        .orderBy(col("user_id"), col("session_start"))
    }),

    "q_watermark_drops_stream" -> ((s, dir) => {
      // B61 PREDICTED which rows a 1 h watermark drops; this EXECUTES
      // the drop: the planted-disorder arrival stream replays through a
      // REAL watermarked tumbling-hour aggregation (one micro-batch per
      // arrival-chunk file, 10 chunks), and the emitted window counts
      // must land on a DuckDB model of Spark's exact semantics — late
      // rows drop by WINDOW EVICTION (window end ≤ filter watermark),
      // the filter watermark derives from data through batch b−2, and
      // the AvailableNow final empty batch flushes every window closed
      // by the terminal watermark (global max − 1 h). Verified
      // row-for-row against the live stream at both SFs before the
      // oracle was written down.
      val ranked = eventsUs(s, dir)
        .select(col("event_type").as("topic"), col("ts"), col("event_id"))
        .withColumn("arrival", lateArrival)
      val batched = graft.streaming.StreamedBatch
        .chunked(ranked, 10, col("arrival"), col("event_id"))
      graft.streaming.StreamedBatch
        .watermarkedWindowCounts(s, batched, nBatches = 10)
        .orderBy(col("win_start"), col("topic"))
    }),

    "q_watermark_decoupled_stream" -> ((s, dir) => {
      // the drops row with the watermark HORIZON decoupled from the
      // window width (2 h delay, 1 h tumbling windows): a 90-minute-
      // late row survives here but dropped in q_watermark_drops_stream
      // — the row that makes the horizon/window parameter split
      // observable under the oracle; same pinned engine model with
      // wm = lag-2 running max − 2 h and the 1 h window arithmetic
      val ranked = eventsUs(s, dir)
        .select(col("event_type").as("topic"), col("ts"), col("event_id"))
        .withColumn("arrival", lateArrival)
      val batched = graft.streaming.StreamedBatch
        .chunked(ranked, 10, col("arrival"), col("event_id"))
      graft.streaming.StreamedBatch
        .watermarkedWindowCounts(s, batched, nBatches = 10,
          horizon = "2 hours", windowDur = "1 hour")
        .orderBy(col("win_start"), col("topic"))
    }),

    "q_late_horizon_sweep" -> ((s, dir) => {
      // the watermark POLICY curve over B61's planted disorder: late
      // share at horizon ∈ {10 min, 1 h, 6 h} — the trade a deployment
      // reads off before fixing the dedup/session watermark (state cost
      // grows with horizon, dropped-data share shrinks). ONE window
      // evaluation serves all three points: the per-event running max
      // is horizon-independent, so the sweep is three conditional sums
      // in a single global aggregate, exploded to one row per horizon
      // (a global agg also matches the oracle's one-row-per-arm shape
      // on an empty relation, where a groupBy would emit zero rows).
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("arrival"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      def lateAt(h: Long) = sum(when(col("mx").isNotNull &&
        unix_micros(col("ts")) < col("mx") - h * 1000000, 1L).otherwise(0L))
      eventsUs(s, dir)
        .withColumn("arrival", lateArrival)
        .withColumn("mx", max(unix_micros(col("ts"))).over(w))
        .agg(count(lit(1)).as("n_events"),
          lateAt(600L).as("l600"), lateAt(3600L).as("l3600"),
          lateAt(21600L).as("l21600"))
        .select(col("n_events"), explode(array(
          struct(lit(600L).as("horizon_sec"), col("l600").as("n_late")),
          struct(lit(3600L).as("horizon_sec"), col("l3600").as("n_late")),
          struct(lit(21600L).as("horizon_sec"), col("l21600").as("n_late"))))
          .as("p"))
        .select(col("p.horizon_sec").as("horizon_sec"), col("n_events"),
          col("p.n_late").as("n_late"),
          round(col("p.n_late") / col("n_events"), 6).as("late_share"))
        .orderBy(col("horizon_sec"))
    }),

    "q_sessionize_stream" -> ((s, dir) => {
      // B12's stateful flatMapGroupsWithState sessionizer promoted to an
      // oracle row: the REAL streaming operator runs over the events
      // table (plus a per-user far-future sentinel so every real
      // session closes), and the emitted relation must hash-match the
      // SAME DuckDB SQL as q_sessionize — streaming ≡ batch, anchored
      // by the oracle instead of a spec assertion
      graft.streaming.StreamedBatch.sessionCounts(s,
          eventsUs(s, dir).select(col("user_id"), col("ts")),
          gapMinutes = 30)
        .orderBy(col("user_id"))
    }),
  )

  /** B61/B62's planted redelivery: every 17th event arrives
    * `delay-class` offsets late (classes 2/15/50/120 ≈ 9 min/65 min/
    * 3.6 h/8.6 h of event time at ≈259 s per offset — straddling the
    * sweep's horizons). ONE definition; the SQL twin is
    * [[lateArrivalSql]] and the two must stay in lockstep. */
  private def lateArrival: org.apache.spark.sql.Column =
    col("event_id") + when(pmod(col("event_id"), lit(17)) === 0,
      expr("CASE (event_id div 17) % 4 WHEN 0 THEN 2 WHEN 1 THEN 15 WHEN 2 THEN 50 ELSE 120 END")
        .cast("long")).otherwise(0L)

  /** SQL twin of [[lateArrival]] (a CTE named `a` over events). */
  private val lateArrivalSql: String =
    """a AS (
      |  SELECT event_type, event_id, ts,
      |    event_id + CASE WHEN event_id % 17 = 0
      |      THEN CASE (event_id // 17) % 4
      |           WHEN 0 THEN 2 WHEN 1 THEN 15 WHEN 2 THEN 50 ELSE 120 END
      |      ELSE 0 END AS arrival
      |  FROM events
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q10_returned" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |    AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q14_promo" ->
      """SELECT month, promo_revenue, total_revenue,
        |  ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_share
        |FROM (
        |  SELECT date_trunc('month', l_shipdate) AS month,
        |    CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
        |      ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS promo_revenue,
        |    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |      AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |) ORDER BY month""".stripMargin,

    "q_retention" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
        |)
        |SELECT cohort,
        |  CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin,

    "q_robust_outliers" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1
        |), d AS (
        |  SELECT e.event_type, e.value, m.med
        |  FROM events e JOIN m USING (event_type)
        |), md AS (
        |  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM d GROUP BY 1
        |)
        |SELECT d.event_type, count(*) AS n,
        |  ROUND(max(d.med), 4) AS median_value,
        |  ROUND(max(md.mad), 4) AS mad_value,
        |  CAST(SUM(CASE WHEN abs(d.value - d.med) > 4.4478 * md.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q19_disjunct" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q22_global_avg" ->
      """WITH t AS (
        |  SELECT CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2)
        |      AS DECIMAL(38,2)) AS bal_total,
        |    count(*) AS n_total
        |  FROM customer
        |)
        |SELECT c_nationkey, count(*) AS n_cust,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS bal_sum
        |FROM customer, t
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_total > bal_total
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 300000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1
        |)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q17_small_qty" ->
      """WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN p ON l_partkey = p_partkey
        |), a AS (
        |  SELECT l_partkey,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2)
        |      AS DECIMAL(38,2)) AS qty_sum,
        |    count(*) AS n_li
        |  FROM li GROUP BY 1
        |)
        |SELECT ROUND(CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2)
        |    AS DOUBLE) / 7.0, 6) AS avg_yearly,
        |  count(*) AS n_lines
        |FROM li l JOIN a USING (l_partkey)
        |WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 5 * a.n_li < a.qty_sum""".stripMargin,

    "q8_market_share" ->
      """WITH vol AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(ROUND(SUM(CASE WHEN sn.n_name = 'NATION_7'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
        |      ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE)
        |      AS nation_volume,
        |    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |      AS DOUBLE) AS total_volume
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1
        |)
        |SELECT o_year, nation_volume, total_volume,
        |  ROUND(nation_volume / total_volume, 6) AS mkt_share
        |FROM vol ORDER BY o_year""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |      AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q9_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
        |    - CAST(p_retailprice AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q12_late_priority" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_supplier_cnt" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |)
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_size <= 25
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q21_waiting" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |), per_order AS (
        |  SELECT l_orderkey AS g_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        |  FROM li GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late) w
        |JOIN per_order ON l_orderkey = g_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_name""".stripMargin,

    "table_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey AS k1, o_totalprice AS old_price
        |  FROM orders WHERE o_orderkey % 17 <> 0
        |), v2 AS (
        |  SELECT o_orderkey AS k2,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |)
        |SELECT COALESCE(k1, k2) AS o_orderkey,
        |  CASE WHEN k1 IS NULL THEN 'added'
        |       WHEN k2 IS NULL THEN 'removed'
        |       WHEN old_price <> new_price THEN 'changed' END AS status,
        |  old_price, new_price
        |FROM v1 FULL OUTER JOIN v2 ON k1 = k2
        |WHERE (CASE WHEN k1 IS NULL THEN 'added'
        |       WHEN k2 IS NULL THEN 'removed'
        |       WHEN old_price <> new_price THEN 'changed' END) IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "profile_table" ->
      """SELECT 'o_orderstatus' AS col_name,
        |  (SELECT count(*) FROM orders) AS n_rows,
        |  (SELECT count(*) FROM orders WHERE o_orderstatus IS NULL) AS n_null,
        |  (SELECT count(DISTINCT o_orderstatus) FROM orders) AS ndv,
        |  (SELECT max(c) FROM (SELECT count(*) c FROM orders
        |     WHERE o_orderstatus IS NOT NULL GROUP BY o_orderstatus) t)
        |    AS top_count,
        |  ROUND((SELECT max(c) FROM (SELECT count(*) c FROM orders
        |     WHERE o_orderstatus IS NOT NULL GROUP BY o_orderstatus) t)
        |    * 1.0 / (SELECT count(*) FROM orders), 6) AS top_share
        |UNION ALL
        |SELECT 'o_orderpriority',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL),
        |  (SELECT count(DISTINCT o_orderpriority) FROM orders),
        |  (SELECT max(c) FROM (SELECT count(*) c FROM orders
        |     WHERE o_orderpriority IS NOT NULL GROUP BY o_orderpriority) t),
        |  ROUND((SELECT max(c) FROM (SELECT count(*) c FROM orders
        |     WHERE o_orderpriority IS NOT NULL GROUP BY o_orderpriority) t)
        |    * 1.0 / (SELECT count(*) FROM orders), 6)
        |UNION ALL
        |SELECT 'o_custkey',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
        |  (SELECT count(DISTINCT o_custkey) FROM orders),
        |  (SELECT max(c) FROM (SELECT count(*) c FROM orders
        |     WHERE o_custkey IS NOT NULL GROUP BY o_custkey) t),
        |  ROUND((SELECT max(c) FROM (SELECT count(*) c FROM orders
        |     WHERE o_custkey IS NOT NULL GROUP BY o_custkey) t)
        |    * 1.0 / (SELECT count(*) FROM orders), 6)
        |ORDER BY col_name""".stripMargin,

    "agg_incremental" ->
      """SELECT o_custkey,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS total,
        |  COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY o_custkey""".stripMargin,

    "scd2_intervals" ->
      """WITH x AS (
        |  SELECT user_id, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), r AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING) AS run
        |  FROM x
        |), g AS (
        |  SELECT user_id, run, MAX(event_type) AS event_type,
        |    MIN(event_id) AS valid_from, MAX(event_id) AS valid_to,
        |    COUNT(*) AS n_events
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT user_id, event_type, valid_from, valid_to, n_events,
        |  run = MAX(run) OVER (PARTITION BY user_id) AS is_current
        |FROM g ORDER BY user_id, valid_from""".stripMargin,

    "q2_min_cost" ->
      """WITH euro_supp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |), cost AS (
        |  SELECT p_partkey, p_size, s_suppkey, s_name, s_acctbal, n_name,
        |    min(l_extendedprice) AS supply_cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN euro_supp ON l_suppkey = s_suppkey
        |  WHERE p_type = 'LARGE' AND p_size <= 20
        |  GROUP BY 1, 2, 3, 4, 5, 6
        |), min_cost AS (
        |  SELECT p_partkey AS m_partkey, min(supply_cost) AS mc
        |  FROM cost GROUP BY 1
        |)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_size, supply_cost
        |FROM cost JOIN min_cost
        |  ON p_partkey = m_partkey AND supply_cost = mc
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q11_important_stock" ->
      """WITH value AS (
        |  SELECT l_partkey,
        |    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) * 100
        |      AS BIGINT) AS value_c
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |  GROUP BY 1
        |), t AS (
        |  SELECT SUM(value_c) AS tot_c, COUNT(*) AS n_parts FROM value
        |)
        |SELECT l_partkey, ROUND(value_c / 100.0, 2) AS value
        |FROM value, t
        |WHERE value_c * n_parts > tot_c
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q20_promotion" ->
      """WITH qty AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(l_quantity) AS BIGINT) AS pair_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE '%widget')
        |  GROUP BY 1, 2
        |), per_part AS (
        |  SELECT l_partkey AS t_partkey, SUM(pair_qty) AS part_qty
        |  FROM qty GROUP BY 1
        |)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND s_suppkey IN (
        |  SELECT l_suppkey FROM qty JOIN per_part ON l_partkey = t_partkey
        |  WHERE pair_qty * 2 > part_qty)
        |ORDER BY s_name, s_suppkey""".stripMargin,

    "q_decile" ->
      """WITH r AS (
        |  SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS rk
        |  FROM orders
        |), n AS (SELECT count(*) AS n FROM orders)
        |SELECT (rk * 10) // n AS decile, count(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS revenue
        |FROM r, n GROUP BY 1 ORDER BY decile""".stripMargin,

    "q_pareto" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) * 100
        |      AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1
        |), c AS (
        |  SELECT rev_c,
        |    SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey
        |      ROWS UNBOUNDED PRECEDING) AS cum_c
        |  FROM rev
        |), t AS (
        |  SELECT SUM(rev_c) AS tot_c, count(*) AS n_cust, max(rev_c) AS max_c
        |  FROM rev
        |)
        |SELECT max(n_cust) AS n_cust,
        |  CAST(SUM(CASE WHEN cum_c * 2 < tot_c THEN 1 ELSE 0 END) + 1
        |    AS BIGINT) AS n_half,
        |  ROUND(CAST(max(max_c) AS DOUBLE) / max(tot_c), 6) AS top1_share
        |FROM c, t""".stripMargin,

    "q_markov" ->
      """WITH s AS (
        |  SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS dst_type
        |  FROM events
        |), c AS (
        |  SELECT src_type, dst_type, count(*) AS n FROM s
        |  WHERE dst_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT src_type, dst_type, n,
        |  round(CAST(n AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY src_type, dst_type""".stripMargin,

    "q_window_range" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(floor(value) AS BIGINT)) OVER w AS BIGINT) AS trailing_1h_value,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS trailing_1h_n
        |FROM events
        |WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_outer_join" ->
      """WITH c AS (
        |  SELECT user_id AS cu, count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1
        |), p AS (
        |  SELECT user_id AS pu, count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT COALESCE(cu, pu) AS user_id,
        |  CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks,
        |  CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases
        |FROM c FULL OUTER JOIN p ON cu = pu
        |ORDER BY user_id""".stripMargin,

    "q_group_topk" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |)
        |SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM r WHERE rn <= 3
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_unnest" ->
      s"""WITH words AS (
         |  SELECT lang, unnest($toksSqlB) AS word FROM documents
         |), c AS (
         |  SELECT lang, word, count(*) AS cnt FROM words GROUP BY 1, 2
         |)
         |SELECT lang, word, cnt,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS BIGINT) AS rk
         |FROM c
         |QUALIFY rk <= 5
         |ORDER BY lang, rk""".stripMargin,

    // ts cast to µs-precision TIMESTAMP so boundary comparisons run in
    // the same domain as Spark's micros timestamps
    "q_asof_join" ->
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
        |         event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.purchase_id, p.purchase_ts, x.click_ts, x.click_id
        |FROM p LEFT JOIN LATERAL (
        |  SELECT c.ts AS click_ts, c.event_id AS click_id
        |  FROM c WHERE c.user_id = p.user_id AND c.ts <= p.purchase_ts
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
        |) x ON TRUE
        |ORDER BY purchase_id""".stripMargin,

    "q_topic_drift" ->
      """WITH wk AS (
        |  SELECT event_type AS topic,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT week, CAST(sum(n) AS BIGINT) AS wn FROM wk GROUP BY 1
        |), j AS (
        |  SELECT topic, wk.week, n, n * 1.0 / wn AS sr
        |  FROM wk JOIN tot ON wk.week = tot.week
        |)
        |SELECT topic, week, n, ROUND(sr, 6) AS share,
        |  ROUND(sr - lag(sr) OVER (PARTITION BY topic ORDER BY week), 6) AS drift
        |FROM j ORDER BY topic, week""".stripMargin,

    "q_events_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type AS topic, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), win AS (
        |  SELECT topic, day, n,
        |    count(n) OVER w AS w_n,
        |    CAST(sum(n) OVER w AS BIGINT) AS w_sum,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS w_sum2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY topic ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT topic, day, n,
        |  ROUND(w_sum / 7.0, 6) AS mean7,
        |  CASE WHEN (w_sum2 - w_sum * 1.0 * w_sum / 7) / 7 > 0
        |    THEN ROUND((n - w_sum / 7.0)
        |      / sqrt((w_sum2 - w_sum * 1.0 * w_sum / 7) / 7), 6)
        |  END AS z
        |FROM win WHERE w_n = 7
        |ORDER BY topic, day""".stripMargin,

    "q_events_anomaly_dense" ->
      """WITH daily AS (
        |  SELECT event_type AS topic, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), spans AS (
        |  SELECT topic, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        |), cal AS (
        |  SELECT s.topic, CAST(u.d AS DATE) AS day
        |  FROM spans s,
        |    unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
        |      CAST(s.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)
        |), dense AS (
        |  SELECT c.topic, c.day, CAST(COALESCE(dy.n, 0) AS BIGINT) AS n
        |  FROM cal c LEFT JOIN daily dy ON dy.topic = c.topic AND dy.day = c.day
        |), win AS (
        |  SELECT topic, day, n,
        |    count(n) OVER w AS w_n,
        |    CAST(sum(n) OVER w AS BIGINT) AS w_sum,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS w_sum2
        |  FROM dense
        |  WINDOW w AS (PARTITION BY topic ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT topic, day, n,
        |  ROUND(w_sum / 7.0, 6) AS mean7,
        |  CASE WHEN (w_sum2 - w_sum * 1.0 * w_sum / 7) / 7 > 0
        |    THEN ROUND((n - w_sum / 7.0)
        |      / sqrt((w_sum2 - w_sum * 1.0 * w_sum / 7) / 7), 6)
        |  END AS z
        |FROM win WHERE w_n = 7
        |ORDER BY topic, day""".stripMargin,

    "q_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST(max(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))) AS BIGINT) AS rec_day,
        |    count(*) AS freq,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS mon_c
        |  FROM orders GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM base),
        |r AS (
        |  SELECT o_custkey, CAST(5 - ((row_number() OVER (
        |    ORDER BY rec_day DESC, o_custkey) - 1) * 5) // n AS BIGINT)
        |    AS r_score
        |  FROM base, n
        |), f AS (
        |  SELECT o_custkey, CAST(5 - ((row_number() OVER (
        |    ORDER BY freq DESC, o_custkey) - 1) * 5) // n AS BIGINT)
        |    AS f_score
        |  FROM base, n
        |), m AS (
        |  SELECT o_custkey, CAST(5 - ((row_number() OVER (
        |    ORDER BY mon_c DESC, o_custkey) - 1) * 5) // n AS BIGINT)
        |    AS m_score
        |  FROM base, n
        |)
        |SELECT b.o_custkey, r.r_score, f.f_score, m.m_score,
        |  CASE WHEN r.r_score = 5 AND f.f_score = 5 AND m.m_score = 5
        |         THEN 'champion'
        |       WHEN r.r_score >= 4 AND f.f_score >= 4 THEN 'loyal'
        |       WHEN r.r_score <= 2 AND m.m_score >= 4 THEN 'at_risk_big'
        |       WHEN r.r_score <= 2 THEN 'lapsed'
        |       ELSE 'regular' END AS segment
        |FROM base b JOIN r USING (o_custkey) JOIN f USING (o_custkey)
        |JOIN m USING (o_custkey)
        |ORDER BY o_custkey""".stripMargin,

    "q_session_sweep" ->
      """WITH arms AS (
        |  SELECT CAST(unnest([15, 30, 60]) AS BIGINT) AS gap_min
        |), e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |), x AS (
        |  SELECT a.gap_min, e.user_id, e.event_id, e.t,
        |    lag(epoch_us(e.t)) OVER (PARTITION BY a.gap_min, e.user_id
        |      ORDER BY e.t, e.event_id) AS prev_us
        |  FROM e, arms a
        |), f AS (
        |  SELECT gap_min, user_id, event_id, t,
        |    CASE WHEN prev_us IS NULL
        |      OR epoch_us(t) - prev_us > gap_min * 60000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM x
        |), sid AS (
        |  SELECT gap_min, user_id,
        |    CAST(SUM(ns) OVER (PARTITION BY gap_min, user_id
        |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM f
        |), per AS (
        |  SELECT gap_min, user_id, session_id, count(*) AS len
        |  FROM sid GROUP BY 1, 2, 3
        |)
        |SELECT gap_min, count(*) AS n_sessions,
        |  CAST(sum(len) AS BIGINT) AS n_events,
        |  CAST((CAST(sum(len) AS BIGINT) * 1000) // count(*) AS BIGINT)
        |    AS avg_len_milli,
        |  CAST(SUM(CASE WHEN len = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons
        |FROM per GROUP BY 1 ORDER BY gap_min""".stripMargin,

    "q_funnel_steps" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t
        |  FROM events
        |), v AS (
        |  SELECT user_id, min(t) AS t_view FROM ev
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.t) AS t_click
        |  FROM ev e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.t > v.t_view
        |    AND e.t <= v.t_view + INTERVAL 1 HOUR
        |  GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(e.t) AS t_purchase
        |  FROM ev e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.t > c.t_click
        |    AND e.t <= c.t_click + INTERVAL 1 HOUR
        |  GROUP BY 1
        |)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  1 + CASE WHEN c.t_click IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN p.t_purchase IS NULL THEN 0 ELSE 1 END AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,

    "q_bitemporal" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        |  FROM events
        |), tx AS (
        |  SELECT CAST((max(event_id) * 3) // 4 AS BIGINT) AS tx FROM ev
        |), base AS (
        |  SELECT * FROM ev WHERE t <= TIMESTAMP '2024-01-20 00:00:00'
        |), cur AS (
        |  SELECT user_id, event_type AS state_current FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
        |    FROM base) WHERE rn = 1
        |), atx AS (
        |  SELECT user_id, event_type AS state_asof_tx FROM (
        |    SELECT b.user_id, b.event_type, row_number() OVER (
        |      PARTITION BY b.user_id ORDER BY b.t DESC, b.event_id DESC) AS rn
        |    FROM base b, tx WHERE b.event_id <= tx.tx) WHERE rn = 1
        |)
        |SELECT c.user_id, c.state_current, a.state_asof_tx,
        |  CAST(CASE WHEN a.state_asof_tx IS NULL
        |    OR a.state_asof_tx <> c.state_current THEN 1 ELSE 0 END AS INT)
        |    AS revised
        |FROM cur c LEFT JOIN atx a USING (user_id)
        |ORDER BY c.user_id""".stripMargin,

    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type AS topic, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), spans AS (
        |  SELECT topic, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        |), cal AS (
        |  SELECT s.topic, CAST(u.d AS DATE) AS day
        |  FROM spans s,
        |    unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
        |      CAST(s.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS u(d)
        |), dense AS (
        |  SELECT c.topic, c.day, CAST(COALESCE(dy.n, 0) AS BIGINT) AS n
        |  FROM cal c LEFT JOIN daily dy ON dy.topic = c.topic AND dy.day = c.day
        |), k AS (
        |  SELECT topic, CAST(sum(n) AS BIGINT) // count(*) AS kk
        |  FROM dense GROUP BY 1
        |), pre AS (
        |  SELECT d.topic, d.day, d.n, k.kk,
        |    CAST(sum(d.n - k.kk) OVER (PARTITION BY d.topic ORDER BY d.day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        |  FROM dense d JOIN k USING (topic)
        |), cur AS (
        |  SELECT topic, day, n, kk, p,
        |    p - least(CAST(0 AS BIGINT), min(p) OVER (PARTITION BY topic
        |      ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cusum
        |  FROM pre
        |)
        |SELECT topic, day, n, cusum,
        |  CAST(cusum > 4 * kk AS INT) AS alarm
        |FROM cur ORDER BY topic, day""".stripMargin,

    "q_skyline" -> skylineOracleSql,

    // IDENTICAL SQL to q_skyline — the shard-merged front must equal
    // the direct front row for row (the skyline merge theorem)
    "q_skyline_merge" -> skylineOracleSql,

    // IDENTICAL SQL to q_skyline — the streamed front must equal the
    // batch front (dominance filtering is confluent)
    "q_skyline_stream" -> skylineOracleSql,

    "q_skyline3" -> skyline3OracleSql,

    // IDENTICAL SQL to q_skyline3 — the shard-merged 3-D front must
    // equal the direct front (dominance is transitive in any dimension)
    "q_skyline3_merge" -> skyline3OracleSql,

    // the salted two-phase agg must land on the plain GROUP BY exactly
    "q_salted_agg" ->
      """SELECT event_type, CAST(sum(user_id) AS BIGINT) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_window" ->
      """SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  min(event_id) AS first_id, max(event_id) AS last_id
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |        PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_gaps,
        |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
        |  CAST(CAST(sum(gap_us) AS BIGINT) // count(*) AS BIGINT)
        |    AS avg_gap_us,
        |  CAST(sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_lulls_1h
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_attribution" ->
      """WITH i AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS imp_ts, event_id AS imp_id
        |  FROM events WHERE event_type = 'view'
        |), c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS conv_ts, event_id AS conv_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT i.user_id, imp_id, conv_id, imp_ts, conv_ts
        |FROM i JOIN c
        |  ON i.user_id = c.user_id
        | AND conv_ts >= imp_ts
        | AND conv_ts <= imp_ts + INTERVAL 3600 SECOND
        |ORDER BY imp_id, conv_id""".stripMargin,

    // the executed-eviction relation: input rows below the lag-2
    // both-sides watermark drop; a cross-batch pair survives only if
    // the earlier side's state lived to the later arrival batch
    "q_attribution_multibatch" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |), nn AS (SELECT count(*) AS n FROM ev),
        |ar AS (
        |  SELECT e.*, e.event_id + CASE WHEN e.event_id % 5 = 0
        |    THEN nn.n ELSE 0 END AS arrival
        |  FROM ev e, nn
        |), rk AS (
        |  SELECT event_type, event_id, user_id, ts,
        |    row_number() OVER (ORDER BY arrival, event_id) - 1 AS rk
        |  FROM ar
        |), bt AS (
        |  SELECT event_type, event_id, user_id, ts, epoch_us(ts) AS us,
        |    rk // greatest((nn.n + 4) // 5, 1) AS batch
        |  FROM rk, nn
        |), bm AS (
        |  SELECT batch, max(us) AS bmax FROM bt GROUP BY 1
        |), wmt AS (
        |  SELECT batch, max(bmax) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        |    - 3600000000 AS wm
        |  FROM bm
        |), imps AS (
        |  SELECT b.user_id, b.us AS imp_us, b.ts AS imp_ts,
        |    b.event_id AS imp_id, b.batch AS ib
        |  FROM bt b JOIN wmt w USING (batch)
        |  WHERE b.event_type = 'view' AND (w.wm IS NULL OR b.us >= w.wm)
        |), convs AS (
        |  SELECT b.user_id AS c_user_id, b.us AS conv_us, b.ts AS conv_ts,
        |    b.event_id AS conv_id, b.batch AS cb
        |  FROM bt b JOIN wmt w USING (batch)
        |  WHERE b.event_type = 'purchase' AND (w.wm IS NULL OR b.us >= w.wm)
        |), j AS (
        |  SELECT i.user_id, i.imp_id, i.imp_ts, i.imp_us, i.ib,
        |    c.conv_id, c.conv_ts, c.conv_us, c.cb,
        |    greatest(i.ib, c.cb) AS lb
        |  FROM imps i JOIN convs c
        |    ON i.user_id = c.c_user_id
        |   AND c.conv_us >= i.imp_us
        |   AND c.conv_us <= i.imp_us + 3600000000
        |)
        |SELECT user_id, imp_id, conv_id, imp_ts, conv_ts
        |FROM j JOIN wmt w ON j.lb = w.batch
        |WHERE (w.wm IS NULL OR imp_us + 3600000000 >= w.wm OR ib = lb)
        |  AND (w.wm IS NULL OR conv_us >= w.wm OR cb = lb)
        |ORDER BY imp_id, conv_id""".stripMargin,

    // IDENTICAL SQL to q_attribution — the stream-stream interval join
    // must emit the batch range join's exact match set
    "q_attribution_stream" ->
      """WITH i AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS imp_ts, event_id AS imp_id
        |  FROM events WHERE event_type = 'view'
        |), c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS conv_ts, event_id AS conv_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT i.user_id, imp_id, conv_id, imp_ts, conv_ts
        |FROM i JOIN c
        |  ON i.user_id = c.user_id
        | AND conv_ts >= imp_ts
        | AND conv_ts <= imp_ts + INTERVAL 3600 SECOND
        |ORDER BY imp_id, conv_id""".stripMargin,

    "q_range_join" ->
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
        |         event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.purchase_id,
        |  CAST(COUNT(c.ts) AS BIGINT) AS n_clicks
        |FROM p LEFT JOIN c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.purchase_ts - INTERVAL 30 MINUTE
        | AND c.ts <= p.purchase_ts + INTERVAL 30 MINUTE
        |GROUP BY p.purchase_id
        |ORDER BY purchase_id""".stripMargin,

    "q3_join_topk" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_semi_anti" ->
      """SELECT n_name,
        |  CAST(SUM(CASE WHEN has_o THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
        |  CAST(SUM(CASE WHEN has_o THEN 0 ELSE 1 END) AS BIGINT) AS without_orders
        |FROM (
        |  SELECT c_nationkey, EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
        |  FROM customer
        |) c JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q4_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > TIMESTAMP '1999-06-01 00:00:00')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q18_having" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) > 120
        |)
        |SELECT o_orderkey, o_custkey, o_orderdate, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,

    "q_funnel" ->
      """WITH fs AS (
        |  SELECT user_id, min(ts) AS first_signup
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |)
        |SELECT fs.user_id, fs.first_signup,
        |  CAST(SUM(CASE WHEN e.ts > fs.first_signup THEN 1 ELSE 0 END) AS BIGINT) AS purchases_after,
        |  CAST(SUM(CASE WHEN e.ts > fs.first_signup THEN 1 ELSE 0 END) AS BIGINT) > 0 AS converted
        |FROM fs LEFT JOIN events e
        |  ON e.user_id = fs.user_id AND e.event_type = 'purchase'
        |GROUP BY fs.user_id, fs.first_signup
        |ORDER BY fs.user_id""".stripMargin,

    "q_argmax" ->
      """SELECT c_nationkey, c_custkey AS top_custkey, c_acctbal AS top_acctbal
        |FROM customer
        |QUALIFY row_number() OVER (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey) = 1
        |ORDER BY c_nationkey""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(SUM(CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END) AS BIGINT) AS with_a,
        |  CAST(SUM(len(p_name)) AS BIGINT) AS name_chars,
        |  min(upper(p_type)) AS first_type_upper,
        |  max(substr(p_name, 1, 3)) AS max_prefix3
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_date_funcs" ->
      """SELECT CAST(date_part('year', o_orderdate) AS INT) AS yr,
        |  CAST(date_part('quarter', o_orderdate) AS INT) AS qtr,
        |  count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_subquery" ->
      """WITH ab AS (
        |  SELECT c_nationkey AS nk,
        |    CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) / count(*) AS avg_bal
        |  FROM customer GROUP BY c_nationkey
        |)
        |SELECT c_nationkey, count(*) AS n_above,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS bal_above
        |FROM customer JOIN ab ON c_nationkey = nk
        |WHERE c_acctbal > avg_bal
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_rollup" ->
      """SELECT n_name, c_mktsegment, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS acctbal,
        |  CAST(GROUPING(n_name, c_mktsegment) AS INT) AS lvl
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, c_mktsegment)
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT n_name, c_mktsegment, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS acctbal,
        |  CAST(GROUPING(n_name, c_mktsegment) AS INT) AS lvl
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment))
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS lvl
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_pivot_case" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_percentile" ->
      """SELECT o_orderpriority,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_setops" ->
      """WITH building AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |), ordered97 AS (
        |  SELECT o_custkey AS c_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |)
        |SELECT 'except' AS op, c_custkey FROM (SELECT * FROM building EXCEPT SELECT * FROM ordered97)
        |UNION ALL
        |SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM building INTERSECT SELECT * FROM ordered97)
        |ORDER BY op, c_custkey""".stripMargin,

    "q_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_late_events" ->
      s"""WITH $lateArrivalSql, l AS (
         |  SELECT event_type AS topic,
         |    CASE WHEN max(epoch_us(ts)) OVER w - 3600000000 > epoch_us(ts)
         |         THEN 1 ELSE 0 END AS late
         |  FROM a
         |  WINDOW w AS (PARTITION BY event_type ORDER BY arrival, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |)
         |SELECT topic, count(*) AS n_events,
         |  CAST(SUM(late) AS BIGINT) AS n_late,
         |  ROUND(SUM(late) * 1.0 / count(*), 6) AS late_share
         |FROM l GROUP BY 1 ORDER BY topic""".stripMargin,

    // session structure is the batch sessionization (in-order arrival);
    // emission: any session with a successor, plus tail sessions whose
    // ms-truncated timeout is below the terminal watermark
    "q_sessionize_multibatch" ->
      """WITH s AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events
        |), lg AS (
        |  SELECT user_id, us, event_id,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id
        |             ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id
        |             ORDER BY us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM s
        |), sd AS (
        |  SELECT user_id, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM lg
        |), sess AS (
        |  SELECT user_id, sid, min(us) AS start_us, max(us) AS last_us,
        |    count(*) AS n_events
        |  FROM sd GROUP BY 1, 2
        |), mx AS (
        |  SELECT user_id, max(sid) AS max_sid FROM sess GROUP BY 1
        |), wmf AS (
        |  SELECT (max(us) - 1800000000) // 1000 AS wm_ms FROM s
        |)
        |SELECT se.user_id,
        |  make_timestamp((start_us // 1000) * 1000) AS session_start,
        |  CAST(n_events AS INT) AS n_events,
        |  (last_us - start_us) // 1000000 AS duration_sec
        |FROM sess se JOIN mx USING (user_id), wmf
        |WHERE se.sid < mx.max_sid
        |   OR (last_us + 1800000000) // 1000 < wmf.wm_ms
        |ORDER BY user_id, session_start""".stripMargin,

    // the DuckDB model of Spark's executed watermark semantics (see the
    // query comment): chunk into 10 arrival batches, filter watermark =
    // max event time through batch b−2 minus 1 h, drop by window
    // eviction, emit windows closed by the terminal watermark
    "q_watermark_drops_stream" ->
      s"""WITH $lateArrivalSql,
         |r AS (
         |  SELECT event_type AS topic, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    row_number() OVER (ORDER BY arrival, event_id) - 1 AS rk,
         |    count(*) OVER () AS n
         |  FROM a
         |), b AS (
         |  SELECT topic, us, rk // greatest((n + 9) // 10, 1) AS batch FROM r
         |), bm AS (
         |  SELECT batch, max(us) AS bmax FROM b GROUP BY 1
         |), wmt AS (
         |  SELECT batch, max(bmax) OVER (ORDER BY batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
         |    - 3600000000 AS wm
         |  FROM bm
         |), fin AS (
         |  SELECT max(us) - 3600000000 AS fwm FROM b
         |), kept AS (
         |  SELECT topic,
         |    (us // 3600000000) * 3600000000 AS wstart,
         |    (us // 3600000000 + 1) * 3600000000 AS wend
         |  FROM b JOIN wmt USING (batch)
         |  WHERE wm IS NULL OR (us // 3600000000 + 1) * 3600000000 > wm
         |)
         |SELECT make_timestamp(wstart) AS win_start, topic,
         |  count(*) AS cnt
         |FROM kept, fin
         |WHERE wend <= fwm
         |GROUP BY 1, 2 ORDER BY win_start, topic""".stripMargin,

    // the drops model with horizon (2 h) decoupled from window width
    // (1 h): only the two watermark constants change vs
    // q_watermark_drops_stream — the window arithmetic stays hourly
    "q_watermark_decoupled_stream" ->
      s"""WITH $lateArrivalSql,
         |r AS (
         |  SELECT event_type AS topic, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |    row_number() OVER (ORDER BY arrival, event_id) - 1 AS rk,
         |    count(*) OVER () AS n
         |  FROM a
         |), b AS (
         |  SELECT topic, us, rk // greatest((n + 9) // 10, 1) AS batch FROM r
         |), bm AS (
         |  SELECT batch, max(us) AS bmax FROM b GROUP BY 1
         |), wmt AS (
         |  SELECT batch, max(bmax) OVER (ORDER BY batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
         |    - 7200000000 AS wm
         |  FROM bm
         |), fin AS (
         |  SELECT max(us) - 7200000000 AS fwm FROM b
         |), kept AS (
         |  SELECT topic,
         |    (us // 3600000000) * 3600000000 AS wstart,
         |    (us // 3600000000 + 1) * 3600000000 AS wend
         |  FROM b JOIN wmt USING (batch)
         |  WHERE wm IS NULL OR (us // 3600000000 + 1) * 3600000000 > wm
         |)
         |SELECT make_timestamp(wstart) AS win_start, topic,
         |  count(*) AS cnt
         |FROM kept, fin
         |WHERE wend <= fwm
         |GROUP BY 1, 2 ORDER BY win_start, topic""".stripMargin,

    "q_late_horizon_sweep" ->
      Seq(600L, 3600L, 21600L).map { h =>
        s"""SELECT * FROM (
           |WITH $lateArrivalSql, l AS (
           |  SELECT CASE WHEN max(epoch_us(ts)) OVER w - ${h * 1000000}
           |                   > epoch_us(ts)
           |         THEN 1 ELSE 0 END AS late
           |  FROM a
           |  WINDOW w AS (PARTITION BY event_type ORDER BY arrival, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |)
           |SELECT CAST($h AS BIGINT) AS horizon_sec, count(*) AS n_events,
           |  CAST(SUM(late) AS BIGINT) AS n_late,
           |  ROUND(SUM(late) * 1.0 / count(*), 6) AS late_share
           |FROM l)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY horizon_sec"),

    // IDENTICAL SQL to q_sessionize — the point of the row: the
    // streaming path must reproduce the batch relation bit-for-bit
    "q_sessionize_stream" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
