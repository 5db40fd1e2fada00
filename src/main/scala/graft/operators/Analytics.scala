package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Pins._
import graft.Tables
import graft.functions.Cols._

/** Batch analytics over the stored event/order history (TPC-H-style breadth).
  * Aggregates use decimal-exact sums; top-N uses TakeOrderedAndProject.
  *
  * Broadcast policy (100 TB design rule): a `broadcast()` HINT is mandatory —
  * Spark attempts it at any size and the job dies when the side outgrows
  * memory. So hints appear ONLY on sides whose size is a CONSTANT of the
  * schema, never of the data volume: `nation` (25 rows), `region` (5), and
  * single-row scalar aggregates. Everything that scales with SF — `part`,
  * `customer`, `supplier`, and every derived per-key aggregate — is left
  * unhinted: AQE observes the runtime size and still picks broadcast when the
  * side is actually small, but degrades to a shuffle join instead of OOM when
  * it isn't. */
object Analytics {

  /** B1: pricing summary (TPC-H Q1 shape) — single scan, partial agg. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitemSpread(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        drevenue.as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** B2: shipping-priority style join + top-10 revenue. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"), dayStr(col("o_orderdate")).as("order_day"))
    val li = Tables.lineitemSpread(spark, dir)
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp_ntz"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey")) // customer ∝ SF: AQE decides
      .groupBy(col("l_orderkey"), col("order_day"))
      .agg(drevenue.as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** B3: 5-way join region→nation→customer→orders→lineitem, revenue per nation. */
  def q5Local(spark: SparkSession, dir: String): DataFrame = {
    val reg = Tables.region(spark, dir).filter(col("r_name") === "ASIA").select("r_regionkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount")
    val natInRegion = nat.join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select("n_nationkey", "n_name")
    val custInRegion = cust.join(broadcast(natInRegion), cust("c_nationkey") === natInRegion("n_nationkey"))
      .select("c_custkey", "n_name")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(custInRegion, ord("o_custkey") === custInRegion("c_custkey")) // ∝ SF: AQE decides
      .groupBy("n_name")
      .agg(drevenue.as("revenue"))
  }

  /** B4: running revenue per customer (window function, exact decimal cumsum). */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("cum_spend",
        sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w).cast("double"))
      .withColumn("order_day", dayStr(col("o_orderdate")))
      .drop("o_totalprice", "o_orderdate")
  }

  /** B5: customers WITH orders (left-semi join). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_mktsegment")
    val ord = Tables.orders(spark, dir).select("o_custkey")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
  }

  /** B6: customers with no large order (left-anti join on a pushed filter). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_mktsegment")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0).select("o_custkey")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
  }

  /** B7: top-10 parts by revenue (dim join + agg + TakeOrdered). */
  def topkParts(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val li = Tables.lineitemSpread(spark, dir).select("l_partkey", "l_extendedprice", "l_discount")
    val part = Tables.part(spark, dir).select("p_partkey", "p_name")
    li.join(part, li("l_partkey") === part("p_partkey")) // part ∝ SF: AQE decides
      .groupBy("p_partkey", "p_name")
      .agg(drevenue.as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("p_partkey"))
      .limit(k)
  }

  /** B8: rollup over returnflag × linestatus (subtotals + grand total). */
  def rollupFlags(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_lines"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_lines"))

  /** B10: small-quantity revenue (TPC-H Q17 shape) — per-part average as an
    * aggregate join, not a correlated per-row subquery. The aggregate has one
    * row per distinct part (∝ SF — billions at 100 TB), so no broadcast hint:
    * both sides already hash on `l_partkey` and co-partition; AQE still picks
    * broadcast when the aggregate is genuinely small. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_partkey", "l_quantity", "l_extendedprice")
    val avgQty = li.groupBy("l_partkey")
      .agg((sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double") /
        count(lit(1))).as("avg_qty"))
    li.join(avgQty, "l_partkey")
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(dsum(col("l_extendedprice")).as("total_price"),
        count(lit(1)).as("n_lines"))
  }

  /** B17: revenue-change forecast (TPC-H Q6 shape) — pure scan + pushed
    * range predicates + one agg row; the canonical pushdown benchmark. */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24.0)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast(DecimalType(18, 6)))
        .cast("double").as("revenue_effect"),
        count(lit(1)).as("n_lines"))

  /** B18: top customers by returned-item revenue (TPC-H Q10 shape). */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_mktsegment")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey")) // customer ∝ SF: AQE decides
      .groupBy("c_custkey", "c_name", "c_mktsegment")
      .agg(drevenue.as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** B11: order-priority counts for orders with at least one late line
    * (TPC-H Q4 shape: left-semi join with a range predicate). */
  def q4LateOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .select("o_orderkey", "o_orderpriority")
    val lateLines = Tables.lineitem(spark, dir)
      .filter(col("l_linestatus") === "F" && col("l_quantity") > 45.0)
      .select("l_orderkey")
    ord.join(lateLines, ord("o_orderkey") === lateLines("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
  }

  /** B12: conditional aggregation buckets (TPC-H Q12 shape). */
  def q12Buckets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_quantity") >= 25.0, 1L).otherwise(0L)).as("high_qty_lines"),
        sum(when(col("l_quantity") < 25.0, 1L).otherwise(0L)).as("low_qty_lines"))

  /** B13: percentage-of-total (TPC-H Q14 shape) — one pass, two
    * conditional decimal sums, one exact division. */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select("p_partkey", "p_type"), // part ∝ SF: AQE decides
        col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type").startsWith("STANDARD"),
          revenueTerm)
          .otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double") * 100.0 /
          drevenue).as("promo_share_pct"),
        count(lit(1)).as("n_lines"))

  /** B14: OR-of-ANDs predicate (TPC-H Q19 shape) — the whole disjunction
    * must reach the scan / evaluate codegen'd, no join explosion. */
  def q19OrPredicates(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    li.join(part, col("l_partkey") === col("p_partkey")) // part ∝ SF: AQE decides
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1.0, 20.0)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10.0, 35.0)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20.0, 50.0)))
      .agg(drevenue.as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** B15: window-function breadth — rank family over one partition pass. */
  def windowRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  /** B16: pivot — daily event counts crosstabbed by type (fixed columns so
    * the schema is stable for the oracle). */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(graft.functions.Cols.dayStr(col("ts")).as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** B9: multi-distinct aggregate per event type. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), dayStr(col("ts")).as("day"))
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days"),
        count(lit(1)).as("n_events"))

  /** B19 (TPC-H Q13 shape): customer order-count distribution — LEFT outer
    * join so zero-order customers appear, then a group on the aggregate.
    * Two partial-agg shuffles; the histogram is tiny whatever the scale. */
  def q13Custdist(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val ord = Tables.orders(spark, dir).select("o_custkey", "o_orderkey")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count")) // count() skips nulls
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** B20 (TPC-H Q22 shape): wealthy low-activity customers — a broadcast
    * scalar aggregate (global positive-balance average) filters the probe
    * side; a LEFT join + count keeps customers with fewer than `maxOrders`
    * orders (the strict anti join returns zero rows on this dense data),
    * grouped per nation. The scalar aggregate is exact-decimal so both
    * engines compute the identical threshold. */
  def q22WealthyInactive(spark: SparkSession, dir: String, maxOrders: Int = 5): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .cast("double") / count(lit(1))).as("avg_bal"))
    val ord = Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(ord, cust("c_custkey") === ord("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .filter(col("n_orders") < maxOrders)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
  }

  /** B22 (TPC-H Q7 shape): cross-nation shipping volume per year — the
    * double-dimension-alias pattern (nation joined twice under different
    * roles) plus date-part extraction. Only the constant-size nation aliases
    * are hinted; customer/supplier scale with SF so AQE sizes their joins.
    * The only guaranteed big exchange is lineitem ⋈ orders on the order
    * key. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitemSpread(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey")) // supplier ∝ SF: AQE decides
      .join(cust, col("o_custkey") === col("c_custkey")) // customer ∝ SF: AQE decides
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(drevenue.as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** B23 (TPC-H Q18 shape): large orders — an aggregate-as-filter (HAVING
    * sum > threshold) whose qualifying keys join back to the detail. Both
    * aggregations partial-agg. The HAVING set is data-dependent (~19% of
    * orders at this threshold, ∝ SF) so it carries NO broadcast hint: both
    * sides hash on the order key; AQE broadcasts only if it measures small. */
  def q18LargeOrders(spark: SparkSession, dir: String, minQty: Double = 150.0): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_quantity"))
    val big = li.groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    ord.join(big, col("o_orderkey") === big("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("total_qty"))
  }

  /** B24 (TPC-H Q15 shape): top revenue supplier(s) — a derived aggregate
    * (revenue per supplier) filtered by its own maximum via a broadcast
    * scalar: the classic view + max-equality pattern, ties preserved. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        revenueTerm.as("r"))
      .groupBy("l_suppkey")
      .agg(sum(col("r")).cast("double").as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.crossJoin(broadcast(mx)) // scalar: constant-size, hint safe
      .filter(col("total_revenue") === col("max_rev"))
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")), // ∝ SF
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** B25 (TPC-H Q11 shape): value concentration — per-group aggregate as a
    * SHARE of the broadcast global total, filtered by threshold. Both sums
    * decimal-exact; the share division uses identical operands on both
    * engines. */
  def q11ValueConcentration(spark: SparkSession, dir: String,
                            minShare: Double = 0.03): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val byNation = cust.groupBy("c_nationkey")
      .agg(dsum(col("c_acctbal")).as("nation_bal"), count(lit(1)).as("n_cust"))
    val total = cust.agg(dsum(col("c_acctbal")).as("total_bal"))
    byNation.crossJoin(broadcast(total))
      .withColumn("share", col("nation_bal") / col("total_bal"))
      .filter(col("share") > minShare)
      .select(col("c_nationkey"), col("nation_bal"), col("n_cust"), col("share"))
  }

  /** B26 (TPC-H Q16 shape): supplier variety — distinct-supplier counts per
    * (brand, size) with a negative predicate carving out a product family.
    * countDistinct expands then partial-aggregates; the filter reaches the
    * part scan. */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .filter(!col("p_type").startsWith("STANDARD"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(part, col("l_partkey") === col("p_partkey")) // part ∝ SF: AQE decides
      .groupBy("p_brand", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** B27 (TPC-H Q2 shape): per-group minimum with tie-preserving join-back —
    * for each part of a brand, the supplier(s) offering its minimum unit
    * price; the equality join back preserves ties (no arbitrary pick). Both
    * the brand-filtered part set and the per-part minima scale with |part|
    * (a brand filter only divides by ~25), so neither is hinted — the minima
    * join reuses the groupBy's own hash partitioning on `p_partkey`/`mk`. */
  def q2MinCostSupplier(spark: SparkSession, dir: String,
                        brand: String = "Brand#1"): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select(col("p_partkey"), col("p_name"))
    // plain IEEE double division: identical operands on both engines, no
    // decimal-scale rules to reconcile
    val offers = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      .join(parts, col("l_partkey") === col("p_partkey"))
    val mins = offers.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("unit_price")).as("min_price"))
    offers.join(mins,
        col("p_partkey") === col("mk") && col("unit_price") === col("min_price"))
      .groupBy("p_partkey", "p_name", "min_price")
      .agg(min(col("l_suppkey")).as("best_suppkey"), count(lit(1)).as("n_offers"))
  }

  /** B28: relational division — users who performed EVERY event type
    * (for-all as count-distinct equality against the broadcast universe
    * size). No join per candidate: one aggregate pass + scalar compare. */
  def evDivision(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val nTypes = ev.agg(countDistinct(col("event_type")).as("n_types"))
    ev.groupBy("user_id")
      .agg(countDistinct(col("event_type")).as("n_user_types"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(nTypes))
      .filter(col("n_user_types") === col("n_types"))
      .select(col("user_id"), col("n_user_types"), col("n_events"))
  }

  /** B29 (TPC-H Q20 shape): nested semi-joins — suppliers with at least one
    * max-quantity shipment of a large part. Each EXISTS level is a
    * left-semi join, so the chain never widens rows and each level only
    * shrinks; the qualifying-part set scales with |part| so AQE (not a hint)
    * decides whether it broadcasts. */
  def q20NestedSemi(spark: SparkSession, dir: String): DataFrame = {
    val bigParts = Tables.part(spark, dir)
      .filter(col("p_size") > 48).select(col("p_partkey"))
    val qualifyingLines = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49.0)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(bigParts, col("l_partkey") === col("p_partkey"), "left_semi") // ∝ SF: AQE decides
    Tables.supplier(spark, dir)
      .join(qualifyingLines, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
  }

  /** B30 (TPC-H Q21 shape): suppliers who kept orders waiting — the stacked
    * correlated EXISTS + NOT EXISTS against the SAME fact table, correlating
    * on two columns (order equality + supplier inequality). Expressed as a
    * left-semi then left-anti join over the shared late-line set: each level
    * only shrinks rows, the equi key (orderkey) carries the shuffle and the
    * supplier inequality rides along as a residual predicate — no cartesian
    * anywhere. Adapted predicate (schema has no commit/receipt dates): a line
    * is "late" when it shipped > `delayDays` after the order date. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String,
                          delayDays: Int = 100, k: Int = 20): DataFrame = scope {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    // l1: late lines of finished orders — computed once, reused for the
    // NOT EXISTS side (same set, different role)
    // localCheckpoint (r13): `late` feeds BOTH the semi join and the anti
    // join below under different build shapes, so no ReusedExchange ever
    // dedups it — the plan scanned lineitem AND orders twice and ran the
    // late-join twice (plans/r13/q21_waiting_suppliers_before.txt). At
    // 100 TB that is 2× the heaviest subtree; materializing the filtered
    // summary (l_orderkey, l_suppkey — two longs per late line) computes
    // it once. Eager: a lazy checkpoint materializing inside a consumer's
    // broadcast of the same lineage can deadlock Spark 4.1's scheduler.
    val late = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $delayDays DAYS"))
      .select(col("l_orderkey"), col("l_suppkey")).pin()
    // EXISTS another supplier's line on the same order — applied first so
    // the anti join's shuffled left input is the (small) late∧multi subset.
    // (Anti-first looks like it would let ReuseExchange share the late
    // subtree, but PushDownLeftSemiAntiJoin then rewrites the anti to run
    // against the RAW fact scan — a full-fact shuffle at scale. Measured.)
    val others = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val multi = late.join(others,
      col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"), "left_semi")
    // NOT EXISTS another LATE supplier on the same order
    val lateOthers = late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    val waiting = multi.join(lateOthers,
      col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"), "left_anti")
    waiting
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")), // ∝ SF
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(k)
  }

  /** B31 (TPC-H Q8 shape): market share — of all order volume for one part
    * type sold to one region's customers, the fraction supplied from one
    * nation, per year. The nation dim is aliased TWICE under different roles
    * (customer's region membership vs supplier's nationality); the share is
    * a CASE-guarded exact-decimal sum over the total, one IEEE division.
    * Only nation/region carry hints — the part/customer/supplier sides all
    * scale with SF (a region's customer set is ~|customer|/5), so AQE picks
    * their join strategies from runtime sizes. */
  def q8MarketShare(spark: SparkSession, dir: String, region: String = "ASIA",
                    nation: String = "NATION_5", ptype: String = "ECONOMY"): DataFrame = {
    val dec = DecimalType(18, 6)
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec)
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === ptype).select(col("p_partkey"))
    val natInRegion = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(natInRegion), col("c_nationkey") === col("c_nk"))
      .select(col("c_custkey"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(when(col("supp_nation") === nation, rev).otherwise(lit(0).cast(dec)))
        .cast("double") /
        sum(rev).cast("double")).as("mkt_share"),
        count(lit(1)).as("n_lines"))
  }

  /** B32 (TPC-H Q9 shape): profit by nation × year over a LIKE-filtered part
    * family. Adapted profit (schema has no supplycost): line revenue minus a
    * retail-price-proportional cost, the whole expression evaluated in one
    * double pass then decimal-summed exactly. LIKE '%widget%' cannot be
    * pushed as a range — it evaluates codegen'd on the broadcast dim. */
  def q9ProfitByNation(spark: SparkSession, dir: String,
                       namePattern: String = "%widget%"): DataFrame = {
    val amount = (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.2) * col("p_retailprice") * col("l_quantity")).cast(DecimalType(18, 6))
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").like(namePattern))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"), col("l_quantity"))
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"), count(lit(1)).as("n_lines"))
  }

  /** B33: cube over returnflag × linestatus — all four grouping combinations
    * with `grouping_id()` disambiguating subtotal levels (the other half of
    * B8's rollup).
    *
    * PARTIAL-AGG-BEFORE-EXPAND (r10, VERDICT r9 #3): a naive
    * `.cube(...)` expands every SCAN row 4× before the hash aggregate —
    * measured 8.5× at 10× data (super-linear because the expand quadruples
    * the aggregate's input while the scan merely 10×es). The cube key
    * domain here is tiny (≤ |returnflag|·|linestatus| ≈ 6 cells), so we
    * aggregate the corpus ONCE at the finest grouping level (exact decimal
    * accumulation, no expand), then cube the ≤6-row summary — the expand
    * and the three subtotal levels now touch rows proportional to the key
    * domain, not the corpus. At 100 TB the heavy pass is a plain
    * partial-agg groupBy; the cube itself is O(cells). Decimal sums re-sum
    * exactly (DECIMAL(18,4) → widened decimal accumulators), so the final
    * double cast is bit-identical to the single-pass form (hash-green vs
    * the same oracle). */
  def cubeFlags(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("qty"),
        count(lit(1)).as("n"))
    cells.cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), sum(col("qty")).cast("double").as("sum_qty"),
        sum(col("n")).as("n_lines"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("sum_qty"), col("n_lines"))
  }

  /** B34: explicit GROUPING SETS through the SQL surface (the DataFrame API
    * exposes only rollup/cube) — per-flag subtotals plus per-(flag, status)
    * cells, skipping the grand total and per-status-only sets. Same
    * grouping-expand execution as [[cubeFlags]], fewer expanded rows. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    // unique + dropped view: a fixed name would race concurrent callers on
    // the shared session and leak into the catalog. sql() resolves the view
    // eagerly at analysis, so dropping it before the caller executes is safe.
    val view = s"lineitem_gs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         |  coalesce(l_linestatus, 'ALL') AS linestatus,
         |  grouping_id() AS gid,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         |  count(*) AS n_lines
         |FROM $view
         |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
         |""".stripMargin)
    finally { spark.catalog.dropTempView(view); () }
  }

  /** B35: referential-integrity audit — orphan counts per relation edge
    * (lineitem→orders, lineitem→part, orders→customer), the data-quality
    * gate an ingest pipeline runs before publishing a snapshot. Each edge is
    * one left-anti join against the (broadcastable) key side; counts union
    * into one small report. */
  def qaOrphans(spark: SparkSession, dir: String): DataFrame = {
    def orphans(rel: String, fact: DataFrame, fk: String,
                keys: DataFrame, pk: String): DataFrame =
      fact.join(keys, fact(fk) === keys(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(rel).as("relation"), col("n_orphans"))
    val li = Tables.lineitem(spark, dir)
    orphans("lineitem->orders", li.select("l_orderkey"), "l_orderkey",
        Tables.orders(spark, dir).select("o_orderkey"), "o_orderkey")
      .unionByName(orphans("lineitem->part", li.select("l_partkey"), "l_partkey",
        Tables.part(spark, dir).select("p_partkey"), "p_partkey"))
      .unionByName(orphans("orders->customer",
        Tables.orders(spark, dir).select("o_custkey"), "o_custkey",
        Tables.customer(spark, dir).select("c_custkey"), "c_custkey"))
  }

  /** B36: declarative data-quality constraint suite — the Deequ shape
    * (Schelter et al., VLDB 2018, public): uniqueness, completeness,
    * domain/range conformity, and referential integrity as ONE result of
    * (constraint, metric, passed) rows, the gate a production pipeline
    * runs before publishing a batch.
    *
    * Scale shape: one partial-agg pass per table computes ALL its
    * single-table metrics (count/countDistinct/conditional sums fused in
    * one agg — never a scan per constraint); each referential check is one
    * left join counted in the same pass as its fact scan (dim side
    * broadcast while small). Conformity counts only non-null violators —
    * nulls belong to the completeness constraints. Metrics are exact
    * integer-count fractions (single IEEE division — bit-identical in any
    * engine); empty tables report 0.0, not NaN. */
  def qaConstraints(spark: SparkSession, dir: String): DataFrame = {
    def frac(x: Column, n: Column): Column =
      when(n === 0, lit(0.0)).otherwise(x.cast("double") / n.cast("double"))
    def rows(agg: DataFrame, metrics: (String, Column)*): DataFrame =
      agg.select(explode(array(metrics.map { case (name, m) =>
        struct(lit(name).as("check_name"), m.as("metric")) }: _*)).as("r"))
        .select(col("r.check_name"), col("r.metric"))
    val ev = Tables.events(spark, dir).agg(
      count(lit(1)).as("n"),
      countDistinct(col("event_id")).as("d_id"),
      sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("null_id"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
      sum(when(col("event_type").isNotNull &&
        !col("event_type").isin("click", "view", "signup", "purchase", "error"),
        1L).otherwise(0L)).as("bad_type"),
      sum(when(col("value").isNotNull && col("value") < 0, 1L)
        .otherwise(0L)).as("neg_value"))
    val evRows = rows(ev,
      "events.event_id.unique" -> frac(col("n") - col("d_id"), col("n")),
      "events.event_id.complete" -> frac(col("null_id"), col("n")),
      "events.user_id.complete" -> frac(col("null_user"), col("n")),
      "events.event_type.in_domain" -> frac(col("bad_type"), col("n")),
      "events.value.non_negative" -> frac(col("neg_value"), col("n")))
    val ord = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey")).distinct(),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("d_key"),
        sum(when(col("o_totalprice").isNotNull && col("o_totalprice") <= 0, 1L)
          .otherwise(0L)).as("bad_price"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("orphans"))
    val ordRows = rows(ord,
      "orders.o_orderkey.unique" -> frac(col("n") - col("d_key"), col("n")),
      "orders.o_totalprice.positive" -> frac(col("bad_price"), col("n")),
      "orders.o_custkey.refs_customer" -> frac(col("orphans"), col("n")))
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey")).distinct(),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNotNull &&
          !(col("l_quantity") >= 1 && col("l_quantity") <= 50), 1L)
          .otherwise(0L)).as("bad_qty"),
        sum(when(col("l_returnflag").isNotNull &&
          !col("l_returnflag").isin("A", "N", "R"), 1L)
          .otherwise(0L)).as("bad_flag"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orphans"))
    val liRows = rows(li,
      "lineitem.l_quantity.in_range" -> frac(col("bad_qty"), col("n")),
      "lineitem.l_returnflag.in_domain" -> frac(col("bad_flag"), col("n")),
      "lineitem.l_orderkey.refs_orders" -> frac(col("orphans"), col("n")))
    val doc = Tables.documents(spark, dir).agg(
      count(lit(1)).as("n"),
      sum(when(col("text").isNull || length(col("text")) === 0, 1L)
        .otherwise(0L)).as("empty_text"))
    val docRows = rows(doc,
      "documents.text.complete" -> frac(col("empty_text"), col("n")))
    evRows.unionByName(ordRows).unionByName(liRows).unionByName(docRows)
      .select(col("check_name"), col("metric"),
        (col("metric") === 0.0).as("passed"))
  }

  /** B21: window distribution family — percent_rank / cume_dist / nth_value
    * in ONE partition pass (shared sort, single exchange). 6-dp rounding
    * absorbs engine ULP drift in the rank ratios. */
  def windowDistFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("second_order", nth_value(col("o_orderkey"), 2).over(w))
  }
  /** B37: join-key skew diagnostics — the pre-flight a 100 TB owner runs
    * before choosing a join strategy: per (table, key), the key census's
    * shape — row count, distinct keys, the heaviest key and its count,
    * and skew = max/mean (1.0 = perfectly uniform; the threshold where
    * salting/AQE-skew-split starts paying is a few ×). One partial-agg
    * census per key (map-side combinable) + a single-row summary fold;
    * the heavy hitter is a struct-max (no sort), ties break to the
    * larger key in BOTH engines. Keys surface as strings so one report
    * row schema covers integer and categorical keys alike. */
  def keySkew(spark: SparkSession, dir: String): DataFrame = {
    def stat(entity: String, df: DataFrame, key: Column): DataFrame =
      df.select(key.cast("string").as("k")).filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(struct(col("cnt"), col("k"))).as("m"))
        .select(lit(entity).as("entity"), col("n_rows"), col("n_keys"),
          col("m.cnt").as("max_count"), col("m.k").as("top_key"))
        .withColumn("skew", expr(
          "CAST(max_count * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)"))
    stat("lineitem.l_orderkey", Tables.lineitem(spark, dir), col("l_orderkey"))
      .unionByName(stat("orders.o_custkey", Tables.orders(spark, dir), col("o_custkey")))
      .unionByName(stat("events.user_id", Tables.events(spark, dir), col("user_id")))
      .unionByName(stat("documents.source", Tables.documents(spark, dir), col("source")))
  }
  /** B38: column PROFILE — per (table, column): row count, nulls, exact
    * distinct cardinality; the completeness/cardinality summary a data
    * owner reads before writing B36-style constraints (which column can
    * be a key, which needs a null gate, which is low-cardinality enough
    * to dictionary-encode or broadcast). One aggregation pass per table
    * (multiple exact count-distincts share the pass via Spark's expand —
    * no per-column re-scan); all-integer output, hash-exact anywhere. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    def prof(entity: String, df: DataFrame, cols: Seq[String]): DataFrame = {
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
      val all = count(lit(1)).as("n_rows") +: aggs
      val row = df.agg(all.head, all.tail: _*)
      cols.map(c => row.select(lit(entity).as("entity"), lit(c).as("column"),
          col("n_rows"),
          (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
          col(s"nd_$c").as("n_distinct")))
        .reduce(_ unionByName _)
    }
    prof("events", Tables.events(spark, dir),
        Seq("user_id", "event_type", "value"))
      .unionByName(prof("orders", Tables.orders(spark, dir),
        Seq("o_custkey", "o_orderstatus", "o_totalprice")))
      .unionByName(prof("documents", Tables.documents(spark, dir),
        Seq("source", "lang", "text")))
  }

  /** B45 (r12): K-ANONYMITY audit (Sweeney 2002, public) — the re-
    * identification pre-flight a data owner runs before releasing or
    * training on a table: group rows by their QUASI-IDENTIFIER tuple
    * (the attributes an adversary can link externally — nation,
    * segment, status, language...) and read the equivalence-class size
    * distribution. k_anon = the SMALLEST class (the table's k-anonymity:
    * any row in a size-1 class is uniquely re-identifiable from the QI
    * alone); rows_lt_5/rows_lt_10 = rows in classes under the usual
    * release thresholds; risky_bp = basis points of rows under k=5
    * (integer floor division — exact on any engine). One partial-agg
    * census per table (map-side combinable, ≤|QI-domain| rows through
    * the exchange) + a single-row fold — the B37/B38 audit shape, never
    * a row-level shuffle. NULL QI values form their own class (an
    * adversary sees missingness too). */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    def audit(entity: String, df: DataFrame, qi: Seq[Column]): DataFrame =
      df.select(concat_ws("\u0001",
          qi.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*).as("qi"))
        .groupBy("qi").agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).cast("long").as("n_rows"),
          count(lit(1)).as("n_groups"),
          min(col("cnt")).cast("long").as("k_anon"),
          sum(when(col("cnt") < 5, col("cnt")).otherwise(lit(0)))
            .cast("long").as("rows_lt_5"),
          sum(when(col("cnt") < 10, col("cnt")).otherwise(lit(0)))
            .cast("long").as("rows_lt_10"))
        .select(lit(entity).as("entity"), col("n_rows"), col("n_groups"),
          col("k_anon"), col("rows_lt_5"), col("rows_lt_10"),
          expr("CAST((10000 * rows_lt_5) DIV n_rows AS BIGINT)").as("risky_bp"))
        // empty table: Spark's global agg yields one null row where the
        // oracle's GROUP BY yields none — drop it (0 groups = no audit row)
        .filter(col("n_groups") > 0)
    audit("customer", Tables.customer(spark, dir),
        Seq(col("c_nationkey"), col("c_mktsegment")))
      .unionByName(audit("orders", Tables.orders(spark, dir),
        Seq(col("o_orderstatus"), col("o_orderpriority"),
          year(col("o_orderdate")))))
      .unionByName(audit("supplier", Tables.supplier(spark, dir),
        Seq(col("s_nationkey"))))
      .unionByName(audit("documents", Tables.documents(spark, dir),
        Seq(col("source"), col("lang"))))
  }

  /** B39: keyed SNAPSHOT DIFF — the change-data audit between two
    * versions of a state table (the nightly "what changed since the last
    * snapshot" every warehouse runs before publishing: an unexpected
    * added/removed/changed mix = an upstream pipeline fault caught
    * before consumers read it). Both snapshots here are time-cuts of the
    * A2 latest-state view (per-user latest event, the exact struct-max
    * discipline): OLD = state as of the corpus-span midpoint, NEW =
    * state over the full span; the diff is one FULL OUTER join on the
    * key emitting only rows whose state differs —
    *   added (key only in NEW), removed (only in OLD — impossible for
    *   this append-only source, the schema carries it for real CDC
    *   inputs), changed (both sides, any tracked column differs) —
    * with the old/new values side by side, unchanged rows suppressed.
    * Exact-equality compare on (event_type, value, ts_ms): both engines
    * read identical parquet values, so the verdict is hash-exact.
    *
    * Scale: each snapshot is ONE user_id partial-agg shuffle over its
    * scan (the midpoint is a broadcast scalar); the diff join reuses the
    * same key, and only differing rows survive to the output — no
    * full-table materialization of the unchanged majority. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), graft.functions.Cols.tsMs(col("ts")).as("ts_ms"),
        col("event_type"), col("value"))
    val mid = broadcast(ev.agg(
      floor((min(col("ts_ms")) + max(col("ts_ms"))).cast("double") / lit(2.0))
        .cast("long").as("mid")))
    def latest(df: DataFrame): DataFrame = df.groupBy("user_id")
      .agg(max(struct(col("ts_ms"), col("event_type"), col("value"))).as("s"))
      .select(col("user_id"), col("s.ts_ms").as("ts_ms"),
        col("s.event_type").as("event_type"), col("s.value").as("value"))
    val base = ev.crossJoin(mid)
    val old = latest(base.filter(col("ts_ms") < col("mid")))
      .select(col("user_id"), col("ts_ms").as("old_ts_ms"),
        col("event_type").as("old_type"), col("value").as("old_value"))
    val nw = latest(base)
      .select(col("user_id"), col("ts_ms").as("new_ts_ms"),
        col("event_type").as("new_type"), col("value").as("new_value"))
    old.join(nw, Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("old_ts_ms").isNull, lit("added"))
          .when(col("new_ts_ms").isNull, lit("removed"))
          .when(col("old_ts_ms") =!= col("new_ts_ms") ||
                col("old_type") =!= col("new_type") ||
                col("old_value") =!= col("new_value"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("user_id"), col("status"),
        col("old_ts_ms"), col("old_type"), col("old_value"),
        col("new_ts_ms"), col("new_type"), col("new_value"))
  }

  /** B40: cross-table RECONCILIATION — does the order header's total agree
    * with its lineitems recomputed (the invariant every warehouse checks
    * before publishing: header/detail drift = a partial load, a double
    * apply, or upstream rounding rot; on THIS synthetic corpus the
    * invariant genuinely fails, which is exactly the report's point).
    * Per order: recomputed = Σ extendedprice·(1+tax)·(1−discount), each
    * line quantized DECIMAL(18,6) before the exact sum (the q1 revenue
    * discipline — order-free, engine-exact); delta = header − recomputed;
    * a summary row per status (matched / no_lineitems) with order count,
    * |delta| > 0.01 mismatch count, max |delta| and net delta.
    *
    * Scale: ONE l_orderkey partial-agg shuffle over lineitem + one key
    * join against orders (same key — co-partitioned), then a ≤2-row
    * status rollup. All comparisons exact decimal ops — hash-exact. */
  def reconcile(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) + col("l_tax")) *
          (lit(1.0) - col("l_discount"))).cast(dec).as("line_total"))
      .groupBy("l_orderkey")
      .agg(sum(col("line_total")).as("recomputed"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("status", when(col("recomputed").isNull,
        lit("no_lineitems")).otherwise(lit("matched")))
      .withColumn("delta", when(col("recomputed").isNotNull,
        col("o_totalprice").cast(dec) - col("recomputed")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_orders"),
        count(when(abs(col("delta")) > lit(0.01).cast(dec), lit(1)))
          .as("n_mismatch"),
        max(abs(col("delta"))).cast("double").as("max_abs_delta"),
        sum(col("delta")).cast("double").as("sum_delta"))
  }

  /** B41b: Nigrini's MAD CONFORMITY verdict over the B41 digit census
    * (Nigrini 2012, public — the published read of a Benford audit:
    * MAD = Σ|obs − exp|/9 with fixed bands ≤.006 close / ≤.012 acceptable
    * / ≤.015 marginally acceptable / else nonconformity). One row per
    * audited column. Each |obs−exp| term quantizes DECIMAL(18,9) before
    * the order-free sum; the band compares are exact against the
    * published constants. */
  def benfordMad(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 9)
    benford(spark, dir)
      .select(col("col_name"), abs(col("dev")).cast(dec).as("t"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_digits"),
        (sum(col("t")).cast("double") / lit(9.0)).as("mad"))
      .withColumn("conformity",
        when(col("mad") <= 0.006, lit("close"))
          .when(col("mad") <= 0.012, lit("acceptable"))
          .when(col("mad") <= 0.015, lit("marginal"))
          .otherwise(lit("nonconformity")))
  }

  /** B42: POPULATION STABILITY INDEX between the first and second halves
    * of each type's value stream (the credit-scoring drift standard —
    * Siddiqi's PSI, public; the bucketed KL-symmetrization every model
    * monitor quotes): deciles fit on the REFERENCE half (exact A27 rank
    * selection — engine-agnostic edges), both halves bucketed against
    * those edges, PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref). The
    * interpretation bands (<0.1 stable, 0.1–0.25 drifting, >0.25 shifted)
    * are the published convention. Frequencies smooth as (n+0.5)/(N+5)
    * (documented choice — keeps empty bins finite, the standard ε
    * alternative).
    *
    * Portability: edges are exact stored doubles (rank-selected, no
    * interpolation), bucket assignment is exact comparisons, counts are
    * exact longs; each PSI term quantizes DECIMAL(18,9) before the
    * order-free sum (libm ln's 1-ULP skew sits ~8 digits below the
    * step), total = one cast.
    *
    * Scale: two scans (one per half-assignment pass folded into one scan
    * + the bucket pass), a ≤types×9 edge table joined as an in-row array
    * (broadcast), one (type, bin) partial agg, a ≤types rollup. */
  def psi(spark: SparkSession, dir: String): DataFrame = scope {
    val ev = psiEvents(spark, dir)
    val mid = ev.groupBy("event_type")
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      // `div`, not `/`: fractional halves must floor identically in both
      // engines (DuckDB CASTs of x.5 round, Spark's truncate)
      .select(col("event_type"), expr("(lo + hi) div 2").as("mid"))
    psiFromHalves(ev.join(broadcast(mid), "event_type")
      .withColumn("is_ref", col("d") <= col("mid")))
  }

  /** B42b: CALENDAR-anchored PSI — the monitoring deployment's actual
    * window shape (trailing week vs all prior history), where B42's
    * first-half/second-half split is the offline-audit shape: current =
    * the last 7 whole days anchored at the corpus's max day (the A42
    * anchor discipline — one GLOBAL 1-row scalar, so every type compares
    * the same calendar window), reference = everything before. Same
    * edge-fit/bucket/smoothing/quantization machinery as B42 (shared
    * core), so the two differ ONLY in the split predicate. A type with an
    * empty CURRENT window still emits (the (n+0.5)/(N+5) smoothing keeps
    * every term finite); a type with no reference history drops — there
    * is no baseline to fit edges on. */
  def psiCalendar(spark: SparkSession, dir: String,
                  windowDays: Int = 7): DataFrame = scope {
    val ev = psiEvents(spark, dir)
    val anchor = ev.agg(max(col("d")).as("d_max"))
    psiFromHalves(ev.crossJoin(broadcast(anchor))
      .withColumn("is_ref", col("d") <= col("d_max") - windowDays))
  }

  private def psiEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        expr("unix_millis(cast(ts as timestamp_ltz)) div 86400000").as("d"))

  private def psiFromHalves(split: DataFrame): DataFrame = scope {
    val dec = DecimalType(18, 9)
    val halves = split.pin() // feeds the edge fit and the bucket pass
    val wOrd = Window.partitionBy("event_type").orderBy(col("value"))
    val wAll = Window.partitionBy("event_type")
    val edges = halves.filter(col("is_ref"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("j", explode(expr("sequence(1, 9)")))
      .filter(col("rn") === ceil(col("n") * col("j") / lit(10.0)).cast("long"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("j"), col("value"))))
        .as("es"))
      .select(col("event_type"), expr("transform(es, e -> e.value)").as("edges"))
    val binned = halves.join(broadcast(edges), "event_type")
      .withColumn("bin",
        (lit(1) + size(expr("filter(edges, e -> value > e)"))).cast("long"))
      .groupBy("event_type", "bin")
      .agg(count(when(col("is_ref"), lit(1))).as("n_ref"),
        count(when(!col("is_ref"), lit(1))).as("n_cur"))
    binned
      .withColumn("tot_ref", sum(col("n_ref")).over(wAll))
      .withColumn("tot_cur", sum(col("n_cur")).over(wAll))
      .withColumn("p_ref", (col("n_ref").cast("double") + lit(0.5)) /
        (col("tot_ref").cast("double") + lit(5.0)))
      .withColumn("p_cur", (col("n_cur").cast("double") + lit(0.5)) /
        (col("tot_cur").cast("double") + lit(5.0)))
      .withColumn("term", ((col("p_cur") - col("p_ref")) *
        log(col("p_cur") / col("p_ref"))).cast(dec))
      .groupBy("event_type")
      .agg(max(col("tot_ref")).as("n_ref"), max(col("tot_cur")).as("n_cur"),
        sum(col("term")).cast("double").as("psi"))
      .withColumn("band",
        when(col("psi") < 0.1, lit("stable"))
          .when(col("psi") <= 0.25, lit("drifting"))
          .otherwise(lit("shifted")))
  }

  /** B41: BENFORD first-digit audit over the money columns (Newcomb 1881 /
    * Benford 1938; Nigrini's forensic-accounting test, public — the
    * standard "was this column fabricated or truncated" data-quality
    * probe): organically-grown magnitudes spread over several decades
    * follow P(d) = log10(1 + 1/d), and a column whose first-significant-
    * digit histogram deviates hard (synthetic data, capped values, fee
    * schedules) earns a closer look. One row per (column, digit) with the
    * observed count/fraction, the Benford expectation, and the deviation.
    *
    * First digit extracts from the value's shortest decimal rendering
    * (both engines print shortest-round-trip doubles, so the leading
    * significant digit agrees; no log10-near-a-power-of-ten misround
    * risk). obs_frac is ONE division of exact longs; the expectation
    * quantizes DECIMAL(18,9) (libm log10's 1-ULP skew sits ~8 digits
    * below the step), dev is a fixed IEEE tree — hash-exact.
    *
    * Scale: one scan per audited column (metadata-pruned to the single
    * numeric), map-side partial agg into ≤ 9 groups; totals derive from
    * the 9-row table, never a second scan. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 9)
    def audit(df: DataFrame, c: String): DataFrame =
      df.select(regexp_extract(col(c).cast("string"), "[1-9]", 0).as("digit"))
        .filter(col("digit") =!= "")
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .select(lit(c).as("col_name"), col("digit").cast("int").as("digit"),
          col("n"))
    audit(Tables.orders(spark, dir), "o_totalprice")
      .unionByName(audit(Tables.lineitem(spark, dir), "l_extendedprice"))
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("col_name"))))
      .withColumn("obs_frac",
        col("n").cast("double") / col("total").cast("double"))
      .withColumn("exp_frac",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
          .cast(dec).cast("double"))
      .select(col("col_name"), col("digit"), col("n"), col("obs_frac"),
        col("exp_frac"), (col("obs_frac") - col("exp_frac")).as("dev"))
  }

  /** B44: two-sample KOLMOGOROV–SMIRNOV drift test per type, first half
    * vs second half of the value stream (Kolmogorov 1933 / Smirnov 1939,
    * public — the distribution-free companion to B42's bucketed PSI: PSI
    * reads drift through ten fitted bins, KS reads the supremum ECDF gap
    * at full resolution with a distribution-free critical value):
    * D = sup_v |F_ref(v) − F_cur(v)|, reject at α=0.05 when
    * D > 1.358·√((n+m)/(n·m)) (the published large-sample constant).
    *
    * EXACT ARGMAX: at each distinct value the unnormalized gap is the
    * exact integer |r_v·m − c_v·n| (r, c cumulative half-counts; n, m
    * half totals — products ≤ n·m stay long at any gate SF), so the
    * supremum is an integer max and D is ONE terminal division of
    * exact-below-2⁵³ casts; d_crit is a fixed sqrt tree — hash-exact,
    * no quantization anywhere. Ties handled by aggregating to the
    * (type, value) census BEFORE the cumulative walk (the ECDF jumps
    * once per distinct value, both engines identically).
    *
    * Scale: one scan → (type, value, half) census partial-agg; the
    * cumulative walk is a per-type value-ordered window over the census
    * (the A27 sort shape — value-distinct-bounded, and the census
    * pre-agg means the window never carries raw rows). */
  def ks(spark: SparkSession, dir: String): DataFrame = {
    val ev = psiEvents(spark, dir)
    val mid = ev.groupBy("event_type")
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("event_type"), expr("(lo + hi) div 2").as("mid"))
    val census = ev.join(broadcast(mid), "event_type")
      .withColumn("is_ref", col("d") <= col("mid"))
      .groupBy("event_type", "value")
      .agg(count(when(col("is_ref"), lit(1))).as("nr"),
        count(when(!col("is_ref"), lit(1))).as("nc"))
    val wCum = Window.partitionBy("event_type").orderBy(col("value"))
    val wAll = Window.partitionBy("event_type")
    census
      .withColumn("r", sum(col("nr")).over(wCum))
      .withColumn("c", sum(col("nc")).over(wCum))
      .withColumn("n", sum(col("nr")).over(wAll))
      .withColumn("m", sum(col("nc")).over(wAll))
      .filter(col("n") > 0 && col("m") > 0)
      .withColumn("gap", abs(col("r") * col("m") - col("c") * col("n")))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_ref"), max(col("m")).as("n_cur"),
        max(col("gap")).as("max_gap"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        (col("max_gap").cast("double") /
          (col("n_ref") * col("n_cur")).cast("double")).as("d_stat"),
        (lit(1.358) * sqrt(
          (col("n_ref") + col("n_cur")).cast("double") /
            (col("n_ref") * col("n_cur")).cast("double"))).as("d_crit"))
      .withColumn("reject", col("d_stat") > col("d_crit"))
  }

  /** B43: CHI-SQUARE independence audit of event_type × day-of-week
    * (Pearson 1900, public — "does this event type have a weekly usage
    * pattern, or is traffic day-uniform"; the residual table is the
    * dashboard heat-map every ops review reads). One row per cell with
    * the observed count, the independence expectation E = row·col/N, the
    * χ² contribution (O−E)²/E, and the standardized residual (O−E)/√E —
    * |resid| > 2 marks the cell driving the dependence.
    *
    * The cell grid is DENSE (distinct types × the 7 epoch-week days, a
    * summary-sized cross join): a type that never fires on Mondays is
    * exactly the signal, so zero cells must appear. dow = (epoch_day+4)
    * mod 7 with 0 = Sunday (1970-01-01 was a Thursday) — pure integer
    * arithmetic both engines share, no timezone/locale dependence.
    *
    * Portability: O, row, col, N are exact longs; row·col ≤ N² stays an
    * exact long at any gate SF; E is ONE division of exact-below-2⁵³
    * casts; contrib and resid are fixed IEEE trees over O_double and E
    * (sqrt correctly rounded) — hash-exact, no quantization.
    *
    * Scale: one scan → (type, dow) partial agg (≤ types×7 keys); the
    * dense fill and both marginals are windows over the summary. */
  def chi2(spark: SparkSession, dir: String): DataFrame = scope {
    val counts = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(unix_millis(cast(ts as timestamp_ltz)) div 86400000 + 4) % 7")
          .as("dow"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("o")).pin() // ≤ types×7 rows feed BOTH the distinct-types
                             // branch and the join — one corpus scan total
    val dense = counts.select("event_type").distinct()
      .crossJoin(broadcast(
        counts.sparkSession.range(0, 7).select(col("id").as("dow"))))
      .join(counts, Seq("event_type", "dow"), "left")
      .withColumn("observed", coalesce(col("o"), lit(0L)))
    val wRow = Window.partitionBy("event_type")
    val wCol = Window.partitionBy("dow")
    // constant partition key, not an empty spec: the grand total runs over
    // the ≤types×7 dense grid (bounded by design) — the shared
    // boundedWindow discipline (order-less here)
    val wAll = boundedWindow()
    dense
      .withColumn("row_n", sum(col("observed")).over(wRow))
      .withColumn("col_n", sum(col("observed")).over(wCol))
      .withColumn("n", sum(col("observed")).over(wAll))
      .withColumn("expected", (col("row_n") * col("col_n")).cast("double") /
        col("n").cast("double"))
      .select(col("event_type"), col("dow"), col("observed"),
        col("expected"),
        // expected = 0 only on an all-zero margin (degenerate corpus):
        // NULL beats an engine-dependent 0/0 NaN
        when(col("expected") > 0,
          (col("observed").cast("double") - col("expected")) *
            (col("observed").cast("double") - col("expected")) /
            col("expected")).as("contrib"),
        when(col("expected") > 0,
          (col("observed").cast("double") - col("expected")) /
            sqrt(col("expected"))).as("std_resid"))
  }
}