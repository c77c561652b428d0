package graft.operators

import graft.{Oracle, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The rest of the TPC-H query family, adapted to the driver's reduced
  * star schema (no partsupp / commitdate / receiptdate / shipmode /
  * phone; adaptations are documented per query). Together with
  * Relational's Q1/Q3/Q5/Q6/Q18 this gives the engine the full classic
  * decision-support shapes: EXISTS / NOT EXISTS semi-antijoins (Q4,
  * Q21/Q22 analogues), nation-pair volume (Q7), market share (Q8),
  * profit rollup (Q9), returns ranking (Q10), CASE-pivot counts (Q12),
  * promo share (Q14), distinct-count over a derived bridge (Q16),
  * correlated scalar aggregate (Q17), disjunctive pushdown (Q19),
  * dominant-supplier nesting (Q20), and per-group argmax (Q2).
  *
  * Determinism discipline (the driver hash-compares against DuckDB):
  * money stays DECIMAL until one final cast; inequality thresholds that
  * involve an average are cross-multiplied into exact-decimal form
  * (`5*qty*cnt < sum` instead of `qty < 0.2*avg`) so no fp rounding can
  * flip a row in/out of the result; rankings break ties on unique keys.
  *
  * Scale notes: every join here is an equi-join on a key column; the only
  * broadcast hints are on the constant-size nation/region dims —
  * customer/supplier/part are fact-proportional and left to AQE. The
  * derived part-supplier bridge (distinct l_partkey,l_suppkey) is a
  * map-side-combining aggregate, the standard substitute for a missing
  * partsupp at any scale.
  */
object Tpch extends QueryModule {

  private def revenueExpr =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(5,2)") - col("l_discount").cast("decimal(5,2)"))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))"

  // ---------------------------------------------------------------- Q4
  /** Q4: order-priority checking. EXISTS(lineitem shipped after the order
    * date) — a left-semi join with a non-equi residual on top of the
    * orderkey equi-join; the aggregate runs on the surviving orders only. */
  def q4Priority(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-04-01")))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    ord.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  private val q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority"""

  // ---------------------------------------------------------------- Q7
  /** Q7: volume shipping between two nations, by year. The nation dim is
    * broadcast twice (supplier side, customer side) — 25 rows at every
    * scale factor; the lineitem⋈orders fact-fact join shuffles on
    * orderkey and AQE handles skew. */
  def q7Volume(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"), revenueExpr.as("rev"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        date_format(col("l_shipdate"), "yyyy").as("l_year"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
  }

  private val q7Sql =
    s"""SELECT supp_nation, cust_nation, l_year, CAST(sum(rev) AS DOUBLE) AS revenue
       FROM (
         SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                strftime(l_shipdate, '%Y') AS l_year, $revenueSql AS rev
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ns ON s_nationkey = ns.n_nationkey
         JOIN nation nc ON c_nationkey = nc.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
             OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')))
       GROUP BY supp_nation, cust_nation, l_year"""

  // ---------------------------------------------------------------- Q8
  /** Q8: market share of NATION_3 suppliers in ASIA-customer STANDARD-part
    * revenue, by year. share = decimal-exact conditional sum / total, one
    * final double division, rounded well above fp error. */
  def q8Share(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val reg = Tables.region(s, dir).filter(col("r_name") === "ASIA").select("r_regionkey")
    val asiaCust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))), col("c_nationkey") === col("cn_key"))
      .select("c_custkey")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"), col("n_name"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val stdParts = Tables.part(s, dir)
      .filter(col("p_type") === "STANDARD").select("p_partkey")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revenueExpr.as("rev"))
      .join(stdParts, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", col("rev"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(col("rev")).cast("double"), 6).as("mkt_share"))
  }

  private val q8Sql =
    s"""SELECT o_year,
         round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
       FROM (
         SELECT strftime(o_orderdate, '%Y') AS o_year, ns.n_name AS supp_nation, $revenueSql AS rev
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation nc ON c_nationkey = nc.n_nationkey
         JOIN region ON nc.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ns ON s_nationkey = ns.n_nationkey
         WHERE p_type = 'STANDARD' AND r_name = 'ASIA')
       GROUP BY o_year"""

  // ---------------------------------------------------------------- Q9
  /** Q9: profit by supplier nation and year. No ps_supplycost in the
    * schema, so cost is modeled as 10% of retail price per unit — the
    * shape (join part+supplier+nation into the fact, amount = revenue −
    * cost, rollup by nation/year) is Q9's. All-decimal arithmetic. */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val widgetParts = Tables.part(s, dir)
      .filter(col("p_name").like("%widget%"))
      .select("p_partkey", "p_retailprice")
    val amount = revenueExpr -
      lit(0.10).cast("decimal(4,2)") * col("p_retailprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(12,2)")
    Tables.lineitem(s, dir)
      .join(widgetParts, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), date_format(col("l_shipdate"), "yyyy").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))
  }

  private val q9Sql =
    s"""SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
       FROM (
         SELECT n_name AS nation, strftime(l_shipdate, '%Y') AS o_year,
           $revenueSql - CAST(0.10 AS DECIMAL(4,2)) * CAST(p_retailprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(12,2)) AS amount
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%widget%')
       GROUP BY nation, o_year"""

  // ---------------------------------------------------------------- Q10
  /** Q10: returned-item reporting — top 20 customers by revenue lost to
    * returns in 1997H1. The heavy part (fact⋈fact on orderkey, filtered
    * to flag='R') aggregates BEFORE the ranking; ties break on custkey. */
  def q10Returns(s: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-07-01")))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revenueExpr.as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  private val q10Sql =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name, CAST(sum($revenueSql) AS DOUBLE) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""

  // ---------------------------------------------------------------- Q12
  /** Q12: priority counts pivoted by line status (the schema has no
    * shipmode; l_linestatus plays its role). One fact⋈fact join, CASE
    * aggregation — map-side combinable. */
  def q12Priority(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select("l_orderkey", "l_linestatus")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
  }

  private val q12Sql =
    """SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       GROUP BY l_linestatus"""

  // ---------------------------------------------------------------- Q13
  /** Q13: customer order-count distribution — the two-level aggregate
    * with an outer join (customers with zero orders count too), excluding
    * one priority class. Shape: left-outer fact join, groupBy custkey,
    * then the tiny histogram aggregate. */
  def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    Tables.customer(s, dir).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  private val q13Sql =
    """SELECT c_count, count(*) AS custdist FROM (
         SELECT c_custkey, count(o_orderkey) AS c_count
         FROM customer LEFT OUTER JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
         GROUP BY c_custkey)
       GROUP BY c_count"""

  // ---------------------------------------------------------------- Q15
  /** Q15: top supplier(s) by quarterly revenue — the "view + scalar max"
    * shape: aggregate once, broadcast the one-row max back, keep ties.
    * Exact-decimal revenue on both sides of the equality, so the tie
    * comparison is deterministic in both engines. */
  def q15TopSupp(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-04-01")))
      .groupBy("l_suppkey")
      .agg(sum(revenueExpr).as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
  }

  private val q15Sql =
    s"""WITH rev AS (
         SELECT l_suppkey, sum($revenueSql) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
       FROM rev JOIN supplier ON l_suppkey = s_suppkey
       WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""

  // ---------------------------------------------------------------- Q14
  /** Q14: promo revenue share for one month — conditional decimal sums,
    * single final division. The part join is fact⋈dim on partkey (AQE
    * broadcasts the filtered dim while it fits). */
  def q14Promo(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-09-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-10-01")))
      .select(col("l_partkey"), revenueExpr.as("rev"))
      .join(Tables.part(s, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double") / sum(col("rev")).cast("double"), 6).as("promo_revenue"))

  private val q14Sql =
    s"""SELECT round(100.0 *
         CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revenueSql ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum($revenueSql) AS DOUBLE), 6) AS promo_revenue
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'"""

  // ---------------------------------------------------------------- Q11
  /** Q11: important-stock identification — per-part value concentration
    * for one region's suppliers with a nested-aggregate HAVING, the last
    * of the 22 TPC-H query shapes. Stand-ins for the missing partsupp
    * table (same rule as Q9/Q16/Q2): the part↔supplier relationship is
    * the lineitem bridge and value = Σ l_extendedprice. Two predicate
    * adaptations, both data-forced: scope is a REGION not a nation
    * (supplier nations are sparse — the sf0.001 corpus has 10 suppliers
    * over 25 nations, so any single-nation filter is empty at some SF),
    * and the reference HAVING (value > fraction·total) is restated
    * against the MEAN part value (part values are near-uniform; no part
    * reaches 0.5% of the total at any SF): value > 1.5·mean, cross-
    * multiplied to 2·value·nparts > 3·total in exact decimals — selects
    * a stable 7–16% of parts at every SF. Plan: region+nation+supplier
    * dims broadcast into the fact scan, one groupBy on l_partkey,
    * one-row total broadcast back — no global sort (the driver compare
    * is order-insensitive). */
  def q11Value(s: SparkSession, dir: String): DataFrame = {
    val eurNat = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val sup = Tables.supplier(s, dir)
      .join(broadcast(eurNat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = Tables.lineitem(s, dir)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(19,2)").as("value"))
    val t = v.agg(sum(col("value")).cast("decimal(19,2)").as("tot"),
      count(lit(1)).as("nparts"))
    v.crossJoin(broadcast(t))
      .filter(col("value") * col("nparts") * 2 > col("tot") * 3)
      .select(col("l_partkey"),
        round(col("value").cast("double"), 2).as("value"))
  }

  private val q11Sql =
    """WITH sup AS (
         SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
       v AS (
         SELECT l_partkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(19,2)) AS value
         FROM lineitem JOIN sup ON l_suppkey = s_suppkey
         GROUP BY l_partkey),
       t AS (SELECT CAST(sum(value) AS DECIMAL(19,2)) AS tot,
               CAST(count(*) AS BIGINT) AS nparts FROM v)
       SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS value
       FROM v CROSS JOIN t
       WHERE value * nparts * 2 > tot * 3"""

  // ---------------------------------------------------------------- Q16
  /** Q16: supplier count by part attributes over the DERIVED part-supplier
    * bridge (distinct l_partkey,l_suppkey stands in for partsupp), minus
    * excluded brand and minus suppliers with negative balance (the
    * "complaints" stand-in) via an anti-join. */
  def q16SuppCount(s: SparkSession, dir: String): DataFrame = {
    val bridge = Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey")).distinct()
    val badSup = Tables.supplier(s, dir).filter(col("s_acctbal") < 0).select("s_suppkey")
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 15, 20, 25, 30, 35))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    bridge.join(badSup, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  private val q16Sql =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
       JOIN part ON l_partkey = p_partkey
       WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         AND p_size IN (1,5,9,15,20,25,30,35)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size"""

  // ---------------------------------------------------------------- Q17
  /** Q17: small-quantity revenue for one brand — the correlated scalar
    * aggregate (qty < 0.2 * per-part average), cross-multiplied into
    * exact-decimal form (5*qty*cnt < sum_qty) so no engine's fp rounding
    * of an average can flip a row across the threshold. */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pp_key"))
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("sum_qty"),
        count(lit(1)).as("cnt"))
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter(col("p_brand") === "Brand#5").select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("pp_key"))
      .filter(col("l_quantity").cast("decimal(12,2)") * 5 * col("cnt") < col("sum_qty"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 4)
        .as("avg_yearly"))
  }

  private val q17Sql =
    """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly
       FROM lineitem
       JOIN part ON l_partkey = p_partkey
       JOIN (SELECT l_partkey AS pp_key, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
                    count(*) AS cnt
             FROM lineitem GROUP BY l_partkey) pp ON l_partkey = pp_key
       WHERE p_brand = 'Brand#5'
         AND CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sum_qty"""

  // ---------------------------------------------------------------- Q19
  /** Q19: disjunctive brand/size/quantity predicates — the OR-of-ANDs
    * pushdown shape. The whole predicate references only part+lineitem
    * columns, so Catalyst splits it across the join (partial pushdown to
    * both scans) and evaluates the residual post-join. */
  def q19Disjunct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), revenueExpr.as("rev"))
    val pt = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(10, 25) &&
          col("l_quantity").between(10, 25)) ||
        (col("p_brand") === "Brand#4" && col("p_size").between(20, 40) &&
          col("l_quantity").between(20, 35)))
      .agg(sum(col("rev")).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  private val q19Sql =
    s"""SELECT CAST(sum($revenueSql) AS DOUBLE) AS revenue, count(*) AS n_items
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
          OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 25)
          OR (p_brand = 'Brand#4' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 35)"""

  // ---------------------------------------------------------------- Q20
  /** Q20: dominant suppliers of 'red *' parts — suppliers who shipped
    * more than 2× their fair share of a part's total shipped quantity
    * (the "excess availability" nesting, over the derived bridge).
    * Exact-decimal cross-multiplication (supp_qty·n_supp > 2·total_qty)
    * instead of a ratio. The driver corpus spreads each part over 16-36
    * suppliers near-uniformly, so the classic ">half of total" predicate
    * matches nothing — the fair-share multiple keeps the nested-agg shape
    * while actually biting (97 suppliers at sf0.01, 881 at sf0.1). */
  def q20Excess(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir)
      .filter(col("p_name").like("red%")).select("p_partkey")
    val shipped = Tables.lineitem(s, dir)
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("supp_qty"))
    val totals = shipped.groupBy(col("l_partkey").as("t_key"))
      .agg(sum(col("supp_qty")).as("total_qty"), count(lit(1)).as("n_supp"))
    val dominant = shipped.join(totals, col("l_partkey") === col("t_key"))
      .filter(col("supp_qty") * col("n_supp") > col("total_qty") * 2)
      .select("l_suppkey").distinct()
    Tables.supplier(s, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy(col("s_suppkey").asc)
  }

  private val q20Sql =
    """WITH shipped AS (
         SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS supp_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_name LIKE 'red%'
         GROUP BY l_partkey, l_suppkey)
       SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
         SELECT l_suppkey FROM shipped
         JOIN (SELECT l_partkey AS t_key, sum(supp_qty) AS total_qty, count(*) AS n_supp
               FROM shipped GROUP BY l_partkey) t ON l_partkey = t_key
         WHERE supp_qty * n_supp > total_qty * 2)
       ORDER BY s_suppkey ASC"""

  // ---------------------------------------------------------------- Q21
  /** Q21: suppliers who blocked multi-supplier orders — this supplier's
    * latest ship date equals the order's latest ship date AND at least
    * one other supplier participates (no commitdate in the schema, so
    * "late" = ships last). The per-order rollup is a WINDOW over the
    * per-(order, supplier) aggregate — ONE lineitem scan (the former
    * self-join recomputed perSupp, scanning the fact table twice), one
    * partial-agg shuffle on (orderkey, suppkey), one window shuffle on
    * orderkey over the already-reduced rows, then a top-10 ranking with a
    * suppkey tiebreak. */
  def q21Blame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey")
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("l_shipdate")).as("supp_last"))
      .withColumn("order_last", max(col("supp_last")).over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .filter(col("n_supp") > 1 && col("supp_last") === col("order_last"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(10)
      .select("s_suppkey", "s_name", "numwait")
  }

  private val q21Sql =
    """SELECT s_suppkey, s_name, numwait FROM (
         SELECT l_suppkey, count(*) AS numwait FROM (
           SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
           FROM lineitem GROUP BY l_orderkey, l_suppkey) ps
         JOIN (
           SELECT l_orderkey AS ok, max(supp_last) AS order_last, count(*) AS n_supp
           FROM (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
                 FROM lineitem GROUP BY l_orderkey, l_suppkey) x
           GROUP BY l_orderkey) po ON l_orderkey = ok
         WHERE n_supp > 1 AND supp_last = order_last
         GROUP BY l_suppkey) w
       JOIN supplier ON l_suppkey = s_suppkey
       ORDER BY numwait DESC, s_suppkey ASC LIMIT 10"""

  // ---------------------------------------------------------------- Q22
  /** Q22: idle rich customers by nation — above-average balance (among
    * positive balances) and no URGENT order ever. The "above average"
    * threshold is cross-multiplied into exact decimals; the idle side is
    * an anti-join on custkey against the urgent-order subset (every
    * customer in the driver corpus has SOME order, so "zero orders" is
    * structurally empty — "never ordered urgently" keeps the anti-join
    * shape and bites: 75 rows at sf0.01). Grouped by nationkey. */
  def q22Idle(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey", "c_acctbal")
    val posStats = cust.filter(col("c_acctbal") > 0)
      .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("sum_pos"),
        count(lit(1)).as("cnt_pos"))
    cust.crossJoin(broadcast(posStats))
      .filter(col("c_acctbal").cast("decimal(18,2)") * col("cnt_pos") > col("sum_pos"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("totacctbal"))
  }

  private val q22Sql =
    """SELECT c_nationkey, count(*) AS numcust,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
       FROM customer
       CROSS JOIN (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos, count(*) AS cnt_pos
                   FROM customer WHERE c_acctbal > 0) p
       WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt_pos > sum_pos
         AND NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       GROUP BY c_nationkey"""

  // ---------------------------------------------------------------- Q2
  /** Q2: best supplier per part (argmax). No partsupp/ps_supplycost, so
    * "best" = highest account balance among suppliers who actually
    * shipped the part (derived bridge), tie-broken on suppkey — the
    * per-group argmax via row_number shape. Top 10 parts by key. */
  def q2TopSupp(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_size") === 15 && col("p_type") === "SMALL")
      .select("p_partkey", "p_name")
    val bridge = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey").distinct()
    val w = Window.partitionBy("p_partkey")
      .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
    parts.join(bridge, col("p_partkey") === col("l_partkey"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_acctbal"),
        col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .orderBy(col("p_partkey").asc)
      .limit(10)
      .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
  }

  private val q2Sql =
    """SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal FROM (
         SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
           row_number() OVER (PARTITION BY p_partkey ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
         FROM part
         JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps ON p_partkey = l_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE p_size = 15 AND p_type = 'SMALL')
       WHERE rn = 1 ORDER BY p_partkey ASC LIMIT 10"""

  /** q_price_index: the classical index-number family — Laspeyres
    * (base-period basket), Paasche (current basket) and Fisher (their
    * geometric mean, the "ideal" index) for every adjacent order-year
    * pair, over per-(part, year) unit values v = Σ extendedprice / Σ qty
    * for parts traded in BOTH years. The OLAP-native question "how much
    * did prices move, holding the basket fixed" that a plain revenue
    * ratio conflates with volume shifts. Exact decimal sums collapse the
    * fact table to the part×year dimension; unit values divide once and
    * are ROUNDED to 6dp so the cross-part Σ p·q terms multiply and sum
    * as EXACT DECIMALS — order-independent and map-side combinable,
    * which matters because the PART dimension grows with scale (the
    * q_lsh_plan decimal-mass discipline, not a bounded fold); Fisher's
    * sqrt is IEEE-correctly-rounded in both engines. */
  def qPriceIndex(s: SparkSession, dir: String): DataFrame = {
    // spread: the map stage fuses the fact scan + broadcast join +
    // partial (part, yr) aggregation — single-core on an unsplittable
    // input without it (guide §2.5). Keyed on l_partkey, NOT l_orderkey
    // (r22): orders broadcasts, so the join is partitioning-agnostic,
    // and hash(part) satisfies the (part, yr) aggregation AND the
    // per-part lead() window below — the whole query becomes a single
    // exchange (r21's orderkey spread left a 600 k-row partial-agg
    // exchange where partials could not reduce — every part's rows were
    // scattered — plus a third exchange for the window; plan:
    // 3 Exchange → 1).
    val pv = Tables.spread(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_extendedprice"), col("l_quantity")),
        dir, "lineitem", col("l_partkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey").as("part"), year(col("o_orderdate")).as("yr"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("sv"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
      .select(col("part"), col("yr"),
        round(col("sv").cast("double") / col("sq").cast("double"), 6)
          .cast("decimal(18,6)").as("p"),
        col("sq").as("q"))
    // Adjacent-year pairing via ONE lead() pass per part instead of the
    // r20 self-join: the self-join's two sides differ by projection
    // (yr vs yr−1), so ReuseExchange can never dedupe them and the whole
    // lineitem⋈orders aggregate ran TWICE (plan audit r21: two full scan
    // + join + agg chains feeding a SortMergeJoin). (part, yr) is unique,
    // so lead over (part ORDER BY yr) filtered to y1 = y0 + 1 is
    // row-identical to the equi-join on (part, y0 = yr − 1). One shuffle
    // of the part×year relation replaces a second full fact pass
    // (guide §2.4 — remove shuffles outright; measured 2.3 s → ~1.2 s).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("yr")
    val paired = pv.select(col("part"), col("yr").as("y0"),
        col("p").as("p0"), col("q").as("q0"),
        lead(col("yr"), 1).over(w).as("y1"),
        lead(col("p"), 1).over(w).as("p1"),
        lead(col("q"), 1).over(w).as("q1"))
      .filter(col("y1") === col("y0") + 1)
    val agg = paired.groupBy(col("y0").as("year_from"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p1") * col("q0")).as("n_l"), sum(col("p0") * col("q0")).as("d_l"),
        sum(col("p1") * col("q1")).as("n_p"), sum(col("p0") * col("q1")).as("d_p"))
    agg.select(col("year_from"), (col("year_from") + 1).as("year_to"),
      col("n_parts"),
      round(col("n_l").cast("double") / col("d_l").cast("double"), 6).as("laspeyres"),
      round(col("n_p").cast("double") / col("d_p").cast("double"), 6).as("paasche"),
      round(sqrt((col("n_l").cast("double") / col("d_l").cast("double")) *
        (col("n_p").cast("double") / col("d_p").cast("double"))), 6)
        .as("fisher"))
  }

  private val qPriceIndexSql =
    """WITH pv AS (
         SELECT l_partkey AS part, year(o_orderdate) AS yr,
           CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS p,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2),
       pr AS (
         SELECT a.part, a.yr AS year_from, a.p AS p0, a.q AS q0,
           b.p AS p1, b.q AS q1
         FROM pv a JOIN pv b ON b.part = a.part AND b.yr = a.yr + 1),
       ag AS (
         SELECT year_from, CAST(count(*) AS BIGINT) AS n_parts,
           sum(p1 * q0) AS n_l, sum(p0 * q0) AS d_l,
           sum(p1 * q1) AS n_p, sum(p0 * q1) AS d_p
         FROM pr GROUP BY 1)
       SELECT year_from, year_from + 1 AS year_to, n_parts,
         round(CAST(n_l AS DOUBLE) / CAST(d_l AS DOUBLE), 6) AS laspeyres,
         round(CAST(n_p AS DOUBLE) / CAST(d_p AS DOUBLE), 6) AS paasche,
         round(sqrt((CAST(n_l AS DOUBLE) / CAST(d_l AS DOUBLE))
           * (CAST(n_p AS DOUBLE) / CAST(d_p AS DOUBLE))), 6) AS fisher
       FROM ag"""

  override def registry: Seq[Q] = Seq(
    Q("q_price_index", qPriceIndex, Oracle(qPriceIndexSql)),
    Q("q2_topsupp", q2TopSupp, Oracle(q2Sql)),
    Q("q4_priority", q4Priority, Oracle(q4Sql)),
    Q("q7_volume", q7Volume, Oracle(q7Sql)),
    Q("q8_share", q8Share, Oracle(q8Sql)),
    Q("q9_profit", q9Profit, Oracle(q9Sql)),
    Q("q10_returns", q10Returns, Oracle(q10Sql)),
    Q("q12_priority", q12Priority, Oracle(q12Sql)),
    Q("q13_custdist", q13CustDist, Oracle(q13Sql)),
    Q("q15_topsupp", q15TopSupp, Oracle(q15Sql)),
    Q("q14_promo", q14Promo, Oracle(q14Sql)),
    Q("q16_suppcnt", q16SuppCount, Oracle(q16Sql)),
    Q("q17_smallqty", q17SmallQty, Oracle(q17Sql)),
    Q("q19_disjunct", q19Disjunct, Oracle(q19Sql)),
    Q("q11_value", q11Value, Oracle(q11Sql)),
    Q("q20_excess", q20Excess, Oracle(q20Sql)),
    Q("q21_blame", q21Blame, Oracle(q21Sql)),
    Q("q22_idle", q22Idle, Oracle(q22Sql)))
}
