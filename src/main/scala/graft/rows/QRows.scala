package graft.rows

import org.apache.spark.sql.functions._

import graft.operators.Relational
import Prelude._

/** The TPC-H-style warehouse rows (`q*`) over the lineitem/orders/customer
  * tables and the events × customer joins. */
object QRows {

  val rows: Seq[Row] = Seq(
    // ---- relational / warehouse surface ----
    Row("q1_pricing_summary", (s, d) => Relational.pricingSummary(s, d),
      """SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_disc_price,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))) AS DOUBLE), 2) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) / count(*), 4) AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / count(*), 4) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) / count(*), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
    Row("q3_top_orders", (s, d) => Relational.topRevenueOrders(s, d)
      .select(col("l_orderkey"), fmtTs(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"), col("revenue")),
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    Row("q5_region_revenue", (s, d) => Relational.regionRevenue(s, d),
      """SELECT n_name,
  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    Row("q_events_by_segment", (s, d) => Relational.eventsBySegment(s, d),
      """SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment, event_type,
  count(*) AS n,
  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 2) AS value_sum
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2"""),
    Row("q_user_coverage", (s, d) => Relational.userCoverage(s, d),
      """WITH ev AS (SELECT DISTINCT user_id FROM events)
SELECT
  count(CASE WHEN ev.user_id IS NOT NULL AND c.c_custkey IS NOT NULL THEN 1 END) AS matched,
  count(CASE WHEN ev.user_id IS NOT NULL AND c.c_custkey IS NULL THEN 1 END) AS event_only,
  count(CASE WHEN ev.user_id IS NULL AND c.c_custkey IS NOT NULL THEN 1 END) AS customer_only
FROM ev FULL OUTER JOIN customer c ON ev.user_id = c.c_custkey"""),
    Row("q_events_pivot", (s, d) => Relational.eventsPivot(s, d),
      """SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
  count(CASE WHEN event_type = 'view' THEN 1 END) AS "view"
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1 ORDER BY 1"""),
  )
}
