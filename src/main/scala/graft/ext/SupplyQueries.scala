package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object SupplyQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext/supply: min-cost supplier per part (TPC-H Q2 shape over
    // observed line prices; window-min + broadcast dim chain) ----
    Gated("q224_min_cost_supplier", (s, dir) =>
      graft.ext.Supply.minCostSupplier(Tables.lineitem(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy(col("p_partkey")),
      """WITH pp AS (
           SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS net_cents,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                  count(*) AS n_lines
           FROM lineitem GROUP BY 1, 2),
         pr AS (
           SELECT *, ((net_cents * 10000 * 2 + qty) // (qty * 2)) / 1000000.0
                    AS unit_price FROM pp),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY p_partkey
                    ORDER BY unit_price ASC, best_suppkey ASC) AS rn
           FROM pr)
         SELECT k.p_partkey, k.best_suppkey, s.s_name AS supplier_name,
                n.n_name AS nation, r.r_name AS region, k.unit_price, k.n_lines
         FROM rk k
         JOIN supplier s ON k.best_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE k.rn = 1
         ORDER BY k.p_partkey"""),

    // ---- ext/supply: late-shipment audit per order priority (Q4
    // EXISTS shape decorrelated to per-order max-flag) ----
    Gated("q225_late_priority", (s, dir) =>
      graft.ext.Supply.latePriorityAudit(
          Tables.orders(s, dir), Tables.lineitem(s, dir), graceDays = 21)
        .orderBy(col("o_orderpriority")),
      """WITH fl AS (
           SELECT o.o_orderkey AS k,
                  max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 21 DAY
                      THEN 1 ELSE 0 END) AS late
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1)
         SELECT o.o_orderpriority, count(*) AS n_orders,
                CAST(sum(COALESCE(fl.late, 0)) AS BIGINT) AS n_late_ship,
                ((CAST(sum(COALESCE(fl.late, 0)) AS BIGINT) * 1000000 * 2
                  + count(*)) // (count(*) * 2)) / 1000000.0 AS late_share
         FROM orders o LEFT JOIN fl ON o.o_orderkey = fl.k
         GROUP BY 1 ORDER BY 1"""),

    // ---- ext/supply: important-stock screen (Q11 HAVING-share shape;
    // within-brand revenue share ≥ 1.5× the brand's average part share) ----
    Gated("q226_important_stock", (s, dir) =>
      graft.ext.Supply.importantStock(
          Tables.lineitem(s, dir), Tables.part(s, dir), multipleTenths = 15)
        .orderBy(col("p_brand"), col("p_partkey")),
      """WITH pp AS (
           SELECT l_partkey,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS part_cents
           FROM lineitem GROUP BY 1),
         pb AS (
           SELECT p.p_brand, pp.l_partkey AS p_partkey, pp.part_cents,
                  CAST(sum(pp.part_cents) OVER (PARTITION BY p.p_brand)
                    AS BIGINT) AS brand_cents,
                  count(*) OVER (PARTITION BY p.p_brand) AS n_parts
           FROM pp JOIN part p ON pp.l_partkey = p.p_partkey)
         SELECT p_brand, p_partkey,
                round(part_cents / 100.0, 6) AS revenue,
                round(CAST(part_cents AS DOUBLE) / brand_cents, 6) AS share
         FROM pb
         WHERE part_cents * n_parts * 10 >= brand_cents * 15
         ORDER BY p_brand, p_partkey"""),

    // ---- ext/supply: small-quantity revenue per brand (Q17 correlated
    // scalar decorrelated to a part window) ----
    Gated("q227_small_qty_revenue", (s, dir) =>
      graft.ext.Supply.smallQuantityRevenue(
          Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("p_brand")),
      """WITH f AS (
           SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                  CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS net_cents,
                  CAST(sum(CAST(l_quantity AS BIGINT))
                    OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_qty,
                  count(*) OVER (PARTITION BY l_partkey) AS n_qty
           FROM lineitem),
         g AS (
           SELECT p.p_brand, f.net_cents,
                  CASE WHEN CAST(f.qty AS DOUBLE)
                         < CAST(f.sum_qty AS DOUBLE) / f.n_qty * 0.5
                       THEN 1 ELSE 0 END AS is_small
           FROM f JOIN part p ON f.l_partkey = p.p_partkey)
         SELECT p_brand, count(*) AS n_lines,
                CAST(sum(is_small) AS BIGINT) AS n_small,
                round(CAST(sum(CASE WHEN is_small = 1 THEN net_cents ELSE 0 END)
                  AS BIGINT) / 100.0, 6) AS small_revenue,
                round(CAST(sum(CASE WHEN is_small = 1 THEN net_cents ELSE 0 END)
                  AS DOUBLE) / CAST(sum(net_cents) AS BIGINT), 6) AS small_share
         FROM g GROUP BY 1 ORDER BY 1"""),

    // ---- ext/supply: dormant high-balance sweep per market segment
    // (Q22 shape: scalar-threshold + anti-join, exact integer compare) ----
    Gated("q228_dormant_accounts", (s, dir) =>
      graft.ext.Supply.dormantHighValue(
          Tables.customer(s, dir), Tables.orders(s, dir), dormantDays = 90)
        .orderBy(col("c_mktsegment")),
      """WITH b AS (
           SELECT CAST(sum(bb) AS BIGINT) AS sum_b, count(*) AS n_b
           FROM (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bb
                 FROM customer WHERE round(c_acctbal * 100) > 0) t),
         h AS (SELECT max(o_orderdate) AS max_date FROM orders),
         r AS (SELECT DISTINCT o_custkey FROM orders, h
               WHERE o_orderdate > max_date - INTERVAL 90 DAY),
         d AS (
           SELECT c.c_mktsegment, c.c_acctbal FROM customer c, b
           WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * b.n_b > b.sum_b
             AND NOT EXISTS (SELECT 1 FROM r
                             WHERE r.o_custkey = c.c_custkey))
         SELECT c_mktsegment, count(*) AS n_dormant,
                round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS BIGINT) / 100.0, 6) AS total_balance,
                ((CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                  * 10000 * 2 + count(*)) // (count(*) * 2)) / 1000000.0
                  AS avg_balance
         FROM d GROUP BY 1 ORDER BY 1"""),

    // ---- ext/supply: supplier reliability league with Wilson lower
    // bound (Q21 intent with defensible small-n statistics) ----
    Gated("q229_supplier_reliability", (s, dir) =>
      graft.ext.Supply.supplierReliability(Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.supplier(s, dir), graceDays = 21)
        .orderBy(col("s_suppkey")),
      """WITH ps AS (
           SELECT l.l_suppkey, count(*) AS n_lines,
                  CAST(sum(CASE WHEN l.l_shipdate
                        > o.o_orderdate + INTERVAL 21 DAY
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_late
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1),
         w AS (
           SELECT l_suppkey, n_lines, n_late,
                  CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
                  CAST(n_lines AS DOUBLE) AS nd
           FROM ps)
         SELECT s.s_suppkey, s.s_name, w.n_lines, w.n_late,
                ((w.n_late * 1000000 * 2 + w.n_lines) // (w.n_lines * 2))
                  / 1000000.0 AS late_rate,
                round((w.p + 1.96 * 1.96 / (w.nd * 2)
                       - 1.96 * sqrt(w.p * (1 - w.p) / w.nd
                                     + 1.96 * 1.96 / (w.nd * w.nd * 4)))
                      / (1 + 1.96 * 1.96 / w.nd), 6) AS wilson_lb
         FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
         ORDER BY s.s_suppkey"""),

    // ---- ext/supply: order-to-ship latency percentiles per month ----
    Gated("q245_ship_latency", (s, dir) =>
      graft.ext.Supply.shipLatency(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy(col("order_month")),
      """WITH sl AS (
           SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE)
                    AS order_month,
                  datediff('day', o.o_orderdate, l.l_shipdate) AS lat
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT order_month, count(*) AS n_lines,
                ((CAST(sum(lat) AS BIGINT) * 1000000 * 2 + count(*))
                  // (count(*) * 2)) / 1000000.0 AS mean_days,
                round(quantile_cont(lat, 0.5), 6) AS p50,
                round(quantile_cont(lat, 0.9), 6) AS p90,
                round(quantile_cont(lat, 0.99), 6) AS p99
         FROM sl GROUP BY 1 ORDER BY order_month"""),

    // ---- ext: ABC/XYZ inventory classification (revenue-share ×
    // demand-variability classes at class grain) ----
    Gated("q266_abc_xyz", (s, dir) =>
      graft.ext.Supply.abcXyz(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("abc_class"), col("xyz_class")),
      """WITH axm AS (
             SELECT l_partkey, date_trunc('month', l_shipdate) AS mth,
                    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100))
                      AS BIGINT) AS cents,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS qty
             FROM lineitem GROUP BY 1, 2),
         axp AS (
             SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS cents,
                    count(*) AS m, CAST(sum(qty) AS BIGINT) AS sq,
                    CAST(sum(qty * qty) AS BIGINT) AS sqq
             FROM axm GROUP BY 1),
         axc AS (
             SELECT *, CAST(sum(cents) OVER (ORDER BY cents DESC,
                      l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum
             FROM axp),
         axt AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM axp),
         axx AS (
             SELECT CASE WHEN CAST(cum AS HUGEINT) * 5
                              <= CAST(tot AS HUGEINT) * 4 THEN 'A'
                         WHEN CAST(cum AS HUGEINT) * 20
                              <= CAST(tot AS HUGEINT) * 19 THEN 'B'
                         ELSE 'C' END AS abc_class,
                    CASE WHEN m <= 1 OR sq = 0 THEN 'Z'
                         WHEN sqrt((CAST(m AS DOUBLE) * CAST(sqq AS DOUBLE)
                                - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                               / (CAST(m AS DOUBLE)
                                  * (CAST(m AS DOUBLE) - 1.0)))
                              / (CAST(sq AS DOUBLE) / CAST(m AS DOUBLE))
                              < 0.5 THEN 'X'
                         WHEN sqrt((CAST(m AS DOUBLE) * CAST(sqq AS DOUBLE)
                                - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                               / (CAST(m AS DOUBLE)
                                  * (CAST(m AS DOUBLE) - 1.0)))
                              / (CAST(sq AS DOUBLE) / CAST(m AS DOUBLE))
                              < 1.0 THEN 'Y'
                         ELSE 'Z' END AS xyz_class,
                    cents, tot
             FROM axc CROSS JOIN axt)
         SELECT abc_class, xyz_class, count(*) AS n_parts,
                round(CAST(sum(cents) AS DOUBLE) / max(tot), 6)
                  AS revenue_share
         FROM axx GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ---- ext: order aging buckets per priority (data-derived
    // anchor, receivables-style report) ----
    Gated("q267_order_aging", (s, dir) =>
      graft.ext.Supply.orderAging(Tables.orders(s, dir))
        .orderBy(col("o_orderpriority"), col("bucket_id")),
      """WITH aga AS (SELECT CAST(max(o_orderdate) AS DATE) AS today
                      FROM orders),
         agb AS (
             SELECT o_orderpriority,
                    CASE WHEN a.today - CAST(o_orderdate AS DATE) <= 30
                           THEN 0
                         WHEN a.today - CAST(o_orderdate AS DATE) <= 90
                           THEN 1
                         WHEN a.today - CAST(o_orderdate AS DATE) <= 365
                           THEN 2
                         ELSE 3 END AS bucket_id,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS c
             FROM orders CROSS JOIN aga a)
         SELECT o_orderpriority, bucket_id,
                CASE bucket_id WHEN 0 THEN '0-30' WHEN 1 THEN '31-90'
                  WHEN 2 THEN '91-365' ELSE '365+' END AS age_bucket,
                count(*) AS n_orders,
                CAST(sum(c) AS BIGINT) / 100.0 AS total_value
         FROM agb GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ---- ext: per-brand safety stock / reorder point (normal demand
    // model over observed shipping days) ----
    Gated("q268_safety_stock", (s, dir) =>
      graft.ext.Supply.safetyStock(Tables.lineitem(s, dir),
          Tables.part(s, dir))
        .orderBy(col("p_brand")),
      """WITH ssd AS (
             SELECT p_brand, CAST(l_shipdate AS DATE) AS ship_day,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS q
             FROM lineitem JOIN part ON l_partkey = p_partkey
             GROUP BY 1, 2),
         ssm AS (
             SELECT p_brand, count(*) AS n_days,
                    CAST(sum(q) AS BIGINT) AS sq,
                    CAST(sum(q * q) AS BIGINT) AS sqq
             FROM ssd GROUP BY 1)
         SELECT p_brand, CAST(n_days AS BIGINT) AS n_days,
                round(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
                  AS mean_daily_qty,
                round(sqrt((CAST(n_days AS DOUBLE) * CAST(sqq AS DOUBLE)
                        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                      / (CAST(n_days AS DOUBLE)
                         * (CAST(n_days AS DOUBLE) - 1.0))), 6)
                  AS sigma_daily,
                round(1.6448536269514722
                      * sqrt((CAST(n_days AS DOUBLE) * CAST(sqq AS DOUBLE)
                           - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                         / (CAST(n_days AS DOUBLE)
                            * (CAST(n_days AS DOUBLE) - 1.0)))
                      * sqrt(7.0), 6) AS safety_stock,
                round(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE) * 7.0
                      + 1.6448536269514722
                        * sqrt((CAST(n_days AS DOUBLE) * CAST(sqq AS DOUBLE)
                             - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                           / (CAST(n_days AS DOUBLE)
                              * (CAST(n_days AS DOUBLE) - 1.0)))
                        * sqrt(7.0), 6) AS reorder_point
         FROM ssm WHERE n_days > 1 ORDER BY p_brand"""),

    // ---- ext: Syntetos-Boylan demand-pattern quadrants per brand
    // (integer cross-multiply boundaries — no doubles in the class) ----
    Gated("q297_demand_classes", (s, dir) =>
      graft.ext.Supply.demandClasses(Tables.lineitem(s, dir),
        Tables.part(s, dir)),
      """WITH dd AS (
             SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS q
             FROM lineitem GROUP BY 1, 2),
         dp AS (
             SELECT l_partkey, CAST(count(*) AS BIGINT) AS nd,
                    CAST(datediff('day', min(d), max(d)) + 1 AS BIGINT)
                      AS span,
                    CAST(sum(q) AS BIGINT) AS sq,
                    CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
             FROM dd GROUP BY 1),
         dc AS (
             SELECT l_partkey, sq,
                    CASE WHEN nd = 1 THEN 'one-shot'
                         WHEN span * 100 < nd * 132
                          AND 100 * CAST(nd AS HUGEINT)
                              * (nd * sqq - CAST(sq AS HUGEINT) * sq)
                            < 49 * (CAST(nd AS HUGEINT) - 1)
                              * (CAST(sq AS HUGEINT) * sq) THEN 'smooth'
                         WHEN span * 100 >= nd * 132
                          AND 100 * CAST(nd AS HUGEINT)
                              * (nd * sqq - CAST(sq AS HUGEINT) * sq)
                            < 49 * (CAST(nd AS HUGEINT) - 1)
                              * (CAST(sq AS HUGEINT) * sq)
                           THEN 'intermittent'
                         WHEN span * 100 < nd * 132 THEN 'erratic'
                         ELSE 'lumpy' END AS demand_class
             FROM dp)
         SELECT p_brand, demand_class,
                CAST(count(*) AS BIGINT) AS n_parts,
                CAST(sum(sq) AS BIGINT) AS total_qty
         FROM dc JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2 ORDER BY p_brand, demand_class"""),

    // ---- ext: Croston intermittent-demand forecast per part (the
    // model q297's intermittent/lumpy quadrants prescribe) ----
    Gated("q299_croston", (s, dir) =>
      graft.ext.Supply.crostonForecast(Tables.lineitem(s, dir)),
      """WITH RECURSIVE crd AS (
             SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS q
             FROM lineitem GROUP BY 1, 2),
         crs AS (
             SELECT l_partkey, d, q,
                    row_number() OVER (PARTITION BY l_partkey ORDER BY d)
                      AS rn,
                    lag(d) OVER (PARTITION BY l_partkey ORDER BY d) AS pd
             FROM crd),
         crr AS (
             SELECT l_partkey, rn, CAST(q AS DOUBLE) AS z,
                    CAST(NULL AS DOUBLE) AS p
             FROM crs WHERE rn = 1
             UNION ALL
             SELECT s.l_partkey, s.rn,
                    r.z + 0.125 * (CAST(s.q AS DOUBLE) - r.z),
                    CASE WHEN r.p IS NULL
                      THEN CAST(datediff('day', s.pd, s.d) AS DOUBLE)
                      ELSE r.p + 0.125
                        * (CAST(datediff('day', s.pd, s.d) AS DOUBLE) - r.p)
                    END
             FROM crr r JOIN crs s
               ON s.l_partkey = r.l_partkey AND s.rn = r.rn + 1),
         crn AS (SELECT l_partkey, CAST(max(rn) AS BIGINT) AS mrn
                 FROM crr GROUP BY 1)
         SELECT r.l_partkey AS part_id, n.mrn AS n_demand_days,
                round(r.z, 6) AS size_level,
                round(r.p, 6) AS interval_level,
                CASE WHEN r.p IS NOT NULL AND r.p > 0
                  THEN round(r.z / r.p, 6) END AS demand_per_day
         FROM crr r JOIN crn n
           ON r.l_partkey = n.l_partkey AND r.rn = n.mrn
         ORDER BY part_id"""),
  )
}
