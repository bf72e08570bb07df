package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.OracleSql

object OlapQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: CUBE with grouping_id over order year × priority ----
    Gated("q93_orders_cube", (s, dir) =>
      graft.ext.Olap.ordersCube(Tables.orders(s, dir))
        .orderBy(col("gid"), col("order_year"), col("o_orderpriority")),
      """WITH y AS (SELECT year(o_orderdate) AS order_year, o_orderpriority,
                           o_totalprice FROM orders)
         SELECT GROUPING(order_year, o_orderpriority) AS gid,
                order_year, o_orderpriority, count(*) AS n_orders,
                sum(round(o_totalprice * 10000)) / 10000.0 AS revenue
         FROM y GROUP BY CUBE (order_year, o_orderpriority)
         ORDER BY gid, order_year, o_orderpriority"""),

    // ---- ext: Pareto 80/20 revenue-contribution cut over categories ----
    Gated("q165_pareto", (s, dir) =>
      graft.ext.Olap.paretoCut(
          Conformed.orderRevenueCached(s, dir), "item_category")
        .orderBy(col("rank")),
      OracleSql.withBase(
        """pcg AS (SELECT item_category AS dim,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1),
           pct AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM pcg),
           pcr AS (SELECT dim, cents,
                          row_number() OVER wr AS rank,
                          CAST(sum(cents) OVER (ORDER BY cents DESC, dim
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
                   FROM pcg WINDOW wr AS (ORDER BY cents DESC, dim))""",
        """SELECT dim AS item_category, rank,
                  cents / 10000.0 AS revenue,
                  round(CAST(cum_cents AS DOUBLE) / total_cents, 6)
                    AS cum_share,
                  CAST(cum_cents - cents AS DOUBLE) / total_cents < 0.8
                    AS in_head
           FROM pcr, pct ORDER BY rank""")),

    // ---- ext: Herfindahl revenue concentration + effective category
    // count (order-free integer-dollar sums; the diversity audit) ----
    Gated("q176_concentration", (s, dir) =>
      graft.ext.Olap.revenueConcentration(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """hhd AS (SELECT restaurant_id, item_category,
                         CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                              // 10000 AS BIGINT) AS d
                  FROM order_revenue GROUP BY 1, 2),
           hha AS (SELECT restaurant_id,
                         count(*) AS n_categories,
                         CAST(sum(d) AS BIGINT) AS sd,
                         CAST(sum(d * d) AS BIGINT) AS sd2
                  FROM hhd GROUP BY 1)""",
        """SELECT restaurant_id, n_categories,
                  round(CAST(sd2 AS DOUBLE) / CAST(sd * sd AS DOUBLE), 6)
                    AS hhi,
                  round(CAST(sd * sd AS DOUBLE) / sd2, 6)
                    AS effective_categories
           FROM hha WHERE sd > 0 ORDER BY restaurant_id""")),

    // ---- ext: Gini coefficient of per-customer revenue within each
    // restaurant (inequality audit; exact integer rank/cent sums) ----
    Gated("q177_gini", (s, dir) =>
      graft.ext.Olap.revenueGini(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """gcu AS (SELECT restaurant_id, user_id,
                          CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                            AS cents
                   FROM order_revenue GROUP BY 1, 2),
           gcr AS (SELECT restaurant_id, user_id, cents,
                          row_number() OVER (PARTITION BY restaurant_id
                            ORDER BY cents, user_id) AS i
                   FROM gcu),
           gca AS (SELECT restaurant_id, count(*) AS n_users,
                          CAST(sum(cents) AS BIGINT) AS sx,
                          CAST(sum(i * cents) AS BIGINT) AS sw
                   FROM gcr GROUP BY 1)""",
        """SELECT restaurant_id, n_users,
                  round(sx / 10000.0, 6) AS revenue,
                  round((2.0 * sw) / (CAST(n_users AS DOUBLE) * sx)
                        - (n_users + 1.0) / n_users, 6) AS gini
           FROM gca WHERE sx > 0 ORDER BY restaurant_id""",
      )),

    // ---- ext: monthly market-mix HHI trend (+MoM delta) ----
    Gated("q207_concentration_trend", (s, dir) =>
      graft.ext.Olap.monthlyConcentration(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("month")),
      OracleSql.withBase(
        """mch AS (
             SELECT CAST(date_trunc('month', creation_date) AS DATE) AS month,
                    item_category,
                    CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                         // 10000 AS BIGINT) AS d
             FROM order_revenue GROUP BY 1, 2),
           mca AS (
             SELECT month, count(*) AS n_categories,
                    CAST(sum(d) AS BIGINT) AS sd,
                    CAST(sum(d * d) AS BIGINT) AS sd2
             FROM mch GROUP BY 1),
           mcb AS (
             SELECT month, n_categories,
                    round(CAST(sd2 AS DOUBLE) / CAST(sd * sd AS DOUBLE), 6)
                      AS hhi
             FROM mca WHERE sd > 0)""",
        """SELECT month, n_categories, hhi,
                  round(hhi - lag(hhi) OVER (ORDER BY month), 6) AS hhi_delta
           FROM mcb ORDER BY month""",
      )),

    // ---- ext: basket-size economics (order share + AOV per size) ----
    Gated("q208_basket_economics", (s, dir) =>
      graft.ext.Olap.basketSizeEconomics(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("basket_size")),
      OracleSql.withBase(
        """bso AS (
             SELECT order_id, count(*) AS n_lines,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1),
           bst AS (SELECT count(*) AS n_total FROM bso),
           bsd AS (
             SELECT least(n_lines, 10) AS basket_size,
                    count(*) AS n_orders,
                    CAST(sum(cents) AS BIGINT) AS scents
             FROM bso GROUP BY 1)""",
        """SELECT basket_size, n_orders,
                  round(CAST(n_orders AS DOUBLE) / bst.n_total, 6)
                    AS order_share,
                  round(scents / 10000.0 / n_orders, 6) AS avg_order_value
           FROM bsd CROSS JOIN bst ORDER BY basket_size""",
      )),

    // ---- ext: discount-band effectiveness over the raw pricing fact ----
    Gated("q209_discount_bands", (s, dir) =>
      graft.ext.Olap.discountBands(Tables.lineitem(s, dir))
        .orderBy(col("discount_pct")),
      """WITH dbl AS (
             SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
                    count(*) AS n_lines,
                    CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT))
                      AS BIGINT) AS gross,
                    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                        * 10000) AS BIGINT)) AS BIGINT) AS net,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             FROM lineitem GROUP BY 1)
           SELECT discount_pct, n_lines,
                  round(gross / 10000.0, 6) AS gross_revenue,
                  round(net / 10000.0, 6) AS net_revenue,
                  round((gross - net) / 10000.0, 6) AS margin_give_up,
                  round(CAST(qty AS DOUBLE) / n_lines, 6) AS avg_quantity
           FROM dbl ORDER BY discount_pct"""),

    // ---- ext: return-flag exposure per category ----
    Gated("q210_return_rates", (s, dir) =>
      graft.ext.Olap.returnRates(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("item_category")),
      """WITH rrl AS (
             SELECT p.p_type AS item_category,
                    count(*) AS n_lines,
                    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_returned,
                    CAST(sum(CASE WHEN l.l_returnflag = 'R'
                             THEN CAST(round(l.l_extendedprice
                                             * (1 - l.l_discount) * 10000)
                                  AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS ret_cents
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             GROUP BY 1)
           SELECT item_category, n_lines, n_returned,
                  round(CAST(n_returned AS DOUBLE) / n_lines, 6)
                    AS return_share,
                  round(ret_cents / 10000.0, 6) AS returned_revenue
           FROM rrl ORDER BY item_category"""),

    // ---- ext: dead-stock audit per brand (anti-join accounting) ----
    Gated("q211_dead_stock", (s, dir) =>
      graft.ext.Olap.deadStock(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("p_brand")),
      """WITH dso AS (SELECT DISTINCT l_partkey FROM lineitem),
           dsb AS (
             SELECT p.p_brand,
                    count(*) AS n_parts,
                    CAST(sum(CASE WHEN o.l_partkey IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_dead
             FROM part p LEFT JOIN dso o ON p.p_partkey = o.l_partkey
             GROUP BY 1)
           SELECT p_brand, n_parts, n_dead,
                  round(CAST(n_dead AS DOUBLE) / n_parts, 6) AS dead_share
           FROM dsb ORDER BY p_brand"""),

    // ---- ext: per-restaurant peak-hour profile (argmax hour + share +
    // hour-concentration HHI; staffing readout over the hourly axis) ----
    Gated("q218_peak_hours", (s, dir) =>
      graft.ext.Olap.peakHourProfile(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id")),
      OracleSql.withBase(
        """phd AS (
             SELECT restaurant_id, CAST(hour(creation_ts) AS BIGINT) AS hr,
                    CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                         // 10000 AS BIGINT) AS d
             FROM order_revenue GROUP BY 1, 2),
           phm AS (
             SELECT restaurant_id, hr AS peak_hour FROM (
               SELECT restaurant_id, hr,
                      row_number() OVER (PARTITION BY restaurant_id
                        ORDER BY d DESC, hr) AS rn
               FROM phd)
             WHERE rn = 1),
           pha AS (
             SELECT restaurant_id, count(*) AS n_active_hours,
                    max(d) AS peak_dollars,
                    CAST(sum(d) AS BIGINT) AS sd,
                    CAST(sum(d * d) AS BIGINT) AS sd2
             FROM phd GROUP BY 1)""",
        """SELECT a.restaurant_id, a.n_active_hours, m.peak_hour,
                  round(CAST(a.peak_dollars AS DOUBLE) / a.sd, 6)
                    AS peak_share,
                  round(CAST(a.sd2 AS DOUBLE) / CAST(a.sd * a.sd AS DOUBLE), 6)
                    AS hour_hhi
           FROM pha a JOIN phm m USING (restaurant_id)
           WHERE a.sd > 0 ORDER BY restaurant_id""",
      )),

    // ---- ext: customer multi-homing histogram (distinct restaurants
    // per user; loyalist vs browser decomposition) ----
    Gated("q219_multi_homing", (s, dir) =>
      graft.ext.Olap.multiHoming(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("n_restaurants")),
      OracleSql.withBase(
        """mhu AS (
             SELECT user_id,
                    count(DISTINCT restaurant_id) AS n_rest,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1),
           mht AS (SELECT count(*) AS n_total FROM mhu),
           mhd AS (
             SELECT least(n_rest, 8) AS n_restaurants,
                    count(*) AS n_users,
                    CAST(sum(cents) AS BIGINT) AS scents
             FROM mhu GROUP BY 1)""",
        """SELECT n_restaurants, n_users,
                  round(CAST(n_users AS DOUBLE) / mht.n_total, 6)
                    AS user_share,
                  round(scents / 10000.0 / n_users, 6) AS avg_user_revenue
           FROM mhd CROSS JOIN mht ORDER BY n_restaurants""",
      )),

    // ---- ext: hour-of-week revenue heatmap (7×24 load curve) ----
    Gated("q223_hour_of_week", (s, dir) =>
      graft.ext.Olap.hourOfWeekGrid(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("iso_weekday"), col("hr")),
      OracleSql.withBase(
        """hwg AS (
             SELECT CAST(isodow(creation_date) - 1 AS BIGINT) AS iso_weekday,
                    CAST(hour(creation_ts) AS BIGINT) AS hr,
                    count(*) AS n_lines,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           hwt AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM hwg)""",
        """SELECT iso_weekday, hr, n_lines,
                  round(cents / 10000.0, 6) AS revenue,
                  round(CAST(cents AS DOUBLE) / hwt.tot, 6) AS week_share
           FROM hwg CROSS JOIN hwt ORDER BY iso_weekday, hr""",
      )),

    // ---- ext: exponentially time-decayed customer value (half-life
    // 30 days as exact power-of-two bucket decay) ----
    Gated("q235_decayed_value", (s, dir) =>
      graft.ext.Olap.decayedCustomerValue(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id")),
      OracleSql.withBase(
        """dva AS (SELECT max(creation_date) AS today FROM order_revenue),
         dvl AS (SELECT user_id,
                        CAST(round(total_revenue * 10000) AS BIGINT) AS cents,
                        least(datediff('day', creation_date, today) // 30, 40)
                          AS k
                 FROM order_revenue CROSS JOIN dva),
         dvq AS (SELECT user_id, cents,
                        (cents * 1000000) // CAST(power(2, k) AS BIGINT) AS dq
                 FROM dvl)""",
        """SELECT user_id, count(*) AS n_lines,
                round(CAST(sum(cents) AS BIGINT) / 10000.0, 6) AS revenue,
                round(CAST(sum(dq) AS BIGINT) / 10000000000.0, 6)
                  AS decayed_value
         FROM dvq GROUP BY 1 ORDER BY user_id""")),

    // ---- ext: share-of-wallet concentration deciles ----
    Gated("q236_wallet_share", (s, dir) =>
      graft.ext.Olap.walletShareDeciles(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("bucket")),
      OracleSql.withBase(
        """wsv AS (SELECT user_id, restaurant_id,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         AS cents
                FROM order_revenue GROUP BY 1, 2),
         wsu AS (SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
                        max(cents) AS top, count(*) AS n_venues
                 FROM wsv GROUP BY 1),
         wsb AS (SELECT user_id, total, top, n_venues,
                        least((top * 10) // total, 9) AS bucket
                 FROM wsu WHERE total > 0)""",
        """SELECT bucket, count(*) AS n_users,
                round(CAST(sum(top) AS BIGINT)
                  / CAST(CAST(sum(total) AS BIGINT) AS DOUBLE), 6)
                  AS pooled_share,
                round(CAST(sum(n_venues) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
                  AS avg_venues
         FROM wsb GROUP BY 1 ORDER BY bucket""")),

    // ---- ext: category monthly rank trajectories with MoM delta ----
    Gated("q240_rank_trajectory", (s, dir) =>
      graft.ext.Olap.categoryRankTrajectory(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("month"), col("rank")),
      OracleSql.withBase(
        """rtm AS (SELECT CAST(date_trunc('month', creation_date) AS DATE)
                          AS month,
                        item_category,
                        CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                          AS cents
                 FROM order_revenue GROUP BY 1, 2),
         rtr AS (SELECT month, item_category, cents,
                        dense_rank() OVER (PARTITION BY month
                          ORDER BY cents DESC, item_category ASC) AS rank
                 FROM rtm)""",
        """SELECT month, item_category,
                round(cents / 10000.0, 6) AS revenue, rank,
                lag(rank) OVER (PARTITION BY item_category ORDER BY month)
                  - rank AS rank_delta
         FROM rtr ORDER BY month, rank""")),

    // ---- ext: promo revenue share per ship month (TPC-H Q14 shape) ----
    Gated("q243_promo_share", (s, dir) =>
      graft.ext.Olap.promoShare(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("ship_month")),
      """WITH pm AS (
           SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE)
                    AS ship_month,
                  p.p_type,
                  CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS net_cents
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
         SELECT ship_month,
                round(CAST(sum(net_cents) AS BIGINT) / 100.0, 6)
                  AS total_revenue,
                round(CAST(sum(CASE WHEN p_type = 'PROMO'
                      THEN net_cents ELSE 0 END) AS BIGINT) / 100.0, 6)
                  AS promo_revenue,
                round(CAST(sum(CASE WHEN p_type = 'PROMO'
                      THEN net_cents ELSE 0 END) AS DOUBLE)
                  / CAST(sum(net_cents) AS BIGINT), 6) AS promo_share
         FROM pm GROUP BY 1 HAVING sum(net_cents) > 0
         ORDER BY ship_month"""),

    // ---- ext: monthly growth accounting (new / retained /
    // resurrected / churned user ledger) ----
    Gated("q248_growth_accounting", (s, dir) =>
      graft.ext.Olap.growthAccounting(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("month")),
      OracleSql.withBase(
        """gau AS (SELECT DISTINCT user_id,
                       year(creation_date) * 12 + month(creation_date) - 1
                         AS mi
                FROM order_revenue),
         gaf AS (SELECT user_id, mi,
                        lag(mi) OVER (PARTITION BY user_id ORDER BY mi)
                          AS prev,
                        lead(mi) OVER (PARTITION BY user_id ORDER BY mi)
                          AS nxt
                 FROM gau),
         gas AS (SELECT mi, count(*) AS n_active,
                        CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_new,
                        CAST(sum(CASE WHEN prev = mi - 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_retained,
                        CAST(sum(CASE WHEN prev IS NOT NULL
                              AND prev < mi - 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_resurrected
                 FROM gaf GROUP BY 1),
         gam AS (SELECT max(mi) AS max_mi FROM gau),
         gac AS (SELECT f.mi + 1 AS mi, count(*) AS n_churned
                 FROM gaf f CROSS JOIN gam m
                 WHERE (f.nxt IS NULL OR f.nxt > f.mi + 1)
                   AND f.mi + 1 <= m.max_mi
                 GROUP BY 1)""",
        """SELECT make_date(coalesce(s.mi, c.mi) // 12,
                          coalesce(s.mi, c.mi) % 12 + 1, 1) AS month,
                coalesce(s.n_active, 0) AS n_active,
                coalesce(s.n_new, 0) AS n_new,
                coalesce(s.n_retained, 0) AS n_retained,
                coalesce(s.n_resurrected, 0) AS n_resurrected,
                coalesce(c.n_churned, 0) AS n_churned
         FROM gas s FULL JOIN gac c ON s.mi = c.mi
         ORDER BY month""")),

    // ---- ext: price-ladder percentiles + premium index per category ----
    Gated("q249_price_ladder", (s, dir) =>
      graft.ext.Olap.priceLadder(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("item_category")),
      """WITH plu AS (
           SELECT p.p_type AS item_category,
                  CAST(round(l.l_extendedprice / l.l_quantity * 100)
                    AS BIGINT) AS uc
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         pla AS (
           SELECT item_category, count(*) AS n_lines,
                  quantile_cont(uc, 0.25) AS c25,
                  quantile_cont(uc, 0.5) AS c50,
                  quantile_cont(uc, 0.75) AS c75,
                  quantile_cont(uc, 0.9) AS c90
           FROM plu GROUP BY 1)
         SELECT item_category, n_lines,
                round(c25 / 100.0, 6) AS p25, round(c50 / 100.0, 6) AS p50,
                round(c75 / 100.0, 6) AS p75, round(c90 / 100.0, 6) AS p90,
                round(c90 / c50, 6) AS premium_index
         FROM pla WHERE c50 > 0 ORDER BY item_category"""),

    // ---- ext: market Lorenz curve (user revenue deciles) ----
    Gated("q250_lorenz_curve", (s, dir) =>
      graft.ext.Olap.lorenzCurve(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("decile")),
      OracleSql.withBase(
        """lzu AS (SELECT user_id,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         AS cents
                FROM order_revenue GROUP BY 1),
         lzd AS (SELECT user_id, cents,
                        ntile(10) OVER (ORDER BY cents ASC, user_id ASC)
                          AS decile
                 FROM lzu),
         lzt AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM lzu),
         lza AS (SELECT decile, count(*) AS n_users,
                        CAST(sum(cents) AS BIGINT) AS dc
                 FROM lzd GROUP BY 1),
         lzc AS (SELECT *, CAST(sum(dc) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_dc
                 FROM lza)""",
        """SELECT decile, n_users,
                round(CAST(dc AS DOUBLE) / total_cents, 6) AS revenue_share,
                round(CAST(cum_dc AS DOUBLE) / total_cents, 6) AS cum_share
         FROM lzc CROSS JOIN lzt ORDER BY decile""")),

    // ---- ext: Theil-T revenue inequality decomposed by supplier
    // nation (T = T_between + T_within exactly — the decomposability
    // Gini lacks) ----
    Gated("q329_theil", (s, dir) =>
      graft.ext.Olap.theilDecomposition(Conformed.orderRevenueCached(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir)),
      OracleSql.withBase(
        """thr AS (
             SELECT restaurant_id,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS x
             FROM order_revenue GROUP BY 1
             HAVING sum(round(total_revenue * 10000)) > 0),
         thn AS (SELECT n.n_name AS nation, r.x
                 FROM thr r
                 JOIN supplier s ON r.restaurant_id = s.s_suppkey
                 JOIN nation n ON s.s_nationkey = n.n_nationkey),
         thg AS (SELECT nation,
                        CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS xg,
                        CAST(count(*) AS BIGINT) AS ng
                 FROM thn GROUP BY 1),
         thx AS (SELECT CAST(sum(xg) AS HUGEINT) AS xx,
                        CAST(sum(ng) AS BIGINT) AS nn FROM thg),
         tht AS (SELECT t.nation,
                        CAST(sum(CAST(round(CAST(t.x AS DOUBLE)
                          / CAST(g.xg AS DOUBLE)
                          * ln(CAST(t.x AS DOUBLE) * g.ng
                            / CAST(g.xg AS DOUBLE)) * 1e9) AS BIGINT))
                          AS BIGINT) AS tgq,
                        CAST(sum(CAST(round(CAST(t.x AS DOUBLE)
                          / CAST(x2.xx AS DOUBLE)
                          * ln(CAST(t.x AS DOUBLE) * x2.nn
                            / CAST(x2.xx AS DOUBLE)) * 1e9) AS BIGINT))
                          AS BIGINT) AS ttq
                 FROM thn t JOIN thg g USING (nation) CROSS JOIN thx x2
                 GROUP BY 1),
         thp AS (SELECT g.nation, g.xg, g.ng, x2.xx, x2.nn, t.tgq, t.ttq,
                        CAST(round(CAST(g.xg AS DOUBLE)
                          / CAST(x2.xx AS DOUBLE)
                          * ln(CAST(g.xg AS DOUBLE) * x2.nn
                            / CAST(x2.xx AS DOUBLE) / g.ng) * 1e9)
                          AS BIGINT) AS tbv,
                        CAST(round(CAST(g.xg AS DOUBLE)
                          / CAST(x2.xx AS DOUBLE) * (t.tgq / 1e9) * 1e9)
                          AS BIGINT) AS twv
                 FROM thg g JOIN tht t USING (nation) CROSS JOIN thx x2),
         tho AS (SELECT CAST(sum(ttq) AS BIGINT) AS t_tot,
                        CAST(sum(tbv) AS BIGINT) AS t_bet,
                        CAST(sum(twv) AS BIGINT) AS t_wit FROM thp)""",
        """SELECT nation, ng AS n_restaurants,
                CAST((xg * 1000000 * 2 + xx) // (xx * 2) AS DOUBLE) / 1e6
                  AS rev_share,
                tgq / 1e9 AS theil_in_group, tbv / 1e9 AS between_term,
                t_tot / 1e9 AS t_total, t_bet / 1e9 AS t_between,
                t_wit / 1e9 AS t_within
         FROM thp CROSS JOIN tho ORDER BY nation""")),

    // ---- ext: monthly Laspeyres/Paasche/Fisher price indices over
    // the matched part basket (price vs basket movement) ----
    Gated("q331_price_index", (s, dir) =>
      graft.ext.Olap.priceIndex(Tables.lineitem(s, dir)),
      """WITH pim AS (
             SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
                    CAST(sum(round(l_extendedprice * 10000)) AS BIGINT)
                      AS cents,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS qty
             FROM lineitem GROUP BY 1, 2
             HAVING sum(round(l_quantity)) > 0),
           pib AS (SELECT min(m) AS m0 FROM pim),
           pi0 AS (SELECT p.l_partkey, p.cents AS cents0, p.qty AS qty0
                   FROM pim p CROSS JOIN pib b WHERE p.m = b.m0),
           pij AS (SELECT t.m, CAST(count(*) AS BIGINT) AS n_matched,
                          CAST(sum(CAST(round(CAST(t.cents AS DOUBLE)
                            * z.qty0 / t.qty) AS BIGINT)) AS BIGINT)
                            AS lnum,
                          CAST(sum(z.cents0) AS BIGINT) AS lden,
                          CAST(sum(t.cents) AS BIGINT) AS pnum,
                          CAST(sum(CAST(round(CAST(z.cents0 AS DOUBLE)
                            * t.qty / z.qty0) AS BIGINT)) AS BIGINT)
                            AS pden
                   FROM pim t JOIN pi0 z USING (l_partkey) GROUP BY 1),
           piq AS (SELECT *,
                          ((CAST(lnum AS HUGEINT) * 1000000 * 2) + lden)
                            // (lden * 2) AS lq,
                          ((CAST(pnum AS HUGEINT) * 1000000 * 2) + pden)
                            // (pden * 2) AS pq
                   FROM pij)
         SELECT m AS month, n_matched, lq / 1e6 AS laspeyres,
                pq / 1e6 AS paasche,
                CAST(round(sqrt((lq / 1e6) * (pq / 1e6)) * 1e6) AS BIGINT)
                  / 1e6 AS fisher
         FROM piq ORDER BY month"""),

    // ---- ext: Hill tail-index k-sweep of order revenue (does the
    // tail have finite variance? the inference-trust gate behind the
    // concentration tier) ----
    Gated("q334_hill_tail", (s, dir) =>
      graft.ext.Olap.hillTailIndex(Conformed.orderRevenueCached(s, dir)),
      OracleSql.withBase(
        s"""hlo AS (
             SELECT order_id,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1),
         hlt AS (SELECT cents,
                        row_number() OVER (ORDER BY cents DESC, order_id)
                          AS rk
                 FROM hlo),
         hlr AS (SELECT * FROM hlt WHERE rk <= 501)""",
        Seq(100, 250, 500).map { k =>
          s"""SELECT sp.k, a.x_threshold, a.hill_alpha
            FROM (SELECT CAST($k AS BIGINT) AS k) sp LEFT JOIN (
              SELECT CAST($k AS BIGINT) AS k, b.xk / 1e4 AS x_threshold,
                     CASE WHEN b.s > 0 THEN
                       CAST((CAST($k AS HUGEINT) * 1000000000 * 1000000 * 2
                             + b.s) // (b.s * 2) AS DOUBLE) / 1e6
                     END AS hill_alpha
              FROM (
                SELECT th.xk,
                       CAST(sum(CAST(round(ln(CAST(r.cents AS DOUBLE) / th.xk)
                         * 1e9) AS BIGINT)) AS BIGINT) AS s
                FROM hlr r CROSS JOIN
                     (SELECT cents AS xk FROM hlr WHERE rk = ${k + 1}) th
                WHERE r.rk <= $k
                GROUP BY th.xk) b) a ON sp.k = a.k"""
        }.mkString("\nUNION ALL\n") + "\nORDER BY k")),
  )
}
