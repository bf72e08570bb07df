package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.OracleSql

object AssociationQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: market-basket category co-occurrence with lift ----
    Gated("q112_category_lift", (s, dir) =>
      graft.ext.Association.categoryLift(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("cat_a"), col("cat_b")),
      OracleSql.withBase(
        """cloc AS (SELECT DISTINCT order_id, item_category AS cat
                  FROM order_revenue WHERE item_category IS NOT NULL),
         clt AS (SELECT cat, count(*) AS n_cat FROM cloc GROUP BY 1),
         cln AS (SELECT count(DISTINCT order_id) AS n_orders FROM cloc),
         clp AS (SELECT a.cat AS cat_a, b.cat AS cat_b, count(*) AS n_both
                 FROM cloc a JOIN cloc b
                   ON a.order_id = b.order_id AND a.cat < b.cat
                 GROUP BY 1, 2 HAVING count(*) >= 10)""",
        """SELECT cat_a, cat_b, n_both, ta.n_cat AS n_a, tb.n_cat AS n_b,
                round(n_both * n_orders / (ta.n_cat * tb.n_cat), 6) AS lift
         FROM clp JOIN clt ta ON clp.cat_a = ta.cat
                  JOIN clt tb ON clp.cat_b = tb.cat, cln
         ORDER BY cat_a, cat_b""")),

    // ---- ext: A-Priori frequent item pairs (support-pruned basket
    // self-join at the ITEM grain — pass 1+2 of the classic algorithm) ----
    Gated("q164_frequent_pairs", (s, dir) =>
      graft.ext.Association.frequentItemPairs(
          Tables.lineitem(s, dir).select(
            col("l_orderkey").as("basket"), col("l_partkey").as("item")),
          "basket", "item", minItemSupport = 20, minPairSupport = 2)
        .orderBy(col("item_a"), col("item_b")),
      """WITH fpb AS (SELECT DISTINCT l_orderkey AS basket_id,
                               l_partkey AS item
                        FROM lineitem),
             fpf AS (SELECT item, count(*) AS n_item FROM fpb
                     GROUP BY 1 HAVING count(*) >= 20),
             fpp AS (SELECT b.basket_id, b.item FROM fpb b
                     SEMI JOIN fpf f ON b.item = f.item),
             fpc AS (SELECT a.item AS item_a, c.item AS item_b,
                            count(*) AS n_both
                     FROM fpp a JOIN fpp c
                       ON a.basket_id = c.basket_id AND a.item < c.item
                     GROUP BY 1, 2 HAVING count(*) >= 2)
           SELECT item_a, item_b, n_both, fa.n_item AS n_a, fb.n_item AS n_b,
                  round(CAST(n_both AS DOUBLE) / fa.n_item, 6) AS confidence
           FROM fpc JOIN fpf fa ON fpc.item_a = fa.item
                    JOIN fpf fb ON fpc.item_b = fb.item
           ORDER BY item_a, item_b"""),

    // ---- ext: item-item collaborative filtering — top-k co-occurrence
    // cosine neighbors per part over order baskets ----
    Gated("q178_item_cf", (s, dir) =>
      graft.ext.Association.itemSimilarityTopK(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
          minCooc = 2, k = 5)
        .orderBy(col("item_a"), col("rank")),
      """WITH cfb AS (SELECT DISTINCT l_orderkey AS basket_id,
                               l_partkey AS item
                        FROM lineitem),
             cfc AS (SELECT item, count(*) AS n_item FROM cfb GROUP BY 1),
             cfh AS (SELECT a.item AS item_a, b.item AS item_b,
                            count(*) AS cooc
                     FROM cfb a JOIN cfb b
                       ON a.basket_id = b.basket_id AND a.item < b.item
                     GROUP BY 1, 2 HAVING count(*) >= 2),
             cfs AS (SELECT item_a, item_b, cooc FROM cfh
                     UNION ALL
                     SELECT item_b, item_a, cooc FROM cfh),
             cfj AS (SELECT s.item_a, s.item_b, s.cooc,
                            ca.n_item AS n_a, cb.n_item AS n_b,
                            s.cooc / sqrt(CAST(ca.n_item * cb.n_item AS DOUBLE))
                              AS cosine_raw
                     FROM cfs s
                     JOIN cfc ca ON s.item_a = ca.item
                     JOIN cfc cb ON s.item_b = cb.item),
             cfr AS (SELECT *, row_number() OVER (PARTITION BY item_a
                       ORDER BY cosine_raw DESC, item_b) AS rank
                     FROM cfj)
           SELECT item_a, rank, item_b, cooc, n_a, n_b,
                  round(cosine_raw, 6) AS cosine
           FROM cfr WHERE rank <= 5 ORDER BY item_a, rank"""),

    // ---- ext: directed association rules (confidence/lift/leverage)
    // over the A-Priori-pruned pair table ----
    Gated("q187_assoc_rules", (s, dir) =>
      graft.ext.Association.associationRules(
          Tables.lineitem(s, dir).select(
            col("l_orderkey").as("basket"), col("l_partkey").as("item")),
          "basket", "item", minItemSupport = 20, minPairSupport = 2)
        .orderBy(col("antecedent"), col("consequent")),
      """WITH arb AS (SELECT DISTINCT l_orderkey AS basket_id,
                               l_partkey AS item
                        FROM lineitem),
             arn AS (SELECT count(DISTINCT basket_id) AS n_baskets FROM arb),
             arf AS (SELECT item, count(*) AS n_item FROM arb
                     GROUP BY 1 HAVING count(*) >= 20),
             arp AS (SELECT b.basket_id, b.item FROM arb b
                     SEMI JOIN arf f ON b.item = f.item),
             arc AS (SELECT a.item AS item_a, c.item AS item_b,
                            count(*) AS n_both
                     FROM arp a JOIN arp c
                       ON a.basket_id = c.basket_id AND a.item < c.item
                     GROUP BY 1, 2 HAVING count(*) >= 2),
             ars AS (SELECT item_a AS antecedent, item_b AS consequent,
                            n_both FROM arc
                     UNION ALL
                     SELECT item_b, item_a, n_both FROM arc)
           SELECT s.antecedent, s.consequent, s.n_both,
                  fa.n_item AS n_ant, fc.n_item AS n_cons,
                  round(CAST(s.n_both AS DOUBLE) / fa.n_item, 6)
                    AS confidence,
                  round((CAST(s.n_both AS DOUBLE) * arn.n_baskets)
                        / (fa.n_item * fc.n_item), 6) AS lift,
                  round(CAST(s.n_both AS DOUBLE) / arn.n_baskets
                        - (CAST(fa.n_item AS DOUBLE) / arn.n_baskets)
                          * (CAST(fc.n_item AS DOUBLE) / arn.n_baskets), 6)
                    AS leverage
           FROM ars s
           JOIN arf fa ON s.antecedent = fa.item
           JOIN arf fc ON s.consequent = fc.item
           CROSS JOIN arn
           ORDER BY antecedent, consequent"""),

    // ---- ext: temporal recommender backtest (hit-rate@3 by profile
    // breadth; last-order holdout) ----
    Gated("q262_cf_backtest", (s, dir) =>
      graft.ext.Association.cfBacktest(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("n_train_cats")),
      OracleSql.withBase(
        """cfo AS (SELECT user_id, order_id, creation_date,
                        item_category AS cat
                 FROM order_revenue),
         cfl AS (SELECT user_id, order_id,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY creation_date DESC, order_id DESC) AS rn
                 FROM (SELECT DISTINCT user_id, order_id, creation_date
                       FROM cfo) z),
         cfho AS (SELECT user_id, order_id AS ho FROM cfl WHERE rn = 1),
         cft AS (SELECT o.*, h.ho FROM cfo o JOIN cfho h USING (user_id)),
         cftr AS (SELECT * FROM cft WHERE order_id != ho),
         cfhold AS (SELECT DISTINCT user_id, cat FROM cft
                    WHERE order_id = ho),
         cfb AS (SELECT DISTINCT order_id AS basket_id, cat AS item
                 FROM cftr),
         cfcnt AS (SELECT item, count(*) AS n_item FROM cfb GROUP BY 1),
         cfhalf AS (SELECT a.item AS item_a, b.item AS item_b,
                           count(*) AS cooc
                    FROM cfb a JOIN cfb b
                      ON a.basket_id = b.basket_id AND a.item < b.item
                    GROUP BY 1, 2 HAVING count(*) >= 2),
         cfsym AS (SELECT item_a, item_b, cooc FROM cfhalf
                   UNION ALL
                   SELECT item_b, item_a, cooc FROM cfhalf),
         cfsim AS (SELECT s.item_a, s.item_b,
                          CAST(round(s.cooc /
                            sqrt(CAST(ca.n_item * cb.n_item AS DOUBLE))
                            * 1e6) AS BIGINT) AS simq
                   FROM cfsym s
                   JOIN cfcnt ca ON s.item_a = ca.item
                   JOIN cfcnt cb ON s.item_b = cb.item),
         cfprof AS (SELECT DISTINCT user_id, cat FROM cftr),
         cfsc AS (SELECT p.user_id, s.item_b AS cand,
                         CAST(sum(s.simq) AS BIGINT) AS score
                  FROM cfprof p JOIN cfsim s ON p.cat = s.item_a
                  GROUP BY 1, 2),
         cfscx AS (SELECT sc.* FROM cfsc sc
                   WHERE NOT EXISTS (SELECT 1 FROM cfprof p
                                     WHERE p.user_id = sc.user_id
                                       AND p.cat = sc.cand)),
         cfrec AS (SELECT user_id, cand FROM (
                     SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY score DESC, cand ASC) AS rk
                     FROM cfscx) z
                   WHERE rk <= 3),
         cfhit AS (SELECT DISTINCT r.user_id FROM cfrec r
                   JOIN cfhold h
                     ON r.user_id = h.user_id AND r.cand = h.cat),
         cfbr AS (SELECT user_id, least(count(*), 12) AS n_train_cats
                  FROM cfprof GROUP BY 1),
         cfa AS (SELECT b.n_train_cats, count(*) AS n_users,
                        CAST(sum(CASE WHEN t.user_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
                 FROM (SELECT DISTINCT user_id FROM cfhold) e
                 JOIN cfbr b USING (user_id)
                 LEFT JOIN cfhit t ON e.user_id = t.user_id
                 GROUP BY 1)""",
        """SELECT n_train_cats, n_users, n_hits,
                ((n_hits * 1000000 * 2 + n_users) // (n_users * 2))
                  / 1000000.0 AS hit_rate
         FROM cfa ORDER BY n_train_cats""")),
  )
}
