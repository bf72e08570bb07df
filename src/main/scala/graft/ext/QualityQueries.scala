package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object QualityQueries {
  // q180: one UNION ALL arm per FK check; NULL child keys count as
  // orphans (they can't join), mirroring the left-join-null counter.
  private def fkArm(child: String, ck: String, parent: String, pk: String) =
    s"""SELECT '$child.$ck -> $parent.$pk' AS fk,
            '$child' AS child_table, '$parent' AS parent_table,
            (SELECT count(*) FROM $child) AS n_child,
            (SELECT count(*) FROM $child c WHERE c.$ck IS NULL
               OR NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))
              AS n_orphans"""
  private val fkAuditSql = Seq(
    fkArm("lineitem", "l_orderkey", "orders", "o_orderkey"),
    fkArm("lineitem", "l_partkey", "part", "p_partkey"),
    fkArm("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    fkArm("orders", "o_custkey", "customer", "c_custkey"),
    fkArm("customer", "c_nationkey", "nation", "n_nationkey"),
    fkArm("supplier", "s_nationkey", "nation", "n_nationkey"),
    fkArm("nation", "n_regionkey", "region", "r_regionkey"))
    .mkString(
      "SELECT fk, child_table, parent_table, n_child, n_orphans,\n" +
        "  round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_share\n" +
        "FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fk")

  val all: Seq[Gated] = Seq(
    // ---- ext: referential-integrity audit — every FK check of a child
    // table rides one key-column scan; orphan counts + shares ----
    Gated("q180_fk_audit", (s, dir) => {
      val q = graft.ext.Quality
      q.fkOrphans(Tables.lineitem(s, dir), "lineitem", Seq(
          ("l_orderkey", Tables.orders(s, dir), "o_orderkey", "orders"),
          ("l_partkey", Tables.part(s, dir), "p_partkey", "part"),
          ("l_suppkey", Tables.supplier(s, dir), "s_suppkey", "supplier")))
        .unionByName(q.fkOrphans(Tables.orders(s, dir), "orders", Seq(
          ("o_custkey", Tables.customer(s, dir), "c_custkey", "customer"))))
        .unionByName(q.fkOrphans(Tables.customer(s, dir), "customer", Seq(
          ("c_nationkey", Tables.nation(s, dir), "n_nationkey", "nation"))))
        .unionByName(q.fkOrphans(Tables.supplier(s, dir), "supplier", Seq(
          ("s_nationkey", Tables.nation(s, dir), "n_nationkey", "nation"))))
        .unionByName(q.fkOrphans(Tables.nation(s, dir), "nation", Seq(
          ("n_regionkey", Tables.region(s, dir), "r_regionkey", "region"))))
        .orderBy(col("fk"))
    },
      fkAuditSql),

    // ---- ext: declarative data-quality rule audit (one pass; the
    // same SQL strings drive the plan and the oracle) ----
    Gated("q239_dq_rules", (s, dir) =>
      graft.ext.Quality.dqRuleAudit(
          Tables.lineitem(s, dir), graft.ext.Quality.LineitemRules)
        .orderBy(col("rule")),
      graft.ext.Quality.dqRuleAuditSql("lineitem", graft.ext.Quality.LineitemRules)),

    // ---- ext: exact column profile (one-pass Deequ-analyzer shape:
    // nulls, exact distincts, type-aware min/max per column) ----
    Gated("q311_column_profile", (s, dir) =>
      graft.ext.Quality.columnProfile(
        Tables.orders(s, dir), graft.ext.Quality.OrdersProfile),
      graft.ext.Quality.columnProfileSql(
        "orders", graft.ext.Quality.OrdersProfile)),
  )
}
