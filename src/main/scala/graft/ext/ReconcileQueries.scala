package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object ReconcileQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: cross-system reconciliation fingerprints (bucketed
    // order-independent checksums both engines derive independently) ----
    Gated("q95_fingerprint", (s, dir) =>
      graft.ext.Reconcile.fingerprint(Tables.orders(s, dir),
          keyCols = Seq(col("o_orderkey")),
          canonCols = Seq(
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 10000).cast("long"),
            col("o_orderdate").cast("date"), col("o_orderpriority")))
        .orderBy(col("bucket")),
      {
        val canon = Seq(
          "CAST(o_orderkey AS VARCHAR)",
          "CAST(o_custkey AS VARCHAR)",
          "o_orderstatus",
          "CAST(CAST(round(o_totalprice * 10000) AS BIGINT) AS VARCHAR)",
          "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
          "o_orderpriority")
          .map(e => s"coalesce($e, ' null')").mkString(", ")
        val keyCanon = "coalesce(CAST(o_orderkey AS VARCHAR), ' null')"
        s"""WITH c AS (SELECT $keyCanon AS kc, concat_ws('|', $canon) AS canon
                     FROM orders),
          h AS (SELECT ${graft.functions.Portable.h60Sql("kc")} % 16 AS bucket,
                       ${graft.functions.Portable.h60Sql("canon")} AS h FROM c)
          SELECT bucket, count(*) AS n_rows, bit_xor(h) AS xor_h,
                 CAST(CAST(sum(h) AS DECIMAL(38,0))
                      % ${graft.ext.Reconcile.SumModulus} AS BIGINT) AS sum_h
          FROM h GROUP BY 1 ORDER BY bucket"""
      }),
  )
}
