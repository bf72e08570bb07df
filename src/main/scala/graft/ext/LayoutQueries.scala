package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.oracle.ExtOracleSql

object LayoutQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: Z-order layout zone-map stats ----
    Gated("q78_zorder_stats", (s, dir) => {
      val src = Tables.orders(s, dir).select(
        (col("o_custkey") % 1024).as("ck"),
        (datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long") % 1024).as("ed"))
      graft.ext.Layout.zorderStats(src, "ck", "ed", bits = 10, prefixBits = 6)
        .orderBy(col("z_cell"))
    },
      ExtOracleSql.zorderStats(bits = 10, prefixBits = 6)),
  )
}
