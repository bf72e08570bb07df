package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables

object PruneQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: bloom-pruned semi join == plain semi join ----
    Gated("q104_bloom_join", (s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.ext.Prune.bloomPrunedSemiJoin(
          Tables.lineitem(s, dir), "l_orderkey", urgent, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    },
      // the oracle is the PLAIN key-set semi join — the gate proves the
      // bloom prefilter + exact join composite loses/keeps nothing
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         ORDER BY l_orderkey, l_linenumber, l_extendedprice"""),
  )
}
