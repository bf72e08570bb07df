package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout tooling: Z-order (Morton) interleaving for
  * multi-dimensional data skipping — the OPTIMIZE ZORDER capability of
  * lakehouse table formats. Sorting a table by the interleaved key
  * clusters rows that are close in BOTH dimensions into the same files,
  * so min/max zone maps prune scans for predicates on either column —
  * the single-column sort only ever prunes one.
  *
  * Everything here is integer bit math over codegen'd built-ins
  * (shift/and/or) — no UDFs, bit-exact on any engine.
  */
object Layout {

  /** Morton code: interleave the low `bits` bits of `a` (odd positions)
    * and `b` (even positions) into one long. Inputs must already be
    * bucketized to `[0, 2^bits)` — at scale, bucketize by range
    * boundaries from a stats pass, or modulo for hash-like ids. */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** The z-curve locality report: bucket rows by the top `prefixBits`
    * of their z-value (= the coarse z-curve cell) and emit per-cell
    * counts and min/max of each dimension — exactly the zone-map a
    * scan planner would prune on. Tight per-cell dim ranges are the
    * quantified locality claim. One projection + one hash agg. */
  def zorderStats(
      df: DataFrame, aCol: String, bCol: String,
      bits: Int, prefixBits: Int): DataFrame = {
    require(prefixBits >= 1 && prefixBits <= 2 * bits)
    val z = zValue(col(aCol), col(bCol), bits)
    df.select(col(aCol).as("a"), col(bCol).as("b"), z.as("z"))
      .groupBy(shiftright(col("z"), 2 * bits - prefixBits).as("z_cell"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("a")).as("min_a"), max(col("a")).as("max_a"),
        min(col("b")).as("min_b"), max(col("b")).as("max_b"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
  }
}
