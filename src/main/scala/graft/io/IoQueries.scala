package graft.io

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.Conformed
import graft.core.Tables
import graft.oracle.OracleSql

/** Gated queries over the interchange-format round-trips
  * (`graft.io.Formats`), each with its DuckDB mirror. */
object IoQueries {
  val all: Seq[Gated] = Seq(
    // ---- io: CSV round-trip of the conformed fact (schema-explicit;
    // the gate equals q01's oracle, so the format is proven lossless
    // for dates / doubles / nullable strings) ----
    Gated("q105_csv_roundtrip", (s, dir) => {
      val conformed = Conformed.orderRevenueCached(s, dir)
      val tmp = graft.core.Scratch.dir("graft-csv").toString
      graft.io.Formats.writeCsv(conformed, tmp)
      graft.io.Formats.readCsv(s, tmp, conformed.schema)
        .orderBy(col("order_id"), col("lineitem_id"), col("item_category"),
          col("item_price"), col("restaurant_id"))
    },
      // round-trips: the oracle never sees the interchange format — it
      // recomputes from parquet, so any CSV/ORC lossiness hash-fails
      OracleSql.withBase(
        """SELECT * FROM order_revenue
         ORDER BY order_id, lineitem_id, item_category, item_price,
                  restaurant_id""")),

    // ---- io: ORC round-trip of the raw fact (timestamps + doubles +
    // planted duplicate rows survive bit-exact) ----
    Gated("q106_orc_roundtrip", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val tmp = graft.core.Scratch.dir("graft-orc").toString
      graft.io.Formats.writeOrc(li, tmp)
      graft.io.Formats.readOrc(s, tmp, li.schema)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_quantity"))
    },
      """SELECT * FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity"""),

    // ---- io: JSON-lines interchange round-trip (schema-explicit read;
    // payload fidelity incl. unicode/newline escapes is the point) ----
    Gated("q69_json_roundtrip", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tmp = graft.core.Scratch.dir("graft-json").toString
      graft.io.Formats.writeJsonl(docs, tmp)
      graft.io.Formats.readJsonl(s, tmp, docs.schema).orderBy(col("doc_id"))
    },
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id"""),

    // ---- io: interchange-format round-trips (CSV / JSONL / ORC front
    // doors — write with pinned options, read back schema-enforced, and
    // the gate proves byte-fidelity per column type vs the parquet
    // original) ----
    Gated("q117_csv_roundtrip", (s, dir) => {
      val tmp = graft.core.Scratch.dir("graft-csv").toString
      val orders = Tables.orders(s, dir)
      graft.io.Formats.writeCsv(orders, s"$tmp/orders")
      graft.io.Formats.readCsv(s, s"$tmp/orders", orders.schema)
        .orderBy(col("o_orderkey"))
    },
      // Round-trips must return the table unchanged: the oracle is the
      // parquet original, so any CSV/JSON/ORC parse infidelity (null vs
      // '', timestamp precision, double shortest-digits) hash-fails.
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority
           FROM orders ORDER BY o_orderkey"""),
    Gated("q118_jsonl_roundtrip", (s, dir) => {
      val tmp = graft.core.Scratch.dir("graft-jsonl").toString
      val ev = Tables.events(s, dir)
      graft.io.Formats.writeJsonl(ev, s"$tmp/events")
      graft.io.Formats.readJsonl(s, s"$tmp/events", ev.schema)
        .orderBy(col("event_id"))
    },
      """SELECT event_id, ts, user_id, event_type, value, props
           FROM events ORDER BY event_id"""),
    Gated("q119_orc_roundtrip", (s, dir) => {
      val tmp = graft.core.Scratch.dir("graft-orc").toString
      val li = Tables.lineitem(s, dir)
      graft.io.Formats.writeOrc(li, s"$tmp/lineitem")
      graft.io.Formats.readOrc(s, s"$tmp/lineitem", li.schema)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                  l_extendedprice, l_discount, l_tax, l_returnflag,
                  l_linestatus, l_shipdate
           FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
  )
}
