package graft.cdc

import org.apache.spark.sql.functions._

import graft.Gated
import graft.bindings.CdcFixture
import graft.core.Tables

/** Gated queries over the CDC operators: snapshot diff, merge, SCD2,
  * compaction and the watermark replay, each with its DuckDB mirror. */
object CdcQueries {
  val all: Seq[Gated] = Seq(
    // ---- cdc: snapshot diff (U1, U2, U3, J1, P7, P3, P14) ----
    Gated("q14_snapshot_diff", (s, dir) =>
      graft.cdc.SnapshotDiff(
        CdcFixture.current(s, dir), CdcFixture.previous(s, dir),
        pk = Seq("o_orderkey"))
        .drop("cdc_timestamp")
        .orderBy(col("o_orderkey"), col("cdc_action")),
      """WITH cdc_base AS (
           SELECT o_orderkey, max(o_custkey) AS custkey,
                  max(o_totalprice) AS totalprice,
                  max(CAST(o_orderdate AS DATE)) AS odate,
                  max(o_orderpriority) AS priority
           FROM orders GROUP BY 1),
         cdc_prev AS (
           SELECT o_orderkey, custkey,
                  CASE WHEN o_orderkey % 7 = 2 THEN totalprice + 100
                       ELSE totalprice END AS totalprice,
                  odate, priority
           FROM cdc_base WHERE o_orderkey % 10 != 3),
         cdc_cur AS (SELECT * FROM cdc_base WHERE o_orderkey % 13 != 5),
         ins AS (SELECT *, 'insert' AS cdc_action
                 FROM (SELECT * FROM cdc_cur EXCEPT SELECT * FROM cdc_prev)),
         upd AS (SELECT c.*, 'update' AS cdc_action
                 FROM cdc_cur c JOIN cdc_prev p USING (o_orderkey)
                 WHERE c.custkey <> p.custkey OR c.totalprice <> p.totalprice
                    OR c.odate <> p.odate OR c.priority <> p.priority),
         del AS (SELECT *, 'delete' AS cdc_action
                 FROM (SELECT * FROM cdc_prev EXCEPT SELECT * FROM cdc_cur))
         SELECT * FROM (SELECT * FROM ins UNION ALL SELECT * FROM upd
                        UNION ALL SELECT * FROM del)
         ORDER BY o_orderkey, cdc_action"""),

    // ---- cdc: merge the changeset back into the prior snapshot; the
    // result must BE the current snapshot (oracle derives it independently) ----
    Gated("q74_cdc_merge", (s, dir) =>
      graft.cdc.CdcApply.merge(
        CdcFixture.previous(s, dir),
        graft.cdc.SnapshotDiff(
          CdcFixture.current(s, dir), CdcFixture.previous(s, dir),
          pk = Seq("o_orderkey")),
        pk = Seq("o_orderkey"))
        .orderBy(col("o_orderkey")),
      // Independent derivation: merge(prev, diff(cur, prev)) must BE cdc_cur,
      // so the oracle just selects the current snapshot — any upsert-semantics
      // bug on the Spark side mismatches.
      """WITH cdc_base AS (
           SELECT o_orderkey, max(o_custkey) AS custkey,
                  max(o_totalprice) AS totalprice,
                  max(CAST(o_orderdate AS DATE)) AS odate,
                  max(o_orderpriority) AS priority
           FROM orders GROUP BY 1),
         cdc_cur AS (SELECT * FROM cdc_base WHERE o_orderkey % 13 != 5)
         SELECT * FROM cdc_cur ORDER BY o_orderkey"""),

    // ---- cdc: SCD Type-2 history from the snapshot pair ----
    Gated("q75_scd2", (s, dir) =>
      graft.cdc.CdcApply.scd2(
        CdcFixture.current(s, dir), CdcFixture.previous(s, dir),
        pk = Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("valid_from")),
      """WITH cdc_base AS (
           SELECT o_orderkey, max(o_custkey) AS custkey,
                  max(o_totalprice) AS totalprice,
                  max(CAST(o_orderdate AS DATE)) AS odate,
                  max(o_orderpriority) AS priority
           FROM orders GROUP BY 1),
         cdc_prev AS (
           SELECT o_orderkey, custkey,
                  CASE WHEN o_orderkey % 7 = 2 THEN totalprice + 100
                       ELSE totalprice END AS totalprice,
                  odate, priority
           FROM cdc_base WHERE o_orderkey % 10 != 3),
         cdc_cur AS (SELECT * FROM cdc_base WHERE o_orderkey % 13 != 5),
         hist AS (
           SELECT p.o_orderkey, p.custkey, p.totalprice, p.odate, p.priority,
                  CAST(1 AS BIGINT) AS valid_from,
                  CASE WHEN c.o_orderkey IS NULL
                            OR c.custkey IS DISTINCT FROM p.custkey
                            OR c.totalprice IS DISTINCT FROM p.totalprice
                            OR c.odate IS DISTINCT FROM p.odate
                            OR c.priority IS DISTINCT FROM p.priority
                       THEN CAST(2 AS BIGINT) END AS valid_to,
                  (c.o_orderkey IS NOT NULL
                   AND NOT (c.custkey IS DISTINCT FROM p.custkey
                            OR c.totalprice IS DISTINCT FROM p.totalprice
                            OR c.odate IS DISTINCT FROM p.odate
                            OR c.priority IS DISTINCT FROM p.priority)) AS is_current
           FROM cdc_prev p LEFT JOIN cdc_cur c ON p.o_orderkey = c.o_orderkey),
         fresh AS (
           SELECT c.o_orderkey, c.custkey, c.totalprice, c.odate, c.priority,
                  CAST(2 AS BIGINT) AS valid_from,
                  CAST(NULL AS BIGINT) AS valid_to, true AS is_current
           FROM cdc_cur c LEFT JOIN cdc_prev p ON c.o_orderkey = p.o_orderkey
           WHERE p.o_orderkey IS NULL
              OR c.custkey IS DISTINCT FROM p.custkey
              OR c.totalprice IS DISTINCT FROM p.totalprice
              OR c.odate IS DISTINCT FROM p.odate
              OR c.priority IS DISTINCT FROM p.priority)
         SELECT * FROM (SELECT * FROM hist UNION ALL SELECT * FROM fresh)
         ORDER BY o_orderkey, valid_from"""),

    // ---- cdc: bronze watermark two-run replay (C2/C3, reference entry
    // point cdc_metrics_job_bronze.py:57-90) — run 1 cold-starts the
    // watermark and ingests the pre-cutover world, run 2 ingests the
    // full extract THROUGH the stored watermark; the union of both
    // runs' append-only cdc landings must equal one clean partition of
    // the whole table, which the oracle derives independently ----
    Gated("q83_watermark_replay", (s, dir) => {
      val lake = graft.io.Lakehouse(
        graft.core.Scratch.dir("graft-replay").toString)
      val pipe = new graft.pipeline.CdcPipeline(s, lake, defaultWatermark = "1900-01-01")
      val orders = Tables.orders(s, dir)
      val cut = "1998-01-01 00:00:00"
      // run 1: the world as of the cutover; watermark advances to it
      pipe.bronzeFact(
        orders.filter(col("o_orderdate") < lit(cut).cast("timestamp")),
        "orders", "o_orderdate", runDate = "1998-01-01",
        cdcTs = lit(cut).cast("timestamp"), now = cut)
      // run 2: full current extract; only rows at/after the stored
      // watermark are ingested (>= re-reads the boundary instant)
      pipe.bronzeFact(
        orders, "orders", "o_orderdate", runDate = "2001-12-31",
        cdcTs = lit("2001-12-31 00:00:00").cast("timestamp"),
        now = "2001-12-31 00:00:00")
      // read the cdc zone root: partition discovery surfaces date= (the
      // runDate) and cdc_action=; both runs' landings come back in one scan
      s.read.parquet(s"${lake.root}/cdc/orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
          col("ingestion_timestamp"), col("cdc_action"), col("cdc_timestamp"))
        .orderBy(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    },
      """WITH o AS (SELECT DISTINCT * FROM orders),
             r1 AS (SELECT o.*, TIMESTAMP '1998-01-01 00:00:00' AS ts FROM o
                    WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
             r2 AS (SELECT o.*, TIMESTAMP '2001-12-31 00:00:00' AS ts FROM o
                    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
             u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority,
                  ts AS ingestion_timestamp, 'insert' AS cdc_action,
                  ts AS cdc_timestamp
           FROM u ORDER BY o_orderkey, o_orderdate, o_totalprice"""),

    // ---- cdc: change-log compaction (latest surviving state per key,
    // newest-delete keys drop) ----
    Gated("q94_cdc_compaction", (s, dir) => {
      val log = Tables.orders(s, dir).withColumn("cdc_action",
        when(pmod(col("o_orderkey"), lit(10)) === 0, "delete")
          .when(pmod(col("o_orderkey"), lit(3)) === 0, "update")
          .otherwise("insert"))
      graft.cdc.CdcApply.compactLog(log, Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("cdc_action"))
        .orderBy(col("o_custkey"))
    },
      """WITH log AS (
           SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'delete'
                       WHEN o_orderkey % 3 = 0 THEN 'update'
                       ELSE 'insert' END AS cdc_action
           FROM orders),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM log)
         SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, cdc_action
         FROM r WHERE rn = 1 AND cdc_action <> 'delete'
         ORDER BY o_custkey"""),
  )
}
