package graft

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Gated queries over Spark's own relational surface (SQL text,
  * multiset set operations, schema evolution, `from_json`, the native
  * expressions), with no graft operator in between, each with its
  * DuckDB mirror. */
object EngineQueries {
  val all: Seq[Gated] = Seq(
    // ---- multiset set operations (INTERSECT ALL / EXCEPT ALL) ----
    Gated("q102_set_ops", (s, dir) => {
      val o = Tables.orders(s, dir)
      // half-open range, not year(col) === y: pushes into the parquet
      // scan (year() of the column cannot; see gold/Logistics.scala)
      def yr(y: Int) =
        o.filter(col("o_orderdate") >= lit(s"$y-01-01") &&
            col("o_orderdate") < lit(s"${y + 1}-01-01"))
          .select(col("o_custkey"))
      val ia = yr(1997).intersectAll(yr(1998)).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val ea = yr(1997).exceptAll(yr(1998)).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      ia.unionByName(ea).select(col("op"), col("o_custkey"), col("n"))
        .orderBy(col("op"), col("o_custkey"))
    },
      """WITH y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
         y98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998),
         ia AS (SELECT o_custkey FROM y97 INTERSECT ALL SELECT o_custkey FROM y98),
         ea AS (SELECT o_custkey FROM y97 EXCEPT ALL SELECT o_custkey FROM y98)
         SELECT 'intersect_all' AS op, o_custkey, count(*) AS n
         FROM ia GROUP BY 2
         UNION ALL
         SELECT 'except_all' AS op, o_custkey, count(*) AS n
         FROM ea GROUP BY 2
         ORDER BY op, o_custkey"""),

    // ---- the SQL front door: scalar subqueries + correlated EXISTS,
    // decorrelated by Catalyst (threshold compared in exact integer
    // units so the boundary never floats between engines) ----
    Gated("q107_sql_subqueries", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o.o_custkey, count(*) AS n_big_orders,
                  sum(round(o.o_totalprice * 10000)) / 10000.0 AS big_total
           FROM orders_v o
           WHERE round(o.o_totalprice * 10000)
                   * (SELECT count(*) FROM orders_v)
                 > (SELECT sum(round(o_totalprice * 10000)) FROM orders_v)
             AND EXISTS (SELECT 1 FROM orders_v i
                         WHERE i.o_custkey = o.o_custkey
                           AND year(i.o_orderdate) = 2001)
           GROUP BY o.o_custkey ORDER BY o.o_custkey""")
    },
      """SELECT o.o_custkey, count(*) AS n_big_orders,
                sum(round(o.o_totalprice * 10000)) / 10000.0 AS big_total
         FROM orders o
         WHERE round(o.o_totalprice * 10000)
                 * (SELECT count(*) FROM orders)
               > (SELECT sum(round(o_totalprice * 10000)) FROM orders)
           AND EXISTS (SELECT 1 FROM orders i
                       WHERE i.o_custkey = o.o_custkey
                         AND year(i.o_orderdate) = 2001)
         GROUP BY o.o_custkey ORDER BY o.o_custkey"""),

    // ---- schema evolution: two writer generations merged with
    // unionByName(allowMissingColumns) — absent columns become NULLs ----
    Gated("q109_schema_evolution", (s, dir) => {
      val o = Tables.orders(s, dir)
      val v1 = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .drop("o_orderpriority")
      val v2 = o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0)
        .withColumn("o_channel",
          concat(lit("ch"), pmod(col("o_orderkey"), lit(3)).cast("string")))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, CAST(NULL AS VARCHAR) AS o_orderpriority,
                CAST(NULL AS VARCHAR) AS o_channel
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority,
                'ch' || CAST(o_orderkey % 3 AS VARCHAR) AS o_channel
         FROM orders WHERE o_orderkey % 2 <> 0
         ORDER BY o_orderkey"""),

    // ---- ext: schema-enforced semi-structured extraction (from_json
    // over the raw props feed — typed struct, codegen'd, no UDF) ----
    Gated("q120_json_extract", (s, dir) => {
      val k = from_json(col("props"), "k LONG", Map.empty[String, String])
        .getField("k")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
      // The k extraction must match Spark's from_json("k LONG") on
      // HOSTILE payloads too, not just the gated feed: from_json nulls
      // out anything but a native in-range JSON integer, while a bare
      // CAST(json_extract_string(...)) coerces "5" to 5 and errors on
      // "5.5". The json_type guard pins the same nulling semantics
      // (quoted/float/bool/overflow/missing all -> NULL on both engines).
      """WITH j AS (
             SELECT event_type,
                    CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                         THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT)
                    END AS k
             FROM events)
           SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
                  CAST(sum(k) AS BIGINT) AS sum_k,
                  min(k) AS min_k, max(k) AS max_k
           FROM j GROUP BY 1 ORDER BY event_type"""),

    // ---- SQL front door for the NATIVE expressions: word_shingles /
    // char_shingles / vec_dot registered via GraftExtensions, exercised
    // through spark.sql end-to-end (the q107 pattern for the codegen
    // expression surface) ----
    Gated("q214_sql_native_fns", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
      Tables.embeddings(s, dir).createOrReplaceTempView("graft_embs")
      s.sql("""
        SELECT d.doc_id,
               CAST(size(word_shingles(lower(d.text))) AS BIGINT)
                 AS n_shingles,
               CAST(size(char_shingles(lower(d.text))) AS BIGINT)
                 AS n_chargrams,
               round(vec_dot(CAST(e.embedding AS ARRAY<DOUBLE>),
                             CAST(e.embedding AS ARRAY<DOUBLE>)), 6)
                 AS norm_sq
        FROM graft_docs d JOIN graft_embs e ON d.doc_id = e.vec_id
        ORDER BY d.doc_id""")
    },
      s"""WITH nft AS (
              SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS t
              FROM documents)
            SELECT d.doc_id,
                   CAST(len(${graft.functions.Portable.shinglesSql("t")})
                     AS BIGINT) AS n_shingles,
                   CAST(len(${graft.functions.Portable
                     .charShinglesSql("lower(d.text)", 5)})
                     AS BIGINT) AS n_chargrams,
                   round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])), 6)
                     AS norm_sq
            FROM documents d
            JOIN nft USING (doc_id)
            JOIN embeddings e ON d.doc_id = e.vec_id
            ORDER BY d.doc_id"""),
  )
}
