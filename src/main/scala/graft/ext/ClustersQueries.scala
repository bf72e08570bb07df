package graft.ext

import org.apache.spark.sql.functions._

import graft.Gated
import graft.core.Tables
import graft.oracle.ExtOracleSql

object ClustersQueries {
  val all: Seq[Gated] = Seq(
    // ---- ext: near-dup clustering (connected components over LSH pairs) ----
    Gated("q43_dup_clusters", (s, dir) =>
      graft.ext.Clusters.nearDupClusters(
          Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.5)
        .orderBy(col("doc_id")),
      ExtOracleSql.dupClusters(minJaccard = 0.5)),

    // ---- ext: PageRank quality prior over the near-dup graph ----
    Gated("q77_pagerank", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Clusters.pageRank(
          Dedup.lshVerifiedPairs(docs, "doc_id", "text")
            .filter(col("jaccard") >= 0.5),
          docs, "doc_id", iterations = 3)
        .orderBy(col("doc_id"))
    },
      ExtOracleSql.pageRank(minJaccard = 0.5, iterations = 3)),

    // ---- ext: degree-ordered triangle counting over the co-purchase
    // graph (parts sharing >= 2 orders) ----
    Gated("q123_triangles", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val edges = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_a"))
        .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_b")),
          Seq("ok"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("id_a"), col("id_b"))
      graft.ext.Clusters.triangleCounts(edges)
        .orderBy(col("node"))
    },
      // Oracle counts each triangle once via the id-ordered triple join
      // (u<v<w) — orientation-independent, so it checks the Spark side's
      // degree-ordered counting without sharing its mechanism.
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2 HAVING count(*) >= 2),
             t AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
                   FROM e e1
                   JOIN e e2 ON e2.u = e1.v
                   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
             n AS (SELECT x AS node FROM t
                   UNION ALL SELECT y FROM t
                   UNION ALL SELECT z FROM t)
           SELECT node, count(*) AS n_triangles
           FROM n GROUP BY 1 ORDER BY node"""),

    // ---- ext: near-dup cluster size distribution (dedup impact
    // summary; size-1 row reconciles to the corpus) ----
    Gated("q204_cluster_sizes", (s, dir) =>
      graft.ext.Clusters.clusterSizeHistogram(
          Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.5)
        .orderBy(col("cluster_size")),
      ExtOracleSql.clusterSizeHistogram(minJaccard = 0.5)),
  )
}
