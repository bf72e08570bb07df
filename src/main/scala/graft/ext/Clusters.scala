package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair list — the clustering stage that
  * turns pairwise near-dup hits (MinHash/LSH, SimHash, embedding cosine)
  * into dedup groups with one canonical representative each.
  *
  * Pairwise output alone cannot drive deduplication: if A~B and B~C the
  * pipeline must keep exactly one of {A,B,C}, which requires the
  * transitive closure. The reference has no analogue (its dedup is keyed
  * `dropDuplicates`, `scripts/cdc_metrics_job_silver.py:66,90`); this is
  * the corpus-scale completion of that capability.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with itself; each round every node takes the minimum label in
  * its closed neighborhood; converged when no label changes. Rounds are
  * bounded by the longest shortest-path to a component's minimum — for
  * near-dup graphs (tiny dense clusters, the LSH banding model) that is
  * 2–3 rounds. Each round is one shuffle (join on `src` + min-agg on
  * `dst`); lineage is truncated per round with `localCheckpoint` so the
  * plan stays O(1) deep regardless of iteration count.
  *
  * At extreme diameters (adversarial chains) swap the propagation loop
  * for the large-star/small-star contraction of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" (SoCC '14) — same
  * join-shape per round, O(log²) rounds. The API is unchanged; near-dup
  * workloads never get there.
  */
object Clusters {

  /** Transitive closure of an undirected pair list.
    *
    * @param pairs two id columns (e.g. `id_a`, `id_b`), one row per edge
    * @return one row per node appearing in any pair:
    *         (id, cluster_id = min node id of its component)
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxRounds: Int = 25): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(true)
    // the bare checkpoint frame of the round `labels` currently reads
    // from — freed once the NEXT round has eagerly materialized, else
    // every superseded round's full node-label table stays pinned for
    // the session (one block set per round per call, node-grain at
    // 100 TB — guide §5)
    var prevCp = labels
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // min label over the closed neighborhood: each edge carries its
      // src's label to dst; a node keeps min(own, incoming)
      val incoming = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val next = labels
        .join(incoming, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (col("nbr_min") < col("cluster_id")).as("shrunk"))
        .localCheckpoint(true)
      changed = next.filter(col("shrunk")).count()
      graft.core.CacheLifecycle.freeSupersededCheckpoint(prevCp)
      prevCp = next
      labels = next.drop("shrunk")
      round += 1
    }
    edges.unpersist()
    // exiting on maxRounds with changed > 0 would silently return SPLIT
    // components (labels short of the fixpoint) — wrong dedup keeps, and
    // an oracle mismatch with no pointer at the cause; fail loudly instead
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds " +
        "(component diameter exceeds maxRounds; raise it or switch to the " +
        "large-star/small-star decomposition for high-diameter graphs)")
    labels
  }

  /** Fixed-iteration PageRank over an undirected pair list — the
    * link-analysis quality prior of corpus curation (rank docs by how
    * central they sit in the near-dup / citation / link graph).
    *
    * Cross-engine exactness: float PageRank is order-dependent (per-node
    * sums of double contributions), so this runs ENTIRELY in integer
    * arithmetic — ranks are 1e-9 units (longs), each iteration
    * `units' = (100−d)·SCALE div (100·n) + Σ_in (d·units) div (100·deg)`
    * with integral `div`; sums of longs are order-independent, so the
    * result is bit-identical on any engine that mirrors the recurrence.
    * Dangling mass leaks (no redistribution) — documented contract, same
    * on both sides; floors lose ≤1 unit per edge per round.
    *
    * Shape per iteration: one join of edges⨝(ranks, degrees) + one
    * hash-agg on dst + a left join back to the node list — two shuffles,
    * the standard distributed PageRank step. `localCheckpoint` truncates
    * lineage per round (O(1) plan depth at any iteration count). The
    * node count rides in as a broadcast scalar, not a driver constant.
    *
    * Pins: every superseded round's checkpoint, `base` and the edge
    * cache are freed before return, but two eager checkpoints stay
    * pinned for the session: `deg` and the final ranks, which the
    * returned frame reads (checkpoint blocks cannot be recomputed, so
    * they cannot be freed while the result is live). `clearCache()`
    * does not reach them; Spark's ContextCleaner frees them at a GC
    * after the caller has dropped the result. A caller that owns the
    * final action and calls this repeatedly frees them itself: take
    * `sparkContext.getPersistentRDDs.keySet` before the call, and after
    * its last action on the result unpersist the RDD ids the call added
    * (`ClustersSpec` counts the same difference).
    *
    * @param pairs undirected edges (one row per pair, `id_a`/`id_b`)
    * @param nodes one row per graph node (isolated nodes rank at the
    *              teleport floor)
    * @return (id, degree, rank_units, pagerank), rank_units exact */
  def pageRank(
      pairs: DataFrame, nodes: DataFrame, idCol: String,
      iterations: Int = 3, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1 && dampingPct > 0 && dampingPct < 100)
    val Scale = 1000000000L
    val teleportNum = (100L - dampingPct) * Scale

    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // node-grain degrees, EAGER (the ranks localCheckpoint rule): the
    // final select joins deg after edges.unpersist() below — left lazy,
    // the caller's action would re-run the edge union+distinct shuffle
    // from source against a dropped cache
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)

    val nRow = nodes.select(count(lit(1)).as("n"))
    val base = nodes.select(col(idCol).as("id"))
      .crossJoin(broadcast(nRow))
      .localCheckpoint(true)

    var ranks = base.select(col("id"), col("n"), expr(s"$Scale div n").as("units"))
    (1 to iterations).foreach { i =>
      val contrib = edges
        .join(deg, Seq("src"))
        .join(ranks.select(col("id").as("src"), col("units")), Seq("src"))
        .select(col("dst"), expr(s"($dampingPct * units) div (100 * deg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val prev = ranks
      ranks = base
        .join(contrib, base("id") === contrib("dst"), "left")
        .select(col("id"), col("n"),
          (expr(s"$teleportNum div (100 * n)") + coalesce(col("s"), lit(0L)))
            .as("units"))
        .localCheckpoint(true)
      // the new ranks checkpoint is eagerly materialized: the
      // superseded round's pinned table is unreachable — free it.
      // (Iteration 1's `prev` is the lazy seed over `base`, which
      // stays live for every round.)
      if (i > 1) graft.core.CacheLifecycle.freeSupersededCheckpoint(prev)
    }
    edges.unpersist()
    // base fed only the in-loop joins; the final ranks checkpoint is
    // materialized, so base's pinned blocks are unreachable too
    graft.core.CacheLifecycle.freeSupersededCheckpoint(base)
    ranks
      .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("deg"), lit(0L)).as("degree"),
        col("units").as("rank_units"),
        (col("units") / 1e9).as("pagerank"))
  }

  /** Per-node triangle counts over an undirected pair list — the
    * clustering-coefficient primitive (community density, link-spam and
    * bot-ring detection over co-occurrence graphs).
    *
    * Degree-ordered compact-forward counting: every edge is oriented
    * from its (degree, id)-smaller endpoint to the larger, turning the
    * graph into a DAG in which each triangle appears as EXACTLY one
    * wedge (two out-edges of one apex) plus its closing edge. The
    * orientation is the scale move: wedge fan-out is Σ out-degree², and
    * out-degree is bounded by ~√(2·|E|) under degree ordering — a
    * celebrity node with 10⁷ neighbors generates no wedges at all
    * because its edges all point INTO it. Naive id-ordering would
    * square the hub's degree instead.
    *
    * Shape: two node-keyed joins to attach degrees, one self-join on
    * the apex, one edge-existence semi-join, one count — all hash
    * joins/aggregates on ids, no iteration. */
  def triangleCounts(
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val canon = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = canon.select(col("u").as("id"))
      .union(canon.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("dd"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e1 = oriented.select(col("src"), col("dst").as("a"), col("dd").as("da"))
    val e2 = oriented.select(col("src"), col("dst").as("b"), col("dd").as("db"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
    val closed = wedges.join(
      oriented.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"),
      "left_semi")
    // oriented stays persisted: it feeds e1, e2, AND the closing-edge
    // probe (an eager unpersist here would cancel the cache before the
    // consuming action ever runs — lazy evaluation)
    val tri = closed.select(col("src").as("node"))
      .union(closed.select(col("a").as("node")))
      .union(closed.select(col("b").as("node")))
    tri.groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Near-dup clusters of a document corpus: LSH-verified pairs at
    * `minJaccard` or above → connected components → cluster membership
    * with size and a canonical-keeper flag (the component's min id — the
    * row a dedup pipeline keeps). Singletons (docs with no near-dup) are
    * not emitted; they are trivially their own keeper. */
  def nearDupClusters(
      docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5): DataFrame = {
    val pairs = Dedup.lshVerifiedPairs(docs, idCol, textCol)
      .filter(col("jaccard") >= minJaccard)
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster_id"))
      .select(col("id").as(idCol), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("is_canonical"))
  }

  /** Near-dup cluster SIZE distribution — the dedup impact summary
    * ([[nearDupClusters]] lists members; this answers "how much would
    * keep-one-per-cluster shrink the corpus, and is duplication a few
    * huge template families or many small pairs"). Unclustered docs
    * appear as the size-1 row, so Σ n_docs reconciles to the corpus.
    *
    * Shape: the CC output reduces to cluster grain then to a size
    * histogram (both mart-sized; the histogram is persisted because the
    * singleton row re-reads it — Catalyst would otherwise re-run the
    * whole LSH+CC subtree for two scalar aggregates). Exact integer
    * counts; the share is one division. */
  def clusterSizeHistogram(
      docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5): DataFrame = {
    val hist = nearDupClusters(docs, idCol, textCol, minJaccard)
      .select(col("cluster_id"), col("cluster_size")).distinct()
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(hist)
    val total = docs.agg(count(lit(1)).as("n_total"))
    val inClusters = hist
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_in"))
    val singletons = total.crossJoin(inClusters)
      .filter(col("n_total") > col("n_in"))
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_in")).as("n_clusters"),
        (col("n_total") - col("n_in")).as("n_docs"))
    hist.unionByName(singletons)
      .crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6)
          .as("doc_share"))
  }
}
