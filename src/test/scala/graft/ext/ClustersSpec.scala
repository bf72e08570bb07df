package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chain, triangle, pair, cross-cluster isolation") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (pair)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got === Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: long chain needs multiple propagation rounds") {
    // path 0-1-2-...-19: min label must walk the full diameter
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs)
    assert(got.count() === 20)
    assert(got.select(countDistinct(col("cluster_id"))).head.getLong(0) === 1)
    assert(got.agg(min("cluster_id"), max("cluster_id")).head ===
      org.apache.spark.sql.Row(0L, 0L))
  }

  test("iterative checkpoints: superseded rounds free, result stays actionable") {
    // path 0-1-...-19 forces many propagation rounds; before the
    // freeSupersededCheckpoint calls every round's node-label table
    // stayed pinned for the session (one RDD per round). Counted as the
    // ids each step ADDS, so RDDs other suites persist or free on the
    // shared context do not shift the bound.
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val base = persisted
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs)
    assert(got.count() === 20)
    // the result frame must survive a SECOND action (its own checkpoint
    // was never freed — only superseded rounds)
    assert(got.select(countDistinct(col("cluster_id"))).head.getLong(0) === 1)
    val afterCc = persisted
    val ccPinned = afterCc -- base
    assert(ccPinned.size <= 1,
      s"CC leaked iteration checkpoints: ${ccPinned.toSeq.sorted}")

    val nodes = (0L until 20L).toDF("id")
    val pr = Clusters.pageRank(pairs, nodes, "id", iterations = 3)
    assert(pr.count() === 20)
    assert(pr.count() === 20) // second action: deg + final ranks intact
    val prPinned = persisted -- afterCc
    assert(prPinned.size <= 2,
      s"pageRank leaked iteration checkpoints: ${prPinned.toSeq.sorted}")
  }

  test("connectedComponents equals driver union-find on random graphs") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rng.nextInt(40)
      val edges = Seq.fill(n) {
        (rng.nextInt(50).toLong, rng.nextInt(50).toLong)
      }.filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(v => v -> find(v)).toMap
      val got = Clusters.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"trial $trial, ${edges.size} edges")
    }
  }

  test("nearDupClusters emits only multi-member clusters with min-id canonical") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val cl = Clusters.nearDupClusters(docs, "doc_id", "text", minJaccard = 0.5)
      .cache()
    val bad = cl.filter(col("cluster_size") < 2).count()
    assert(bad === 0) // singletons are not emitted
    // exactly one canonical per cluster, and it is the min id
    val canon = cl.groupBy("cluster_id")
      .agg(sum(when(col("is_canonical"), 1).otherwise(0)).as("n_canon"),
        min("doc_id").as("min_id"))
    assert(canon.filter(col("n_canon") =!= 1).count() === 0)
    assert(canon.filter(col("min_id") =!= col("cluster_id")).count() === 0)
    cl.unpersist()
  }

  test("triangleCounts: K4 minus an edge, hub orientation, dedup of input") {
    import spark.implicits._
    // K4 on {1,2,3,4} minus edge (3,4): triangles (1,2,3) and (1,2,4).
    // Node 1 and 2 sit in both; 3 and 4 in one each. Edges arrive
    // unordered and duplicated — canonicalization must absorb both.
    val pairs = Seq(
      (1L, 2L), (2L, 1L), // duplicate reversed edge
      (1L, 3L), (1L, 4L), (3L, 2L), (2L, 4L), (1L, 1L) // self-loop dropped
    ).toDF("id_a", "id_b")
    val got = Clusters.triangleCounts(pairs)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got === Seq(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    // a triangle-free star produces no rows at all
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    assert(Clusters.triangleCounts(star).count() === 0)
  }

  test("pageRank: exact integer recurrence on a star graph, teleport floor for isolates") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node_id")
    // hand-run one iteration: n=5, r0 = 1e9 div 5 = 200_000_000,
    // teleport = 15e9 div 500 = 30_000_000; center deg 3, leaves deg 1
    val one = Clusters.pageRank(pairs, nodes, "node_id", iterations = 1)
      .orderBy("node_id")
      .select($"node_id", $"degree", $"rank_units")
      .as[(Long, Long, Long)].collect().toSeq
    assert(one == Seq(
      (1L, 3L, 30000000L + 3 * (85L * 200000000L / 100L)),       // 540_000_000
      (2L, 1L, 30000000L + 85L * 200000000L / 300L),             //  86_666_666
      (3L, 1L, 30000000L + 85L * 200000000L / 300L),
      (4L, 1L, 30000000L + 85L * 200000000L / 300L),
      (5L, 0L, 30000000L)))                                       // isolated
    // three iterations: mass never exceeds SCALE (floors only leak),
    // the hub stays on top, symmetric leaves stay tied
    val three = Clusters.pageRank(pairs, nodes, "node_id", iterations = 3)
      .select($"node_id", $"rank_units").as[(Long, Long)].collect().toMap
    assert(three.values.sum <= 1000000000L)
    assert(three(1L) > three(2L) && three(2L) == three(3L) && three(3L) == three(4L))
    assert(three(5L) == 30000000L)
  }
}
