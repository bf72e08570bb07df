package graft.ext

import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DENSE tier's 100 TB index-shape rehearsal (r14 verdict #3 —
  * q345's sibling for IVF): the cell-bucketed DISK index must (a) yield
  * bit-identical probe results to the in-memory assignment frame, and
  * (b) actually deliver the shape's claim — the intra-cell self-join
  * and the per-(vec, cell) top-k aggregate consume the bucketed scan
  * WITHOUT a shuffle exchange, while the same data re-read as plain
  * parquet must shuffle. */
class IvfDiskIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planText(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def shuffles(plan: String): Int = plan.linesIterator
    .count(l => l.matches("""\(\d+\) Exchange.*""") &&
      !l.contains("SinglePartition") && !l.contains("Broadcast"))

  test("probe over the IVF disk index equals the probe over the in-memory assignment") {
    val mem = Similarity.ivfTopK(
      graft.core.Tables.embeddings(spark, sf), "vec_id", "embedding",
      k = 5, centroidEvery = 100)
    val disk = Similarity.ivfTopKFromAssigned(
      graft.bindings.Corpus.ivfIndexCached(spark, sf), k = 5)
    val key = Seq("vec_id", "rank").map(col)
    val m = mem.orderBy(key: _*).collect().toSeq
    val d = disk.orderBy(key: _*).collect().toSeq
    assert(m.nonEmpty, "probe must retrieve")
    assert(d == m, "disk-index probe must be indistinguishable from memory")
  }

  test("cell-bucketed scan feeds the probe join and top-k with no shuffle") {
    val disk = graft.bindings.Corpus.ivfIndexCached(spark, sf)
    // force the join strategy the 100 TB index would use (the index
    // side is never broadcastable at scale) so the assertion reads the
    // co-location claim, not a small-SF broadcast plan
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val bucketedPlan = planText(Similarity.ivfTopKFromAssigned(disk, 5))
      assert(shuffles(bucketedPlan) == 0,
        s"bucketed index must not re-shuffle on cell:\n$bucketedPlan")
      // contrast: the same rows written as PLAIN parquet must exchange
      val flat = graft.core.Scratch.dir("graft-ivfidx-flat").toString
      disk.write.mode("overwrite").parquet(flat)
      val flatPlan = planText(
        Similarity.ivfTopKFromAssigned(spark.read.parquet(flat), 5))
      assert(shuffles(flatPlan) >= 1,
        s"un-bucketed control must shuffle for the cell join:\n$flatPlan")
    }
  }

  test("IVF-PQ: serve-path probe over the stored index equals the fused in-memory chain") {
    val mem = Similarity.ivfPqTopK(
      graft.core.Tables.embeddings(spark, sf), "vec_id", "embedding",
      queryModEvery = 50, k = 5, blocks = 4, iters = 2, seedEvery = 100,
      centroidEvery = 100, nProbe = 2)
    val (codes, book, cents) =
      graft.bindings.Corpus.ivfPqIndexCached(spark, sf)
    val disk = Similarity.ivfPqTopKFromIndex(
      graft.core.Tables.embeddings(spark, sf), "vec_id", "embedding",
      codes, book, cents, queryModEvery = 50, k = 5, blocks = 4, nProbe = 2)
    val key = Seq("query_id", "rank").map(col)
    val m = mem.orderBy(key: _*).collect().toSeq
    val d = disk.orderBy(key: _*).collect().toSeq
    assert(m.nonEmpty, "probe must retrieve")
    assert(d == m, "stored-index serve path must be indistinguishable")
  }

  test("IVF-PQ: stored codes serve cell-keyed consumers without a shuffle") {
    // the production probe BROADCASTS its (tiny) query side onto the
    // codes scan — zero exchanges on the index there by construction;
    // the bucketing claim is for every cell-KEYED consumer of the
    // stored codes (cell-occupancy stats, rebalancing audits, a
    // non-broadcastable probe set joined on cell): hashpartitioning
    // (cell) comes off the disk, so the aggregate below needs no
    // exchange, while the same rows as plain parquet must shuffle.
    val (codes, _, _) = graft.bindings.Corpus.ivfPqIndexCached(spark, sf)
    def occupancy(c: org.apache.spark.sql.DataFrame) =
      c.groupBy(col("cell")).agg(countDistinct(col("vec_id")).as("n"))
    assert(shuffles(planText(occupancy(codes))) == 0,
      "bucketed codes must feed a cell aggregate with no exchange")
    val flat = graft.core.Scratch.dir("graft-ivfpqidx-flat").toString
    codes.write.mode("overwrite").parquet(flat)
    assert(shuffles(planText(occupancy(spark.read.parquet(flat)))) >= 1,
      "un-bucketed control must shuffle for the cell aggregate")
  }

  private def withConf(kv: (String, String))(body: => Unit): Unit = {
    val (k, v) = kv
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None    => spark.conf.unset(k)
    }
  }
}
