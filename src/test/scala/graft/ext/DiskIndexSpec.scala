package graft.ext

import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The 100 TB index-shape rehearsal (r13 verdict #6): the term-bucketed
  * DISK index must (a) yield bit-identical probe results to the
  * in-memory postings frame, and (b) actually deliver the shape's
  * claim — the impact-truncation windows consume the bucketed scan
  * WITHOUT a term exchange, while the same data re-read un-bucketed
  * must shuffle. */
class DiskIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planText(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("probe over the disk index equals the probe over the in-memory index") {
    val mem = Retrieval.bm25TruncatedFromPostings(
      Retrieval.scoredPostings(
        graft.core.Tables.documents(spark, sf), "doc_id", "text"),
      queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000)
    val disk = Retrieval.bm25TruncatedFromPostings(
      graft.bindings.Corpus.diskIndexCached(spark, sf),
      queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000)
    val key = Seq("query_id", "rank").map(col)
    val m = mem.orderBy(key: _*).collect().toSeq
    val d = disk.orderBy(key: _*).collect().toSeq
    assert(m.nonEmpty, "probe must retrieve")
    assert(d == m, "disk-index probe must be indistinguishable from memory")
  }

  test("index identity: two distinct dirs in one JVM build distinct, content-stamped tables") {
    // r15 (r14 verdict #4): the old 32-bit dir hash could collide two
    // corpora into one table; the 128-bit content stamp cannot — a
    // byte-identical corpus COPY (different path + mtime) gets its own
    // stamp and its own index, whose probe must still match the
    // original's results exactly (same bytes), proving dir2's build
    // did not clobber dir1's live table.
    val copy = graft.core.Scratch.dir("graft-corpus-copy")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      copy.resolve("documents.parquet"))
    val dir2 = copy.toString
    assert(
      graft.bindings.Corpus.indexStamp(sf, "documents.parquet") !=
        graft.bindings.Corpus.indexStamp(dir2, "documents.parquet"),
      "distinct dirs must stamp distinctly")
    def probe(dir: String) = Retrieval.bm25TruncatedFromPostings(
        graft.bindings.Corpus.diskIndexCached(spark, dir),
        queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000)
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    val one = probe(sf)
    val two = probe(dir2)
    assert(one.nonEmpty && two == one,
      "the copied corpus's own index must reproduce the original probe")
    assert(probe(sf) == one,
      "dir1's index must survive dir2's build untouched")
  }

  test("term-bucketed scan feeds the truncation windows with no exchange") {
    val disk = graft.bindings.Corpus.diskIndexCached(spark, sf)
    val bucketedPlan = planText(Retrieval.impactTruncate(disk, 100))
    val exchangesBucketed = bucketedPlan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchangesBucketed == 0,
      s"bucketed index must not re-shuffle on term:\n$bucketedPlan")
    // contrast: the same rows written as PLAIN parquet must exchange
    val flat = graft.core.Scratch.dir("graft-lexidx-flat").toString
    disk.write.mode("overwrite").parquet(flat)
    val flatPlan = planText(
      Retrieval.impactTruncate(spark.read.parquet(flat), 100))
    val exchangesFlat = flatPlan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchangesFlat >= 1,
      s"un-bucketed control must shuffle for the window:\n$flatPlan")
  }
}
