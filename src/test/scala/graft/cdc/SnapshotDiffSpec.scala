package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private val ts = lit("2024-01-01 00:00:00").cast("timestamp")

  private def df(rows: (Int, Option[String], Option[Double])*): DataFrame =
    rows.toDF("id", "name", "price")

  private def actions(changes: DataFrame): Map[String, Set[Int]] =
    changes.select($"cdc_action", $"id").as[(String, Int)].collect()
      .groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSet }

  test("pure inserts / deletes / updates") {
    val prev = df((1, Some("a"), Some(1.0)), (2, Some("b"), Some(2.0)), (3, Some("c"), Some(3.0)))
    val cur  = df((1, Some("a"), Some(1.0)), (2, Some("B"), Some(2.0)), (4, Some("d"), Some(4.0)))
    val got = actions(SnapshotDiff(cur, prev, Seq("id"), ts))
    // updated key 2 appears as insert+update+delete (reference EXCEPT semantics)
    assert(got("insert") == Set(2, 4))
    assert(got("update") == Set(2))
    assert(got("delete") == Set(2, 3))
  }

  test("identical frames produce no changes") {
    val d = df((1, Some("a"), Some(1.0)), (2, None, None))
    assert(SnapshotDiff(d, d, Seq("id"), ts).isEmpty)
  }

  test("referenceFidelity reproduces the every-run insert+delete storm; default does not") {
    val data = df((1, Some("a"), Some(1.0)), (2, Some("b"), Some(2.0)))
    // run 1's snapshot carries run 1's stamps
    val run1Ts = lit("2024-01-01 00:00:00").cast("timestamp")
    val snapshot = data.withColumn("ingestion_timestamp", run1Ts)
      .withColumn("cdc_action", lit("insert")).withColumn("cdc_timestamp", run1Ts)
    // run 2: identical DATA, fresh stamps — the reference still diffs
    val run2Ts = lit("2024-01-02 00:00:00").cast("timestamp")
    val storm = actions(SnapshotDiff.referenceFidelity(
      data, snapshot, Seq("id"), ingestionTimestamp = run2Ts, cdcTimestamp = run2Ts))
    assert(storm("insert") == Set(1, 2) && storm("delete") == Set(1, 2),
      s"fidelity mode must re-emit every unchanged row: $storm")
    // default mode on data columns only: silence
    assert(SnapshotDiff(data, data, Seq("id"), run2Ts).isEmpty)
  }

  test("bootstrap: empty previous tags everything insert") {
    val cur = df((1, Some("a"), Some(1.0)), (2, Some("b"), None))
    // the first run's previous snapshot: an absent path read as empty
    val absent = graft.core.Scratch.dir("snapshot").resolve("absent").toString
    val prev = graft.io.ParquetSource.readOrEmpty(spark, absent, cur)
    val got = actions(SnapshotDiff(cur, prev, Seq("id"), ts))
    assert(got == Map("insert" -> Set(1, 2)))
  }

  test("null->value change: insert+delete but NOT update (null-unsafe <>)") {
    val prev = df((1, None, Some(1.0)))
    val cur  = df((1, Some("x"), Some(1.0)))
    val got = actions(SnapshotDiff(cur, prev, Seq("id"), ts))
    assert(got.get("update").isEmpty)       // reference bug preserved
    assert(got("insert") == Set(1) && got("delete") == Set(1))
    // corrected mode flags it
    val fixed = actions(SnapshotDiff(cur, prev, Seq("id"), ts, nullSafeUpdates = true))
    assert(fixed("update") == Set(1))
  }

  test("null == null is not a difference (EXCEPT is null-safe)") {
    val prev = df((1, None, Some(1.0)))
    val cur  = df((1, None, Some(1.0)))
    assert(SnapshotDiff(cur, prev, Seq("id"), ts).isEmpty)
  }

  test("matches the reference's except/join decomposition") {
    val prev = df((1, Some("a"), Some(1.0)), (2, Some("b"), Some(2.0)),
                  (3, None, Some(3.0)), (5, Some("e"), None))
    val cur  = df((2, Some("b2"), Some(2.0)), (3, None, Some(3.0)),
                  (4, Some("d"), Some(4.0)), (5, Some("e"), Some(5.0)))
    val a = SnapshotDiff(cur, prev, Seq("id"), ts)
      .select($"id", $"name", $"price", $"cdc_action")
    val b = SnapshotDiff.referenceDecomposition(cur, prev, Seq("id"), ts)
      .select($"id", $"name", $"price", $"cdc_action")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
