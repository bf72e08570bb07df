package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the loud-failure contract of [[Verify.dumpAll]]: a throwing query
  * must leave a `<name>._FAILED` sentinel and be returned as failed, while
  * sibling queries still dump. Round 6 shipped a 22-query regression as
  * "141/141 pass" because failures were silently skipped. */
class VerifyContractSpec extends SparkSpec {
  test("dumpAll writes a _FAILED sentinel and reports the failing query") {
    val out = graft.core.Scratch.dir("graft-verify-contract").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok_query" -> ((s: SparkSession, _: String) => {
        import s.implicits._
        Seq((1, "a"), (2, "b")).toDF("id", "v")
      }),
      "boom_query" -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("deliberate test failure"))
    )
    val failed = Verify.dumpAll(spark, "/unused", out, queries)
    assert(failed == Seq("boom_query"))
    assert(Files.isDirectory(Paths.get(s"$out/ok_query")),
      "successful query must still dump parquet")
    val sentinel = Paths.get(s"$out/boom_query._FAILED")
    assert(Files.exists(sentinel), "failing query must leave a _FAILED sentinel")
    assert(Files.readString(sentinel).contains("deliberate test failure"))
  }
}
