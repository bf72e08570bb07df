package graft.io

import scala.sys.process._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the reference dashboard's read contract
  * (streamlit_app/app.py:16-21): gold marts are plain snappy parquet that
  * pandas/pyarrow can glob and concat WITHOUT Spark — no Spark-only
  * types, no _metadata dependence, no nested encoders in the mart schema.
  * The test writes a gold mart through the engine's sink, then reads it
  * back with python3 + pyarrow + pandas exactly as the dashboard does and
  * cross-checks a sample aggregate against the Spark-side value.
  * Skips (assume) when python3/pyarrow isn't on the box. */
class DashboardContractSpec extends SparkSpec {
  private def pyAvailable: Boolean =
    scala.util.Try(
      Seq("python3", "-c", "import pyarrow.parquet, pandas").! == 0
    ).getOrElse(false)

  test("gold mart parquet is pandas/pyarrow readable with matching aggregate") {
    assume(pyAvailable, "python3+pyarrow+pandas not available")
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val sfDir = "/root/testdata/sf0.001"
    val root = graft.core.Scratch.dir("graft-dash").toString
    val mart = graft.gold.Rfm.anchoredAt(
      graft.core.Tables.orders(spark, sfDir)
        .select(col("o_custkey").as("user_id"),
          col("o_orderkey").as("order_id"),
          col("o_totalprice").as("total_revenue"),
          to_date(col("o_orderdate")).as("creation_date")),
      today = java.sql.Date.valueOf("1998-12-31"))
    val path = s"$root/gold/rfm"
    ParquetSink.flat(mart, path)

    // Spark-side truth: row count and an order-free exact money total
    val expectedRows = mart.count()
    val expectedMonetary = mart
      .agg(sum(round(col("monetary") * 10000).cast("long"))).head().getLong(0)

    // the dashboard's exact read shape: glob *.parquet, pandas concat
    val script =
      s"""
         |import glob, pandas as pd
         |files = [p for p in glob.glob("$path/**", recursive=True)
         |         if p.endswith(".parquet") or p.endswith(".snappy.parquet")]
         |assert files, "no parquet part files found"
         |df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
         |assert len(df) == $expectedRows, f"rows {'{'}len(df){'}'} != $expectedRows"
         |for c in ["user_id", "recency", "frequency", "monetary", "segment"]:
         |    assert c in df.columns, f"missing column {'{'}c{'}'}"
         |total = int(round(df["monetary"] * 10000).sum())
         |assert total == $expectedMonetary, f"monetary {'{'}total{'}'} != $expectedMonetary"
         |print("DASHBOARD_CONTRACT_OK")
         |""".stripMargin
    val out = new StringBuilder
    val code = Seq("python3", "-c", script) ! ProcessLogger(out ++= _, out ++= _)
    assert(code == 0 && out.toString.contains("DASHBOARD_CONTRACT_OK"),
      s"dashboard-style read failed: $out")
  }
}
