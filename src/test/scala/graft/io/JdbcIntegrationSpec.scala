package graft.io

import java.sql.DriverManager

import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{ControlStore, WatermarkIncrementalLoad}

/** End-to-end JDBC gate against a REAL database — embedded Derby (ships
  * with Spark's jars, runs in-JVM, zero egress). S1/S2 were the only §2
  * rows with unit-only evidence; this spec drives the actual reader:
  *
  *  1. S1 incremental read: the watermark predicate is EMBEDDED in the
  *     pushed-down query (the reference's customSql contract,
  *     `cdc_metrics_job_bronze.py:57-67`) — asserted on the physical
  *     scan, which prints the generated subquery, not on our own SQL
  *     string.
  *  2. S2 full read + Catalyst pushdown: filtering a `dbtable` read
  *     surfaces the watermark as a PushedFilters entry — the DATABASE
  *     filters either way; the table is never shipped whole.
  *  3. The two-run replay: run 1 processes the base rows and advances
  *     the stored watermark to max(processed); late rows land in the
  *     DB; run 2 picks up ONLY them; the union of the two sink writes
  *     equals a fresh full read (the bronze replay contract proven at
  *     q83 for parquet, here through a real JDBC endpoint).
  */
class JdbcIntegrationSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftjdbc;create=true"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def planText(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    withConn { c =>
      val st = c.createStatement()
      st.execute(
        """CREATE TABLE order_items (
          |  id INT NOT NULL PRIMARY KEY,
          |  user_id INT,
          |  price DOUBLE,
          |  creation_time TIMESTAMP)""".stripMargin)
      val ins = c.prepareStatement(
        "INSERT INTO order_items VALUES (?, ?, ?, ?)")
      // two "days" of base rows; the late batch arrives mid-test
      (1 to 6).foreach { i =>
        ins.setInt(1, i); ins.setInt(2, i % 3)
        ins.setDouble(3, i * 10.0)
        ins.setTimestamp(4,
          java.sql.Timestamp.valueOf(s"2024-01-0${1 + (i - 1) / 3} 0$i:00:00"))
        ins.executeUpdate()
      }
      ins.close(); st.close()
    }
  }

  test("S1: the watermark predicate rides the pushed-down JDBC query, and the DB answers it") {
    val df = JdbcSource.readIncremental(
      spark, url, "order_items", "creation_time", "2024-01-02 00:00:00")
    // the physical scan prints the generated subquery — the predicate
    // must be INSIDE it (DB-side filtering), not in a Spark Filter node
    val txt = planText(df)
    assert(txt.contains("creation_time >= '2024-01-02 00:00:00'"),
      s"watermark predicate not pushed into the JDBC query:\n$txt")
    assert(df.count() == 3) // only day-2 rows (ids 4..6)
    assert(df.agg(min(col("id"))).head().getInt(0) == 4)
  }

  test("S2: full-table read partitions the scan; a watermark filter becomes a PushedFilter") {
    val full = JdbcSource.readFull(
      spark, url, "order_items",
      partitionColumn = Some(("id", 1L, 7L, 3)))
    assert(full.rdd.getNumPartitions == 3)
    assert(full.count() == 6)
    val filtered = WatermarkIncrementalLoad.sinceExclusive(
      JdbcSource.readFull(spark, url, "order_items"),
      "creation_time", "2024-01-01 23:59:59")
    val txt = planText(filtered)
    // Derby upper-cases identifiers; the filter must appear BOTH as a
    // pushed filter and inside the external engine query it generates
    assert(txt.contains("GreaterThan(CREATION_TIME")
        && txt.contains("\"CREATION_TIME\" > '2024-01-01 23:59:59"),
      s"watermark filter did not reach the JDBC scan:\n$txt")
    assert(filtered.count() == 3)
  }

  test("two-run watermark replay through the live endpoint: union of runs == fresh full read") {
    val tmp = graft.core.Scratch.dir("graft-jdbc-replay")
    val store = new ControlStore(
      spark.sparkContext.hadoopConfiguration, tmp.toString)
    val sinkDir = s"$tmp/bronze"
    def runOnce(): Option[String] = WatermarkIncrementalLoad.run(
      store, "order_items.wm",
      JdbcSource.readFull(spark, url, "order_items"),
      "creation_time")(
      process = df => df.withColumn("loaded", lit(true)))(
      sink = _.write.mode("append").parquet(sinkDir))
    val wm1 = runOnce()
    assert(wm1.contains("2024-01-02 06:00:00"))
    // late data lands in the DB after run 1 advanced the watermark
    withConn { c =>
      val st = c.createStatement()
      st.execute("INSERT INTO order_items VALUES " +
        "(7, 1, 70.0, TIMESTAMP('2024-01-03 01:00:00'))," +
        "(8, 2, 80.0, TIMESTAMP('2024-01-03 02:00:00'))")
      st.close()
    }
    val wm2 = runOnce()
    assert(wm2.contains("2024-01-03 02:00:00"))
    // run 3: nothing fresh -> None, watermark untouched
    assert(runOnce().isEmpty)
    assert(store.get("order_items.wm") == "2024-01-03 02:00:00")
    val replayed = spark.read.parquet(sinkDir)
      .select(col("id"), col("user_id"), col("price"), col("creation_time"))
    val fresh = JdbcSource.readFull(spark, url, "order_items")
    assert(replayed.count() == 8)
    assert(replayed.exceptAll(fresh).isEmpty
      && fresh.exceptAll(replayed).isEmpty)
  }
}
