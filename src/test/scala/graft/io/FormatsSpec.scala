package graft.io

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    graft.core.Scratch.dir(prefix).toString

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("s", StringType),
    StructField("x", DoubleType),
    StructField("ts", TimestampType)))

  /** Edge rows: null vs '' vs whitespace vs the literal word NULL,
    * shortest-round-trip doubles, sub-second timestamps, RFC-4180
    * quoting (embedded comma/quote/newline). `preEpochTs` exercises a
    * negative-epoch sub-second instant — exact in CSV/JSONL, known-bad
    * in the bundled ORC writer (see [[Formats.writeOrc]]). */
  private def sample(preEpochTs: Boolean) = {
    val edgeTs =
      if (preEpochTs) java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999")
      else java.sql.Timestamp.valueOf("1970-01-01 00:00:00.000001")
    val rows = Seq(
      Row(1L, "plain", 1.5, java.sql.Timestamp.valueOf("2024-03-01 10:11:12.123456")),
      Row(2L, null, 0.1 + 0.2, null), // 0.30000000000000004: shortest-digits test
      Row(3L, "", -0.0, edgeTs),
      Row(4L, "comma, \"quote\"\nnewline", Double.MaxValue, null),
      Row(5L, " NULL ", 4.9e-324, null),
      Row(6L, "NULL", 1.0, null)) // literal word, must NOT null out
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def roundTrip(df: org.apache.spark.sql.DataFrame,
                        write: org.apache.spark.sql.DataFrame => Unit,
                        read: => org.apache.spark.sql.DataFrame): Unit = {
    write(df)
    val got = read.orderBy("id").collect()
    val exp = df.orderBy("id").collect()
    assert(got.length == exp.length, s"row count ${got.length} != ${exp.length}")
    got.zip(exp).foreach { case (g, e) =>
      assert(g == e, s"row mismatch: got $g expected $e")
    }
  }

  test("CSV round-trip keeps NULL vs empty string, doubles, micros, quoting") {
    val p = tmp("fmt-csv")
    roundTrip(sample(preEpochTs = true),
      df => Formats.writeCsv(df, s"$p/t"),
      Formats.readCsv(spark, s"$p/t", schema))
  }

  test("JSONL round-trip is exact") {
    val p = tmp("fmt-json")
    roundTrip(sample(preEpochTs = true),
      df => Formats.writeJsonl(df, s"$p/t"),
      Formats.readJsonl(spark, s"$p/t", schema))
  }

  test("ORC round-trip is exact post-epoch") {
    val p = tmp("fmt-orc")
    roundTrip(sample(preEpochTs = false),
      df => Formats.writeOrc(df, s"$p/t"),
      Formats.readOrc(spark, s"$p/t", schema))
  }

  test("JSONL round-trip preserves unicode, embedded newlines, and nulls") {
    val df = Seq(
      (1L, Some("h\u00e9llo w\u00f6rld\nsecond line"), Some("en")),
      (2L, Some("\u4e2d\u6587 \u6587\u672c"), None),
      (3L, None, Some("de"))
    ).toDF("id", "text", "lang")
    val dir = tmp("fmt-json-uni")
    Formats.writeJsonl(df, s"$dir/t")
    val back = Formats.readJsonl(spark, s"$dir/t", df.schema)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // file reads are always nullable; names/types must hold exactly
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
  }

  test("malformed JSON lines quarantine into _corrupt_record, good rows parse") {
    val p = tmp("fmt-badjson")
    Seq("""{"id": 1, "s": "ok", "x": 2.5, "ts": null}""",
        """{"id": oops not json""")
      .toDF("value").coalesce(1).write.text(s"$p/t")
    // cache first: Spark disallows projecting ONLY the corrupt column
    // straight off a raw file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val got = Formats.readJsonl(spark, s"$p/t", Formats.withCorrupt(schema)).cache()
    try {
      val good = got.filter(col(Formats.CorruptCol).isNull)
      val bad = got.filter(col(Formats.CorruptCol).isNotNull)
      assert(good.count() == 1 && bad.count() == 1)
      assert(good.select("id", "s").as[(Long, String)].collect().head == ((1L, "ok")))
      assert(bad.select(Formats.CorruptCol).as[String].collect().head.contains("oops"))
    } finally got.unpersist()
  }

  test("malformed CSV lines quarantine without failing the read") {
    val p = tmp("fmt-badcsv")
    Seq("id,s,x,ts",
        "1,ok,2.5,",
        "not-a-long,broken,xyz,also-not-a-ts")
      .toDF("value").coalesce(1).write.text(s"$p/t")
    val got = Formats.readCsv(spark, s"$p/t", Formats.withCorrupt(schema)).cache()
    try {
      assert(got.filter(col(Formats.CorruptCol).isNull).count() == 1)
      assert(got.filter(col(Formats.CorruptCol).isNotNull).count() == 1)
    } finally got.unpersist()
  }
}
