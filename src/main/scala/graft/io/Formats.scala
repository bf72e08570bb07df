package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Interchange-format sources/sinks beyond Parquet: CSV, JSON-lines,
  * and ORC, with options pinned so a write→read round-trip is
  * byte-faithful per column type.
  *
  * The reference's landscape is Parquet-only
  * (`scripts/cdc_metrics_job_bronze.py:53-55`), but a real ingestion
  * tier receives CSV extracts and JSONL event feeds long before they
  * become columnar — these readers are the bronze-ingest front door.
  *
  * Fidelity rules encoded here (the places CSV round-trips silently rot):
  *  - NULL vs empty string: CSV has no native distinction; a sentinel
  *    `nullValue` that cannot appear in data keeps `NULL <> ''`;
  *  - timestamps: an explicit ISO micros pattern on both write and read
  *    (default patterns drop sub-second precision asymmetrically);
  *  - doubles: Spark writes the shortest digits that round-trip (Java
  *    `Double.toString`), so no precision option is needed;
  *  - schema is ALWAYS caller-supplied on read. `inferSchema` is a full
  *    extra pass over the data (2× the scan at 100 TB) and guesses —
  *    an all-digit VARCHAR column silently becomes BIGINT.
  *
  * Malformed input: PERMISSIVE with a named corrupt-record column, so
  * bad rows land in a quarantine filter instead of failing the job
  * (FAILFAST is the debug mode, not the production mode at 100 TB —
  * one bad row out of 10^11 must not kill a 6-hour ingest).
  */
object Formats {

  /** Sentinel distinguishing NULL from '' in CSV (the classic backslash-N).
    * A literal data value equal to the sentinel would collide; quote-force
    * that column upstream if it can occur in a feed. */
  val CsvNull = "\\N"
  val TsPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  /** The NTZ twin of [[TsPattern]] (no zone offset — TIMESTAMP_NTZ
    * carries none); wired to `timestampNTZFormat` everywhere TsPattern
    * is, or NTZ columns silently round-trip at millisecond grain. */
  val TsNtzPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
  val CorruptCol = "_corrupt_record"

  private def csvOptions = Map(
    "header" -> "true",
    "nullValue" -> CsvNull,
    "timestampFormat" -> TsPattern,
    // NTZ columns fall back to Spark's millisecond default without this
    // - a silent microsecond truncation on the round-trip
    "timestampNTZFormat" -> TsNtzPattern,
    "dateFormat" -> "yyyy-MM-dd",
    // WRITE-side trimming is ON by default in Spark's CSV writer:
    // leading/trailing whitespace would be silently eaten on the way out
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false",
    // quote only when needed; escape embedded quotes the RFC-4180 way
    "quote" -> "\"", "escape" -> "\"")

  /** Landing-zone layout for the TEXT sinks (CSV/JSONL): they compress
    * one gzip stream per output file, and the matching reads are one
    * split per file (gzip is unsplittable; `multiLine` CSV is
    * single-split by contract). A narrow input — one cached partition
    * at the gate SF,
    * one parquet row-group upstream — would therefore serialize the
    * WHOLE write and the whole read-back behind a single gzip stream
    * (measured: q105 ran at cpu_share 1.1 on 32 cores).
    *
    * SIZE-AWARE (r16): the r15 shape spread every input to
    * defaultParallelism unconditionally, which made the CHEAP sinks
    * slower (q69 0.31→0.39 s, q118 0.88→1.18 s — 32 near-empty gzip
    * streams cost more setup than they parallelize). The file count now
    * derives from the input's PLANNED bytes (`optimizedPlan.stats` — a
    * plan-only probe): one file per [[TargetFileBytes]], capped at
    * defaultParallelism. Inputs above [[MaxSpreadBytes]] return untouched
    * WITHOUT the `.rdd` width probe — at 100 TB the scan is already
    * wide, and probing `.rdd` on a shuffled frame would finalize the
    * adaptive plan and execute the upstream exchanges just to read a
    * partition count (the [[graft.core.Scans.spread]] SCAN-ONLY
    * caveat). Below the cap the width probe is taken only on frames the
    * in-repo sinks actually pass (bare scans and cached spines), where
    * it is plan-only. Both sizes are constants: 256 KiB per file keeps
    * q105/q117's parallel-compression win (multi-MB plan bytes → many
    * files) while trivially small outputs stay single-stream. */
  private val TargetFileBytes = 256L * 1024
  private val MaxSpreadBytes = 4L * 1024 * 1024 * 1024
  private def spreadOut(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes > MaxSpreadBytes) df
    else {
      val want = ((bytes + TargetFileBytes - 1) / TargetFileBytes).min(BigInt(n)).toInt
      if (want <= 1) df
      else if (df.rdd.getNumPartitions >= want) df
      else df.repartition(want)
    }
  }

  def writeCsv(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    spreadOut(df).write.mode(mode).options(csvOptions)
      .option("compression", "gzip").csv(path)

  /** Schema-enforced CSV read; malformed lines survive in
    * [[CorruptCol]] (add it to `schema` via [[withCorrupt]] to keep
    * them; absent, they are dropped by Spark's PERMISSIVE contract). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.options(csvOptions)
      // multiLine honors RFC-4180 quoted newlines; it makes each file
      // single-split, which gzip already is — and a 100 TB CSV landing
      // zone wants many modest files either way (the writer's layout)
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema).csv(path)

  def writeJsonl(df: DataFrame, path: String,
                 mode: SaveMode = SaveMode.Overwrite): Unit =
    spreadOut(df).write.mode(mode)
      .option("timestampFormat", TsPattern)
      .option("timestampNTZFormat", TsNtzPattern)
      .option("compression", "gzip").json(path)

  /** Schema-enforced JSON-lines read. JSON distinguishes null/''
    * natively; the explicit timestamp pattern mirrors the writer. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("timestampFormat", TsPattern)
      .option("timestampNTZFormat", TsNtzPattern)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(schema).json(path)

  /** ORC sink. Caveat found by `FormatsSpec`: the bundled ORC writer
    * mis-rounds PRE-EPOCH sub-second timestamps (sign/nanos interact:
    * 1969-12-31T23:59:59.999999 comes back as 1970-01-01T00:00:00.999999).
    * Post-1970 instants round-trip exactly. Route pre-epoch event data
    * through Parquet/CSV/JSONL, which are exact. */
  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    // NO spread here, asymmetric to the text sinks by measurement: ORC
    // is stripe-splittable (readers parallelize without many files),
    // and 32 small-stripe writers cost more than one streaming writer
    // (each allocates its own stripe buffer + zstd context; probed
    // 1.4-1.6 s one-file vs 2.1-3.0 s spread on the same input, while
    // the read gain was only ~0.1-0.9 s)
    df.write.mode(mode).option("compression", "zstd").orc(path)

  /** ORC read. ORC is self-describing like Parquet; the schema arg
    * still pins column order and types (a projection pushdown contract,
    * not an inference). */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** `schema` + the corrupt-record column, for quarantine-keeping reads. */
  def withCorrupt(schema: StructType): StructType =
    StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(
        CorruptCol, org.apache.spark.sql.types.StringType, nullable = true))
}
