package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Medallion-lakehouse layout + Parquet IO conventions.
  *
  * Reference capability: bronze/cdc/snapshots/silver/gold S3 zones with
  * snappy Parquet and Hive-style partition dirs
  * (`scripts/cdc_metrics_job_bronze.py:53-55`,
  * `cdc_metrics_job_silver.py:68-71`, `cdc_metrics_job_gold.py:53-56`).
  * Paths are plain Hadoop-FS URIs, so `file://` in tests and `s3a://` on
  * a cluster share the code path.
  *
  * Scale notes:
  *  - the pre-write `repartition(partition cols)` reproduces the
  *    reference's one-file-per-partition-value layout
  *    (`cdc_metrics_job_silver.py:68`) AND prevents the
  *    every-task-writes-every-partition small-file explosion;
  *  - partitioned layouts make downstream watermark filters prune at the
  *    directory level (PartitionFilters in `.explain`), which is the
  *    100 TB path for the silver incremental reads;
  *  - gold marts stay plain unpartitioned Parquet — they are
  *    dashboard-sized and must remain readable by pandas/pyarrow
  *    (`streamlit_app/app.py:16-21`).
  */
final case class Lakehouse(root: String) {
  def bronze(table: String, runDate: String): String = s"$root/bronze/$table/$runDate"
  def cdc(table: String, runDate: String): String = s"$root/cdc/$table/date=$runDate"
  /** Streaming CDC landing root — deliberately DISJOINT from [[cdc]]:
    * the streaming ingest lands `batch_id=N/cdc_action=X` (one extra
    * partition level for idempotent per-micro-batch overwrite), while
    * the batch pipeline lands `cdc_action=X` flat. Sharing one root
    * would give partition discovery conflicting directory depths (read
    * failure) and fixed-schema readers a silently-missing batch_id. */
  def cdcStream(table: String, runDate: String): String =
    s"$root/cdc_stream/$table/date=$runDate"
  def snapshot(table: String): String = s"$root/snapshots/$table/latest"
  def silver(table: String): String = s"$root/silver/$table"
  def gold(mart: String): String = s"$root/gold/$mart"
  def control: String = s"$root/control"
}

object ParquetSink {

  /** Partitioned write (S5/S6): snappy, one file per partition value. */
  def partitioned(
      df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write.mode(mode)
      .option("compression", "snappy")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Unpartitioned mart write (S7). */
  def flat(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("compression", "snappy").parquet(path)
}

object ParquetSource {

  /** Read a zone; ABSENT path → empty frame with the supplied schema
    * (S9 bootstrap, reference `cdc_metrics_job_bronze.py:92-95`).
    *
    * Only genuine absence bootstraps: an existing-but-unreadable path
    * (partial write, schema-inference failure, permissions) propagates
    * its error instead of being silently treated as a first run — a
    * swallowed read failure here would emit the entire current table as
    * inserts and overwrite the snapshot, corrupting the change history. */
  def readOrEmpty(spark: SparkSession, path: String, like: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)
    else spark.read.parquet(path)
  }
}
