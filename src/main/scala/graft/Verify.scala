package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failures are LOUD by contract: a query that throws leaves a
  * `<name>._FAILED` sentinel file (with the message) in the output dir,
  * and the process exits non-zero after the full sweep. Round 6 shipped a
  * 22-query regression as "141/141 pass" because the old catch printed to
  * stderr and silently skipped the dump — the driver's correctness file
  * simply omitted the queries instead of recording failures. */
object Verify {
  /** Runs every query in `queries`, dumping results under `outDir`.
    * Returns the names that failed. Factored out of main so the failure
    * contract is unit-testable without the full SparkEntry surface. */
  def dumpAll(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      // plain parallel write — the checker globs *.parquet, and coalesce(1)
      // would serialize each query's final stage at bigger SFs
      val r =
        try { fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
          Files.writeString(
            Paths.get(s"$outDir/$name._FAILED"),
            Option(e.getMessage).getOrElse(e.getClass.getName))
          Some(name)
        }
      // per-query cache isolation (the SoakBench discipline): operators
      // persist intra-query frames they cannot release before the final
      // plan materializes; 340+ queries in one JVM would accumulate them
      // into the storage pool. Session bindings (graft.bindings.*)
      // re-persist on demand, so clearing here is always safe.
      spark.catalog.clearCache()
      r
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session("graft-verify")
    // optional name-prefix filter for local iteration (same contract as
    // Bench); the driver leaves it unset → all queries
    val selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => Harness.selected(n) }
    val failed = dumpAll(spark, sfDir, outDir, selected)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size}/${selected.size} queries FAILED: " +
          failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
