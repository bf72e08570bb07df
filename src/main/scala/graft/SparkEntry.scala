package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-gated query: the Spark plan that [[Verify]] dumps and
  * [[Bench]] times, and the DuckDB SQL the correctness gate hashes it
  * against. Column names and aliases match pairwise, and both sides end
  * with a total ORDER BY, so the compare is row-order-independent.
  * The SQL is built on first read, so a caller that only runs queries
  * (Bench, perfbench) never builds the 347 mirrors. */
final class Gated(
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    sql: => String) {
  lazy val oracleSql: String = sql
}

object Gated {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: => String): Gated = new Gated(name, run, oracleSql)

  /** Concatenates registries in order, failing fast on a name defined
    * twice (a name-keyed map would keep one of the two silently). */
  def concat(registries: Seq[Gated]*): Seq[Gated] = {
    val all = registries.flatten
    val dups = all.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"gated query defined twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}

/** The gated-query surface that Verify, Bench and the tools read: every
  * gated query is an operator (or composite mart) of SURVEY.md §2,
  * defined once, with its DuckDB mirror, in the registry file of its
  * package or operator family. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_ltv_daily")(spark, "/root/testdata/sf0.001")

  lazy val registry: Seq[Gated] = Gated.concat(
    gold.GoldQueries.all, cdc.CdcQueries.all, EngineQueries.all,
    io.IoQueries.all, streaming.StreamingQueries.all,
    ext.AnomalyQueries.all, ext.AssociationQueries.all,
    ext.BehaviorQueries.all, ext.ClustersQueries.all,
    ext.CurationQueries.all, ext.DedupQueries.all, ext.DriftQueries.all,
    ext.EncodingQueries.all, ext.EventPropsQueries.all,
    ext.ExperimentQueries.all, ext.LayoutQueries.all,
    ext.MultimodalQueries.all, ext.OlapQueries.all,
    ext.ProfilingQueries.all, ext.PruneQueries.all, ext.QualityQueries.all,
    ext.ReconcileQueries.all, ext.RetrievalQueries.all,
    ext.SamplingQueries.all, ext.SimilarityQueries.all,
    ext.SkewQueries.all, ext.SupplyQueries.all, ext.SurvivalQueries.all,
    ext.TemporalQueries.all, ext.TextAnalysisQueries.all,
    ext.TimeseriesQueries.all)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(registry.map(g => g.name -> g.run): _*)

  lazy val oracleSql: Map[String, String] =
    ListMap(registry.map(g => g.name -> g.oracleSql): _*)
}
