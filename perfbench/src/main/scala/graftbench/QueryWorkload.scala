package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.SparkEntry
import graft.bindings.Conformed

/** `queries`: the read path. Each op is one query of
  * [[graft.SparkEntry.queries]] run to its full output in the hands of
  * the client: `collect()`, whose rows are then hashed outside the timed
  * op and checked against the hashes recorded in `expected_hashes.tsv`.
  * Every pass runs the ops in list order: first the gold marts built on
  * the conformed revenue fact, then the ext operator library, which never
  * touches it. The registry queries take no parameters and read fixed
  * input tables, so the seed changes nothing here: runs with different
  * seeds are repeats.
  *
  * The pass starts with an empty cache and every fact op first asks
  * [[Conformed.orderRevenueCached]] for the fact, so the first op builds
  * it and the other fact ops share it. */
final class QueryWorkload(spark: SparkSession, dir: String, tracer: Tracer,
    expected: Map[String, String]) extends Workload {
  import QueryWorkload._

  private val queries: Seq[(Query, (SparkSession, String) => DataFrame)] = Ops.map { q =>
    val (_, fn) = SparkEntry.queries.find(_._1 == q.name)
      .getOrElse(sys.error(s"no registry query ${q.name}"))
    (q, fn)
  }
  private val tableRows = scala.collection.mutable.Map.empty[String, Long]
  private var reuse = Vector.empty[Boolean]
  private var persistedAtEnd = 0
  /** Output hash of every timed execution, in op order. */
  private var outputs = Vector.empty[(String, String)]

  /** Reads every input table's footers and counts its rows. There is no
    * warm-up: each run is a fresh JVM, like each run of a batch job or
    * the first dashboard read after a deploy, so the timed pass pays
    * the code generation and JIT of its first execution. */
  def setUp(): Unit = Ops.flatMap(_.tables).distinct.foreach { t =>
    tableRows(t) = graft.core.Tables.table(spark, dir, t).count()
  }

  def ops: Seq[Op] = queries.map { case (q, fn) =>
    Op(q.name, () => {
      if (q.usesFact) tracer.span("bindings.conform_build")(Conformed.orderRevenueCached(spark, dir))
      tracer.span(q.layer) {
        val df = fn(spark, dir)
        Some(df -> df.collect())
      }
    })
  }

  def inputRows: Long = outputs.map { case (n, _) => byName(n).tables.map(tableRows).sum }.sum

  /** Outside the timed op: hashes the collected output and, traced, asks
    * whether a fact op's plan scanned the cached conformed fact. */
  override def afterOp(op: Op, out: Option[(DataFrame, Array[Row])], startMillis: Long): Unit =
    out.foreach { case (df, rows) =>
      outputs :+= op.name -> OutputHash(rows)
      if (tracer.enabled && byName(op.name).usesFact) {
        val fact = builders(Conformed.orderRevenueCached(spark, dir))
        reuse :+= builders(df).exists(b => fact.exists(_ eq b))
      }
    }

  override def finish(): Unit = persistedAtEnd = spark.sparkContext.getPersistentRDDs.size

  private def builders(df: DataFrame): Seq[AnyRef] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r.cacheBuilder: AnyRef }

  /** Every timed output against the hash recorded for its query. */
  def check(): Seq[String] = outputs.flatMap { case (q, got) =>
    expected.get(q) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$q: output hash $got != expected $want")
      case None => Some(s"$q: no expected hash recorded")
    }
  }

  def layerMetrics(cores: Int, counters: TaskCounters): Map[String, Double] = {
    val perLayer = Ops.map(_.layer).distinct.flatMap { layer =>
      val spans = tracer.named(layer).filter(_.op >= 0)
      val base = Seq(s"${layer}_s" -> spans.map(tracer.selfSeconds).sum)
      if (layer == "ext.clusters")
        base :+ ("ext.clusters.jobs" -> spans.map(s => counters.forSpan(s.id).jobs).sum.toDouble /
          spans.size.max(1))
      else base
    }
    val conform = Seq(
      "bindings.conform_build_s" ->
        tracer.named("bindings.conform_build").filter(_.op >= 0).map(tracer.selfSeconds).sum,
      "bindings.cache_reuse" -> reuse.count(identity).toDouble / reuse.size.max(1),
      "core.persisted_rdds" -> persistedAtEnd.toDouble)
    (perLayer ++ conform).toMap
  }
}

object QueryWorkload {
  /** @param layer    span name of the module the query exercises
    * @param tables   input tables the query reads
    * @param usesFact built on the cached conformed revenue fact */
  final case class Query(name: String, layer: String, tables: Seq[String], usesFact: Boolean)

  private val FactTables = Seq("lineitem", "orders", "part")
  private def fact(name: String, layer: String) = Query(name, layer, FactTables, usesFact = true)
  private def ext(name: String, layer: String, table: String) = Query(name, layer, Seq(table), usesFact = false)

  val Ops: Seq[Query] = Seq(
    fact("q01_order_revenue", "gold.marts"), fact("q02_ltv_daily", "gold.marts"),
    fact("q05_rfm", "gold.marts"), fact("q06_churn", "gold.marts"),
    fact("q07_trends_daily", "gold.marts"), fact("q08_trends_weekly", "gold.marts"),
    fact("q11_loyalty", "gold.marts"), fact("q13_discount", "gold.marts"),
    fact("q79_incremental_ltv", "gold.incremental_replay"),
    fact("q82_incremental_trends", "gold.incremental_replay"),
    fact("q115_mad_outliers", "ext.anomaly"), fact("q151_seasonal_outliers", "ext.timeseries"),
    ext("q121_semantic_dedup", "ext.clusters", "embeddings"),
    ext("q312_ivf_probe_sweep", "ext.similarity", "embeddings"),
    ext("q187_assoc_rules", "ext.association", "lineitem"),
    ext("q16_minhash_neardups", "ext.dedup", "documents"),
    ext("q22_langid", "ext.text", "documents"),
    ext("q88_stream_dedup", "streaming.replay", "events"))

  private val byName = Ops.map(q => q.name -> q).toMap
}
