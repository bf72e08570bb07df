package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.bindings.Conformed
import graft.gold.{Churn, Ltv, Rfm, SalesTrends}
import graft.io.Lakehouse
import graft.pipeline.CdcPipeline
import graft.silver.CleanConform

/** Seeded source system for the CDC replay.
  *
  * Items are the conformed line items of the input tables created from
  * [[HistoryStart]] up to the end of the timed run date. Cycle `c`
  * extracts the items created before `end(c)` and a full snapshot of the
  * option rows of those items: cycle 0 is the bootstrap, whose extract
  * holds the history before [[FirstRunDate]], and cycle 1 is the timed
  * run date. Each cycle the seed reprices [[RepricePerMille]] and drops
  * [[DropPerMille]] of the option rows that existed before the cycle, so
  * the snapshot diff emits inserts, updates and deletes. The program
  * under test only ever sees the frames this class hands out. */
final class ReplaySource(spark: SparkSession, dir: String, genDir: String, seed: Long) {
  import ReplaySource._

  private val itemsPath = s"$genDir/items"
  private val optionsPath = s"$genDir/options"

  /** Writes the generated tables; returns their parquet bytes and rows
    * (items, options). */
  def materialize(): ((Long, Long), (Long, Long)) = {
    val keys = Seq("order_id", "lineitem_id")
    val items = Conformed.items(spark, dir)
      .filter(col("creation_ts") >= ts(HistoryStart) && col("creation_ts") < ts(end(TimedCycle)))
      .persist()
    try {
      items.write.mode("overwrite").parquet(itemsPath)
      val lineTs = items.select("order_id", "lineitem_id", "creation_ts").distinct()
      // PK-unique option rows (the snapshot diff's input contract), each
      // stamped with the creation time of its line
      CleanConform(Conformed.optionsRaw(spark, dir).join(lineTs.select(keys.map(col): _*), keys, "left_semi"),
          Map.empty, keys :+ "option_name", Seq(col("option_price")))
        .join(lineTs, keys)
        .withColumnRenamed("creation_ts", OptionTs)
        .write.mode("overwrite").parquet(optionsPath)
      ((dirBytes(itemsPath), dirBytes(optionsPath)), (items.count(), options.count()))
    } finally items.unpersist()
  }

  def start(cycle: Int): LocalDate = FirstRunDate.plusDays(cycle - 1L)
  def end(cycle: Int): LocalDate = start(cycle + 1)
  private def ts(d: LocalDate): Column = lit(s"$d 00:00:00").cast("timestamp")

  private def items: DataFrame = spark.read.parquet(itemsPath)
  private def options: DataFrame = spark.read.parquet(optionsPath)

  /** The fact table as the source holds it when cycle `c` runs. */
  def itemsAt(c: Int): DataFrame = items.filter(col("creation_ts") < ts(end(c)))

  // per-cycle draw in [0, 1000) for one option row
  private def draw(c: Int): Column =
    pmod(xxhash64(lit(seed), lit(c), col("order_id"), col("lineitem_id"), col("option_name")),
      lit(1000L))
  private def existedBefore(c: Int): Column = col(OptionTs) < ts(start(c))
  private def repriced(c: Int): Column = existedBefore(c) && draw(c) < RepricePerMille
  private def dropped(c: Int): Column =
    existedBefore(c) && draw(c) >= RepricePerMille && draw(c) < RepricePerMille + DropPerMille
  private def droppedBy(c: Int): Column = (1 to c).map(dropped).foldLeft(lit(false))(_ || _)

  /** Full options snapshot as the source holds it when cycle `c` runs;
    * cycle 0 is the bootstrap extract, before any reprice or drop. */
  def optionsAt(c: Int): DataFrame = {
    val bumps = (1 to c).map(k => when(repriced(k), 1).otherwise(0)).foldLeft(lit(0))(_ + _)
    options.filter(col(OptionTs) < ts(end(c)) && !droppedBy(c))
      .withColumn("option_price", col("option_price") * (lit(1.0) + bumps * 0.01))
  }

  /** What the source holds and changed at cycle `c`: the change rows
    * the snapshot diffs must emit (a repriced option row is one insert,
    * one update and one delete; a dropped row one delete; a new row or
    * item one insert), the fresh rows by table, and the rows of the
    * frames handed to the program. */
  def facts(c: Int): CycleFacts = {
    def inCycle(tsCol: String) = col(tsCol) >= ts(start(c)) && col(tsCol) < ts(end(c))
    def n(cond: Column) = sum(when(cond, 1L).otherwise(0L))
    val liveItems = itemsAt(c).count()
    val newItems = items.dropDuplicates().filter(inCycle("creation_ts")).count()
    val op = options.agg(
      n(!droppedBy(c - 1) && inCycle(OptionTs)),
      n(!droppedBy(c - 1) && repriced(c) && !dropped(c)),
      n(!droppedBy(c - 1) && dropped(c)),
      n(col(OptionTs) < ts(end(c)) && !droppedBy(c))).head()
    val Seq(newOpts, rep, drop, liveOpts) = (0 until 4).map(op.getLong)
    CycleFacts(Changes(newItems + newOpts + rep, rep, rep + drop), newItems,
      newOpts + rep + drop, liveItems + liveOpts)
  }
}

/** @param want        change rows the cycle's diffs must emit
  * @param freshItems  new item rows
  * @param freshOptions new, repriced and dropped option rows
  * @param inputRows   rows of the frames handed to the program */
final case class CycleFacts(want: Changes, freshItems: Long, freshOptions: Long, inputRows: Long)

object ReplaySource {
  val OptionTs = "option_ts"
  /** 60 days of history before the timed run date. With all 1,096 dates
    * of the input as history, a cycle costs about 60 s on 4 cores and
    * the bootstrap about 90 s, which does not fit a run; the timed cycle
    * still rewrites every history partition. */
  val HistoryStart: LocalDate = LocalDate.parse("1997-11-02")
  val FirstRunDate: LocalDate = LocalDate.parse("1998-01-01")
  /** The one run date a run times, a day of items. */
  val TimedCycle = 1
  val RepricePerMille = 5
  val DropPerMille = 2

  /** Every path under `root` (none if it is absent), walked and closed. */
  def walk[T](root: Path)(f: Iterator[Path] => T): T =
    if (!Files.exists(root)) f(Iterator.empty)
    else {
      val stream = Files.walk(root)
      try f(stream.iterator().asScala) finally stream.close()
    }

  def isParquet(p: Path): Boolean =
    Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")

  def dirBytes(path: String): Long = walk(Paths.get(path))(_.filter(isParquet).map(Files.size).sum)
}

final case class Changes(insert: Long, update: Long, delete: Long)

/** Parquet files in the lake written since a given instant, by stage. */
final case class LakeWrites(files: Map[String, Long], bytes: Map[String, Long],
    partitionsWritten: Long, partitionsNew: Long)

object LakeWrites {
  val Nothing = LakeWrites(Map.empty, Map.empty, 0L, 0L)

  /** Lake zone → the pipeline stage that writes it. */
  def stageOf(rel: String): Option[String] = {
    val parts = rel.split('/')
    (parts(0), if (parts.length > 1) parts(1) else "") match {
      case ("bronze", "order_items") | ("cdc", "order_items") => Some("cdc.bronze_fact")
      case ("bronze", _) | ("cdc", _) | ("snapshots", _) => Some("cdc.bronze_snapshot")
      case ("silver", "order_items") => Some("silver.conform_items")
      case ("silver", "order_item_options") => Some("silver.conform_options")
      case ("silver", "order_revenue") => Some("silver.revenue")
      case ("gold", _) => Some("gold.refresh")
      case _ => None
    }
  }

  def partitionDirs(root: Path): Set[String] = ReplaySource.walk(root)(
    _.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("creation_date="))
      .map(p => root.relativize(p).toString).toSet)

  def since(root: Path, sinceMillis: Long, dirsBefore: Set[String]): LakeWrites = {
    val fresh = ReplaySource.walk(root)(
      _.filter(p => ReplaySource.isParquet(p) && Files.getLastModifiedTime(p).toMillis >= sinceMillis)
        .map(p => root.relativize(p).toString -> Files.size(p)).toSeq)
    val byStage = fresh.flatMap { case (rel, n) => stageOf(rel).map(s => (s, rel, n)) }
    val written = fresh.map(_._1).filter(_.contains("creation_date="))
      .map(r => r.substring(0, r.lastIndexOf('/'))).toSet
    LakeWrites(
      byStage.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong },
      byStage.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum },
      written.size.toLong, written.count(d => !dirsBefore.contains(d)).toLong)
  }
}

/** `pipeline_replay`: consecutive run dates through [[CdcPipeline]].
  *
  * Set-up writes the generated source and runs the bootstrap run date
  * over the whole history (every mart built full). The timed op is then
  * one run date: bronze fact ingest, options snapshot diff, both silver
  * conforms, the revenue build and the incremental gold refresh. */
final class PipelineReplay(spark: SparkSession, dir: String, work: String, seed: Long,
    tracer: Tracer) extends Workload {
  import PipelineReplay._
  import ReplaySource.TimedCycle

  private val lakeRoot = Paths.get(work, "lake")
  private val lake = Lakehouse(lakeRoot.toUri.toString.stripSuffix("/"))
  private val source = new ReplaySource(spark, dir, s"$work/gen", seed)
  private lazy val pipe = new CdcPipeline(spark, lake)
  private val cdcTs = lit(CdcClock).cast("timestamp")

  private var genBytes = (0L, 0L)
  private var genRows = (0L, 0L)
  private var dirsBefore = Set.empty[String]
  private var writes = LakeWrites.Nothing
  private var facts: CycleFacts = _
  private var got = Changes(0, 0, 0)

  /** Generation and bootstrap. */
  def setUp(): Unit = {
    val t0 = System.nanoTime()
    val (bytes, rows) = source.materialize()
    genBytes = bytes
    genRows = rows
    val t1 = System.nanoTime()
    runCycle(0)
    Console.err.println(f"[graftbench] generate ${(t1 - t0) / 1e9}%.1fs bootstrap ${(System.nanoTime() - t1) / 1e9}%.1fs")
  }

  private def runDate(c: Int): String = s"run-$c"

  /** One run date through every stage, in the job's order. Cycle 0 is the
    * bootstrap: its extract holds the whole history. */
  private def runCycle(c: Int): Unit = {
    val rd = runDate(c)
    tracer.span("cdc.bronze_fact") {
      pipe.bronzeFact(source.itemsAt(c), "order_items", "creation_ts", rd, cdcTs,
        now = s"${source.end(c)} 00:00:00")
    }
    tracer.span("cdc.bronze_snapshot") {
      pipe.bronzeSnapshot(source.optionsAt(c), "order_item_options",
        Seq("order_id", "lineitem_id", "option_name"), rd, cdcTs)
    }
    tracer.span("silver.conform_items") {
      pipe.silverConform("order_items", lake.bronze("order_items", rd), "creation_ts",
        Map("item_price" -> "double"), Seq("order_id", "lineitem_id"), Seq(col("item_price")))
    }
    tracer.span("silver.conform_options") {
      pipe.silverConform("order_item_options", lake.bronze("order_item_options", rd),
        ReplaySource.OptionTs, Map("option_price" -> "double"), Seq("order_id", "lineitem_id"),
        Seq(col("option_name"), col("option_price")))
    }
    tracer.span("silver.revenue")(pipe.silverRevenue())
    tracer.span("gold.refresh")(pipe.refreshGold(rd))
  }

  def ops: Seq[Op] = Seq(Op("cycle", () => { runCycle(TimedCycle); None }))

  override def beforeOp(op: Op): Unit =
    if (tracer.enabled) dirsBefore = LakeWrites.partitionDirs(lakeRoot)

  /** Traced runs: what the cycle wrote to the lake. */
  override def afterOp(op: Op, out: Option[(DataFrame, Array[Row])], startMillis: Long): Unit =
    if (tracer.enabled) writes = LakeWrites.since(lakeRoot, startMillis, dirsBefore)

  /** Counts the change rows the timed cycle landed and what the source
    * says it should have landed. */
  override def finish(): Unit = {
    facts = source.facts(TimedCycle)
    def counts(table: String): Seq[(String, Long)] =
      spark.read.parquet(s"${lake.root}/cdc/$table").filter(col("date") === runDate(TimedCycle))
        .groupBy("cdc_action").count().collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val all = counts("order_items") ++ counts("order_item_options")
    def n(a: String) = all.collect { case (x, k) if x == a => k }.sum
    got = Changes(n("insert"), n("update"), n("delete"))
  }

  def inputRows: Long = facts.inputRows

  /** Each refreshed mart equals its full build over the final silver, and
    * the cycle's change counts equal the generator's. */
  def check(): Seq[String] = {
    val revenue = spark.read.parquet(lake.silver("order_revenue"))
    val marts = Seq(
      "fact_ltv_daily" -> Ltv.daily(revenue),
      "mart_customer_rfm" -> Rfm(revenue),
      "mart_customer_churn_profile" -> Churn(revenue),
      "mart_sales_trends/daily" -> SalesTrends.daily(revenue))
    val martErrors = marts.flatMap { case (m, full) =>
      val got = OutputHash(spark.read.parquet(lake.gold(m)).collect())
      val want = OutputHash(full.collect())
      if (got == want) None else Some(s"$m: refreshed $got != full build $want")
    }
    martErrors ++
      (if (got == facts.want) None else Some(s"cdc changes $got != generator ${facts.want}"))
  }

  /** Figures of the timed cycle. */
  def layerMetrics(cores: Int, counters: TaskCounters): Map[String, Double] = {
    val stages = Stages.flatMap { st =>
      val spans = tracer.named(st).filter(_.op >= 0)
      val counts = spans.map(s => counters.forSpan(s.id))
      val wall = spans.map(_.seconds).sum
      Seq(
        s"${st}_s" -> spans.map(tracer.selfSeconds).sum,
        s"$st.tasks" -> counts.map(_.tasks).sum.toDouble,
        s"$st.core_busy" -> (if (wall > 0) counts.map(_.cpuNs).sum / 1e9 / (wall * cores) else 0.0),
        s"$st.shuffle_mb" -> counts.map(_.shuffleBytes).sum / Mb,
        s"$st.spill_mb" -> counts.map(_.spillBytes).sum / Mb,
        s"$st.files" -> writes.files.getOrElse(st, 0L).toDouble,
        s"$st.mb_written" -> writes.bytes.getOrElse(st, 0L) / Mb)
    }
    val files = writes.files.values.sum.toDouble
    val perItem = genBytes._1.toDouble / genRows._1.max(1)
    val perOption = genBytes._2.toDouble / genRows._2.max(1)
    val freshBytes = facts.freshItems * perItem + facts.freshOptions * perOption
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    stages.toMap ++ Map(
      "io.files_written" -> files,
      "io.write_amp" -> ratio(writes.bytes.values.sum.toDouble, freshBytes),
      "io.rows_per_file" -> ratio((facts.freshItems + facts.freshOptions).toDouble, files),
      "io.partitions_rewritten" -> writes.partitionsWritten.toDouble,
      "io.partitions_changed" -> writes.partitionsNew.toDouble,
      "io.rewrite_yield" -> ratio(writes.partitionsNew.toDouble, writes.partitionsWritten.toDouble),
      "cdc.changes.insert" -> got.insert.toDouble,
      "cdc.changes.update" -> got.update.toDouble,
      "cdc.changes.delete" -> got.delete.toDouble)
  }
}

object PipelineReplay {
  val CdcClock = "2024-06-01 00:00:00"
  val Mb = 1024.0 * 1024.0
  val Stages = Seq("cdc.bronze_fact", "cdc.bronze_snapshot", "silver.conform_items",
    "silver.conform_options", "silver.revenue", "gold.refresh")
}
