package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot-diff CDC operator: `(current, previous, pk) →
  * ChangeSet{insert, update, delete}`.
  *
  * Reference capability (`scripts/cdc_metrics_job_bronze.py:91-112`):
  *  - inserts = `current.subtract(previous)` — full-row EXCEPT DISTINCT, so
  *    an UPDATED row's new image also lands in inserts;
  *  - deletes = `previous.subtract(current)` — the old image of an updated
  *    row also lands in deletes;
  *  - updates = inner join on PK filtered by a null-UNSAFE any-non-PK-column
  *    `<>` OR-chain (`:106`), new image kept.
  * A changed row therefore emits THREE change rows (insert + update +
  * delete) — that is the reference's contract and the default here.
  *
  * Spark-first shape: the reference runs two EXCEPTs and a join — five
  * shuffles of the fact. We compute ONE null-safe full-outer join on the
  * PK and derive all three action sets from it; the three branches share
  * the two shuffle exchanges (ReuseExchange), so each side of the data is
  * shuffled exactly once. Inputs must be PK-unique (run
  * [[graft.silver.CleanConform]] first — the reference dedups at `:78`).
  *
  * Null semantics, preserved exactly:
  *  - insert/delete detection is full-row EXCEPT, i.e. NULL-safe equality
  *    (NULL == NULL): a NULL→NULL column does not make a row "different";
  *  - update detection is null-UNSAFE `<>`: a NULL→value or value→NULL
  *    change is NOT flagged as an update (reference bug, kept as the
  *    default contract; `nullSafeUpdates = true` is the corrected mode).
  */
object SnapshotDiff {

  /** @param current  current extract (PK-unique)
    * @param previous prior snapshot (PK-unique, same schema)
    * @param pk       primary-key columns
    * @param cdcTimestamp injected clock literal (the reference uses
    *                     `current_timestamp()`; tests inject a fixed one)
    * @param nullSafeUpdates corrected update detector (`<=>`-based)
    * @return change rows: data columns + `cdc_action` + `cdc_timestamp` */
  def apply(
      current: DataFrame,
      previous: DataFrame,
      pk: Seq[String],
      cdcTimestamp: Column = current_timestamp(),
      nullSafeUpdates: Boolean = false): DataFrame = {
    val dataCols = current.columns.toSeq
    val nonPk = dataCols.filterNot(pk.contains)

    val cur = dataCols.foldLeft(current)((d, c) => d.withColumnRenamed(c, s"__c_$c"))
      .withColumn("__c_present", lit(true))
    val prev = dataCols.foldLeft(previous)((d, c) => d.withColumnRenamed(c, s"__p_$c"))
      .withColumn("__p_present", lit(true))

    val joinCond = pk.map(k => col(s"__c_$k") <=> col(s"__p_$k")).reduce(_ && _)
    val joined = cur.join(prev, joinCond, "full_outer")

    def anyDiff(nullSafe: Boolean): Column = nonPk
      .map { c =>
        if (nullSafe) !(col(s"__c_$c") <=> col(s"__p_$c"))
        else col(s"__c_$c") =!= col(s"__p_$c")
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))

    val bothPresent = col("__c_present").isNotNull && col("__p_present").isNotNull
    // Full-row EXCEPT semantics: with PK-unique sides, a current row is an
    // insert iff its key is new OR the matched rows differ (null-safely).
    val insertCond = col("__p_present").isNull || (bothPresent && anyDiff(nullSafe = true))
    val deleteCond = col("__c_present").isNull || (bothPresent && anyDiff(nullSafe = true))
    val updateCond = bothPresent && anyDiff(nullSafe = nullSafeUpdates)

    def project(side: String, cond: Column, action: String): DataFrame =
      joined.filter(cond).select(dataCols.map(c => col(s"__${side}_$c").as(c)): _*)
        .withColumn("cdc_action", lit(action))

    project("c", insertCond, "insert")
      .union(project("c", updateCond, "update"))
      .union(project("p", deleteCond, "delete"))
      .withColumn("cdc_timestamp", cdcTimestamp)
  }

  /** Reference-FIDELITY mode (SURVEY §2.4 note): the reference diffs
    * entire bronze rows INCLUDING the pipeline-added metadata columns
    * (`ingestion_timestamp`, `cdc_timestamp`, `cdc_action`,
    * `cdc_metrics_job_bronze.py:79-81,112`) — the stored snapshot carries
    * the PRIOR run's stamps while the current extract gets fresh ones, so
    * every unchanged row still diffs and each run emits a full
    * insert+delete storm. That semantic is a reference bug; the default
    * [[apply]] diffs data columns only. This mode reproduces the storm
    * for byte-faithful migrations: `current` is stamped with this run's
    * `ingestionTimestamp` and compared against the metadata-carrying
    * `previousWithMeta` snapshot over ALL columns. */
  def referenceFidelity(
      current: DataFrame,
      previousWithMeta: DataFrame,
      pk: Seq[String],
      ingestionTimestamp: Column,
      cdcTimestamp: Column = current_timestamp()): DataFrame = {
    val stamped = current.withColumn("ingestion_timestamp", ingestionTimestamp)
    val prev = previousWithMeta.select(
      stamped.columns.map(c => col(c)).toIndexedSeq: _*)
    apply(stamped, prev, pk, cdcTimestamp)
  }

  /** The reference's literal decomposition (two EXCEPTs + join) — used by
    * tests to cross-check [[apply]]; slower (five shuffles vs two). */
  def referenceDecomposition(
      current: DataFrame,
      previous: DataFrame,
      pk: Seq[String],
      cdcTimestamp: Column = current_timestamp()): DataFrame = {
    val nonPk = current.columns.filterNot(pk.contains).toSeq
    val inserts = current.except(previous).withColumn("cdc_action", lit("insert"))
    val deletes = previous.except(current).withColumn("cdc_action", lit("delete"))
    val joinCond = pk.map(k => current(k) === previous(k)).reduce(_ && _)
    val updates = current.alias("curr").join(previous.alias("prev"), joinCond, "inner")
      .filter(nonPk.map(c => col(s"curr.$c") =!= col(s"prev.$c")).reduceOption(_ || _).getOrElse(lit(false)))
      .select("curr.*")
      .withColumn("cdc_action", lit("update"))
    inserts.union(updates).union(deletes).withColumn("cdc_timestamp", cdcTimestamp)
  }
}
