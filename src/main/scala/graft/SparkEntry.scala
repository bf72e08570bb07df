package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bindings.{CdcFixture, Conformed, Corpus}
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, Temporal, TextAnalysis}
import graft.gold.{Churn, Discount, Location, Loyalty, Ltv, Rfm, SalesTrends}
import graft.oracle.{ExtOracleSql, OracleSql}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator (or composite mart) from
  * SURVEY.md §2; [[oracleSql]] carries its DuckDB mirror for the t2
  * correctness gate. Column names/aliases match pairwise; every query
  * ends with a total ORDER BY so compares are row-order-independent
  * either way.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_ltv_daily")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // ---- silver conform (J2, P10, P4, P12, P15, F6) ----
    // (order_id, lineitem_id) alone is not a total order — the testdata
    // plants duplicate keys with differing payloads (q15 detects them) —
    // so payload tie-breakers make the ordering contract actually hold.
    "q01_order_revenue" -> ((s, dir) =>
      Conformed.orderRevenueCached(s, dir)
        .orderBy(col("order_id"), col("lineitem_id"), col("item_category"),
          col("item_price"), col("restaurant_id"))),

    // ---- gold: LTV / CLV (A1, W1, W2, P8, A8) ----
    "q02_ltv_daily" -> ((s, dir) =>
      Ltv.daily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"), col("creation_date"))),
    "q03_ltv_latest" -> ((s, dir) =>
      Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir)))
        .orderBy(col("user_id"))),
    "q04_clv_segments" -> ((s, dir) =>
      Ltv.segments(Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir))))
        .orderBy(col("user_id"))),

    // ---- gold: RFM (A2, A3, A4, J3, F2, P9) ----
    "q05_rfm" -> ((s, dir) =>
      Rfm(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"))),

    // ---- gold: churn profile (A2, A5, A6, W3, J4, J5, P11, F6, P9) ----
    "q06_churn" -> ((s, dir) =>
      Churn(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"))),

    // ---- gold: sales trends (J6, F1, F4, F5, A9) ----
    "q07_trends_daily" -> ((s, dir) =>
      SalesTrends.daily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("creation_date"), col("restaurant_id"), col("item_category"))),
    "q08_trends_weekly" -> ((s, dir) =>
      SalesTrends.weekly(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("year_week"), col("restaurant_id"), col("item_category"))),
    "q09_trends_monthly" -> ((s, dir) =>
      SalesTrends.monthly(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("year_month"), col("restaurant_id"), col("item_category"))),
    "q10_trends_hourly" -> ((s, dir) =>
      SalesTrends.hourly(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("hour_of_day"), col("restaurant_id"), col("item_category"))),

    // ---- gold: loyalty impact (J7, J8, A10, P9) ----
    "q11_loyalty" -> ((s, dir) =>
      Loyalty(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("is_loyalty"))),

    // ---- gold: location performance (J9, A13, W4) ----
    "q12_location" -> ((s, dir) =>
      Location(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- gold: discount effectiveness (J10, A11, A12, P9) ----
    "q13_discount" -> ((s, dir) =>
      Discount(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("is_discounted_order"))),

    // ---- cdc: snapshot diff (U1, U2, U3, J1, P7, P3, P14) ----
    "q14_snapshot_diff" -> ((s, dir) =>
      graft.cdc.SnapshotDiff(
        CdcFixture.current(s, dir), CdcFixture.previous(s, dir),
        pk = Seq("o_orderkey"))
        .drop("cdc_timestamp")
        .orderBy(col("o_orderkey"), col("cdc_action"))),

    // ---- cdc: merge the changeset back into the prior snapshot; the
    // result must BE the current snapshot (oracle derives it independently) ----
    "q74_cdc_merge" -> ((s, dir) =>
      graft.cdc.CdcApply.merge(
        CdcFixture.previous(s, dir),
        graft.cdc.SnapshotDiff(
          CdcFixture.current(s, dir), CdcFixture.previous(s, dir),
          pk = Seq("o_orderkey")),
        pk = Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))),

    // ---- cdc: SCD Type-2 history from the snapshot pair ----
    "q75_scd2" -> ((s, dir) =>
      graft.cdc.CdcApply.scd2(
        CdcFixture.current(s, dir), CdcFixture.previous(s, dir),
        pk = Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("valid_from"))),

    // ---- ext: deduplication ----
    "q15_dedup_exact" -> ((s, dir) =>
      Dedup.keyedDupGroups(Tables.lineitem(s, dir), Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),
    "q16_minhash_neardups" -> ((s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text", minEst = 0.5)
        .orderBy(col("id_a"), col("id_b"))),
    "q17_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q18_jaccard_verify" -> ((s, dir) =>
      Dedup.lshVerifiedPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),
    "q19_embedding_neardups" -> ((s, dir) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- ext: similarity search ----
    "q20_topk_cosine" -> ((s, dir) =>
      Similarity.topKNeighbors(Tables.embeddings(s, dir), "vec_id", "embedding", k = 5)
        .orderBy(col("vec_id"), col("rank"))),
    "q21_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 5, centroidEvery = 100)
        .orderBy(col("vec_id"), col("rank"))),

    // ---- ext: text analysis ----
    "q22_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q23_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q24_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q25_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- ext: event windows (streaming-capable transforms, batch-run) ----
    "q26_event_windows" -> ((s, dir) =>
      graft.streaming.EventMetrics.tumbling(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type"))),
    "q27_sessions" -> ((s, dir) =>
      graft.streaming.EventMetrics.sessions(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_start"))),
    "q36_sliding_windows" -> ((s, dir) =>
      graft.streaming.EventMetrics.sliding(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type"))),

    // ---- ext: multimodal binary plumbing (stubbed decode) ----
    "q28_multimodal" -> ((s, dir) =>
      Multimodal.featurize(
        Multimodal.toMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF().orderBy(col("doc_id"))),

    // ---- ext: semi-structured props (from_json) + calendar dim ----
    "q29_event_props" -> ((s, dir) =>
      graft.ext.EventProps.propRollup(Tables.events(s, dir))
        .orderBy(col("event_type"))),
    "q30_date_dim" -> ((s, dir) =>
      graft.ext.DateDim.generate(s, "1995-01-01", "2001-12-31")
        .orderBy(col("date_key"))),

    // ---- gold: all calendar grains in one pass, rolled up from daily
    // partials (A9; Expand-free — GROUPING SETS variant spec-pinned equal) ----
    "q31_trends_multigrain" -> ((s, dir) =>
      SalesTrends.multiGrainFromDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("grain"), col("creation_date"), col("year_week"),
          col("year_month"), col("restaurant_id"), col("item_category"))),

    // ---- ext: as-of join (purchase -> latest prior view per user) ----
    "q32_asof_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      Temporal.asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
          rightPayload = Seq("event_id", "ts"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("asof_event_id").as("view_event_id"),
          col("asof_ts").as("view_ts"),
          (unix_micros(col("ts")) - unix_micros(col("asof_ts")))
            .as("micros_since_view"))
        .orderBy(col("event_id"))
    }),

    // ---- ext: character n-gram Jaccard near-dups ----
    "q33_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),

    // ---- ext: SRP-LSH-bucketed approximate top-k ----
    "q35_srp_topk" -> ((s, dir) =>
      Similarity.srpTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, nBits = 6, dim = 64)
        .orderBy(col("vec_id"), col("rank"))),

    // ---- gold: PIVOT, exact median, RANGE frame, NTILE ----
    "q39_monthly_pivot" -> ((s, dir) =>
      SalesTrends.monthlyPivot(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),
    "q40_median_line_revenue" -> ((s, dir) =>
      graft.gold.Percentiles.medianLineRevenue(
          Conformed.orderRevenueCached(s, dir), "restaurant_id")
        .orderBy(col("restaurant_id"))),
    "q41_trailing_revenue" -> ((s, dir) =>
      Ltv.trailingRevenue(Conformed.orderRevenueCached(s, dir), days = 7)
        .orderBy(col("user_id"), col("creation_date"))),
    "q42_ltv_deciles" -> ((s, dir) =>
      Ltv.deciles(Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir))))
        .orderBy(col("user_id"))),

    // ---- ext: corpus term statistics (df/tf vocabulary) ----
    "q37_term_stats" -> ((s, dir) =>
      TextAnalysis.termStats(Tables.documents(s, dir), "doc_id", "text", topK = 100)
        .orderBy(col("df").desc, col("term"))),

    // ---- ext: exact per-label embedding centroids ----
    "q38_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy(col("label"), col("pos"))),

    // ---- ext: range (interval) join via day-bucket equi-join ----
    "q34_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("event_date"), col("value"))
      val windows = s.range(10).select(
          col("id").as("window_id"),
          date_add(lit("2024-01-01").cast("date"),
            (col("id") * 3).cast("int")).as("window_start"))
        .withColumn("window_end",
          date_add(col("window_start"),
            ((col("window_id") % 4) * 3 + 2).cast("int")))
      Temporal.rangeJoinDates(ev, windows,
          "event_date", "window_start", "window_end", bucketDays = 7)
        .groupBy(col("window_id"), col("window_start"), col("window_end"))
        .agg(count(lit(1)).as("n_events"),
          graft.gold.Money.sumMoney(col("value")).as("value_sum"))
        .orderBy(col("window_id"))
    }),

    // ---- ext: near-dup clustering (connected components over LSH pairs) ----
    "q43_dup_clusters" -> ((s, dir) =>
      graft.ext.Clusters.nearDupClusters(
          Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.5)
        .orderBy(col("doc_id"))),

    // ---- ext: PageRank quality prior over the near-dup graph ----
    "q77_pagerank" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Clusters.pageRank(
          Dedup.lshVerifiedPairs(docs, "doc_id", "text")
            .filter(col("jaccard") >= 0.5),
          docs, "doc_id", iterations = 3)
        .orderBy(col("doc_id"))
    }),

    // ---- ext: Z-order layout zone-map stats ----
    "q78_zorder_stats" -> ((s, dir) => {
      val src = Tables.orders(s, dir).select(
        (col("o_custkey") % 1024).as("ck"),
        (datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long") % 1024).as("ed"))
      graft.ext.Layout.zorderStats(src, "ck", "ed", bits = 10, prefixBits = 6)
        .orderBy(col("z_cell"))
    }),

    // ---- gold: incremental maintenance replay (SURVEY §4 delta path;
    // reference contract: gold equals a full rebuild from silver,
    // cdc_metrics_job_silver.py:53-75 + cdc_metrics_job_gold.py) — a
    // mid-range day is withheld from the prior mart and re-applied as
    // the CDC delta; the oracle is the plain full recompute ----
    "q79_incremental_ltv" -> ((s, dir) =>
      graft.gold.IncrementalReplay.ltvDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"), col("creation_date"))),
    "q80_incremental_rfm" -> ((s, dir) =>
      graft.gold.IncrementalReplay.rfm(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"))),
    "q81_incremental_churn" -> ((s, dir) =>
      graft.gold.IncrementalReplay.churn(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"))),
    "q82_incremental_trends" -> ((s, dir) =>
      graft.gold.IncrementalReplay.trendsDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("creation_date"), col("restaurant_id"), col("item_category"))),

    // ---- cdc: bronze watermark two-run replay (C2/C3, reference entry
    // point cdc_metrics_job_bronze.py:57-90) — run 1 cold-starts the
    // watermark and ingests the pre-cutover world, run 2 ingests the
    // full extract THROUGH the stored watermark; the union of both
    // runs' append-only cdc landings must equal one clean partition of
    // the whole table, which the oracle derives independently ----
    "q83_watermark_replay" -> ((s, dir) => {
      val lake = graft.io.Lakehouse(
        java.nio.file.Files.createTempDirectory("graft-replay").toString)
      val pipe = new graft.pipeline.CdcPipeline(s, lake, defaultWatermark = "1900-01-01")
      val orders = Tables.orders(s, dir)
      val cut = "1998-01-01 00:00:00"
      // run 1: the world as of the cutover; watermark advances to it
      pipe.bronzeFact(
        orders.filter(col("o_orderdate") < lit(cut).cast("timestamp")),
        "orders", "o_orderdate", runDate = "1998-01-01",
        cdcTs = lit(cut).cast("timestamp"), now = cut)
      // run 2: full current extract; only rows at/after the stored
      // watermark are ingested (>= re-reads the boundary instant)
      pipe.bronzeFact(
        orders, "orders", "o_orderdate", runDate = "2001-12-31",
        cdcTs = lit("2001-12-31 00:00:00").cast("timestamp"),
        now = "2001-12-31 00:00:00")
      // read the cdc zone root: partition discovery surfaces date= (the
      // runDate) and cdc_action=; both runs' landings come back in one scan
      s.read.parquet(s"${lake.root}/cdc/orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
          col("ingestion_timestamp"), col("cdc_action"), col("cdc_timestamp"))
        .orderBy(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    }),

    // ---- ext: corpus-frequency boilerplate signal (frequent n-gram
    // share per doc — the frequent-line filter analogue) ----
    "q84_boilerplate_share" -> ((s, dir) =>
      TextAnalysis.boilerplateShare(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- ext: doc-inside-doc containment over LSH candidates ----
    "q85_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),

    // ---- ext: BPE-style merge-candidate (bigram) statistics ----
    "q86_bigram_merges" -> ((s, dir) =>
      TextAnalysis.bigramMergeStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("merge_rank"))),

    // ---- ext: per-source length distribution (exact discrete quantiles) ----
    "q87_length_quantiles" -> ((s, dir) =>
      graft.ext.Profiling.groupQuantilesDisc(
          Tables.documents(s, dir), "source", "n_chars")
        .orderBy(col("source"))),

    // ---- streaming: exact dedup proven by file-stream replay — keys
    // recurring across micro-batches must be suppressed by state ----
    "q88_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamingDedup.distinctKeysViaStream(s, dir)
        .orderBy(col("user_id"), col("event_type"))),

    // ---- ext: inverted-index postings with bounded-heap samples ----
    "q89_postings" -> ((s, dir) =>
      TextAnalysis.postings(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("term"))),

    // ---- ext: cross-source rare-n-gram contamination matrix ----
    "q90_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlapMatrix(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source_a"), col("source_b"))),

    // ---- ext: salted skew join gated against the plain join — the
    // join sibling of q61's salted agg (equivalence is the contract) ----
    "q91_salted_join" -> ((s, dir) => {
      val brands = Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.ext.Skew.saltedJoin(Tables.lineitem(s, dir), brands,
          Seq("l_partkey"), numSalts = 8, saltSource = col("l_orderkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(round(col("l_extendedprice") * 10000)) / 10000.0)
            .as("gross_revenue"))
        .orderBy(col("p_brand"))
    }),

    // ---- gold: UNPIVOT — melt the pivot report back to long; the
    // oracle recomputes the direct monthly aggregate, so the gate pins
    // pivot∘unpivot == groupBy(month), both operators' semantics ----
    "q92_unpivot_months" -> ((s, dir) =>
      SalesTrends.unpivotMonths(
          SalesTrends.monthlyPivot(Conformed.orderRevenueCached(s, dir)))
        .orderBy(col("restaurant_id"), col("month"))),

    // ---- ext: CUBE with grouping_id over order year × priority ----
    "q93_orders_cube" -> ((s, dir) =>
      graft.ext.Olap.ordersCube(Tables.orders(s, dir))
        .orderBy(col("gid"), col("order_year"), col("o_orderpriority"))),

    // ---- cdc: change-log compaction (latest surviving state per key,
    // newest-delete keys drop) ----
    "q94_cdc_compaction" -> ((s, dir) => {
      val log = Tables.orders(s, dir).withColumn("cdc_action",
        when(pmod(col("o_orderkey"), lit(10)) === 0, "delete")
          .when(pmod(col("o_orderkey"), lit(3)) === 0, "update")
          .otherwise("insert"))
      graft.cdc.CdcApply.compactLog(log, Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("cdc_action"))
        .orderBy(col("o_custkey"))
    }),

    // ---- ext: cross-system reconciliation fingerprints (bucketed
    // order-independent checksums both engines derive independently) ----
    "q95_fingerprint" -> ((s, dir) =>
      graft.ext.Reconcile.fingerprint(Tables.orders(s, dir),
          keyCols = Seq(col("o_orderkey")),
          canonCols = Seq(
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 10000).cast("long"),
            col("o_orderdate").cast("date"), col("o_orderpriority")))
        .orderBy(col("bucket"))),

    // ---- ext: deterministic weighted sampling (repeated hashing —
    // exact integer competition, no cross-engine float pow) ----
    "q96_weighted_sample" -> ((s, dir) =>
      graft.ext.Sampling.weightedSample(
          Tables.documents(s, dir), "doc_id",
          lit(1L) + pmod(col("doc_id"), lit(3L)), k = 50)
        .orderBy(col("sample_rank"))),

    // ---- ext: typo-tolerant entity matching (blocked levenshtein) ----
    "q97_fuzzy_match" -> ((s, dir) =>
      Dedup.fuzzyNamePairs(Tables.part(s, dir), "p_partkey", "p_name",
          "p_brand", maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- streaming: watermarked stream-stream inner join replayed
    // from a sliced file stream == the batch range join ----
    "q98_stream_stream_join" -> ((s, dir) =>
      graft.streaming.StreamJoin.purchaseViewJoinViaStream(s, dir)
        .orderBy(col("purchase_id"), col("view_id"))),

    // ---- ext: event-time debounce (sequential recurrence via
    // secondary-sort mapPartitions; oracle is a recursive CTE) ----
    "q99_debounce" -> ((s, dir) =>
      graft.ext.Behavior.debounce(Tables.events(s, dir), deltaSeconds = 86400)
        .orderBy(col("user_id"), col("event_type"), col("ts"), col("event_id"))),

    // ---- ext: time-series gap fill over per-key calendar spines ----
    "q100_gap_fill" -> ((s, dir) =>
      graft.ext.Timeseries.gapFillDaily(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- gold: the analytic-ranking family in one window pass ----
    "q101_rank_suite" -> ((s, dir) =>
      graft.gold.Percentiles.rankReport(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- multiset set operations (INTERSECT ALL / EXCEPT ALL) ----
    "q102_set_ops" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      // half-open range, not year(col) === y: pushes into the parquet
      // scan (year() of the column cannot; see gold/Logistics.scala)
      def yr(y: Int) =
        o.filter(col("o_orderdate") >= lit(s"$y-01-01") &&
            col("o_orderdate") < lit(s"${y + 1}-01-01"))
          .select(col("o_custkey"))
      val ia = yr(1997).intersectAll(yr(1998)).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val ea = yr(1997).exceptAll(yr(1998)).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      ia.unionByName(ea).select(col("op"), col("o_custkey"), col("n"))
        .orderBy(col("op"), col("o_custkey"))
    }),

    // ---- ext: L2 normalization via higher-order array functions ----
    "q103_l2_normalize" -> ((s, dir) =>
      Similarity.l2NormalizeReport(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    // ---- ext: bloom-pruned semi join == plain semi join ----
    "q104_bloom_join" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.ext.Prune.bloomPrunedSemiJoin(
          Tables.lineitem(s, dir), "l_orderkey", urgent, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // ---- io: CSV round-trip of the conformed fact (schema-explicit;
    // the gate equals q01's oracle, so the format is proven lossless
    // for dates / doubles / nullable strings) ----
    "q105_csv_roundtrip" -> ((s, dir) => {
      val conformed = Conformed.orderRevenueCached(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
      graft.io.Formats.writeCsv(conformed, tmp)
      graft.io.Formats.readCsv(s, tmp, conformed.schema)
        .orderBy(col("order_id"), col("lineitem_id"), col("item_category"),
          col("item_price"), col("restaurant_id"))
    }),

    // ---- io: ORC round-trip of the raw fact (timestamps + doubles +
    // planted duplicate rows survive bit-exact) ----
    "q106_orc_roundtrip" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
      graft.io.Formats.writeOrc(li, tmp)
      graft.io.Formats.readOrc(s, tmp, li.schema)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_quantity"))
    }),

    // ---- the SQL front door: scalar subqueries + correlated EXISTS,
    // decorrelated by Catalyst (threshold compared in exact integer
    // units so the boundary never floats between engines) ----
    "q107_sql_subqueries" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o.o_custkey, count(*) AS n_big_orders,
                  sum(round(o.o_totalprice * 10000)) / 10000.0 AS big_total
           FROM orders_v o
           WHERE round(o.o_totalprice * 10000)
                   * (SELECT count(*) FROM orders_v)
                 > (SELECT sum(round(o_totalprice * 10000)) FROM orders_v)
             AND EXISTS (SELECT 1 FROM orders_v i
                         WHERE i.o_custkey = o.o_custkey
                           AND year(i.o_orderdate) = 2001)
           GROUP BY o.o_custkey ORDER BY o.o_custkey""")
    }),

    // ---- gold: running DISTINCT users per restaurant (first-seen
    // reduction + cumsum — exact, no per-frame distinct sets) ----
    "q108_running_distinct" -> ((s, dir) =>
      graft.gold.Location.runningDistinctUsers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- schema evolution: two writer generations merged with
    // unionByName(allowMissingColumns) — absent columns become NULLs ----
    "q109_schema_evolution" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val v1 = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .drop("o_orderpriority")
      val v2 = o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0)
        .withColumn("o_channel",
          concat(lit("ch"), pmod(col("o_orderkey"), lit(3)).cast("string")))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    }),

    // ---- ext: winsorize to per-group exact discrete quantiles ----
    "q110_winsorize" -> ((s, dir) =>
      graft.ext.Profiling.winsorize(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"), col("clipped"))
        .orderBy(col("doc_id"))),

    // ---- ext: ordered session paths (deterministic sequence feature) ----
    "q111_session_paths" -> ((s, dir) =>
      graft.ext.Behavior.sessionPaths(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_start"))),

    // ---- ext: market-basket category co-occurrence with lift ----
    "q112_category_lift" -> ((s, dir) =>
      graft.ext.Association.categoryLift(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("cat_a"), col("cat_b"))),

    // ---- gold: month-over-month growth (period-over-period KPI) ----
    "q113_mom_growth" -> ((s, dir) =>
      SalesTrends.monthlyGrowth(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("y"), col("m"))),

    // ---- gold: rolling 7-day distinct users (explode-to-window-ends,
    // never a range join) ----
    "q114_sliding_distinct" -> ((s, dir) =>
      graft.gold.Location.slidingDistinctUsers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("window_end"))),

    // ---- ext: robust median/MAD outliers (heavy-tail-safe anomaly tier) ----
    "q115_mad_outliers" -> ((s, dir) =>
      graft.ext.Anomaly.madOutliers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: exact-moment Pearson correlation (quantity vs price) ----
    "q116_group_corr" -> ((s, dir) =>
      graft.ext.Profiling.groupCorr(
          Tables.lineitem(s, dir), Seq("l_returnflag", "l_linestatus"),
          round(col("l_quantity")), round(col("l_extendedprice") * 10000))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // ---- ext: behavioral analytics over the event log ----
    "q44_retention" -> ((s, dir) =>
      graft.ext.Behavior.retentionWeekly(Tables.events(s, dir))
        .orderBy(col("cohort_week"), col("week_offset"))),
    "q45_funnel" -> ((s, dir) =>
      graft.ext.Behavior.funnel(Tables.events(s, dir))
        .orderBy(col("user_id"))),

    // ---- ext: deterministic splitting / sampling ----
    "q46_hash_split" -> ((s, dir) =>
      graft.ext.Sampling.hashSplit(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))),
    "q47_stratified_sample" -> ((s, dir) =>
      graft.ext.Sampling.stratifiedSample(
          Tables.documents(s, dir), "source", "doc_id", k = 5)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy(col("source"), col("doc_id"))),

    // ---- ext: embedding int8 quantization report ----
    "q48_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8Report(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    // ---- ext: TF-IDF relevance + PII scrub ----
    "q49_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"), col("term_rank"))),
    "q50_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- ext: the composed curation pipeline (quality gate → language
    // gate → near-dup removal → deterministic split), end-to-end gated ----
    "q53_curated_corpus" -> ((s, dir) =>
      graft.ext.Curation.curate(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- ext: dataset profiling (ANALYZE-style per-column stats) ----
    "q54_profile" -> ((s, dir) =>
      graft.ext.Profiling.summarize(Tables.lineitem(s, dir), ProfileCols.map(_._1))
        .orderBy(col("column_name"))),

    // ---- ext: event-sequence mining (first-order transition matrix) ----
    "q55_transitions" -> ((s, dir) =>
      graft.ext.Behavior.transitions(Tables.events(s, dir))
        .orderBy(col("from_type"), col("to_type"))),

    // ---- ext: anomaly detection (z-score outliers over a metric mart) ----
    "q56_revenue_outliers" -> ((s, dir) =>
      graft.ext.Anomaly.revenueOutliers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- 100 TB approx tier, bound-check-gated: exact values the SQL
    // oracle recomputes + booleans asserting each sketch landed within
    // its error bound (the oracle pins them TRUE) ----
    "q51_location_hll" -> ((s, dir) =>
      graft.gold.Location.hllGated(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),
    "q52_segments_approx" -> ((s, dir) =>
      Ltv.segmentsGated(Ltv.latest(Ltv.daily(Conformed.orderRevenueCached(s, dir))))
        .orderBy(col("user_id"))),

    // ---- ext: corpus clustering (Lloyd k-means, exact cross-engine) ----
    "q57_kmeans" -> ((s, dir) =>
      graft.ext.Similarity.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    // ---- ext: benchmark decontamination (n-gram overlap scrub) ----
    "q58_decontaminate" -> ((s, dir) =>
      graft.ext.Dedup.decontaminate(Tables.documents(s, dir), "doc_id", "text",
          col("doc_id") % 20 === 0)
        .orderBy(col("doc_id"))),

    // ---- streaming: GroupState sessionizer proven by file-stream
    // replay against the SAME SQL oracle as the batch q27 ----
    "q59_sessions_stream_replay" -> ((s, dir) =>
      graft.streaming.SessionReplay.sessionsViaStream(s, dir)
        .orderBy(col("user_id"), col("session_start"))),

    // ---- ext: RAG/pretraining chunking + repetition quality signals ----
    "q60_chunking" -> ((s, dir) =>
      TextAnalysis.chunk(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_id"))),
    "q62_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q63_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- flagship composition #2: curate -> chunk -> pack ----
    "q64_packed_corpus" -> ((s, dir) =>
      graft.ext.Curation.packCorpus(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- ext: token-distribution entropy (repetition complement) ----
    "q66_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- ext: unigram-LM quality scoring (CCNet-style filter) ----
    "q76_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- ext: deterministic source-mixture sampling ----
    "q65_mixture_sample" -> ((s, dir) =>
      graft.ext.Sampling.mixtureSample(Tables.documents(s, dir), "source", "doc_id",
          MixRates, defaultRate = 0.1)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))),

    // ---- ext: multimodal frame sampling (geometry gated; md5 stub
    // unit-tested — DuckDB has no byte-window md5) ----
    "q68_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(
          Multimodal.toMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF().select(col("doc_id"), col("frame_idx"), col("byte_offset"),
          col("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // ---- ext: materialized training sequences (pack text concat) ----
    "q70_packed_text" -> ((s, dir) =>
      TextAnalysis.packedText(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("shard"), col("pack_id"))),

    // ---- ext: distribution drift (PSI) between time-sliced versions ----
    "q71_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.psi(
          ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
          ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
          "value", bins = 10)
        .orderBy(col("bucket"))
    }),

    // ---- ext: binned KS statistic (nonparametric drift companion) ----
    "q72_ks_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.ksBinned(
          ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
          ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
          "value", bins = 10)
        .orderBy(col("bucket"))
    }),

    // ---- ext: chi-square drift for CATEGORICAL columns ----
    "q73_chi2_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ext.Drift.chiSquare(
          ev.filter(col("ts") < lit("2024-01-16").cast("timestamp")),
          ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp")),
          "event_type")
        .orderBy(col("category"))
    }),

    // ---- io: JSON-lines interchange round-trip (schema-explicit read;
    // payload fidelity incl. unicode/newline escapes is the point) ----
    "q69_json_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-json").toString
      graft.io.Formats.writeJsonl(docs, tmp)
      graft.io.Formats.readJsonl(s, tmp, docs.schema).orderBy(col("doc_id"))
    }),

    // ---- ext: equi-width histogram (profiling companion) ----
    "q67_histogram" -> ((s, dir) =>
      graft.ext.Profiling.histogram(Tables.lineitem(s, dir), "l_extendedprice", bins = 20)
        .orderBy(col("bucket"))),

    // ---- ext: skew tooling proven equivalent to the plain aggregate ----
    "q61_salted_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        graft.gold.Money.cents(col("l_extendedprice")).cast("long").as("cents"))
      graft.ext.Skew.saltedSum(li, Seq("l_returnflag", "l_linestatus"), "cents",
          numSalts = 16, saltSource = col("l_orderkey"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("sum_cents") / 10000.0).as("sum_extendedprice"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- io: interchange-format round-trips (CSV / JSONL / ORC front
    // doors — write with pinned options, read back schema-enforced, and
    // the gate proves byte-fidelity per column type vs the parquet
    // original) ----
    "q117_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
      val orders = Tables.orders(s, dir)
      graft.io.Formats.writeCsv(orders, s"$tmp/orders")
      graft.io.Formats.readCsv(s, s"$tmp/orders", orders.schema)
        .orderBy(col("o_orderkey"))
    }),
    "q118_jsonl_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      val ev = Tables.events(s, dir)
      graft.io.Formats.writeJsonl(ev, s"$tmp/events")
      graft.io.Formats.readJsonl(s, s"$tmp/events", ev.schema)
        .orderBy(col("event_id"))
    }),
    "q119_orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
      val li = Tables.lineitem(s, dir)
      graft.io.Formats.writeOrc(li, s"$tmp/lineitem")
      graft.io.Formats.readOrc(s, s"$tmp/lineitem", li.schema)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- ext: schema-enforced semi-structured extraction (from_json
    // over the raw props feed — typed struct, codegen'd, no UDF) ----
    "q120_json_extract" -> ((s, dir) => {
      val k = from_json(col("props"), "k LONG", Map.empty[String, String])
        .getField("k")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // ---- ext: SemDeDup semantic deduplication (paraphrase-level dups
    // that share no n-grams — kmeans cells bound the quadratic) ----
    "q121_semantic_dedup" -> ((s, dir) =>
      graft.ext.Similarity.semanticDedup(
          Tables.embeddings(s, dir), "vec_id", "embedding", tau = 0.35)
        .orderBy(col("vec_id"))),

    // ---- ext: contrastive hard-negative mining (top-k most-similar
    // DIFFERENT-label vectors per anchor) ----
    "q122_hard_negatives" -> ((s, dir) =>
      graft.ext.Similarity.hardNegatives(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 5)
        .orderBy(col("vec_id"), col("rank"))),

    // ---- ext: cell-blocked hard negatives — the 100 TB composition
    // (kmeans cells bound the different-label scorer; exact within
    // cells, q122's exhaustive form is its spec) ----
    "q137_hard_negatives_cells" -> ((s, dir) =>
      graft.ext.Similarity.hardNegativesInCells(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 5)
        .orderBy(col("vec_id"), col("rank"))),

    // ---- ext: ANN index-quality audit — per-probe recall@k of the IVF
    // index (q21) against the exact scorer (q20); singleton-cell probes
    // surface as recall 0, never as missing rows ----
    "q144_ann_recall" -> ((s, dir) =>
      graft.ext.Similarity.annRecall(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, centroidEvery = 100)
        .orderBy(col("vec_id"))),

    // ---- ext: label-noise audit via k-NN disagreement (the deep-kNN /
    // confident-learning shortlist a relabeling pass reviews) ----
    "q145_label_noise" -> ((s, dir) =>
      graft.ext.Similarity.labelNoise(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 5)
        .orderBy(col("vec_id"))),

    // ---- ext: degree-ordered triangle counting over the co-purchase
    // graph (parts sharing >= 2 orders) ----
    "q123_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val edges = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_a"))
        .join(li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_b")),
          Seq("ok"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(col("id_a"), col("id_b"))
      graft.ext.Clusters.triangleCounts(edges)
        .orderBy(col("node"))
    }),

    // ---- ext: CUSUM level-shift change points (sustained-shift tier
    // of the anomaly suite; robust median/MAD target) ----
    "q124_cusum_shift" -> ((s, dir) =>
      graft.ext.Anomaly.cusumShift(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: Cohen's kappa — chance-corrected agreement between the
    // upstream lang tag and the n-gram language detector ----
    "q125_kappa_agreement" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val detected = graft.ext.TextAnalysis.langId(docs, "doc_id", "text")
        .select(col("doc_id"), col("detected_lang"))
      graft.ext.Profiling.cohenKappa(
        docs.select(col("doc_id"), col("lang")).join(detected, Seq("doc_id")),
        col("lang"), col("detected_lang"))
    }),

    // ---- ext: k-anonymity / l-diversity governance audit ----
    "q126_anonymity_audit" -> ((s, dir) =>
      graft.ext.Profiling.anonymityReport(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
          when(col("c_acctbal") < 0, "debt").otherwise("credit"),
          k = 15, l = 2)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))),

    // ---- ext: per-dimension feature moments (normalization stats) ----
    "q127_feature_moments" -> ((s, dir) =>
      graft.ext.Profiling.featureMoments(Tables.embeddings(s, dir), "embedding")
        .orderBy(col("pos"))),

    // ---- ext: BM25 sparse retrieval (inverted-index probe, the
    // lexical complement of the dense similarity tier). All three
    // lexical queries (q128/q136/q141) probe ONE session-cached scored
    // index (bindings.Corpus) — the materialized-index shape ----
    "q128_bm25_search" -> ((s, dir) =>
      Corpus.uncappedBm25Cached(s, dir)
        .orderBy(col("query_id"), col("rank"))),

    // ---- ext: BM25 with the document-frequency cap ACTIVE — the
    // Zipfian-corpus branch (0.78 splits the synthetic vocabulary:
    // the rare df-share-0.05 term survives, the stopword band drops) ----
    "q136_bm25_capped" -> ((s, dir) =>
      graft.ext.Retrieval.bm25FromPostings(
          Corpus.scoredPostingsCached(s, dir),
          queryModEvery = 50, k = 10, maxDfFraction = 0.78)
        .orderBy(col("query_id"), col("rank"))),

    // ---- ext: incremental ingestion dedup (batch probes the corpus
    // band index — never re-dedups history) ----
    "q129_dedup_against" -> ((s, dir) =>
      graft.ext.Dedup.dedupAgainst(
          Tables.documents(s, dir), "doc_id", "text",
          isBatch = pmod(col("doc_id"), lit(10L)) === 0, minJaccard = 0.5)
        .orderBy(col("batch_id"))),

    // ---- ext: first/last-touch attribution (windowed credit
    // assignment — one shuffle, no purchase-by-touch range join) ----
    "q130_attribution" -> ((s, dir) =>
      graft.ext.Behavior.attribution(Tables.events(s, dir), lookbackDays = 7)
        .orderBy(col("purchase_id"))),

    // ---- streaming: the withheld CDC day arrives as a file stream;
    // foreachBatch lands each micro-batch (silver append + key-scoped
    // mart maintenance) — the final mart must equal the full recompute ----
    "q131_stream_incremental_ltv" -> ((s, dir) =>
      graft.streaming.IncrementalGoldStream.ltvViaStream(s, dir)
        .orderBy(col("user_id"), col("creation_date"))),

    // ---- streaming: the ANCHORED maintainer through the same replay —
    // the RFM guard re-evaluates per micro-batch against the evolving
    // mart; final mart must equal the full recompute (q05's oracle) ----
    "q138_stream_incremental_rfm" -> ((s, dir) =>
      graft.streaming.IncrementalGoldStream.rfmViaStream(s, dir)
        .orderBy(col("user_id"))),

    // ---- streaming: daily trends through the same replay — each
    // micro-batch rebuilds the replayed day from the silver landed so
    // far (key-scoped on creation_date; q07's oracle) ----
    "q139_stream_incremental_trends" -> ((s, dir) =>
      graft.streaming.IncrementalGoldStream.trendsViaStream(s, dir)
        .orderBy(col("creation_date"), col("restaurant_id"), col("item_category"))),

    // ---- ext: mutual information between source and language —
    // information-theoretic dependence for feature/redundancy audits ----
    "q140_mutual_information" -> ((s, dir) =>
      graft.ext.Profiling.mutualInformation(
        Tables.documents(s, dir), col("source"), col("lang"))),

    // ---- ext: per-source Jensen-Shannon divergence vs the pooled
    // token mix — vocabulary drift for training-mix audits ----
    "q143_jsd_sources" -> ((s, dir) =>
      graft.ext.Drift.jsdPerGroup(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source"))),

    // ---- ext: join-key skew profile — the measurement that decides
    // between the plain plan, salting (q61/q91), and a broadcast ----
    "q142_skew_profile" -> ((s, dir) =>
      graft.ext.Skew.skewProfile(
          Tables.lineitem(s, dir), col("l_partkey"), topK = 50)
        .orderBy(col("rank"))),

    // ---- ext: reciprocal-rank fusion of the lexical (BM25) and dense
    // (cosine top-k) rankers — hybrid retrieval without score
    // calibration (ranks only) ----
    "q141_rrf_fusion" -> ((s, dir) => {
      // both ranker outputs ride SESSION-SCOPED spines
      // (bindings/Corpus): each is materialized eagerly inside its
      // cached builder, so the two arms never compute concurrently in
      // one job — memory peak max(sides), not sum (the r11 OOM fix) —
      // and the same tiny (queries·k rows) block set is reused across
      // q128/q141/q341/q342 and bench reps instead of accumulating one
      // persist per invocation (the r11 storage-pool leak). The dense
      // side scores ONLY the mod-50 query anchors against the full
      // corpus — q·n·d, identical scores to an all-probes run.
      val lex = Corpus.uncappedBm25Cached(s, dir)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val den = Corpus.denseTopKCached(s, dir)
      graft.ext.Retrieval.rrfFuse(Seq(lex, den), c = 60, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ext: impact-truncated BM25 probe (Anh & Moffat pruning) —
    // the scale-safe sibling of the uncapped q128 spec: per term keep
    // the top-M postings by impact, so candidate volume is bounded by
    // M per (query, term) regardless of df (39x cut at 10x) ----
    "q341_bm25_truncated" -> ((s, dir) =>
      Corpus.truncatedBm25Cached(s, dir)
        .orderBy(col("query_id"), col("rank"))),

    // ---- ext: hybrid RRF over the TRUNCATED lexical side + the same
    // dense side — the scale-safe sibling of the q141 spec hybrid ----
    "q342_rrf_fusion_truncated" -> ((s, dir) => {
      // the q141 spine discipline over the TRUNCATED lexical arm
      val lex = Corpus.truncatedBm25Cached(s, dir)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val den = Corpus.denseTopKCached(s, dir)
      graft.ext.Retrieval.rrfFuse(Seq(lex, den), c = 60, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ext: the SAME truncated probe over the term-BUCKETED DISK
    // index (Retrieval.writeBucketedIndex) — the 100 TB index shape the
    // in-memory spine rehearses, gated: probe-over-disk must hash-match
    // the q341 oracle, and the bucketed scan feeds the truncation
    // windows without a term exchange (DiskIndexSpec asserts the plan) ----
    "q345_bm25_disk_index" -> ((s, dir) =>
      graft.ext.Retrieval.bm25TruncatedFromPostings(
          Corpus.diskIndexCached(s, dir),
          queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000)
        .orderBy(col("query_id"), col("rank"))),

    // ---- ext: the SAME IVF probe over the cell-BUCKETED DISK index
    // (Similarity.writeIvfIndex) — the dense tier's 100 TB index shape
    // (q345's sibling): cells bound who you score AT DISK, gated:
    // probe-over-disk must hash-match the q21 oracle, and the bucketed
    // scan feeds the intra-cell self-join + per-(vec, cell) top-k with
    // zero exchanges (IvfDiskIndexSpec asserts the plan) ----
    "q346_ivf_disk_index" -> ((s, dir) =>
      Similarity.ivfTopKFromAssigned(Corpus.ivfIndexCached(s, dir), k = 5)
        .orderBy(col("vec_id"), col("rank"))),

    // ---- ext: the SAME IVF-PQ probe over the stored three-table disk
    // index (codes cell-bucketed; book/cents model-sized) — q192's
    // production serve path: raw queries encoded online against the
    // stored model frames, database side touches only stored codes,
    // gated against the q192 oracle ----
    "q347_ivfpq_disk_index" -> ((s, dir) => {
      val (codes, book, cents) = Corpus.ivfPqIndexCached(s, dir)
      Similarity.ivfPqTopKFromIndex(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          codes, book, cents, queryModEvery = 50, k = 5,
          blocks = 4, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- ext: per-source LM-quality pruning audit — rank-based keep
    // fraction (integer predicate, no float threshold) over q76's
    // unigram-LM scores ----
    "q146_lm_prune" -> ((s, dir) =>
      graft.ext.TextAnalysis.lmPruneBySource(
          Tables.documents(s, dir), "doc_id", "text", "source",
          keepNum = 4, keepDen = 5)
        .orderBy(col("source"))),

    // ---- ext: CUPED variance-reduced A/B readout over the event
    // stream (hash-assigned variants, pre/post split mid-month) ----
    "q147_cuped" -> ((s, dir) =>
      graft.ext.Experiment.cupedReadout(
          Tables.events(s, dir), "user_id", "ts", "value",
          splitTs = "2024-01-16")
        .orderBy(col("variant"))),

    // ---- ext: per-doc duplicated-n-gram share — the span-level dedup
    // signal document-level dedup misses (templated/stitched content) ----
    "q148_dup_ngram_share" -> ((s, dir) =>
      graft.ext.Dedup.dupNgramShare(
          Tables.documents(s, dir), "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))),

    // ---- ext: multi-probe IVF — the recall lever q144 measures the
    // need for (queries probe 2 cells, index unchanged) ----
    "q149_ivf_multiprobe" -> ((s, dir) =>
      Similarity.ivfTopKMultiProbe(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, centroidEvery = 100, nProbe = 2)
        .orderBy(col("vec_id"), col("rank"))),

    // ---- ext: score-calibration bins over the unigram-LM score
    // (reliability diagram: mean score vs positive rate per decile) ----
    "q150_calibration" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.ext.TextAnalysis.lmScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      graft.ext.Profiling.calibrationBins(
          scored, "source", "doc_id", "avg_logprob",
          positive = col("lang") === "en", bins = 10)
        .orderBy(col("source"), col("bin"))
    }),

    // ---- ext: seasonally-adjusted anomaly flags (weekday baseline
    // removed before the z-score — q135's effect made operational) ----
    "q151_seasonal_outliers" -> ((s, dir) =>
      graft.ext.Timeseries.seasonalResidualOutliers(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: per-label embedding-centroid drift vs the pooled
    // centroid — the training-mix audit in embedding space ----
    "q152_centroid_drift" -> ((s, dir) =>
      Similarity.centroidDrift(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy(col("label"))),

    // ---- ext: cross-split near-dup contamination (LSH pairs that
    // straddle the train/val/test boundary — eval-inflating leakage) ----
    "q153_split_contamination" -> ((s, dir) =>
      graft.ext.Sampling.splitContamination(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("split_lo"), col("split_hi"))),

    // ---- ext: per-restaurant OLS revenue trend (slope + R² from five
    // moment sums — 100 TB of facts reduce to five longs per key) ----
    "q154_trend_fit" -> ((s, dir) =>
      graft.ext.Timeseries.revenueTrendFit(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- ext: EWMA level + one-step forecast (the q124 sequential-
    // recurrence pattern: mapPartitions per-key state, recursive-CTE
    // oracle; one fixed IEEE chain, emitted unrounded) ----
    "q155_ewma_forecast" -> ((s, dir) =>
      graft.ext.Timeseries.ewmaForecast(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: funnel time-to-convert quantiles (exact nearest-rank
    // over a (transition, second) histogram — no user-grain window) ----
    "q156_funnel_latency" -> ((s, dir) =>
      graft.ext.Behavior.funnelLatencyQuantiles(Tables.events(s, dir))
        .orderBy(col("transition"), col("quantile"))),

    // ---- ext: training-mix token plan (largest-remainder integer
    // apportionment of a token budget across sources) ----
    "q157_token_plan" -> ((s, dir) =>
      graft.ext.Curation.tokenBudgetPlan(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source"))),

    // ---- ext: Kaplan-Meier customer-lifetime survival per restaurant
    // (censoring-aware churn; product recurrence via mapPartitions) ----
    "q158_kaplan_meier" -> ((s, dir) =>
      graft.ext.Survival.kaplanMeier(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("duration_days"))),

    // ---- ext: Benford first-digit audit of revenue amounts (shared
    // 17-digit literals on both engines — no engine log10 in the gate) ----
    "q159_benford" -> ((s, dir) =>
      graft.ext.Profiling.benfordAudit(
          Conformed.orderRevenueCached(s, dir), "total_revenue")
        .orderBy(col("leading_digit"))),

    // ---- ext: count-min-sketch heavy hitters audited vs exact counts
    // (constant-memory frequency summary; identical sketch in SQL) ----
    "q160_cms_heavy_hitters" -> ((s, dir) =>
      graft.ext.Skew.cmsHeavyHitters(
          Tables.lineitem(s, dir), col("l_partkey"))
        .orderBy(col("key"))),

    // ---- ext: upper-triangle embedding covariance (whitening/PCA
    // sufficient stats; integer-quantized pair sums) ----
    "q161_covariance" -> ((s, dir) =>
      graft.ext.Profiling.covariancePairs(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("i"), col("j"))),

    // ---- ext: best decision-stump split per category (Gini gain over
    // a dollar-grain threshold sweep — the tree-learner primitive) ----
    "q162_stump_split" -> ((s, dir) =>
      graft.ext.Profiling.bestStumpSplit(
          Conformed.orderRevenueCached(s, dir), "item_category",
          graft.gold.Money.cents(col("total_revenue")), col("is_loyalty"))
        .orderBy(col("item_category"))),

    // ---- ext: per-source rank AUC (Mann-Whitney with tie-averaged
    // ranks) of the quality score predicting lang='en' ----
    "q163_rank_auc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val qs = graft.ext.TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      graft.ext.Profiling.rankAuc(
          docs.select(col("doc_id"), col("source"), col("lang"))
            .join(qs, Seq("doc_id")),
          "source", col("quality_score"), col("lang") === "en")
        .orderBy(col("source"))
    }),

    // ---- ext: online rolling-baseline z-score (self-excluding
    // calendar-RANGE frame — what a live monitor would have known) ----
    "q132_rolling_z" -> ((s, dir) =>
      graft.ext.Anomaly.rollingZ(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: quantile normalization across sources (pooled-rank
    // value remap — identical post-map distributions per source) ----
    "q133_quantile_normalize" -> ((s, dir) =>
      graft.ext.Profiling.quantileNormalize(
          Tables.documents(s, dir), "source", "n_chars", "doc_id")
        .select(col("id").as("doc_id"), col("g").as("source"),
          col("v").as("n_chars"), col("norm_v").as("norm_chars"))
        .orderBy(col("doc_id"))),

    // ---- ext: temporal-split entity-leakage audit (eval hygiene) ----
    "q134_leakage_audit" -> ((s, dir) =>
      graft.ext.Sampling.temporalLeakage(
          Conformed.orderRevenueCached(s, dir), "user_id", "creation_date",
          cutoff = "1998-01-01")
        .orderBy(col("user_id"))),

    // ---- ext: weekday seasonal profile (additive seasonality tier) ----
    "q135_weekday_seasonality" -> ((s, dir) =>
      graft.ext.Timeseries.weekdaySeasonality(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("weekday"))),

    // ---- ext: A-Priori frequent item pairs (support-pruned basket
    // self-join at the ITEM grain — pass 1+2 of the classic algorithm) ----
    "q164_frequent_pairs" -> ((s, dir) =>
      graft.ext.Association.frequentItemPairs(
          Tables.lineitem(s, dir).select(
            col("l_orderkey").as("basket"), col("l_partkey").as("item")),
          "basket", "item", minItemSupport = 20, minPairSupport = 2)
        .orderBy(col("item_a"), col("item_b"))),

    // ---- ext: Pareto 80/20 revenue-contribution cut over categories ----
    "q165_pareto" -> ((s, dir) =>
      graft.ext.Olap.paretoCut(
          Conformed.orderRevenueCached(s, dir), "item_category")
        .orderBy(col("rank"))),

    // ---- ext: last-observation-carried-forward over the daily spine
    // (the imputation sibling of q100's zero-fill) ----
    "q166_locf" -> ((s, dir) =>
      graft.ext.Timeseries.gapFillLocf(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: per-source vocabulary profile (Heaps'-law vitals:
    // tokens, types, hapax, TTR) ----
    "q167_vocab_growth" -> ((s, dir) =>
      graft.ext.TextAnalysis.vocabGrowth(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source"))),

    // ---- ext: blocked Jaro-Winkler entity pairs via the native
    // codegen expression (bit-identical to the oracle's rapidfuzz
    // convention, verified over every within-block pair) ----
    "q168_jw_pairs" -> ((s, dir) =>
      graft.ext.Dedup.jaroWinklerPairs(Tables.part(s, dir), "p_partkey",
          "p_name", "p_brand", minSim = 0.9)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- ext: rolling 28-day Pearson correlation of each restaurant's
    // revenue vs the market total (zero-filled spine; exact long frame
    // sums; full windows only) ----
    "q169_rolling_corr" -> ((s, dir) =>
      graft.ext.Timeseries.rollingMarketCorr(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: product quantization (per-subspace Lloyd codebooks —
    // the ANN compression tier; deterministic seeds, L2 assignment) ----
    "q170_pq_encode" -> ((s, dir) =>
      Similarity.pqEncode(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"), col("blk"))),

    // ---- ext: ADC top-k over the PQ codes — codes-only database side,
    // broadcast per-query distance tables (the IVF-PQ query path) ----
    "q171_pq_adc_topk" -> ((s, dir) =>
      Similarity.pqAdcTopK(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("query_id"), col("rank"))),

    // ---- ext: temperature-flattened training mix (T=2 via integer
    // sqrt weights; same Hamilton apportionment as q157) ----
    "q172_temperature_mix" -> ((s, dir) =>
      graft.ext.Curation.temperatureMixPlan(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source"))),

    // ---- ext: daily-revenue autocorrelation at lags 1..7 (the
    // periodicity screen; all lags ride one window sort) ----
    "q173_acf" -> ((s, dir) =>
      graft.ext.Timeseries.revenueAcf(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("lag"))),

    // ---- ext: in-engine multinomial naive Bayes (add-one smoothing,
    // quantized log units) scored back as a lang confusion matrix ----
    "q174_nb_confusion" -> ((s, dir) =>
      graft.ext.TextAnalysis.naiveBayesConfusion(
          Tables.documents(s, dir), "doc_id", "text", "lang")
        .orderBy(col("true_label"), col("predicted"))),

    // ---- ext: recall@k of the ADC code search vs exact Euclidean
    // top-k (the PQ acceptance gate; q144's pattern for the ADC tier) ----
    "q175_pq_recall" -> ((s, dir) =>
      Similarity.pqAdcRecall(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("query_id"))),

    // ---- ext: Herfindahl revenue concentration + effective category
    // count (order-free integer-dollar sums; the diversity audit) ----
    "q176_concentration" -> ((s, dir) =>
      graft.ext.Olap.revenueConcentration(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- ext: Gini coefficient of per-customer revenue within each
    // restaurant (inequality audit; exact integer rank/cent sums) ----
    "q177_gini" -> ((s, dir) =>
      graft.ext.Olap.revenueGini(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- ext: item-item collaborative filtering — top-k co-occurrence
    // cosine neighbors per part over order baskets ----
    "q178_item_cf" -> ((s, dir) =>
      graft.ext.Association.itemSimilarityTopK(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
          minCooc = 2, k = 5)
        .orderBy(col("item_a"), col("rank"))),

    // ---- ext: cohort LTV curves — (first-purchase-month × age) revenue
    // triangle with per-original-member cumulative LTV and retention ----
    "q179_cohort_ltv" -> ((s, dir) =>
      graft.ext.Timeseries.cohortLtvCurve(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("cohort_month"), col("age_months"))),

    // ---- ext: referential-integrity audit — every FK check of a child
    // table rides one key-column scan; orphan counts + shares ----
    "q180_fk_audit" -> ((s, dir) => {
      val q = graft.ext.Quality
      q.fkOrphans(Tables.lineitem(s, dir), "lineitem", Seq(
          ("l_orderkey", Tables.orders(s, dir), "o_orderkey", "orders"),
          ("l_partkey", Tables.part(s, dir), "p_partkey", "part"),
          ("l_suppkey", Tables.supplier(s, dir), "s_suppkey", "supplier")))
        .unionByName(q.fkOrphans(Tables.orders(s, dir), "orders", Seq(
          ("o_custkey", Tables.customer(s, dir), "c_custkey", "customer"))))
        .unionByName(q.fkOrphans(Tables.customer(s, dir), "customer", Seq(
          ("c_nationkey", Tables.nation(s, dir), "n_nationkey", "nation"))))
        .unionByName(q.fkOrphans(Tables.supplier(s, dir), "supplier", Seq(
          ("s_nationkey", Tables.nation(s, dir), "n_nationkey", "nation"))))
        .unionByName(q.fkOrphans(Tables.nation(s, dir), "nation", Seq(
          ("n_regionkey", Tables.region(s, dir), "r_regionkey", "region"))))
        .orderBy(col("fk"))
    }),

    // ---- ext: inter-arrival burstiness per user — cv + Goh-Barabási B
    // over integer-second gaps (bot/regularity screen) ----
    "q181_burstiness" -> ((s, dir) =>
      graft.ext.Behavior.interArrivalStats(Tables.events(s, dir))
        .orderBy(col("user_id"))),

    // ---- ext: chi-square token keyness per language — top-k distinctive
    // tokens with exact-integer enrichment direction ----
    "q182_keyness" -> ((s, dir) =>
      graft.ext.TextAnalysis.tokenKeyness(
          Tables.documents(s, dir), "text", "lang", k = 10)
        .orderBy(col("label"), col("rank"))),

    // ---- ext: seasonal-naive forecast backtest — holdout MAE scaled by
    // training MAE (MASE), exact integer-cent error sums ----
    "q183_mase_backtest" -> ((s, dir) =>
      graft.ext.Timeseries.seasonalNaiveBacktest(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- ext: linear multi-touch attribution — equal credit across
    // in-window touches per purchase, integer 1e-7-dollar units ----
    "q184_linear_attribution" -> ((s, dir) =>
      graft.ext.Behavior.linearAttribution(
          Tables.events(s, dir), Seq("click", "signup", "view"))
        .orderBy(col("touch_type"))),

    // ---- ext: Markov next-event predictor — majority transition model
    // trained on a deterministic user split, held-out accuracy ----
    "q185_markov_accuracy" -> ((s, dir) =>
      graft.ext.Behavior.markovPredictorAccuracy(Tables.events(s, dir))
        .orderBy(col("prev_type"))),

    // ---- ext: bigram-LM document scoring — q76's unigram model with
    // one token of context (word-salad vs fluent separation) ----
    "q186_bigram_lm" -> ((s, dir) =>
      graft.ext.TextAnalysis.bigramLmScore(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- ext: directed association rules (confidence/lift/leverage)
    // over the A-Priori-pruned pair table ----
    "q187_assoc_rules" -> ((s, dir) =>
      graft.ext.Association.associationRules(
          Tables.lineitem(s, dir).select(
            col("l_orderkey").as("basket"), col("l_partkey").as("item")),
          "basket", "item", minItemSupport = 20, minPairSupport = 2)
        .orderBy(col("antecedent"), col("consequent"))),

    // ---- ext: PCA top component — power iteration over the q161
    // covariance (quantized order-free matvec; model readout) ----
    "q188_pca_loadings" -> ((s, dir) =>
      graft.ext.Profiling.pcaLoadings(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("dim_idx"))),

    // ---- ext: per-vector PC1 projection — the distributed half of the
    // PCA pass (component broadcast as a literal into the scan) ----
    "q189_pca_projection" -> ((s, dir) =>
      graft.ext.Profiling.pcaProjection(
          Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"))),

    // ---- ext: log-log price elasticity of demand per category (OLS on
    // 1e-6-unit quantized logs; q154's moment machinery) ----
    "q190_price_elasticity" -> ((s, dir) =>
      graft.ext.Timeseries.priceElasticity(
          Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("item_category"))),

    // ---- ext: session-depth engagement histogram (gap sessionization →
    // per-depth session count / share / mean duration) ----
    "q191_session_stats" -> ((s, dir) =>
      graft.ext.Behavior.sessionStats(Tables.events(s, dir))
        .orderBy(col("depth"))),

    // ---- ext: IVF-PQ top-k — cells bound WHO you score, codes bound
    // WHAT scoring touches (the FAISS IVFx,PQy layout) ----
    "q192_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("query_id"), col("rank"))),

    // ---- ext: Holt's linear trend — level+trend double exponential
    // smoothing, one-step forecast (q155's recurrence with slope) ----
    "q193_holt_forecast" -> ((s, dir) =>
      graft.ext.Timeseries.holtForecast(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: Zipf's-law fit per source (ln freq vs ln rank OLS over
    // top terms; boilerplate/repetition screen) ----
    "q194_zipf_fit" -> ((s, dir) =>
      graft.ext.TextAnalysis.zipfFit(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source"))),

    // ---- ext: per-source near-dup rate + cross-source duplication
    // (the source-weighting input; rolls q18's pairs to decision grain) ----
    "q195_dup_rate" -> ((s, dir) =>
      graft.ext.Dedup.dupRateBySource(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source"))),

    // ---- ext: sequential-pattern support per ordered type pair
    // ("a ever followed by b"; PrefixSpan length-2 seeds) ----
    "q196_seq_support" -> ((s, dir) =>
      graft.ext.Behavior.sequenceSupport(Tables.events(s, dir))
        .orderBy(col("type_a"), col("type_b"))),

    // ---- gold: RFM segment migration matrix (segment 90 days ago vs
    // today; anchored rebuild over the date-pruned fact) ----
    "q197_rfm_migration" -> ((s, dir) =>
      graft.gold.Rfm.migrationMatrix(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("segment_from"), col("segment_to"))),

    // ---- ext: incremental covariance maintenance — merged partial
    // stats == full rebuild (q79's contract for the embedding tier) ----
    "q198_incremental_cov" -> ((s, dir) =>
      graft.ext.Profiling.covariancePairsIncremental(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          isDelta = col("vec_id") % 10 === 0)
        .orderBy(col("i"), col("j"))),

    // ---- ext: stratified loyalty-uplift readout (per-category + pooled
    // ALL row from one ROLLUP pass) ----
    "q199_uplift_strata" -> ((s, dir) =>
      graft.ext.Experiment.loyaltyUpliftStrata(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("stratum"))),

    // ---- ext: exact weighted discrete quantiles — what does the median
    // SOLD UNIT cost (unit price weighted by quantity) ----
    "q200_weighted_quantiles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).select(
          col("p_partkey"), col("p_type").as("item_category"))),
          col("l_partkey") === col("p_partkey"))
      graft.ext.Profiling.weightedQuantilesDisc(
          li, "item_category",
          round((col("l_extendedprice").cast("double")
            / col("l_quantity").cast("double")) * 10000).cast("long"),
          col("l_quantity").cast("long"))
        .orderBy(col("item_category"))
    }),

    // ---- ext: daily new-vs-returning customer decomposition ----
    "q201_new_returning" -> ((s, dir) =>
      graft.ext.Timeseries.newVsReturning(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("creation_date"))),

    // ---- gold: regional league table over the supplier→nation→region
    // dim chain (within-region rank + share) ----
    "q202_regional_league" -> ((s, dir) =>
      graft.gold.Geography.regionalLeague(
          Conformed.orderRevenueCached(s, dir), Tables.supplier(s, dir),
          Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy(col("region"), col("rank_in_region"))),

    // ---- ext: cumulative gain chart — decile capture/lift of loyalty
    // users under the frequency ranking (targeting-model readout) ----
    "q203_gain_chart" -> ((s, dir) =>
      graft.ext.Experiment.gainChart(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("decile"))),

    // ---- ext: near-dup cluster size distribution (dedup impact
    // summary; size-1 row reconciles to the corpus) ----
    "q204_cluster_sizes" -> ((s, dir) =>
      graft.ext.Clusters.clusterSizeHistogram(
          Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.5)
        .orderBy(col("cluster_size"))),

    // ---- ext: per-restaurant lifecycle profile (span, active-day
    // density, revenue per active day) ----
    "q205_lifecycle" -> ((s, dir) =>
      graft.ext.Timeseries.lifecycleProfile(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- ext: session conversion by depth (purchase share per
    // engagement depth; shares q191's session frame) ----
    "q206_session_conversion" -> ((s, dir) =>
      graft.ext.Behavior.sessionConversion(Tables.events(s, dir))
        .orderBy(col("depth"))),

    // ---- ext: monthly market-mix HHI trend (+MoM delta) ----
    "q207_concentration_trend" -> ((s, dir) =>
      graft.ext.Olap.monthlyConcentration(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("month"))),

    // ---- ext: basket-size economics (order share + AOV per size) ----
    "q208_basket_economics" -> ((s, dir) =>
      graft.ext.Olap.basketSizeEconomics(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("basket_size"))),

    // ---- ext: discount-band effectiveness over the raw pricing fact ----
    "q209_discount_bands" -> ((s, dir) =>
      graft.ext.Olap.discountBands(Tables.lineitem(s, dir))
        .orderBy(col("discount_pct"))),

    // ---- ext: return-flag exposure per category ----
    "q210_return_rates" -> ((s, dir) =>
      graft.ext.Olap.returnRates(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("item_category"))),

    // ---- ext: dead-stock audit per brand (anti-join accounting) ----
    "q211_dead_stock" -> ((s, dir) =>
      graft.ext.Olap.deadStock(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("p_brand"))),

    // ---- ext: RFM-segment × market-segment contingency with per-cell
    // chi² contributions over the FULL grid ----
    "q212_segment_crosstab" -> ((s, dir) => {
      val seg = graft.gold.Rfm(Conformed.orderRevenueCached(s, dir))
        .select(col("user_id"), col("segment"))
      val mkt = Tables.customer(s, dir).select(
        col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment"))
      graft.ext.Profiling.contingencyChi2(
          seg.join(mkt, Seq("user_id")), "segment", "mktsegment")
        .orderBy(col("segment"), col("mktsegment"))
    }),

    // ---- ext: Fisher per-dimension label separability (LDA screen) ----
    "q213_fisher_ratio" -> ((s, dir) =>
      graft.ext.Profiling.fisherSeparability(
          Tables.embeddings(s, dir), "embedding", "label")
        .orderBy(col("dim_idx"))),

    // ---- SQL front door for the NATIVE expressions: word_shingles /
    // char_shingles / vec_dot registered via GraftExtensions, exercised
    // through spark.sql end-to-end (the q107 pattern for the codegen
    // expression surface) ----
    "q214_sql_native_fns" -> ((s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
      Tables.embeddings(s, dir).createOrReplaceTempView("graft_embs")
      s.sql("""
        SELECT d.doc_id,
               CAST(size(word_shingles(lower(d.text))) AS BIGINT)
                 AS n_shingles,
               CAST(size(char_shingles(lower(d.text))) AS BIGINT)
                 AS n_chargrams,
               round(vec_dot(CAST(e.embedding AS ARRAY<DOUBLE>),
                             CAST(e.embedding AS ARRAY<DOUBLE>)), 6)
                 AS norm_sq
        FROM graft_docs d JOIN graft_embs e ON d.doc_id = e.vec_id
        ORDER BY d.doc_id""")
    }),

    // ---- ext: PQ-code blocking dedup — the codebook IS the hash;
    // collision pairs verified with the exact distance ----
    "q215_pq_code_dedup" -> ((s, dir) =>
      Similarity.pqCodeDedupPairs(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("id_a"), col("id_b"))),

    // ---- ext: PMI collocations (top-k adjacent pairs by pointwise
    // mutual information, minCount-pruned) ----
    "q216_collocations" -> ((s, dir) =>
      graft.ext.TextAnalysis.collocations(
          Tables.documents(s, dir), "doc_id", "text", topK = 50, minCount = 5)
        .orderBy(col("rank"))),

    // ---- ext: per-source semantic diversity (within-source covariance
    // trace over doc embeddings) ----
    "q217_source_dispersion" -> ((s, dir) => {
      val src = Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source"))
      Similarity.sourceDispersion(
          Tables.embeddings(s, dir).join(src, Seq("vec_id")),
          "embedding", col("source"))
        .orderBy(col("source"))
    }),

    // ---- ext: per-restaurant peak-hour profile (argmax hour + share +
    // hour-concentration HHI; staffing readout over the hourly axis) ----
    "q218_peak_hours" -> ((s, dir) =>
      graft.ext.Olap.peakHourProfile(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- ext: customer multi-homing histogram (distinct restaurants
    // per user; loyalist vs browser decomposition) ----
    "q219_multi_homing" -> ((s, dir) =>
      graft.ext.Olap.multiHoming(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("n_restaurants"))),

    // ---- ext: curation drop-reason manifest — first-failing-rule
    // accounting per source; Σ reconciles to source size ----
    "q220_drop_reasons" -> ((s, dir) =>
      graft.ext.Curation.dropReasonManifest(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source"), col("disposition"))),

    // ---- ext: budget realization — q157's plan turned into a greedy
    // selection with utilization accounting ----
    "q221_budget_realization" -> ((s, dir) =>
      graft.ext.Curation.budgetRealization(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("source"))),

    // ---- ext: PQ quantization-error fairness by label (compression
    // bias audit next to q175's recall gate) ----
    "q222_pq_error_by_label" -> ((s, dir) =>
      Similarity.pqErrorByLabel(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label")
        .orderBy(col("label"))),

    // ---- ext: hour-of-week revenue heatmap (7×24 load curve) ----
    "q223_hour_of_week" -> ((s, dir) =>
      graft.ext.Olap.hourOfWeekGrid(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("iso_weekday"), col("hr"))),

    // ---- ext/supply: min-cost supplier per part (TPC-H Q2 shape over
    // observed line prices; window-min + broadcast dim chain) ----
    "q224_min_cost_supplier" -> ((s, dir) =>
      graft.ext.Supply.minCostSupplier(Tables.lineitem(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy(col("p_partkey"))),

    // ---- ext/supply: late-shipment audit per order priority (Q4
    // EXISTS shape decorrelated to per-order max-flag) ----
    "q225_late_priority" -> ((s, dir) =>
      graft.ext.Supply.latePriorityAudit(
          Tables.orders(s, dir), Tables.lineitem(s, dir), graceDays = 21)
        .orderBy(col("o_orderpriority"))),

    // ---- ext/supply: important-stock screen (Q11 HAVING-share shape;
    // within-brand revenue share ≥ 1.5× the brand's average part share) ----
    "q226_important_stock" -> ((s, dir) =>
      graft.ext.Supply.importantStock(
          Tables.lineitem(s, dir), Tables.part(s, dir), multipleTenths = 15)
        .orderBy(col("p_brand"), col("p_partkey"))),

    // ---- ext/supply: small-quantity revenue per brand (Q17 correlated
    // scalar decorrelated to a part window) ----
    "q227_small_qty_revenue" -> ((s, dir) =>
      graft.ext.Supply.smallQuantityRevenue(
          Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("p_brand"))),

    // ---- ext/supply: dormant high-balance sweep per market segment
    // (Q22 shape: scalar-threshold + anti-join, exact integer compare) ----
    "q228_dormant_accounts" -> ((s, dir) =>
      graft.ext.Supply.dormantHighValue(
          Tables.customer(s, dir), Tables.orders(s, dir), dormantDays = 90)
        .orderBy(col("c_mktsegment"))),

    // ---- ext/supply: supplier reliability league with Wilson lower
    // bound (Q21 intent with defensible small-n statistics) ----
    "q229_supplier_reliability" -> ((s, dir) =>
      graft.ext.Supply.supplierReliability(Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.supplier(s, dir), graceDays = 21)
        .orderBy(col("s_suppkey"))),

    // ---- ext: Theil–Sen robust market trend (median of pairwise
    // day-slopes; outlier-immune sibling of q154's OLS fit) ----
    "q230_theil_sen" -> ((s, dir) =>
      graft.ext.Timeseries.theilSen(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("n_days"))),

    // ---- ext: hourly view→purchase lead–lag cross-correlation ----
    "q231_event_xcorr" -> ((s, dir) =>
      graft.ext.Behavior.eventXcorr(Tables.events(s, dir),
          leadType = "view", lagType = "purchase", maxLag = 6)
        .orderBy(col("lag"))),

    // ---- ext: Mann–Whitney U loyalty-vs-rest revenue distribution
    // test per category (tie-corrected rank statistics) ----
    "q232_mann_whitney" -> ((s, dir) =>
      graft.ext.Experiment.loyaltyMannWhitney(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("item_category"))),

    // ---- ext: Hampel filter — ±3-day rolling-median/MAD revenue
    // outliers per restaurant (median sibling of q132's rolling-z) ----
    "q233_hampel" -> ((s, dir) =>
      graft.ext.Timeseries.hampelOutliers(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: Matryoshka truncation recall — 8-dim prefix top-k
    // audited against full-dim exact top-k (q144's pattern for
    // dimension-truncated storage tiers) ----
    "q234_matryoshka_recall" -> ((s, dir) =>
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir),
          "vec_id", "embedding", dims = 8, k = 5)
        .orderBy(col("vec_id"))),

    // ---- ext: exponentially time-decayed customer value (half-life
    // 30 days as exact power-of-two bucket decay) ----
    "q235_decayed_value" -> ((s, dir) =>
      graft.ext.Olap.decayedCustomerValue(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("user_id"))),

    // ---- ext: share-of-wallet concentration deciles ----
    "q236_wallet_share" -> ((s, dir) =>
      graft.ext.Olap.walletShareDeciles(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("bucket"))),

    // ---- ext: closed-form two-feature OLS per brand (normal
    // equations from integer moment sums; no iterative fit) ----
    "q237_ols_price_model" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val d = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_extendedprice")).cast("long").as("y"),
          col("l_quantity").cast("long").as("x1"),
          round(col("l_discount") * 100).cast("long").as("x2"))
        // pinned brand repartition (r15): the ten decimal(38,0) moment
        // partials otherwise build inside the one-row-group scan task
        // (cpu_share 1.2); olsNormalEq's groupBy reuses the distribution
        .repartition(s.sparkContext.defaultParallelism, col("p_brand"))
      graft.ext.Profiling.olsNormalEq(d, col("p_brand"),
          col("y"), col("x1"), col("x2"))
        .withColumnRenamed("grp", "p_brand")
        .orderBy(col("p_brand"))
    }),

    // ---- ext: Neyman-optimal labeling-budget allocation across
    // corpus sources (variance-weighted, integer-exact shares) ----
    "q238_neyman_allocation" -> ((s, dir) =>
      graft.ext.Sampling.neymanAllocation(
          Tables.documents(s, dir), "source", "n_chars", budget = 1000)
        .orderBy(col("stratum"))),

    // ---- ext: declarative data-quality rule audit (one pass; the
    // same SQL strings drive the plan and the oracle) ----
    "q239_dq_rules" -> ((s, dir) =>
      graft.ext.Quality.dqRuleAudit(
          Tables.lineitem(s, dir), graft.ext.Quality.LineitemRules)
        .orderBy(col("rule"))),

    // ---- ext: category monthly rank trajectories with MoM delta ----
    "q240_rank_trajectory" -> ((s, dir) =>
      graft.ext.Olap.categoryRankTrajectory(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("month"), col("rank"))),

    // ---- gold: bilateral trade matrix (TPC-H Q7 shape) ----
    "q241_trade_matrix" -> ((s, dir) =>
      graft.gold.Geography.tradeMatrixOnSpine(
          graft.bindings.Conformed.tradeSpineCached(s, dir))
        .orderBy(col("cust_nation"), col("supp_nation"), col("yr"))),

    // ---- gold: supplier-nation market share per customer region ×
    // year (TPC-H Q8 shape) — shares q241's persisted trade spine ----
    "q242_market_share" -> ((s, dir) =>
      graft.gold.Geography.supplierMarketShareOnSpine(
          graft.bindings.Conformed.tradeSpineCached(s, dir),
          Tables.region(s, dir), targetNation = "NATION_0")
        .orderBy(col("cust_region"), col("yr"))),

    // ---- ext: promo revenue share per ship month (TPC-H Q14 shape) ----
    "q243_promo_share" -> ((s, dir) =>
      graft.ext.Olap.promoShare(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("ship_month"))),

    // ---- ext: label centroid confusability matrix (pairwise L2 over
    // exact integer-unit centroids) ----
    "q244_centroid_confusion" -> ((s, dir) =>
      Similarity.centroidConfusion(Tables.embeddings(s, dir),
          "label", "embedding")
        .orderBy(col("label_a"), col("label_b"))),

    // ---- ext/supply: order-to-ship latency percentiles per month ----
    "q245_ship_latency" -> ((s, dir) =>
      graft.ext.Supply.shipLatency(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy(col("order_month"))),

    // ---- ext: seasonal-naive forecast with empirical p10/p90 bands
    // over the last week (coverage-flagged holdout) ----
    "q246_forecast_bands" -> ((s, dir) =>
      graft.ext.Timeseries.seasonalNaiveBands(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: weekday seasonal strength η² per restaurant ----
    "q247_seasonal_strength" -> ((s, dir) =>
      graft.ext.Timeseries.seasonalStrength(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"))),

    // ---- ext: monthly growth accounting (new / retained /
    // resurrected / churned user ledger) ----
    "q248_growth_accounting" -> ((s, dir) =>
      graft.ext.Olap.growthAccounting(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("month"))),

    // ---- ext: price-ladder percentiles + premium index per category ----
    "q249_price_ladder" -> ((s, dir) =>
      graft.ext.Olap.priceLadder(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("item_category"))),

    // ---- ext: market Lorenz curve (user revenue deciles) ----
    "q250_lorenz_curve" -> ((s, dir) =>
      graft.ext.Olap.lorenzCurve(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("decile"))),

    // ---- ext: language mix + entropy per source ----
    "q251_source_lang_mix" -> ((s, dir) =>
      TextAnalysis.sourceLangMix(Tables.documents(s, dir), "source", "lang")
        .orderBy(col("source"))),

    // ---- ext: exact-dedup yield manifest per source (bytes saved) ----
    "q252_dedup_yield" -> ((s, dir) =>
      graft.ext.Dedup.dedupYield(Tables.documents(s, dir),
          "doc_id", "text", "source", "n_chars")
        .orderBy(col("source"))),

    // ---- ext: quality-decile × dup-rate cross-signal audit ----
    "q253_quality_dup" -> ((s, dir) =>
      graft.ext.Dedup.qualityDupDeciles(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy(col("decile"))),

    // ---- ext: LM-scorer length-bias audit (log2 token buckets) ----
    "q254_lm_length_bias" -> ((s, dir) =>
      TextAnalysis.lmLengthBias(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("bucket"))),

    // ---- ext: corpus n-gram novelty saturation curve ----
    "q255_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
          bucketSize = 50)
        .orderBy(col("bucket"))),

    // ---- gold: revealed comparative advantage per nation×category ----
    "q256_rca_index" -> ((s, dir) =>
      graft.gold.Geography.rcaIndex(Conformed.orderRevenueCached(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir))
        .orderBy(col("nation"), col("item_category"))),

    // ---- gold: single-pass share-of-parent hierarchy tree ----
    "q257_share_of_parent" -> ((s, dir) =>
      graft.gold.Geography.shareOfParent(Conformed.orderRevenueCached(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy(col("region"), col("nation"), col("restaurant_id"))),

    // ---- ext: embedding-norm distribution audit per label ----
    "q258_norm_audit" -> ((s, dir) =>
      Similarity.embeddingNormAudit(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label")
        .orderBy(col("label"))),

    // ---- ext: PQ codebook balance audit per block ----
    "q259_pq_code_balance" -> ((s, dir) =>
      Similarity.pqCodeBalance(Tables.embeddings(s, dir),
          "vec_id", "embedding")
        .orderBy(col("blk"))),

    // ---- ext: precision-recall operating points (quality → lang=en) ----
    "q260_pr_curve" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.prCurve(q.join(d, Seq("doc_id")),
          col("quality_score"), col("lang") === "en")
        .orderBy(col("threshold"))
    }),

    // ---- ext: t-closeness privacy audit (nation QI × mktsegment) ----
    "q261_t_closeness" -> ((s, dir) =>
      graft.ext.Profiling.tCloseness(Tables.customer(s, dir),
          col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("qi"))),

    // ---- ext: temporal recommender backtest (hit-rate@3 by profile
    // breadth; last-order holdout) ----
    "q262_cf_backtest" -> ((s, dir) =>
      graft.ext.Association.cfBacktest(Conformed.orderRevenueCached(s, dir))
        .orderBy(col("n_train_cats"))),

    // ---- ext: Spearman rank correlation quantity↔net price per
    // brand (monotone association, robust to the money tail) ----
    "q263_spearman" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val d = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_quantity")).cast("long").as("x"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("y"))
      graft.ext.Profiling.spearmanByGroup(d, "p_brand", col("x"), col("y"))
        .orderBy(col("p_brand"))
    }),

    // ---- ext: Kruskal–Wallis H — revenue distribution across item
    // categories (K-sample sibling of q232's Mann–Whitney) ----
    "q264_kruskal_wallis" -> ((s, dir) =>
      graft.ext.Experiment.kruskalWallis(
          Conformed.orderRevenueCached(s, dir), "item_category",
          round(col("total_revenue") * 10000).cast("long"))),

    // ---- ext: loyalty difference-in-differences (2×2 cell means,
    // calendar-midpoint period split) ----
    "q265_diff_in_diff" -> ((s, dir) =>
      graft.ext.Experiment.loyaltyDiffInDiff(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: ABC/XYZ inventory classification (revenue-share ×
    // demand-variability classes at class grain) ----
    "q266_abc_xyz" -> ((s, dir) =>
      graft.ext.Supply.abcXyz(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy(col("abc_class"), col("xyz_class"))),

    // ---- ext: order aging buckets per priority (data-derived
    // anchor, receivables-style report) ----
    "q267_order_aging" -> ((s, dir) =>
      graft.ext.Supply.orderAging(Tables.orders(s, dir))
        .orderBy(col("o_orderpriority"), col("bucket_id"))),

    // ---- ext: per-brand safety stock / reorder point (normal demand
    // model over observed shipping days) ----
    "q268_safety_stock" -> ((s, dir) =>
      graft.ext.Supply.safetyStock(Tables.lineitem(s, dir),
          Tables.part(s, dir))
        .orderBy(col("p_brand"))),

    // ---- ext: ranked-retrieval quality of the IVF index beyond q144's
    // set recall — NDCG@k + MRR per probe, graded by the exact ranking ----
    "q269_retrieval_ndcg" -> ((s, dir) =>
      graft.ext.Similarity.rankedRetrievalEval(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, centroidEvery = 100)
        .orderBy(col("vec_id"))),

    // ---- gold: shipping backlog top-10 (TPC-H Q3 shape; distributed
    // partial top-k, segment semi-join before the fact join) ----
    "q270_shipping_backlog" -> ((s, dir) =>
      graft.gold.Fulfillment.shippingBacklog(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir),
        segment = "BUILDING", asOf = "1998-06-01")),

    // ---- gold: domestic-commerce volume per nation (TPC-H Q5 shape;
    // customer nation == supplier nation) ----
    "q271_local_supplier_volume" -> ((s, dir) =>
      graft.gold.Fulfillment.localSupplierVolume(Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.customer(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir), regionName = "ASIA", orderYear = 1997)
        .orderBy(col("nation"))),

    // ---- gold: discount-elimination what-if (TPC-H Q6 shape; all
    // predicates scan-tight, one-row aggregate) ----
    "q272_repricing_whatif" -> ((s, dir) =>
      graft.gold.Fulfillment.repricingWhatIf(Tables.lineitem(s, dir),
        yearStart = "1997-01-01", discLo = 0.05, discHi = 0.07,
        maxQty = 24)),

    // ---- gold: catalog margin by supplier nation × year (TPC-H Q9
    // shape, retail-price cost basis) ----
    "q273_catalog_margin" -> ((s, dir) =>
      graft.gold.Fulfillment.catalogMarginByNation(Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.part(s, dir),
          Tables.supplier(s, dir), Tables.nation(s, dir),
          partType = "PROMO")
        .orderBy(col("nation"), col("yr"))),

    // ---- gold: returned-revenue customer triage (TPC-H Q10 shape) ----
    "q274_returns_triage" -> ((s, dir) =>
      graft.gold.Fulfillment.returnsTriage(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir), quarterStart = "1997-10-01")),

    // ---- gold: customer order-count distribution including the
    // zero-order tail (TPC-H Q13 shape) ----
    "q275_order_count_histogram" -> ((s, dir) =>
      graft.gold.Fulfillment.orderCountHistogram(Tables.orders(s, dir),
        Tables.customer(s, dir), excludePriority = "1-URGENT")),

    // ---- gold: top quarterly supplier with ties kept (TPC-H Q15
    // shape; scalar-broadcast max, no unpartitioned window) ----
    "q276_top_quarter_supplier" -> ((s, dir) =>
      graft.gold.Fulfillment.topQuarterSupplier(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), quarterStart = "1997-01-01")),

    // ---- gold: distinct-supplier assortment breadth per brand/type/
    // size band (TPC-H Q16 shape; dedup-then-count, no expand) ----
    "q277_supplier_variety" -> ((s, dir) =>
      graft.gold.Fulfillment.supplierVariety(Tables.lineitem(s, dir),
        Tables.part(s, dir), excludeBrand = "Brand#13")),

    // ---- gold: oversized-order review queue (TPC-H Q18 shape;
    // HAVING on the grouped fact before any dim join) ----
    "q278_bulk_orders" -> ((s, dir) =>
      graft.gold.Fulfillment.bulkOrders(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir), minQty = 200)),

    // ---- gold: disjunctive promo pricing (TPC-H Q19 shape; OR-of-
    // conjunctions with part-side arms tagged on the broadcast dim) ----
    "q279_disjunctive_pricing" -> ((s, dir) =>
      graft.gold.Fulfillment.disjunctivePricing(Tables.lineitem(s, dir),
        Tables.part(s, dir), Seq(
          graft.gold.Fulfillment.PricingArm("Brand#3", 1, 11, 1, 15),
          graft.gold.Fulfillment.PricingArm("Brand#14", 10, 20, 1, 25),
          graft.gold.Fulfillment.PricingArm("Brand#25", 20, 30, 5, 50)))),

    // ---- gold: service-level matrix per delay band (TPC-H Q12 shape;
    // delay band substitutes the absent l_shipmode) ----
    "q280_service_level" -> ((s, dir) =>
      graft.gold.Logistics.serviceLevelMatrix(Tables.lineitem(s, dir),
        Tables.orders(s, dir), shipYear = 1997)),

    // ---- gold: majority-share suppliers per part (TPC-H Q20 shape;
    // shipped qty substitutes the absent partsupp availability) ----
    "q281_dominant_suppliers" -> ((s, dir) =>
      graft.gold.Logistics.dominantSuppliers(Tables.lineitem(s, dir),
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        partType = "PROMO", shipYear = 1997)),

    // ---- gold: sole-blame late suppliers (TPC-H Q21 shape; the
    // EXISTS/NOT EXISTS pair as counts over one grouped pass) ----
    "q282_sole_blame_late" -> ((s, dir) =>
      graft.gold.Logistics.soleBlameLateSuppliers(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.supplier(s, dir))),

    // ---- gold: dormant high-balance customers per nation (TPC-H Q22
    // shape; recency window keeps the anti-join non-vacuous) ----
    "q283_idle_customers" -> ((s, dir) =>
      graft.gold.Logistics.idleHighValueCustomers(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.nation(s, dir),
        sinceDate = "1999-01-01")),

    // ---- ext: calibration / reliability bins of the quality scorer
    // against lang=en (the ECE view q260's PR points can't see) ----
    "q284_calibration_bins" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.calibrationBins(q.join(d, Seq("doc_id")),
        col("quality_score"), col("lang") === "en")
    }),

    // ---- ext: source↔language mutual information (does source
    // determine language — the stratification dependence audit) ----
    "q285_source_lang_mi" -> ((s, dir) =>
      graft.ext.Profiling.categoricalMutualInfo(Tables.documents(s, dir),
        col("source"), col("lang"))),

    // ---- ext: IVF cell × label purity audit (do unsupervised cells
    // recover the label structure) ----
    "q286_cell_purity" -> ((s, dir) =>
      graft.ext.Similarity.cellLabelPurity(Tables.embeddings(s, dir),
        "vec_id", "embedding", "label")),

    // ---- ext: α=½ temperature mixture weights per source (the
    // multilingual resampling rule; √ is exactly rounded IEEE) ----
    "q287_temperature_mix" -> ((s, dir) =>
      graft.ext.Sampling.temperatureWeights(Tables.documents(s, dir),
        col("source"))),

    // ---- ext: histogram-grain Kendall τ-b per brand (quantity vs
    // discount percent — bounded 50×11 grid per group) ----
    "q288_kendall_tau" -> ((s, dir) =>
      graft.ext.Profiling.kendallTauBinned(
        Tables.lineitem(s, dir).join(
          Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey")),
        "p_brand",
        round(col("l_quantity")).cast("long"),
        round(col("l_discount") * 100).cast("long"))),

    // ---- ext: Cramér's V priority × status (the effect-size
    // companion to q285's MI) ----
    "q289_cramers_v" -> ((s, dir) =>
      graft.ext.Profiling.cramersV(Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderstatus"))),

    // ---- ext: delete-a-group jackknife SE + 95% CI for the mean
    // order value (deterministic folds — no RNG bootstrap) ----
    "q290_jackknife_ci" -> ((s, dir) =>
      graft.ext.Experiment.jackknifeMeanCI(Tables.orders(s, dir),
        col("o_orderkey"), col("o_totalprice"))),

    // ---- ext: source-ablation ledger (leave-one-source-out corpus
    // health deltas — the data-valuation readout) ----
    "q291_source_ablation" -> ((s, dir) =>
      graft.ext.Curation.sourceAblation(Tables.documents(s, dir),
        "doc_id", "text", "source", "lang")),

    // ---- ext: OOV rate of the test split vs the train split's
    // top-1000 vocabulary, per language ----
    "q292_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(Tables.documents(s, dir),
        "doc_id", "text", "lang")),

    // ---- ext: minimum detectable effect of the loyalty experiment
    // (alpha=.05 two-sided, 80% power; z literals shared with SQL) ----
    "q293_mde" -> ((s, dir) =>
      graft.ext.Experiment.mdeReadout(Conformed.orderRevenueCached(s, dir),
        col("is_loyalty"), col("total_revenue"))),

    // ---- gold: pricing summary report (TPC-H Q1 — the canonical
    // scan-aggregate; completes the 22/22 TPC-H shape map) ----
    "q294_pricing_summary" -> ((s, dir) =>
      graft.gold.Fulfillment.pricingSummary(Tables.lineitem(s, dir),
        cutoff = "1998-09-02")),

    // ---- ext: WoE + information value of brand vs returns (the
    // credit-scoring feature screen; ln only via quantized counts) ----
    "q295_woe_iv" -> ((s, dir) =>
      graft.ext.Encoding.woeInformationValue(
        Tables.lineitem(s, dir).join(
          Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey")),
        col("p_brand"), col("l_returnflag") === "R")),

    // ---- ext: exact Gini decision stump on quantity vs returns
    // (depth-1 tree at histogram grain — no ML library) ----
    "q296_gini_stump" -> ((s, dir) =>
      graft.ext.Encoding.giniStump(Tables.lineitem(s, dir),
        round(col("l_quantity")).cast("long"),
        col("l_returnflag") === "R")),

    // ---- ext: Syntetos-Boylan demand-pattern quadrants per brand
    // (integer cross-multiply boundaries — no doubles in the class) ----
    "q297_demand_classes" -> ((s, dir) =>
      graft.ext.Supply.demandClasses(Tables.lineitem(s, dir),
        Tables.part(s, dir))),

    // ---- ext: Coleman-Liau readability per source (the syllable-free
    // grade-level formula — three exact counts per doc) ----
    "q298_readability" -> ((s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir),
        "text", "source")),

    // ---- ext: Croston intermittent-demand forecast per part (the
    // model q297's intermittent/lumpy quadrants prescribe) ----
    "q299_croston" -> ((s, dir) =>
      graft.ext.Supply.crostonForecast(Tables.lineitem(s, dir))),

    // ---- gold: per-restaurant median with a distribution-free 95%
    // CI from binomial order-statistic ranks ----
    "q300_median_ci" -> ((s, dir) =>
      graft.gold.Percentiles.medianWithCI(
        Conformed.orderRevenueCached(s, dir), "restaurant_id")),

    // ---- ext: Holt-Winters additive weekly-seasonal forecast (the
    // seasonal completion of the EWMA -> Holt smoother ladder) ----
    "q301_holt_winters" -> ((s, dir) =>
      graft.ext.Timeseries.holtWintersForecast(
          Conformed.orderRevenueCached(s, dir))
        .orderBy(col("restaurant_id"), col("creation_date"))),

    // ---- ext: single-changepoint location by binary segmentation
    // (WHERE the level shifted; q124's CUSUM alarms THAT it did) ----
    "q302_changepoint" -> ((s, dir) =>
      graft.ext.Timeseries.changepoint(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: time-decay attribution (2^-age_days dyadic weights as
    // exact integers — the third standard model after first/last and
    // linear) ----
    "q303_time_decay_attribution" -> ((s, dir) =>
      graft.ext.Behavior.timeDecayAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup"))),

    // ---- ext: quality-aware canonical selection vs keep-min-id (the
    // dedup keep-policy audit: what the smarter canonical buys) ----
    "q304_canonical_policy" -> ((s, dir) =>
      graft.ext.Dedup.canonicalPolicyAudit(Tables.documents(s, dir),
        "doc_id", "text")),

    // ---- ext: U-shaped 40/20/40 position attribution (completing
    // the four standard models; exact integer micro credit) ----
    "q305_position_attribution" -> ((s, dir) =>
      graft.ext.Behavior.positionAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup"))),

    // ---- ext: log-rank test between loyalty/non-loyalty survival
    // curves (the censoring-aware companion to q158's Kaplan-Meier) ----
    "q306_log_rank" -> ((s, dir) =>
      graft.ext.Survival.logRankTest(Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Murphy decomposition of the Brier score (the number
    // behind q284's reliability diagram: REL - RES + UNC) ----
    "q307_brier" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.brierDecomposition(q.join(d, Seq("doc_id")),
        col("quality_score"), col("lang") === "en")
    }),

    // ---- ext: exact-substring span dedup (Lee et al. ACL'22 shape
    // at shingle grain — the span REMOVAL companion to q148's
    // duplicated-span measurement) ----
    "q308_exact_substring_dedup" -> ((s, dir) =>
      graft.ext.Dedup.exactSubstringDedup(
        Tables.documents(s, dir), "doc_id", "text")),

    // ---- ext: Nelson-Aalen cumulative hazard per loyalty arm (the
    // hazard-scale member of the survival family: q158 KM S(t),
    // q306 log-rank comparison, this reads WHERE hazard accumulates) --
    "q309_nelson_aalen" -> ((s, dir) =>
      graft.ext.Survival.nelsonAalen(Conformed.orderRevenueCached(s, dir))),

    // ---- ext: LSH S-curve calibration (empirical candidate-detection
    // rate per exact-Jaccard bucket vs the analytic 1-(1-s^r)^b curve
    // — the (numPerms, bands) design readout before a 100 TB run) ----
    "q310_lsh_calibration" -> ((s, dir) =>
      graft.ext.Dedup.lshCalibrationCurve(
        Tables.documents(s, dir), "doc_id", "text")),

    // ---- ext: exact column profile (one-pass Deequ-analyzer shape:
    // nulls, exact distincts, type-aware min/max per column) ----
    "q311_column_profile" -> ((s, dir) =>
      graft.ext.Quality.columnProfile(
        Tables.orders(s, dir), graft.ext.Quality.OrdersProfile)),

    // ---- ext: IVF probe-sweep (mean recall@k at nProbe in {1,2,4}
    // against ONE shared exact side — the ANN-tier design readout,
    // q310's sibling for the similarity index) ----
    "q312_ivf_probe_sweep" -> ((s, dir) =>
      Similarity.ivfProbeSweep(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 5, centroidEvery = 100, probesList = Seq(1, 2, 4))),

    // ---- ext: Poisson-bootstrap CI for mean user spend per loyalty
    // arm (hash-derived Poisson(1) resample weights — the streaming
    // bootstrap; nearest-rank 5th/95th over 100 replicate means) ----
    "q313_bootstrap_ci" -> ((s, dir) =>
      graft.ext.Experiment.poissonBootstrapCI(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Shapley-value attribution over the channel powerset
    // (the game-theoretic model closing the family: first/last q130,
    // linear q184, time-decay q303, U-shaped q305; exact integer
    // n!-scaled weights, conservation by Shapley efficiency) ----
    "q314_shapley_attribution" -> ((s, dir) =>
      graft.ext.Behavior.shapleyAttribution(Tables.events(s, dir),
        Seq("view", "click", "signup"))),

    // ---- ext: simplified (centroid-based) silhouette per kmeans
    // cell — the geometry-quality readout next to q222 purity and
    // q204 sizes; linear in points, never all-pairs ----
    "q315_silhouette" -> ((s, dir) =>
      Similarity.simplifiedSilhouette(
        Tables.embeddings(s, dir), "vec_id", "embedding")),

    // ---- ext: empirical-Bayes beta-binomial shrinkage of the
    // per-restaurant loyalty share (method-of-moments prior; the
    // small-sample league-table fix next to q229's Wilson bound) ----
    "q316_eb_shrinkage" -> ((s, dir) =>
      graft.ext.Experiment.ebShrunkLoyaltyShare(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: isotonic (PAV) calibration of the quality score vs
    // lang=en — the monotone re-fit next to q150's diagnostic bins
    // and q307's Brier summary, via the exact minimax identity ----
    "q317_isotonic" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir),
          "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      graft.ext.Profiling.isotonicCalibration(q.join(d, Seq("doc_id")),
        col("quality_score"), col("lang") === "en")
    }),

    // ---- ext: Benjamini-Hochberg FDR over the per-restaurant
    // loyalty-lift chi-square family (the multiplicity control the
    // single-test tier leaves open) ----
    "q318_bh_fdr" -> ((s, dir) =>
      graft.ext.Experiment.bhFdrLoyaltyLift(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Good-Turing frequency smoothing at count-of-counts
    // grain (the estimator behind held-out LM probabilities; unseen
    // mass = N1/N) ----
    "q319_good_turing" -> ((s, dir) =>
      TextAnalysis.goodTuring(Tables.documents(s, dir), "text")),

    // ---- ext: EXACT Jaccard-threshold join via prefix filtering
    // (AllPairs/PPJoin family — the exact-recall sibling of q16's
    // LSH; the oracle is brute-force all-pairs, proving completeness)
    "q320_prefix_jaccard" -> ((s, dir) =>
      graft.ext.Dedup.prefixJaccardJoin(
        Tables.documents(s, dir), "doc_id", "text")),

    // ---- ext: Mann-Kendall monotone-trend test per restaurant (the
    // distribution-free significance companion to q230 Theil-Sen) ----
    "q321_mann_kendall" -> ((s, dir) =>
      graft.ext.Timeseries.mannKendall(Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Cochran-Mantel-Haenszel pooled loyalty->option-attach
    // odds ratio across restaurant strata (Simpson-proof; the crude
    // OR rides alongside to show the confounding gap) ----
    "q322_cmh" -> ((s, dir) =>
      graft.ext.Experiment.cmhLoyaltyOption(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Fellegi-Sunter record-linkage weight table over the
    // blocked part pairs (the log-likelihood decision layer above
    // q97/q168's raw similarities) ----
    "q323_fellegi_sunter" -> ((s, dir) =>
      graft.ext.Dedup.fellegiSunter(Tables.part(s, dir), "p_partkey",
        "p_brand", "p_name", Seq("p_type", "p_size"))),

    // ---- ext: Poisson overdispersion test of daily demand (the
    // model-choice gate before count forecasting: D ~ 1 Poisson-like,
    // D >> 1 clumped; Wilson-Hilferty upper-tail p) ----
    "q324_overdispersion" -> ((s, dir) =>
      graft.ext.Timeseries.overdispersion(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Ljung-Box portmanteau white-noise test (the one-number
    // verdict over q173's ACF diagram; chi2_h via Wilson-Hilferty) ----
    "q325_ljung_box" -> ((s, dir) =>
      graft.ext.Timeseries.ljungBox(Conformed.orderRevenueCached(s, dir))),

    // ---- ext: per-source lexical-richness vitals (TTR, hapax share,
    // Yule's K, Simpson's D, Herdan's C — the boilerplate screen) ----
    "q326_lexical_richness" -> ((s, dir) =>
      TextAnalysis.lexicalRichness(Tables.documents(s, dir),
        "source", "text")),

    // ---- ext: capture-recapture (Chapman) estimate of the near-dup
    // pair population from the LSH and SimHash detectors — the
    // coverage audit for the dedup tier itself ----
    "q327_capture_recapture" -> ((s, dir) =>
      graft.ext.Dedup.dedupCaptureRecapture(
        Tables.documents(s, dir), "doc_id", "text")),

    // ---- ext: Wald-Wolfowitz runs test on above/below-mean day signs
    // (the nonparametric randomness check next to q325) ----
    "q328_runs_test" -> ((s, dir) =>
      graft.ext.Timeseries.runsTest(Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Theil-T revenue inequality decomposed by supplier
    // nation (T = T_between + T_within exactly — the decomposability
    // Gini lacks) ----
    "q329_theil" -> ((s, dir) =>
      graft.ext.Olap.theilDecomposition(Conformed.orderRevenueCached(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir))),

    // ---- ext: hubness audit of the embedding space (k-occurrence
    // skewness — the ANN pathology screen next to the recall gates) ----
    "q330_hubness" -> ((s, dir) =>
      Similarity.hubnessAudit(Tables.embeddings(s, dir),
        "vec_id", "embedding")),

    // ---- ext: monthly Laspeyres/Paasche/Fisher price indices over
    // the matched part basket (price vs basket movement) ----
    "q331_price_index" -> ((s, dir) =>
      graft.ext.Olap.priceIndex(Tables.lineitem(s, dir))),

    // ---- ext: McNemar paired activity-shift test across timeline
    // halves (each user their own control; discordant cells only) ----
    "q332_mcnemar" -> ((s, dir) =>
      graft.ext.Experiment.mcnemarActivityShift(
        Conformed.orderRevenueCached(s, dir))),

    // ---- ext: Church-Gale term burstiness for the top-df vocabulary
    // (VMR of per-doc counts: glue ~1, topical >> 1) ----
    "q333_burstiness" -> ((s, dir) =>
      TextAnalysis.termBurstiness(Tables.documents(s, dir),
        "doc_id", "text")),

    // ---- ext: Hill tail-index k-sweep of order revenue (does the
    // tail have finite variance? the inference-trust gate behind the
    // concentration tier) ----
    "q334_hill_tail" -> ((s, dir) =>
      graft.ext.Olap.hillTailIndex(Conformed.orderRevenueCached(s, dir))),

    // ---- ext: entropy rate of the event-type Markov chain (the
    // predictability ceiling over q55's matrix; gap = mutual info) ----
    "q335_entropy_rate" -> ((s, dir) =>
      graft.ext.Behavior.markovEntropyRate(Tables.events(s, dir))),

    // ---- ext: exact two-sample KS test of user spend (loyal-leaning
    // vs other) with the asymptotic Kolmogorov p ----
    "q336_ks_two_sample" -> ((s, dir) =>
      graft.ext.Experiment.ksLoyaltySpend(
        Conformed.orderRevenueCached(s, dir))),

    // ---- streaming: hot-key-safe bucketed stream-stream join — the
    // shipped mitigation for the 10x-soak finding (q98's per-user
    // symmetric join enumerates a hot user's whole retained state per
    // probe): (user, time-bucket) keys with a lossless two-bucket
    // purchase explode; SAME batch range-join oracle as q98 ----
    "q339_stream_join_bucketed" -> ((s, dir) =>
      graft.streaming.StreamJoin.purchaseViewJoinBucketedViaStream(s, dir)
        .orderBy(col("purchase_id"), col("view_id"))),

    // ---- ext: hot-key-safe capped attribution — the shipped
    // mitigation for the 10x-soak finding (q305's per-user pairing is
    // semantically unbounded under key concentration): day-bucketed
    // lossless pair join + per-purchase most-recent-N cap ----
    "q338_attribution_capped" -> ((s, dir) =>
      graft.ext.Behavior.positionAttributionCapped(Tables.events(s, dir),
        Seq("view", "click", "signup"), lookbackDays = 7, maxTouches = 10)),

    // ---- ext: REAL audio decode (JDK javax.sound WAV/PCM) — geometry
    // gated vs the byte-exact oracle; signal stats (sum_sq/peak)
    // unit-pinned (the q68 discipline: DuckDB can't walk raw bytes) ----
    "q337_audio_decode" -> ((s, dir) =>
      Multimodal.featurizeAudio(
        Multimodal.toWavMedia(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("decoded"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("n_frames"), col("duration_ms"))
        .orderBy(col("doc_id"))),

    // ---- ext: ingest-side per-entity event-rate cap — the data
    // contract both 10x-soak findings prescribe (tame a 20%-hot key
    // BEFORE it reaches the q305/q98-class joins); q220 manifest
    // discipline, decimal id-sum pins the exact kept membership ----
    "q340_event_rate_cap" -> ((s, dir) =>
      graft.ext.Curation.eventRateCapManifest(Tables.events(s, dir),
        "user_id", "event_id", "ts", "event_type", maxPerDay = 3)),

    // ---- ext: binding-M acceptance audit of the truncated lexical
    // tier (the q312/q175/q234 discipline): candidate recall@k of the
    // q341 two-stage probe vs the exact q128 probe at M in
    // {10, 100, 1000} — the M-vs-quality curve an index design reads
    // before committing a corpus to a truncation depth ----
    "q343_bm25_truncation_recall" -> ((s, dir) =>
      graft.ext.Retrieval.truncationRecallSweep(
        Corpus.scoredPostingsCached(s, dir),
        queryModEvery = 50, k = 10, mList = Seq(10, 100, 1000))),

    // ---- streaming: the q340 ingest rate cap enforced on a LIVE
    // stream — flatMapGroupsWithState on the (entity, UTC day) grain,
    // state bounded by the cap itself (maxPerDay rows per open
    // entity-day), kept set emitted at watermark day-close; must equal
    // the batch eventRateCap (its row_number SQL is the oracle) ----
    "q344_stream_rate_cap" -> ((s, dir) =>
      graft.streaming.StreamingRateCap.cappedViaStream(s, dir, maxPerDay = 3)
        .orderBy(col("user_id"), col("event_id"))),
  )

  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    val covarianceSql =
      """WITH cq AS (
             SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                      x -> CAST(round(x * 1000) AS BIGINT)) AS qv
             FROM embeddings),
           cd AS (SELECT range AS i FROM range(64)),
           cp AS (
             SELECT di.i, dj.i AS j,
                    CAST(sum(qv[di.i + 1] * qv[dj.i + 1]) AS BIGINT) AS spp
             FROM cq, cd di, cd dj WHERE dj.i >= di.i GROUP BY 1, 2),
           cs AS (
             SELECT cd.i, CAST(sum(qv[cd.i + 1]) AS BIGINT) AS sd
             FROM cq, cd GROUP BY 1),
           cn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM cq)
           SELECT CAST(cp.i AS BIGINT) AS i, CAST(cp.j AS BIGINT) AS j,
                  cn.n_rows,
                  (CAST(cp.spp AS DOUBLE) / CAST(cn.n_rows AS DOUBLE)
                   - (CAST(si.sd AS DOUBLE) / CAST(cn.n_rows AS DOUBLE))
                     * (CAST(sj.sd AS DOUBLE) / CAST(cn.n_rows AS DOUBLE)))
                  / 1000000.0 AS cov
           FROM cp JOIN cs si ON si.i = cp.i JOIN cs sj ON sj.i = cp.j
           CROSS JOIN cn
           ORDER BY i, j"""
    // q180: one UNION ALL arm per FK check; NULL child keys count as
    // orphans (they can't join), mirroring the left-join-null counter.
    def fkArm(child: String, ck: String, parent: String, pk: String) =
      s"""SELECT '$child.$ck -> $parent.$pk' AS fk,
            '$child' AS child_table, '$parent' AS parent_table,
            (SELECT count(*) FROM $child) AS n_child,
            (SELECT count(*) FROM $child c WHERE c.$ck IS NULL
               OR NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$ck))
              AS n_orphans"""
    val fkAuditSql = Seq(
      fkArm("lineitem", "l_orderkey", "orders", "o_orderkey"),
      fkArm("lineitem", "l_partkey", "part", "p_partkey"),
      fkArm("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      fkArm("orders", "o_custkey", "customer", "c_custkey"),
      fkArm("customer", "c_nationkey", "nation", "n_nationkey"),
      fkArm("supplier", "s_nationkey", "nation", "n_nationkey"),
      fkArm("nation", "n_regionkey", "region", "r_regionkey"))
      .mkString(
        "SELECT fk, child_table, parent_table, n_child, n_orphans,\n" +
          "  round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_share\n" +
          "FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fk")
    // The incremental-maintenance replays (q79-q82) must reproduce the
    // full recompute EXACTLY, so their oracles ARE the corresponding
    // full-mart oracles, shared by reference — the gate then proves
    // delta maintenance == full rebuild, the reference's gold contract.
    base ++ ListMap(
      "q79_incremental_ltv" -> base("q02_ltv_daily"),
      // Streamed maintenance must ALSO reproduce the full recompute —
      // one gate per maintenance algebra (key-scoped / anchored /
      // additive) through the streaming engine's batch boundaries.
      "q131_stream_incremental_ltv" -> base("q02_ltv_daily"),
      "q138_stream_incremental_rfm" -> base("q05_rfm"),
      "q139_stream_incremental_trends" -> base("q07_trends_daily"),
      "q80_incremental_rfm" -> base("q05_rfm"),
      "q81_incremental_churn" -> base("q06_churn"),
      "q82_incremental_trends" -> base("q07_trends_daily"),
      "q83_watermark_replay" ->
        """WITH o AS (SELECT DISTINCT * FROM orders),
             r1 AS (SELECT o.*, TIMESTAMP '1998-01-01 00:00:00' AS ts FROM o
                    WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
             r2 AS (SELECT o.*, TIMESTAMP '2001-12-31 00:00:00' AS ts FROM o
                    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
             u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority,
                  ts AS ingestion_timestamp, 'insert' AS cdc_action,
                  ts AS cdc_timestamp
           FROM u ORDER BY o_orderkey, o_orderdate, o_totalprice""",
      // Round-trips must return the table unchanged: the oracle is the
      // parquet original, so any CSV/JSON/ORC parse infidelity (null vs
      // '', timestamp precision, double shortest-digits) hash-fails.
      "q117_csv_roundtrip" ->
        """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority
           FROM orders ORDER BY o_orderkey""",
      "q118_jsonl_roundtrip" ->
        """SELECT event_id, ts, user_id, event_type, value, props
           FROM events ORDER BY event_id""",
      "q119_orc_roundtrip" ->
        """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                  l_extendedprice, l_discount, l_tax, l_returnflag,
                  l_linestatus, l_shipdate
           FROM lineitem ORDER BY l_orderkey, l_linenumber""",
      // The k extraction must match Spark's from_json("k LONG") on
      // HOSTILE payloads too, not just the gated feed: from_json nulls
      // out anything but a native in-range JSON integer, while a bare
      // CAST(json_extract_string(...)) coerces "5" to 5 and errors on
      // "5.5". The json_type guard pins the same nulling semantics
      // (quoted/float/bool/overflow/missing all -> NULL on both engines).
      "q120_json_extract" ->
        """WITH j AS (
             SELECT event_type,
                    CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                         THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT)
                    END AS k
             FROM events)
           SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
                  CAST(sum(k) AS BIGINT) AS sum_k,
                  min(k) AS min_k, max(k) AS max_k
           FROM j GROUP BY 1 ORDER BY event_type""",
      "q121_semantic_dedup" ->
        ExtOracleSql.semanticDedup(tau = 0.35, iters = 2, seedEvery = 100),
      "q122_hard_negatives" -> ExtOracleSql.hardNegatives(k = 5),
      "q137_hard_negatives_cells" ->
        ExtOracleSql.hardNegativesInCells(k = 5, iters = 2, seedEvery = 100),
      "q144_ann_recall" -> ExtOracleSql.annRecall(k = 5, centroidEvery = 100),
      "q269_retrieval_ndcg" ->
        ExtOracleSql.rankedRetrievalEval(k = 5, centroidEvery = 100),
      "q145_label_noise" -> ExtOracleSql.labelNoise(k = 5),
      // Oracle counts each triangle once via the id-ordered triple join
      // (u<v<w) — orientation-independent, so it checks the Spark side's
      // degree-ordered counting without sharing its mechanism.
      "q123_triangles" ->
        """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
                   FROM li a JOIN li b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2 HAVING count(*) >= 2),
             t AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
                   FROM e e1
                   JOIN e e2 ON e2.u = e1.v
                   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
             n AS (SELECT x AS node FROM t
                   UNION ALL SELECT y FROM t
                   UNION ALL SELECT z FROM t)
           SELECT node, count(*) AS n_triangles
           FROM n GROUP BY 1 ORDER BY node""",
      "q124_cusum_shift" -> OracleSql.withBaseRecursive(
        """cud AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           cum AS (
             SELECT restaurant_id, count(*) AS n_days, median(cents) AS med
             FROM cud GROUP BY 1 HAVING count(*) >= 5),
           cua AS (
             SELECT d.restaurant_id, median(abs(d.cents - m.med)) AS mad
             FROM cud d JOIN cum m USING (restaurant_id) GROUP BY 1),
           cds AS (
             SELECT d.restaurant_id, d.creation_date, d.cents,
                    CAST(2 * m.med AS BIGINT) AS m2,
                    CAST(2 * a.mad AS BIGINT) AS mad2,
                    row_number() OVER (PARTITION BY d.restaurant_id
                      ORDER BY d.creation_date) AS rn
             FROM cud d
             JOIN cum m USING (restaurant_id)
             JOIN cua a USING (restaurant_id)),
           cr AS (
             SELECT restaurant_id, rn,
                    greatest(0, (2 * cents - m2) - mad2 // 2) AS sp,
                    greatest(0, (m2 - 2 * cents) - mad2 // 2) AS sn
             FROM cds WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    greatest(0, r.sp + (2 * d.cents - d.m2) - d.mad2 // 2),
                    greatest(0, r.sn + (d.m2 - 2 * d.cents) - d.mad2 // 2)
             FROM cr r JOIN cds d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
        """SELECT d.restaurant_id, d.creation_date,
                  d.cents / 10000.0 AS daily_revenue,
                  r.sp / 20000.0 AS cusum_pos, r.sn / 20000.0 AS cusum_neg,
                  (r.sp > 5 * d.mad2 OR r.sn > 5 * d.mad2) AS alarm
           FROM cr r JOIN cds d USING (restaurant_id, rn)
           ORDER BY d.restaurant_id, d.creation_date"""),
      "q125_kappa_agreement" -> ExtOracleSql.kappaLangAgreement,
      "q126_anonymity_audit" ->
        """WITH s AS (
             SELECT c_nationkey, c_mktsegment,
                    CASE WHEN c_acctbal < 0 THEN 'debt' ELSE 'credit' END AS sv
             FROM customer)
           SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
                  count(DISTINCT sv) AS n_sensitive,
                  count(*) < 15 AS k_violation,
                  count(DISTINCT sv) < 2 AS l_violation
           FROM s GROUP BY 1, 2 ORDER BY c_nationkey, c_mktsegment""",
      // HUGEINT sums stay internal: mean/std divide down to DOUBLE
      // before the output schema (the q54/q116 invariant).
      "q127_feature_moments" ->
        """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             e AS (SELECT unnest(generate_series(1, len(emb))) - 1 AS pos,
                          unnest(emb) AS x
                   FROM v),
             u AS (SELECT pos, CAST(round(x * 1000000) AS BIGINT) AS u FROM e)
           SELECT pos, count(*) AS n,
                  round(CAST(sum(u) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean,
                  round(sqrt(greatest(0.0,
                          (CAST(sum(u * u) AS DOUBLE)
                           - CAST(sum(u) AS DOUBLE) * sum(u) / count(*))
                          / count(*)))
                        / 1000000.0, 6) AS std
           FROM u GROUP BY 1 ORDER BY pos""",
      "q128_bm25_search" ->
        ExtOracleSql.bm25Search(queryModEvery = 50, k = 10, maxDfFraction = 1.0),
      "q136_bm25_capped" ->
        ExtOracleSql.bm25Search(queryModEvery = 50, k = 10, maxDfFraction = 0.78),
      "q140_mutual_information" -> ExtOracleSql.mutualInformation(),
      "q143_jsd_sources" -> ExtOracleSql.jsdPerGroup(),
      "q146_lm_prune" -> ExtOracleSql.lmPruneBySource(keepNum = 4, keepDen = 5),
      "q147_cuped" -> ExtOracleSql.cupedReadout(
        splitTs = "2024-01-16", salt = "cuped"),
      "q148_dup_ngram_share" -> ExtOracleSql.dupNgramShare(n = 5),
      "q149_ivf_multiprobe" -> ExtOracleSql.ivfTopKMultiProbe(
        k = 5, centroidEvery = 100, nProbe = 2),
      "q150_calibration" -> ExtOracleSql.lmCalibrationBins(bins = 10),
      "q151_seasonal_outliers" -> OracleSql.withBase(
        """sod AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           sow AS (
             SELECT restaurant_id, isodow(creation_date) - 1 AS weekday,
                    count(*) AS n_days, CAST(sum(cents) AS BIGINT) AS sw
             FROM sod GROUP BY 1, 2),
           sor AS (
             SELECT d.restaurant_id, d.creation_date,
                    CAST(round((CAST(d.cents AS DOUBLE)
                                - CAST(w.sw AS DOUBLE) / w.n_days) / 100.0)
                         AS BIGINT) AS runits
             FROM sod d JOIN sow w
               ON d.restaurant_id = w.restaurant_id
              AND isodow(d.creation_date) - 1 = w.weekday),
           som AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(runits) AS BIGINT) AS sr,
                    CAST(sum(runits * runits) AS BIGINT) AS srr
             FROM sor GROUP BY 1),
           soz AS (
             SELECT r.restaurant_id, r.creation_date, r.runits,
                    CASE WHEN CAST(m.srr AS DOUBLE) / CAST(m.n AS DOUBLE)
                              - (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                                * (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                              <= 0 THEN 0
                         ELSE (CAST(r.runits AS DOUBLE)
                               - CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                              / sqrt(CAST(m.srr AS DOUBLE) / CAST(m.n AS DOUBLE)
                                     - (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE))
                                       * (CAST(m.sr AS DOUBLE) / CAST(m.n AS DOUBLE)))
                    END AS z
             FROM sor r JOIN som m USING (restaurant_id))""",
        """SELECT restaurant_id, creation_date,
                  CAST(runits AS DOUBLE) / 100.0 AS residual, z,
                  abs(z) >= 3.0 AS is_outlier
           FROM soz ORDER BY restaurant_id, creation_date"""),
      "q152_centroid_drift" -> ExtOracleSql.centroidDrift,
      "q153_split_contamination" -> ExtOracleSql.splitContamination(
        trainPct = 80, valPct = 10, salt = "split", minEst = 0.5),
      "q154_trend_fit" -> OracleSql.withBase(
        """trd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           trx AS (
             SELECT restaurant_id,
                    CAST(datediff('day', DATE '1992-01-01', creation_date)
                         AS BIGINT) AS x,
                    CAST(round(CAST(cents AS DOUBLE) / 100.0) AS BIGINT) AS y
             FROM trd),
           trm AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM trx GROUP BY 1),
           trq AS (
             SELECT restaurant_id, n,
                    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
             FROM trm)""",
        """SELECT restaurant_id, n AS n_days,
                  CASE WHEN denx = 0 THEN NULL
                       ELSE (num / denx) / 100.0 END AS slope_per_day,
                  CASE WHEN denx = 0 OR deny = 0 THEN NULL
                       ELSE (num * num) / (denx * deny) END AS r2
           FROM trq ORDER BY restaurant_id"""),
      "q155_ewma_forecast" -> OracleSql.withBaseRecursive(
        """ewd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           ews AS (
             SELECT restaurant_id, creation_date, cents,
                    row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY creation_date) AS rn
             FROM ewd),
           ewr AS (
             SELECT restaurant_id, rn, CAST(cents AS DOUBLE) AS ew,
                    CAST(NULL AS DOUBLE) AS prev
             FROM ews WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    r.ew + 0.125 * (CAST(d.cents AS DOUBLE) - r.ew), r.ew
             FROM ewr r JOIN ews d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
        """SELECT d.restaurant_id, d.creation_date,
                  d.cents / 10000.0 AS daily_revenue,
                  r.ew / 10000.0 AS smoothed_revenue,
                  r.prev / 10000.0 AS forecast_revenue
           FROM ewr r JOIN ews d USING (restaurant_id, rn)
           ORDER BY d.restaurant_id, d.creation_date"""),
      "q156_funnel_latency" ->
        """WITH s1 AS (
             SELECT user_id, min(ts) AS t1 FROM events
             WHERE event_type = 'signup' GROUP BY 1),
           s2 AS (
             SELECT e.user_id, min(e.ts) AS t2
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'view' AND e.ts > t1 GROUP BY 1),
           s3 AS (
             SELECT e.user_id, min(e.ts) AS t3
             FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > t2 GROUP BY 1),
           lat AS (
             SELECT 'signup>view' AS transition,
                    CAST(date_diff('second', t1, t2) AS BIGINT) AS sec
             FROM s1 JOIN s2 USING (user_id)
             UNION ALL
             SELECT 'view>purchase',
                    CAST(date_diff('second', t2, t3) AS BIGINT)
             FROM s2 JOIN s3 USING (user_id)),
           hist AS (SELECT transition, sec, count(*) AS c
                    FROM lat GROUP BY 1, 2),
           cum AS (
             SELECT transition, sec,
                    CAST(sum(c) OVER (PARTITION BY transition ORDER BY sec)
                         AS BIGINT) AS cum
             FROM hist),
           tot AS (SELECT transition, CAST(count(*) AS BIGINT) AS n_pairs
                   FROM lat GROUP BY 1),
           qs AS (SELECT * FROM (VALUES (25), (50), (75), (90)) t(q)),
           tgt AS (SELECT transition, CAST(q AS BIGINT) AS quantile, n_pairs,
                          (q * n_pairs + 99) // 100 AS tgt
                   FROM tot CROSS JOIN qs)
           SELECT t.transition, t.quantile, t.n_pairs,
                  CAST(min(c.sec) AS BIGINT) AS latency_sec
           FROM tgt t JOIN cum c
             ON c.transition = t.transition AND c.cum >= t.tgt
           GROUP BY 1, 2, 3 ORDER BY 1, 2""",
      "q157_token_plan" ->
        s"""WITH tk AS (
             SELECT source,
                    CAST(sum(len(${graft.functions.Portable.tokensSql("text")}))
                         AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
           tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS w_total FROM tk),
           sh AS (
             SELECT source, n_tokens,
                    (1000000 * n_tokens) // w_total AS share,
                    (1000000 * n_tokens) % w_total AS rem
             FROM tk CROSS JOIN tt),
           rk AS (
             SELECT source, n_tokens, CAST(share AS BIGINT) AS share,
                    1000000 - CAST(sum(share) OVER () AS BIGINT) AS r_extra,
                    row_number() OVER (ORDER BY rem DESC, source) AS rnk
             FROM sh)
           SELECT source, n_tokens,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS BIGINT) AS alloc_tokens,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
           FROM rk ORDER BY source""",
      "q158_kaplan_meier" -> OracleSql.withBaseRecursive(
        """kmu AS (
             SELECT restaurant_id, user_id,
                    min(creation_date) AS first_date,
                    max(creation_date) AS last_date
             FROM order_revenue GROUP BY 1, 2),
           kma AS (SELECT max(creation_date) AS anchor FROM order_revenue),
           kmh AS (
             SELECT restaurant_id,
                    CAST(datediff('day', first_date, last_date) AS BIGINT)
                      AS dur,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor) >= 30
                                  THEN 1 ELSE 0 END) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS m
             FROM kmu CROSS JOIN kma GROUP BY 1, 2),
           kmr AS (
             SELECT restaurant_id, dur, d,
                    CAST(sum(m) OVER (PARTITION BY restaurant_id
                      ORDER BY dur DESC) AS BIGINT) AS n
             FROM kmh),
           kme AS (
             SELECT restaurant_id, dur, d, n,
                    row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY dur) AS rn
             FROM kmr WHERE d > 0),
           kms AS (
             SELECT restaurant_id, rn, dur, d, n,
                    CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE) AS s
             FROM kme WHERE rn = 1
             UNION ALL
             SELECT e.restaurant_id, e.rn, e.dur, e.d, e.n,
                    r.s * (CAST(e.n - e.d AS DOUBLE) / CAST(e.n AS DOUBLE))
             FROM kms r JOIN kme e
               ON e.restaurant_id = r.restaurant_id AND e.rn = r.rn + 1)""",
        """SELECT restaurant_id, dur AS duration_days, n AS n_risk,
                  d AS n_events, s AS survival
           FROM kms ORDER BY restaurant_id, duration_days"""),
      "q159_benford" -> OracleSql.withBase(
        s"""bfd AS (
             SELECT CAST(substr(CAST(CAST(round(total_revenue * 10000)
                      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
                      AS leading_digit
             FROM order_revenue
             WHERE CAST(round(total_revenue * 10000) AS BIGINT) > 0),
           bfc AS (
             SELECT leading_digit, CAST(count(*) AS BIGINT) AS n_obs
             FROM bfd GROUP BY 1),
           bft AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM bfc),
           bfp AS (SELECT * FROM (VALUES
             ${graft.ext.Profiling.benfordPSqlValues}) t(leading_digit, benford_p))""",
        """SELECT CAST(p.leading_digit AS BIGINT) AS leading_digit,
                  COALESCE(c.n_obs, 0) AS n_obs,
                  CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
                    / CAST(t.n_total AS DOUBLE) AS share,
                  p.benford_p,
                  CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
                    / CAST(t.n_total AS DOUBLE) - p.benford_p AS excess
           FROM bfp p LEFT JOIN bfc c ON c.leading_digit = p.leading_digit
           CROSS JOIN bft t
           ORDER BY leading_digit"""),
      "q160_cms_heavy_hitters" -> {
        val h = graft.functions.Portable.h60Sql(
          "'cms' || CAST(i.i AS VARCHAR) || ':' || CAST(c.key AS VARCHAR)")
        val hTop = graft.functions.Portable.h60Sql(
          "'cms' || CAST(i.i AS VARCHAR) || ':' || CAST(t.key AS VARCHAR)")
        s"""WITH c AS (
             SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_exact
             FROM lineitem GROUP BY 1),
           i AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
           ctr AS (
             SELECT i.i, $h % 1024 AS bucket,
                    CAST(sum(c.n_exact) AS BIGINT) AS cnt
             FROM c CROSS JOIN i GROUP BY 1, 2),
           tot AS (SELECT CAST(sum(n_exact) AS BIGINT) AS n_total FROM c),
           top AS (SELECT key, n_exact FROM c
                   ORDER BY n_exact DESC, key LIMIT 20),
           est AS (
             SELECT t.key, t.n_exact, min(ctr.cnt) AS n_est
             FROM top t CROSS JOIN i
             JOIN ctr ON ctr.i = i.i AND ctr.bucket = $hTop % 1024
             GROUP BY 1, 2)
           SELECT e.key, e.n_exact, e.n_est,
                  e.n_est - e.n_exact AS overcount,
                  e.n_est <= e.n_exact + (2 * t.n_total + 1023) // 1024
                    AS within_eps
           FROM est e CROSS JOIN tot t
           ORDER BY key"""
      },
      // q198 (incremental maintenance) must reproduce q161's full
      // recompute EXACTLY — shared oracle, the q79 contract for the
      // embedding stats tier
      "q198_incremental_cov" -> covarianceSql,
      "q161_covariance" -> covarianceSql,
      "q199_uplift_strata" -> OracleSql.withBase(
        """upl AS (
             SELECT item_category,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_treat,
                    CAST(sum(CASE WHEN is_loyalty THEN 0 ELSE 1 END)
                      AS BIGINT) AS n_ctrl,
                    CAST(sum(CASE WHEN is_loyalty
                             THEN CAST(round(total_revenue * 10000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS s_treat,
                    CAST(sum(CASE WHEN is_loyalty THEN 0
                             ELSE CAST(round(total_revenue * 10000) AS BIGINT)
                             END) AS BIGINT) AS s_ctrl
             FROM order_revenue GROUP BY ROLLUP (item_category))""",
        """SELECT COALESCE(item_category, 'ALL') AS stratum,
                  n_treat, n_ctrl,
                  round(s_treat / 10000.0 / n_treat, 6) AS mean_treat,
                  round(s_ctrl / 10000.0 / n_ctrl, 6) AS mean_ctrl,
                  round(s_treat / 10000.0 / n_treat
                        - s_ctrl / 10000.0 / n_ctrl, 6) AS uplift
           FROM upl WHERE n_treat > 0 AND n_ctrl > 0
           ORDER BY stratum""",
      ),
      "q162_stump_split" -> OracleSql.withBase(
        """sth AS (
             SELECT item_category AS grp,
                    CAST(round(total_revenue * 10000) AS BIGINT) // 10000 AS t,
                    CASE WHEN is_loyalty THEN 1 ELSE 0 END AS pos
             FROM order_revenue),
           stg AS (
             SELECT grp, t, CAST(count(*) AS BIGINT) AS m,
                    CAST(sum(pos) AS BIGINT) AS mp
             FROM sth GROUP BY 1, 2),
           stc AS (
             SELECT grp, t,
                    CAST(sum(m) OVER w AS BIGINT) AS nl,
                    CAST(sum(mp) OVER w AS BIGINT) AS pl
             FROM stg WINDOW w AS (PARTITION BY grp ORDER BY t)),
           stt AS (
             SELECT grp, CAST(sum(m) AS BIGINT) AS n,
                    CAST(sum(mp) AS BIGINT) AS p
             FROM stg GROUP BY 1),
           sts AS (
             SELECT c.grp, c.t, c.nl, c.pl, t.n, t.p,
                    t.n - c.nl AS nr, t.p - c.pl AS pr
             FROM stc c JOIN stt t USING (grp) WHERE c.nl < t.n),
           stx AS (
             SELECT grp, t, n, p, nl, pl, nr, pr,
                    (1.0 - (CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
                         - (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE)))
                    - ((CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                                * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                              - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))
                                * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
                       + (CAST(nr AS DOUBLE) / CAST(n AS DOUBLE))
                         * (1.0 - (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
                                  * (CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE))
                                - (CAST(nr - pr AS DOUBLE) / CAST(nr AS DOUBLE))
                                  * (CAST(nr - pr AS DOUBLE) / CAST(nr AS DOUBLE))))
                      AS gain
             FROM sts),
           str AS (
             SELECT *, row_number() OVER (PARTITION BY grp
                      ORDER BY gain DESC, t) AS rnk
             FROM stx)""",
        """SELECT grp AS item_category, t AS threshold_units, gain, n,
                  p AS n_pos, nl AS n_left, pl AS pos_left,
                  nr AS n_right, pr AS pos_right
           FROM str WHERE rnk = 1 ORDER BY item_category"""),
      "q163_rank_auc" -> ExtOracleSql.rankAucQualityBySource,
      "q142_skew_profile" ->
        """WITH k AS (
             SELECT l_partkey AS key, count(*) AS n_rows
             FROM lineitem GROUP BY 1),
           t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
                        count(*) AS n_keys FROM k),
           r AS (SELECT key, n_rows,
                        row_number() OVER (ORDER BY n_rows DESC, key) AS rank
                 FROM k)
           SELECT r.key, r.n_rows, r.rank,
                  CAST(r.n_rows AS DOUBLE) / t.n_total AS share,
                  (CAST(r.n_rows AS DOUBLE) * t.n_keys) / t.n_total AS skew
           FROM r CROSS JOIN t WHERE rank <= 50 ORDER BY rank""",
      "q141_rrf_fusion" -> ExtOracleSql.rrfFusion(
        queryModEvery = 50, kLex = 10, kDen = 10, c = 60, k = 10),
      "q341_bm25_truncated" -> ExtOracleSql.bm25Truncated(
        queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000),
      "q342_rrf_fusion_truncated" -> ExtOracleSql.rrfFusion(
        queryModEvery = 50, kLex = 10, kDen = 10, c = 60, k = 10,
        maxPostingsPerTerm = 1000),
      // same oracle as q341 BY DESIGN: the disk-index probe must be
      // indistinguishable from the in-memory-spine probe
      "q345_bm25_disk_index" -> ExtOracleSql.bm25Truncated(
        queryModEvery = 50, k = 10, maxPostingsPerTerm = 1000),
      // same oracle as q21 BY DESIGN: the dense disk-index probe must
      // be indistinguishable from the in-memory IVF chain
      "q346_ivf_disk_index" -> ExtOracleSql.ivfTopK(
        k = 5, centroidEvery = 100),
      // same oracle as q192 BY DESIGN: serve-path probe over the
      // stored IVF-PQ index == the fused in-memory chain
      "q347_ivfpq_disk_index" ->
        ExtOracleSql.ivfPqTopK(queryModEvery = 50, k = 5, blocks = 4,
          seedEvery = 100, centroidEvery = 100, nProbe = 2),
      "q343_bm25_truncation_recall" -> ExtOracleSql.bm25TruncationSweep(
        queryModEvery = 50, k = 10, mList = Seq(10, 100, 1000)),
      "q129_dedup_against" ->
        ExtOracleSql.dedupAgainst(modEvery = 10, minJaccard = 0.5),
      // Oracle is the NAIVE purchase-by-touch BETWEEN join — independent
      // mechanism from the Spark side's single range-frame window.
      "q134_leakage_audit" -> OracleSql.withBase(
        """lk AS (
             SELECT user_id,
                    CAST(sum(CASE WHEN creation_date < DATE '1998-01-01'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
                    CAST(sum(CASE WHEN creation_date >= DATE '1998-01-01'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
                    CAST(min(creation_date) AS DATE) AS first_date,
                    CAST(max(creation_date) AS DATE) AS last_date
             FROM order_revenue GROUP BY 1)""",
        """SELECT user_id, n_before, n_after, first_date, last_date,
                  CASE WHEN n_before > 0 AND n_after > 0 THEN 'both'
                       WHEN n_before > 0 THEN 'train_only'
                       WHEN n_after > 0 THEN 'test_only'
                       ELSE 'no_dates' END AS leak_class
           FROM lk ORDER BY user_id"""),
      "q135_weekday_seasonality" -> OracleSql.withBase(
        """wsd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           wsw AS (
             SELECT restaurant_id, isodow(creation_date) - 1 AS weekday,
                    count(*) AS n_days, CAST(sum(cents) AS BIGINT) AS sw
             FROM wsd GROUP BY 1, 2),
           wsa AS (
             SELECT restaurant_id, count(*) AS na,
                    CAST(sum(cents) AS BIGINT) AS sa
             FROM wsd GROUP BY 1)""",
        """SELECT w.restaurant_id, w.weekday, w.n_days,
                  CAST(w.sw AS DOUBLE) / w.n_days / 10000.0
                    AS weekday_avg,
                  (CAST(w.sw AS DOUBLE) / w.n_days
                   - CAST(a.sa AS DOUBLE) / a.na) / 10000.0
                    AS seasonal_effect
           FROM wsw w JOIN wsa a USING (restaurant_id)
           ORDER BY w.restaurant_id, w.weekday"""),
      "q164_frequent_pairs" ->
        """WITH fpb AS (SELECT DISTINCT l_orderkey AS basket_id,
                               l_partkey AS item
                        FROM lineitem),
             fpf AS (SELECT item, count(*) AS n_item FROM fpb
                     GROUP BY 1 HAVING count(*) >= 20),
             fpp AS (SELECT b.basket_id, b.item FROM fpb b
                     SEMI JOIN fpf f ON b.item = f.item),
             fpc AS (SELECT a.item AS item_a, c.item AS item_b,
                            count(*) AS n_both
                     FROM fpp a JOIN fpp c
                       ON a.basket_id = c.basket_id AND a.item < c.item
                     GROUP BY 1, 2 HAVING count(*) >= 2)
           SELECT item_a, item_b, n_both, fa.n_item AS n_a, fb.n_item AS n_b,
                  round(CAST(n_both AS DOUBLE) / fa.n_item, 6) AS confidence
           FROM fpc JOIN fpf fa ON fpc.item_a = fa.item
                    JOIN fpf fb ON fpc.item_b = fb.item
           ORDER BY item_a, item_b""",
      "q165_pareto" -> OracleSql.withBase(
        """pcg AS (SELECT item_category AS dim,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1),
           pct AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM pcg),
           pcr AS (SELECT dim, cents,
                          row_number() OVER wr AS rank,
                          CAST(sum(cents) OVER (ORDER BY cents DESC, dim
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
                   FROM pcg WINDOW wr AS (ORDER BY cents DESC, dim))""",
        """SELECT dim AS item_category, rank,
                  cents / 10000.0 AS revenue,
                  round(CAST(cum_cents AS DOUBLE) / total_cents, 6)
                    AS cum_share,
                  CAST(cum_cents - cents AS DOUBLE) / total_cents < 0.8
                    AS in_head
           FROM pcr, pct ORDER BY rank"""),
      "q166_locf" -> OracleSql.withBase(
        """lcd AS (SELECT restaurant_id, creation_date,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1, 2),
           lcs AS (SELECT restaurant_id, min(creation_date) AS d0,
                         max(creation_date) AS d1
                  FROM lcd GROUP BY 1),
           lcn AS (SELECT restaurant_id,
                         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS creation_date
                  FROM lcs),
           lcj AS (SELECT n.restaurant_id, n.creation_date, d.cents
                   FROM lcn n LEFT JOIN lcd d
                     ON n.restaurant_id = d.restaurant_id
                    AND n.creation_date = d.creation_date)""",
        """SELECT restaurant_id, creation_date,
                  last_value(cents IGNORE NULLS) OVER wl / 10000.0
                    AS revenue_locf,
                  CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS is_imputed,
                  datediff('day',
                    max(CASE WHEN cents IS NOT NULL THEN creation_date END)
                      OVER wl,
                    creation_date) AS staleness_days
           FROM lcj WINDOW wl AS (PARTITION BY restaurant_id
             ORDER BY creation_date ROWS UNBOUNDED PRECEDING)
           ORDER BY restaurant_id, creation_date"""),
      "q167_vocab_growth" ->
        s"""WITH vgt AS (
              SELECT source, unnest(${graft.functions.Portable.tokensSql("text")})
                       AS term
              FROM documents),
            vgf AS (SELECT source, term, count(*) AS tf
                    FROM vgt GROUP BY 1, 2)
           SELECT source,
                  CAST(sum(tf) AS BIGINT) AS n_tokens,
                  count(*) AS n_types,
                  CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_hapax,
                  round(CAST(count(*) AS DOUBLE) / sum(tf), 6) AS ttr,
                  round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                        / count(*), 6) AS hapax_ratio
           FROM vgf GROUP BY 1 ORDER BY source""",
      "q168_jw_pairs" ->
        """WITH jwp AS (SELECT p_brand, p_partkey, p_name FROM part)
           SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
                  a.p_name AS name_a, b.p_name AS name_b,
                  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
           FROM jwp a JOIN jwp b ON a.p_brand = b.p_brand
                              AND a.p_partkey < b.p_partkey
           WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9
           ORDER BY id_a, id_b""",
      "q169_rolling_corr" -> OracleSql.withBase(
        """rcd AS (SELECT restaurant_id, creation_date,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1, 2),
           rcm AS (SELECT creation_date,
                         CAST(sum(cents) AS BIGINT) AS mcents
                  FROM rcd GROUP BY 1),
           rcs AS (SELECT restaurant_id, min(creation_date) AS d0,
                         max(creation_date) AS d1
                  FROM rcd GROUP BY 1),
           rcn AS (SELECT restaurant_id,
                         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS creation_date
                  FROM rcs),
           rcg AS (SELECT n.restaurant_id, n.creation_date,
                          coalesce(d.cents, 0) // 10000 AS x,
                          coalesce(m.mcents, 0) // 10000 AS y
                   FROM rcn n
                   LEFT JOIN rcd d ON n.restaurant_id = d.restaurant_id
                                  AND n.creation_date = d.creation_date
                   LEFT JOIN rcm m ON n.creation_date = m.creation_date),
           rcw AS (SELECT restaurant_id, creation_date,
                          CAST(sum(x) OVER wf AS DOUBLE) AS sx,
                          CAST(sum(y) OVER wf AS DOUBLE) AS sy,
                          CAST(sum(x * y) OVER wf AS DOUBLE) AS sxy,
                          CAST(sum(x * x) OVER wf AS DOUBLE) AS sxx,
                          CAST(sum(y * y) OVER wf AS DOUBLE) AS syy,
                          row_number() OVER wo AS rn
                   FROM rcg WINDOW
                     wf AS (PARTITION BY restaurant_id ORDER BY creation_date
                            ROWS BETWEEN 27 PRECEDING AND CURRENT ROW),
                     wo AS (PARTITION BY restaurant_id ORDER BY creation_date)),
           rcc AS (SELECT restaurant_id, creation_date,
                          28.0 * sxy - sx * sy AS num,
                          28.0 * sxx - sx * sx AS varx,
                          28.0 * syy - sy * sy AS vary
                   FROM rcw WHERE rn >= 28)""",
        """SELECT restaurant_id, creation_date,
                  CASE WHEN varx > 0 AND vary > 0
                       THEN round(num / sqrt(varx * vary), 6)
                       ELSE NULL END AS market_corr
           FROM rcc ORDER BY restaurant_id, creation_date"""),
      "q173_acf" -> OracleSql.withBase(
        """acd AS (SELECT restaurant_id, creation_date,
                         CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                           AS cents
                  FROM order_revenue GROUP BY 1, 2),
           acs AS (SELECT restaurant_id, min(creation_date) AS d0,
                         max(creation_date) AS d1
                  FROM acd GROUP BY 1),
           acn AS (SELECT restaurant_id,
                         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                           AS DATE) AS creation_date
                  FROM acs),
           acg AS (SELECT n.restaurant_id, n.creation_date,
                          coalesce(d.cents, 0) // 10000 AS x
                   FROM acn n LEFT JOIN acd d
                     ON n.restaurant_id = d.restaurant_id
                    AND n.creation_date = d.creation_date),
           acl AS (SELECT g.restaurant_id, l.lag, g.x,
                          lag(g.x, l.lag) OVER (
                            PARTITION BY g.restaurant_id, l.lag
                            ORDER BY g.creation_date) AS xl
                   FROM acg g CROSS JOIN
                     (SELECT unnest(range(1, 8)) AS lag) l),
           aca AS (SELECT restaurant_id, lag,
                          CAST(count(*) AS DOUBLE) AS n,
                          CAST(sum(x) AS DOUBLE) AS sx,
                          CAST(sum(xl) AS DOUBLE) AS sy,
                          CAST(sum(x * xl) AS DOUBLE) AS sxy,
                          CAST(sum(x * x) AS DOUBLE) AS sxx,
                          CAST(sum(xl * xl) AS DOUBLE) AS syy
                   FROM acl WHERE xl IS NOT NULL GROUP BY 1, 2),
           acc AS (SELECT restaurant_id, lag, CAST(n AS BIGINT) AS n_pairs,
                          n * sxy - sx * sy AS num,
                          n * sxx - sx * sx AS varx,
                          n * syy - sy * sy AS vary
                   FROM aca)""",
        """SELECT restaurant_id, lag, n_pairs,
                  CASE WHEN varx > 0 AND vary > 0
                       THEN round(num / sqrt(varx * vary), 6)
                       ELSE NULL END AS acf
           FROM acc ORDER BY restaurant_id, lag"""),
      // PQ mirrors the q57 Lloyd-CTE discipline per subspace: L2
      // assignment on round(list_distance, 6) with code-asc tie-break,
      // integer-quantized centroid means between iterations.
      "q170_pq_encode" ->
        ExtOracleSql.pqEncode(blocks = 4, seedEvery = 100),
      // ADC extends the same chain: per-(query, block, codeword) squared
      // distances quantize to 1e-9-unit longs BEFORE the per-pair sum
      // (order-free), ranking on (sn asc, vec asc).
      "q171_pq_adc_topk" ->
        ExtOracleSql.pqAdcTopK(queryModEvery = 50, k = 5, blocks = 4, seedEvery = 100),
      "q175_pq_recall" ->
        ExtOracleSql.pqAdcRecall(queryModEvery = 50, k = 5, blocks = 4, seedEvery = 100),
      "q176_concentration" -> OracleSql.withBase(
        """hhd AS (SELECT restaurant_id, item_category,
                         CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                              // 10000 AS BIGINT) AS d
                  FROM order_revenue GROUP BY 1, 2),
           hha AS (SELECT restaurant_id,
                         count(*) AS n_categories,
                         CAST(sum(d) AS BIGINT) AS sd,
                         CAST(sum(d * d) AS BIGINT) AS sd2
                  FROM hhd GROUP BY 1)""",
        """SELECT restaurant_id, n_categories,
                  round(CAST(sd2 AS DOUBLE) / CAST(sd * sd AS DOUBLE), 6)
                    AS hhi,
                  round(CAST(sd * sd AS DOUBLE) / sd2, 6)
                    AS effective_categories
           FROM hha WHERE sd > 0 ORDER BY restaurant_id"""),
      "q177_gini" -> OracleSql.withBase(
        """gcu AS (SELECT restaurant_id, user_id,
                          CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                            AS cents
                   FROM order_revenue GROUP BY 1, 2),
           gcr AS (SELECT restaurant_id, user_id, cents,
                          row_number() OVER (PARTITION BY restaurant_id
                            ORDER BY cents, user_id) AS i
                   FROM gcu),
           gca AS (SELECT restaurant_id, count(*) AS n_users,
                          CAST(sum(cents) AS BIGINT) AS sx,
                          CAST(sum(i * cents) AS BIGINT) AS sw
                   FROM gcr GROUP BY 1)""",
        """SELECT restaurant_id, n_users,
                  round(sx / 10000.0, 6) AS revenue,
                  round((2.0 * sw) / (CAST(n_users AS DOUBLE) * sx)
                        - (n_users + 1.0) / n_users, 6) AS gini
           FROM gca WHERE sx > 0 ORDER BY restaurant_id""",
      ),
      "q180_fk_audit" -> fkAuditSql,
      "q186_bigram_lm" -> ExtOracleSql.bigramLmScore,
      "q188_pca_loadings" -> ExtOracleSql.pcaLoadings(dim = 64, iterations = 12),
      "q192_ivfpq_topk" ->
        ExtOracleSql.ivfPqTopK(queryModEvery = 50, k = 5, blocks = 4,
          seedEvery = 100, centroidEvery = 100, nProbe = 2),
      "q195_dup_rate" -> ExtOracleSql.dupRateBySource(minJaccard = 0.7),
      "q204_cluster_sizes" ->
        ExtOracleSql.clusterSizeHistogram(minJaccard = 0.5),
      "q222_pq_error_by_label" ->
        s"""WITH ${graft.oracle.ExtOracleSql.pqChainCtes(blocks = 4, seedEvery = 100)},
            pel AS (
              SELECT e.label, a.vec_id, a.dist
              FROM pqa2 a JOIN embeddings e USING (vec_id)),
            pea AS (
              SELECT label, count(DISTINCT vec_id) AS n_vecs,
                     count(*) AS n_assignments,
                     CAST(sum(CAST(round(dist * 1e6) AS BIGINT)) AS BIGINT)
                       AS su
              FROM pel GROUP BY 1)
            SELECT label, n_vecs,
                   round(su / 1e6 / n_assignments, 6) AS mean_block_dist
            FROM pea ORDER BY label""",
      "q223_hour_of_week" -> OracleSql.withBase(
        """hwg AS (
             SELECT CAST(isodow(creation_date) - 1 AS BIGINT) AS iso_weekday,
                    CAST(hour(creation_ts) AS BIGINT) AS hr,
                    count(*) AS n_lines,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           hwt AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM hwg)""",
        """SELECT iso_weekday, hr, n_lines,
                  round(cents / 10000.0, 6) AS revenue,
                  round(CAST(cents AS DOUBLE) / hwt.tot, 6) AS week_share
           FROM hwg CROSS JOIN hwt ORDER BY iso_weekday, hr""",
      ),
      "q221_budget_realization" ->
        s"""WITH brtk AS (
              SELECT doc_id, source,
                     CAST(len(${graft.functions.Portable.tokensSql("text")})
                       AS BIGINT) AS tk
              FROM documents),
            brs AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
                    FROM brtk GROUP BY 1),
            brt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS w_total FROM brs),
            brsh AS (
              SELECT source, n_tokens,
                     (1000000 * n_tokens) // w_total AS share,
                     (1000000 * n_tokens) % w_total AS rem
              FROM brs CROSS JOIN brt),
            brrk AS (
              SELECT source, CAST(share AS BIGINT) AS share,
                     1000000 - CAST(sum(share) OVER () AS BIGINT) AS r_extra,
                     row_number() OVER (ORDER BY rem DESC, source) AS rnk
              FROM brsh),
            brpl AS (
              SELECT source,
                     CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                          AS BIGINT) AS alloc_tokens
              FROM brrk),
            brcum AS (
              SELECT doc_id, source, tk,
                     CAST(sum(tk) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM brtk),
            brsel AS (
              SELECT c.source, count(*) AS n_docs_selected,
                     CAST(max(c.cum) AS BIGINT) AS tokens_used
              FROM brcum c JOIN brpl p USING (source)
              WHERE c.cum <= p.alloc_tokens GROUP BY 1)
            SELECT p.source, p.alloc_tokens,
                   COALESCE(s.n_docs_selected, 0) AS n_docs_selected,
                   COALESCE(s.tokens_used, 0) AS tokens_used,
                   round(CAST(COALESCE(s.tokens_used, 0) AS DOUBLE)
                         / p.alloc_tokens, 6) AS utilization
            FROM brpl p LEFT JOIN brsel s USING (source)
            ORDER BY source""",
      "q220_drop_reasons" -> ExtOracleSql.dropReasonManifest(
        minQuality = 0.3, lang = "en", minJaccard = 0.5),
      "q218_peak_hours" -> OracleSql.withBase(
        """phd AS (
             SELECT restaurant_id, CAST(hour(creation_ts) AS BIGINT) AS hr,
                    CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                         // 10000 AS BIGINT) AS d
             FROM order_revenue GROUP BY 1, 2),
           phm AS (
             SELECT restaurant_id, hr AS peak_hour FROM (
               SELECT restaurant_id, hr,
                      row_number() OVER (PARTITION BY restaurant_id
                        ORDER BY d DESC, hr) AS rn
               FROM phd)
             WHERE rn = 1),
           pha AS (
             SELECT restaurant_id, count(*) AS n_active_hours,
                    max(d) AS peak_dollars,
                    CAST(sum(d) AS BIGINT) AS sd,
                    CAST(sum(d * d) AS BIGINT) AS sd2
             FROM phd GROUP BY 1)""",
        """SELECT a.restaurant_id, a.n_active_hours, m.peak_hour,
                  round(CAST(a.peak_dollars AS DOUBLE) / a.sd, 6)
                    AS peak_share,
                  round(CAST(a.sd2 AS DOUBLE) / CAST(a.sd * a.sd AS DOUBLE), 6)
                    AS hour_hhi
           FROM pha a JOIN phm m USING (restaurant_id)
           WHERE a.sd > 0 ORDER BY restaurant_id""",
      ),
      "q219_multi_homing" -> OracleSql.withBase(
        """mhu AS (
             SELECT user_id,
                    count(DISTINCT restaurant_id) AS n_rest,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1),
           mht AS (SELECT count(*) AS n_total FROM mhu),
           mhd AS (
             SELECT least(n_rest, 8) AS n_restaurants,
                    count(*) AS n_users,
                    CAST(sum(cents) AS BIGINT) AS scents
             FROM mhu GROUP BY 1)""",
        """SELECT n_restaurants, n_users,
                  round(CAST(n_users AS DOUBLE) / mht.n_total, 6)
                    AS user_share,
                  round(scents / 10000.0 / n_users, 6) AS avg_user_revenue
           FROM mhd CROSS JOIN mht ORDER BY n_restaurants""",
      ),
      "q215_pq_code_dedup" ->
        ExtOracleSql.pqCodeDedup(maxDist = 2.0, blocks = 4, seedEvery = 100),
      "q216_collocations" ->
        s"""WITH clt AS (
              SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS t
              FROM documents),
            clb AS (
              SELECT t[i] AS w1, t[i + 1] AS w2
              FROM (SELECT t, unnest(range(1, len(t))) AS i FROM clt)),
            clm AS (SELECT w1, w2, count(*) AS c12 FROM clb GROUP BY 1, 2),
            clbt AS (SELECT CAST(sum(c12) AS BIGINT) AS b FROM clm),
            clug AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(t) AS w FROM clt) GROUP BY 1),
            clnt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM clug),
            clp AS (
              SELECT m.w1, m.w2, m.c12,
                     ln(CAST(m.c12 AS DOUBLE) / clbt.b)
                       - ln(CAST(u1.c AS DOUBLE) / clnt.n)
                       - ln(CAST(u2.c AS DOUBLE) / clnt.n) AS pmi_raw
              FROM clm m
              JOIN clug u1 ON m.w1 = u1.w
              JOIN clug u2 ON m.w2 = u2.w
              CROSS JOIN clbt CROSS JOIN clnt
              WHERE m.c12 >= 5),
            clr AS (
              SELECT *, row_number() OVER (ORDER BY pmi_raw DESC, w1, w2)
                AS rank
              FROM clp)
            SELECT rank, w1, w2, c12, round(pmi_raw, 6) AS pmi
            FROM clr WHERE rank <= 50 ORDER BY rank""",
      "q217_source_dispersion" ->
        """WITH sdq AS (
             SELECT d.source,
                    list_transform(CAST(e.embedding AS DOUBLE[]),
                      x -> CAST(round(x * 1000) AS BIGINT)) AS qv
             FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
           sde AS (
             SELECT source,
                    unnest(generate_series(1, len(qv))) - 1 AS pos,
                    unnest(qv) AS x
             FROM sdq),
           sdm AS (
             SELECT source, pos, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS s,
                    CAST(sum(x * x) AS BIGINT) AS q2
             FROM sde GROUP BY 1, 2),
           sdv AS (
             SELECT source, n,
                    CAST(round((CAST(q2 AS DOUBLE) / n
                                - (CAST(s AS DOUBLE) / n)
                                  * (CAST(s AS DOUBLE) / n)) * 1000.0)
                      AS BIGINT) AS vu
             FROM sdm),
           sda AS (
             SELECT source, max(n) AS n_vecs, CAST(sum(vu) AS BIGINT) AS vu
             FROM sdv GROUP BY 1)
           SELECT source, n_vecs,
                  round(vu / 1000.0 / 1000000.0, 6) AS dispersion,
                  round(vu / 1000.0 / 1000000.0 * 2.0, 6) AS mean_pairwise_sq
           FROM sda ORDER BY source""",
      "q214_sql_native_fns" ->
        s"""WITH nft AS (
              SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS t
              FROM documents)
            SELECT d.doc_id,
                   CAST(len(${graft.functions.Portable.shinglesSql("t")})
                     AS BIGINT) AS n_shingles,
                   CAST(len(${graft.functions.Portable
                     .charShinglesSql("lower(d.text)", 5)})
                     AS BIGINT) AS n_chargrams,
                   round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])), 6)
                     AS norm_sq
            FROM documents d
            JOIN nft USING (doc_id)
            JOIN embeddings e ON d.doc_id = e.vec_id
            ORDER BY d.doc_id""",
      "q212_segment_crosstab" -> OracleSql.withBase(
        """xrf AS (
             SELECT user_id,
                    count(DISTINCT order_id) AS frequency,
                    sum(round(total_revenue * 10000)) / 10000.0 AS monetary,
                    max(creation_date) AS last_purchase_date
             FROM order_revenue GROUP BY 1),
           xsg AS (
             SELECT user_id,
                    CASE WHEN date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) <= 15
                              AND frequency >= 5 AND monetary >= 100
                         THEN 'VIP'
                         WHEN frequency <= 1
                              AND date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) <= 15
                         THEN 'New'
                         WHEN date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) > 45
                              AND frequency <= 2
                         THEN 'Churn Risk'
                         ELSE 'Standard' END AS segment
             FROM xrf),
           xjn AS (
             SELECT s.segment AS r, c.c_mktsegment AS c
             FROM xsg s JOIN customer c ON s.user_id = c.c_custkey),
           xcl AS (SELECT r, c, count(*) AS n FROM xjn GROUP BY 1, 2),
           xrt AS (SELECT r, CAST(sum(n) AS BIGINT) AS rt FROM xcl GROUP BY 1),
           xct AS (SELECT c, CAST(sum(n) AS BIGINT) AS ct FROM xcl GROUP BY 1),
           xtt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM xcl),
           xgr AS (
             SELECT xrt.r, xct.c, xrt.rt, xct.ct,
                    COALESCE(xcl.n, 0) AS n
             FROM xrt CROSS JOIN xct
             LEFT JOIN xcl ON xcl.r = xrt.r AND xcl.c = xct.c),
           xex AS (
             SELECT r, c, n,
                    CAST(rt AS DOUBLE) * ct / xtt.tot AS e
             FROM xgr CROSS JOIN xtt)""",
        """SELECT r AS segment, c AS mktsegment, n,
                  round(e, 6) AS expected,
                  round((n - e) * (n - e) / e, 6) AS chi2_cell
           FROM xex ORDER BY segment, mktsegment""",
      ),
      "q213_fisher_ratio" ->
        """WITH fsq AS (
             SELECT label,
                    list_transform(CAST(embedding AS DOUBLE[]),
                      x -> CAST(round(x * 1000) AS BIGINT)) AS qv
             FROM embeddings),
           fse AS (
             SELECT label,
                    unnest(generate_series(1, len(qv))) - 1 AS pos,
                    unnest(qv) AS x
             FROM fsq),
           fsl AS (
             SELECT label, pos, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS s,
                    CAST(sum(x * x) AS BIGINT) AS q2
             FROM fse GROUP BY 1, 2),
           fsm AS (
             SELECT pos, CAST(sum(n) AS BIGINT) AS nn,
                    CAST(sum(s) AS BIGINT) AS ss
             FROM fsl GROUP BY 1),
           fst AS (
             SELECT l.pos,
                    CAST(round(l.n * ((CAST(l.s AS DOUBLE) / l.n
                                       - CAST(m.ss AS DOUBLE) / m.nn)
                                      * (CAST(l.s AS DOUBLE) / l.n
                                         - CAST(m.ss AS DOUBLE) / m.nn))
                               * 1000.0) AS BIGINT) AS bt,
                    CAST(round((l.q2 - CAST(l.s AS DOUBLE) * l.s / l.n)
                               * 1000.0) AS BIGINT) AS wt
             FROM fsl l JOIN fsm m USING (pos)),
           fsa AS (
             SELECT pos, count(*) AS n_classes,
                    CAST(sum(bt) AS BIGINT) AS bu,
                    CAST(sum(wt) AS BIGINT) AS wu
             FROM fst GROUP BY 1)
           SELECT CAST(pos AS BIGINT) AS dim_idx, n_classes,
                  CASE WHEN wu > 0
                       THEN round(CAST(bu AS DOUBLE) / wu, 6) END
                    AS fisher_ratio
           FROM fsa ORDER BY dim_idx""",
      "q209_discount_bands" ->
        """WITH dbl AS (
             SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
                    count(*) AS n_lines,
                    CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT))
                      AS BIGINT) AS gross,
                    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                        * 10000) AS BIGINT)) AS BIGINT) AS net,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             FROM lineitem GROUP BY 1)
           SELECT discount_pct, n_lines,
                  round(gross / 10000.0, 6) AS gross_revenue,
                  round(net / 10000.0, 6) AS net_revenue,
                  round((gross - net) / 10000.0, 6) AS margin_give_up,
                  round(CAST(qty AS DOUBLE) / n_lines, 6) AS avg_quantity
           FROM dbl ORDER BY discount_pct""",
      "q210_return_rates" ->
        """WITH rrl AS (
             SELECT p.p_type AS item_category,
                    count(*) AS n_lines,
                    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_returned,
                    CAST(sum(CASE WHEN l.l_returnflag = 'R'
                             THEN CAST(round(l.l_extendedprice
                                             * (1 - l.l_discount) * 10000)
                                  AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS ret_cents
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             GROUP BY 1)
           SELECT item_category, n_lines, n_returned,
                  round(CAST(n_returned AS DOUBLE) / n_lines, 6)
                    AS return_share,
                  round(ret_cents / 10000.0, 6) AS returned_revenue
           FROM rrl ORDER BY item_category""",
      "q211_dead_stock" ->
        """WITH dso AS (SELECT DISTINCT l_partkey FROM lineitem),
           dsb AS (
             SELECT p.p_brand,
                    count(*) AS n_parts,
                    CAST(sum(CASE WHEN o.l_partkey IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_dead
             FROM part p LEFT JOIN dso o ON p.p_partkey = o.l_partkey
             GROUP BY 1)
           SELECT p_brand, n_parts, n_dead,
                  round(CAST(n_dead AS DOUBLE) / n_parts, 6) AS dead_share
           FROM dsb ORDER BY p_brand""",
      "q206_session_conversion" ->
        """WITH sce AS (
             SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
             FROM events),
           scl AS (
             SELECT user_id, event_id, event_type, tsu,
                    CASE WHEN lag(tsu) OVER w IS NULL
                           OR tsu - lag(tsu) OVER w >= 1800000000
                         THEN 1 ELSE 0 END AS is_new
             FROM sce
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
           sci AS (
             SELECT user_id, event_type,
                    CAST(sum(is_new) OVER (PARTITION BY user_id
                      ORDER BY tsu, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sid
             FROM scl),
           scg AS (
             SELECT user_id, sid, count(*) AS n_events,
                    CAST(sum(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_purch
             FROM sci GROUP BY 1, 2),
           scd AS (
             SELECT least(n_events, 10) AS depth, count(*) AS n_sessions,
                    CAST(sum(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_converting
             FROM scg GROUP BY 1)
           SELECT depth, n_sessions, n_converting,
                  round(CAST(n_converting AS DOUBLE) / n_sessions, 6)
                    AS conversion_rate
           FROM scd ORDER BY depth""",
      "q207_concentration_trend" -> OracleSql.withBase(
        """mch AS (
             SELECT CAST(date_trunc('month', creation_date) AS DATE) AS month,
                    item_category,
                    CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                         // 10000 AS BIGINT) AS d
             FROM order_revenue GROUP BY 1, 2),
           mca AS (
             SELECT month, count(*) AS n_categories,
                    CAST(sum(d) AS BIGINT) AS sd,
                    CAST(sum(d * d) AS BIGINT) AS sd2
             FROM mch GROUP BY 1),
           mcb AS (
             SELECT month, n_categories,
                    round(CAST(sd2 AS DOUBLE) / CAST(sd * sd AS DOUBLE), 6)
                      AS hhi
             FROM mca WHERE sd > 0)""",
        """SELECT month, n_categories, hhi,
                  round(hhi - lag(hhi) OVER (ORDER BY month), 6) AS hhi_delta
           FROM mcb ORDER BY month""",
      ),
      "q208_basket_economics" -> OracleSql.withBase(
        """bso AS (
             SELECT order_id, count(*) AS n_lines,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1),
           bst AS (SELECT count(*) AS n_total FROM bso),
           bsd AS (
             SELECT least(n_lines, 10) AS basket_size,
                    count(*) AS n_orders,
                    CAST(sum(cents) AS BIGINT) AS scents
             FROM bso GROUP BY 1)""",
        """SELECT basket_size, n_orders,
                  round(CAST(n_orders AS DOUBLE) / bst.n_total, 6)
                    AS order_share,
                  round(scents / 10000.0 / n_orders, 6) AS avg_order_value
           FROM bsd CROSS JOIN bst ORDER BY basket_size""",
      ),
      "q205_lifecycle" -> OracleSql.withBase(
        """lcd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           lca AS (
             SELECT restaurant_id,
                    min(creation_date) AS first_day,
                    max(creation_date) AS last_day,
                    count(*) AS active_days,
                    CAST(sum(cents) AS BIGINT) AS cents
             FROM lcd GROUP BY 1)""",
        """SELECT restaurant_id, first_day, last_day,
                  CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT)
                    AS span_days,
                  active_days,
                  round(CAST(active_days AS DOUBLE)
                        / (date_diff('day', first_day, last_day) + 1), 6)
                    AS activity_density,
                  round(cents / 10000.0 / active_days, 6)
                    AS revenue_per_active_day
           FROM lca ORDER BY restaurant_id""",
      ),
      "q203_gain_chart" -> OracleSql.withBase(
        """gnu AS (
             SELECT user_id, count(DISTINCT order_id) AS freq,
                    max(CASE WHEN is_loyalty THEN 1 ELSE 0 END) AS pos
             FROM order_revenue GROUP BY 1),
           gnd AS (
             SELECT ntile(10) OVER (ORDER BY freq DESC, user_id) AS decile,
                    pos
             FROM gnu),
           gng AS (
             SELECT decile, count(*) AS n_users,
                    CAST(sum(pos) AS BIGINT) AS n_pos
             FROM gnd GROUP BY 1),
           gnc AS (
             SELECT decile, n_users, n_pos,
                    CAST(sum(n_users) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
                    CAST(sum(n_pos) OVER (ORDER BY decile
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
             FROM gng),
           gnt AS (SELECT CAST(sum(n_users) AS BIGINT) AS tot_users,
                          CAST(sum(n_pos) AS BIGINT) AS tot_pos
                   FROM gng)""",
        """SELECT decile, n_users, n_pos,
                  round(CAST(n_pos AS DOUBLE) / n_users, 6) AS response_rate,
                  round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_gain,
                  round((CAST(cum_pos AS DOUBLE) / tot_pos)
                        / (CAST(cum_users AS DOUBLE) / tot_users), 6)
                    AS cum_lift
           FROM gnc CROSS JOIN gnt ORDER BY decile""",
      ),
      "q200_weighted_quantiles" ->
        """WITH wqh AS (
             SELECT p.p_type AS item_category,
                    CAST(round((CAST(l.l_extendedprice AS DOUBLE)
                                / CAST(l.l_quantity AS DOUBLE)) * 10000)
                      AS BIGINT) AS v,
                    CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS w
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             GROUP BY 1, 2),
           wqc AS (
             SELECT item_category, v, w,
                    CAST(sum(w) OVER (PARTITION BY item_category ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cumw
             FROM wqh),
           wqt AS (
             SELECT item_category, CAST(sum(w) AS BIGINT) AS tw
             FROM wqh GROUP BY 1)
           SELECT c.item_category,
                  min(CASE WHEN c.cumw >= (50 * t.tw + 99) // 100
                           THEN c.v END) AS wp50,
                  min(CASE WHEN c.cumw >= (90 * t.tw + 99) // 100
                           THEN c.v END) AS wp90,
                  max(t.tw) AS total_weight
           FROM wqc c JOIN wqt t USING (item_category)
           GROUP BY 1 ORDER BY item_category""",
      "q201_new_returning" -> OracleSql.withBase(
        """nru AS (SELECT DISTINCT user_id, creation_date FROM order_revenue),
           nrf AS (SELECT user_id, min(creation_date) AS first_date
                   FROM nru GROUP BY 1),
           nrd AS (
             SELECT u.creation_date,
                    count(*) AS active_users,
                    CAST(sum(CASE WHEN u.creation_date = f.first_date
                                  THEN 1 ELSE 0 END) AS BIGINT) AS new_users
             FROM nru u JOIN nrf f USING (user_id)
             GROUP BY 1)""",
        """SELECT creation_date, active_users, new_users,
                  active_users - new_users AS returning_users,
                  round(CAST(new_users AS DOUBLE) / active_users, 6)
                    AS new_share
           FROM nrd ORDER BY creation_date""",
      ),
      "q202_regional_league" -> OracleSql.withBase(
        """rgd AS (
             SELECT s.s_suppkey AS restaurant_id, n.n_name AS nation,
                    r.r_name AS region
             FROM supplier s
             JOIN nation n ON s.s_nationkey = n.n_nationkey
             JOIN region r ON n.n_regionkey = r.r_regionkey),
           rga AS (
             SELECT d.region, d.nation,
                    CAST(sum(round(o.total_revenue * 10000)) AS BIGINT)
                      AS cents,
                    count(DISTINCT o.order_id) AS n_orders
             FROM order_revenue o JOIN rgd d USING (restaurant_id)
             GROUP BY 1, 2),
           rgr AS (
             SELECT region, nation, n_orders, cents,
                    row_number() OVER (PARTITION BY region
                      ORDER BY cents DESC, nation) AS rank_in_region,
                    CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT)
                      AS region_cents
             FROM rga)""",
        """SELECT region, rank_in_region, nation, n_orders,
                  cents / 10000.0 AS revenue,
                  round(CAST(cents AS DOUBLE) / region_cents, 6)
                    AS region_share
           FROM rgr ORDER BY region, rank_in_region""",
      ),
      "q196_seq_support" ->
        """WITH squ AS (
             SELECT user_id, event_type,
                    CAST(min(epoch_us(ts)) AS BIGINT) AS first_ts,
                    CAST(max(epoch_us(ts)) AS BIGINT) AS last_ts
             FROM events GROUP BY 1, 2),
           sqn AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
           sqp AS (
             SELECT a.event_type AS type_a, b.event_type AS type_b,
                    count(*) AS n_users_both,
                    CAST(sum(CASE WHEN a.first_ts < b.last_ts
                                  THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_users_seq
             FROM squ a JOIN squ b
               ON a.user_id = b.user_id AND a.event_type <> b.event_type
             GROUP BY 1, 2)
           SELECT type_a, type_b, n_users_both, n_users_seq,
                  round(CAST(n_users_seq AS DOUBLE) / n_users_both, 6)
                    AS seq_given_both,
                  round(CAST(n_users_seq AS DOUBLE) / sqn.n_users, 6)
                    AS support
           FROM sqp CROSS JOIN sqn
           ORDER BY type_a, type_b""",
      "q197_rfm_migration" -> OracleSql.withBase(
        """mgp AS (
             SELECT user_id,
                    max(creation_date) AS last_purchase_date,
                    count(DISTINCT order_id) AS frequency,
                    sum(round(total_revenue * 10000)) / 10000.0 AS monetary
             FROM order_revenue
             WHERE creation_date <= (SELECT today - 90 FROM anchor)
             GROUP BY 1),
           mgps AS (
             SELECT user_id,
                    CASE WHEN date_diff('day', last_purchase_date,
                                (SELECT today - 90 FROM anchor)) <= 15
                              AND frequency >= 5 AND monetary >= 100
                         THEN 'VIP'
                         WHEN frequency <= 1
                              AND date_diff('day', last_purchase_date,
                                (SELECT today - 90 FROM anchor)) <= 15
                         THEN 'New'
                         WHEN date_diff('day', last_purchase_date,
                                (SELECT today - 90 FROM anchor)) > 45
                              AND frequency <= 2
                         THEN 'Churn Risk'
                         ELSE 'Standard' END AS segment_from
             FROM mgp),
           mgn AS (
             SELECT user_id,
                    max(creation_date) AS last_purchase_date,
                    count(DISTINCT order_id) AS frequency,
                    sum(round(total_revenue * 10000)) / 10000.0 AS monetary
             FROM order_revenue GROUP BY 1),
           mgns AS (
             SELECT user_id,
                    CASE WHEN date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) <= 15
                              AND frequency >= 5 AND monetary >= 100
                         THEN 'VIP'
                         WHEN frequency <= 1
                              AND date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) <= 15
                         THEN 'New'
                         WHEN date_diff('day', last_purchase_date,
                                (SELECT today FROM anchor)) > 45
                              AND frequency <= 2
                         THEN 'Churn Risk'
                         ELSE 'Standard' END AS segment_to
             FROM mgn),
           mgm AS (
             SELECT COALESCE(p.segment_from, 'None') AS segment_from,
                    n.segment_to, count(*) AS n_users
             FROM mgns n LEFT JOIN mgps p USING (user_id)
             GROUP BY 1, 2)""",
        """SELECT segment_from, segment_to, n_users,
                  round(CAST(n_users AS DOUBLE)
                        / sum(n_users) OVER (PARTITION BY segment_from), 6)
                    AS row_share
           FROM mgm ORDER BY segment_from, segment_to""",
      ),
      "q194_zipf_fit" ->
        s"""WITH zft AS (
              SELECT source,
                     unnest(${graft.functions.Portable.tokensSql("text")}) AS w
              FROM documents),
            zff AS (SELECT source, w, count(*) AS freq FROM zft GROUP BY 1, 2),
            zfr AS (
              SELECT source,
                     CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                     CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y
              FROM (SELECT source, freq,
                           row_number() OVER (PARTITION BY source
                             ORDER BY freq DESC, w) AS rank
                    FROM zff)
              WHERE rank <= 200),
            zfm AS (
              SELECT source, count(*) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM zfr GROUP BY 1),
            zfx AS (
              SELECT source, n,
                     CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
              FROM zfm)
            SELECT source, n AS n_terms,
                   CASE WHEN denx = 0 THEN NULL
                        ELSE num / denx END AS zipf_slope,
                   CASE WHEN denx = 0 OR deny = 0 THEN NULL
                        ELSE (num * num) / (denx * deny) END AS r2
            FROM zfx ORDER BY source""",
      "q193_holt_forecast" -> OracleSql.withBaseRecursive(
        """hld AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
             FROM order_revenue GROUP BY 1, 2),
           hls AS (
             SELECT restaurant_id, creation_date, cents,
                    row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY creation_date) AS rn
             FROM hld),
           hlr AS (
             SELECT restaurant_id, rn, CAST(cents AS DOUBLE) AS l,
                    CAST(0 AS DOUBLE) AS b, CAST(NULL AS DOUBLE) AS f
             FROM hls WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    0.25 * CAST(d.cents AS DOUBLE) + 0.75 * (r.l + r.b),
                    0.125 * ((0.25 * CAST(d.cents AS DOUBLE)
                              + 0.75 * (r.l + r.b)) - r.l)
                      + 0.875 * r.b,
                    r.l + r.b
             FROM hlr r JOIN hls d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
        """SELECT d.restaurant_id, d.creation_date,
                  d.cents / 10000.0 AS daily_revenue,
                  r.l / 10000.0 AS level,
                  r.b / 10000.0 AS trend,
                  r.f / 10000.0 AS forecast_revenue
           FROM hlr r JOIN hls d USING (restaurant_id, rn)
           ORDER BY d.restaurant_id, d.creation_date"""),
      "q191_session_stats" ->
        """WITH sse AS (
             SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
           ssl AS (
             SELECT user_id, event_id, tsu,
                    CASE WHEN lag(tsu) OVER w IS NULL
                           OR tsu - lag(tsu) OVER w >= 1800000000
                         THEN 1 ELSE 0 END AS is_new
             FROM sse
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
           ssi AS (
             SELECT user_id, tsu,
                    CAST(sum(is_new) OVER (PARTITION BY user_id
                      ORDER BY tsu, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS sid
             FROM ssl),
           ssg AS (
             SELECT user_id, sid, count(*) AS n_events,
                    CAST(max(tsu) - min(tsu) AS BIGINT) AS dur_us
             FROM ssi GROUP BY 1, 2),
           sst AS (SELECT count(*) AS n_total FROM ssg),
           ssd AS (
             SELECT least(n_events, 10) AS depth, count(*) AS n_sessions,
                    CAST(sum(dur_us) AS BIGINT) AS sdur
             FROM ssg GROUP BY 1)
           SELECT depth, n_sessions,
                  round(CAST(n_sessions AS DOUBLE) / sst.n_total, 6) AS share,
                  round(sdur / 1e6 / n_sessions, 6) AS mean_duration_sec
           FROM ssd CROSS JOIN sst ORDER BY depth""",
      "q190_price_elasticity" ->
        """WITH pel AS (
             SELECT p.p_type AS item_category,
                    CAST(round(ln(CAST(l.l_extendedprice AS DOUBLE)
                                  / CAST(l.l_quantity AS DOUBLE)) * 1e6)
                      AS BIGINT) AS x,
                    CAST(round(ln(CAST(l.l_quantity AS DOUBLE)) * 1e6)
                      AS BIGINT) AS y
             FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
           pem AS (
             SELECT item_category, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS sx,
                    CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM pel GROUP BY 1),
           pex AS (
             SELECT item_category, n,
                    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
                    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
                    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
             FROM pem)
           SELECT item_category, n AS n_lines,
                  CASE WHEN denx = 0 THEN NULL
                       ELSE num / denx END AS elasticity,
                  CASE WHEN denx = 0 OR deny = 0 THEN NULL
                       ELSE (num * num) / (denx * deny) END AS r2
           FROM pex ORDER BY item_category""",
      "q189_pca_projection" -> ExtOracleSql.pcaProjection(dim = 64, iterations = 12),
      "q187_assoc_rules" ->
        """WITH arb AS (SELECT DISTINCT l_orderkey AS basket_id,
                               l_partkey AS item
                        FROM lineitem),
             arn AS (SELECT count(DISTINCT basket_id) AS n_baskets FROM arb),
             arf AS (SELECT item, count(*) AS n_item FROM arb
                     GROUP BY 1 HAVING count(*) >= 20),
             arp AS (SELECT b.basket_id, b.item FROM arb b
                     SEMI JOIN arf f ON b.item = f.item),
             arc AS (SELECT a.item AS item_a, c.item AS item_b,
                            count(*) AS n_both
                     FROM arp a JOIN arp c
                       ON a.basket_id = c.basket_id AND a.item < c.item
                     GROUP BY 1, 2 HAVING count(*) >= 2),
             ars AS (SELECT item_a AS antecedent, item_b AS consequent,
                            n_both FROM arc
                     UNION ALL
                     SELECT item_b, item_a, n_both FROM arc)
           SELECT s.antecedent, s.consequent, s.n_both,
                  fa.n_item AS n_ant, fc.n_item AS n_cons,
                  round(CAST(s.n_both AS DOUBLE) / fa.n_item, 6)
                    AS confidence,
                  round((CAST(s.n_both AS DOUBLE) * arn.n_baskets)
                        / (fa.n_item * fc.n_item), 6) AS lift,
                  round(CAST(s.n_both AS DOUBLE) / arn.n_baskets
                        - (CAST(fa.n_item AS DOUBLE) / arn.n_baskets)
                          * (CAST(fc.n_item AS DOUBLE) / arn.n_baskets), 6)
                    AS leverage
           FROM ars s
           JOIN arf fa ON s.antecedent = fa.item
           JOIN arf fc ON s.consequent = fc.item
           CROSS JOIN arn
           ORDER BY antecedent, consequent""",
      "q185_markov_accuracy" ->
        s"""WITH mks AS (
              SELECT user_id, event_type,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS next
              FROM events),
            mkt AS (
              SELECT event_type, next,
                     ${graft.ext.Sampling.hashBucketSql("user_id", "split")}
                       < 80 AS is_train
              FROM mks WHERE next IS NOT NULL),
            mkc AS (
              SELECT event_type, next, count(*) AS c
              FROM mkt WHERE is_train GROUP BY 1, 2),
            mkp AS (
              SELECT event_type, next AS predicted FROM (
                SELECT event_type, next,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY c DESC, next) AS rn
                FROM mkc)
              WHERE rn = 1)
            SELECT t.event_type AS prev_type, p.predicted,
                   count(*) AS n_test,
                   CAST(sum(CASE WHEN t.next = p.predicted THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_correct,
                   round(CAST(sum(CASE WHEN t.next = p.predicted
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS accuracy
            FROM mkt t JOIN mkp p USING (event_type)
            WHERE NOT t.is_train
            GROUP BY 1, 2 ORDER BY prev_type""",
      "q184_linear_attribution" ->
        """WITH lae AS (
             SELECT user_id, event_type, value, epoch_us(ts) AS tsu
             FROM events),
           lac AS (
             SELECT user_id, event_type, value, tsu,
                    CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      OVER w, 0) AS BIGINT) AS k_0,
                    CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                      OVER w, 0) AS BIGINT) AS k_1,
                    CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                      OVER w, 0) AS BIGINT) AS k_2
             FROM lae
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu
               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
           lap AS (
             SELECT CAST(round(value * 10000) AS BIGINT) AS cents,
                    k_0, k_1, k_2, k_0 + k_1 + k_2 AS n
             FROM lac WHERE event_type = 'purchase'),
           laa AS (
             SELECT 'click' AS touch_type, cents, k_0 AS k, n
             FROM lap WHERE k_0 > 0
             UNION ALL
             SELECT 'signup', cents, k_1, n FROM lap WHERE k_1 > 0
             UNION ALL
             SELECT 'view', cents, k_2, n FROM lap WHERE k_2 > 0
             UNION ALL
             SELECT 'direct', cents, 1, 1 FROM lap WHERE n = 0),
           lau AS (
             SELECT touch_type,
                    (CAST(cents AS HUGEINT) * 1000 * k) // n AS units
             FROM laa)
           SELECT touch_type, count(*) AS n_purchases,
                  round(sum(CAST(units AS HUGEINT)) / 1e7, 6)
                    AS attributed_revenue
           FROM lau GROUP BY 1 ORDER BY touch_type""",
      "q183_mase_backtest" -> OracleSql.withBase(
        """snd AS (SELECT restaurant_id, creation_date,
                          CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                            AS cents
                   FROM order_revenue GROUP BY 1, 2),
           snb AS (SELECT restaurant_id, min(creation_date) AS d0,
                          max(creation_date) AS d1
                   FROM snd GROUP BY 1),
           snsp AS (SELECT restaurant_id, d1,
                           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                             AS DATE) AS creation_date
                    FROM snb),
           snl AS (SELECT s.restaurant_id, s.creation_date, s.d1,
                          COALESCE(d.cents, 0) AS y,
                          lag(COALESCE(d.cents, 0), 7) OVER (
                            PARTITION BY s.restaurant_id
                            ORDER BY s.creation_date) AS yhat
                   FROM snsp s LEFT JOIN snd d
                     USING (restaurant_id, creation_date)),
           sna AS (SELECT restaurant_id,
                          datediff('day', creation_date, d1) < 28 AS is_test,
                          abs(y - yhat) AS ae
                   FROM snl WHERE yhat IS NOT NULL),
           sng AS (SELECT restaurant_id,
                          CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_test,
                          CAST(sum(CASE WHEN is_test THEN ae ELSE 0 END)
                            AS BIGINT) AS sae_test,
                          CAST(sum(CASE WHEN is_test THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_train,
                          CAST(sum(CASE WHEN is_test THEN 0 ELSE ae END)
                            AS BIGINT) AS sae_train
                   FROM sna GROUP BY 1)""",
        """SELECT restaurant_id, n_test, n_train,
                  round(sae_test / 10000.0 / n_test, 6) AS mae_test,
                  round(sae_train / 10000.0 / n_train, 6) AS mae_train,
                  CASE WHEN sae_train > 0 THEN
                    round((CAST(sae_test AS DOUBLE) / n_test)
                          / (CAST(sae_train AS DOUBLE) / n_train), 6)
                  END AS mase
           FROM sng WHERE n_test > 0 AND n_train > 0
           ORDER BY restaurant_id""",
      ),
      "q182_keyness" ->
        s"""WITH kyt AS (
              SELECT lang AS label,
                     unnest(${graft.functions.Portable.tokensSql("text")}) AS w
              FROM documents),
            kylw AS (SELECT label, w, count(*) AS a FROM kyt GROUP BY 1, 2),
            kyw AS (SELECT w, count(*) AS n_w FROM kyt GROUP BY 1),
            kyl AS (SELECT label, count(*) AS n_l FROM kyt GROUP BY 1),
            kyn AS (SELECT count(*) AS n FROM kyt),
            kyj AS (
              SELECT lw.label, lw.w, lw.a,
                     ww.n_w, ll.n_l, kyn.n,
                     ww.n_w - lw.a AS b,
                     ll.n_l - lw.a AS c,
                     kyn.n - ll.n_l - (ww.n_w - lw.a) AS d
              FROM kylw lw
              JOIN kyw ww USING (w)
              JOIN kyl ll USING (label)
              CROSS JOIN kyn),
            kyx AS (
              SELECT label, w, a, n_w, n_l, n, b, c, d,
                     CAST(a * d - b * c AS DOUBLE) AS det
              FROM kyj),
            kyc AS (
              SELECT label, w, a, n_w, n_l,
                     CAST(n AS DOUBLE) * det * det
                       / (CAST(n_w AS DOUBLE) * (c + d) * n_l * (b + d))
                       AS chi2_raw,
                     a * n > n_w * n_l AS enriched
              FROM kyx),
            kyr AS (
              SELECT *, row_number() OVER (PARTITION BY label
                ORDER BY chi2_raw DESC, w) AS rank
              FROM kyc)
            SELECT label, rank, w AS token, a AS n_token_label, n_w, n_l,
                   round(chi2_raw, 6) AS chi2, enriched
            FROM kyr WHERE rank <= 10 ORDER BY label, rank""",
      "q181_burstiness" ->
        """WITH bge AS (
             SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec
             FROM events),
           bga AS (
             SELECT user_id,
                    sec - lag(sec) OVER (PARTITION BY user_id
                      ORDER BY sec, event_id) AS g
             FROM bge),
           bgg AS (
             SELECT user_id, count(*) AS n_gaps,
                    CAST(sum(g) AS BIGINT) AS sg,
                    CAST(sum(g * g) AS BIGINT) AS sg2
             FROM bga WHERE g IS NOT NULL GROUP BY 1
             HAVING count(*) >= 2 AND sum(g) > 0),
           bgc AS (
             SELECT user_id, n_gaps, sg,
                    sqrt(greatest(n_gaps * CAST(sg2 AS DOUBLE)
                           - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE),
                         0.0)) / sg AS cv
             FROM bgg)
           SELECT user_id, n_gaps,
                  round(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap_sec,
                  round(cv, 6) AS cv,
                  round((cv - 1.0) / (cv + 1.0), 6) AS burstiness
           FROM bgc ORDER BY user_id""",
      "q179_cohort_ltv" -> OracleSql.withBase(
        """chm AS (SELECT user_id,
                          CAST(date_trunc('month', creation_date) AS DATE)
                            AS om,
                          CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                            AS cents
                   FROM order_revenue GROUP BY 1, 2),
           chu AS (SELECT user_id, min(om) AS cohort_month
                   FROM chm GROUP BY 1),
           chs AS (SELECT cohort_month, count(*) AS cohort_size
                   FROM chu GROUP BY 1),
           cha AS (SELECT c.cohort_month,
                          (year(m.om) * 12 + month(m.om))
                            - (year(c.cohort_month) * 12
                               + month(c.cohort_month)) AS age_months,
                          count(DISTINCT m.user_id) AS active_users,
                          CAST(sum(m.cents) AS BIGINT) AS cents
                   FROM chm m JOIN chu c USING (user_id)
                   GROUP BY 1, 2),
           chc AS (SELECT *,
                          CAST(sum(cents) OVER (PARTITION BY cohort_month
                            ORDER BY age_months
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS cum_cents
                   FROM cha)""",
        """SELECT c.cohort_month, c.age_months, s.cohort_size,
                  c.active_users,
                  round(c.cents / 10000.0, 6) AS revenue,
                  round(c.cum_cents / 10000.0 / s.cohort_size, 6)
                    AS ltv_per_user,
                  round(CAST(c.active_users AS DOUBLE) / s.cohort_size, 6)
                    AS retention
           FROM chc c JOIN chs s USING (cohort_month)
           ORDER BY cohort_month, age_months""",
      ),
      "q178_item_cf" ->
        """WITH cfb AS (SELECT DISTINCT l_orderkey AS basket_id,
                               l_partkey AS item
                        FROM lineitem),
             cfc AS (SELECT item, count(*) AS n_item FROM cfb GROUP BY 1),
             cfh AS (SELECT a.item AS item_a, b.item AS item_b,
                            count(*) AS cooc
                     FROM cfb a JOIN cfb b
                       ON a.basket_id = b.basket_id AND a.item < b.item
                     GROUP BY 1, 2 HAVING count(*) >= 2),
             cfs AS (SELECT item_a, item_b, cooc FROM cfh
                     UNION ALL
                     SELECT item_b, item_a, cooc FROM cfh),
             cfj AS (SELECT s.item_a, s.item_b, s.cooc,
                            ca.n_item AS n_a, cb.n_item AS n_b,
                            s.cooc / sqrt(CAST(ca.n_item * cb.n_item AS DOUBLE))
                              AS cosine_raw
                     FROM cfs s
                     JOIN cfc ca ON s.item_a = ca.item
                     JOIN cfc cb ON s.item_b = cb.item),
             cfr AS (SELECT *, row_number() OVER (PARTITION BY item_a
                       ORDER BY cosine_raw DESC, item_b) AS rank
                     FROM cfj)
           SELECT item_a, rank, item_b, cooc, n_a, n_b,
                  round(cosine_raw, 6) AS cosine
           FROM cfr WHERE rank <= 5 ORDER BY item_a, rank""",
      "q172_temperature_mix" ->
        s"""WITH tmk AS (
             SELECT source,
                    CAST(sum(len(${graft.functions.Portable.tokensSql("text")}))
                         AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
           tmw AS (SELECT source, n_tokens,
                          CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                            AS w
                   FROM tmk),
           tmt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM tmw),
           tms AS (
             SELECT source, n_tokens, w,
                    (1000000 * w) // w_total AS share,
                    (1000000 * w) % w_total AS rem
             FROM tmw CROSS JOIN tmt),
           tmr AS (
             SELECT source, n_tokens, w, CAST(share AS BIGINT) AS share,
                    1000000 - CAST(sum(share) OVER () AS BIGINT) AS r_extra,
                    row_number() OVER (ORDER BY rem DESC, source) AS rnk
             FROM tms)
           SELECT source, n_tokens, w AS weight,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS BIGINT) AS alloc_tokens,
                  CAST(share + CASE WHEN rnk <= r_extra THEN 1 ELSE 0 END
                       AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs
           FROM tmr ORDER BY source""",
      "q174_nb_confusion" ->
        s"""WITH nbt AS (
              SELECT doc_id, lang AS label,
                     unnest(${graft.functions.Portable.tokensSql("text")}) AS w
              FROM documents),
            nbtf AS (SELECT doc_id, w, count(*) AS tf FROM nbt GROUP BY 1, 2),
            nbcw AS (SELECT label, w, count(*) AS cwc FROM nbt GROUP BY 1, 2),
            nbct AS (SELECT label, count(*) AS ctok FROM nbt GROUP BY 1),
            nbv AS (SELECT DISTINCT w FROM nbt),
            nbvs AS (SELECT count(*) AS v FROM nbv),
            nbn AS (SELECT count(*) AS ndocs FROM documents),
            nbpr AS (
              SELECT lang AS label,
                     CAST(round(ln(CAST(count(*) AS DOUBLE) / nbn.ndocs)
                       * 1e9) AS BIGINT) AS prior_units
              FROM documents CROSS JOIN nbn GROUP BY lang, nbn.ndocs),
            nbm AS (
              SELECT nbv.w, ct.label,
                     CAST(round(ln(
                       CAST(coalesce(cw.cwc, 0) + 1 AS DOUBLE)
                         / (ct.ctok + vs.v)) * 1e9) AS BIGINT) AS ll_units
              FROM nbv CROSS JOIN nbct ct CROSS JOIN nbvs vs
              LEFT JOIN nbcw cw ON cw.label = ct.label AND cw.w = nbv.w),
            nbsc AS (
              SELECT tf.doc_id, m.label,
                     CAST(sum(tf.tf * m.ll_units) AS BIGINT) AS tu
              FROM nbtf tf JOIN nbm m ON tf.w = m.w
              GROUP BY 1, 2),
            nbp AS (
              SELECT doc_id, label AS predicted FROM (
                SELECT s.doc_id, s.label,
                       row_number() OVER (PARTITION BY s.doc_id
                         ORDER BY CAST(s.tu + p.prior_units AS DOUBLE) DESC,
                                  s.label) AS rn
                FROM nbsc s JOIN nbpr p USING (label))
              WHERE rn = 1)
           SELECT d.lang AS true_label, p.predicted, count(*) AS n_docs
           FROM documents d JOIN nbp p USING (doc_id)
           GROUP BY 1, 2 ORDER BY true_label, predicted""",
      "q133_quantile_normalize" ->
        """WITH qv AS (SELECT doc_id AS id, source AS g, n_chars AS val
                       FROM documents),
             qr AS (SELECT *,
                           row_number() OVER (PARTITION BY g
                             ORDER BY val, id) AS rn,
                           count(*) OVER (PARTITION BY g) AS cnt
                    FROM qv),
             qn AS (SELECT count(*) AS n_total FROM qv),
             qd AS (SELECT val, count(*) AS c FROM qv GROUP BY 1),
             qc AS (SELECT val,
                           sum(c) OVER (ORDER BY val) AS cum_hi,
                           sum(c) OVER (ORDER BY val) - c + 1 AS cum_lo
                    FROM qd),
             qt AS (SELECT qr.*, (rn * n_total + cnt - 1) // cnt AS tgt
                    FROM qr CROSS JOIN qn)
           SELECT qt.id AS doc_id, qt.g AS source, qt.val AS n_chars,
                  qc.val AS norm_chars
           FROM qt JOIN qc ON qt.tgt BETWEEN qc.cum_lo AND qc.cum_hi
           ORDER BY doc_id""",
      "q132_rolling_z" -> OracleSql.withBase(
        """rzd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents,
                    CAST(round(sum(round(total_revenue * 10000)) / 10000.0)
                         AS BIGINT) AS dd,
                    datediff('day', DATE '1970-01-01', creation_date) AS dnum
             FROM order_revenue GROUP BY 1, 2),
           rzw AS (
             SELECT restaurant_id, creation_date, cents, dd,
                    count(*) OVER w AS n,
                    sum(dd) OVER w AS sx,
                    sum(dd * dd) OVER w AS sxx
             FROM rzd
             WINDOW w AS (PARTITION BY restaurant_id ORDER BY dnum
                          RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING))""",
        """SELECT restaurant_id, creation_date,
                  cents / 10000.0 AS daily_revenue,
                  COALESCE(n, 0) AS baseline_n,
                  CASE WHEN n >= 5
                        AND (CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx / n) / n > 0
                       THEN round((dd - CAST(sx AS DOUBLE) / n)
                                  / sqrt((CAST(sxx AS DOUBLE)
                                          - CAST(sx AS DOUBLE) * sx / n) / n), 6)
                  END AS rolling_z
           FROM rzw ORDER BY restaurant_id, creation_date"""),
      "q130_attribution" ->
        s"""WITH base AS (
              SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS tsu
              FROM events),
            p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                         tsu FROM base WHERE event_type = 'purchase'),
            t AS (SELECT user_id, event_id, event_type, tsu FROM base
                  WHERE event_type <> 'purchase'),
            j AS (
              SELECT p.user_id, p.purchase_id, p.purchase_ts,
                     t.event_id AS tid, t.event_type AS tty, t.tsu AS ttsu
              FROM p LEFT JOIN t
                ON p.user_id = t.user_id
               AND t.tsu >= p.tsu - ${7 * 86400L * 1000000L}
               AND t.tsu < p.tsu),
            rk AS (
              SELECT *,
                     row_number() OVER (PARTITION BY purchase_id
                       ORDER BY ttsu ASC NULLS LAST, tid ASC) AS rf,
                     row_number() OVER (PARTITION BY purchase_id
                       ORDER BY ttsu DESC NULLS LAST, tid DESC) AS rl
              FROM j),
            f AS (SELECT purchase_id, tid AS first_touch_id,
                         tty AS first_touch_type FROM rk WHERE rf = 1),
            l AS (SELECT purchase_id, tid AS last_touch_id,
                         tty AS last_touch_type FROM rk WHERE rl = 1)
          SELECT DISTINCT p.user_id, p.purchase_id, p.purchase_ts,
                 f.first_touch_id, f.first_touch_type,
                 l.last_touch_id, l.last_touch_type
          FROM p JOIN f USING (purchase_id) JOIN l USING (purchase_id)
          ORDER BY purchase_id""",
    )
  }

  private def oracleSqlBase: Map[String, String] = ListMap(
    "q01_order_revenue" -> OracleSql.withBase(
      """SELECT * FROM order_revenue
         ORDER BY order_id, lineitem_id, item_category, item_price, restaurant_id"""),

    "q02_ltv_daily" -> OracleSql.withBase(
      """SELECT user_id, creation_date, daily_revenue, cumulative_ltv
         FROM ltv_cum ORDER BY user_id, creation_date"""),

    "q03_ltv_latest" -> OracleSql.withBase(
      """SELECT user_id, last_date, lifetime_value
         FROM ltv_latest ORDER BY user_id"""),

    "q04_clv_segments" -> OracleSql.withBase(
      """SELECT user_id, lifetime_value,
                CASE WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.2) FROM ltv_latest) THEN 'Low'
                     WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.8) FROM ltv_latest) THEN 'Medium'
                     ELSE 'High' END AS clv_segment
         FROM ltv_latest ORDER BY user_id"""),

    "q05_rfm" -> OracleSql.withBase(
      """rfm AS (
           SELECT user_id,
                  count(DISTINCT order_id) AS frequency,
                  sum(round(total_revenue * 10000)) / 10000.0 AS monetary,
                  max(creation_date) AS last_purchase_date
           FROM order_revenue GROUP BY 1),
         rfm2 AS (
           SELECT user_id, frequency, monetary, last_purchase_date,
                  date_diff('day', last_purchase_date, (SELECT today FROM anchor)) AS recency
           FROM rfm)""",
      """SELECT user_id, frequency, monetary, last_purchase_date, recency,
                CASE WHEN recency <= 15 AND frequency >= 5 AND monetary >= 100 THEN 'VIP'
                     WHEN frequency <= 1 AND recency <= 15 THEN 'New'
                     WHEN recency > 45 AND frequency <= 2 THEN 'Churn Risk'
                     ELSE 'Standard' END AS segment
         FROM rfm2 ORDER BY user_id"""),

    "q06_churn" -> OracleSql.withBase(
      """churn_base AS (
           SELECT user_id, creation_date,
                  round(total_revenue * 10000) AS cents,
                  date_diff('day',
                    lag(creation_date) OVER (PARTITION BY user_id ORDER BY creation_date),
                    creation_date) AS order_gap,
                  (SELECT today FROM anchor) AS today
           FROM order_revenue),
         churn AS (
           SELECT user_id,
                  max(creation_date) AS last_order_date,
                  date_diff('day', max(creation_date), max(today)) AS days_since_last_order,
                  CAST(sum(order_gap) AS DOUBLE) / count(order_gap) AS avg_order_gap_days,
                  COALESCE(sum(CASE WHEN creation_date > today - 30 THEN cents END), 0) / 10000.0
                    AS spend_last_30,
                  COALESCE(sum(CASE WHEN creation_date > today - 60
                                     AND creation_date <= today - 30 THEN cents END), 0) / 10000.0
                    AS spend_prev_30
           FROM churn_base GROUP BY 1)""",
      """SELECT user_id, last_order_date, days_since_last_order, avg_order_gap_days,
                spend_last_30, spend_prev_30,
                CASE WHEN spend_prev_30 = 0 THEN NULL
                     ELSE (spend_last_30 - spend_prev_30) / spend_prev_30 * 100
                END AS pct_spend_change,
                CASE WHEN days_since_last_order > 45 THEN 'At Risk'
                     WHEN days_since_last_order > 30 THEN 'Monitor'
                     ELSE 'Active' END AS churn_risk_tag
         FROM churn ORDER BY user_id"""),

    "q07_trends_daily" -> OracleSql.withBase(
      """SELECT creation_date, restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS daily_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    "q08_trends_weekly" -> OracleSql.withBase(
      """SELECT concat_ws('-', year(creation_date), weekofyear(creation_date)) AS year_week,
                restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS weekly_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    "q09_trends_monthly" -> OracleSql.withBase(
      """SELECT concat_ws('-', year(creation_date), month(creation_date)) AS year_month,
                restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS monthly_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    "q10_trends_hourly" -> OracleSql.withBase(
      """SELECT hour(creation_ts) AS hour_of_day, restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS hourly_revenue
         FROM order_revenue GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    "q11_loyalty" -> OracleSql.withBase(
      """loy_flags AS (
           SELECT DISTINCT order_id, user_id, is_loyalty FROM items),
         loy_ltv AS (
           SELECT f.user_id, f.is_loyalty,
                  sum(round(r.total_revenue * 10000)) AS ltv_cents
           FROM (SELECT order_id, total_revenue FROM order_revenue) r
           LEFT JOIN loy_flags f USING (order_id)
           GROUP BY 1, 2),
         loy_orders AS (
           SELECT user_id, is_loyalty,
                  count(DISTINCT order_id) AS num_orders,
                  CASE WHEN count(DISTINCT order_id) > 1 THEN 1 ELSE 0 END AS is_repeat
           FROM items GROUP BY 1, 2),
         loy AS (
           SELECT l.is_loyalty,
                  count(DISTINCT l.user_id) AS num_customers,
                  sum(l.ltv_cents) / 10000.0 AS spend_dollars,
                  CAST(sum(o.is_repeat) AS BIGINT) AS num_repeat_customers
           FROM loy_ltv l JOIN loy_orders o USING (user_id, is_loyalty)
           GROUP BY 1)""",
      """SELECT is_loyalty, num_customers,
                spend_dollars / num_customers AS avg_spend_per_customer,
                num_repeat_customers,
                CAST(num_repeat_customers AS DOUBLE) / num_customers AS repeat_order_rate
         FROM loy ORDER BY is_loyalty"""),

    "q12_location" -> OracleSql.withBase(
      """loc_joined AS (
           SELECT i.restaurant_id, i.order_id,
                  CAST(i.creation_ts AS DATE) AS order_date,
                  weekofyear(CAST(i.creation_ts AS DATE)) AS week,
                  round(r.total_revenue * 10000) AS cents
           FROM items i
           JOIN (SELECT order_id, total_revenue FROM order_revenue) r USING (order_id)),
         loc AS (
           SELECT restaurant_id,
                  sum(cents) / 10000.0 AS total_revenue,
                  count(DISTINCT order_id) AS num_orders,
                  count(DISTINCT order_date) AS active_days,
                  count(DISTINCT week) AS active_weeks
           FROM loc_joined GROUP BY 1)""",
      """SELECT restaurant_id, total_revenue, num_orders, active_days, active_weeks,
                total_revenue / num_orders AS avg_order_value,
                CAST(num_orders AS DOUBLE) / active_days AS orders_per_day,
                CAST(num_orders AS DOUBLE) / active_weeks AS orders_per_week,
                dense_rank() OVER (ORDER BY total_revenue DESC) AS revenue_rank
         FROM loc ORDER BY restaurant_id"""),

    "q13_discount" -> OracleSql.withBase(
      """disc_lines AS (
           SELECT i.order_id,
                  CASE WHEN t.option_price < 0 THEN 1 ELSE 0 END AS is_discounted,
                  round(r.total_revenue * 10000) AS cents
           FROM (SELECT order_id, lineitem_id, user_id FROM items) i
           LEFT JOIN (SELECT order_id, lineitem_id, option_price FROM opts) t
             USING (order_id, lineitem_id)
           LEFT JOIN (SELECT order_id, total_revenue FROM order_revenue) r
             USING (order_id)),
         disc_orders AS (
           SELECT order_id,
                  sum(is_discounted) AS discounted_lines,
                  sum(cents) AS order_cents,
                  CASE WHEN sum(is_discounted) > 0 THEN 'Yes' ELSE 'No' END
                    AS is_discounted_order
           FROM disc_lines GROUP BY 1),
         disc AS (
           SELECT is_discounted_order,
                  count(DISTINCT order_id) AS num_orders,
                  sum(order_cents) / 10000.0 AS total_revenue
           FROM disc_orders GROUP BY 1)""",
      """SELECT is_discounted_order, num_orders, total_revenue,
                total_revenue / num_orders AS avg_order_value
         FROM disc ORDER BY is_discounted_order"""),

    "q14_snapshot_diff" ->
      """WITH cdc_base AS (
           SELECT o_orderkey, max(o_custkey) AS custkey,
                  max(o_totalprice) AS totalprice,
                  max(CAST(o_orderdate AS DATE)) AS odate,
                  max(o_orderpriority) AS priority
           FROM orders GROUP BY 1),
         cdc_prev AS (
           SELECT o_orderkey, custkey,
                  CASE WHEN o_orderkey % 7 = 2 THEN totalprice + 100
                       ELSE totalprice END AS totalprice,
                  odate, priority
           FROM cdc_base WHERE o_orderkey % 10 != 3),
         cdc_cur AS (SELECT * FROM cdc_base WHERE o_orderkey % 13 != 5),
         ins AS (SELECT *, 'insert' AS cdc_action
                 FROM (SELECT * FROM cdc_cur EXCEPT SELECT * FROM cdc_prev)),
         upd AS (SELECT c.*, 'update' AS cdc_action
                 FROM cdc_cur c JOIN cdc_prev p USING (o_orderkey)
                 WHERE c.custkey <> p.custkey OR c.totalprice <> p.totalprice
                    OR c.odate <> p.odate OR c.priority <> p.priority),
         del AS (SELECT *, 'delete' AS cdc_action
                 FROM (SELECT * FROM cdc_prev EXCEPT SELECT * FROM cdc_cur))
         SELECT * FROM (SELECT * FROM ins UNION ALL SELECT * FROM upd
                        UNION ALL SELECT * FROM del)
         ORDER BY o_orderkey, cdc_action""",

    // Independent derivation: merge(prev, diff(cur, prev)) must BE cdc_cur,
    // so the oracle just selects the current snapshot — any upsert-semantics
    // bug on the Spark side mismatches.
    "q74_cdc_merge" ->
      """WITH cdc_base AS (
           SELECT o_orderkey, max(o_custkey) AS custkey,
                  max(o_totalprice) AS totalprice,
                  max(CAST(o_orderdate AS DATE)) AS odate,
                  max(o_orderpriority) AS priority
           FROM orders GROUP BY 1),
         cdc_cur AS (SELECT * FROM cdc_base WHERE o_orderkey % 13 != 5)
         SELECT * FROM cdc_cur ORDER BY o_orderkey""",

    "q75_scd2" ->
      """WITH cdc_base AS (
           SELECT o_orderkey, max(o_custkey) AS custkey,
                  max(o_totalprice) AS totalprice,
                  max(CAST(o_orderdate AS DATE)) AS odate,
                  max(o_orderpriority) AS priority
           FROM orders GROUP BY 1),
         cdc_prev AS (
           SELECT o_orderkey, custkey,
                  CASE WHEN o_orderkey % 7 = 2 THEN totalprice + 100
                       ELSE totalprice END AS totalprice,
                  odate, priority
           FROM cdc_base WHERE o_orderkey % 10 != 3),
         cdc_cur AS (SELECT * FROM cdc_base WHERE o_orderkey % 13 != 5),
         hist AS (
           SELECT p.o_orderkey, p.custkey, p.totalprice, p.odate, p.priority,
                  CAST(1 AS BIGINT) AS valid_from,
                  CASE WHEN c.o_orderkey IS NULL
                            OR c.custkey IS DISTINCT FROM p.custkey
                            OR c.totalprice IS DISTINCT FROM p.totalprice
                            OR c.odate IS DISTINCT FROM p.odate
                            OR c.priority IS DISTINCT FROM p.priority
                       THEN CAST(2 AS BIGINT) END AS valid_to,
                  (c.o_orderkey IS NOT NULL
                   AND NOT (c.custkey IS DISTINCT FROM p.custkey
                            OR c.totalprice IS DISTINCT FROM p.totalprice
                            OR c.odate IS DISTINCT FROM p.odate
                            OR c.priority IS DISTINCT FROM p.priority)) AS is_current
           FROM cdc_prev p LEFT JOIN cdc_cur c ON p.o_orderkey = c.o_orderkey),
         fresh AS (
           SELECT c.o_orderkey, c.custkey, c.totalprice, c.odate, c.priority,
                  CAST(2 AS BIGINT) AS valid_from,
                  CAST(NULL AS BIGINT) AS valid_to, true AS is_current
           FROM cdc_cur c LEFT JOIN cdc_prev p ON c.o_orderkey = p.o_orderkey
           WHERE p.o_orderkey IS NULL
              OR c.custkey IS DISTINCT FROM p.custkey
              OR c.totalprice IS DISTINCT FROM p.totalprice
              OR c.odate IS DISTINCT FROM p.odate
              OR c.priority IS DISTINCT FROM p.priority)
         SELECT * FROM (SELECT * FROM hist UNION ALL SELECT * FROM fresh)
         ORDER BY o_orderkey, valid_from""",

    "q15_dedup_exact" -> ExtOracleSql.exactRowDups,
    "q16_minhash_neardups" -> ExtOracleSql.minhashNearDups(minEst = 0.5),
    "q17_simhash" -> ExtOracleSql.simhash,
    "q18_jaccard_verify" -> ExtOracleSql.jaccardVerify,
    "q19_embedding_neardups" -> ExtOracleSql.embeddingNearDups(threshold = 0.35),
    "q20_topk_cosine" -> ExtOracleSql.topKNeighbors(k = 5),
    "q21_ivf_topk" -> ExtOracleSql.ivfTopK(k = 5, centroidEvery = 100),
    "q22_langid" -> ExtOracleSql.langId,
    "q23_quality" -> ExtOracleSql.qualityScore,
    "q24_token_counts" -> ExtOracleSql.tokenCounts,
    "q25_fingerprint" -> ExtOracleSql.fingerprint,

    "q26_event_windows" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q27_sessions" ->
      """WITH m AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",

    "q36_sliding_windows" ->
      """WITH s AS (
           SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000
                    - j * 900000000) AS window_start,
                  event_type, value
           FROM events, range(4) t(j))
         SELECT window_start,
                window_start + INTERVAL 1 HOUR AS window_end,
                event_type, count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM s GROUP BY 1, 2, 3 ORDER BY window_start, event_type""",

    "q28_multimodal" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                md5(text) AS content_md5,
                octet_length(encode(text)) % 640 AS width,
                (octet_length(encode(text)) * 7) % 480 AS height,
                3 AS channels
         FROM documents ORDER BY doc_id""",

    "q29_event_props" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INT))
                  AS BIGINT) AS k_sum,
                max(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INT)) AS k_max
         FROM events GROUP BY 1 ORDER BY 1""",

    "q30_date_dim" ->
      """SELECT CAST(d AS DATE) AS date_key,
                isodow(d) IN (6, 7) AS is_weekend,
                (month(d) = 1 AND day(d) = 1 OR month(d) = 12 AND day(d) = 25)
                  AS is_holiday,
                year(d) AS year, month(d) AS month, weekofyear(d) AS week
         FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31',
                 INTERVAL 1 DAY)) AS d)
         ORDER BY date_key""",

    "q31_trends_multigrain" -> OracleSql.withBase(
      """mg_base AS (
           SELECT creation_date, restaurant_id, item_category, total_revenue,
                  concat_ws('-', year(creation_date), weekofyear(creation_date))
                    AS year_week,
                  concat_ws('-', year(creation_date), month(creation_date))
                    AS year_month
           FROM order_revenue)""",
      """SELECT creation_date, year_week, year_month, restaurant_id, item_category,
                sum(round(total_revenue * 10000)) / 10000.0 AS revenue,
                CASE WHEN GROUPING(creation_date) = 0 THEN 'daily'
                     WHEN GROUPING(year_week) = 0 THEN 'weekly'
                     ELSE 'monthly' END AS grain
         FROM mg_base
         GROUP BY GROUPING SETS (
           (creation_date, restaurant_id, item_category),
           (year_week, restaurant_id, item_category),
           (year_month, restaurant_id, item_category))
         ORDER BY grain, creation_date, year_week, year_month,
                  restaurant_id, item_category"""),

    "q32_asof_attribution" ->
      """WITH u AS (
           SELECT user_id, ts AS t, 0 AS side, event_id AS r_event_id, ts AS r_ts,
                  CAST(NULL AS BIGINT) AS l_event_id, CAST(NULL AS DOUBLE) AS l_value
           FROM events WHERE event_type = 'view'
           UNION ALL
           SELECT user_id, ts, 1, NULL, NULL, event_id, value
           FROM events WHERE event_type = 'purchase'),
         w AS (
           SELECT user_id, t, side, l_event_id, l_value,
                  last_value(r_event_id IGNORE NULLS) OVER win AS view_event_id,
                  last_value(r_ts IGNORE NULLS) OVER win AS view_ts
           FROM u
           WINDOW win AS (PARTITION BY user_id ORDER BY t, side
                          ROWS UNBOUNDED PRECEDING))
         SELECT l_event_id AS event_id, user_id, t AS ts, l_value AS value,
                view_event_id, view_ts,
                epoch_us(t) - epoch_us(view_ts) AS micros_since_view
         FROM w WHERE side = 1 ORDER BY event_id""",

    "q33_ngram_jaccard" -> ExtOracleSql.ngramJaccard(n = 5),

    "q35_srp_topk" -> ExtOracleSql.srpTopK(k = 5, nBits = 6, dim = 64),

    "q39_monthly_pivot" -> OracleSql.withBase(
      "SELECT restaurant_id, " +
        (1 to 12).map(m =>
          s"sum(CASE WHEN month(creation_date) = $m " +
            s"THEN round(total_revenue * 10000) END) / 10000.0 AS m$m")
          .mkString(", ") +
        " FROM order_revenue GROUP BY 1 ORDER BY restaurant_id"),

    "q40_median_line_revenue" -> OracleSql.withBase(
      """SELECT restaurant_id, count(*) AS n_lines,
                median(round(total_revenue * 10000)) / 10000.0
                  AS median_line_revenue
         FROM order_revenue GROUP BY 1 ORDER BY restaurant_id"""),

    "q41_trailing_revenue" -> OracleSql.withBase(
      """SELECT user_id, creation_date, cents / 10000.0 AS daily_revenue,
                sum(cents) OVER (PARTITION BY user_id
                  ORDER BY date_diff('day', DATE '1970-01-01', creation_date)
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 10000.0
                  AS trailing_revenue
         FROM ltv_daily ORDER BY user_id, creation_date"""),

    "q42_ltv_deciles" -> OracleSql.withBase(
      """SELECT user_id, lifetime_value,
                ntile(10) OVER (ORDER BY lifetime_value, user_id) AS decile
         FROM ltv_latest ORDER BY user_id"""),

    "q37_term_stats" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest(${graft.functions.Portable.tokensSql("text")}) AS term
            FROM documents)
          SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
          FROM tok GROUP BY term
          ORDER BY df DESC, term LIMIT 100""",

    "q38_label_centroids" ->
      """WITH v AS (
           SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         e AS (
           SELECT label,
                  unnest(generate_series(1, len(emb))) - 1 AS pos,
                  unnest(emb) AS x
           FROM v)
         SELECT label, pos,
                (sum(round(x * 1000000)) / count(*)) / 1000000.0
                  AS centroid_component
         FROM e GROUP BY 1, 2 ORDER BY label, pos""",

    "q34_range_join" ->
      """WITH win AS (
           SELECT i AS window_id,
                  DATE '2024-01-01' + CAST(i * 3 AS INT) AS window_start,
                  DATE '2024-01-01' + CAST(i * 3 + (i % 4) * 3 + 2 AS INT)
                    AS window_end
           FROM range(10) t(i)),
         ev AS (SELECT CAST(ts AS DATE) AS event_date, value FROM events)
         SELECT window_id, window_start, window_end, count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM win JOIN ev ON ev.event_date BETWEEN win.window_start
                                               AND win.window_end
         GROUP BY 1, 2, 3 ORDER BY window_id""",

    "q43_dup_clusters" -> ExtOracleSql.dupClusters(minJaccard = 0.5),
    "q77_pagerank" -> ExtOracleSql.pageRank(minJaccard = 0.5, iterations = 3),
    "q78_zorder_stats" -> ExtOracleSql.zorderStats(bits = 10, prefixBits = 6),
    "q84_boilerplate_share" -> ExtOracleSql.boilerplateShare(n = 3, minDf = 10),
    "q85_containment_pairs" -> ExtOracleSql.containmentVerify,
    "q86_bigram_merges" -> ExtOracleSql.bigramMergeStats(topK = 50),
    "q87_length_quantiles" -> ExtOracleSql.lengthQuantiles(Seq(0.5, 0.9, 0.99)),
    "q88_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "q89_postings" -> ExtOracleSql.postings(maxPostings = 20),
    "q90_source_overlap" -> ExtOracleSql.sourceOverlap(n = 3, maxDf = 5),

    // the oracle runs the PLAIN join — the gate proves salted == plain
    "q91_salted_join" ->
      """SELECT p_brand, count(*) AS n_lines,
                sum(round(l_extendedprice * 10000)) / 10000.0 AS gross_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand""",

    // the oracle recomputes the DIRECT monthly aggregate — the gate
    // proves pivot∘unpivot equals it
    "q92_unpivot_months" -> OracleSql.withBase(
      """SELECT restaurant_id, month(creation_date) AS month,
                sum(round(total_revenue * 10000)) / 10000.0 AS revenue
         FROM order_revenue GROUP BY 1, 2 ORDER BY restaurant_id, month"""),

    "q93_orders_cube" ->
      """WITH y AS (SELECT year(o_orderdate) AS order_year, o_orderpriority,
                           o_totalprice FROM orders)
         SELECT GROUPING(order_year, o_orderpriority) AS gid,
                order_year, o_orderpriority, count(*) AS n_orders,
                sum(round(o_totalprice * 10000)) / 10000.0 AS revenue
         FROM y GROUP BY CUBE (order_year, o_orderpriority)
         ORDER BY gid, order_year, o_orderpriority""",

    "q94_cdc_compaction" ->
      """WITH log AS (
           SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'delete'
                       WHEN o_orderkey % 3 = 0 THEN 'update'
                       ELSE 'insert' END AS cdc_action
           FROM orders),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM log)
         SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, cdc_action
         FROM r WHERE rn = 1 AND cdc_action <> 'delete'
         ORDER BY o_custkey""",

    "q95_fingerprint" -> {
      val canon = Seq(
        "CAST(o_orderkey AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus",
        "CAST(CAST(round(o_totalprice * 10000) AS BIGINT) AS VARCHAR)",
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
        "o_orderpriority")
        .map(e => s"coalesce($e, ' null')").mkString(", ")
      val keyCanon = "coalesce(CAST(o_orderkey AS VARCHAR), ' null')"
      s"""WITH c AS (SELECT $keyCanon AS kc, concat_ws('|', $canon) AS canon
                     FROM orders),
          h AS (SELECT ${graft.functions.Portable.h60Sql("kc")} % 16 AS bucket,
                       ${graft.functions.Portable.h60Sql("canon")} AS h FROM c)
          SELECT bucket, count(*) AS n_rows, bit_xor(h) AS xor_h,
                 CAST(CAST(sum(h) AS DECIMAL(38,0))
                      % ${graft.ext.Reconcile.SumModulus} AS BIGINT) AS sum_h
          FROM h GROUP BY 1 ORDER BY bucket"""
    },

    "q96_weighted_sample" -> {
      val draw = graft.functions.Portable.h60Sql(
        "'wsample' || '#' || CAST(doc_id AS VARCHAR) || '#' || CAST(cpy AS VARCHAR)")
      s"""WITH w AS (SELECT doc_id, 1 + doc_id % 3 AS weight FROM documents),
          c AS (SELECT doc_id, weight,
                       unnest(generate_series(1, weight)) AS cpy FROM w),
          d AS (SELECT doc_id, weight, min($draw) AS draw
                FROM c GROUP BY 1, 2)
          SELECT doc_id, weight, draw,
                 row_number() OVER (ORDER BY draw, doc_id) AS sample_rank
          FROM d ORDER BY draw, doc_id LIMIT 50"""
    },

    "q97_fuzzy_match" ->
      """WITH p AS (SELECT p_brand, p_partkey, p_name FROM part)
         SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
                a.p_name AS name_a, b.p_name AS name_b,
                levenshtein(a.p_name, b.p_name) AS edit_dist
         FROM p a JOIN p b ON a.p_brand = b.p_brand
                          AND a.p_partkey < b.p_partkey
         WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
           AND levenshtein(a.p_name, b.p_name) <= 2
         ORDER BY id_a, id_b""",

    // the oracle is the BATCH range join — the gate proves the
    // watermarked streaming join loses/duplicates nothing across batches
    "q98_stream_stream_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, purchase_id, purchase_ts, view_id, view_ts
         FROM p JOIN v ON p.user_id = v.user_id
          AND v.view_ts >= p.purchase_ts - INTERVAL 3600 SECONDS
          AND v.view_ts <= p.purchase_ts
         ORDER BY purchase_id, view_id""",

    "q100_gap_fill" -> OracleSql.withBase(
      """gfd AS (
           SELECT restaurant_id, creation_date,
                  sum(round(total_revenue * 10000)) AS cents
           FROM order_revenue GROUP BY 1, 2),
         gfspan AS (
           SELECT restaurant_id, min(creation_date) AS d0,
                  max(creation_date) AS d1
           FROM gfd GROUP BY 1),
         gfspine AS (
           SELECT restaurant_id,
                  CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                    AS creation_date
           FROM gfspan)""",
      """SELECT s.restaurant_id, s.creation_date,
                coalesce(d.cents, 0) / 10000.0 AS revenue,
                CASE WHEN d.cents IS NULL THEN 1 ELSE 0 END AS is_gap
         FROM gfspine s LEFT JOIN gfd d
           ON s.restaurant_id = d.restaurant_id
          AND s.creation_date = d.creation_date
         ORDER BY s.restaurant_id, s.creation_date"""),

    "q101_rank_suite" -> OracleSql.withBase(
      """rr AS (
           SELECT restaurant_id,
                  sum(round(total_revenue * 10000)) / 10000.0 AS total_revenue
           FROM order_revenue GROUP BY 1)""",
      """SELECT restaurant_id, total_revenue,
                rank() OVER wt AS rnk, dense_rank() OVER wt AS drnk,
                round(percent_rank() OVER wt, 6) AS pct_rank,
                round(cume_dist() OVER wt, 6) AS cume,
                ntile(4) OVER wo AS quartile
         FROM rr WINDOW wt AS (ORDER BY total_revenue DESC),
                  wo AS (ORDER BY total_revenue DESC, restaurant_id)
         ORDER BY restaurant_id"""),

    "q102_set_ops" ->
      """WITH y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
         y98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998),
         ia AS (SELECT o_custkey FROM y97 INTERSECT ALL SELECT o_custkey FROM y98),
         ea AS (SELECT o_custkey FROM y97 EXCEPT ALL SELECT o_custkey FROM y98)
         SELECT 'intersect_all' AS op, o_custkey, count(*) AS n
         FROM ia GROUP BY 2
         UNION ALL
         SELECT 'except_all' AS op, o_custkey, count(*) AS n
         FROM ea GROUP BY 2
         ORDER BY op, o_custkey""",

    // list_reduce mirrors Spark's strict left fold (0.0 seed + x ==
    // first-element seed for non-negative squares), so the float sums
    // are bit-identical; 6-decimal rounds are the shared rendering
    "q103_l2_normalize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
         n AS (SELECT vec_id, emb,
                      sqrt(list_reduce(list_transform(emb, x -> x * x),
                                       (a, b) -> a + b)) AS nrm
               FROM v),
         u AS (SELECT vec_id, nrm, list_transform(emb, x -> x / nrm) AS unit
               FROM n)
         SELECT vec_id, round(nrm, 6) AS norm_l2,
                round(unit[1], 6) AS u1, round(unit[2], 6) AS u2,
                round(list_reduce(list_transform(unit, x -> x * x),
                                  (a, b) -> a + b), 6) AS unit_dot
         FROM u ORDER BY vec_id""",

    // the oracle is the PLAIN key-set semi join — the gate proves the
    // bloom prefilter + exact join composite loses/keeps nothing
    "q104_bloom_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         ORDER BY l_orderkey, l_linenumber, l_extendedprice""",

    // round-trips: the oracle never sees the interchange format — it
    // recomputes from parquet, so any CSV/ORC lossiness hash-fails
    "q105_csv_roundtrip" -> OracleSql.withBase(
      """SELECT * FROM order_revenue
         ORDER BY order_id, lineitem_id, item_category, item_price,
                  restaurant_id"""),

    "q106_orc_roundtrip" ->
      """SELECT * FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity""",

    "q107_sql_subqueries" ->
      """SELECT o.o_custkey, count(*) AS n_big_orders,
                sum(round(o.o_totalprice * 10000)) / 10000.0 AS big_total
         FROM orders o
         WHERE round(o.o_totalprice * 10000)
                 * (SELECT count(*) FROM orders)
               > (SELECT sum(round(o_totalprice * 10000)) FROM orders)
           AND EXISTS (SELECT 1 FROM orders i
                       WHERE i.o_custkey = o.o_custkey
                         AND year(i.o_orderdate) = 2001)
         GROUP BY o.o_custkey ORDER BY o.o_custkey""",

    "q108_running_distinct" -> OracleSql.withBase(
      """rdfs AS (
           SELECT restaurant_id, user_id, min(creation_date) AS creation_date
           FROM order_revenue GROUP BY 1, 2),
         rdpd AS (
           SELECT restaurant_id, creation_date, count(*) AS new_users
           FROM rdfs GROUP BY 1, 2)""",
      """SELECT restaurant_id, creation_date, new_users,
                CAST(sum(new_users) OVER (PARTITION BY restaurant_id
                  ORDER BY creation_date
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS distinct_users_to_date
         FROM rdpd ORDER BY restaurant_id, creation_date"""),

    "q109_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, CAST(NULL AS VARCHAR) AS o_orderpriority,
                CAST(NULL AS VARCHAR) AS o_channel
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority,
                'ch' || CAST(o_orderkey % 3 AS VARCHAR) AS o_channel
         FROM orders WHERE o_orderkey % 2 <> 0
         ORDER BY o_orderkey""",

    // same discrete-position formulation as q87's quantiles
    "q110_winsorize" ->
      """WITH wr AS (
           SELECT source, n_chars,
                  row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
                  count(*) OVER (PARTITION BY source) AS cnt
           FROM documents),
         wq AS (
           SELECT source,
                  max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * cnt) AS BIGINT))
                           THEN n_chars END) AS lo,
                  max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * cnt) AS BIGINT))
                           THEN n_chars END) AS hi
           FROM wr GROUP BY 1)
         SELECT d.doc_id, d.source, d.n_chars,
                least(greatest(d.n_chars, q.lo), q.hi) AS clipped
         FROM documents d JOIN wq q USING (source)
         ORDER BY d.doc_id""",

    "q112_category_lift" -> OracleSql.withBase(
      """cloc AS (SELECT DISTINCT order_id, item_category AS cat
                  FROM order_revenue WHERE item_category IS NOT NULL),
         clt AS (SELECT cat, count(*) AS n_cat FROM cloc GROUP BY 1),
         cln AS (SELECT count(DISTINCT order_id) AS n_orders FROM cloc),
         clp AS (SELECT a.cat AS cat_a, b.cat AS cat_b, count(*) AS n_both
                 FROM cloc a JOIN cloc b
                   ON a.order_id = b.order_id AND a.cat < b.cat
                 GROUP BY 1, 2 HAVING count(*) >= 10)""",
      """SELECT cat_a, cat_b, n_both, ta.n_cat AS n_a, tb.n_cat AS n_b,
                round(n_both * n_orders / (ta.n_cat * tb.n_cat), 6) AS lift
         FROM clp JOIN clt ta ON clp.cat_a = ta.cat
                  JOIN clt tb ON clp.cat_b = tb.cat, cln
         ORDER BY cat_a, cat_b"""),

    "q114_sliding_distinct" -> OracleSql.withBase(
      """sdt AS (SELECT DISTINCT restaurant_id, user_id, creation_date AS d
                 FROM order_revenue),
         sdd AS (SELECT DISTINCT restaurant_id, d FROM sdt),
         sdw AS (SELECT t.restaurant_id, t.user_id,
                        t.d + CAST(r.i AS INT) AS window_end
                 FROM sdt t, range(7) r(i)),
         sdx AS (SELECT w.restaurant_id, w.user_id, w.window_end
                 FROM sdw w JOIN sdd ON sdd.restaurant_id = w.restaurant_id
                                    AND sdd.d = w.window_end)""",
      """SELECT restaurant_id, window_end,
                count(DISTINCT user_id) AS active_users
         FROM sdx GROUP BY 1, 2 ORDER BY restaurant_id, window_end"""),

    "q115_mad_outliers" -> OracleSql.withBase(
      """madd AS (
           SELECT restaurant_id, creation_date,
                  CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
           FROM order_revenue GROUP BY 1, 2),
         madm AS (
           SELECT restaurant_id, count(*) AS n_days, median(cents) AS med
           FROM madd GROUP BY 1 HAVING count(*) >= 5),
         madv AS (
           SELECT d.restaurant_id, d.creation_date, d.cents, m.med,
                  abs(d.cents - m.med) AS abs_dev
           FROM madd d JOIN madm m ON d.restaurant_id = m.restaurant_id),
         mada AS (
           SELECT restaurant_id, median(abs_dev) AS mad
           FROM madv GROUP BY 1)""",
      """SELECT v.restaurant_id, v.creation_date,
                v.cents / 10000.0 AS daily_revenue,
                v.med / 10000.0 AS median_revenue,
                a.mad / 10000.0 AS mad_revenue
         FROM madv v JOIN mada a ON v.restaurant_id = a.restaurant_id
         WHERE v.abs_dev * 10000 > a.mad * 44478
         ORDER BY v.restaurant_id, v.creation_date"""),

    "q116_group_corr" ->
      """WITH gm AS (
           SELECT l_returnflag, l_linestatus, count(*) AS n,
                  sum(CAST(round(l_quantity) AS HUGEINT)) AS sx,
                  sum(CAST(round(l_extendedprice * 10000) AS HUGEINT)) AS sy,
                  sum(CAST(round(l_quantity) AS HUGEINT)
                      * CAST(round(l_extendedprice * 10000) AS HUGEINT)) AS sxy,
                  sum(CAST(round(l_quantity) AS HUGEINT)
                      * CAST(round(l_quantity) AS HUGEINT)) AS sxx,
                  sum(CAST(round(l_extendedprice * 10000) AS HUGEINT)
                      * CAST(round(l_extendedprice * 10000) AS HUGEINT)) AS syy
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, n,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                END AS corr
         FROM gm ORDER BY l_returnflag, l_linestatus""",

    "q113_mom_growth" -> OracleSql.withBase(
      """momg AS (
           SELECT restaurant_id, year(creation_date) AS y,
                  month(creation_date) AS m,
                  sum(round(total_revenue * 10000)) / 10000.0 AS revenue
           FROM order_revenue GROUP BY 1, 2, 3)""",
      """SELECT restaurant_id, y, m, revenue,
                lag(revenue) OVER w AS prev_revenue,
                CASE WHEN lag(revenue) OVER w = 0 THEN NULL
                     ELSE round((revenue - lag(revenue) OVER w)
                                / lag(revenue) OVER w * 100, 6)
                END AS mom_pct
         FROM momg WINDOW w AS (PARTITION BY restaurant_id ORDER BY y, m)
         ORDER BY restaurant_id, y, m"""),

    "q111_session_paths" ->
      """WITH sm AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         ss AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM sm)
         SELECT user_id, min(ts) AS session_start,
                array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
                  AS path,
                count(*) AS n_events
         FROM ss GROUP BY user_id, sid ORDER BY user_id, session_start""",

    // the sequential keep/suppress recurrence as a recursive CTE: each
    // step jumps from a kept event to the earliest event >= Δ later
    "q99_debounce" ->
      """WITH RECURSIVE ord AS (
           SELECT user_id, event_type, ts, event_id,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rn
           FROM events),
         keep AS (
           SELECT user_id, event_type, ts, event_id FROM ord WHERE rn = 1
           UNION ALL
           SELECT n.user_id, n.event_type, n.ts, n.event_id
           FROM keep k JOIN LATERAL (
             SELECT o.user_id, o.event_type, o.ts, o.event_id FROM ord o
             WHERE o.user_id = k.user_id AND o.event_type = k.event_type
               AND o.ts >= k.ts + INTERVAL 86400 SECONDS
             ORDER BY o.ts, o.event_id LIMIT 1) n ON true)
         SELECT user_id, event_type, ts, event_id FROM keep
         ORDER BY user_id, event_type, ts, event_id""",
    "q44_retention" -> ExtOracleSql.retentionWeekly,
    "q45_funnel" -> ExtOracleSql.funnel,
    "q46_hash_split" -> ExtOracleSql.hashSplit(trainPct = 80, valPct = 10, salt = "split"),
    "q47_stratified_sample" -> ExtOracleSql.stratifiedSample(k = 5, salt = "sample"),
    "q48_quantize_int8" -> ExtOracleSql.quantizeInt8,
    "q49_tfidf" -> ExtOracleSql.tfidfTopTerms(topPerDoc = 3),
    "q50_pii_scrub" -> ExtOracleSql.piiScrub,
    "q53_curated_corpus" -> ExtOracleSql.curatedCorpus(
      minQuality = 0.3, lang = "en", minJaccard = 0.5),
    "q54_profile" -> ExtOracleSql.profileLineitem(ProfileCols),
    "q55_transitions" -> ExtOracleSql.transitions,
    "q56_revenue_outliers" -> ExtOracleSql.revenueOutliers(minZ = 2.0, minDays = 5),

    // Approx-sketch tier, bound-check gated: the oracle recomputes the
    // exact values and pins the within-tolerance booleans to TRUE — a
    // Spark-side sketch outside its error bound hash-mismatches.
    "q51_location_hll" -> OracleSql.withBase(
      """loc_joined AS (
           SELECT i.restaurant_id, i.order_id,
                  CAST(i.creation_ts AS DATE) AS order_date,
                  weekofyear(CAST(i.creation_ts AS DATE)) AS week
           FROM items i
           JOIN (SELECT order_id FROM order_revenue) r USING (order_id)),
         loc AS (
           SELECT restaurant_id,
                  count(DISTINCT order_id) AS num_orders,
                  count(DISTINCT order_date) AS active_days,
                  count(DISTINCT week) AS active_weeks
           FROM loc_joined GROUP BY 1)""",
      """SELECT restaurant_id, num_orders, active_days, active_weeks,
                TRUE AS hll_orders_ok, TRUE AS hll_days_ok, TRUE AS hll_weeks_ok
         FROM loc ORDER BY restaurant_id"""),

    "q52_segments_approx" -> OracleSql.withBase(
      """SELECT user_id, lifetime_value,
                CASE WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.2) FROM ltv_latest) THEN 'Low'
                     WHEN lifetime_value <=
                       (SELECT quantile_cont(lifetime_value, 0.8) FROM ltv_latest) THEN 'Medium'
                     ELSE 'High' END AS clv_segment,
                TRUE AS approx_segment_ok
         FROM ltv_latest ORDER BY user_id"""),

    "q57_kmeans" -> ExtOracleSql.kmeans(iters = 2, seedEvery = 100),
    "q58_decontaminate" -> ExtOracleSql.decontaminate(n = 5, modEvery = 20),

    // the streaming replay must reproduce the BATCH sessions exactly —
    // same oracle SQL as q27
    "q59_sessions_stream_replay" ->
      """WITH m AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 30 MINUTE AS session_end,
                count(*) AS n_events,
                sum(round(value * 10000)) / 10000.0 AS value_sum
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",

    "q60_chunking" -> ExtOracleSql.chunk(chunkSize = 64, overlap = 16),
    "q62_repetition" -> ExtOracleSql.repetitionSignals,
    "q63_pack_sequences" -> ExtOracleSql.packSequences(budget = 2048, shards = 8),
    "q64_packed_corpus" -> ExtOracleSql.packCorpus(
      minQuality = 0.3, lang = "en", minJaccard = 0.5,
      chunkSize = 64, overlap = 16, budget = 2048, shards = 4),

    "q65_mixture_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
          WHERE ${graft.ext.Sampling.mixtureSampleSql(
              "source", "doc_id", MixRates, defaultRate = 0.1)}
          ORDER BY doc_id""",

    "q66_token_entropy" -> ExtOracleSql.tokenEntropy,
    "q76_lm_score" -> ExtOracleSql.lmScore,

    // frame-sampling geometry: evenly-spaced byte windows, fan-out
    // bounded by maxFrames=4, window size 32
    "q68_frame_sample" ->
      """WITH m AS (
           SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
         f AS (
           SELECT doc_id, n, greatest(1, least(4, n // 32)) AS frames FROM m),
         e AS (
           SELECT doc_id, n, frames, unnest(range(0, frames)) AS k FROM f)
         SELECT doc_id, k AS frame_idx,
                (n * k) // frames AS byte_offset,
                CAST(least(n, (n * k) // frames + 32) - (n * k) // frames AS BIGINT)
                  AS frame_bytes
         FROM e ORDER BY doc_id, frame_idx""",

    "q69_json_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",

    "q70_packed_text" -> ExtOracleSql.packedText(
      budget = 2048, shards = 8, sep = " <|doc|> "),

    "q71_psi_drift" ->
      """WITH b AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         cur AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         st AS (SELECT min(v) AS mn, max(v) AS mx FROM b),
         bb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM b, st),
         cb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM cur, st),
         spine AS (SELECT unnest(range(0, 10)) AS bucket),
         nb AS (SELECT bucket, count(*) AS n FROM bb GROUP BY 1),
         nc AS (SELECT bucket, count(*) AS n FROM cb GROUP BY 1),
         j AS (
           SELECT s.bucket, COALESCE(nb.n, 0) AS n_base, COALESCE(nc.n, 0) AS n_cur
           FROM spine s LEFT JOIN nb USING (bucket) LEFT JOIN nc USING (bucket)),
         t AS (
           SELECT bucket, n_base, n_cur,
                  CAST(round(
                    ((CAST(n_base + 1 AS DOUBLE) / (sum(n_base) OVER () + 10))
                     - (CAST(n_cur + 1 AS DOUBLE) / (sum(n_cur) OVER () + 10)))
                    * ln((CAST(n_base + 1 AS DOUBLE) / (sum(n_base) OVER () + 10))
                       / (CAST(n_cur + 1 AS DOUBLE) / (sum(n_cur) OVER () + 10)))
                    * 1e9) AS BIGINT) AS nanos
           FROM j)
         SELECT bucket, n_base, n_cur,
                round(nanos / 1e9, 6) AS psi_term,
                round(CAST(sum(nanos) OVER () AS DOUBLE) / 1e9, 6) AS psi_total
         FROM t ORDER BY bucket""",

    "q72_ks_drift" ->
      """WITH b AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         cur AS (
           SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
         st AS (SELECT min(v) AS mn, max(v) AS mx FROM b),
         bb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM b, st),
         cb AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(9, greatest(0, CAST(floor(
                         (v - mn) * 10 / (mx - mn)) AS BIGINT))) END AS bucket
           FROM cur, st),
         spine AS (SELECT unnest(range(0, 10)) AS bucket),
         nb AS (SELECT bucket, count(*) AS n FROM bb GROUP BY 1),
         nc AS (SELECT bucket, count(*) AS n FROM cb GROUP BY 1),
         j AS (
           SELECT s.bucket, COALESCE(nb.n, 0) AS n_base, COALESCE(nc.n, 0) AS n_cur
           FROM spine s LEFT JOIN nb USING (bucket) LEFT JOIN nc USING (bucket)),
         cdf AS (
           SELECT bucket, n_base, n_cur,
                  round(CAST(sum(n_base) OVER (ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                    / sum(n_base) OVER (), 6) AS cdf_base,
                  round(CAST(sum(n_cur) OVER (ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                    / sum(n_cur) OVER (), 6) AS cdf_cur
           FROM j)
         SELECT bucket, n_base, n_cur, cdf_base, cdf_cur,
                round(max(abs(cdf_base - cdf_cur)) OVER (), 6) AS ks_d
         FROM cdf ORDER BY bucket""",

    "q73_chi2_drift" ->
      """WITH nb AS (
           SELECT event_type AS category, count(*) AS n FROM events
           WHERE ts < TIMESTAMP '2024-01-16' AND event_type IS NOT NULL
           GROUP BY 1),
         nc AS (
           SELECT event_type AS category, count(*) AS n FROM events
           WHERE ts >= TIMESTAMP '2024-01-16' AND event_type IS NOT NULL
           GROUP BY 1),
         j AS (
           SELECT COALESCE(nb.category, nc.category) AS category,
                  COALESCE(nb.n, 0) AS n_base, COALESCE(nc.n, 0) AS n_cur
           FROM nb FULL OUTER JOIN nc ON nb.category = nc.category),
         e AS (
           SELECT category, n_base, n_cur,
                  CAST(sum(n_base) OVER () AS DOUBLE)
                    * CAST(n_base + n_cur AS DOUBLE)
                    / CAST(sum(n_base + n_cur) OVER () AS DOUBLE) AS eb,
                  CAST(sum(n_cur) OVER () AS DOUBLE)
                    * CAST(n_base + n_cur AS DOUBLE)
                    / CAST(sum(n_base + n_cur) OVER () AS DOUBLE) AS ec
           FROM j),
         t AS (
           SELECT category, n_base, n_cur,
                  CAST(round((
                      (CAST(n_base AS DOUBLE) - eb)
                        * (CAST(n_base AS DOUBLE) - eb) / eb
                    + (CAST(n_cur AS DOUBLE) - ec)
                        * (CAST(n_cur AS DOUBLE) - ec) / ec
                  ) * 1e9) AS BIGINT) AS nanos
           FROM e)
         SELECT category, n_base, n_cur,
                round(CAST(nanos AS DOUBLE) / 1e9, 6) AS chi2_term,
                round(CAST(sum(nanos) OVER () AS DOUBLE) / 1e9, 6) AS chi2_total,
                CAST(count(*) OVER () - 1 AS BIGINT) AS dof
         FROM t ORDER BY category""",

    "q67_histogram" ->
      """WITH st AS (
           SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
                  max(CAST(l_extendedprice AS DOUBLE)) AS mx
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         b AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(19, CAST(floor(
                         (CAST(l_extendedprice AS DOUBLE) - mn) * 20 / (mx - mn))
                         AS BIGINT)) END AS bucket,
                  mn, mx
           FROM lineitem, st WHERE l_extendedprice IS NOT NULL)
         SELECT bucket,
                mn + bucket * ((mx - mn) / 20) AS lo,
                mn + (bucket + 1) * ((mx - mn) / 20) AS hi,
                count(*) AS n
         FROM b GROUP BY bucket, mn, mx ORDER BY bucket""",

    // the salted two-phase aggregate must equal the plain GROUP BY
    "q61_salted_agg" ->
      """SELECT l_returnflag, l_linestatus,
                sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / 10000.0
                  AS sum_extendedprice
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    "q224_min_cost_supplier" ->
      """WITH pp AS (
           SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS net_cents,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                  count(*) AS n_lines
           FROM lineitem GROUP BY 1, 2),
         pr AS (
           SELECT *, ((net_cents * 10000 * 2 + qty) // (qty * 2)) / 1000000.0
                    AS unit_price FROM pp),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY p_partkey
                    ORDER BY unit_price ASC, best_suppkey ASC) AS rn
           FROM pr)
         SELECT k.p_partkey, k.best_suppkey, s.s_name AS supplier_name,
                n.n_name AS nation, r.r_name AS region, k.unit_price, k.n_lines
         FROM rk k
         JOIN supplier s ON k.best_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE k.rn = 1
         ORDER BY k.p_partkey""",

    "q225_late_priority" ->
      """WITH fl AS (
           SELECT o.o_orderkey AS k,
                  max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 21 DAY
                      THEN 1 ELSE 0 END) AS late
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1)
         SELECT o.o_orderpriority, count(*) AS n_orders,
                CAST(sum(COALESCE(fl.late, 0)) AS BIGINT) AS n_late_ship,
                ((CAST(sum(COALESCE(fl.late, 0)) AS BIGINT) * 1000000 * 2
                  + count(*)) // (count(*) * 2)) / 1000000.0 AS late_share
         FROM orders o LEFT JOIN fl ON o.o_orderkey = fl.k
         GROUP BY 1 ORDER BY 1""",

    "q226_important_stock" ->
      """WITH pp AS (
           SELECT l_partkey,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS part_cents
           FROM lineitem GROUP BY 1),
         pb AS (
           SELECT p.p_brand, pp.l_partkey AS p_partkey, pp.part_cents,
                  CAST(sum(pp.part_cents) OVER (PARTITION BY p.p_brand)
                    AS BIGINT) AS brand_cents,
                  count(*) OVER (PARTITION BY p.p_brand) AS n_parts
           FROM pp JOIN part p ON pp.l_partkey = p.p_partkey)
         SELECT p_brand, p_partkey,
                round(part_cents / 100.0, 6) AS revenue,
                round(CAST(part_cents AS DOUBLE) / brand_cents, 6) AS share
         FROM pb
         WHERE part_cents * n_parts * 10 >= brand_cents * 15
         ORDER BY p_brand, p_partkey""",

    "q227_small_qty_revenue" ->
      """WITH f AS (
           SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                  CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS net_cents,
                  CAST(sum(CAST(l_quantity AS BIGINT))
                    OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_qty,
                  count(*) OVER (PARTITION BY l_partkey) AS n_qty
           FROM lineitem),
         g AS (
           SELECT p.p_brand, f.net_cents,
                  CASE WHEN CAST(f.qty AS DOUBLE)
                         < CAST(f.sum_qty AS DOUBLE) / f.n_qty * 0.5
                       THEN 1 ELSE 0 END AS is_small
           FROM f JOIN part p ON f.l_partkey = p.p_partkey)
         SELECT p_brand, count(*) AS n_lines,
                CAST(sum(is_small) AS BIGINT) AS n_small,
                round(CAST(sum(CASE WHEN is_small = 1 THEN net_cents ELSE 0 END)
                  AS BIGINT) / 100.0, 6) AS small_revenue,
                round(CAST(sum(CASE WHEN is_small = 1 THEN net_cents ELSE 0 END)
                  AS DOUBLE) / CAST(sum(net_cents) AS BIGINT), 6) AS small_share
         FROM g GROUP BY 1 ORDER BY 1""",

    "q228_dormant_accounts" ->
      """WITH b AS (
           SELECT CAST(sum(bb) AS BIGINT) AS sum_b, count(*) AS n_b
           FROM (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bb
                 FROM customer WHERE round(c_acctbal * 100) > 0) t),
         h AS (SELECT max(o_orderdate) AS max_date FROM orders),
         r AS (SELECT DISTINCT o_custkey FROM orders, h
               WHERE o_orderdate > max_date - INTERVAL 90 DAY),
         d AS (
           SELECT c.c_mktsegment, c.c_acctbal FROM customer c, b
           WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * b.n_b > b.sum_b
             AND NOT EXISTS (SELECT 1 FROM r
                             WHERE r.o_custkey = c.c_custkey))
         SELECT c_mktsegment, count(*) AS n_dormant,
                round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS BIGINT) / 100.0, 6) AS total_balance,
                ((CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                  * 10000 * 2 + count(*)) // (count(*) * 2)) / 1000000.0
                  AS avg_balance
         FROM d GROUP BY 1 ORDER BY 1""",

    "q229_supplier_reliability" ->
      """WITH ps AS (
           SELECT l.l_suppkey, count(*) AS n_lines,
                  CAST(sum(CASE WHEN l.l_shipdate
                        > o.o_orderdate + INTERVAL 21 DAY
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_late
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1),
         w AS (
           SELECT l_suppkey, n_lines, n_late,
                  CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
                  CAST(n_lines AS DOUBLE) AS nd
           FROM ps)
         SELECT s.s_suppkey, s.s_name, w.n_lines, w.n_late,
                ((w.n_late * 1000000 * 2 + w.n_lines) // (w.n_lines * 2))
                  / 1000000.0 AS late_rate,
                round((w.p + 1.96 * 1.96 / (w.nd * 2)
                       - 1.96 * sqrt(w.p * (1 - w.p) / w.nd
                                     + 1.96 * 1.96 / (w.nd * w.nd * 4)))
                      / (1 + 1.96 * 1.96 / w.nd), 6) AS wilson_lb
         FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
         ORDER BY s.s_suppkey""",

    "q230_theil_sen" -> OracleSql.withBase(
      """tsd AS (SELECT creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS cents
                FROM order_revenue GROUP BY 1),
         tss AS (SELECT min(creation_date) AS d0, max(creation_date) AS d1
                 FROM tsd),
         tsn AS (SELECT d0,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM tss),
         tsg AS (SELECT datediff('day', n.d0, n.creation_date) AS d,
                        coalesce(t.cents, 0) AS x
                 FROM tsn n LEFT JOIN tsd t USING (creation_date)),
         tsp AS (SELECT CAST(round(CAST(b.x - a.x AS DOUBLE) / (b.d - a.d)
                          * 1000000) AS BIGINT) AS sq
                 FROM tsg a JOIN tsg b ON b.d > a.d),
         tsm AS (SELECT median(sq) AS m, count(*) AS n_pairs FROM tsp),
         tsr AS (SELECT m, n_pairs,
                        CAST(round((CAST(g.x AS DOUBLE) - m / 1000000.0 * g.d)
                          * 100) AS BIGINT) AS rq
                 FROM tsg g CROSS JOIN tsm),
         tsf AS (SELECT m, n_pairs, median(rq) AS ic, count(*) AS n_days
                 FROM tsr GROUP BY 1, 2)""",
      """SELECT n_days, n_pairs,
                round(m / 10000000000.0, 6) AS slope_per_day,
                round(ic / 1000000.0, 6) AS intercept
         FROM tsf ORDER BY n_days"""),

    "q231_event_xcorr" ->
      """WITH xh AS (
           SELECT date_trunc('hour', ts) AS h,
                  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS xc,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS yc
           FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
         xs AS (SELECT date_trunc('hour', min(ts)) AS h0,
                       date_trunc('hour', max(ts)) AS h1 FROM events),
         xn AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                FROM xs),
         xg AS (SELECT n.h, coalesce(x.xc, 0) AS x, coalesce(x.yc, 0) AS y
                FROM xn n LEFT JOIN xh x USING (h)),
         xl AS (SELECT l.lag, g.y,
                       lag(g.x, l.lag) OVER (PARTITION BY l.lag ORDER BY g.h)
                         AS xl
                FROM xg g CROSS JOIN (SELECT unnest(range(0, 7)) AS lag) l),
         xa AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(xl) AS DOUBLE) AS sx,
                       CAST(sum(y) AS DOUBLE) AS sy,
                       CAST(sum(xl * y) AS DOUBLE) AS sxy,
                       CAST(sum(xl * xl) AS DOUBLE) AS sxx,
                       CAST(sum(y * y) AS DOUBLE) AS syy
                FROM xl WHERE xl IS NOT NULL GROUP BY 1)
         SELECT lag, CAST(n AS BIGINT) AS n_pairs,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN round((n * sxy - sx * sy)
                          / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                     ELSE NULL END AS xcorr
         FROM xa ORDER BY lag""",

    "q232_mann_whitney" -> OracleSql.withBase(
      """mwv AS (SELECT item_category, is_loyalty,
                       CAST(round(total_revenue * 10000) AS BIGINT) AS c
                FROM order_revenue),
         mwr AS (SELECT item_category, is_loyalty,
                        CAST(rank() OVER (PARTITION BY item_category
                          ORDER BY c) AS BIGINT) * 2
                        + count(*) OVER (PARTITION BY item_category, c) - 1
                          AS r2
                 FROM mwv),
         mwa AS (SELECT item_category,
                        CAST(sum(CASE WHEN is_loyalty THEN r2 ELSE 0 END)
                          AS BIGINT) AS s2,
                        CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                          AS BIGINT) AS n1,
                        CAST(sum(CASE WHEN NOT is_loyalty THEN 1 ELSE 0 END)
                          AS BIGINT) AS n2
                 FROM mwr GROUP BY 1),
         mwt AS (SELECT item_category, CAST(sum(t * t * t - t) AS BIGINT) AS tt
                 FROM (SELECT item_category, c, count(*) AS t
                       FROM mwv GROUP BY 1, 2) q
                 GROUP BY 1)""",
      """SELECT a.item_category, a.n1 AS n_loyal, a.n2 AS n_other,
                (a.s2 - a.n1 * (a.n1 + 1)) / 2.0 AS u_stat,
                CASE WHEN a.n1 * a.n2 / 12.0 * ((a.n1 + a.n2 + 1)
                       - t.tt / ((a.n1 + a.n2) * (a.n1 + a.n2 - 1.0))) > 0
                     THEN round(((a.s2 - a.n1 * (a.n1 + 1)) / 2.0
                                 - a.n1 * a.n2 / 2.0)
                          / sqrt(a.n1 * a.n2 / 12.0 * ((a.n1 + a.n2 + 1)
                                 - t.tt / ((a.n1 + a.n2)
                                           * (a.n1 + a.n2 - 1.0)))), 6)
                     ELSE NULL END AS z
         FROM mwa a JOIN mwt t USING (item_category)
         WHERE a.n1 > 0 AND a.n2 > 0
         ORDER BY a.item_category"""),

    "q233_hampel" -> OracleSql.withBase(
      """hpd AS (SELECT restaurant_id, creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS x
                FROM order_revenue GROUP BY 1, 2),
         hpg AS (SELECT restaurant_id, creation_date, x,
                        row_number() OVER (PARTITION BY restaurant_id
                          ORDER BY creation_date) AS d
                 FROM hpd),
         hpm AS (SELECT a.restaurant_id, a.d, median(b.x) AS med
                 FROM hpg a JOIN hpg b
                   ON a.restaurant_id = b.restaurant_id
                  AND b.d BETWEEN a.d - 3 AND a.d + 3
                 GROUP BY 1, 2),
         hpq AS (SELECT g.restaurant_id, g.creation_date, g.d, g.x, m.med
                 FROM hpg g JOIN hpm m
                   ON g.restaurant_id = m.restaurant_id AND g.d = m.d),
         hpa AS (SELECT a.restaurant_id, a.d, median(abs(b.x - a.med)) AS mad
                 FROM hpq a JOIN hpg b
                   ON a.restaurant_id = b.restaurant_id
                  AND b.d BETWEEN a.d - 3 AND a.d + 3
                 GROUP BY 1, 2)""",
      """SELECT q.restaurant_id, q.creation_date,
                q.x / 10000.0 AS revenue,
                q.med / 10000.0 AS rolling_median,
                a.mad / 10000.0 AS rolling_mad,
                CASE WHEN a.mad > 0
                     THEN round(abs(q.x - q.med) / (4.4478 * a.mad), 6)
                     END AS severity
         FROM hpq q JOIN hpa a
           ON q.restaurant_id = a.restaurant_id AND q.d = a.d
         WHERE (a.mad > 0 AND abs(q.x - q.med) > 4.4478 * a.mad)
            OR (a.mad = 0 AND abs(q.x - q.med) > 0)
         ORDER BY q.restaurant_id, q.creation_date"""),

    "q234_matryoshka_recall" ->
      ExtOracleSql.matryoshkaRecall(k = 5, dims = 8),

    "q235_decayed_value" -> OracleSql.withBase(
      """dva AS (SELECT max(creation_date) AS today FROM order_revenue),
         dvl AS (SELECT user_id,
                        CAST(round(total_revenue * 10000) AS BIGINT) AS cents,
                        least(datediff('day', creation_date, today) // 30, 40)
                          AS k
                 FROM order_revenue CROSS JOIN dva),
         dvq AS (SELECT user_id, cents,
                        (cents * 1000000) // CAST(power(2, k) AS BIGINT) AS dq
                 FROM dvl)""",
      """SELECT user_id, count(*) AS n_lines,
                round(CAST(sum(cents) AS BIGINT) / 10000.0, 6) AS revenue,
                round(CAST(sum(dq) AS BIGINT) / 10000000000.0, 6)
                  AS decayed_value
         FROM dvq GROUP BY 1 ORDER BY user_id"""),

    "q236_wallet_share" -> OracleSql.withBase(
      """wsv AS (SELECT user_id, restaurant_id,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         AS cents
                FROM order_revenue GROUP BY 1, 2),
         wsu AS (SELECT user_id, CAST(sum(cents) AS BIGINT) AS total,
                        max(cents) AS top, count(*) AS n_venues
                 FROM wsv GROUP BY 1),
         wsb AS (SELECT user_id, total, top, n_venues,
                        least((top * 10) // total, 9) AS bucket
                 FROM wsu WHERE total > 0)""",
      """SELECT bucket, count(*) AS n_users,
                round(CAST(sum(top) AS BIGINT)
                  / CAST(CAST(sum(total) AS BIGINT) AS DOUBLE), 6)
                  AS pooled_share,
                round(CAST(sum(n_venues) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
                  AS avg_venues
         FROM wsb GROUP BY 1 ORDER BY bucket"""),

    "q237_ols_price_model" ->
      """WITH ov AS (
           SELECT p.p_brand,
                  CAST(round(l.l_extendedprice) AS BIGINT) AS y,
                  CAST(l.l_quantity AS BIGINT) AS x1,
                  CAST(round(l.l_discount * 100) AS BIGINT) AS x2
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         oa AS (
           SELECT p_brand, count(*) AS n,
                  CAST(sum(x1) AS BIGINT) AS sx1,
                  CAST(sum(x2) AS BIGINT) AS sx2,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x1 * x1) AS BIGINT) AS sx11,
                  CAST(sum(x2 * x2) AS BIGINT) AS sx22,
                  CAST(sum(x1 * x2) AS BIGINT) AS sx12,
                  CAST(sum(x1 * y) AS BIGINT) AS sx1y,
                  CAST(sum(x2 * y) AS BIGINT) AS sx2y,
                  CAST(sum(y * y) AS BIGINT) AS syy
           FROM ov GROUP BY 1),
         oc AS (
           SELECT p_brand, n, sx1, sx2, sy,
                  CAST(n AS DOUBLE) * sx11 - CAST(sx1 AS DOUBLE) * sx1 AS s11,
                  CAST(n AS DOUBLE) * sx22 - CAST(sx2 AS DOUBLE) * sx2 AS s22,
                  CAST(n AS DOUBLE) * sx12 - CAST(sx1 AS DOUBLE) * sx2 AS s12,
                  CAST(n AS DOUBLE) * sx1y - CAST(sx1 AS DOUBLE) * sy AS sy1,
                  CAST(n AS DOUBLE) * sx2y - CAST(sx2 AS DOUBLE) * sy AS sy2,
                  CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS syc
           FROM oa),
         od AS (SELECT *, s11 * s22 - s12 * s12 AS det FROM oc),
         ob AS (SELECT *,
                       (sy1 * s22 - sy2 * s12) / det AS b1,
                       (sy2 * s11 - sy1 * s12) / det AS b2
                FROM od WHERE det > 0 AND syc > 0)
         SELECT p_brand, n,
                round((CAST(sy AS DOUBLE) - b1 * sx1 - b2 * sx2) / n, 6) AS b0,
                round(b1, 6) AS b1, round(b2, 6) AS b2,
                round((b1 * sy1 + b2 * sy2) / syc, 6) AS r2
         FROM ob ORDER BY p_brand""",

    "q238_neyman_allocation" ->
      """WITH nm AS (
           SELECT source AS stratum, count(*) AS n_h,
                  CAST(sum(n_chars) AS BIGINT) AS sy,
                  CAST(sum(n_chars * n_chars) AS BIGINT) AS syy
           FROM documents GROUP BY 1 HAVING count(*) > 1),
         ns AS (
           SELECT stratum, n_h,
                  sqrt((CAST(n_h AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                       / (CAST(n_h AS DOUBLE) * (n_h - 1.0))) AS s_h
           FROM nm),
         nw AS (SELECT *, CAST(round(CAST(n_h AS DOUBLE) * s_h * 1000)
                  AS BIGINT) AS w FROM ns),
         nt AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM nw)
         SELECT stratum, n_h, round(s_h, 6) AS stddev,
                round(CAST(w AS DOUBLE) / tw, 6) AS neyman_share,
                (1000 * w) // tw AS allocated
         FROM nw CROSS JOIN nt WHERE tw > 0 ORDER BY stratum""",

    "q239_dq_rules" ->
      graft.ext.Quality.dqRuleAuditSql("lineitem", graft.ext.Quality.LineitemRules),

    "q240_rank_trajectory" -> OracleSql.withBase(
      """rtm AS (SELECT CAST(date_trunc('month', creation_date) AS DATE)
                          AS month,
                        item_category,
                        CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                          AS cents
                 FROM order_revenue GROUP BY 1, 2),
         rtr AS (SELECT month, item_category, cents,
                        dense_rank() OVER (PARTITION BY month
                          ORDER BY cents DESC, item_category ASC) AS rank
                 FROM rtm)""",
      """SELECT month, item_category,
                round(cents / 10000.0, 6) AS revenue, rank,
                lag(rank) OVER (PARTITION BY item_category ORDER BY month)
                  - rank AS rank_delta
         FROM rtr ORDER BY month, rank"""),

    "q241_trade_matrix" ->
      """WITH tj AS (
           SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
                  year(o.o_orderdate) AS yr,
                  CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS net_cents
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation cn ON c.c_nationkey = cn.n_nationkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
         SELECT cust_nation, supp_nation, yr, count(*) AS n_lines,
                round(CAST(sum(net_cents) AS BIGINT) / 100.0, 6) AS revenue
         FROM tj GROUP BY 1, 2, 3
         ORDER BY cust_nation, supp_nation, yr""",

    "q242_market_share" ->
      """WITH mm AS (
           SELECT r.r_name AS cust_region, year(o.o_orderdate) AS yr,
                  sn.n_name AS supp_nation,
                  CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS net_cents
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation cn ON c.c_nationkey = cn.n_nationkey
           JOIN region r ON cn.n_regionkey = r.r_regionkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
         SELECT cust_region, yr,
                round(CAST(sum(net_cents) AS BIGINT) / 100.0, 6)
                  AS total_revenue,
                round(CAST(sum(CASE WHEN supp_nation = 'NATION_0'
                      THEN net_cents ELSE 0 END) AS BIGINT) / 100.0, 6)
                  AS target_revenue,
                round(CAST(sum(CASE WHEN supp_nation = 'NATION_0'
                      THEN net_cents ELSE 0 END) AS DOUBLE)
                  / CAST(sum(net_cents) AS BIGINT), 6) AS market_share
         FROM mm GROUP BY 1, 2 HAVING sum(net_cents) > 0
         ORDER BY cust_region, yr""",

    "q243_promo_share" ->
      """WITH pm AS (
           SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE)
                    AS ship_month,
                  p.p_type,
                  CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS net_cents
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
         SELECT ship_month,
                round(CAST(sum(net_cents) AS BIGINT) / 100.0, 6)
                  AS total_revenue,
                round(CAST(sum(CASE WHEN p_type = 'PROMO'
                      THEN net_cents ELSE 0 END) AS BIGINT) / 100.0, 6)
                  AS promo_revenue,
                round(CAST(sum(CASE WHEN p_type = 'PROMO'
                      THEN net_cents ELSE 0 END) AS DOUBLE)
                  / CAST(sum(net_cents) AS BIGINT), 6) AS promo_share
         FROM pm GROUP BY 1 HAVING sum(net_cents) > 0
         ORDER BY ship_month""",

    "q244_centroid_confusion" ->
      """WITH v AS (
           SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         e AS (
           SELECT label,
                  unnest(generate_series(1, len(emb))) - 1 AS pos,
                  unnest(emb) AS x
           FROM v),
         c AS (
           SELECT label, pos,
                  (sum(round(x * 1000000)) / count(*)) / 1000000.0 AS cc
           FROM e GROUP BY 1, 2)
         SELECT a.label AS label_a, b.label AS label_b,
                round(sqrt(CAST(sum(CAST(round((a.cc - b.cc) * (a.cc - b.cc)
                      * 1000000000000.0) AS BIGINT)) AS BIGINT)
                  / 1000000000000.0), 6) AS l2_dist
         FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
         GROUP BY 1, 2 ORDER BY label_a, label_b""",

    "q245_ship_latency" ->
      """WITH sl AS (
           SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE)
                    AS order_month,
                  datediff('day', o.o_orderdate, l.l_shipdate) AS lat
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT order_month, count(*) AS n_lines,
                ((CAST(sum(lat) AS BIGINT) * 1000000 * 2 + count(*))
                  // (count(*) * 2)) / 1000000.0 AS mean_days,
                round(quantile_cont(lat, 0.5), 6) AS p50,
                round(quantile_cont(lat, 0.9), 6) AS p90,
                round(quantile_cont(lat, 0.99), 6) AS p99
         FROM sl GROUP BY 1 ORDER BY order_month""",

    "q246_forecast_bands" -> OracleSql.withBase(
      """fbd AS (SELECT restaurant_id, creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         AS cents
                FROM order_revenue GROUP BY 1, 2),
         fbs AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM fbd GROUP BY 1),
         fbn AS (SELECT restaurant_id, d1,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM fbs),
         fbg AS (SELECT n.restaurant_id, n.creation_date, n.d1,
                        coalesce(t.cents, 0) AS x
                 FROM fbn n LEFT JOIN fbd t
                   ON n.restaurant_id = t.restaurant_id
                  AND n.creation_date = t.creation_date),
         fbl AS (SELECT *, lag(x, 7) OVER (PARTITION BY restaurant_id
                   ORDER BY creation_date) AS f
                 FROM fbg),
         fbr AS (SELECT restaurant_id, creation_date, d1, x, f, x - f AS r
                 FROM fbl WHERE f IS NOT NULL),
         fbb AS (SELECT restaurant_id, count(*) AS n_train,
                        quantile_cont(r, 0.1) AS p10,
                        quantile_cont(r, 0.9) AS p90
                 FROM fbr
                 WHERE NOT (creation_date > d1 - INTERVAL 7 DAY)
                 GROUP BY 1)""",
      """SELECT h.restaurant_id, h.creation_date, b.n_train,
                h.x / 10000.0 AS actual, h.f / 10000.0 AS forecast,
                (h.f + b.p10) / 10000.0 AS lo,
                (h.f + b.p90) / 10000.0 AS hi,
                (CAST(h.x AS DOUBLE) >= h.f + b.p10
                 AND CAST(h.x AS DOUBLE) <= h.f + b.p90) AS within_band
         FROM fbr h JOIN fbb b ON h.restaurant_id = b.restaurant_id
         WHERE h.creation_date > h.d1 - INTERVAL 7 DAY
         ORDER BY h.restaurant_id, h.creation_date"""),

    "q247_seasonal_strength" -> OracleSql.withBase(
      """ssd AS (SELECT restaurant_id, creation_date,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         // 10000 AS d
                FROM order_revenue GROUP BY 1, 2),
         ssw AS (SELECT restaurant_id, isodow(creation_date) - 1 AS wd,
                        count(*) AS ng, CAST(sum(d) AS BIGINT) AS sg,
                        CAST(sum(d * d) AS BIGINT) AS sgg
                 FROM ssd GROUP BY 1, 2),
         sstt AS (SELECT *, CAST(floor(CAST(sg AS DOUBLE) * sg / ng * 1000
                    + 0.5) AS BIGINT) AS tg
                  FROM ssw),
         ssa AS (SELECT restaurant_id, CAST(sum(ng) AS BIGINT) AS n,
                        CAST(sum(sg) AS BIGINT) AS s,
                        CAST(sum(sgg) AS BIGINT) AS sxx,
                        CAST(sum(tg) AS BIGINT) AS tb,
                        count(*) AS n_weekdays
                 FROM sstt GROUP BY 1),
         ssf AS (SELECT restaurant_id, n AS n_days, n_weekdays, tb,
                        CAST(s AS DOUBLE) * s / n AS cf,
                        CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * s / n
                          AS sstv
                 FROM ssa)""",
      """SELECT restaurant_id, n_days, n_weekdays,
                floor(((tb / 1000.0 - cf) / sstv) * 1000000.0 + 0.5)
                  / 1000000.0 AS seasonal_strength
         FROM ssf WHERE sstv > 0 ORDER BY restaurant_id"""),

    "q248_growth_accounting" -> OracleSql.withBase(
      """gau AS (SELECT DISTINCT user_id,
                       year(creation_date) * 12 + month(creation_date) - 1
                         AS mi
                FROM order_revenue),
         gaf AS (SELECT user_id, mi,
                        lag(mi) OVER (PARTITION BY user_id ORDER BY mi)
                          AS prev,
                        lead(mi) OVER (PARTITION BY user_id ORDER BY mi)
                          AS nxt
                 FROM gau),
         gas AS (SELECT mi, count(*) AS n_active,
                        CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_new,
                        CAST(sum(CASE WHEN prev = mi - 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_retained,
                        CAST(sum(CASE WHEN prev IS NOT NULL
                              AND prev < mi - 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_resurrected
                 FROM gaf GROUP BY 1),
         gam AS (SELECT max(mi) AS max_mi FROM gau),
         gac AS (SELECT f.mi + 1 AS mi, count(*) AS n_churned
                 FROM gaf f CROSS JOIN gam m
                 WHERE (f.nxt IS NULL OR f.nxt > f.mi + 1)
                   AND f.mi + 1 <= m.max_mi
                 GROUP BY 1)""",
      """SELECT make_date(coalesce(s.mi, c.mi) // 12,
                          coalesce(s.mi, c.mi) % 12 + 1, 1) AS month,
                coalesce(s.n_active, 0) AS n_active,
                coalesce(s.n_new, 0) AS n_new,
                coalesce(s.n_retained, 0) AS n_retained,
                coalesce(s.n_resurrected, 0) AS n_resurrected,
                coalesce(c.n_churned, 0) AS n_churned
         FROM gas s FULL JOIN gac c ON s.mi = c.mi
         ORDER BY month"""),

    "q249_price_ladder" ->
      """WITH plu AS (
           SELECT p.p_type AS item_category,
                  CAST(round(l.l_extendedprice / l.l_quantity * 100)
                    AS BIGINT) AS uc
           FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         pla AS (
           SELECT item_category, count(*) AS n_lines,
                  quantile_cont(uc, 0.25) AS c25,
                  quantile_cont(uc, 0.5) AS c50,
                  quantile_cont(uc, 0.75) AS c75,
                  quantile_cont(uc, 0.9) AS c90
           FROM plu GROUP BY 1)
         SELECT item_category, n_lines,
                round(c25 / 100.0, 6) AS p25, round(c50 / 100.0, 6) AS p50,
                round(c75 / 100.0, 6) AS p75, round(c90 / 100.0, 6) AS p90,
                round(c90 / c50, 6) AS premium_index
         FROM pla WHERE c50 > 0 ORDER BY item_category""",

    "q250_lorenz_curve" -> OracleSql.withBase(
      """lzu AS (SELECT user_id,
                       CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                         AS cents
                FROM order_revenue GROUP BY 1),
         lzd AS (SELECT user_id, cents,
                        ntile(10) OVER (ORDER BY cents ASC, user_id ASC)
                          AS decile
                 FROM lzu),
         lzt AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM lzu),
         lza AS (SELECT decile, count(*) AS n_users,
                        CAST(sum(cents) AS BIGINT) AS dc
                 FROM lzd GROUP BY 1),
         lzc AS (SELECT *, CAST(sum(dc) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_dc
                 FROM lza)""",
      """SELECT decile, n_users,
                round(CAST(dc AS DOUBLE) / total_cents, 6) AS revenue_share,
                round(CAST(cum_dc AS DOUBLE) / total_cents, 6) AS cum_share
         FROM lzc CROSS JOIN lzt ORDER BY decile"""),

    "q251_source_lang_mix" ->
      """WITH slc AS (
           SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
         sla AS (
           SELECT source, count(*) AS n_langs,
                  CAST(sum(c) AS BIGINT) AS n_docs, max(c) AS top_c,
                  CAST(sum(CAST(round(c * ln(c) * 1e9) AS BIGINT)) AS BIGINT)
                    AS sn
           FROM slc GROUP BY 1)
         SELECT source, n_docs, n_langs,
                ((top_c * 1000000 * 2 + n_docs) // (n_docs * 2)) / 1000000.0
                  AS top_lang_share,
                round(ln(n_docs) - (sn / 1e9) / n_docs, 6) AS lang_entropy
         FROM sla ORDER BY source""",

    "q252_dedup_yield" ->
      """WITH dd AS (
           SELECT doc_id, source, n_chars AS nb, md5(text) AS h
           FROM documents),
         dk AS (SELECT h, min(doc_id) AS keep_id FROM dd GROUP BY 1),
         da AS (
           SELECT d.source, count(*) AS n_docs,
                  CAST(sum(CASE WHEN d.doc_id != k.keep_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed,
                  CAST(sum(CASE WHEN d.doc_id != k.keep_id THEN d.nb
                           ELSE 0 END) AS BIGINT) AS bytes_removed,
                  CAST(sum(d.nb) AS BIGINT) AS bytes_total
           FROM dd d JOIN dk k USING (h) GROUP BY 1)
         SELECT source, n_docs, n_removed,
                ((n_removed * 1000000 * 2 + n_docs) // (n_docs * 2))
                  / 1000000.0 AS removal_share,
                bytes_removed, bytes_total
         FROM da ORDER BY source""",

    "q253_quality_dup" -> ExtOracleSql.qualityDupDeciles,

    "q254_lm_length_bias" -> ExtOracleSql.lmLengthBias,

    "q255_ngram_novelty" -> ExtOracleSql.ngramNovelty(bucketSize = 50),

    "q256_rca_index" -> OracleSql.withBase(
      """rcd AS (SELECT s.s_suppkey AS restaurant_id, n.n_name AS nation
                FROM supplier s
                JOIN nation n ON s.s_nationkey = n.n_nationkey),
         rcc AS (SELECT d.nation, o.item_category,
                        CAST(sum(round(o.total_revenue * 10000)) AS BIGINT)
                          AS a
                 FROM order_revenue o JOIN rcd d USING (restaurant_id)
                 GROUP BY 1, 2),
         rcw AS (SELECT *,
                        CAST(sum(a) OVER (PARTITION BY nation) AS BIGINT)
                          AS b,
                        CAST(sum(a) OVER (PARTITION BY item_category)
                          AS BIGINT) AS c,
                        CAST(sum(a) OVER () AS BIGINT) AS d
                 FROM rcc),
         rcr AS (SELECT nation, item_category, a,
                        round((CAST(a AS DOUBLE) / b)
                          / (CAST(c AS DOUBLE) / d), 6) AS rca
                 FROM rcw WHERE a > 0 AND b > 0 AND c > 0)""",
      """SELECT nation, item_category, round(a / 10000.0, 6) AS revenue,
                rca, rca >= 1.25 AS specialized
         FROM rcr ORDER BY nation, item_category"""),

    "q257_share_of_parent" -> OracleSql.withBase(
      """spd AS (SELECT s.s_suppkey AS restaurant_id, n.n_name AS nation,
                        r.r_name AS region
                 FROM supplier s
                 JOIN nation n ON s.s_nationkey = n.n_nationkey
                 JOIN region r ON n.n_regionkey = r.r_regionkey),
         spl AS (SELECT d.region, d.nation, o.restaurant_id,
                        CAST(sum(round(o.total_revenue * 10000)) AS BIGINT)
                          AS cents
                 FROM order_revenue o JOIN spd d USING (restaurant_id)
                 GROUP BY 1, 2, 3),
         spw AS (SELECT *,
                        CAST(sum(cents) OVER (PARTITION BY region, nation)
                          AS BIGINT) AS nat_cents,
                        CAST(sum(cents) OVER (PARTITION BY region)
                          AS BIGINT) AS reg_cents,
                        CAST(sum(cents) OVER () AS BIGINT) AS all_cents
                 FROM spl)""",
      """SELECT region, nation, restaurant_id,
                round(cents / 10000.0, 6) AS revenue,
                round(CAST(cents AS DOUBLE) / nat_cents, 6)
                  AS share_of_nation,
                round(CAST(nat_cents AS DOUBLE) / reg_cents, 6)
                  AS nation_share_of_region,
                round(CAST(reg_cents AS DOUBLE) / all_cents, 6)
                  AS region_share_of_market
         FROM spw WHERE cents > 0
         ORDER BY region, nation, restaurant_id"""),

    "q258_norm_audit" -> ExtOracleSql.embeddingNormAudit,

    "q259_pq_code_balance" ->
      ExtOracleSql.pqCodeBalance(blocks = 4, seedEvery = 100),

    "q260_pr_curve" -> ExtOracleSql.prCurveQualityEn,

    "q261_t_closeness" ->
      """WITH tcb AS (SELECT c_nationkey AS qi, c_mktsegment AS sv
                      FROM customer),
         tcc AS (SELECT qi, sv, count(*) AS c FROM tcb GROUP BY 1, 2),
         tcn AS (SELECT qi, CAST(sum(c) AS BIGINT) AS n FROM tcc GROUP BY 1),
         tcg AS (SELECT sv, count(*) AS g FROM tcb GROUP BY 1),
         tct AS (SELECT CAST(sum(g) AS BIGINT) AS ng FROM tcg),
         tcx AS (SELECT nn.qi, nn.n, t.ng, gg.sv, gg.g, cc.c
                 FROM tcn nn CROSS JOIN tcg gg CROSS JOIN tct t
                 LEFT JOIN tcc cc ON cc.qi = nn.qi AND cc.sv = gg.sv),
         tca AS (SELECT qi, n, ng,
                        CAST(sum(abs(coalesce(c, 0) * ng - g * n)) AS BIGINT)
                          AS num
                 FROM tcx GROUP BY 1, 2, 3)
         SELECT qi, n AS class_size,
                ((num * 1000000 * 2 + (n * ng * 2)) // (n * ng * 2 * 2))
                  / 1000000.0 AS t_closeness
         FROM tca ORDER BY qi""",

    "q262_cf_backtest" -> OracleSql.withBase(
      """cfo AS (SELECT user_id, order_id, creation_date,
                        item_category AS cat
                 FROM order_revenue),
         cfl AS (SELECT user_id, order_id,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY creation_date DESC, order_id DESC) AS rn
                 FROM (SELECT DISTINCT user_id, order_id, creation_date
                       FROM cfo) z),
         cfho AS (SELECT user_id, order_id AS ho FROM cfl WHERE rn = 1),
         cft AS (SELECT o.*, h.ho FROM cfo o JOIN cfho h USING (user_id)),
         cftr AS (SELECT * FROM cft WHERE order_id != ho),
         cfhold AS (SELECT DISTINCT user_id, cat FROM cft
                    WHERE order_id = ho),
         cfb AS (SELECT DISTINCT order_id AS basket_id, cat AS item
                 FROM cftr),
         cfcnt AS (SELECT item, count(*) AS n_item FROM cfb GROUP BY 1),
         cfhalf AS (SELECT a.item AS item_a, b.item AS item_b,
                           count(*) AS cooc
                    FROM cfb a JOIN cfb b
                      ON a.basket_id = b.basket_id AND a.item < b.item
                    GROUP BY 1, 2 HAVING count(*) >= 2),
         cfsym AS (SELECT item_a, item_b, cooc FROM cfhalf
                   UNION ALL
                   SELECT item_b, item_a, cooc FROM cfhalf),
         cfsim AS (SELECT s.item_a, s.item_b,
                          CAST(round(s.cooc /
                            sqrt(CAST(ca.n_item * cb.n_item AS DOUBLE))
                            * 1e6) AS BIGINT) AS simq
                   FROM cfsym s
                   JOIN cfcnt ca ON s.item_a = ca.item
                   JOIN cfcnt cb ON s.item_b = cb.item),
         cfprof AS (SELECT DISTINCT user_id, cat FROM cftr),
         cfsc AS (SELECT p.user_id, s.item_b AS cand,
                         CAST(sum(s.simq) AS BIGINT) AS score
                  FROM cfprof p JOIN cfsim s ON p.cat = s.item_a
                  GROUP BY 1, 2),
         cfscx AS (SELECT sc.* FROM cfsc sc
                   WHERE NOT EXISTS (SELECT 1 FROM cfprof p
                                     WHERE p.user_id = sc.user_id
                                       AND p.cat = sc.cand)),
         cfrec AS (SELECT user_id, cand FROM (
                     SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY score DESC, cand ASC) AS rk
                     FROM cfscx) z
                   WHERE rk <= 3),
         cfhit AS (SELECT DISTINCT r.user_id FROM cfrec r
                   JOIN cfhold h
                     ON r.user_id = h.user_id AND r.cand = h.cat),
         cfbr AS (SELECT user_id, least(count(*), 12) AS n_train_cats
                  FROM cfprof GROUP BY 1),
         cfa AS (SELECT b.n_train_cats, count(*) AS n_users,
                        CAST(sum(CASE WHEN t.user_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
                 FROM (SELECT DISTINCT user_id FROM cfhold) e
                 JOIN cfbr b USING (user_id)
                 LEFT JOIN cfhit t ON e.user_id = t.user_id
                 GROUP BY 1)""",
      """SELECT n_train_cats, n_users, n_hits,
                ((n_hits * 1000000 * 2 + n_users) // (n_users * 2))
                  / 1000000.0 AS hit_rate
         FROM cfa ORDER BY n_train_cats"""),

    "q263_spearman" ->
      """WITH spv AS (
             SELECT p_brand,
                    CAST(round(l_quantity) AS BIGINT) AS x,
                    CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS y
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         spr AS (
             SELECT p_brand,
                    CAST(rank() OVER (PARTITION BY p_brand ORDER BY x)
                      AS BIGINT) * 2
                      + count(*) OVER (PARTITION BY p_brand, x) - 1 AS rx2,
                    CAST(rank() OVER (PARTITION BY p_brand ORDER BY y)
                      AS BIGINT) * 2
                      + count(*) OVER (PARTITION BY p_brand, y) - 1 AS ry2
             FROM spv),
         spm AS (
             SELECT p_brand, count(*) AS n,
                    sum(CAST(rx2 AS HUGEINT)) AS sx,
                    sum(CAST(ry2 AS HUGEINT)) AS sy,
                    sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
                    sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
                    sum(CAST(ry2 AS HUGEINT) * ry2) AS syy
             FROM spr GROUP BY 1)
         SELECT p_brand, CAST(n AS BIGINT) AS n,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                     END AS rho
         FROM spm ORDER BY p_brand""",

    "q264_kruskal_wallis" -> OracleSql.withBase(
      """kwv AS (SELECT item_category AS g,
                       CAST(round(total_revenue * 10000) AS BIGINT) AS c
                FROM order_revenue),
         kwh AS (SELECT c, count(*) AS t FROM kwv GROUP BY 1),
         kwr AS (SELECT c,
                        2 * COALESCE(sum(t) OVER (ORDER BY c
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) + t + 1 AS r2
                 FROM kwh),
         kwg AS (SELECT g, count(*) AS n_i, sum(CAST(r2 AS HUGEINT)) AS s2
                 FROM kwv JOIN kwr USING (c) GROUP BY 1),
         kwu AS (SELECT n_i,
                        CAST(round(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                          / (4.0 * CAST(n_i AS DOUBLE)) * 1000000.0)
                          AS HUGEINT) AS term_units
                 FROM kwg),
         kwties AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tt
                    FROM kwh),
         kwtot AS (SELECT count(*) AS n_groups,
                          CAST(sum(n_i) AS BIGINT) AS n_total,
                          sum(term_units) AS hu
                   FROM kwu)""",
      """SELECT CAST(n_groups AS BIGINT) AS n_groups, n_total,
                round(12.0 / (CAST(n_total AS DOUBLE)
                        * (CAST(n_total AS DOUBLE) + 1.0))
                      * (CAST(hu AS DOUBLE) / 1000000.0)
                      - 3.0 * (CAST(n_total AS DOUBLE) + 1.0), 6) AS h,
                CASE WHEN 1.0 - CAST(tt AS DOUBLE)
                        / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                           * CAST(n_total AS DOUBLE)
                           - CAST(n_total AS DOUBLE)) > 0
                     THEN round((12.0 / (CAST(n_total AS DOUBLE)
                              * (CAST(n_total AS DOUBLE) + 1.0))
                            * (CAST(hu AS DOUBLE) / 1000000.0)
                            - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
                          / (1.0 - CAST(tt AS DOUBLE)
                             / (CAST(n_total AS DOUBLE)
                                * CAST(n_total AS DOUBLE)
                                * CAST(n_total AS DOUBLE)
                                - CAST(n_total AS DOUBLE))), 6)
                     END AS h_tie_adj
         FROM kwtot CROSS JOIN kwties"""),

    "q265_diff_in_diff" -> OracleSql.withBase(
      """ddb AS (SELECT min(creation_date) AS d0, max(creation_date) AS d1
                 FROM order_revenue),
         dds AS (SELECT d0 + CAST((d1 - d0) // 2 AS INTEGER) AS split
                 FROM ddb),
         ddv AS (SELECT r.is_loyalty AS t, r.creation_date > s.split AS p,
                        CAST(round(r.total_revenue * 10000) AS BIGINT) AS c,
                        s.split
                 FROM order_revenue r CROSS JOIN dds s),
         dda AS (SELECT max(split) AS split_date,
                        CAST(sum(CASE WHEN t AND NOT p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_tp,
                        CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_tp,
                        CAST(sum(CASE WHEN t AND p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_tq,
                        CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_tq,
                        CAST(sum(CASE WHEN NOT t AND NOT p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_cp,
                        CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_cp,
                        CAST(sum(CASE WHEN NOT t AND p THEN c ELSE 0 END)
                          AS BIGINT) AS cents_cq,
                        CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_cq
                 FROM ddv)""",
      """SELECT split_date,
                n_tp AS n_treat_pre, n_tq AS n_treat_post,
                n_cp AS n_ctrl_pre, n_cq AS n_ctrl_post,
                CASE WHEN n_tp > 0 THEN round(CAST(cents_tp AS DOUBLE)
                  / (10000.0 * n_tp), 6) END AS mean_treat_pre,
                CASE WHEN n_tq > 0 THEN round(CAST(cents_tq AS DOUBLE)
                  / (10000.0 * n_tq), 6) END AS mean_treat_post,
                CASE WHEN n_cp > 0 THEN round(CAST(cents_cp AS DOUBLE)
                  / (10000.0 * n_cp), 6) END AS mean_ctrl_pre,
                CASE WHEN n_cq > 0 THEN round(CAST(cents_cq AS DOUBLE)
                  / (10000.0 * n_cq), 6) END AS mean_ctrl_post,
                CASE WHEN n_tp > 0 AND n_tq > 0 AND n_cp > 0 AND n_cq > 0
                  THEN round((CAST(cents_tq AS DOUBLE) / (10000.0 * n_tq)
                       - CAST(cents_tp AS DOUBLE) / (10000.0 * n_tp))
                      - (CAST(cents_cq AS DOUBLE) / (10000.0 * n_cq)
                         - CAST(cents_cp AS DOUBLE) / (10000.0 * n_cp)), 6)
                  END AS did_estimate
         FROM dda"""),

    "q266_abc_xyz" ->
      """WITH axm AS (
             SELECT l_partkey, date_trunc('month', l_shipdate) AS mth,
                    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100))
                      AS BIGINT) AS cents,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS qty
             FROM lineitem GROUP BY 1, 2),
         axp AS (
             SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS cents,
                    count(*) AS m, CAST(sum(qty) AS BIGINT) AS sq,
                    CAST(sum(qty * qty) AS BIGINT) AS sqq
             FROM axm GROUP BY 1),
         axc AS (
             SELECT *, CAST(sum(cents) OVER (ORDER BY cents DESC,
                      l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cum
             FROM axp),
         axt AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM axp),
         axx AS (
             SELECT CASE WHEN CAST(cum AS HUGEINT) * 5
                              <= CAST(tot AS HUGEINT) * 4 THEN 'A'
                         WHEN CAST(cum AS HUGEINT) * 20
                              <= CAST(tot AS HUGEINT) * 19 THEN 'B'
                         ELSE 'C' END AS abc_class,
                    CASE WHEN m <= 1 OR sq = 0 THEN 'Z'
                         WHEN sqrt((CAST(m AS DOUBLE) * CAST(sqq AS DOUBLE)
                                - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                               / (CAST(m AS DOUBLE)
                                  * (CAST(m AS DOUBLE) - 1.0)))
                              / (CAST(sq AS DOUBLE) / CAST(m AS DOUBLE))
                              < 0.5 THEN 'X'
                         WHEN sqrt((CAST(m AS DOUBLE) * CAST(sqq AS DOUBLE)
                                - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                               / (CAST(m AS DOUBLE)
                                  * (CAST(m AS DOUBLE) - 1.0)))
                              / (CAST(sq AS DOUBLE) / CAST(m AS DOUBLE))
                              < 1.0 THEN 'Y'
                         ELSE 'Z' END AS xyz_class,
                    cents, tot
             FROM axc CROSS JOIN axt)
         SELECT abc_class, xyz_class, count(*) AS n_parts,
                round(CAST(sum(cents) AS DOUBLE) / max(tot), 6)
                  AS revenue_share
         FROM axx GROUP BY 1, 2 ORDER BY 1, 2""",

    "q267_order_aging" ->
      """WITH aga AS (SELECT CAST(max(o_orderdate) AS DATE) AS today
                      FROM orders),
         agb AS (
             SELECT o_orderpriority,
                    CASE WHEN a.today - CAST(o_orderdate AS DATE) <= 30
                           THEN 0
                         WHEN a.today - CAST(o_orderdate AS DATE) <= 90
                           THEN 1
                         WHEN a.today - CAST(o_orderdate AS DATE) <= 365
                           THEN 2
                         ELSE 3 END AS bucket_id,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS c
             FROM orders CROSS JOIN aga a)
         SELECT o_orderpriority, bucket_id,
                CASE bucket_id WHEN 0 THEN '0-30' WHEN 1 THEN '31-90'
                  WHEN 2 THEN '91-365' ELSE '365+' END AS age_bucket,
                count(*) AS n_orders,
                CAST(sum(c) AS BIGINT) / 100.0 AS total_value
         FROM agb GROUP BY 1, 2 ORDER BY 1, 2""",

    "q268_safety_stock" ->
      """WITH ssd AS (
             SELECT p_brand, CAST(l_shipdate AS DATE) AS ship_day,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS q
             FROM lineitem JOIN part ON l_partkey = p_partkey
             GROUP BY 1, 2),
         ssm AS (
             SELECT p_brand, count(*) AS n_days,
                    CAST(sum(q) AS BIGINT) AS sq,
                    CAST(sum(q * q) AS BIGINT) AS sqq
             FROM ssd GROUP BY 1)
         SELECT p_brand, CAST(n_days AS BIGINT) AS n_days,
                round(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
                  AS mean_daily_qty,
                round(sqrt((CAST(n_days AS DOUBLE) * CAST(sqq AS DOUBLE)
                        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                      / (CAST(n_days AS DOUBLE)
                         * (CAST(n_days AS DOUBLE) - 1.0))), 6)
                  AS sigma_daily,
                round(1.6448536269514722
                      * sqrt((CAST(n_days AS DOUBLE) * CAST(sqq AS DOUBLE)
                           - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                         / (CAST(n_days AS DOUBLE)
                            * (CAST(n_days AS DOUBLE) - 1.0)))
                      * sqrt(7.0), 6) AS safety_stock,
                round(CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE) * 7.0
                      + 1.6448536269514722
                        * sqrt((CAST(n_days AS DOUBLE) * CAST(sqq AS DOUBLE)
                             - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                           / (CAST(n_days AS DOUBLE)
                              * (CAST(n_days AS DOUBLE) - 1.0)))
                        * sqrt(7.0), 6) AS reorder_point
         FROM ssm WHERE n_days > 1 ORDER BY p_brand""",

    "q270_shipping_backlog" ->
      """WITH bc AS (SELECT c_custkey FROM customer
                     WHERE c_mktsegment = 'BUILDING'),
         bo AS (SELECT o_orderkey, o_orderdate, o_orderpriority
                FROM orders JOIN bc ON o_custkey = c_custkey
                WHERE o_orderdate < '1998-06-01'),
         bl AS (SELECT l_orderkey,
                       CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT) AS cents
                FROM lineitem WHERE l_shipdate > '1998-06-01')
         SELECT o_orderkey, CAST(sum(cents) AS BIGINT) / 100.0 AS revenue,
                o_orderdate, o_orderpriority
         FROM bl JOIN bo ON l_orderkey = o_orderkey
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY CAST(sum(cents) AS BIGINT) DESC, o_orderkey
         LIMIT 10""",

    "q271_local_supplier_volume" ->
      """WITH lnat AS (
             SELECT n_nationkey, n_name FROM nation
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'ASIA')
         SELECT n_name AS nation, count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN lnat ON c_nationkey = n_nationkey
         WHERE c_nationkey = s_nationkey
           AND s_nationkey IN (SELECT n_nationkey FROM lnat)
           AND year(o_orderdate) = 1997
         GROUP BY 1 ORDER BY nation""",

    "q272_repricing_whatif" ->
      """SELECT count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                  / 10000.0 AS forgone_revenue
         FROM lineitem
         WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q273_catalog_margin" ->
      """SELECT n_name AS nation, year(o_orderdate) AS yr,
                count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)
                    - CAST(round(p_retailprice * 100) AS BIGINT)
                      * CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                  / 100.0 AS catalog_margin
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2 ORDER BY nation, yr""",

    "q274_returns_triage" ->
      """WITH ro AS (SELECT o_orderkey, o_custkey FROM orders
                     WHERE o_orderdate >= '1997-10-01'
                       AND o_orderdate < '1998-01-01'),
         rl AS (SELECT l_orderkey,
                       CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT) AS cents
                FROM lineitem WHERE l_returnflag = 'R'),
         rc AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS cents
                FROM rl JOIN ro ON l_orderkey = o_orderkey GROUP BY 1)
         SELECT c_custkey, c_name, cents / 100.0 AS returned_revenue,
                c_acctbal, n_name AS nation
         FROM rc
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY cents DESC, c_custkey LIMIT 20""",

    "q275_order_count_histogram" ->
      """WITH pc AS (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer
             LEFT JOIN orders ON c_custkey = o_custkey
               AND o_orderpriority <> '1-URGENT'
             GROUP BY 1)
         SELECT c_count, count(*) AS custdist
         FROM pc GROUP BY 1
         ORDER BY custdist DESC, c_count DESC""",

    "q276_top_quarter_supplier" ->
      """WITH sr AS (
             SELECT l_suppkey,
                    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                      * 100) AS BIGINT)) AS BIGINT) AS cents
             FROM lineitem
             WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
             GROUP BY 1)
         SELECT s_suppkey, s_name, cents / 100.0 AS total_revenue
         FROM sr JOIN supplier ON l_suppkey = s_suppkey
         WHERE cents = (SELECT max(cents) FROM sr)
         ORDER BY s_suppkey""",

    "q277_supplier_variety" ->
      """WITH sv AS (
             SELECT DISTINCT p_brand, p_type,
                    CAST(FLOOR(p_size / 10.0) * 10 AS INT) AS size_band,
                    l_suppkey
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE p_brand <> 'Brand#13')
         SELECT p_brand, p_type, size_band, count(*) AS supplier_cnt
         FROM sv GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, size_band""",

    "q278_bulk_orders" ->
      """WITH bq AS (
             SELECT l_orderkey,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS sum_qty
             FROM lineitem GROUP BY 1
             HAVING sum(round(l_quantity)) > 200)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                sum_qty
         FROM bq
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey""",

    "q279_disjunctive_pricing" ->
      """SELECT count(*) AS n_lines,
                COALESCE(CAST(sum(CAST(round(l_extendedprice
                    * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                  / 100.0, 0.0) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                AND l_quantity >= 1 AND l_quantity <= 11)
            OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25
                AND l_quantity >= 10 AND l_quantity <= 20)
            OR (p_brand = 'Brand#25' AND p_size BETWEEN 5 AND 50
                AND l_quantity >= 20 AND l_quantity <= 30)""",

    "q280_service_level" ->
      """WITH sl AS (
             SELECT CASE
                      WHEN datediff('day', o_orderdate, l_shipdate) < 0
                        THEN 'pre-order'
                      WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                        THEN '00-30d'
                      WHEN datediff('day', o_orderdate, l_shipdate) <= 60
                        THEN '31-60d'
                      WHEN datediff('day', o_orderdate, l_shipdate) <= 90
                        THEN '61-90d'
                      ELSE '90d+' END AS delay_band,
                    o_orderpriority
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE year(l_shipdate) = 1997)
         SELECT delay_band,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS routine_lines
         FROM sl GROUP BY 1 ORDER BY delay_band""",

    "q281_dominant_suppliers" ->
      """WITH dg AS (
             SELECT l_partkey, l_suppkey,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS qty
             FROM lineitem
             JOIN part ON l_partkey = p_partkey
             WHERE p_type = 'PROMO' AND year(l_shipdate) = 1997
             GROUP BY 1, 2),
         dw AS (
             SELECT *,
                    CAST(sum(qty) OVER (PARTITION BY l_partkey) AS BIGINT)
                      AS tot
             FROM dg),
         ds AS (
             SELECT l_suppkey, count(*) AS n_parts_dominated,
                    CAST(sum(qty) AS BIGINT) AS dominated_qty
             FROM dw WHERE qty * 2 > tot * 1 GROUP BY 1)
         SELECT s_suppkey, s_name, n_name AS nation, n_parts_dominated,
                dominated_qty
         FROM ds
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         ORDER BY n_parts_dominated DESC, s_suppkey""",

    "q282_sole_blame_late" ->
      """WITH bg AS (
             SELECT l_orderkey, l_suppkey,
                    max(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                               > 60 THEN 1 ELSE 0 END) AS late
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY 1, 2),
         bw AS (
             SELECT *,
                    count(*) OVER (PARTITION BY l_orderkey) AS n_suppliers,
                    sum(late) OVER (PARTITION BY l_orderkey) AS n_late
             FROM bg),
         bb AS (
             SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
             FROM bw
             WHERE late = 1 AND n_suppliers >= 2 AND n_late = 1
             GROUP BY 1)
         SELECT s_suppkey, s_name, numwait
         FROM bb JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY numwait DESC, s_suppkey LIMIT 20""",

    "q283_idle_customers" ->
      """WITH ct AS (
             SELECT c_custkey, c_nationkey,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
             FROM customer),
         th AS (
             SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_cents,
                    CAST(count(*) AS BIGINT) AS n_pos
             FROM ct WHERE bal_cents > 0),
         dm AS (
             SELECT c.c_nationkey, c.bal_cents
             FROM ct c, th
             WHERE c.bal_cents * th.n_pos > th.pos_cents
               AND NOT EXISTS (
                 SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderdate >= DATE '1999-01-01'))
         SELECT n_name AS nation, count(*) AS numcust,
                CAST(sum(bal_cents) AS BIGINT) / 100.0 AS total_acctbal
         FROM dm JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY nation""",

    "q284_calibration_bins" -> ExtOracleSql.calibrationBinsQualityEn,

    "q285_source_lang_mi" ->
      """WITH mj AS (
             SELECT source AS a, lang AS b, count(*) AS c
             FROM documents GROUP BY 1, 2),
         mt AS (
             SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cells,
                    CAST(sum(CAST(round(c * ln(c) * 1e9) AS BIGINT))
                      AS BIGINT) AS s_ab
             FROM mj),
         ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM mj GROUP BY 1),
         maa AS (
             SELECT count(*) AS n_a,
                    CAST(sum(CAST(round(ca * ln(ca) * 1e9) AS BIGINT))
                      AS BIGINT) AS s_a
             FROM ma),
         mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM mj GROUP BY 1),
         mbb AS (
             SELECT count(*) AS n_b,
                    CAST(sum(CAST(round(cb * ln(cb) * 1e9) AS BIGINT))
                      AS BIGINT) AS s_b
             FROM mb)
         SELECT n, n_a, n_b, n_cells,
                round(ln(n) - (s_a / 1e9) / n, 6) AS h_a,
                round(ln(n) - (s_b / 1e9) / n, 6) AS h_b,
                round(ln(n) + ((s_ab - s_a - s_b) / 1e9) / n, 6) AS mi_nats,
                CASE WHEN round(ln(n) - (s_a / 1e9) / n, 6) > 0
                      AND round(ln(n) - (s_b / 1e9) / n, 6) > 0
                  THEN round((ln(n) + ((s_ab - s_a - s_b) / 1e9) / n)
                    / sqrt((ln(n) - (s_a / 1e9) / n)
                           * (ln(n) - (s_b / 1e9) / n)), 6)
                END AS nmi
         FROM mt CROSS JOIN maa CROSS JOIN mbb""",

    "q286_cell_purity" -> ExtOracleSql.cellLabelPurity(centroidEvery = 100),

    "q287_temperature_mix" ->
      """WITH tg AS (
             SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(round(sqrt(count(*)) * 1e6) AS BIGINT) AS w
             FROM documents GROUP BY 1),
         tt AS (
             SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
                    CAST(sum(w) AS BIGINT) AS wt
             FROM tg)
         SELECT grp, n_docs,
                ((n_docs * 1000000 * 2 + nt) // (nt * 2)) / 1000000.0
                  AS doc_share,
                ((w * 1000000 * 2 + wt) // (wt * 2)) / 1000000.0
                  AS temp_share,
                CASE WHEN (n_docs * 1000000 * 2 + nt) // (nt * 2) > 0
                  THEN round(
                    (((w * 1000000 * 2 + wt) // (wt * 2)) / 1000000.0)
                    / (((n_docs * 1000000 * 2 + nt) // (nt * 2))
                       / 1000000.0), 6)
                END AS boost
         FROM tg CROSS JOIN tt ORDER BY grp""",

    "q288_kendall_tau" ->
      """WITH kj AS (
             SELECT p_brand AS g, CAST(round(l_quantity) AS BIGINT) AS x,
                    CAST(round(l_discount * 100) AS BIGINT) AS y
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         kc AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS c
                FROM kj GROUP BY 1, 2, 3),
         cd AS (
             SELECT a.g,
                    CAST(sum(CASE WHEN b.y > a.y
                         THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
                      AS HUGEINT) AS conc,
                    CAST(sum(CASE WHEN b.y < a.y
                         THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
                      AS HUGEINT) AS disc
             FROM kc a JOIN kc b ON a.g = b.g AND b.x > a.x
             GROUP BY 1),
         kx AS (SELECT g, CAST(sum(CAST(r AS HUGEINT) * (r - 1))
                       AS HUGEINT) AS tx2
                FROM (SELECT g, x, CAST(sum(c) AS BIGINT) AS r
                      FROM kc GROUP BY 1, 2) GROUP BY 1),
         ky AS (SELECT g, CAST(sum(CAST(r AS HUGEINT) * (r - 1))
                       AS HUGEINT) AS ty2
                FROM (SELECT g, y, CAST(sum(c) AS BIGINT) AS r
                      FROM kc GROUP BY 1, 2) GROUP BY 1),
         kn AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM kc GROUP BY 1)
         SELECT kn.g AS p_brand, kn.n,
                CASE WHEN CAST(kn.n AS HUGEINT) * (kn.n - 1) - kx.tx2 > 0
                      AND CAST(kn.n AS HUGEINT) * (kn.n - 1) - ky.ty2 > 0
                  THEN round(2.0 * CAST(COALESCE(cd.conc, 0)
                        - COALESCE(cd.disc, 0) AS DOUBLE)
                    / (sqrt(CAST(CAST(kn.n AS HUGEINT) * (kn.n - 1)
                            - kx.tx2 AS DOUBLE))
                       * sqrt(CAST(CAST(kn.n AS HUGEINT) * (kn.n - 1)
                              - ky.ty2 AS DOUBLE))), 6)
                END AS tau_b
         FROM kn
         LEFT JOIN cd ON kn.g = cd.g
         JOIN kx ON kn.g = kx.g
         JOIN ky ON kn.g = ky.g
         ORDER BY p_brand""",

    "q289_cramers_v" ->
      """WITH vj AS (
             SELECT o_orderpriority AS a, o_orderstatus AS b,
                    CAST(count(*) AS BIGINT) AS c
             FROM orders GROUP BY 1, 2),
         vr AS (SELECT a, CAST(sum(c) AS BIGINT) AS r FROM vj GROUP BY 1),
         vk AS (SELECT b, CAST(sum(c) AS BIGINT) AS k FROM vj GROUP BY 1),
         vt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vj),
         vg AS (
             SELECT vt.n, vr.r, vk.k,
                    CAST(vt.n AS HUGEINT) * COALESCE(vj.c, 0)
                      - CAST(vr.r AS HUGEINT) * vk.k AS d
             FROM vr CROSS JOIN vk CROSS JOIN vt
             LEFT JOIN vj ON vj.a = vr.a AND vj.b = vk.b),
         vm AS (
             SELECT n, CAST(sum(CAST(round(
                      CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
                         * CAST(k AS DOUBLE)) * 1e9) AS HUGEINT))
                    AS HUGEINT) AS su
             FROM vg GROUP BY 1),
         vl AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM vr) AS n_a,
                       (SELECT CAST(count(*) AS BIGINT) FROM vk) AS n_b)
         SELECT n, n_a, n_b,
                round(CAST(su AS DOUBLE) / 1e9, 6) AS chi2,
                CASE WHEN LEAST(n_a, n_b) > 1
                  THEN round(sqrt(CAST(su AS DOUBLE) / 1e9
                    / (CAST(n AS DOUBLE) * (LEAST(n_a, n_b) - 1))), 6)
                END AS cramers_v
         FROM vm CROSS JOIN vl""",

    "q290_jackknife_ci" ->
      s"""WITH jf AS (
             SELECT ${graft.ext.Sampling.hashBucketSql(
               "o_orderkey", "jk", 20)} AS fold,
                    CAST(round(o_totalprice * 10000) AS BIGINT) AS u
             FROM orders),
         pf AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_i,
                       CAST(sum(u) AS HUGEINT) AS s_i
                FROM jf GROUP BY 1),
         jt AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
                       CAST(sum(s_i) AS HUGEINT) AS s
                FROM pf),
         th AS (SELECT jt.n, jt.s,
                       CAST(((jt.s - pf.s_i) * 100 * 2 + (jt.n - pf.n_i))
                         // ((jt.n - pf.n_i) * 2) AS BIGINT) AS tq
                FROM pf CROSS JOIN jt WHERE jt.n > pf.n_i),
         ja AS (SELECT n, s, CAST(count(*) AS BIGINT) AS k_used,
                       CAST(sum(CAST(tq AS HUGEINT)) AS HUGEINT) AS t,
                       CAST(sum(CAST(tq AS HUGEINT) * tq) AS HUGEINT) AS ssq
                FROM th GROUP BY 1, 2),
         js AS (SELECT n, k_used,
                       ((s * 100 * 2 + n) // (n * 2)) / 1000000.0 AS mean,
                       CASE WHEN k_used > 1
                         THEN sqrt(CAST(k_used - 1 AS DOUBLE)
                           * CAST(k_used * ssq - t * t AS DOUBLE))
                           / CAST(k_used AS DOUBLE) / 1e6
                       END AS se
                FROM ja)
         SELECT n, k_used AS folds_used, mean,
                round(se, 6) AS jk_se,
                round(mean - 1.96 * se, 6) AS ci_lo,
                round(mean + 1.96 * se, 6) AS ci_hi
         FROM js""",

    "q291_source_ablation" -> ExtOracleSql.sourceAblation,

    "q292_oov_rate" ->
      s"""WITH ot AS (
             SELECT ${graft.ext.Sampling.hashBucketSql(
               "d.doc_id", "split")} AS bucket, d.lang,
                    unnest(${graft.functions.Portable.tokensSql("d.text")})
                      AS w
             FROM documents d),
         vv AS (SELECT w FROM (
                  SELECT w, count(*) AS c FROM ot
                  WHERE bucket < 80 GROUP BY 1)
                ORDER BY c DESC, w LIMIT 1000),
         oc AS (SELECT ot.lang, CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN vv.w IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_oov
                FROM ot LEFT JOIN vv ON ot.w = vv.w
                WHERE ot.bucket >= 90 GROUP BY 1)
         SELECT lang, n_tokens, n_oov,
                (((n_oov * 1000000 * 2) + n_tokens) // (n_tokens * 2))
                  / 1000000.0 AS oov_share
         FROM oc ORDER BY lang""",

    "q293_mde" -> OracleSql.withBase(
      s"""mb AS (SELECT CASE WHEN is_loyalty THEN 1 ELSE 0 END AS t,
                       CAST(round(total_revenue * 10000) AS BIGINT) AS u
                FROM order_revenue),
         ma AS (SELECT CAST(sum(t) AS BIGINT) AS n_t,
                       CAST(sum(1 - t) AS BIGINT) AS n_c,
                       CAST(sum(CASE WHEN t = 1 THEN u ELSE 0 END)
                         AS HUGEINT) AS s_t,
                       CAST(sum(CASE WHEN t = 0 THEN u ELSE 0 END)
                         AS HUGEINT) AS s_c,
                       CAST(sum(CASE WHEN t = 1
                            THEN CAST(u AS HUGEINT) * u ELSE 0 END)
                         AS HUGEINT) AS ss_t,
                       CAST(sum(CASE WHEN t = 0
                            THEN CAST(u AS HUGEINT) * u ELSE 0 END)
                         AS HUGEINT) AS ss_c
                FROM mb),
         ms AS (SELECT *,
                       CAST(n_t * ss_t - s_t * s_t AS DOUBLE)
                         / CAST(n_t AS DOUBLE) AS ssd_t,
                       CAST(n_c * ss_c - s_c * s_c AS DOUBLE)
                         / CAST(n_c AS DOUBLE) AS ssd_c
                FROM ma),
         mv AS (SELECT *,
                       (ssd_t + ssd_c) / CAST(n_t + n_c - 2 AS DOUBLE) AS s2,
                       (((s_c * 100 * 2) + n_c) // (n_c * 2)) / 1000000.0
                         AS mean_c
                FROM ms)""",
      s"""SELECT n_t AS n_treat, n_c AS n_ctrl,
                (((s_t * 100 * 2) + n_t) // (n_t * 2)) / 1000000.0
                  AS mean_treat,
                mean_c AS mean_ctrl,
                CASE WHEN n_t > 1 AND n_c > 1
                  THEN round(sqrt(s2) / 1e4, 6) END AS pooled_sd,
                CASE WHEN n_t > 1 AND n_c > 1
                  THEN round(${graft.ext.Experiment.MdeZ}
                    * sqrt(s2 * (1.0 / n_t + 1.0 / n_c)) / 1e4, 6)
                END AS mde_abs,
                CASE WHEN n_t > 1 AND n_c > 1 AND mean_c > 0
                  THEN round(${graft.ext.Experiment.MdeZ}
                    * sqrt(s2 * (1.0 / n_t + 1.0 / n_c)) / 1e4 / mean_c, 6)
                END AS mde_rel
         FROM mv"""),

    "q294_pricing_summary" ->
      """WITH ps AS (
             SELECT l_returnflag, l_linestatus,
                    CAST(round(l_quantity) AS BIGINT) AS qty,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS base,
                    CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS disc,
                    CAST(round(l_extendedprice * (1 - l_discount)
                      * (1 + l_tax) * 10000) AS BIGINT) AS charge,
                    CAST(round(l_discount * 100) AS BIGINT) AS dpts
             FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'),
         pa AS (
             SELECT l_returnflag, l_linestatus,
                    CAST(count(*) AS BIGINT) AS count_order,
                    CAST(sum(qty) AS HUGEINT) AS sum_qty_d,
                    CAST(sum(base) AS HUGEINT) AS sb,
                    CAST(sum(disc) AS HUGEINT) AS sd,
                    CAST(sum(charge) AS HUGEINT) AS sc,
                    CAST(sum(dpts) AS HUGEINT) AS sp
             FROM ps GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus,
                CAST(sum_qty_d AS BIGINT) AS sum_qty,
                CAST(sb AS DOUBLE) / 100.0 AS sum_base_price,
                CAST(sd AS DOUBLE) / 100.0 AS sum_disc_price,
                CAST(sc AS DOUBLE) / 10000.0 AS sum_charge,
                (((sum_qty_d * 1000000 * 2) + count_order)
                  // (count_order * 2)) / 1000000.0 AS avg_qty,
                (((sb * 10000 * 2) + count_order) // (count_order * 2))
                  / 1000000.0 AS avg_price,
                (((sp * 10000 * 2) + count_order) // (count_order * 2))
                  / 1000000.0 AS avg_disc,
                count_order
         FROM pa ORDER BY l_returnflag, l_linestatus""",

    "q295_woe_iv" ->
      """WITH wl AS (
             SELECT p_brand AS lvl,
                    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         wv AS (SELECT lvl, CAST(sum(y) AS BIGINT) AS p,
                       CAST(sum(1 - y) AS BIGINT) AS ng
                FROM wl GROUP BY 1),
         wt AS (SELECT CAST(sum(p) AS BIGINT) AS pt,
                       CAST(sum(ng) AS BIGINT) AS nt
                FROM wv),
         ws AS (SELECT lvl, p, ng,
                       CASE WHEN p > 0 AND ng > 0 THEN
                         (CAST(round(ln(p) * 1e9) AS BIGINT)
                          - CAST(round(ln(pt) * 1e9) AS BIGINT))
                         - (CAST(round(ln(ng) * 1e9) AS BIGINT)
                            - CAST(round(ln(nt) * 1e9) AS BIGINT))
                       END AS woe_u,
                       ((p * 1000000 * 2) + pt) // (pt * 2) AS psh,
                       ((ng * 1000000 * 2) + nt) // (nt * 2) AS nsh
                FROM wv CROSS JOIN wt),
         wu AS (SELECT lvl, p, ng, woe_u,
                       CASE WHEN woe_u IS NOT NULL
                         THEN (psh - nsh) * woe_u ELSE 0 END AS iv_u
                FROM ws),
         wx AS (SELECT CAST(sum(iv_u) AS BIGINT) AS iv_tot_u FROM wu)
         SELECT lvl, p AS n_pos, ng AS n_neg,
                round(woe_u / 1e9, 6) AS woe,
                round(iv_u / 1e15, 6) AS iv_term,
                round(iv_tot_u / 1e15, 6) AS iv_total
         FROM wu CROSS JOIN wx ORDER BY lvl""",

    "q296_gini_stump" ->
      """WITH gh AS (
             SELECT CAST(round(l_quantity) AS BIGINT) AS x,
                    CAST(count(*) AS BIGINT) AS c,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS BIGINT) AS p
             FROM lineitem GROUP BY 1),
         gt AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                       CAST(sum(p) AS BIGINT) AS ptot
                FROM gh),
         gc AS (SELECT x,
                       CAST(sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS BIGINT) AS cl,
                       CAST(sum(p) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS BIGINT) AS pl
                FROM gh),
         gs AS (SELECT x, cl, pl, n - cl AS cr, ptot - pl AS pr, n, ptot,
                       CAST(CAST(pl AS HUGEINT) * (cl - pl) AS DOUBLE)
                         / CAST(cl AS DOUBLE)
                       + CAST(CAST(ptot - pl AS HUGEINT)
                           * ((n - cl) - (ptot - pl)) AS DOUBLE)
                         / CAST(n - cl AS DOUBLE) AS score
                FROM gc CROSS JOIN gt WHERE cl < n),
         gr AS (SELECT *, row_number() OVER (ORDER BY score ASC, x ASC)
                       AS rn
                FROM gs)
         SELECT x AS threshold, cl AS n_left, cr AS n_right,
                pl AS pos_left, pr AS pos_right,
                round((CAST(CAST(ptot AS HUGEINT) * (n - ptot) AS DOUBLE)
                  / CAST(n AS DOUBLE) - score) * 2.0 / n, 6) AS gini_gain
         FROM gr WHERE rn = 1""",

    "q297_demand_classes" ->
      """WITH dd AS (
             SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS q
             FROM lineitem GROUP BY 1, 2),
         dp AS (
             SELECT l_partkey, CAST(count(*) AS BIGINT) AS nd,
                    CAST(datediff('day', min(d), max(d)) + 1 AS BIGINT)
                      AS span,
                    CAST(sum(q) AS BIGINT) AS sq,
                    CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
             FROM dd GROUP BY 1),
         dc AS (
             SELECT l_partkey, sq,
                    CASE WHEN nd = 1 THEN 'one-shot'
                         WHEN span * 100 < nd * 132
                          AND 100 * CAST(nd AS HUGEINT)
                              * (nd * sqq - CAST(sq AS HUGEINT) * sq)
                            < 49 * (CAST(nd AS HUGEINT) - 1)
                              * (CAST(sq AS HUGEINT) * sq) THEN 'smooth'
                         WHEN span * 100 >= nd * 132
                          AND 100 * CAST(nd AS HUGEINT)
                              * (nd * sqq - CAST(sq AS HUGEINT) * sq)
                            < 49 * (CAST(nd AS HUGEINT) - 1)
                              * (CAST(sq AS HUGEINT) * sq)
                           THEN 'intermittent'
                         WHEN span * 100 < nd * 132 THEN 'erratic'
                         ELSE 'lumpy' END AS demand_class
             FROM dp)
         SELECT p_brand, demand_class,
                CAST(count(*) AS BIGINT) AS n_parts,
                CAST(sum(sq) AS BIGINT) AS total_qty
         FROM dc JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2 ORDER BY p_brand, demand_class""",

    "q298_readability" ->
      s"""WITH rb AS (
             SELECT source,
                    CAST(round((0.0588 * (100.0 * length(regexp_replace(
                        text, '[ \\t\\n\\x0B\\f\\r]', '', 'g'))
                      / len(${graft.functions.Portable.tokensSql("text")}))
                      - 0.296 * (100.0 * len(regexp_extract_all(
                          text, '[.!?]+'))
                        / len(${graft.functions.Portable.tokensSql("text")}))
                      - 15.8) * 1e6) AS BIGINT) AS cq
             FROM documents
             WHERE len(${graft.functions.Portable.tokensSql("text")}) > 0),
         ra AS (
             SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(cq) AS BIGINT) AS scq,
                    CAST(sum(CASE WHEN cq >= 12000000 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_college
             FROM rb GROUP BY 1)
         SELECT source, n_docs,
                (CASE WHEN scq >= 0
                      THEN ((scq * 2) + n_docs) // (n_docs * 2)
                      ELSE -((((-scq) * 2) + n_docs) // (n_docs * 2))
                 END) / 1000000.0 AS mean_cli,
                (((n_college * 1000000 * 2) + n_docs) // (n_docs * 2))
                  / 1000000.0 AS college_share
         FROM ra ORDER BY source""",

    "q299_croston" ->
      """WITH RECURSIVE crd AS (
             SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS q
             FROM lineitem GROUP BY 1, 2),
         crs AS (
             SELECT l_partkey, d, q,
                    row_number() OVER (PARTITION BY l_partkey ORDER BY d)
                      AS rn,
                    lag(d) OVER (PARTITION BY l_partkey ORDER BY d) AS pd
             FROM crd),
         crr AS (
             SELECT l_partkey, rn, CAST(q AS DOUBLE) AS z,
                    CAST(NULL AS DOUBLE) AS p
             FROM crs WHERE rn = 1
             UNION ALL
             SELECT s.l_partkey, s.rn,
                    r.z + 0.125 * (CAST(s.q AS DOUBLE) - r.z),
                    CASE WHEN r.p IS NULL
                      THEN CAST(datediff('day', s.pd, s.d) AS DOUBLE)
                      ELSE r.p + 0.125
                        * (CAST(datediff('day', s.pd, s.d) AS DOUBLE) - r.p)
                    END
             FROM crr r JOIN crs s
               ON s.l_partkey = r.l_partkey AND s.rn = r.rn + 1),
         crn AS (SELECT l_partkey, CAST(max(rn) AS BIGINT) AS mrn
                 FROM crr GROUP BY 1)
         SELECT r.l_partkey AS part_id, n.mrn AS n_demand_days,
                round(r.z, 6) AS size_level,
                round(r.p, 6) AS interval_level,
                CASE WHEN r.p IS NOT NULL AND r.p > 0
                  THEN round(r.z / r.p, 6) END AS demand_per_day
         FROM crr r JOIN crn n
           ON r.l_partkey = n.l_partkey AND r.rn = n.mrn
         ORDER BY part_id""",

    "q300_median_ci" -> OracleSql.withBase(
      s"""mh AS (
             SELECT restaurant_id AS g,
                    CAST(round(total_revenue * 10000) AS BIGINT) AS u,
                    CAST(count(*) AS BIGINT) AS c
             FROM order_revenue GROUP BY 1, 2),
         mt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM mh GROUP BY 1),
         mr AS (SELECT g, n, (n + 1) // 2 AS r_med,
                       GREATEST(CAST(floor((CAST(n AS DOUBLE)
                           - sqrt(CAST(n AS DOUBLE))
                             * ${graft.gold.Percentiles.MedianCiZ}) / 2)
                         AS BIGINT), 1) AS r_lo,
                       LEAST(CAST(ceil(1.0 + (CAST(n AS DOUBLE)
                           + sqrt(CAST(n AS DOUBLE))
                             * ${graft.gold.Percentiles.MedianCiZ}) / 2)
                         AS BIGINT), n) AS r_hi
                FROM mt),
         mc AS (SELECT g, u,
                       CAST(sum(c) OVER (PARTITION BY g ORDER BY u
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cum
                FROM mh)""",
      s"""SELECT mc.g AS restaurant_id, mr.n AS n_lines,
                min(CASE WHEN mc.cum >= mr.r_med THEN mc.u END) / 10000.0
                  AS median_revenue,
                min(CASE WHEN mc.cum >= mr.r_lo THEN mc.u END) / 10000.0
                  AS ci_lo,
                min(CASE WHEN mc.cum >= mr.r_hi THEN mc.u END) / 10000.0
                  AS ci_hi
         FROM mc JOIN mr ON mc.g = mr.g
         GROUP BY 1, 2 ORDER BY restaurant_id"""),

    "q301_holt_winters" -> OracleSql.withBaseRecursive(
      """hwd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents,
                    CAST(CAST(creation_date - DATE '1970-01-01' AS BIGINT)
                      % 7 AS INT) AS k
             FROM order_revenue GROUP BY 1, 2),
         hws AS (
             SELECT *, row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY creation_date) AS rn
             FROM hwd),
         hwr AS (
             SELECT restaurant_id, rn, CAST(cents AS DOUBLE) AS l,
                    CAST(0 AS DOUBLE) AS b,
                    [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0] AS s,
                    CAST(NULL AS DOUBLE) AS f
             FROM hws WHERE rn = 1
             UNION ALL
             SELECT d.restaurant_id, d.rn,
                    0.25 * (CAST(d.cents AS DOUBLE) - r.s[d.k + 1])
                      + 0.75 * (r.l + r.b),
                    0.125 * ((0.25 * (CAST(d.cents AS DOUBLE)
                        - r.s[d.k + 1]) + 0.75 * (r.l + r.b)) - r.l)
                      + 0.875 * r.b,
                    [CASE WHEN j = d.k + 1
                       THEN 0.25 * (CAST(d.cents AS DOUBLE)
                         - (0.25 * (CAST(d.cents AS DOUBLE)
                             - r.s[d.k + 1]) + 0.75 * (r.l + r.b)))
                         + 0.75 * r.s[j]
                       ELSE r.s[j] END FOR j IN [1, 2, 3, 4, 5, 6, 7]],
                    r.l + r.b + r.s[d.k + 1]
             FROM hwr r JOIN hws d
               ON d.restaurant_id = r.restaurant_id AND d.rn = r.rn + 1)""",
      """SELECT d.restaurant_id, d.creation_date,
                d.cents / 10000.0 AS daily_revenue,
                r.l / 10000.0 AS level,
                r.b / 10000.0 AS trend,
                r.s[d.k + 1] / 10000.0 AS seasonal,
                r.f / 10000.0 AS forecast_revenue
         FROM hwr r JOIN hws d USING (restaurant_id, rn)
         ORDER BY d.restaurant_id, d.creation_date"""),

    "q302_changepoint" -> OracleSql.withBase(
      """cpd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1, 2),
         cpt AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(cents) AS HUGEINT) AS st,
                    CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
                      AS qt
             FROM cpd GROUP BY 1),
         cpp AS (
             SELECT restaurant_id, creation_date,
                    CAST(count(*) OVER w AS BIGINT) AS t,
                    CAST(sum(CAST(cents AS HUGEINT)) OVER w AS HUGEINT)
                      AS sl
             FROM cpd
             WINDOW w AS (PARTITION BY restaurant_id
               ORDER BY creation_date ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
         cps AS (
             SELECT p.*, t2.n, t2.st, t2.qt,
                    CAST(p.sl AS DOUBLE) * CAST(p.sl AS DOUBLE)
                      / CAST(p.t AS DOUBLE)
                    + CAST(t2.st - p.sl AS DOUBLE)
                      * CAST(t2.st - p.sl AS DOUBLE)
                      / CAST(t2.n - p.t AS DOUBLE) AS score
             FROM cpp p JOIN cpt t2 USING (restaurant_id)
             WHERE p.t < t2.n),
         cpr AS (
             SELECT *, row_number() OVER (PARTITION BY restaurant_id
                      ORDER BY score DESC, creation_date) AS rn
             FROM cps)""",
      """SELECT restaurant_id, creation_date AS change_date,
                t AS n_before, n - t AS n_after,
                (((sl * 100 * 2) + t) // (t * 2)) / 1000000.0
                  AS mean_before,
                ((((st - sl) * 100 * 2) + (n - t)) // ((n - t) * 2))
                  / 1000000.0 AS mean_after,
                CASE WHEN CAST(qt AS DOUBLE) - CAST(st AS DOUBLE)
                       * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) > 0
                  THEN round((CAST(qt AS DOUBLE) - score)
                    / (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE)
                       * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                END AS sse_share_remaining
         FROM cpr WHERE rn = 1 ORDER BY restaurant_id"""),

    "q303_time_decay_attribution" ->
      """WITH ap AS (
             SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS tp,
                    CAST(round(value * 10000) AS BIGINT) AS cents
             FROM events WHERE event_type = 'purchase'),
         at2 AS (
             SELECT user_id, event_type AS ty, epoch_us(ts) AS tt
             FROM events
             WHERE event_type IN ('view', 'click', 'signup')),
         apr AS (
             SELECT p.purchase_id, p.cents, t.ty,
                    (1::BIGINT << CAST(7 - LEAST(GREATEST(
                       tp // 86400000000 - tt // 86400000000, 0), 7)
                     AS INT)) AS w
             FROM ap p JOIN at2 t USING (user_id)
             WHERE t.tt < p.tp AND p.tp - t.tt <= 604800000000),
         apc AS (SELECT purchase_id, cents, ty,
                        CAST(sum(w) AS BIGINT) AS wt
                 FROM apr GROUP BY 1, 2, 3),
         app AS (SELECT purchase_id, CAST(sum(wt) AS BIGINT) AS wsum
                 FROM apc GROUP BY 1),
         acr AS (
             SELECT c.ty, c.purchase_id,
                    ((c.wt * 1000000 * 2) + p.wsum) // (p.wsum * 2)
                      AS share_u,
                    (CAST(c.cents AS HUGEINT) * 1000 * c.wt) // p.wsum
                      AS rev_mu
             FROM apc c JOIN app p USING (purchase_id)
             UNION ALL
             SELECT 'direct' AS ty, a.purchase_id,
                    1000000 AS share_u, a.cents * 1000 AS rev_mu
             FROM ap a LEFT JOIN app p USING (purchase_id)
             WHERE p.purchase_id IS NULL)
         SELECT ty AS touch_type,
                CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
                round(sum(CAST(share_u AS HUGEINT)) / 1e6, 6)
                  AS total_credit,
                round(sum(CAST(rev_mu AS HUGEINT)) / 1e7, 6)
                  AS attributed_revenue
         FROM acr GROUP BY 1 ORDER BY touch_type""",

    "q304_canonical_policy" -> ExtOracleSql.canonicalPolicyAudit,

    "q307_brier" -> ExtOracleSql.brierQualityEn,

    "q308_exact_substring_dedup" -> ExtOracleSql.exactSubstringDedup(8),

    "q309_nelson_aalen" -> OracleSql.withBase(
      """nau AS (
             SELECT user_id, min(creation_date) AS first_date,
                    max(creation_date) AS last_date,
                    max(CASE WHEN is_loyalty THEN 1 ELSE 0 END) AS g
             FROM order_revenue GROUP BY 1),
         naa AS (SELECT max(creation_date) AS anchor FROM order_revenue),
         nah AS (
             SELECT g,
                    CAST(datediff('day', first_date, last_date) AS BIGINT)
                      AS dur,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor)
                         >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS m
             FROM nau CROSS JOIN naa GROUP BY 1, 2),
         nac AS (
             SELECT *,
                    CAST(sum(m) OVER (PARTITION BY g ORDER BY dur DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS n
             FROM nah),
         nat AS (
             SELECT g, dur, n, d,
                    CAST(round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE) * 1e9)
                      AS BIGINT) AS hu,
                    CAST(round(CAST(d AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1e9)
                      AS BIGINT) AS vu
             FROM nac WHERE d > 0)""",
      """SELECT CAST(g AS BIGINT) AS arm, dur AS duration_days,
                n AS n_risk, d AS n_events,
                round(CAST(sum(hu) OVER w AS BIGINT) / 1e9, 6)
                  AS cum_hazard,
                round(CAST(sum(vu) OVER w AS BIGINT) / 1e9, 6)
                  AS cum_hazard_var
         FROM nat
         WINDOW w AS (PARTITION BY g ORDER BY dur
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY arm, duration_days"""),

    "q310_lsh_calibration" -> ExtOracleSql.lshCalibrationCurve(10, 1000),

    "q311_column_profile" -> graft.ext.Quality.columnProfileSql(
      "orders", graft.ext.Quality.OrdersProfile),

    "q312_ivf_probe_sweep" ->
      ExtOracleSql.ivfProbeSweep(5, 100, Seq(1, 2, 4)),

    "q313_bootstrap_ci" -> {
      val wSql = graft.ext.Experiment.PoissonThresholds
        .map(t => s"(CASE WHEN h >= $t THEN 1 ELSE 0 END)").mkString(" + ")
      val hSql = graft.functions.Portable.h60Sql(
        "'boot' || '#' || CAST(b AS VARCHAR) || '#' || CAST(user_id AS VARCHAR)")
      OracleSql.withBase(
        s"""bu AS (
               SELECT user_id,
                      CAST(max(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                        AS BIGINT) AS arm,
                      CAST(sum(CAST(round(total_revenue * 10000) AS BIGINT))
                        AS BIGINT) AS x
               FROM order_revenue GROUP BY 1),
           bp AS (
               SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                      sum(CAST(x AS HUGEINT)) AS sx
               FROM bu GROUP BY 1),
           br AS (
               SELECT u.arm, u.user_id, u.x, g.b, $hSql AS h
               FROM bu u CROSS JOIN
                 (SELECT unnest(generate_series(0, 99)) AS b) g),
           bw AS (SELECT arm, b, x, $wSql AS w FROM br),
           bm AS (
               SELECT arm, b, CAST(sum(w) AS BIGINT) AS sw,
                      sum(CAST(w AS HUGEINT) * x) AS swx
               FROM bw GROUP BY 1, 2
               HAVING CAST(sum(w) AS BIGINT) > 0),
           bq AS (
               SELECT arm, b,
                      CAST(((swx * 100 * 2) + sw) // (sw * 2) AS BIGINT)
                        AS mu
               FROM bm),
           bc AS (
               SELECT arm, b, mu,
                      row_number() OVER (PARTITION BY arm ORDER BY mu, b)
                        AS rn
               FROM bq),
           bi AS (
               SELECT arm, CAST(count(*) AS BIGINT) AS n_reps,
                      min(CASE WHEN rn = 5 THEN mu END) AS lo_u,
                      min(CASE WHEN rn = 95 THEN mu END) AS hi_u
               FROM bc GROUP BY 1)""",
        """SELECT p.arm, p.n_users,
                  CAST(((p.sx * 100 * 2) + p.n_users) // (p.n_users * 2)
                    AS BIGINT) / 1e6 AS mean_spend,
                  i.lo_u / 1e6 AS ci_lo, i.hi_u / 1e6 AS ci_hi, i.n_reps
           FROM bp p JOIN bi i USING (arm) ORDER BY arm""")
    },

    "q314_shapley_attribution" -> {
      val types = Seq("view", "click", "signup")
      val nCh = types.size
      val nFact = (1 to nCh).foldLeft(1L)(_ * _)
      val kCols = types.zipWithIndex.map { case (t, i) =>
        // coalesce: the strict 1-PRECEDING frame is EMPTY for a
        // purchase with no prior events and sum-over-empty is NULL
        s"""CAST(coalesce(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)
                  OVER w, 0) AS BIGINT) AS k_$i"""
      }.mkString(",\n                    ")
      val maskExpr = types.indices
        .map(i => s"(CASE WHEN k_$i > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      val spineVals = (for {
        i <- types.indices
        s <- 0 until (1 << nCh) if (s & (1 << i)) == 0
      } yield s"('${types(i)}', $s, ${s | (1 << i)}, " +
          s"${graft.ext.Behavior.shapleyCoef(Integer.bitCount(s), nCh)})")
        .mkString(", ")
      val bitVals = types.zipWithIndex
        .map { case (t, i) => s"('$t', ${1L << i})" }.mkString(", ")
      s"""WITH she AS (
             SELECT user_id, event_type, value, epoch_us(ts) AS tsu
             FROM events),
           shc AS (
             SELECT user_id, event_type, value, tsu,
                    $kCols
             FROM she
             WINDOW w AS (PARTITION BY user_id ORDER BY tsu
               RANGE BETWEEN ${7 * 86400L * 1000000L} PRECEDING
                 AND 1 PRECEDING)),
           shp AS (
             SELECT CAST(round(value * 10000) AS BIGINT) AS cents,
                    $maskExpr AS mask
             FROM shc WHERE event_type = 'purchase'),
           shm AS (
             SELECT g.mask, CAST(coalesce(p.np, 0) AS BIGINT) AS np,
                    CAST(coalesce(p.rev, 0) AS HUGEINT) AS rev
             FROM (SELECT unnest(generate_series(0, ${(1 << nCh) - 1}))
                     AS mask) g
             LEFT JOIN (SELECT mask, count(*) AS np,
                               sum(CAST(cents AS HUGEINT)) AS rev
                        FROM shp GROUP BY 1) p USING (mask)),
           shv AS (
             SELECT s.mask AS s_mask, sum(t.rev) AS v
             FROM shm s JOIN shm t ON (t.mask & s.mask) = t.mask
             GROUP BY 1),
           shs AS (
             SELECT * FROM (VALUES $spineVals)
               AS sp(touch_type, s_mask, sc_mask, coef)),
           shf AS (
             SELECT sp.touch_type,
                    sum(CAST(sp.coef AS HUGEINT) * (va.v - vb.v)) AS su
             FROM shs sp
             JOIN shv va ON va.s_mask = sp.sc_mask
             JOIN shv vb ON vb.s_mask = sp.s_mask
             GROUP BY 1),
           shn AS (
             SELECT c.touch_type, CAST(sum(m.np) AS BIGINT) AS n_purchases
             FROM (VALUES $bitVals) AS c(touch_type, bit)
             JOIN shm m ON (m.mask & c.bit) = c.bit
             GROUP BY 1)
         SELECT f.touch_type, n.n_purchases,
                CAST(((f.su * 100 * 2) + $nFact) // ${2L * nFact}
                  AS BIGINT) / 1e6 AS attributed_revenue
         FROM shf f JOIN shn n USING (touch_type)
         UNION ALL
         SELECT 'direct', np,
                CAST(((rev * 100 * 2) + 1) // 2 AS BIGINT) / 1e6
         FROM shm WHERE mask = 0
         ORDER BY touch_type"""
    },

    "q315_silhouette" -> ExtOracleSql.simplifiedSilhouette(2, 100),

    "q316_eb_shrinkage" -> OracleSql.withBase(
      """ebp AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS x,
                    ((CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                        AS BIGINT) * 1000000 * 2) + count(*))
                      // (count(*) * 2) AS pu
             FROM order_revenue GROUP BY 1),
         ebm AS (
             SELECT CAST(count(*) AS BIGINT) AS m_rest,
                    CAST(sum(pu) AS BIGINT) AS sp,
                    CAST(sum(pu * pu) AS BIGINT) AS spp
             FROM ebp),
         ebk AS (
             SELECT m_rest, sp, spp,
                    CAST(sp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e6 AS m,
                    CAST(spp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e12
                      - (CAST(sp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e6)
                        * (CAST(sp AS DOUBLE) / CAST(m_rest AS DOUBLE) / 1e6)
                      AS v
             FROM ebm),
         ebg AS (
             SELECT m, v, m * (1.0 - m) / v - 1.0 AS k FROM ebk)""",
      """SELECT p.restaurant_id, p.n AS n_lines, p.pu / 1e6 AS raw_share,
                round(CASE WHEN g.v > 0.0 AND g.k > 0.0
                      THEN (CAST(p.x AS DOUBLE) + g.m * g.k)
                           / (CAST(p.n AS DOUBLE) + g.k)
                      ELSE p.pu / 1e6 END, 6) AS shrunk_share
         FROM ebp p CROSS JOIN ebg g ORDER BY p.restaurant_id"""),

    "q317_isotonic" -> ExtOracleSql.isotonicQualityEn,

    "q318_bh_fdr" -> OracleSql.withBase(
      """bhp AS (
             SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS x
             FROM order_revenue GROUP BY 1),
         bht AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                        CAST(sum(x) AS BIGINT) AS xx FROM bhp),
         bhc AS (SELECT p.restaurant_id, p.n, p.x,
                        CAST(p.x AS HUGEINT)
                            * CAST((t.nn - p.n) - (t.xx - p.x) AS HUGEINT)
                          - CAST(p.n - p.x AS HUGEINT)
                            * CAST(t.xx - p.x AS HUGEINT) AS diff,
                        CAST(p.n AS DOUBLE) * CAST(t.nn - p.n AS DOUBLE)
                          * CAST(t.xx AS DOUBLE)
                          * CAST(t.nn - t.xx AS DOUBLE) AS den,
                        t.nn
                 FROM bhp p CROSS JOIN bht t),
         bhq AS (SELECT restaurant_id, n, x,
                        CAST(round(CAST(nn AS DOUBLE) * CAST(diff AS DOUBLE)
                          * CAST(diff AS DOUBLE) / den * 1e6) AS BIGINT)
                          AS chi2q
                 FROM bhc WHERE den > 0),
         bhz AS (SELECT *, sqrt(chi2q / 2e6) AS z FROM bhq),
         bhw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * z) AS tt FROM bhz),
         bhpv AS (SELECT restaurant_id, n, x, chi2q,
                         CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                           + 1.421413741) * tt - 0.284496736) * tt
                           + 0.254829592) * tt * exp(-(z * z)) * 1e9)
                           AS BIGINT) AS pu
                  FROM bhw),
         bhr AS (SELECT *, row_number()
                        OVER (ORDER BY pu, restaurant_id) AS p_rank
                 FROM bhpv),
         bhm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM bhr),
         bhf AS (SELECT r.*, m.m,
                        CASE WHEN CAST(r.pu AS HUGEINT) * m.m * 1000
                             <= CAST(r.p_rank AS HUGEINT) * 50 * 1000000000
                             THEN r.p_rank ELSE 0 END AS fr
                 FROM bhr r CROSS JOIN bhm m),
         bhx AS (SELECT max(fr) AS cutoff FROM bhf)""",
      """SELECT f.restaurant_id, f.n AS n_lines, f.x AS n_loyal,
                f.chi2q / 1e6 AS chi2, f.pu / 1e9 AS p_value,
                f.p_rank, f.m AS m_tests, f.p_rank <= x.cutoff AS rejected
         FROM bhf f CROSS JOIN bhx x ORDER BY f.p_rank"""),

    "q319_good_turing" ->
      s"""WITH gtt AS (
             SELECT unnest(${graft.functions.Portable.tokensSql("text")})
               AS term FROM documents),
           gtc AS (SELECT term, CAST(count(*) AS BIGINT) AS c
                   FROM gtt GROUP BY 1),
           gtn AS (SELECT c, CAST(count(*) AS BIGINT) AS n_types
                   FROM gtc GROUP BY 1),
           gts AS (SELECT CAST(sum(CAST(c AS HUGEINT) * n_types) AS HUGEINT)
                       AS n_tok,
                     CAST(sum(CASE WHEN c = 1 THEN n_types ELSE 0 END)
                       AS BIGINT) AS n1
                   FROM gtn)
         SELECT a.c AS r, a.n_types,
                CASE WHEN b.n_types IS NOT NULL THEN
                  CAST(((CAST(a.c + 1 AS HUGEINT) * b.n_types * 1000000 * 2
                         + a.n_types) // (a.n_types * 2)) AS DOUBLE) / 1e6
                END AS r_star,
                CAST(((CAST(t.n1 AS HUGEINT) * 1000000 * 2 + t.n_tok)
                      // (t.n_tok * 2)) AS DOUBLE) / 1e6 AS p_unseen
         FROM gtn a LEFT JOIN gtn b ON b.c = a.c + 1 CROSS JOIN gts t
         ORDER BY r""",

    "q320_prefix_jaccard" -> ExtOracleSql.prefixJaccardJoin(3, 5, 1200),

    "q321_mann_kendall" -> OracleSql.withBase(
      """mkm AS (
             SELECT restaurant_id, date_trunc('month', creation_date) AS m,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS c
             FROM order_revenue GROUP BY 1, 2),
         mks AS (SELECT a.restaurant_id,
                        CAST(sum(CASE WHEN b.c > a.c THEN 1
                                      WHEN b.c < a.c THEN -1
                                      ELSE 0 END) AS BIGINT) AS s
                 FROM mkm a JOIN mkm b
                   ON a.restaurant_id = b.restaurant_id AND b.m > a.m
                 GROUP BY 1),
         mkt AS (SELECT restaurant_id, c, CAST(count(*) AS BIGINT) AS t
                 FROM mkm GROUP BY 1, 2),
         mkn AS (SELECT restaurant_id, CAST(sum(t) AS BIGINT) AS n,
                        CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                          AS tie_sum
                 FROM mkt GROUP BY 1),
         mkv AS (SELECT n.restaurant_id, n.n, coalesce(s.s, 0) AS s,
                        n.n * (n.n - 1) * (2 * n.n + 5) - n.tie_sum AS vn
                 FROM mkn n LEFT JOIN mks s USING (restaurant_id)),
         mkz AS (SELECT *,
                        CAST(round(CASE
                          WHEN s > 0 THEN (s - 1) / sqrt(vn / 18.0)
                          WHEN s < 0 THEN (s + 1) / sqrt(vn / 18.0)
                          ELSE 0.0 END * 1e6) AS BIGINT) AS zq
                 FROM mkv),
         mkx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS x FROM mkz),
         mkw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM mkx),
         mkp AS (SELECT restaurant_id, n, s, zq,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(x * x)) * 1e9)
                          AS BIGINT) AS pu
                 FROM mkw)""",
      """SELECT restaurant_id, n AS n_months, s AS s_stat, zq / 1e6 AS z,
                pu / 1e9 AS p_value,
                CASE WHEN s > 0 THEN 'up' WHEN s < 0 THEN 'down'
                     ELSE 'flat' END AS trend
         FROM mkp ORDER BY restaurant_id"""),

    "q322_cmh" -> OracleSql.withBase(
      """cmc AS (
             SELECT restaurant_id,
                    CAST(sum(CASE WHEN is_loyalty AND option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS a,
                    CAST(sum(CASE WHEN is_loyalty AND NOT option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
                    CAST(sum(CASE WHEN NOT is_loyalty AND option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS c,
                    CAST(sum(CASE WHEN NOT is_loyalty
                          AND NOT option_price > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS d
             FROM order_revenue GROUP BY 1),
         cmn AS (SELECT *, a + b + c + d AS n FROM cmc),
         cmq AS (SELECT *,
                   CAST(round(CAST(a AS DOUBLE) * d / n * 1e9) AS BIGINT)
                     AS rq,
                   CAST(round(CAST(b AS DOUBLE) * c / n * 1e9) AS BIGINT)
                     AS sq,
                   CAST(round((CAST(a AS DOUBLE)
                     - CAST((a + b) * (a + c) AS DOUBLE) / n) * 1e9)
                     AS BIGINT) AS eq,
                   CASE WHEN n > 1 THEN
                     CAST(round(CAST((a + b) * (c + d) AS DOUBLE)
                       * CAST((a + c) * (b + d) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * n * (n - 1)) * 1e9) AS BIGINT)
                   ELSE 0 END AS vq
                 FROM cmn),
         cmr AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                        CAST(sum(a) AS BIGINT) AS ta,
                        CAST(sum(b) AS BIGINT) AS tb,
                        CAST(sum(c) AS BIGINT) AS tc,
                        CAST(sum(d) AS BIGINT) AS td,
                        CAST(sum(CAST(rq AS HUGEINT)) AS HUGEINT) AS sr,
                        CAST(sum(CAST(sq AS HUGEINT)) AS HUGEINT) AS ss,
                        CAST(sum(CAST(eq AS HUGEINT)) AS HUGEINT) AS se,
                        CAST(sum(CAST(vq AS HUGEINT)) AS HUGEINT) AS sv
                 FROM cmq),
         cmz AS (SELECT *, CAST(se AS DOUBLE) / 1e9 AS sed,
                        CAST(sv AS DOUBLE) / 1e9 AS svd FROM cmr),
         cmk AS (SELECT *, CASE WHEN svd > 0 AND abs(sed) > 0.5
                   THEN CAST(round((abs(sed) - 0.5) * (abs(sed) - 0.5) / svd
                     * 1e6) AS BIGINT)
                   ELSE 0 END AS chi2q FROM cmz),
         cmx AS (SELECT *, sqrt(chi2q / 2e6) AS x FROM cmk),
         cmw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM cmx),
         cmp AS (SELECT *,
                   CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                     + 1.421413741) * tt - 0.284496736) * tt
                     + 0.254829592) * tt * exp(-(x * x)) * 1e9) AS BIGINT)
                     AS pu
                 FROM cmw)""",
      """SELECT n_strata,
                CASE WHEN ss > 0 THEN
                  CAST((sr * 1000000 * 2 + ss) // (ss * 2) AS DOUBLE) / 1e6
                END AS or_cmh,
                CASE WHEN CAST(tb AS HUGEINT) * tc > 0 THEN
                  CAST((CAST(ta AS HUGEINT) * td * 1000000 * 2
                        + CAST(tb AS HUGEINT) * tc)
                       // (CAST(tb AS HUGEINT) * tc * 2) AS DOUBLE) / 1e6
                END AS or_crude,
                chi2q / 1e6 AS chi2_cmh, pu / 1e9 AS p_value
         FROM cmp"""),

    "q323_fellegi_sunter" -> ExtOracleSql.fellegiSunterParts(0.9, 0.02, 0.9),

    "q324_overdispersion" -> OracleSql.withBase(
      """odd AS (
             SELECT restaurant_id, creation_date,
                    CAST(count(*) AS BIGINT) AS x
             FROM order_revenue GROUP BY 1, 2),
         ods AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM odd GROUP BY 1),
         odn AS (SELECT restaurant_id,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM ods),
         odg AS (SELECT n.restaurant_id, coalesce(d.x, 0) AS x
                 FROM odn n LEFT JOIN odd d
                   USING (restaurant_id, creation_date)),
         oda AS (SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx,
                        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
                 FROM odg GROUP BY 1
                 HAVING count(*) > 1 AND sum(x) > 0),
         odq AS (SELECT *,
                        CAST(n AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx AS num
                 FROM oda),
         odc AS (SELECT *,
                        CAST(round(CAST(num AS DOUBLE) / sx * 1e6) AS BIGINT)
                          AS chi2q,
                        CAST(n - 1 AS DOUBLE) AS nu
                 FROM odq),
         odz AS (SELECT *,
                        CAST(round((cbrt(chi2q / 1e6 / nu)
                            - (1.0 - 2.0 / (9.0 * nu)))
                          * sqrt(9.0 * nu / 2.0) * 1e6) AS BIGINT) AS zq
                 FROM odc),
         odx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS ax FROM odz),
         odw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM odx),
         ode AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(ax * ax)) * 1e9)
                          AS BIGINT) AS eu
                 FROM odw),
         odp AS (SELECT *, CASE WHEN zq >= 0 THEN (eu + 1) // 2
                           ELSE 1000000000 - eu // 2 END AS pu
                 FROM ode)""",
      """SELECT restaurant_id, n AS n_days,
                ((sx * 1000000 * 2 + n) // (n * 2)) / 1000000.0
                  AS mean_lines,
                CAST((CAST(num AS HUGEINT) * 1000000 * 2
                      + CAST(n - 1 AS HUGEINT) * sx)
                     // (CAST(n - 1 AS HUGEINT) * sx * 2) AS DOUBLE) / 1e6
                  AS dispersion,
                chi2q / 1e6 AS chi2, zq / 1e6 AS z, pu / 1e9 AS p_over
         FROM odp ORDER BY restaurant_id"""),

    "q325_ljung_box" -> OracleSql.withBase(
      """lbd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1, 2),
         lbs AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM lbd GROUP BY 1),
         lbn AS (SELECT restaurant_id,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM lbs),
         lbg AS (SELECT n.restaurant_id, n.creation_date,
                        coalesce(d.cents, 0) // 10000 AS x
                 FROM lbn n LEFT JOIN lbd d
                   ON n.restaurant_id = d.restaurant_id
                  AND n.creation_date = d.creation_date),
         lbt AS (SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx,
                        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
                 FROM lbg GROUP BY 1 HAVING count(*) > 8),
         lbl AS (SELECT g.restaurant_id, l.lag, g.x,
                        lag(g.x, l.lag) OVER (
                          PARTITION BY g.restaurant_id, l.lag
                          ORDER BY g.creation_date) AS xl
                 FROM lbg g CROSS JOIN
                   (SELECT unnest(range(1, 8)) AS lag) l),
         lba AS (SELECT restaurant_id, lag, CAST(count(*) AS BIGINT) AS nk,
                        CAST(sum(CAST(x AS HUGEINT) * xl) AS HUGEINT)
                          AS spk,
                        CAST(sum(x) AS BIGINT) AS s1k,
                        CAST(sum(xl) AS BIGINT) AS s2k
                 FROM lbl WHERE xl IS NOT NULL GROUP BY 1, 2),
         lbr AS (SELECT a.restaurant_id, a.nk, t.n,
                        CAST(t.sx AS DOUBLE) / t.n AS sxd,
                        CAST(a.spk AS DOUBLE)
                          - (CAST(t.sx AS DOUBLE) / t.n)
                            * (CAST(a.s1k AS DOUBLE)
                               + CAST(a.s2k AS DOUBLE))
                          + a.nk * (CAST(t.sx AS DOUBLE) / t.n)
                            * (CAST(t.sx AS DOUBLE) / t.n) AS rnum,
                        CAST(t.sxx AS DOUBLE)
                          - t.sx * (CAST(t.sx AS DOUBLE) / t.n) AS rden
                 FROM lba a JOIN lbt t USING (restaurant_id)),
         lbu AS (SELECT restaurant_id, nk, n,
                        CAST(round(rnum / rden * 1e9) AS BIGINT) AS ru
                 FROM lbr WHERE rden > 0),
         lbq AS (SELECT restaurant_id, n,
                        CAST(sum(CAST(round((ru / 1e9) * (ru / 1e9) / nk
                          * 1e12) AS BIGINT)) AS BIGINT) AS stq,
                        CAST(count(*) AS BIGINT) AS h
                 FROM lbu GROUP BY 1, 2),
         lbq6 AS (SELECT *,
                        CAST(round(CAST(n AS DOUBLE) * (n + 2)
                          * (stq / 1e12) * 1e6) AS BIGINT) AS q6,
                        CAST(h AS DOUBLE) AS nu
                  FROM lbq),
         lbz AS (SELECT *,
                        CAST(round((cbrt(q6 / 1e6 / nu)
                            - (1.0 - 2.0 / (9.0 * nu)))
                          * sqrt(9.0 * nu / 2.0) * 1e6) AS BIGINT) AS zq
                 FROM lbq6),
         lbx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS ax FROM lbz),
         lbw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM lbx),
         lbe AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(ax * ax)) * 1e9)
                          AS BIGINT) AS eu
                 FROM lbw),
         lbp AS (SELECT *, CASE WHEN zq >= 0 THEN (eu + 1) // 2
                           ELSE 1000000000 - eu // 2 END AS pu
                 FROM lbe)""",
      """SELECT restaurant_id, n AS n_days, h AS h_lags,
                q6 / 1e6 AS q_stat, pu / 1e9 AS p_value
         FROM lbp ORDER BY restaurant_id"""),

    "q326_lexical_richness" ->
      s"""WITH lrt AS (
             SELECT source, unnest(${graft.functions.Portable.tokensSql("text")})
               AS term FROM documents),
           lrc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                   FROM lrt GROUP BY 1, 2),
           lra AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                          CAST(count(*) AS BIGINT) AS n_types,
                          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_hapax,
                          CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT)
                            AS scc
                   FROM lrc GROUP BY 1)
         SELECT source, n_tokens, n_types,
                ((n_types * 1000000 * 2 + n_tokens) // (n_tokens * 2))
                  / 1000000.0 AS ttr,
                ((n_hapax * 1000000 * 2 + n_types) // (n_types * 2))
                  / 1000000.0 AS hapax_share,
                CAST(((scc - n_tokens) * 10000 * 1000000 * 2
                      + CAST(n_tokens AS HUGEINT) * n_tokens)
                     // (CAST(n_tokens AS HUGEINT) * n_tokens * 2)
                  AS DOUBLE) / 1e6 AS yule_k,
                CASE WHEN n_tokens > 1 THEN
                  CAST(((scc - n_tokens) * 1000000000 * 2
                        + CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                       // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 2)
                    AS DOUBLE) / 1e9 END AS simpson_d,
                CAST(round(ln(CAST(n_types AS DOUBLE))
                  / ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
                  AS herdan_c
         FROM lra ORDER BY source""",

    "q327_capture_recapture" -> ExtOracleSql.dedupCaptureRecapture(0.7),

    "q328_runs_test" -> OracleSql.withBase(
      """rtd AS (
             SELECT restaurant_id, creation_date,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1, 2),
         rts AS (SELECT restaurant_id, min(creation_date) AS d0,
                        max(creation_date) AS d1
                 FROM rtd GROUP BY 1),
         rtn AS (SELECT restaurant_id,
                        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                          AS DATE) AS creation_date
                 FROM rts),
         rtg AS (SELECT n.restaurant_id, n.creation_date,
                        coalesce(d.cents, 0) AS x
                 FROM rtn n LEFT JOIN rtd d
                   ON n.restaurant_id = d.restaurant_id
                  AND n.creation_date = d.creation_date),
         rtt AS (SELECT restaurant_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx
                 FROM rtg GROUP BY 1),
         rtsg AS (SELECT g.restaurant_id, g.creation_date, t.n,
                         CASE WHEN CAST(g.x AS HUGEINT) * t.n
                                   > CAST(t.sx AS HUGEINT)
                              THEN 1 ELSE 0 END AS s
                  FROM rtg g JOIN rtt t USING (restaurant_id)),
         rtc AS (SELECT *,
                        CASE WHEN lag(s) OVER (PARTITION BY restaurant_id
                               ORDER BY creation_date) IS NULL THEN 0
                             WHEN s <> lag(s) OVER (PARTITION BY
                               restaurant_id ORDER BY creation_date)
                               THEN 1 ELSE 0 END AS chg
                 FROM rtsg),
         rta AS (SELECT restaurant_id, n,
                        CAST(sum(s) AS BIGINT) AS n1,
                        1 + CAST(sum(chg) AS BIGINT) AS r
                 FROM rtc GROUP BY 1, 2),
         rtb AS (SELECT *, n - n1 AS n2 FROM rta
                 WHERE n1 > 0 AND n - n1 > 0),
         rte AS (SELECT *,
                        2.0 * n1 * n2 / n + 1.0 AS e,
                        2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                          / (CAST(n AS DOUBLE) * n * (n - 1)) AS v
                 FROM rtb),
         rtz AS (SELECT *,
                        CAST(round((r - e) / sqrt(v) * 1e6) AS BIGINT) AS zq
                 FROM rte WHERE v > 0),
         rtx AS (SELECT *, abs(zq) / 1e6 / sqrt(2.0) AS ax FROM rtz),
         rtw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM rtx),
         rtp AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(ax * ax)) * 1e9)
                          AS BIGINT) AS pu
                 FROM rtw)""",
      """SELECT restaurant_id, n AS n_days, n1 AS n_above, r AS n_runs,
                zq / 1e6 AS z, pu / 1e9 AS p_value
         FROM rtp ORDER BY restaurant_id"""),

    "q329_theil" -> OracleSql.withBase(
      """thr AS (
             SELECT restaurant_id,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT) AS x
             FROM order_revenue GROUP BY 1
             HAVING sum(round(total_revenue * 10000)) > 0),
         thn AS (SELECT n.n_name AS nation, r.x
                 FROM thr r
                 JOIN supplier s ON r.restaurant_id = s.s_suppkey
                 JOIN nation n ON s.s_nationkey = n.n_nationkey),
         thg AS (SELECT nation,
                        CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS xg,
                        CAST(count(*) AS BIGINT) AS ng
                 FROM thn GROUP BY 1),
         thx AS (SELECT CAST(sum(xg) AS HUGEINT) AS xx,
                        CAST(sum(ng) AS BIGINT) AS nn FROM thg),
         tht AS (SELECT t.nation,
                        CAST(sum(CAST(round(CAST(t.x AS DOUBLE)
                          / CAST(g.xg AS DOUBLE)
                          * ln(CAST(t.x AS DOUBLE) * g.ng
                            / CAST(g.xg AS DOUBLE)) * 1e9) AS BIGINT))
                          AS BIGINT) AS tgq,
                        CAST(sum(CAST(round(CAST(t.x AS DOUBLE)
                          / CAST(x2.xx AS DOUBLE)
                          * ln(CAST(t.x AS DOUBLE) * x2.nn
                            / CAST(x2.xx AS DOUBLE)) * 1e9) AS BIGINT))
                          AS BIGINT) AS ttq
                 FROM thn t JOIN thg g USING (nation) CROSS JOIN thx x2
                 GROUP BY 1),
         thp AS (SELECT g.nation, g.xg, g.ng, x2.xx, x2.nn, t.tgq, t.ttq,
                        CAST(round(CAST(g.xg AS DOUBLE)
                          / CAST(x2.xx AS DOUBLE)
                          * ln(CAST(g.xg AS DOUBLE) * x2.nn
                            / CAST(x2.xx AS DOUBLE) / g.ng) * 1e9)
                          AS BIGINT) AS tbv,
                        CAST(round(CAST(g.xg AS DOUBLE)
                          / CAST(x2.xx AS DOUBLE) * (t.tgq / 1e9) * 1e9)
                          AS BIGINT) AS twv
                 FROM thg g JOIN tht t USING (nation) CROSS JOIN thx x2),
         tho AS (SELECT CAST(sum(ttq) AS BIGINT) AS t_tot,
                        CAST(sum(tbv) AS BIGINT) AS t_bet,
                        CAST(sum(twv) AS BIGINT) AS t_wit FROM thp)""",
      """SELECT nation, ng AS n_restaurants,
                CAST((xg * 1000000 * 2 + xx) // (xx * 2) AS DOUBLE) / 1e6
                  AS rev_share,
                tgq / 1e9 AS theil_in_group, tbv / 1e9 AS between_term,
                t_tot / 1e9 AS t_total, t_bet / 1e9 AS t_between,
                t_wit / 1e9 AS t_within
         FROM thp CROSS JOIN tho ORDER BY nation"""),

    "q330_hubness" -> ExtOracleSql.hubnessAudit(10),

    "q331_price_index" ->
      """WITH pim AS (
             SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
                    CAST(sum(round(l_extendedprice * 10000)) AS BIGINT)
                      AS cents,
                    CAST(sum(round(l_quantity)) AS BIGINT) AS qty
             FROM lineitem GROUP BY 1, 2
             HAVING sum(round(l_quantity)) > 0),
           pib AS (SELECT min(m) AS m0 FROM pim),
           pi0 AS (SELECT p.l_partkey, p.cents AS cents0, p.qty AS qty0
                   FROM pim p CROSS JOIN pib b WHERE p.m = b.m0),
           pij AS (SELECT t.m, CAST(count(*) AS BIGINT) AS n_matched,
                          CAST(sum(CAST(round(CAST(t.cents AS DOUBLE)
                            * z.qty0 / t.qty) AS BIGINT)) AS BIGINT)
                            AS lnum,
                          CAST(sum(z.cents0) AS BIGINT) AS lden,
                          CAST(sum(t.cents) AS BIGINT) AS pnum,
                          CAST(sum(CAST(round(CAST(z.cents0 AS DOUBLE)
                            * t.qty / z.qty0) AS BIGINT)) AS BIGINT)
                            AS pden
                   FROM pim t JOIN pi0 z USING (l_partkey) GROUP BY 1),
           piq AS (SELECT *,
                          ((CAST(lnum AS HUGEINT) * 1000000 * 2) + lden)
                            // (lden * 2) AS lq,
                          ((CAST(pnum AS HUGEINT) * 1000000 * 2) + pden)
                            // (pden * 2) AS pq
                   FROM pij)
         SELECT m AS month, n_matched, lq / 1e6 AS laspeyres,
                pq / 1e6 AS paasche,
                CAST(round(sqrt((lq / 1e6) * (pq / 1e6)) * 1e6) AS BIGINT)
                  / 1e6 AS fisher
         FROM piq ORDER BY month""",

    "q332_mcnemar" -> OracleSql.withBase(
      """mns AS (
             SELECT min(creation_date) AS d0, max(creation_date) AS d1
             FROM order_revenue),
         mnm AS (SELECT d0 + CAST(datediff('day', d0, d1) // 2 AS INTEGER)
                        AS mid
                 FROM mns),
         mnu AS (SELECT o.user_id,
                        CAST(max(CASE WHEN o.creation_date <= m.mid
                            THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                        CAST(max(CASE WHEN o.creation_date > m.mid
                            THEN 1 ELSE 0 END) AS BIGINT) AS h2
                 FROM order_revenue o CROSS JOIN mnm m
                 GROUP BY 1),
         mnc AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                        CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1
                            ELSE 0 END) AS BIGINT) AS n_both,
                        CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1
                            ELSE 0 END) AS BIGINT) AS b,
                        CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1
                            ELSE 0 END) AS BIGINT) AS c
                 FROM mnu),
         mnq AS (SELECT *,
                        CASE WHEN b + c > 0 AND abs(b - c) > 1 THEN
                          CAST(round(CAST(abs(b - c) - 1 AS DOUBLE)
                            * (abs(b - c) - 1) / (b + c) * 1e6) AS BIGINT)
                        ELSE 0 END AS chi2q
                 FROM mnc),
         mnx AS (SELECT *, sqrt(chi2q / 2e6) AS x FROM mnq),
         mnw AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM mnx),
         mnp AS (SELECT *,
                        CAST(round(((((1.061405429 * tt - 1.453152027) * tt
                          + 1.421413741) * tt - 0.284496736) * tt
                          + 0.254829592) * tt * exp(-(x * x)) * 1e9)
                          AS BIGINT) AS pu
                 FROM mnw)""",
      """SELECT n_users, n_both, b AS early_only, c AS late_only,
                chi2q / 1e6 AS chi2, pu / 1e9 AS p_value
         FROM mnp"""),

    "q333_burstiness" ->
      s"""WITH tbn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                       FROM documents),
           tbt AS (SELECT doc_id,
                          unnest(${graft.functions.Portable.tokensSql("text")})
                            AS term
                   FROM documents),
           tbc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
                   FROM tbt GROUP BY 1, 2),
           tba AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                          CAST(sum(c) AS BIGINT) AS tf,
                          CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
                   FROM tbc GROUP BY 1)
         SELECT term, df, tf,
                CAST(((tf * 1000000 * 2) + df) // (df * 2) AS DOUBLE) / 1e6
                  AS burst,
                CAST((((CAST(n.n_docs AS HUGEINT) * s2
                        - CAST(tf AS HUGEINT) * tf) * 1000000 * 2)
                      + (CAST(n.n_docs AS HUGEINT) * tf))
                     // (CAST(n.n_docs AS HUGEINT) * tf * 2) AS DOUBLE)
                  / 1e6 AS vmr
         FROM tba CROSS JOIN tbn n
         ORDER BY df DESC, term LIMIT 30""",

    "q334_hill_tail" -> OracleSql.withBase(
      s"""hlo AS (
             SELECT order_id,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents
             FROM order_revenue GROUP BY 1),
         hlt AS (SELECT cents,
                        row_number() OVER (ORDER BY cents DESC, order_id)
                          AS rk
                 FROM hlo),
         hlr AS (SELECT * FROM hlt WHERE rk <= 501)""",
      Seq(100, 250, 500).map { k =>
        s"""SELECT sp.k, a.x_threshold, a.hill_alpha
            FROM (SELECT CAST($k AS BIGINT) AS k) sp LEFT JOIN (
              SELECT CAST($k AS BIGINT) AS k, b.xk / 1e4 AS x_threshold,
                     CASE WHEN b.s > 0 THEN
                       CAST((CAST($k AS HUGEINT) * 1000000000 * 1000000 * 2
                             + b.s) // (b.s * 2) AS DOUBLE) / 1e6
                     END AS hill_alpha
              FROM (
                SELECT th.xk,
                       CAST(sum(CAST(round(ln(CAST(r.cents AS DOUBLE) / th.xk)
                         * 1e9) AS BIGINT)) AS BIGINT) AS s
                FROM hlr r CROSS JOIN
                     (SELECT cents AS xk FROM hlr WHERE rk = ${k + 1}) th
                WHERE r.rk <= $k
                GROUP BY th.xk) b) a ON sp.k = a.k"""
      }.mkString("\nUNION ALL\n") + "\nORDER BY k"),

    "q335_entropy_rate" ->
      """WITH mes AS (
             SELECT user_id, event_type,
                    lead(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS next_type
             FROM events),
           mec AS (SELECT event_type AS f, next_type AS t,
                          CAST(count(*) AS BIGINT) AS nij
                   FROM mes WHERE next_type IS NOT NULL GROUP BY 1, 2),
           mer AS (SELECT f, CAST(sum(nij) AS BIGINT) AS ni
                   FROM mec GROUP BY 1),
           met AS (SELECT CAST(sum(ni) AS BIGINT) AS nn,
                          CAST(count(*) AS BIGINT) AS n_states
                   FROM mer),
           mhc AS (SELECT CAST(sum(CAST(c.nij AS HUGEINT)
                     * CAST(round(ln(CAST(c.nij AS DOUBLE) / r.ni) * 1e9)
                       AS BIGINT)) AS HUGEINT) AS sc
                   FROM mec c JOIN mer r USING (f)),
           mel AS (SELECT t, CAST(sum(nij) AS BIGINT) AS nj
                   FROM mec GROUP BY 1),
           mhu AS (SELECT CAST(sum(CAST(l.nj AS HUGEINT)
                     * CAST(round(ln(CAST(l.nj AS DOUBLE) / t.nn) * 1e9)
                       AS BIGINT)) AS HUGEINT) AS su
                   FROM mel l CROSS JOIN met t),
           meh AS (SELECT t.nn, t.n_states,
                          (((-u.su) * 1000000 * 2)
                           + CAST(t.nn AS HUGEINT) * 1000000000)
                            // (CAST(t.nn AS HUGEINT) * 1000000000 * 2)
                            AS hu,
                          (((-c.sc) * 1000000 * 2)
                           + CAST(t.nn AS HUGEINT) * 1000000000)
                            // (CAST(t.nn AS HUGEINT) * 1000000000 * 2)
                            AS hc
                   FROM met t CROSS JOIN mhc c CROSS JOIN mhu u)
         SELECT nn AS n_transitions, n_states, hu / 1e6 AS h_unigram,
                hc / 1e6 AS h_rate, (hu - hc) / 1e6 AS info_gain
         FROM meh""",

    "q336_ks_two_sample" -> OracleSql.withBase(
      """ksu AS (
             SELECT user_id,
                    CAST(sum(round(total_revenue * 10000)) AS BIGINT)
                      AS cents,
                    CAST(sum(CASE WHEN is_loyalty THEN 1 ELSE 0 END)
                      AS BIGINT) AS nl,
                    CAST(count(*) AS BIGINT) AS nn
             FROM order_revenue GROUP BY 1),
         ksl AS (SELECT cents, nl * 2 > nn AS loyal FROM ksu),
         ksv AS (SELECT cents,
                        CAST(sum(CASE WHEN loyal THEN 1 ELSE 0 END)
                          AS BIGINT) AS c1,
                        CAST(sum(CASE WHEN NOT loyal THEN 1 ELSE 0 END)
                          AS BIGINT) AS c2
                 FROM ksl GROUP BY 1),
         kst AS (SELECT CAST(sum(c1) AS BIGINT) AS m,
                        CAST(sum(c2) AS BIGINT) AS n FROM ksv),
         ksc AS (SELECT CAST(sum(c1) OVER (ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k1,
                        CAST(sum(c2) OVER (ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k2
                 FROM ksv),
         ksd AS (SELECT t.m, t.n,
                        max(abs(CAST(c.k1 AS HUGEINT) * t.n
                          - CAST(c.k2 AS HUGEINT) * t.m)) AS maxd
                 FROM ksc c CROSS JOIN kst t GROUP BY 1, 2),
         ksq AS (SELECT *,
                        ((maxd * 1000000 * 2) + CAST(m AS HUGEINT) * n)
                          // (CAST(m AS HUGEINT) * n * 2) AS dq,
                        CAST(m AS DOUBLE) * n / (m + n) AS ne
                 FROM ksd),
         ksm AS (SELECT *,
                        CAST(round((sqrt(ne) + 0.12 + 0.11 / sqrt(ne))
                          * (dq / 1e6) * 1e6) AS BIGINT) AS lam
                 FROM ksq),
         ksl2 AS (SELECT *, (lam / 1e6) * (lam / 1e6) AS l2 FROM ksm),
         ksp AS (SELECT *,
                        CAST(round(greatest(least(2.0
                          * (exp(-2.0 * l2) - exp(-8.0 * l2)
                            + exp(-18.0 * l2) - exp(-32.0 * l2)
                            + exp(-50.0 * l2)), 1.0), 0.0) * 1e9)
                          AS BIGINT) AS pu
                 FROM ksl2)""",
      """SELECT m AS n_loyal_users, n AS n_other_users, dq / 1e6 AS ks_d,
                lam / 1e6 AS lambda, pu / 1e9 AS p_value
         FROM ksp"""),

    // bucketed stream-stream join: result-identical to q98 by
    // construction (the two-bucket explode is a lossless cover), so the
    // oracle IS the same batch range join
    "q339_stream_join_bucketed" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, purchase_id, purchase_ts, view_id, view_ts
         FROM p JOIN v ON p.user_id = v.user_id
          AND v.view_ts >= p.purchase_ts - INTERVAL 3600 SECONDS
          AND v.view_ts <= p.purchase_ts
         ORDER BY purchase_id, view_id""",

    // capped attribution: the q305 credit model over each purchase's 10
    // most-recent lookback touches; day-bucket explode mirrored
    "q338_attribution_capped" ->
      """WITH pp AS (
             SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS tp,
                    CAST(round(value * 10000) AS BIGINT) AS cents,
                    epoch_us(ts) // 86400000000 AS pd
             FROM events WHERE event_type = 'purchase'),
         pt AS (
             SELECT user_id, event_type AS ty, event_id AS tid,
                    epoch_us(ts) AS tt
             FROM events
             WHERE event_type IN ('view', 'click', 'signup')),
         ptx AS (
             SELECT user_id, ty, tid, tt,
                    unnest(generate_series(tt // 86400000000,
                                           tt // 86400000000 + 7)) AS sd
             FROM pt),
         ppr0 AS (
             SELECT p.purchase_id, p.cents, t.ty, t.tid, t.tt
             FROM pp p JOIN ptx t
               ON p.user_id = t.user_id AND p.pd = t.sd
             WHERE t.tt < p.tp AND p.tp - t.tt <= 604800000000),
         pprk AS (SELECT *,
                         row_number() OVER (PARTITION BY purchase_id
                           ORDER BY tt DESC, tid ASC) AS rr
                  FROM ppr0),
         ppr AS (SELECT purchase_id, cents, ty, tid, tt
                 FROM pprk WHERE rr <= 10),
         pper AS (SELECT purchase_id, cents,
                         CAST(count(*) AS BIGINT) AS n
                  FROM ppr GROUP BY 1, 2),
         prk AS (SELECT *,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt, tid) AS rf,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt DESC, tid DESC) AS rl
                 FROM ppr),
         pf AS (SELECT purchase_id, ty AS fty FROM prk WHERE rf = 1),
         pl AS (SELECT purchase_id, ty AS lty FROM prk WHERE rl = 1),
         pc AS (SELECT purchase_id, ty, CAST(count(*) AS BIGINT) AS k
                FROM ppr GROUP BY 1, 2),
         pci AS (SELECT c.purchase_id, c.ty, c.k, e.n, e.cents,
                        CASE WHEN f.fty = c.ty THEN 1 ELSE 0 END AS indf,
                        CASE WHEN l.lty = c.ty THEN 1 ELSE 0 END AS indl
                 FROM pc c
                 JOIN pper e USING (purchase_id)
                 JOIN pf f USING (purchase_id)
                 JOIN pl l USING (purchase_id)),
         pcr AS (SELECT ty, purchase_id, cents,
                        CASE WHEN n = 1 THEN indf * 1000000
                             WHEN n = 2 THEN (indf + indl) * 500000
                             ELSE (indf + indl) * 400000
                               + (k - indf - indl)
                                 * (((200000 * 2) + (n - 2))
                                    // ((n - 2) * 2))
                        END AS share_u
                 FROM pci),
         pcf AS (SELECT ty, purchase_id, share_u,
                        (CAST(cents AS HUGEINT) * 1000 * share_u) // 1000000
                          AS rev_mu
                 FROM pcr WHERE share_u > 0
                 UNION ALL
                 SELECT 'direct' AS ty, a.purchase_id,
                        1000000 AS share_u, a.cents * 1000 AS rev_mu
                 FROM pp a LEFT JOIN pper e USING (purchase_id)
                 WHERE e.purchase_id IS NULL)
         SELECT ty AS touch_type,
                CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
                round(sum(CAST(share_u AS HUGEINT)) / 1e6, 6)
                  AS total_credit,
                round(sum(CAST(rev_mu AS HUGEINT)) / 1e7, 6)
                  AS attributed_revenue
         FROM pcf GROUP BY 1 ORDER BY touch_type""",

    // ingest-side rate cap: newest 3 per (user, day), rank (ts DESC,
    // id ASC); per (event_type, disposition) accounting with an exact
    // HUGEINT id-sum — any membership flip changes the hash
    "q340_event_rate_cap" ->
      """WITH rk AS (
             SELECT event_type AS class, user_id AS ent, event_id AS id,
                    row_number() OVER (
                      PARTITION BY user_id, epoch_us(ts) // 86400000000
                      ORDER BY ts DESC, event_id ASC) AS rn
             FROM events),
         tagged AS (
             SELECT class, ent, id,
                    CASE WHEN rn <= 3 THEN 'kept'
                         ELSE 'rate_capped' END AS disposition
             FROM rk)
         SELECT class, disposition,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT ent) AS BIGINT) AS n_entities,
                CAST(sum(CAST(id AS HUGEINT)) AS VARCHAR) AS sum_ids,
                round(CAST(count(*) AS DOUBLE)
                  / sum(count(*)) OVER (PARTITION BY class), 6) AS share
         FROM tagged GROUP BY 1, 2 ORDER BY class, disposition""",

    // streaming rate cap == the batch cap: newest 3 per (user, day),
    // rank (ts DESC, id ASC); value/type pass through untouched
    "q344_stream_rate_cap" ->
      """WITH rk AS (
             SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
                    value,
                    row_number() OVER (
                      PARTITION BY user_id, epoch_us(ts) // 86400000000
                      ORDER BY ts DESC, event_id ASC) AS rn
             FROM events)
         SELECT user_id, event_id, event_type, tsu, value FROM rk
         WHERE rn <= 3 ORDER BY user_id, event_id""",

    // audio geometry: u8 mono 8kHz PCM over the UTF-8 bytes, canonical
    // 44-byte header — every field an integer function of octet_length
    "q337_audio_decode" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) + 44 AS BIGINT) AS n_bytes,
                true AS decoded,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(8 AS BIGINT) AS bits,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_frames,
                CAST(octet_length(encode(text)) * 1000 // 8000 AS BIGINT)
                  AS duration_ms
         FROM documents ORDER BY doc_id""",

    "q305_position_attribution" ->
      """WITH pp AS (
             SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS tp,
                    CAST(round(value * 10000) AS BIGINT) AS cents
             FROM events WHERE event_type = 'purchase'),
         pt AS (
             SELECT user_id, event_type AS ty, event_id AS tid,
                    epoch_us(ts) AS tt
             FROM events
             WHERE event_type IN ('view', 'click', 'signup')),
         ppr AS (
             SELECT p.purchase_id, p.cents, t.ty, t.tid, t.tt
             FROM pp p JOIN pt t USING (user_id)
             WHERE t.tt < p.tp AND p.tp - t.tt <= 604800000000),
         pper AS (SELECT purchase_id, cents,
                         CAST(count(*) AS BIGINT) AS n
                  FROM ppr GROUP BY 1, 2),
         prk AS (SELECT *,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt, tid) AS rf,
                        row_number() OVER (PARTITION BY purchase_id
                          ORDER BY tt DESC, tid DESC) AS rl
                 FROM ppr),
         pf AS (SELECT purchase_id, ty AS fty FROM prk WHERE rf = 1),
         pl AS (SELECT purchase_id, ty AS lty FROM prk WHERE rl = 1),
         pc AS (SELECT purchase_id, ty, CAST(count(*) AS BIGINT) AS k
                FROM ppr GROUP BY 1, 2),
         pci AS (SELECT c.purchase_id, c.ty, c.k, e.n, e.cents,
                        CASE WHEN f.fty = c.ty THEN 1 ELSE 0 END AS indf,
                        CASE WHEN l.lty = c.ty THEN 1 ELSE 0 END AS indl
                 FROM pc c
                 JOIN pper e USING (purchase_id)
                 JOIN pf f USING (purchase_id)
                 JOIN pl l USING (purchase_id)),
         pcr AS (SELECT ty, purchase_id, cents,
                        CASE WHEN n = 1 THEN indf * 1000000
                             WHEN n = 2 THEN (indf + indl) * 500000
                             ELSE (indf + indl) * 400000
                               + (k - indf - indl)
                                 * (((200000 * 2) + (n - 2))
                                    // ((n - 2) * 2))
                        END AS share_u
                 FROM pci),
         pcf AS (SELECT ty, purchase_id, share_u,
                        (CAST(cents AS HUGEINT) * 1000 * share_u) // 1000000
                          AS rev_mu
                 FROM pcr WHERE share_u > 0
                 UNION ALL
                 SELECT 'direct' AS ty, a.purchase_id,
                        1000000 AS share_u, a.cents * 1000 AS rev_mu
                 FROM pp a LEFT JOIN pper e USING (purchase_id)
                 WHERE e.purchase_id IS NULL)
         SELECT ty AS touch_type,
                CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
                round(sum(CAST(share_u AS HUGEINT)) / 1e6, 6)
                  AS total_credit,
                round(sum(CAST(rev_mu AS HUGEINT)) / 1e7, 6)
                  AS attributed_revenue
         FROM pcf GROUP BY 1 ORDER BY touch_type""",

    "q306_log_rank" -> OracleSql.withBase(
      """lru AS (
             SELECT user_id, min(creation_date) AS first_date,
                    max(creation_date) AS last_date,
                    max(CASE WHEN is_loyalty THEN 1 ELSE 0 END) AS g
             FROM order_revenue GROUP BY 1),
         lra AS (SELECT max(creation_date) AS anchor FROM order_revenue),
         lrh AS (
             SELECT CAST(datediff('day', first_date, last_date) AS BIGINT)
                      AS dur,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor)
                         >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS m,
                    CAST(sum(CASE WHEN datediff('day', last_date, anchor)
                         >= 30 THEN g ELSE 0 END) AS BIGINT) AS d1,
                    CAST(sum(g) AS BIGINT) AS m1
             FROM lru CROSS JOIN lra GROUP BY 1),
         lrc AS (
             SELECT *,
                    CAST(sum(m) OVER (ORDER BY dur DESC ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
                    CAST(sum(m1) OVER (ORDER BY dur DESC ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1
             FROM lrh),
         lrt AS (
             SELECT d, d1,
                    CAST(round(CAST(d AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
                      AS BIGINT) AS e1u,
                    CASE WHEN n > 1 THEN
                      CAST(round(CAST(d AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                        * 1e9) AS BIGINT)
                    ELSE 0 END AS vu
             FROM lrc WHERE d > 0),
         lrs AS (
             SELECT CAST(sum(d1) AS BIGINT) AS o1,
                    CAST(sum(d - d1) AS BIGINT) AS o0,
                    CAST(sum(e1u) AS BIGINT) AS se1,
                    CAST(sum(vu) AS BIGINT) AS sv
             FROM lrt),
         lrn AS (
             SELECT CAST(sum(g) AS BIGINT) AS n_treat,
                    CAST(sum(1 - g) AS BIGINT) AS n_ctrl
             FROM lru)""",
      """SELECT n_treat, n_ctrl, o1 AS events_treat, o0 AS events_ctrl,
                round(se1 / 1e9, 6) AS expected_treat,
                CASE WHEN sv > 0
                  THEN round((CAST(o1 AS DOUBLE) - se1 / 1e9)
                    * (CAST(o1 AS DOUBLE) - se1 / 1e9) / (sv / 1e9), 6)
                END AS chi2
         FROM lrs CROSS JOIN lrn"""),
  )

  /** Mixture-sampling rates for q65 — ONE map drives both the Spark
    * filter and its SQL mirror so they cannot drift. */
  val MixRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)

  /** Profiled lineitem columns (name, kind) — one list drives BOTH the
    * Spark profile and its SQL mirror so they cannot drift. */
  val ProfileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "num", "l_linenumber" -> "num", "l_quantity" -> "num",
    "l_extendedprice" -> "num", "l_discount" -> "num",
    "l_returnflag" -> "str", "l_linestatus" -> "str")
}
