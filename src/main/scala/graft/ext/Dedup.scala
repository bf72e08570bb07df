package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Portable, Sketches, WordShingles}

/** Deduplication operator suite for large-scale corpus pipelines.
  *
  * Beyond the reference's keyed `dropDuplicates` (silver cleanse,
  * `scripts/cdc_metrics_job_silver.py:66,90`), a 100 TB training-data
  * pipeline needs content-level dedup. All hashes are the portable
  * md5-derived integers from [[Portable]] so the DuckDB oracle can
  * recompute every stage bit-for-bit.
  *
  * Scale design:
  *  - exact duplicate groups are a single hash aggregate on the key —
  *    the map-side partial collapses duplicates before the shuffle;
  *  - MinHash signatures are ONE aggregate producing `numPerms` min
  *    columns (no numPerms× row blowup); LSH banding then self-joins on
  *    (band, key) — the shuffle is on band keys, whose cardinality scales
  *    with corpus size, and candidate verification touches only bucket
  *    collisions, never the full cross product;
  *  - SimHash is one aggregate with per-bit counters.
  */
object Dedup {

  /** Duplicate-key groups: keys appearing more than once (the planted
    * duplicates in the testdata are key-level — rows share a PK but
    * differ in payload, the realistic CDC-ingest shape). */
  def keyedDupGroups(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** MinHash signatures: one row per doc, `sig` = array<long> of
    * `numPerms` values. Computed by the one-pass native
    * [[graft.functions.MinHashSig]] expression — a narrow projection
    * with NO shingle-grain row explosion and NO doc-grain re-aggregation
    * shuffle, so at corpus scale signature build is a pure scan stage.
    * Docs with NULL text are excluded (they have no shingle set), same
    * as the composed form, whose explode dropped them. */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String, numPerms: Int = 16): DataFrame =
    graft.core.Scans.spread(docs.filter(col(textCol).isNotNull)).select(
      col(idCol),
      Sketches.minhash_sig(
        WordShingles.shingles(lower(col(textCol))), numPerms).as("sig"))

  /** The composed-from-built-ins MinHash spec (explode shingles → hash →
    * 16-way min aggregate): semantically identical to
    * [[minhashSignatures]] and property-tested against it; kept as the
    * executable specification and DuckDB-oracle mirror shape. */
  def minhashSignaturesComposed(
      docs: DataFrame, idCol: String, textCol: String, numPerms: Int = 16): DataFrame = {
    val sh = docs.select(
        col(idCol),
        explode(WordShingles.shingles(lower(col(textCol)))).as("sh"))
      .select(col(idCol), Portable.h31(col("sh")).as("h"))
    val aggs = (0 until numPerms).map { i =>
      min((col("h") * lit(Portable.aCoef(i)) + lit(Portable.bCoef(i))) % Portable.P31)
        .as(s"sig_$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until numPerms).map(i => col(s"sig_$i")): _*).as("sig"))
  }

  /** LSH banding: distinct candidate pairs (id_a < id_b) sharing at least
    * one band bucket. bands × rowsPerBand must equal numPerms.
    *
    * Band keys are md5-derived int64 hashes of the band's signature
    * values ([[Portable.bandKey]]) — collision-resistant (so the
    * banding-theory candidate-volume model holds at corpus scale) while
    * the band self-join still shuffles 8-byte keys, not variable-length
    * strings. */
  /** numPerms ∕ bands, REQUIRING exact divisibility — a non-dividing
    * `bands` would silently truncate the signature (16 perms at 5 bands
    * bands over sig[0..14] and ignores sig[15]), so the run executes a
    * different LSH design than the caller configured. Every banding
    * site derives rowsPerBand through this. */
  private def bandedRowsPerBand(numPerms: Int, bands: Int): Int = {
    require(bands >= 1 && numPerms % bands == 0,
      s"bands ($bands) must divide numPerms ($numPerms) exactly - " +
        "a truncated signature would silently change the LSH design")
    numPerms / bands
  }

  def lshCandidates(
      sig: DataFrame, idCol: String, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val bandKeys = (0 until bands).map { j =>
      Portable.bandKey(
        (0 until rowsPerBand).map(r => col("sig").getItem(j * rowsPerBand + r)))
    }
    val exploded = sig.select(col(idCol), posexplode(array(bandKeys: _*)))
      .toDF(idCol, "band", "key")
    val a = exploded.toDF("id_a", "band", "key")
    val b = exploded.toDF("id_b", "band", "key")
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Analytic LSH detection probability at a Jaccard-bucket midpoint:
    * P(candidate | J = s) = 1 − (1 − s^r)^b for b bands of r rows —
    * the banding S-curve. Computed ONCE driver-side and inlined as the
    * identical 6dp literal in both engines (no cross-engine pow). */
  def lshAnalyticDetect(
      bin: Int, buckets: Int, bands: Int, rowsPerBand: Int): Double = {
    val s = (2.0 * bin + 1.0) / (2.0 * buckets)
    val p = 1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)
    BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** LSH S-curve calibration audit: the empirical candidate-detection
    * rate of [[lshCandidates]] per exact-Jaccard bucket, against the
    * analytic banding curve 1 − (1 − s^r)^b — the design readout that
    * says whether (numPerms, bands) sit where the dedup threshold
    * needs them BEFORE a 100 TB run commits to the parameters.
    *
    * The exact side is all-pairs Jaccard and therefore quadratic BY
    * SPEC (the q144/q20 exact-oracle judgment): the audit runs on a
    * deterministic id-ordered sample of `capDocs` documents — at
    * corpus scale a calibration is a sample readout by construction,
    * never a per-doc artifact.
    *
    * Exactness: Jaccard buckets assign by INTEGER arithmetic
    * (`(inter·buckets) div union` — never a float floor); rates are
    * half-up micro ratios; the analytic constants are driver-computed
    * 6dp literals shared verbatim with the oracle. */
  def lshCalibrationCurve(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, bands: Int = 4, buckets: Int = 10,
      capDocs: Int = 1000): DataFrame = {
    val rowsPerBand = bandedRowsPerBand(numPerms, bands)
    val spark = docs.sparkSession
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol))
      .orderBy(col(idCol)).limit(capDocs)
    val sh = graft.core.Scans.spread(d)
      .select(col(idCol), WordShingles.shingles(lower(col(textCol))).as("sh"))
    val a = sh.toDF("id_a", "sh_a")
    val b = sh.toDF("id_b", "sh_b")
    val ex = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("inter"))
      .select(col("id_a"), col("id_b"),
        least(expr(s"(inter * $buckets) div uni"), lit(buckets - 1L))
          .as("bin"))
    val sig = minhashSignatures(d, idCol, textCol, numPerms)
    val det = lshCandidates(sig, idCol, bands, rowsPerBand)
      .withColumn("h", lit(1L))
    val agg = ex.join(det, Seq("id_a", "id_b"), "left")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("h"), lit(0L))).as("n_detected"))
    val analytic = (0 until buckets).foldLeft(lit(null).cast("double")) {
      (acc, k) => when(col("bin") === k,
        lit(lshAnalyticDetect(k, buckets, bands, rowsPerBand))).otherwise(acc)
    }
    spark.range(buckets).toDF("bin")
      .join(agg, Seq("bin"), "left")
      .select(col("bin"),
        round(col("bin").cast("double") / buckets, 6).as("j_lo"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_detected"), lit(0L)).as("n_detected"))
      .withColumn("detect_rate",
        when(col("n_pairs") > 0,
          expr("((n_detected * 1000000 * 2) + n_pairs) div (n_pairs * 2)")
            / 1e6))
      .withColumn("analytic_detect", analytic)
      .orderBy(col("bin"))
  }

  /** Signature-agreement Jaccard estimate for candidate pairs. */
  def estimatedJaccard(
      sig: DataFrame, pairs: DataFrame, idCol: String, numPerms: Int = 16): DataFrame = {
    val sigA = sig.toDF("a_id", "a_sig")
    val sigB = sig.toDF("b_id", "b_sig")
    val agree = (0 until numPerms)
      .map(i => when(col("a_sig").getItem(i) === col("b_sig").getItem(i), 1).otherwise(0))
      .reduce((x, y) => x + y)
    pairs
      .join(sigA, col("id_a") === col("a_id"))
      .join(sigB, col("id_b") === col("b_id"))
      .select(col("id_a"), col("id_b"), (agree.cast("double") / numPerms).as("est_jaccard"))
  }

  /** Full MinHash+LSH near-dup pipeline: candidate pairs with their
    * estimated Jaccard at or above `minEst`.
    *
    * Signatures ride THROUGH the band self-join (numPerms longs per
    * row — 128 B at the default 16), so the estimate computes directly
    * on the joined rows and multi-band duplicate hits collapse in one
    * grouped aggregate: 3 shuffles total (band explode join sides ×2 +
    * pair dedup) versus the candidates→rejoin-signatures→distinct form
    * (5, plus a persist to stop the self-join recomputing the
    * signature subtree). For very wide signatures where carrying them
    * would dominate the band shuffle, compose [[lshCandidates]] +
    * [[estimatedJaccard]] instead — same results
    * ([[lshVerifiedPairs]] uses that shape because full shingle sets
    * are join-fetched, never carried). */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, bands: Int = 4, minEst: Double = 0.5): DataFrame = {
    val rowsPerBand = bandedRowsPerBand(numPerms, bands)
    val sig = minhashSignatures(docs, idCol, textCol, numPerms)
    val bandKeys = (0 until bands).map { j =>
      Portable.bandKey(
        (0 until rowsPerBand).map(r => col("sig").getItem(j * rowsPerBand + r)))
    }
    // Persist the banded table: the self-join otherwise evaluates the
    // whole signature subtree (per-shingle md5 × numPerms perms — the
    // pipeline's entire compute cost) once PER SIDE; Catalyst's exchange
    // reuse does not kick in across the two aliased sides (verified on
    // the executed adaptive plan). The cached rows are numPerms longs +
    // band key per doc·band — tiny next to the text they summarize.
    val exploded = sig
      .select(col(idCol), col("sig"), posexplode(array(bandKeys: _*)))
      .toDF(idCol, "sig", "band", "key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = exploded.toDF("id_a", "sig_a", "band", "key")
    val b = exploded.toDF("id_b", "sig_b", "band", "key")
    val agree = (0 until numPerms)
      .map(i => when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1).otherwise(0))
      .reduce((x, y) => x + y)
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / numPerms).as("est_jaccard"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** LSH candidates verified with exact shingle-set Jaccard (the
    * candidate → verify pattern; same persist rationale as above). */
  def lshVerifiedPairs(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, bands: Int = 4): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = lshCandidates(sig, idCol, bands, bandedRowsPerBand(numPerms, bands))
    // freed after the consuming action (r16, guide §5 — the
    // [[exactJaccardBy]] lifecycle rationale)
    graft.core.CacheLifecycle.unpersistAfterNextAction(sig)
    exactJaccard(docs, pairs, idCol, textCol)
  }

  /** Per-source near-duplicate RATE audit: how much of each source is
    * duplicated, and how much of that duplication crosses source
    * boundaries — the summary a data plan reads before weighting
    * sources ([[lshVerifiedPairs]] lists the pairs; this rolls them up
    * to the decision grain). Cross-source duplication matters
    * separately: it deflates a source's EFFECTIVE unique contribution
    * even when the source itself is internally clean.
    *
    * Per source: doc count, docs with ≥ 1 verified near-dup at
    * `minJaccard`, their share, and how many of those have a partner in
    * a DIFFERENT source. Exact counts; shares are single divisions.
    *
    * Shape: the [[lshVerifiedPairs]] machinery (bucketed banding, never
    * all-pairs) plus a symmetric unpivot of the pair list, two
    * dimension joins at pair grain (pair lists are collision-sized, not
    * corpus-sized), and two mart-grain aggregates. */
  def dupRateBySource(
      docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      minJaccard: Double = 0.7,
      numPerms: Int = 16, bands: Int = 4): DataFrame = {
    val pairs = lshVerifiedPairs(docs, idCol, textCol, numPerms, bands)
      .filter(col("jaccard") >= minJaccard)
    val src = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("src"))
    val touched = pairs
      .select(col("id_a").as("doc_id"), col("id_b").as("partner"))
      .unionByName(
        pairs.select(col("id_b").as("doc_id"), col("id_a").as("partner")))
    val perDoc = touched
      .join(src, Seq("doc_id"))
      .join(src.toDF("partner", "psrc"), Seq("partner"))
      .groupBy(col("doc_id"), col("src"))
      .agg(sum(when(col("psrc") =!= col("src"), 1L).otherwise(0L))
        .as("n_cross"))
    val agg = perDoc.groupBy(col("src").as("source"))
      .agg(count(lit(1)).as("n_dup_docs"),
        sum(when(col("n_cross") > 0, 1L).otherwise(0L))
          .as("n_cross_source_docs"))
    docs.groupBy(col(sourceCol).as("source")).agg(count(lit(1)).as("n_docs"))
      .join(agg, Seq("source"), "left")
      .select(
        col("source"), col("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast("double")
          / col("n_docs"), 6).as("dup_share"),
        coalesce(col("n_cross_source_docs"), lit(0L))
          .as("n_cross_source_docs"))
  }

  /** Incremental ingestion dedup gate: for each BATCH document, its
    * near-duplicate matches in the already-ingested CORPUS — the
    * new-data-versus-history check an incremental pipeline runs per
    * landing, where re-deduplicating the whole corpus
    * ([[lshVerifiedPairs]]) would rescan history every day.
    *
    * Same MinHash/LSH machinery, but the band join is ASYMMETRIC:
    * corpus band table ⨝ batch band table, so the join output is
    * bounded by batch-side bucket hits, never corpus². At 100 TB the
    * corpus band table is a MATERIALIZED index zone (append-only,
    * partitioned by band) that each landing probes — this operator is
    * that probe; only the batch side computes signatures fresh.
    *
    * Output per flagged batch doc: match count, best corpus match
    * (highest exact Jaccard, ties to the smaller corpus id). Batch
    * docs with no verified match produce no row — they are the clean
    * majority, and emitting them would make the result batch-sized
    * instead of collision-sized. */
  def dedupAgainst(
      docs: DataFrame, idCol: String, textCol: String, isBatch: Column,
      numPerms: Int = 16, bands: Int = 4, minJaccard: Double = 0.5): DataFrame = {
    import graft.functions.TopKAggregate.top_k
    // the best-match heap (top_k) carries ids as LONG: a string id
    // would cast to NULL and silently emit best_match_id = NULL while
    // n_matches stays positive — fail loudly instead (the other Dedup
    // ops use min/least and accept any ordered id type; this one not)
    require(Seq("byte", "short", "integer", "long")
        .contains(docs.schema(idCol).dataType.typeName),
      s"dedupAgainst needs an integral $idCol (top_k heap ids are long); " +
        s"got ${docs.schema(idCol).dataType.typeName}")
    // NULL predicate means "corpus side" (the decontaminate rule): a
    // bare filter(pred)/filter(!pred) pair would silently drop
    // NULL-predicate rows from BOTH the index and the probe
    val isBatchSafe = coalesce(isBatch, lit(false))
    val sig = minhashSignatures(docs, idCol, textCol, numPerms)
      .join(docs.select(col(idCol), isBatchSafe.as("is_batch")), Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(sig)
    val rowsPerBand = bandedRowsPerBand(numPerms, bands)
    val bandKeys = (0 until bands).map { j =>
      Portable.bandKey(
        (0 until rowsPerBand).map(r => col("sig").getItem(j * rowsPerBand + r)))
    }
    val exploded = sig
      .select(col(idCol), col("is_batch"), posexplode(array(bandKeys: _*)))
      .toDF(idCol, "is_batch", "band", "key")
    val corpusSide = exploded.filter(!col("is_batch"))
      .select(col(idCol).as("id_a"), col("band"), col("key"))
    val batchSide = exploded.filter(col("is_batch"))
      .select(col(idCol).as("id_b"), col("band"), col("key"))
    val cand = corpusSide.join(batchSide, Seq("band", "key"))
      .select(col("id_a"), col("id_b")).distinct()
    val ver = exactJaccard(docs, cand, idCol, textCol)
      .filter(col("jaccard") >= minJaccard)
    ver.groupBy(col("id_b").as("batch_id"))
      .agg(
        count(lit(1)).as("n_matches"),
        top_k(col("jaccard"), col("id_a"), 1).as("t"))
      .select(col("batch_id"), col("n_matches"),
        element_at(col("t"), 1).getField("id").as("best_match_id"),
        element_at(col("t"), 1).getField("score").as("best_jaccard"))
  }

  /** LSH candidates verified with DIRECTIONAL containment —
    * |sh(a)∩sh(b)| / |sh(side)| — instead of Jaccard. Containment is
    * the signal for doc-inside-doc duplication, which Jaccard
    * under-scores: a short doc quoted whole inside a long one has
    * Jaccard ≈ |short|/|long| (arbitrarily small) but containment 1.0
    * on the short side; curation pipelines drop the contained side and
    * keep the superset doc. Same candidate → verify scale shape (and
    * persist rationale) as [[lshVerifiedPairs]]; only the verification
    * formula differs. Both divisions are one IEEE op on exact integers,
    * so scores are bit-identical across engines with no rounding. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 16, bands: Int = 4): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = lshCandidates(sig, idCol, bands, bandedRowsPerBand(numPerms, bands))
    val sh = graft.core.Scans.spread(docs)
      .select(col(idCol), WordShingles.shingles(lower(col(textCol))).as("sh"))
    val a = sh.toDF("id_a", "sh_a")
    val b = sh.toDF("id_b", "sh_b")
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / size(col("sh_a"))).as("containment_a"),
        (col("inter") / size(col("sh_b"))).as("containment_b"))
  }

  /** Cross-source contamination matrix: for each pair of sources, the
    * number of distinct RARE word n-grams they share — the leakage
    * signal for source-partitioned train/test splits (two sources
    * sharing many rare n-grams are copying from each other; frequent
    * n-grams are boilerplate and excluded by the `maxDf` cap).
    *
    * Scale shape: NO self-join. One aggregation per shingle collects
    * (doc frequency, distinct source set); the df cap both selects the
    * signal and BOUNDS the source set at `maxDf` entries, so the pair
    * explosion is ≤ maxDf²/2 rows per kept shingle — a skew-proof
    * constant — and the final matrix agg is |sources|² at most. Two
    * shuffles total (shingle agg + matrix agg), both map-side
    * combined. */
  def sourceOverlapMatrix(
      docs: DataFrame, sourceCol: String, textCol: String,
      n: Int = 3, maxDf: Long = 5): DataFrame = {
    val perShingle = graft.core.Scans.spread(docs.filter(col(textCol).isNotNull))
      .select(col(sourceCol).as("source"),
        explode(WordShingles.shingles(lower(col(textCol)), n)).as("s"))
      .groupBy(col("s"))
      // shingles are distinct within a doc, so count(*) IS the doc freq
      .agg(count(lit(1)).as("df_docs"), collect_set(col("source")).as("srcs"))
      .filter(col("df_docs") <= maxDf && size(col("srcs")) >= 2)
    val sorted = array_sort(col("srcs"))
    val pairs = flatten(
      transform(sorted, (a, i) =>
        transform(slice(sorted, i + lit(2), size(sorted)),
          b => struct(a.as("source_a"), b.as("source_b")))))
    perShingle.select(explode(pairs).as("p"))
      .groupBy(col("p.source_a"), col("p.source_b"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** Per-document duplicated-n-gram share — the span-level dedup signal
    * from the "Deduplicating Training Data Makes Language Models Better"
    * line of work: document-level dedup misses the boilerplate PARTS of
    * otherwise-unique pages, so curation also wants, per doc, what
    * fraction of its distinct word n-grams occur in at least one other
    * document. High-share docs are stitched/templated content; the
    * corpus-wide mean is the number the dedup pass is judged by.
    *
    * Shape: one shingle explode feeding a gram-keyed doc-frequency
    * aggregate (map-side partials — shingles are distinct within a doc,
    * so count(*) IS the doc frequency), then one join back on the gram
    * and a per-doc aggregate. Both shuffles key on the gram / doc id;
    * nothing is pairwise — this reads the same inverted-index shape as
    * [[crossSourceContamination]] and scales identically. Sub-`n`-token
    * docs collapse to their whole-text shingle (the [[WordShingles]]
    * fallback), so every document is audited. */
  def dupNgramShare(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val sh = graft.core.Scans.spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        explode(WordShingles.shingles(lower(col(textCol)), n)).as("g"))
    val df = sh.groupBy(col("g")).agg(count(lit(1)).as("nd"))
    sh.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams")).as("dup_share"))
  }

  /** SimHash: per-doc `bits`-bit locality-sensitive hash over the distinct
    * token set (bit b is the sign of Σ_tokens ±1 by token-hash bit b).
    * One-pass native [[graft.functions.SimHashPack]] over the distinct
    * token array — a narrow projection, no token explosion or per-bit
    * sum aggregate (scale rationale as [[minhashSignatures]]). */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame =
    graft.core.Scans.spread(docs.filter(col(textCol).isNotNull)).select(
      col(idCol),
      Sketches.simhash_pack(
        array_distinct(Portable.tokens(col(textCol))), bits).as("simhash"))

  /** Composed-from-built-ins SimHash spec (executable specification for
    * [[simhash]]; property-tested equal). */
  def simhashComposed(
      docs: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame = {
    val tok = docs.select(
        col(idCol),
        explode(array_distinct(Portable.tokens(col(textCol)))).as("t"))
      .select(col(idCol), Portable.h60(col("t")).as("h"))
    val sums = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"s_$b")
    }
    val packed = (0 until bits)
      .map(b => when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x + y)
    tok.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** Exact shingle-set Jaccard for candidate pairs (LSH verification
    * stage). Intersection/union sizes only — element order of the
    * distinct arrays is engine-specific and never observed. */
  def exactJaccard(
      docs: DataFrame, pairs: DataFrame, idCol: String, textCol: String): DataFrame =
    exactJaccardBy(docs, pairs, idCol,
      WordShingles.shingles(lower(col(textCol))))

  /** [[exactJaccard]] over an arbitrary shingle column. */
  def exactJaccardBy(
      docs: DataFrame, pairs: DataFrame, idCol: String, shingleCol: Column): DataFrame = {
    // persist the shingle table: the a/b sides are independent subtrees
    // (the banded-table rationale above — exchange reuse does not fire
    // across the two aliases), so without it the shingling of the WHOLE
    // corpus — the verify stage's dominant compute — runs once per side
    val sh = graft.core.Scans.spread(docs).select(col(idCol), shingleCol.as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sh.toDF("id_a", "sh_a")
    val b = sh.toDF("id_b", "sh_b")
    // BOUNDED persist lifecycle (r16, guide §5): the r15 shape persisted
    // a full corpus shingle table per call and never unpersisted, so one
    // session's repeated verify queries (q16/q18/q43/q195/q253/q310/
    // q327/…) accumulated corpus-sized cached relations for the JVM's
    // life. Freed after the consuming action ([[CacheLifecycle]] — an
    // eager checkpoint here was measured to defeat the caller's column
    // pruning: q33's count() never computes the jaccard projection).
    graft.core.CacheLifecycle.unpersistAfterNextAction(sh)
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn(
        "jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Character-n-gram Jaccard near-dup pipeline: MinHash+LSH candidates
    * over char n-grams (robust where word shingles are brittle —
    * tokenization drift, no whitespace, CJK-ish text), verified with
    * exact char-gram Jaccard. Same candidate→verify scale shape as
    * [[lshVerifiedPairs]]; only the shingling unit differs. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numPerms: Int = 16, bands: Int = 4): DataFrame = {
    val grams = graft.functions.CharShingles.charShingles(lower(col(textCol)), n)
    val sig = graft.core.Scans.spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), Sketches.minhash_sig(grams, numPerms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = lshCandidates(sig, idCol, bands, bandedRowsPerBand(numPerms, bands))
    // the lshVerifiedPairs lifecycle rationale (r16, guide §5)
    graft.core.CacheLifecycle.unpersistAfterNextAction(sig)
    exactJaccardBy(docs, pairs, idCol, grams)
  }

  /** Benchmark decontamination: per training doc, the number of distinct
    * word `n`-grams it shares with a held-out benchmark set — the
    * n-gram-overlap scrub every LLM training pipeline runs so eval
    * benchmarks don't leak into the corpus. Docs with any overlap are
    * the contamination report (the pipeline drops them or strips the
    * overlapping spans).
    *
    * Scale: the benchmark side is eval-suite-sized (thousands of docs),
    * so its distinct-shingle set broadcasts and the whole scrub is a
    * map-side hash probe over the corpus — zero shuffles on the 100 TB
    * side except the final per-doc count, which the map-side partial
    * collapses to contaminated docs only. */
  def decontaminate(
      docs: DataFrame, idCol: String, textCol: String,
      benchmarkPred: Column, n: Int = 5): DataFrame = {
    // NULL predicate means "not a benchmark doc": the row stays on the
    // corpus side (a bare filter(pred)/filter(!pred) pair would silently
    // drop NULL-predicate rows from BOTH sides)
    val isBench = coalesce(benchmarkPred, lit(false))
    val sh = explode(WordShingles.shingles(lower(col(textCol)), n)).as("sh")
    val bench = docs.filter(isBench).select(sh).distinct()
    graft.core.Scans.spread(docs.filter(!isBench))
      .select(col(idCol), sh)
      .join(broadcast(bench), Seq("sh"))
      // shingles are distinct within a doc, so the plain count is the
      // distinct-shared-shingle count — no countDistinct expand needed
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold within a blocking
    * column (e.g. a cluster/label id) — the blocked self-join is the
    * scale path; an unblocked variant would be a cross product. */
  def embeddingNearDups(
      vecs: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val v = vecs.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("emb"))
    val a = v.toDF("block", "id_a", "emb_a")
    val b = v.toDF("block", "id_b", "emb_b")
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(Similarity.cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Typo-tolerant entity matching (record linkage): pairs whose names
    * are within `maxDist` edits, found by an Ed-Join-style q-gram
    * PREFIX FILTER + exact Levenshtein verify — never all-pairs.
    * Deduplicating entity catalogs (vendor names, product titles) is
    * where near-dup text ops meet CDC conform.
    *
    * Candidate tier (the part that scales): one edit alters at most `q`
    * of a string's distinct unpositioned q-grams (a type only vanishes
    * when every occurrence is touched; shifts don't change gram
    * strings), so two names within `maxDist` edits share all but
    * ≤ maxDist·q gram types. By the standard prefix-filter argument,
    * each string's `maxDist·q + 1` RAREST grams (any fixed global
    * order — df-ascending makes the join cheapest) must then intersect
    * for every true pair. The candidate join runs on (block, rare
    * gram) — rare by construction, so bucket fan-out stays small —
    * and the threshold-bounded Levenshtein (O(len·k), abandons far
    * pairs) verifies. Names too short to own a full prefix
    * (len < q·(maxDist+1)) can legitimately share zero grams with a
    * within-distance partner, so they pair against all length-near
    * block members directly — a vanishing fraction at any realistic
    * length distribution.
    *
    * The gate (q97) proves filter+verify == the plain quadratic join. */
  def fuzzyNamePairs(
      df: DataFrame, idCol: String, nameCol: String, blockCol: String,
      maxDist: Int, q: Int = 2): DataFrame = {
    val slim = df.select(col(blockCol).as("block"),
      col(idCol).as("id"), col(nameCol).as("name"))
    val minPrefixLen = q * (maxDist + 1)
    val prefixLen = maxDist * q + 1

    val long = slim.filter(length(col("name")) >= minPrefixLen)
    val grams = long.select(col("block"), col("id"),
      explode(graft.functions.CharShingles.charShingles(col("name"), q))
        .as("gram"))
    val gramDf = grams.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
    val wRank = Window.partitionBy(col("id"))
      .orderBy(col("gdf").asc, col("gram").asc)
    // both sides of the candidate self-join read the prefix table —
    // persist it or the gram explode + df join + rank window runs twice
    // (the same exchange-reuse gap as the LSH band table)
    val prefix = grams.join(broadcast(gramDf), Seq("gram"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= prefixLen)
      .select(col("block"), col("id"), col("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(prefix)
    val candLong = prefix.toDF("block", "id_a", "gram")
      .join(prefix.toDF("block", "id_b", "gram"), Seq("block", "gram"))
      .filter(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"))

    val candShort = slim.filter(length(col("name")) < minPrefixLen)
      .toDF("block", "id_s", "name_s")
      .join(slim.toDF("block", "id_o", "name_o"), Seq("block"))
      .filter(col("id_s") =!= col("id_o"))
      .filter(abs(length(col("name_s")) - length(col("name_o"))) <= maxDist)
      .select(col("block"),
        least(col("id_s"), col("id_o")).as("id_a"),
        greatest(col("id_s"), col("id_o")).as("id_b"))

    candLong.unionByName(candShort).distinct()
      .join(slim.toDF("block", "id_a", "name_a"), Seq("block", "id_a"))
      .join(slim.toDF("block", "id_b", "name_b"), Seq("block", "id_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("block").as(blockCol), col("id_a"), col("id_b"),
        col("name_a"), col("name_b"), col("edit_dist"))
  }

  /** Blocked Jaro-Winkler pairs — the phonetic-typo complement of
    * [[fuzzyNamePairs]]: JW weighs shared prefixes and tolerates
    * transpositions, the error model of hand-keyed names (where
    * Levenshtein's unit-cost model under-scores swaps). Similarity is
    * the native codegen expression
    * ([[graft.functions.StringSimilarity.jaroWinkler]] — bit-identical
    * to DuckDB's rapidfuzz-convention implementation on the gated
    * corpus, verified exhaustively over every within-block pair).
    *
    * Scale shape: a blocked equi-join (hash join on the block key, the
    * [[fuzzyNamePairs]] candidate discipline — never a global cross
    * join); within-block pairing is quadratic in block size BY
    * DEFINITION of pairwise scoring, so the block key chooses the
    * tradeoff. JW admits no q-gram prefix bound (a high-JW pair can
    * share no q-gram), so unlike the edit-distance tier the pairing
    * stays quadratic; at 100 TB block finer (brand×container) or
    * pre-gate with [[simhash]]. What a threshold > 0.8 DOES admit is a
    * lossless per-pair constant cut, applied in strictly increasing
    * cost order inside ONE explicit join condition (on the pinned
    * Spark version the as-written conjunct order was OBSERVED to
    * survive into the physical join, while a `.filter` chain here
    * empirically reassembled with the expensive predicate FIRST —
    * measured 1.8× slower; Spark does not GUARANTEE this across
    * versions, so PlanSpec asserts the And-tree keeps the cheap
    * conjuncts before JaroWinklerGte and will flag a regression on
    * upgrade): id_a < id_b (halves the scan) → O(1)
    * length band + precomputed 61-bit char-mask intersection
    * ([[graft.functions.StringSimilarity.jaroFloor]] has the proof) →
    * [[graft.functions.StringSimilarity.jaroWinklerGte]], the
    * threshold-specialized predicate whose match-count floor aborts
    * the O(len·window) scan early on non-matching pairs. The jw VALUE
    * is recomputed only for surviving pairs (a ≪1% tail). Same pairs
    * out, bit-identical scores — property-law-tested. */
  /** O(1) lossless Jaro–Winkler prefilter (q168) over the standard
    * (len_a, len_b, cmask_a, cmask_b) pair columns: the min/max length
    * band implied by the JW floor (1e-9 slack for the double multiply)
    * plus a shared-character bitmask test; `lit(true)` when the floor
    * is non-binding. ONE body for [[jaroWinklerPairs]] and
    * [[fellegiSunter]] — the slack and the floor<=0 degenerate case
    * must not drift between them. */
  private def jwCheapFilter(minSim: Double): Column = {
    val floor = graft.functions.StringSimilarity.jaroFloor(minSim)
    if (floor <= 0) lit(true)
    else least(col("len_a"), col("len_b")) >=
           lit(floor) * greatest(col("len_a"), col("len_b")) - lit(1e-9) &&
         col("cmask_a").bitwiseAND(col("cmask_b")) =!= 0L
  }

  def jaroWinklerPairs(
      df: DataFrame, idCol: String, nameCol: String, blockCol: String,
      minSim: Double): DataFrame = {
    val slim = df.select(col(blockCol).as("block"),
      col(idCol).as("id"), col(nameCol).as("name"),
      length(col(nameCol)).cast("double").as("len"),
      graft.functions.StringSimilarity.charMask(col(nameCol)).as("cmask"))
    val a = slim.toDF("block_a", "id_a", "name_a", "len_a", "cmask_a")
    val b = slim.toDF("block_b", "id_b", "name_b", "len_b", "cmask_b")
    val cheap = jwCheapFilter(minSim)
    val cond = col("block_a") === col("block_b") &&
      col("id_a") < col("id_b") && cheap &&
      graft.functions.StringSimilarity.jaroWinklerGte(
        col("name_a"), col("name_b"), minSim)
    // The slim side broadcasts (it is dim-sized), so the join's
    // parallelism is the PROBE side's partitioning — a one-row-group
    // parquet scan at the gate SF, i.e. ONE task carrying the whole
    // within-block quadratic JW scan (measured: cpu_share 1.2 on 32
    // cores). Pin a block-keyed repartition on the probe side only:
    // numPartitions-pinned, so AQE cannot coalesce it away (the q171
    // lesson — the quadratic join-output cost is invisible to AQE's
    // byte stats), and the build side stays broadcastable at every
    // scale. Parallelism becomes min(#blocks, cores) by construction.
    val n = df.sparkSession.sparkContext.defaultParallelism
    a.repartition(n, col("block_a")).join(b, cond)
      .select(col("block_a").as(blockCol), col("id_a"), col("id_b"),
        col("name_a"), col("name_b"),
        round(graft.functions.StringSimilarity.jaroWinkler(
          col("name_a"), col("name_b")), 6).as("jw"))
  }

  /** Exact-dedup yield manifest per source: with corpus-wide keep-min-id
    * canonical selection over identical texts, what each source loses —
    * removed docs, removal share, and bytes reclaimed. The accounting
    * report a curation run publishes next to the dedup itself (q15
    * performs the dedup; this prices it). One md5 group + an id-keyed
    * join back; all counts exact longs. */
  def dedupYield(
      docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, sizeCol: String): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
      col(sizeCol).as("nb"), md5(col(textCol)).as("h"))
    val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    d.join(keep, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("doc_id") =!= col("keep_id")).cast("long")).as("n_removed"),
        sum(when(col("doc_id") =!= col("keep_id"), col("nb")).otherwise(0L))
          .as("bytes_removed"),
        sum(col("nb")).as("bytes_total"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        expr("((n_removed * 1000000 * 2 + n_docs) div (n_docs * 2)) " +
          "/ cast(1000000 as double)").as("removal_share"),
        col("bytes_removed"), col("bytes_total"))
  }

  /** Cross-signal curation audit: quality-score deciles × exact-dup
    * rate — are low-quality documents ALSO the duplicated ones (if so,
    * quality pruning buys some dedup for free; if not, both passes
    * earn their keep). Deciles rank the [[TextAnalysis.qualityScore]]
    * micro-units with doc-id tie-break (total order, engine-stable);
    * dup flags reuse [[dedupYield]]'s keep-min-id rule. */
  def qualityDupDeciles(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val q = TextAnalysis.qualityScore(docs, idCol, textCol)
      .select(col(idCol).as("doc_id"),
        round(col("quality_score") * 1e6).cast("long").as("qu"))
    val d = docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"))
    val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val dup = d.join(keep, Seq("h"))
      .select(col("doc_id"),
        (col("doc_id") =!= col("keep_id")).cast("long").as("is_dup"))
    val joined = q.join(dup, Seq("doc_id"))
    // DISTRIBUTED ntile: a bare ntile(10) over an unpartitioned window
    // funnels the whole doc-grain frame through ONE task's sort — the
    // exact shape this file's other operators avoid. Equivalent plan:
    // a range-partitioned global sort (distributed), zipWithIndex for
    // the global row number (the theilSen index-selection device), and
    // ntile's bucket arithmetic applied per row: with n rows in k
    // buckets, q = n div k and r = n mod k, the first r buckets take
    // q+1 rows — identical bucket assignment to the window form.
    val nTotal = joined.count()
    val k = 10L
    val (bq, br) = (nTotal / k, nTotal % k)
    val sorted = joined
      .orderBy(col("qu").asc, col("doc_id").asc)
      .select(col("qu"), col("is_dup"))
    val spark = docs.sparkSession
    val byDecile = sorted.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .zipWithIndex()
      .map { case ((qu, isDup), idx) =>
        val rn = idx + 1
        // first br buckets take bq+1 rows, the rest bq (if rn lands in
        // the second branch then bq >= 1: br*(bq+1) >= rn would
        // otherwise have caught it)
        val decile =
          if (rn <= br * (bq + 1)) (rn - 1) / (bq + 1) + 1
          else br + (rn - br * (bq + 1) - 1) / bq + 1
        (decile.toInt, qu, isDup)
      }
    spark.createDataFrame(byDecile).toDF("decile", "qu", "is_dup")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"),
        sum(col("qu")).as("sq"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        expr("((n_dups * 1000000 * 2 + n_docs) div (n_docs * 2)) " +
          "/ cast(1000000 as double)").as("dup_share"),
        expr("((sq * 2 + n_docs) div (n_docs * 2)) " +
          "/ cast(1000000 as double)").as("mean_quality"))
  }

  /** Exact-substring span dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL '22): remove every token
    * span of ≥ `n` tokens that occurs more than once in the corpus —
    * the span-level REMOVAL companion to [[dupNgramShare]]'s span-level
    * measurement. The suffix-array machinery of the paper re-expresses
    * at shingle grain: a positional n-gram occurring > 1× marks its n
    * covering token positions; any longer repeated span is a run of
    * such n-grams, so merged coverage equals the paper's ≥ n-token
    * duplicated-span set. Per doc: token count, tokens removed, merged
    * span count, and the kept text with covered spans excised.
    *
    * Exactness: grams key on the portable [[Portable.h60]] md5 integer
    * (bit-identical in DuckDB); coverage/flags are exact longs; kept
    * text is the p-ordered space-join of uncovered tokens — identical
    * string both engines.
    *
    * Scale shape: the ONE data-sized shuffle groups 8-byte gram hashes
    * (never the n-token strings — map-side partial collapses repeats);
    * dup starts flow back through a doc_id-partitioned join, and
    * coverage/flag/kept-text run in doc-partitioned windows + one hash
    * aggregate. Nothing is quadratic and nothing funnels to one
    * partition; the dup-gram table scales with REPEATED content only. */
  def exactSubstringDedup(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), Portable.tokens(col(textCol)).as("t"))
      .withColumn("n_toks", size(col("t")))
    // positional n-grams (start, h60(gram)); docs shorter than n emit none
    val occ = base.filter(col("n_toks") >= n)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), col("n_toks") - (n - 1)),
          i => Portable.h60(concat_ws(" ",
            (0 until n).map(k => element_at(col("t"), i + k)): _*)))))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("g"))
    val dup = occ.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("g"))
    val dupStarts = occ.join(dup, Seq("g"))
      .select(col("doc_id"), col("start").as("p"), lit(1L).as("st"))
    val tok = base
      .select(col("doc_id"), col("n_toks"), posexplode(col("t")))
      .select(col("doc_id"), col("n_toks"),
        (col("pos") + 1).as("p"), col("col").as("tok"))
    val wCov = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(n - 1), 0)
    val wLag = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    tok.join(dupStarts, Seq("doc_id", "p"), "left")
      .withColumn("covered", max(coalesce(col("st"), lit(0L))).over(wCov))
      .withColumn("new_span",
        when(col("covered") === 1L &&
          coalesce(lag(col("covered"), 1).over(wLag), lit(0L)) === 0L, 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(max(col("n_toks")).cast("long").as("n_tokens"),
        sum(col("covered")).as("n_removed"),
        sum(col("new_span")).as("n_spans"),
        array_join(transform(
          array_sort(collect_list(
            when(col("covered") === 0L, struct(col("p"), col("tok"))))),
          x => x.getField("tok")), " ").as("kept_text"))
      .orderBy(col("doc_id"))
  }

  /** Quality-aware canonical selection vs keep-min-id — the keep-
    * POLICY audit: within each near-dup group (the [[TextAnalysis
    * .fingerprint]] min-shingle blocking key, whose cross-engine
    * parity q25 already gates), keep the HIGHEST-quality copy
    * (id tie-break) instead of the smallest id, and price what the
    * smarter policy buys. [[dedupYield]] assumes min-id; real
    * curation keeps the best duplicate — near-identical copies differ
    * in boilerplate and therefore in quality score, which is exactly
    * where the two policies diverge (on EXACT-dup groups they cannot:
    * identical text ⇒ identical score ⇒ the id tie-break decides both
    * ways identically — the audit must run at near-dup grain to say
    * anything). Docs too short to shingle (NULL fingerprint) become
    * singletons via a salted id hash. One row out: group counts, the
    * policy-flip count, and the mean kept-quality under each policy
    * plus the gain — half-up micro ratios of exact decimal sums.
    *
    * Shape: ONE doc pass to group grain via two argmin struct
    * aggregates in the same hash aggregate (min(id) and min((−qu,
    * id))), a join back for the min-id winner's score, one
    * constant-size aggregate. */
  def canonicalPolicyAudit(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val q = TextAnalysis.qualityScore(docs, idCol, textCol)
      .select(col(idCol).as("doc_id"),
        round(col("quality_score") * 1e6).cast("long").as("qu"))
    val d = TextAnalysis.fingerprint(docs, idCol, textCol)
      .select(col(idCol).as("doc_id"),
        coalesce(col("shingle_fp"),
          Portable.h60(concat(lit("singleton:"),
            col(idCol).cast("string")))).as("h"))
      .join(q, Seq("doc_id"))
    val groups = d.groupBy(col("h")).agg(
      count(lit(1)).as("n"),
      min(col("doc_id")).as("minid_id"),
      min(struct((-col("qu")).as("nq"), col("doc_id"))).as("bestw"))
    val withScores = groups
      .select(col("h"), col("n"),
        col("minid_id"), col("bestw.doc_id").as("best_id"),
        (-col("bestw.nq")).as("qu_best"))
      .join(d.select(col("doc_id").as("minid_id"),
        col("qu").as("qu_minid")), Seq("minid_id"))
    withScores.agg(
      count(lit(1)).as("n_groups"),
      sum((col("n") > 1).cast("long")).as("n_dup_groups"),
      sum((col("best_id") =!= col("minid_id")).cast("long"))
        .as("n_policy_flips"),
      // micro-quality sums ride decimal(38,0): micro-units × 1e12 docs
      // brushes int64 at the 100 TB tier (HUGEINT mirror)
      sum(col("qu_best").cast("decimal(38,0)")).as("sb"),
      sum(col("qu_minid").cast("decimal(38,0)")).as("sm"))
      .select(col("n_groups"), col("n_dup_groups"), col("n_policy_flips"),
        expr("((sb * 2 + n_groups) div (n_groups * 2)) " +
          "/ cast(1000000 as double)").as("mean_quality_best"),
        expr("((sm * 2 + n_groups) div (n_groups * 2)) " +
          "/ cast(1000000 as double)").as("mean_quality_minid"),
        expr("(((sb - sm) * 2) + n_groups) div (n_groups * 2) " +
          "/ cast(1000000 as double)").as("mean_quality_gain"))
  }

  /** EXACT Jaccard-threshold similarity self-join via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * TODS'11): the exact-recall sibling of the LSH tier. MinHash+LSH
    * (q16) trades recall for speed probabilistically; this join returns
    * EVERY pair with J ≥ τ and nothing below, using the prefix-filter
    * principle: order each doc's shingles by ascending global document
    * frequency (rarest first) — if J(a,b) ≥ τ then |a∩b| ≥ τ·|a| and
    * ≥ τ·|b|, so a and b MUST share a shingle within each one's first
    * |s| − ⌈τ|s|⌉ + 1 shingles. Only those prefix shingles enter the
    * inverted index, so candidate postings hold the RARE end of the
    * vocabulary; an exact set-intersection verify with a cross-
    * multiplied integer compare (5·|∩| ≥ 3·|∪| for τ = 3∕5 — no float
    * in the decision) closes the loop. The DuckDB oracle is the
    * brute-force all-pairs join, so the gate proves the filter's
    * COMPLETENESS, not just its precision.
    *
    * Like [[lshCalibrationCurve]], runs on the deterministic id-ordered
    * `capDocs` sample — the oracle side is quadratic by spec. At scale
    * the operator itself is the scale path: prefix postings are
    * df-ascending (bounded lists), the length filter τ|a| ≤ |b| ≤ |a|∕τ
    * prunes before verify, and verify touches only candidates. */
  def prefixJaccardJoin(
      docs: DataFrame, idCol: String, textCol: String,
      tauNum: Int = 3, tauDen: Int = 5, capDocs: Int = 1200): DataFrame = {
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol))
      .orderBy(col(idCol)).limit(capDocs)
    val sh = graft.core.Scans.spread(d)
      .select(col(idCol).as("doc_id"),
        array_distinct(WordShingles.shingles(lower(col(textCol)))).as("sh"))
      // read by the prefix index and both verify sides
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheLifecycle.unpersistAfterNextAction(sh)
    val tokDoc = sh.select(col("doc_id"), explode(col("sh")).as("g"),
      size(col("sh")).cast("long").as("len"))
    val dfreq = tokDoc.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val pre = tokDoc.join(dfreq, Seq("g"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
      .filter(col("pos") <=
        col("len") - expr(s"(len * $tauNum + ${tauDen - 1}) div $tauDen")
          + lit(1L))
      .select(col("g"), col("doc_id"), col("len"))
    val cand = pre.toDF("g", "id_a", "len_a")
      .join(pre.toDF("g2", "id_b", "len_b"),
        col("g") === col("g2") && col("id_a") < col("id_b"))
      .filter(col("len_b") * tauDen >= col("len_a") * tauNum
        && col("len_a") * tauDen >= col("len_b") * tauNum)
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("na", size(col("sh_a")).cast("long"))
      .withColumn("nb", size(col("sh_b")).cast("long"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("inter").as("n_common"),
        (expr("((inter * 1000000 * 2) + uni) div (uni * 2)") / 1e6)
          .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Capture–recapture estimate of the near-duplicate pair population
    * — the COVERAGE audit for the dedup tier itself: LSH banding
    * (q16/q18) and SimHash bucketing (q17) each miss different J ≥ τ
    * pairs, and with no ground truth at corpus scale (q320's exact
    * join is capped by construction), Chapman's estimator
    * N̂ = (n₁+1)(n₂+1)∕(m+1) − 1 over the two detectors' verified pair
    * sets estimates how many qualifying pairs exist INCLUDING the ones
    * both miss — and therefore each detector's implied recall. The
    * independence assumption is the documented caveat (both detectors
    * key on lexical overlap, so N̂ is a lower-bound-flavored estimate;
    * positively correlated captures bias N̂ low).
    *
    * Both detectors verify with the SAME exact-Jaccard ≥ τ contract
    * (the q18 machinery), so they sample the same population. SimHash
    * candidates come from two 16-bit band buckets (hamming-0 per
    * half), the classic multi-index probe.
    *
    * Exactness: n₁, n₂, m are exact pair counts; N̂ is a half-up micro
    * ratio of exact integers (decimal/HUGEINT product); Chapman's SE
    * is one fixed double chain quantized 1e-6.
    *
    * Scale shape: both candidate generators are bucket self-joins
    * (never all-pairs); the overlap is one full-outer join on
    * collision-sized pair lists; the Chapman row is a scalar
    * aggregate. */
  def dedupCaptureRecapture(
      docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.7, numPerms: Int = 16,
      bands: Int = 4): DataFrame = {
    val dec = "decimal(38,0)"
    // ONE verify pass (r15): the two detectors' candidate sets overlap
    // heavily by construction (they hunt the same pairs), and exact
    // Jaccard — the shingle join + array_intersect — is the dominant
    // compute. Instead of verifying each detector's candidates
    // separately and full-outer-joining the verified lists, union the
    // candidate sets with membership flags, verify the union once, and
    // read n1/n2/m off the flags: identical counts (a pair's exact
    // Jaccard does not depend on which detector proposed it), one
    // verify instead of two, and the pair-list join disappears into
    // the final scalar aggregate.
    val sig = minhashSignatures(docs, idCol, textCol, numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candA = lshCandidates(sig, idCol, bands, bandedRowsPerBand(numPerms, bands))
    val sh = simhash(docs, idCol, textCol)
    val bandsB = sh.select(col(idCol).as("id"), lit(0).as("b"),
        shiftright(col("simhash"), 16).as("k"))
      .unionByName(sh.select(col(idCol).as("id"), lit(1).as("b"),
        col("simhash").bitwiseAND(lit(65535L)).as("k")))
    val candB = bandsB.toDF("id_a", "b", "k")
      .join(bandsB.toDF("id_b", "b", "k"), Seq("b", "k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val allCand = candA.withColumn("c_a", lit(true))
      .join(candB.withColumn("c_b", lit(true)), Seq("id_a", "id_b"),
        "full_outer")
      .select(col("id_a"), col("id_b"),
        coalesce(col("c_a"), lit(false)).as("c_a"),
        coalesce(col("c_b"), lit(false)).as("c_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pin the (collision-sized) verified+flagged pair list eagerly and
    // free BOTH corpus-scale caches before the scalar aggregate (r16,
    // guide §5) — the r15 shape left sig and allCand persisted for the
    // session's life, one block set per call
    val flagged = exactJaccard(docs, allCand.select(col("id_a"), col("id_b")),
        idCol, textCol)
      .filter(col("jaccard") >= minJaccard)
      .join(allCand, Seq("id_a", "id_b"))
      .localCheckpoint(true)
    sig.unpersist(blocking = false)
    allCand.unpersist(blocking = false)
    flagged
      .agg(sum(when(col("c_a"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("c_b"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("c_a") && col("c_b"), 1L).otherwise(0L)).as("m"))
      .withColumn("nhat_u",
        (expr(s"""((cast(n1 + 1 as $dec) * (n2 + 1) * 1000000 * 2 + (m + 1))
                 div ((m + 1) * 2))""") - lit(1000000L)).cast("long"))
      .withColumn("varq", round(
        (col("n1") + 1).cast("double") * (col("n2") + 1)
          * (col("n1") - col("m")) * (col("n2") - col("m"))
          / ((col("m") + 1).cast("double") * (col("m") + 1) * (col("m") + 2))
          * 1e6).cast("long"))
      .select(col("n1").as("n_lsh"), col("n2").as("n_simhash"),
        col("m").as("m_overlap"),
        (col("nhat_u") / 1e6).as("n_hat"),
        (round(sqrt(col("varq") / 1e6) * 1e6).cast("long") / 1e6).as("se"),
        when(col("nhat_u") > 0,
          round(col("n1") / (col("nhat_u") / 1e6) * 1e6).cast("long") / 1e6)
          .as("recall_lsh"),
        when(col("nhat_u") > 0,
          round(col("n2") / (col("nhat_u") / 1e6) * 1e6).cast("long") / 1e6)
          .as("recall_simhash"))
  }

  /** Fellegi–Sunter probabilistic record-linkage weights over the
    * blocked pair space — the DECISION layer above [[fuzzyNamePairs]]
    * and [[jaroWinklerPairs]]' raw similarities: each comparison field
    * f contributes log(m_f∕u_f) when it agrees and
    * log((1−m_f)∕(1−u_f)) when it disagrees, so a pair's summed weight
    * is its log-likelihood ratio match∕non-match (Fellegi & Sunter,
    * JASA 1969). Reported at AGREEMENT-PATTERN grain (≤ 2^#fields
    * rows): each pattern's pair count and total weight — the classic
    * FS weight table a reviewer sets thresholds on.
    *
    * u-probabilities for exact-match fields are estimated from the
    * data exactly: u_f = Σ_v n_v² ∕ N² (the chance two random records
    * agree), an integer-exact sum in decimal(38,0)∕HUGEINT; m_f and
    * the fuzzy name field's u are SPEC constants (identifiable only
    * via labels/EM — documented, inlined as the same driver-computed
    * integer weight in both engines). The name agreement predicate is
    * the q168-proven `round(jaroWinkler, 6) ≥ jwMin`.
    *
    * Scale shape: within-block pairing is quadratic in block size BY
    * DEFINITION of pairwise comparison (the q168 discipline — block
    * finer at 100 TB); everything after is a ≤ 16-row pattern mart
    * with three broadcast scalar joins. In-plan `ln` terms are
    * quantized 1e-9 (the entropy-tier idiom). */
  def fellegiSunter(
      df: DataFrame, idCol: String, blockCol: String, nameCol: String,
      exactCols: Seq[String], m: Double = 0.9, uName: Double = 0.02,
      jwMin: Double = 0.9): DataFrame = {
    val dec = "decimal(38,0)"
    val waName = math.round(math.log(m / uName) * 1e9)
    val wdName = math.round(math.log((1 - m) / (1 - uName)) * 1e9)
    val base = Seq(col(blockCol).as("block"), col(idCol).as("id"),
      col(nameCol).as("name"),
      length(col(nameCol)).cast("double").as("len"),
      graft.functions.StringSimilarity.charMask(col(nameCol)).as("cmask")) ++
      exactCols.map(c => col(c))
    val slim = df.select(base: _*)
    val aCols = "block" +: "id_a" +: "name_a" +: "len_a" +: "cmask_a" +:
      exactCols.map(_ + "_a")
    val bCols = "block" +: "id_b" +: "name_b" +: "len_b" +: "cmask_b" +:
      exactCols.map(_ + "_b")
    // The pattern table needs DISAGREEING pairs too, so the lossless
    // JW prefilter (q168) cannot drop rows here — instead it
    // short-circuits the agree_name conjunction: pairs failing the O(1)
    // length band / char-mask bound are `false` without ever running
    // the O(len·window) JW expression. Same flags, cheaper scan.
    val cheapName = jwCheapFilter(jwMin)
    val flagCols =
      (cheapName && graft.functions.StringSimilarity.jaroWinklerGte(
          col("name_a"), col("name_b"), jwMin)).as("agree_name") +:
      // null-safe FALSE: a NULL field value cannot attest agreement —
      // a bare === would leak 3-valued NULL flags into the pattern
      // grain (breaking the <= 2^#fields contract) and score them as
      // disagreement while the u estimate counted them as agreement
      exactCols.map(c =>
        coalesce(col(c + "_a") === col(c + "_b"), lit(false)).as("agree_" + c))
    // pinned block-key repartition on the probe side: same rationale
    // as [[jaroWinklerPairs]] — the build side broadcasts, so the
    // quadratic within-block comparison otherwise serializes on the
    // one-row-group scan task (cpu_share 1.1 measured before the pin)
    val nPart = df.sparkSession.sparkContext.defaultParallelism
    val pat = slim.toDF(aCols: _*).repartition(nPart, col("block"))
      .join(slim.toDF(bCols: _*), Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(flagCols: _*)
      .groupBy(("agree_name" +: exactCols.map("agree_" + _)).map(col): _*)
      .agg(count(lit(1)).as("n_pairs"))
    val withU = exactCols.foldLeft(pat) { (acc, c) =>
      acc.crossJoin(broadcast(
        df.groupBy(col(c)).agg(count(lit(1)).as("nv"))
          // the NULL group carries no agreement mass (nulls never agree
          // above) but its records still draw pairs — numerator skips
          // it, the denominator keeps the full N
          .agg(sum(when(col(c).isNotNull,
              col("nv").cast(dec) * col("nv"))
              .otherwise(lit(0).cast(dec))).as(s"st_$c"),
            sum(col("nv")).as(s"nn_$c"))))
    }
    def u(c: String) =
      col(s"st_$c").cast("double") / col(s"nn_$c") / col(s"nn_$c")
    // 1−m is computed ONCE in Scala and inlined on both engines: a
    // literal `1.0 - 0.9` folds in DECIMAL on DuckDB (exact 0.1) but
    // DOUBLE here (0.09999999999999998) — the shared-constant idiom
    val oneMinusM = 1.0 - m
    val su = exactCols.map { c =>
      when(col("agree_" + c),
        round(log(lit(m) / u(c)) * 1e9).cast("long"))
        .otherwise(round(log(lit(oneMinusM) / (lit(1.0) - u(c))) * 1e9)
          .cast("long"))
    }.foldLeft(
      when(col("agree_name"), lit(waName)).otherwise(lit(wdName)))(_ + _)
    withU
      .select((col("agree_name") +: exactCols.map(c => col("agree_" + c))) ++
        Seq(col("n_pairs"), round(su / 1e9, 6).as("score")): _*)
      .orderBy(("agree_name" +: exactCols.map("agree_" + _))
        .map(col(_).desc): _*)
  }
}
