package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer rules engine"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
  ).toDF("doc_id", "text")

  test("keyed dup groups finds planted duplicate keys") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val got = Dedup.keyedDupGroups(df, Seq("k")).as[(Int, Long)].collect().toSet
    assert(got == Set((1, 2L)))
  }

  test("minhash+LSH surfaces the exact and near duplicates, not the unrelated doc") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", minEst = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))            // exact dup: est_jaccard = 1
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated never pairs
  }

  test("NULL signatures never band together (no constant-key hot bucket)") {
    // docs with no shingles have sig = NULL; their band key must be
    // NULL (dropped by the equi-join), NOT the constant h60("") that a
    // null-skipping concat_ws would emit — that constant key banded
    // every empty-shingle doc with every other one, the exact
    // quadratic hot-bucket shape LSH exists to avoid.
    val sig = Seq(
      (1L, Some(Seq(7L, 8L, 9L, 10L))),
      (2L, Some(Seq(7L, 8L, 9L, 10L))), // identical: must pair with 1
      (3L, None),                       // no signature
      (4L, None),                       // no signature
    ).toDF("doc_id", "sig")
    val pairs = Dedup.lshCandidates(sig, "doc_id", bands = 2, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"null-sig docs paired: $pairs")
  }

  test("estimated jaccard is 1.0 for identical docs and tracks exact jaccard") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val pairs = Seq((1L, 4L), (1L, 2L)).toDF("id_a", "id_b")
    val est = Dedup.estimatedJaccard(sig, pairs, "doc_id")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(est((1L, 4L)) == 1.0)
    val exact = Dedup.exactJaccard(docs, pairs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(exact((1L, 4L)) == 1.0)
    assert(exact((1L, 2L)) > 0.5 && exact((1L, 2L)) < 1.0)
  }

  test("native one-pass sketches equal their composed-from-built-ins specs") {
    // broader corpus than the fixture: varied lengths incl. shorter-than-
    // shingle docs, punctuation, unicode, repeated tokens
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "Gamma,", "δélta", "x1", "the", "a", "--")
    val corpus = (1L to 40L).map { i =>
      (i, Seq.fill(rnd.nextInt(12) + 1)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val nativeSig = Dedup.minhashSignatures(corpus, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    val composedSig = Dedup.minhashSignaturesComposed(corpus, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(nativeSig == composedSig)
    val nativeSim = Dedup.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val composedSim = Dedup.simhashComposed(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(nativeSim == composedSim)
  }

  test("simhash: identical docs collide, near-dups are close in hamming distance") {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(4L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)))
  }

  test("decontaminate counts shared n-grams; NULL-predicate rows stay in the corpus") {
    val corpus = Seq(
      (1L, "a b c d e f", Some(true)),    // benchmark: shingles "a b c d e", "b c d e f"
      (2L, "a b c d e zzz", Some(false)), // corpus: shares "a b c d e"
      (3L, "x y z w v u", Some(false)),   // corpus: no overlap -> not reported
      (4L, "b c d e f qq", None),         // NULL pred -> corpus side, shares "b c d e f"
    ).toDF("doc_id", "text", "is_bench")
    val got = Dedup.decontaminate(corpus, "doc_id", "text", $"is_bench", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 1L, 4L -> 1L))
  }

  test("embedding near-dups finds only the high-cosine pair within a block") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f, 0.0f), 0),   // near-dup of 1, same block
      (3L, Array(0.0f, 1.0f, 0.0f), 0),    // orthogonal, same block
      (4L, Array(1.0f, 0.0f, 0.0f), 1),    // identical to 1 but different block
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", "label", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("containment pairs: exact dup scores 1/1; prefix-contained doc is directional") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = Seq(
      (1L, base),
      (2L, base),                          // exact dup -> guaranteed candidate
      (3L, base + " and beyond the hill"), // 1 is a shingle-prefix of 3
      (4L, "completely different content about spark catalyst optimizer rules"),
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got((1L, 2L)) == (1.0, 1.0))
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // every shingle of doc 1 appears in doc 3, not vice versa
    got.get((1L, 3L)).foreach { case (ca, cb) => assert(ca == 1.0 && cb < 1.0) }
    // the near-identical 1-in-3 pair must actually surface via LSH here
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L)))
  }

  test("sourceOverlapMatrix: rare shared shingles counted, df cap excludes boilerplate") {
    val corpus = Seq(
      (1L, "sA", "p q r unique1"),     // "p q r" in sA, sB, sC (df 3)
      (2L, "sB", "p q r unique2"),
      (3L, "sC", "p q r unique3"),
      (4L, "sA", "m n o tail4"),       // "m n o" in sA, sB (df 2)
      (5L, "sB", "m n o tail5"),
      // boilerplate: "z z z" in 4 docs across sA/sB -> df 4 > maxDf 3
      (6L, "sA", "z z z"), (7L, "sA", "z z z"),
      (8L, "sB", "z z z"), (9L, "sB", "z z z"),
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlapMatrix(corpus, "source", "text", n = 3, maxDf = 3)
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // sA-sB share "p q r" and "m n o"; the df-4 "z z z" is capped out
    assert(got == Map(("sA", "sB") -> 2L, ("sA", "sC") -> 1L, ("sB", "sC") -> 1L))
  }

  test("fuzzyNamePairs: blocked levenshtein matches within maxDist, never across blocks") {
    val parts = Seq(
      (1L, "B1", "red widget"),
      (2L, "B1", "red wodget"),   // dist 1 from 1
      (3L, "B1", "red gadget"),   // dist 2 from 1 (w→g, i→a)
      (4L, "B2", "red widget"),   // dist 0 from 1 but different block → out
      (5L, "B1", "blue widgets")  // dist ≥ 3 from every B1 name → out
    ).toDF("id", "brand", "name")
    val got = Dedup.fuzzyNamePairs(parts, "id", "name", "brand", maxDist = 2)
      .select($"id_a", $"id_b", $"edit_dist").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 2L)))
  }

  test("fuzzyNamePairs: length band never prunes a within-distance pair") {
    // distance 2 with length diff exactly 2 — the band boundary case;
    // "abcd" is below the prefix-length regime, so this also pins the
    // short-name pool's cross pairing
    val parts = Seq((1L, "B", "abcd"), (2L, "B", "abcdef")).toDF("id", "b", "n")
    val got = Dedup.fuzzyNamePairs(parts, "id", "n", "b", maxDist = 2)
      .select($"id_a", $"id_b", $"edit_dist").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 2L, 2L)))
  }

  test("fuzzyNamePairs prefix filter equals the naive quadratic join") {
    // adversarial mix: short names (below the prefix regime), repeated
    // grams, shifts (insert/delete), substitutions, and cross-length
    // pairs — generated deterministically
    val vocab = Seq("ab", "abc", "abcd", "xaybz", "abcdef", "abcdeg",
      "zbcdef", "abdcef", "qrstuv", "qrstuw", "aaaaaa", "aaaaba",
      "abababab", "babababa", "mn", "mo")
    val parts = vocab.zipWithIndex.map { case (n, i) =>
      (i.toLong, if (i % 2 == 0) "X" else "Y", n)
    } ++ vocab.zipWithIndex.map { case (n, i) =>
      ((100 + i).toLong, "X", n)   // every name again, one shared block
    }
    val df = parts.toDF("id", "b", "n")
    val got = Dedup.fuzzyNamePairs(df, "id", "n", "b", maxDist = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val naive = df.select($"b", $"id".as("id_a"), $"n".as("n_a"))
      .join(df.select($"b", $"id".as("id_b"), $"n".as("n_b")), Seq("b"))
      .filter($"id_a" < $"id_b")
      .filter(levenshtein($"n_a", $"n_b") <= 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == naive,
      s"missing=${naive -- got}, spurious=${got -- naive}")
  }
  test("dedupAgainst: batch docs match corpus near-dups only, best by jaccard") {
    import org.apache.spark.sql.functions._
    // corpus: 1, 2, 3; batch: 10, 20. Doc 10 ~ doc 1 (near-identical
    // text), doc 20 is unrelated. Batch-batch and corpus-corpus pairs
    // must not appear.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different subject matter about databases and indexes"),
      (3L, "a third unrelated document discussing cooking recipes at length"),
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (20L, "nothing like anything else entirely novel text with unique words")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupAgainst(docs, "doc_id", "text",
        isBatch = col("doc_id") >= 10L, minJaccard = 0.3)
      .select(col("batch_id"), col("best_match_id"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L)))
  }

  test("dupNgramShare: shared n-grams counted per doc, short docs audit via whole-text fallback") {
    val docs = Seq(
      (1L, "a b c"),  // bigrams {a b, b c}: "a b" shared with doc 2
      (2L, "a b d"),  // bigrams {a b, b d}
      (3L, "x y"),    // bigram {x y}: unique
      (4L, "z"),      // sub-n fallback: whole-text shingle "z", unique
      (5L, "z")       // same fallback shingle -> both count as dup
    ).toDF("doc_id", "text")
    val got = Dedup.dupNgramShare(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0),
      (4L, 1L, 1L, 1.0), (5L, 1L, 1L, 1.0)))
  }

  test("canonicalPolicyAudit: groups follow the min-shingle key computed independently; best policy never loses; layout-stable") {
    val texts = Seq(
      ("a1", "alpha beta gamma delta! delta! delta! delta!"),
      ("a2", "alpha beta gamma This is a long clean informative " +
        "sentence, with varied words and punctuation."),
      ("a3", "alpha beta gamma delta! delta! delta! delta!"),  // exact dup of a1
      ("b1", "zz"),                  // too short to shingle -> singleton
    )
    // independently derive each doc's group key with the driver-side
    // h60 mirror, so the expected group structure is computed OUTSIDE
    // the operator under test
    def fp(text: String): Option[Long] = {
      val toks = text.toLowerCase.split("\\s+").toSeq
      if (toks.size < 3) None
      else Some(toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
        .map(graft.functions.Portable.h60Local).min)
    }
    val expGroups = texts.groupBy { case (id, t) =>
      fp(t).getOrElse(graft.functions.Portable.h60Local(s"singleton:$id"))
    }.values.toSeq
    val expNGroups = expGroups.size.toLong
    val expDupGroups = expGroups.count(_.size > 1).toLong
    val docs = texts.toDF("doc_id", "text")
    val got = Dedup.canonicalPolicyAudit(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    assert(got._1 == expNGroups && got._2 == expDupGroups,
      s"group structure mismatch: $got vs ($expNGroups, $expDupGroups)")
    assert(got._4 >= got._5 && got._6 >= 0.0,
      "best-quality policy can never do worse than min-id")
    val re = Dedup.canonicalPolicyAudit(
        docs.repartition(5), "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    assert(re == got)
  }

  test("exactSubstringDedup law: disjoint-vocab corpus untouched; an exact duplicate >= n tokens is fully excised from BOTH copies") {
    val rnd = new scala.util.Random(42)
    // per-doc disjoint vocab, all tokens within a doc distinct -> no
    // repeated 8-gram exists anywhere except the planted duplicate
    val lens = (0 until 40).map(i => if (i == 0) 8 + rnd.nextInt(15)
      else rnd.nextInt(26))
    val base = lens.zipWithIndex.map { case (len, i) =>
      (i.toLong, (0 until len).map(j => s"d${i}w$j").mkString(" ")) }
    val corpus = (base :+ ((1000L, base.head._2))).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(corpus, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    out.foreach { case (id, (_, nt, nr, ns, kept)) =>
      if (id == 0L || id == 1000L) {
        assert(nr == nt && ns == 1L && kept == "",
          s"duplicated doc $id must be fully excised: ($nt, $nr, $ns)")
      } else {
        assert(nr == 0L && ns == 0L, s"unique doc $id must be untouched")
      }
    }
  }

  test("lshCalibrationCurve: detection is a subset of pairs, exact dups always detected, analytic curve monotone") {
    val out = Dedup.lshCalibrationCurve(docs, "doc_id", "text")
      .as[(Long, Double, Long, Long, Option[Double], Double)].collect().toSeq
    assert(out.map(_._1) == (0L until 10L))
    // empirical detection can never exceed the pair count
    assert(out.forall { case (_, _, np, nd, _, _) => nd <= np })
    // the exact-dup pair (1,4) has jaccard 1.0 -> top bin, and identical
    // signatures collide in every band -> detected
    val top = out.last
    assert(top._3 >= 1L && top._4 == top._3,
      s"exact dups must all be detected in the top bin: $top")
    // the analytic banding S-curve is monotone non-decreasing
    assert(out.map(_._6).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("exactSubstringDedup excises the repeated >=n-token span, leaves unique text whole") {
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"one two three $shared four five six"),
      (3L, "totally unique text with enough tokens to not be removed at all")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(corpus, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // unique doc: untouched
    assert(out(3L) == ((3L, 12L, 0L, 0L,
      "totally unique text with enough tokens to not be removed at all")))
    // the 10 shared tokens excise as ONE merged span in both docs
    // (only the three 8-grams fully inside the span repeat; straddling
    // grams differ across docs, so coverage is exactly the span)
    assert(out(1L) == ((1L, 14L, 10L, 1L, "alpha beta gamma delta")))
    assert(out(2L) == ((2L, 16L, 10L, 1L, "one two three four five six")))
    // partitioning-invariant (order-free aggregation)
    val re = Dedup.exactSubstringDedup(
        corpus.repartition(5), "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(re == out)
  }

  test("prefixJaccardJoin: boundary pair kept, below-threshold dropped") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"), // identical -> J = 1
      (3L, "w1 w2 w3 w4 x y"), // 2 of 6 shingles shared -> J = 1/3, dropped
      (4L, "a b c d e"),
      (5L, "p q r s t u"),
      (6L, "p q r s t v") // 3 of 5 shingles shared -> J = 0.6, boundary kept
    ).toDF("doc_id", "text")
    val got = Dedup.prefixJaccardJoin(d, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L, 4L, 4L, 1.0), (5L, 6L, 4L, 4L, 3L, 0.6)))
  }

  test("prefixJaccardJoin: completeness vs the brute-force join on a hash corpus") {
    val words = (0 until 30).map(i => s"t$i")
    val corpus = (1L to 60L).map { i =>
      val n = 5 + (i % 7).toInt
      val txt = (0 until n)
        .map(k => words(((i * 31 + k * 17) % 30).toInt)).mkString(" ")
      (i, txt)
    }.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardJoin(corpus, "doc_id", "text")
      .select($"doc_a", $"doc_b", $"n_common")
      .as[(Long, Long, Long)].collect().toSet
    val sh = corpus.select($"doc_id",
        array_distinct(
          graft.functions.WordShingles.shingles(lower($"text"))).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val brute = (for {
      a <- sh.keys.toSeq; b <- sh.keys.toSeq if a < b
      inter = (sh(a).toSet intersect sh(b).toSet).size
      uni = (sh(a).toSet union sh(b).toSet).size
      if uni > 0 && inter * 5 >= uni * 3
    } yield (a, b, inter.toLong)).toSet
    assert(got == brute, "prefix filtering must lose NO qualifying pair")
  }

  test("fellegiSunter: hand-computed pattern weights with data-estimated u") {
    // block B: ids 1,2 identical names + same t; id 3 different on both
    val d = Seq(
      (1L, "B", "alpha beta", "x"),
      (2L, "B", "alpha beta", "x"),
      (3L, "B", "zzzz qqqq", "y")
    ).toDF("id", "block", "name", "t")
    val got = Dedup.fellegiSunter(d, "id", "block", "name", Seq("t"))
      .as[(Boolean, Boolean, Long, Double)].collect().toSeq
    // u_t = (2^2 + 1^2) / 3^2 = 5/9; name weights are spec constants
    val waN = math.round(math.log(0.9 / 0.02) * 1e9)
    val wdN = math.round(math.log((1 - 0.9) / (1 - 0.02)) * 1e9)
    val uT = 5.0 / 3.0 / 3.0
    val waT = math.round(math.log(0.9 / uT) * 1e9)
    val wdT = math.round(math.log((1.0 - 0.9) / (1.0 - uT)) * 1e9)
    def s6(x: Long) = BigDecimal(x / 1e9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (true, true, 1L, s6(waN + waT)), // pair (1,2)
      (false, false, 2L, s6(wdN + wdT)))) // pairs (1,3), (2,3)
    // agreement on everything must outweigh disagreement on everything
    assert(got.head._4 > got.last._4)
  }

  test("dedupCaptureRecapture: both detectors catch planted exact dups -> N-hat exact") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "completely different text about databases and indexes"),
      (5L, "yet another unrelated sentence mentioning nothing shared")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupCaptureRecapture(d, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double, Option[Double], Option[Double])]
      .collect().head
    // 3 identical docs -> 3 pairs, seen by BOTH detectors: n1 = n2 = m
    // = 3; Chapman: 4*4/4 - 1 = 3; zero variance; recall 1.0 each
    assert(got == ((3L, 3L, 3L, 3.0, 0.0, Some(1.0), Some(1.0))))
  }
}
