package graft

/** Driver-contract smoke: entry() returns rows; every query name has an
  * oracle entry or is knowingly rows-only; oracle/query keys line up. */
class SparkEntrySpec extends SparkSpec {

  test("entry flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has a DuckDB oracle (full-strength t2 gate)") {
    // Since round 3 even the sketch tier is gated: q51/q52 emit exact
    // values plus error-bound booleans the oracle pins TRUE, so there are
    // NO rows-only queries left.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"mismatch: only-in-queries=${q -- o}, only-in-oracle=${o -- q}")
  }

  test("the registry concatenation rejects a name defined twice") {
    val a = Gated("qa", (s, _) => s.range(1).toDF(), "SELECT 1")
    val b = Gated("qb", (s, _) => s.range(1).toDF(), "SELECT 2")
    assert(Gated.concat(Seq(a), Seq(b)).map(_.name) == Seq("qa", "qb"))
    val e = intercept[IllegalArgumentException](
      Gated.concat(Seq(a, b), Seq(Gated("qa", a.run, "SELECT 3"))))
    assert(e.getMessage.contains("qa") && !e.getMessage.contains("qb"))
    assert(SparkEntry.registry.size == SparkEntry.queries.size)
  }

  test("ScaleRouting: every spec operator and its scale-safe sibling are gated queries") {
    val q = SparkEntry.queries.keySet
    ScaleRouting.siblings.foreach { case (spec, sib) =>
      assert(q.contains(spec), s"routing key $spec is not a gated query")
      assert(q.contains(sib), s"routing sibling $sib is not a gated query")
      assert(spec != sib)
    }
    assert(ScaleRouting.siblings.size == 6,
      "the spec-form surface is exactly q305/q98/q122/q128/q136/q141 — " +
      "update the map AND the docs if a new spec-only form is retained")
    ScaleRouting.ingestContract.foreach { n =>
      assert(q.contains(n), s"ingest-contract entry $n is not a gated query")
    }
    ScaleRouting.specAudits.foreach { n =>
      assert(q.contains(n), s"spec-audit entry $n is not a gated query")
    }
    assert(q.contains("q340_event_rate_cap"),
      "the ingest contract's operator itself must stay gated")
  }
}
