package graft

/** Regression gate over a [[SoakBench]] 10× sweep — the CI discipline
  * that institutionalizes the one-shot soak artifacts: the round-11
  * full-surface sweep CAUGHT two floods (the uncapped lexical probe at
  * 200 s / 135 GB spill, the attribution hot-key grind at 390–450 s),
  * but only because a human read a 342-row log. This gate fails the
  * run mechanically when any query's 10× wall regresses past its
  * committed envelope, so the next q128-class flood is a red build,
  * not a paragraph.
  *
  * Contract, per row of the sweep (rows whose name is not a gated
  * query — TOTAL, skew_probe, rate_cap_ingest, hotkey_guard — are the
  * harness's own and judged by [[SoakBench]] itself):
  *
  *  - spec forms ([[ScaleRouting.siblings]] keys) and the raw-input
  *    rows of the ingest-contract family
  *    ([[ScaleRouting.ingestContract]]) are SKIPPED: their 10× grind
  *    is the documented reason their routed siblings / capped-leg rows
  *    exist, and those siblings ARE gated here (the
  *    `_on_rate_capped_ingest` rows carry their own baseline entries);
  *  - a non-ok row (exception, or a timeout outside the skip set)
  *    is a violation outright;
  *  - a query in the committed baseline must finish within
  *    max([[headroom]] × baseline, [[attentionFloorSec]]) — the floor
  *    keeps sub-30 s noise (single-rep replays measure ±30%, in-run
  *    contention reaches 2×) from paging anyone, while a real flood
  *    (two orders of magnitude, the only kind worth a red build)
  *    cannot hide above it;
  *  - a query NOT in the baseline (new this round) must finish under
  *    [[newQueryFloorSec]] and is reported as a note either way —
  *    the author measures it, documents its scaling class, and adds
  *    the baseline row in the same change.
  *
  * The baseline (`tools/soak_baseline.tsv`: name, seconds, class note)
  * is committed evidence, not config — regenerate rows only from an
  * executed sweep, never by editing a number to green a build. */
object SoakGate {

  final case class SoakRow(q: String, sec: Double, ok: Boolean, timedOut: Boolean)

  /** A gate violation with enough structure for the replay
    * confirmation step: `bound` is set only for wall-bound breaches
    * (never for outright failures/timeouts, which no re-run can
    * launder). */
  final case class Violation(
      q: String, sec: Double, bound: Option[Double], msg: String)

  /** The streaming FILE-REPLAY rows: AvailableNow triggers with
    * maxFilesPerTrigger=1 pay per-batch listing+planning latency that
    * multiplies under box load, so these rows show ±50% wall variance
    * even isolated and kept tripping the 30 s floor on contended
    * sweeps (r12: q59/q339 hand-diagnosed twice; r13 again). A bound
    * breach here is confirmed by an ISOLATED re-run ([[confirmReplay]])
    * instead of a hand re-litigation: pass iff the isolated wall is
    * under the same bound, with both walls recorded. Scoped STRICTLY
    * to rows whose plan drives a real file-source stream (readStream
    * over a [[graft.streaming.FileReplay]] landing): batch window
    * aggregations (q26/q27/q36) and the batch CDC replay loop (q83)
    * deliberately keep the strict in-sweep bound, as does every
    * flood — a batch regression must not be laundered as trigger
    * latency. */
  val replayClass: Set[String] = Set(
    "q59_sessions_stream_replay", "q88_stream_dedup",
    "q131_stream_incremental_ltv", "q138_stream_incremental_rfm",
    "q139_stream_incremental_trends", "q339_stream_join_bucketed",
    "q344_stream_rate_cap",
    "q98_stream_stream_join_on_rate_capped_ingest")

  /** Walls at or under this never violate a baseline bound: single-rep
    * 10× replays measure ±30% and in-run contention reaches 2× — a
    * 12 s query drifting to 25 s is noise; a flood is 100+ s. */
  val attentionFloorSec = 30.0

  /** Multiplier over the committed baseline wall above which (and
    * above the floor) a query fails the gate. */
  val headroom = 2.0

  /** A query with no baseline row yet must still finish under this —
    * today's slowest legitimate non-spec 10× wall is the
    * capture–recapture tier at ~131 s; a new 200 s query is either a
    * flood or needs a documented class entry before it ships. */
  val newQueryFloorSec = 150.0

  def skipped(q: String): Boolean =
    ScaleRouting.siblings.contains(q) ||
      ScaleRouting.ingestContract.contains(q) ||
      ScaleRouting.specAudits.contains(q)

  /** Pure evaluation: (violations, notes). Violations fail the build;
    * notes are maintenance signals (new queries to baseline, baseline
    * rows whose query left the sweep).
    *
    * `fragment = true` gates a PARTIAL sweep (r14 verdict #6): a
    * targeted repro artifact — e.g. the two-query q141 stall-shape
    * re-run — is judged by the same bounds for the rows it DOES carry,
    * while the baseline rows it legitimately omits stop being flagged
    * as renamed/dropped. Fragments mechanize the repro-evidence class;
    * they never substitute for the full sweep's coverage check, which
    * runs with the default. */
  def evaluate(
      rows: Seq[SoakRow],
      baseline: Map[String, Double],
      fragment: Boolean = false): (Seq[String], Seq[String]) = {
    val (vio, notes) = evaluateTyped(rows, baseline, fragment)
    (vio.map(_.msg), notes)
  }

  /** [[evaluate]] with structured violations (the replay-confirmation
    * step needs the breached bound, not a message string). */
  def evaluateTyped(
      rows: Seq[SoakRow],
      baseline: Map[String, Double],
      fragment: Boolean = false): (Seq[Violation], Seq[String]) = {
    val vio = Seq.newBuilder[Violation]
    val notes = Seq.newBuilder[String]
    val gated = rows.filter(r => r.q.matches("^q\\d.*"))
    gated.foreach { r =>
      if (skipped(r.q)) ()
      else if (!r.ok)
        vio += Violation(r.q, r.sec, None,
          s"${r.q}: ${if (r.timedOut) "TIMED OUT" else "FAILED"} in the sweep")
      else baseline.get(r.q) match {
        case Some(b) =>
          val bound = math.max(headroom * b, attentionFloorSec)
          if (r.sec > bound)
            vio += Violation(r.q, r.sec, Some(bound),
              f"${r.q}: 10x wall ${r.sec}%.1f s exceeds ${bound}%.1f s " +
              f"(committed baseline $b%.1f s x $headroom%.1f, floor " +
              f"$attentionFloorSec%.0f s) - a flood or a regression; " +
              "diagnose before re-baselining")
        case None =>
          if (r.sec > newQueryFloorSec)
            vio += Violation(r.q, r.sec, None,
              f"${r.q}: NEW query's 10x wall ${r.sec}%.1f s exceeds the " +
              f"$newQueryFloorSec%.0f s new-query floor - document its " +
              "scaling class and mitigation before adding a baseline row")
          else
            notes += f"${r.q}: new query (${r.sec}%.1f s) - add its baseline row"
      }
    }
    val seen = gated.map(_.q).toSet
    if (!fragment)
      (baseline.keySet -- seen).toSeq.sorted.foreach { q =>
        notes += s"$q: baseline row has no sweep row (renamed or dropped?)"
      }
    (vio.result(), notes.result())
  }

  /** The mechanical isolated-confirmation step (r13 verdict #3 /
    * BASELINE's own proposal): a [[replayClass]] row that breached its
    * WALL bound in-sweep is re-run isolated; it passes iff the isolated
    * wall is under the same bound, and both walls are recorded either
    * way. `rerun` returns the isolated wall (None = could not re-run —
    * the violation stands; unavailability must not green a build).
    * Failures/timeouts (bound=None) and non-replay rows pass through
    * untouched. Pure over `rerun` so the decision table is unit-tested
    * without a 10× corpus. */
  def confirmReplay(
      vio: Seq[Violation],
      rerun: String => Option[Double]): (Seq[String], Seq[String]) = {
    val out = Seq.newBuilder[String]
    val notes = Seq.newBuilder[String]
    vio.foreach { v =>
      v.bound match {
        case Some(b) if replayClass(v.q) =>
          rerun(v.q) match {
            case Some(iso) if iso <= b =>
              notes += f"${v.q}: replay row in-sweep ${v.sec}%.1f s over the " +
                f"$b%.1f s bound; ISOLATED re-run ${iso}%.1f s under bound - " +
                "in-sweep contention confirmed, pass"
            case Some(iso) =>
              out += f"${v.q}: replay row over bound in-sweep " +
                f"(${v.sec}%.1f s) AND isolated (${iso}%.1f s > $b%.1f s) - " +
                "a real regression, not contention"
            case None =>
              out += v.msg + " [replay row; isolated re-run unavailable]"
          }
        case _ => out += v.msg
      }
    }
    (out.result(), notes.result())
  }

  /** Minimal parse of the SoakBench row format ("[soak] " prefix
    * optional): needs q, sec, ok, timed_out; rows without q/sec (the
    * harness's own summary rows) are dropped. Returns (rows, malformed
    * lines): a line that starts like a row but fails to parse means the
    * sweep JVM died mid-write (OOM, external kill) — the gate must
    * report that as a violation, not crash with a parser stack trace
    * (which CI reads as infrastructure error, not a regression). */
  private[graft] def parseJsonl(
      lines: Iterator[String]): (Seq[SoakRow], Seq[String]) = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val bad = Seq.newBuilder[String]
    val rows = lines.flatMap { raw =>
      val l = raw.trim.stripPrefix("[soak]").trim
      if (!l.startsWith("{")) None
      else scala.util.Try(om.readTree(l)).toOption match {
        case None =>
          bad += (if (l.length <= 120) l else l.take(117) + "...")
          None
        case Some(n) =>
          if (n.hasNonNull("q") && n.hasNonNull("sec"))
            Some(SoakRow(
              n.get("q").asText(),
              n.get("sec").asDouble(),
              // rows without ok (e.g. rate_cap_ingest) are harness rows;
              // default true keeps them out of the violation path
              if (n.hasNonNull("ok")) n.get("ok").asBoolean() else true,
              if (n.hasNonNull("timed_out")) n.get("timed_out").asBoolean()
              else false))
          else None
      }
    }.toSeq
    (rows, bad.result())
  }

  private[graft] def parseBaseline(lines: Iterator[String]): Map[String, Double] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split("\t")
        require(parts.length >= 2, s"baseline row needs name<TAB>seconds: $l")
        parts(0) -> parts(1).toDouble
      }.toMap

  /** Usage: SoakGate <sweep.jsonl> [<sweep2.jsonl> ...] [baseline.tsv]
    * [soakDataDir] [--fragment] — every .jsonl arg is a sweep leg (the
    * full sweep plus the rate-cap leg), the .tsv arg (default
    * tools/soak_baseline.tsv) the committed baseline; `--fragment`
    * gates a partial sweep (targeted repro artifacts) by the same
    * bounds without flagging absent baseline rows. A directory arg
    * arms the [[confirmReplay]] step: replay-class bound breaches are
    * re-run isolated against that corpus (one fresh local session,
    * clean cache per query) and pass iff the isolated wall is under
    * bound; each re-run prints a `replay_rerun` JSON row for the soak
    * log. Without a directory the violation stands — unavailability
    * never greens a build. */
  def main(args: Array[String]): Unit = {
    val (flags, nonFlags) = args.partition(_.startsWith("--"))
    val badFlags = flags.filterNot(_ == "--fragment")
    require(badFlags.isEmpty, s"unknown flags: ${badFlags.mkString(", ")}")
    val fragment = flags.contains("--fragment")
    val (tsv, rest) = nonFlags.partition(_.endsWith(".tsv"))
    val (jsonl, dirs) = rest.partition(_.endsWith(".jsonl"))
    // FAIL CLOSED on argument mistakes: a typo'd sweep path must never
    // silently fall back to some stale committed sweep and exit 0 — the
    // gate would then green a build against data it never read
    val badArgs = dirs.filterNot(d =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
    require(badArgs.isEmpty,
      s"unrecognized args (not .jsonl, not .tsv, not a directory): " +
        badArgs.mkString(", "))
    require(jsonl.nonEmpty,
      "no sweep .jsonl given - usage: SoakGate <sweep.jsonl> " +
        "[<sweep2.jsonl> ...] [baseline.tsv] [soakDataDir]")
    val soakPaths = jsonl.toSeq
    val basePath = tsv.headOption.getOrElse("tools/soak_baseline.tsv")
    val rerunDir = dirs.headOption
    val parsed = soakPaths.map(p =>
      p -> parseJsonl(scala.io.Source.fromFile(p).getLines()))
    val rows = parsed.flatMap(_._2._1)
    val malformed = parsed.flatMap { case (p, (_, bad)) =>
      bad.map(l => s"$p: malformed sweep row (JVM died mid-write?): $l")
    }
    val baseline = parseBaseline(
      scala.io.Source.fromFile(basePath).getLines())
    val (vioTyped, notesEval) = evaluateTyped(rows, baseline, fragment)
    // fresh session only if a replay-class bound breach actually needs it
    var rerunSparkUsed = false
    lazy val rerunSpark = Harness.session("graft-soakgate")
    val cappedSuffix = "_on_rate_capped_ingest"
    val rerun: String => Option[Double] = q =>
      rerunDir.flatMap { dir =>
        // capped-leg rows are the base query against the -ratecap corpus
        val (name, runDir) =
          if (q.endsWith(cappedSuffix)) (q.stripSuffix(cappedSuffix), s"$dir-ratecap")
          else (q, dir)
        SparkEntry.queries.get(name)
          .filter(_ => java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(runDir)))
          .flatMap { fn =>
            rerunSparkUsed = true
            // the re-run inherits the sweep's wall-timeout discipline: a
            // replay row that regresses into a STALL (the q141-class
            // shape — zero progress, not slow-but-finishing) must produce
            // a bound-breaching wall and a red gate, not a hung CI
            // process. A timed-out wall reports AS the timeout: at or
            // above every bound, so the violation stands. A re-run that
            // throws has no wall: the violation stands as unavailable.
            val r = Harness.timed(rerunSpark, q)(fn(rerunSpark, runDir))
            rerunSpark.catalog.clearCache()
            println(f"""[soakgate] {"q":"replay_rerun","query":"$q","sec":${r.sec}%.2f,"rows":${r.rows},"timed_out":${r.timedOut}}""")
            r.error.foreach(e => println(s"[soakgate] $q re-run FAILED: ${e.getMessage}"))
            if (r.error.isEmpty) Some(r.sec) else None
          }
      }
    val (vioConfirmed, rerunNotes) = confirmReplay(vioTyped, rerun)
    if (rerunSparkUsed) rerunSpark.stop()
    val vio = malformed ++ vioConfirmed
    val notes = notesEval ++ rerunNotes
    notes.foreach(n => println(s"[soakgate] NOTE $n"))
    vio.foreach(v => println(s"[soakgate] VIOLATION $v"))
    println(s"[soakgate] ${rows.count(_.q.matches("^q\\d.*"))} query rows, " +
      s"${baseline.size} baseline rows, ${vio.size} violations, " +
      s"${notes.size} notes" + (if (fragment) " [fragment]" else ""))
    // explicit success exit too (r14 advisor): a green gate must
    // terminate the JVM even if some library left a non-daemon thread
    sys.exit(if (vio.nonEmpty) 1 else 0)
  }
}
