package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness is the measurement instrument every per-round
  * performance gate reads through — its two pure pieces deserve the same
  * contract pinning as any operator: the BENCH_BASELINE.md parse (whose
  * "later tables override earlier pins" behavior is what makes a re-pin a
  * one-append edit) and the rescue-rerun flag predicate (whose round-11
  * all-duration change is what keeps sub-second jitter out of hand
  * adjudication). No SparkSession needed. */
class BenchHarnessSpec extends AnyFunSuite {

  private def withTempTable(content: String)(f: String => Unit): Unit = {
    val p = java.nio.file.Files.createTempFile("bench_baseline_spec", ".md")
    try {
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
      f(p.toString)
    } finally java.nio.file.Files.deleteIfExists(p)
  }

  test("baselineTable: parses qNN rows, collapses full names to the qNN " +
      "prefix, ignores prose and non-pin lines") {
    withTempTable(
      """# BENCH baseline — prose with an em-dash — and a | pipe
        || query | sec |
        ||---|---|
        || q01 | 1.25 |
        || q41_pricing_summary | 2.5 |
        || q113 | 3.44 |
        |not a row: q99 9.9
        || not_a_query | 7.7 |
        |""".stripMargin) { path =>
      val t = Bench.baselineTable(path)
      assert(t === Map("q01" -> 1.25, "q41" -> 2.5, "q113" -> 3.44))
    }
  }

  test("baselineTable: a LATER re-pin table overrides the original pin — " +
      "the one-append re-pin contract") {
    withTempTable(
      """| q113 | 3.44 |
        || q15 | 1.18 |
        |
        |**Round 11 re-pin** (method note…)
        |
        || q113 | 4.35 |
        |""".stripMargin) { path =>
      val t = Bench.baselineTable(path)
      assert(t("q113") === 4.35) // the re-pin, not the stale original
      assert(t("q15") === 1.18)  // untouched pins survive
    }
  }

  test("baselineTable: missing file degrades to an empty map (rerun gate " +
      "off), never throws") {
    assert(Bench.baselineTable("/nonexistent/BENCH_BASELINE.md") === Map.empty)
  }

  test("rescueFlagged: >2x pin flags at EVERY duration — including the " +
      "sub-second class the round-10 floor excluded") {
    val base = Map("q47" -> 0.38, "q113" -> 4.35, "q133" -> 8.83)
    val firstPass = Seq(
      "q47_pii_redact" -> 0.80,      // 2.1x of a sub-second pin → flagged
      "q113_golden_record" -> 4.50,  // 1.03x → not flagged
      "q133_triangles" -> 18.0)      // 2.04x of a heavy pin → flagged
    assert(Bench.rescueFlagged(firstPass, base) ===
      Set("q47_pii_redact", "q133_triangles"))
  }

  test("rescueFlagged: failures (the -1 sentinel) are never flagged — a " +
      "failure must stay visible, not retry into a slow success") {
    val base = Map("q01" -> 0.10)
    assert(Bench.rescueFlagged(Seq("q01_jobs_by_user" -> -1.0), base).isEmpty)
  }

  test("rescueFlagged: rows without a pin are left alone; exactly 2.0x is " +
      "NOT flagged (the gate is strictly greater)") {
    val base = Map("q01" -> 1.0)
    val fp = Seq("q01_jobs_by_user" -> 2.0, "q999_new_query" -> 100.0)
    assert(Bench.rescueFlagged(fp, base).isEmpty)
  }

  test("shortName: ONE definition of the qNN key rule — prefix before the " +
      "first underscore; names without one pass through unchanged") {
    assert(Bench.shortName("q41_pricing_summary") === "q41")
    assert(Bench.shortName("q133_triangles") === "q133")
    assert(Bench.shortName("q06") === "q06")
  }

  test("rescueJson: each flagged row carries first/rerun (3 dp) + its " +
      "window's spin/mspin (0 dp) + steal (1 dp), keys collapsed to qNN, " +
      "trailing zeros trimmed — the self-adjudication record") {
    val rows = Seq(
      "q133_triangles" -> Bench.RescueRig(
        first = 27.513, rerun = 8.9, spinMs = 63.4, mspinMs = 9.0,
        stealPct = 0.42),
      "q47_pii_redact" -> Bench.RescueRig(
        first = 0.8, rerun = 0.35, spinMs = 61.0, mspinMs = 24.7,
        stealPct = 3.15))
    assert(Bench.rescueJson(rows) ===
      """{"q133":{"first":27.513,"rerun":8.9,"spin_ms":63,"mspin_ms":9,"steal_pct":0.4},""" +
      """"q47":{"first":0.8,"rerun":0.35,"spin_ms":61,"mspin_ms":25,"steal_pct":3.2}}""")
  }

  test("rescueJson: no flagged rows is an empty object, not a missing key") {
    assert(Bench.rescueJson(Seq.empty) === "{}")
  }

  test("unresolvedRescues: keeps ONLY rows still >2x pin after the rerun " +
      "(kept = min(first, rerun)); a successful rescue drops out") {
    val base = Map("q159" -> 0.45, "q55" -> 0.34)
    val rig = Seq(
      "q159_acf" -> Bench.RescueRig(1.017, 0.935, 192, 67, 0.1), // kept 0.935 > 0.90 → stays
      "q55_range_join" -> Bench.RescueRig(2.713, 0.688, 155, 46, 0.1)) // kept 0.688 ≤ 0.68? 0.688 > 0.68 → stays
    // q55: 2×0.34 = 0.68, kept 0.688 — strictly greater, so it stays too
    assert(Bench.unresolvedRescues(rig, base).map(_._1) ===
      Seq("q159_acf", "q55_range_join"))
    // raise q55's pin so its rescue resolves it → only q159 remains
    assert(Bench.unresolvedRescues(rig, base + ("q55" -> 0.40)).map(_._1) ===
      Seq("q159_acf"))
  }

  test("unresolvedRescues: a failed rerun (-1 sentinel) falls back to the " +
      "first-pass value; unpinned rows never surface; cap keeps worst-first") {
    val base = Map("q01" -> 0.10, "q02" -> 0.10, "q03" -> 0.10)
    val rig = Seq(
      "q01_a" -> Bench.RescueRig(0.50, -1.0, 150, 45, 0.0),  // rerun failed → kept 0.50 > 0.20
      "q02_b" -> Bench.RescueRig(0.90, 0.80, 150, 45, 0.0),  // kept 0.80 > 0.20
      "q03_c" -> Bench.RescueRig(0.30, 0.25, 150, 45, 0.0),  // kept 0.25 > 0.20
      "q99_unpinned" -> Bench.RescueRig(9.0, 9.0, 150, 45, 0.0))
    assert(Bench.unresolvedRescues(rig, base, cap = 2).map(_._1) ===
      Seq("q02_b", "q01_a")) // worst kept first (0.80 > 0.50), q03 capped out
  }

  test("ScaleBench.DefaultHeavy (also MemBench's default list) names only " +
      "registered queries; an unknown name is reported by the up-front check") {
    assert(ScaleBench.unregistered(ScaleBench.DefaultHeavy).isEmpty)
    assert(ScaleBench.unregistered(Seq("q15_row_hash", "no_such_query")) ===
      Seq("no_such_query"))
  }
}
