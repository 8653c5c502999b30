package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate is pure logic — test it without Spark. */
class BenchGateSpec extends AnyFunSuite {

  test("floor file round-trips through the dependency-free parser") {
    val tmp = java.nio.file.Files.createTempFile("floor", ".json")
    java.nio.file.Files.write(tmp,
      """{"q1_sum_agg":0.123,"e2_ann_lsh":0.521,"_note":"a: 1.0 aside",
        |"t9_fuzzy_pairs":1.52}""".stripMargin.getBytes("UTF-8"))
    val floors = Bench.loadFloors(tmp)
    assert(floors == Map(
      "q1_sum_agg" -> 0.123, "e2_ann_lsh" -> 0.521, "t9_fuzzy_pairs" -> 1.52))
    java.nio.file.Files.delete(tmp)
  }

  test("missing floor file disables the gate instead of failing the bench") {
    assert(Bench.loadFloors(
      java.nio.file.Paths.get("/nonexistent/floor.json")).isEmpty)
  }

  test("gate flags >2x BEST slips over 0.25s; tolerates noise, new queries, failures") {
    val floors = Map("a" -> 1.0, "b" -> 0.05, "c" -> 0.5, "d" -> 1.0)
    val medians = Seq(
      "a" -> 2.7,   // best 2.6x floor, +1.6s -> regression (best value reported)
      "b" -> 0.15,  // best 3x floor but only +0.1s -> noise, not flagged
      "c" -> 0.9,   // best 1.8x floor -> inside band
      "d" -> -1.0,  // failed query: reported via "failed", not the gate
      "new_query" -> 9.9) // no committed floor yet -> skipped
    val bests = Map("a" -> 2.6, "b" -> 0.15, "c" -> 0.9, "d" -> -1.0,
      "new_query" -> 9.9)
    assert(Bench.regressions(medians, bests, floors) == Seq(("a", 2.6, 1.0)))
  }

  test("probe-scaled gate is never silent: _probe_scaled rides the regressions object past 1.5x") {
    val regs = Seq(("a", 2.6, 1.0))
    // quiet box: plain per-query pairs, no marker
    assert(Bench.regressionsJson(regs, 1.0) == """{"a":[2.600,1.000]}""")
    // scaled gate: marker leads the object even when nothing tripped
    assert(Bench.regressionsJson(Nil, 2.1) ==
      """{"_probe_scaled":[2.10,1.5]}""")
    assert(Bench.regressionsJson(regs, 4.0) ==
      """{"_probe_scaled":[4.00,1.5],"a":[2.600,1.000]}""")
    // at/below the threshold: clean empty object
    assert(Bench.regressionsJson(Nil, 1.5) == "{}")
  }

  test("mid-suite spike defense: flags discount under run-local probe evidence; real regressions survive") {
    val floors0 = Map("_probe_sec" -> 0.6, "spiked" -> 0.1, "broken" -> 0.1)
    val medians = Seq("spiked" -> 0.5, "broken" -> 5.0)
    val bests = Map("spiked" -> 0.5, "broken" -> 5.0)
    // both trip the quiet-box gate (5x and 50x over floor)
    val regs = Bench.regressions(medians, bests,
      floors0.filterNot(_._1.startsWith("_")))
    assert(regs.map(_._1).toSet == Set("broken", "spiked"))
    // run-local probe ratio 3x (a mid-suite load spike the entry probe
    // missed): the 5x flag passes the spike-rescaled gate and moves to
    // discounted WITH the evidence; the 50x flag survives even the
    // rescaled gate — a genuine plan regression cannot probe-wash
    val (kept, disc) = Bench.discountFlags(regs, medians, bests, floors0, 3.0)
    assert(kept.map(_._1) == Seq("broken"), s"kept $kept")
    assert(disc.map(_._1) == Seq("spiked"), s"discounted $disc")
    // the rendered artifact keeps BOTH in `regressions` (the r15
    // ADVICE fix: probe evidence annotates, it never passes the gate —
    // the isolated re-measure adjudicates)
    val rendered = Bench.regressionsJson(kept ++ disc, 1.0)
    assert(rendered.contains("\"broken\"") && rendered.contains("\"spiked\""),
      s"spike-annotated flags must stay in regressions: $rendered")
    // below the warn threshold: no discounting at all
    assert(Bench.discountFlags(regs, medians, bests, floors0, 1.2) ==
      ((regs, Nil)))
    // no flags: nothing to do regardless of ratio
    assert(Bench.discountFlags(Nil, medians, bests, floors0, 4.0) ==
      ((Nil, Nil)))
  }

  test("control canaries: ratios computed only for floored controls; artifact fragment renders") {
    // the pinned set: old, untouched, sub-second, disjoint families
    assert(Bench.ControlQueries ==
      Seq("j1_dim_join", "p5_eq_filter", "f_string_funcs"))
    val floors = Map("j1_dim_join" -> 0.1, "p5_eq_filter" -> 0.05)
    val bests = Map("j1_dim_join" -> 0.26, "p5_eq_filter" -> 0.15,
      "f_string_funcs" -> 0.3) // no committed floor -> not a canary
    val ctrls = Bench.controlRatios(bests, floors)
    assert(ctrls.map(_._1) == Seq("j1_dim_join", "p5_eq_filter"))
    assert(math.abs(ctrls.head._4 - 2.6) < 1e-9)
    val js = Bench.controlsJson(ctrls)
    assert(js.startsWith(""","controls":{"""), js)
    assert(js.contains(""""j1_dim_join":[0.260,0.100,2.60]"""), js)
    assert(Bench.controlsJson(Nil) == "")
    // failed controls (best -1) never poison the ratio
    assert(Bench.controlRatios(Map("j1_dim_join" -> -1.0), floors).isEmpty)
  }

  test("regime correlation: co-inflating flags self-label WITH evidence; outliers and quiet boxes do not") {
    // the r16 g3 shape: flag at 2.35x floor while controls co-inflate
    val regs = Seq(("g3_degree_distribution", 0.445, 0.189),
      ("broken_query", 5.0, 0.1))
    val (plain, regime) = Bench.regimeCorrelated(regs, 2.8)
    assert(regime.map(_._1) == Seq("g3_degree_distribution"),
      "a flag within controls x tolerance must self-label")
    assert(plain.map(_._1) == Seq("broken_query"),
      "a 50x outlier must keep its unlabeled flag even on a hot box")
    // quiet box (controls ~1x): correlation never fires — the flag
    // stands alone and the floor decision executes mechanically
    assert(Bench.regimeCorrelated(regs, 1.05) == ((regs, Nil)))
    val rj = Bench.regimeJson(regime, 2.8)
    assert(rj.contains(
      """"g3_degree_distribution":[0.445,0.189,2.35,2.80]"""), rj)
    assert(Bench.regimeJson(Nil, 2.8) == "")
  }

  test("median backstop: most-passes degradation with one lucky pass still trips") {
    val floors = Map("a" -> 1.0, "b" -> 1.0, "c" -> 0.1)
    val medians = Seq(
      "a" -> 4.5, // best clears (lucky pass at 1.1x) but median 4.5x, +3.5s -> trips
      "b" -> 2.4, // best clears AND median inside 3x -> loaded box, not flagged
      "c" -> 0.9) // median 9x floor but +0.8s < 1.0s abs -> sub-second noise
    val bests = Map("a" -> 1.1, "b" -> 1.2, "c" -> 0.15)
    assert(Bench.regressions(medians, bests, floors) == Seq(("a", 4.5, 1.0)),
      "median gate must catch what one lucky pass hides")
  }
}
