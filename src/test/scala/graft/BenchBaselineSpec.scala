package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Bench's baseline parser is a deliberate no-dependency regex scan; this
  * spec pins the contract the gate's self-check relies on — the declared
  * "n" count comes back so a half-parsed warm map can be REFUSED instead
  * of silently gating fewer queries.
  */
class BenchBaselineSpec extends AnyFunSuite {

  private def write(body: String): String = {
    val f = Files.createTempFile("baseline", ".json")
    f.toFile.deleteOnExit()
    Files.writeString(f, body)
    f.toString
  }

  test("parses warm map and declared n") {
    val p = write(
      """{"source":"x","n":3,"sf":"sf0.1",
        |"warm":{"q1_agg":0.5,"join_x":1.25,"window_y":0.07},
        |"other":{"not_warm":9.9}}""".stripMargin)
    val (warm, n) = Bench.parseBaseline(p)
    assert(warm == Map("q1_agg" -> 0.5, "join_x" -> 1.25, "window_y" -> 0.07))
    assert(n.contains(3))
  }

  test("missing n comes back None, missing file comes back empty") {
    val p = write("""{"warm":{"a":1.0}}""")
    val (warm, n) = Bench.parseBaseline(p)
    assert(warm == Map("a" -> 1.0) && n.isEmpty)
    val (none, n2) = Bench.parseBaseline("/nonexistent/baseline.json")
    assert(none.isEmpty && n2.isEmpty)
  }

  // --- self-healing remeasure logic (r10 verdict item 2) ---

  test("healSuspects: contended AND above-noise-over-baseline, sorted") {
    val base = Map("a" -> 1.0, "b" -> 1.0, "c" -> 10.0, "d" -> 1.0)
    val warm = Map(
      "a" -> 1.2,  // contended, > 1.0 + max(0.1, 0.1) → suspect
      "b" -> 1.05, // contended but within noise → wasn't hurt
      "c" -> 11.5, // contended, > 10 + 1.0 → suspect (10% rule dominates)
      "d" -> 9.0,  // NOT contended → the gate's business, not the healer's
      "e" -> 99.0) // contended but no baseline → nothing to heal toward
    val sus = Bench.healSuspects(warm, Set("c", "a", "b", "e"), base)
    assert(sus == Seq("a", "c"))
  }

  test("healSuspects: the 100 ms floor guards sub-second baselines") {
    // base 0.1 s: 10% = 10 ms would suspect pure timer noise; the floor
    // requires base + 0.1 s before a remeasure is spent on it.
    val base = Map("tiny" -> 0.1)
    assert(Bench.healSuspects(Map("tiny" -> 0.19), Set("tiny"), base).isEmpty)
    assert(Bench.healSuspects(Map("tiny" -> 0.25), Set("tiny"), base)
      == Seq("tiny"))
  }

  test("degradedSweep: above-noise queries, largest excess first, " +
      "skipping already-healed, capped") {
    val base = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 0.1,
      "e" -> 1.0)
    val warm = Map(
      "a" -> 1.5,  // +0.5 excess → suspect
      "b" -> 2.0,  // +1.0 excess → suspect, ranks first
      "c" -> 1.05, // within noise → not a suspect
      "d" -> 0.15, // over 10% but under the 100 ms floor → not a suspect
      "e" -> 3.0)  // over, but already healed → skipped
    assert(Bench.degradedSweep(warm, base, Set("e")) == Seq("b", "a"))
    assert(Bench.degradedSweep(warm, base, Set("e"), cap = 1) == Seq("b"))
  }

  test("remeasureClean: co-tenant Spark JVM or excess load rejects") {
    // clean: no sparks, both loads within idle + own + 4
    assert(Bench.remeasureClean(0, 0, 5.0, 2.0, 6.0, 3.0, 1.0))
    // a co-tenant Spark JVM at either boundary rejects
    assert(!Bench.remeasureClean(1, 0, 5.0, 2.0, 6.0, 3.0, 1.0))
    assert(!Bench.remeasureClean(0, 2, 5.0, 2.0, 6.0, 3.0, 1.0))
    // load beyond idle + own + 4 at either boundary rejects
    assert(!Bench.remeasureClean(0, 0, 7.1, 2.0, 6.0, 3.0, 1.0))
    assert(!Bench.remeasureClean(0, 0, 5.0, 2.0, 8.1, 3.0, 1.0))
    // an unknown (-1) JVM count from a /proc walk failure reads clean,
    // matching the per-query flag's treatment
    assert(Bench.remeasureClean(-1, -1, 5.0, 2.0, 6.0, 3.0, 1.0))
  }

  // --- idle-anchor floor (r11 verdict item 3) ---

  test("idleAnchor: a busy-start capture gets the strict threshold") {
    // BENCH_r11 shape: the pre-session sample read 9.2 on a loaded host
    // with no other JVMs alive — the anchor floors it to 2.0, so the
    // per-query contention threshold (anchor + own + 4) is ~7 points
    // stricter than the raw sample would have made it.
    assert(Bench.idleAnchor(9.2, 0) == 2.0)
    // a genuinely idle host keeps its (smaller) sample
    assert(Bench.idleAnchor(1.3, 0) == 1.3)
    // other live JVMs legitimately raise idle load: one point each
    assert(Bench.idleAnchor(9.2, 3) == 5.0)
    // unknown JVM count (/proc walk failure, -1) contributes zero —
    // strict, not lenient
    assert(Bench.idleAnchor(9.2, -1) == 2.0)
  }

  // --- ratio-space gate (r11 verdict item 2) ---

  test("ratioGate catches a localized regression the absolute gate " +
      "misses, under a uniform epoch drift") {
    // Fault injection: 24 sub-second queries all drifted a uniform
    // 1.15× (hypervisor epoch), one 0.4 s query regressed 1.8×. The
    // absolute gate's limit max(2×, +1 s) never trips (0.72 s < 1.4 s);
    // the ratio gate flags exactly the planted query against the run
    // median of 1.15.
    val base = (1 to 24).map(i => s"q$i" -> 0.4).toMap + ("planted" -> 0.4)
    val warm = base.map { case (n, b) =>
      n -> (if (n == "planted") b * 1.8 else b * 1.15)
    }
    // absolute gate would pass everything:
    assert(warm.forall { case (n, w) =>
      w <= math.max(2 * base(n), base(n) + 1.0) })
    val (median, bad) = Bench.ratioGate(warm, base)
    assert(math.abs(median - 1.15) < 1e-9)
    assert(bad.map(_._1) == Seq("planted"))
    assert(math.abs(bad.head._2 - 1.8) < 1e-9)
  }

  test("ratioGate: uniform drift alone trips nothing; noise floor and " +
      "small-run cutoff hold") {
    val base = (1 to 25).map(i => s"q$i" -> 1.0).toMap
    // uniform 1.3× drift: median moves with it, zero failures
    val drifted = base.map { case (n, b) => n -> b * 1.3 }
    assert(Bench.ratioGate(drifted, base)._2.isEmpty)
    // a 0.02 s query "doubling" is timer jitter, not a regression:
    // ratio 2.0 > 1.5×median but warm-base = 20 ms < the 100 ms floor
    val tinyBase = base + ("tiny" -> 0.02)
    val tinyWarm = base.map { case (n, b) => n -> b } + ("tiny" -> 0.04)
    assert(Bench.ratioGate(tinyWarm, tinyBase)._2.isEmpty)
    // fewer than 20 shared queries: gate declines (NaN median, no bad)
    val few = (1 to 5).map(i => s"q$i" -> 1.0).toMap
    val (m, b) = Bench.ratioGate(few.map { case (n, v) => n -> v * 9 }, few)
    assert(m.isNaN && b.isEmpty)
  }

  test("a drifted entry shrinks the parsed map below the declared n") {
    // uppercase name: a drift shape the name regex deliberately rejects —
    // the count check catches the shrink. Scientific notation is PARSED
    // (not truncated at 'e'): a truncated value would keep the name and
    // sail past the count check with a wrong number.
    val p = write(
      """{"n":3,"warm":{"ok_query":0.5,"BadName":1.0,"sci":1e-3}}""")
    val (warm, n) = Bench.parseBaseline(p)
    assert(n.contains(3) && warm.size < 3 && warm.contains("ok_query"))
    assert(warm("sci") == 1e-3)
  }
}
