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
    val (warm, n, sf) = Bench.parseBaseline(p)
    assert(warm == Map("q1_agg" -> 0.5, "join_x" -> 1.25, "window_y" -> 0.07))
    assert(n.contains(3))
    assert(sf.contains("sf0.1"))
  }

  test("missing n comes back None, missing file comes back empty") {
    val p = write("""{"warm":{"a":1.0}}""")
    val (warm, n, _) = Bench.parseBaseline(p)
    assert(warm == Map("a" -> 1.0) && n.isEmpty)
    val (none, n2, _) = Bench.parseBaseline("/nonexistent/baseline.json")
    assert(none.isEmpty && n2.isEmpty)
  }

  test("a run at another sf than the baseline's is not compared") {
    // same directory, spelled differently: comparable
    assert(Bench.sameSf("/root/testdata/sf0.1", Some("/root/testdata/sf0.1/")))
    assert(Bench.sameSf("/root/testdata/./sf0.1", Some("/root/testdata/sf0.1")))
    // another scale factor: every query would read as a regression
    assert(!Bench.sameSf("/root/testdata/sf0.01", Some("/root/testdata/sf0.1")))
    assert(!Bench.sameSf("/tmp/sf1", Some("/root/testdata/sf0.1")))
    // a baseline that declares no sf cannot be vouched for
    assert(!Bench.sameSf("/root/testdata/sf0.1", None))
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
    val (warm, n, _) = Bench.parseBaseline(p)
    assert(n.contains(3) && warm.size < 3 && warm.contains("ok_query"))
    assert(warm("sci") == 1e-3)
  }
}
