package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
    // position 0.9 * 4 = 3.6: 4 + 0.6 * (5 - 4)
    assert(math.abs(Stats.percentile(xs, 0.9) - 4.6) < 1e-12)
    assert(Stats.medianOr0(Nil) == 0.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("open-loop freshness counts from the due time, queue wait from landing") {
    // Files due every 6 s. The engine takes file 0 at once; file 1 lands
    // 0.1 s late and waits 2 s for the engine; file 2 lands and is never
    // visible before the run ends.
    val files = Seq(
      Stats.FileTimes(due = 0.0, landed = 0.01, taken = Some(0.02), visible = Some(3.0)),
      Stats.FileTimes(due = 6.0, landed = 6.1, taken = Some(8.1), visible = Some(11.0)),
      Stats.FileTimes(due = 12.0, landed = 12.0, taken = None, visible = None))
    val ol = Stats.openLoop(files)
    assert(ol.freshness.map(x => math.round(x * 100) / 100.0) == Seq(3.0, 5.0))
    assert(ol.queueWait.map(x => math.round(x * 100) / 100.0) == Seq(0.01, 2.0))
    assert(math.abs(ol.maxLateness - 0.1) < 1e-9)
    assert(ol.backlog == 1)
  }
}
