package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's baseline normalization picks tools/bench_diff.py's basis: the
  * frozen `cal_scan` probe when both artifacts carry it, else q_sma. */
class BenchCalibrationSpec extends AnyFunSuite {

  private val withScan =
    """{"metric":"total","queries":{"q_sma":0.871},"calibration":{"query":"q_sma",""" +
      """"runs":5,"start_sec":0.871,"end_sec":0.620},"cal_scan_start_sec":0.245,""" +
      """"cal_scan_end_sec":0.198,"sf":"/data/sf0.1"}"""
  private val smaOnly =
    """{"metric":"total","queries":{"q_sma":0.976},"calibration":{"query":"q_sma",""" +
      """"runs":5,"start_sec":0.976,"end_sec":0.804},"sf":"/data/sf0.1"}"""

  test("anchorOf reads the min of each start/end pair, cal_scan only when present") {
    assert(Bench.anchorOf(withScan) === Some(Bench.Anchor(0.620, Some(0.198))))
    assert(Bench.anchorOf(smaOnly) === Some(Bench.Anchor(0.804, None)))
    assert(Bench.anchorOf("""{"queries":{"q_sma":1.0}}""") === None)
  }

  test("a 2x-faster q_sma with a flat cal_scan does not rescale the ratio") {
    val old = Bench.anchorOf(withScan).get
    val now = Bench.Anchor(old.sma / 2, old.scan)
    assert(Bench.calRatio(old, now) === ("cal_scan", 1.0))
    // a baseline without the probe falls back to q_sma, and its speed-up shows
    val oldSma = Bench.anchorOf(smaOnly).get
    assert(Bench.calRatio(oldSma, Bench.Anchor(oldSma.sma / 2, Some(0.2))) ===
      ("q_sma", 0.5))
  }
}
