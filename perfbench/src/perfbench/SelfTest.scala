package perfbench

import java.nio.file.{Files, Path}
import graft.functions.IndicatorMath

/** The benchmark's own tests: generator determinism, the tail-percentile
  * rule, and every output check rejecting a deliberately wrong answer.
  * `python3 perfbench/run.py --self-test`; exits 1 if any test fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"[selftest] ${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest")
    try run(tmp) finally Main.deleteTree(tmp)
    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def run(tmp: Path): Unit = {
    // ---- generator determinism -------------------------------------------
    def bars(dir: String, seed: Long) = Gen.bars(tmp.resolve(dir), seed, 60, 6000, 12)
    val b1 = bars("b1", 7)
    test("bars: the same seed writes the same bytes")(b1.hash == bars("b2", 7).hash)
    test("bars: another seed writes other bytes")(b1.hash != bars("b3", 8).hash)
    def docs(f: String, seed: Long) = Gen.docs(tmp.resolve(f), seed, 300, 6, 40, 2)
    test("docs: the same seed writes the same bytes")(docs("d1.csv", 7).hash == docs("d2.csv", 7).hash)
    test("docs: another seed writes other bytes")(docs("d1.csv", 7).hash != docs("d3.csv", 8).hash)
    test("trade: the same seed writes the same bytes")(
      Gen.trade(tmp.resolve("t1"), 7, 200).hash == Gen.trade(tmp.resolve("t2"), 7, 200).hash)
    def sched(seed: Long) = Gen.schedule(seed, 500, 4.0, 20, 3, 1.0, 2.0)
    test("schedule: the same seed gives the same ticks")(sched(7).hash == sched(7).hash)
    test("schedule: another seed gives other ticks")(sched(7).hash != sched(8).hash)
    test("schedule: silent symbols do not tick in their quiet window") {
      val s = sched(7)
      s.ticks.forall(t => !(s.silent(t.symbol) && t.dueMicros >= 1000000L && t.dueMicros < 3000000L))
    }

    // the planted defects are exactly what the validation checks count
    test("bars: planted defects match a direct count of the file") {
      val lines = scala.io.Source.fromFile(
        b1.root.resolve(s"global_crypto/minute_aggs_v1/2024/${b1.date}.csv").toFile).getLines().drop(1).toVector
      val rows = lines.map(_.split(","))
      val nonPos = rows.count(r => r.slice(2, 6).exists(_.toDouble <= 0))
      val ohlc = rows.count { r =>
        val Array(o, h, l, c) = r.slice(2, 6).map(_.toDouble)
        h < l || h < o || h < c || l > o || l > c
      }
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      def sec(s: String) = java.time.LocalDateTime.parse(s, ts).toEpochSecond(java.time.ZoneOffset.UTC)
      val gaps = rows.groupBy(_(0)).values.map(rs => rs.map(r => sec(r(1))).sorted.sliding(2)
        .count(p => p.size == 2 && p(1) - p(0) > 60)).sum
      rows.size == b1.rows && nonPos == b1.nonPositive && ohlc == b1.highLow && gaps == b1.gaps && b1.gaps > 0
    }
    test("docs: planted clusters are exact copies inside the corpus") {
      val d = docs("d4.csv", 9)
      val text = scala.io.Source.fromFile(d.path.toFile).getLines().drop(1)
        .map(_.split(",")).map(a => a(0).toLong -> a(1)).toMap
      text.keySet == (0L until d.n).toSet && d.clusters.forall(cl => cl.map(text).distinct.size == 1) &&
        d.clusters.take(d.slabClusters).flatten.forall(_ < d.slab)
    }
    test("docs: the sf0.1 shape: vocabulary, lengths, near-duplicates, sources") {
      val d = docs("d5.csv", 9)
      val rows = scala.io.Source.fromFile(d.path.toFile).getLines().drop(1).map(_.split(",")).toVector
      val texts = rows.map(_(1)).toSet
      val near = rows.filter(_(1).endsWith(" dup"))
      val lens = rows.map(_(1).split(" ").count(_ != "dup"))
      rows.flatMap(_(1).split(" ")).toSet == (Gen.Vocab :+ "dup").toSet &&
        lens.min >= Gen.MinWords && lens.max <= Gen.MaxWords && d.nearDups == 15 &&
        near.forall(r => texts(r(1).stripSuffix(" dup"))) && near.map(_(0)).size >= d.nearDups &&
        rows.forall(r => r(3) == s"src${r(0).toLong % Gen.Sources}" && r(4).toInt == r(1).length)
    }

    // ---- the tail-percentile rule ----------------------------------------
    test("tail: 100 samples give p90 with exactly ten samples beyond") {
      val t = Stats.tail((1 to 100).map(_.toDouble)).get
      t.value == 90.0 && t.percentile == 90.0 && (1 to 100).count(_ > t.value) == 10
    }
    test("tail: every size from 11 to 400 keeps ten samples beyond") {
      (11 to 400).forall { n =>
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        val t = Stats.tail(xs).get
        xs.count(_ > t.value) == 10 && t.n == n
      }
    }
    test("tail: fewer than eleven samples have no such percentile")(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    test("reported tail: the rule from 21 samples on, the slower half's mean below, never under the median") {
      (1 to 400).forall { n =>
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        val t = Stats.reportedTail(xs)
        val k = math.max(1, n / 2)
        t.value >= Stats.median(xs) &&
          (if (n >= 21) t == Stats.tail(xs).get else t.slowest == k && t.value == n - (k - 1) / 2.0)
      }
    }
    test("median: odd and even counts")(Stats.median(Seq(3.0, 1, 2)) == 2.0 && Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)

    // ---- each check rejects a wrong answer -------------------------------
    val r = new java.util.Random(3)
    val closes = Iterator.iterate(100.0)(c => c * math.exp(0.01 * r.nextGaussian())).take(300).toVector
    val xs = closes.map(Some(_))
    val good = Checks.IndicatorRows(closes, IndicatorMath.smaSeries(xs, 20), IndicatorMath.emaSeries(xs, 12),
      IndicatorMath.rsiSeries(xs, 14), IndicatorMath.macdSeries(xs))
    def nudge(s: Seq[Option[Double]], i: Int) = s.updated(i, s(i).map(v => Math.nextUp(v)))
    test("indicators: the IndicatorMath answer passes")(Checks.indicators(good).isEmpty)
    test("indicators: an EMA one ulp off is rejected")(Checks.indicators(good.copy(ema12 = nudge(good.ema12, 150))).nonEmpty)
    test("indicators: an RSI value where NULL is due is rejected")(
      Checks.indicators(good.copy(rsi14 = good.rsi14.updated(3, Some(50.0)))).nonEmpty)
    test("indicators: a missing row is rejected")(Checks.indicators(good.copy(macd = good.macd.init)).nonEmpty)
    val sh = IndicatorMath.macdSignalHistSeries(xs)
    test("macd signal/hist: right passes, wrong rejected")(
      Checks.macdSignalHist(closes, sh.map(_._1), sh.map(_._2)).isEmpty &&
        Checks.macdSignalHist(closes, sh.map(_._1), nudge(sh.map(_._2), 40)).nonEmpty)
    val sigs = IndicatorMath.rsiSeries(xs, 14).zipWithIndex.collect {
      case (Some(v), i) if v < 30 => Checks.Signal(i, v, "BUY", (30.0 - v) / 30.0)
      case (Some(v), i) if v > 70 => Checks.Signal(i, v, "SELL", (v - 70.0) / 30.0)
    }
    test("rsi signals: right passes, a dropped or mislabelled signal is rejected")(sigs.nonEmpty &&
      Checks.rsiSignals(closes, sigs).isEmpty && Checks.rsiSignals(closes, sigs.tail).nonEmpty &&
      Checks.rsiSignals(closes, sigs.updated(0, sigs.head.copy(kind = "HOLD"))).nonEmpty)
    val s20 = IndicatorMath.smaSeries(xs, 20); val s50 = IndicatorMath.smaSeries(xs, 50)
    val cross = (1 until closes.size).flatMap { i =>
      for (a <- s20(i); b <- s50(i); pa <- s20(i - 1); pb <- s50(i - 1) if (pa <= pb && a > b) || (pa >= pb && a < b))
        yield (i, if (a > b) "BUY" else "SELL")
    }
    test("ma crossovers: right passes, a flipped type is rejected")(cross.nonEmpty &&
      Checks.maCrossovers(closes, cross).isEmpty &&
      Checks.maCrossovers(closes, cross.updated(0, (cross.head._1, if (cross.head._2 == "BUY") "SELL" else "BUY"))).nonEmpty)
    val mid = s20
    test("bands: set before the frame fills is rejected")(
      Checks.warmup("bb_mid", 20, mid, _ > 0).isEmpty && Checks.warmup("bb_mid", 20, mid.updated(5, Some(1.0)), _ > 0).nonEmpty)
    test("bands: a value out of range is rejected")(
      Checks.warmup("pct_k", 20, mid.updated(30, Some(-1.0)), _ >= 0, nullAllowedAfter = true).nonEmpty)
    test("validation counts: a wrong count is rejected")(
      Checks.counts("v", Map("gaps" -> 3L), Map("gaps" -> 3L)).isEmpty &&
        Checks.counts("v", Map("gaps" -> 2L), Map("gaps" -> 3L)).nonEmpty)

    val ids = (0L until 20L).toSet
    val clusters = Seq(Seq(3L, 7L, 12L), Seq(5L, 9L))
    val cc = Seq(3L -> 3L, 7L -> 3L, 12L -> 3L, 5L -> 5L, 9L -> 5L)
    test("components: a correct partition passes")(Checks.components(cc, ids, clusters).isEmpty)
    test("components: a split planted cluster is rejected")(
      Checks.components(cc.updated(2, 12L -> 12L), ids, clusters).nonEmpty)
    test("components: an id in two components is rejected")(Checks.components(cc :+ (9L -> 3L), ids, clusters).nonEmpty)
    test("components: a label that is not the minimum id is rejected")(
      Checks.components(Seq(3L -> 7L, 7L -> 7L, 12L -> 7L, 5L -> 5L, 9L -> 5L), ids, clusters).nonEmpty)
    test("components: an id outside the input is rejected")(Checks.components(cc :+ (99L -> 99L), ids, clusters).nonEmpty)
    val planted = Checks.plantedPairs(clusters)
    val pairs = planted.toSeq.map(p => (p._1, p._2, 1.0)) :+ ((1L, 2L, 0.6))
    test("pairs: all planted pairs pass; a missing or mis-scored one is rejected")(
      Checks.pairs("p", pairs, planted, _ == 1.0, s => s > 0 && s <= 1).isEmpty &&
        Checks.pairs("p", pairs.tail, planted, _ == 1.0, s => s > 0 && s <= 1).nonEmpty &&
        Checks.pairs("p", pairs.map(p => p.copy(_3 = 0.9)), planted, _ == 1.0, s => s > 0 && s <= 1).nonEmpty &&
        Checks.pairs("p", pairs :+ ((4L, 2L, 0.5)), planted, _ == 1.0, s => s > 0 && s <= 1).nonEmpty)
    val sc = (1L to 5L).map(n => n -> n / 5.0)
    test("scores: one per node with a top score of 1 passes; a missing node or no top is rejected")(
      Checks.scores("s", sc, 5).isEmpty && Checks.scores("s", sc.tail, 5).nonEmpty &&
        Checks.scores("s", sc.init, 4).nonEmpty)

    // ticks: "A" ticks every 100 ms; "B" goes quiet for 3 s after its tenth
    // tick. One batch per 500 ms of event time, watermark 200 ms behind.
    val idleMs = 1000L
    val offered = (0 until 40).map(i => ("A", i * 100000L, 10.0 + (i % 7))) ++
      (0 until 20).map(i => ("B", i * 100000L + (if (i >= 10) 3000000L else 0L), 20.0 - (i % 5)))
    def batchOf(us: Long) = us / 500000L
    val wms = (0L to 12L).map(b => b -> math.max(0L, b * 500L - 200L)).toMap
    def fold(ts: Seq[(String, Long, Double)]) = {
      val x = ts.map(t => Some(t._3))
      val (s, e, r2) = (IndicatorMath.smaSeries(x, 5), IndicatorMath.emaSeries(x, 5), IndicatorMath.rsiSeries(x, 5))
      ts.indices.map(i => Checks.Emitted(batchOf(ts(i)._2), ts(i)._1, ts(i)._2, ts(i)._3, s(i), e(i), r2(i)))
    }
    val a = offered.filter(_._1 == "A"); val b = offered.filter(_._1 == "B")
    val emitted = fold(a) ++ fold(b.take(10)) ++ fold(b.drop(10))
    test("ticks: the fold restarted after the eviction passes")(Checks.ticks(offered, emitted, wms, 5, idleMs) == 0)
    test("ticks: a dropped tick fails")(Checks.ticks(offered, emitted.tail, wms, 5, idleMs) == 1)
    test("ticks: a duplicated tick fails")(Checks.ticks(offered, emitted :+ emitted.head, wms, 5, idleMs) == 1)
    test("ticks: state kept across the eviction fails")(Checks.ticks(offered, fold(a) ++ fold(b), wms, 5, idleMs) > 0)
    test("ticks: state evicted without an expired timer fails") {
      val late = wms.map { case (k, v) => k -> math.min(v, 1000L) } // watermark never passes B's expiry
      Checks.ticks(offered, emitted, late, 5, idleMs) > 0 && Checks.ticks(offered, fold(a) ++ fold(b), late, 5, idleMs) == 0
    }
    test("ticks: a wrong RSI fails")(
      Checks.ticks(offered, emitted.updated(30, emitted(30).copy(rsi = Some(1.0))), wms, 5, idleMs) == 1)
  }
}
