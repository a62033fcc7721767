package perfbench

import graft.functions.IndicatorMath

/** Output checks. Each takes plain collected values (so the self-tests can
  * feed it a deliberately wrong answer) and returns the problems it found;
  * an empty result means the output is correct. */
object Checks {

  private def same(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (None, None) => true
    case _ => false
  }

  /** Bit-exact column check against an expected series. */
  def series(what: String, got: Seq[Option[Double]], want: Seq[Option[Double]]): Seq[String] =
    if (got.size != want.size) Seq(s"$what: ${got.size} rows, expected ${want.size}")
    else got.indices.find(i => !same(got(i), want(i))).toSeq
      .map(i => s"$what: row $i is ${got(i)}, expected ${want(i)}")

  // ---- indicators ----------------------------------------------------------

  /** One ticker's output of the combined indicator query. */
  final case class IndicatorRows(closes: Seq[Double], sma20: Seq[Option[Double]],
                                 ema12: Seq[Option[Double]], rsi14: Seq[Option[Double]],
                                 macd: Seq[Option[Double]])

  def indicators(t: IndicatorRows): Seq[String] = {
    val xs = t.closes.map(Some(_))
    series("sma", t.sma20, IndicatorMath.smaSeries(xs, 20)) ++
      series("ema", t.ema12, IndicatorMath.emaSeries(xs, 12)) ++
      series("rsi", t.rsi14, IndicatorMath.rsiSeries(xs, 14)) ++
      series("macd", t.macd, IndicatorMath.macdSeries(xs))
  }

  def macdSignalHist(closes: Seq[Double], signal: Seq[Option[Double]],
                     hist: Seq[Option[Double]]): Seq[String] = {
    val want = IndicatorMath.macdSignalHistSeries(closes.map(Some(_)))
    series("macd_signal", signal, want.map(_._1)) ++ series("macd_hist", hist, want.map(_._2))
  }

  /** RSI threshold signals: (row index, rsi, type, confidence). */
  final case class Signal(i: Int, value: Double, kind: String, confidence: Double)

  def rsiSignals(closes: Seq[Double], got: Seq[Signal]): Seq[String] = {
    val want = IndicatorMath.rsiSeries(closes.map(Some(_)), 14).zipWithIndex.collect {
      case (Some(r), i) if r < 30.0 => Signal(i, r, "BUY", (30.0 - r) / 30.0)
      case (Some(r), i) if r > 70.0 => Signal(i, r, "SELL", (r - 70.0) / 30.0)
    }
    if (got.sortBy(_.i) == want) Nil
    else Seq(s"rsi signals: ${got.size} rows, expected ${want.size}" +
      got.sortBy(_.i).zip(want).find(p => p._1 != p._2).fold("")(p => s"; first difference ${p._1} vs ${p._2}"))
  }

  /** SMA(20)/SMA(50) crossovers: (row index, type). */
  def maCrossovers(closes: Seq[Double], got: Seq[(Int, String)]): Seq[String] = {
    val xs = closes.map(Some(_))
    val s = IndicatorMath.smaSeries(xs, 20); val l = IndicatorMath.smaSeries(xs, 50)
    val want = (1 until closes.size).flatMap { i =>
      for (cs <- s(i); cl <- l(i); ps <- s(i - 1); pl <- l(i - 1)
           if (ps <= pl && cs > cl) || (ps >= pl && cs < cl))
        yield (i, if (cs > cl) "BUY" else "SELL")
    }
    if (got.sorted == want.sorted) Nil
    else Seq(s"ma crossovers: ${got.size} rows, expected ${want.size}")
  }

  /** Bands/oscillators: NULL exactly until the n-row frame fills, then
    * ordered bands (lower ≤ mid ≤ upper) or a %K inside [0, 100]. */
  def warmup(what: String, n: Int, values: Seq[Option[Double]],
             inRange: Double => Boolean, nullAllowedAfter: Boolean = false): Seq[String] =
    values.zipWithIndex.collectFirst {
      case (Some(_), i) if i < n - 1 => s"$what: row $i set before the $n-row frame filled"
      case (None, i) if i >= n - 1 && !nullAllowedAfter => s"$what: row $i NULL after the frame filled"
      case (Some(v), i) if !inRange(v) => s"$what: row $i out of range ($v)"
    }.toSeq

  def counts(what: String, got: Map[String, Long], want: Map[String, Long]): Seq[String] =
    want.toSeq.sorted.collect { case (k, v) if !got.get(k).contains(v) =>
      s"$what.$k = ${got.get(k).map(_.toString).getOrElse("missing")}, expected $v" }

  // ---- dedup_graph ---------------------------------------------------------

  /** `(id, component)` must partition a subset of the input ids, label each
    * component by its minimum id, and hold every planted cluster whole. */
  def components(cc: Seq[(Long, Long)], inputIds: Set[Long],
                 clusters: Seq[Seq[Long]]): Seq[String] = {
    val byId = cc.groupBy(_._1)
    val dupIds = byId.collect { case (id, xs) if xs.size > 1 => id }
    val foreign = cc.map(_._1).filterNot(inputIds)
    val label = cc.toMap
    val badLabel = cc.groupBy(_._2).collect {
      case (c, members) if members.map(_._1).min != c => c
    }
    val split = clusters.filter(cl => cl.map(label.get).distinct.size != 1 || !label.contains(cl.head))
    Seq(
      if (dupIds.nonEmpty) Some(s"components: ${dupIds.size} ids in more than one component") else None,
      if (foreign.nonEmpty) Some(s"components: ${foreign.size} ids not in the input") else None,
      if (badLabel.nonEmpty) Some(s"components: ${badLabel.size} labels are not their component's minimum id") else None,
      if (split.nonEmpty) Some(s"components: ${split.size} planted clusters not in one component, e.g. ${split.head}") else None
    ).flatten
  }

  def plantedPairs(clusters: Seq[Seq[Long]]): Set[(Long, Long)] =
    clusters.flatMap(cl => for (a <- cl; b <- cl if a < b) yield (a, b)).toSet

  /** Pair output `(id_a, id_b, score)`: ordered pairs, every planted pair
    * present with `planted(score)` true, every score accepted by `valid`. */
  def pairs(what: String, got: Seq[(Long, Long, Double)], planted: Set[(Long, Long)],
            plantedScore: Double => Boolean, valid: Double => Boolean): Seq[String] = {
    val byPair = got.map(p => (p._1, p._2) -> p._3).toMap
    val missing = planted.filterNot(p => byPair.get(p).exists(plantedScore))
    Seq(
      if (got.exists(p => p._1 >= p._2)) Some(s"$what: pair with id_a >= id_b") else None,
      if (byPair.size != got.size) Some(s"$what: duplicate pairs") else None,
      if (got.exists(p => !valid(p._3))) Some(s"$what: score out of range") else None,
      if (missing.nonEmpty) Some(s"$what: ${missing.size} of ${planted.size} planted pairs missing or mis-scored, e.g. ${missing.head}") else None
    ).flatten
  }

  /** HITS scores: one per node, each in [0, 1], and the top one exactly 1
    * (every round normalizes by the maximum). */
  def scores(what: String, got: Seq[(Long, Double)], nodes: Long): Seq[String] = Seq(
    if (got.size != nodes || got.map(_._1).distinct.size != got.size)
      Some(s"$what: ${got.size} rows, expected one per node ($nodes)") else None,
    if (got.exists(g => g._2 < 0 || g._2 > 1)) Some(s"$what: score out of [0, 1]") else None,
    if (!got.exists(_._2 == 1.0)) Some(s"$what: no node scores 1") else None
  ).flatten

  // ---- tick_stream ---------------------------------------------------------

  /** An emitted indicator row, with the micro-batch that emitted it. */
  final case class Emitted(batch: Long, symbol: String, tsMicros: Long, price: Double,
                           sma: Option[Double], ema: Option[Double], rsi: Option[Double])

  /** Failed ticks: each offered `(symbol, event time µs, price)` must be
    * emitted exactly once, with the `IndicatorMath` fold of its symbol's
    * ticks since the symbol's state was last evicted. The idle timer of a
    * symbol expires `idleMs` after its last tick; a micro-batch between two
    * of its ticks whose watermark (`watermarks`: batch id → ms, as the
    * progress events report it) has passed that expiry evicts the state. A
    * watermark exactly at the expiry may go either way, so both are tried. */
  def ticks(offered: Seq[(String, Long, Double)], emitted: Seq[Emitted],
            watermarks: Map[Long, Long], window: Int, idleMs: Long): Long = {
    val got = emitted.groupBy(e => (e.symbol, e.tsMicros))
    val batchIds = watermarks.keys.toVector.sorted
    offered.groupBy(_._1).toSeq.map { case (sym, ts0) =>
      val ts = ts0.sortBy(_._2)
      val rows = ts.map(t => got.getOrElse((sym, t._2), Nil))
      // per gap between tick i-1 and i: Some(true) evicted, Some(false)
      // kept, None undecided (a watermark exactly at the expiry)
      val evicted: IndexedSeq[Option[Boolean]] = ts.indices.drop(1).map { i =>
        (rows(i - 1), rows(i)) match {
          case (Seq(a), Seq(b)) =>
            val expiry = Math.floorDiv(ts(i - 1)._2, 1000L) + idleMs
            val between = batchIds.filter(id => id > a.batch && id < b.batch).map(watermarks)
            if (between.exists(_ > expiry)) Some(true)
            else if (between.contains(expiry)) None
            else Some(false)
          case _ => Some(false)
        }
      }
      def failures(breaks: Seq[Boolean]): Long = {
        val epochs = ts.indices.foldLeft(Vector.empty[Vector[Int]]) { (acc, i) =>
          if (i == 0 || breaks(i - 1)) acc :+ Vector(i) else acc.init :+ (acc.last :+ i)
        }
        epochs.map { ep =>
          val xs = ep.map(i => Some(ts(i)._3))
          val (sma, ema, rsi) = (IndicatorMath.smaSeries(xs, window),
            IndicatorMath.emaSeries(xs, window), IndicatorMath.rsiSeries(xs, window))
          ep.indices.count { k =>
            rows(ep(k)) match {
              case Seq(e) => !(e.price == ts(ep(k))._3 && same(e.sma, sma(k)) && same(e.ema, ema(k)) && same(e.rsi, rsi(k)))
              case _ => true
            }
          }.toLong
        }.sum
      }
      val open = evicted.indices.filter(evicted(_).isEmpty).take(4)
      (0 until (1 << open.size)).map { mask =>
        val choice = open.zipWithIndex.map { case (g, j) => g -> ((mask >> j & 1) == 1) }.toMap
        failures(evicted.indices.map(g => evicted(g).getOrElse(choice.getOrElse(g, true))))
      }.min
    }.sum
  }
}
