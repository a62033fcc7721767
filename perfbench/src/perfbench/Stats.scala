package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail figure over `n` samples: the sample at `percentile`, or, when
    * `slowest` > 0, the mean of the `slowest` largest samples. */
  final case class Tail(percentile: Double, value: Double, n: Int, slowest: Int = 0) {
    def label: String =
      if (slowest > 0) s"the mean of the slowest $slowest of n=$n" else f"p$percentile%.2f of n=$n"
  }

  /** The highest percentile that still has at least ten samples beyond it:
    * the 11th-largest sample, reported as percentile 100·(n−10)/n. None
    * when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[Tail] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(Tail(100.0 * (n - 10) / n, s(n - 11), n))
    }

  /** The tail a run reports: `tail` while that percentile is above p50
    * (21 samples or more). With fewer samples the rule's sample would be
    * faster than the median, so the tail is the mean of the slower half
    * (the slowest ⌊n/2⌋ samples, at least one): every slow sample counts,
    * and one slow execution moves it by a share instead of wholly. */
  def reportedTail(xs: Seq[Double]): Tail =
    tail(xs).filter(_.percentile > 50).getOrElse {
      val k = math.max(1, xs.size / 2)
      Tail(100.0, xs.sorted.takeRight(k).sum / k, xs.size, k)
    }
}
