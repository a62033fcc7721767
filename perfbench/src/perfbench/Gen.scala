package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.{DigestOutputStream, MessageDigest}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments: the same seed writes byte-identical files
  * (the SHA-256 of the bytes is returned and printed with the results),
  * and the program under test only ever sees these files. */
object Gen {

  /** Independent RNG stream `stream` of `seed` (SplitMix-style mixing). */
  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + (stream + 1) * 0xBF58476D1CE4E5B9L)

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  /** Writes `lines` to `path` and returns the SHA-256 of the bytes. */
  def writeLines(path: Path, lines: Iterator[String]): String = {
    Files.createDirectories(path.getParent)
    val md = MessageDigest.getInstance("SHA-256")
    val out = new BufferedWriter(new OutputStreamWriter(
      new DigestOutputStream(Files.newOutputStream(path), md), UTF_8), 1 << 16)
    try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
    hex(md.digest())
  }

  def combineHashes(hs: Seq[String]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(hs.mkString(",").getBytes(UTF_8)))

  private def round4(x: Double): Double = math.round(x * 1e4) / 1e4

  private def codes(r: SplittableRandom, n: Int, len: Int): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += (0 until len).map(_ => ('A' + r.nextInt(26)).toChar).mkString
    seen.toVector
  }

  // ---- indicators: Polygon minute bars ------------------------------------

  /** One generated minute-bar day; the planted-defect counts are what
    * `Validation.validateMinuteAggs` must report. */
  final case class Bars(root: Path, date: LocalDate, tickers: Vector[String],
                        lengths: Vector[Int], rows: Long, gaps: Long,
                        nonPositive: Long, highLow: Long, hash: String) {
    def skew: Double = {
      val s = lengths.sorted
      s.last.toDouble / s(s.size / 2)
    }
  }

  val BarsDate: LocalDate = LocalDate.of(2024, 3, 4)
  private val MinutesPerDay = 1440
  private val MaxGap = 6

  /** Seeded random-walk minute bars in the Polygon flat-file layout
    * `<root>/global_crypto/minute_aggs_v1/YYYY/YYYY-MM-DD.csv`.
    * Series lengths are Pareto-skewed (a few tickers trade all day, most
    * trade briefly). Planted defects, each counted by exactly one
    * validation check: one >60 s timestamp gap in ~5% of tickers, rows
    * with a zero or negative low, and rows whose high and low are swapped. */
  def bars(root: Path, seed: Long, tickers: Int, targetRows: Int,
           defectRows: Int): Bars = {
    val r = rng(seed, 1)
    val names = codes(r, tickers, 4).map(c => s"X:${c}USD").sorted
    val weights = Array.fill(tickers)(math.pow(1.0 - r.nextDouble(), -1.0 / 1.2))
    val maxLen = MinutesPerDay - MaxGap - 4
    def lensAt(scale: Double) = weights.map(w => math.max(30, math.min(maxLen, math.round(w * scale).toInt)))
    var lo = 0.0; var hi = 1e6
    (0 until 60).foreach { _ =>
      val mid = (lo + hi) / 2
      if (lensAt(mid).map(_.toLong).sum < targetRows) lo = mid else hi = mid
    }
    val lens = lensAt(lo)
    val starts = lens.map(l => r.nextInt(MinutesPerDay - l - MaxGap))
    // one planted gap in ~5% of the tickers long enough to hold it
    val gapAt = Array.tabulate(tickers) { t =>
      if (lens(t) >= 40 && r.nextInt(20) == 0) 10 + r.nextInt(lens(t) - 20) else -1
    }
    val gapLen = Array.tabulate(tickers)(_ => 2 + r.nextInt(MaxGap - 1))
    val total = lens.map(_.toLong).sum
    // defect rows: distinct global row indexes, half non-positive, half high<low
    val defects = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (defects.size < 2 * defectRows) defects += (r.nextLong() & Long.MaxValue) % total
    val (np, hl) = defects.toVector.splitAt(defectRows)
    val nonPos = np.toSet; val highLow = hl.toSet
    val dayStart = BarsDate.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val path = root.resolve(f"global_crypto/minute_aggs_v1/${BarsDate.getYear}%04d/$BarsDate.csv")
    val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val lines = Iterator("ticker,window_start,open,high,low,close,volume,vwap,transactions") ++
      Iterator.range(0, tickers).flatMap { t =>
        val rowBase = lens.take(t).map(_.toLong).sum
        var close = round4(math.exp(r.nextDouble() * math.log(1000.0)))
        Iterator.range(0, lens(t)).map { i =>
          val minute = starts(t) + i + (if (gapAt(t) >= 0 && i >= gapAt(t)) gapLen(t) else 0)
          val open = close
          close = round4(open * math.exp(0.002 * r.nextGaussian()))
          var high = round4(math.max(open, close) * (1 + 0.001 * math.abs(r.nextGaussian())))
          var low = round4(math.min(open, close) * (1 - 0.001 * math.abs(r.nextGaussian())))
          val g = rowBase + i
          if (nonPos(g)) low = if (g % 2 == 0) 0.0 else -low
          if (highLow(g)) { val h = high; high = low; low = h }
          val volume = 1L + r.nextInt(50000)
          val vwap = round4((high + low + close) / 3)
          val ts = java.time.LocalDateTime.ofEpochSecond(dayStart + 60L * minute, 0, ZoneOffset.UTC)
          s"${names(t)},${ts.format(tsFmt)},$open,$high,$low,$close,$volume,$vwap,${1 + r.nextInt(900)}"
        }
      }
    val hash = writeLines(path, lines)
    Bars(root, BarsDate, names, lens.toVector, total, gapAt.count(_ >= 0).toLong,
      defectRows.toLong, defectRows.toLong, hash)
  }

  // ---- dedup_graph: documents + trade graph --------------------------------

  /** The shape of the sf0.1 `documents` table, as measured from its
    * parquet file: 30 words, each 3.3% of the tokens; lengths uniform over
    * 10-100 words; `lang` en 41%, de/es/fr/zh 14-15% each; `source`
    * `src<doc_id mod 20>`; 5% of the documents are another document's text
    * plus the word `dup`. */
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  val MinWords = 10
  val MaxWords = 100
  val NearDupShare = 0.05
  val Sources = 20

  /** Generated corpus with ids 0 until `n`: `base` documents of the sf0.1
    * shape, of which `nearDups` repeat another one's text plus `dup`, then
    * the planted exact copies. `clusters` lists the planted exact-copy
    * clusters (original id first); `slab` bounds the ids the tf-idf pass
    * reads, and the first `slabClusters` clusters lie wholly inside it. */
  final case class Docs(path: Path, n: Int, base: Int, nearDups: Int, clusters: Vector[Vector[Long]],
                        slab: Long, slabClusters: Int, hash: String) {
    def planted: Int = clusters.map(_.size - 1).sum
  }

  def docs(path: Path, seed: Long, base: Int, clusters: Int, slab: Int,
           slabClusters: Int): Docs = {
    val r = rng(seed, 2)
    val words = Vector.fill(base)((0 until MinWords + r.nextInt(MaxWords - MinWords + 1))
      .map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" "))
    val nearPick = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (nearPick.size < math.round(NearDupShare * base)) nearPick += r.nextInt(base)
    val plain = (0 until base).filterNot(nearPick).toVector
    val nearOf = nearPick.iterator.map(i => i -> plain(r.nextInt(plain.size))).toMap
    val texts = Vector.tabulate(base)(i => nearOf.get(i).fold(words(i))(o => words(o) + " dup"))
    // cluster originals: distinct documents long enough to carry several
    // winnow fingerprints; each gets 1-4 exact copies
    val longOnes = (0 until base).filter(i => texts(i).length >= 250).toVector
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < clusters) picked += longOnes(r.nextInt(longOnes.size))
    val copies = picked.toVector.map(o => (o, 1 + r.nextInt(4)))
    val sourceIdx: Vector[Int] = (0 until base).toVector ++ copies.flatMap { case (o, m) => Vector.fill(m)(o) }
    val n = sourceIdx.size
    // ids: a seeded permutation, except that the first slabClusters clusters
    // are given ids inside the tf-idf slab [0, slab)
    def shuffled(xs: Vector[Long]): Vector[Long] = {
      val a = xs.toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toVector
    }
    val memberRows: Vector[Vector[Int]] = {
      var next = base
      copies.map { case (o, m) => val rows = o +: (next until next + m).toVector; next += m; rows }
    }
    val slabRows = memberRows.take(slabClusters).flatten
    val slabIds = shuffled((0L until slab.toLong).toVector)
    val restIds = shuffled((slabIds.drop(slabRows.size) ++ (slab.toLong until n.toLong)).toVector)
    val ids = new Array[Long](n)
    slabRows.zip(slabIds).foreach { case (row, id) => ids(row) = id }
    (0 until n).filterNot(slabRows.toSet).zip(restIds).foreach { case (row, id) => ids(row) = id }
    val others = Vector("de", "es", "fr", "zh")
    val lang = Vector.fill(n)(if (r.nextInt(100) < 41) "en" else others(r.nextInt(others.size)))
    val lines = Iterator("doc_id,text,lang,source,n_chars") ++ (0 until n).sortBy(ids(_)).iterator.map { row =>
      val text = texts(sourceIdx(row))
      s"${ids(row)},$text,${lang(row)},src${ids(row) % Sources},${text.length}"
    }
    val hash = writeLines(path, lines)
    Docs(path, n, base, nearOf.size, memberRows.map(_.map(ids(_))), slab.toLong, slabClusters, hash)
  }

  final case class Trade(orders: Path, lineitem: Path, nOrders: Int, nLines: Long, nodes: Long, hash: String)

  /** A seeded sample of TPC-H-shaped orders (15k customers) and their
    * line items (1-7 per order, 1k suppliers): the customer→supplier
    * trade graph the graph operators run on. */
  def trade(dir: Path, seed: Long, orders: Int): Trade = {
    val r = rng(seed, 3)
    val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (keys.size < orders) keys += 1L + r.nextInt(600000)
    val ks = keys.toVector.sorted
    val cust = ks.map(_ => 1L + r.nextInt(15000))
    val lines = ks.map(_ => 1 + r.nextInt(7))
    val supp = lines.map(m => Vector.fill(m)(1L + r.nextInt(1000)))
    val oPath = dir.resolve("orders.csv"); val lPath = dir.resolve("lineitem.csv")
    val h1 = writeLines(oPath, Iterator("o_orderkey,o_custkey") ++
      ks.indices.iterator.map(i => s"${ks(i)},${cust(i)}"))
    val h2 = writeLines(lPath, Iterator("l_orderkey,l_linenumber,l_suppkey") ++
      ks.indices.iterator.flatMap(i => supp(i).iterator.zipWithIndex.map { case (s, j) => s"${ks(i)},${j + 1},$s" }))
    Trade(oPath, lPath, orders, lines.map(_.toLong).sum,
      cust.distinct.size.toLong + supp.flatten.distinct.size, combineHashes(Seq(h1, h2)))
  }

  // ---- tick_stream: open-loop tick schedule --------------------------------

  /** One scheduled tick: due `dueMicros` after the stream start. */
  final case class Tick(dueMicros: Long, symbol: String, price: Double, volume: Long)

  /** The open-loop schedule: `rate` ticks per second for `seconds`, spread
    * over `symbols` in seeded round-robin order. The `silent` symbols stop
    * ticking during [silentFrom, silentFrom + silentFor) seconds, so their
    * state outlives the idle TTL and the eviction timers fire. */
  final case class Schedule(ticks: Vector[Tick], symbols: Vector[String], silent: Set[String],
                            rate: Int, silentFrom: Double, silentFor: Double, hash: String)

  def schedule(seed: Long, rate: Int, seconds: Double, symbols: Int, silent: Int,
               silentFrom: Double, silentFor: Double): Schedule = {
    val r = rng(seed, 4)
    val names = codes(r, symbols, 3).sorted
    val quietPick = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (quietPick.size < silent) quietPick += r.nextInt(symbols)
    val quiet = quietPick.toSet
    val price = Array.fill(symbols)(round4(10 + r.nextDouble() * 490))
    val n = math.round(rate * seconds).toInt
    val out = new ArrayBuffer[Tick](n)
    var round = Vector.empty[Int]
    var i = 0
    while (i < n) {
      val due = i * 1000000L / rate
      val t = due / 1e6
      val quietNow = t >= silentFrom && t < silentFrom + silentFor
      if (round.isEmpty) {
        val active = (0 until symbols).filter(s => !(quietNow && quiet(s))).toArray
        for (k <- active.indices.reverse) { val j = r.nextInt(k + 1); val x = active(k); active(k) = active(j); active(j) = x }
        round = active.toVector
      }
      val s = round.head
      round = round.tail
      if (!(quietNow && quiet(s))) {
        price(s) = round4(price(s) * math.exp(0.003 * r.nextGaussian()))
        out += Tick(due, names(s), price(s), 1L + r.nextInt(5000))
        i += 1
      }
    }
    val md = MessageDigest.getInstance("SHA-256")
    out.foreach(t => md.update(s"${t.dueMicros},${t.symbol},${t.price},${t.volume}\n".getBytes(UTF_8)))
    Schedule(out.toVector, names, quiet.map(names(_)), rate, silentFrom, silentFor, hex(md.digest()))
  }
}
