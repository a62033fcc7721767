package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.{Dedup, Graph, Rolling, Signals, TextOps, Validation}
import graft.sources.{Polygon, PolygonClient}

/** A closed-loop batch workload: one client thread runs passes of queries
  * back to back. */
trait BatchWorkload {
  /** Input rows one pass consumes (the stated input size). */
  def inputRows: Long
  /** Registers the generated inputs with the session. */
  def register(spark: SparkSession): Unit
  /** The queries of one pass, in order. */
  def pass(spark: SparkSession): Seq[Query]
  /** Whole passes the timed window runs even when it has already lasted
    * `--seconds`. */
  def minPasses: Int = 1
}

// ---- indicators ------------------------------------------------------------

/** The paper's headline path over Polygon minute bars: load, window
  * indicators, bands and oscillators, signals, validation. */
final class Indicators(bars: Gen.Bars, seed: Long) extends BatchWorkload {
  val inputRows: Long = bars.rows
  // 24 query executions, so the tail keeps the ten-samples-beyond rule when
  // a slow host makes one pass outlast the window
  override val minPasses = 2
  private var client: PolygonClient = _
  private var loaded: DataFrame = _

  /** A seeded sample of tickers checked bit-exact, always including the
    * longest series. */
  val sample: Vector[String] = {
    val r = Gen.rng(seed, 10)
    val longest = bars.tickers(bars.lengths.indexOf(bars.lengths.max))
    (longest +: Vector.fill(7)(bars.tickers(r.nextInt(bars.tickers.size)))).distinct
  }

  def register(spark: SparkSession): Unit = {
    graft.functions.FinancialFunctions.registerAll(spark)
    client = new PolygonClient(spark, Polygon.Local(bars.root.toString))
  }

  private val Over = "OVER (PARTITION BY ticker ORDER BY window_start)"
  private def sql(spark: SparkSession, exprs: String): DataFrame =
    spark.sql(s"SELECT ticker, window_start, close, $exprs FROM bars")

  /** The sampled tickers' rows of `df`, grouped by ticker in time order. */
  private def sampled(df: DataFrame): Map[String, Seq[Row]] =
    df.filter(col("ticker").isin(sample: _*)).collect().toSeq
      .groupBy(_.getAs[String]("ticker"))
      .map { case (t, rs) => t -> rs.sortBy(_.getAs[java.sql.Timestamp]("window_start").getTime) }

  private def opt(r: Row, c: String): Option[Double] =
    Option(r.getAs[Any](c)).map(_.asInstanceOf[Double])

  private var closesOfLoaded: Option[Map[String, (Seq[Long], Seq[Double])]] = None

  /** Time and close series of the sampled tickers, read once from the
    * loaded frame. */
  private def closes(): Map[String, (Seq[Long], Seq[Double])] = {
    if (closesOfLoaded.isEmpty)
      closesOfLoaded = Some(sampled(loaded.select("ticker", "window_start", "close")).map { case (t, rs) =>
        t -> (rs.map(_.getAs[java.sql.Timestamp]("window_start").getTime), rs.map(_.getAs[Double]("close")))
      })
    closesOfLoaded.get
  }

  private def perTicker(df: DataFrame)(f: (Seq[Double], Seq[Row]) => Seq[String]): Seq[String] = {
    val cl = closes()
    val got = sampled(df)
    sample.flatMap { t =>
      val rows = got.getOrElse(t, Nil)
      val c = cl(t)._2
      f(c, rows).map(p => s"$t $p")
    }
  }

  private def frame(out: Out): DataFrame = out match {
    case Frame(df) => df
    case other => sys.error(s"expected a frame, got $other")
  }

  private def window(name: String, exprs: String)(check: (Seq[Double], Seq[Row]) => Seq[String])(implicit spark: SparkSession): Query =
    Query(name, "functions", () => Frame(sql(spark, exprs)), out => perTicker(frame(out)) { (c, rows) =>
      (if (rows.map(_.getAs[Double]("close")) != c) Seq("close column differs from the input") else Nil) ++ check(c, rows)
    })

  def pass(spark0: SparkSession): Seq[Query] = {
    implicit val spark: SparkSession = spark0
    def col1(rows: Seq[Row], c: String) = rows.map(opt(_, c))
    Seq(
      Query("load", "sources", () => {
        loaded = client.loadData(Polygon.AssetClass.Crypto, Polygon.DataType.MinuteAggs, bars.date)
        closesOfLoaded = None
        client.registerTableWithIndicators("bars", loaded)
        Value("bars")
      }, _ => Nil, isQuery = false),
      Query("scan", "sources", () => Frame(loaded), out => {
        val n = frame(out).count()
        if (n == bars.rows) Nil else Seq(s"scan: $n rows, expected ${bars.rows}")
      }),
      window("sma", s"sma(close, 20) $Over AS sma")((c, r) =>
        Checks.series("sma", col1(r, "sma"), graft.functions.IndicatorMath.smaSeries(c.map(Some(_)), 20))),
      window("ema", s"ema(close, 12) $Over AS ema")((c, r) =>
        Checks.series("ema", col1(r, "ema"), graft.functions.IndicatorMath.emaSeries(c.map(Some(_)), 12))),
      window("rsi", s"rsi(close, 14) $Over AS rsi")((c, r) =>
        Checks.series("rsi", col1(r, "rsi"), graft.functions.IndicatorMath.rsiSeries(c.map(Some(_)), 14))),
      window("macd", s"macd(close) $Over AS macd")((c, r) =>
        Checks.series("macd", col1(r, "macd"), graft.functions.IndicatorMath.macdSeries(c.map(Some(_))))),
      window("combined", s"sma(close, 20) $Over AS sma, ema(close, 12) $Over AS ema, " +
          s"rsi(close, 14) $Over AS rsi, macd(close) $Over AS macd")((c, r) =>
        Checks.indicators(Checks.IndicatorRows(c, col1(r, "sma"), col1(r, "ema"), col1(r, "rsi"), col1(r, "macd")))),
      window("macd_signal_hist", s"macd_signal(close) $Over AS sig, macd_hist(close) $Over AS hist")((c, r) =>
        Checks.macdSignalHist(c, col1(r, "sig"), col1(r, "hist"))),
      Query("bollinger", "operators",
        () => Frame(Rolling.bollinger(loaded, "close", Seq("ticker"), Seq("window_start"), 20, 2.0)),
        out => perTicker(frame(out)) { (c, r) =>
          (if (r.size != c.size) Seq(s"bollinger: ${r.size} rows, expected ${c.size}") else Nil) ++
            Checks.warmup("bb_mid", 20, col1(r, "bb_mid"), _ > 0) ++
            r.indices.collectFirst { case i if opt(r(i), "bb_mid").exists(m =>
                !(opt(r(i), "bb_lower").get <= m && m <= opt(r(i), "bb_upper").get)) =>
              s"bollinger: row $i bands out of order" }.toSeq
        }),
      Query("stochastic", "operators",
        () => Frame(Rolling.stochastic(loaded, "close", Seq("ticker"), Seq("window_start"), 14)),
        out => perTicker(frame(out)) { (c, r) =>
          (if (r.size != c.size) Seq(s"stochastic: ${r.size} rows, expected ${c.size}") else Nil) ++
            Checks.warmup("pct_k", 14, col1(r, "pct_k"), k => k >= 0 && k <= 100, nullAllowedAfter = true)
        }),
      Query("rsi_signals", "operators",
        () => Frame(Signals.detectRsiSignals(loaded, "ticker", Seq("window_start"), "close", 14)),
        out => {
          val cl = closes()
          val got = frame(out).filter(col("symbol").isin(sample: _*)).collect().toSeq.groupBy(_.getAs[String]("symbol"))
          sample.flatMap { t =>
            val (ts, c) = cl(t)
            val pos = ts.zipWithIndex.toMap
            Checks.rsiSignals(c, got.getOrElse(t, Nil).map(r => Checks.Signal(
              pos(r.getAs[java.sql.Timestamp]("window_start").getTime), r.getAs[Double]("rsi"),
              r.getAs[String]("signal_type"), r.getAs[Double]("confidence")))).map(p => s"$t $p")
          }
        }),
      Query("ma_crossovers", "operators",
        () => Frame(Signals.detectMaCrossoverSignals(loaded, "ticker", Seq("window_start"), "close", 20, 50)),
        out => {
          val cl = closes()
          val got = frame(out).filter(col("symbol").isin(sample: _*)).collect().toSeq.groupBy(_.getAs[String]("symbol"))
          sample.flatMap { t =>
            val (ts, c) = cl(t)
            val pos = ts.zipWithIndex.toMap
            Checks.maCrossovers(c, got.getOrElse(t, Nil).map(r =>
              (pos(r.getAs[java.sql.Timestamp]("window_start").getTime), r.getAs[String]("signal_type"))))
              .map(p => s"$t $p")
          }
        }),
      Query("validate", "operators", () => {
        val rep = Validation.validateMinuteAggs(loaded)
        Value((rep.checks + ("total" -> rep.totalRows)).toSeq.sorted)
      }, {
        case Value(got: Seq[_]) => Checks.counts("validation",
          got.collect { case (k: String, v: Long) => k -> v }.toMap, expectedValidation)
        case other => Seq(s"validation: unexpected output $other")
      })
    )
  }

  def expectedValidation: Map[String, Long] = Map("total" -> bars.rows,
    "timestamp_gaps" -> bars.gaps, "nonpositive_prices" -> bars.nonPositive,
    "ohlc_violations" -> bars.highLow, "negative_volume" -> 0L)
}

// ---- dedup_graph -------------------------------------------------------------

/** Iterative graph operators and near-duplicate detection: eager
  * lineage-cut jobs inside the operator calls and pair self-joins. */
final class DedupGraph(docs: Gen.Docs, trade: Gen.Trade) extends BatchWorkload {
  val inputRows: Long = docs.n + trade.nOrders + trade.nLines

  def register(spark: SparkSession): Unit = {
    spark.read.option("header", "true")
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .csv(docs.path.toString).createOrReplaceTempView("documents")
    spark.read.option("header", "true").schema("o_orderkey BIGINT, o_custkey BIGINT")
      .csv(trade.orders.toString).createOrReplaceTempView("orders")
    spark.read.option("header", "true").schema("l_orderkey BIGINT, l_linenumber INT, l_suppkey BIGINT")
      .csv(trade.lineitem.toString).createOrReplaceTempView("lineitem")
  }

  /** customer → supplier+1e6 trade edges, as the graph gates build them. */
  private def tradeEdges(spark: SparkSession): DataFrame =
    spark.table("orders").select(col("o_orderkey"), col("o_custkey"))
      .join(spark.table("lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + lit(1000000L)).as("dst"))
      .distinct()

  private def rows(out: Out): Seq[Row] = out match {
    case Frame(df) => df.collect().toSeq
    case other => sys.error(s"expected a frame, got $other")
  }

  private val ids: Set[Long] = (0L until docs.n).toSet
  private def clusters = docs.clusters

  def pass(spark: SparkSession): Seq[Query] = {
    val documents = spark.table("documents")
    Seq(
      Query("hits", "operators", () => Frame(Graph.hits(tradeEdges(spark), "src", "dst", iters = 3)), out => {
        val rs = rows(out)
        Checks.scores("hits.hub", rs.map(r => (r.getLong(0), r.getDouble(1))), trade.nodes) ++
          Checks.scores("hits.auth", rs.map(r => (r.getLong(0), r.getDouble(2))), trade.nodes)
      }),
      Query("minhash_components", "operators", () => {
        val pairs = Dedup.minhashNearDups(documents, "doc_id", "text", k = 16, rowsPerBand = 4, threshold = 0.5)
        Frame(Dedup.connectedComponents(pairs))
      }, out => Checks.components(rows(out).map(r => (r.getAs[Long]("id"), r.getAs[Long]("component"))), ids, clusters)),
      Query("winnow_pairs", "operators",
        () => Frame(Dedup.winnowOverlapPairs(documents, "doc_id", "text", minLen = 30, noise = 21, minShared = 2)),
        out => Checks.pairs("winnow", rows(out).map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("overlap"))),
          Checks.plantedPairs(clusters), _ == 1.0, o => o > 0 && o <= 1)),
      Query("tfidf_pairs", "operators", () => Frame(TextOps.tfidfCosinePairs(
          documents.filter(col("doc_id") < docs.slab).select("doc_id", "text"), "doc_id", "text", threshold = 0.85)),
        out => Checks.pairs("tfidf", rows(out).map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cosine"))),
          Checks.plantedPairs(clusters.map(_.filter(_ < docs.slab))), c => math.abs(c - 1.0) <= 1e-12,
          c => c >= 0.85 && c <= 1.0 + 1e-12))
    )
  }
}
