package graft
package gates

import org.apache.spark.sql.functions.{col, expr}
import GateSql._

/** Gates over [[operators.Rolling]]: trailing-window indicators on the
  * lineitem supplier series and on the daily supplier bars. */
private[gates] object RollingGates {

  /** DuckDB Wilder-smoothing fold over a prefix list (NULLs filtered —
    * the frozen≡filtered equivalence): each element struct carries its
    * own one-element state (`a := x, c := 1`) so the seedless reduce's
    * first-element seed IS the correct fold start; transitions mirror
    * the native `Wilder` update expressions op-for-op. Returns the
    * folded struct (NULL on an empty list). */
  private def wilderFold(listExpr: String, n: Int): String = {
    val nd = s"$n.0::DOUBLE"
    s"""(CASE WHEN len(list_filter($listExpr, v -> v IS NOT NULL)) > 0 THEN
       |  list_reduce(list_transform(list_filter($listExpr, v -> v IS NOT NULL),
       |    v -> struct_pack(x := v, a := v, c := 1.0::DOUBLE)),
       |  (acc, e) -> CASE
       |    WHEN acc.c + 1.0 < $nd THEN struct_pack(x := e.x, a := acc.a + e.x, c := acc.c + 1.0)
       |    WHEN acc.c + 1.0 = $nd THEN struct_pack(x := e.x, a := (acc.a + e.x)/$nd, c := acc.c + 1.0)
       |    ELSE struct_pack(x := e.x, a := acc.a*(1.0::DOUBLE - 1.0::DOUBLE/$nd) + e.x*(1.0::DOUBLE/$nd), c := acc.c + 1.0)
       |  END) END)""".stripMargin
  }

  private def wilderEval(s: String, n: Int): String =
    s"(CASE WHEN $s IS NOT NULL AND $s.c >= $n.0::DOUBLE THEN $s.a END)"

  val all: Seq[Gate] = Seq(
    Gate("q_rolling_median", (s, d) => {
      // robust moving average: trailing-9 exact median (odd n — element-
      // exact, no interpolation), same supplier partitioning as the
      // indicator gates, NULL until the frame fills
      operators.Rolling.median(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"), n = 9)
        .select(col("l_orderkey"), col("l_linenumber"), col("roll_median"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.median: exact median over the trailing 9-row frame
      // (odd count → the middle element, interpolation never fires).
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN count(x) OVER wn = 9 THEN median(x) OVER wn END AS roll_median
         |FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |        CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |WINDOW wn AS ($W ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_bollinger", (s, d) => {
      // mean ± 2σ envelope; σ as the explicit two-means IEEE tree so the
      // oracle replays it bit-for-bit on the integer-valued quantity
      operators.Rolling.bollinger(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          n = 20, k = 2.0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("bb_mid"), col("bb_upper"), col("bb_lower"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.bollinger: the same mean ± k·sqrt(avg(x²) − mean²)
      // tree over two window means (sums exact on the integer quantity, so
      // segment-tree vs fresh-sum association cannot differ).
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN count(x) OVER wn = 20 THEN avg(x) OVER wn END AS bb_mid,
         |  CASE WHEN count(x) OVER wn = 20 THEN (avg(x) OVER wn)
         |    + 2.0::DOUBLE * sqrt((avg(x*x) OVER wn) - (avg(x) OVER wn) * (avg(x) OVER wn)) END AS bb_upper,
         |  CASE WHEN count(x) OVER wn = 20 THEN (avg(x) OVER wn)
         |    - 2.0::DOUBLE * sqrt((avg(x*x) OVER wn) - (avg(x) OVER wn) * (avg(x) OVER wn)) END AS bb_lower
         |FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |        CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |WINDOW wn AS ($W ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_obv", (s, d) => {
      // Granville volume-flow signal: quantity as the price series,
      // 2-dp extendedprice as the volume; scaled-BIGINT running sum
      operators.Rolling.obv(s.table("lineitem"), "l_quantity",
          "l_extendedprice", Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"), volScale = 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("obv"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.obv: signed scaled-BIGINT running sum (exact in any
      // engine), one final descale division.
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(sum(signed) OVER (ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) / 100.0::DOUBLE AS obv
         |FROM (
         |  SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |    CASE WHEN lag(x, 1) OVER ws IS NULL THEN 0
         |         WHEN x > lag(x, 1) OVER ws THEN vi
         |         WHEN x < lag(x, 1) OVER ws THEN -vi
         |         ELSE 0 END AS signed
         |  FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |          CAST(l_quantity AS DOUBLE) AS x,
         |          CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS vi
         |        FROM lineitem) li
         |  WINDOW ws AS ($W)
         |) s
         |WINDOW ws AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_stochastic", (s, d) => {
      // Lane momentum oscillator over the same supplier series as the
      // indicator gates; %D's explicit lag-sum keeps it engine-exact
      operators.Rolling.stochastic(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"), n = 14)
        .select(col("l_orderkey"), col("l_linenumber"), col("pct_k"), col("pct_d"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.stochastic: %K from exact window min/max, %D as the
      // same explicit (K + lag + lag)/3 tree.
      s"""SELECT l_orderkey, l_linenumber, pct_k,
         |  (pct_k + lag(pct_k, 1) OVER ws + lag(pct_k, 2) OVER ws)
         |    / 3.0::DOUBLE AS pct_d
         |FROM (
         |  SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |    CASE WHEN count(x) OVER wn = 14 AND max(x) OVER wn <> min(x) OVER wn
         |         THEN 100.0::DOUBLE * (x - min(x) OVER wn)
         |              / (max(x) OVER wn - min(x) OVER wn) END AS pct_k
         |  FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |          CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |  WINDOW wn AS ($W ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |) k
         |WINDOW ws AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_vwap", (s, d) => {
      // trailing-20 VWAP; decimal-exact sums, one IEEE division — the
      // composition that pairs price and volume the way the indicator
      // family pairs price alone
      operators.Rolling.vwap(s.table("lineitem"), "l_extendedprice",
          "l_quantity", Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"), n = 20)
        .select(col("l_orderkey"), col("l_linenumber"), col("vwap"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.vwap: scaled-integer sums (exact under any
      // accumulation order in both engines), one double division at the end.
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN count(*) OVER wn = 20 THEN
         |    CAST(sum(pi * vi) OVER wn AS DOUBLE)
         |    / (100.0::DOUBLE * CAST(sum(vi) OVER wn AS DOUBLE)) END AS vwap
         |FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |        CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS pi,
         |        CAST(round(CAST(l_quantity AS DOUBLE) * 1.0::DOUBLE) AS BIGINT) AS vi
         |      FROM lineitem) li
         |WINDOW wn AS ($W ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_awesome", (s, d) => {
      // Awesome Oscillator (5/34 midpoint SMAs) — two BIGINT sums of
      // h+l, two divisions, one subtract
      operators.Rolling.awesomeOscillator(dailyBarsW(s), "high", "low",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("ao"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Awesome-Oscillator replay: BIGINT sums of h+l over both frames,
      // the exact 2f/2s divisors, gate on the slow frame.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(high + low) AS BIGINT) AS m2
         |  FROM bars
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN count(m2) OVER w34 = 34
         |    THEN CAST(sum(m2) OVER w5 AS DOUBLE) / 10.0::DOUBLE
         |       - CAST(sum(m2) OVER w34 AS DOUBLE) / 68.0::DOUBLE END AS ao
         |FROM t
         |WINDOW w5 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |  w34 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 33 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_chandelier", (s, d) => {
      // Chandelier volatility stops (22-bar extremes ∓ 3·ATR₂₂) —
      // exact selections over the proven ATR tree
      operators.Rolling.chandelierExit(dailyBarsW(s), "high", "low",
          "close", Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"),
          col("chandelier_long"), col("chandelier_short"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Chandelier replay: the q_atr tree at n=22 under 22-bar extremes.
      s"""WITH bars AS (
         |$duckBarsSql
         |), tr AS (
         |  SELECT l_suppkey, l_shipdate, high, low,
         |    CASE WHEN lag(close, 1) OVER ws IS NULL THEN high - low
         |         ELSE greatest(high - low,
         |                       abs(high - lag(close, 1) OVER ws),
         |                       abs(low - lag(close, 1) OVER ws)) END AS tr
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  max(high) OVER wn - 3.0::DOUBLE * (CASE WHEN count(tr) OVER wn = 22
         |    THEN avg(tr) OVER wn END) AS chandelier_long,
         |  min(low) OVER wn + 3.0::DOUBLE * (CASE WHEN count(tr) OVER wn = 22
         |    THEN avg(tr) OVER wn END) AS chandelier_short
         |FROM tr
         |WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |  ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_mass_index", (s, d) => {
      // Mass Index (EMA9 range bulge, 25-bar sum) — layered native EMAs,
      // ordered frame-list fold for the double-valued sum
      operators.Rolling.massIndex(dailyBarsW(s), "high", "low",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("mass_index"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Mass-Index replay: two layered duckEma folds over the bar range,
      // the guarded ratio, then the first-element-seeded 25-term list fold
      // (0.0 + x ≡ x, the q_cmf precedent).
      s"""WITH bars AS (
         |$duckBarsSql
         |), e1 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${duckEma("list(high - low) OVER wn", 9)} AS e1
         |  FROM bars WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), e2 AS (
         |  SELECT l_suppkey, l_shipdate, e1,
         |    ${duckEma("list(e1) OVER wn", 9)} AS e2
         |  FROM e1 WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), q AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN e2 <> 0.0 THEN e1 / e2 END AS ratio
         |  FROM e2
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(ratio) OVER w25 = 25 THEN list(ratio) OVER w25 END AS rl
         |  FROM q WINDOW w25 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN rl IS NOT NULL
         |    THEN list_reduce(rl, (a, b) -> a + b) END AS mass_index
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_kst", (s, d) => {
      // Know Sure Thing (10/15/20/30 ROCs, 10/10/10/15 SMAs, 1:2:3:4) —
      // four ROC branches folded in order, one blend tree
      operators.Rolling.kst(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("kst"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // KST replay: four guarded ROC trees, four in-order frame-list fold
      // SMAs, the 1:2:3:4 left-associated blend.
      def roc(p: Int) =
        s"""CASE WHEN lag(close, $p) OVER ws IS NOT NULL
           |      AND lag(close, $p) OVER ws <> 0.0
           |  THEN 100.0::DOUBLE * (close - lag(close, $p) OVER ws)
           |       / lag(close, $p) OVER ws END""".stripMargin
      def sma(rc: String, m: Int) =
        s"""CASE WHEN count($rc) OVER w$m = $m
           |  THEN list_reduce(list($rc) OVER w$m, (a, b) -> a + b)
           |       / $m.0::DOUBLE END""".stripMargin
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${roc(10)} AS roc1, ${roc(15)} AS roc2,
         |    ${roc(20)} AS roc3, ${roc(30)} AS roc4
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), s AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${sma("roc1", 10)} AS s1, ${sma("roc2", 10)} AS s2,
         |    ${sma("roc3", 10)} AS s3, ${sma("roc4", 15)} AS s4
         |  FROM r
         |  WINDOW w10 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         |    w15 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  s1 + 2.0::DOUBLE * s2 + 3.0::DOUBLE * s3 + 4.0::DOUBLE * s4 AS kst
         |FROM s ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_coppock", (s, d) => {
      // Coppock curve (wma10 of roc14 + roc11) — position-weighted
      // frame-list fold over the ROC sum
      operators.Rolling.coppock(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("coppock"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Coppock replay: the guarded ROC-sum tree, then the hull-style
      // position-weighted 10-element fold over the frame list.
      def roc(p: Int) =
        s"""(CASE WHEN lag(close, $p) OVER ws IS NOT NULL
           |      AND lag(close, $p) OVER ws <> 0.0
           |  THEN 100.0::DOUBLE * (close - lag(close, $p) OVER ws)
           |       / lag(close, $p) OVER ws END)""".stripMargin
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate, ${roc(14)} + ${roc(11)} AS rsum
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(rsum) OVER w10 = 10 THEN list(rsum) OVER w10 END AS rl
         |  FROM r WINDOW w10 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN rl IS NOT NULL THEN
         |    list_reduce(list_transform(list_zip(rl, generate_series(1, 10)),
         |      x -> x[1] * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
         |    / 55.0::DOUBLE END AS coppock
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_market_beta", (s, d) => {
      // each supplier's 20-bar rolling beta/correlation vs the equal-
      // weight market index (per-date BIGINT sum of all closes, broadcast
      // back) — the cross-sectional risk decomposition
      operators.Rolling.marketBeta(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 20)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("mkt_corr"), col("mkt_beta"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Market-beta replay: the per-date BIGINT index sum, an inner join
      // back, then the exact q_rolling_corr regression kernel (x = index,
      // y = close, both scale 0 so the slope rescale is the 1.0 identity
      // and drops out).
      s"""WITH bars AS (
         |$duckBarsSql
         |), mkt AS (
         |  SELECT l_shipdate, sum(CAST(round(close) AS BIGINT)) AS mi
         |  FROM bars GROUP BY l_shipdate
         |), j AS (
         |  SELECT b.l_suppkey, b.l_shipdate, m.mi AS xi,
         |    CAST(round(b.close) AS BIGINT) AS yi
         |  FROM bars b JOIN mkt m ON m.l_shipdate = b.l_shipdate
         |), s AS (
         |  SELECT l_suppkey, l_shipdate,
         |    count(*) OVER wn AS cnt,
         |    CAST(20 * (sum(xi * yi) OVER wn)
         |      - (sum(xi) OVER wn) * (sum(yi) OVER wn) AS DOUBLE) AS num,
         |    CAST(20 * (sum(xi * xi) OVER wn)
         |      - (sum(xi) OVER wn) * (sum(xi) OVER wn) AS DOUBLE) AS dx,
         |    CAST(20 * (sum(yi * yi) OVER wn)
         |      - (sum(yi) OVER wn) * (sum(yi) OVER wn) AS DOUBLE) AS dy
         |  FROM j
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN cnt = 20 AND dx > 0 AND dy > 0
         |       THEN greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
         |         num / (sqrt(dx) * sqrt(dy)))) END AS mkt_corr,
         |  CASE WHEN cnt = 20 AND dx > 0
         |       THEN (num / dx) * 1.0::DOUBLE END AS mkt_beta
         |FROM s ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_psar", (s, d) => {
      // Parabolic SAR (0.02/0.02/0.2) over daily bars — the native
      // stop-and-reverse recurrence, NULL on each key's first bar
      operators.Rolling.parabolicSar(dailyBarsW(s), "high", "low",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("psar"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // PSAR replay: the full eight-scalar state machine as a WITH
      // RECURSIVE step-per-rn walk. Every compound tree (candidate SAR,
      // clamps, reversal tests, acceleration) is inlined at each use site —
      // the q_holt lateral-alias lesson — and the op order matches the
      // Catalyst update expressions node-for-node, so branches and doubles
      // are bit-identical. Base row = each key's first bar (NULL SAR, the
      // recorded extremes); the seed runs inside the first step.
      val af0 = "(20.0::DOUBLE / 1000.0::DOUBLE)"
      val step = "(20.0::DOUBLE / 1000.0::DOUBLE)"
      val mx = "(200.0::DOUBLE / 1000.0::DOUBLE)"
      val cand = "(h.sar + h.af * (h.ep - h.sar))"
      val candUp = s"least($cand, h.pl, h.p2l)"
      val candDn = s"greatest($cand, h.ph, h.p2h)"
      val revUp = s"(s.low < $candUp)"
      val revDn = s"(s.high > $candDn)"
      val accel = s"least($mx, h.af + $step)"
      val upSeed = "(s.high >= h.ph)"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, high, low,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
         |  FROM bars
         |), ps AS (
         |  SELECT l_suppkey, l_shipdate, rn,
         |    CAST(NULL AS DOUBLE) AS sar, CAST(NULL AS DOUBLE) AS ep,
         |    $af0 AS af, TRUE AS up,
         |    high AS ph, low AS pl, high AS p2h, low AS p2l
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn,
         |    CASE WHEN h.sar IS NULL
         |      THEN (CASE WHEN $upSeed THEN h.pl ELSE h.ph END)
         |      ELSE (CASE WHEN h.up
         |        THEN (CASE WHEN $revUp THEN h.ep ELSE $candUp END)
         |        ELSE (CASE WHEN $revDn THEN h.ep ELSE $candDn END) END)
         |    END AS sar,
         |    CASE WHEN h.sar IS NULL
         |      THEN (CASE WHEN $upSeed THEN s.high ELSE s.low END)
         |      ELSE (CASE WHEN h.up
         |        THEN (CASE WHEN $revUp THEN s.low
         |              WHEN s.high > h.ep THEN s.high ELSE h.ep END)
         |        ELSE (CASE WHEN $revDn THEN s.high
         |              WHEN s.low < h.ep THEN s.low ELSE h.ep END) END)
         |    END AS ep,
         |    CASE WHEN h.sar IS NULL THEN $af0
         |      ELSE (CASE WHEN h.up
         |        THEN (CASE WHEN $revUp THEN $af0
         |              WHEN s.high > h.ep THEN $accel ELSE h.af END)
         |        ELSE (CASE WHEN $revDn THEN $af0
         |              WHEN s.low < h.ep THEN $accel ELSE h.af END) END)
         |    END AS af,
         |    CASE WHEN h.sar IS NULL THEN $upSeed
         |      ELSE (CASE WHEN h.up THEN NOT $revUp ELSE $revDn END)
         |    END AS up,
         |    s.high AS ph, s.low AS pl, h.ph AS p2h, h.pl AS p2l
         |  FROM ps h JOIN seq s
         |    ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, sar AS psar
         |FROM ps ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_supertrend", (s, d) => {
      // SuperTrend (ATR₁₀ bands, ×3): the native ratchet/flip recurrence
      // over caller-built basic bands — close >= line reads as up-trend
      operators.Rolling.superTrend(dailyBarsW(s), "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 10, mult = 3)
        .select(col("l_suppkey"), col("l_shipdate"), col("supertrend"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // SuperTrend replay: ATR₁₀ and the basic bands as plain window SQL
      // (integer-valued TR → exact), then the ratchet/flip state machine as
      // a WITH RECURSIVE step-per-rn replay over the banded rows (the
      // q_holt/q_kalman precedent). Band CASEs are inlined everywhere —
      // never aliased — per the q_holt lateral-alias lesson; the warm-up
      // rows come back via a left join with NULL lines.
      val nfub = "CASE WHEN s.ub < h.fub OR h.pc > h.fub THEN s.ub ELSE h.fub END"
      val nflb = "CASE WHEN s.lb > h.flb OR h.pc < h.flb THEN s.lb ELSE h.flb END"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), tr AS (
         |  SELECT l_suppkey, l_shipdate, high, low, close,
         |    CASE WHEN lag(close, 1) OVER ws IS NULL THEN high - low
         |         ELSE greatest(high - low,
         |                       abs(high - lag(close, 1) OVER ws),
         |                       abs(low - lag(close, 1) OVER ws)) END AS tr
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), banded0 AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    (high + low) / 2.0::DOUBLE + 3.0::DOUBLE * (CASE WHEN count(tr) OVER wn = 10
         |      THEN avg(tr) OVER wn END) AS ub,
         |    (high + low) / 2.0::DOUBLE - 3.0::DOUBLE * (CASE WHEN count(tr) OVER wn = 10
         |      THEN avg(tr) OVER wn END) AS lb
         |  FROM tr
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |), banded AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, close, ub, lb,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
         |  FROM banded0 WHERE ub IS NOT NULL
         |), st AS (
         |  SELECT l_suppkey, l_shipdate, rn, ub AS fub, lb AS flb,
         |    TRUE AS up, close AS pc
         |  FROM banded WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn,
         |    $nfub AS fub,
         |    $nflb AS flb,
         |    CASE WHEN h.up THEN NOT (s.close < ($nflb))
         |         ELSE s.close > ($nfub) END AS up,
         |    s.close AS pc
         |  FROM st h JOIN banded s
         |    ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT b.l_suppkey, b.l_shipdate,
         |  CASE WHEN st.up THEN st.flb ELSE st.fub END AS supertrend
         |FROM bars b LEFT JOIN st
         |  ON st.l_suppkey = b.l_suppkey AND st.l_shipdate = b.l_shipdate
         |ORDER BY b.l_suppkey, b.l_shipdate""".stripMargin
    }),
    Gate("q_wma", (s, d) => {
      // linear weighted MA (n=10) over daily closes — the two-running-sum
      // O(1)/row formulation, BIGINT-exact
      operators.Rolling.wma(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 10)
        .select(col("l_suppkey"), col("l_shipdate"), col("wma"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // WMA replay: the same two BIGINT running sums and weight-ladder
      // identity (sum(rn·x) − (rn−n)·sum(x)), one division by the exact
      // triangular-number constant.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate, CAST(round(close) AS BIGINT) AS xi,
         |    CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS BIGINT) AS rn
         |  FROM bars
         |), s AS (
         |  SELECT l_suppkey, l_shipdate, rn, xi, rn * xi AS rnx FROM t
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN count(xi) OVER wn = 10
         |    THEN CAST(sum(rnx) OVER wn - (rn - 10) * sum(xi) OVER wn AS DOUBLE)
         |         / 55.0::DOUBLE END AS wma
         |FROM s
         |WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_hull_ma", (s, d) => {
      // Hull MA (n=16): lag-corrected smooth — exact inner WMAs, ordered
      // frame-list fold for the tiny outer pass
      operators.Rolling.hullMa(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 16)
        .select(col("l_suppkey"), col("l_shipdate"), col("hma"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Hull replay: exact inner WMAs (8/16) via the same running-sum
      // identity, then the 4-element outer weighted fold — list_zip with
      // generate_series for the position weights, seedless list_reduce sum
      // (0.0 + x ≡ x, the q_cmf precedent).
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate, CAST(round(close) AS BIGINT) AS xi,
         |    CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS BIGINT) AS rn
         |  FROM bars
         |), s AS (
         |  SELECT l_suppkey, l_shipdate, rn, xi, rn * xi AS rnx FROM t
         |), h AS (
         |  SELECT l_suppkey, l_shipdate,
         |    2.0::DOUBLE * (CASE WHEN count(xi) OVER w8 = 8
         |      THEN CAST(sum(rnx) OVER w8 - (rn - 8) * sum(xi) OVER w8 AS DOUBLE)
         |           / 36.0::DOUBLE END)
         |    - (CASE WHEN count(xi) OVER w16 = 16
         |      THEN CAST(sum(rnx) OVER w16 - (rn - 16) * sum(xi) OVER w16 AS DOUBLE)
         |           / 136.0::DOUBLE END) AS h1
         |  FROM s
         |  WINDOW w8 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
         |    w16 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(h1) OVER w4 = 4 THEN list(h1) OVER w4 END AS hl
         |  FROM h
         |  WINDOW w4 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN hl IS NOT NULL THEN
         |    list_reduce(list_transform(list_zip(hl, generate_series(1, 4)),
         |      x -> x[1] * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
         |    / 10.0::DOUBLE END AS hma
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_heikin_ashi", (s, d) => {
      // Heikin-Ashi smoothed bars — the ha_open recurrence run as the
      // native EMA (α=½) over the seeded lagged-ha_close series
      operators.Rolling.heikinAshi(dailyBarsW(s), "open", "high", "low",
          "close", Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("ha_open"),
          col("ha_high"), col("ha_low"), col("ha_close"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Heikin-Ashi replay: ha_close per row, the seeded z series, then the
      // SAME duckEma(·, 3) fold the native EMA runs (α = ½ exactly);
      // extremes via variadic greatest/least. Every op tree matches
      // Rolling.heikinAshi node-for-node.
      s"""WITH bars AS (
         |$duckBarsSql
         |), ha AS (
         |  SELECT l_suppkey, l_shipdate, open, high, low, close,
         |    (open + high + low + close) / 4.0::DOUBLE AS ha_close
         |  FROM bars
         |), z AS (
         |  SELECT l_suppkey, l_shipdate, high, low, ha_close,
         |    CASE WHEN row_number() OVER ws = 1 THEN (open + close) / 2.0::DOUBLE
         |         ELSE lag(ha_close, 1) OVER ws END AS z
         |  FROM ha WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), zz AS (
         |  SELECT l_suppkey, l_shipdate, high, low, ha_close,
         |    ${duckEma("list(z) OVER wn", 3)} AS ha_open
         |  FROM z WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate, ha_open,
         |  greatest(high, ha_open, ha_close) AS ha_high,
         |  least(low, ha_open, ha_close) AS ha_low,
         |  ha_close
         |FROM zz ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_ppo", (s, d) => {
      // percentage price oscillator (12/26) over daily closes — MACD
      // normalized by the slow EMA, both native recurrences in one pass
      operators.Rolling.ppo(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("ppo"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // PPO replay: two duckEma folds over the close prefix, one fixed
      // normalize tree (the elder_ray list pattern).
      s"""WITH bars AS (
         |$duckBarsSql
         |), e AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${duckEma("list(close) OVER wn", 12)} AS ef,
         |    ${duckEma("list(close) OVER wn", 26)} AS es
         |  FROM bars WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN es <> 0.0 THEN 100.0::DOUBLE * (ef - es) / es END AS ppo
         |FROM e ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_trix", (s, d) => {
      // TRIX (n=15): rate of change of the triple-smoothed EMA — three
      // native-recurrence layers sharing one sort
      operators.Rolling.trix(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 15)
        .select(col("l_suppkey"), col("l_shipdate"), col("trix"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // TRIX replay: three LAYERED duckEma folds — each layer's prefix
      // list is built from the previous layer's bound column, exactly the
      // Spark binding order, then the 1-bar ROC off the lag.
      s"""WITH bars AS (
         |$duckBarsSql
         |), e1 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${duckEma("list(close) OVER wn", 15)} AS e1
         |  FROM bars WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), e2 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${duckEma("list(e1) OVER wn", 15)} AS e2
         |  FROM e1 WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), e3 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${duckEma("list(e2) OVER wn", 15)} AS e3
         |  FROM e2 WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN lag(e3, 1) OVER ws IS NOT NULL AND lag(e3, 1) OVER ws <> 0.0
         |    THEN 100.0::DOUBLE * (e3 - lag(e3, 1) OVER ws) / (lag(e3, 1) OVER ws)
         |  END AS trix
         |FROM e3 WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_vortex", (s, d) => {
      // Vortex VI+/VI− over daily bars (n=14): directional movement over
      // range, scaled-BIGINT sums, one IEEE division per line
      operators.Rolling.vortex(dailyBarsW(s), "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("vi_plus"), col("vi_minus"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Vortex replay: same NULL-gated VM/TR terms (first bar of each key
      // contributes nothing), BIGINT sums over the 14-bar frame, one
      // division per line. Bars are integer-valued so round() is exact.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(low, 1) OVER ws IS NOT NULL
         |      THEN CAST(round(abs(high - lag(low, 1) OVER ws)) AS BIGINT) END AS vmp,
         |    CASE WHEN lag(high, 1) OVER ws IS NOT NULL
         |      THEN CAST(round(abs(low - lag(high, 1) OVER ws)) AS BIGINT) END AS vmm,
         |    CASE WHEN lag(close, 1) OVER ws IS NOT NULL
         |      THEN CAST(round(greatest(high, lag(close, 1) OVER ws)
         |                      - least(low, lag(close, 1) OVER ws)) AS BIGINT) END AS tr
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN count(tr) OVER wn = 14 AND sum(tr) OVER wn <> 0
         |    THEN CAST(sum(vmp) OVER wn AS DOUBLE) / CAST(sum(tr) OVER wn AS DOUBLE) END AS vi_plus,
         |  CASE WHEN count(tr) OVER wn = 14 AND sum(tr) OVER wn <> 0
         |    THEN CAST(sum(vmm) OVER wn AS DOUBLE) / CAST(sum(tr) OVER wn AS DOUBLE) END AS vi_minus
         |FROM t
         |WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_cmo", (s, d) => {
      // Chande momentum oscillator over daily closes (n=14): RSI's
      // unsmoothed cousin, exact BIGINT up/down sums
      operators.Rolling.cmo(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"), col("cmo"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // CMO replay: NULL-gated one-bar moves (greatest(NULL, 0) must NOT
      // become 0 — the Spark-side lesson baked into Rolling.cmo), BIGINT
      // up/down sums, one fixed tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close, 1) OVER ws IS NOT NULL
         |      THEN CAST(round(greatest(close - lag(close, 1) OVER ws, 0.0::DOUBLE)) AS BIGINT) END AS up,
         |    CASE WHEN lag(close, 1) OVER ws IS NOT NULL
         |      THEN CAST(round(greatest(lag(close, 1) OVER ws - close, 0.0::DOUBLE)) AS BIGINT) END AS dn
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN count(up) OVER wn = 14
         |        AND (sum(up) OVER wn + sum(dn) OVER wn) <> 0
         |    THEN 100.0::DOUBLE * CAST(sum(up) OVER wn - sum(dn) OVER wn AS DOUBLE)
         |         / CAST(sum(up) OVER wn + sum(dn) OVER wn AS DOUBLE) END AS cmo
         |FROM t
         |WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_ultimate", (s, d) => {
      // Ultimate oscillator (7/14/28 blend) over daily bars — three
      // frames, one exchange, 4:2:1 fixed blend tree
      operators.Rolling.ultimateOscillator(dailyBarsW(s), "high", "low",
          "close", Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("ultimate"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Ultimate-oscillator replay: BP/TR BIGINT sums over the 7/14/28
      // frames, three divisions into the left-associated 4:2:1 blend —
      // the same fixed IEEE tree as Rolling.ultimateOscillator.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close, 1) OVER ws IS NOT NULL
         |      THEN CAST(round(close - least(low, lag(close, 1) OVER ws)) AS BIGINT) END AS bp,
         |    CASE WHEN lag(close, 1) OVER ws IS NOT NULL
         |      THEN CAST(round(greatest(high, lag(close, 1) OVER ws)
         |                      - least(low, lag(close, 1) OVER ws)) AS BIGINT) END AS tr
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN count(tr) OVER w28 = 28 AND sum(tr) OVER w7 <> 0
         |        AND sum(tr) OVER w14 <> 0 AND sum(tr) OVER w28 <> 0
         |    THEN 100.0::DOUBLE * (
         |        4.0::DOUBLE * (CAST(sum(bp) OVER w7 AS DOUBLE) / CAST(sum(tr) OVER w7 AS DOUBLE))
         |      + 2.0::DOUBLE * (CAST(sum(bp) OVER w14 AS DOUBLE) / CAST(sum(tr) OVER w14 AS DOUBLE))
         |      + (CAST(sum(bp) OVER w28 AS DOUBLE) / CAST(sum(tr) OVER w28 AS DOUBLE))
         |      ) / 7.0::DOUBLE END AS ultimate
         |FROM t
         |WINDOW w7 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         |  w14 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         |  w28 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_dpo", (s, d) => {
      // Detrended price oscillator (n=20, displacement 11) over daily
      // closes — cycle isolation via the displaced trailing mean
      operators.Rolling.dpo(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 20)
        .select(col("l_suppkey"), col("l_shipdate"), col("dpo"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // DPO replay: exact BIGINT-summed SMA20 (one division), displaced by
      // n/2+1 = 11, subtracted from the raw close.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    CASE WHEN count(close) OVER wn = 20
         |      THEN CAST(sum(CAST(round(close) AS BIGINT)) OVER wn AS DOUBLE)
         |           / 20.0::DOUBLE END AS sma
         |  FROM bars
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  close - lag(sma, 11) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS dpo
         |FROM t
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_pivot_points", (s, d) => {
      // classic floor-trader pivot ladder from the prior daily bar —
      // five fixed IEEE trees over three lags, no frames
      operators.Rolling.pivotPoints(dailyBarsW(s), "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"),
          col("pp"), col("r1"), col("s1"), col("r2"), col("s2"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Pivot-point replay: the pivot is computed once in a subquery and
      // reused — the VALUE is identical to Spark's inlined tree, and each
      // ladder line is the same single-op IEEE expression.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    lag(high, 1) OVER ws AS ph,
         |    lag(low, 1) OVER ws AS pl,
         |    lag(close, 1) OVER ws AS pc
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), p AS (
         |  SELECT l_suppkey, l_shipdate, ph, pl,
         |    (ph + pl + pc) / 3.0::DOUBLE AS pp
         |  FROM t
         |)
         |SELECT l_suppkey, l_shipdate, pp,
         |  2.0::DOUBLE * pp - pl AS r1,
         |  2.0::DOUBLE * pp - ph AS s1,
         |  pp + (ph - pl) AS r2,
         |  pp - (ph - pl) AS s2
         |FROM p
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_atr", (s, d) => {
      // Wilder's average true range (SMA form) over the daily bars the
      // resampler produces — the bar-level volatility companion to the
      // tick-level indicator family
      val bars = dailyBarsW(s)
      operators.Rolling.atr(bars, "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"), col("atr"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.atr over the bars: TR = greatest(h−l, |h−prevC|,
      // |l−prevC|) (h−l on each partition's first bar), trailing-14 mean.
      // Integer-valued bars → the window sum is exact in any order.
      s"""WITH bars AS (
         |$duckBarsSql
         |), tr AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close, 1) OVER ws IS NULL THEN high - low
         |         ELSE greatest(high - low,
         |                       abs(high - lag(close, 1) OVER ws),
         |                       abs(low - lag(close, 1) OVER ws)) END AS tr
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN count(tr) OVER wn = 14 THEN avg(tr) OVER wn END AS atr
         |FROM tr
         |WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_elder_ray", (s, d) => {
      // Elder Ray bull/bear power over the daily bars — the native EMA
      // recurrence bound once, extremes measured against it
      operators.Rolling.elderRay(dailyBarsW(s), "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 13)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("bull_power"), col("bear_power"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.elderRay: the q_ema prefix-list fold over bar
      // closes, extremes differenced against it.
      s"""WITH bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, high, low, ${duckEma("cs", 13)} AS em
         |  FROM (SELECT l_suppkey, l_shipdate, high, low,
         |          list(close) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
         |        FROM bars) e
         |)
         |SELECT l_suppkey, l_shipdate,
         |  high - em AS bull_power, low - em AS bear_power
         |FROM m ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_force_index", (s, d) => {
      // Force Index: volume-weighted close change through the native
      // EMA; the frozen-NULL contract absorbs each key's first row
      operators.Rolling.forceIndex(dailyBarsW(s), "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 13)
        .select(col("l_suppkey"), col("l_shipdate"), col("force_index"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.forceIndex: frozen-NULL EMA ≡ fold over the
      // null-filtered prefix (the q_indicators_nulls identity); only each
      // key's first row is NULL here.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    (close - lag(close, 1) OVER ws) * volume AS raw
         |  FROM bars WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), f AS (
         |  SELECT l_suppkey, l_shipdate, raw,
         |    list_filter(list(raw) OVER wn, v -> v IS NOT NULL) AS nn
         |  FROM r WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN raw IS NOT NULL AND len(nn) > 0
         |       THEN list_reduce(nn, (acc, x) ->
         |         (2.0::DOUBLE/14.0::DOUBLE)*x
         |           + (1.0::DOUBLE - 2.0::DOUBLE/14.0::DOUBLE)*acc)
         |  END AS force_index
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_cmf", (s, d) => {
      // Chaikin Money Flow over the daily bars: signed money-flow volume
      // vs total volume on a trailing 20-bar frame — both sums are
      // in-order frame-list folds, never a windowed float sum
      operators.Rolling.cmf(dailyBarsW(s), "high", "low", "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 20)
        .select(col("l_suppkey"), col("l_shipdate"), col("cmf"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.cmf: per-bar mfm tree, then BOTH frame sums as
      // first-element-seeded list folds (≡ Spark's 0.0-seeded aggregate —
      // 0.0 + x == x), zero-volume and unfilled frames → NULL.
      s"""WITH bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, volume,
         |    (CASE WHEN high <> low
         |          THEN ((close - low) - (high - close)) / (high - low)
         |          ELSE 0.0::DOUBLE END) * volume AS mfv
         |  FROM bars
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(mfv) OVER wn = 20 THEN list(mfv) OVER wn END AS ml,
         |    CASE WHEN count(mfv) OVER wn = 20 THEN list(volume) OVER wn END AS vl
         |  FROM m
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN list_reduce(vl, (a, b) -> a + b) <> 0.0::DOUBLE
         |       THEN list_reduce(ml, (a, b) -> a + b)
         |            / list_reduce(vl, (a, b) -> a + b) END AS cmf
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_adl", (s, d) => {
      // Accumulation/Distribution line: BIGINT cumsum of 2-dp-quantized
      // money-flow volume (the obv discipline) — exact in any engine
      operators.Rolling.adl(dailyBarsW(s), "high", "low", "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("adl"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // ADL replay: the q_cmf money-flow tree quantized to a 2-dp BIGINT
      // per bar (the obv discipline), BIGINT running sum, one descale.
      s"""WITH bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(((CASE WHEN high <> low
         |          THEN ((close - low) - (high - close)) / (high - low)
         |          ELSE 0.0::DOUBLE END) * volume) * 100.0::DOUBLE) AS BIGINT) AS mfvi
         |  FROM bars
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CAST(sum(mfvi) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / 100.0::DOUBLE AS adl
         |FROM m ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_chaikin_osc", (s, d) => {
      // Chaikin oscillator: native ema(adl,3) − ema(adl,10) over the
      // exact ADL cumsum — one exchange, shared window spec
      operators.Rolling.chaikinOsc(dailyBarsW(s), "high", "low", "close",
          "volume", Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("adl"),
          col("chaikin_osc"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Chaikin-oscillator replay: the q_adl cumsum, then two sequential-
      // fold EMAs over the adl prefix list (duckEma = the native update
      // order), fast − slow.
      s"""WITH bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(((CASE WHEN high <> low
         |          THEN ((close - low) - (high - close)) / (high - low)
         |          ELSE 0.0::DOUBLE END) * volume) * 100.0::DOUBLE) AS BIGINT) AS mfvi
         |  FROM bars
         |), a AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(sum(mfvi) OVER wu AS DOUBLE) / 100.0::DOUBLE AS adl
         |  FROM m WINDOW wu AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate, adl,
         |  ${duckEma("list(adl) OVER wu", 3)}
         |    - ${duckEma("list(adl) OVER wu", 10)} AS chaikin_osc
         |FROM a WINDOW wu AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_ulcer", (s, d) => {
      // Ulcer index: RMS of 14-bar trailing-high drawdowns — window-over-
      // window with the ordered frame-list fold for the square sum
      operators.Rolling.ulcerIndex(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"), col("ulcer"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Ulcer replay: per-bar drawdown vs the trailing-14 max (exact
      // extreme + fixed IEEE tree), then the ordered square-sum fold.
      s"""WITH bars AS (
         |$duckBarsSql
         |), d AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(close) OVER wn = 14 AND max(close) OVER wn > 0.0::DOUBLE
         |      THEN 100.0::DOUBLE * (close - max(close) OVER wn)
         |           / (max(close) OVER wn) END AS dd
         |  FROM bars WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(dd) OVER wn = 14 THEN list(dd * dd) OVER wn END AS dl
         |  FROM d WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  sqrt(list_reduce(dl, (a, b) -> a + b) / 14.0::DOUBLE) AS ulcer
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_eom", (s, d) => {
      // Ease of Movement: midpoint move × range / volume, 14-bar SMA via
      // the ordered frame-list fold; zero-volume bars NULL by contract
      operators.Rolling.easeOfMovement(dailyBarsW(s), "high", "low",
          "volume", Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"), col("eom"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // EOM replay: the midpoint-move × range / volume tree with the
      // first-bar and zero-volume guards, then the ordered 14-fold SMA.
      s"""WITH bars AS (
         |$duckBarsSql
         |), e AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(high, 1) OVER ws IS NOT NULL AND volume <> 0.0::DOUBLE
         |      THEN (((high + low) - (lag(high, 1) OVER ws + lag(low, 1) OVER ws))
         |            / 2.0::DOUBLE) * (high - low) / volume END AS emv
         |  FROM bars WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(emv) OVER wn = 14 THEN list(emv) OVER wn END AS el
         |  FROM e WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  list_reduce(el, (a, b) -> a + b) / 14.0::DOUBLE AS eom
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_bop", (s, d) => {
      // Balance of Power: (close−open)/(high−low) smoothed 14 bars —
      // per-bar IEEE tree + ordered frame-list fold
      operators.Rolling.balanceOfPower(dailyBarsW(s), "open", "high",
          "low", "close", Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"), col("bop"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // BOP replay: the flat-bar-guarded per-bar ratio, ordered 14-fold SMA.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN high <> low THEN (close - open) / (high - low)
         |         ELSE 0.0::DOUBLE END AS bp
         |  FROM bars
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(bp) OVER wn = 14 THEN list(bp) OVER wn END AS bl
         |  FROM r WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  list_reduce(bl, (a, b) -> a + b) / 14.0::DOUBLE AS bop
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_kama", (s, d) => {
      // Kaufman adaptive MA: efficiency-ratio α fed to the NATIVE
      // var_ema recurrence; oracle is a WITH RECURSIVE state replay
      operators.Rolling.kama(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 10, fast = 2, slow = 30)
        .select(col("l_suppkey"), col("l_shipdate"), col("kama"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // KAMA replay: the efficiency-ratio/sc layer declaratively (ordered
      // path-length fold, α constants as the same IEEE divisions), then a
      // WITH RECURSIVE replay of the var_ema state machine — each compound
      // stays a REAL projected column through CTE layers (never a lateral
      // alias — the q_holt lesson), and the update tree copies VarEma
      // op-for-op: sc·x + (1 − sc)·state.
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), s0 AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    row_number() OVER ws AS rn,
         |    abs(close - lag(close, 1) OVER ws) AS d,
         |    abs(close - lag(close, 10) OVER ws) AS dir
         |  FROM bars WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), erl AS (
         |  SELECT l_suppkey, l_shipdate, close, rn,
         |    CASE WHEN count(d) OVER wn = 10 THEN
         |      CASE WHEN list_reduce(list(d) OVER wn, (a, b) -> a + b) <> 0.0::DOUBLE
         |           THEN dir / list_reduce(list(d) OVER wn, (a, b) -> a + b)
         |           ELSE 0.0::DOUBLE END
         |    END AS er
         |  FROM s0 WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |), scl AS (
         |  SELECT l_suppkey, l_shipdate, close, rn,
         |    (er * ((2.0::DOUBLE / 3.0::DOUBLE) - (2.0::DOUBLE / 31.0::DOUBLE))
         |     + (2.0::DOUBLE / 31.0::DOUBLE)) AS base
         |  FROM erl
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, close, rn, base * base AS sc FROM scl
         |), kam AS (
         |  SELECT l_suppkey, l_shipdate, rn, sc,
         |    CASE WHEN sc IS NOT NULL THEN close END AS st
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn, s.sc,
         |    CASE WHEN s.sc IS NULL THEN h.st
         |         WHEN h.st IS NULL THEN s.close
         |         ELSE (s.sc * s.close + (1.0::DOUBLE - s.sc) * h.st) END AS st
         |  FROM kam h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN sc IS NOT NULL THEN st END AS kama
         |FROM kam ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_volume_index", (s, d) => {
      // NVI/PVI compound-growth lines via the NATIVE runprod recurrence
      // over conditional return factors; oracle is a WITH RECURSIVE
      // dual-state product replay
      operators.Rolling.volumeIndexes(dailyBarsW(s), "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("nvi"), col("pvi"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // NVI/PVI replay: the conditional growth factors declaratively, then
      // a WITH RECURSIVE dual-state product walk — op order copies RunProd
      // (prev · factor) and the final base scaling (base · state).
      def f(cmp: String) =
        s"""CASE WHEN lag(volume, 1) OVER ws IS NOT NULL
           |      AND volume $cmp lag(volume, 1) OVER ws
           |      AND lag(close, 1) OVER ws IS NOT NULL
           |      AND lag(close, 1) OVER ws <> 0.0::DOUBLE
           |  THEN 1.0::DOUBLE + ((close - lag(close, 1) OVER ws)
           |                      / lag(close, 1) OVER ws)
           |  ELSE 1.0::DOUBLE END""".stripMargin
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn,
         |    ${f("<")} AS fn,
         |    ${f(">")} AS fp
         |  FROM bars WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), vi AS (
         |  SELECT l_suppkey, l_shipdate, rn, fn AS sn, fp AS sp
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn,
         |    (h.sn * s.fn) AS sn, (h.sp * s.fp) AS sp
         |  FROM vi h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate,
         |  1000.0::DOUBLE * sn AS nvi, 1000.0::DOUBLE * sp AS pvi
         |FROM vi ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_drawdown_episodes", (s, d) => {
      // per-supplier drawdown-episode table (gaps-and-islands on the
      // exact integer underwater flag): worst-episodes risk report rows
      operators.Rolling.drawdownEpisodes(dailyBarsW(s), "close",
          Seq("l_suppkey"), "l_shipdate")
        .orderBy(col("l_suppkey"), col("start"))
    },
      // Drawdown-episode replay: the same integer quantize / running max /
      // islands construction; trough via arg-min struct (min over (ci,
      // date) — struct compare is lexicographic in both engines).
      s"""WITH bars AS (
         |$duckBarsSql
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS ci,
         |    max(CAST(round(close * 100.0::DOUBLE) AS BIGINT)) OVER wr AS pk
         |  FROM bars WINDOW wr AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), i AS (
         |  SELECT l_suppkey, l_shipdate, ci, pk,
         |    CASE WHEN ci < pk THEN 1 ELSE 0 END AS uw,
         |    sum(CASE WHEN ci < pk THEN 0 ELSE 1 END) OVER wr AS isl
         |  FROM f WINDOW wr AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), ep AS (
         |  SELECT l_suppkey, isl,
         |    min(l_shipdate) AS start, max(l_shipdate) AS "end",
         |    min(struct_pack(ci := ci, d := l_shipdate)) AS tr,
         |    min(pk) AS peak, CAST(count(*) AS BIGINT) AS duration
         |  FROM i WHERE uw = 1 GROUP BY l_suppkey, isl
         |)
         |SELECT l_suppkey, start, "end",
         |  tr.d AS trough_at,
         |  CAST(peak AS DOUBLE) / 100.0::DOUBLE AS peak,
         |  CAST(tr.ci AS DOUBLE) / 100.0::DOUBLE AS trough,
         |  CASE WHEN peak <> 0
         |    THEN 100.0::DOUBLE * CAST(peak - tr.ci AS DOUBLE)
         |         / CAST(peak AS DOUBLE) END AS depth_pct,
         |  duration
         |FROM ep ORDER BY l_suppkey, start""".stripMargin),
    Gate("q_renko", (s, d) => {
      // Renko brick level (brick 5.0) via the native renko recurrence;
      // oracle is a WITH RECURSIVE grid-walk replay
      operators.Rolling.renkoLevel(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), brickCenti = 500)
        .select(col("l_suppkey"), col("l_shipdate"), col("renko"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Renko replay: the grid-walk recurrence op-for-op — sign·⌊|Δ|/B⌋·B
      // with B derived by the same IEEE /100 division as the expression.
      val B = "(500.0::DOUBLE / 100.0::DOUBLE)"
      val step = s"(h.lvl + ((CAST(sign(s.close - h.lvl) AS DOUBLE)" +
        s" * CAST(floor(abs(s.close - h.lvl) / $B) AS DOUBLE)) * $B))"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, close,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
         |  FROM bars
         |), rk AS (
         |  SELECT l_suppkey, l_shipdate, rn, close AS lvl
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn, $step AS lvl
         |  FROM rk h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, lvl AS renko
         |FROM rk ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_fractals", (s, d) => {
      // Williams fractal swing points: strict ±2-bar extremes — pure
      // comparisons, one window pass, NULL on plateaus and edges
      operators.Rolling.fractals(dailyBarsW(s), "high", "low",
          Seq("l_suppkey"), Seq("l_shipdate"), wings = 2)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("fractal_high"), col("fractal_low"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Fractal replay: the strict ±2 comparison ladder verbatim.
      s"""WITH bars AS (
         |$duckBarsSql
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN high > lag(high, 1) OVER ws AND high > lead(high, 1) OVER ws
         |        AND high > lag(high, 2) OVER ws AND high > lead(high, 2) OVER ws
         |    THEN high END AS fractal_high,
         |  CASE WHEN low < lag(low, 1) OVER ws AND low < lead(low, 1) OVER ws
         |        AND low < lag(low, 2) OVER ws AND low < lead(low, 2) OVER ws
         |    THEN low END AS fractal_low
         |FROM bars WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_event_study", (s, d) => {
      // event study: mean forward return 1-3 bars after down days vs the
      // all-bars baseline — exact scaled-BIGINT sums on 10-dp returns
      val rets = operators.Rolling.logReturns(dailyBars(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .withColumn("sig", col("ret_log") < 0.0)
      operators.Signals.eventStudy(rets, "ret_log", "sig",
          Seq("l_suppkey"), Seq("l_shipdate"), maxHorizon = 3)
        .orderBy(col("horizon"))
    },
      // Replays Signals.eventStudy: same leads, 10^10 scaled-BIGINT sums
      // (exact on the 10-dp returns), identical mean/lift trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close) OVER ws IS NOT NULL
         |          AND lag(close) OVER ws > 0.0::DOUBLE
         |          AND close > 0.0::DOUBLE
         |         THEN round(ln(close / lag(close) OVER ws), 10) + 0.0
         |    END AS ret_log
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), b AS (
         |  SELECT (ret_log < 0.0::DOUBLE) AS sig,
         |    CAST(round(lead(ret_log, 1) OVER ws * 1e10) AS BIGINT) AS f1,
         |    CAST(round(lead(ret_log, 2) OVER ws * 1e10) AS BIGINT) AS f2,
         |    CAST(round(lead(ret_log, 3) OVER ws * 1e10) AS BIGINT) AS f3
         |  FROM r
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), e AS (
         |  SELECT sig, h.horizon,
         |    CASE h.horizon WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END AS fwd
         |  FROM b CROSS JOIN (SELECT CAST(unnest(range(1, 4)) AS INT)
         |                     AS horizon) h
         |), f AS (SELECT * FROM e WHERE fwd IS NOT NULL),
         |g AS (
         |  SELECT horizon,
         |    CAST(count(*) FILTER (WHERE sig) AS BIGINT) AS n_signal,
         |    CAST(sum(fwd) FILTER (WHERE sig) AS BIGINT) AS ss,
         |    CAST(count(*) AS BIGINT) AS n_base,
         |    CAST(sum(fwd) AS BIGINT) AS sb
         |  FROM f GROUP BY horizon
         |)
         |SELECT horizon, n_signal,
         |  CASE WHEN n_signal > 0 THEN
         |    CAST(ss AS DOUBLE) / CAST(n_signal AS DOUBLE) / 1e10
         |  END AS mean_signal,
         |  n_base,
         |  CAST(sb AS DOUBLE) / CAST(n_base AS DOUBLE) / 1e10 AS mean_base,
         |  (CASE WHEN n_signal > 0 THEN
         |     CAST(ss AS DOUBLE) / CAST(n_signal AS DOUBLE) / 1e10 END)
         |    - CAST(sb AS DOUBLE) / CAST(n_base AS DOUBLE) / 1e10 AS lift
         |FROM g
         |ORDER BY horizon""".stripMargin),
    Gate("q_perf_summary", (s, d) => {
      // per-supplier performance summary over the full log-return
      // series (annualized by sqrt(252)): the portfolio screen
      val rets = operators.Rolling.logReturns(dailyBarsW(s), "close",
        Seq("l_suppkey"), Seq("l_shipdate"))
      operators.Rolling.perfSummary(rets, "ret_log",
          Seq("l_suppkey"), Seq("l_shipdate"),
          annualize = math.sqrt(252.0))
        .orderBy(col("l_suppkey"))
    },
      // Replays Rolling.perfSummary: date-ordered series fold, identical
      // mean/stddev/sharpe trees, NULL rails on degenerate series.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close) OVER ws IS NOT NULL
         |          AND lag(close) OVER ws > 0.0::DOUBLE
         |          AND close > 0.0::DOUBLE
         |         THEN round(ln(close / lag(close) OVER ws), 10) + 0.0
         |    END AS ret_log
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_returns,
         |    list(ret_log ORDER BY l_shipdate) AS ts
         |  FROM r WHERE ret_log IS NOT NULL GROUP BY l_suppkey
         |), t AS (
         |  SELECT l_suppkey, n_returns,
         |    list_reduce(ts, (a, b) -> a + b) AS total_ret, ts
         |  FROM g
         |), m AS (
         |  SELECT l_suppkey, n_returns, total_ret, ts,
         |    total_ret / CAST(n_returns AS DOUBLE) AS mu
         |  FROM t
         |), sdv AS (
         |  SELECT l_suppkey, n_returns, total_ret, mu,
         |    CASE WHEN n_returns >= 2 THEN
         |      sqrt(list_reduce(list_transform(ts, x -> (x - mu) * (x - mu)),
         |             (a, b) -> a + b)
         |           / (CAST(n_returns AS DOUBLE) - 1.0::DOUBLE))
         |    END AS sd
         |  FROM m
         |)
         |SELECT l_suppkey, n_returns, total_ret, mu AS mean_ret,
         |  sd * sqrt(252.0::DOUBLE) AS vol,
         |  CASE WHEN n_returns >= 2 AND sd > 0.0::DOUBLE THEN
         |    mu / sd * sqrt(252.0::DOUBLE) END AS sharpe
         |FROM sdv
         |ORDER BY l_suppkey""".stripMargin),
    Gate("q_hist_var", (s, d) => {
      // rolling historical VaR (exact 10% quantile) + discrete-tail ES
      // (mean of the 2 worst of 20 log returns)
      val rets = operators.Rolling.logReturns(dailyBarsW(s), "close",
        Seq("l_suppkey"), Seq("l_shipdate"))
      operators.Rolling.historicalVar(rets, "ret_log",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 20, alpha = 0.1)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("var_alpha"), col("es_alpha"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.historicalVar over the log-return series: exact
      // quantile_cont VaR, sorted-tail slice + fold ES (k=2), NULL until
      // the 20-return frame fills.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close) OVER ws IS NOT NULL
         |          AND lag(close) OVER ws > 0.0::DOUBLE
         |          AND close > 0.0::DOUBLE
         |         THEN round(ln(close / lag(close) OVER ws), 10) + 0.0
         |    END AS ret_log
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), v AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(ret_log) OVER wn = 20 THEN
         |      -quantile_cont(ret_log, 0.1) OVER wn END AS var_alpha,
         |    CASE WHEN count(ret_log) OVER wn = 20 THEN
         |      list_filter(list(ret_log) OVER wn, x -> x IS NOT NULL)
         |    END AS fr
         |  FROM r
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate, var_alpha,
         |  CASE WHEN fr IS NOT NULL THEN
         |    -(list_reduce(list_sort(fr)[1:2], (a, b) -> a + b) / 2.0::DOUBLE)
         |  END AS es_alpha
         |FROM v
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_realized_vol", (s, d) => {
      // log returns (source-rounded ln) → 20-bar realized volatility,
      // annualized by sqrt(252) — the risk-metric composition
      val rets = operators.Rolling.logReturns(dailyBarsW(s), "close",
        Seq("l_suppkey"), Seq("l_shipdate"))
      operators.Rolling.realizedVol(rets, "ret_log",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 20,
          annualize = math.sqrt(252.0))
        .select(col("l_suppkey"), col("l_shipdate"), col("ret_log"),
          col("rvol"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays logReturns + realizedVol: source-rounded ln returns, the
      // bounded 20-row frame list with a non-null count guard, mean +
      // squared-dev folds, sqrt×sqrt(252) — all the same IEEE trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close) OVER ws IS NOT NULL
         |          AND lag(close) OVER ws > 0.0::DOUBLE
         |          AND close > 0.0::DOUBLE
         |         THEN round(ln(close / lag(close) OVER ws), 10) + 0.0
         |    END AS ret_log
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), h AS (
         |  SELECT l_suppkey, l_shipdate, ret_log,
         |    CASE WHEN count(ret_log) OVER wn = 20 THEN
         |      list_filter(list(ret_log) OVER wn, x -> x IS NOT NULL)
         |    END AS rets
         |  FROM r
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, ret_log, rets,
         |    CASE WHEN rets IS NOT NULL THEN
         |      list_reduce(rets, (a, b) -> a + b) / 20.0::DOUBLE END AS mu
         |  FROM h
         |)
         |SELECT l_suppkey, l_shipdate, ret_log,
         |  CASE WHEN rets IS NOT NULL THEN
         |    sqrt(list_reduce(list_transform(rets, x -> (x - mu) * (x - mu)),
         |           (a, b) -> a + b) / 19.0::DOUBLE) * sqrt(252.0::DOUBLE)
         |  END AS rvol
         |FROM m
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_aroon", (s, d) => {
      // Aroon trend-age lines over daily bars (n=25) — pure extreme
      // POSITIONS, integer arithmetic, most-recent tie convention
      operators.Rolling.aroon(dailyBarsW(s), "high", "low",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 25)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("aroon_up"), col("aroon_down"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.aroon: struct-max extreme positions (ties to the
      // larger row number in both engines), integer since-arithmetic.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate, high, low,
         |    CAST(row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) AS BIGINT) AS rn
         |  FROM bars
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, rn,
         |    count(high) OVER wf AS ch, count(low) OVER wf AS cl,
         |    max(struct_pack(x := high, i := rn)) OVER wf AS mh,
         |    max(struct_pack(x := -low, i := rn)) OVER wf AS ml
         |  FROM r
         |  WINDOW wf AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN ch = 26 AND cl = 26 THEN
         |    100.0::DOUBLE * CAST(25 - (rn - mh.i) AS DOUBLE) / 25.0::DOUBLE
         |  END AS aroon_up,
         |  CASE WHEN ch = 26 AND cl = 26 THEN
         |    100.0::DOUBLE * CAST(25 - (rn - ml.i) AS DOUBLE) / 25.0::DOUBLE
         |  END AS aroon_down
         |FROM m
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_mfi", (s, d) => {
      // Money Flow Index (volume-weighted RSI, n=14 flow-bearing bars)
      // — signed flows fold in window order, flat bars carry no flow
      operators.Rolling.mfi(dailyBarsW(s), "high", "low", "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"), col("mfi"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.mfi: textbook flows (flat bar = 0, first bar NULL),
      // bounded 14-row frame with a non-null count guard, two left folds,
      // saturation rule.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate, volume,
         |    (high + low + close) / 3.0::DOUBLE AS tp
         |  FROM bars
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(tp) OVER ws IS NOT NULL THEN
         |      CASE WHEN tp > lag(tp) OVER ws THEN tp * volume
         |           WHEN tp < lag(tp) OVER ws THEN -(tp * volume)
         |           ELSE 0.0::DOUBLE END
         |    END AS flow
         |  FROM t
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), h AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(flow) OVER wn = 14 THEN
         |      list_filter(list(flow) OVER wn, x -> x IS NOT NULL)
         |    END AS flows
         |  FROM f
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |), s AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN flows IS NOT NULL THEN
         |      list_reduce(list_transform(flows,
         |        x -> CASE WHEN x > 0.0::DOUBLE THEN x ELSE 0.0::DOUBLE END),
         |        (a, b) -> a + b) END AS pos,
         |    CASE WHEN flows IS NOT NULL THEN
         |      list_reduce(list_transform(flows,
         |        x -> CASE WHEN x < 0.0::DOUBLE THEN -x ELSE 0.0::DOUBLE END),
         |        (a, b) -> a + b) END AS neg
         |  FROM h
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN neg = 0.0::DOUBLE THEN
         |    CASE WHEN pos IS NOT NULL THEN 100.0::DOUBLE END
         |  ELSE 100.0::DOUBLE - 100.0::DOUBLE / (1.0::DOUBLE + pos / neg)
         |  END AS mfi
         |FROM s
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_cci", (s, d) => {
      // Commodity Channel Index over the daily bars (n=20) — fold-exact
      // frame mean and mean absolute deviation, NULL on flat frames
      operators.Rolling.cci(dailyBarsW(s), "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 20)
        .select(col("l_suppkey"), col("l_shipdate"), col("cci"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.cci: same in-order frame list, same two left folds
      // (0-seed ≡ seedless first element), same guards.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    (high + low + close) / 3.0::DOUBLE AS tp
         |  FROM bars
         |), f AS (
         |  SELECT l_suppkey, l_shipdate, tp,
         |    CASE WHEN count(tp) OVER wn = 20 THEN list(tp) OVER wn END AS tps
         |  FROM t
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |), g AS (
         |  SELECT l_suppkey, l_shipdate, tp, tps,
         |    CASE WHEN tps IS NOT NULL THEN
         |      list_reduce(tps, (a, b) -> a + b) / 20.0::DOUBLE END AS smatp
         |  FROM f
         |), h AS (
         |  SELECT l_suppkey, l_shipdate, tp, smatp,
         |    CASE WHEN tps IS NOT NULL THEN
         |      list_reduce(list_transform(tps, x -> abs(x - smatp)),
         |        (a, b) -> a + b) / 20.0::DOUBLE END AS md
         |  FROM g
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN md <> 0.0::DOUBLE THEN
         |    (tp - smatp) / (0.015::DOUBLE * md) END AS cci
         |FROM h
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_ichimoku", (s, d) => {
      // Ichimoku base lines over the daily bars (9/26/52) — exact window
      // extremes + IEEE halvings + shifts; no recurrence anywhere
      operators.Rolling.ichimoku(dailyBarsW(s), "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("tenkan"),
          col("kijun"), col("senkou_a"), col("senkou_b"), col("chikou"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.ichimoku: identical frames, count guards, halvings,
      // and shift directions.
      s"""WITH bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    CASE WHEN count(high) OVER w9 = 9 AND count(low) OVER w9 = 9
         |         THEN (max(high) OVER w9 + min(low) OVER w9) / 2.0::DOUBLE
         |    END AS tenkan,
         |    CASE WHEN count(high) OVER w26 = 26 AND count(low) OVER w26 = 26
         |         THEN (max(high) OVER w26 + min(low) OVER w26) / 2.0::DOUBLE
         |    END AS kijun,
         |    CASE WHEN count(high) OVER w52 = 52 AND count(low) OVER w52 = 52
         |         THEN (max(high) OVER w52 + min(low) OVER w52) / 2.0::DOUBLE
         |    END AS sb0
         |  FROM bars
         |  WINDOW
         |    w9 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         |    w26 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         |    w52 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate, tenkan, kijun,
         |  lag((tenkan + kijun) / 2.0::DOUBLE, 26) OVER ws AS senkou_a,
         |  lag(sb0, 26) OVER ws AS senkou_b,
         |  lead(close, 26) OVER ws AS chikou
         |FROM m
         |WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_adx", (s, d) => {
      // Wilder's Average Directional Index over the daily bars — three
      // native wilder() smoothings (TR, ±DM) + DX + a fourth smoothing,
      // all sharing one (supplier, date) window spec
      val bars = dailyBarsW(s)
      operators.Rolling.adx(bars, "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 14)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("di_plus"), col("di_minus"), col("adx"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.adx: NULL-first-bar TR/±DM, three Wilder folds over
      // prefix lists, DX from the same expression order, a fourth fold —
      // the wilderFold helper mirrors the native update ops exactly.
      s"""WITH bars AS (
         |$duckBarsSql
         |), t1 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close) OVER ws IS NULL THEN NULL
         |         ELSE greatest(high - low, abs(high - lag(close) OVER ws),
         |                       abs(low - lag(close) OVER ws)) END AS tr,
         |    CASE WHEN lag(high) OVER ws IS NULL THEN NULL
         |         ELSE (CASE WHEN (high - lag(high) OVER ws) > (lag(low) OVER ws - low)
         |                     AND (high - lag(high) OVER ws) > 0.0::DOUBLE
         |               THEN high - lag(high) OVER ws ELSE 0.0::DOUBLE END) END AS pdm,
         |    CASE WHEN lag(low) OVER ws IS NULL THEN NULL
         |         ELSE (CASE WHEN (lag(low) OVER ws - low) > (high - lag(high) OVER ws)
         |                     AND (lag(low) OVER ws - low) > 0.0::DOUBLE
         |               THEN lag(low) OVER ws - low ELSE 0.0::DOUBLE END) END AS mdm
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), t2 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    list(tr) OVER wp AS trl, list(pdm) OVER wp AS pdl,
         |    list(mdm) OVER wp AS mdl
         |  FROM t1
         |  WINDOW wp AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), t3 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    ${wilderEval(wilderFold("trl", 14), 14)} AS str,
         |    ${wilderEval(wilderFold("pdl", 14), 14)} AS spd,
         |    ${wilderEval(wilderFold("mdl", 14), 14)} AS smd
         |  FROM t2
         |), t4 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    100.0::DOUBLE * spd / str AS di_plus,
         |    100.0::DOUBLE * smd / str AS di_minus,
         |    CASE WHEN str IS NOT NULL THEN
         |      CASE WHEN (100.0::DOUBLE * spd / str) + (100.0::DOUBLE * smd / str) = 0.0::DOUBLE
         |           THEN 0.0::DOUBLE
         |           ELSE 100.0::DOUBLE * abs((100.0::DOUBLE * spd / str) - (100.0::DOUBLE * smd / str))
         |                / ((100.0::DOUBLE * spd / str) + (100.0::DOUBLE * smd / str)) END
         |    END AS dx
         |  FROM t3
         |), t5 AS (
         |  SELECT l_suppkey, l_shipdate, di_plus, di_minus,
         |    list(dx) OVER wp AS dxl
         |  FROM t4
         |  WINDOW wp AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate, di_plus, di_minus,
         |  ${wilderEval(wilderFold("dxl", 14), 14)} AS adx
         |FROM t5
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_roc", (s, d) => {
      // 12-back rate of change (momentum) over the supplier series
      operators.Rolling.roc(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          n = 12)
        .select(col("l_orderkey"), col("l_linenumber"), col("roc"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.roc: one fixed IEEE division against the 12-back value.
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN lag(x, 12) OVER ws IS NOT NULL AND lag(x, 12) OVER ws <> 0
         |       THEN 100.0::DOUBLE * (x - lag(x, 12) OVER ws) / (lag(x, 12) OVER ws)
         |  END AS roc
         |FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |        CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |WINDOW ws AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_donchian", (s, d) => {
      // trailing-20 Donchian breakout channel
      operators.Rolling.donchian(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          n = 20)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("dc_upper"), col("dc_lower"), col("dc_mid"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.donchian: exact window min/max + one IEEE halving.
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN count(x) OVER wn = 20 THEN max(x) OVER wn END AS dc_upper,
         |  CASE WHEN count(x) OVER wn = 20 THEN min(x) OVER wn END AS dc_lower,
         |  CASE WHEN count(x) OVER wn = 20
         |       THEN (max(x) OVER wn + min(x) OVER wn) / 2.0::DOUBLE END AS dc_mid
         |FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |        CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |WINDOW wn AS ($W ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_williams_r", (s, d) => {
      // Williams %R over the same frame the stochastic gate uses — the
      // mirrored oscillator, scaled to [-100, 0]
      operators.Rolling.williamsR(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          n = 14)
        .select(col("l_orderkey"), col("l_linenumber"), col("will_r"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.williamsR: the stochastic mirror, −100·(hi−x)/(hi−lo).
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN count(x) OVER wn = 14 AND max(x) OVER wn <> min(x) OVER wn
         |       THEN -100.0::DOUBLE * (max(x) OVER wn - x)
         |            / (max(x) OVER wn - min(x) OVER wn) END AS will_r
         |FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |        CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |WINDOW wn AS ($W ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_drawdown", (s, d) => {
      // running peak + peak-to-trough drawdown per supplier series
      operators.Rolling.drawdown(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("peak"), col("drawdown"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.drawdown: running max + one IEEE division.
      s"""SELECT l_orderkey, l_linenumber, peak,
         |  CASE WHEN peak <> 0 THEN (x - peak) / peak END AS drawdown
         |FROM (
         |  SELECT l_orderkey, l_linenumber, x,
         |    max(x) OVER (ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |  FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |          CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |  WINDOW ws AS ($W)
         |) s
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_rolling_corr", (s, d) => {
      // trailing-20 Pearson corr + OLS beta between quantity and price —
      // all five window sums are exact scaled BIGINTs, one IEEE tree
      operators.Rolling.corrBeta(s.table("lineitem"), "l_quantity",
          "l_extendedprice", Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"), n = 20,
          xScale = 0, yScale = 2)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("roll_corr"), col("roll_beta"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.corrBeta: five exact scaled-BIGINT window sums, the
      // closed forms as the identical IEEE tree (separate square roots).
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN cnt = 20 AND dx > 0 AND dy > 0
         |       THEN greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
         |         num / (sqrt(dx) * sqrt(dy)))) END AS roll_corr,
         |  CASE WHEN cnt = 20 AND dx > 0
         |       THEN (num / dx) * 0.01::DOUBLE END AS roll_beta
         |FROM (
         |  SELECT l_orderkey, l_linenumber,
         |    count(*) OVER wn AS cnt,
         |    CAST(20 * (sum(xi * yi) OVER wn)
         |      - (sum(xi) OVER wn) * (sum(yi) OVER wn) AS DOUBLE) AS num,
         |    CAST(20 * (sum(xi * xi) OVER wn)
         |      - (sum(xi) OVER wn) * (sum(xi) OVER wn) AS DOUBLE) AS dx,
         |    CAST(20 * (sum(yi * yi) OVER wn)
         |      - (sum(yi) OVER wn) * (sum(yi) OVER wn) AS DOUBLE) AS dy
         |  FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |          CAST(round(CAST(l_quantity AS DOUBLE) * 1.0::DOUBLE) AS BIGINT) AS xi,
         |          CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS yi
         |        FROM lineitem) li
         |  WINDOW wn AS ($W ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |) s
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_dd_duration", (s, d) => {
      // time under water per supplier price series — integer rows since
      // the running high-water mark, the recovery companion to q_drawdown
      operators.Rolling.drawdownDuration(s.table("lineitem"),
          "l_extendedprice", Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("dd_duration"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.drawdownDuration: the same staged integer windows
      // (row number, running max, last peak-row) — no floats anywhere.
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(rn - max(CASE WHEN is_peak THEN rn END)
         |    OVER ($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS dd_duration
         |FROM (
         |  SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |    CAST(row_number() OVER ($W) AS BIGINT) AS rn,
         |    CAST(l_extendedprice AS DOUBLE)
         |      >= max(CAST(l_extendedprice AS DOUBLE))
         |         OVER ($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS is_peak
         |  FROM lineitem
         |)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_autocorr", (s, d) => {
      // trailing-20 lag-4 autocorrelation of quantity per supplier — the
      // rolling mean-reversion diagnostic; the lagged twin shares the
      // keyed sort, then the exact corrBeta sum machinery runs the frame
      operators.Rolling.autocorr(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"), Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          n = 20, lagK = 4, scale = 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("roll_autocorr"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.autocorr: lag the SCALED ints (lag-then-quantize ==
      // quantize-then-lag), then the identical five-sum corrBeta tree; the
      // pair count (yi defined) gates the frame, so the leading k rows of
      // each key never emit.
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN cnt = 20 AND dx > 0 AND dy > 0
         |       THEN greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
         |         num / (sqrt(dx) * sqrt(dy)))) END AS roll_autocorr
         |FROM (
         |  SELECT l_orderkey, l_linenumber,
         |    count(CASE WHEN yi IS NOT NULL THEN 1 END) OVER wn AS cnt,
         |    CAST(20 * (sum(xi * yi) OVER wn)
         |      - (sum(xi) OVER wn) * (sum(yi) OVER wn) AS DOUBLE) AS num,
         |    CAST(20 * (sum(xi * xi) OVER wn)
         |      - (sum(xi) OVER wn) * (sum(xi) OVER wn) AS DOUBLE) AS dx,
         |    CAST(20 * (sum(yi * yi) OVER wn)
         |      - (sum(yi) OVER wn) * (sum(yi) OVER wn) AS DOUBLE) AS dy
         |  FROM (
         |    SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |      xi, lag(xi, 4) OVER ($W) AS yi
         |    FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |            CAST(round(CAST(l_quantity AS DOUBLE) * 1.0::DOUBLE) AS BIGINT) AS xi
         |          FROM lineitem) b
         |  ) li
         |  WINDOW wn AS ($W ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |) s
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_ffill", (s, d) => {
      // forward fill over the planted-null series the §7.1 null gate uses
      val withNulls = s.table("lineitem")
        .withColumn("xn", expr("nullif(CAST(l_quantity AS DOUBLE), 17.0D)"))
      operators.Rolling.ffill(withNulls, "xn", Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("xn"), col("xn_filled"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Rolling.ffill: last non-NULL over the running frame.
      s"""SELECT l_orderkey, l_linenumber, nullif(x, 17.0::DOUBLE) AS xn,
         |  last_value(nullif(x, 17.0::DOUBLE) IGNORE NULLS)
         |    OVER (ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xn_filled
         |FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |        CAST(l_quantity AS DOUBLE) AS x FROM lineitem) li
         |WINDOW ws AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_keltner", (s, d) => {
      // Keltner channel over the daily bars: native EMA mid, ATR bands —
      // the composition pairing the recurrence indicator with the bar ops
      val bars = dailyBarsW(s)
      operators.Rolling.keltner(bars, "high", "low", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), emaN = 20, atrN = 14, k = 2.0)
        .select(col("l_suppkey"), col("l_shipdate"),
          col("kc_mid"), col("kc_upper"), col("kc_lower"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.keltner: the q_ema fold over bar closes (same
      // recurrence the native Ema runs), the q_atr TR chain, one band tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), tr AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close, 1) OVER ws IS NULL THEN high - low
         |         ELSE greatest(high - low,
         |                       abs(high - lag(close, 1) OVER ws),
         |                       abs(low - lag(close, 1) OVER ws)) END AS tr
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), a AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN count(tr) OVER wn = 14 THEN avg(tr) OVER wn END AS atr
         |  FROM tr
         |  WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, ${duckEma("cs", 20)} AS kc_mid
         |  FROM (SELECT l_suppkey, l_shipdate,
         |          list(close) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
         |        FROM bars) e
         |)
         |SELECT m.l_suppkey, m.l_shipdate, kc_mid,
         |  kc_mid + 2.0::DOUBLE * atr AS kc_upper,
         |  kc_mid - 2.0::DOUBLE * atr AS kc_lower
         |FROM m JOIN a ON m.l_suppkey = a.l_suppkey
         |  AND m.l_shipdate = a.l_shipdate
         |ORDER BY m.l_suppkey, m.l_shipdate""".stripMargin),
    Gate("q_cross_corr", (s, d) => {
      // per-supplier volume→close cross-correlation at lags −2..2 — the
      // lead–lag screen; all shifts on one keyed sort, one explode, one
      // map-side-combinable (key, lag) aggregate with the corrBeta trees
      operators.Rolling.crossCorr(dailyBarsW(s), "volume", "close",
          Seq("l_suppkey"), Seq("l_shipdate"), Seq(-2, -1, 0, 1, 2),
          xScale = 2, yScale = 2)
        .orderBy(col("l_suppkey"), col("lag"))
    },
      // Replays Rolling.crossCorr: each lag's shift on the same keyed sort
      // (one branch per lag, unioned), complete-pair five sums, the
      // corrBeta clamp tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(volume * 100.0::DOUBLE) AS BIGINT) AS x,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS y
         |  FROM bars),
         |p AS (
         |  SELECT l_suppkey, -2 AS lag,
         |    lead(x, 2) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS xs,
         |    y FROM s
         |  UNION ALL
         |  SELECT l_suppkey, -1,
         |    lead(x, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate), y FROM s
         |  UNION ALL
         |  SELECT l_suppkey, 0, x, y FROM s
         |  UNION ALL
         |  SELECT l_suppkey, 1,
         |    lag(x, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate), y FROM s
         |  UNION ALL
         |  SELECT l_suppkey, 2,
         |    lag(x, 2) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate), y FROM s),
         |g AS (
         |  SELECT l_suppkey, lag,
         |    CAST(count(CASE WHEN xs IS NOT NULL AND y IS NOT NULL THEN 1 END)
         |      AS BIGINT) AS n_pairs,
         |    CAST(sum(xs) FILTER (WHERE xs IS NOT NULL AND y IS NOT NULL)
         |      AS BIGINT) AS sx,
         |    CAST(sum(y) FILTER (WHERE xs IS NOT NULL AND y IS NOT NULL)
         |      AS BIGINT) AS sy,
         |    CAST(sum(xs * xs) FILTER (WHERE xs IS NOT NULL AND y IS NOT NULL)
         |      AS BIGINT) AS sxx,
         |    CAST(sum(y * y) FILTER (WHERE xs IS NOT NULL AND y IS NOT NULL)
         |      AS BIGINT) AS syy,
         |    CAST(sum(xs * y) FILTER (WHERE xs IS NOT NULL AND y IS NOT NULL)
         |      AS BIGINT) AS sxy
         |  FROM p GROUP BY l_suppkey, lag),
         |h AS (
         |  SELECT l_suppkey, lag, n_pairs,
         |    CAST(CAST(n_pairs AS HUGEINT) * sxy
         |      - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS num,
         |    CAST(CAST(n_pairs AS HUGEINT) * sxx
         |      - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS dx,
         |    CAST(CAST(n_pairs AS HUGEINT) * syy
         |      - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS dy
         |  FROM g)
         |SELECT l_suppkey, lag, n_pairs,
         |  CASE WHEN n_pairs >= 2 AND dx > 0.0::DOUBLE AND dy > 0.0::DOUBLE
         |  THEN greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
         |    num / (sqrt(dx) * sqrt(dy))))
         |  END AS xcorr
         |FROM h ORDER BY l_suppkey, lag""".stripMargin),
    Gate("q_croston", (s, d) => {
      // per-supplier Croston forecast over the sparse demand days (bars
      // exist only on traded days — genuinely intermittent): two native
      // var_ema recurrences on one keyed sort
      operators.Rolling.croston(dailyBarsW(s), "volume", "l_shipdate",
          Seq("l_suppkey"), Seq("l_shipdate"), alphaPm = 100)
        .select(col("l_suppkey"), col("l_shipdate"), col("croston_z"),
          col("croston_p"), col("croston"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays Rolling.croston as a WITH RECURSIVE (z, p) replay: the two
      // var_ema recurrences with their seeds (z = first size, p = first
      // day gap at rn 2), inlined trees matching the Catalyst update
      // order, day gaps as exact integer date differences.
      val A = "(100.0::DOUBLE/1000.0::DOUBLE)"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, volume,
         |    CAST(date_diff('day', lag(l_shipdate, 1) OVER
         |      (PARTITION BY l_suppkey ORDER BY l_shipdate), l_shipdate)
         |      AS DOUBLE) AS q,
         |    row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) AS rn
         |  FROM bars
         |), cr AS (
         |  SELECT l_suppkey, l_shipdate, rn,
         |    volume AS z, CAST(NULL AS DOUBLE) AS p
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn,
         |    ($A * s.volume + (1.0::DOUBLE - $A) * h.z) AS z,
         |    CASE WHEN h.p IS NULL THEN s.q
         |         ELSE ($A * s.q + (1.0::DOUBLE - $A) * h.p) END AS p
         |  FROM cr h JOIN seq s
         |    ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, z AS croston_z, p AS croston_p,
         |  z / (CASE WHEN p > 0.0::DOUBLE THEN p END) AS croston
         |FROM cr ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_rolling_sharpe", (s, d) => {
      // 21-day rolling Sharpe of the per-supplier log returns,
      // annualized by sqrt(252) — the regime monitor beside the
      // whole-series q_perf_summary; exact integer frame sums
      val rets = operators.Rolling.logReturns(dailyBarsW(s), "close",
        Seq("l_suppkey"), Seq("l_shipdate"))
      operators.Rolling.rollingSharpe(rets, "ret_log",
          Seq("l_suppkey"), Seq("l_shipdate"), n = 21,
          annualize = math.sqrt(252.0))
        .select(col("l_suppkey"), col("l_shipdate"), col("roll_sharpe"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Rolling.rollingSharpe: the q_risk_ratios 10-dp log-return
      // quantization, exact 21-row frame sums (squares via HUGEINT), the
      // same mean/σ ratio tree with sqrt(252) baked as a strtod literal.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close) OVER ws IS NOT NULL
         |          AND lag(close) OVER ws > 0.0::DOUBLE
         |          AND close > 0.0::DOUBLE
         |         THEN round(ln(close / lag(close) OVER ws), 10) + 0.0
         |    END AS ret_log
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), b AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(ret_log * 10000000000.0::DOUBLE) AS BIGINT) AS ri
         |  FROM r
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    count(ri) OVER wf AS cnt,
         |    CAST(sum(ri) OVER wf AS DOUBLE) AS s1,
         |    -- squares sum passes 2^53: strtod bridge (NOTES round-8)
         |    CAST(CAST(sum(CAST(ri AS HUGEINT) * ri) OVER wf AS VARCHAR)
         |      AS DOUBLE) AS s2
         |  FROM b
         |  WINDOW wf AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN cnt = 21
         |        AND (s2 / 21.0::DOUBLE - (s1 / 21.0::DOUBLE) * (s1 / 21.0::DOUBLE)) > 0.0::DOUBLE
         |  THEN (s1 / 21.0::DOUBLE) /
         |    sqrt(s2 / 21.0::DOUBLE - (s1 / 21.0::DOUBLE) * (s1 / 21.0::DOUBLE))
         |    * CAST('${math.sqrt(252.0).toString}' AS DOUBLE)
         |  END AS roll_sharpe
         |FROM f ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_ewma_chart", (s, d) => {
      // per-supplier EWMA control chart on the close — the mean-seeded
      // SPC monitor with exact time-varying limits; two native
      // recurrences (var_ema + runprod) on one keyed sort
      operators.Rolling.ewmaChart(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), lambdaPm = 200, l = 3.0, scale = 2)
        .select(col("l_suppkey"), col("l_shipdate"), col("ewma"),
          col("ewma_ucl"), col("ewma_lcl"), col("ewma_ooc"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays Rolling.ewmaChart: exact per-key integer stats (mu0,
      // population sigma), the var_ema and runprod recurrences as one
      // WITH RECURSIVE walk, then the identical z / limit trees.
      val A = "(200.0::DOUBLE / 1000.0::DOUBLE)"
      val OM = s"(1.0::DOUBLE - $A)"
      val R = s"($A / (2.0::DOUBLE - $A))"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS DOUBLE)
         |      AS x,
         |    row_number() OVER ws AS rn,
         |    first_value(CAST(CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |      AS DOUBLE)) OVER ws AS x1
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), st AS MATERIALIZED (
         |  SELECT l_suppkey,
         |    CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
         |    sqrt(CAST(CAST(count(*) AS HUGEINT) * sum(CAST(xq AS HUGEINT) * xq)
         |        - CAST(sum(xq) AS HUGEINT) * CAST(sum(xq) AS HUGEINT)
         |        AS DOUBLE))
         |      / CAST(count(*) AS DOUBLE) AS sig
         |  FROM (SELECT l_suppkey,
         |      CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS xq
         |    FROM bars) q GROUP BY l_suppkey
         |), rec AS (
         |  SELECT l_suppkey, l_shipdate, rn, x1, x AS y, $OM AS p
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn, s.x1,
         |    ($A * s.x + (1.0::DOUBLE - $A) * h.y) AS y,
         |    (h.p * $OM) AS p
         |  FROM rec h JOIN seq s
         |    ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |), fin AS (
         |  SELECT r.l_suppkey, r.l_shipdate,
         |    r.y + r.p * (st.mu - r.x1) AS z, st.mu,
         |    (3.0::DOUBLE * st.sig) * sqrt($R * (1.0::DOUBLE - r.p * r.p))
         |      AS hw
         |  FROM rec r JOIN st ON r.l_suppkey = st.l_suppkey)
         |SELECT l_suppkey, l_shipdate,
         |  z / 100.0::DOUBLE AS ewma,
         |  (mu + hw) / 100.0::DOUBLE AS ewma_ucl,
         |  (mu - hw) / 100.0::DOUBLE AS ewma_lcl,
         |  abs(z - mu) > hw AS ewma_ooc
         |FROM fin ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_hurst", (s, d) => {
      // per-supplier Hurst exponent of the close series over the
      // 8/16/32/64 block ladder — integer R/S blocks, quantized block
      // terms, baked-abscissa regression
      operators.Rolling.hurst(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), blockSizes = Seq(8, 16, 32, 64), scale = 2)
        .orderBy(col("l_suppkey"))
    }, {
      // Replays Rolling.hurst: integer R/S blocks on the 8/16/32/64
      // ladder, 10-dp quantized block terms, the 4-point regression with
      // the IDENTICAL baked ln(b) abscissas (strtod literals).
      val sizes = Seq(8, 16, 32, 64)
      val us = sizes.map(b => math.log(b.toDouble))
      val su = us.reduceLeft(_ + _)
      val suu = us.map(u => u * u).reduceLeft(_ + _)
      val denomLit = 4.0 * suu - su * su
      def dl(x: Double) = s"CAST('${x.toString}' AS DOUBLE)"
      val suv = sizes.zip(us)
        .map { case (b, u) => s"${dl(u)} * round(ln(rs_$b), 10)" }
        .mkString(" + ")
      val sv = sizes.map(b => s"round(ln(rs_$b), 10)").mkString(" + ")
      val okCond = sizes
        .map(b => s"rs_$b IS NOT NULL AND rs_$b > 0.0::DOUBLE")
        .mkString(" AND ")
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |    row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) - 1 AS t
         |  FROM bars),
         |terms AS (
         |  SELECT s.l_suppkey, bs.b, s.t // bs.b AS blk,
         |    s.t % bs.b + 1 AS i, s.x
         |  FROM s CROSS JOIN (VALUES (8), (16), (32), (64)) bs(b)),
         |cum AS (
         |  SELECT l_suppkey, b, blk, x,
         |    CAST(b AS HUGEINT) * sum(x) OVER (PARTITION BY l_suppkey, b, blk
         |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - CAST(i AS HUGEINT) * sum(x) OVER (PARTITION BY l_suppkey, b, blk)
         |      AS d
         |  FROM terms),
         |blocks AS (
         |  SELECT l_suppkey, b, blk, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(x) AS HUGEINT) AS sb,
         |    CAST(sum(x * x) AS HUGEINT) AS s2,
         |    max(d) AS maxd, min(d) AS mind
         |  FROM cum GROUP BY l_suppkey, b, blk),
         |rs AS (
         |  SELECT l_suppkey, b,
         |    CAST(round(CAST(maxd - mind AS DOUBLE) /
         |      sqrt(CAST(CAST(b AS HUGEINT) * s2 - sb * sb AS DOUBLE))
         |      * 10000000000.0::DOUBLE) AS BIGINT) AS q
         |  FROM blocks
         |  WHERE cnt = b
         |    AND CAST(CAST(b AS HUGEINT) * s2 - sb * sb AS DOUBLE) > 0.0::DOUBLE),
         |persize AS (
         |  SELECT l_suppkey, b,
         |    CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |      / 10000000000.0::DOUBLE AS rsv
         |  FROM rs GROUP BY l_suppkey, b),
         |wide AS (
         |  SELECT l_suppkey,
         |${sizes.map(b =>
             s"    max(CASE WHEN b = $b THEN rsv END) AS rs_$b")
             .mkString(",\n")}
         |  FROM persize GROUP BY l_suppkey),
         |ns AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
         |  FROM s GROUP BY l_suppkey)
         |SELECT ns.l_suppkey, ns.n,
         |${sizes.map(b => s"  wide.rs_$b,").mkString("\n")}
         |  CASE WHEN $okCond THEN
         |    (4.0::DOUBLE * ($suv) - ${dl(su)} * ($sv)) / ${dl(denomLit)}
         |  END AS hurst
         |FROM ns LEFT JOIN wide ON ns.l_suppkey = wide.l_suppkey
         |ORDER BY ns.l_suppkey""".stripMargin
    }),
    Gate("q_harmonic", (s, d) => {
      // per-supplier periodogram power at periods 5/7/21 with baked
      // 12-dp integer twiddle factors — exact decimal quadrature sums,
      // mean removal multiplied through by n
      operators.Rolling.harmonicPower(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), Seq(5, 7, 21), scale = 2)
        .orderBy(col("l_suppkey"), col("period"))
    },
      // Replays Rolling.harmonicPower: the IDENTICAL baked 12-dp integer
      // twiddle factors as a VALUES table joined on (period, t mod p),
      // HUGEINT quadrature sums, the same centered power tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), tw(period, phase, ci, si) AS (VALUES
         |${operators.Rolling.harmonicTwiddles(Seq(5, 7, 21))
           .map(t => s"  (${t._1}, ${t._2}, ${t._3}::HUGEINT, ${t._4}::HUGEINT)")
           .mkString(",\n")}),
         |s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |    row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) - 1 AS t
         |  FROM bars),
         |terms AS (
         |  SELECT s.l_suppkey, tw.period, s.x, tw.ci, tw.si
         |  FROM s JOIN tw ON (s.t % tw.period) = tw.phase),
         |g AS (
         |  SELECT l_suppkey, period, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx,
         |    sum(CAST(x AS HUGEINT) * ci) AS sc,
         |    sum(CAST(x AS HUGEINT) * si) AS ss,
         |    sum(ci) AS tc, sum(si) AS ts
         |  FROM terms GROUP BY l_suppkey, period),
         |h AS (
         |  -- VARCHAR bridge: DuckDB's HUGEINT→DOUBLE is a two-step
         |  -- upper·2^64 + lower (rounds twice, off by ulps at ~2e19);
         |  -- strtod is correctly rounded and matches Spark's
         |  -- BigDecimal.doubleValue exactly (the NOTES.md literal rule)
         |  SELECT l_suppkey, period, n,
         |    CAST(CAST(CAST(n AS HUGEINT) * sc - sx * tc AS VARCHAR) AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * 100000000000000.0::DOUBLE) AS ca,
         |    CAST(CAST(CAST(n AS HUGEINT) * ss - sx * ts AS VARCHAR) AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * 100000000000000.0::DOUBLE) AS cb
         |  FROM g)
         |SELECT l_suppkey, period, n,
         |  CASE WHEN n >= 1 THEN (ca * ca + cb * cb) / CAST(n AS DOUBLE)
         |  END AS power
         |FROM h ORDER BY l_suppkey, period""".stripMargin),
    Gate("q_amihud", (s, d) => {
      // per-supplier Amihud illiquidity over the daily bars — exact
      // quantized terms, pinned-order whole-series fold
      operators.Rolling.amihud(dailyBarsW(s), "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Rolling.amihud: quantized close/volume, the per-bar
      // two-division term tree, list_reduce over the date-ordered term
      // list (the pinned-order fold).
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS c,
         |    CAST(round(volume * 100.0::DOUBLE) AS BIGINT) AS v,
         |    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |      OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS pc
         |  FROM bars),
         |t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN pc IS NOT NULL AND pc > 0 AND c > 0 AND v > 0 THEN
         |      CAST(abs(c - pc) AS DOUBLE) / CAST(pc AS DOUBLE) /
         |        (CAST(CAST(c AS HUGEINT) * v AS DOUBLE) / 10000.0::DOUBLE)
         |    END AS term
         |  FROM s),
         |g AS (
         |  SELECT l_suppkey,
         |    CAST(count(term) AS BIGINT) AS n_terms,
         |    list(term ORDER BY l_shipdate) FILTER (WHERE term IS NOT NULL)
         |      AS terms
         |  FROM t GROUP BY l_suppkey)
         |SELECT l_suppkey, n_terms,
         |  CASE WHEN n_terms >= 1 THEN
         |    list_reduce(list_prepend(0.0::DOUBLE, terms),
         |      (acc, e) -> acc + e) / CAST(n_terms AS DOUBLE)
         |  END AS illiq
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_ohlc_vol", (s, d) => {
      // per-supplier Parkinson / Garman–Klass / Rogers–Satchell range
      // volatilities over the daily bars — the intrabar (H/L/O/C)
      // information close-only q_realized_vol throws away
      operators.Rolling.ohlcVolatility(dailyBars(s), "open", "high",
          "low", "close", Seq("l_suppkey"), Seq("l_shipdate"))
        .orderBy(col("l_suppkey"))
    }, {
      // Replays Rolling.ohlcVolatility: per-bar rounded-ln terms, bar-order
      // list folds for the three means, the Scala-folded 1/(4 ln 2) and
      // 2 ln 2 − 1 literals shared verbatim, one rounded sqrt at the end.
      val park = operators.Rolling.parkinsonCoefLiteral
      val gk = operators.Rolling.gkCoefLiteral
      s"""WITH bars AS (
         |$duckBarsSql
         |), t AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN open > 0 AND low > 0 AND close > 0 AND high >= low
         |      THEN 1 END AS ok,
         |    round(ln(high / low), 10) + 0.0::DOUBLE AS hl,
         |    round(ln(close / open), 10) + 0.0::DOUBLE AS co,
         |    round(ln(high / close), 10) + 0.0::DOUBLE AS hc,
         |    round(ln(high / open), 10) + 0.0::DOUBLE AS ho,
         |    round(ln(low / close), 10) + 0.0::DOUBLE AS lc,
         |    round(ln(low / open), 10) + 0.0::DOUBLE AS lo
         |  FROM bars),
         |m AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN ok = 1 THEN hl * hl END AS pk,
         |    CASE WHEN ok = 1 THEN
         |      0.5::DOUBLE * hl * hl - $gk::DOUBLE * co * co END AS gkt,
         |    CASE WHEN ok = 1 THEN hc * ho + lc * lo END AS rs
         |  FROM t),
         |g AS (
         |  SELECT l_suppkey, CAST(count(pk) AS BIGINT) AS n_bars,
         |    list(pk ORDER BY l_shipdate) FILTER (WHERE pk IS NOT NULL)
         |      AS pks,
         |    list(gkt ORDER BY l_shipdate) FILTER (WHERE gkt IS NOT NULL)
         |      AS gks,
         |    list(rs ORDER BY l_shipdate) FILTER (WHERE rs IS NOT NULL)
         |      AS rss
         |  FROM m GROUP BY l_suppkey),
         |v AS (
         |  SELECT l_suppkey, n_bars,
         |    $park::DOUBLE * (list_reduce(list_prepend(0.0::DOUBLE, pks),
         |      (a, b) -> a + b) / CAST(n_bars AS DOUBLE)) AS mpk,
         |    list_reduce(list_prepend(0.0::DOUBLE, gks), (a, b) -> a + b)
         |      / CAST(n_bars AS DOUBLE) AS mgk,
         |    list_reduce(list_prepend(0.0::DOUBLE, rss), (a, b) -> a + b)
         |      / CAST(n_bars AS DOUBLE) AS mrs
         |  FROM g)
         |SELECT l_suppkey, n_bars,
         |  CASE WHEN n_bars >= 1 AND mpk >= 0 THEN
         |    round(sqrt(mpk), 10) + 0.0::DOUBLE END AS park_vol,
         |  CASE WHEN n_bars >= 1 AND mgk >= 0 THEN
         |    round(sqrt(mgk), 10) + 0.0::DOUBLE END AS gk_vol,
         |  CASE WHEN n_bars >= 1 AND mrs >= 0 THEN
         |    round(sqrt(mrs), 10) + 0.0::DOUBLE END AS rs_vol
         |FROM v ORDER BY l_suppkey""".stripMargin
    }),
    Gate("q_cs_spread", (s, d) => {
      // Corwin–Schultz high–low effective-spread estimate per supplier —
      // the quote-free spread readout beside q_roll_spread's serial
      // covariance form
      operators.Rolling.corwinSchultz(dailyBarsW(s), "high", "low",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .orderBy(col("l_suppkey"))
    }, {
      // Replays Rolling.corwinSchultz: lagged two-bar spans, every libm
      // output rounded to 10 dp, the Scala-folded 3 − 2√2 literal, per-key
      // span-order fold of the clamped spreads.
      val den = operators.Rolling.csDenLiteral
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey, l_shipdate, high AS h, low AS lo,
         |    lag(high, 1) OVER w AS ph, lag(low, 1) OVER w AS pl
         |  FROM bars
         |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |a AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN ph IS NOT NULL AND pl IS NOT NULL AND pl > 0
         |      AND lo > 0 AND ph >= pl AND h >= lo THEN 1 END AS ok,
         |    round(ln(ph / pl), 10) + 0.0::DOUBLE AS hl0,
         |    round(ln(h / lo), 10) + 0.0::DOUBLE AS hl1,
         |    round(ln(greatest(h, ph) / least(lo, pl)), 10)
         |      + 0.0::DOUBLE AS gog
         |  FROM s),
         |b AS (
         |  SELECT l_suppkey, l_shipdate, ok,
         |    hl0 * hl0 + hl1 * hl1 AS beta, gog * gog AS gamma
         |  FROM a),
         |c AS (
         |  SELECT l_suppkey, l_shipdate, ok,
         |    ((round(sqrt(2.0::DOUBLE * beta), 10) + 0.0::DOUBLE)
         |      - (round(sqrt(beta), 10) + 0.0::DOUBLE)) / $den::DOUBLE
         |      - (round(sqrt(gamma / $den::DOUBLE), 10) + 0.0::DOUBLE)
         |      AS alpha
         |  FROM b),
         |e AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN ok = 1 THEN greatest(
         |      2.0::DOUBLE * (ea - 1.0::DOUBLE) / (1.0::DOUBLE + ea),
         |      0.0::DOUBLE) END AS spread
         |  FROM (SELECT *, round(exp(alpha), 10) + 0.0::DOUBLE AS ea
         |        FROM c) d),
         |g AS (
         |  SELECT l_suppkey, CAST(count(spread) AS BIGINT) AS n_spans,
         |    list(spread ORDER BY l_shipdate)
         |      FILTER (WHERE spread IS NOT NULL) AS ss
         |  FROM e GROUP BY l_suppkey)
         |SELECT l_suppkey, n_spans,
         |  CASE WHEN n_spans >= 1 THEN
         |    list_reduce(list_prepend(0.0::DOUBLE, ss), (a, b) -> a + b)
         |      / CAST(n_spans AS DOUBLE) END AS cs_spread
         |FROM g ORDER BY l_suppkey""".stripMargin
    }),
    Gate("q_kyle_lambda", (s, d) => {
      // Kyle's lambda per supplier: through-origin slope of price change
      // on tick-rule signed volume — exact integer product sums, one
      // division; the price-impact companion to q_amihud
      operators.Rolling.kyleLambda(dailyBarsW(s), "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Rolling.kyleLambda at scale 2: exact scaled-BIGINT price
      // deltas and tick-signed volumes, HUGEINT product sums, one division.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS c,
         |    CAST(round(volume * 100.0::DOUBLE) AS BIGINT) AS v,
         |    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |      OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS pc
         |  FROM bars),
         |t AS (
         |  SELECT l_suppkey,
         |    CASE WHEN pc IS NOT NULL AND v >= 0 THEN c - pc END AS dp,
         |    CASE WHEN pc IS NOT NULL AND v >= 0 THEN
         |      CAST(sign(c - pc) AS BIGINT) * v END AS sv
         |  FROM s),
         |g AS (
         |  SELECT l_suppkey, CAST(count(dp) AS BIGINT) AS n_terms,
         |    sum(CAST(dp AS HUGEINT) * sv) AS num,
         |    sum(CAST(sv AS HUGEINT) * sv) AS den
         |  FROM t GROUP BY l_suppkey)
         |SELECT l_suppkey, n_terms,
         |  CASE WHEN n_terms >= 1 AND den > 0 THEN
         |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS kyle_lambda
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_variance_ratio", (s, d) => {
      // Lo–MacKinlay VR(5) per supplier: q-period vs 1-period return
      // variance with the homoskedastic z — the random-walk test beside
      // q_dickey_fuller, integer-exact up to one pinned double tree
      operators.Rolling.varianceRatio(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"), q = 5)
        .orderBy(col("l_suppkey"))
    },
      // Replays Rolling.varianceRatio at q=5: 1e10-quantized log returns,
      // exact HUGEINT demeaned sums multiplied through by n², the same
      // pinned double trees for VR and z.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r0 AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    lag(close, 1) OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) AS pc
         |  FROM bars),
         |r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(ln(close / pc) * 10000000000.0::DOUBLE) AS BIGINT)
         |      AS r
         |  FROM r0 WHERE pc IS NOT NULL AND pc > 0 AND close > 0),
         |s AS (
         |  SELECT l_suppkey, r,
         |    CASE WHEN row_number() OVER w >= 5 THEN
         |      sum(r) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |    END AS c
         |  FROM r
         |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |g AS (
         |  SELECT l_suppkey, CAST(count(r) AS BIGINT) AS n_rets,
         |    sum(CAST(r AS HUGEINT)) AS sr,
         |    sum(CAST(r AS HUGEINT) * r) AS q2,
         |    sum(CAST(c AS HUGEINT)) AS sc,
         |    sum(CAST(c AS HUGEINT) * c) AS sc2
         |  FROM s GROUP BY l_suppkey),
         |f AS (
         |  SELECT l_suppkey, n_rets,
         |    CAST(n_rets AS HUGEINT) * n_rets * q2
         |      - CAST(n_rets AS HUGEINT) * sr * sr AS a,
         |    CAST(n_rets AS HUGEINT) * n_rets * sc2
         |      - 10::HUGEINT * n_rets * sr * sc
         |      + CAST(n_rets - 4 AS HUGEINT) * 25 * sr * sr AS b
         |  FROM g),
         |v AS (
         |  SELECT l_suppkey, n_rets,
         |    CASE WHEN n_rets > 5 AND a > 0 THEN
         |      CAST(b AS DOUBLE) * CAST(n_rets AS DOUBLE)
         |        * (CAST(n_rets AS DOUBLE) - 1.0::DOUBLE)
         |      / (CAST(a AS DOUBLE) * 5.0::DOUBLE
         |        * (CAST(n_rets AS DOUBLE) - 4.0::DOUBLE)
         |        * (CAST(n_rets AS DOUBLE) - 5.0::DOUBLE))
         |    END AS vr
         |  FROM f)
         |SELECT l_suppkey, n_rets, vr,
         |  (vr - 1.0::DOUBLE) /
         |    (round(sqrt(72.0::DOUBLE /
         |      (15.0::DOUBLE * CAST(n_rets AS DOUBLE))), 10) + 0.0::DOUBLE)
         |    AS z_vr
         |FROM v ORDER BY l_suppkey""".stripMargin),
    Gate("q_connors_rsi", (s, d) => {
      // Connors RSI (3/2/100) over daily closes — native RSIs over the
      // close and the gaps-and-islands streak, plus the exact prior-100
      // return percent rank
      operators.Rolling.connorsRsi(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"),
          col("streak"), col("pct_rank"), col("crsi"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Connors-RSI replay: the same integer gaps-and-islands streak, two
      // rsiFold layers (close + streak), and the null-filtered prior-100
      // rank-count — compare doubles are the shared 10-dp returns.
      s"""WITH bars AS (
         |$duckBarsSql
         |), d0 AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    lag(close, 1) OVER ws AS prev,
         |    row_number() OVER ws AS rn
         |  FROM bars WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), d1 AS (
         |  SELECT *, CASE WHEN prev IS NULL THEN 0
         |      ELSE CAST(sign(close - prev) AS INTEGER) END AS d,
         |    CASE WHEN prev IS NOT NULL AND prev > 0.0::DOUBLE
         |          AND close > 0.0::DOUBLE
         |      THEN round(ln(close / prev), 10) + 0.0 END AS ret
         |  FROM d0
         |), d2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY l_suppkey, d
         |    ORDER BY l_shipdate) AS rnd FROM d1
         |), d4 AS (
         |  SELECT *, row_number() OVER (PARTITION BY l_suppkey, d, rn - rnd
         |    ORDER BY l_shipdate) AS pos FROM d2
         |), d5 AS (
         |  SELECT l_suppkey, l_shipdate, close, ret,
         |    CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(d AS BIGINT) * pos END AS streak
         |  FROM d4
         |), base AS (
         |  SELECT l_suppkey, l_shipdate, ret, streak,
         |    ${rsiStructList("close")} AS xs,
         |    list(struct_pack(p := CAST(streak AS DOUBLE), g := 0.0::DOUBLE,
         |      l := 0.0::DOUBLE, c := 0.0::DOUBLE)) OVER w AS ss,
         |    list_filter(list(ret) OVER wr, v -> v IS NOT NULL) AS rl
         |  FROM d5
         |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wr AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
         |), red AS (
         |  SELECT l_suppkey, l_shipdate, ret, streak, rl,
         |    ${rsiFold("xs", 3)} AS s3,
         |    ${rsiFold("ss", 2)} AS s2
         |  FROM base
         |), fin AS (
         |  SELECT l_suppkey, l_shipdate, streak,
         |    ${rsiEval("s3", 3)} AS r3,
         |    ${rsiEval("s2", 2)} AS rs,
         |    CASE WHEN len(rl) = 100 AND ret IS NOT NULL
         |      THEN CAST(len(list_filter(rl, v -> v < ret)) AS DOUBLE)
         |           * 100.0::DOUBLE / 100.0::DOUBLE END AS pct_rank
         |  FROM red
         |)
         |SELECT l_suppkey, l_shipdate, streak, pct_rank,
         |  (r3 + rs + pct_rank) / 3.0::DOUBLE AS crsi
         |FROM fin ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_stoch_rsi", (s, d) => {
      // stochastic RSI (14/14) over daily closes — the stochastic layer
      // as exact selections over the native RSI recurrence
      operators.Rolling.stochRsi(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("stoch_rsi"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Stoch-RSI replay: the proven rsiFold prefix machinery over bar
      // closes, then exact min/max selections with the flat-window guard.
      s"""WITH bars AS (
         |$duckBarsSql
         |), base AS (
         |  SELECT l_suppkey, l_shipdate, ${rsiStructList("close")} AS xs
         |  FROM bars
         |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), red AS (
         |  SELECT l_suppkey, l_shipdate, ${rsiFold("xs", 14)} AS s
         |  FROM base
         |), rr AS (
         |  SELECT l_suppkey, l_shipdate, ${rsiEval("s", 14)} AS r
         |  FROM red
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN count(r) OVER wn = 14
         |        AND max(r) OVER wn <> min(r) OVER wn
         |    THEN (r - min(r) OVER wn) / (max(r) OVER wn - min(r) OVER wn)
         |  END AS stoch_rsi
         |FROM rr
         |WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_tsi", (s, d) => {
      // True Strength Index (25/13) over daily closes — four native EMA
      // layers on one sort, frozen-NULL first row
      operators.Rolling.tsi(dailyBarsW(s), "close",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("tsi"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // TSI replay: four layered null-filtered duckEma folds (the
      // force-index frozen≡filtered identity at each layer), one guarded
      // normalize tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate,
         |    close - lag(close, 1) OVER ws AS mm
         |  FROM bars WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), f AS (
         |  SELECT l_suppkey, l_shipdate, mm,
         |    list_filter(list(mm) OVER wn, v -> v IS NOT NULL) AS ml,
         |    list_filter(list(abs(mm)) OVER wn, v -> v IS NOT NULL) AS mal
         |  FROM m WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), e1 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN mm IS NOT NULL AND len(ml) > 0
         |      THEN ${duckEma("ml", 25)} END AS e1,
         |    CASE WHEN mm IS NOT NULL AND len(mal) > 0
         |      THEN ${duckEma("mal", 25)} END AS e1a
         |  FROM f
         |), g AS (
         |  SELECT l_suppkey, l_shipdate, e1, e1a,
         |    list_filter(list(e1) OVER wn, v -> v IS NOT NULL) AS l2,
         |    list_filter(list(e1a) OVER wn, v -> v IS NOT NULL) AS l2a
         |  FROM e1 WINDOW wn AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), e2 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN e1 IS NOT NULL AND len(l2) > 0
         |      THEN ${duckEma("l2", 13)} END AS e2,
         |    CASE WHEN e1a IS NOT NULL AND len(l2a) > 0
         |      THEN ${duckEma("l2a", 13)} END AS e2a
         |  FROM g
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN e2a <> 0.0 THEN 100.0::DOUBLE * e2 / e2a END AS tsi
         |FROM e2 ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_risk_ratios", (s, d) => {
      // per-supplier Sortino/Omega/Calmar over the log-return series —
      // the downside companions to q_perf_summary's Sharpe; annualized
      // by sqrt(252) like the vol gates
      val rets = operators.Rolling.logReturns(dailyBarsW(s), "close",
        Seq("l_suppkey"), Seq("l_shipdate"))
      operators.Rolling.riskRatios(rets, "ret_log",
          Seq("l_suppkey"), Seq("l_shipdate"),
          annualize = math.sqrt(252.0))
        .orderBy(col("l_suppkey"))
    },
      // Risk-ratio replay: the same ln-return tree, then EVERYTHING in
      // exact scaled BIGINTs (1e10 matches the 10-dp return rounding) —
      // integer cumsum + running peak for the drawdown path, conditional
      // integer sums for gains/losses, HUGEINT downside squares — and one
      // fixed-tree finish per ratio. No list folds anywhere.
      s"""WITH bars AS (
         |$duckBarsSql
         |), r AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN lag(close) OVER ws IS NOT NULL
         |          AND lag(close) OVER ws > 0.0::DOUBLE
         |          AND close > 0.0::DOUBLE
         |         THEN round(ln(close / lag(close) OVER ws), 10) + 0.0
         |    END AS ret_log
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), b AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(ret_log * 10000000000.0::DOUBLE) AS BIGINT) AS ri
         |  FROM r WHERE ret_log IS NOT NULL
         |), c AS (
         |  SELECT l_suppkey, l_shipdate, ri,
         |    sum(ri) OVER wr AS cum
         |  FROM b
         |  WINDOW wr AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), p AS (
         |  SELECT l_suppkey, ri, cum,
         |    max(cum) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |  FROM c
         |), a AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_returns,
         |    CAST(sum(ri) AS BIGINT) AS s,
         |    CAST(sum(greatest(ri, 0)) AS BIGINT) AS g,
         |    CAST(sum(greatest(-ri, 0)) AS BIGINT) AS l,
         |    sum(CASE WHEN ri < 0 THEN CAST(ri AS HUGEINT) * ri ELSE 0 END) AS d,
         |    CAST(max(peak - cum) AS BIGINT) AS mdd
         |  FROM p GROUP BY l_suppkey
         |), f AS (
         |  SELECT l_suppkey, n_returns,
         |    CAST(s AS DOUBLE) / CAST(n_returns AS DOUBLE) AS mu_s,
         |    sqrt(CAST(d AS DOUBLE) / CAST(n_returns AS DOUBLE)) AS dd_s,
         |    s, g, l, mdd
         |  FROM a
         |)
         |SELECT l_suppkey, n_returns,
         |  CAST(s AS DOUBLE) / 10000000000.0::DOUBLE AS total_ret,
         |  CASE WHEN n_returns >= 2 AND dd_s > 0.0 THEN
         |    mu_s / dd_s * sqrt(252.0::DOUBLE) END AS sortino,
         |  CASE WHEN l > 0 THEN CAST(g AS DOUBLE) / CAST(l AS DOUBLE) END AS omega,
         |  CASE WHEN mdd > 0 THEN CAST(s AS DOUBLE) / CAST(mdd AS DOUBLE) END AS calmar
         |FROM f ORDER BY l_suppkey""".stripMargin)
  )
}
