package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, count, dayofweek, expr,
  lag, lead, lit, round, row_number, sum, to_timestamp, when, year}
import GateSql._

/** Gates over [[operators.Stats]]: tests, correlations and regressions on
  * the bars and the event log. */
private[gates] object StatsGates {

  val all: Seq[Gate] = Seq(
    Gate("q_weighted_median", (s, d) => {
      // exact quantity-weighted median price per supplier — integer
      // cumulative weights, one keyed window pass, crossing-row pick
      operators.Stats.weightedMedian(s.table("lineitem"), Seq("l_suppkey"),
          "l_extendedprice", "l_quantity")
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.weightedMedian: integer cumulative weights, crossing
      // row 2·cum ≥ W > 2·(cum − w). The crossing VALUE is tie-order
      // independent, so engine sort-order differences among equal values
      // cannot change the output.
      """WITH base AS (
        |  SELECT l_suppkey, l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |), c AS (
        |  SELECT l_suppkey, v, w,
        |    sum(w) OVER (PARTITION BY l_suppkey ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_suppkey) AS tot
        |  FROM base
        |)
        |SELECT l_suppkey, v AS weighted_median, CAST(tot AS BIGINT) AS total_weight
        |FROM c WHERE cum * 2 >= tot AND (cum - w) * 2 < tot
        |ORDER BY l_suppkey""".stripMargin),
    Gate("q_spearman", (s, d) => {
      // per-supplier Spearman rank correlation of quantity vs price —
      // the monotone-dependence complement to q_corr_regress; doubled
      // average ranks keep the whole rank layer exact integers
      operators.Stats.spearman(s.table("lineitem"), Seq("l_suppkey"),
          "l_quantity", "l_extendedprice", scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.spearman: doubled average ranks (2·rank + peers − 1,
      // RANGE CURRENT ROW peers frame), HUGEINT sums ≡ the DECIMAL(38,0)
      // sums, the identical Pearson closed form with the [−1,1] clamp.
      """WITH base AS (
        |  SELECT l_suppkey,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS xi,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS yi
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), r AS (
        |  SELECT l_suppkey,
        |    2 * rank() OVER (PARTITION BY l_suppkey ORDER BY xi)
        |      + count(*) OVER (PARTITION BY l_suppkey ORDER BY xi
        |          RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS ra,
        |    2 * rank() OVER (PARTITION BY l_suppkey ORDER BY yi)
        |      + count(*) OVER (PARTITION BY l_suppkey ORDER BY yi
        |          RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS rb
        |  FROM base
        |), g AS (
        |  SELECT l_suppkey, count(*) AS n,
        |    sum(ra) AS sa, sum(rb) AS sb, sum(ra*ra) AS saa,
        |    sum(rb*rb) AS sbb, sum(ra*rb) AS sab
        |  FROM r GROUP BY l_suppkey
        |)
        |SELECT l_suppkey, n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
        |        AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
        |  THEN greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
        |    (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))))
        |  END AS spearman
        |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_ic", (s, d) => {
      // daily cross-sectional information coefficient: Spearman rank
      // correlation of 5-day close momentum vs next-day forward move
      // across suppliers, per date — the factor-evaluation readout;
      // both signals are exact 2-dp close differences, so the rank
      // layer is engine-identical
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val sig = dailyBars(s).select(col("l_suppkey"), col("l_shipdate"),
        (col("close") - lag(col("close"), 5).over(w)).as("mom"),
        (lead(col("close"), 1).over(w) - col("close")).as("fwd"))
      operators.Stats.spearman(sig, Seq("l_shipdate"), "mom", "fwd",
          scale = 2)
        .orderBy(col("l_shipdate"))
    },
      // Replays the q_ic composition: exact 2-dp momentum/forward diffs on
      // the bars, then the q_spearman doubled-average-rank replay
      // partitioned by DATE (cross-sectional).
      s"""WITH bars AS (
         |$duckBarsSql
         |), sig AS (
         |  SELECT l_suppkey, l_shipdate,
         |    close - lag(close, 5) OVER ws AS mom,
         |    lead(close, 1) OVER ws - close AS fwd
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |base AS (
         |  SELECT l_shipdate,
         |    CAST(round(mom * 100.0::DOUBLE) AS BIGINT) AS xi,
         |    CAST(round(fwd * 100.0::DOUBLE) AS BIGINT) AS yi
         |  FROM sig WHERE mom IS NOT NULL AND fwd IS NOT NULL),
         |r AS (
         |  SELECT l_shipdate,
         |    2 * rank() OVER (PARTITION BY l_shipdate ORDER BY xi)
         |      + count(*) OVER (PARTITION BY l_shipdate ORDER BY xi
         |          RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS ra,
         |    2 * rank() OVER (PARTITION BY l_shipdate ORDER BY yi)
         |      + count(*) OVER (PARTITION BY l_shipdate ORDER BY yi
         |          RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1 AS rb
         |  FROM base),
         |g AS (
         |  SELECT l_shipdate, count(*) AS n,
         |    sum(ra) AS sa, sum(rb) AS sb, sum(ra*ra) AS saa,
         |    sum(rb*rb) AS sbb, sum(ra*rb) AS sab
         |  FROM r GROUP BY l_shipdate)
         |SELECT l_shipdate, n,
         |  CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
         |        AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
         |  THEN greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
         |    (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
         |    / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
         |       * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))))
         |  END AS spearman
         |FROM g ORDER BY l_shipdate""".stripMargin),
    Gate("q_mann_kendall", (s, d) => {
      // per-supplier Mann-Kendall trend test on the close over a
      // BOUNDED 100-supplier panel (the within-key O(n²) contract) —
      // the distribution-free trend answer beside q_dickey_fuller
      operators.Stats.mannKendall(
          dailyBars(s).filter(col("l_suppkey") < 100),
          "close", Seq("l_suppkey"), Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.mannKendall: time-ordered sign pairs, per-value tie
      // groups, the tie-corrected variance and continuity-corrected z.
      s"""WITH bars AS (
         |$duckBarsSql
         |), base AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS xi,
         |    row_number() OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) AS rn
         |  FROM bars WHERE l_suppkey < 100),
         |sp AS (
         |  SELECT a.l_suppkey,
         |    CAST(count(CASE WHEN b.xi > a.xi THEN 1 END) AS BIGINT)
         |      - CAST(count(CASE WHEN b.xi < a.xi THEN 1 END) AS BIGINT)
         |      AS s_stat
         |  FROM base a JOIN base b
         |    ON a.l_suppkey = b.l_suppkey AND a.rn < b.rn
         |  GROUP BY a.l_suppkey),
         |tg AS (
         |  SELECT l_suppkey, xi, CAST(count(*) AS BIGINT) AS t
         |  FROM base GROUP BY l_suppkey, xi),
         |ties AS (
         |  SELECT l_suppkey, CAST(sum(t) AS BIGINT) AS n,
         |    CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
         |      AS HUGEINT) AS tcorr
         |  FROM tg GROUP BY l_suppkey),
         |v AS (
         |  SELECT ties.l_suppkey, ties.n,
         |    coalesce(sp.s_stat, 0) AS s_stat,
         |    CAST(CAST(ties.n AS HUGEINT) * (CAST(ties.n AS HUGEINT) - 1)
         |        * (2 * CAST(ties.n AS HUGEINT) + 5) - ties.tcorr AS DOUBLE)
         |      / 18.0::DOUBLE AS variance
         |  FROM ties LEFT JOIN sp ON ties.l_suppkey = sp.l_suppkey)
         |SELECT l_suppkey, n, s_stat,
         |  CASE WHEN n >= 2 AND variance > 0.0::DOUBLE THEN
         |    CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0::DOUBLE)
         |           / sqrt(CASE WHEN variance > 0.0::DOUBLE THEN variance END)
         |         WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0::DOUBLE)
         |           / sqrt(CASE WHEN variance > 0.0::DOUBLE THEN variance END)
         |         ELSE 0.0::DOUBLE END
         |  END AS mk_z
         |FROM v ORDER BY l_suppkey""".stripMargin),
    Gate("q_runs_test", (s, d) => {
      // per-supplier Wald-Wolfowitz runs test on the close — the
      // distribution-free randomness screen beside q_ljung_box
      operators.Stats.runsTest(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.runsTest: quantized diff signs (zeros dropped),
      // run starts by lag over the filtered sign sequence, the exact
      // mu/sigma trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |            - lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |              OVER ws > 0 THEN 1
         |         WHEN CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |            - lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |              OVER ws < 0 THEN -1
         |    END AS sg
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |f AS (
         |  SELECT l_suppkey, l_shipdate, sg,
         |    CASE WHEN lag(sg, 1) OVER (PARTITION BY l_suppkey
         |           ORDER BY l_shipdate) IS NULL
         |          OR lag(sg, 1) OVER (PARTITION BY l_suppkey
         |           ORDER BY l_shipdate) <> sg THEN 1 ELSE 0 END AS ps
         |  FROM s WHERE sg IS NOT NULL),
         |g AS (
         |  SELECT l_suppkey,
         |    CAST(count(CASE WHEN sg = 1 THEN 1 END) AS BIGINT) AS n_up,
         |    CAST(count(CASE WHEN sg = -1 THEN 1 END) AS BIGINT) AS n_down,
         |    CAST(sum(ps) AS BIGINT) AS runs
         |  FROM f GROUP BY l_suppkey),
         |h AS (
         |  SELECT l_suppkey, n_up, n_down, runs,
         |    CAST(2 * CAST(n_up AS HUGEINT) * n_down AS DOUBLE)
         |      / CAST(CAST(n_up AS HUGEINT) + n_down AS DOUBLE)
         |      + 1.0::DOUBLE AS mu,
         |    CAST((2 * CAST(n_up AS HUGEINT) * n_down)
         |        * (2 * CAST(n_up AS HUGEINT) * n_down
         |           - (CAST(n_up AS HUGEINT) + n_down)) AS DOUBLE)
         |    / CAST((CAST(n_up AS HUGEINT) + n_down)
         |        * (CAST(n_up AS HUGEINT) + n_down)
         |        * ((CAST(n_up AS HUGEINT) + n_down) - 1) AS DOUBLE) AS sig2
         |  FROM g)
         |SELECT l_suppkey, n_up, n_down, runs,
         |  CASE WHEN n_up >= 1 AND n_down >= 1 AND n_up + n_down >= 2 THEN
         |    (CAST(runs AS DOUBLE) - mu) /
         |      sqrt(CASE WHEN sig2 > 0.0::DOUBLE THEN sig2 END)
         |  END AS runs_z
         |FROM h ORDER BY l_suppkey""".stripMargin),
    Gate("q_granger", (s, d) => {
      // does volume Granger-cause the close, per supplier — the
      // hypothesis-test companion to q_cross_corr's lead-lag screen;
      // exact n-multiplied normal equations, VARCHAR-bridged oracle
      operators.Stats.grangerLag1(dailyBarsW(s), "close", "volume",
          Seq("l_suppkey"), Seq("l_shipdate"), yScale = 2, xScale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.grangerLag1: HUGEINT centered sums, every
      // centered→double cast through the VARCHAR strtod bridge (products
      // reach ~10³², far past exact-double range), the same fixed trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS y,
         |    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |      OVER ws AS x,
         |    lag(CAST(round(volume * 100.0::DOUBLE) AS BIGINT), 1)
         |      OVER ws AS z
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS np,
         |    CAST(sum(y) AS HUGEINT) AS sy, CAST(sum(x) AS HUGEINT) AS sx,
         |    CAST(sum(z) AS HUGEINT) AS sz,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CAST(z AS HUGEINT) * z) AS szz,
         |    sum(CAST(x AS HUGEINT) * z) AS sxz,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(z AS HUGEINT) * y) AS szy,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM s WHERE x IS NOT NULL AND z IS NOT NULL GROUP BY l_suppkey),
         |c AS (
         |  SELECT l_suppkey, np,
         |    CAST(np AS HUGEINT) * sxx - sx * sx AS cxx,
         |    CAST(np AS HUGEINT) * szz - sz * sz AS czz,
         |    CAST(np AS HUGEINT) * sxz - sx * sz AS cxz,
         |    CAST(np AS HUGEINT) * sxy - sx * sy AS cxy,
         |    CAST(np AS HUGEINT) * szy - sz * sy AS czy,
         |    CAST(np AS HUGEINT) * syy - sy * sy AS cyy
         |  FROM g),
         |h AS (
         |  SELECT l_suppkey, np, CAST(np AS DOUBLE) AS n,
         |    CASE WHEN CAST(CAST(cxx * czz - cxz * cxz AS VARCHAR) AS DOUBLE)
         |        > 0.0::DOUBLE
         |      THEN CAST(CAST(cxx * czz - cxz * cxz AS VARCHAR) AS DOUBLE)
         |    END AS det,
         |    CAST(CAST(cxx * czy - cxz * cxy AS VARCHAR) AS DOUBLE) AS gnum,
         |    CAST(CAST(czz * cxy - cxz * czy AS VARCHAR) AS DOUBLE) AS bnum,
         |    CAST(CAST(cxx AS VARCHAR) AS DOUBLE) AS cxxd,
         |    CAST(CAST(cxy AS VARCHAR) AS DOUBLE) AS cxyd,
         |    CAST(CAST(czy AS VARCHAR) AS DOUBLE) AS czyd,
         |    CAST(CAST(cyy AS VARCHAR) AS DOUBLE) AS cyyd
         |  FROM c),
         |t AS (
         |  SELECT l_suppkey, np,
         |    bnum / det AS beta, gnum / det AS gamma,
         |    cyyd - (bnum / det) * cxyd - (gnum / det) * czyd AS ssr
         |  FROM h),
         |u AS (
         |  SELECT t.l_suppkey, t.np, t.beta, t.gamma,
         |    t.gamma / sqrt(CASE WHEN
         |        t.ssr * h.cxxd / ((h.n - 3.0::DOUBLE) * h.det) > 0.0::DOUBLE
         |      THEN t.ssr * h.cxxd / ((h.n - 3.0::DOUBLE) * h.det) END) AS tt
         |  FROM t JOIN h ON t.l_suppkey = h.l_suppkey)
         |SELECT l_suppkey, np AS n_pairs,
         |  CASE WHEN np >= 4 THEN beta END AS ar_beta,
         |  CASE WHEN np >= 4 THEN gamma END AS granger_gamma,
         |  CASE WHEN np >= 4 THEN tt END AS granger_t
         |FROM u ORDER BY l_suppkey""".stripMargin),
    Gate("q_dickey_fuller", (s, d) => {
      // per-supplier unit-root test on the close — exact (lag, diff)
      // sufficient statistics, the fixed beta/t trees
      operators.Stats.dickeyFuller(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.dickeyFuller: (lag, diff) pair sums as HUGEINT, the
      // same NULL-guarded beta/t trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |      OVER ws AS x,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |      - lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |        OVER ws AS y
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(x*x) AS HUGEINT) AS sxx,
         |    CAST(sum(y*y) AS HUGEINT) AS syy,
         |    CAST(sum(x*y) AS HUGEINT) AS sxy
         |  FROM s WHERE x IS NOT NULL GROUP BY l_suppkey),
         |h AS (
         |  SELECT l_suppkey, n_pairs, CAST(n_pairs AS DOUBLE) AS n,
         |    CAST(CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS a,
         |    CASE WHEN CAST(CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS DOUBLE) > 0.0::DOUBLE
         |      THEN CAST(CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS DOUBLE) END AS b,
         |    CAST(CAST(n_pairs AS HUGEINT) * syy - sy * sy AS DOUBLE) AS c
         |  FROM g),
         |t AS (
         |  SELECT l_suppkey, n_pairs,
         |    a / b AS beta,
         |    (a / b) / sqrt(CASE WHEN (c - a * a / b) / ((n - 2.0::DOUBLE) * b)
         |        > 0.0::DOUBLE
         |      THEN (c - a * a / b) / ((n - 2.0::DOUBLE) * b) END) AS tt
         |  FROM h)
         |SELECT l_suppkey, n_pairs,
         |  CASE WHEN n_pairs >= 3 THEN beta END AS df_beta,
         |  CASE WHEN n_pairs >= 3 THEN tt END AS df_t
         |FROM t ORDER BY l_suppkey""".stripMargin),
    Gate("q_page_trend", (s, d) => {
      // per-returnflag Page ordered-trend test: does shipped quantity
      // trend monotonically across the week, block = supplier
      val li = s.table("lineitem").select(col("l_returnflag"),
        col("l_suppkey"), dayofweek(col("l_shipdate")).as("dow"),
        col("l_quantity"))
      operators.Stats.pageTrend(li, "l_quantity", "l_suppkey", "dow",
          k = 7, Seq("l_returnflag"), scale = 2)
        .orderBy(col("l_returnflag"))
    },
      // Replays Stats.pageTrend: friedman's cells/ranks verbatim, the
      // position-weighted L2 sum (DOW order is bijective between the
      // engines' encodings), the exact L and the no-ties z tree.
      """WITH cells AS (
        |  SELECT l_returnflag, l_suppkey AS b,
        |    dayofweek(CAST(l_shipdate AS DATE)) AS v,
        |    CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE)
        |      * 100.0::DOUBLE) AS BIGINT)) AS BIGINT) AS cell
        |  FROM lineitem GROUP BY 1, 2, 3),
        |cc AS (
        |  SELECT l_returnflag, b, v, cell
        |  FROM (SELECT *, CAST(count(*) OVER (PARTITION BY l_returnflag, b)
        |      AS BIGINT) AS nc FROM cells) t
        |  WHERE nc = 7),
        |ranked AS (
        |  SELECT l_returnflag, b, v,
        |    2 * rank() OVER (PARTITION BY l_returnflag, b ORDER BY cell)
        |      + CAST(count(*) OVER (PARTITION BY l_returnflag, b, cell)
        |        AS BIGINT) - 1 AS r2
        |  FROM cc),
        |pt AS (
        |  SELECT l_returnflag, v, CAST(sum(r2) AS BIGINT) AS rj2,
        |    CAST(count(*) AS BIGINT) AS nj
        |  FROM ranked GROUP BY 1, 2),
        |pj AS (
        |  SELECT l_returnflag, rj2, nj,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY v)
        |      AS BIGINT) AS j
        |  FROM pt),
        |g AS (
        |  SELECT l_returnflag, CAST(max(nj) AS BIGINT) AS n_blocks,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(j * rj2) AS BIGINT) AS l2
        |  FROM pj GROUP BY 1)
        |SELECT l_returnflag, n_blocks, k,
        |  CASE WHEN n_blocks >= 1 THEN
        |    CAST(l2 AS DOUBLE) / 2.0::DOUBLE END AS page_l,
        |  CASE WHEN n_blocks >= 1 AND k = 7 THEN
        |    (CAST(l2 AS DOUBLE) / 2.0::DOUBLE
        |      - CAST(n_blocks AS DOUBLE) * 7.0::DOUBLE * 8.0::DOUBLE
        |        * 8.0::DOUBLE / 4.0::DOUBLE)
        |    / sqrt(CAST(n_blocks AS DOUBLE) * (7.0::DOUBLE * 7.0::DOUBLE)
        |        * (8.0::DOUBLE * 8.0::DOUBLE)
        |        * (7.0::DOUBLE - 1.0::DOUBLE) / 144.0::DOUBLE)
        |  END AS page_z
        |FROM g ORDER BY l_returnflag""".stripMargin),
    Gate("q_roll_spread", (s, d) => {
      // per-supplier Roll effective spread from close-change
      // autocovariance — microstructure beside q_amihud's price impact
      operators.Stats.rollSpread(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.rollSpread: quantized close changes, lag pairs,
      // exact covariance numerator, the guarded 2·√(−c/n²) tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s0 AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |      - lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |        OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS d
         |  FROM bars
         |), s AS (
         |  SELECT l_suppkey, d,
         |    lag(d, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |      AS ld
         |  FROM s0
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(d) AS BIGINT) AS sd, CAST(sum(ld) AS BIGINT) AS sl,
         |    CAST(sum(d * ld) AS BIGINT) AS sdl
         |  FROM s WHERE d IS NOT NULL AND ld IS NOT NULL
         |  GROUP BY l_suppkey)
         |SELECT l_suppkey, n AS n_pairs,
         |  CASE WHEN n >= 2 THEN
         |    2.0::DOUBLE * sqrt(CASE WHEN CAST(n * sdl - sd * sl AS DOUBLE)
         |        < 0.0::DOUBLE
         |      THEN -(CAST(n * sdl - sd * sl AS DOUBLE)
         |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END)
         |      / 100.0::DOUBLE
         |  END AS roll_spread
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_cvm", (s, d) => {
      // per-day Cramér–von Mises distance between purchase and view
      // values — the whole-distribution drift readout beside q_ks's
      // worst-gap and q_mann_whitney's location shift
      val ev = readEventsNanos(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"), col("value"))
      operators.Stats.cramerVonMises(ev, "value", "event_type",
          "purchase", "view", Seq("day"), scale = 2)
        .orderBy(col("day"))
    },
      // Replays Stats.cramerVonMises: pooled doubled midranks minus
      // doubled within-arm indexes, exact D² sums, the U4/(4nmN) −
      // (4nm−1)/(6N) tree.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS v,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |r AS (
        |  SELECT day, v,
        |    2 * rank() OVER (PARTITION BY day ORDER BY x)
        |      + CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) - 1
        |      - 2 * row_number() OVER (PARTITION BY day, v ORDER BY x)
        |      AS d
        |  FROM e),
        |g AS (
        |  SELECT day,
        |    CAST(count(CASE WHEN v = 'purchase' THEN 1 END) AS BIGINT) AS na,
        |    CAST(count(CASE WHEN v = 'view' THEN 1 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN v = 'purchase' THEN d * d ELSE 0 END)
        |      AS BIGINT) AS da,
        |    CAST(sum(CASE WHEN v = 'view' THEN d * d ELSE 0 END)
        |      AS BIGINT) AS db
        |  FROM r GROUP BY day),
        |h AS (
        |  SELECT day, na, nb, CAST(na AS DOUBLE) AS nad,
        |    CAST(nb AS DOUBLE) AS nbd,
        |    CAST(na * da + nb * db AS DOUBLE) AS u4
        |  FROM g)
        |SELECT day, na AS n_a, nb AS n_b,
        |  CASE WHEN na >= 1 AND nb >= 1 THEN
        |    u4 / (((4.0::DOUBLE * nad) * nbd) * (nad + nbd))
        |      - ((4.0::DOUBLE * nad) * nbd - 1.0::DOUBLE)
        |        / (6.0::DOUBLE * (nad + nbd))
        |  END AS cvm_t
        |FROM h ORDER BY day""".stripMargin),
    Gate("q_trimmed_mean", (s, d) => {
      // per-supplier 5%-per-side trimmed mean of the close — positional
      // trim on one keyed sort, exact kept sum
      operators.Stats.trimmedMean(dailyBarsW(s), "close", Seq("l_suppkey"),
          trimPm = 50, scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.trimmedMean: positional rank trim with the exact
      // integer per-side count, kept sum as BIGINT, one division tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), q AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x
         |  FROM bars
         |), r AS (
         |  SELECT l_suppkey, x,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY x) AS rn,
         |    CAST(count(*) OVER (PARTITION BY l_suppkey) AS BIGINT) AS ng
         |  FROM q
         |), s AS (
         |  SELECT l_suppkey, CAST(max(ng) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN rn > (ng * 50) // 1000
         |        AND rn <= ng - (ng * 50) // 1000 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_kept,
         |    CAST(sum(CASE WHEN rn > (ng * 50) // 1000
         |        AND rn <= ng - (ng * 50) // 1000 THEN x ELSE 0 END)
         |      AS BIGINT) AS sk
         |  FROM r GROUP BY l_suppkey)
         |SELECT l_suppkey, n, n_kept,
         |  CASE WHEN n_kept >= 1 THEN
         |    (CAST(sk AS DOUBLE) / CAST(n_kept AS DOUBLE)) / 100.0::DOUBLE
         |  END AS trimmed_mean
         |FROM s ORDER BY l_suppkey""".stripMargin),
    Gate("q_hill", (s, d) => {
      // per-supplier Hill tail index over the top-50 volumes — how heavy
      // is the upper volume tail; k-bounded rank list, rounded-ln fold
      operators.Stats.hillTail(dailyBarsW(s), "volume", Seq("l_suppkey"),
          k = 50, scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.hillTail: descending rank, the k+1-bounded ordered
      // list, threshold at position k+1, per-term round(ln, 10) fold in
      // rank order, H and 1/H.
      s"""WITH bars AS (
         |$duckBarsSql
         |), q AS (
         |  SELECT l_suppkey,
         |    CAST(round(volume * 100.0::DOUBLE) AS BIGINT) AS x
         |  FROM bars
         |  WHERE CAST(round(volume * 100.0::DOUBLE) AS BIGINT) > 0
         |), r AS (
         |  SELECT l_suppkey, x,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY x DESC)
         |      AS rn
         |  FROM q
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_pos,
         |    list(struct_pack(rn := rn, x := x) ORDER BY rn)
         |      FILTER (rn <= 51) AS top
         |  FROM r GROUP BY l_suppkey
         |), h AS (
         |  SELECT l_suppkey, n_pos,
         |    CASE WHEN n_pos >= 51 THEN
         |      list_reduce(list_transform(top[1:50],
         |          e -> round(ln(CAST(e.x AS DOUBLE)
         |            / CAST(top[51].x AS DOUBLE)), 10) + 0.0::DOUBLE),
         |        (a, b) -> a + b) / 50.0::DOUBLE
         |    END AS hh
         |  FROM g)
         |SELECT l_suppkey, n_pos, hh AS hill_h,
         |  CASE WHEN hh > 0.0::DOUBLE THEN 1.0::DOUBLE / hh END AS hill_alpha
         |FROM h ORDER BY l_suppkey""".stripMargin),
    Gate("q_friedman", (s, d) => {
      // per-returnflag Friedman: across supplier blocks, do the seven
      // weekdays rank consistently differently in shipped quantity —
      // integer-exact doubled ranks, one final division
      val li = s.table("lineitem").select(col("l_returnflag"),
        col("l_suppkey"), dayofweek(col("l_shipdate")).as("dow"),
        col("l_quantity"))
      operators.Stats.friedman(li, "l_quantity", "l_suppkey", "dow",
          k = 7, Seq("l_returnflag"), scale = 2)
        .orderBy(col("l_returnflag"))
    },
      // Replays Stats.friedman: integer cell sums, within-block doubled
      // midranks, the all-integer Conover form with ONE final division.
      // DOW labels differ (DuckDB 0-6 vs Spark 1-7) but only partition
      // identity matters — the bijection preserves cells and ranks.
      """WITH cells AS (
        |  SELECT l_returnflag, l_suppkey AS b,
        |    dayofweek(CAST(l_shipdate AS DATE)) AS v,
        |    CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE)
        |      * 100.0::DOUBLE) AS BIGINT)) AS BIGINT) AS cell
        |  FROM lineitem GROUP BY 1, 2, 3),
        |cc AS (
        |  SELECT l_returnflag, b, v, cell
        |  FROM (SELECT *, CAST(count(*) OVER (PARTITION BY l_returnflag, b)
        |      AS BIGINT) AS nc FROM cells) t
        |  WHERE nc = 7),
        |ranked AS (
        |  SELECT l_returnflag, b, v,
        |    2 * rank() OVER (PARTITION BY l_returnflag, b ORDER BY cell)
        |      + CAST(count(*) OVER (PARTITION BY l_returnflag, b, cell)
        |        AS BIGINT) - 1 AS r2
        |  FROM cc),
        |pt AS (
        |  SELECT l_returnflag, v, CAST(sum(r2) AS BIGINT) AS rj2,
        |    CAST(count(*) AS BIGINT) AS nj,
        |    CAST(sum(r2 * r2) AS BIGINT) AS a2j
        |  FROM ranked GROUP BY 1, 2),
        |g AS (
        |  SELECT l_returnflag, CAST(max(nj) AS BIGINT) AS n_blocks,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(rj2 * rj2) AS BIGINT) AS sr2,
        |    CAST(sum(a2j) AS BIGINT) AS a2
        |  FROM pt GROUP BY 1)
        |SELECT l_returnflag, n_blocks, k,
        |  CASE WHEN n_blocks >= 1 AND k = 7
        |      AND CAST(a2 - n_blocks * 448 AS DOUBLE) > 0.0::DOUBLE
        |    THEN (6.0::DOUBLE
        |        * CAST(sr2 - n_blocks * n_blocks * 448 AS DOUBLE))
        |      / CAST(a2 - n_blocks * 448 AS DOUBLE)
        |  END AS friedman_q
        |FROM g ORDER BY l_returnflag""".stripMargin),
    Gate("q_wilcoxon", (s, d) => {
      // per-supplier Wilcoxon signed-rank on the (close, open) daily
      // pairs — is the median intraday move zero; doubled-rank exact
      // integers, one keyed sort
      operators.Stats.wilcoxonSignedRank(dailyBarsW(s), "close", "open",
          Seq("l_suppkey"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.wilcoxonSignedRank: quantized close−open diffs,
      // zero drop, doubled average ranks of |d| (2·rank + peers − 1),
      // per-row t²−1 tie term, the fixed W⁺/z trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), dd AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |      - CAST(round(open * 100.0::DOUBLE) AS BIGINT) AS d
         |  FROM bars
         |), nz AS (
         |  SELECT l_suppkey, d, abs(d) AS a FROM dd WHERE d <> 0
         |), r AS (
         |  SELECT l_suppkey, d,
         |    2 * rank() OVER (PARTITION BY l_suppkey ORDER BY a)
         |      + cnt - 1 AS r2, cnt
         |  FROM (SELECT l_suppkey, d, a,
         |      CAST(count(*) OVER (PARTITION BY l_suppkey, a) AS BIGINT)
         |        AS cnt
         |    FROM nz) t
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS s2p,
         |    CAST(sum(cnt * cnt - 1) AS BIGINT) AS tcorr
         |  FROM r GROUP BY l_suppkey
         |), h AS (
         |  SELECT l_suppkey, n, CAST(n AS DOUBLE) AS nd,
         |    CAST(s2p AS DOUBLE) / 2.0::DOUBLE AS wp,
         |    CAST(tcorr AS DOUBLE) AS tc
         |  FROM g)
         |SELECT l_suppkey, n AS n_nonzero,
         |  CASE WHEN n >= 1 THEN wp END AS w_plus,
         |  CASE WHEN n >= 1 AND
         |      ((nd * (nd + 1.0::DOUBLE)) * (2.0::DOUBLE * nd + 1.0::DOUBLE))
         |        / 24.0::DOUBLE - tc / 48.0::DOUBLE > 0.0::DOUBLE
         |    THEN (wp - (nd * (nd + 1.0::DOUBLE)) / 4.0::DOUBLE)
         |      / sqrt(((nd * (nd + 1.0::DOUBLE))
         |          * (2.0::DOUBLE * nd + 1.0::DOUBLE)) / 24.0::DOUBLE
         |        - tc / 48.0::DOUBLE)
         |  END AS wsr_z
         |FROM h ORDER BY l_suppkey""".stripMargin),
    Gate("q_brown_forsythe", (s, d) => {
      // per-day Brown–Forsythe across the five event types — are the
      // arms' spreads equal (the anovaF precondition screen); exact
      // doubled medians, deviations through the anovaF fold
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"), col("value"))
      operators.Stats.brownForsythe(ev, "value", "event_type", Seq("day"),
          scale = 2)
        .orderBy(col("day"))
    },
      // Replays Stats.brownForsythe: exact doubled per-variant medians
      // (lo/hi mid-rank pick), |2x − m2| deviations, then the anovaF
      // variant-ordered fold verbatim.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS v,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS x
        |  FROM events),
        |rk AS (
        |  SELECT day, v, x,
        |    row_number() OVER (PARTITION BY day, v ORDER BY x) AS rn,
        |    CAST(count(*) OVER (PARTITION BY day, v) AS BIGINT) AS ng
        |  FROM e),
        |md AS (
        |  SELECT day, v,
        |    CAST(sum(CASE WHEN rn = (ng + 1) // 2 THEN x ELSE 0 END)
        |      + sum(CASE WHEN rn = ng // 2 + 1 THEN x ELSE 0 END)
        |      AS BIGINT) AS m2
        |  FROM rk GROUP BY day, v),
        |z AS (
        |  SELECT rk.day, rk.v, abs(2 * rk.x - md.m2) AS zx
        |  FROM rk JOIN md ON rk.day = md.day AND rk.v = md.v),
        |pv AS (
        |  SELECT day, v, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(zx) AS BIGINT) AS sg,
        |    CAST(sum(zx * zx) AS BIGINT) AS qg
        |  FROM z GROUP BY day, v),
        |f AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(CAST(sum(sg) AS BIGINT) AS DOUBLE) AS sd,
        |    CAST(sum(qg) AS DOUBLE) AS q,
        |    list_reduce(list_transform(
        |        list(struct_pack(v := v, ng := ng, sg := sg) ORDER BY v),
        |        s -> CAST(s.sg AS DOUBLE) * CAST(s.sg AS DOUBLE)
        |          / CAST(s.ng AS DOUBLE)),
        |      (a, b) -> a + b) AS b
        |  FROM pv GROUP BY day),
        |g AS (
        |  SELECT day, k, n, CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd,
        |    b - sd * sd / CAST(n AS DOUBLE) AS ssb, q - b AS ssw
        |  FROM f)
        |SELECT day, k, n,
        |  CASE WHEN k >= 2 AND nd > kd AND ssw > 0.0::DOUBLE THEN
        |    (ssb / (kd - 1.0::DOUBLE)) / (ssw / (nd - kd)) END AS f,
        |  ssb AS ss_between, ssw AS ss_within
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_arch_lm", (s, d) => {
      // per-supplier Engle ARCH-LM on the intraday pseudo-return
      // (close−open)/open — is there volatility clustering worth a
      // GARCH fit; exact squared-residual pair sums
      operators.Stats.archLm(
          dailyBarsW(s).withColumn("ret",
            (col("close") - col("open")) / col("open")),
          "ret", Seq("l_suppkey"), Seq("l_shipdate"), scale = 6)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.archLm: the (close−open)/open pseudo-return double
      // tree, scale-6 quantization, squared-residual pair sums as
      // HUGEINT, centered sums VARCHAR-bridged, beta/LM fixed trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    u * u AS sq,
         |    lag(u, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |      AS lu
         |  FROM (SELECT l_suppkey, l_shipdate,
         |    CAST(round(((close - open) / open) * 1000000.0::DOUBLE)
         |      AS BIGINT) AS u FROM bars) q
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS np,
         |    CAST(sum(sq) AS HUGEINT) AS sy,
         |    CAST(sum(lu * lu) AS HUGEINT) AS sx,
         |    sum(CAST(lu * lu AS HUGEINT) * (lu * lu)) AS sxx,
         |    sum(CAST(lu * lu AS HUGEINT) * sq) AS sxy,
         |    sum(CAST(sq AS HUGEINT) * sq) AS syy
         |  FROM s WHERE lu IS NOT NULL GROUP BY l_suppkey
         |), c AS (
         |  SELECT l_suppkey, np,
         |    CAST(CAST(CAST(np AS HUGEINT) * sxx - sx * sx AS VARCHAR)
         |      AS DOUBLE) AS cxx,
         |    CAST(CAST(CAST(np AS HUGEINT) * syy - sy * sy AS VARCHAR)
         |      AS DOUBLE) AS cyy,
         |    CAST(CAST(CAST(np AS HUGEINT) * sxy - sx * sy AS VARCHAR)
         |      AS DOUBLE) AS cxy
         |  FROM g)
         |SELECT l_suppkey, np AS n_pairs,
         |  CASE WHEN np >= 3 THEN
         |    cxy / (CASE WHEN cxx > 0.0::DOUBLE THEN cxx END)
         |  END AS arch_beta,
         |  CASE WHEN np >= 3 THEN
         |    CAST(np AS DOUBLE) * ((cxy * cxy) /
         |      ((CASE WHEN cxx > 0.0::DOUBLE THEN cxx END)
         |       * (CASE WHEN cyy > 0.0::DOUBLE THEN cyy END)))
         |  END AS arch_lm
         |FROM c ORDER BY l_suppkey""".stripMargin),
    Gate("q_chow", (s, d) => {
      // per-supplier Chow break test on the close trend at the corpus
      // midpoint — do pre/post-1995H1 need different trend lines;
      // segment sums fused into ONE conditional aggregate
      operators.Stats.chowTest(dailyBars(s), "close", "l_shipdate",
          Seq("l_suppkey"), breakDate = "1995-06-17", scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.chowTest: epoch-day regressor, per-segment HUGEINT
      // conditional sums in one pass, the (Cyy − Cty²/Ctt)/n SSR trees and
      // the guarded F ratio.
      s"""WITH bars AS (
         |$duckBarsSql
         |), b AS (
         |  SELECT l_suppkey,
         |    CAST(date_diff('day', DATE '1970-01-01',
         |      CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS y,
         |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
         |      < date_diff('day', DATE '1970-01-01', DATE '1995-06-17')
         |      AS pre
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey,
         |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(sum(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |    sum(CASE WHEN pre THEN CAST(t AS HUGEINT) ELSE 0 END) AS sta,
         |    sum(CASE WHEN pre THEN CAST(y AS HUGEINT) ELSE 0 END) AS sya,
         |    sum(CASE WHEN pre THEN CAST(t AS HUGEINT) * t ELSE 0 END) AS stta,
         |    sum(CASE WHEN pre THEN CAST(t AS HUGEINT) * y ELSE 0 END) AS stya,
         |    sum(CASE WHEN pre THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS syya,
         |    sum(CASE WHEN NOT pre THEN CAST(t AS HUGEINT) ELSE 0 END) AS stb,
         |    sum(CASE WHEN NOT pre THEN CAST(y AS HUGEINT) ELSE 0 END) AS syb,
         |    sum(CASE WHEN NOT pre THEN CAST(t AS HUGEINT) * t ELSE 0 END) AS sttb,
         |    sum(CASE WHEN NOT pre THEN CAST(t AS HUGEINT) * y ELSE 0 END) AS styb,
         |    sum(CASE WHEN NOT pre THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS syyb
         |  FROM b GROUP BY l_suppkey
         |), r AS (
         |  SELECT l_suppkey, na, nb,
         |    CASE WHEN na >= 3 THEN
         |      (CAST(CAST(CAST(na AS HUGEINT) * syya - sya * sya AS VARCHAR) AS DOUBLE)
         |       - CAST(CAST(CAST(na AS HUGEINT) * stya - sta * sya AS VARCHAR) AS DOUBLE)
         |         * CAST(CAST(CAST(na AS HUGEINT) * stya - sta * sya AS VARCHAR) AS DOUBLE)
         |         / (CASE WHEN CAST(CAST(CAST(na AS HUGEINT) * stta - sta * sta AS VARCHAR) AS DOUBLE)
         |              > 0.0::DOUBLE
         |            THEN CAST(CAST(CAST(na AS HUGEINT) * stta - sta * sta AS VARCHAR) AS DOUBLE) END))
         |      / CAST(na AS DOUBLE)
         |    END AS ssra,
         |    CASE WHEN nb >= 3 THEN
         |      (CAST(CAST(CAST(nb AS HUGEINT) * syyb - syb * syb AS VARCHAR) AS DOUBLE)
         |       - CAST(CAST(CAST(nb AS HUGEINT) * styb - stb * syb AS VARCHAR) AS DOUBLE)
         |         * CAST(CAST(CAST(nb AS HUGEINT) * styb - stb * syb AS VARCHAR) AS DOUBLE)
         |         / (CASE WHEN CAST(CAST(CAST(nb AS HUGEINT) * sttb - stb * stb AS VARCHAR) AS DOUBLE)
         |              > 0.0::DOUBLE
         |            THEN CAST(CAST(CAST(nb AS HUGEINT) * sttb - stb * stb AS VARCHAR) AS DOUBLE) END))
         |      / CAST(nb AS DOUBLE)
         |    END AS ssrb,
         |    CASE WHEN na + nb >= 3 THEN
         |      (CAST(CAST(CAST(na + nb AS HUGEINT) * (syya + syyb) - (sya + syb) * (sya + syb) AS VARCHAR) AS DOUBLE)
         |       - CAST(CAST(CAST(na + nb AS HUGEINT) * (stya + styb) - (sta + stb) * (sya + syb) AS VARCHAR) AS DOUBLE)
         |         * CAST(CAST(CAST(na + nb AS HUGEINT) * (stya + styb) - (sta + stb) * (sya + syb) AS VARCHAR) AS DOUBLE)
         |         / (CASE WHEN CAST(CAST(CAST(na + nb AS HUGEINT) * (stta + sttb) - (sta + stb) * (sta + stb) AS VARCHAR) AS DOUBLE)
         |              > 0.0::DOUBLE
         |            THEN CAST(CAST(CAST(na + nb AS HUGEINT) * (stta + sttb) - (sta + stb) * (sta + stb) AS VARCHAR) AS DOUBLE) END))
         |      / CAST(na + nb AS DOUBLE)
         |    END AS ssrp
         |  FROM g)
         |SELECT l_suppkey, na AS n_pre, nb AS n_post,
         |  ((ssrp - ssra - ssrb) / 2.0::DOUBLE) /
         |  (CASE WHEN (ssra + ssrb) /
         |      (CASE WHEN CAST(na + nb - 4 AS DOUBLE) > 0.0::DOUBLE
         |       THEN CAST(na + nb - 4 AS DOUBLE) END) > 0.0::DOUBLE
         |    THEN (ssra + ssrb) /
         |      (CASE WHEN CAST(na + nb - 4 AS DOUBLE) > 0.0::DOUBLE
         |       THEN CAST(na + nb - 4 AS DOUBLE) END) END) AS chow_f
         |FROM r ORDER BY l_suppkey""".stripMargin),
    Gate("q_effect_sizes", (s, d) => {
      // per-day Cohen's d / Hedges' g / Cliff's delta between purchase
      // and view values — the how-big companion to q_welch_t on the
      // same frame; exact decimal moment sums, doubled-midrank delta
      val ev = readEventsNanos(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"), col("value"))
      operators.Stats.effectSizes(ev, "value", "event_type",
          "purchase", "view", Seq("day"), scale = 2)
        .orderBy(col("day"))
    },
      // Replays Stats.effectSizes on the welch frame: HUGEINT moment sums,
      // doubled-midrank U, the same fixed d/g/delta trees.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS arm,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS xi
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |r AS (
        |  SELECT day, arm, xi,
        |    2 * rank() OVER (PARTITION BY day ORDER BY xi)
        |      + count(*) OVER (PARTITION BY day, xi) - 1 AS r2
        |  FROM e),
        |g AS (
        |  SELECT day,
        |    CAST(count(CASE WHEN arm = 'purchase' THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN arm <> 'purchase' THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN arm = 'purchase' THEN r2 END) AS BIGINT) AS s2a,
        |    CAST(sum(CASE WHEN arm = 'purchase' THEN xi ELSE 0 END) AS HUGEINT) AS sa,
        |    CAST(sum(CASE WHEN arm = 'purchase' THEN xi * xi ELSE 0 END) AS HUGEINT) AS qa,
        |    CAST(sum(CASE WHEN arm <> 'purchase' THEN xi ELSE 0 END) AS HUGEINT) AS sb,
        |    CAST(sum(CASE WHEN arm <> 'purchase' THEN xi * xi ELSE 0 END) AS HUGEINT) AS qb
        |  FROM r GROUP BY day),
        |h AS (
        |  SELECT day, n_a, n_b, s2a,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(CAST(n_a AS HUGEINT) * qa - sa * sa AS DOUBLE) AS va,
        |    CAST(CAST(n_b AS HUGEINT) * qb - sb * sb AS DOUBLE) AS vb,
        |    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd
        |  FROM g),
        |t AS (
        |  SELECT day, n_a, n_b, na, nb,
        |    (sad / na - sbd / nb) /
        |      sqrt(CASE WHEN (va / na + vb / nb) / (na + nb - 2.0::DOUBLE)
        |            > 0.0::DOUBLE
        |        THEN (va / na + vb / nb) / (na + nb - 2.0::DOUBLE) END) AS d,
        |    (CAST(s2a AS DOUBLE) - na * (na + 1.0::DOUBLE)) / 2.0::DOUBLE AS u
        |  FROM h)
        |SELECT day, n_a, n_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN d END AS cohen_d,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
        |    d * (1.0::DOUBLE - 3.0::DOUBLE /
        |      (4.0::DOUBLE * (na + nb - 2.0::DOUBLE) - 1.0::DOUBLE))
        |  END AS hedges_g,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    (2.0::DOUBLE * u - na * nb) / (na * nb)
        |  END AS cliffs_delta
        |FROM t ORDER BY day""".stripMargin),
    Gate("q_cramers_v", (s, d) => {
      // order-status × order-priority association per order year — the
      // cross-table-comparable effect size over exact contingency
      // marginals; zero cells charged via the o²/e identity
      operators.Stats.cramersV(
          s.table("orders").withColumn("o_year",
            year(col("o_orderdate")).cast("long")),
          "o_orderstatus", "o_orderpriority", Seq("o_year"))
        .orderBy(col("o_year"))
    },
      // Replays Stats.cramersV on lineitem: one (status, flag, mode) cell
      // aggregate, window marginals, the o²/e − n zero-cell identity, the
      // ascending-(a,b) pinned fold.
      """WITH cells AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    o_orderstatus AS a, o_orderpriority AS b,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |wt AS (
        |  SELECT o_year, a, b, o,
        |    (CAST(o AS DOUBLE) * CAST(o AS DOUBLE)) /
        |      (CAST(sum(o) OVER (PARTITION BY o_year, a)
        |          * sum(o) OVER (PARTITION BY o_year, b) AS DOUBLE)
        |        / CAST(sum(o) OVER (PARTITION BY o_year) AS DOUBLE))
        |      AS t,
        |    sum(o) OVER (PARTITION BY o_year) AS tot
        |  FROM cells),
        |agg AS (
        |  SELECT o_year, CAST(max(tot) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT b) AS BIGINT) AS c,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      list(t ORDER BY a, b)), (acc, x) -> acc + x)
        |      - CAST(max(tot) AS DOUBLE) AS chi2
        |  FROM wt GROUP BY o_year)
        |SELECT o_year, n, (r - 1) * (c - 1) AS dof, chi2,
        |  CASE WHEN least(r, c) >= 2 THEN
        |    sqrt(chi2 / (CAST(n AS DOUBLE) *
        |      (CAST(least(r, c) AS DOUBLE) - 1.0::DOUBLE)))
        |  END AS cramers_v
        |FROM agg ORDER BY o_year""".stripMargin),
    Gate("q_kendall_w", (s, d) => {
      // per-returnflag concordance: how strongly supplier blocks agree
      // on the weekday quantity ranking — friedman's Q scaled to [0,1]
      val li = s.table("lineitem").select(col("l_returnflag"),
        col("l_suppkey"), dayofweek(col("l_shipdate")).as("dow"),
        col("l_quantity"))
      operators.Stats.kendallW(li, "l_quantity", "l_suppkey", "dow",
          k = 7, Seq("l_returnflag"), scale = 2)
        .orderBy(col("l_returnflag"))
    },
      // Replays Stats.kendallW: the friedman oracle with the final
      // Q/(n(k−1)) scaling.
      """WITH cells AS (
        |  SELECT l_returnflag, l_suppkey AS b,
        |    dayofweek(CAST(l_shipdate AS DATE)) AS v,
        |    CAST(sum(CAST(round(CAST(l_quantity AS DOUBLE)
        |      * 100.0::DOUBLE) AS BIGINT)) AS BIGINT) AS cell
        |  FROM lineitem GROUP BY 1, 2, 3),
        |cc AS (
        |  SELECT l_returnflag, b, v, cell
        |  FROM (SELECT *, CAST(count(*) OVER (PARTITION BY l_returnflag, b)
        |      AS BIGINT) AS nc FROM cells) t
        |  WHERE nc = 7),
        |ranked AS (
        |  SELECT l_returnflag, b, v,
        |    2 * rank() OVER (PARTITION BY l_returnflag, b ORDER BY cell)
        |      + CAST(count(*) OVER (PARTITION BY l_returnflag, b, cell)
        |        AS BIGINT) - 1 AS r2
        |  FROM cc),
        |pt AS (
        |  SELECT l_returnflag, v, CAST(sum(r2) AS BIGINT) AS rj2,
        |    CAST(count(*) AS BIGINT) AS nj,
        |    CAST(sum(r2 * r2) AS BIGINT) AS a2j
        |  FROM ranked GROUP BY 1, 2),
        |g AS (
        |  SELECT l_returnflag, CAST(max(nj) AS BIGINT) AS n_blocks,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(rj2 * rj2) AS BIGINT) AS sr2,
        |    CAST(sum(a2j) AS BIGINT) AS a2
        |  FROM pt GROUP BY 1)
        |SELECT l_returnflag, n_blocks, k,
        |  (CASE WHEN n_blocks >= 1 AND k = 7
        |      AND CAST(a2 - n_blocks * 448 AS DOUBLE) > 0.0::DOUBLE
        |    THEN (6.0::DOUBLE
        |        * CAST(sr2 - n_blocks * n_blocks * 448 AS DOUBLE))
        |      / CAST(a2 - n_blocks * 448 AS DOUBLE)
        |  END) / (CAST(n_blocks AS DOUBLE) * 6.0::DOUBLE) AS kendall_w
        |FROM g ORDER BY l_returnflag""".stripMargin),
    Gate("q_durbin_watson", (s, d) => {
      // per-supplier Durbin-Watson on the demeaned close — residual
      // autocorrelation in the form regressions quote; exact
      // n-multiplied demeaning, one ratio
      operators.Stats.durbinWatson(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.durbinWatson: quantized diffs and quadratic sums,
      // the n-multiplied mean-free numerator/denominator, one division.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1)
         |      OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS lx
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CASE WHEN lx IS NOT NULL
         |      THEN CAST(x - lx AS HUGEINT) * (x - lx)
         |      ELSE 0 END) AS sdd
         |  FROM s GROUP BY l_suppkey)
         |SELECT l_suppkey, n,
         |  CASE WHEN n >= 2
         |      AND CAST(CAST(n AS HUGEINT) * sxx
         |        - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0.0::DOUBLE THEN
         |    CAST(CAST(n AS HUGEINT) * sdd AS DOUBLE)
         |      / CAST(CAST(n AS HUGEINT) * sxx
         |        - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         |  END AS dw
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_cochran_armitage", (s, d) => {
      // does the purchase share of events trend across the week, per
      // user band — ordered-dose proportions, exact weighted sums
      val ev = readEventsNanos(s, d)
        .select(expr("user_id % 4").as("band"),
          dayofweek(expr("timestamp_micros(ts DIV 1000)")).as("dow"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("hit"))
      operators.Stats.cochranArmitage(ev, "hit", "dow", Seq("band"))
        .orderBy(col("band"))
    },
      // Replays Stats.cochranArmitage: exact weighted dose sums, the
      // n-multiplied numerator tree. DOW encodings differ by a constant
      // shift (DuckDB 0-6 vs Spark 1-7) — the CA statistic is invariant
      // to affine weight shifts, so the z values agree exactly.
      """WITH e AS (
        |  SELECT user_id % 4 AS band,
        |    CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS w,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |g AS (
        |  SELECT band, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT w) AS BIGINT) AS k_doses,
        |    CAST(sum(y) AS BIGINT) AS s,
        |    CAST(sum(w * y) AS BIGINT) AS ws,
        |    CAST(sum(w) AS BIGINT) AS wn,
        |    CAST(sum(w * w) AS BIGINT) AS wwn
        |  FROM e GROUP BY band),
        |h AS (
        |  SELECT band, n, k_doses,
        |    CAST(n * ws - wn * s AS DOUBLE) AS num,
        |    CAST(n * wwn - wn * wn AS DOUBLE) AS cw,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g)
        |SELECT band, n, k_doses,
        |  CASE WHEN n >= 1
        |      AND pbar * (1.0::DOUBLE - pbar) * cw * nd > 0.0::DOUBLE THEN
        |    num / sqrt(pbar * (1.0::DOUBLE - pbar) * cw * nd)
        |  END AS ca_z
        |FROM h ORDER BY band""".stripMargin),
    Gate("q_bland_altman", (s, d) => {
      // per-supplier Bland-Altman: does the open agree with the close
      // as a price measurement — bias and 95% limits of agreement
      operators.Stats.blandAltman(dailyBars(s), "close", "open",
          Seq("l_suppkey"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.blandAltman: quantized differences, exact sums,
      // the bias/sd/limit trees with the 1.96 literal.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |      - CAST(round(open * 100.0::DOUBLE) AS BIGINT) AS d
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(d) AS BIGINT) AS sd1,
         |    CAST(sum(CAST(d AS HUGEINT) * d) AS BIGINT) AS sdd
         |  FROM s GROUP BY l_suppkey
         |), h AS (
         |  SELECT l_suppkey, n,
         |    (CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0::DOUBLE
         |      AS bias,
         |    sqrt((CASE WHEN CAST(n * sdd - sd1 * sd1 AS DOUBLE)
         |          > 0.0::DOUBLE
         |        THEN CAST(n * sdd - sd1 * sd1 AS DOUBLE) END)
         |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
         |      / 100.0::DOUBLE AS sdv
         |  FROM g)
         |SELECT l_suppkey, n,
         |  CASE WHEN n >= 1 THEN bias END AS ba_bias,
         |  CASE WHEN n >= 2 THEN sdv END AS ba_sd,
         |  CASE WHEN n >= 2 THEN bias - 1.96::DOUBLE * sdv END AS ba_lower,
         |  CASE WHEN n >= 2 THEN bias + 1.96::DOUBLE * sdv END AS ba_upper
         |FROM h ORDER BY l_suppkey""".stripMargin),
    Gate("q_cpk", (s, d) => {
      // per-supplier process capability of the close against the
      // [1, 55] quantity spec band — the SPC acceptance numbers
      operators.Stats.processCapability(dailyBars(s), "close",
          Seq("l_suppkey"), lsl = 1.0, usl = 55.0, scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.processCapability: quantized sums, the mu/sigma
      // trees, literal spec limits on the same grid.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx
         |  FROM s GROUP BY l_suppkey
         |), h AS (
         |  SELECT l_suppkey, n,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |    sqrt((CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE)
         |          > 0.0::DOUBLE
         |        THEN CAST(n * sxx - sx * sx AS DOUBLE) END)
         |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
         |      AS sigma
         |  FROM g)
         |SELECT l_suppkey, n,
         |  CASE WHEN n >= 2 THEN
         |    (5500.0::DOUBLE - 100.0::DOUBLE) / (6.0::DOUBLE * sigma)
         |  END AS cp,
         |  CASE WHEN n >= 2 THEN
         |    least(5500.0::DOUBLE - mu, mu - 100.0::DOUBLE)
         |      / (3.0::DOUBLE * sigma)
         |  END AS cpk
         |FROM h ORDER BY l_suppkey""".stripMargin),
    Gate("q_odds_ratio", (s, d) => {
      // per-day odds/risk ratio of clearing 100 for purchases vs views
      // — the effect-size companion to q_prop_z on the same 2x2
      val ev = readEventsNanos(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"),
          when(col("value") > lit(100.0), lit(1L)).otherwise(lit(0L))
            .as("hit"))
      operators.Stats.oddsRiskRatio(ev, "hit", "event_type",
          "purchase", "view", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Stats.oddsRiskRatio: exact 2x2 cells, single-ratio OR/RR
      // trees, rounded ln, the Woolf se tree.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS arm,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS y
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |g AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN arm = 'purchase' THEN y ELSE 0 END)
        |      AS BIGINT) AS s_a,
        |    CAST(sum(CASE WHEN arm = 'purchase' THEN 1 - y ELSE 0 END)
        |      AS BIGINT) AS f_a,
        |    CAST(sum(CASE WHEN arm <> 'purchase' THEN y ELSE 0 END)
        |      AS BIGINT) AS s_b,
        |    CAST(sum(CASE WHEN arm <> 'purchase' THEN 1 - y ELSE 0 END)
        |      AS BIGINT) AS f_b
        |  FROM e GROUP BY day)
        |SELECT day, s_a, f_a, s_b, f_b,
        |  CASE WHEN s_a > 0 AND f_a > 0 AND s_b > 0 AND f_b > 0 THEN
        |    (CAST(s_a AS DOUBLE) * CAST(f_b AS DOUBLE))
        |      / (CAST(f_a AS DOUBLE) * CAST(s_b AS DOUBLE)) END
        |    AS odds_ratio,
        |  CASE WHEN s_a > 0 AND f_a > 0 AND s_b > 0 AND f_b > 0 THEN
        |    round(ln((CAST(s_a AS DOUBLE) * CAST(f_b AS DOUBLE))
        |      / (CAST(f_a AS DOUBLE) * CAST(s_b AS DOUBLE))), 10)
        |      + 0.0::DOUBLE END AS log_or,
        |  CASE WHEN s_a > 0 AND f_a > 0 AND s_b > 0 AND f_b > 0 THEN
        |    sqrt(1.0::DOUBLE / CAST(s_a AS DOUBLE)
        |      + 1.0::DOUBLE / CAST(f_a AS DOUBLE)
        |      + 1.0::DOUBLE / CAST(s_b AS DOUBLE)
        |      + 1.0::DOUBLE / CAST(f_b AS DOUBLE)) END AS se_log_or,
        |  CASE WHEN s_a + f_a > 0 AND s_b + f_b > 0 AND s_b > 0 THEN
        |    (CAST(s_a AS DOUBLE)
        |        / (CAST(s_a AS DOUBLE) + CAST(f_a AS DOUBLE)))
        |      / (CAST(s_b AS DOUBLE)
        |        / (CAST(s_b AS DOUBLE) + CAST(f_b AS DOUBLE))) END
        |    AS risk_ratio
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_prop_z", (s, d) => {
      // per-day two-proportion z: do purchase events clear the 100 mark
      // at a different rate than view events — THE conversion A/B tree
      val ev = readEventsNanos(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"),
          when(col("value") > lit(100.0), lit(1L)).otherwise(lit(0L))
            .as("hit"))
      operators.Stats.twoProportionZ(ev, "hit", "event_type",
          "purchase", "view", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Stats.twoProportionZ: exact success/total counts, the
      // pooled-rate z tree.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS arm,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS y
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |g AS (
        |  SELECT day,
        |    CAST(count(CASE WHEN arm = 'purchase' THEN 1 END) AS BIGINT)
        |      AS na,
        |    CAST(count(CASE WHEN arm <> 'purchase' THEN 1 END) AS BIGINT)
        |      AS nb,
        |    CAST(sum(CASE WHEN arm = 'purchase' THEN y ELSE 0 END)
        |      AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN arm <> 'purchase' THEN y ELSE 0 END)
        |      AS BIGINT) AS sb
        |  FROM e GROUP BY day),
        |h AS (
        |  SELECT day, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
        |    CAST(sa + sb AS DOUBLE)
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS pooled
        |  FROM g)
        |SELECT day, na AS n_a, nb AS n_b,
        |  CASE WHEN na >= 1 THEN pa END AS rate_a,
        |  CASE WHEN nb >= 1 THEN pb END AS rate_b,
        |  CASE WHEN na >= 1 AND nb >= 1
        |      AND pooled * (1.0::DOUBLE - pooled)
        |        * (1.0::DOUBLE / CAST(na AS DOUBLE)
        |          + 1.0::DOUBLE / CAST(nb AS DOUBLE)) > 0.0::DOUBLE THEN
        |    (pa - pb) / sqrt(pooled * (1.0::DOUBLE - pooled)
        |      * (1.0::DOUBLE / CAST(na AS DOUBLE)
        |        + 1.0::DOUBLE / CAST(nb AS DOUBLE)))
        |  END AS prop_z
        |FROM h ORDER BY day""".stripMargin),
    Gate("q_hhi", (s, d) => {
      // supplier-revenue concentration per nation (HHI) — exact member
      // totals through a broadcast dim join, one double division
      val li = s.table("lineitem")
        .join(s.table("supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey"), col("l_suppkey"),
          col("l_extendedprice"))
      operators.Stats.hhi(li, "l_extendedprice", "l_suppkey",
          Seq("s_nationkey"), scale = 2)
        .orderBy(col("s_nationkey"))
    },
      // Replays Stats.hhi: exact member revenue totals, HUGEINT squares
      // VARCHAR-bridged past 2^53, one division.
      """WITH j AS (
        |  SELECT s.s_nationkey, l.l_suppkey,
        |    CAST(round(CAST(l.l_extendedprice AS DOUBLE) * 100.0::DOUBLE)
        |      AS BIGINT) AS x
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |pm AS (
        |  SELECT s_nationkey, l_suppkey, CAST(sum(x) AS BIGINT) AS vm
        |  FROM j GROUP BY s_nationkey, l_suppkey),
        |g AS (
        |  SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(vm) AS BIGINT) AS tot,
        |    sum(CAST(vm AS HUGEINT) * vm) AS sq
        |  FROM pm GROUP BY s_nationkey)
        |SELECT s_nationkey, n_members,
        |  CAST(tot AS DOUBLE) / 100.0::DOUBLE AS total,
        |  CASE WHEN tot > 0 THEN
        |    CAST(CAST(sq AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(CAST(tot AS HUGEINT) * tot AS VARCHAR) AS DOUBLE)
        |  END AS hhi
        |FROM g ORDER BY s_nationkey""".stripMargin),
    Gate("q_pacf", (s, d) => {
      // per-supplier partial autocorrelation at lags 1-3 — the exact
      // integer rho ratios through the unrolled Durbin-Levinson trees
      operators.Stats.pacf(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.pacf: the ljungBox integer rho machinery for k=1..3,
      // then the unrolled Durbin-Levinson trees with the same NULL-guarded
      // denominators.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |${(1 to 3).map(k =>
           s"    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), $k) " +
             s"OVER ws AS l$k").mkString(",\n")}
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(x*x) AS HUGEINT) AS s2,
         |${(1 to 3).map(k =>
           s"    CAST(sum(CASE WHEN l$k IS NOT NULL THEN x*l$k ELSE 0 END) AS HUGEINT) AS c$k,\n" +
           s"    CAST(sum(CASE WHEN l$k IS NOT NULL THEN x+l$k ELSE 0 END) AS HUGEINT) AS p$k")
           .mkString(",\n")}
         |  FROM s GROUP BY l_suppkey),
         |h AS (
         |  SELECT l_suppkey, n,
         |    CASE WHEN CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * s2 - sx * sx) AS DOUBLE) > 0.0::DOUBLE
         |      THEN CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * s2 - sx * sx) AS DOUBLE) END AS bden,
         |${(1 to 3).map(k =>
           s"    CAST(CAST(n AS HUGEINT)*CAST(n AS HUGEINT)*c$k - CAST(n AS HUGEINT)*sx*p$k + (CAST(n AS HUGEINT) - $k)*sx*sx AS DOUBLE) AS a$k")
           .mkString(",\n")}
         |  FROM g),
         |rho AS (
         |  SELECT l_suppkey, n,
         |    a1 / bden AS r1, a2 / bden AS r2, a3 / bden AS r3
         |  FROM h),
         |dl AS (
         |  SELECT l_suppkey, n, r1, r3,
         |    (r2 - r1 * r1) /
         |      (CASE WHEN (1.0::DOUBLE - r1 * r1) <> 0.0::DOUBLE
         |        THEN 1.0::DOUBLE - r1 * r1 END) AS phi22,
         |    r2
         |  FROM rho),
         |dl2 AS (
         |  SELECT l_suppkey, n, r1, r2, r3, phi22,
         |    r1 - phi22 * r1 AS phi21
         |  FROM dl)
         |SELECT l_suppkey, n,
         |  CASE WHEN n > 1 THEN r1 END AS pacf_1,
         |  CASE WHEN n > 2 THEN phi22 END AS pacf_2,
         |  CASE WHEN n > 3 THEN
         |    (r3 - phi21 * r2 - phi22 * r1) /
         |      (CASE WHEN (1.0::DOUBLE - phi21 * r1 - phi22 * r2) <> 0.0::DOUBLE
         |        THEN 1.0::DOUBLE - phi21 * r1 - phi22 * r2 END)
         |  END AS pacf_3
         |FROM dl2 ORDER BY l_suppkey""".stripMargin),
    Gate("q_theil_sen", (s, d) => {
      // daily cross-sectional Theil-Sen fit of next-day move on 5-day
      // momentum over the bounded 100-supplier panel — the robust twin
      // of q_corr_regress on the q_kendall signal frame
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val sig = dailyBars(s).filter(col("l_suppkey") < 100)
        .select(col("l_suppkey"), col("l_shipdate"),
          (col("close") - lag(col("close"), 5).over(w)).as("mom"),
          (lead(col("close"), 1).over(w) - col("close")).as("fwd"))
      operators.Stats.theilSen(sig, Seq("l_shipdate"), "mom", "fwd",
          scale = 2)
        .orderBy(col("l_shipdate"))
    },
      // Replays Stats.theilSen on the bounded panel: rank-ordered pair
      // slopes, the ⌊(m+1)/2⌋ / ⌊m/2⌋+1 middle selection, the residual
      // median for the intercept.
      s"""WITH bars AS (
         |$duckBarsSql
         |), sig AS (
         |  SELECT l_suppkey, l_shipdate,
         |    close - lag(close, 5) OVER ws AS mom,
         |    lead(close, 1) OVER ws - close AS fwd
         |  FROM bars WHERE l_suppkey < 100
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |base AS (
         |  SELECT l_shipdate,
         |    CAST(round(mom * 100.0::DOUBLE) AS BIGINT) AS xi,
         |    CAST(round(fwd * 100.0::DOUBLE) AS BIGINT) AS yi,
         |    row_number() OVER (PARTITION BY l_shipdate ORDER BY
         |      CAST(round(mom * 100.0::DOUBLE) AS BIGINT),
         |      CAST(round(fwd * 100.0::DOUBLE) AS BIGINT)) AS rn
         |  FROM sig WHERE mom IS NOT NULL AND fwd IS NOT NULL),
         |slopes AS (
         |  SELECT a.l_shipdate,
         |    CAST(b.yi - a.yi AS DOUBLE) / CAST(b.xi - a.xi AS DOUBLE) AS sl,
         |    a.rn AS ri, b.rn AS rj
         |  FROM base a JOIN base b
         |    ON a.l_shipdate = b.l_shipdate AND a.rn < b.rn
         |  WHERE b.xi <> a.xi),
         |ranked AS (
         |  SELECT l_shipdate, sl,
         |    row_number() OVER (PARTITION BY l_shipdate
         |      ORDER BY sl, ri, rj) AS r,
         |    count(*) OVER (PARTITION BY l_shipdate) AS m
         |  FROM slopes),
         |med AS (
         |  SELECT l_shipdate, CAST(max(m) AS BIGINT) AS n_slopes,
         |    sum(sl) / CAST(count(*) AS DOUBLE) AS ts_slope
         |  FROM ranked
         |  WHERE r = (m + 1 - (m + 1) % 2) // 2 OR r = (m - m % 2) // 2 + 1
         |  GROUP BY l_shipdate),
         |withs AS (
         |  SELECT base.l_shipdate, base.rn,
         |    CAST(base.yi AS DOUBLE) / 100.0::DOUBLE
         |      - med.ts_slope * (CAST(base.xi AS DOUBLE) / 100.0::DOUBLE)
         |      AS res,
         |    med.n_slopes, med.ts_slope
         |  FROM base LEFT JOIN med ON base.l_shipdate = med.l_shipdate),
         |rres AS (
         |  SELECT l_shipdate, res, n_slopes, ts_slope,
         |    row_number() OVER (PARTITION BY l_shipdate ORDER BY res, rn)
         |      AS r,
         |    count(*) OVER (PARTITION BY l_shipdate) AS m
         |  FROM withs)
         |SELECT l_shipdate, CAST(max(m) AS BIGINT) AS n,
         |  coalesce(max(n_slopes), 0) AS n_slopes,
         |  max(ts_slope) AS ts_slope,
         |  sum(res) / CAST(count(*) AS DOUBLE) AS ts_intercept
         |FROM rres
         |WHERE r = (m + 1 - (m + 1) % 2) // 2 OR r = (m - m % 2) // 2 + 1
         |GROUP BY l_shipdate ORDER BY l_shipdate""".stripMargin),
    Gate("q_ljung_box", (s, d) => {
      // per-supplier Ljung-Box Q at m=5 on the close series — the
      // residual-whiteness screen; all five lag shifts on one keyed
      // sort, exact integer rho numerators, fixed k-fold for Q
      operators.Stats.ljungBox(dailyBarsW(s), "close", Seq("l_suppkey"),
          Seq("l_shipdate"), m = 5, scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Stats.ljungBox: five lag shifts on the keyed sort, exact
      // HUGEINT rho numerators A_k = n²C_k − nSP_k + (n−k)S², B = n(nΣx²−S²),
      // the same left-to-right k-fold for Q.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |${(1 to 5).map(k =>
           s"    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), $k) " +
             s"OVER ws AS l$k").mkString(",\n")}
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS s, CAST(sum(x*x) AS HUGEINT) AS s2,
         |${(1 to 5).map(k =>
           s"    CAST(sum(CASE WHEN l$k IS NOT NULL THEN x*l$k ELSE 0 END) AS HUGEINT) AS c$k,\n" +
           s"    CAST(sum(CASE WHEN l$k IS NOT NULL THEN x+l$k ELSE 0 END) AS HUGEINT) AS p$k")
           .mkString(",\n")}
         |  FROM s GROUP BY l_suppkey),
         |h AS (
         |  SELECT l_suppkey, n,
         |    CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * s2 - s * s) AS DOUBLE) AS bden,
         |${(1 to 5).map(k =>
           s"    CAST(CAST(n AS HUGEINT)*CAST(n AS HUGEINT)*c$k - CAST(n AS HUGEINT)*s*p$k + (CAST(n AS HUGEINT) - $k)*s*s AS DOUBLE) AS a$k")
           .mkString(",\n")}
         |  FROM g)
         |SELECT l_suppkey, n,
         |  CASE WHEN n > 5 AND bden > 0.0::DOUBLE THEN
         |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0::DOUBLE) *
         |    (${(1 to 5).map(k =>
              s"(a$k/bden)*(a$k/bden)/CAST(n - $k AS DOUBLE)")
              .mkString(" + ")})
         |  END AS q_stat
         |FROM h ORDER BY l_suppkey""".stripMargin),
    Gate("q_kendall", (s, d) => {
      // daily cross-sectional Kendall tau-b of 5-day momentum vs
      // next-day move over a BOUNDED 100-supplier panel (the operator's
      // within-group O(n^2) contract) — the concordance twin of q_ic
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val sig = dailyBars(s).filter(col("l_suppkey") < 100)
        .select(col("l_suppkey"), col("l_shipdate"),
          (col("close") - lag(col("close"), 5).over(w)).as("mom"),
          (lead(col("close"), 1).over(w) - col("close")).as("fwd"))
      operators.Stats.kendallTau(sig, Seq("l_shipdate"), "mom", "fwd",
          scale = 2)
        .orderBy(col("l_shipdate"))
    },
      // Replays Stats.kendallTau on the bounded panel: quantized signals,
      // rank-ordered self-join (rn_i < rn_j), exact pair-class counts, the
      // tau-b tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), sig AS (
         |  SELECT l_suppkey, l_shipdate,
         |    close - lag(close, 5) OVER ws AS mom,
         |    lead(close, 1) OVER ws - close AS fwd
         |  FROM bars WHERE l_suppkey < 100
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |base AS (
         |  SELECT l_shipdate,
         |    CAST(round(mom * 100.0::DOUBLE) AS BIGINT) AS xi,
         |    CAST(round(fwd * 100.0::DOUBLE) AS BIGINT) AS yi,
         |    row_number() OVER (PARTITION BY l_shipdate ORDER BY
         |      CAST(round(mom * 100.0::DOUBLE) AS BIGINT),
         |      CAST(round(fwd * 100.0::DOUBLE) AS BIGINT)) AS rn
         |  FROM sig WHERE mom IS NOT NULL AND fwd IS NOT NULL),
         |pairs AS (
         |  SELECT a.l_shipdate, a.xi - b.xi AS dx, a.yi - b.yi AS dy
         |  FROM base a JOIN base b
         |    ON a.l_shipdate = b.l_shipdate AND a.rn < b.rn),
         |counts AS (
         |  SELECT l_shipdate, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(count(CASE WHEN dx <> 0 AND dy <> 0
         |      AND (dx > 0) = (dy > 0) THEN 1 END) AS BIGINT) AS c,
         |    CAST(count(CASE WHEN dx <> 0 AND dy <> 0
         |      AND (dx > 0) <> (dy > 0) THEN 1 END) AS BIGINT) AS d,
         |    CAST(count(CASE WHEN dx = 0 AND dy <> 0 THEN 1 END) AS BIGINT) AS tx,
         |    CAST(count(CASE WHEN dx <> 0 AND dy = 0 THEN 1 END) AS BIGINT) AS ty
         |  FROM pairs GROUP BY l_shipdate),
         |ns AS (
         |  SELECT l_shipdate, CAST(count(*) AS BIGINT) AS n
         |  FROM base GROUP BY l_shipdate)
         |SELECT ns.l_shipdate, ns.n,
         |  coalesce(counts.n_pairs, 0) AS n_pairs,
         |  CASE WHEN CAST(c + d + tx AS DOUBLE) > 0.0::DOUBLE
         |        AND CAST(c + d + ty AS DOUBLE) > 0.0::DOUBLE
         |  THEN CAST(c - d AS DOUBLE) /
         |    sqrt(CAST(c + d + tx AS DOUBLE) * CAST(c + d + ty AS DOUBLE))
         |  END AS tau
         |FROM ns LEFT JOIN counts ON ns.l_shipdate = counts.l_shipdate
         |ORDER BY ns.l_shipdate""".stripMargin),
    Gate("q_bh_adjust", (s, d) => {
      // Benjamini-Hochberg over a per-type battery: each event's p is
      // its exact fractional rank of value within the type (a
      // deterministic rational), then the step-up suffix-min adjustment
      val fw = Window.partitionBy(col("event_type"))
      val ow = fw.orderBy(col("value"), col("event_id"))
      val p = (row_number().over(ow) - lit(1)).cast("double") /
        (count(lit(1)).over(fw) - lit(1)).cast("double")
      val base = readEventsNanos(s, d)
        .select(col("event_type"), col("event_id"), p.as("p"))
      operators.Stats.bhAdjust(base, Seq("event_type"), "p", "event_id",
          alpha = 0.05)
        .select(col("event_type"), col("event_id"), col("p"),
          col("p_rank").cast("long").as("p_rank"), col("p_adj"),
          col("significant"))
        .orderBy(col("event_type"), col("event_id"))
    },
      // Replays the q_bh_adjust composition: the exact fractional-rank p,
      // then BH's (p·m)/rank candidates and the suffix-min window.
      """WITH base AS (
        |  SELECT event_type, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |        ORDER BY value, event_id) - 1 AS DOUBLE) /
        |      CAST(count(*) OVER (PARTITION BY event_type) - 1 AS DOUBLE)
        |      AS p
        |  FROM events),
        |r AS (
        |  SELECT event_type, event_id, p,
        |    CAST(count(p) OVER (PARTITION BY event_type) AS DOUBLE) AS m,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY p, event_id) AS BIGINT) AS p_rank
        |  FROM base),
        |c AS (
        |  SELECT event_type, event_id, p, p_rank,
        |    least(1.0::DOUBLE, min((p * m) / CAST(p_rank AS DOUBLE)) OVER
        |      (PARTITION BY event_type ORDER BY p, event_id
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS p_adj
        |  FROM r)
        |SELECT event_type, event_id, p, p_rank, p_adj,
        |  p_adj <= 0.05::DOUBLE AS significant
        |FROM c ORDER BY event_type, event_id""".stripMargin),
    Gate("q_anova", (s, d) => {
      // per-day one-way ANOVA F across all five event types — the k-arm
      // mean-shift readout beside q_welch_t; exact per-variant integer
      // sums in one pass, variant-ordered fold for the one double
      // reduction (B = sum s_g^2/n_g)
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"), col("value"))
      operators.Stats.anovaF(ev, "value", "event_type", Seq("day"), scale = 2)
        .orderBy(col("day"))
    },
      // Replays Stats.anovaF: per-(day, variant) exact scaled-BIGINT sums,
      // variant-ordered term fold for B, the same fixed SSB/SSW/F trees.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS v,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS x
        |  FROM events),
        |pv AS (
        |  SELECT day, v, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(x) AS BIGINT) AS sg,
        |    CAST(sum(x * x) AS BIGINT) AS qg
        |  FROM e GROUP BY day, v),
        |f AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(CAST(sum(sg) AS BIGINT) AS DOUBLE) AS sd,
        |    CAST(sum(qg) AS DOUBLE) AS q,
        |    list_reduce(list_transform(
        |        list(struct_pack(v := v, ng := ng, sg := sg) ORDER BY v),
        |        s -> CAST(s.sg AS DOUBLE) * CAST(s.sg AS DOUBLE)
        |          / CAST(s.ng AS DOUBLE)),
        |      (a, b) -> a + b) AS b
        |  FROM pv GROUP BY day),
        |g AS (
        |  SELECT day, k, n, CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd,
        |    b - sd * sd / CAST(n AS DOUBLE) AS ssb, q - b AS ssw
        |  FROM f)
        |SELECT day, k, n,
        |  CASE WHEN k >= 2 AND nd > kd AND ssw > 0.0::DOUBLE THEN
        |    (ssb / (kd - 1.0::DOUBLE)) / (ssw / (nd - kd)) END AS f,
        |  ssb AS ss_between, ssw AS ss_within
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_kruskal", (s, d) => {
      // per-day Kruskal–Wallis H across the five event types — the
      // nonparametric k-arm companion (doubled average ranks, per-row
      // tie correction, variant-ordered fold)
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"), col("value"))
      operators.Stats.kruskalWallis(ev, "value", "event_type", Seq("day"),
          scale = 2)
        .orderBy(col("day"))
    },
      // Replays Stats.kruskalWallis: pooled doubled average ranks (exact
      // integers under ties), per-row t^2-1 tie term, variant-ordered
      // fold of rg^2/ng, H = 3*fold/(N(N+1)) - 3(N+1), tie-corrected.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS v,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS x
        |  FROM events),
        |r AS (
        |  SELECT day, v,
        |    CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) AS t,
        |    2 * CAST(rank() OVER (PARTITION BY day ORDER BY x) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) - 1 AS r2
        |  FROM e),
        |pv AS (
        |  SELECT day, v, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(r2) AS BIGINT) AS rg,
        |    CAST(sum(t * t - 1) AS BIGINT) AS tc
        |  FROM r GROUP BY day, v),
        |f AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(CAST(sum(tc) AS BIGINT) AS DOUBLE) AS tcd,
        |    list_reduce(list_transform(
        |        list(struct_pack(v := v, ng := ng, rg := rg) ORDER BY v),
        |        s -> CAST(s.rg AS DOUBLE) * CAST(s.rg AS DOUBLE)
        |          / CAST(s.ng AS DOUBLE)),
        |      (a, b) -> a + b) AS fold
        |  FROM pv GROUP BY day),
        |g AS (
        |  SELECT day, k, n, CAST(n AS DOUBLE) AS nd, fold, tcd FROM f),
        |h AS (
        |  SELECT day, k, n,
        |    3.0::DOUBLE * fold / (nd * (nd + 1.0::DOUBLE))
        |      - 3.0::DOUBLE * (nd + 1.0::DOUBLE) AS hraw,
        |    1.0::DOUBLE - tcd / (nd * nd * nd - nd) AS corr
        |  FROM g)
        |SELECT day, k, n,
        |  CASE WHEN k >= 2 AND corr > 0.0::DOUBLE THEN hraw / corr END AS h
        |FROM h ORDER BY day""".stripMargin),
    Gate("q_mutual_info", (s, d) => {
      // binned mutual information between shipment quantity and extended
      // price (10×10 grid) — numeric-pair dependence screen; one row per
      // occupied cell, callers sum mi_term for the scalar
      operators.Stats.mutualInfoBins(s.table("lineitem"),
          "l_quantity", "l_extendedprice",
          nBinsX = 10, loX = 0.0, hiX = 50.0,
          nBinsY = 10, loY = 0.0, hiY = 110000.0)
        .orderBy(col("bin_x"), col("bin_y"))
    },
      // Replays Stats.mutualInfoBins: same clamped 10×10 grid, margins from
      // the cells frame, one rounded ln of the n_xy·N/(n_x·n_y) rational.
      """WITH b AS (
        |  SELECT LEAST(9, GREATEST(0, CAST(floor((l_quantity - 0.0) / 5.0) AS INT))) AS bin_x,
        |    LEAST(9, GREATEST(0, CAST(floor((l_extendedprice - 0.0) / 11000.0) AS INT))) AS bin_y
        |  FROM lineitem),
        |cells AS (SELECT bin_x, bin_y, CAST(count(*) AS BIGINT) AS n_xy
        |          FROM b GROUP BY 1, 2),
        |mx AS (SELECT bin_x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
        |my AS (SELECT bin_y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS t FROM cells)
        |SELECT bin_x, bin_y, n_xy, n_x, n_y,
        |  (CAST(n_xy AS DOUBLE) / CAST(t AS DOUBLE)) *
        |    (round(ln(CAST(n_xy * t AS DOUBLE) / CAST(n_x * n_y AS DOUBLE)), 10) + 0.0)
        |    AS mi_term
        |FROM cells JOIN mx USING (bin_x) JOIN my USING (bin_y), tot
        |ORDER BY bin_x, bin_y""".stripMargin),
    Gate("q_welch_t", (s, d) => {
      // per-day Welch's t between purchase and view event values — the
      // A/B metric readout; scale=2 makes the sufficient statistics
      // exact scaled-BIGINT sums (events carry 2-dp values), so t and
      // the Welch–Satterthwaite df replay bit-for-bit
      val ev = readEventsNanos(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"), col("value"))
      operators.Stats.welchT(ev, "value", "event_type",
          "purchase", "view", Seq("day"), scale = 2)
        .orderBy(col("day"))
    },
      // Replays Stats.welchT at scale=2: identical scaled-BIGINT sufficient
      // statistics, identically-parenthesized closed forms (every IEEE op
      // in the same order), NULL when an arm has < 2 rows or the standard
      // error is zero.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS v,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |s AS (
        |  SELECT day,
        |    CAST(count(*) FILTER (WHERE v = 'purchase') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (WHERE v = 'view') AS BIGINT) AS n_b,
        |    CAST(sum(x) FILTER (WHERE v = 'purchase') AS BIGINT) AS sa,
        |    CAST(sum(x) FILTER (WHERE v = 'view') AS BIGINT) AS sb,
        |    CAST(sum(x * x) FILTER (WHERE v = 'purchase') AS BIGINT) AS qa,
        |    CAST(sum(x * x) FILTER (WHERE v = 'view') AS BIGINT) AS qb
        |  FROM e GROUP BY day),
        |f AS (
        |  SELECT day, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
        |    CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd
        |  FROM s),
        |g AS (
        |  SELECT day, n_a, n_b, na, nb, sad, sbd,
        |    ((qad - sad * sad / na) / (na - 1.0)) / na AS sea,
        |    ((qbd - sbd * sbd / nb) / (nb - 1.0)) / nb AS seb
        |  FROM f)
        |SELECT day, n_a, n_b,
        |  sad / na / 100.0::DOUBLE AS mean_a,
        |  sbd / nb / 100.0::DOUBLE AS mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (sea + seb) > 0.0 THEN
        |    (sad / na - sbd / nb) / sqrt(sea + seb) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND (sea + seb) > 0.0 THEN
        |    (sea + seb) * (sea + seb) /
        |      (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)) END AS df_welch
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_corr_matrix", (s, d) => {
      // pairwise close-correlation matrix over a BOUNDED universe — the
      // top-100 suppliers by total traded volume (deterministic suppkey
      // tie-break), the documented mitigation for the K²-by-construction
      // pair growth (an unbounded K would quadruple pairs per corpus
      // doubling; the 10× scale probe OOM-proved it). ONE date-co-located
      // self-join, five BIGINT sums per pair, the corrBeta clamp tree.
      val bars = dailyBars(s)
      val universe = bars.groupBy(col("l_suppkey"))
        .agg(sum(round(col("volume") * 100).cast("long")).as("__vol"))
        .orderBy(col("__vol").desc, col("l_suppkey"))
        .limit(100).select("l_suppkey")
      operators.Stats.pairwiseCorr(bars.join(broadcast(universe), "l_suppkey"),
          "l_suppkey", "l_shipdate", "close", minOverlap = 30)
        .orderBy(col("key_a"), col("key_b"))
    },
      // Correlation-matrix replay: the same date-equi self-join (keyA <
      // keyB), BIGINT five-sums, and the corrBeta clamp tree per pair.
      s"""WITH bars AS (
         |$duckBarsSql
         |), uni AS (
         |  SELECT l_suppkey FROM (
         |    SELECT l_suppkey,
         |      sum(CAST(round(volume * 100.0::DOUBLE) AS BIGINT)) AS vol
         |    FROM bars GROUP BY l_suppkey)
         |  ORDER BY vol DESC, l_suppkey LIMIT 100
         |), b AS (
         |  SELECT l_suppkey AS k, l_shipdate AS d,
         |    CAST(round(close) AS BIGINT) AS x
         |  FROM bars WHERE l_suppkey IN (SELECT l_suppkey FROM uni)
         |), s AS (
         |  SELECT a.k AS key_a, c.k AS key_b,
         |    CAST(count(*) AS BIGINT) AS n_overlap,
         |    CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(c.x) AS BIGINT) AS sy,
         |    CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
         |    CAST(sum(c.x * c.x) AS BIGINT) AS syy,
         |    CAST(sum(a.x * c.x) AS BIGINT) AS sxy
         |  FROM b a JOIN b c ON c.d = a.d AND a.k < c.k
         |  GROUP BY 1, 2
         |), f AS (
         |  SELECT key_a, key_b, n_overlap,
         |    CAST(n_overlap * sxy - sx * sy AS DOUBLE) AS num,
         |    CAST(n_overlap * sxx - sx * sx AS DOUBLE) AS dx,
         |    CAST(n_overlap * syy - sy * sy AS DOUBLE) AS dy
         |  FROM s WHERE n_overlap >= 30
         |)
         |SELECT key_a, key_b, n_overlap,
         |  CASE WHEN dx > 0.0 AND dy > 0.0 THEN
         |    greatest(-1.0::DOUBLE, least(1.0::DOUBLE,
         |      num / (sqrt(dx) * sqrt(dy)))) END AS corr
         |FROM f ORDER BY key_a, key_b""".stripMargin),
    Gate("q_mann_whitney", (s, d) => {
      // per-day Mann–Whitney U between purchase and view values — the
      // nonparametric A/B readout beside q_welch_t; doubled average
      // ranks keep the whole rank layer exact integers
      val ev = readEventsNanos(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select(expr("ts DIV 86400000000000").as("day"),
          col("event_type"), col("value"))
      operators.Stats.mannWhitney(ev, "value", "event_type",
          "purchase", "view", Seq("day"), scale = 2)
        .orderBy(col("day"))
    },
      // Mann–Whitney replay: doubled average ranks (2·rank + tie − 1) over
      // the pooled per-day sample, per-row t²−1 tie accumulation, then the
      // exact z tree — every op in Stats.mannWhitney order.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    event_type AS v,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |r AS (
        |  SELECT day, v,
        |    CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) AS t,
        |    2 * CAST(rank() OVER (PARTITION BY day ORDER BY x) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY day, x) AS BIGINT) - 1 AS r2
        |  FROM e),
        |s AS (
        |  SELECT day,
        |    CAST(count(*) FILTER (WHERE v = 'purchase') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (WHERE v = 'view') AS BIGINT) AS n_b,
        |    CAST(sum(r2) FILTER (WHERE v = 'purchase') AS BIGINT) AS s2a,
        |    CAST(sum(t * t - 1) AS BIGINT) AS tc
        |  FROM r GROUP BY day),
        |f AS (
        |  SELECT day, n_a, n_b, CAST(n_a AS DOUBLE) AS na,
        |    CAST(n_b AS DOUBLE) AS nb, CAST(s2a AS DOUBLE) AS s2ad,
        |    CAST(tc AS DOUBLE) AS tcd
        |  FROM s),
        |g AS (
        |  SELECT day, n_a, n_b, na, nb,
        |    (s2ad - na * (na + 1.0::DOUBLE)) / 2.0::DOUBLE AS u,
        |    (na * nb / 12.0::DOUBLE) * ((na + nb + 1.0::DOUBLE)
        |      - tcd / ((na + nb) * (na + nb - 1.0::DOUBLE))) AS sig2
        |  FROM f)
        |SELECT day, n_a, n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN u END AS u,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 AND sig2 > 0.0 THEN
        |    (u - na * nb / 2.0::DOUBLE) / sqrt(sig2) END AS z
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_moments", (s, d) => {
      // per-supplier skewness / excess kurtosis / Jarque–Bera from four
      // exact DECIMAL power sums — one map-side-combinable pass
      operators.Stats.moments(s.table("lineitem"), "l_quantity",
          Seq("l_suppkey"))
        .orderBy(col("l_suppkey"))
    },
      // Moments replay: four HUGEINT-exact power sums (≡ Spark's
      // DECIMAL(38,0) — both cast the identical integer to double), then
      // the raw-moment closed forms as the same fixed trees.
      """WITH b AS (
        |  SELECT l_suppkey,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1.0::DOUBLE) AS BIGINT) AS xi
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |s AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xi) AS DOUBLE) AS s1,
        |    CAST(sum(xi * xi) AS DOUBLE) AS s2,
        |    CAST(sum(xi * xi * xi) AS DOUBLE) AS s3,
        |    CAST(sum(xi * xi * xi * xi) AS DOUBLE) AS s4
        |  FROM b GROUP BY l_suppkey),
        |g AS (SELECT *, CAST(n AS DOUBLE) AS nd, s1 / CAST(n AS DOUBLE) AS m
        |      FROM s),
        |h AS (SELECT *,
        |    s2 / nd - m * m AS m2,
        |    s3 / nd - 3.0::DOUBLE * m * (s2 / nd)
        |      + 2.0::DOUBLE * m * m * m AS m3,
        |    s4 / nd - 4.0::DOUBLE * m * (s3 / nd)
        |      + 6.0::DOUBLE * m * m * (s2 / nd)
        |      - 3.0::DOUBLE * m * m * m * m AS m4
        |  FROM g),
        |k AS (SELECT *, m3 / sqrt(m2 * m2 * m2) AS skew,
        |        m4 / (m2 * m2) - 3.0::DOUBLE AS kurt
        |      FROM h)
        |SELECT l_suppkey, n, m / 1.0::DOUBLE AS mean,
        |  CASE WHEN n >= 2 AND m2 > 0.0 THEN skew END AS skewness,
        |  CASE WHEN n >= 2 AND m2 > 0.0 THEN kurt END AS kurtosis_excess,
        |  CASE WHEN n >= 2 AND m2 > 0.0 THEN
        |    (nd / 6.0::DOUBLE) * (skew * skew + kurt * kurt / 4.0::DOUBLE)
        |  END AS jarque_bera
        |FROM k ORDER BY l_suppkey""".stripMargin),
    Gate("q_corr_regress", (s, d) => {
      // exact grouped Pearson + OLS from (n,Σx,Σy,Σxy,Σx²,Σy²): discount
      // scaled to integer cents and quantity are both integer-valued, so
      // every sufficient statistic is exact in any aggregation order
      import org.apache.spark.sql.functions.{round => roundf}
      val li = s.table("lineitem").select(
        col("l_returnflag"),
        roundf(col("l_discount") * 100).cast("long").as("disc_pct"),
        col("l_quantity"))
      operators.Stats.corrRegression(li, "disc_pct", "l_quantity",
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },
      // Replays Stats.corrRegression: identical computational forms over
      // exact sufficient statistics (integer-valued x=discount-pct and
      // y=quantity make every Σ exact in any order; the closed forms are
      // single exactly-rounded IEEE op chains)
      """WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(round(l_discount * 100) AS BIGINT) AS DOUBLE) AS x,
        |    l_quantity AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM li GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx > 0.0 AND n * syy - sy * sy > 0.0
        |    THEN (n * sxy - sx * sy)
        |         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS corr_xy,
        |  CASE WHEN n * sxx - sx * sx > 0.0
        |    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
        |  CASE WHEN n * sxx - sx * sx > 0.0
        |    THEN (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |  END AS intercept
        |FROM s ORDER BY l_returnflag""".stripMargin),
    Gate("q_chisq", (s, d) => {
      // lang × source independence screen: per-cell χ² contributions,
      // margins from the tiny cells frame, no cross-cell FP reduction
      operators.Stats.chiSquareCells(s.table("documents"), "lang", "source")
        .orderBy(col("lang"), col("source"))
    },
      // Replays Stats.chiSquareCells: margins re-aggregate the cells frame,
      // expected = rowTot·colTot/total as one BIGINT product + one division
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS n_obs
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY lang, source),
        |rt AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS rtv FROM cells GROUP BY lang),
        |ct AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS ctv FROM cells GROUP BY source),
        |tt AS (SELECT CAST(sum(n_obs) AS BIGINT) AS tot FROM cells)
        |SELECT c.lang, c.source, c.n_obs,
        |  CAST(r.rtv * q.ctv AS DOUBLE) / CAST(tt.tot AS DOUBLE) AS expected,
        |  (CAST(c.n_obs AS DOUBLE) - CAST(r.rtv * q.ctv AS DOUBLE) / CAST(tt.tot AS DOUBLE))
        |  * (CAST(c.n_obs AS DOUBLE) - CAST(r.rtv * q.ctv AS DOUBLE) / CAST(tt.tot AS DOUBLE))
        |  / (CAST(r.rtv * q.ctv AS DOUBLE) / CAST(tt.tot AS DOUBLE)) AS chi2_term
        |FROM cells c
        |JOIN rt r USING (lang) JOIN ct q USING (source) CROSS JOIN tt
        |ORDER BY c.lang, c.source""".stripMargin)
  )
}
