package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, date_format, expr, lag, lit, max,
  min, row_number, when}
import GateSql._

/** Gates over [[operators.Eval]]: forecast, ranking, classification and
  * survival metrics. */
private[gates] object EvalGates {

  val all: Seq[Gate] = Seq(
    Gate("q_brier", (s, d) => {
      // per-day Brier score of the squashed event score (1/(1+value) —
      // identical double op in both engines before the operator's own
      // quantization) predicting the purchase label
      val ev = readEventsNanos(s, d).select(
        expr("ts DIV 86400000000000").as("day"),
        (lit(1.0) / (lit(1.0) + col("value"))).as("score"),
        when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
          .as("label"))
      operators.Eval.brierScore(ev, "score", "label", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.brierScore: identical 1/(1+v) squash, round-to-1e6
      // quantization, exact integer squared errors (HUGEINT sum ≡ the
      // Spark DECIMAL(38,0) sum), one double division.
      """WITH src AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(round((1.0::DOUBLE / (1.0::DOUBLE + value)) * 1000000.0::DOUBLE) AS BIGINT) AS s_int,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events
        |)
        |SELECT day, count(*) AS n,
        |  CAST(sum((s_int - y * 1000000) * (s_int - y * 1000000)) AS DOUBLE)
        |    / (1000000000000.0::DOUBLE * CAST(count(*) AS DOUBLE)) AS brier
        |FROM src GROUP BY day ORDER BY day""".stripMargin),
    Gate("q_lift_table", (s, d) => {
      // decile lift/gains of the event score predicting the purchase
      // label — equal-frequency bins off exact percentile boundaries
      // (tie-deterministic, no global sort), cumulative gains from the
      // top bucket down
      val ev = readEventsNanos(s, d).select(col("value"),
        when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
          .as("label"))
      operators.Eval.liftTable(ev, "value", "label", nBuckets = 10)
        .orderBy(col("bucket"))
    }, {
      // Replays Eval.liftTable: quantile_cont boundaries (interpolation
      // parity proven by q_quantiles), bucket = 10 − #bounds-below, the
      // identical lift/cum-lift double trees.
      val qlist = (1 until 10).map(k => s"quantile_cont(score, 0.$k)")
        .mkString("[", ", ", "]")
      s"""WITH src AS (
         |  SELECT value AS score,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events
         |), b AS (
         |  SELECT $qlist AS bounds,
         |         count(*) AS tot_n, CAST(sum(y) AS BIGINT) AS tot_pos
         |  FROM src
         |), bk AS (
         |  SELECT 10 - len(list_filter(b.bounds, bd -> s.score > bd)) AS bucket,
         |         s.y, b.tot_n, b.tot_pos
         |  FROM src s CROSS JOIN b
         |), g AS (
         |  SELECT bucket, tot_n, tot_pos, count(*) AS n,
         |         CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM bk GROUP BY bucket, tot_n, tot_pos
         |), c AS (
         |  SELECT bucket, n, n_pos, tot_n, tot_pos,
         |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
         |    CASE WHEN tot_pos > 0 THEN
         |      (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
         |        / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)) END AS lift,
         |    CAST(sum(n) OVER w AS BIGINT) AS cum_n,
         |    CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos
         |  FROM g
         |  WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT bucket, n, n_pos, pos_rate, lift, cum_n, cum_pos,
         |  CASE WHEN tot_pos > 0 THEN
         |    (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
         |      / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE)) END AS cum_lift
         |FROM c ORDER BY bucket""".stripMargin
    }),
    Gate("q_forecast_errors", (s, d) => {
      // per-supplier MAE/RMSE/MASE of the 1-step naive close forecast
      // against the weekly (m=7) seasonal-naive benchmark — exact scaled
      // error sums, fixed metric trees
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val withF = dailyBarsW(s)
        .withColumn("fcst", lag(col("close"), 1).over(w))
      operators.Eval.forecastErrors(withF, "close", "fcst",
          Seq("l_suppkey"), Seq("l_shipdate"), m = 7, scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Eval.forecastErrors with the 1-step naive forecast and the
      // m=7 seasonal-naive benchmark: exact scaled |e| / e² sums, the
      // fixed mae/rmse/mase trees (scale cancels in mase).
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS a,
         |    CAST(round(lag(close, 1) OVER ws * 100.0::DOUBLE) AS BIGINT) AS f,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT)
         |      - lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 7) OVER ws AS d
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |g AS (
         |  SELECT l_suppkey,
         |    CAST(count(CASE WHEN a IS NOT NULL AND f IS NOT NULL THEN 1 END)
         |      AS BIGINT) AS n,
         |    CAST(sum(abs(a - f)) AS BIGINT) AS sae,
         |    CAST(sum((a - f) * (a - f)) AS BIGINT) AS see,
         |    CAST(count(d) AS BIGINT) AS nm,
         |    CAST(sum(abs(d)) AS BIGINT) AS snd
         |  FROM s GROUP BY l_suppkey)
         |SELECT l_suppkey, n,
         |  CASE WHEN n >= 1 THEN
         |    CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) / 100.0::DOUBLE END AS mae,
         |  CASE WHEN n >= 1 THEN
         |    sqrt(CAST(see AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0::DOUBLE
         |  END AS rmse,
         |  CASE WHEN n >= 1 AND snd > 0 THEN
         |    (CAST(sae AS DOUBLE) / CAST(n AS DOUBLE))
         |      / (CAST(snd AS DOUBLE) / CAST(nm AS DOUBLE)) END AS mase
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_christoffersen", (s, d) => {
      // per-supplier Christoffersen independence test on the same VaR
      // line as q_kupiec — do violations cluster; Markov transition
      // counts off one keyed sort, rounded-ln LR
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val withV = dailyBarsW(s).withColumn("var_line",
        lag(col("close"), 1).over(w) * lit(0.98))
      operators.Eval.christoffersenInd(withV, "close", "var_line",
          Seq("l_suppkey"), Seq("l_shipdate"))
        .orderBy(col("l_suppkey"))
    },
      // Replays Eval.christoffersenInd: violation flags, Markov pair
      // counts after the null-prev drop, guarded rounded-ln terms.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    lag(close, 1) OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) * 0.98::DOUBLE AS vl
         |  FROM bars
         |), f AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CASE WHEN close < vl THEN 1 ELSE 0 END AS viol
         |  FROM s WHERE close IS NOT NULL AND vl IS NOT NULL
         |), p AS (
         |  SELECT l_suppkey, viol,
         |    lag(viol, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |      AS prev
         |  FROM f
         |), g AS (
         |  SELECT l_suppkey,
         |    CAST(sum(CASE WHEN prev = 0 AND viol = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n00,
         |    CAST(sum(CASE WHEN prev = 0 AND viol = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN prev = 1 AND viol = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN prev = 1 AND viol = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n11
         |  FROM p WHERE prev IS NOT NULL GROUP BY l_suppkey
         |), h AS (
         |  SELECT l_suppkey, n00, n01, n10, n11,
         |    ((CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE))
         |      + CAST(n10 AS DOUBLE)) + CAST(n11 AS DOUBLE) AS nt,
         |    (CAST(n01 AS DOUBLE) + CAST(n11 AS DOUBLE))
         |      / (((CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE))
         |        + CAST(n10 AS DOUBLE)) + CAST(n11 AS DOUBLE)) AS pi,
         |    CAST(n01 AS DOUBLE)
         |      / (CAST(n00 AS DOUBLE) + CAST(n01 AS DOUBLE)) AS pi01,
         |    CAST(n11 AS DOUBLE)
         |      / (CAST(n10 AS DOUBLE) + CAST(n11 AS DOUBLE)) AS pi11
         |  FROM g)
         |SELECT l_suppkey, n00, n01, n10, n11,
         |  CASE WHEN nt > 0.0::DOUBLE
         |      AND NOT (n01 + n11 = 0 OR n00 + n10 = 0) THEN
         |    -2.0::DOUBLE * (
         |      ((CASE WHEN n00 + n10 > 0 THEN CAST(n00 + n10 AS DOUBLE)
         |          * (round(ln(1.0::DOUBLE - pi), 10) + 0.0::DOUBLE)
         |        ELSE 0.0::DOUBLE END)
         |       + (CASE WHEN n01 + n11 > 0 THEN CAST(n01 + n11 AS DOUBLE)
         |          * (round(ln(pi), 10) + 0.0::DOUBLE)
         |        ELSE 0.0::DOUBLE END))
         |      - ((((CASE WHEN n00 > 0 THEN CAST(n00 AS DOUBLE)
         |            * (round(ln(1.0::DOUBLE - pi01), 10) + 0.0::DOUBLE)
         |          ELSE 0.0::DOUBLE END)
         |        + (CASE WHEN n01 > 0 THEN CAST(n01 AS DOUBLE)
         |            * (round(ln(pi01), 10) + 0.0::DOUBLE)
         |          ELSE 0.0::DOUBLE END))
         |        + (CASE WHEN n10 > 0 THEN CAST(n10 AS DOUBLE)
         |            * (round(ln(1.0::DOUBLE - pi11), 10) + 0.0::DOUBLE)
         |          ELSE 0.0::DOUBLE END))
         |        + (CASE WHEN n11 > 0 THEN CAST(n11 AS DOUBLE)
         |            * (round(ln(pi11), 10) + 0.0::DOUBLE)
         |          ELSE 0.0::DOUBLE END)))
         |  END AS christoffersen_lr
         |FROM h ORDER BY l_suppkey""".stripMargin),
    Gate("q_kupiec", (s, d) => {
      // per-supplier Kupiec POF backtest of a 2%-below-yesterday VaR
      // line at claimed p = 5% — raw IEEE violation compare, exact
      // counts, rounded-ln LR tree
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val withV = dailyBarsW(s).withColumn("var_line",
        lag(col("close"), 1).over(w) * lit(0.98))
      operators.Eval.kupiecPof(withV, "close", "var_line",
          Seq("l_suppkey"), pPm = 50)
        .orderBy(col("l_suppkey"))
    }, {
      // Replays Eval.kupiecPof: the same violation compare and counts;
      // constant-ln terms are embedded as the Scala-folded 10-dp decimal
      // literals (strtod → the identical doubles), data-dependent lns
      // round(…, 10) in-engine.
      def c10(x: Double): String =
        BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP).toString
      val c1 = c10(math.log(0.95))
      val c2 = c10(math.log(0.05))
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey, close,
         |    lag(close, 1) OVER (PARTITION BY l_suppkey
         |      ORDER BY l_shipdate) * 0.98::DOUBLE AS vl
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN close < vl THEN 1 ELSE 0 END) AS BIGINT)
         |      AS x
         |  FROM s WHERE close IS NOT NULL AND vl IS NOT NULL
         |  GROUP BY l_suppkey)
         |SELECT l_suppkey, n, x AS violations,
         |  CASE WHEN n >= 1 THEN
         |    -2.0::DOUBLE * ((CAST(n - x AS DOUBLE) * ($c1::DOUBLE)
         |        + CAST(x AS DOUBLE) * ($c2::DOUBLE))
         |      - ((CASE WHEN x < n THEN CAST(n - x AS DOUBLE)
         |            * (round(ln(1.0::DOUBLE
         |              - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)), 10)
         |              + 0.0::DOUBLE)
         |          ELSE 0.0::DOUBLE END)
         |        + (CASE WHEN x > 0 THEN CAST(x AS DOUBLE)
         |            * (round(ln(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)), 10)
         |              + 0.0::DOUBLE)
         |          ELSE 0.0::DOUBLE END)))
         |  END AS kupiec_lr
         |FROM g ORDER BY l_suppkey""".stripMargin
    }),
    Gate("q_pinball", (s, d) => {
      // per-supplier pinball loss of the naive close forecast at the
      // 0.9 quantile — exact per-mille integer losses, one aggregate
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val withF = dailyBarsW(s)
        .withColumn("fcst", lag(col("close"), 1).over(w))
      operators.Eval.pinballLoss(withF, "close", "fcst", Seq("l_suppkey"),
          tauPm = 900, scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Eval.pinballLoss: quantized naive-forecast errors, exact
      // per-mille integer penalties, the one descale tree.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS a,
         |    CAST(round(lag(close, 1) OVER (PARTITION BY l_suppkey
         |        ORDER BY l_shipdate) * 100.0::DOUBLE) AS BIGINT) AS f
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a - f >= 0 THEN 900 * (a - f)
         |      ELSE (900 - 1000) * (a - f) END) AS BIGINT) AS sp
         |  FROM s WHERE a IS NOT NULL AND f IS NOT NULL
         |  GROUP BY l_suppkey)
         |SELECT l_suppkey, n,
         |  CASE WHEN n >= 1 THEN
         |    (CAST(sp AS DOUBLE) / (1000.0::DOUBLE * CAST(n AS DOUBLE)))
         |      / 100.0::DOUBLE
         |  END AS pinball
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_theil_u2", (s, d) => {
      // per-supplier Theil U2 of the 2-day-average forecast vs the
      // naive last-value baseline — does smoothing beat persistence
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val withF = dailyBarsW(s).withColumn("fcst",
        (lag(col("close"), 1).over(w) + lag(col("close"), 2).over(w)) /
          lit(2.0))
      operators.Eval.theilU2(withF, "close", "fcst", Seq("l_suppkey"),
          Seq("l_shipdate"), scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Eval.theilU2: the 2-day-average forecast tree, quantized
      // error sums, sqrt of the exact ratio.
      s"""WITH bars AS (
         |$duckBarsSql
         |), s AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS a,
         |    CAST(round(((lag(close, 1) OVER ws + lag(close, 2) OVER ws)
         |        / 2.0::DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS f,
         |    lag(CAST(round(close * 100.0::DOUBLE) AS BIGINT), 1) OVER ws
         |      AS nv
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum((f - a) * (f - a)) AS BIGINT) AS num,
         |    CAST(sum((nv - a) * (nv - a)) AS BIGINT) AS den
         |  FROM s WHERE a IS NOT NULL AND f IS NOT NULL AND nv IS NOT NULL
         |  GROUP BY l_suppkey)
         |SELECT l_suppkey, n AS n_pairs,
         |  CASE WHEN n >= 1 AND den > 0 THEN
         |    sqrt(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
         |  END AS theil_u2
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_kaplan_meier", (s, d) => {
      // time-to-first-purchase survival per user-cohort: purchasers are
      // events, never-purchasers censor at their last observed event —
      // exact at-risk counts, native runprod survival chain
      val perUser = readEventsNanos(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
          max(col("ts")).as("tl"))
        .select(expr("user_id % 4").as("cohort"),
          expr("(coalesce(tp, tl) - t0) DIV 86400000000000").as("dur"),
          when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
      operators.Eval.kaplanMeier(perUser, "dur", "ev", Seq("cohort"))
        .orderBy(col("cohort"), col("t"))
    },
      // Replays Eval.kaplanMeier on the time-to-purchase frame: per-cohort
      // duration counts, exact at-risk windows, WITH RECURSIVE runprod
      // (st' = st · fac — the acc-first multiply order).
      """WITH RECURSIVE u AS (
        |  SELECT user_id,
        |    min(epoch_us(ts) * 1000) AS t0,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) * 1000 END) AS tp,
        |    max(epoch_us(ts) * 1000) AS tl
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT user_id % 4 AS cohort,
        |    (coalesce(tp, tl) - t0) // 86400000000000 AS dur,
        |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u),
        |pt AS (
        |  SELECT cohort, dur AS t, CAST(sum(ev) AS BIGINT) AS de,
        |    CAST(sum(1 - ev) AS BIGINT) AS ce
        |  FROM d GROUP BY cohort, dur),
        |r AS (
        |  SELECT cohort, t, de, ce,
        |    CAST(sum(de + ce) OVER (PARTITION BY cohort)
        |      - coalesce(sum(de + ce) OVER (PARTITION BY cohort ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk,
        |    row_number() OVER (PARTITION BY cohort ORDER BY t) AS rn
        |  FROM pt),
        |f AS MATERIALIZED (
        |  SELECT cohort, t, de, ce, n_risk, rn,
        |    CAST(n_risk - de AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fac
        |  FROM r),
        |km AS (
        |  SELECT cohort, t, de, ce, n_risk, rn, fac AS st
        |  FROM f WHERE rn = 1
        |  UNION ALL
        |  SELECT s.cohort, s.t, s.de, s.ce, s.n_risk, s.rn,
        |    (h.st * s.fac) AS st
        |  FROM km h JOIN f s ON s.cohort = h.cohort AND s.rn = h.rn + 1)
        |SELECT cohort, t, n_risk, de AS events, ce AS censored,
        |  st AS survival
        |FROM km ORDER BY cohort, t""".stripMargin),
    Gate("q_rbo", (s, d) => {
      // monthly top-10 supplier rankings by volume vs by tick count,
      // compared with rank-biased overlap — plan-folded geometric
      // weights, deterministic tie-broken ranks
      import org.apache.spark.sql.functions.{round => rnd, sum => fsum}
      val mb = dailyBars(s)
        .withColumn("month", date_format(col("l_shipdate"), "yyyy-MM"))
        .groupBy(col("month"), col("l_suppkey"))
        .agg(fsum(rnd(col("volume") * lit(100.0)).cast("long")).as("vol"),
          fsum(col("n_ticks")).as("ticks"))
      val ranked = mb
        .withColumn("ra", row_number().over(Window.partitionBy(col("month"))
          .orderBy(col("vol").desc, col("l_suppkey"))))
        .withColumn("rb", row_number().over(Window.partitionBy(col("month"))
          .orderBy(col("ticks").desc, col("l_suppkey"))))
      operators.Eval.rankBiasedOverlap(ranked, Seq("month"), "ra", "rb",
          k = 10, pPm = 900)
        .orderBy(col("month"))
    }, {
      // Replays Eval.rankBiasedOverlap: the same monthly rankings, shared
      // items at m = max(ra, rb), running overlap steps, the Scala-folded
      // geometric weights as VARCHAR-bridged literals, the depth fold.
      val p = 0.9
      val weights: IndexedSeq[Double] = {
        var pw = 1.0
        (1 to 10).map { _ => val w = (1.0 - p) * pw; pw = pw * p; w }
      }
      val wlist = weights.zipWithIndex.map { case (w, i) =>
        s"struct_pack(d := ${i + 1}, w := CAST('$w' AS DOUBLE))"
      }.mkString("[", ", ", "]")
      s"""WITH bars AS (
         |$duckBarsSql
         |), mb AS (
         |  SELECT strftime(l_shipdate, '%Y-%m') AS month, l_suppkey,
         |    CAST(sum(CAST(round(volume * 100.0::DOUBLE) AS BIGINT))
         |      AS BIGINT) AS vol,
         |    CAST(sum(n_ticks) AS BIGINT) AS ticks
         |  FROM bars GROUP BY month, l_suppkey
         |), rk AS (
         |  SELECT month,
         |    row_number() OVER (PARTITION BY month
         |      ORDER BY vol DESC, l_suppkey) AS ra,
         |    row_number() OVER (PARTITION BY month
         |      ORDER BY ticks DESC, l_suppkey) AS rb
         |  FROM mb
         |), sh AS (
         |  SELECT month, greatest(ra, rb) AS m
         |  FROM rk WHERE ra <= 10 AND rb <= 10
         |), cm AS (
         |  SELECT month, m, CAST(count(*) AS BIGINT) AS c
         |  FROM sh GROUP BY month, m
         |), ov AS (
         |  SELECT month, m, c,
         |    CAST(sum(c) OVER (PARTITION BY month ORDER BY m
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS ovm
         |  FROM cm
         |), pk AS (
         |  SELECT month, CAST(sum(c) AS BIGINT) AS n_shared,
         |    list(struct_pack(m := m, ov := ovm) ORDER BY m) AS steps
         |  FROM ov GROUP BY month)
         |SELECT month, n_shared,
         |  list_reduce(list_transform($wlist,
         |      e -> e.w * (CAST(coalesce(
         |          list_filter(steps, t -> t.m <= e.d)[-1].ov, 0)
         |        AS DOUBLE) / CAST(e.d AS DOUBLE))),
         |    (a, b) -> a + b) AS rbo
         |FROM pk ORDER BY month""".stripMargin
    }),
    Gate("q_rmst", (s, d) => {
      // restricted mean time-to-first-purchase (tau = 20 days) per
      // cohort — the area under q_kaplan_meier's curve as one number
      val perUser = readEventsNanos(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
          max(col("ts")).as("tl"))
        .select(expr("user_id % 4").as("cohort"),
          expr("(coalesce(tp, tl) - t0) DIV 86400000000000").as("dur"),
          when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
      operators.Eval.rmst(perUser, "dur", "ev", Seq("cohort"), tau = 20L)
        .orderBy(col("cohort"))
    },
      // Replays Eval.rmst: the KM walk extended with the rectangle
      // accumulator — st = st·fac, area += st·width, width from exact
      // integer tau clamps, plus the head segment at S = 1.
      """WITH RECURSIVE u AS (
        |  SELECT user_id,
        |    min(epoch_us(ts) * 1000) AS t0,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) * 1000 END) AS tp,
        |    max(epoch_us(ts) * 1000) AS tl
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT user_id % 4 AS cohort,
        |    (coalesce(tp, tl) - t0) // 86400000000000 AS dur,
        |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u),
        |pt AS (
        |  SELECT cohort, dur AS t, CAST(sum(ev) AS BIGINT) AS de,
        |    CAST(sum(1 - ev) AS BIGINT) AS ce
        |  FROM d GROUP BY cohort, dur),
        |r AS (
        |  SELECT cohort, t, de, ce,
        |    sum(de + ce) OVER (PARTITION BY cohort) AS ntot,
        |    sum(de + ce) OVER (PARTITION BY cohort)
        |      - coalesce(sum(de + ce) OVER (PARTITION BY cohort ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk,
        |    row_number() OVER (PARTITION BY cohort ORDER BY t) AS rn,
        |    count(*) OVER (PARTITION BY cohort) AS cnt,
        |    CAST(least(min(t) OVER (PARTITION BY cohort), 20) AS DOUBLE)
        |      AS head,
        |    greatest(0, least(coalesce(lead(t, 1) OVER (PARTITION BY
        |        cohort ORDER BY t), 20), 20) - least(t, 20)) AS width
        |  FROM pt),
        |f AS MATERIALIZED (
        |  SELECT cohort, t, rn, cnt, ntot, head, width,
        |    CAST(n_risk - de AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fac
        |  FROM r),
        |wk AS (
        |  SELECT cohort, t, rn, cnt, ntot, head,
        |    fac AS st, fac * CAST(width AS DOUBLE) AS area
        |  FROM f WHERE rn = 1
        |  UNION ALL
        |  SELECT s.cohort, s.t, s.rn, s.cnt, s.ntot, s.head,
        |    (p.st * s.fac) AS st,
        |    (p.area + (p.st * s.fac) * CAST(s.width AS DOUBLE)) AS area
        |  FROM wk p JOIN f s ON s.cohort = p.cohort AND s.rn = p.rn + 1
        |)
        |SELECT cohort, CAST(ntot AS BIGINT) AS n,
        |  CAST(20 AS BIGINT) AS tau, (head + area) AS rmst
        |FROM wk WHERE rn = cnt ORDER BY cohort""".stripMargin),
    Gate("q_ece", (s, d) => {
      // per-day expected calibration error of the scaled event score —
      // the magnitude sibling of q_hosmer_lemeshow over the same deciles
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"),
          (col("value") / lit(1000.0)).as("p"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("label"),
          col("event_id"))
      operators.Eval.expectedCalibrationError(ev, "p", "label", "event_id",
          Seq("day"), bins = 10, scale = 6)
        .orderBy(col("day"))
    },
      // Replays Eval.expectedCalibrationError: the hosmer_lemeshow decile
      // frame with the ng·|acc − conf| terms, one final division by n.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(round((value / 1000.0::DOUBLE) * 1000000.0::DOUBLE)
        |      AS BIGINT) AS pi,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    event_id
        |  FROM events),
        |b AS (
        |  SELECT day, pi, y,
        |    ntile(10) OVER (PARTITION BY day ORDER BY pi, event_id) AS bin
        |  FROM e),
        |pb AS (
        |  SELECT day, bin, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(y) AS BIGINT) AS og, CAST(sum(pi) AS BIGINT) AS sg
        |  FROM b GROUP BY day, bin),
        |t AS (
        |  SELECT day, bin, ng,
        |    CAST(ng AS DOUBLE) * abs(
        |      CAST(og AS DOUBLE) / CAST(ng AS DOUBLE)
        |      - (CAST(sg AS DOUBLE) / 1000000.0::DOUBLE)
        |        / CAST(ng AS DOUBLE)) AS term
        |  FROM pb),
        |g AS (
        |  SELECT day, CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k_bins,
        |    list_reduce(list_transform(
        |        list(struct_pack(bin := bin, w := term) ORDER BY bin),
        |        s -> s.w), (a, b) -> a + b) AS fold
        |  FROM t GROUP BY day)
        |SELECT day, n, k_bins,
        |  CASE WHEN k_bins = 10 THEN fold / CAST(n AS DOUBLE) END AS ece
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_best_f1", (s, d) => {
      // per-day best-F1 operating point of the event score predicting
      // purchases — integer TP/FP ladder, struct-argmax threshold pick
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"), col("value"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
            .as("label"))
      operators.Eval.bestF1Threshold(ev, "value", "label", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.bestF1Threshold: the rocCurve descending ladder, the
      // integer-ratio F1 trees, argmax = (f1 DESC NULLS LAST, threshold
      // DESC) — the struct-max ordering.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |ps AS (
        |  SELECT day, score AS threshold, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(sum(1 - y) AS BIGINT) AS neg
        |  FROM e GROUP BY day, score),
        |r AS (
        |  SELECT day, threshold,
        |    CAST(sum(pos) OVER wd AS BIGINT) AS tp,
        |    CAST(sum(neg) OVER wd AS BIGINT) AS fp,
        |    CAST(sum(pos) OVER (PARTITION BY day) AS BIGINT) AS tot
        |  FROM ps
        |  WINDOW wd AS (PARTITION BY day ORDER BY threshold DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (
        |  SELECT day, threshold,
        |    CASE WHEN tot > 0 THEN
        |      (2.0::DOUBLE * CAST(tp AS DOUBLE))
        |      / (2.0::DOUBLE * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
        |        + CAST(tot - tp AS DOUBLE)) END AS f1,
        |    CASE WHEN tp + fp > 0 THEN
        |      CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS p,
        |    CASE WHEN tot > 0 THEN
        |      CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE) END AS r
        |  FROM r),
        |k AS (
        |  SELECT day, threshold, f1, p, r,
        |    row_number() OVER (PARTITION BY day
        |      ORDER BY f1 DESC NULLS LAST, threshold DESC) AS rn
        |  FROM c)
        |SELECT day, threshold, f1, p AS "precision", r AS recall
        |FROM k WHERE rn = 1 ORDER BY day""".stripMargin),
    Gate("q_mcnemar", (s, d) => {
      // per-day McNemar: does the >50 threshold classifier beat the
      // >100 one at predicting purchases — exact discordant counts
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"),
          (col("value") > lit(50.0)).as("pred_a"),
          (col("value") > lit(100.0)).as("pred_b"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("label"))
      operators.Eval.mcnemar(ev, "pred_a", "pred_b", "label", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.mcnemar: the same threshold classifiers and
      // correctness flags, exact discordant counts, one-division trees.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    (value > 50.0) = (event_type = 'purchase') AS oka,
        |    (value > 100.0) = (event_type = 'purchase') AS okb
        |  FROM events),
        |g AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN oka AND NOT okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a_only,
        |    CAST(sum(CASE WHEN NOT oka AND okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b_only
        |  FROM e GROUP BY day)
        |SELECT day, n, a_only, b_only,
        |  CASE WHEN a_only + b_only > 0 THEN
        |    (CAST(a_only - b_only AS DOUBLE)
        |      * CAST(a_only - b_only AS DOUBLE))
        |    / CAST(a_only + b_only AS DOUBLE) END AS mcnemar_chi2,
        |  CASE WHEN a_only + b_only > 0 THEN
        |    (CAST(abs(a_only - b_only) - 1 AS DOUBLE)
        |      * CAST(abs(a_only - b_only) - 1 AS DOUBLE))
        |    / CAST(a_only + b_only AS DOUBLE) END AS mcnemar_chi2_cc
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_hosmer_lemeshow", (s, d) => {
      // per-day calibration test of the scaled event score as a
      // purchase probability — deterministic deciles via the
      // (probability, event_id) total order, exact decile E sums
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"),
          (col("value") / lit(1000.0)).as("p"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("label"),
          col("event_id"))
      operators.Eval.hosmerLemeshow(ev, "p", "label", "event_id",
          Seq("day"), bins = 10, scale = 6)
        .orderBy(col("day"))
    },
      // Replays Eval.hosmerLemeshow: identical quantization, ntile over
      // the same total order, exact decile sums, NaN-poisoned degenerate
      // bins, the bin-ordered fold.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(round((value / 1000.0::DOUBLE) * 1000000.0::DOUBLE)
        |      AS BIGINT) AS pi,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    event_id
        |  FROM events),
        |b AS (
        |  SELECT day, pi, y,
        |    ntile(10) OVER (PARTITION BY day ORDER BY pi, event_id) AS bin
        |  FROM e),
        |pb AS (
        |  SELECT day, bin, CAST(count(*) AS BIGINT) AS ng,
        |    CAST(sum(y) AS BIGINT) AS og, CAST(sum(pi) AS BIGINT) AS sg
        |  FROM b GROUP BY day, bin),
        |t AS (
        |  SELECT day, bin, ng, og,
        |    coalesce(
        |      CASE WHEN CAST(sg AS DOUBLE) / 1000000.0::DOUBLE
        |            > 0.0::DOUBLE
        |          AND CAST(sg AS DOUBLE) / 1000000.0::DOUBLE
        |            < CAST(ng AS DOUBLE) THEN
        |        ((CAST(og AS DOUBLE) - CAST(sg AS DOUBLE)
        |            / 1000000.0::DOUBLE)
        |          * (CAST(og AS DOUBLE) - CAST(sg AS DOUBLE)
        |            / 1000000.0::DOUBLE))
        |        / ((CAST(sg AS DOUBLE) / 1000000.0::DOUBLE)
        |          * (1.0::DOUBLE - (CAST(sg AS DOUBLE)
        |            / 1000000.0::DOUBLE) / CAST(ng AS DOUBLE)))
        |      END, CAST('NaN' AS DOUBLE)) AS term
        |  FROM pb),
        |g AS (
        |  SELECT day, CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k_bins,
        |    list_reduce(list_transform(
        |        list(struct_pack(bin := bin, t := term) ORDER BY bin),
        |        s -> s.t), (a, b) -> a + b) AS chi2
        |  FROM t GROUP BY day)
        |SELECT day, n, k_bins,
        |  CASE WHEN k_bins = 10 AND NOT isnan(chi2) THEN chi2 END
        |    AS hl_chi2
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_logrank", (s, d) => {
      // even vs odd users' time-to-first-purchase within each user band
      // — are the two survival curves the same; ordered hypergeometric
      // U/V folds, one keyed sort
      val perUser = readEventsNanos(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
          max(col("ts")).as("tl"))
        .select(expr("user_id % 3").as("band"),
          expr("CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END")
            .as("arm"),
          expr("(coalesce(tp, tl) - t0) DIV 86400000000000").as("dur"),
          when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
      operators.Eval.logRank(perUser, "dur", "ev", "arm", "even", "odd",
          Seq("band"))
        .orderBy(col("band"))
    },
      // Replays Eval.logRank: per-time two-arm counts, before-window
      // at-risk sizes, the hypergeometric (u, v) terms as fixed trees,
      // and the t-ordered double accumulators as a recursive walk.
      """WITH RECURSIVE u0 AS (
        |  SELECT user_id,
        |    min(epoch_us(ts) * 1000) AS t0,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) * 1000 END) AS tp,
        |    max(epoch_us(ts) * 1000) AS tl
        |  FROM events GROUP BY user_id),
        |d0 AS (
        |  SELECT user_id % 3 AS band,
        |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
        |    (coalesce(tp, tl) - t0) // 86400000000000 AS dur,
        |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u0),
        |pt AS (
        |  SELECT band, dur AS t,
        |    CAST(sum(CASE WHEN arm = 'even' THEN ev ELSE 0 END) AS BIGINT)
        |      AS da,
        |    CAST(sum(CASE WHEN arm <> 'even' THEN ev ELSE 0 END) AS BIGINT)
        |      AS db,
        |    CAST(sum(CASE WHEN arm = 'even' THEN 1 - ev ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN arm <> 'even' THEN 1 - ev ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM d0 GROUP BY band, dur),
        |r AS (
        |  SELECT band, t, da, db,
        |    sum(da + ca) OVER (PARTITION BY band) AS ta,
        |    sum(db + cb) OVER (PARTITION BY band) AS tb,
        |    sum(da + ca) OVER (PARTITION BY band)
        |      - coalesce(sum(da + ca) OVER (PARTITION BY band ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS na,
        |    sum(db + cb) OVER (PARTITION BY band)
        |      - coalesce(sum(db + cb) OVER (PARTITION BY band ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS nb,
        |    row_number() OVER (PARTITION BY band ORDER BY t) AS rn,
        |    count(*) OVER (PARTITION BY band) AS cnt
        |  FROM pt),
        |terms AS MATERIALIZED (
        |  SELECT band, t, rn, cnt, ta, tb,
        |    CAST(da AS DOUBLE) - CAST(da + db AS DOUBLE)
        |      * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)) AS ut,
        |    CASE WHEN na + nb > 1 THEN
        |      ((CAST(da + db AS DOUBLE)
        |          * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)))
        |        * (1.0::DOUBLE
        |          - CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)))
        |      * (CAST((na + nb) - (da + db) AS DOUBLE)
        |          / CAST((na + nb) - 1 AS DOUBLE))
        |    ELSE 0.0::DOUBLE END AS vt
        |  FROM r),
        |wk AS (
        |  SELECT band, t, rn, cnt, ta, tb, ut AS u, vt AS v
        |  FROM terms WHERE rn = 1
        |  UNION ALL
        |  SELECT s.band, s.t, s.rn, s.cnt, s.ta, s.tb,
        |    (p.u + s.ut) AS u, (p.v + s.vt) AS v
        |  FROM wk p JOIN terms s
        |    ON s.band = p.band AND s.rn = p.rn + 1
        |)
        |SELECT band, CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
        |  CASE WHEN ta >= 1 AND tb >= 1 THEN
        |    u / sqrt(CASE WHEN v > 0.0::DOUBLE THEN v END) END AS logrank_z,
        |  CASE WHEN ta >= 1 AND tb >= 1 THEN
        |    (u / sqrt(CASE WHEN v > 0.0::DOUBLE THEN v END))
        |    * (u / sqrt(CASE WHEN v > 0.0::DOUBLE THEN v END)) END
        |    AS logrank_chi2
        |FROM wk WHERE rn = cnt ORDER BY band""".stripMargin),
    Gate("q_nelson_aalen", (s, d) => {
      // cumulative hazard twin of q_kaplan_meier over the same
      // time-to-first-purchase frame — additive risk, recursive-walk
      // oracle parity for the running fold
      val perUser = readEventsNanos(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
          max(col("ts")).as("tl"))
        .select(expr("user_id % 4").as("cohort"),
          expr("(coalesce(tp, tl) - t0) DIV 86400000000000").as("dur"),
          when(col("tp").isNotNull, lit(1L)).otherwise(lit(0L)).as("ev"))
      operators.Eval.nelsonAalen(perUser, "dur", "ev", Seq("cohort"))
        .orderBy(col("cohort"), col("t"))
    },
      // Replays Eval.nelsonAalen: the q_kaplan_meier frame with the
      // additive hazard walk — h = h_prev + d/n, one IEEE add per step in
      // t-order (the recursive mirror of Spark's growing-frame fold).
      """WITH RECURSIVE u AS (
        |  SELECT user_id,
        |    min(epoch_us(ts) * 1000) AS t0,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) * 1000 END) AS tp,
        |    max(epoch_us(ts) * 1000) AS tl
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT user_id % 4 AS cohort,
        |    (coalesce(tp, tl) - t0) // 86400000000000 AS dur,
        |    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u),
        |pt AS (
        |  SELECT cohort, dur AS t, CAST(sum(ev) AS BIGINT) AS de,
        |    CAST(sum(1 - ev) AS BIGINT) AS ce
        |  FROM d GROUP BY cohort, dur),
        |r AS MATERIALIZED (
        |  SELECT cohort, t, de, ce,
        |    CAST(sum(de + ce) OVER (PARTITION BY cohort)
        |      - coalesce(sum(de + ce) OVER (PARTITION BY cohort ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk,
        |    row_number() OVER (PARTITION BY cohort ORDER BY t) AS rn
        |  FROM pt),
        |na AS (
        |  SELECT cohort, t, de, ce, n_risk, rn,
        |    CAST(de AS DOUBLE) / CAST(n_risk AS DOUBLE) AS h
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT s.cohort, s.t, s.de, s.ce, s.n_risk, s.rn,
        |    (p.h + CAST(s.de AS DOUBLE) / CAST(s.n_risk AS DOUBLE)) AS h
        |  FROM na p JOIN r s
        |    ON s.cohort = p.cohort AND s.rn = p.rn + 1
        |)
        |SELECT cohort, t, n_risk, de AS events, ce AS censored,
        |  h AS hazard
        |FROM na ORDER BY cohort, t""".stripMargin),
    Gate("q_agreement", (s, d) => {
      // per-day Cohen's kappa + MCC at the q_classification operating
      // point — chance-corrected agreement beside the raw rates; exact
      // integer numerators, one division each
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"), col("value"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
            .as("label"))
      operators.Eval.agreement(ev, "value", "label", 35.0, Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.agreement: the q_classification confusion counts, the
      // n²-multiplied integer kappa form, the DECIMAL marginal product for
      // MCC.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    value AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |c AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN s >= 35.0::DOUBLE AND y = 1 THEN 1 END) AS BIGINT) AS tp,
        |    CAST(count(CASE WHEN s >= 35.0::DOUBLE AND y = 0 THEN 1 END) AS BIGINT) AS fp,
        |    CAST(count(CASE WHEN s < 35.0::DOUBLE AND y = 1 THEN 1 END) AS BIGINT) AS fn,
        |    CAST(count(CASE WHEN s < 35.0::DOUBLE AND y = 0 THEN 1 END) AS BIGINT) AS tn
        |  FROM e GROUP BY day),
        |k AS (
        |  SELECT day, n, tp, fp, fn, tn,
        |    CAST(tp + fp AS HUGEINT) * CAST(tp + fn AS HUGEINT)
        |      + CAST(fn + tn AS HUGEINT) * CAST(fp + tn AS HUGEINT) AS e
        |  FROM c)
        |SELECT day, n,
        |  CASE WHEN CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - e AS DOUBLE) > 0.0::DOUBLE
        |  THEN CAST(CAST(n AS HUGEINT) * CAST(tp + tn AS HUGEINT) - e AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - e AS DOUBLE)
        |  END AS kappa,
        |  CASE WHEN CAST(CAST(tp + fp AS HUGEINT) * CAST(tp + fn AS HUGEINT)
        |      * CAST(tn + fp AS HUGEINT) * CAST(tn + fn AS HUGEINT) AS DOUBLE) > 0.0::DOUBLE
        |  THEN CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
        |      - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT) AS DOUBLE)
        |    / sqrt(CAST(CAST(tp + fp AS HUGEINT) * CAST(tp + fn AS HUGEINT)
        |      * CAST(tn + fp AS HUGEINT) * CAST(tn + fn AS HUGEINT) AS DOUBLE))
        |  END AS mcc
        |FROM k ORDER BY day""".stripMargin),
    Gate("q_log_loss", (s, d) => {
      // per-day cross-entropy of the value-derived probability against
      // the purchase label — 10-dp quantized terms, order-free exact
      // mean (no pinned fold needed)
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"),
          (col("value") / lit(100.0)).as("p"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
            .as("label"))
      operators.Eval.logLoss(ev, "p", "label", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.logLoss: clamp literals baked via the strtod string
      // path, ln-term trees quantized to 10 dp, exact BIGINT term sums.
      s"""WITH e AS (
         |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         |    greatest(CAST('${1e-15.toString}' AS DOUBLE),
         |      least(CAST('${(1.0 - 1e-15).toString}' AS DOUBLE),
         |        value / 100.0::DOUBLE)) AS p,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events),
         |t AS (
         |  SELECT day,
         |    CAST(round(-(CAST(y AS DOUBLE) * ln(p)
         |      + (1.0::DOUBLE - CAST(y AS DOUBLE)) * ln(1.0::DOUBLE - p))
         |      * 10000000000.0::DOUBLE) AS BIGINT) AS q
         |  FROM e)
         |SELECT day, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    / 10000000000.0::DOUBLE AS log_loss
         |FROM t GROUP BY day ORDER BY day""".stripMargin),
    Gate("q_roc_curve", (s, d) => {
      // per-event-type ROC sweep of value against the user-parity label
      // — one row per distinct score, cumulative exact rates
      val ev = readEventsNanos(s, d)
        .select(col("event_type"), col("value"),
          expr("user_id % 2").as("label"))
      operators.Eval.rocCurve(ev, "value", "label", Seq("event_type"))
        .orderBy(col("event_type"), col("threshold"))
    },
      // Replays Eval.rocCurve: per-score exact counts, descending
      // cumulative sweep, single divisions.
      """WITH e AS (
        |  SELECT event_type, value AS threshold, user_id % 2 AS y
        |  FROM events),
        |ps AS (
        |  SELECT event_type, threshold, CAST(count(*) AS BIGINT) AS n_at,
        |    CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(sum(1 - y) AS BIGINT) AS neg
        |  FROM e GROUP BY event_type, threshold),
        |c AS (
        |  SELECT event_type, threshold, n_at,
        |    sum(pos) OVER (PARTITION BY event_type ORDER BY threshold DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos,
        |    sum(neg) OVER (PARTITION BY event_type ORDER BY threshold DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cneg,
        |    sum(pos) OVER (PARTITION BY event_type) AS tpos,
        |    sum(neg) OVER (PARTITION BY event_type) AS tneg
        |  FROM ps)
        |SELECT event_type, threshold, n_at,
        |  CASE WHEN tpos > 0 THEN CAST(cpos AS DOUBLE) / CAST(tpos AS DOUBLE)
        |  END AS tpr,
        |  CASE WHEN tneg > 0 THEN CAST(cneg AS DOUBLE) / CAST(tneg AS DOUBLE)
        |  END AS fpr
        |FROM c ORDER BY event_type, threshold""".stripMargin),
    Gate("q_classification", (s, d) => {
      // per-day thresholded classification report (value >= 35 predicts
      // purchase) — the deployment-facing confusion-matrix readout
      // beside the threshold-free q_auc; exact counts, one division per
      // rate, F1 in the one-division form
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"), col("value"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
            .as("label"))
      operators.Eval.classificationReport(ev, "value", "label", 35.0,
          Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.classificationReport at threshold 35 (boundary
      // inclusive): exact confusion counts, one division per rate, F1 as
      // 2tp/(2tp+fp+fn).
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    value AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |c AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n,
        |    count(CASE WHEN s >= 35.0::DOUBLE AND y = 1 THEN 1 END) AS tp,
        |    count(CASE WHEN s >= 35.0::DOUBLE AND y = 0 THEN 1 END) AS fp,
        |    count(CASE WHEN s < 35.0::DOUBLE AND y = 1 THEN 1 END) AS fn,
        |    count(CASE WHEN s < 35.0::DOUBLE AND y = 0 THEN 1 END) AS tn
        |  FROM e GROUP BY day)
        |SELECT day, n, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN
        |    CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
        |  END AS precision,
        |  CASE WHEN tp + fn > 0 THEN
        |    CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
        |  END AS recall,
        |  CASE WHEN tp + fp + fn > 0 THEN
        |    2.0::DOUBLE * CAST(tp AS DOUBLE) /
        |      (2.0::DOUBLE * CAST(tp AS DOUBLE)
        |        + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE))
        |  END AS f1,
        |  CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy
        |FROM c ORDER BY day""".stripMargin),
    Gate("q_auc", (s, d) => {
      // grouped ROC AUC (Mann–Whitney midranks) of the event value score
      // predicting the purchase label, one group per epoch day — the
      // quality-classifier eval metric, run as aggregations + one window
      // over the distinct-score frame
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"), col("value"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
            .as("label"))
      operators.Eval.binaryAuc(ev, "value", "label", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.binaryAuc: aggregate to distinct (day, score), midrank
      // via a running count window, Mann–Whitney identity. Counts and
      // half-integer midranks are exact doubles, so the single final
      // division is bit-identical across engines.
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    value AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |per AS (
        |  SELECT day, s, CAST(count(*) AS BIGINT) AS n_s,
        |    CAST(sum(y) AS BIGINT) AS pos_s
        |  FROM e GROUP BY day, s),
        |rk AS (
        |  SELECT day, n_s, pos_s,
        |    sum(n_s) OVER (PARTITION BY day ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM per),
        |a AS (
        |  SELECT day, CAST(sum(n_s) AS BIGINT) AS n,
        |    CAST(sum(pos_s) AS BIGINT) AS n_pos,
        |    sum(CAST(pos_s AS DOUBLE) *
        |        (CAST(cum AS DOUBLE) - CAST(n_s - 1 AS DOUBLE) / 2.0)) AS rsum
        |  FROM rk GROUP BY day)
        |SELECT day, n, n_pos,
        |  CASE WHEN n_pos > 0 AND n_pos < n THEN
        |    (rsum - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE))
        |  END AS auc
        |FROM a ORDER BY day""".stripMargin),
    Gate("q_rrf_fusion", (s, d) => {
      // reciprocal-rank fusion of two deterministic per-user rankers
      // (value-top-10 and recency-top-10): the training-free multi-
      // retriever merge; system-ordered term folds, total tie-break
      val ev = readEventsNanos(s, d)
      def ranker(ord: Seq[org.apache.spark.sql.Column], name: String) =
        ev.select(col("user_id"), col("event_id"),
            row_number().over(Window.partitionBy(col("user_id"))
              .orderBy(ord: _*)).as("rnk"))
          .filter(col("rnk") <= 10).withColumn("sys", lit(name))
      val both = ranker(Seq(col("value").desc, col("event_id")), "value")
        .unionByName(ranker(Seq(col("ts").desc, col("event_id")), "recency"))
      operators.Eval.rrfFusion(both, "user_id", "event_id", "rnk", "sys")
        .orderBy(col("user_id"), col("fused_rank"))
    },
      // Replays rrfFusion: both rankers, the 1/(60+r) terms folded in
      // system order, score-desc/doc-asc fused ranking.
      """WITH a AS (
        |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS r
        |  FROM events),
        |b AS (
        |  SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id) AS r
        |  FROM events),
        |u AS (
        |  SELECT user_id, event_id, 'value' AS sys, r FROM a WHERE r <= 10
        |  UNION ALL
        |  SELECT user_id, event_id, 'recency' AS sys, r FROM b WHERE r <= 10),
        |pd AS (
        |  SELECT user_id, event_id,
        |    list(1.0::DOUBLE / CAST(60 + r AS DOUBLE) ORDER BY sys) AS ts2,
        |    CAST(count(*) AS BIGINT) AS n_systems
        |  FROM u GROUP BY user_id, event_id),
        |sc AS (
        |  SELECT user_id, event_id, n_systems,
        |    list_reduce(ts2, (x, y) -> x + y) AS rrf_score
        |  FROM pd)
        |SELECT user_id, event_id, rrf_score, n_systems,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY rrf_score DESC, event_id) AS BIGINT) AS fused_rank
        |FROM sc ORDER BY user_id, fused_rank""".stripMargin),
    Gate("q_retrieval_eval", (s, d) => {
      // per-user retrieval grade of the value-ranked event list against
      // the purchase set — recall/MRR/NDCG@10 with the log₂ discount
      // ladder baked as driver-side literal doubles (no engine libm in
      // the data path); the ranker here is a deterministic
      // (value DESC, event_id) row_number
      val ev = readEventsNanos(s, d)
      val ranked = ev.select(col("user_id"), col("event_id"),
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))).as("rnk"))
      val rel = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"))
      operators.Eval.rankingMetrics(ranked, rel, "user_id", "event_id",
          "rnk", k = 10)
        .orderBy(col("user_id"))
    }, {
      // Replays Eval.rankingMetrics: the identical discount/ideal-DCG
      // literal ladders (Double.toString is shortest-round-trip, so the
      // parsed doubles are bit-identical), the DCG folded in ascending-rank
      // order, exact count divisions elsewhere.
      val discCase = operators.Eval.ndcgDiscountSql("r", 10)
      val idcgCase = operators.Eval.ndcgIdcg(10).zipWithIndex.map {
        case (v, i) => s"WHEN ${i + 1} THEN CAST('$v' AS DOUBLE)"
      }.mkString("(CASE least(n.n_rel, 10) ", " ", " END)")
      s"""WITH rel AS (
         |  SELECT DISTINCT user_id, event_id FROM events
         |  WHERE event_type = 'purchase'),
         |nrel AS (SELECT user_id, count(*) AS n_rel FROM rel GROUP BY user_id),
         |rk AS (
         |  SELECT user_id, event_id,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY value DESC, event_id) AS r
         |  FROM events),
         |m AS (
         |  SELECT t.user_id, t.r,
         |    CASE WHEN rl.event_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
         |  FROM rk t LEFT JOIN rel rl
         |    ON rl.user_id = t.user_id AND rl.event_id = t.event_id
         |  WHERE t.r <= 10),
         |agg AS (
         |  SELECT user_id,
         |    CAST(sum(is_rel) AS BIGINT) AS hits,
         |    min(CASE WHEN is_rel = 1 THEN r END) AS first_rel,
         |    list($discCase ORDER BY r) FILTER (WHERE is_rel = 1) AS dl
         |  FROM m GROUP BY user_id)
         |SELECT a.user_id,
         |  COALESCE(n.n_rel, 0) AS n_rel,
         |  a.hits,
         |  CASE WHEN n.n_rel > 0
         |    THEN CAST(a.hits AS DOUBLE) / CAST(n.n_rel AS DOUBLE)
         |  END AS recall_at_k,
         |  COALESCE(1.0::DOUBLE / a.first_rel, 0.0::DOUBLE) AS mrr_at_k,
         |  CASE WHEN n.n_rel > 0
         |    THEN COALESCE(list_reduce(a.dl, (x, y) -> x + y), 0.0::DOUBLE)
         |         / $idcgCase
         |  END AS ndcg_at_k
         |FROM agg a LEFT JOIN nrel n ON n.user_id = a.user_id
         |ORDER BY a.user_id""".stripMargin
    }),
    Gate("q_avg_precision", (s, d) => {
      // grouped average precision (step-wise PR-AUC) of the event value
      // score predicting the purchase label, one group per epoch day —
      // the class-imbalance-robust companion to q_auc; descending
      // threshold fold makes the summation order engine-replayable
      val ev = readEventsNanos(s, d)
        .select(expr("ts DIV 86400000000000").as("day"), col("value"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
            .as("label"))
      operators.Eval.averagePrecision(ev, "value", "label", Seq("day"))
        .orderBy(col("day"))
    },
      // Replays Eval.averagePrecision: distinct-(day, score) frame, DESC
      // cumulative TP/total, per-threshold summand pos_s·TP/cum, and the
      // identical descending-score left fold (0.0 seed ≡ no-init reduce).
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    value AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |per AS (
        |  SELECT day, s, CAST(count(*) AS BIGINT) AS n_s,
        |    CAST(sum(y) AS BIGINT) AS pos_s
        |  FROM e GROUP BY day, s),
        |rk AS (
        |  SELECT day, s, n_s, pos_s,
        |    sum(pos_s) OVER (PARTITION BY day ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    sum(n_s) OVER (PARTITION BY day ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM per),
        |g AS (
        |  SELECT day, CAST(sum(n_s) AS BIGINT) AS n,
        |    CAST(sum(pos_s) AS BIGINT) AS n_pos,
        |    list(CAST(pos_s AS DOUBLE) * CAST(tp AS DOUBLE)
        |         / CAST(cum AS DOUBLE) ORDER BY s DESC) AS es
        |  FROM rk GROUP BY day)
        |SELECT day, n, n_pos,
        |  CASE WHEN n_pos > 0 THEN
        |    list_reduce(es, (a, b) -> a + b) / CAST(n_pos AS DOUBLE)
        |  END AS ap
        |FROM g ORDER BY day""".stripMargin),
    Gate("q_calibration", (s, d) => {
      // fixed-width reliability bins over the same score/label pair:
      // empirical positive rate per score decile band
      val ev = readEventsNanos(s, d)
        .select(col("value"),
          when(col("event_type") === "purchase", lit(1)).otherwise(lit(0))
            .as("label"))
      operators.Eval.calibrationBins(ev, "value", "label",
          nBins = 10, lo = 0.0, hi = 500.0)
        .orderBy(col("bin"))
    },
      """WITH b AS (
        |  SELECT LEAST(9, GREATEST(0, CAST(floor((value - 0.0) / 50.0) AS INT))) AS bin,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  0.0 + bin * 50.0 AS bin_lo,
        |  CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin)
  )
}
