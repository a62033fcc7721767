package graft
package gates

import graft.functions.FinancialFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, expr, greatest, lag, lit,
  round, sum, when}
import GateSql._

/** Market-data gates: the SQL window indicators registered by
  * [[functions.FinancialFunctions]], and [[operators.Resample]],
  * [[operators.Bars]], [[operators.Pricing]], [[operators.Signals]] and
  * [[operators.Validation]]. */
private[gates] object MarketGates {

  private val duckW =
    s"($W ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"

  /** Shared Black–Scholes staged CTE chain (o → n) for the two pricing
    * oracles — mirrors Pricing.stage column-for-column; √(2π) embedded
    * as the Scala-folded literal. Callers append their own `h` CTE and
    * final select (the WITH opens with bars upstream). */
  private lazy val duckBsPrefix: String = {
    val s2pi = operators.Pricing.sqrt2PiLiteral
    s"""), o AS (
       |  SELECT l_suppkey, l_shipdate, close AS s_px, open AS k_px,
       |    greatest(0.05::DOUBLE, (high - low) / close) AS sg
       |  FROM bars
       |), c AS (
       |  SELECT l_suppkey, l_shipdate, s_px, k_px, sg,
       |    (round(ln(s_px / k_px), 10) + 0.0::DOUBLE) AS lnsk,
       |    (round(exp(-(0.02::DOUBLE * 0.25::DOUBLE)), 10)
       |      + 0.0::DOUBLE) AS disc
       |  FROM o
       |), e AS (
       |  SELECT *, ((lnsk + ((0.02::DOUBLE + ((sg * sg) / 2.0::DOUBLE))
       |      * 0.25::DOUBLE)) / (sg * sqrt(0.25::DOUBLE))) AS d1
       |  FROM c
       |), f AS (
       |  SELECT *, (d1 - sg * sqrt(0.25::DOUBLE)) AS d2 FROM e
       |), t AS (
       |  SELECT *,
       |    (1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(d1)))
       |      AS t1,
       |    (round(exp(-(abs(d1) * abs(d1)) / 2.0::DOUBLE), 10)
       |      + 0.0::DOUBLE) / $s2pi::DOUBLE AS phi1,
       |    (1.0::DOUBLE / (1.0::DOUBLE + 0.2316419::DOUBLE * abs(d2)))
       |      AS t2,
       |    (round(exp(-(abs(d2) * abs(d2)) / 2.0::DOUBLE), 10)
       |      + 0.0::DOUBLE) / $s2pi::DOUBLE AS phi2
       |  FROM f
       |), n AS (
       |  SELECT *,
       |    1.0::DOUBLE - phi1 * (((((1.330274429::DOUBLE * t1
       |      + -1.821255978::DOUBLE) * t1 + 1.781477937::DOUBLE) * t1
       |      + -0.356563782::DOUBLE) * t1 + 0.319381530::DOUBLE) * t1)
       |      AS nabs1,
       |    1.0::DOUBLE - phi2 * (((((1.330274429::DOUBLE * t2
       |      + -1.821255978::DOUBLE) * t2 + 1.781477937::DOUBLE) * t2
       |      + -0.356563782::DOUBLE) * t2 + 0.319381530::DOUBLE) * t2)
       |      AS nabs2
       |  FROM t""".stripMargin
  }

  private def duckRsiSql(table: String, valueCol: String, n: Int,
                         keyCols: String, extraFirst: String = "",
                         extraRest: String = ""): String = {
    s"""WITH base AS (
       |  SELECT $keyCols$extraFirst,
       |    ${rsiStructList(valueCol)} AS xs
       |  FROM $table
       |  WINDOW w AS $duckW
       |), red AS (
       |  SELECT $keyCols$extraRest, ${rsiFold("xs", n)} AS s
       |  FROM base
       |)
       |SELECT $keyCols$extraRest, ${rsiEval("s", n)} AS rsi_$n
       |FROM red""".stripMargin
  }

  /** DuckDB sequential-fold SMA over a sliding last-n list — replicates the
    * Sma expression's left-to-right buffer fold (DuckDB's windowed avg uses
    * pairwise summation, which differs in the last bits). */
  private def duckSma(col: String, n: Int, alias: String): String =
    s"""CASE WHEN count($col) OVER ${alias}_w = $n
       |  THEN list_reduce(list($col) OVER ${alias}_w, (a,b) -> a + b) / $n.0::DOUBLE END""".stripMargin.replace("\n", " ")

  val all: Seq[Gate] = Seq(
    // ---- A1-A4: the four indicator window functions -----------------------
    Gate("q_sma", (s, d) => s.sql(
      s"""SELECT l_orderkey, l_linenumber, sma(l_quantity, 5) OVER w AS sma_5
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN count(l_quantity) OVER wn = 5 THEN avg(l_quantity) OVER wn END AS sma_5
         |FROM lineitem
         |WINDOW wn AS ($W ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_ema", (s, d) => s.sql(
      s"""SELECT l_orderkey, l_linenumber, ema(l_quantity, 12) OVER w AS ema_12
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      s"""SELECT l_orderkey, l_linenumber,
         |  ${duckEma("list(l_quantity) OVER w", 12)} AS ema_12
         |FROM lineitem WINDOW w AS $duckW
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_rsi", (s, d) => s.sql(
      s"""SELECT l_orderkey, l_linenumber, rsi(l_quantity, 14) OVER w AS rsi_14
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (duckRsiSql("lineitem", "l_quantity", 14, "l_orderkey, l_linenumber") +
        "\nORDER BY l_orderkey, l_linenumber")),
    Gate("q_macd", (s, d) => s.sql(
      s"""SELECT l_orderkey, l_linenumber, macd(l_quantity) OVER w AS macd
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      s"""SELECT l_orderkey, l_linenumber,
         |  ${duckEma("xs", 12)} - ${duckEma("xs", 26)} AS macd
         |FROM (
         |  SELECT l_orderkey, l_linenumber, list(l_quantity) OVER w AS xs
         |  FROM lineitem WINDOW w AS $duckW
         |)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_macd_full", (s, d) => s.sql(
      // beyond-reference MACD completion: signal line (EMA9 of the line,
      // seeded by the first line value) and histogram, same recurrence
      // family and frozen-state NULL contract as macd itself
      s"""SELECT l_orderkey, l_linenumber,
         |  macd(l_quantity)        OVER w AS macd,
         |  macd_signal(l_quantity) OVER w AS macd_sig,
         |  macd_hist(l_quantity)   OVER w AS macd_hist
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      // Replays Macd + MacdSignal/MacdHist as ONE struct fold carrying
      // (sig, ema12, ema26): the signal term recomputes the post-update
      // EMAs from the accumulator exactly as the Spark updateExpressions
      // do, so every intermediate double matches bit-for-bit. FIELD ORDER
      // IS LOAD-BEARING: DuckDB's list_reduce overwrites accumulator
      // fields in struct order, so each field expression may only read acc
      // fields at its own position or later — sig (which needs the OLD
      // e12/e26) must come first. (Measured: with sig last, acc.e12 inside
      // the sig expression already held the new value.)
      s"""SELECT l_orderkey, l_linenumber,
         |  st.e12 - st.e26 AS macd,
         |  st.sig AS macd_sig,
         |  (st.e12 - st.e26) - st.sig AS macd_hist
         |FROM (
         |  SELECT l_orderkey, l_linenumber,
         |    list_reduce(list_transform(list(l_quantity) OVER w,
         |      v -> struct_pack(sig := 0.0::DOUBLE, e12 := CAST(v AS DOUBLE), e26 := CAST(v AS DOUBLE))),
         |      (acc, cur) -> struct_pack(
         |        sig := (2.0::DOUBLE/10.0::DOUBLE)*(((2.0::DOUBLE/13.0::DOUBLE)*cur.e12 + (1.0::DOUBLE - 2.0::DOUBLE/13.0::DOUBLE)*acc.e12)
         |               - ((2.0::DOUBLE/27.0::DOUBLE)*cur.e26 + (1.0::DOUBLE - 2.0::DOUBLE/27.0::DOUBLE)*acc.e26))
         |             + (1.0::DOUBLE - 2.0::DOUBLE/10.0::DOUBLE)*acc.sig,
         |        e12 := (2.0::DOUBLE/13.0::DOUBLE)*cur.e12 + (1.0::DOUBLE - 2.0::DOUBLE/13.0::DOUBLE)*acc.e12,
         |        e26 := (2.0::DOUBLE/27.0::DOUBLE)*cur.e26 + (1.0::DOUBLE - 2.0::DOUBLE/27.0::DOUBLE)*acc.e26)) AS st
         |  FROM lineitem WINDOW w AS $duckW
         |)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_indicators_combined", (s, d) => s.sql(
      s"""SELECT l_orderkey, l_linenumber, l_quantity,
         |  sma(l_quantity, 5)  OVER w AS sma_5,
         |  ema(l_quantity, 12) OVER w AS ema_12,
         |  rsi(l_quantity, 14) OVER w AS rsi_14,
         |  macd(l_quantity)    OVER w AS macd
         |FROM lineitem WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      // single scan chain — (l_orderkey, l_linenumber) is not unique in the
      // testdata, so a self-join would fan out
      s"""WITH base AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity,
         |    CASE WHEN count(l_quantity) OVER wn = 5 THEN avg(l_quantity) OVER wn END AS sma_5,
         |    list(l_quantity) OVER w AS xs,
         |    list(struct_pack(p := l_quantity, g := 0.0::DOUBLE, l := 0.0::DOUBLE, c := 0.0::DOUBLE)) OVER w AS rs
         |  FROM lineitem
         |  WINDOW w AS $duckW,
         |    wn AS ($W ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |), red AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity, sma_5,
         |    ${duckEma("xs", 12)} AS ema_12,
         |    ${duckEma("xs", 12)} - ${duckEma("xs", 26)} AS macd,
         |    ${rsiFold("rs", 14)} AS s
         |  FROM base
         |)
         |SELECT l_orderkey, l_linenumber, l_quantity, sma_5, ema_12,
         |  ${rsiEval("s", 14)} AS rsi_14, macd
         |FROM red
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // ---- A9: batch RSI signal scan (signals.rs:32-93) ---------------------
    Gate("q_indicators_nulls", (s, d) => s.sql(
      // the null contract (SURVEY par-7.1): NULL input emits NULL and leaves
      // state frozen; SMA averages the last n NON-NULL values; EMA/MACD seed
      // on the first non-null. nullif plants deterministic nulls.
      s"""SELECT l_orderkey, l_linenumber,
         |  sma(xn, 4) OVER w AS sma_n,
         |  ema(xn, 5) OVER w AS ema_n,
         |  rsi(xn, 5) OVER w AS rsi_n,
         |  macd(xn)   OVER w AS macd_n
         |FROM (SELECT *, nullif(l_quantity, 17.0) AS xn FROM lineitem)
         |WINDOW w AS ($W)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin), {
      // Frozen-on-NULL state == the same fold over the null-FILTERED
      // subsequence, so the oracle filters first and reuses the exact fold
      // shapes already proven at full scale by q_ema/q_rsi. (A null-aware
      // lambda with extra CASE branches hit a DuckDB 1.0 list_reduce
      // mis-evaluation that appeared only on full-size vectors.)
      def emaF(alpha: String) =
        s"CASE WHEN len(nn) > 0 THEN list_reduce(nn, (acc, x) -> ($alpha)*x + (1.0::DOUBLE - ($alpha))*acc) END"
      s"""WITH src AS (
         |  SELECT l_orderkey, l_linenumber, nullif(l_quantity, 17.0) AS xn,
         |    list_filter(list(nullif(l_quantity, 17.0)) OVER w, v -> v IS NOT NULL) AS nn
         |  FROM lineitem
         |  WINDOW w AS $duckW
         |), red AS (
         |  SELECT l_orderkey, l_linenumber, xn, len(nn) AS n_nn,
         |    ${emaF("2.0::DOUBLE/6.0::DOUBLE")} AS ema_s,
         |    ${emaF("2.0::DOUBLE/13.0::DOUBLE")} AS m12,
         |    ${emaF("2.0::DOUBLE/27.0::DOUBLE")} AS m26,
         |    CASE WHEN len(nn) >= 4
         |      THEN list_reduce(nn[len(nn)-3:], (a, b) -> a + b) / 4.0::DOUBLE END AS sma_s,
         |    CASE WHEN len(nn) > 0 THEN ${rsiFold("list_transform(nn, v -> struct_pack(p := v, g := 0.0::DOUBLE, l := 0.0::DOUBLE, c := 0.0::DOUBLE))", 5)} END AS s
         |  FROM src
         |)
         |SELECT l_orderkey, l_linenumber,
         |  CASE WHEN xn IS NULL THEN NULL ELSE sma_s END AS sma_n,
         |  CASE WHEN xn IS NULL THEN NULL ELSE ema_s END AS ema_n,
         |  CASE WHEN xn IS NULL OR s IS NULL THEN NULL ELSE ${rsiEval("s", 5)} END AS rsi_n,
         |  CASE WHEN xn IS NULL OR m12 IS NULL THEN NULL ELSE m12 - m26 END AS macd_n
         |FROM red ORDER BY l_orderkey, l_linenumber""".stripMargin
    }),
    Gate("q_rsi_signals", (s, d) => s.sql(
      s"""WITH r AS (
         |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice AS price,
         |    rsi(l_extendedprice, 5) OVER w AS rsi_5
         |  FROM lineitem WINDOW w AS ($W)
         |)
         |SELECT l_suppkey, l_orderkey, l_linenumber, price,
         |  CASE WHEN rsi_5 < 30.0 THEN 'BUY' ELSE 'SELL' END AS signal_type,
         |  CASE WHEN rsi_5 < 30.0 THEN (30.0 - rsi_5) / 30.0
         |       ELSE (rsi_5 - 70.0) / 30.0 END AS confidence
         |FROM r
         |WHERE rsi_5 IS NOT NULL AND (rsi_5 < 30.0 OR rsi_5 > 70.0)
         |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
      s"""WITH r AS (
         |${duckRsiSql("lineitem", "l_extendedprice", 5,
            "l_suppkey, l_orderkey, l_linenumber",
            extraFirst = ", l_extendedprice AS price", extraRest = ", price")}
         |)
         |SELECT l_suppkey, l_orderkey, l_linenumber, price,
         |  CASE WHEN rsi_5 < 30.0 THEN 'BUY' ELSE 'SELL' END AS signal_type,
         |  CASE WHEN rsi_5 < 30.0 THEN (30.0 - rsi_5) / 30.0
         |       ELSE (rsi_5 - 70.0) / 30.0 END AS confidence
         |FROM r
         |WHERE rsi_5 IS NOT NULL AND (rsi_5 < 30.0 OR rsi_5 > 70.0)
         |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    // ---- A10: MA-crossover scan (signals.rs:96-169) -----------------------
    Gate("q_ma_crossover", (s, d) => s.sql(
      s"""WITH ma AS (
         |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         |    l_extendedprice AS price,
         |    sma(l_extendedprice, 20) OVER w AS sma_20,
         |    sma(l_extendedprice, 50) OVER w AS sma_50
         |  FROM lineitem WINDOW w AS ($W)
         |), lagged AS (
         |  SELECT *,
         |    LAG(sma_20, 1) OVER w2 AS prev_sma_20,
         |    LAG(sma_50, 1) OVER w2 AS prev_sma_50
         |  FROM ma WINDOW w2 AS ($W)
         |)
         |SELECT l_suppkey, l_orderkey, l_linenumber, price, sma_20, sma_50,
         |  CASE WHEN sma_20 > sma_50 THEN 'BUY' ELSE 'SELL' END AS signal_type,
         |  least(abs(sma_20 - sma_50) / price, 1.0) AS confidence
         |FROM lagged
         |WHERE sma_20 IS NOT NULL AND sma_50 IS NOT NULL
         |  AND prev_sma_20 IS NOT NULL AND prev_sma_50 IS NOT NULL
         |  AND ((prev_sma_20 <= prev_sma_50 AND sma_20 > sma_50)
         |    OR (prev_sma_20 >= prev_sma_50 AND sma_20 < sma_50))
         |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
      s"""WITH ma AS (
         |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         |    l_extendedprice AS price,
         |    ${duckSma("l_extendedprice", 20, "s20")} AS sma_20,
         |    ${duckSma("l_extendedprice", 50, "s50")} AS sma_50
         |  FROM lineitem
         |  WINDOW s20_w AS ($W ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |    s50_w AS ($W ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
         |), lagged AS (
         |  SELECT *,
         |    LAG(sma_20, 1) OVER w2 AS prev_sma_20,
         |    LAG(sma_50, 1) OVER w2 AS prev_sma_50
         |  FROM ma WINDOW w2 AS ($W)
         |)
         |SELECT l_suppkey, l_orderkey, l_linenumber, price, sma_20, sma_50,
         |  CASE WHEN sma_20 > sma_50 THEN 'BUY' ELSE 'SELL' END AS signal_type,
         |  least(abs(sma_20 - sma_50) / price, 1.0) AS confidence
         |FROM lagged
         |WHERE sma_20 IS NOT NULL AND sma_50 IS NOT NULL
         |  AND prev_sma_20 IS NOT NULL AND prev_sma_50 IS NOT NULL
         |  AND ((prev_sma_20 <= prev_sma_50 AND sma_20 > sma_50)
         |    OR (prev_sma_20 >= prev_sma_50 AND sma_20 < sma_50))
         |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    // ---- A11/A18: validation checks (validator.rs:63-163) -----------------
    Gate("q_validate_values", (s, d) => s.sql(
      """SELECT count(*) AS total_rows,
        |  count(CASE WHEN l_quantity <= 0 THEN 1 END) AS nonpositive_quantity,
        |  count(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS nonpositive_price,
        |  count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS bad_discount,
        |  count(CASE WHEN l_tax < 0 THEN 1 END) AS negative_tax
        |FROM lineitem""".stripMargin),
      """SELECT count(*) AS total_rows,
        |  count(CASE WHEN l_quantity <= 0 THEN 1 END) AS nonpositive_quantity,
        |  count(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS nonpositive_price,
        |  count(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS bad_discount,
        |  count(CASE WHEN l_tax < 0 THEN 1 END) AS negative_tax
        |FROM lineitem""".stripMargin),
    Gate("q_validate_gaps", (s, d) => s.sql(
      // A global LAG (no PARTITION BY) would be a 1-partition sort over the
      // whole fact table — the scale-killer. Instead: the LAG is partitioned
      // by calendar month (gaps between consecutive rows within a month),
      // and month-boundary pairs are recovered from a tiny per-month
      // (first, last) aggregate — the only global window runs over ~one row
      // per month. datediff on DATEs is timezone-independent (a >86400s gap
      // between DATEs ≡ >1 day).
      """WITH o AS (
        |  SELECT o_orderdate, o_orderkey, trunc(o_orderdate, 'month') AS mth
        |  FROM orders
        |), within AS (
        |  SELECT count(*) AS c FROM (
        |    SELECT o_orderdate,
        |      LAG(o_orderdate) OVER (PARTITION BY mth ORDER BY o_orderdate, o_orderkey) AS prev_date
        |    FROM o
        |  )
        |  WHERE prev_date IS NOT NULL AND datediff(o_orderdate, prev_date) > 1
        |), bounds AS (
        |  SELECT mth, min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
        |  FROM o GROUP BY mth
        |), boundary AS (
        |  SELECT count(*) AS c FROM (
        |    SELECT first_date, LAG(last_date) OVER (ORDER BY mth) AS prev_last
        |    FROM bounds
        |  )
        |  WHERE prev_last IS NOT NULL AND datediff(first_date, prev_last) > 1
        |)
        |SELECT w.c + b.c AS gap_count FROM within w CROSS JOIN boundary b""".stripMargin),
      """WITH g AS (
        |  SELECT o_orderdate,
        |    LAG(o_orderdate) OVER (ORDER BY o_orderdate, o_orderkey) AS prev_date
        |  FROM orders
        |)
        |SELECT count(*) AS gap_count
        |FROM g
        |WHERE prev_date IS NOT NULL
        |  AND date_diff('second', prev_date, o_orderdate) > 86400""".stripMargin),
    // ---- A12: day-aggs weekend check (validator.rs:165-208) ---------------
    Gate("q_validate_weekend", (s, d) => s.sql(
      // Spark: 1=Sunday..7=Saturday (constants translated per SURVEY A12)
      """SELECT count(*) AS weekend_rows
        |FROM orders WHERE dayofweek(o_orderdate) IN (1, 7)""".stripMargin),
      // DuckDB: dayofweek 0=Sunday..6=Saturday
      """SELECT count(*) AS weekend_rows
        |FROM orders WHERE dayofweek(o_orderdate) IN (0, 6)""".stripMargin),
    Gate("q_ohlc_bars", (s, d) => {
      // batch OHLC resample: per-supplier daily bars from tick-level rows;
      // open/close are exact min_by/max_by selections on the tick order,
      // volume is the scaled-BIGINT money sum
      dailyBars(s).orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      (duckBarsSql + "\nORDER BY l_suppkey, l_shipdate")),
    Gate("q_equity_curve", (s, d) => {
      // generalized equity curve under a LONG/SHORT mean-reversion
      // position (prior close vs prior 10-bar SMA, ±1/0) — the
      // strategy-agnostic runprod compounding core
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val withSma = dailyBarsW(s).select(col("*"),
        functions.FinancialFunctions.sma(col("close"), 10).over(w).as("__s10"))
      // stage the two lags once (each inlined reference would expand to
      // its own window expression — 4 copies of each lag in `pos`)
      val lagged = withSma.select(col("*"),
        lag(col("close"), 1).over(w).as("__pc"),
        lag(col("__s10"), 1).over(w).as("__ps"))
      val (pc, ps) = (col("__pc"), col("__ps"))
      val pos = when(pc.isNotNull && ps.isNotNull && pc < ps, lit(1.0))
        .when(pc.isNotNull && ps.isNotNull && pc > ps, lit(-1.0))
        .otherwise(lit(0.0))
      val posed = lagged.withColumn("position", pos)
        .drop("__s10", "__pc", "__ps")
      operators.Signals.equityCurve(posed, "l_suppkey", Seq("l_shipdate"),
          "close", "position")
        .select(col("l_suppkey"), col("l_shipdate"), col("position"),
          col("equity"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Equity-curve replay: guarded windowed-avg SMA, the ±1/0 prior-bar
      // position CASE, 1 + pos·ret factors, WITH RECURSIVE product walk.
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    CASE WHEN count(close) OVER w10 = 10 THEN avg(close) OVER w10 END AS s10,
         |    lag(close, 1) OVER ws AS pc
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate),
         |    w10 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |), p AS (
         |  SELECT l_suppkey, l_shipdate, close, pc,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn,
         |    CASE WHEN pc IS NOT NULL AND lag(s10, 1) OVER ws2 IS NOT NULL
         |          AND pc < lag(s10, 1) OVER ws2 THEN 1.0::DOUBLE
         |         WHEN pc IS NOT NULL AND lag(s10, 1) OVER ws2 IS NOT NULL
         |          AND pc > lag(s10, 1) OVER ws2 THEN -1.0::DOUBLE
         |         ELSE 0.0::DOUBLE END AS position
         |  FROM m WINDOW ws2 AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, rn, position,
         |    CASE WHEN position IS NOT NULL AND position <> 0.0::DOUBLE
         |          AND pc IS NOT NULL AND pc <> 0.0::DOUBLE
         |      THEN 1.0::DOUBLE + (position * ((close - pc) / pc))
         |      ELSE 1.0::DOUBLE END AS fac
         |  FROM p
         |), bt AS (
         |  SELECT l_suppkey, l_shipdate, rn, position, fac AS st
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn, s.position,
         |    (h.st * s.fac) AS st
         |  FROM bt h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, position,
         |  1.0::DOUBLE * st AS equity
         |FROM bt ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_backtest", (s, d) => {
      // vectorized 5/10 MA-crossover backtest: lookahead-free position
      // from the PRIOR bar's SMAs, equity via the native runprod chain —
      // a million-ticker backtest as one declarative job
      operators.Signals.backtestMaCrossover(dailyBarsW(s), "l_suppkey",
          Seq("l_shipdate"), "close", shortWindow = 5, longWindow = 10)
        .select(col("l_suppkey"), col("l_shipdate"), col("position"),
          col("equity"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Backtest replay: SMAs as guarded windowed avgs (closes are
      // integer-valued — exact), the prior-bar position compare, growth
      // factors as one fixed tree, then the WITH RECURSIVE product walk.
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), m AS (
         |  SELECT l_suppkey, l_shipdate, close,
         |    CASE WHEN count(close) OVER w5 = 5 THEN avg(close) OVER w5 END AS f,
         |    CASE WHEN count(close) OVER w10 = 10 THEN avg(close) OVER w10 END AS sl,
         |    lag(close, 1) OVER ws AS pc
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate),
         |    w5 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |    w10 AS (PARTITION BY l_suppkey ORDER BY l_shipdate
         |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |), p AS (
         |  SELECT l_suppkey, l_shipdate, close, pc,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn,
         |    CASE WHEN lag(f, 1) OVER ws2 IS NOT NULL
         |          AND lag(sl, 1) OVER ws2 IS NOT NULL
         |          AND lag(f, 1) OVER ws2 > lag(sl, 1) OVER ws2
         |      THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS position
         |  FROM m WINDOW ws2 AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, rn, position,
         |    CASE WHEN position = 1.0::DOUBLE AND pc IS NOT NULL
         |          AND pc <> 0.0::DOUBLE
         |      THEN 1.0::DOUBLE + ((close - pc) / pc)
         |      ELSE 1.0::DOUBLE END AS fac
         |  FROM p
         |), bt AS (
         |  SELECT l_suppkey, l_shipdate, rn, position, fac AS st
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn, s.position,
         |    (h.st * s.fac) AS st
         |  FROM bt h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, position,
         |  1.0::DOUBLE * st AS equity
         |FROM bt ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_holt", (s, d) => {
      // Holt level+trend one-step-ahead forecast of daily closes
      // (α=0.3, β=0.2 as permille literals) — the native recurrence.
      // Oracle-hard since r7: a WITH RECURSIVE level/trend replay
      // (DuckDB 1.0's list_reduce mis-evaluates the equivalent nested
      // struct lambda from ~30 elements on — NOTES.md)
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      dailyBarsW(s)
        .select(col("l_suppkey"), col("l_shipdate"),
          FinancialFunctions.holt(col("close"), 300, 200).over(w)
            .as("forecast"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays Holt (WindowIndicators.Holt) as a WITH RECURSIVE step-by-step
      // level/trend replay — NOT a list_reduce fold, which DuckDB 1.0
      // mis-evaluates for this nested struct lambda (NOTES.md). Each
      // recursion step advances every supplier's series one row (rn → rn+1);
      // newLvl is inlined twice because DuckDB resolves an unqualified
      // lateral alias against same-named table columns first (h.lvl), which
      // silently freezes the trend update. α=300‰, β=200‰ derived by the
      // same /1000.0 division as the native expression; daily closes are
      // never NULL so the frozen-state branch has no oracle surface.
      val newLvl = "((300.0::DOUBLE/1000.0::DOUBLE)*s.close" +
        " + (1.0::DOUBLE - 300.0::DOUBLE/1000.0::DOUBLE)*(h.lvl + h.trd))"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, close,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
         |  FROM bars
         |), holt AS (
         |  SELECT l_suppkey, l_shipdate, rn,
         |    close AS lvl, CAST(NULL AS DOUBLE) AS trd
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn,
         |    CASE WHEN h.trd IS NULL THEN s.close ELSE $newLvl END AS lvl,
         |    CASE WHEN h.trd IS NULL THEN s.close - h.lvl
         |         ELSE (200.0::DOUBLE/1000.0::DOUBLE)*($newLvl - h.lvl)
         |              + (1.0::DOUBLE - 200.0::DOUBLE/1000.0::DOUBLE)*h.trd END AS trd
         |  FROM holt h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, lvl + trd AS forecast
         |FROM holt ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_kalman", (s, d) => {
      // local-level Kalman filtered level of daily closes (q/r = 0.01:
      // q_pm=10, r_pm=1000) — native recursive window expression
      // (WindowIndicators.Kalman); oracle is a WITH RECURSIVE (m, p)
      // state replay, the q_holt precedent.
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      dailyBarsW(s)
        .select(col("l_suppkey"), col("l_shipdate"),
          FinancialFunctions.kalman(col("close"), 10, 1000).over(w)
            .as("level"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays Kalman (WindowIndicators.Kalman) as a WITH RECURSIVE (m, p)
      // state replay — predict/update with q=10‰, r=1000‰ derived by the
      // same /1000.0 division as the native expression. The gain k and the
      // predicted variance p⁻ are inlined everywhere (the q_holt lateral-
      // alias lesson); op order matches the Catalyst tree node-for-node so
      // the doubles are bit-identical. Daily closes are never NULL, so the
      // frozen-state branch has no oracle surface (spec-covered instead).
      val Q = "(10.0::DOUBLE/1000.0::DOUBLE)"
      val R = "(1000.0::DOUBLE/1000.0::DOUBLE)"
      val pp = s"(h.p + $Q)"
      val k = s"($pp / ($pp + $R))"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, close,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
         |  FROM bars
         |), kal AS (
         |  SELECT l_suppkey, l_shipdate, rn, close AS m, $R AS p
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn,
         |    (h.m + ($k * (s.close - h.m))) AS m,
         |    ((1.0::DOUBLE - $k) * $pp) AS p
         |  FROM kal h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, m AS level
         |FROM kal ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_garch", (s, d) => {
      // GARCH(1,1) conditional volatility of daily simple returns
      // (ω=2e-6, α=0.1, β=0.85 as ppm/permille literals). The first
      // bar's NULL return exercises the frozen-state NULL contract;
      // oracle is a WITH RECURSIVE (ret, σ²) replay.
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      dailyBarsW(s)
        .select(col("l_suppkey"), col("l_shipdate"),
          ((col("close") / lag(col("close"), 1).over(w)) - lit(1.0)).as("ret"))
        .select(col("l_suppkey"), col("l_shipdate"),
          FinancialFunctions.garch(col("ret"), 2, 100, 850).over(w)
            .as("cond_vol"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays Garch (WindowIndicators.Garch) as a WITH RECURSIVE (ret, σ²)
      // replay over per-supplier daily simple returns. ω/α/β derive by the
      // identical ppm/permille divisions; the σ² step is parenthesized to
      // match the Catalyst tree ω + ((α·r²) + (β·σ²)) exactly. The rn=1 row
      // carries a NULL return → NULL σ² (the frozen-state contract's only
      // oracle-visible face); rn=2 seeds the stationary variance.
      val W0 = "(2.0::DOUBLE/1000000.0::DOUBLE)"
      val A = "(100.0::DOUBLE/1000.0::DOUBLE)"
      val B = "(850.0::DOUBLE/1000.0::DOUBLE)"
      val uncond = s"($W0 / (1.0::DOUBLE - $A - $B))"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate,
         |    ((close / lag(close, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate)) - 1.0::DOUBLE) AS ret,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey, l_shipdate, rn, ret, CAST(NULL AS DOUBLE) AS sig2
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn, s.ret,
         |    CASE WHEN h.sig2 IS NULL THEN $uncond
         |         ELSE ($W0 + (($A * (h.ret * h.ret)) + ($B * h.sig2))) END AS sig2
         |  FROM g h JOIN seq s ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate, sqrt(sig2) AS cond_vol
         |FROM g ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_candles", (s, d) => {
      // candlestick pattern flags over daily bars — pure per-row/one-lag
      // comparisons, exact anywhere
      operators.Signals.candlePatterns(dailyBarsW(s), "open", "high",
          "low", "close", Seq("l_suppkey"), Seq("l_shipdate"))
        .select(col("l_suppkey"), col("l_shipdate"), col("doji"),
          col("hammer"), col("bullish_engulfing"), col("bearish_engulfing"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Signals.candlePatterns: identical comparison trees, first
      // bars cannot engulf, zero-range bars flag nothing.
      s"""WITH bars AS (
         |$duckBarsSql
         |)
         |SELECT l_suppkey, l_shipdate,
         |  (high - low > 0.0::DOUBLE AND
         |   abs(close - open) <= 0.1::DOUBLE * (high - low)) AS doji,
         |  (high - low > 0.0::DOUBLE AND abs(close - open) > 0.0::DOUBLE AND
         |   least(open, close) - low >= 2.0::DOUBLE * abs(close - open) AND
         |   high - greatest(open, close) <= abs(close - open)) AS hammer,
         |  (lag(open) OVER ws IS NOT NULL AND
         |   lag(close) OVER ws < lag(open) OVER ws AND close > open AND
         |   open < lag(close) OVER ws AND close > lag(open) OVER ws)
         |    AS bullish_engulfing,
         |  (lag(open) OVER ws IS NOT NULL AND
         |   lag(close) OVER ws > lag(open) OVER ws AND close < open AND
         |   open > lag(close) OVER ws AND close < lag(open) OVER ws)
         |    AS bearish_engulfing
         |FROM bars
         |WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)
         |ORDER BY l_suppkey, l_shipdate""".stripMargin),
    Gate("q_twap", (s, d) => {
      // per-(user, day) time-weighted average of the event score — each
      // tick's value weighted by its exact nanosecond holding time until
      // the next tick (last tick holds to the day boundary)
      operators.Bars.twap(readEventsNanos(s, d), "value", "ts",
          Seq("user_id"), Seq("ts", "event_id"),
          bucketNanos = 86400000000000L, priceScale = 2)
        .orderBy(col("user_id"), col("bucket"))
    },
      // Replays Bars.twap: identical lead/boundary Δt in exact nanos,
      // HUGEINT p·Δt sums ≡ the DECIMAL(38,0) sums, one double division.
      """WITH src AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tsn,
        |    CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS pi
        |  FROM events
        |), d AS (
        |  SELECT user_id, tsn // 86400000000000 AS bucket, pi,
        |    coalesce(lead(tsn, 1) OVER (PARTITION BY user_id, tsn // 86400000000000
        |        ORDER BY tsn, event_id),
        |      (tsn // 86400000000000 + 1) * 86400000000000) - tsn AS dt
        |  FROM src
        |)
        |SELECT user_id, bucket, count(*) AS n_ticks,
        |  CASE WHEN sum(dt) > 0 THEN
        |    CAST(sum(pi * dt) AS DOUBLE) / (100.0::DOUBLE * CAST(sum(dt) AS DOUBLE))
        |  END AS twap
        |FROM d GROUP BY user_id, bucket
        |ORDER BY user_id, bucket""".stripMargin),
    Gate("q_ewma_corr", (s, d) => s.sql(
      // RiskMetrics EWMA covariance/variance/correlation (λ = 0.94) —
      // three independent ewmcov recurrences share ONE window spec (one
      // Window pass); the correlation closed form runs on the outputs
      s"""WITH e AS (
         |  SELECT l_orderkey, l_linenumber,
         |    ewmcov(xq, yp, 940) OVER w AS cov_xy,
         |    ewmcov(xq, xq, 940) OVER w AS var_x,
         |    ewmcov(yp, yp, 940) OVER w AS var_y
         |  FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |          CAST(l_quantity AS DOUBLE) AS xq,
         |          CAST(l_extendedprice AS DOUBLE) AS yp
         |        FROM lineitem)
         |  WINDOW w AS ($W)
         |)
         |SELECT l_orderkey, l_linenumber, cov_xy, var_x, var_y,
         |  CASE WHEN var_x > 0 AND var_y > 0
         |       THEN cov_xy / (sqrt(var_x) * sqrt(var_y)) END AS ewm_corr
         |FROM e ORDER BY l_orderkey, l_linenumber""".stripMargin),
      // Replays the three EwmCov recurrences as ONE struct fold whose
      // fields are mutually independent (each reads only its own acc
      // field + the current pair — safe under DuckDB's in-place field
      // update, see NOTES), then the same correlation closed form.
      s"""SELECT l_orderkey, l_linenumber,
         |  st.cxy AS cov_xy, st.vx AS var_x, st.vy AS var_y,
         |  CASE WHEN st.vx > 0 AND st.vy > 0
         |       THEN st.cxy / (sqrt(st.vx) * sqrt(st.vy)) END AS ewm_corr
         |FROM (
         |  SELECT l_orderkey, l_linenumber,
         |    list_reduce(list_transform(list(struct_pack(x := xq, y := yp)) OVER w,
         |      p -> struct_pack(cxy := p.x * p.y, vx := p.x * p.x, vy := p.y * p.y,
         |                       x := p.x, y := p.y)),
         |      (acc, cur) -> struct_pack(
         |        cxy := (940.0::DOUBLE/1000.0::DOUBLE)*acc.cxy + (1.0::DOUBLE - 940.0::DOUBLE/1000.0::DOUBLE)*(cur.x * cur.y),
         |        vx  := (940.0::DOUBLE/1000.0::DOUBLE)*acc.vx  + (1.0::DOUBLE - 940.0::DOUBLE/1000.0::DOUBLE)*(cur.x * cur.x),
         |        vy  := (940.0::DOUBLE/1000.0::DOUBLE)*acc.vy  + (1.0::DOUBLE - 940.0::DOUBLE/1000.0::DOUBLE)*(cur.y * cur.y),
         |        x := cur.x, y := cur.y)) AS st
         |  FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
         |          CAST(l_quantity AS DOUBLE) AS xq,
         |          CAST(l_extendedprice AS DOUBLE) AS yp
         |        FROM lineitem)
         |  WINDOW w AS $duckW
         |)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_fk_orphans", (s, d) => {
      // referential-integrity gate: planted bad supplier keys (every
      // 97th order shifted by +1000) surface as orphan keys with their
      // fact-row blast radius
      val fact = s.table("lineitem").select(
        when(col("l_orderkey") % 97 === 0, col("l_suppkey") + lit(1000L))
          .otherwise(col("l_suppkey")).as("fk_supp"))
      operators.Validation.fkOrphans(fact, s.table("supplier"),
          "fk_supp", "s_suppkey")
        .orderBy(col("fk_supp"))
    },
      // Replays Validation.fkOrphans: distinct-key counts then an anti
      // membership check against the dimension keys.
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 97 = 0 THEN l_suppkey + 1000
        |              ELSE l_suppkey END AS fk_supp
        |  FROM lineitem),
        |keyed AS (SELECT fk_supp, CAST(count(*) AS BIGINT) AS n_rows
        |          FROM fact GROUP BY fk_supp)
        |SELECT fk_supp, n_rows FROM keyed
        |WHERE fk_supp NOT IN (SELECT DISTINCT s_suppkey FROM supplier)
        |ORDER BY fk_supp""".stripMargin),
    Gate("q_pareto", (s, d) => {
      // Pareto concentration of shipment quantity by supplier (80/20
      // head flag) — exact integer sums, reduced-frame ranking window
      operators.Validation.paretoContribution(s.table("lineitem"),
          "l_suppkey", "l_quantity", headShare = 0.8)
        .orderBy(col("l_suppkey"))
    },
      // Replays Validation.paretoContribution: exact integer-valued sums,
      // (total desc, key asc) cumulative, strict-< head boundary.
      """WITH s AS (SELECT l_suppkey,
        |             sum(CAST(l_quantity AS DOUBLE)) AS total
        |           FROM lineitem GROUP BY 1),
        |g AS (SELECT sum(total) AS gt FROM s),
        |w AS (SELECT l_suppkey, total,
        |        sum(total) OVER (ORDER BY total DESC, l_suppkey ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM s)
        |SELECT w.l_suppkey, w.total, w.total / g.gt AS share,
        |  w.cum / g.gt AS cum_share,
        |  ((w.cum - w.total) / g.gt < 0.8::DOUBLE) AS in_head
        |FROM w CROSS JOIN g
        |ORDER BY l_suppkey""".stripMargin),
    Gate("q_dow_profile", (s, d) => {
      // day-of-week seasonal profile of shipment quantities per supplier
      // — exact integer sums, additive residuals
      operators.Resample.dowProfile(
          s.table("lineitem").select("l_orderkey", "l_linenumber",
            "l_suppkey", "l_shipdate", "l_quantity"),
          "l_quantity", "l_shipdate", Seq("l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("dow"), col("dow_mean"), col("l_quantity_deseason"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Resample.dowProfile: DuckDB dayofweek (0=Sunday) + 1 maps
      // onto Spark's 1=Sunday convention; exact integer (n, Σx) sums.
      """WITH w AS (
        |  SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
        |    CAST(dayofweek(l_shipdate) + 1 AS INT) AS dow
        |  FROM lineitem),
        |s AS (SELECT l_suppkey, dow,
        |        CAST(count(l_quantity) AS BIGINT) AS n,
        |        sum(CAST(l_quantity AS DOUBLE)) AS sm
        |      FROM w GROUP BY 1, 2),
        |m AS (SELECT l_suppkey, dow, sm / CAST(n AS DOUBLE) AS dow_mean
        |      FROM s)
        |SELECT w.l_orderkey, w.l_linenumber, w.l_suppkey, w.dow, m.dow_mean,
        |  CAST(w.l_quantity AS DOUBLE) - m.dow_mean AS l_quantity_deseason
        |FROM w JOIN m ON m.l_suppkey = w.l_suppkey AND m.dow = w.dow
        |ORDER BY w.l_orderkey, w.l_linenumber""".stripMargin),
    Gate("q_densify", (s, d) => {
      // calendar densification of the daily bars: every supplier gets a row
      // per day between its first and last bar; the gate fingerprints the
      // injected gap days per supplier
      val bars = dailyBars(s)
      operators.Resample.densify(bars, Seq("l_suppkey"), "l_shipdate")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("n_ticks").isNull, 1L).otherwise(0L)).as("n_gap_days"))
        .orderBy(col("l_suppkey"))
    },
      // Replays Resample.densify over the bars: per-key daily spine
      // (generate_series) left-joined to the bars, gap days counted.
      s"""WITH bars AS (
         |$duckBarsSql
         |), spans AS (
         |  SELECT l_suppkey, min(l_shipdate) AS lo, max(l_shipdate) AS hi
         |  FROM bars GROUP BY l_suppkey
         |), spine AS (
         |  SELECT l_suppkey,
         |    CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
         |      CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS l_shipdate
         |  FROM spans
         |)
         |SELECT s.l_suppkey, count(*) AS n_days,
         |  CAST(sum(CASE WHEN b.n_ticks IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gap_days
         |FROM spine s LEFT JOIN bars b
         |  ON s.l_suppkey = b.l_suppkey AND s.l_shipdate = b.l_shipdate
         |GROUP BY s.l_suppkey
         |ORDER BY s.l_suppkey""".stripMargin),
    Gate("q_seasonal_anomaly", (s, d) => {
      // the composition flagship: seasonal decomposition (p=7) feeds a
      // per-supplier MAD outlier screen on the RESIDUALS — anomalies
      // after the weekly cycle is explained away, not before; residuals
      // quantize to 6 dp so both engines interpolate medians on
      // integer-valued doubles (exact). The decomposed frame is STAGED
      // (persist + CacheScope) before the screen: MAD is two grouped
      // percentile passes by construction, and without staging each pass
      // re-derives the whole bars+window decompose (the subtree appeared
      // 6× in one plan). The cache is bars-sized — |suppliers|×|days|,
      // ~1000× smaller than the raw corpus — so the same staging holds
      // at 100 TB (CacheScope scaladoc's caller-side protocol).
      val dec = CacheScope.register(
        operators.Resample.seasonalDecompose(dailyBarsW(s)
            .select(col("l_suppkey"), col("l_shipdate"), col("close")),
            "close", Seq("l_suppkey"), Seq("l_shipdate"), period = 7,
            scale = 2)
          .filter(col("resid").isNotNull)
          .withColumn("resid_q", round(col("resid") * lit(1e6)))
          .select(col("l_suppkey"), col("l_shipdate"), col("resid_q"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      operators.Anomaly.madOutliers(
          dec,
          "resid_q", Seq("l_suppkey"), threshold = 3.5)
        .select(col("l_suppkey"), col("l_shipdate"),
          (col("resid_q") / lit(1e6)).as("resid"), col("robust_z"),
          col("is_outlier"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays the q_seasonal residual machine, then the q_mad_outliers
      // screen on the 6-dp-quantized residuals (integer-valued doubles —
      // both engines' median interpolation is exact there).
      s"""WITH bars AS (
         |$duckBarsSql
         |), base AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |    CASE WHEN count(*) OVER (ws ROWS BETWEEN 3 PRECEDING AND
         |        3 FOLLOWING) = 7
         |      THEN sum(CAST(round(close * 100.0::DOUBLE) AS BIGINT))
         |        OVER (ws ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |    END AS num,
         |    CAST((row_number() OVER ws - 1) % 7 AS INTEGER) AS phase
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |pm AS (
         |  SELECT l_suppkey, phase,
         |    CAST(sum(CAST(7 * x - num AS HUGEINT)) AS DOUBLE) /
         |      (CAST(count(7 * x - num) AS DOUBLE) * 7.0::DOUBLE) AS sm
         |  FROM base GROUP BY l_suppkey, phase),
         |aj AS (
         |  SELECT l_suppkey,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(sm ORDER BY phase)), (acc, e) -> acc + e) /
         |      CAST(count(*) AS DOUBLE) AS adj
         |  FROM pm WHERE sm IS NOT NULL GROUP BY l_suppkey),
         |res AS (
         |  SELECT base.l_suppkey, base.l_shipdate,
         |    round((((CAST(base.x AS DOUBLE) * 7.0::DOUBLE -
         |      CAST(base.num AS DOUBLE)) / 7.0::DOUBLE -
         |      (pm.sm - aj.adj)) / 100.0::DOUBLE) * 1000000.0::DOUBLE)
         |      AS resid_q
         |  FROM base
         |  JOIN pm ON base.l_suppkey = pm.l_suppkey AND base.phase = pm.phase
         |  LEFT JOIN aj ON base.l_suppkey = aj.l_suppkey
         |  WHERE base.num IS NOT NULL),
         |m AS (
         |  SELECT l_suppkey, quantile_cont(resid_q, 0.5) AS med
         |  FROM res GROUP BY l_suppkey),
         |dev AS (
         |  SELECT res.l_suppkey, res.l_shipdate, res.resid_q, m.med,
         |    abs(res.resid_q - m.med) AS dv
         |  FROM res JOIN m USING (l_suppkey)),
         |md AS (
         |  SELECT l_suppkey, quantile_cont(dv, 0.5) AS mad
         |  FROM dev GROUP BY l_suppkey)
         |SELECT dev.l_suppkey, dev.l_shipdate,
         |  dev.resid_q / 1000000.0::DOUBLE AS resid,
         |  CASE WHEN md.mad > 0.0 THEN
         |    (dev.resid_q - dev.med) / (1.4826::DOUBLE * md.mad)
         |  ELSE 0.0 END AS robust_z,
         |  CASE WHEN md.mad > 0.0 THEN
         |    abs((dev.resid_q - dev.med) / (1.4826::DOUBLE * md.mad))
         |      > 3.5::DOUBLE
         |  ELSE FALSE END AS is_outlier
         |FROM dev JOIN md USING (l_suppkey)
         |ORDER BY dev.l_suppkey, dev.l_shipdate""".stripMargin),
    Gate("q_holt_winters", (s, d) => {
      // NATIVE additive Holt-Winters (level + trend + 7-slot seasonal
      // state as an array agg buffer) over the daily closes — the
      // seasonal upgrade of q_holt; oracle is a WITH RECURSIVE machine
      // with the seasonal array unrolled into seven columns
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      dailyBarsW(s)
        .select(col("l_suppkey"), col("l_shipdate"),
          FinancialFunctions.holtWinters(col("close"), 7, 300, 200, 300)
            .over(w).as("hw"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays HoltWinters (WindowIndicators.HoltWinters) as a WITH
      // RECURSIVE machine with the 7-slot seasonal array unrolled into
      // columns s0..s6. Every compound tree (seed level, new level, the
      // seasonal step) is INLINED at every use site (the q_holt lateral-
      // alias lesson) and the op order copies the Catalyst update
      // expressions node-for-node.
      val A = "(300.0::DOUBLE/1000.0::DOUBLE)"
      val B = "(200.0::DOUBLE/1000.0::DOUBLE)"
      val G = "(300.0::DOUBLE/1000.0::DOUBLE)"
      val p = 7
      def sPrev(ref: String) = s"(CASE ((s.rn - 1) % $p)" +
        (0 until p).map(k => s" WHEN $k THEN $ref.s$k").mkString +
        " END)"
      val seedLvl = s"(s.close - ${sPrev("h")})"
      val newLvl = s"($A * (s.close - ${sPrev("h")})" +
        s" + (1.0::DOUBLE - $A) * (h.lvl + h.trd))"
      val sCols0 = (0 until p).map(k => s"0.0::DOUBLE AS s$k").mkString(", ")
      val sColsStep = (0 until p).map { k =>
        s"""CASE WHEN h.trd IS NULL THEN h.s$k
           |         WHEN ((s.rn - 1) % $p) = $k
           |           THEN ($G * (s.close - (h.lvl + h.trd))
           |                 + (1.0::DOUBLE - $G) * h.s$k)
           |         ELSE h.s$k END AS s$k""".stripMargin
      }.mkString(",\n    ")
      val sAtPhase = s"(CASE ((rn - 1) % $p)" +
        (0 until p).map(k => s" WHEN $k THEN s$k").mkString +
        " END)"
      s"""WITH RECURSIVE bars AS (
         |$duckBarsSql
         |), seq AS MATERIALIZED (
         |  SELECT l_suppkey, l_shipdate, close,
         |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS rn
         |  FROM bars
         |), hw AS (
         |  SELECT l_suppkey, l_shipdate, rn,
         |    (close - 0.0::DOUBLE) AS lvl, CAST(NULL AS DOUBLE) AS trd,
         |    $sCols0
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.l_suppkey, s.l_shipdate, s.rn,
         |    CASE WHEN h.trd IS NULL THEN $seedLvl ELSE $newLvl END AS lvl,
         |    CASE WHEN h.trd IS NULL THEN ($seedLvl - h.lvl)
         |         ELSE ($B * ($newLvl - h.lvl)
         |               + (1.0::DOUBLE - $B) * h.trd) END AS trd,
         |    $sColsStep
         |  FROM hw h JOIN seq s
         |    ON s.l_suppkey = h.l_suppkey AND s.rn = h.rn + 1
         |)
         |SELECT l_suppkey, l_shipdate,
         |  CASE WHEN trd IS NULL THEN CAST(NULL AS DOUBLE)
         |       ELSE ((lvl + trd) + $sAtPhase) END AS hw
         |FROM hw ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_bs_greeks", (s, d) => {
      // call-side greeks over the same synthetic chain — closed forms
      // off the shared staged intermediates, still a pure projection
      val opt = dailyBars(s).select(col("l_suppkey"), col("l_shipdate"),
        col("close").as("s_px"), col("open").as("k_px"),
        lit(0.25).as("tau"), lit(0.02).as("rf"),
        greatest(lit(0.05),
          (col("high") - col("low")) / col("close")).as("sigma"))
      operators.Pricing.blackScholesGreeks(opt, "s_px", "k_px", "tau",
          "rf", "sigma")
        .select(col("l_suppkey"), col("l_shipdate"), col("bs_delta"),
          col("bs_gamma"), col("bs_vega"), col("bs_theta"), col("bs_rho"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays Pricing.blackScholesGreeks: same staged CTE chain, the
      // closed-form greek trees off phi1/nd2 with mirrored associativity.
      s"""WITH bars AS (
         |$duckBarsSql
         |$duckBsPrefix
         |), h AS (
         |  SELECT l_suppkey, l_shipdate, s_px, k_px, sg, disc, phi1,
         |    CASE WHEN d1 >= 0.0::DOUBLE THEN nabs1
         |      ELSE 1.0::DOUBLE - nabs1 END AS nd1,
         |    CASE WHEN d2 >= 0.0::DOUBLE THEN nabs2
         |      ELSE 1.0::DOUBLE - nabs2 END AS nd2
         |  FROM n)
         |SELECT l_suppkey, l_shipdate,
         |  round(nd1, 10) + 0.0::DOUBLE AS bs_delta,
         |  round(phi1 / ((s_px * sg) * sqrt(0.25::DOUBLE)), 10)
         |    + 0.0::DOUBLE AS bs_gamma,
         |  round((s_px * phi1) * sqrt(0.25::DOUBLE), 10) + 0.0::DOUBLE
         |    AS bs_vega,
         |  round((-((s_px * phi1) * sg)) / (2.0::DOUBLE
         |      * sqrt(0.25::DOUBLE))
         |    - ((0.02::DOUBLE * k_px) * disc) * nd2, 10) + 0.0::DOUBLE
         |    AS bs_theta,
         |  round(((k_px * 0.25::DOUBLE) * disc) * nd2, 10) + 0.0::DOUBLE
         |    AS bs_rho
         |FROM h ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_black_scholes", (s, d) => {
      // synthetic option chain off the bars: S = close, K = open,
      // T = 3 months, sigma from the day's range — priced as one pure
      // codegen projection, zero shuffle
      val opt = dailyBars(s).select(col("l_suppkey"), col("l_shipdate"),
        col("close").as("s_px"), col("open").as("k_px"),
        lit(0.25).as("tau"), lit(0.02).as("rf"),
        greatest(lit(0.05),
          (col("high") - col("low")) / col("close")).as("sigma"))
      operators.Pricing.blackScholes(opt, "s_px", "k_px", "tau", "rf",
          "sigma")
        .select(col("l_suppkey"), col("l_shipdate"), col("bs_call"),
          col("bs_put"))
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    }, {
      // Replays Pricing.blackScholes: the A&S 26.2.17 CDF polynomial with
      // identical literal constants, each libm output (ln, exp)
      // round(…,10) before downstream use, √(2π) embedded as the
      // Scala-folded literal so both engines hold the same double.
      s"""WITH bars AS (
         |$duckBarsSql
         |$duckBsPrefix
         |), h AS (
         |  SELECT l_suppkey, l_shipdate, s_px, k_px, disc,
         |    CASE WHEN d1 >= 0.0::DOUBLE THEN nabs1
         |      ELSE 1.0::DOUBLE - nabs1 END AS nd1,
         |    CASE WHEN -d1 >= 0.0::DOUBLE THEN nabs1
         |      ELSE 1.0::DOUBLE - nabs1 END AS nmd1,
         |    CASE WHEN d2 >= 0.0::DOUBLE THEN nabs2
         |      ELSE 1.0::DOUBLE - nabs2 END AS nd2,
         |    CASE WHEN -d2 >= 0.0::DOUBLE THEN nabs2
         |      ELSE 1.0::DOUBLE - nabs2 END AS nmd2
         |  FROM n)
         |SELECT l_suppkey, l_shipdate,
         |  round(s_px * nd1 - k_px * disc * nd2, 10) + 0.0::DOUBLE
         |    AS bs_call,
         |  round(k_px * disc * nmd2 - s_px * nmd1, 10) + 0.0::DOUBLE
         |    AS bs_put
         |FROM h ORDER BY l_suppkey, l_shipdate""".stripMargin
    }),
    Gate("q_seasonal_strength", (s, d) => {
      // Hyndman F_s/F_t per supplier off the period-7 decomposition —
      // one number each for "how seasonal / how trended"
      val dec = operators.Resample.seasonalDecompose(dailyBarsW(s)
          .select(col("l_suppkey"), col("l_shipdate"), col("close")),
        "close", Seq("l_suppkey"), Seq("l_shipdate"), period = 7,
        scale = 2)
      operators.Resample.seasonalStrength(dec, Seq("l_suppkey"), scale = 4)
        .orderBy(col("l_suppkey"))
    }, {
      // Replays Resample.seasonalStrength over the q_seasonal decompose:
      // re-quantized components, VARCHAR-bridged n-multiplied variances,
      // the guarded max(0, 1 − ratio) trees.
      def cv(c: String): String =
        s"""CAST(CAST(CAST(count(*) AS HUGEINT)
           |      * sum(CAST($c AS HUGEINT) * $c)
           |    - CAST(sum($c) AS HUGEINT) * CAST(sum($c) AS HUGEINT)
           |    AS VARCHAR) AS DOUBLE)""".stripMargin
      s"""WITH dec AS (
         |  WITH bars AS (
         |$duckBarsSql
         |  ), base AS (
         |    SELECT l_suppkey, l_shipdate,
         |      CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |      CAST((row_number() OVER ws - 1) % 7 AS INTEGER) AS phase,
         |      CASE WHEN count(*) OVER (ws ROWS BETWEEN 3 PRECEDING AND
         |          3 FOLLOWING) = 7
         |        THEN sum(CAST(round(close * 100.0::DOUBLE) AS BIGINT))
         |          OVER (ws ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |      END AS num
         |    FROM bars
         |    WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |  pm AS (
         |    SELECT l_suppkey, phase,
         |      CAST(sum(CAST(7 * x - num AS HUGEINT)) AS DOUBLE) /
         |        (CAST(count(7 * x - num) AS DOUBLE) * 7.0::DOUBLE) AS sm
         |    FROM base GROUP BY l_suppkey, phase),
         |  aj AS (
         |    SELECT l_suppkey,
         |      list_reduce(list_prepend(0.0::DOUBLE,
         |        list(sm ORDER BY phase)), (acc, e) -> acc + e) /
         |        CAST(count(*) AS DOUBLE) AS adj
         |    FROM pm WHERE sm IS NOT NULL GROUP BY l_suppkey)
         |  SELECT base.l_suppkey,
         |    CAST(base.num AS DOUBLE) / 7.0::DOUBLE / 100.0::DOUBLE
         |      AS trend,
         |    (pm.sm - aj.adj) / 100.0::DOUBLE AS seasonal,
         |    ((CAST(base.x AS DOUBLE) * 7.0::DOUBLE -
         |      CAST(base.num AS DOUBLE)) / 7.0::DOUBLE -
         |      (pm.sm - aj.adj)) / 100.0::DOUBLE AS resid
         |  FROM base
         |  JOIN pm ON base.l_suppkey = pm.l_suppkey
         |    AND base.phase = pm.phase
         |  LEFT JOIN aj ON base.l_suppkey = aj.l_suppkey
         |), q AS (
         |  SELECT l_suppkey,
         |    CAST(round(resid * 10000.0::DOUBLE) AS BIGINT) AS r,
         |    CAST(round((seasonal + resid) * 10000.0::DOUBLE) AS BIGINT)
         |      AS sr,
         |    CAST(round((trend + resid) * 10000.0::DOUBLE) AS BIGINT)
         |      AS tr
         |  FROM dec WHERE trend IS NOT NULL AND resid IS NOT NULL
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    ${cv("r")} AS vr, ${cv("sr")} AS vsr, ${cv("tr")} AS vtr
         |  FROM q GROUP BY l_suppkey)
         |SELECT l_suppkey, n,
         |  CASE WHEN vsr > 0.0::DOUBLE THEN
         |    greatest(0.0::DOUBLE, 1.0::DOUBLE - vr / vsr) END
         |    AS seasonal_strength,
         |  CASE WHEN vtr > 0.0::DOUBLE THEN
         |    greatest(0.0::DOUBLE, 1.0::DOUBLE - vr / vtr) END
         |    AS trend_strength
         |FROM g ORDER BY l_suppkey""".stripMargin
    }),
    Gate("q_seasonal", (s, d) => {
      // classical additive decomposition of the close at period 7 —
      // integer 2x-MA trend numerators, decimal phase means, pinned
      // phase-fold centering
      operators.Resample.seasonalDecompose(dailyBarsW(s)
          .select(col("l_suppkey"), col("l_shipdate"), col("close")),
          "close", Seq("l_suppkey"), Seq("l_shipdate"), period = 7,
          scale = 2)
        .orderBy(col("l_suppkey"), col("l_shipdate"))
    },
      // Replays Resample.seasonalDecompose at period 7 (odd: plain 7-row
      // centered MA, D = 7): integer trend numerators, HUGEINT phase-mean
      // sums, the ascending-phase list_reduce centering, the same final
      // trees.
      s"""WITH bars AS (
         |$duckBarsSql
         |), base AS (
         |  SELECT l_suppkey, l_shipdate,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x,
         |    CAST((row_number() OVER ws - 1) % 7 AS INTEGER) AS phase,
         |    CASE WHEN count(*) OVER (ws ROWS BETWEEN 3 PRECEDING AND
         |        3 FOLLOWING) = 7
         |      THEN sum(CAST(round(close * 100.0::DOUBLE) AS BIGINT))
         |        OVER (ws ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |    END AS num
         |  FROM bars
         |  WINDOW ws AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
         |pm AS (
         |  SELECT l_suppkey, phase,
         |    CAST(sum(CAST(7 * x - num AS HUGEINT)) AS DOUBLE) /
         |      (CAST(count(7 * x - num) AS DOUBLE) * 7.0::DOUBLE) AS sm
         |  FROM base GROUP BY l_suppkey, phase),
         |aj AS (
         |  SELECT l_suppkey,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(sm ORDER BY phase)), (acc, e) -> acc + e) /
         |      CAST(count(*) AS DOUBLE) AS adj
         |  FROM pm WHERE sm IS NOT NULL GROUP BY l_suppkey)
         |SELECT base.l_suppkey, base.l_shipdate, base.phase,
         |  CAST(base.x AS DOUBLE) / 100.0::DOUBLE AS value,
         |  CAST(base.num AS DOUBLE) / 7.0::DOUBLE / 100.0::DOUBLE AS trend,
         |  (pm.sm - aj.adj) / 100.0::DOUBLE AS seasonal,
         |  ((CAST(base.x AS DOUBLE) * 7.0::DOUBLE -
         |    CAST(base.num AS DOUBLE)) / 7.0::DOUBLE -
         |    (pm.sm - aj.adj)) / 100.0::DOUBLE AS resid
         |FROM base
         |JOIN pm ON base.l_suppkey = pm.l_suppkey AND base.phase = pm.phase
         |LEFT JOIN aj ON base.l_suppkey = aj.l_suppkey
         |ORDER BY base.l_suppkey, base.l_shipdate""".stripMargin),
    Gate("q_interpolate", (s, d) => {
      // per-supplier linear time interpolation of planted close-price
      // gaps (every day % 5 == 2 nulled) over the daily-bar date axis —
      // interior repair only, edges stay NULL; one keyed exchange, two
      // frame passes carrying (t, v) anchor structs
      val bars = dailyBarsW(s)
        .withColumn("day", expr("CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT)"))
        .withColumn("c",
          when(col("day") % 5 === 2, lit(null)).otherwise(col("close")))
      operators.Resample.interpolate(bars, Seq("l_suppkey"), "day", "c")
        .select(col("l_suppkey"), col("day"), col("c"), col("c_interp"))
        .orderBy(col("l_suppkey"), col("day"))
    },
      // Replays Resample.interpolate over the daily bars: same planted
      // nulls, backward/forward IGNORE NULLS anchors from the SAME rows,
      // one fixed interpolation tree per gap row.
      s"""WITH bars AS (
         |$duckBarsSql
         |), src AS (
         |  SELECT l_suppkey,
         |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         |    CASE WHEN CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) % 5 = 2
         |      THEN NULL ELSE close END AS c
         |  FROM bars),
         |anch AS (
         |  SELECT l_suppkey, day, c,
         |    last_value(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS)
         |      OVER wb AS pt,
         |    last_value(c IGNORE NULLS) OVER wb AS pv,
         |    first_value(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS)
         |      OVER wf AS nt,
         |    first_value(c IGNORE NULLS) OVER wf AS nv
         |  FROM src
         |  WINDOW wb AS (PARTITION BY l_suppkey ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    wf AS (PARTITION BY l_suppkey ORDER BY day
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         |SELECT l_suppkey, day, c,
         |  CASE WHEN c IS NOT NULL THEN c
         |       WHEN pt IS NOT NULL AND nt IS NOT NULL THEN
         |         pv + (nv - pv) *
         |           (CAST(day - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
         |  END AS c_interp
         |FROM anch ORDER BY l_suppkey, day""".stripMargin)
  )
}
