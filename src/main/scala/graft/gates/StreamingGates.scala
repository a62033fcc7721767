package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, countDistinct, expr, lag, lit,
  timestamp_micros, unix_micros}
import GateSql._

/** Streaming gates: the window-function twins in [[graft.streaming]] and
  * the [[streaming.StreamingPipeline]] / [[streaming.StreamingLive]] runs,
  * each checked in batch mode against a DuckDB replay. */
private[gates] object StreamingGates {

  /** [[duckStreamIndicatorsSql]] with TTL-eviction semantics for
    * q_stream_live_ttl: the same fold, but partitioned by (symbol, epoch)
    * where an epoch breaks whenever the event-time gap to the previous
    * tick exceeds idleMs = 3 days — a revived key re-warms from empty
    * state. Exact for this gate's corpus + chunking: the only >3-day gaps
    * are the injected [Jan 11, Jan 21) silences (max natural gap 24 h),
    * and the gate's chunk boundaries guarantee the runtime evicts at
    * exactly those points. */
  private lazy val duckStreamTtlSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, ts, value, user_id FROM events
       |  WHERE NOT (event_type IN ('click', 'purchase', 'view')
       |    AND ts >= TIMESTAMP '2024-01-11 00:00:00'
       |    AND ts <  TIMESTAMP '2024-01-21 00:00:00')
       |), ep AS (
       |  SELECT event_type, ts, value, user_id,
       |    sum(CASE WHEN prev IS NOT NULL
       |              AND epoch_us(ts) - epoch_us(prev) > 259200000000
       |             THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY event_type ORDER BY ts) AS epoch
       |  FROM (SELECT *, lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
       |          AS prev FROM ev) t
       |), base AS (
       |  SELECT event_type AS symbol, ts, value AS price, user_id AS volume,
       |    list(struct_pack(p := value, g := 0.0::DOUBLE, l := 0.0::DOUBLE, c := 0.0::DOUBLE)) OVER w AS rsix,
       |    list(value) OVER w AS emalist,
       |    list(value) OVER w5 AS plist5,
       |    list(user_id) OVER w5 AS vlist5,
       |    count(*) OVER w5 AS c5
       |  FROM ep
       |  WINDOW
       |    w AS (PARTITION BY event_type, epoch ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    w5 AS (PARTITION BY event_type, epoch ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
       |), red AS (
       |  SELECT symbol, ts, price, volume, c5,
       |    ${rsiFold("rsix", 5)} AS s,
       |    ${duckEma("emalist", 5)} AS ema,
       |    CASE WHEN c5 = 5 THEN list_reduce(plist5, (a,b) -> a + b) / 5.0::DOUBLE END AS sma,
       |    CASE WHEN c5 = 5 THEN CAST(list_reduce(vlist5, (a,b) -> a + b) AS DOUBLE) / 5.0::DOUBLE END AS volume_sma
       |  FROM base
       |)
       |SELECT symbol, epoch_us(ts) AS ts_us, price, volume, sma, ema,
       |  ${rsiEval("s", 5)} AS rsi, volume_sma,
       |  CASE WHEN volume_sma IS NOT NULL THEN CAST(volume AS DOUBLE) / volume_sma END AS volume_ratio
       |FROM red ORDER BY symbol, ts_us""".stripMargin

  /** The per-symbol indicator fold over events — shared by the
    * q_stream_indicators (batch-mode stateful op) and q_stream_live (real
    * micro-batch runtime) oracles: one SQL, two execution paths. */
  private lazy val duckStreamIndicatorsSql: String =
    s"""WITH base AS (
       |  SELECT event_type AS symbol, ts, value AS price, user_id AS volume,
       |    list(struct_pack(p := value, g := 0.0::DOUBLE, l := 0.0::DOUBLE, c := 0.0::DOUBLE)) OVER w AS rsix,
       |    list(value) OVER w AS emalist,
       |    list(value) OVER w5 AS plist5,
       |    list(user_id) OVER w5 AS vlist5,
       |    count(*) OVER w5 AS c5
       |  FROM events
       |  WINDOW
       |    w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    w5 AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
       |), red AS (
       |  SELECT symbol, ts, price, volume, c5,
       |    ${rsiFold("rsix", 5)} AS s,
       |    ${duckEma("emalist", 5)} AS ema,
       |    CASE WHEN c5 = 5 THEN list_reduce(plist5, (a,b) -> a + b) / 5.0::DOUBLE END AS sma,
       |    CASE WHEN c5 = 5 THEN CAST(list_reduce(vlist5, (a,b) -> a + b) AS DOUBLE) / 5.0::DOUBLE END AS volume_sma
       |  FROM base
       |)
       |SELECT symbol, epoch_us(ts) AS ts_us, price, volume, sma, ema,
       |  ${rsiEval("s", 5)} AS rsi, volume_sma,
       |  CASE WHEN volume_sma IS NOT NULL THEN CAST(volume AS DOUBLE) / volume_sma END AS volume_ratio
       |FROM red ORDER BY symbol, ts_us""".stripMargin

  val all: Seq[Gate] = Seq(
    Gate("q_stream_psar", (s, d) => {
      // the StreamingPsar processor in BATCH mode (the q_stream_vol
      // pattern): per-user trailing stop-and-reverse on the event score
      // (degenerate high = low = value bars) — a driver-graded
      // batch/streaming parity proof for the SAR machine
      import s.implicits._
      val ev = readEventsNanos(s, d).select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("value").as("high"), col("value").as("low"),
          col("event_id").as("seq"))
        .as[graft.streaming.PsarEvent]
      graft.streaming.StreamingPsar.psarBatch(ev).toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("high").as("value"), col("psar"))
        .orderBy(col("key"), col("ts_us"), col("value"))
    }, {
      // Streaming-PSAR replay: the q_psar recursive machine verbatim, over
      // the events table with degenerate high = low = value bars and the
      // (ts_us, event_id) streaming order contract.
      val af0 = "(20.0::DOUBLE / 1000.0::DOUBLE)"
      val step = "(20.0::DOUBLE / 1000.0::DOUBLE)"
      val mx = "(200.0::DOUBLE / 1000.0::DOUBLE)"
      val cand = "(h.sar + h.af * (h.ep - h.sar))"
      val candUp = s"least($cand, h.pl, h.p2l)"
      val candDn = s"greatest($cand, h.ph, h.p2h)"
      val revUp = s"(s.value < $candUp)"
      val revDn = s"(s.value > $candDn)"
      val accel = s"least($mx, h.af + $step)"
      val upSeed = "(s.value >= h.ph)"
      s"""WITH RECURSIVE seq AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |    epoch_ns(ts) // 1000 AS ts_us, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
         |  FROM events
         |), ps AS (
         |  SELECT key, ts_us, value, rn,
         |    CAST(NULL AS DOUBLE) AS sar, CAST(NULL AS DOUBLE) AS ep,
         |    $af0 AS af, TRUE AS up,
         |    value AS ph, value AS pl, value AS p2h, value AS p2l
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.key, s.ts_us, s.value, s.rn,
         |    CASE WHEN h.sar IS NULL
         |      THEN (CASE WHEN $upSeed THEN h.pl ELSE h.ph END)
         |      ELSE (CASE WHEN h.up
         |        THEN (CASE WHEN $revUp THEN h.ep ELSE $candUp END)
         |        ELSE (CASE WHEN $revDn THEN h.ep ELSE $candDn END) END)
         |    END AS sar,
         |    CASE WHEN h.sar IS NULL THEN s.value
         |      ELSE (CASE WHEN h.up
         |        THEN (CASE WHEN $revUp THEN s.value
         |              WHEN s.value > h.ep THEN s.value ELSE h.ep END)
         |        ELSE (CASE WHEN $revDn THEN s.value
         |              WHEN s.value < h.ep THEN s.value ELSE h.ep END) END)
         |    END AS ep,
         |    CASE WHEN h.sar IS NULL THEN $af0
         |      ELSE (CASE WHEN h.up
         |        THEN (CASE WHEN $revUp THEN $af0
         |              WHEN s.value > h.ep THEN $accel ELSE h.af END)
         |        ELSE (CASE WHEN $revDn THEN $af0
         |              WHEN s.value < h.ep THEN $accel ELSE h.af END) END)
         |    END AS af,
         |    CASE WHEN h.sar IS NULL THEN $upSeed
         |      ELSE (CASE WHEN h.up THEN NOT $revUp ELSE $revDn END)
         |    END AS up,
         |    s.value AS ph, s.value AS pl, h.ph AS p2h, h.pl AS p2l
         |  FROM ps h JOIN seq s ON s.key = h.key AND s.rn = h.rn + 1
         |)
         |SELECT key, ts_us, value, sar AS psar
         |FROM ps ORDER BY key, ts_us, value""".stripMargin
    }),
    Gate("q_stream_renko", (s, d) => {
      // the StreamingRenko processor in BATCH mode (the q_stream_vol /
      // q_stream_psar pattern): per-user live brick level over the event
      // score — batch/streaming parity proof for the grid machine
      import s.implicits._
      val ev = readEventsNanos(s, d).select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("value"),
          col("event_id").as("seq"))
        .as[graft.streaming.RenkoEvent]
      graft.streaming.StreamingRenko.renkoBatch(ev, brickCenti = 2000).toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("renko"))
        .orderBy(col("key"), col("ts_us"), col("value"))
    }, {
      // Streaming-Renko replay: the q_renko grid walk over the events table
      // under the (ts_us, event_id) streaming order contract.
      val B = "(2000.0::DOUBLE / 100.0::DOUBLE)"
      s"""WITH RECURSIVE seq AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |    epoch_ns(ts) // 1000 AS ts_us, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
         |  FROM events
         |), rk AS (
         |  SELECT key, ts_us, value, rn, value AS lvl FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.key, s.ts_us, s.value, s.rn,
         |    (h.lvl + ((CAST(sign(s.value - h.lvl) AS DOUBLE)
         |      * floor(abs(s.value - h.lvl) / $B)) * $B)) AS lvl
         |  FROM rk h JOIN seq s ON s.key = h.key AND s.rn = h.rn + 1
         |)
         |SELECT key, ts_us, value, lvl AS renko
         |FROM rk ORDER BY key, ts_us, value""".stripMargin
    }),
    Gate("q_stream_vol", (s, d) => {
      // the StreamingVol transformWithState processor in BATCH mode
      // (the q_stream_indicators pattern): per-user EWMA variance of the
      // event score, oracle-replayed by the pure recurrence — a
      // driver-graded batch/streaming parity proof
      import s.implicits._
      val ev = readEventsNanos(s, d).select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("value"),
          col("event_id").as("seq"))
        .as[graft.streaming.VolEvent]
      graft.streaming.StreamingVol.ewmVolBatch(ev, lambdaPm = 940).toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("ewmVar").as("ewm_var"))
        .orderBy(col("key"), col("ts_us"), col("value"))
    },
      // Replays StreamingVol's recurrence from scratch: x² transform, then
      // the first-element-seeded λ-fold over the (ts_us, event_id) order —
      // the exact batch twin the processor is asserted against in spec.
      """WITH src AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    epoch_ns(ts) // 1000 AS ts_us, value, event_id
        |  FROM events
        |), f AS (
        |  SELECT key, ts_us, value,
        |    list_reduce(
        |      list_transform(list(value) OVER w, v -> v * v),
        |      (acc, cur) -> (940.0::DOUBLE/1000.0::DOUBLE)*acc
        |        + (1.0::DOUBLE - 940.0::DOUBLE/1000.0::DOUBLE)*cur) AS ewm_var
        |  FROM src
        |  WINDOW w AS (PARTITION BY key ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT key, ts_us, value, ewm_var
        |FROM f ORDER BY key, ts_us, value""".stripMargin),
    Gate("q_stream_hw", (s, d) => {
      // the StreamingHoltWinters processor in BATCH mode: per-user
      // seasonal fitted level of the event score (p = 7) —
      // batch/streaming parity proof for the seasonal machine
      import s.implicits._
      val ev = readEventsNanos(s, d).select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("value"),
          col("event_id").as("seq"))
        .as[graft.streaming.HwEvent]
      graft.streaming.StreamingHoltWinters.holtWintersBatch(ev, period = 7)
        .toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("hw"))
        .orderBy(col("key"), col("ts_us"), col("value"))
    }, {
      // Replays StreamingHoltWinters' batch fold (≡ the native
      // holt_winters window, spec-asserted) as the q_holt_winters
      // unrolled-seasonal WITH RECURSIVE machine over the per-user event
      // stream in (ts, event_id) order.
      val A = "(300.0::DOUBLE/1000.0::DOUBLE)"
      val B = "(200.0::DOUBLE/1000.0::DOUBLE)"
      val G = "(300.0::DOUBLE/1000.0::DOUBLE)"
      val p = 7
      def sPrev(ref: String) = s"(CASE ((s.rn - 1) % $p)" +
        (0 until p).map(k => s" WHEN $k THEN $ref.s$k").mkString +
        " END)"
      val seedLvl = s"(s.value - ${sPrev("h")})"
      val newLvl = s"($A * (s.value - ${sPrev("h")})" +
        s" + (1.0::DOUBLE - $A) * (h.lvl + h.trd))"
      val sCols0 = (0 until p).map(k => s"0.0::DOUBLE AS s$k").mkString(", ")
      val sColsStep = (0 until p).map { k =>
        s"""CASE WHEN h.trd IS NULL THEN h.s$k
           |         WHEN ((s.rn - 1) % $p) = $k
           |           THEN ($G * (s.value - (h.lvl + h.trd))
           |                 + (1.0::DOUBLE - $G) * h.s$k)
           |         ELSE h.s$k END AS s$k""".stripMargin
      }.mkString(",\n    ")
      val sAtPhase = s"(CASE ((rn - 1) % $p)" +
        (0 until p).map(k => s" WHEN $k THEN s$k").mkString +
        " END)"
      s"""WITH RECURSIVE seq AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |    CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events
         |), hw AS (
         |  SELECT key, ts_us, value, rn,
         |    (value - 0.0::DOUBLE) AS lvl, CAST(NULL AS DOUBLE) AS trd,
         |    $sCols0
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.key, s.ts_us, s.value, s.rn,
         |    CASE WHEN h.trd IS NULL THEN $seedLvl ELSE $newLvl END AS lvl,
         |    CASE WHEN h.trd IS NULL THEN ($seedLvl - h.lvl)
         |         ELSE ($B * ($newLvl - h.lvl)
         |               + (1.0::DOUBLE - $B) * h.trd) END AS trd,
         |    $sColsStep
         |  FROM hw h JOIN seq s ON s.key = h.key AND s.rn = h.rn + 1
         |)
         |SELECT key, ts_us, value,
         |  CASE WHEN trd IS NULL THEN CAST(NULL AS DOUBLE)
         |       ELSE ((lvl + trd) + $sAtPhase) END AS hw
         |FROM hw ORDER BY key, ts_us, value""".stripMargin
    }),
    Gate("q_stream_garch", (s, d) => {
      // the StreamingGarch processor in BATCH mode: per-user GARCH(1,1)
      // conditional vol of the event-score CHANGES (first change NULL —
      // the frozen-state face) — batch/streaming parity proof
      import s.implicits._
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = readEventsNanos(s, d)
        .withColumn("ret", col("value") - lag(col("value"), 1).over(w))
        .select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("ret"),
          col("event_id").as("seq"))
        .as[graft.streaming.GarchEvent]
      graft.streaming.StreamingGarch.garchBatch(ev).toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("ret"), col("vol"))
        .orderBy(col("key"), col("ts_us"), col("ret"))
    }, {
      // Replays StreamingGarch's batch fold (≡ the native garch window,
      // spec-asserted) as the q_garch WITH RECURSIVE machine over per-user
      // event-score changes; rn=1 carries the NULL change (frozen state).
      val W0 = "(2.0::DOUBLE/1000000.0::DOUBLE)"
      val A = "(100.0::DOUBLE/1000.0::DOUBLE)"
      val B = "(850.0::DOUBLE/1000.0::DOUBLE)"
      val uncond = s"($W0 / (1.0::DOUBLE - $A - $B))"
      s"""WITH RECURSIVE seq AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |    CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         |    value - lag(value, 1) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS ret,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events
         |), g AS (
         |  SELECT key, ts_us, ret, rn, CAST(NULL AS DOUBLE) AS prev_r,
         |    CAST(NULL AS DOUBLE) AS sig2
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.key, s.ts_us, s.ret, s.rn,
         |    CASE WHEN s.ret IS NULL THEN h.prev_r ELSE s.ret END AS prev_r,
         |    CASE WHEN s.ret IS NULL THEN h.sig2
         |         WHEN h.sig2 IS NULL THEN $uncond
         |         ELSE ($W0 + (($A * (h.prev_r * h.prev_r)) + ($B * h.sig2)))
         |    END AS sig2
         |  FROM g h JOIN seq s ON s.key = h.key AND s.rn = h.rn + 1
         |)
         |SELECT key, ts_us, ret,
         |  CASE WHEN ret IS NULL THEN CAST(NULL AS DOUBLE)
         |       ELSE sqrt(sig2) END AS vol
         |FROM g ORDER BY key, ts_us, ret""".stripMargin
    }),
    Gate("q_stream_holt", (s, d) => {
      // the StreamingHolt processor in BATCH mode: per-user double-
      // exponential forecast of the event score — batch/streaming
      // parity proof for the level/trend machine
      import s.implicits._
      val ev = readEventsNanos(s, d).select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("value"),
          col("event_id").as("seq"))
        .as[graft.streaming.HoltEvent]
      graft.streaming.StreamingHolt.holtBatch(ev).toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("holt"))
        .orderBy(col("key"), col("ts_us"), col("value"))
    }, {
      // Replays StreamingHolt's batch fold (≡ the native holt window,
      // spec-asserted) as the q_holt WITH RECURSIVE machine over the
      // per-user event stream in (ts, event_id) order.
      val newLvl = "((300.0::DOUBLE/1000.0::DOUBLE)*s.value" +
        " + (1.0::DOUBLE - 300.0::DOUBLE/1000.0::DOUBLE)*(h.lvl + h.trd))"
      s"""WITH RECURSIVE seq AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |    CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events
         |), holt AS (
         |  SELECT key, ts_us, value, rn,
         |    value AS lvl, CAST(NULL AS DOUBLE) AS trd
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.key, s.ts_us, s.value, s.rn,
         |    CASE WHEN h.trd IS NULL THEN s.value ELSE $newLvl END AS lvl,
         |    CASE WHEN h.trd IS NULL THEN s.value - h.lvl
         |         ELSE (200.0::DOUBLE/1000.0::DOUBLE)*($newLvl - h.lvl)
         |              + (1.0::DOUBLE - 200.0::DOUBLE/1000.0::DOUBLE)*h.trd END AS trd
         |  FROM holt h JOIN seq s ON s.key = h.key AND s.rn = h.rn + 1
         |)
         |SELECT key, ts_us, value, lvl + trd AS holt
         |FROM holt ORDER BY key, ts_us, value""".stripMargin
    }),
    Gate("q_stream_ewma", (s, d) => {
      // the StreamingEwma SPC monitor in BATCH mode: per-user chart of
      // the event score against fixed phase-I targets — the
      // batch/streaming parity proof for the chart fold
      import s.implicits._
      val ev = readEventsNanos(s, d).select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("value"),
          col("event_id").as("seq"))
        .as[graft.streaming.EwmaEvent]
      graft.streaming.StreamingEwma
        .ewmaChartBatch(ev, lambdaPm = 200, l = 3.0, mu0 = 50.0,
          sigma = 25.0)
        .toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("ewma"), col("ucl"), col("lcl"), col("ooc"))
        .orderBy(col("key"), col("ts_us"), col("value"))
    }, {
      // Replays StreamingEwma.ewmaChartBatch: the (y, p) recursive walk
      // (var_ema seed + decay power), the z/hw trees with the fixed
      // phase-I targets as literals.
      val A = "(200.0::DOUBLE/1000.0::DOUBLE)"
      val OM = s"(1.0::DOUBLE - $A)"
      val R = s"($A / (2.0::DOUBLE - $A))"
      s"""WITH RECURSIVE seq AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |    CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events
         |), wk AS (
         |  SELECT key, ts_us, value, rn, value AS y, $OM AS p,
         |    value AS x1
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.key, s.ts_us, s.value, s.rn,
         |    ($A * s.value + $OM * h.y) AS y,
         |    (h.p * $OM) AS p, h.x1
         |  FROM wk h JOIN seq s ON s.key = h.key AND s.rn = h.rn + 1
         |), z AS (
         |  SELECT key, ts_us, value,
         |    (y + p * (50.0::DOUBLE - x1)) AS ewma,
         |    ((3.0::DOUBLE * 25.0::DOUBLE)
         |      * sqrt($R * (1.0::DOUBLE - p * p))) AS hw
         |  FROM wk)
         |SELECT key, ts_us, value, ewma,
         |  50.0::DOUBLE + hw AS ucl, 50.0::DOUBLE - hw AS lcl,
         |  abs(ewma - 50.0::DOUBLE) > hw AS ooc
         |FROM z ORDER BY key, ts_us, value""".stripMargin
    }),
    Gate("q_stream_kalman", (s, d) => {
      // the StreamingKalman processor in BATCH mode (the q_stream_psar
      // pattern): per-user filtered level of the event score — a
      // driver-graded batch/streaming parity proof for the filter
      import s.implicits._
      val ev = readEventsNanos(s, d).select(
          col("user_id").cast("string").as("key"),
          timestamp_micros(expr("ts DIV 1000")).as("ts"),
          col("value"),
          col("event_id").as("seq"))
        .as[graft.streaming.KalmanEvent]
      graft.streaming.StreamingKalman.kalmanBatch(ev).toDF()
        .select(col("key"), unix_micros(col("ts")).as("ts_us"),
          col("value"), col("kalman"))
        .orderBy(col("key"), col("ts_us"), col("value"))
    }, {
      // Replays StreamingKalman's batch fold (≡ the native kalman window,
      // spec-asserted) as the q_kalman WITH RECURSIVE machine over the
      // per-user event stream in (ts, event_id) order.
      val Q = "(10.0::DOUBLE/1000.0::DOUBLE)"
      val R = "(1000.0::DOUBLE/1000.0::DOUBLE)"
      val pp = s"(h.p + $Q)"
      val k = s"($pp / ($pp + $R))"
      s"""WITH RECURSIVE seq AS MATERIALIZED (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |    CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events
         |), kal AS (
         |  SELECT key, ts_us, value, rn, value AS m, $R AS p
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT s.key, s.ts_us, s.value, s.rn,
         |    (h.m + ($k * (s.value - h.m))) AS m,
         |    ((1.0::DOUBLE - $k) * $pp) AS p
         |  FROM kal h JOIN seq s ON s.key = h.key AND s.rn = h.rn + 1
         |)
         |SELECT key, ts_us, value, m AS kalman
         |FROM kal ORDER BY key, ts_us, value""".stripMargin
    }),
    Gate("q_stream_indicators", (s, d) => {
      // A6 streaming indicator engine, exercised through the SAME
      // flatMapGroupsWithState operator in batch mode (Spark runs stateful
      // ops over bounded inputs identically: one state pass per key).
      import s.implicits._
      // ts normalized to nanosecond Longs whatever unit the parquet
      // declares (readEventsNanos); the data is micro-aligned, so the
      // integer DIV to micros is lossless (nanos % 1000 == 0).
      val ev = readEventsNanos(s, d)
      val ticks = ev.select(
        col("event_type").as("symbol"),
        timestamp_micros(expr("ts DIV 1000")).as("timestamp"),
        col("value").as("price"),
        col("user_id").as("volume"),
        lit(null).cast("double").as("bid"),
        lit(null).cast("double").as("ask")).as[graft.streaming.MarketTick]
      graft.streaming.StreamingPipeline.indicators(ticks, windowSize = 5).toDF()
        .select(col("symbol"), unix_micros(col("timestamp")).as("ts_us"),
          col("price"), col("volume"), col("sma"), col("ema"), col("rsi"),
          col("volumeSma").as("volume_sma"), col("volumeRatio").as("volume_ratio"))
        .orderBy(col("symbol"), col("ts_us"))
    },
      duckStreamIndicatorsSql),
    Gate("q_stream_live", (s, d) => {
      // the SAME indicator fold as q_stream_indicators, but executed
      // through the REAL micro-batch streaming runtime (r13): MemoryStream
      // → indicatorsTws DEFAULT path (RocksDB store, event-time watermark,
      // 7-day TTL timers) → memory sink, replayed in three ascending
      // event-time chunks (so checkpointed state, watermark advancement
      // and timer re-arming genuinely cross micro-batches). Every symbol
      // ticks daily in the 30-day corpus, so no TTL eviction fires and the
      // streaming output must equal the batch fold — one DuckDB oracle
      // covers both execution paths.
      import s.implicits._
      val ev = readEventsNanos(s, d)
      val ticks = ev.select(
        col("event_type").as("symbol"),
        timestamp_micros(expr("ts DIV 1000")).as("timestamp"),
        col("value").as("price"),
        col("user_id").as("volume"),
        lit(null).cast("double").as("bid"),
        lit(null).cast("double").as("ask")).as[graft.streaming.MarketTick]
      // 2024-01-11 / 2024-01-21 00:00 UTC as epoch millis (tz-independent)
      val bounds = Seq(1704931200000L, 1705795200000L)
        .map(new java.sql.Timestamp(_))
      graft.streaming.StreamingLive.indicatorsMicroBatch(ticks,
          windowSize = 5, chunkBoundaries = bounds)
        .select(col("symbol"), unix_micros(col("timestamp")).as("ts_us"),
          col("price"), col("volume"), col("sma"), col("ema"), col("rsi"),
          col("volumeSma").as("volume_sma"), col("volumeRatio").as("volume_ratio"))
        .orderBy(col("symbol"), col("ts_us"))
    },
      // identical fold, REAL micro-batch execution on the Spark side — the
      // streaming runtime must reproduce the batch fold bit-for-bit
      duckStreamIndicatorsSql),
    Gate("q_stream_live_ttl", (s, d) => {
      // REAL micro-batch streaming with TTL eviction actually FIRING
      // (q_stream_live's TTL timers never fire — every symbol ticks
      // daily): three symbols go silent for 10 days (events dropped in
      // [Jan 11, Jan 21)), idleMs = 3 days, and the chunking guarantees
      // the timer semantics land deterministically — batch [Jan 20,
      // Jan 21) carries only the surviving symbols, so it runs with the
      // watermark advanced past the silent keys' expiry (last tick + 3 d)
      // by the [Jan 12, Jan 20) batch and handleExpiredTimer clears their
      // state BEFORE the silent symbols' first post-gap rows arrive in
      // the final batch (input rows are processed before timers within a
      // batch, so the extra boundary is load-bearing). The revived keys
      // re-warm from empty: the oracle folds per (symbol, epoch) where an
      // epoch breaks on any >3-day event-time gap — exact for this corpus
      // because the max natural gap is 24 h (measured at every sf).
      import s.implicits._
      val gapSyms = Seq("click", "purchase", "view")
      val gapNs0 = 1704931200000L * 1000000L // 2024-01-11 00:00 UTC, nanos
      val gapNs1 = 1705795200000L * 1000000L // 2024-01-21 00:00 UTC
      val ev = readEventsNanos(s, d)
        .filter(!(col("event_type").isin(gapSyms: _*) &&
          col("ts") >= lit(gapNs0) && col("ts") < lit(gapNs1)))
      val ticks = ev.select(
        col("event_type").as("symbol"),
        timestamp_micros(expr("ts DIV 1000")).as("timestamp"),
        col("value").as("price"),
        col("user_id").as("volume"),
        lit(null).cast("double").as("bid"),
        lit(null).cast("double").as("ask")).as[graft.streaming.MarketTick]
      // Jan 12 / Jan 20 / Jan 21 00:00 UTC epoch millis
      val bounds = Seq(1705017600000L, 1705708800000L, 1705795200000L)
        .map(new java.sql.Timestamp(_))
      graft.streaming.StreamingLive.indicatorsMicroBatch(ticks,
          windowSize = 5, chunkBoundaries = bounds,
          idleMs = 3L * 24 * 60 * 60 * 1000)
        .select(col("symbol"), unix_micros(col("timestamp")).as("ts_us"),
          col("price"), col("volume"), col("sma"), col("ema"), col("rsi"),
          col("volumeSma").as("volume_sma"), col("volumeRatio").as("volume_ratio"))
        .orderBy(col("symbol"), col("ts_us"))
    },
      // same runtime, TTL eviction FIRING: fold restarts per (symbol, epoch)
      duckStreamTtlSql),
    Gate("q_stream_bars", (s, d) => {
      // event-time OHLCV bars (same operator the stream runs) in batch mode
      import s.implicits._
      import org.apache.spark.sql.functions.{round => roundf}
      val ev = readEventsNanos(s, d)
      val ticks = ev.select(
        col("event_type").as("symbol"),
        timestamp_micros(expr("ts DIV 1000")).as("timestamp"),
        col("value").as("price"),
        col("user_id").as("volume"),
        lit(null).cast("double").as("bid"),
        lit(null).cast("double").as("ask")).as[graft.streaming.MarketTick]
      graft.streaming.StreamingPipeline.ohlcBars(ticks, "1 minute")
        .select(col("ticker"), unix_micros(col("window_start")).as("ws_us"),
          col("open"), col("high"), col("low"), col("close"), col("volume"),
          roundf(col("vwap"), 6).as("vwap_r"), col("transactions"))
        .orderBy(col("ticker"), col("ws_us"))
    },
      """SELECT event_type AS ticker,
        |  epoch_us(time_bucket(INTERVAL 1 minute, ts)) AS ws_us,
        |  min_by(value, ts) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max_by(value, ts) AS close,
        |  CAST(sum(user_id) AS BIGINT) AS volume,
        |  CASE WHEN sum(user_id) <> 0
        |    THEN round(sum(value * user_id) / sum(user_id), 6) END AS vwap_r,
        |  count(*) AS transactions
        |FROM events
        |GROUP BY event_type, time_bucket(INTERVAL 1 minute, ts)
        |ORDER BY ticker, ws_us""".stripMargin),
    Gate("q_stream_distinct", (s, d) => {
      // the streaming HLL cardinality monitor (StreamingPipeline
      // .windowedDistinct) in batch mode: per-(event_type, day window)
      // distinct-user registers — 256 B of state per open cell on the
      // stream where exact distinct state is unbounded. Estimate via the
      // shared SQL fragment; exact countDistinct rides along from a
      // SEPARATE aggregation (same planner note as q_kmv_distinct).
      import org.apache.spark.sql.functions.{window => winf}
      // parquet ts is TIMESTAMP_NTZ; session tz is pinned UTC, so the cast
      // to instant-typed TIMESTAMP is identity on the epoch values
      val ev = s.read.parquet(s"$d/events.parquet")
        .select(col("event_type"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      val sk = graft.streaming.StreamingPipeline.windowedDistinct(
        ev, "ts", "event_type", "user_id", "1 day")
      val exact = ev
        .groupBy(col("event_type"), winf(col("ts"), "1 day").as("win"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("win.start").as("window_start"),
          col("exact_users"))
      sk.join(exact, Seq("event_type", "window_start"))
        .select(col("event_type"),
          unix_micros(col("window_start")).as("ws_us"),
          expr(functions.Hll.estimateSql("sum_scaled", "zeros", 8))
            .as("est_users"),
          col("exact_users"))
        .orderBy(col("event_type"), col("ws_us"))
    },
      // Replays StreamingPipeline.windowedDistinct's batch execution: the
      // same HLL p=8 register arithmetic as the q_hll_distinct oracle,
      // grouped by (event_type, epoch-aligned day bucket) — Spark's tumbling
      // window start is the same epoch-floor time_bucket computes.
      s"""WITH h AS (
         |  SELECT event_type,
         |    epoch_us(time_bucket(INTERVAL 1 day, ts)) AS ws_us,
         |    CAST('0x' || substr(md5(user_id::VARCHAR), 1, 15) AS BIGINT) AS hv
         |  FROM events GROUP BY 1, 2, 3
         |), b AS (
         |  SELECT event_type, ws_us, hv // 4503599627370496 AS j,
         |         hv % 4503599627370496 AS rem
         |  FROM h
         |), r AS (
         |  SELECT event_type, ws_us, j,
         |    max(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS mj
         |  FROM b GROUP BY 1, 2, 3
         |), agg AS (
         |  SELECT event_type, ws_us,
         |    CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT)
         |      + (256 - count(*)) * 9007199254740992 AS sum_scaled,
         |    CAST(256 - count(*) AS INT) AS zeros
         |  FROM r GROUP BY 1, 2
         |), ex AS (
         |  SELECT event_type,
         |    epoch_us(time_bucket(INTERVAL 1 day, ts)) AS ws_us,
         |    count(DISTINCT user_id) AS exact_users
         |  FROM events GROUP BY 1, 2
         |)
         |SELECT a.event_type, a.ws_us,
         |  ${functions.Hll.estimateSql("a.sum_scaled", "a.zeros", 8)} AS est_users,
         |  x.exact_users
         |FROM agg a JOIN ex x USING (event_type, ws_us)
         |ORDER BY event_type, ws_us""".stripMargin)
  )
}
