package graft.streaming

import graft.functions.Psar
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-key bar for the streaming SAR; `seq` is the caller's unique
  * per-key tie-break (ingest offset, event id…), mirroring the batch
  * `orderCols` contract — see [[VolEvent]]. */
final case class PsarEvent(key: String, ts: java.sql.Timestamp,
                           high: Double, low: Double, seq: Long = 0L)

/** One scored bar: `psar` is None on each key's first bar. */
final case class PsarPoint(key: String, ts: java.sql.Timestamp,
                           high: Double, low: Double, psar: Option[Double])

/** Streaming twin of the native `psar(high, low, …)` window recurrence
  * ([[graft.functions.Psar]]): the trailing stop-and-reverse at ingestion
  * time — the live trailing-stop / trend-flip monitor. Both entry points
  * run the function's own update trees (candidate parabola, two-prior-bar
  * clamp, pierce reversal, capped acceleration) through [[WindowFold]]
  * (order contract there), so they equal the batch window by
  * construction; `q_stream_psar` oracle-replays the recurrence over the
  * events table. State per key: the function's buffer row (the eight SAR
  * scalars, NULL flag), named `"psar"`. */
object StreamingPsar {

  /** Score every bar with its key's running SAR (streaming;
    * `transformWithState`, RocksDB-backed). Factors are permille ints,
    * the batch literal convention (20/20/200 ≡ 0.02/0.02/0.2). */
  def psar(events: Dataset[PsarEvent], af0Pm: Int = 20, stepPm: Int = 20,
           maxPm: Int = 200): Dataset[PsarPoint] =
    fold(af0Pm, stepPm, maxPm).stream(events)

  /** Batch replay through the same fold via `flatMapGroups` — the oracle
    * gate's entry point, runnable in a plain batch session. */
  def psarBatch(events: Dataset[PsarEvent], af0Pm: Int = 20,
                stepPm: Int = 20, maxPm: Int = 200): Dataset[PsarPoint] =
    fold(af0Pm, stepPm, maxPm).batch(events)

  private def fold(af0Pm: Int, stepPm: Int, maxPm: Int) =
    WindowFold[PsarEvent, PsarPoint]("psar",
      in => Psar(in("high"), in("low"), Literal(af0Pm), Literal(stepPm),
        Literal(maxPm)))(
      (e, sar) => PsarPoint(e.key, e.ts, e.high, e.low, sar))
}
