package graft.streaming

import graft.functions.Holt
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-key observation for the streaming Holt forecaster; `seq` is the
  * caller's unique per-key tie-break, mirroring the batch `orderCols`
  * contract — see [[VolEvent]]. */
final case class HoltEvent(key: String, ts: java.sql.Timestamp,
                           value: Double, seq: Long = 0L)

/** One forecast point: `holt` = level + trend (None until both seed). */
final case class HoltPoint(key: String, ts: java.sql.Timestamp,
                           value: Double, holt: Option[Double])

/** Streaming twin of the native `holt(value, α_pm, β_pm)` window
  * recurrence ([[graft.functions.Holt]]): double exponential smoothing
  * (level + trend) at ingestion time — the live one-step-ahead forecast
  * for capacity/run-rate monitors. Both entry points run the function's
  * own update trees through [[WindowFold]] (order contract there), so
  * they equal the batch window by construction; `q_stream_holt`
  * oracle-replays the recurrence over the events table. State per key:
  * the function's buffer row (level, trend, NULL flag), named `"holt"`. */
object StreamingHolt {

  /** Score every event with its key's running Holt forecast (streaming;
    * `transformWithState`, RocksDB-backed). α/β as permille ints (the
    * batch convention: 300/200 ≡ 0.3/0.2). */
  def holt(events: Dataset[HoltEvent], alphaPm: Int = 300,
           betaPm: Int = 200): Dataset[HoltPoint] =
    fold(alphaPm, betaPm).stream(events)

  /** Batch replay through the same fold — the oracle gate's entry point. */
  def holtBatch(events: Dataset[HoltEvent], alphaPm: Int = 300,
                betaPm: Int = 200): Dataset[HoltPoint] =
    fold(alphaPm, betaPm).batch(events)

  private def fold(alphaPm: Int, betaPm: Int) =
    WindowFold[HoltEvent, HoltPoint]("holt",
      in => Holt(in("value"), Literal(alphaPm), Literal(betaPm)))(
      (e, f) => HoltPoint(e.key, e.ts, e.value, f))
}
