package graft.streaming

import graft.functions.HoltWinters
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-key observation for the streaming Holt–Winters forecaster; `seq`
  * is the caller's unique per-key tie-break — see [[VolEvent]]. */
final case class HwEvent(key: String, ts: java.sql.Timestamp,
                         value: Double, seq: Long = 0L)

/** One fitted point: `hw` = ℓ + b + s_φ (None until trend seeds). */
final case class HwPoint(key: String, ts: java.sql.Timestamp,
                         value: Double, hw: Option[Double])

/** Streaming twin of the native `holt_winters(value, p, α, β, γ)` window
  * recurrence ([[graft.functions.HoltWinters]]): the seasonal forecaster
  * at ingestion time — the live fitted level for run-rate monitors with a
  * known cycle. Both entry points run the function's own update trees
  * through [[WindowFold]] (order contract there), so they equal the batch
  * window by construction: cold-start zero seasonal, two-row level/trend
  * seeding, the `(#observed) mod p` phase clock (a missing observation
  * doesn't arrive and doesn't advance the phase). `q_stream_hw`
  * oracle-replays the recurrence. State per key: the function's buffer
  * row (level, trend, p-slot seasonal array, phase counter, NULL flag),
  * named `"hw"`. */
object StreamingHoltWinters {

  /** Score every event with its key's running fitted ℓ+b+s (streaming;
    * `transformWithState`, RocksDB-backed). */
  def holtWinters(events: Dataset[HwEvent], period: Int, alphaPm: Int = 300,
                  betaPm: Int = 200, gammaPm: Int = 300): Dataset[HwPoint] =
    fold(period, alphaPm, betaPm, gammaPm).stream(events)

  /** Batch replay through the same fold — the oracle gate's entry point. */
  def holtWintersBatch(events: Dataset[HwEvent], period: Int,
                       alphaPm: Int = 300, betaPm: Int = 200,
                       gammaPm: Int = 300): Dataset[HwPoint] =
    fold(period, alphaPm, betaPm, gammaPm).batch(events)

  private def fold(period: Int, alphaPm: Int, betaPm: Int, gammaPm: Int) =
    WindowFold[HwEvent, HwPoint]("hw",
      in => HoltWinters(in("value"), Literal(period), Literal(alphaPm),
        Literal(betaPm), Literal(gammaPm)))(
      (e, f) => HwPoint(e.key, e.ts, e.value, f))
}
