package graft.streaming

import graft.functions.Kalman
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-key observation for the streaming Kalman level; `seq` is the
  * caller's unique per-key tie-break (ingest offset, event id…),
  * mirroring the batch `orderCols` contract — see [[VolEvent]]. */
final case class KalmanEvent(key: String, ts: java.sql.Timestamp,
                             value: Double, seq: Long = 0L)

/** One filtered point: `kalman` is the posterior level estimate. */
final case class KalmanPoint(key: String, ts: java.sql.Timestamp,
                             value: Double, kalman: Double)

/** Streaming twin of the native `kalman(value, q_pm, r_pm)` window
  * recurrence ([[graft.functions.Kalman]]): the local-level (random-walk
  * + observation noise) filter at ingestion time — the live de-noised
  * level behind a drift monitor or a fair-value stream, available the
  * moment each tick lands. Both entry points run the function's own
  * update trees (`p⁻ = p + q`, `k = p⁻/(p⁻ + r)`, `m' = m + k·(x − m)`,
  * `p' = (1 − k)·p⁻`, seed `m = x, p = r`) through [[WindowFold]] (order
  * contract there), so they equal the batch window by construction;
  * `q_stream_kalman` oracle-replays the recurrence over the events table.
  * State per key: the function's buffer row (level m, variance p, NULL
  * flag), named `"kalman"` — millions of keys are trivial. */
object StreamingKalman {

  /** Score every event with its key's running filtered level
    * (streaming; `transformWithState`, RocksDB-backed). q/r are
    * permille ints, the batch literal convention (10/1000 ≡ 0.01/1.0). */
  def kalman(events: Dataset[KalmanEvent], qPm: Int = 10,
             rPm: Int = 1000): Dataset[KalmanPoint] =
    fold(qPm, rPm).stream(events)

  /** Batch replay through the same fold via `flatMapGroups` — the oracle
    * gate's entry point, runnable in a plain batch session. */
  def kalmanBatch(events: Dataset[KalmanEvent], qPm: Int = 10,
                  rPm: Int = 1000): Dataset[KalmanPoint] =
    fold(qPm, rPm).batch(events)

  private def fold(qPm: Int, rPm: Int) =
    WindowFold[KalmanEvent, KalmanPoint]("kalman",
      in => Kalman(in("value"), Literal(qPm), Literal(rPm)))(
      (e, m) => KalmanPoint(e.key, e.ts, e.value, m.get))
}
