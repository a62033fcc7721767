package graft.streaming

import graft.functions.EwmCov
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-key event carrying the monitored series value; `seq` is the
  * caller's unique per-key tie-break (ingest offset, event id…), the
  * streaming mirror of the batch `orderCols` contract — see
  * [[CusumEvent]]. */
final case class VolEvent(key: String, ts: java.sql.Timestamp,
                          value: Double, seq: Long = 0L)

/** One scored point: the running EWMA variance and volatility (√). */
final case class VolPoint(key: String, ts: java.sql.Timestamp, value: Double,
                          ewmVar: Double, ewmVol: Double)

/** Streaming twin of the batch `ewmcov(x, x, λ)` window recurrence
  * ([[graft.functions.EwmCov]]): the RiskMetrics zero-mean EWMA variance
  * `v_t = λ·v_{t−1} + (1−λ)·x_t²`, seeded by the first value's square —
  * the ingestion-path volatility monitor that flags a hot series the
  * moment it arrives instead of at the next batch risk report. Both entry
  * points run `ewmcov(value, value, λ)`'s own update trees through
  * [[WindowFold]] (order contract there), so they equal the batch window
  * by construction. State per key: the function's buffer row (variance,
  * NULL flag), named `"ewmvol"` — millions of keys cost nothing. No
  * reference analog (the reference's streaming layer is indicator-only;
  * beyond-reference op for the risk surface). */
object StreamingVol {

  /** Score every event with its key's running EWMA variance/volatility.
    * `lambdaPm` is the permille λ (940 → RiskMetrics daily 0.94), the
    * same literal convention as the batch `ewmcov`. */
  def ewmVol(events: Dataset[VolEvent], lambdaPm: Int): Dataset[VolPoint] =
    fold(lambdaPm).stream(events)

  /** Batch replay through the same fold via `flatMapGroups` — no state
    * store needed, so it runs in any plain batch session (the oracle
    * gate's entry point). */
  def ewmVolBatch(events: Dataset[VolEvent], lambdaPm: Int): Dataset[VolPoint] =
    fold(lambdaPm).batch(events)

  private def fold(lambdaPm: Int) =
    WindowFold[VolEvent, VolPoint]("ewmvol",
      in => EwmCov(in("value"), in("value"), Literal(lambdaPm)))(
      (e, v) => VolPoint(e.key, e.ts, e.value, v.get, math.sqrt(v.get)))
}
