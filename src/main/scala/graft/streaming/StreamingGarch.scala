package graft.streaming

import graft.functions.Garch
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-key RETURN observation (the native `garch` window's input is a
  * return series, not prices — difference upstream); `ret = None`
  * mirrors a NULL input row (the frozen-state contract). `seq` is the
  * caller's unique per-key tie-break — see [[VolEvent]]. */
final case class GarchEvent(key: String, ts: java.sql.Timestamp,
                            ret: Option[Double], seq: Long = 0L)

/** One scored point: `vol` = √σ²_t (None while frozen/unseeded). */
final case class GarchPoint(key: String, ts: java.sql.Timestamp,
                            ret: Option[Double], vol: Option[Double])

/** Streaming twin of the native `garch(ret, ω_ppm, α_pm, β_pm)` window
  * recurrence ([[graft.functions.Garch]]): the conditional-volatility
  * monitor at ingestion time — live σ_t per key for position sizing or
  * circuit breakers. Both entry points run the function's own update
  * trees (seed σ² = ω/(1−α−β) on the first non-null return, step
  * `σ²' = ω + (α·r² + β·σ²)` on the PREVIOUS return, NULL input freezes
  * the state and emits None) through [[WindowFold]] (order contract
  * there), so they equal the batch window by construction;
  * `q_stream_garch` oracle-replays the recurrence. State per key: the
  * function's buffer row (previous return, σ², NULL flag), named
  * `"garch"`. */
object StreamingGarch {

  /** Score every return with its key's running conditional volatility
    * (streaming; `transformWithState`, RocksDB-backed). ω in ppm, α/β
    * permille — the batch literal convention (2/100/850 ≡
    * 2e-6/0.1/0.85). */
  def garch(events: Dataset[GarchEvent], omegaPpm: Int = 2,
            alphaPm: Int = 100, betaPm: Int = 850): Dataset[GarchPoint] =
    fold(omegaPpm, alphaPm, betaPm).stream(events)

  /** Batch replay through the same fold — the oracle gate's entry point. */
  def garchBatch(events: Dataset[GarchEvent], omegaPpm: Int = 2,
                 alphaPm: Int = 100, betaPm: Int = 850): Dataset[GarchPoint] =
    fold(omegaPpm, alphaPm, betaPm).batch(events)

  private def fold(omegaPpm: Int, alphaPm: Int, betaPm: Int) =
    WindowFold[GarchEvent, GarchPoint]("garch",
      in => Garch(in("ret"), Literal(omegaPpm), Literal(alphaPm),
        Literal(betaPm)))(
      (e, vol) => GarchPoint(e.key, e.ts, e.ret, vol))
}
