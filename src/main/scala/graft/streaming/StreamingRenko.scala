package graft.streaming

import graft.functions.Renko
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-key event for the Renko tracker; `seq` is the caller's unique
  * per-key tie-break (see [[VolEvent]]). */
final case class RenkoEvent(key: String, ts: java.sql.Timestamp,
                            value: Double, seq: Long = 0L)

/** One scored point: the value and its Renko brick level. */
final case class RenkoPoint(key: String, ts: java.sql.Timestamp,
                            value: Double, renko: Double)

/** Streaming twin of the native `renko(value, brick_centi)` window
  * recurrence ([[graft.functions.Renko]]): the brick level advances only
  * on full-brick travel, at ingest time — the live chop-vs-move monitor.
  * Both entry points run the function's own update trees through
  * [[WindowFold]] (order contract there), so they equal the batch window
  * by construction. State per key: the function's buffer row (level,
  * NULL flag), named `"renko"`. No reference analog (beyond-reference;
  * the reference's streaming layer is indicator-only). */
object StreamingRenko {

  /** Score every event with its key's running brick level; `brickCenti`
    * is the brick size in hundredths (the batch literal convention). */
  def renko(events: Dataset[RenkoEvent], brickCenti: Int): Dataset[RenkoPoint] =
    fold(brickCenti).stream(events)

  /** Batch replay through the same fold via `flatMapGroups` — the oracle
    * gate's entry point. */
  def renkoBatch(events: Dataset[RenkoEvent], brickCenti: Int): Dataset[RenkoPoint] =
    fold(brickCenti).batch(events)

  private def fold(brickCenti: Int) =
    WindowFold[RenkoEvent, RenkoPoint]("renko",
      in => Renko(in("value"), Literal(brickCenti)))(
      (e, lvl) => RenkoPoint(e.key, e.ts, e.value, lvl.get))
}
