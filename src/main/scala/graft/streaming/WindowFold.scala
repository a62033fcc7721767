package graft.streaming

import java.sql.Timestamp
import scala.collection.immutable.ArraySeq
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{AggregateWindowFunction,
  AttributeReference, JoinedRow, MutableProjection, SpecificInternalRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TTLConfig, TimerValues, ValueState}

/** Runs a native window recurrence ([[graft.functions.WindowIndicators]])
  * as a keyed fold, the one engine of the streaming twins. The function's
  * own `initialValues`, `updateExpressions` (over `aggBufferAttributes ++
  * inputs`, applied to `JoinedRow(buffer, event)`) and
  * `evaluateExpression` are bound with `MutableProjection.create`, as
  * Spark's window `AggregateProcessor` drives them, so a twin's points
  * equal the window's values over the same order by construction.
  *
  * Events carry `key: String`, `ts: Timestamp` and `seq: Long`; the
  * function reads doubles and emits a double. A key's rows fold in the
  * order `(ts.getTime, ts.getNanos, seq)`, then the function's input
  * values (NULL first), so a repeated `(ts, seq)` cannot make the output
  * depend on arrival order; across micro-batches the stream's order
  * holds. Key state is the function's buffer row, a `ValueState[Row]`
  * named `stateName` with `Encoders.row(bufferSchema)`. */
private[streaming] final class WindowFold[E <: Product, P](
    stateName: String, fn: AggregateWindowFunction,
    inputs: Seq[AttributeReference], point: (E, Option[Double]) => P)(
    implicit eEnc: Encoder[E], pEnc: Encoder[P]) extends Serializable {

  private val bufferAttrs = fn.aggBufferAttributes
  private val bufferSchema = DataTypeUtils.fromAttributes(bufferAttrs)
  private val Seq(keyAt, tsAt, seqAt) =
    Seq("key", "ts", "seq").map(inputs.map(_.name).indexOf)
  private val valueAts = inputs.indices.filter(i => fn.references.contains(inputs(i)))

  // bound per task: projections and converters are not serializable
  @transient private lazy val init = MutableProjection.create(fn.initialValues, Nil)
  @transient private lazy val update =
    MutableProjection.create(fn.updateExpressions, bufferAttrs ++ inputs)
  @transient private lazy val eval =
    MutableProjection.create(Seq(fn.evaluateExpression), bufferAttrs)
  @transient private lazy val toInput = encoderFor(eEnc).createSerializer()
  @transient private lazy val toState =
    CatalystTypeConverters.createToScalaConverter(bufferSchema)
  @transient private lazy val fromState =
    CatalystTypeConverters.createToCatalystConverter(bufferSchema)

  /** An event with its input row and fold-order key, each read once. */
  private final class Keyed(val e: E, val in: InternalRow) {
    private[this] val ts = e.productElement(tsAt).asInstanceOf[Timestamp]
    val time: Long = ts.getTime
    val nanos: Int = ts.getNanos
    val seq: Long = e.productElement(seqAt).asInstanceOf[Long]
  }

  private def compare(a: Keyed, b: Keyed): Int = {
    var c = java.lang.Long.compare(a.time, b.time)
    if (c == 0) c = Integer.compare(a.nanos, b.nanos)
    if (c == 0) c = java.lang.Long.compare(a.seq, b.seq)
    val it = valueAts.iterator
    while (c == 0 && it.hasNext) {
      val i = it.next()
      val (an, bn) = (a.in.isNullAt(i), b.in.isNullAt(i))
      c = if (an || bn) java.lang.Boolean.compare(bn, an)
        else java.lang.Double.compare(a.in.getDouble(i), b.in.getDouble(i))
    }
    c
  }

  private def initial(): InternalRow =
    init.target(new SpecificInternalRow(bufferAttrs.map(_.dataType)))(InternalRow.empty)

  /** Fold `events` into `buffer` (updated in place), one point per event. */
  private def fold(buffer: InternalRow, events: Iterator[E]): Seq[P] = {
    val rows = events.map(e => new Keyed(e, toInput(e).copy())).toArray
    java.util.Arrays.sort(rows, (a: Keyed, b: Keyed) => compare(a, b))
    val joined = new JoinedRow
    update.target(buffer)
    ArraySeq.unsafeWrapArray(rows).map { k =>
      val r = eval(update(joined(buffer, k.in)))
      point(k.e, if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    }
  }

  private def byKey(events: Dataset[E]) =
    events.groupByKey((e: E) => e.productElement(keyAt).asInstanceOf[String])(Encoders.STRING)

  /** The streaming entry: `transformWithState` over the buffer row. */
  def stream(events: Dataset[E]): Dataset[P] =
    byKey(events).transformWithState(new Processor, TimeMode.None(), OutputMode.Append())

  /** The batch replay of the same fold, runnable in a plain batch session
    * (`transformWithState`'s batch mode needs the state-store coordinator
    * a batch session lacks). */
  def batch(events: Dataset[E]): Dataset[P] =
    byKey(events).flatMapGroups((_: String, rows: Iterator[E]) => fold(initial(), rows))

  private class Processor extends StatefulProcessor[String, E, P] {
    @transient private var state: ValueState[Row] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Row](stateName, Encoders.row(bufferSchema), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[E],
                                 timerValues: TimerValues): Iterator[P] = {
      val buffer =
        if (state.exists()) fromState(state.get()).asInstanceOf[InternalRow] else initial()
      val out = fold(buffer, rows)
      state.update(toState(buffer).asInstanceOf[Row])
      out.iterator
    }
  }
}

private[streaming] object WindowFold {

  /** A twin's fold: `fn` builds the window function over the event's
    * fields, looked up by name; `point` maps an event and the function's
    * value to the output. `fn.checkInputDataTypes` is the one parameter
    * check: its failure throws `IllegalArgumentException` before any job
    * starts. */
  def apply[E <: Product : TypeTag, P <: Product : TypeTag](stateName: String,
      fn: (String => AttributeReference) => AggregateWindowFunction)(
      point: (E, Option[Double]) => P): WindowFold[E, P] = {
    implicit val eEnc: Encoder[E] = Encoders.product[E]
    implicit val pEnc: Encoder[P] = Encoders.product[P]
    val inputs = DataTypeUtils.toAttributes(eEnc.schema)
    val f = fn(name => inputs.find(_.name == name).get)
    f.checkInputDataTypes() match {
      case TypeCheckFailure(msg) => throw new IllegalArgumentException(msg)
      case _ =>
    }
    new WindowFold(stateName, f, inputs, point)
  }
}
