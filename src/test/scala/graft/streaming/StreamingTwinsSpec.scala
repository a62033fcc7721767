package graft.streaming

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag
import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders => SparkEncoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  StreamingQueryException, TimeMode, TimerValues, TTLConfig, ValueState}
import org.scalatest.funsuite.AnyFunSuite

/** The `"holt"` state as [[StreamingHolt]] wrote it while each twin kept
  * its own state class: seed flags and two doubles. */
final case class LegacyHoltState(hasLvl: Boolean, hasTrd: Boolean,
                                 lvl: Double, trd: Double)

/** A copy of the hand-written Holt processor that wrote
  * [[LegacyHoltState]] under the state name `"holt"`, kept to write a
  * checkpoint in the old layout. */
private[streaming] class LegacyHoltProcessor(a: Double, b: Double)
    extends StatefulProcessor[String, HoltEvent, HoltPoint] {
  @transient private var state: ValueState[LegacyHoltState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[LegacyHoltState](
      "holt", SparkEncoders.product[LegacyHoltState], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[HoltEvent],
                               timerValues: TimerValues): Iterator[HoltPoint] = {
    var st = if (state.exists()) state.get()
      else LegacyHoltState(hasLvl = false, hasTrd = false, 0.0, 0.0)
    val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.seq))
      .map { e =>
        val x = e.value
        st =
          if (!st.hasLvl) LegacyHoltState(hasLvl = true, hasTrd = false, x, 0.0)
          else if (!st.hasTrd)
            LegacyHoltState(hasLvl = true, hasTrd = true, x, x - st.lvl)
          else {
            val newLvl = a * x + (1.0 - a) * (st.lvl + st.trd)
            LegacyHoltState(hasLvl = true, hasTrd = true, newLvl,
              b * (newLvl - st.lvl) + (1.0 - b) * st.trd)
          }
        HoltPoint(key, e.ts, x, if (st.hasTrd) Some(st.lvl + st.trd) else None)
      }
    state.update(st)
    out.iterator
  }
}

/** Contracts every streaming twin shares: parameter rails, one fold order
  * inside a micro-batch, and a loud failure on a state layout it did not
  * write. */
class StreamingTwinsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** One twin: both entry points at a parameter list, a typical list,
    * accepted boundary lists, rejected lists, and five events per key
    * whose 2nd and 3rd share `(ts, seq)` but not their values. */
  private case class Twin[E <: Product](
      name: String, typical: Seq[Int], accepted: Seq[Seq[Int]],
      rejected: Seq[Seq[Int]], events: Seq[E],
      batch: (Dataset[E], Seq[Int]) => Dataset[_],
      stream: (Dataset[E], Seq[Int]) => Dataset[_])(implicit tag: TypeTag[E]) {
    def enc: Encoder[E] = SparkEncoders.product[E]
  }

  private val t0 = 1700000000000L
  private val slots = Seq(0, 1, 1, 2, 3)
  private def at(i: Int) = new Timestamp(t0 + slots(i) * 1000L)

  private def values[E](xs: Double*)(mk: (Timestamp, Double, Long) => E) =
    xs.zipWithIndex.map { case (x, i) => mk(at(i), x, slots(i).toLong) }

  private val holtEvents = values(10, 12, 7, 11, 13)(HoltEvent("k", _, _, _))

  private val twins: Seq[Twin[_ <: Product]] = Seq(
    Twin[HoltEvent]("holt", Seq(300, 200), Seq(Seq(1, 1000), Seq(1000, 1)),
      Seq(Seq(0, 200), Seq(1001, 200), Seq(300, 0), Seq(300, 1001)), holtEvents,
      (ds, p) => StreamingHolt.holtBatch(ds, p(0), p(1)),
      (ds, p) => StreamingHolt.holt(ds, p(0), p(1))),
    Twin[HwEvent]("holt_winters", Seq(2, 300, 200, 300),
      Seq(Seq(2, 1, 1000, 1), Seq(2, 1000, 1, 1000)),
      Seq(Seq(1, 300, 200, 300), Seq(2, 0, 200, 300), Seq(2, 1001, 200, 300),
        Seq(2, 300, 0, 300), Seq(2, 300, 1001, 300), Seq(2, 300, 200, 0),
        Seq(2, 300, 200, 1001)),
      values(10, 12, 7, 11, 13)(HwEvent("k", _, _, _)),
      (ds, p) => StreamingHoltWinters.holtWintersBatch(ds, p(0), p(1), p(2), p(3)),
      (ds, p) => StreamingHoltWinters.holtWinters(ds, p(0), p(1), p(2), p(3))),
    Twin[KalmanEvent]("kalman", Seq(10, 1000), Seq(Seq(1, 1)),
      Seq(Seq(0, 1000), Seq(10, 0)),
      values(10, 12, 7, 11, 13)(KalmanEvent("k", _, _, _)),
      (ds, p) => StreamingKalman.kalmanBatch(ds, p(0), p(1)),
      (ds, p) => StreamingKalman.kalman(ds, p(0), p(1))),
    Twin[GarchEvent]("garch", Seq(2, 100, 850), Seq(Seq(1, 1, 998), Seq(1, 998, 1)),
      Seq(Seq(0, 100, 850), Seq(2, 0, 850), Seq(2, 100, 0), Seq(2, 100, 900),
        Seq(2, 999, 1)),
      values(0.01, 0.03, -0.02, 0.02, -0.01)((t, x, s) =>
        GarchEvent("k", t, Some(x), s)),
      (ds, p) => StreamingGarch.garchBatch(ds, p(0), p(1), p(2)),
      (ds, p) => StreamingGarch.garch(ds, p(0), p(1), p(2))),
    Twin[PsarEvent]("psar", Seq(20, 20, 200), Seq(Seq(1, 1, 1)),
      Seq(Seq(0, 20, 200), Seq(20, 0, 200), Seq(20, 20, 0)),
      values(10, 12, 7, 11, 13)((t, x, s) => PsarEvent("k", t, x, x - 1.0, s)),
      (ds, p) => StreamingPsar.psarBatch(ds, p(0), p(1), p(2)),
      (ds, p) => StreamingPsar.psar(ds, p(0), p(1), p(2))),
    Twin[RenkoEvent]("renko", Seq(300), Seq(Seq(1)), Seq(Seq(0)),
      values(10, 14, 7, 11, 12)(RenkoEvent("k", _, _, _)),
      (ds, p) => StreamingRenko.renkoBatch(ds, p(0)),
      (ds, p) => StreamingRenko.renko(ds, p(0))),
    Twin[VolEvent]("ewm_vol", Seq(940), Seq(Seq(1), Seq(999)),
      Seq(Seq(0), Seq(1000)),
      values(10, 12, 7, 11, 13)(VolEvent("k", _, _, _)),
      (ds, p) => StreamingVol.ewmVolBatch(ds, p(0)),
      (ds, p) => StreamingVol.ewmVol(ds, p(0))))

  private def withRocksDb[A](body: => A): A = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Every output row of `f` over `events` fed in one micro-batch. */
  private def runStream[E](events: Seq[E], f: Dataset[E] => Dataset[_])(
      implicit enc: Encoder[E]): Seq[String] = withRocksDb {
    val input = MemoryStream[E](enc, spark.sqlContext)
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = f(input.toDS()).toDF().writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("twin_ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => sunk.add(r.toString)); ()
      }
      .start()
    try {
      input.addData(events)
      q.processAllAvailable()
    } finally q.stop()
    sunk.toArray(Array.empty[String]).toSeq.sorted
  }

  /** Every output row of `f` over `events`, which reach it in this order. */
  private def runBatch[E](events: Seq[E], f: Dataset[E] => Dataset[_])(
      implicit enc: Encoder[E]): Seq[String] =
    f(spark.createDataset(events).coalesce(1)).toDF().collect()
      .map(_.toString).toSeq.sorted

  /** The events with their repeated-(ts, seq) pair in the other order. */
  private def swapped[E](events: Seq[E]): Seq[E] =
    events.updated(1, events(2)).updated(2, events(1))

  private def rails[E <: Product](tw: Twin[E]): Unit = {
    implicit val enc: Encoder[E] = tw.enc
    for (p <- tw.rejected) {
      intercept[IllegalArgumentException](tw.batch(spark.emptyDataset[E], p))
      intercept[IllegalArgumentException](
        tw.stream(MemoryStream[E](enc, spark.sqlContext).toDS(), p))
    }
    for (p <- tw.accepted) {
      assert(runBatch(tw.events, tw.batch(_, p)).size === tw.events.size,
        s"batch at $p")
      assert(runStream(tw.events, tw.stream(_, p)).size === tw.events.size,
        s"stream at $p")
    }
  }

  private def oneOrder[E <: Product](tw: Twin[E]): Unit = {
    implicit val enc: Encoder[E] = tw.enc
    val batch = runBatch(tw.events, tw.batch(_, tw.typical))
    assert(runBatch(swapped(tw.events), tw.batch(_, tw.typical)) === batch)
    assert(runStream(tw.events, tw.stream(_, tw.typical)) === batch)
    assert(runStream(swapped(tw.events), tw.stream(_, tw.typical)) === batch)
  }

  for (t <- twins) {
    test(s"${t.name}: out-of-range parameters throw IllegalArgumentException, boundaries run") {
      rails(t)
    }
    test(s"${t.name}: a repeated (ts, seq) folds in one order whatever the arrival order") {
      oneOrder(t)
    }
  }

  test("restarting holt on a checkpoint in the old HoltState layout fails on the state schema") {
    withRocksDb {
      val ckpt = tmpDir("twin_holt_legacy")
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[HoltEvent]
      def start(ds: Dataset[HoltPoint], sunk: java.util.Queue[HoltPoint]) =
        ds.writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: Dataset[HoltPoint], _: Long) =>
            b.collect().foreach(sunk.add); ()
          }
          .start()
      val old = new java.util.concurrent.ConcurrentLinkedQueue[HoltPoint]()
      val q1 = start(input.toDS().groupByKey(_.key)
        .transformWithState(new LegacyHoltProcessor(0.3, 0.2),
          TimeMode.None(), OutputMode.Append()), old)
      try {
        input.addData(holtEvents: _*)
        q1.processAllAvailable()
      } finally q1.stop()
      assert(old.size === 5)

      val sunk = new java.util.concurrent.ConcurrentLinkedQueue[HoltPoint]()
      val q2 = start(StreamingHolt.holt(input.toDS()), sunk)
      try {
        input.addData(HoltEvent("k", new Timestamp(t0 + 9000L), 12.0, 9L))
        val e = intercept[StreamingQueryException](q2.processAllAvailable())
        val msgs = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).map(_.toString.toLowerCase).mkString("\n")
        assert(msgs.contains("state_store_value_schema_not_compatible"),
          s"expected a state-schema failure, got: $msgs")
        assert(sunk.isEmpty, "no batch may commit over a misread state")
      } finally q2.stop()
    }
  }
}
