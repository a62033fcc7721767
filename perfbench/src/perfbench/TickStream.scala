package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.streaming.{MarketTick, StreamingPipeline}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Open-loop stream: one generator thread offers ticks to a MemoryStream
  * on a fixed schedule; `StreamingPipeline.indicatorsTws` (RocksDB state,
  * watermark, idle-TTL timers) folds them; a foreachBatch sink collects
  * every emitted indicator row. Set-up runs a separate short warm-up
  * stream first (the JVM's first micro-batches are several times slower);
  * then the first `WarmSeconds` of the measured stream are untimed, so its
  * own start-up transient settles, and the timed window is the `--seconds`
  * after them. */
object TickStream {
  val Rate = 4000            // offered ticks per second
  val Symbols = 200
  val SilentSymbols = 20
  val Window = 14
  val IdleMs = 1000L
  val Watermark = "250 milliseconds"
  val WarmSeconds = 2.0
  val WarmStreamSeconds = 2.0
  val SilentFrom = 0.5       // seconds into the timed window
  val SilentFor = 5.0        // > IdleMs + watermark + two trigger intervals: eviction fires
  val TriggerMs = 2000L      // micro-batch trigger interval
  val OfferEveryMicros = 5000L

  final case class Batch(id: Long, startMs: Long, durMs: Long, inputRows: Long,
                         addBatchMs: Long, commitMs: Long, stateRows: Long, stateMem: Long,
                         removed: Long, watermarkMs: Long) {
    def endMicros: Long = (startMs + durMs) * 1000L
  }

  /** What one stream run left: the emitted rows, the progress of every
    * micro-batch, and the generator's own record. Times are wall-clock µs;
    * the schedule's due times are relative to `baseMicros`. */
  final case class RunResult(emitted: Seq[Checks.Emitted], batches: Seq[Batch],
                             baseMicros: Long, offered: Long, backlog: Long,
                             lateness: Seq[Double], constructNs: Long)

  def run(args: Main.Args, cores: Int, t0Ms: Long, data: Path): Outcome = {
    require(args.seconds >= SilentFrom + SilentFor + 1,
      s"tick_stream needs --seconds >= ${SilentFrom + SilentFor + 1} so the idle TTL fires")
    val g0 = System.nanoTime()
    val sched = Gen.schedule(args.seed, Rate, WarmSeconds + args.seconds, Symbols, SilentSymbols,
      WarmSeconds + SilentFrom, SilentFor)
    val genS = (System.nanoTime() - g0) / 1e9
    val warmMicros = (WarmSeconds * 1e6).toLong
    Main.say(s"input ticks: offered=${sched.ticks.size} (${WarmSeconds}s warm-up + ${args.seconds}s timed) " +
      s"rate=$Rate/s symbols=$Symbols silent=${sched.silent.size} (quiet ${SilentFrom}s..${SilentFrom + SilentFor}s " +
      s"into the window, idle TTL ${IdleMs}ms, watermark $Watermark) window=$Window sha256=${sched.hash}")
    Main.say(f"input generation: $genS%.3f s (excluded from setup_s)")

    val spark = Harness.session(args.work, cores)
    val sc = spark.sparkContext
    val exec = new ExecListener(args.trace)
    sc.addSparkListener(exec)
    val phases = new PhaseListener
    if (args.trace) spark.listenerManager.register(phases)
    val tracer = new Tracer(args.trace, sc)
    graft.functions.FinancialFunctions.registerAll(spark)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    runStream(spark, cores, Gen.schedule(args.seed ^ 0x5DEECE66DL, Rate, WarmStreamSeconds, Symbols, 0, 0, 0),
      args.work.resolve("checkpoints/warm"), tracer, 0L, () => ())
    BusDrain.drain(sc)
    tracer.spans.clear()
    var setupS = 0.0
    val r = runStream(spark, cores, sched, args.work.resolve("checkpoints/run"), tracer, warmMicros, () => {
      setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - genS
      exec.bySpan.clear(); exec.resetPeak(); phases.reset()
    })
    Main.say(f"setup: $setupS%.3f s (session, registration, a ${WarmStreamSeconds}s warm-up stream, " +
      f"then the measured stream's start and its first ${WarmSeconds}s)")
    BusDrain.drain(sc)
    val t = exec.total
    spark.stop()

    // correctness: every tick, warm-up included, emitted once with its
    // TTL epoch's IndicatorMath fold
    val offered = sched.ticks.map(k => (k.symbol, r.baseMicros + k.dueMicros, k.price))
    val failed = Checks.ticks(offered, r.emitted, r.batches.map(b => b.id -> b.watermarkMs).toMap, Window, IdleMs)
    // latency of the ticks due in the timed window: due time to the end of
    // the micro-batch that emitted the tick
    val windowStart = r.baseMicros + warmMicros
    val ends = r.batches.map(b => b.id -> b.endMicros).toMap
    val timed = r.emitted.filter(_.tsMicros >= windowStart)
    val lat = timed.flatMap(e => ends.get(e.batch).map(end => (end - e.tsMicros) / 1e6))
    // rows_per_s is the delivered throughput: the window's ticks over the
    // time from the window start to the end of the batch that emitted the
    // last of them. While the stream keeps up, the offered rate sets it, so
    // it shows only saturation: it drops when the backlog grows.
    // capacity_ticks_per_s is a figure the program sets: the median, over
    // the micro-batches that started in the window and processed ticks, of
    // ticks per second of execution (the batch that drains the last ticks
    // after the window holds a fraction of an interval and is left out).
    // It is printed, not a JSON metric: the host's speed moves it between
    // runs by more than the bound.
    val deliveredS = (timed.flatMap(e => ends.get(e.batch)).max - windowStart) / 1e6
    val tail = Stats.reportedTail(lat)
    val inWindow = r.batches.filter(_.startMs * 1000L >= windowStart)
    val windowEnd = windowStart + args.seconds * 1000000L
    val working = inWindow.filter(b => b.inputRows > 0 && b.startMs * 1000L < windowEnd)
    val capacity = Stats.median(working.map(b => b.inputRows / (b.durMs / 1e3)))
    Main.say(s"checks: ${offered.size - failed}/${offered.size} ticks emitted once with the IndicatorMath fold of their TTL epoch")
    Main.say(s"timed window: ${args.seconds} s, ${inWindow.size} micro-batches started in it, " +
      s"${timed.size} ticks; latency_tail_s is ${tail.label}")
    Main.say(s"capacity: ${working.size} micro-batches started in the window and processed ticks " +
      working.map(b => f"${b.inputRows} in ${b.durMs / 1e3}%.3f s").mkString("(", ", ", ")") +
      s"; offered rate $Rate/s")
    val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("latency_p50_s", Stats.median(lat), "s"),
      Metric("latency_tail_s", tail.value, "s"),
      Metric("rows_per_s", timed.size / deliveredS, "rows/s"),
      Metric("capacity_ticks_per_s", capacity, "ticks/s"),
      Metric("tick_latency_p50_s", Stats.median(lat), "s"),
      Metric("tick_latency_tail_s", tail.value, "s"),
      Metric("backlog_ticks", r.backlog.toDouble, "ticks"),
      Metric("peak_cached_mb", exec.peakStored / 1e6, "MB"),
      Metric("failed_frac", failed.toDouble / offered.size, "ratio"))

    val layers = if (!args.trace) Nil else {
      val b = inWindow
      val nb = b.size.toDouble
      Seq(
        Metric("stream.batches", nb, "count"),
        Metric("stream.batch_p50_s", med(b.map(_.durMs / 1e3)), "s"),
        Metric("stream.add_batch_s", med(b.map(_.addBatchMs / 1e3)), "s"),
        Metric("stream.commit_s", med(b.map(_.commitMs / 1e3)), "s"),
        Metric("stream.state_rows", b.lastOption.fold(0.0)(_.stateRows.toDouble), "rows"),
        Metric("stream.state_mem_mb", b.lastOption.fold(0.0)(_.stateMem / 1e6), "MB"),
        Metric("stream.rows_removed", b.map(_.removed).sum.toDouble, "rows"),
        Metric("stream.rows_per_batch", med(b.map(_.inputRows.toDouble)), "rows"),
        Metric("gen.lateness_s", med(r.lateness), "s"),
        Metric("gen.lateness_max_s", if (r.lateness.isEmpty) 0.0 else r.lateness.max, "s"),
        Metric("gen.offered_ticks", r.offered.toDouble, "ticks"),
        Metric("operators.construct_s", r.constructNs / 1e9, "s"),
        Metric("operators.exec_s", b.map(_.addBatchMs).sum / 1e3 / nb, "s"),
        Metric("operators.exec_jobs", t.jobs / nb, "count"),
        Metric("catalyst.analysis_s", phases.seconds("analysis") / nb, "s"),
        Metric("catalyst.optimization_s", phases.seconds("optimization") / nb, "s"),
        Metric("catalyst.planning_s", phases.seconds("planning") / nb, "s")
      ) ++ Main.execMetrics(t, nb)
    }
    Main.writeSpans(args, tracer, exec)
    Outcome(offered.size, failed, e2e, layers)
  }

  /** Runs one stream over `sched` until every offered tick is processed;
    * `onWindow` runs when the ticks due from `windowMicros` on start. */
  def runStream(spark: SparkSession, cores: Int, sched: Gen.Schedule, ckpt: Path, tracer: Tracer,
                windowMicros: Long, onWindow: () => Unit): RunResult = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    Main.deleteTree(ckpt)
    val input = MemoryStream[MarketTick](cores) // each batch in `cores` partitions
    val sink = new ConcurrentLinkedQueue[Checks.Emitted]()
    val emittedCount = new AtomicLong(0L)
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    tracer.span("tick_stream", "operators", "query") {
      val c0 = System.nanoTime()
      val ds = tracer.span("indicatorsTws.call", "operators", "construct")(
        StreamingPipeline.indicatorsTws(input.toDS(), Window, IdleMs, Watermark))
      val constructNs = System.nanoTime() - c0
      val query = ds.toDF()
        .select(col("symbol"), unix_micros(col("timestamp")).as("ts"), col("price"),
          col("sma"), col("ema"), col("rsi"))
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          val rows = df.collect()
          rows.foreach { r =>
            def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
            sink.add(Checks.Emitted(id, r.getString(0), r.getLong(1), r.getDouble(2), opt(3), opt(4), opt(5)))
          }
          emittedCount.addAndGet(rows.length.toLong)
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .start()

      // the open-loop generator: each tick is offered when it is due,
      // stamped with its due time, whether or not the stream keeps up
      val lateness = ArrayBuffer.empty[Double]
      val offered = new AtomicLong(0L)
      val baseMicros = System.currentTimeMillis() * 1000L
      val n0 = System.nanoTime()
      val gen = new Thread(() => {
        val ticks = sched.ticks
        var i = 0
        while (i < ticks.size) {
          val now = (System.nanoTime() - n0) / 1000L
          if (ticks(i).dueMicros > now) {
            // offer at most every OfferEveryMicros: each addData is one block
            val waitMicros = math.max(ticks(i).dueMicros - now, OfferEveryMicros)
            java.util.concurrent.locks.LockSupport.parkNanos(waitMicros * 1000L)
          } else {
            var j = i
            while (j < ticks.size && ticks(j).dueMicros <= now) j += 1
            val chunk = ticks.slice(i, j).map { k =>
              val ts = new Timestamp((baseMicros + k.dueMicros) / 1000L)
              ts.setNanos(((baseMicros + k.dueMicros) % 1000000L * 1000L).toInt)
              MarketTick(k.symbol, ts, k.price, k.volume, None, None)
            }
            input.addData(chunk)
            if (ticks(i).dueMicros >= windowMicros)
              lateness.synchronized(lateness += (now - ticks(i).dueMicros) / 1e6)
            offered.addAndGet(chunk.size.toLong)
            i = j
          }
        }
      }, "perfbench-tick-generator")
      gen.start()
      val untilWindow = windowMicros * 1000L - (System.nanoTime() - n0)
      if (untilWindow > 0) java.util.concurrent.locks.LockSupport.parkNanos(untilWindow)
      onWindow()
      gen.join()
      val backlog = offered.get - emittedCount.get
      query.processAllAvailable()
      query.stop()
      BusDrain.drain(spark.sparkContext)
      spark.streams.removeListener(listener)

      val batches = progress.asScala.toSeq.map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val ops = p.stateOperators.toSeq
        Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d.getOrElse("triggerExecution", 0L),
          p.numInputRows, d.getOrElse("addBatch", 0L), d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L),
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsRemoved).sum,
          Option(p.eventTime.get("watermark")).fold(0L)(w => java.time.Instant.parse(w).toEpochMilli))
      }.sortBy(_.id)
      tracer.current.foreach { q =>
        val wallMs = System.currentTimeMillis(); val nowNs = System.nanoTime()
        batches.foreach(b => tracer.add(s"batch-${b.id}", "operators", "exec", q,
          nowNs - (wallMs - b.startMs) * 1000000L, nowNs - (wallMs - b.startMs - b.durMs) * 1000000L))
      }
      RunResult(sink.asScala.toSeq, batches, baseMicros, offered.get, backlog,
        lateness.toSeq, constructNs)
    }
  }
}
