package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.BusDrain
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

final case class Metric(name: String, value: Double, unit: String)

/** What a workload run produced: counts for `failed_frac` and every metric
  * it measured, end-to-end and per-layer. */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[Metric], perLayer: Seq[Metric])

/** Benchmark entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints progress and every metric as `[perfbench]` lines, then one JSON
  * object as the last line of standard output: the end-to-end metrics, or
  * with `--trace 1` the per-layer ones (run.py keeps those BENCHMARK.json
  * lists). */
object Main {

  val Workloads = Seq("indicators", "dedup_graph", "tick_stream")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def say(s: String): Unit = println(s"[perfbench] $s")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      Paths.get(need("work")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val t0Ms = sys.props.get("perfbench.t0ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val data = args.work.resolve(s"data-${args.workload}")
    deleteTree(data)
    Files.createDirectories(data)
    say(f"env nproc=$cores heap=${Runtime.getRuntime.maxMemory / 1e9}%.2fGB spark=${org.apache.spark.SPARK_VERSION} " +
      s"git=${sys.props.getOrElse("perfbench.git", "unknown")} source=${sys.props.getOrElse("perfbench.source", "unknown")} " +
      s"java=${sys.props("java.version")} cds=$classDataSharing workload=${args.workload} seed=${args.seed} seconds=${args.seconds} trace=${if (args.trace) 1 else 0}")
    val out = args.workload match {
      case "tick_stream" => TickStream.run(args, cores, t0Ms, data)
      case w => runBatch(args, cores, t0Ms, data, w)
    }
    report(args, out)
    deleteTree(data)
    sys.exit(0)
  }

  /** The class-data archive this JVM mapped, read back from its own flags:
    * `<file>(required)` under `-Xshare:on`, which refuses to start when
    * the archive cannot be mapped. */
  private def classDataSharing: String = {
    val vm = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    def flag(n: String) = vm.getVMOption(n).getValue
    if (flag("UseSharedSpaces") != "true") "off"
    else {
      val file = Paths.get(flag("SharedArchiveFile")).getFileName
      if (flag("RequireSharedSpaces") == "true") s"$file(required)" else s"$file(optional)"
    }
  }

  /** Generates a batch workload's inputs and prints their properties. */
  private def batchInputs(w: String, seed: Long, data: Path): BatchWorkload = w match {
    case "indicators" =>
      val bars = Gen.bars(data.resolve("polygon"), seed, tickers = Sizes.Tickers,
        targetRows = Sizes.BarRows, defectRows = Sizes.DefectRows)
      val ls = bars.lengths.sorted
      say(s"input bars: rows=${bars.rows} tickers=${bars.tickers.size} length min/median/max=" +
        s"${ls.head}/${ls(ls.size / 2)}/${ls.last} skew(max/median)=${"%.2f".format(bars.skew)} " +
        s"planted gaps=${bars.gaps} nonpositive=${bars.nonPositive} high<low=${bars.highLow} sha256=${bars.hash}")
      new Indicators(bars, seed)
    case "dedup_graph" =>
      val docs = Gen.docs(data.resolve("documents.csv"), seed, Sizes.Docs, Sizes.Clusters,
        Sizes.TfidfSlab, Sizes.SlabClusters)
      val trade = Gen.trade(data, seed, Sizes.Orders)
      say(s"input documents: rows=${docs.n} originals=${docs.base} (near-duplicates among them=${docs.nearDups}, " +
        s"vocabulary=${Gen.Vocab.size} words, lengths ${Gen.MinWords}-${Gen.MaxWords} words) planted clusters=${docs.clusters.size} " +
        s"planted copies=${docs.planted} duplicate share=${"%.4f".format(docs.planted.toDouble / docs.n)} " +
        s"tfidf slab=doc_id<${docs.slab} sha256=${docs.hash}")
      say(s"input trade graph: orders=${trade.nOrders} lineitems=${trade.nLines} nodes=${trade.nodes} sha256=${trade.hash}")
      say(s"input sha256=${Gen.combineHashes(Seq(docs.hash, trade.hash))}")
      new DedupGraph(docs, trade)
  }

  def runBatch(args: Args, cores: Int, t0Ms: Long, data: Path, name: String): Outcome = {
    val g0 = System.nanoTime()
    val w = batchInputs(name, args.seed, data)
    val genS = (System.nanoTime() - g0) / 1e9
    say(f"input generation: $genS%.3f s (excluded from setup_s)")

    val spark = Harness.session(args.work, cores)
    val sc = spark.sparkContext
    val exec = new ExecListener(args.trace)
    sc.addSparkListener(exec)
    val phases = new PhaseListener
    if (args.trace) spark.listenerManager.register(phases)
    val tracer = new Tracer(args.trace, sc)
    val runner = new Runner(spark, tracer)
    w.register(spark)

    final case class Step(q: Query, sample: Sample, problems: Seq[String])
    def runPass(check: Boolean): Seq[Step] = w.pass(spark).map { q =>
      val (s, problems) = if (check) runner.executeChecked(q) else (runner.execute(q), Nil)
      runner.sweep()
      Step(q, s, problems)
    }
    // the untimed warm-up pass is also the verification pass: each query's
    // output is checked on that execution
    val warm = runPass(check = true)
    say("warm-up pass: " + warm.map(st => f"${st.q.name} ${st.sample.seconds}%.2f s").mkString(", "))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - genS
    say(f"setup: $setupS%.3f s (session, registration, one untimed warm-up pass that checks every output)")

    BusDrain.drain(sc)
    exec.bySpan.clear(); exec.resetPeak(); phases.reset(); tracer.spans.clear()
    val leftBefore = runner.leftAfterRelease.size
    val passes = ArrayBuffer.empty[Seq[Step]]
    val w0 = System.nanoTime()
    // whole passes until the window has lasted --seconds, and at least the
    // workload's minimum
    do passes += runPass(check = false)
    while (System.nanoTime() - w0 < args.seconds * 1000000000L || passes.size < w.minPasses)
    val windowS = (System.nanoTime() - w0) / 1e9
    BusDrain.drain(sc)
    val layers = batchLayers(tracer, exec, phases, runner.leftAfterRelease.drop(leftBefore).toSeq, passes.size)
    val peakMb = exec.peakStored / 1e6
    writeSpans(args, tracer, exec)
    spark.stop()

    val verify = warm.map(st => st.q.name -> st.problems)
    val digests = (warm ++ passes.flatten).filter(_.sample.error.isEmpty)
      .groupBy(_.q.name).map { case (q, ss) => q -> ss.map(_.sample.digest).distinct }
    val bad = verify.filter(_._2.nonEmpty).toMap ++
      digests.collect { case (q, ds) if ds.size > 1 => q -> Seq(s"output differs between passes: ${ds.mkString(" / ")}") }
    bad.foreach { case (q, ps) => ps.take(3).foreach(p => say(s"CHECK FAILED $q: $p")) }
    val timed = passes.toSeq.flatten.filter(_.q.isQuery)
    val failed = timed.count(s => s.sample.error.isDefined || bad.contains(s.q.name))
    timed.filter(_.sample.error.isDefined).take(3).foreach(s => say(s"ERROR ${s.q.name}: ${s.sample.error.get}"))
    say(s"checks: ${verify.count(_._2.isEmpty)}/${verify.size} queries pass their output check; " +
      s"${digests.count(_._2.size == 1)}/${digests.size} give the same output digest in every pass")

    passes.zipWithIndex.foreach { case (ss, i) =>
      say(s"timed pass ${i + 1}: " + ss.map(st => f"${st.q.name} ${st.sample.seconds}%.3f s").mkString(", "))
    }
    val secs = timed.map(_.sample.seconds)
    val passSecs = passes.toSeq.map(_.map(_.sample.seconds).sum)
    val tail = Stats.reportedTail(secs)
    say(f"timed window: $windowS%.3f s, ${passes.size} passes, ${timed.size} query executions; " +
      f"pass wall p50 ${Stats.median(passSecs)}%.3f s; input ${w.inputRows} rows per pass")
    timed.groupBy(_.q.name).toSeq.sortBy(_._1).foreach { case (q, ss) =>
      say(f"query $q: p50 ${Stats.median(ss.map(_.sample.seconds))}%.4f s over ${ss.size}")
    }
    say(s"latency_tail_s is ${tail.label}")
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("latency_p50_s", Stats.median(secs), "s"),
      Metric("latency_tail_s", tail.value, "s"),
      Metric("rows_per_s", w.inputRows / Stats.median(passSecs), "rows/s"),
      Metric("query_p50_s", Stats.median(secs), "s"),
      Metric("query_tail_s", tail.value, "s"),
      Metric("peak_cached_mb", peakMb, "MB"),
      Metric("failed_frac", failed.toDouble / timed.size, "ratio"))
    Outcome(timed.size, failed, e2e, layers)
  }

  /** Per-layer metrics of a batch run, normalized per pass. */
  private def batchLayers(tracer: Tracer, exec: ExecListener, phases: PhaseListener,
                          left: Seq[Int], passes: Int): Seq[Metric] = {
    if (!tracer.on) return Nil
    val p = passes.toDouble
    def spansOf(layer: String, phase: String, name: String => Boolean = _ => true) =
      tracer.spans.toSeq.filter(s => s.layer == layer && s.phase == phase && name(s.name))
    def secs(ss: Seq[Span]) = ss.map(_.ns).sum / 1e9 / p
    def acc(ss: Seq[Span]) = { val a = new ExecAcc; ss.foreach(s => Option(exec.bySpan.get(s.id)).foreach(a += _)); a }
    val t = exec.total
    val srcLoad = spansOf("sources", "construct", _.startsWith("load"))
    val srcScan = spansOf("sources", "exec")
    val fnExec = spansOf("functions", "exec")
    val opCon = spansOf("operators", "construct"); val opExec = spansOf("operators", "exec")
    Seq(
      Metric("sources.load_s", secs(srcLoad), "s"),
      Metric("sources.scan_s", secs(srcScan), "s"),
      Metric("sources.rows", acc(srcScan).records / p, "rows"),
      Metric("functions.exec_s", secs(fnExec), "s"),
      Metric("functions.task_cpu_s", acc(fnExec).cpuNs / 1e9 / p, "s"),
      Metric("functions.shuffle_write_mb", acc(fnExec).shuffleWrite / 1e6 / p, "MB"),
      Metric("operators.construct_s", secs(opCon), "s"),
      Metric("operators.construct_jobs", acc(opCon).jobs / p, "count"),
      Metric("operators.exec_s", secs(opExec), "s"),
      Metric("operators.exec_jobs", acc(opExec).jobs / p, "count"),
      Metric("catalyst.analysis_s", phases.seconds("analysis") / p, "s"),
      Metric("catalyst.optimization_s", phases.seconds("optimization") / p, "s"),
      Metric("catalyst.planning_s", phases.seconds("planning") / p, "s"),
      Metric("cache.blocks_written", exec.blocksWritten / p, "count"),
      Metric("cache.peak_storage_mb", exec.peakStored / 1e6, "MB"),
      Metric("cache.rdds_left_after_release", left.sum / p, "count")
    ) ++ execMetrics(t, p)
  }

  def execMetrics(t: ExecAcc, per: Double): Seq[Metric] = Seq(
    Metric("exec.jobs", t.jobs / per, "count"),
    Metric("exec.stages", t.stages / per, "count"),
    Metric("exec.tasks", t.tasks / per, "count"),
    Metric("exec.task_cpu_s", t.cpuNs / 1e9 / per, "s"),
    Metric("exec.gc_s", t.gcMs / 1e3 / per, "s"),
    Metric("exec.shuffle_read_mb", t.shuffleRead / 1e6 / per, "MB"),
    Metric("exec.shuffle_write_mb", t.shuffleWrite / 1e6 / per, "MB"),
    Metric("exec.spill_mb", t.spill / 1e6 / per, "MB"),
    Metric("exec.peak_exec_mem_mb", t.peakMem / 1e6, "MB"))

  def writeSpans(args: Args, tracer: Tracer, exec: ExecListener): Unit = if (tracer.on) {
    val f = args.work.resolve(s"spans-${args.workload}-${args.seed}.json")
    Files.writeString(f, tracer.toJson(exec))
    say(s"spans: ${tracer.spans.size} written to ${args.work.getParent.getParent.relativize(f)}")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Prints every metric, the tracing overhead when the other kind of run
    * has been made with the same workload, seed and sources, and the JSON
    * result line. */
  def report(args: Args, o: Outcome): Unit = {
    o.endToEnd.foreach(m => say(s"metric ${m.name} = ${num(m.value)} ${m.unit}"))
    o.perLayer.foreach(m => say(s"layer ${m.name} = ${num(m.value)} ${m.unit}"))
    val key = s"${args.workload}-${args.seed}-${sys.props.getOrElse("perfbench.source", "unknown")}"
    val mine = args.work.resolve(s"e2e-$key-trace${if (args.trace) 1 else 0}.txt")
    val other = args.work.resolve(s"e2e-$key-trace${if (args.trace) 0 else 1}.txt")
    Files.writeString(mine, o.endToEnd.map(m => s"${m.name} ${num(m.value)}").mkString("\n"))
    if (Files.exists(other)) {
      val theirs = Files.readAllLines(other).toArray.map(_.toString.split(" ")).collect {
        case Array(k, v) if v != "null" => k -> v.toDouble }.toMap
      val (traced, plain) = if (args.trace) (o.endToEnd.map(m => m.name -> m.value).toMap, theirs)
                            else (theirs, o.endToEnd.map(m => m.name -> m.value).toMap)
      Seq("latency_p50_s", "latency_tail_s", "rows_per_s").foreach { k =>
        for (t <- traced.get(k); u <- plain.get(k) if u != 0)
          say(f"tracing overhead $k: traced $t%.4f vs untraced $u%.4f (${100 * (t - u) / u}%+.1f%%)")
      }
    }
    val metrics = (if (args.trace) o.perLayer else o.endToEnd).map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }
}

/** Input sizes and run shape, fixed for every run of the benchmark. */
object Sizes {
  val Tickers = 1000
  val BarRows = 60000
  val DefectRows = 150
  val Docs = 1000
  val Clusters = 40
  val TfidfSlab = 100
  val SlabClusters = 4
  val Orders = 4000
}
