package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A span: one per query execution, one per layer call under it. Spans of
  * one query share `trace` (the query span's id). */
final case class Span(id: Long, parent: Long, trace: Long, name: String, layer: String,
                      phase: String, startNs: Long, var endNs: Long = 0L) {
  def ns: Long = endNs - startNs
}

/** Spans kept in memory and written out at the end of the run. When off,
  * `span` only runs its body. While a span is open its id is the
  * `perfbench.span` local property, so the jobs it submits can be
  * attributed to it by [[ExecListener]]. */
final class Tracer(var on: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def span[T](name: String, layer: String = "", phase: String = "")(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, parent.fold(0L)(_.id), parent.fold(nextId)(_.trace), name, layer,
        phase, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Tag, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Tag, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Records a span timed elsewhere (a micro-batch, from its progress
    * event) under `parent`. */
  def add(name: String, layer: String, phase: String, parent: Span, startNs: Long, endNs: Long): Unit =
    if (on) { spans += Span(nextId, parent.id, parent.trace, name, layer, phase, startNs, endNs); nextId += 1 }

  /** The open span, if any. */
  def current: Option[Span] = stack.headOption

  /** Duration minus the part of it that child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    s.ns - covered
  }

  /** One JSON object per span, with the executor counters `exec` holds
    * for it. */
  def toJson(exec: ExecListener): String = spans.map { s =>
    val a = Option(exec.bySpan.get(s.id)).getOrElse(new ExecAcc)
    f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}","layer":"${s.layer}",""" +
      f""""phase":"${s.phase}","start_ns":${s.startNs},"dur_s":${s.ns / 1e9}%.6f,"self_s":${selfNs(s) / 1e9}%.6f,""" +
      f""""jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},"task_cpu_s":${a.cpuNs / 1e9}%.6f,""" +
      f""""shuffle_write_mb":${a.shuffleWrite / 1e6}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer { val Tag = "perfbench.span" }

/** Executor-side counters summed per span id (0 = outside every span). */
final class ExecAcc {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem, records = 0L
  def +=(o: ExecAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem); records += o.records
  }
}

/** Job, stage and task metrics attributed to the span that submitted the
  * job, plus RDD-block storage (cached and checkpointed blocks). */
final class ExecListener(traced: Boolean) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Long, ExecAcc]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var stored = 0L
  @volatile var peakStored = 0L
  @volatile var blocksWritten = 0L

  private def acc(span: Long): ExecAcc = bySpan.computeIfAbsent(span, _ => new ExecAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Tag))).fold(0L)(_.toLong)
    e.stageIds.foreach(id => stageSpan.put(id, span))
    val a = acc(span)
    a.synchronized { a.jobs += 1; a.stages += e.stageIds.size }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced && e.taskMetrics != null) {
    val m = e.taskMetrics
    val a = acc(stageSpan.getOrDefault(e.stageId, 0L))
    a.synchronized {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.records += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val id = info.blockId.name
      val size = info.memSize + info.diskSize
      val prev = Option(blocks.get(id)).getOrElse(0L)
      if (info.storageLevel.isValid) {
        if (prev == 0L) blocksWritten += 1
        blocks.put(id, size)
      } else blocks.remove(id)
      stored += size * (if (info.storageLevel.isValid) 1 else 0) - prev
      peakStored = math.max(peakStored, stored)
    }
  }

  /** Starts a new high-water mark at the current level. */
  def resetPeak(): Unit = synchronized { peakStored = stored; blocksWritten = 0L }

  def total: ExecAcc = { val t = new ExecAcc; bySpan.values.asScala.foreach(t += _); t }
}

/** Catalyst phase times of every executed query, from its
  * `QueryExecution.tracker`. */
final class PhaseListener extends QueryExecutionListener {
  val ms = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var executions = 0L
  private def add(qe: QueryExecution): Unit = {
    executions += 1
    qe.tracker.phases.foreach { case (phase, s) =>
      ms.merge(phase, s.durationMs, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  def seconds(phase: String): Double = Option(ms.get(phase)).fold(0.0)(_ / 1e3)
  def reset(): Unit = { ms.clear(); executions = 0L }
}
