package graft

import org.apache.spark.sql.Dataset
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Registry for operator-internal persisted frames.
  *
  * Operators that persist an intermediate (the dedup shingle-set frames, a
  * self-joined fingerprint frame) cannot unpersist it themselves: their
  * result is lazy, so the cache must outlive the call and die only after the
  * caller's consuming action. Registering the frame here gives the caller a
  * single release point — harnesses (Bench, Verify) call [[release]] after
  * each query's action so one query's cache never skews the next query's
  * measurement (GC pressure from retained blocks was measured inflating
  * later queries up to ~10×).
  *
  * Library callers that run many operator calls in one session should do the
  * same, or hold their own reference and `unpersist()` directly.
  *
  * ==Single-caller assumption==
  * The registry is process-global and deliberately so: it models the
  * harness protocol "one query builds, one action consumes, then release".
  * It is NOT safe for concurrent operator calls — a `release()` from one
  * thread unpersists every registered frame, including another in-flight
  * query's operator-internal caches. For plain persists correctness
  * survives (Spark silently recomputes), but the persist — and any
  * measurement depending on it — is defeated. Concurrent pipelines must
  * skip the registry and manage `unpersist()` on their own references.
  *
  * ==Checkpoint-backed frames are NOT recomputable==
  * Iterative operators (such as `Dedup.connectedComponents`) return frames
  * that read [[Lineage.Cut]]s; they register those handles here, and
  * [[release]] frees each handle's own checkpoint blocks (and only those).
  * Lineage is TRUNCATED at a cut: after `release()`, any Dataset derived
  * from one fails hard (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`) instead of
  * recomputing. Call `release()` only once nothing downstream of the
  * operator call will run again (see `examples/CurationPipeline.scala` for
  * the end-of-pipeline placement).
  */
object CacheScope {
  private val frames = ArrayBuffer.empty[Dataset[_]]
  private val cuts = ArrayBuffer.empty[Lineage.Cut]

  /** Track a persisted frame; returns it unchanged. */
  def register[T](ds: Dataset[T]): Dataset[T] = synchronized { frames += ds; ds }

  /** Track lineage cuts whose blocks back an operator's returned frame and
    * so must outlive the call. */
  def register(cs: Lineage.Cut*): Unit = synchronized { cuts ++= cs }

  /** Unpersist every tracked frame / cut and clear the registry. */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach { f =>
      try f.unpersist(blocking) catch { case NonFatal(_) => () }
    }
    frames.clear()
    cuts.foreach { c =>
      try c.release(blocking) catch { case NonFatal(_) => () }
    }
    cuts.clear()
  }

  /** Number of currently tracked entries (for specs). */
  def size: Int = synchronized(frames.size + cuts.size)
}
