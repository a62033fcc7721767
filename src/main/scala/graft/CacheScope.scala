package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Owner of operator-internal materializations, scoped to the calling
  * thread.
  *
  * Operators that persist an intermediate (the dedup shingle-set frames, a
  * self-joined fingerprint frame) cannot unpersist it themselves: their
  * result is lazy, so the cache must outlive the call and die only after the
  * caller's consuming action. [[persist]] makes that one storage decision
  * and registers the frame here, which gives the caller a single release
  * point — harnesses (Bench, Verify, perfbench) call [[release]] after each
  * query's action so one query's cache never skews the next query's
  * measurement (GC pressure from retained blocks was measured inflating
  * later queries up to ~10×).
  *
  * Library callers that run many operator calls in one session should do the
  * same, or hold their own reference and `unpersist()` directly.
  *
  * ==One scope per thread==
  * Every registration lands in the calling thread's scope, and [[release]]
  * frees what THIS thread registered and nothing else — the way Spark
  * scopes job groups and local properties. One session can then serve many
  * concurrent callers: each builds, consumes and releases its own query, and
  * no caller's release drops another's cuts. The rule for callers: build
  * and release on the same thread. A frame handed to another thread is
  * still released by the thread that built it, once the other thread is
  * done with it. A thread pool task that calls operators releases its own
  * scope before it returns (`try … finally CacheScope.release()`).
  *
  * Spark keys persisted frames by plan: two threads that persist the SAME
  * plan share one CacheManager entry, and the first to release uncaches it
  * for both. The other thread's query stays correct (it recomputes), but
  * if it runs after that release Spark re-materializes the buffer outside
  * any scope, where only a blanket sweep ([[Harness.sweep]]) frees it.
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
  /** This thread's release handles: a persisted frame and a cut each reduce
    * to one `blocking => Unit`. */
  private val handles =
    ThreadLocal.withInitial(() => ArrayBuffer.empty[Boolean => Unit])

  /** Persist `df` at `MEMORY_AND_DISK` and register it. */
  def persist(df: DataFrame): DataFrame =
    register(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Track a persisted frame; returns it unchanged. */
  def register[T](ds: Dataset[T]): Dataset[T] = {
    handles.get += (blocking => ds.unpersist(blocking))
    ds
  }

  /** Track lineage cuts whose blocks back an operator's returned frame and
    * so must outlive the call. */
  def register(cs: Lineage.Cut*): Unit =
    handles.get ++= cs.map(c => (blocking: Boolean) => c.release(blocking))

  /** Unpersist every frame / cut this thread registered and clear its
    * scope. */
  def release(blocking: Boolean = false): Unit = {
    val hs = handles.get
    hs.foreach(h => try h(blocking) catch { case NonFatal(_) => () })
    hs.clear()
  }

  /** Number of entries this thread currently tracks (for specs). */
  def size: Int = handles.get.size
}
