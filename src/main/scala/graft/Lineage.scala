package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge

/** Lineage cuts for the iterative operators (`Graph.pageRank`/`kCore`/
  * `labelPropagation`/`hits`, `Dedup.connectedComponents`).
  *
  * A loop of lazy DataFrame rounds grows its plan every round; an eager
  * `localCheckpoint` materializes the frame into block-manager blocks and
  * returns a frame whose plan is one `LogicalRDD` leaf over them. Those
  * blocks live below the CacheManager (`Dataset.unpersist` cannot free
  * them) and, lineage being truncated, a frame reading them fails hard
  * (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`) once they are gone.
  *
  * [[cut]] returns a [[Cut]] handle that knows the one RDD it owns: the
  * checkpointed plan's `LogicalRDD` leaf. [[Cut.release]] unpersists that
  * RDD and nothing else — not a diff of the process-global persistent-RDD
  * map, which also picks up any lazily persisted frame the cut's job
  * happened to materialize (and any block another thread persisted
  * meanwhile). An operator releases a superseded cut as soon as no frame
  * it will run again reads it, and hands the cuts its returned frame reads
  * to [[CacheScope.register]], which files them in the calling thread's
  * scope: the thread that called the operator releases them after its
  * action.
  *
  * ==Observed scalars and measured stats==
  * The cut's own checkpoint job also evaluates a `Dataset.observe` over the
  * rows it materializes: always `count(1)`, plus the aggregates the caller
  * passes. A loop reads its round scalar (a normalizer, a changed count, a
  * convergence delta) off [[Cut.observed]] instead of running a second job
  * over the cut. The row count then becomes the cut frame's statistics:
  * left as `localCheckpoint` returns it, the `LogicalRDD` leaf reports the
  * PRE-execution estimate of the plan it was cut from, which a filter, a
  * distinct or a join can overstate by orders of magnitude and so cost the
  * frame its broadcast; the measured count × the schema's per-row size
  * gives the frame accurate stats with no persist (a second copy of the
  * blocks) over the cut.
  */
object Lineage {

  private val names = new AtomicLong

  /** A materialized lineage cut: `frame` reads only `rdd`'s blocks.
    * `observed` holds what the cut's job aggregated over those rows: field
    * 0 is the row count, then the caller's aggregates in order. */
  final class Cut private[Lineage] (val frame: DataFrame, val rdd: RDD[_],
                                    val observed: Row) {
    /** Rows the cut holds, counted by its own job. */
    def rows: Long = observed.getLong(0)

    /** Unpersist this cut's blocks; `frame` must not run again after. */
    def release(blocking: Boolean = false): Unit = rdd.unpersist(blocking)
  }

  /** Eagerly `localCheckpoint` `df` — its blocks exist when this returns —
    * observing `count(1)` and `aggregates` (each an aggregate over `df`'s
    * columns) inside that same job. */
  def cut(df: DataFrame, aggregates: Column*): Cut = {
    val name = s"__graft_cut_${names.incrementAndGet()}"
    val watched = df.observe(name, count(lit(1)).as("__rows"), aggregates: _*)
    val out = watched.localCheckpoint()
    val observed = watched.queryExecution.observedMetrics(name)
    val rdd = out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
    new Cut(Bridge.withRowCount(out, observed.getLong(0)), rdd, observed)
  }
}
