package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

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
  * to [[CacheScope.register]], so the caller releases them after its action.
  */
object Lineage {

  /** A materialized lineage cut: `frame` reads only `rdd`'s blocks. */
  final class Cut private[Lineage] (val frame: DataFrame, val rdd: RDD[_]) {
    /** Unpersist this cut's blocks; `frame` must not run again after. */
    def release(blocking: Boolean = false): Unit = rdd.unpersist(blocking)
  }

  /** Eagerly `localCheckpoint` `df` — its blocks exist when this returns. */
  def cut(df: DataFrame): Cut = {
    val out = df.localCheckpoint()
    new Cut(out, out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get)
  }
}
