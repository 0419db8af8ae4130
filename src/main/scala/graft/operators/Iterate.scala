package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Bounded-state iteration helper. Bulk-iterative operators here
  * (PageRank, label propagation, BFS, k-core) truncate lineage with
  * `localCheckpoint()`; the materialized blocks of SUPERSEDED
  * checkpoints, however, linger in the block manager until a JVM GC
  * lets the ContextCleaner prove them unreachable. Across a long
  * session (the 168-query bench; any multi-query driver) that dead
  * weight squeezes execution memory and shows up as multi-×
  * slowdowns on whatever shuffle-heavy query runs next (BENCH_r05's
  * suite-wide churn; the wandering q94/q163 spikes in later rounds).
  *
  * `roll` makes the hand-off explicit: eagerly checkpoint the next
  * iteration frame, then unpersist the PREVIOUS checkpoint's blocks —
  * state held is one frame, deterministically, with no GC in the loop.
  *
  * Only ever pass frames that ARE localCheckpoint results as `prev`:
  * release() walks the plan for LogicalRDD leaves, and a derived frame
  * would surface (and release) upstream checkpoints still in use. A
  * checkpointed frame's plan is exactly its own LogicalRDD leaf.
  *
  * Loop-invariant frames are checkpointed without a build-time
  * repartition: under AQE a checkpoint captures UnknownPartitioning, and
  * the partitioning-preserving pins measured slower locally (SCALE.md
  * round 8, "The pinned-partitioning belief was wrong"). */
object Iterate {

  /** Unpersist the materialized blocks behind a checkpointed frame. */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Eagerly checkpoint `next`, then release `prev` (whose consumers
    * are all re-rooted onto the new materialized blocks by then). */
  def roll(next: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val cp = next.localCheckpoint() // eager: blocks exist before release
    prev.foreach(release)
    cp
  }
}
