package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Block bookkeeping for per-round lineage truncation.
  *
  * `Dataset.localCheckpoint` PERSISTS the materialized row RDD (that
  * is what makes the truncated frame re-readable), and nothing ever
  * unpersists it — the blocks are freed only when the driver GC runs
  * the ContextCleaner over the dead reference. An iterative operator
  * that truncates EVERY round therefore accumulates one edge-scale
  * block set per round; at 30× bench scale (~45M-edge rounds) that
  * filled an 8 GB local heap before the cleaner caught up and OOMed
  * q135's peel loop. Rounds must free what they supersede.
  */
object Lineage {

  /** Release the checkpoint blocks of `prev` once `current` (already
    * MATERIALIZED) has replaced it. Only RDDs that back `prev` and are
    * NOT referenced by `current`'s plan are unpersisted: a checkpoint
    * that is still an ancestor of `current` is left alone.
    */
  def releaseSuperseded(prev: DataFrame, current: DataFrame): Unit = {
    val live = current.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }.toSet
    prev.queryExecution.analyzed.collect {
      case lr: LogicalRDD if !live.contains(lr.rdd.id) => lr.rdd
    }.foreach { r => r.unpersist(blocking = false); () }
  }
}
