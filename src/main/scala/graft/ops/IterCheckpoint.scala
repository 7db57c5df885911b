package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import graft.crawl.Scheduler

/** Round-scoped localCheckpoint for iterative DataFrame algorithms
  * (PageRank, connected components, BFS): checkpoint the new round's frame
  * eagerly, then FREE the previous round's blocks.
  *
  * `localCheckpoint(true)` truncates lineage by materializing the frame as
  * persistent RDD blocks — but those blocks live OUTSIDE the CacheManager
  * (`Dataset.unpersist()` does not touch them; they wait for a driver GC +
  * ContextCleaner pass, which a large-heap driver may never run). An
  * iterative op that checkpoints every round therefore accumulates one
  * full copy of its state per round: at 10^10 nodes × 20 rounds that is
  * 20 node-set copies spilled across executor disks. The cure: record the
  * RDDs each checkpoint holds its rows in (`Scheduler.checkpointRdds`, read
  * off the checkpoint's own plan) and drop exactly those as soon as the
  * NEXT round's checkpoint (derived from them) is materialized. Nothing
  * another thread persists meanwhile is touched: a local checkpoint whose
  * blocks are freed cannot be recomputed.
  */
private[ops] final class IterCheckpoint {

  private var last: Seq[RDD[_]] = Nil

  /** Eagerly checkpoint `df`, then free the blocks of the PREVIOUS frame
    * this instance checkpointed (safe: the new checkpoint is already
    * materialized, so nothing reads the old blocks again). Frames the
    * caller must keep across all rounds (edge lists, node catalogs)
    * should use a plain `localCheckpoint(true)`, not this. */
  def next(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    free()
    last = Scheduler.checkpointRdds(ck)
    ck
  }

  /** Free the last checkpoint's blocks (call after the final result has
    * been consumed or re-materialized — NOT before returning a frame that
    * still reads them). */
  def free(): Unit = {
    last.foreach(_.unpersist(blocking = false))
    last = Nil
  }
}
