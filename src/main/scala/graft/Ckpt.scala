package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Managed lifecycle for eager `localCheckpoint` barriers.
  *
  * `df.localCheckpoint(true)` persists the materialized blocks
  * (MEMORY_AND_DISK) and — because checkpointing truncates lineage — nothing
  * downstream ever releases them: each invocation of a multi-phase plan
  * leaks its barrier RDDs until GC notices, and a warmup+timed double pass
  * (graft.Bench) doubles the leak. These helpers make every barrier a
  * scoped resource: materialize, consume, `free`.
  *
  * Freeing is safe ONLY after the frame's last action — a localCheckpoint'd
  * RDD cannot be recomputed, so an action after `free` fails rather than
  * silently recomputing. All call sites therefore free in `finally` blocks
  * after the terminal action (collect / parquet publish).
  */
object Ckpt {

  /** The persisted RDD backing a localCheckpoint'd frame. The checkpointed
    * Dataset's plan is exactly one [[LogicalRDD]] holding the persisted
    * internal-row RDD (Dataset.checkpoint contract). */
  private def backingRdd(ck: DataFrame): Option[RDD[_]] =
    ck.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }

  /** Eager local checkpoint — same semantics as `df.localCheckpoint(true)`;
    * pair with [[free]] once the frame's last action has run. */
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Release the blocks behind a frame returned by [[eager]] /
    * `localCheckpoint(true)`. No-op on non-checkpoint frames. */
  def free(ck: DataFrame): Unit = backingRdd(ck).foreach(_.unpersist(false))

  /** Tracks checkpoints created through it and releases them together —
    * for multi-phase plans whose barriers all die with the final action. */
  final class Scope {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** LAZY local checkpoint: same raw-row blocks and lineage truncation as
      * [[eager]], but no materialization job of its own — the first
      * downstream action pays it inline, later actions read the blocks.
      * Saves one scheduled job per barrier whenever the first consumer would
      * scan the whole input anyway. Released with the scope. */
    def lazyCk(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(false)
      held += out
      out
    }
    def release(): Unit = { held.foreach(free); held.clear() }
  }

  /** Run `body` with a [[Scope]], releasing every checkpoint it created
    * after `body` returns — `body` must END with the terminal action (the
    * freed frames cannot be acted on afterwards). */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.release()
  }
}
