package graft.util

import org.apache.spark.sql.{Dataset, classic}
import org.apache.spark.sql.execution.LogicalRDD

/** Actually release a `localCheckpoint` pin, and the one loop-state
  * cadence every checkpointed driver loop advances through.
  *
  * `Dataset.unpersist()` routes through the CacheManager and only drops
  * entries registered by `cache()`/`persist()`. A `localCheckpoint` pins
  * its data one level lower — an RDD-level persist on the checkpointed
  * RDD, which the CacheManager never sees — so calling `unpersist()` on
  * a checkpointed Dataset is silently a no-op: the blocks stay pinned
  * until GC plus the ContextCleaner happen to collect the unreferenced
  * RDD (verified empirically; the BpeSpec pin-growth test fails under
  * plain unpersist). That nondeterminism is unacceptable for the
  * iterative loops (Lloyd, connected components, BPE) and long-lived
  * services (streaming dedup, model serving) that rely on
  * checkpoint-then-release to bound executor storage, so every
  * checkpoint release in the engine routes through here.
  *
  * Loop-state contract: a loop whose state is a table holds exactly one
  * state pin at a time. [[advance]] materializes the successor before it
  * drops the predecessor the successor's plan reads (a released
  * `localCheckpoint` cannot recompute), and the caller owns the pin it
  * returns. [[iterate]] runs a fixed-count loop whose last step stays a
  * live plan — callers and the PLANS.md audit see the real per-step
  * shape, not a checkpoint scan — so the caller owns the last state
  * checkpoint (or `init`, when n ≤ 1) that plan reads, along with
  * whatever loop-invariant pins the step closes over.
  */
object Pins {

  /** Drop the RDD pin behind a `localCheckpoint`'d Dataset, immediately
    * and deterministically; falls back to plain `unpersist()` for plans
    * that aren't checkpoint scans (cached plans, uncached no-ops).
    */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ds.unpersist(); ()
  }

  /** Checkpoint `next` eagerly, then release `prev`; returns the pinned
    * `next`, which the caller now owns. The pin's size estimate is
    * capped at `Long.MaxValue` bytes: a checkpoint carries its plan's
    * estimate as origin stats, so a step that joins its state with
    * itself multiplies the estimate every round, into BigInts with
    * exponentially many digits that stall the driver in Catalyst's
    * stats arithmetic. `Long.MaxValue` is what Spark assumes for a
    * relation it knows nothing about, above every join-selection
    * threshold, so the cap moves no plan decision.
    */
  def advance[T](prev: Dataset[_], next: Dataset[T]): Dataset[T] = {
    val pinned = capSize(next.localCheckpoint(true))
    release(prev)
    pinned
  }

  private val MaxSize = BigInt(Long.MaxValue)

  private def capSize[T](ds: Dataset[T]): Dataset[T] = ds.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.stats.sizeInBytes > MaxSize =>
      val session = ds.asInstanceOf[classic.Dataset[T]].sparkSession
      new classic.Dataset[T](session,
        lr.copy()(session, Some(lr.stats.copy(sizeInBytes = MaxSize)), Some(lr.constraints)),
        ds.encoder)
    case _ => ds
  }

  /** `n` applications of `step` from `init`: steps 1..n−1 each
    * [[advance]] the state (so `init` itself is released once step 1
    * has materialized, when n ≥ 2), step n stays a live plan over the
    * last checkpoint. `n = 0` returns `init`.
    */
  def iterate[T](init: Dataset[T], n: Int)(step: Dataset[T] => Dataset[T]): Dataset[T] = {
    var state = init
    for (_ <- 1 until n) state = advance(state, step(state))
    if (n > 0) step(state) else state
  }
}
