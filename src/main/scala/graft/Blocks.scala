package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Block-manager hygiene for long sessions (round-7 verdict item 1/8).
  *
  * The catalog's query bodies `localCheckpoint()` transient subtrees
  * (multi-consumer intermediates, iterative-round frontiers) because a
  * local checkpoint is the only persistence that also TRUNCATES the
  * logical plan — but a localCheckpointed RDD cannot be unpersisted
  * until its last consumer has run, and the query contract returns a
  * lazy DataFrame, so the query body itself can never safely drop it.
  * Left alone, a long session accumulates hundreds of checkpoint RDDs
  * and the block manager's eviction/spill contention inflates later
  * queries 2–5× (round-7 judge repro: q_rfm 2.16 s isolated vs 11.4 s
  * after ~500 catalog executions).
  *
  * [[sweep]] is the between-queries antidote: unpersist every
  * persistent RDD EXCEPT the ids registered by [[protect]] — the
  * checkpoints of the memoized shared subtrees (pair mining, cluster
  * labels, phash, NB scores, …) held across queries by design, whose
  * data would be unrecoverable if dropped (a local checkpoint has no
  * lineage to recompute from). The memo registry [[MemoStats.get]] is
  * the only caller of [[protect]] and [[unprotect]]: it protects every
  * value it builds and unprotects a value whose input data changed, so
  * every memo site is covered without per-site bookkeeping. Harnesses
  * (Bench, Verify, ad-hoc sessions) call `Blocks.sweep(spark)` after
  * consuming each query's result; cached-but-not-checkpointed RDDs
  * swept here are merely recomputed if ever re-read (lineage intact),
  * so the sweep is always safe between queries.
  */
object Blocks {
  private val protectedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** The checkpoint RDDs backing `df`: a localCheckpointed Dataset's
    * analyzed plan is a `LogicalRDD` holding the materialized RDD
    * (exactly one for a plain checkpoint, possibly several if
    * checkpoints are later composed). */
  private def checkpoints(df: Dataset[_]) =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Register the checkpoint RDDs backing `df` as sweep-survivors. */
  def protect(df: Dataset[_]): Unit =
    checkpoints(df).foreach(r => protectedIds.add(r.id))

  /** Withdraw [[protect]]: the next sweep frees `df`'s checkpoints. */
  def unprotect(df: Dataset[_]): Unit =
    checkpoints(df).foreach(r => protectedIds.remove(r.id))

  /** Unpersist the checkpoint RDDs backing `df` — the owner's release of
    * a transient checkpoint whose last consumer has run. Protected memo
    * checkpoints are left alone. */
  def release[T](df: Dataset[T]): Unit =
    checkpoints(df).filterNot(r => protectedIds.contains(r.id))
      .foreach(_.unpersist(blocking = false))

  /** Unpersist every persistent RDD except protected memo checkpoints.
    * Returns the number of RDDs dropped.
    *
    * `blocking`: ad-hoc sessions keep the non-blocking default (the
    * block manager reclaims asynchronously, fine between unrelated
    * queries). TIMED harnesses must pass `blocking = true` — under the
    * back-to-back bench protocol the async reclaim of run 1's large
    * checkpoint blocks otherwise lands INSIDE run 2's timed window
    * (measured: q_lsh_tuning, 3 checkpoints per execution, run 1
    * 34 s / run 2 187 s; blocking sweeps put the reclaim between the
    * windows where it belongs). */
  def sweep(spark: SparkSession, blocking: Boolean = false): Int = {
    val persistent = spark.sparkContext.getPersistentRDDs
    var dropped = 0
    persistent.foreach { case (id, rdd) =>
      if (!protectedIds.contains(id)) {
        rdd.unpersist(blocking = blocking)
        dropped += 1
      }
    }
    dropped
  }

  /** Number of currently protected checkpoint ids (spec observability). */
  def protectedCount: Int = protectedIds.size

  /** Drop every memo entry, the build accounting, and the protected-id
    * registry, then sweep the now-unprotected blocks — the full reset a
    * measurement harness needs before an attributed cold pass (Bench's
    * warmDir == sfDir degenerate case, ScaleRehearsal batches). */
  def reset(spark: SparkSession): Unit = {
    MemoStats.clear()
    protectedIds.clear()
    sweep(spark)
  }
}
