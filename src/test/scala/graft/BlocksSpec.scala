package graft

/** Block-manager hygiene (round-7 verdict items 1 and 8): the catalog's
  * transient `localCheckpoint()` sites must not accumulate across a long
  * session when the harness sweeps between queries, and the sweep must
  * never evict a live memo checkpoint (its data is lineage-free — an
  * evicted memo is an unrecoverable "block not found", not a recompute).
  */
class BlocksSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("sweep after each catalog query keeps persistent RDDs bounded by the memo set") {
    Blocks.reset(spark)
    // Checkpoint-heavy representatives of every family the round-7 bench
    // flagged: iterative graph rounds, nested prefix-sum ranks, memoized
    // index consumers, O(types²) transition tables.
    val names = Seq("q_rfm", "q_markov_stationary", "q_tfidf_cosine",
      "q_dedup_clusters", "q_dedup_survivors", "q_user_cf",
      "q_scd_change_detect", "q_rollup", "q_t_closeness", "q_changepoint")
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sf).count()
      Blocks.sweep(spark)
      val persistent = spark.sparkContext.getPersistentRDDs.size
      // sweep is non-blocking, so just-unpersisted RDDs may linger in the
      // map an instant; the invariant is "bounded by the protected memo
      // set", not an exact equality race
      assert(persistent <= Blocks.protectedCount + 2,
        s"after $n: $persistent persistent RDDs vs ${Blocks.protectedCount} protected memos")
    }
    assert(Blocks.protectedCount > 0,
      "the memoized consumers above must have registered protected checkpoints")
  }

  test("sweep preserves memo checkpoints: consumers re-run correctly after sweeping") {
    Blocks.reset(spark)
    // one consumer per memo value shape: a DataFrame (cluster_labels), a
    // case class holding DataFrames (kmeans_parts) and a tuple holding
    // one (bpe_fit)
    val consumers = Seq("q_dedup_clusters", "q_semdedup", "q_bpe_encode")
    val first = consumers.map(n => SparkEntry.queries(n)(spark, sf).count())
    Blocks.sweep(spark, blocking = true)
    // the memos were built by the first runs; after the sweep their
    // checkpoints must still be readable (a dropped local checkpoint
    // cannot be recomputed — this would throw, not mismatch)
    val again = consumers.map(n => SparkEntry.queries(n)(spark, sf).count())
    assert(again == first)
    val survivors = SparkEntry.queries("q_dedup_survivors")(spark, sf).count()
    assert(survivors > 0)
  }

  test("reset drops memos and protection so a cold pass re-attributes builds") {
    Blocks.reset(spark)
    SparkEntry.queries("q_minhash_lsh")(spark, sf).count()
    assert(MemoStats.snapshot.contains("minhash_bands"),
      "cold run must route the band build through MemoStats")
    assert(Blocks.protectedCount > 0)
    assert(MemoStats.entries > 0)
    Blocks.reset(spark)
    assert(MemoStats.snapshot.isEmpty)
    assert(MemoStats.entries == 0)
    assert(Blocks.protectedCount == 0)
  }
}
