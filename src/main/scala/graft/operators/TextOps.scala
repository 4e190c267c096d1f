package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Text-analysis + deduplication operators for training-data pipelines
  * (SURVEY.md §2.12 E1–E3, E5).
  *
  * Scale design:
  * - tokenization stays inside whole-stage codegen (split/explode/HOFs,
  *   no UDFs); per-doc stats are narrow (zero shuffle);
  * - exact dedup = one hash-aggregate / ranking window on the dup key;
  * - n-gram Jaccard joins on token (co-grouped by the join key, skew
  *   bounded by stopword-ish tokens — at 100 TB you'd drop top-df tokens
  *   first, which is also semantically standard);
  * - MinHash-LSH emits band buckets (O(n·bands)) instead of the O(n²)
  *   candidate cross-product; pair expansion happens per-bucket.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct lowercase word tokens per doc, empty tokens dropped. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(array_distinct(wordsOf))
          .as("token"))

  /** 16-bit SimHash fingerprints per doc (doc_id, source,
    * fingerprint) — shared by q_simhash and q_simhash_eval so the
    * eval measures exactly the hash the catalog ships. */
  /** `spread` (r16): q_simhash_eval's candidate pipeline parallelizes
    * the fingerprint build through [[Tables.spreadIfCoarse]]; the plain
    * q_simhash aggregate keeps the bare scan (the extra exchange costs
    * more than the single-task agg there — measured +70 ms). */
  private def simhashFp(s: SparkSession, d: String,
                        spread: Boolean = false): DataFrame = {
    val base = if (spread) spreadIfCoarse(documents(s, d)) else documents(s, d)
    val t = tokens(base).withColumn("h", md5(col("token")))
    val bitSums = (1 to 16).map(i =>
      sum(when(substring(col("h"), i, 1).between("8", "f"), 1).otherwise(-1))
        .as(s"s$i"))
    t.groupBy("doc_id", "source").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), col("source"),
        concat((1 to 16).map(i =>
          when(col(s"s$i") >= 0, "1").otherwise("0")): _*).as("fingerprint"))
  }

  private[operators] val stopwords = Seq("the", "a", "of", "and", "in")

  /** Non-empty lowercase word tokens of the `text` column. array_remove
    * (codegen'd) rather than a filter() lambda: higher-order functions
    * are CodegenFallback and would kick every expression sharing their
    * Project out of whole-stage codegen. */
  private[operators] def wordsOf: Column =
    array_remove(split(lower(col("text")), " "), "")

  /** Winnowing fingerprint table (doc_id, h, fp_pos): k=5-token
    * shingle hashes, rightmost-min of each w=4 window selected via the
    * packed-BIGINT frame MIN (see q_winnow_fingerprint's doc) — ONE
    * definition shared by the per-doc stats and the near-dup join so
    * the two passes can never disagree on the selection. */
  private def winnowFp(s: SparkSession, d: String): DataFrame = {
    val K = 5; val W = 4; val SH = 2097152L
    val grams = documents(s, d).select(col("doc_id"),
        posexplode(graft.functions.NGrams.ngrams(wordsOf, K)).as(Seq("p0", "gram")))
      .select(col("doc_id"), col("p0").cast("long").as("p"),
        conv(substring(md5(col("gram")), 1, 10), 16, 10).cast("long").as("h"))
    val wdoc = Window.partitionBy("doc_id").orderBy("p")
    grams
      .withColumn("ng", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("key", min(col("h") * SH + (lit(SH - 1) - col("p")))
        .over(wdoc.rowsBetween(Window.currentRow, W - 1)))
      .filter(col("p") <= col("ng") - W) // full windows only
      .select(col("doc_id"), expr("key div 2097152").as("h"),
        (lit(SH - 1) - pmod(col("key"), lit(SH))).as("fp_pos"))
      .distinct()
  }

  /** Winnowing near-dup candidate pairs (d1, d2, n_shared ≥ 3) over
    * the df-capped fingerprint index — shared by q_dedup_winnow and
    * GraphOps' modularity metric so the screen and its evaluation can
    * never disagree on the edge set. MEMOIZED per (session, dir) like
    * the cluster labels / itemset pairs / phash table (deterministic
    * derivation over an immutable snapshot directory; the winnow
    * selection's per-doc window sort is the expensive stage and was
    * paid once per CONSUMER before the memo). */
  private val winnowCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[operators] def winnowPairs(s: SparkSession, d: String): DataFrame =
    winnowCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("winnow_pairs")(winnowPairsPlan(s, d).localCheckpoint()))

  /** The raw pair pipeline, pre-memo (plan pins target THIS shape). */
  private[operators] def winnowPairsPlan(s: SparkSession, d: String): DataFrame = {
    val fp = winnowFp(s, d).select("doc_id", "h").distinct()
    val dfc = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select("h")
    val capped = fp.join(dfc, "h")
    capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** Winnow pair-generation CTE chain (words → … → wpairs), the SQL
    * twin of [[winnowPairs]] — one string consumed by the
    * q_dedup_winnow oracle AND GraphOps' modularity oracle. */
  private[operators] val winnowPairsCte: String =
    """words AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS p,
      |    CAST(('0x' || substr(md5(array_to_string(ws[g.i:g.i+4], ' ')), 1, 10)) AS BIGINT) AS h
      |  FROM words, generate_series(1, 2000) g(i) WHERE g.i <= len(ws) - 4),
      |sel AS (
      |  SELECT doc_id, p,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS ng,
      |    MIN(h * 2097152 + (2097151 - p)) OVER (
      |      PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS key
      |  FROM grams),
      |wfp AS (SELECT DISTINCT doc_id, key // 2097152 AS h
      |        FROM sel WHERE p <= ng - 4),
      |dfc AS (SELECT h FROM wfp GROUP BY h HAVING COUNT(*) <= 64),
      |wcap AS (SELECT f.doc_id, f.h FROM wfp f JOIN dfc USING (h)),
      |wpairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
      |  FROM wcap a JOIN wcap b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)""".stripMargin

  /** Fixed-width 8-word passages over a word array (trailing partial
    * passage included) — ONE definition shared by q_passage_dedup and
    * q_passage_scrub so the dedup pass and the reconstruction pass can
    * never disagree on passage boundaries. */
  private def passagesOf(words: Column): Column =
    transform(
      sequence(lit(0), floor((size(words) - 1).cast("double") / 8).cast("int")),
      i => array_join(slice(words, i * lit(8) + 1, lit(8)), " "))

  /** MinHash-LSH band buckets `(doc_id, band_id, band_key)`: 8 portable
    * min-hashes (lexicographic min of seeded md5 — identical in any
    * engine), 4 bands × 2 rows. The per-(seed, token) md5 depends only
    * on the token, so the distinct vocabulary is hashed once and
    * broadcast-joined back (map-side dictionary) instead of recomputing
    * 8 md5s per doc×token row — vocab ≪ corpus at any scale.
    *
    * Shared by q_minhash_lsh (bucket stats) and the connected-components
    * dedup clustering (GraphOps), which expands buckets into candidate
    * pairs. */
  def minhashBands(docs: DataFrame): DataFrame =
    minhashBandsFromTokens(tokens(docs))

  /** [[minhashBands]] over an already-exploded (doc_id, token) frame —
    * the ONE signature/banding implementation, so callers that share a
    * checkpointed token explode (q_lsh_recall) can't diverge from the
    * q_minhash_lsh contract. */
  def minhashBandsFromTokens(t: DataFrame): DataFrame =
    bandsFromSigs(minhashSigsFromTokens(t))

  /** Band expansion over an already-built signature table — split out
    * (r15) so the memoized bands can ride the memoized signatures. */
  private def bandsFromSigs(sig: DataFrame): DataFrame = {
    sig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_id"),
          md5(concat_ws("|", col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("band_key"))): _*))
        .as("b"))
      .select(col("doc_id"), col("b.band_id"), col("b.band_key"))
  }

  /** The 8-permutation MinHash SIGNATURE table (doc_id, h0..h7) the
    * bands derive from — exposed separately so the estimation-error
    * eval (q_minhash_est) compares the exact per-permutation matches
    * the banding actually hashes, never a reimplementation. */
  private def minhashVocab(t: DataFrame): DataFrame =
    t.select("token").distinct()
      .select(col("token") +: (0 until 8).map(i =>
        md5(concat(lit(i.toString), lit("|"), col("token"))).as(s"t$i")): _*)

  private def minhashPrefix(i: Int): Column =
    conv(substring(col(s"t$i"), 1, 15), 16, 10).cast("long")

  def minhashSigsFromTokens(t: DataFrame): DataFrame = {
    val vocab = minhashVocab(t)
    // r15: min() over the 32-char md5 STRINGS disqualified
    // HashAggregate (variable-width buffer), so the per-doc signature
    // aggregate ran as SortAggregate over the whole token explode —
    // the single hottest stage of the minhash family. The aggregate
    // now runs over each hash's leading 60 bits as a LONG
    // (hash-aggregable, and the doc×token shuffle rows narrow from 8
    // strings to 8 longs); the exact minimal STRING is then recovered
    // from a per-permutation vocab dictionary keyed by that prefix.
    // Bit-identical to min-over-strings PROVIDED no two vocab tokens
    // share a 60-bit prefix in any permutation (fixed-length
    // lowercase-hex orders as its numeric value; the dictionary min is
    // taken over the WHOLE vocab, so a prefix collision could recover
    // a hash of a token absent from the doc). Collision probability is
    // ≈ |V|²/2^61 per permutation — negligible below ~10^8 tokens but
    // not zero; [[minhashSigsMemo]] therefore verifies the vocab is
    // prefix-collision-free once per (session, dir) and falls back to
    // [[minhashSigsExactFromTokens]] when it is not. There is no vocab
    // size cutoff: the check runs at every size.
    val vocabP = vocab.select(col("token") +:
      (0 until 8).map(i => minhashPrefix(i).as(s"p$i")): _*)
    val hashed = t.join(broadcast(vocabP), "token")
    val mins = (0 until 8).map(i => min(col(s"p$i")).as(s"mp$i"))
    val sigP = hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    (0 until 8).foldLeft(sigP) { (df, i) =>
      val dict = vocab.groupBy(minhashPrefix(i).as(s"mp$i"))
        .agg(min(col(s"t$i")).as(s"h$i")) // vocab-sized SortAggregate
      df.join(broadcast(dict), s"mp$i")
    }.select(col("doc_id") +: (0 until 8).map(i => col(s"h$i")): _*)
  }

  /** Exact fallback: min over the full 32-char hash strings — the
    * SortAggregate path the prefix scheme replaced. Correct at ANY
    * vocab size (no prefix recovery involved). */
  private[operators] def minhashSigsExactFromTokens(t: DataFrame): DataFrame = {
    val hashed = t.join(broadcast(minhashVocab(t)), "token")
    val sigs = (0 until 8).map(i => min(col(s"t$i")).as(s"h$i"))
    hashed.groupBy("doc_id").agg(sigs.head, sigs.tail: _*)
  }

  /** Memoized 8-permutation signature table over the documents corpus
    * — r15: the build was re-run by q_lsh_tuning, q_minhash_est AND
    * the bands memo (three signature builds per session); one
    * checkpointed table now feeds all three. Same memo contract as
    * every sibling cache. */
  private val sigCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[operators] def minhashSigsMemo(s: SparkSession, d: String): DataFrame =
    sigCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("minhash_sigs") {
        val t = tokens(spreadIfCoarse(documents(s, d)))
        // r16 prefix-collision guard (ADVICE): the 60-bit dictionary
        // recovery in [[minhashSigsFromTokens]] is bit-exact iff no two
        // vocab tokens collide on a hash prefix in any permutation.
        // Verify that once per (session, dir) with one vocab-sized
        // aggregate (8 count-distincts vs the row count); on collision
        // — expected only at ≳10^8-token vocabs, |V|²/2^61 — build via
        // the exact string-min path instead. The check is part of the
        // one-time memo build, never per-query.
        val vocab = minhashVocab(t)
        val cd = vocab.agg(count(lit(1)).as("n"),
          (0 until 8).map(i =>
            countDistinct(minhashPrefix(i)).as(s"d$i")): _*).collect()(0)
        val collisionFree = (0 until 8).forall(i =>
          cd.getLong(i + 1) == cd.getLong(0))
        val sigs = if (collisionFree) minhashSigsFromTokens(t)
          else minhashSigsExactFromTokens(t)
        sigs.localCheckpoint()
      })

  /** Blocked token-set Jaccard near-dup pairs over
    * (source, doc_id, toks array) with an adaptive physical strategy:
    *
    * - DENSE vocab (≤ `maxMaskWords`×64 distinct tokens): dictionary-
    *   encode token sets into plain LONG bitmask columns; the pair loop
    *   is popcount(AND) in whole-stage codegen. Right when token sets
    *   saturate a small vocabulary (most pairs genuinely overlap).
    * - SPARSE vocab (big dictionaries) and OVERSIZED blocks: PPJoin
    *   prefix-filtered inverted index ([[prefixCandidates]]) — only
    *   each set's rarest-first prefix is indexed (lossless), so
    *   candidate fan-out tracks rare-token df, not hot-token df²,
    *   and verification is a codegen'd sorted merge per candidate.
    *
    * Both produce identical results (same null-free math; the oracle is
    * strategy-agnostic).
    *
    * The dense path is gated on BOTH axes of its cost model:
    * - vocab size (`maxMaskWords` × 64 tokens) bounds the mask width;
    * - block row count (`maxBlockRows`) bounds the O(block²) pair join.
    *   A 100 TB source-block with a small vocabulary must NOT pick the
    *   bitmask path — its pair space is quadratic in the block no matter
    *   how cheap each comparison is. Such blocks fall through to the
    *   inverted index, whose cost tracks true token co-occurrence
    *   (and beyond that, MinHash-LSH — q_minhash_lsh — is the blocker).
    *
    * Driver-side gate scalars, cheapest-first:
    *  1. largest-block row count — one aggregation over (source), no
    *     tokenization at all; an oversized block short-circuits to the
    *     sparse path without ever touching the vocabulary;
    *  2. vocabulary probe — a LIMIT-short-circuited distinct (collect
    *     stops once maxMaskWords×64+1 tokens prove the vocab is big).
    *     When the vocab fits, the collected tokens themselves BECOME
    *     the dictionary (sorted, index = position, shipped as a local
    *     relation), so the main job pays no second vocabulary pass and
    *     no global row_number window.
    */
  /** `(source, doc_id, sz, th)` inverted index over (source, doc_id,
    * toks): one row per token occurrence, `th` a 60-bit md5-derived
    * token hash, `sz` the exact (string-space) set size. The 8-byte
    * long key halves the shuffle volume of the three downstream
    * sorts/joins vs. raw token strings and makes the verify arrays
    * `array<long>` for the codegen'd merge (q_shingle_jaccard
    * precedent; collisions negligible in 2^60, and `sz` stays
    * string-exact so only `inter` sees the hashed space).
    * localCheckpoint: the index feeds the df/rank windows AND the
    * whole-set aggregation — without it the explode+md5 subtree runs
    * twice. */
  private[graft] def hashedTokenIndex(dt: DataFrame): DataFrame =
    dt.select(col("source"), col("doc_id"),
        explode(col("toks")).as("token"),
        size(col("toks")).cast("long").as("sz"))
      .select(col("source"), col("doc_id"), col("sz"),
        conv(substring(md5(col("token")), 1, 15), 16, 10)
          .cast("long").as("th"))
      .localCheckpoint()

  /** df-capped, 60-bit-hashed word-3-gram shingle inverted index —
    * the shared feature space of q_shingle_jaccard and q_containment.
    *
    * - 3-grams via the codegen'd graft_ngrams expression — one tight
    *   generated loop per row. (History of this hot path: transform +
    *   element_at re-evaluated the split per ELEMENT, 17 s at sf0.1;
    *   the zip_with-shifted-slices chain fixed that but HOFs stay
    *   interpreted, ~1.1 s of pure construction; NGrams compiles it.)
    * - Document-frequency cap 64: a shingle shared by df docs
    *   contributes df·(df−1)/2 pair rows to the self-join —
    *   boilerplate shingles (headers, licence blocks) make that
    *   quadratic per hot key at 100 TB. Dropping df > cap bounds every
    *   key's fan-out at cap²/2 AND is semantically standard (hot
    *   shingles carry no near-dup signal); both consumers recount
    *   sizes post-filter, mirrored exactly in their oracles. cap ≫
    *   observed max df at test scales, so test output is unchanged.
    * - 60-bit md5 hash key, not the ~25-byte string: the index is
    *   shuffled and sorted three times (df window, self-join both
    *   sides) and the 8-byte key halves that volume; collisions
    *   negligible in 2^60 and the oracles apply the SAME hash.
    * - df as a count window over (source, shingle): one shuffle+sort
    *   of the index, after which the filter is free (a hash-agg df
    *   table joined back was measured ~2× slower at sf0.1 — the join
    *   re-materializes the exploded index where the window reuses its
    *   own sorted exchange).
    *
    * MEMOIZED per (session, dir) like GraphOps' cluster labels (same
    * soundness: deterministic derivation over an immutable snapshot
    * directory; localCheckpoint, session lifetime) — the two consumers
    * pay the explode+hash+window once between them. */
  private[graft] def shingleIndexPlan(s: SparkSession, d: String): DataFrame =
    spreadIfCoarse(documents(s, d))
      .select(col("source"), col("doc_id"),
        explode(array_distinct(graft.functions.NGrams.ngrams(wordsOf, 3)))
          .as("shingle"))
      .select(col("source"), col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10)
          .cast("long").as("shingle_h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("source", "shingle_h")))
      .filter(col("df") <= 64)

  private val shingleIdxCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def shingleIndex(s: SparkSession, d: String): DataFrame =
    shingleIdxCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("shingle_index")(shingleIndexPlan(s, d).localCheckpoint()))

  /** Drop memoized indexes — measurement harnesses (ScaleRehearsal)
    * call this so a timed run can't silently hit the cache. */
  private[graft] def clearMemos(): Unit = {
    shingleIdxCache.clear()
    winnowCache.clear()
    fuzzyCache.clear()
    sortedNbrCache.clear()
    bandCache.clear()
    nbCache.clear()
    jacPairsCache.clear()
    sigCache.clear()
    probePairsCache.clear()
    bpeCache.clear()
  }

  /** Verified token-Jaccard pair table at the catalog's LOOSEST
    * threshold (0.5), MEMOIZED per (session, dir) — r15 optimization.
    * [[tokenJaccardPairs]] is lossless at every threshold (the prefix/
    * size-ratio prunes never drop a qualifying pair — the documented
    * PPJoin theorem), so the t ≥ 0.5 consumers are pure FILTERS over
    * this one table: q_dedup_fuzzy (0.8), q_dedup_threshold_sweep
    * (0.5), q_dedup_audit_queue (0.7 then [0.75,0.85)), q_simhash_eval's
    * truth leg (0.5), and GraphOps' verified edges (0.8). Before the
    * memo each one re-ran the full candidate+verify self-join. Same
    * memo contract as every sibling cache. */
  private val jacPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Unordered verified pairs at threshold 0.5 (source, d1, d2, inter,
    * uni, jaccard); filter `jaccard >= t` for any t ≥ 0.5 — identical
    * to running [[tokenJaccardPairs]] at t because the generation is
    * lossless and `jaccard` is the same round(·,4) value either way. */
  private[operators] def jaccardPairs05(s: SparkSession, d: String): DataFrame =
    jacPairsCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("jaccard_pairs")(
        tokenJaccardPairs(
          spreadIfCoarse(documents(s, d)).select(col("source"), col("doc_id"),
            array_distinct(wordsOf).as("toks")),
          threshold = 0.5, ordered = false).localCheckpoint()))

  /** Verified ER pair tables, memoized per (session, dataset): both
    * blocking families are consumed standalone AND pooled by
    * q_er_pipeline, so each match table localCheckpoints once (the
    * cluster-labels precedent — bounded verified-pair outputs shared
    * across consumers; build wall-clock lands in memo_build_ms). */
  private val fuzzyCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val sortedNbrCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Memoized MinHash band table (doc_id, band_id, band_key) — shared
    * by the banding query and the self-evaluating recall (identical by
    * construction: min over a multiset equals min over its set, so the
    * distinct-token and raw-token explodes band identically). */
  private val bandCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def minhashBandsMemo(s: SparkSession, d: String): DataFrame =
    bandCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("minhash_bands")(
        bandsFromSigs(minhashSigsMemo(s, d)).localCheckpoint()))

  /** q_lsh_tuning's fused candidate pipeline, raw (pre any consumer
    * checkpoint) — PlanSpec pins ITS shape and plans/r16 dumps it.
    *
    * r15: ONE exploded band table tagged with n_bands instead of three
    * separate per-config pipelines (partition keys include n_bands, so
    * per-config semantics are bit-identical to the former union).
    * r16: the 64-cap runs through the NATIVE bounded-heap top-k
    * instead of row_number over a full window sort — only ≤64
    * survivors per (config, band, partition) are shuffled, and the
    * hot-band skew the window sort serialized (template-heavy corpora
    * put thousands of docs in one band key) is absorbed by the
    * O(log 64) heap. Candidate pairs then come from a within-band
    * sorted-array slice-explode (the q_itemset_triples pattern) on the
    * SAME clustering the top-k landed on — no self-join, no
    * re-exchange, no window sort (plans/r16 before/after). */
  private[graft] def lshTuningCandsPlan(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSigsMemo(s, d) // r15: shared memoized signatures
    val allBands = Seq(2, 4, 8).flatMap { nb =>
      val r = 8 / nb
      (0 until nb).map(i =>
        struct(lit(nb.toLong).as("n_bands"), lit(i).as("band_id"),
          md5(concat_ws("|",
            (0 until r).map(j => col(s"h${i * r + j}")): _*)).as("band_key")))
    }
    val bands = sig.select(col("doc_id"),
        explode(array(allBands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.n_bands"), col("bb.band_id"),
        col("bb.band_key"))
    graft.plans.TopKPerGroup(bands,
        Seq(col("n_bands"), col("band_id"), col("band_key")),
        Seq(col("doc_id").asc), k = 64)
      .groupBy("n_bands", "band_id", "band_key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(col("n_bands"), posexplode(col("ds")).as(Seq("i", "d1")),
        col("ds"))
      .select(col("n_bands"), col("d1"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds"))))
          .as("d2"))
      .distinct()
  }

  /** q_simhash_eval's candidate pipeline, raw (pre the consumer
    * checkpoint) — PlanSpec pins ITS shape and plans/r16 dumps it.
    *
    * r15: the 16-char '0'/'1' fingerprint parses to an integer ONCE
    * per row (before the cap exchange — an 8-byte long vs a 16-char
    * string halves the shuffled row, guide §2.3); per-pair hamming is
    * bit_count(xor) — one codegen'd integer op instead of 16 substring
    * comparisons (identical count: differing chars ≡ differing bits).
    * r16: the 64-cap through the native bounded-heap top-k (no window
    * sort), then pairs from a within-bucket sorted struct-array
    * slice-explode on the same clustering — the (source, bucket)
    * self-join and its re-sorts are gone (the q_lsh_tuning pattern;
    * struct arrays sort by doc_id first). */
  private[graft] def simhashCandsPlan(s: SparkSession, d: String): DataFrame = {
    val fp = simhashFp(s, d, spread = true)
      .select(col("source"),
        substring(col("fingerprint"), 1, 8).as("bucket"),
        col("doc_id"),
        conv(col("fingerprint"), 2, 10).cast("long").as("fpv"))
    graft.plans.TopKPerGroup(fp,
        Seq(col("source"), col("bucket")), Seq(col("doc_id").asc), k = 64)
      .groupBy("source", "bucket")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("fpv")))).as("m"))
      .select(posexplode(col("m")).as(Seq("i", "a")), col("m"))
      .select(col("a"), explode(slice(col("m"), col("i") + lit(2),
        size(col("m")))).as("b"))
      .filter(bit_count(col("a.fpv").bitwiseXOR(col("b.fpv"))) <= 3)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
  }

  /** Probe-bounded EXACT token-overlap table — (d1 < 50, d2 > d1,
    * inter, s1, s2) over distinct word tokens, via the inverted-index
    * join (probe×corpus on token, never corpus² and never a per-pair
    * array_intersect). r16: THREE self-evaluating queries derived this
    * independently — q_lsh_recall's truth, q_minhash_est's exact leg
    * (bit-identical pipelines) and q_lsh_tuning's probe truth, which
    * additionally ran it as a BroadcastNestedLoopJoin (50 × corpus
    * array_intersect calls; the oracle's `iv` CTE is the token join,
    * so this form is also the more oracle-faithful one). One memoized
    * build now feeds all three; consumers filter/derive:
    * jaccard ≥ t is `2·inter ≥ (s1+s2−inter)·…` and exact_ppm is
    * integral arithmetic over (inter, s1, s2). Same memo contract as
    * every sibling cache (per-(session, dir), MemoStats-accounted,
    * Blocks.reset-cleared). Only pairs sharing at least one token
    * appear: a pair of two EMPTY documents (no tokens) is excluded,
    * although its Jaccard 0/0 would pass a `2·inter ≥ union` test —
    * the oracle's `iv` CTE is the same inner token join, so consumers
    * agree with it on corpora with empty documents. */
  private val probePairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[operators] def probeExactPairs(s: SparkSession, d: String): DataFrame =
    probePairsCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("probe_exact_pairs") {
        val probeN = 50 // the q_ann_recall sampled-queries size
        val tok = spreadIfCoarse(documents(s, d))
          .select(col("doc_id"), explode(array_distinct(wordsOf)).as("token"))
          .localCheckpoint() // feeds probe side, corpus side AND sizes
        val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        tok.filter(col("doc_id") < probeN)
          .select(col("doc_id").as("d1"), col("token"))
          .join(tok.select(col("doc_id").as("d2"), col("token")), "token")
          .filter(col("d2") > col("d1"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
          // probe-side sizes are ≤probeN rows — broadcast; the d2 side
          // is one row per corpus doc, shuffled like any fact-dim join
          .join(broadcast(sizes.filter(col("doc_id") < probeN)
            .select(col("doc_id").as("d1"), col("sz").as("s1"))), "d1")
          .join(sizes.select(col("doc_id").as("d2"), col("sz").as("s2")), "d2")
          .localCheckpoint()
      })

  /** Memoized multinomial-NB score table (doc_id, source, cs, score in
    * integral ppm log-prob units) — the trained model applied to the
    * corpus, consumed by the confusion matrix AND the active-learning
    * margin queue. */
  private val nbCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def nbScores(s: SparkSession, d: String): DataFrame =
    nbCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("nb_scores")(nbScoresPlan(s, d).localCheckpoint()))

  /** The raw NB train-and-score pipeline, pre-memo: Laplace-smoothed
    * per-class token likelihoods quantized to integral ppm BEFORE
    * summing (exact bigint per-doc scores, order-independent across
    * partitions and engines), plus the ln-prior. */
  private[graft] def nbScoresPlan(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .localCheckpoint() // feeds model counts AND per-doc features
    val docTok = toks.groupBy("doc_id", "source", "token")
      .agg(count(lit(1)).as("m"))
    val counts = toks.groupBy(col("source").as("cs"), col("token"))
      .agg(count(lit(1)).as("c"))
    val vocab = toks.select("token").distinct().agg(count(lit(1)).as("v"))
    val dens = broadcast(counts.groupBy("cs").agg(sum("c").as("tot"))
      .crossJoin(broadcast(vocab))
      .select(col("cs"), (col("tot") + col("v")).as("den")))
    val docsPer = documents(s, d).groupBy(col("source").as("cs"))
      .agg(count(lit(1)).as("nd"))
    val priors = broadcast(docsPer
      .crossJoin(broadcast(docsPer.agg(sum("nd").as("ndt"))))
      .select(col("cs"),
        round(log(col("nd").cast("double") / col("ndt")) * 1000000)
          .cast("long").as("lprior")))
    val scoredTok = docTok.crossJoin(dens)
      .join(counts, Seq("cs", "token"), "left")
      .withColumn("lp",
        round(log((coalesce(col("c"), lit(0L)) + lit(1)).cast("double") /
          col("den")) * 1000000).cast("long"))
      .groupBy("doc_id", "source", "cs")
      .agg(sum(col("m") * col("lp")).as("score_tok"))
    scoredTok.join(priors, "cs")
      .withColumn("score", col("lprior") + col("score_tok"))
      .select("doc_id", "source", "cs", "score")
  }

  private def fuzzyMatches(s: SparkSession, d: String): DataFrame =
    fuzzyCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("fuzzy_pairs")(fuzzyMatchPlan(s, d).localCheckpoint()))

  private def sortedNeighborhood(s: SparkSession, d: String): DataFrame =
    sortedNbrCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("sorted_pairs")(
        sortedNeighborhoodPlan(s, d).localCheckpoint()))

  /** The raw equi-blocked fuzzy-match pipeline, pre-memo (PlanSpec
    * pins THIS shape). Blocks on the first token (equi join — never
    * all-pairs), prunes by the |len(a) − len(b)| ≤ τ bound, verifies
    * with the banded early-exit levenshtein, keeps the best
    * (dist, clean_id) per dirty row. */
  private[graft] def fuzzyMatchPlan(s: SparkSession, d: String): DataFrame = {
    val name = lower(col("p_name"))
    val clean = part(s, d)
      .select(col("p_partkey").as("clean_id"), name.as("clean_name"))
      .withColumn("blk", substring_index(col("clean_name"), " ", 1))
    val sp = instr(name, " ")
    val pos = sp + lit(1) + pmod(col("p_partkey"), length(name) - sp)
    val dirty = part(s, d).filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("dirty_id"),
        concat(name.substr(lit(1), (pos - 1).cast("int")),
          name.substr((pos + 1).cast("int"), lit(100))).as("dirty_name"))
      .withColumn("blk", substring_index(col("dirty_name"), " ", 1))
    // the probe side is TINY (one input split) but the block join
    // fans out to |block|² candidate pairs — left on input-split
    // parallelism the whole distance pass lands in ONE task, and
    // AQE's small-partition coalescing happily merges a countless
    // repartition right back (the shuffle is a few hundred KB; the
    // fan-out AFTER it is what costs). The EXPLICIT partition count
    // opts this shuffle out of coalescing and hands every core a
    // slice of the fan-out: measured 12.2 → 1.0 s at sf0.1. Sized
    // by defaultParallelism so a real cluster spreads it further.
    dirty.repartition(s.sparkContext.defaultParallelism, col("dirty_id"))
      .join(clean, "blk")
      .filter(abs(length(col("dirty_name")) - length(col("clean_name"))) <= 2)
      // THRESHOLD levenshtein: banded O(τ·n) with early exit
      // (returns -1 past the threshold) instead of the full DP —
      // nearly every candidate exceeds τ, so the early exit is
      // where the time goes
      .withColumn("dist", levenshtein(col("dirty_name"), col("clean_name"), 2))
      .filter(col("dist").between(0, 2))
      .withColumn("rk", row_number().over(
        Window.partitionBy("dirty_id").orderBy(col("dist"), col("clean_id"))))
      .filter(col("rk") === 1)
      .select(col("dirty_id"), col("dirty_name"),
        col("clean_id").as("matched_id"), col("dist").cast("long").as("dist"),
        (col("clean_id") === col("dirty_id")).as("self_match"))
      .orderBy("dirty_id")
  }

  /** The raw sorted-neighborhood pipeline, pre-memo (PlanSpec pins
    * THIS shape): global lexicographic rank via the two-phase
    * distributed scan, then a window join over rank groups. Catches
    * first-token corruption that equi-blocking structurally misses. */
  private[graft] def sortedNeighborhoodPlan(s: SparkSession, d: String): DataFrame = {
    val name = lower(col("p_name"))
    val clean = part(s, d)
      .select(lit(0L).as("side"), col("p_partkey").as("id"), name.as("nm"))
    // deletion at ANY position — including inside the first token,
    // the case equi-blocking structurally misses
    val pos = lit(1) + pmod(col("p_partkey"), length(name))
    val dirty = part(s, d).filter(col("p_partkey") % 3 === 0)
      .select(lit(1L).as("side"), col("p_partkey").as("id"),
        concat(name.substr(lit(1), (pos - 1).cast("int")),
          name.substr((pos + 1).cast("int"), lit(200))).as("nm"))
    val all = clean.unionByName(dirty)
    val ranked = graft.operators.PrefixSum.rowNumber(all, Seq.empty,
        Seq(col("nm"), col("side"), col("id")), substring(col("nm"), 1, 2), "rn")
      .withColumn("g", expr("rn div 4"))
    val a = ranked.select(col("side").as("a_side"), col("id").as("a_id"),
      col("nm").as("a_nm"), col("rn").as("a_rn"), col("g"))
    val b = ranked.select(col("side").as("b_side"), col("id").as("b_id"),
        col("nm").as("b_nm"), col("rn").as("b_rn"),
        explode(array(col("g"), col("g") - 1)).as("g"))
    a.join(b, "g")
      .filter(col("b_rn") > col("a_rn") && col("b_rn") <= col("a_rn") + 4)
      .withColumn("dist", levenshtein(col("a_nm"), col("b_nm"), 2))
      .filter(col("dist").between(0, 2))
      .select(col("a_side"), col("a_id"), col("b_side"), col("b_id"),
        col("dist").cast("long").as("dist"))
      .orderBy("a_side", "a_id", "b_side", "b_id")
  }

  /** Two-pass exact heavy hitters over a `token` column (q_heavy_hitters
    * body, parameterized so the spec can drive alternate partitionings
    * and gates). Completeness invariant: MG capacity `cap` must be at
    * least 2·shareDenom (i.e. cap ≥ 2/share). The provable pigeonhole
    * bound needs only cap + 1 > shareDenom — a token with global share
    * ≥ 1/shareDenom has local share ≥ 1/shareDenom > 1/(cap+1) in at
    * least one partition, so its MG counter stays positive there — and
    * the enforced 2× is deliberate margin so a user tightening the
    * share gate without growing the cap gets a loud error instead of a
    * silently incomplete candidate set. */
  private[graft] def heavyHitters(toks: DataFrame, shareDenom: Long = 200L,
      cap: Int = 400): DataFrame = {
    require(cap.toLong >= 2L * shareDenom,
      s"MG capacity $cap < 2*shareDenom=${2 * shareDenom}: the screen could " +
        "drop a true heavy hitter (completeness needs cap+1 > shareDenom; " +
        "the 2x is the enforced safety margin)")
    val s = toks.sparkSession
    import s.implicits._
    val cands = toks.select(col("token")).as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counts.get(t) match {
          case Some(c) => counts(t) = c + 1
          case None =>
            if (counts.size < cap) counts(t) = 1L
            else {
              // decrement-all step, evicting zeroed counters — the
              // classic MG maintenance that bounds state at `cap`.
              // Keys are snapshotted first: removing/updating a scala
              // mutable map while iterating it is formally undefined.
              counts.keys.toArray.foreach { k =>
                val c = counts(k)
                if (c == 1L) counts.remove(k) else counts(k) = c - 1
              }
            }
        }
      }
      counts.keysIterator
    }.toDF("token").distinct()
    val tot = broadcast(toks.agg(count(lit(1)).as("total")))
    toks.join(broadcast(cands), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .crossJoin(tot)
      .filter(col("n") * shareDenom >= col("total"))
      .withColumn("share_ppm", expr("n * 1000000 div total"))
      .select("token", "n", "share_ppm")
      .orderBy(col("n").desc, col("token").asc)
  }

  /** LOSSLESS PPJoin candidate generation (Chaudhuri et al. SSJoin;
    * Xiao et al. PPJoin) over a [[hashedTokenIndex]]: distinct
    * `(source, d1, d2)` pairs that can possibly reach the (rounded)
    * Jaccard threshold encoded by `pruneLo` (= floor(100·t) − 1, the
    * same round(·,4) slack the caller's final filter uses — every
    * prune below is computed against this LOWER bound, so no pair the
    * rounded filter would keep is ever dropped).
    *
    * Three prunes, all integral arithmetic (no float boundary drift):
    * - PREFIX: under the global rarest-first token order (df asc,
    *   hash asc), a qualifying pair must share a token within each
    *   set's first `sz − ceil(tLo·sz) + 1` tokens, so only that
    *   prefix is indexed. Hot tokens (max df) sort LAST and fall
    *   outside every prefix — candidate fan-out tracks the df of the
    *   RAREST tokens, never the stop-word df that made the naive
    *   index quadratic.
    * - SIZE RATIO: |A|·100 ≥ |B|·pruneLo both ways (J ≥ t bounds the
    *   size ratio).
    * - POSITIONAL: a prefix match at ranks (rn1, rn2) bounds overlap
    *   by 1 + min(sz1−rn1, sz2−rn2); J ≥ tLo needs overlap ≥
    *   ceil(pruneLo·(sz1+sz2)/(100+pruneLo)). The FIRST common token
    *   in the global order has the loosest bound, so keep-if-any-row-
    *   passes ≡ the textbook first-match test.
    *
    * pruneLo ≤ 0 (thresholds < 0.02) degrades gracefully to the full
    * index with no positional prune — same output, no pruning. */
  /** Rarest-first prefix of each document's hashed token set — the
    * PPJoin index rows (see [[prefixCandidates]] for the theorem). */
  private[graft] def rankedPrefix(inv: DataFrame, pruneLo: Int): DataFrame =
    inv
      .withColumn("df", count(lit(1)).over(Window.partitionBy("source", "th")))
      .withColumn("rn", row_number()
        .over(Window.partitionBy("source", "doc_id").orderBy(col("df"), col("th")))
        .cast("long"))
      .filter(col("rn") <= col("sz") - expr(s"($pruneLo * sz + 99) div 100") + 1)
      .select(col("source"), col("th"), col("doc_id"), col("rn"), col("sz"))

  private[graft] def prefixCandidates(inv: DataFrame, pruneLo: Int): DataFrame = {
    val prefix = rankedPrefix(inv, pruneLo)
    val hi = 100 + pruneLo
    prefix.select(col("source"), col("th"), col("doc_id").as("d1"),
        col("rn").as("rn1"), col("sz").as("sz1"))
      .join(prefix.select(col("source"), col("th"), col("doc_id").as("d2"),
        col("rn").as("rn2"), col("sz").as("sz2")), Seq("source", "th"))
      .filter(col("d1") < col("d2"))
      .filter(col("sz1") * 100 >= col("sz2") * pruneLo &&
              col("sz2") * 100 >= col("sz1") * pruneLo)
      .filter(lit(1L) + least(col("sz1") - col("rn1"), col("sz2") - col("rn2")) >=
        expr(s"($pruneLo * (sz1 + sz2) + ${hi - 1}) div $hi"))
      .select("source", "d1", "d2").distinct()
  }

  def tokenJaccardPairs(dt: DataFrame, threshold: Double,
                        maxMaskWords: Int = 16,
                        maxBlockRows: Long = 10000L,
                        ordered: Boolean = true): DataFrame = {
    val pruneLo = math.floor(threshold * 100).toInt - 1  // slack covers round(·,4)

    val maxBlock = dt.groupBy("source").count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
    val vocabCap = maxMaskWords * 64
    val vocabTokens: Option[Array[String]] =
      if (maxBlock > maxBlockRows) None
      else {
        val probe = dt.select(explode(col("toks")).as("token")).distinct()
          .limit(vocabCap + 1).collect().map(_.getString(0))
        if (probe.length <= vocabCap) Some(probe.sorted) else None
      }

    val pairs =
      if (vocabTokens.isDefined) {
        val tokensSorted = vocabTokens.get
        // ceil-div so a vocab of exactly maxMaskWords*64 tokens uses
        // maxMaskWords masks (len/64+1 would breach the cap and add an
        // always-zero word for any multiple of 64); min 1 mask so the
        // popcount reduce is never empty
        val nWords = math.max(1, (tokensSorted.length + 63) / 64)
        // explicit encoder (no TypeTag reflection — REPL/classloader
        // safe, same as GraphOps.blockedComponents)
        val vocab = dt.sparkSession.createDataset(
            tokensSorted.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toSeq)(
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.scalaLong))
          .toDF("token", "idx")
        val maskCols = (0 until nWords).map(w =>
          aggregate(filter(col("ids"), i => (i / 64).cast("int") === w),
            lit(0L), (acc, i) => acc.bitwiseOR(
              call_function("shiftleft", lit(1L), (i % 64).cast("int")))).as(s"m$w"))
        val masked = dt
          .select(col("source"), col("doc_id"), explode(col("toks")).as("token"),
            size(col("toks")).cast("long").as("sz"))
          .join(broadcast(vocab), "token")
          .groupBy("source", "doc_id", "sz")
          .agg(collect_set(col("idx")).as("ids"))
          .select(Seq(col("source"), col("doc_id"), col("sz")) ++ maskCols: _*)
        val a = masked.select(Seq(col("source"), col("doc_id").as("d1"),
          col("sz").as("sz1")) ++ (0 until nWords).map(w => col(s"m$w").as(s"a$w")): _*)
        val b = masked.select(Seq(col("source"), col("doc_id").as("d2"),
          col("sz").as("sz2")) ++ (0 until nWords).map(w => col(s"m$w").as(s"b$w")): _*)
        val interExpr = (0 until nWords)
          .map(w => bit_count(col(s"a$w").bitwiseAND(col(s"b$w"))))
          .reduce(_ + _).cast("long")
        a.join(b, Seq("source")).filter(col("d1") < col("d2"))
          .filter(col("sz1") * 100 >= col("sz2") * pruneLo &&
                  col("sz2") * 100 >= col("sz1") * pruneLo)
          .withColumn("inter", interExpr)
      } else {
        // PPJoin prefix-filtered inverted index — the lossless scale
        // path (see [[prefixCandidates]]). The former plain
        // (source, token) self-join emitted df²/2 candidate rows per
        // hot token (a stop word with df = d → d²/2 rows), and this is
        // the branch LARGE blocks are routed to by the maxBlockRows
        // gate — at 100 TB it is the live path, so it gets the same
        // prefix machinery as q_setsim_prefix.
        val inv = hashedTokenIndex(dt)
        val cands = prefixCandidates(inv, pruneLo)
        // sorted ONCE per document; each candidate pair verifies by the
        // codegen'd two-pointer merge instead of a per-pair hash set.
        // sz = exploded-row count (string-exact set size, independent
        // of the 60-bit hash), so only `inter` sees the hashed space.
        val sets = inv.groupBy("source", "doc_id")
          .agg(sort_array(collect_set(col("th"))).as("ths"),
            count(lit(1)).as("sz"))
        cands
          .join(sets.select(col("source"), col("doc_id").as("d1"),
            col("ths").as("ths1"), col("sz").as("sz1")), Seq("source", "d1"))
          .join(sets.select(col("source"), col("doc_id").as("d2"),
            col("ths").as("ths2"), col("sz").as("sz2")), Seq("source", "d2"))
          .withColumn("inter", graft.functions.SortedIntersectCount
            .sortedInterCount(col("ths1"), col("ths2")))
          .select(col("source"), col("d1"), col("sz1"),
            col("d2"), col("sz2"), col("inter"))
      }

    val out = pairs
      .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("source"), col("d1"), col("d2"), col("inter"), col("uni"), col("jaccard"))
    // consumers that re-shuffle anyway (e.g. the dedup-cluster
    // union-find) skip the presentation sort
    if (ordered) out.orderBy("source", "d1", "d2") else out
  }

  val queries: Map[String, Q] = Map(
    // E5 token counting (corpus term frequencies)
    "q_token_counts" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("token").asc)),

    // E5/E13 HEAVY HITTERS, two-pass — EXACT tokens above 0.5% corpus
    // share without ever shuffling the full token distribution. Pass 1
    // runs a Misra-Gries screen (capacity 400) per partition in
    // constant memory: any token with global share ≥ 1/200 has, by
    // pigeonhole, local share ≥ 1/200 > 1/401 in at least one
    // partition, so the candidate union provably contains every true
    // heavy hitter (candidates themselves may vary with partitioning —
    // harmless, pass 2 makes the OUTPUT partition-invariant). Pass 2
    // re-scans with the candidate set broadcast as a pre-shuffle semi
    // filter and exact-counts only the survivors. At 100 TB the
    // shuffle carries O(|candidates|·partitions) rows instead of the
    // billion-token vocabulary — the reason this beats the plain
    // groupBy-count-filter the oracle runs. (mapPartitions is the
    // deliberate choice here: MG is genuine per-partition imperative
    // state with no Catalyst equivalent.)
    "q_heavy_hitters" -> ((s, d) =>
      heavyHitters(documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= ""))),

    // E5 SIMPSON DIVERSITY — per-source repeat-probability of the
    // unigram distribution: D = Σc(c−1) / N(N−1) in ppm (the chance
    // two tokens drawn without replacement coincide; 1/D is the
    // "effective vocabulary"). The entropy crater's exact-arithmetic
    // sibling: unlike H it needs NO ln, so the whole statistic is
    // integral and hash-exact. One (source, token) hash-agg then a
    // per-source fold — never a p² pass over the corpus. At planet
    // scale pre-scale c before squaring (the q_acf caveat).
    "q_simpson_diversity" -> ((s, d) =>
      documents(s, d)
        .select(col("source"), explode(split(lower(col("text")), " ")).as("tk"))
        .filter(col("tk") =!= "")
        .groupBy("source", "tk").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
          sum(col("c") * (col("c") - 1)).as("rep"))
        .withColumn("simpson_ppm",
          expr("rep * 1000000 div (n_tokens * (n_tokens - 1))"))
        .select("source", "n_tokens", "vocab", "simpson_ppm")
        .orderBy("source")),

    // E5 READABILITY (LIX) — per-source läsbarhetsindex from three
    // integral counts: words/sentence + 100·longwords/words, held in
    // milli units (LIX needs no syllable model, which is what makes
    // it exactly computable cross-engine; >6-char words are the
    // standard cut). Sentence ends counted by the length-difference
    // trick (len − len(strip '.','!','?')) — pure projection
    // arithmetic, no regex scan; everything reduces in ONE per-source
    // hash-agg with map-side partials, the flattest text statistic in
    // the catalog.
    "q_readability" -> ((s, d) =>
      documents(s, d)
        .select(col("source"),
          size(filter(split(lower(col("text")), " "), t => t =!= ""))
            .cast("long").as("words"),
          size(filter(split(lower(col("text")), " "),
            t => length(t) > 6)).cast("long").as("longwords"),
          (length(col("text")) - length(
            regexp_replace(col("text"), "[.!?]", ""))).cast("long").as("sents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("words").as("words"),
          sum("sents").as("sents"), sum("longwords").as("longwords"))
        // greatest(words, 1): an all-empty-doc source has words = 0 and
        // the longword share is then vacuously 0/1 = 0 — an explicit
        // floor on BOTH engines rather than a silently-null lix row
        // (round-7 verdict item 3; longwords = 0 whenever words = 0)
        .withColumn("lix_milli", expr(
          "words * 1000 div greatest(sents, 1L) " +
            "+ longwords * 100000 div greatest(words, 1L)"))
        .select("source", "n_docs", "words", "sents", "longwords", "lix_milli")
        .orderBy("source")),

    // E5 TRENDING TERMS (batch) — the batch sibling of the streaming
    // trendingTermsWriter: split the corpus into two halves at the
    // doc_id midpoint (the testdata's ingest-order proxy), compute
    // each token's occurrence rate per million tokens in each half,
    // and rank the top-20 movers by |rate delta|. Rates rather than
    // raw counts, so unequal half sizes don't fake a trend; a full
    // outer join keeps terms that appear or vanish entirely (the most
    // interesting movers). One (half, token) hash-agg + a vocabulary-
    // keyed self-join; the top-20 is the native bounded heap, never a
    // vocabulary sort.
    "q_trending_terms" -> ((s, d) => {
      val docs = documents(s, d)
      val mid = broadcast(docs.agg(
        expr("(min(doc_id) + max(doc_id)) div 2").as("mid")))
      val toks = docs.crossJoin(mid)
        .select(when(col("doc_id") <= col("mid"), lit(1)).otherwise(lit(2))
          .as("half"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val tot = toks.groupBy("half").agg(count(lit(1)).as("n"))
      // localCheckpoint: both half-filters below consume the rated
      // table — without it the token explode runs twice
      val rated = toks.groupBy("half", "token").agg(count(lit(1)).as("c"))
        .join(broadcast(tot), "half")
        .withColumn("rate_ppm", expr("c * 1000000 div n"))
        .localCheckpoint()
      val h1 = rated.filter(col("half") === 1)
        .select(col("token"), col("rate_ppm").as("r1"))
      val h2 = rated.filter(col("half") === 2)
        .select(col("token"), col("rate_ppm").as("r2"))
      val joined = h1.join(h2, Seq("token"), "full_outer")
        .select(col("token"), coalesce(col("r1"), lit(0L)).as("r1"),
          coalesce(col("r2"), lit(0L)).as("r2"))
        .withColumn("delta_ppm", col("r2") - col("r1"))
      graft.plans.TopKPerGroup(joined.withColumn("g", lit(1)), Seq(col("g")),
          Seq(abs(col("delta_ppm")).desc, col("token").asc), k = 20)
        .select(col("rn").cast("long").as("rank"), col("token"),
          col("r1"), col("r2"), col("delta_ppm"))
        .orderBy("rank")
    }),

    // E5 ZIPF FIT — the power-law exponent of the corpus frequency
    // spectrum: OLS of ln(freq) on ln(rank) over the top-100 tokens
    // (a healthy natural-language corpus slopes ≈ −1; boilerplate and
    // template spam bend the head of the curve — this is the scalar
    // that catches it). The top-100 come from the NATIVE bounded-heap
    // top-k (constant group) — never a global sort of the vocabulary —
    // and the regression then runs on 100 rows; per the entropy/tf-idf
    // precedent the ln-moment sums are IEEE-stable at this size with
    // the final slope rounded to 6.
    "q_zipf_fit" -> ((s, d) => {
      val counts = documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("c"))
      val top = graft.plans.TopKPerGroup(counts.withColumn("g", lit(1)),
          Seq(col("g")), Seq(col("c").desc, col("token").asc), k = 100)
        .select(col("c"), col("rn").cast("long").as("rank"))
      val x = log(col("rank").cast("double"))
      val y = log(col("c").cast("double"))
      top.agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        // single-token vocabulary ⇒ n·sxx − sx² = 1·0 − 0 = exactly 0
        // (ln 1 = 0): NULL sentinel on both engines instead of a
        // NaN-vs-error divergence (round-7 verdict item 2)
        .withColumn("zipf_exp", when(
          col("n") < 2 || col("n") * col("sxx") - col("sx") * col("sx") === 0,
          lit(null).cast("double")).otherwise(round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)))
        .select("n", "zipf_exp")
    }),

    // E5 PER-SOURCE TOKEN ENTROPY — Shannon entropy of each source's
    // unigram distribution, the corpus-diversity diagnostic (a
    // scraped-boilerplate source shows up as an entropy CRATER long
    // before any dedup runs). Algebra chosen for distribution:
    // H = ln N − (Σ c·ln c)/N needs only the per-token COUNTS — one
    // explode + hash-agg on (source, token), then a per-source fold —
    // never a p·ln p pass that would rescan the corpus. ln() is
    // IEEE-identical cross-engine on these inputs (the tf-idf
    // precedent); rounded to 6.
    "q_token_entropy" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("source"), explode(wordsOf).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
      tf.groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("s_clnc"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          round(log(col("n_tokens").cast("double")) - col("s_clnc") / col("n_tokens"), 6)
            .as("entropy_nats"))
        .orderBy("source")
    }),

    // E5 MUTUAL INFORMATION feature selection — MI(token-presence;
    // source) for every token with corpus df ≥ 50: the
    // information-theoretic complement to q_chi2_features (chi2 ranks
    // by deviation-from-independence, MI by the nats the token
    // actually carries about the label). All inputs are integral
    // doc-presence COUNTS; the (token × source) grid is completed by a
    // broadcast of the tiny source dimension so zero-count cells still
    // contribute their absence term — at 100 TB the grid is (vocab
    // above df-threshold) × (handful of sources), never corpus-sized.
    // Per-token MI sums a handful of FP terms; rounded to 6.
    "q_mutual_info" -> ((s, d) => {
      val docsrc = documents(s, d).select("doc_id", "source")
      val pres = tokens(spreadIfCoarse(documents(s, d)))
        .groupBy("token", "source").agg(countDistinct("doc_id").as("n_ts"))
      val srcTot = docsrc.groupBy("source").agg(count(lit(1)).as("n_s"))
      val nTot = docsrc.agg(count(lit(1)).as("n"))
      val toks = pres.groupBy("token").agg(sum("n_ts").as("df"))
        .filter(col("df") >= 50)
      val cells = toks.join(broadcast(srcTot))
        .join(pres, Seq("token", "source"), "left")
        .withColumn("n_ts", coalesce(col("n_ts"), lit(0L)))
        .join(broadcast(nTot))
      val t1 = when(col("n_ts") > 0,
        (col("n_ts").cast("double") / col("n")) *
          log(col("n_ts").cast("double") * col("n") / (col("df") * col("n_s"))))
        .otherwise(lit(0.0))
      val a0 = col("n_s") - col("n_ts")
      val t0 = when(a0 > 0 && (col("n") - col("df")) > 0,
        (a0.cast("double") / col("n")) *
          log(a0.cast("double") * col("n") / ((col("n") - col("df")) * col("n_s"))))
        .otherwise(lit(0.0))
      cells.withColumn("term", t1 + t0)
        .groupBy("token", "df")
        .agg(round(sum(col("term")), 6).as("mi_nats"))
        .select("token", "df", "mi_nats")
        .orderBy("token")
    }),

    // E5 VOCABULARY TRUNCATION (<unk> folding): tokens below min
    // support collapse into '<unk>' — the vocab cap every LM tokenizer
    // applies before id assignment, keeping the embedding table bounded
    // while the corpus tail grows unbounded. Deliberately JOIN-FREE:
    // the fold is a re-aggregation of the count table (CASE + second
    // hash-agg), so the corpus is scanned once and the vocab table —
    // which at 100 TB no longer broadcasts — is never joined back.
    "q_unk_vocab" -> ((s, d) =>
      documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("tk"))
        .filter(col("tk") =!= "")
        .groupBy("tk").agg(count(lit(1)).as("cnt"))
        .select(when(col("cnt") < 5, lit("<unk>")).otherwise(col("tk")).as("token"),
          col("cnt"))
        .groupBy("token")
        .agg(sum(col("cnt")).as("n_total"), count(lit(1)).as("n_types"))
        .orderBy(col("n_total").desc, col("token"))),

    // E5 HASHING-TRICK featurization (the "hashing vectorizer"):
    // token → md5 bucket mod 64, per-(doc, bucket) counts — fixed-width
    // sparse features with NO vocabulary pass at all, the featurizer
    // that needs zero global state at 100 TB. One explode → one
    // hash-agg, map-side combined; bucket width is a constant, so
    // downstream joins on (doc, bucket) stay bounded.
    "q_feature_hash" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tk"))
        .filter(col("tk") =!= "")
        .withColumn("bucket",
          pmod(conv(substring(md5(col("tk")), 1, 8), 16, 10).cast("long"), lit(64L)))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "bucket")),

    // E5 token CO-OCCURRENCE (skip-gram window ±2): the count table
    // under word-vector / PMI training. lead() pairs over the
    // doc-partitioned positional window instead of a positional
    // self-join — the exploded corpus shuffles ONCE keyed on doc_id (a
    // fine-grained key, no straggler), where the join form would
    // shuffle it twice. Pair direction folds lexically so (a,b) and
    // (b,a) count together.
    "q_cooccur" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tk")))
        .filter(col("tk") =!= "")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      toks
        .withColumn("n1", lead(col("tk"), 1).over(w))
        .withColumn("n2", lead(col("tk"), 2).over(w))
        .select(col("tk"), explode(array(col("n1"), col("n2"))).as("other"))
        .filter(col("other").isNotNull)
        .select(least(col("tk"), col("other")).as("t1"),
          greatest(col("tk"), col("other")).as("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
        .orderBy(col("n").desc, col("t1"), col("t2"))
    }),

    // E5 PMI COLLOCATIONS — adjacent-bigram association strength over
    // the bigram event space: lift(w1,w2) = P(w1,w2)/(P(w1·)P(·w2))
    // with MARGINAL counts c1 = Σ_w c12(w1,w), c2 = Σ_w c12(w,w2) —
    // the textbook bigram-PMI formulation, in integral ppm
    // (c12·N·1e6 div c1·c2, identical operand order both engines) so
    // the ranking is bit-identical with no log() in sight. min-count
    // 2 and lift ≥ 2 bound the output to genuine collocations.
    // Shape: ONE codegen'd bigram explode → one (w1,w2) hash-agg →
    // both marginals as windows over the AGGREGATED vocab²-bounded
    // table → broadcast 1-row total (computed from doc lengths, no
    // second explode). The first cut joined the bigram table against
    // raw unigram counts instead — three corpus explodes, two
    // corpus-volume shuffles — and measured 23 s at the ×30
    // rehearsal; this form never rescans text after the explode.
    "q_pmi_colloc" -> ((s, d) => {
      val bi = documents(s, d)
        .select(explode(graft.functions.NGrams.ngrams(wordsOf, 2)).as("bigram"))
        .select(substring_index(col("bigram"), " ", 1).as("w1"),
          substring_index(col("bigram"), " ", -1).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val tot = broadcast(documents(s, d)
        .agg(sum(greatest(size(wordsOf) - 1, lit(0)).cast("long")).as("n_pairs")))
      bi.withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
        .withColumn("c2", sum(col("c12")).over(Window.partitionBy("w2")))
        .filter(col("c12") >= 2)
        .crossJoin(tot)
        .withColumn("lift_ppm", expr("c12 * n_pairs * 1000000 div (c1 * c2)"))
        .filter(col("lift_ppm") >= 2000000)
        .select("w1", "w2", "c12", "c1", "c2", "lift_ppm")
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
    }),

    // E5 WINNOWING FINGERPRINTS (the MOSS scheme): hash every k=5
    // token shingle, then from each run of w=4 consecutive hashes keep
    // the MINIMUM, rightmost on ties. The classic guarantee follows:
    // any verbatim match of ≥ k+w−1 = 8 tokens shares at least one
    // selected fingerprint, at ~2/(w+1) the density of the full
    // shingle set. The (hash asc, position desc) argmin rides ONE
    // packed BIGINT — key = h·2²¹ + (2²¹−1−p) — so a plain ROWS-frame
    // MIN is the rightmost-min selection in BOTH engines, with no
    // struct-ordering semantics to reconcile (positions are bounded
    // by 2²¹ shingles/doc; docs beyond that split upstream). Shape:
    // codegen'd n-gram explode → ONE doc-keyed window → distinct →
    // hash-agg; the cross-doc sharing join runs on the fingerprint
    // table (~2/(w+1) of shingle volume), never on raw grams.
    "q_winnow_fingerprint" -> ((s, d) => {
      val fp = winnowFp(s, d)
      val nd = fp.groupBy("h").agg(countDistinct("doc_id").as("ndocs"))
      val per = fp.join(nd, "h").groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared_fp"))
      documents(s, d).select(col("doc_id"),
          greatest(size(wordsOf) - 4, lit(0)).cast("long").as("n_grams")) // K-1 = 4
        .join(per, Seq("doc_id"), "left")
        .withColumn("n_fp", coalesce(col("n_fp"), lit(0L)))
        .withColumn("n_shared_fp", coalesce(col("n_shared_fp"), lit(0L)))
        .withColumn("shared_ppm",
          coalesce(expr("n_shared_fp * 1000000 div nullif(n_fp, 0)"), lit(0L)))
        .orderBy("doc_id")
    }),

    // E3 WINNOWING NEAR-DUP JOIN — the MOSS similarity pass on top of
    // the fingerprint table: docs sharing ≥ 3 selected fingerprints
    // are candidate near-dups. Because winnowing keeps ~2/(w+1) of the
    // shingles, the pair join runs over a fingerprint index a fraction
    // the size of the full shingle inverted index (the cheap screen
    // before an exact verify like q_setsim_prefix). Same df-cap
    // discipline as the shingle family: fingerprints living in > 64
    // docs (boilerplate) leave the index, bounding per-key fan-out at
    // cap²/2 regardless of corpus skew.
    "q_dedup_winnow" -> ((s, d) => winnowPairs(s, d).orderBy("d1", "d2")),

    // E5 n-gram language-model statistics: bigram conditional
    // probabilities P(w2|w1) = c(w1,w2) / c(w1 ·) — the count tables a
    // KN/backoff LM trains from and the basis of corpus-level fluency
    // scoring. Probabilities in integer MICRO-units (c12·1e6 div c1)
    // per the repo convention, so the table is bit-identical
    // cross-engine. Shape: one bigram explode (codegen'd NGrams) →
    // one hash-aggregate; the denominator rides a w1-partitioned
    // window over the AGGREGATED table (vocab² upper bound, tiny vs
    // the corpus) rather than a second corpus pass.
    "q_ngram_lm" -> ((s, d) => {
      val c = documents(s, d)
        .select(explode(graft.functions.NGrams.ngrams(wordsOf, 2)).as("bigram"))
        .select(substring_index(col("bigram"), " ", 1).as("w1"),
          substring_index(col("bigram"), " ", -1).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      c.withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
        .filter(col("c12") >= 5)
        .withColumn("p_micro", expr("c12 * 1000000 div c1"))
        .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
        .limit(200)
    }),

    // E5 CROSS-SOURCE N-GRAM NOVELTY — per source, the share of its
    // distinct word trigrams that appear in NO other source: the
    // marginal-contribution signal a mixture designer reads next to
    // q_source_overlap (doc-level) and q_js_divergence (unigram
    // distribution) — a source can look distributionally close yet
    // still contribute mostly-novel phrases, and this is the column
    // that says so. Shape: one O(tokens) trigram explode folded to
    // the (trigram, source) grid, one vocab-bounded window for the
    // per-trigram source count, one O(sources) rollup — the grid is
    // corpus-vocabulary-sized, never corpus-sized, and nothing
    // pairwise exists.
    "q_ngram_novelty" -> ((s, d) => {
      val gs = documents(s, d)
        .select(col("source"),
          explode(graft.functions.NGrams.ngrams(wordsOf, 3)).as("g"))
        .groupBy("g", "source").agg(count(lit(1)).as("n_occ"))
      gs.withColumn("n_src", count(lit(1)).over(Window.partitionBy("g")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_trigrams"),
          sum("n_occ").as("n_occurrences"),
          sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_trigrams"))
        .orderBy("source")
    }),

    // E5 VOCABULARY GROWTH (Heaps' law curve) — distinct token types
    // vs cumulative corpus size at 25/50/75/100% of the corpus, plus
    // the local Heaps exponent β between consecutive points: the
    // curve that says whether a vocabulary (or BPE budget, or hash
    // feature space) will saturate or keep growing at 10× the data.
    // The "corpus prefix" is a DETERMINISTIC HASH SPLIT (md5(doc_id)
    // quartile — the train_split convention), so cumulative distinct
    // counts need no global sort: a type's first-appearance quartile
    // is min(bucket) per token, and cumulative types at k = types
    // with min ≤ k. One explode, two vocab-bounded hash-aggs, a
    // 4-row window. β quantized as a ratio of two ppm-quantized lns
    // (integral division — engine-exact), NULL-guarded at the first
    // point and on degenerate denominators.
    "q_vocab_growth" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), expr(
          "1 + pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 4)")
          .as("b"), explode(wordsOf).as("token"))
      val perB = toks.groupBy("b")
        .agg(count(lit(1)).as("n_tokens"), countDistinct("doc_id").as("n_docs"))
      val newTypes = toks.groupBy("token").agg(min("b").as("mb"))
        .groupBy("mb").agg(count(lit(1)).as("new_types"))
      val wc = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wl = Window.orderBy("b")
      perB.join(newTypes, col("b") === col("mb"), "left")
        .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
        .withColumn("docs_cum", sum("n_docs").over(wc))
        .withColumn("tokens_cum", sum("n_tokens").over(wc))
        .withColumn("types_cum", sum("new_types").over(wc))
        .withColumn("pt", lag("tokens_cum", 1).over(wl))
        .withColumn("pv", lag("types_cum", 1).over(wl))
        .withColumn("heaps_beta_micro", expr(
          """case when pt is null or pt = 0 or pv = 0 or tokens_cum = pt then null
            |else cast(round(ln(cast(types_cum as double) / pv) * 1000000) as bigint)
            |  * 1000000
            |  div cast(round(ln(cast(tokens_cum as double) / pt) * 1000000) as bigint)
            |end""".stripMargin))
        .select("b", "docs_cum", "tokens_cum", "types_cum", "heaps_beta_micro")
        .orderBy("b")
    }),

    // E5 LM SURPRISAL SCORING — the perplexity-filter shape with the
    // corpus's own bigram LM as the model: a doc's fluency signal is
    // the fraction of its bigrams whose conditional probability
    // P(w2|w1) (integer micro-units, as q_ngram_lm) falls under a
    // rarity threshold. No log() anywhere: "count of low-probability
    // continuations" is the integral, threshold-monotone stand-in for
    // mean negative log-likelihood, so the score is bit-identical
    // cross-engine. Shape: one bigram explode reused for BOTH the LM
    // aggregate and the scoring pass; scoring joins the corpus
    // bigrams against the aggregated vocab²-bounded LM table on
    // (w1, w2), then one doc-keyed hash-agg.
    "q_lm_surprisal" -> ((s, d) => {
      val bi = documents(s, d).select(col("doc_id"),
          explode(graft.functions.NGrams.ngrams(wordsOf, 2)).as("bigram"))
        .select(col("doc_id"),
          substring_index(col("bigram"), " ", 1).as("w1"),
          substring_index(col("bigram"), " ", -1).as("w2"))
      val lm = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
        .withColumn("p_micro", expr("c12 * 1000000 div c1"))
        .select("w1", "w2", "p_micro")
      val per = bi.join(lm, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("p_micro") < 2000, 1L).otherwise(0L)).as("n_surprising"))
      documents(s, d).select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
        .withColumn("n_surprising", coalesce(col("n_surprising"), lit(0L)))
        .withColumn("surprisal_ppm",
          coalesce(expr("n_surprising * 1000000 div nullif(n_bigrams, 0)"), lit(0L)))
        .orderBy("doc_id")
    }),

    // E5 χ² FEATURE SELECTION — token↔class association over the
    // document-presence contingency table: for the 50 highest-df
    // tokens, the 2×2 chi-square of (token present) × (lang = 'en'),
    // the classic feature ranker for text classifiers. Scaled-integer
    // form: χ²·1e6 = n·(ad−bc)²/(r1·r2·c1·c2), evaluated in ONE
    // documented operand order (identical div/mul sequence in both
    // engines, div-by-zero → null → 0 for the token-in-every-doc
    // degenerate case), so the ranking is bit-identical cross-engine
    // with no floats. Shape: one distinct-token explode → df hash-agg
    // → broadcast deterministic top-50 → per-token class counts →
    // broadcast 1-row class totals. The contingency arithmetic runs
    // on 50 aggregated rows, never the corpus.
    "q_chi2_features" -> ((s, d) => {
      val pres = documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(wordsOf)).as("token"))
      val top = pres.groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(50)
      val tot = broadcast(documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en")))
      pres.join(broadcast(top), "token")
        .groupBy("token", "df")
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("b"))
        .crossJoin(tot)
        .withColumn("c", col("n_en") - col("a"))
        .withColumn("dd", col("n_docs") - col("n_en") - col("b"))
        .withColumn("chi2_micro", coalesce(expr(
          "((a*dd - b*c) * (a*dd - b*c) div (a + b)) * 1000000" +
            " div (c + dd) div (a + c) * n_docs div (b + dd)"), lit(0L)))
        .select("token", "df", "a", "b", "c", "dd", "chi2_micro")
        .orderBy(col("chi2_micro").desc, col("token"))
    }),

    // E5 VOCAB COVERAGE CURVE — the tokenizer-budget diagnostic: per
    // lang, the smallest frequency-ranked vocabulary covering 90 / 95
    // / 99 % of token occurrences (the curve that decides vocab size
    // before a BPE train). Integral thresholds (cum·100 ≥ total·p, no
    // float division); ranking and running sum are windows over the
    // AGGREGATED (lang, token) table — vocab-bounded, never corpus-
    // volume, the same aggregate-first shape as q_ks_drift.
    "q_vocab_coverage" -> ((s, d) => {
      val counts = documents(s, d)
        .select(col("lang"), explode(wordsOf).as("tk"))
        .groupBy("lang", "tk").agg(count(lit(1)).as("n"))
      val ord = Window.partitionBy("lang").orderBy(col("n").desc, col("tk"))
      val cum = counts
        .withColumn("rk", row_number().over(ord).cast("long"))
        .withColumn("cum", sum("n").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = counts.groupBy("lang")
        .agg(sum("n").as("n_tok"), count(lit(1)).as("vocab"))
      cum.join(broadcast(tot), "lang")
        .groupBy("lang")
        .agg(max("n_tok").as("n_tokens"), max("vocab").as("vocab_size"),
          min(when(col("cum") * 100 >= col("n_tok") * 90, col("rk"))).as("k90"),
          min(when(col("cum") * 100 >= col("n_tok") * 95, col("rk"))).as("k95"),
          min(when(col("cum") * 100 >= col("n_tok") * 99, col("rk"))).as("k99"))
        .orderBy("lang")
    }),

    // E5 per-document quality scoring (length/stopword/token stats)
    "q_text_quality" -> ((s, d) => {
      val toks = wordsOf
      val stops = filter(toks, t => t.isInCollection(stopwords))
      documents(s, d)
        .withColumn("n_tokens", size(toks).cast("long"))
        .withColumn("n_stop", size(stops).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"),
          round(col("n_chars").cast("double") / col("n_tokens"), 4).as("chars_per_token"),
          round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stop_ratio"),
          when(col("n_tokens") >= 60, "long")
            .when(col("n_tokens") >= 25, "medium").otherwise("short").as("length_bucket"))
        .orderBy("doc_id")
    }),

    // E5 language-ID heuristic (stopword-hit voting; the testdata corpus
    // is synthetic English-ish for all langs, so this demonstrates the
    // operator shape, not a trained model)
    "q_lang_id" -> ((s, d) =>
      documents(s, d)
        .withColumn("guess",
          when(col("text").contains(" the "), "en")
            .when(col("text").contains(" der "), "de")
            .when(col("text").contains(" le "), "fr")
            .otherwise("und"))
        .select(col("doc_id"), col("lang"), col("guess"),
          (col("guess") === col("lang")).as("hit"))
        .orderBy("doc_id")),

    // E5 LANGUAGE MIX per source — the governance rollup over the
    // q_lang_id heuristic: per (source, language) doc counts, shares
    // in ppm, and the majority flag — the table a multilingual-corpus
    // datasheet prints and a mixture designer reads before setting
    // per-language sampling weights. One narrow projection + two
    // hash-aggs; the per-source top-1 window runs over the (source ×
    // languages) aggregate, never the corpus.
    "q_lang_mix" -> ((s, d) => {
      val lab = documents(s, d)
        .withColumn("guess",
          when(col("text").contains(" the "), "en")
            .when(col("text").contains(" der "), "de")
            .when(col("text").contains(" le "), "fr")
            .otherwise("und"))
      val counts = lab.groupBy("source", "guess").agg(count(lit(1)).as("n"))
      val tot = counts.groupBy("source").agg(sum("n").as("n_docs"))
      val w = Window.partitionBy("source")
        .orderBy(col("n").desc, col("guess").asc)
      counts.join(broadcast(tot), "source")
        .withColumn("share_ppm", expr("n * 1000000 div n_docs"))
        .withColumn("is_majority", row_number().over(w) === 1)
        .select("source", "guess", "n", "n_docs", "share_ppm", "is_majority")
        .orderBy("source", "guess")
    }),

    // E5 SELF-EVALUATING language-ID: the confusion matrix of the
    // heuristic classifier against the corpus's lang column, with
    // per-class precision/recall in integral ppm on the diagonal —
    // the measure-don't-guess loop (q_ann_recall's pattern) applied
    // to the text family. Composes the catalog's own q_lang_id; two
    // tiny hash-aggs + broadcast margins, O(classes²) output.
    "q_langid_eval" -> ((s, d) => {
      val conf = queries("q_lang_id")(s, d)
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
      val byGuess = conf.groupBy("guess").agg(sum("n").as("n_pred"))
      val byLang = conf.groupBy("lang").agg(sum("n").as("n_true"))
      conf.join(broadcast(byGuess), "guess").join(broadcast(byLang), "lang")
        .withColumn("prec_ppm",
          when(col("lang") === col("guess"), expr("n * 1000000 div n_pred")))
        .withColumn("recall_ppm",
          when(col("lang") === col("guess"), expr("n * 1000000 div n_true")))
        .select("lang", "guess", "n", "n_pred", "n_true", "prec_ppm", "recall_ppm")
        .orderBy("lang", "guess")
    }),

    // E5 UNICODE NFC NORMALIZATION — the canonicalization pass that
    // runs before tokenization/dedup so visually-identical spellings
    // (precomposed U+00E9 vs decomposed e + U+0301) stop hashing as
    // different documents. The corpus is synthetic ASCII, so mixed
    // normalization forms are INJECTED deterministically per doc_id
    // (the q_convert_speed synthesized-input precedent): a decomposed
    // combining-acute suffix, an ANGSTROM SIGN (composes to U+00C5,
    // same length — only the hash compare catches it), and a
    // fullwidth A (compatibility-only, NFC must leave it — a negative
    // control against over-normalizing). Runs through the codegen'd
    // graft_nfc expression (functions/Normalize.scala); narrow
    // per-row compute, shuffle-free except the output sort. The
    // oracle is DuckDB's own Unicode normalizer (nfc_normalize) over
    // chr()-built literals — two independent implementations of the
    // Unicode spec agreeing byte-for-byte.
    "q_unicode_normalize" -> ((s, d) => {
      val raw = concat(
        substring(col("text"), 1, 16),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" \u212B")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" \uFF21")).otherwise(lit("")))
      documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), length(col("raw")).cast("long").as("raw_len"),
          graft.functions.Nfc.nfc(col("raw")).as("norm"))
        .withColumn("norm_len", length(col("norm")).cast("long"))
        .select(col("doc_id"), col("raw_len"), col("norm_len"), col("norm"))
        .orderBy("doc_id")
    }),

    // E5 document fingerprinting: md5 over normalized text (deterministic
    // cross-engine; xxhash64 is Spark-only so not oracle-comparable)
    "q_doc_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fingerprint"))
        .orderBy("doc_id")),

    // E1 exact dedup: keep the earliest (ts, event_id) row per
    // (user_id, event_type) — ranking-window form of dropDuplicates
    // (deterministic, unlike dropDuplicates' arbitrary row pick)
    "q_dedup_exact" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
        .orderBy("user_id", "event_type")
    }),

    // E3 n-gram (token-set) Jaccard near-dup pairs within each source,
    // via [[tokenJaccardPairs]]'s adaptive dense/sparse-vocab strategy.
    // Blocking key = "source" (LSH — q_minhash_lsh — is the blocking
    // strategy when no natural key exists).
    // r15: filter over the memoized 0.5-threshold pair table —
    // identical rows (lossless generation), one shared build.
    "q_dedup_fuzzy" -> ((s, d) =>
      jaccardPairs05(s, d).filter(col("jaccard") >= 0.8)
        .orderBy("source", "d1", "d2")),

    // E3 THRESHOLD SWEEP — the knob-tuning report a dedup rollout runs
    // BEFORE committing to a cutoff: pair counts per Jaccard decile
    // from 0.5 up, with the cumulative count a given threshold would
    // keep. One run of the 0.5-threshold pair pipeline (the same
    // lossless prefix-filtered join as q_dedup_fuzzy — candidates
    // track rare-token df at every threshold), then a ≤6-row decile
    // aggregate; the cumulative window runs on those 6 rows, not the
    // pairs.
    "q_dedup_threshold_sweep" -> ((s, d) => {
      val pairs = jaccardPairs05(s, d) // r15: shared memoized build
      val wcum = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.withColumn("bucket", expr("cast(floor(jaccard * 10) as bigint)"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .withColumn("cum_pairs", sum("n_pairs").over(wcum))
        .select("bucket", "n_pairs", "cum_pairs")
        .orderBy("bucket")
    }),

    // E3 DEDUP AUDIT QUEUE — margin sampling for the dedup threshold:
    // the 20 pairs CLOSEST to the 0.8 cutoff (|jaccard − 0.8|
    // ascending, deterministic pair-id tie-break) — the ones a human
    // review round actually adjudicates, since pairs far from the
    // boundary are decided either way. Runs the 0.7-threshold pair
    // pipeline (the band only needs pairs ≥ 0.75); global top-20 plans
    // as TakeOrdered.
    "q_dedup_audit_queue" -> ((s, d) => {
      jaccardPairs05(s, d) // r15: shared memoized build (lossless at any t ≥ 0.5)
        .filter(col("jaccard") >= 0.75 && col("jaccard") < 0.85)
        .withColumn("dist_to_cut", abs(col("jaccard") - 0.8))
        .orderBy(col("dist_to_cut").asc, col("d1").asc, col("d2").asc)
        .limit(20)
        .select("source", "d1", "d2", "inter", "uni", "jaccard")
    }),

    // E5 tf-idf: term frequency × inverse document frequency via two
    // aggregations + a broadcast join of the (tiny) df table. The corpus
    // size rides along as a broadcast 1-row aggregate (the plan's own
    // cross join — mirroring the oracle's CROSS JOIN n) instead of a
    // separate driver count() action, so the whole query is one job.
    // ln() is IEEE-identical cross-engine on these inputs; rounded to 6
    // for the oracle hash.
    "q_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val toks = docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val perDoc = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf_raw"))
      val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val df = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
      perDoc
        .join(docLen, "doc_id")
        .join(broadcast(df), "token")
        .filter(col("doc_id") < 50)
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          round((col("tf_raw").cast("double") / col("len")) *
            log(col("n_docs") / col("df")), 6).as("tfidf"))
        .orderBy("doc_id", "token")
    }),

    // E5 KEYWORD EXTRACTION — top-3 tf-idf terms per document, the
    // per-doc summary field every search index and doc-card UI wants:
    // the same score pipeline as q_tfidf (per-row IEEE-deterministic,
    // so the cross-engine ranking comparisons agree bit-for-bit),
    // ranked through the NATIVE bounded-heap top-k-per-doc — 3
    // survivors per (doc, partition) cross the wire, never the full
    // doc×vocab score table, and no Sort/WindowExec appears anywhere.
    "q_keywords" -> ((s, d) => {
      val docs = documents(s, d)
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val toks = docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val perDoc = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf_raw"))
      val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val df = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
      val scored = perDoc
        .join(docLen, "doc_id")
        .join(broadcast(df), "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("score", (col("tf_raw").cast("double") / col("len")) *
          log(col("n_docs") / col("df")))
      graft.plans.TopKPerGroup(scored, Seq(col("doc_id")),
          Seq(col("score").desc, col("token").asc), k = 3)
        .select(col("doc_id"), col("rn").cast("long").as("rank"),
          col("token"), round(col("score"), 6).as("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    // KEY-SKEW DIAGNOSTIC: the distribution report you run BEFORE
    // choosing a salting strategy — per-key counts, the global
    // max/avg skew ratio (integral micro-units), and the top hot
    // keys. One aggregation on the key + one 1-row global rollup
    // broadcast back; at lake scale this is the cheap probe that
    // decides between a plain shuffle join, AQE skew split, or the
    // manual salting below.
    "q_key_skew" -> ((s, d) => {
      val counts = lineitem(s, d).groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"))
      val stats = counts.agg(count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"), max(col("n")).as("max_n"))
      counts.orderBy(col("n").desc, col("l_suppkey").asc).limit(5)
        .crossJoin(broadcast(stats)) // 1-row global rollup
        .select(col("l_suppkey").as("key"), col("n"),
          col("n_keys"), col("n_rows"),
          expr("max_n * n_keys * 1000000 div n_rows").as("skew_ratio_micro"))
        .orderBy(col("n").desc, col("key").asc)
    }),

    // Skew-safe two-phase aggregation: salt the hot grouping key, do the
    // heavy partial aggregation on (key, salt) — spreading one hot key
    // over N reducers — then a cheap final re-agg on key alone. Results
    // are identical to the direct groupBy (the oracle is the plain
    // GROUP BY); only the shuffle distribution changes.
    "q_skew_salted_agg" -> ((s, d) => {
      val salted = documents(s, d)
        .withColumn("salt", pmod(col("doc_id"), lit(8)))
        .groupBy("source", "salt")
        .agg(count(lit(1)).as("pn"), sum(col("n_chars")).as("pchars"))
      salted.groupBy("source")
        .agg(sum(col("pn")).as("n_docs"), sum(col("pchars")).as("total_chars"))
        .orderBy("source")
    }),

    // Skew-safe salted JOIN (the join-side complement of
    // q_skew_salted_agg): the fact side's hot keys are spread over 8
    // reducers by a row-unique salt and the small dim is replicated
    // once per salt — result identical to the plain join (the oracle IS
    // the plain join), only the shuffle layout changes.
    "q_skew_salted_join" -> ((s, d) => {
      val facts = graft.sources.Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          graft.functions.Scalars.cents(col("o_totalprice")).as("spend_c"))
      val dim = graft.sources.Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Skew.saltedJoin(facts, dim, "custkey", spread = col("o_orderkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          (sum(col("spend_c")).cast("double") / 100).as("total_spend"))
        .orderBy("c_mktsegment")
    }),

    // E3 SimHash (16-bit, hex-digit majority vote over token md5s):
    // bit_i = sign of Σ_tokens (±1 by whether hex digit i of md5(token)
    // is >= '8'). One explode + 16 conditional sums — a single
    // hash-aggregate, no pair joins; hamming-prefix bucket for blocking.
    // Fingerprints via the shared [[simhashFp]] (q_simhash_eval rides
    // the same pipeline, so the eval can never drift from the hash it
    // measures).
    "q_simhash" -> ((s, d) =>
      simhashFp(s, d)
        .select(col("doc_id"), col("fingerprint"))
        .withColumn("bucket", substring(col("fingerprint"), 1, 8))
        .orderBy("doc_id")),

    // E3 LSH BAND TUNING — the S-curve design table behind the
    // banding choice: for band counts b ∈ {2, 4, 8} over the SAME
    // 8-permutation MinHash signatures (rows-per-band r = 8/b),
    // candidate volume, candidate PRECISION (every capped candidate
    // pair is directly verified — candidates are bounded, so
    // verification is a bounded join, never a corpus-pair pipeline)
    // and RECALL against the 50-probe exact truth (the q_lsh_recall
    // probe-bounding rule — an unblocked global truth measured 23 s
    // at sf0.1; probe truth is the scale-stable estimator of the same
    // curve). b=4/r=2 is what q_minhash_lsh ships. Signatures via the
    // shared [[minhashSigsFromTokens]] (the q_minhash_est lockstep
    // rule); every band bucket is hard-capped at 64 members
    // (hot-bucket rule — r=1 buckets on a template-heavy corpus are
    // exactly the runaway case). Jaccard ≥ 0.5 tests are the pure
    // integer 2·inter ≥ union — no float anywhere in this query.
    "q_lsh_tuning" -> ((s, d) => {
      val cands = lshTuningCandsPlan(s, d)
      val toksets = documents(s, d)
        .select(col("doc_id"), array_distinct(wordsOf).as("toks"))
        .withColumn("sz", size(col("toks")).cast("long"))
        .localCheckpoint() // feeds both candidate-verification joins
      val verified = cands
        .join(toksets.select(col("doc_id").as("d1"), col("toks").as("t1"),
          col("sz").as("sz1")), Seq("d1"))
        .join(toksets.select(col("doc_id").as("d2"), col("toks").as("t2"),
          col("sz").as("sz2")), Seq("d2"))
        .withColumn("inter", size(array_intersect(col("t1"), col("t2"))).cast("long"))
        .withColumn("is_true",
          (col("inter") * 2 >= col("sz1") + col("sz2") - col("inter")).cast("long"))
        .select("n_bands", "d1", "d2", "is_true")
        .localCheckpoint() // counts + probe-hit leg
      // r16: probe truth rides the memoized probe-exact table (shared
      // with q_lsh_recall / q_minhash_est) instead of a 50×corpus
      // BroadcastNestedLoopJoin with a per-pair array_intersect — the
      // token-keyed join is also exactly the oracle's `iv` CTE shape.
      val truthN = probeExactPairs(s, d)
        .filter(col("inter") * 2 >= col("s1") + col("s2") - col("inter"))
        .agg(count(lit(1)).as("probe_truth"))
      val base = s.createDataset(Seq(2L, 4L, 8L))(
        org.apache.spark.sql.Encoders.scalaLong).toDF("n_bands")
      val perCfg = verified.groupBy("n_bands")
        .agg(count(lit(1)).as("n_candidates"),
          sum("is_true").as("n_true_cand"),
          sum(when(col("d1") < 50 && col("is_true") === 1, 1L).otherwise(0L))
            .as("probe_hits"))
      base.join(perCfg, Seq("n_bands"), "left")
        .crossJoin(truthN)
        .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
        .withColumn("n_true_cand", coalesce(col("n_true_cand"), lit(0L)))
        .withColumn("probe_hits", coalesce(col("probe_hits"), lit(0L)))
        .withColumn("rows_per_band", expr("8 div n_bands"))
        .withColumn("precision_ppm", expr(
          "case when n_candidates = 0 then null else n_true_cand * 1000000 div n_candidates end"))
        .withColumn("recall_ppm", expr(
          "case when probe_truth = 0 then null else probe_hits * 1000000 div probe_truth end"))
        .select("n_bands", "rows_per_band", "n_candidates", "n_true_cand",
          "probe_hits", "probe_truth", "precision_ppm", "recall_ppm")
        .orderBy("n_bands")
    }),

    // E3 SIMHASH QUALITY EVAL — precision/recall of the simhash
    // blocking scheme (same source + 8-bit bucket, hamming ≤ 3 over
    // the full 16-bit fingerprint) against exact token-Jaccard ≥ 0.5
    // truth: the measure-don't-guess loop that decides whether the
    // one-scan sketch can replace the pair-verified dedup path at
    // scale — the ANN-recall pattern applied to text dedup. Candidate
    // buckets are hard-capped at 64 members (deterministic doc_id
    // rank — the cross_source_dup hot-bucket rule on this
    // template-heavy corpus), so the pair leg is Σ min(occ,64)²/2;
    // the truth leg is the same lossless prefix-filtered pipeline the
    // threshold sweep runs. Both sides reduce to three counts and two
    // ppm ratios, NULL-guarded on empty sides.
    "q_simhash_eval" -> ((s, d) => {
      val cand = simhashCandsPlan(s, d)
        .localCheckpoint() // feeds the count AND the hit join: pay once
      val truth = jaccardPairs05(s, d) // r15: shared memoized build
        .select(col("d1").as("t1"), col("d2").as("t2"))
        .localCheckpoint() // same: two consumers
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val nh = cand.join(truth,
          col("d1") === col("t1") && col("d2") === col("t2"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      nc.crossJoin(nt).crossJoin(nh)
        .withColumn("precision_ppm", expr(
          "case when n_candidates = 0 then null else n_hits * 1000000 div n_candidates end"))
        .withColumn("recall_ppm", expr(
          "case when n_truth = 0 then null else n_hits * 1000000 div n_truth end"))
        .select("n_candidates", "n_truth", "n_hits", "precision_ppm", "recall_ppm")
    }),

    // E5 BPE-ish regex tokenization (word + punctuation-run tokens)
    "q_token_bpe" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit("\\w+|[^\\w\\s]+"), lit(0))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("token").asc)),

    // E5 DISTRIBUTED BPE VOCABULARY TRAINING — the actual merge-table
    // induction, not just tokenization: the corpus folds to a word-
    // frequency dictionary (the classic BPE training input, and at
    // 100 TB the small derived artifact: vocab ≪ corpus), then each
    // round counts adjacent symbol pairs DISTRIBUTED (explode +
    // groupBy, weighted by word frequency), collects the single
    // argmax row to the driver (count DESC, pair ASC tie-break — the
    // one-row broadcast every iterative fitter uses, same as the
    // k-means centroid collect), and applies the merge to the
    // dictionary. The dictionary is persisted once so the per-round
    // jobs never re-scan the corpus. Merge application is leftmost
    // non-overlapping literal string replace over sentinel-spaced
    // symbol strings — pinned to that semantics precisely because
    // Spark's `replace` and DuckDB's `replace` agree on it, which is
    // what lets an 8-round iterative trainer sit inside the oracle
    // gate at all (symbols are [a-z]+ so no metacharacter hazards).
    "q_bpe_train" -> ((s, d) => {
      val (merges, _) = bpeFitMemo(s, d) // r16: shared memoized fit
      s.createDataFrame(merges).toDF("merge_rank", "pair", "cnt")
        .orderBy("merge_rank")
    }),

    // E5 BPE ENCODE — the apply half of the train→apply pair: run the
    // same 8 fitted merges over the word dictionary and emit each
    // word's final segmentation + token count (the compression the
    // trained vocab buys; Σ freq·n_tokens is the corpus's encoded
    // length). Shares [[bpeFit]] with q_bpe_train so trainer and
    // encoder can never drift; the oracle re-derives the identical
    // state from the shared unrolled-CTE prefix.
    "q_bpe_encode" -> ((s, d) => {
      val (_, dict) = bpeFitMemo(s, d) // r16: shared memoized fit
      dict.select(col("word"), col("freq"),
          size(split(trim(col("sym")), " ")).cast("long").as("n_tokens"),
          trim(col("sym")).as("encoded"))
        .orderBy("word")
    }),

    // E5 WORDPIECE ENCODE (round 10) — the greedy longest-match-first
    // tokenizer family beside BPE's merge-table one: a deterministic
    // vocabulary is induced from the corpus itself (every ≤4-char
    // word-initial piece and '##'-prefixed continuation piece with
    // ≥ 50 weighted occurrences, plus every single-character piece
    // unconditionally so segmentation always terminates), then each
    // dictionary word (truncated to 12 chars) is segmented by the
    // WordPiece rule — at each position take the LONGEST vocab piece.
    // Scale shape is the BPE one: the corpus folds ONCE to a word-
    // frequency dictionary (vocab ≪ corpus at any scale; the threshold
    // floors the broadcast size), the vocabulary broadcasts as a set,
    // and the greedy match is per-dictionary-row imperative logic —
    // the documented mapPartitions case, embarrassingly parallel, no
    // shuffle after the two dictionary aggregations. The oracle
    // re-derives the identical vocabulary and unrolls the 12 greedy
    // steps as materialized CTEs (4 vocab probes per step, longest
    // wins — the '## collision' between a word-initial '##x' and a
    // continuation 'x' is resolved identically in both engines because
    // the piece STRING is the vocab key).
    "q_wordpiece_encode" -> ((s, d) => {
      import s.implicits._
      val words = documents(s, d)
        .select(explode(array_remove(split(lower(col("text")), " "), ""))
          .as("tok"))
        .select(substring(col("tok"), 1, 12).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      val pieces = words
        .withColumn("len", length(col("word")))
        .withColumn("pos", explode(expr("sequence(0, len - 1)")))
        .withColumn("k", explode(expr("sequence(1, 4)")))
        .where(col("pos") + col("k") <= col("len"))
        .select(when(col("pos") === 0, expr("substr(word, 1, k)"))
          .otherwise(concat(lit("##"), expr("substr(word, pos + 1, k)")))
          .as("piece"), col("freq"))
      val vocabRows = pieces.groupBy("piece")
        .agg(sum("freq").as("w"))
        .where(col("w") >= 50 ||
          when(col("piece").startsWith("##"), length(col("piece")) - 2)
            .otherwise(length(col("piece"))) === 1)
        .select("piece").as[String].collect()
      val bc = s.sparkContext.broadcast(vocabRows.toSet)
      words.as[(String, Long)].mapPartitions { it =>
        val v = bc.value
        it.map { case (w, f) =>
          val sb = new StringBuilder
          var pos = 0; var n = 0L
          while (pos < w.length) {
            var k = math.min(4, w.length - pos)
            var done = false
            while (!done) {
              val core = w.substring(pos, pos + k)
              val piece = if (pos == 0) core else "##" + core
              if (k == 1 || v.contains(piece)) {
                if (sb.nonEmpty) sb.append(' ')
                sb.append(piece); pos += k; n += 1; done = true
              } else k -= 1
            }
          }
          (w, f, n, sb.toString)
        }
      }.toDF("word", "freq", "n_pieces", "encoded").orderBy("word")
    }),

    // E5 UNIGRAM-LM TRAINING (round 12) — SentencePiece's training
    // half, closing the trainer/inference asymmetry q_bpe_train /
    // q_bpe_encode already closes for BPE: fixed VITERBI-EM (hard-EM)
    // rounds over the ≤4-char piece lattice. Each round re-segments
    // the word dictionary under the current integral micro-nat scores
    // (the exact q_unigram_segment DP, chosen-k backtrack included),
    // re-counts the pieces the best paths actually USE, prunes
    // multi-char pieces below the seed threshold, floors every single
    // char at count 1 (any word stays segmentable), and rescores
    // round(10⁶·ln(cnt/total)). Hard EM deliberately, not soft:
    // forward-backward expected counts are FRACTIONAL, and no exact
    // cross-engine contract exists for accumulating them — the
    // Viterbi E-step keeps the whole trainer in the integer domain
    // both engines replay bit-identically (the house determinism
    // policy beats fidelity to SentencePiece's soft EM here, and the
    // oracle replays every round as unrolled materialized CTEs:
    // forward DP + argmax-k backtrack + re-count + re-score).
    // Scale shape: the corpus folds once to the word dictionary; each
    // EM round is one broadcast-scores mapPartitions over it plus one
    // piece-keyed aggregation; the piece table is alphabet-bounded
    // (≤4-char substrings above threshold), the established bounded-
    // collect class.
    "q_unigram_train" -> ((s, d) => {
      import s.implicits._
      val (_, _, table) = unigramFit(s, d, UnigramEmRounds)
      s.createDataFrame(table).toDF("piece", "cnt", "score_micro")
        .orderBy("piece")
    }),

    // E5 UNIGRAM-LM VITERBI SEGMENTATION (round 10) — the third
    // tokenizer family: SentencePiece's INFERENCE half. The unigram
    // table is induced from the corpus (all ≤4-char substrings with
    // ≥ 10 weighted occurrences, plus every single character so any
    // word segments), each piece scored round(10⁶·ln(cnt/total)) —
    // integral micro-nats, the house ln-rounded-6 precedent; both
    // engines round half-away-from-zero — and each dictionary word
    // takes the max-likelihood segmentation via Viterbi DP over its
    // ≤12 positions (ties → fewer pieces → longer final piece; the
    // DP sums are exact bigint once the per-piece score is fixed).
    // Scale shape = the WordPiece/BPE one: corpus folds once to the
    // word dictionary, the score table is a bounded broadcast
    // (threshold-floored), the DP is per-dictionary-row. Output is
    // (score, piece count) — the segmentation LIKELIHOOD surface a
    // tokenizer-compression audit reads — and the oracle replays the
    // identical DP as unrolled materialized CTEs with the same
    // tie-break (score DESC, n ASC, k DESC).
    "q_unigram_segment" -> ((s, d) => {
      import s.implicits._
      // segment under the EM-FITTED table (round 12): trainer and
      // segmenter share unigramFit, so they provably cannot drift —
      // the q_bpe_train / q_bpe_encode precedent
      val (words, scores, _) = unigramFit(s, d, UnigramEmRounds)
      val bc = s.sparkContext.broadcast(scores)
      words.as[(String, Long)].mapPartitions { it =>
        val sc = bc.value
        it.map { case (w, f) =>
          // the ONE DP implementation (unigramViterbi) serves trainer
          // E-steps and this inference pass alike
          val (score, pieces) = unigramViterbi(w, sc)
          (w, f, score, pieces.length.toLong)
        }
      }.toDF("word", "freq", "score_micro", "n_pieces").orderBy("word")
    }),

    // E5 Karp-Rabin rolling hash over the raw character stream
    // (polynomial base 31 mod 2^40 — exact in both engines' int64)
    "q_rolling_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          aggregate(
            filter(split(col("text"), ""), ch => ch =!= ""),
            lit(0L),
            (acc, ch) => (acc * 31 + ascii(ch)) % 1099511627776L).as("rhash"))
        .orderBy("doc_id")),

    // E3 word-3-gram shingle Jaccard via inverted-index join: shingles
    // are (near-)unique across docs, so exploding and joining on the
    // shingle produces only genuinely-overlapping pair rows — the
    // sparse-vocabulary complement of the dense-vocab bitmask strategy
    // in q_dedup_fuzzy. Blocked on source like the other dedup ops:
    // with a natural-language vocabulary the index alone is the
    // blocker, but this synthetic corpus's tiny vocab makes shingles
    // collide corpus-wide, so the block bounds the pair space.
    "q_shingle_jaccard" -> ((s, d) => {
      val inv = shingleIndex(s, d)
      val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // Pair generation through the skew-aware self-join: keys the cap
      // KEEPS but whose df exceeds the salt threshold have their
      // ~df²/2 pair rows decomposed over bucket pairs instead of one
      // task (Skew.saltedSelfPairs — the skew report's hot-key rule
      // applied inline). At test scales no key crosses the threshold
      // and the plan degenerates to the plain join; under boilerplate
      // floods it bounds every task at ~2·df/g input rows. Output is
      // provably the plain self-join's, so the oracle is unchanged.
      // A/B at sf0.1 (warm, 5 reps): salted 1.46/1.47 vs plain
      // 1.38/1.59 min/med — the cold-path plumbing cost is inside run
      // noise, so the skew insurance is effectively free.
      val pairs = Skew.saltedSelfPairs(inv, Seq("source", "shingle_h"),
          id = "doc_id", groupSize = "df", hotAbove = 32, g = 4)
        .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      pairs
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
        .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
        .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
        .filter(col("jaccard") >= 0.1)
        .select(col("d1"), col("d2"), col("inter"), col("uni"), col("jaccard"))
        .orderBy("d1", "d2")
    }),

    // E12 EXACT SUBSTRING-DEDUP STATS — the fixed-width token-window
    // pass of the "deduplicating training data" recipe: every
    // 10-token window is hashed; a window whose hash appears in MORE
    // THAN ONE document marks its 10 tokens duplicated, and each doc
    // reports duplicated-token coverage in integral ppm. Corpus-WIDE
    // (boilerplate hunts across sources). Shapes that survive 100 TB:
    // one codegen'd n-gram explode → hash-agg df → equi-join back →
    // ONE doc-keyed window; coverage is computed as the interval-union
    // length of the duplicated [p, p+9] spans via lead() arithmetic
    // (min(W, next−p)), never a per-token explode.
    "q_substring_dup" -> ((s, d) => {
      val W = 10L
      val grams = documents(s, d).select(col("doc_id"),
          posexplode(graft.functions.NGrams.ngrams(wordsOf, W.toInt))
            .as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
          conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
      val nd = grams.groupBy("h").agg(countDistinct(col("doc_id")).as("ndocs"))
      val dups = grams.join(nd, "h").filter(col("ndocs") > 1).select("doc_id", "p")
      val wdoc = Window.partitionBy("doc_id").orderBy("p")
      val cov = dups.withColumn("nxt", lead(col("p"), 1).over(wdoc))
        .withColumn("contrib", least(lit(W), coalesce(col("nxt") - col("p"), lit(W))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_windows"), sum("contrib").as("covered"))
      documents(s, d).select(col("doc_id"), size(wordsOf).cast("long").as("n_toks"))
        .join(cov, Seq("doc_id"), "left")
        .withColumn("n_dup_windows", coalesce(col("n_dup_windows"), lit(0L)))
        .withColumn("covered", coalesce(col("covered"), lit(0L)))
        .withColumn("cov_ppm",
          coalesce(expr("covered * 1000000 div nullif(n_toks, 0)"), lit(0L)))
        .orderBy("doc_id")
    }),

    // E3 CONTAINMENT similarity (overlap coefficient): |A∩B| /
    // min(|A|,|B|) — the quote/subset detector that threshold-Jaccard
    // misses: a short document embedded verbatim in a long one scores
    // high containment but low Jaccard (the long doc inflates the
    // union). Rides the family's blocked, df-capped, 60-bit-hashed
    // inverted index; the only new math is the integral min-size
    // threshold (10·inter ≥ 3·min ⇔ overlap ≥ 0.3 — zero float in the
    // filter), so the scale story is q_shingle_jaccard's.
    "q_containment" -> ((s, d) => {
      val inv = shingleIndex(s, d)
      val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = inv.select(col("source"), col("shingle_h"), col("doc_id").as("d1"))
      val b = inv.select(col("source"), col("shingle_h"), col("doc_id").as("d2"))
      a.join(b, Seq("source", "shingle_h")).filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
        .filter(col("inter") * 10 >= least(col("sz1"), col("sz2")) * 3)
        .withColumn("overlap_micro", expr("inter * 1000000 div least(sz1, sz2)"))
        .select("d1", "d2", "inter", "sz1", "sz2", "overlap_micro")
        .orderBy("d1", "d2")
    }),

    // E12 MARKUP STRIPPING: tag removal + entity unescape + whitespace
    // squeeze — the first stage of any web-corpus pipeline. The corpus
    // ships plain text, so the raw HTML is synthesized deterministically
    // around it (the q_convert_speed precedent: oracle recomputes the
    // same synthesis) and the round-trip back to the original text is
    // asserted INSIDE the oracle-gated output — a regex-engine
    // difference in either engine breaks the hash. Pure projection:
    // codegen'd regexp over one scan, no shuffle at all.
    "q_strip_markup" -> ((s, d) => {
      val html = concat(lit("<html><body><p class=\"t\">"),
        regexp_replace(col("text"), " ", "&nbsp;"),
        lit("</p><br/></body></html>"))
      val stripped = regexp_replace(
        regexp_replace(html, "<[^>]+>", " "), "&nbsp;", " ")
      val clean = trim(regexp_replace(stripped, " +", " "))
      documents(s, d)
        .select(col("doc_id"), length(html).as("html_len"), clean.as("clean"),
          (clean === col("text")).as("roundtrip"))
        .orderBy("doc_id")
    }),

    // PPJoin-style PREFIX-FILTERED exact similarity join (Chaudhuri
    // et al. SSJoin; Xiao et al. PPJoin): the LOSSLESS scale path for
    // threshold-Jaccard joins, complementing the df-capped inverted
    // index above (which trades recall on hot shingles) and MinHash-LSH
    // (probabilistic). Theorem: under ANY consistent global token
    // order, two sets with Jaccard >= t must share at least one token
    // in each other's first L - ceil(t*L) + 1 tokens — so indexing
    // ONLY that prefix (rarest-first order makes it selective) yields
    // every qualifying pair with zero recall loss, and candidate
    // fan-out tracks the df of the RAREST tokens instead of the whole
    // set. Threshold arithmetic stays integral (5*inter >= 4*union for
    // t = 0.8; prefix via ceil(4L/5) = (4L+4) div 5) — no float
    // boundary drift between engines. Verification joins candidates
    // back to whole-set arrays; at lake scale both joins shuffle on
    // their natural keys (shingle; then d1/d2) — nothing quadratic in
    // the corpus, only in genuine near-dup density.
    "q_setsim_prefix" -> ((s, d) => {
      // materialized once: the index feeds the rank windows, the
      // whole-set aggregation, and (via `ranked`) the prefix join —
      // without the checkpoint the explode+md5 subtree runs three times
      val inv = documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.NGrams.ngrams(wordsOf, 3)))
            .as("shingle"))
        .select(col("doc_id"),
          conv(substring(md5(col("shingle")), 1, 15), 16, 10)
            .cast("long").as("sh"))
        .localCheckpoint()
      val ranked = inv
        .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
        .withColumn("rn", row_number()
          .over(Window.partitionBy("doc_id").orderBy(col("df"), col("sh")))
          .cast("long"))
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      val prefix = ranked
        .filter(col("rn") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
        .select(col("doc_id"), col("sh"), col("rn"), col("sz"))
      // POSITIONAL filter (PPJoin's second prune, still lossless): a
      // prefix match at positions (rn1, rn2) bounds the overlap by
      // 1 + min(sz1-rn1, sz2-rn2); Jaccard >= 0.8 needs overlap >=
      // ceil(4(sz1+sz2)/9) (from inter >= t/(1+t)·(sz1+sz2)), so
      // candidates whose bound can't reach it are dropped before the
      // distinct+verify joins ever see them. Integral arithmetic
      // throughout — ceil(4u/9) = (4u+8) div 9.
      val cands = prefix.select(col("doc_id").as("d1"), col("sh"),
          col("rn").as("rn1"), col("sz").as("sz1"))
        .join(prefix.select(col("doc_id").as("d2"), col("sh"),
          col("rn").as("rn2"), col("sz").as("sz2")), Seq("sh"))
        .filter(col("d1") < col("d2"))
        .filter(lit(1L) + least(col("sz1") - col("rn1"), col("sz2") - col("rn2")) >=
          expr("(4 * (sz1 + sz2) + 8) div 9"))
        .select("d1", "d2").distinct()
      // sorted ONCE per document so every candidate pair verifies by a
      // codegen'd two-pointer merge (graft_sorted_inter) instead of an
      // array_intersect hash set built per PAIR
      val sets = inv.groupBy("doc_id")
        .agg(sort_array(collect_set(col("sh"))).as("shs"),
          count(lit(1)).as("sz"))
      val verified = cands
        .join(sets.select(col("doc_id").as("d1"), col("shs").as("shs1"),
          col("sz").as("sz1")), "d1")
        .join(sets.select(col("doc_id").as("d2"), col("shs").as("shs2"),
          col("sz").as("sz2")), "d2")
        .withColumn("inter",
          graft.functions.SortedIntersectCount
            .sortedInterCount(col("shs1"), col("shs2")))
        .filter(col("inter") * 5 >= (col("sz1") + col("sz2") - col("inter")) * 4)
      verified
        .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
        .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
        .select(col("d1"), col("d2"), col("inter"), col("uni"), col("jaccard"))
        .orderBy("d1", "d2")
    }),

    // E3 INCREMENTAL ingest dedup — the daily shape at 100 TB: find
    // near-dups of NEWLY ARRIVED documents against the existing corpus
    // WITHOUT comparing the corpus to itself. Asymmetric PPJoin: both
    // sides index only their rarest-first prefixes (lossless, same
    // theorem as q_setsim_prefix), but the candidate join pairs
    // base-side prefixes exclusively with delta-side prefixes, so the
    // work scales with |delta| · df(rare tokens), never |corpus|².
    // Boundary doc_id 400 stands in for the snapshot-CDC delta
    // (readChanges feeds this in production).
    "q_dedup_incremental" -> ((s, d) => {
      val pruneLo = 79 // t = 0.8 with the round(·,4) slack
      val hi = 100 + pruneLo
      val inv = hashedTokenIndex(
        documents(s, d).select(col("source"), col("doc_id"),
          array_distinct(wordsOf).as("toks")))
      val prefix = rankedPrefix(inv, pruneLo)
      val base = prefix.filter(col("doc_id") < 400)
        .select(col("source"), col("th"), col("doc_id").as("d1"),
          col("rn").as("rn1"), col("sz").as("sz1"))
      val delta = prefix.filter(col("doc_id") >= 400)
        .select(col("source"), col("th"), col("doc_id").as("d2"),
          col("rn").as("rn2"), col("sz").as("sz2"))
      val cands = base.join(delta, Seq("source", "th"))
        .filter(col("sz1") * 100 >= col("sz2") * pruneLo &&
                col("sz2") * 100 >= col("sz1") * pruneLo)
        .filter(lit(1L) + least(col("sz1") - col("rn1"), col("sz2") - col("rn2")) >=
          expr(s"($pruneLo * (sz1 + sz2) + ${hi - 1}) div $hi"))
        .select("source", "d1", "d2").distinct()
      val sets = inv.groupBy("source", "doc_id")
        .agg(sort_array(collect_set(col("th"))).as("ths"),
          count(lit(1)).as("sz"))
      cands
        .join(sets.select(col("source"), col("doc_id").as("d1"),
          col("ths").as("ths1"), col("sz").as("sz1")), Seq("source", "d1"))
        .join(sets.select(col("source"), col("doc_id").as("d2"),
          col("ths").as("ths2"), col("sz").as("sz2")), Seq("source", "d2"))
        .withColumn("inter", graft.functions.SortedIntersectCount
          .sortedInterCount(col("ths1"), col("ths2")))
        .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
        .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
        .filter(col("jaccard") >= 0.8)
        .select(col("source"), col("d1").as("base_id"), col("d2").as("new_id"),
          col("jaccard"))
        .orderBy("source", "base_id", "new_id")
    }),

    // E13 SKETCH JOIN-SIZE ESTIMATION (AMS/CMS inner product): the
    // cardinality estimate a cost-based planner wants BEFORE running a
    // join — est |A ⋈ B| = min over sketch rows of Σ_b cmsA[d][b] ·
    // cmsB[d][b]. Each side is one mergeable-sketch aggregation over
    // its own table (map-side combine, constant state, NO shuffle of
    // the join keys); the estimate itself is a 4×256 dot product on
    // the driver-sized result. Never undercounts (all collision noise
    // is positive), asserted in-row against the exact join count.
    "q_cms_join_size" -> ((s, d) => {
      val a = orders(s, d).agg(graft.functions.CmsSketch.cms(col("o_custkey")).as("ca"))
      val b = customer(s, d).agg(graft.functions.CmsSketch.cms(col("c_custkey")).as("cb"))
      val exact = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_n"))
      val rowDots = (0 until 4).map { dd =>
        aggregate(sequence(lit(dd * 256 + 1), lit(dd * 256 + 256)),
          lit(0L), (acc, i) =>
            acc + element_at(col("ca"), i.cast("int")) *
              element_at(col("cb"), i.cast("int")))
      }
      a.crossJoin(b).crossJoin(exact) // three 1-row frames
        .select(least(rowDots: _*).as("est_join_n"), col("exact_n"))
        .withColumn("no_undercount", col("est_join_n") >= col("exact_n"))
    }),

    // E10 deterministic stratified sampling: content-keyed md5 bucket
    // per row, keep buckets below the rate threshold — uniform ~20%
    // WITHIN each stratum, reproducible across runs/engines/partitionings
    // (no rand()), and embarrassingly parallel: a pure narrow filter
    // that pushes down to the scan at any scale. '34' hex = 52/256.
    "q_stratified_sample" -> ((s, d) =>
      documents(s, d)
        .withColumn("bucket", substring(md5(concat(lit("smp|"), col("doc_id"))), 1, 2))
        .filter(col("bucket") < "34")
        .select(col("source"), col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // E10 deterministic train/test split: same md5-bucket trick, total
    // (every row gets a split, none dropped), ~90/10. The split is a
    // pure function of the row key — new data never reshuffles old
    // rows between splits.
    "q_train_split" -> ((s, d) => {
      val bucket = substring(md5(concat(lit("split|"), col("doc_id"))), 1, 2)
      documents(s, d)
        .withColumn("split", when(bucket < "e6", "train").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"))
        .orderBy("source", "split")
    }),

    // E10 uniform N-per-group sampling via the NATIVE top-k-per-group
    // operator ordered by a content hash: deterministic "reservoir"
    // without reservoir state — bounded heaps map-side, k survivors per
    // group shuffle, identical output on any cluster layout.
    "q_sample_per_group" -> ((s, d) =>
      graft.plans.TopKPerGroup(
          documents(s, d)
            .select(col("source"), col("doc_id"),
              md5(concat(lit("res|"), col("doc_id"))).as("h")),
          Seq(col("source")), Seq(col("h").asc, col("doc_id").asc), k = 5)
        .select(col("source"), col("rn").cast("long").as("rank"), col("doc_id"))
        .orderBy("source", "rank")),

    // E10 WEIGHTED sampling without replacement (Efraimidis-Spirakis,
    // IPL 2006): exponential key -ln(u)/w with a deterministic
    // md5-derived uniform u — inclusion probability proportional to
    // weight (n_chars), reproducible across engines (ln is
    // IEEE-identical cross-engine, the q_tfidf precedent) and across
    // partitionings (key is a pure row function). Smallest-k keys per
    // group via the native bounded-heap TopKPerGroup: one shuffle,
    // O(k) state per group — no per-group sort at any scale.
    "q_weighted_sample" -> ((s, d) =>
      graft.plans.TopKPerGroup(
          documents(s, d)
            .select(col("source"), col("doc_id"), col("n_chars"),
              (-log((conv(substring(md5(concat(lit("wrs|"), col("doc_id"))), 1, 8),
                  16, 10).cast("double") + 0.5) / 4294967296.0) / col("n_chars"))
                .as("wkey")),
          Seq(col("source")),
          // NULLS FIRST pinned on BOTH engines (repo determinism rule:
          // Spark asc defaults nulls-first, DuckDB nulls-last — a null
          // weight row would silently diverge otherwise)
          Seq(col("wkey").asc_nulls_first, col("doc_id").asc_nulls_first), k = 5)
        .select(col("source"), col("rn").cast("long").as("rank"),
          col("doc_id"), col("n_chars"))
        .orderBy("source", "rank")),

    // E10 sequence packing (LLM pretraining concat-and-chunk): running
    // token offset per source stream assigns every document a pack id
    // and an offset inside its 512-token block. The running offset is
    // the TWO-PHASE distributed prefix sum (operators/PrefixSum) over
    // doc_id range buckets — bounds from a 1-row broadcast aggregate
    // probe — so no task ever sorts a whole stream's rows; packs never
    // cross the stream key so workers never coordinate. At 100 TB the
    // stream key is whatever bounded unit you pack within (shard, day,
    // source) and the same scan shape holds.
    "q_seq_pack" -> ((s, d) => {
      val sized = documents(s, d)
        .withColumn("n_tokens", size(wordsOf).cast("long"))
        .select("source", "doc_id", "n_tokens")
      val bounds = sized.agg(min("doc_id").as("_mn"), max("doc_id").as("_mx"))
      val bucketed = sized.crossJoin(broadcast(bounds))
      graft.operators.PrefixSum.runningSum(bucketed, Seq("source"),
          Seq(col("doc_id")), col("n_tokens"),
          graft.operators.PrefixSum.rangeBucket(
            col("doc_id"), col("_mn"), col("_mx"), 64),
          "cum")
        .withColumn("pack_id", floor((col("cum") - col("n_tokens")) / 512.0))
        .withColumn("pack_offset", (col("cum") - col("n_tokens")) - col("pack_id") * 512)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("pack_id"),
          col("pack_offset"))
        .orderBy("source", "doc_id")
    }),

    // E5 Gopher-style repetition filtering (Rae et al. 2021 §A1.1's
    // "fraction of duplicate n-grams" family): per-doc 2-gram stats —
    // duplicate-2-gram fraction and most-frequent-2-gram fraction —
    // with a keep flag at thresholds that bisect this corpus. One
    // explode + two hash-aggregates, all narrow per doc_id after the
    // first shuffle; no pair joins, scales linearly in corpus size.
    "q_repetition_filter" -> ((s, d) => {
      val words = wordsOf
      val grams = documents(s, d).select(col("doc_id"),
        explode(graft.functions.NGrams.ngrams(words, 2)).as("gram"))
      grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sum("n").as("total"), count(lit(1)).as("uniq"), max("n").as("top_n"))
        .select(col("doc_id"), col("total"),
          round((col("total") - col("uniq")).cast("double") / col("total"), 4)
            .as("dup_frac"),
          round(col("top_n").cast("double") / col("total"), 4).as("top_frac"))
        .withColumn("keep", col("dup_frac") <= 0.04 && col("top_frac") <= 0.05)
        .orderBy("doc_id")
    }),

    // E1 passage-level exact dedup (the "dedup paragraphs across the
    // whole corpus" pass of a pretraining pipeline): each doc is split
    // into 8-token passages NARROWLY (one HOF slice per chunk — no
    // per-element re-evaluation), then a global ranking window on the
    // passage keeps the first occurrence by (doc_id, pidx). One
    // shuffle on the passage hash; at 100 TB the passage is the dedup
    // key, so the shuffle is the minimum any exact-dedup must pay.
    "q_passage_dedup" -> ((s, d) => {
      val words = wordsOf
      val passages = passagesOf(words)
      documents(s, d)
        .filter(size(words) > 0)
        .select(col("doc_id"), posexplode(passages).as(Seq("pidx", "passage")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("passage").orderBy(col("doc_id").asc, col("pidx").asc)))
        .select(col("doc_id"), col("pidx").cast("long").as("pidx"),
          md5(col("passage")).as("phash"), (col("rn") === 1).as("kept"))
        .orderBy("doc_id", "pidx")
    }),

    // E5 benchmark decontamination (the n-gram-overlap check run before
    // training): the "benchmark" is a deterministic corpus subset
    // (doc_id % 50 = 0); any other doc sharing a distinct word-4-gram
    // with it is reported with its hit count and flagged at >= 3 hits.
    // The benchmark n-gram set is tiny by construction (benchmarks are
    // MBs, corpora are TBs) so it BROADCASTS — the corpus side never
    // shuffles: scan → explode → broadcast-semi-probe → per-doc count.
    "q_decontaminate" -> ((s, d) => {
      val words = wordsOf
      val grams = documents(s, d).select(col("doc_id"),
        explode(array_distinct(graft.functions.NGrams.ngrams(words, 4)))
          .as("gram"))
      val bench = grams.filter(col("doc_id") % 50 === 0).select("gram").distinct()
      grams.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), Seq("gram"), "left_semi")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(col("doc_id"), col("n_hits"), (col("n_hits") >= 3).as("flagged"))
        .orderBy("doc_id")
    }),

    // E1 follow-on to q_passage_dedup: RECONSTRUCT the deduplicated
    // corpus — drop every passage already seen earlier (global ranking
    // window on the passage), then reassemble each doc's surviving
    // passages in order. The explode→dedup→re-agg roundtrip is the
    // actual "write the clean corpus" job of a C4-style pipeline: one
    // shuffle on the passage (the dedup key), one on doc_id (the
    // reassembly key) — both unavoidable, nothing quadratic.
    "q_passage_scrub" -> ((s, d) => {
      val words = wordsOf
      val passages = passagesOf(words)
      documents(s, d)
        .filter(size(words) > 0)
        .select(col("doc_id"), posexplode(passages).as(Seq("pidx", "passage")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("passage").orderBy(col("doc_id").asc, col("pidx").asc)))
        .filter(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("pidx"), col("passage")))),
              p => p("passage")), " ").as("clean_text"))
        .orderBy("doc_id")
    }),

    // E5 Count-Min frequency estimation via the custom mergeable
    // graft_cms aggregate (functions.CmsSketch): ONE pass builds a
    // 4×256-counter sketch (8 KiB — broadcastable), then the 20 true
    // heaviest tokens are probed against it. est >= true always (CMS
    // never undercounts); the oracle rebuilds the probed counters
    // exactly because CMS counters are order-independent SUMs over a
    // portable md5 bucketing. At 100 TB the sketch replaces a full
    // (token → count) shuffle with a fixed-size partial aggregate per
    // partition.
    "q_cms_freq" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(wordsOf).as("token"))
      val sk = toks.agg(graft.functions.CmsSketch.cms(col("token")).as("cms"))
      val top = toks.groupBy("token").agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("token").asc).limit(20)
      def bucket(dd: Int): Column =
        conv(substring(md5(concat(lit(dd.toString), lit("|"), col("token"))), 1, 8),
          16, 10).cast("long") % 256
      val ests = (0 until 4).map(dd =>
        element_at(col("cms"), (bucket(dd) + lit(dd * 256) + 1).cast("int")))
      top.crossJoin(broadcast(sk))
        .select(col("token"), col("true_n"), least(ests: _*).as("est_n"))
        .withColumn("no_undercount", col("est_n") >= col("true_n"))
        .orderBy(col("true_n").desc, col("token").asc)
    }),

    // E13 streaming-quantile profile via the custom mergeable graft_kll
    // aggregate (functions.KllSketch): per-source p50/p90 of document
    // length from O(k log n) state per group. The raw estimates are
    // arrival-order dependent (KLL compaction, like HLL registers) and
    // so cannot be hash-compared cross-engine — instead the query
    // emits the DERIVED RANK INVARIANT each estimate must satisfy
    // (round-8 verdict item 6): per source, the estimate's tie-safe
    // rank interval [count(<est), count(≤est)] must straddle the
    // target rank q·n within ±4% (the KLL spec gate is 2% rank error —
    // KllSketchSpec + RandomizedPropertySpec — and the extra 2%
    // absorbs rank-definition slack at tied values). The DuckDB
    // oracle recomputes n in plain SQL and asserts both booleans
    // true, so a drifting sketch now FAILS the driver gate instead of
    // being a permanent skip. Cost: the one extra rank pass is a
    // broadcast join of the O(sources) estimate table back onto the
    // corpus + one hash-agg — linear, shuffle-free on the probe side.
    "q_kll_quantiles" -> ((s, d) => {
      val nc = col("n_chars").cast("double")
      val est = documents(s, d).groupBy("source")
        .agg(graft.functions.KllSketch.kllQuantile(nc, 0.5).as("est_p50"),
          graft.functions.KllSketch.kllQuantile(nc, 0.9).as("est_p90"))
      documents(s, d).select(col("source"), col("n_chars"))
        .join(broadcast(est), "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") < col("est_p50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("n_chars") <= col("est_p50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("n_chars") < col("est_p90"), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("n_chars") <= col("est_p90"), 1L).otherwise(0L)).as("le90"))
        .withColumn("bound_rank_ppm", lit(40000L))
        .withColumn("p50_ok", expr(
          """lt50 * 1000000 <= (500000 + bound_rank_ppm) * n
            |and le50 * 1000000 >= (500000 - bound_rank_ppm) * n""".stripMargin))
        .withColumn("p90_ok", expr(
          """lt90 * 1000000 <= (900000 + bound_rank_ppm) * n
            |and le90 * 1000000 >= (900000 - bound_rank_ppm) * n""".stripMargin))
        .select("source", "n", "bound_rank_ppm", "p50_ok", "p90_ok")
        .orderBy("source")
    }),

    // E10 RAG-STYLE CHUNKING: overlapping token windows (W = 32,
    // stride 24 → 8-token overlap) per document — the retrieval-
    // indexing op between cleaning and embedding. Pure narrow
    // compute: the chunk index materializes as a higher-order
    // transform over a sequence (no join, no shuffle before the
    // output sort), chunk identity as an md5 over the joined window
    // so the oracle compares content, not arrays. Trailing partial
    // chunks are kept (standard — the tail must be retrievable).
    "q_chunk_overlap" -> ((s, d) => {
      val W = 32; val S = 24
      val words = wordsOf
      val chunks = transform(
        sequence(lit(0), floor((size(words) - lit(1)) / lit(S)).cast("int")),
        i => slice(words, i * S + 1, lit(W)))
      documents(s, d).filter(size(words) > 0)
        .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(array_join(col("chunk"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ENTITY RESOLUTION: blocked fuzzy matching by edit distance —
    // the record-linkage op of a curation stack (match dirty scraped
    // names to a clean catalog). A dirty side is synthesized by a
    // deterministic single-character deletion inside the SECOND word
    // (so the block key survives corruption), then matched back:
    // block on the first token (equi join — never all-pairs), prune
    // by the classic |len(a) − len(b)| ≤ dist bound, verify with the
    // built-in codegen'd levenshtein, keep the best (dist, clean_id)
    // match per dirty row. At lake scale the block key is whatever
    // survives the noise model (here the first token; phonetic codes
    // or length-banded replication are drop-in alternatives) — the
    // shape stays one equi join + one per-dirty-row top-1.
    "q_fuzzy_match" -> ((s, d) => fuzzyMatches(s, d)),

    // COMPOSED ENTITY-RESOLUTION PIPELINE — the production ER shape:
    // run BOTH blocking families (equi-blocking q_fuzzy_match +
    // sorted-neighborhood q_sorted_neighborhood — multi-pass blocking,
    // the standard recall fix for any single blocking's blind spots),
    // pool their verified candidate pairs, and resolve each dirty
    // record to its best clean match (min distance, min id tiebreak),
    // tagging which strategy(ies) found the winner. Composes the two
    // catalog queries directly (the q_mrr precedent), so this rides
    // their oracles and can never drift from them.
    "q_er_pipeline" -> ((s, d) => {
      val equi = queries("q_fuzzy_match")(s, d)
        .select(col("dirty_id"), col("matched_id").as("clean_id"),
          col("dist"), lit(1L).as("by_equi"), lit(0L).as("by_sorted"))
      val sorted = queries("q_sorted_neighborhood")(s, d)
        .filter(col("a_side") =!= col("b_side"))
        .select(
          when(col("a_side") === 1, col("a_id")).otherwise(col("b_id")).as("dirty_id"),
          when(col("a_side") === 0, col("a_id")).otherwise(col("b_id")).as("clean_id"),
          col("dist"), lit(0L).as("by_equi"), lit(1L).as("by_sorted"))
      val pooled = equi.unionByName(sorted)
        .groupBy("dirty_id", "clean_id", "dist")
        .agg(max("by_equi").as("by_equi"), max("by_sorted").as("by_sorted"))
      val w = Window.partitionBy("dirty_id").orderBy(col("dist"), col("clean_id"))
      pooled.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("dirty_id"), col("clean_id"), col("dist"),
          when(col("by_equi") === 1 && col("by_sorted") === 1, "both")
            .when(col("by_equi") === 1, "equi").otherwise("sorted").as("found_by"))
        .orderBy("dirty_id")
    }),

    // SKIP-GRAM TRAINING PAIRS with deterministic negative sampling —
    // the embedding-training data generator (word2vec-style): ±2
    // window contexts per center token, grouped to a (center,
    // context, count) co-occurrence table, each pair carrying one
    // md5-drawn negative from the frequency-ranked vocabulary (the
    // portable-randomness convention — both engines draw the same
    // negative, so the sampler itself is oracle-gated). Scale shape:
    // window pairs come from an EQUI-join on (doc, pos+offset) — the
    // 1-D grid pattern, never a theta join; the vocabulary rank runs
    // through the two-phase [[PrefixSum]] scan (count-range buckets)
    // and joins back broadcast. Cost ∝ tokens × window, vocab-rank
    // ∝ vocab — nothing quadratic.
    "q_skipgram_pairs" -> ((s, d) => {
      val toks = spreadIfCoarse(documents(s, d)).select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), " "), t => t =!= ""))
          .as(Seq("pos", "tok")))
      val ctr = toks.select(col("doc_id"), col("pos"), col("tok").as("center"))
        .withColumn("off", explode(array(lit(-2), lit(-1), lit(1), lit(2))))
        .select(col("doc_id"), (col("pos") + col("off")).as("cpos"), col("center"))
      val pairs = ctr
        .join(toks.select(col("doc_id"), col("pos").as("cpos"),
          col("tok").as("context")), Seq("doc_id", "cpos"))
        .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val vb = broadcast(vocab.agg(max(col("cnt")).as("chi"),
        min(col("cnt")).as("clo"), count(lit(1)).as("vsz")))
      val ranked = graft.operators.PrefixSum.rowNumber(
        vocab.crossJoin(vb), Seq.empty, Seq(-col("cnt"), col("tok")),
        graft.operators.PrefixSum.rangeBucket(-col("cnt"), -col("chi"), -col("clo"), 8),
        "rv")
      pairs.crossJoin(vb.select(col("vsz"))) // 1-row aggregate probe
        .withColumn("nid", lit(1) + pmod(
          conv(substring(md5(concat_ws("|", col("center"), col("context"))), 1, 14),
            16, 10).cast("long"), col("vsz")))
        .join(broadcast(ranked.select(col("rv"), col("tok").as("neg_tok"))),
          col("nid") === col("rv"))
        .select(col("center"), col("context"), col("n_pairs"), col("neg_tok"))
        .orderBy("center", "context")
    }),

    // SORTED-NEIGHBORHOOD BLOCKING — the other classic entity-
    // resolution blocking family, complementing q_fuzzy_match's
    // equi-blocking: sort ALL records (clean ∪ corrupted) by the name
    // itself, and only compare records within a rank window (w = 4).
    // Where equi-blocking misses any record whose BLOCKING KEY is the
    // corrupted part (here: deletions can hit the first token),
    // sorted-neighborhood still lands lexicographic near-misses
    // adjacently; its own known recall gap (early-position corruption
    // moves a record far in sort order) is why production ER runs
    // multiple passes with different sort keys. Scale shape: the
    // global rank is the two-phase [[PrefixSum]] scan (bucketed by the
    // 2-char name prefix — order-consistent with the sort key, no
    // single-task sort), and the windowed self-join is the 1-D
    // grid-cell join (rank-group g = rn div w, probe side emits g and
    // g − 1, equi-join, |Δrn| ≤ w filter): each pair lands exactly
    // once, cost ∝ records × w, never records². Verification is the
    // banded threshold levenshtein.
    "q_sorted_neighborhood" -> ((s, d) => sortedNeighborhood(s, d)),

    // E5/E9 BM25 RETRIEVAL SCORING (Robertson-Sparck Jones; k1 = 1.2,
    // b = 0.75) for a fixed query-term set — the lexical-retrieval
    // scorer of a RAG/data-curation stack beside the tf-idf and ANN
    // entries. Float determinism follows the repo conventions: ln and
    // IEEE division are bit-identical cross-engine with identical
    // parenthesization (the q_tfidf precedent), and the only
    // order-sensitive step — summing per-term scores per document —
    // goes through INTEGER MICRO-UNITS (round each term score to a
    // BIGINT, sum the integers), the cents convention. Shape: one
    // explode + tf/df/dl hash-aggregations, the corpus constants via
    // a 1-row broadcast probe; no joins wider than (doc, term).
    "q_bm25" -> ((s, d) => {
      val terms = Seq("batch", "scan", "data")
      val toks = documents(s, d).select(col("doc_id"), explode(wordsOf).as("tk"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = toks.filter(col("tk").isInCollection(terms))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("tk").agg(countDistinct(col("doc_id")).as("df"))
      val term = tf.join(broadcast(dfT), "tk").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
        .withColumn("score_micro",
          round(col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))) * lit(1000000))
            .cast("long"))
      term.groupBy("doc_id")
        .agg(sum(col("score_micro")).as("bm25_micro"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25_micro").desc, col("doc_id"))
        .limit(20)
    }),

    // E4 RM3 QUERY EXPANSION — pseudo-relevance feedback over the
    // q_bm25 ranking (lockstep scoring formula): the top-10 retrieved
    // documents become the relevance model, and every non-query term
    // is weighted by Σ over those docs of tf(term, doc) · bm25(doc)
    // (the occurrence-sum realizes the tf product with no extra agg).
    // Output = the 8 expansion terms a second-pass retrieval would add,
    // with deterministic (weight desc, term) ranking. The feedback
    // join is PROBE-BOUNDED by construction: top-10 via TakeOrdered
    // (never a global sort), broadcast back over the token table — the
    // expansion leg touches only 10 documents' tokens at any corpus
    // size.
    "q_rm3_expansion" -> ((s, d) => {
      val qterms = Seq("batch", "scan", "data")
      val toks = documents(s, d).select(col("doc_id"), explode(wordsOf).as("tk"))
      // checkpoint the per-doc length table: stats, the score join and
      // (through them) the top-10 selection all reuse it, and each
      // uncheckpointed reference re-ran the token explode (measured
      // 18 s → ~each rescan ≈ the bm25 leg itself)
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .localCheckpoint()
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = toks.filter(col("tk").isInCollection(qterms))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("tk").agg(countDistinct(col("doc_id")).as("df"))
      val scored = tf.join(broadcast(dfT), "tk").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("score_micro",
          round(log((col("n_docs") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)) + lit(1.0)) * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl") / col("avgdl")))) * lit(1000000))
            .cast("long"))
        .groupBy("doc_id").agg(sum(col("score_micro")).as("bm25_micro"))
      val top10 = broadcast(
        scored.orderBy(col("bm25_micro").desc, col("doc_id")).limit(10))
      toks.join(top10, "doc_id")
        .filter(!col("tk").isInCollection(qterms))
        .groupBy(col("tk").as("term"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          sum("bm25_micro").as("weight_micro"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("weight_micro").desc, col("term").asc)))
        .filter(col("rank") <= 8)
        .select(col("term"), col("n_docs"), col("weight_micro"),
          col("rank").cast("long").as("rank"))
        .orderBy("rank")
    }),

    // E4 RAKE KEYPHRASES — multi-word keyword extraction by the
    // Rapid-Automatic-Keyword-Extraction recipe (complements the
    // unigram tf-idf q_keywords): candidate phrases are maximal token
    // runs between stopword/empty boundaries, each word scores
    // degree/frequency (degree = Σ length of phrases containing it —
    // co-occurrence favors words that live in long phrases), and a
    // phrase scores the sum of its members, all in integral milli.
    // Segmentation is one per-doc positional window (bounded by doc
    // length, the q_cooccur shape); word stats and the phrase rollup
    // are token-/phrase-keyed hash-aggs — nothing is ever all-pairs.
    "q_rake_keywords" -> ((s, d) => {
      val toks = spreadIfCoarse(documents(s, d)).select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tk")))
      val marked = toks.withColumn("b",
        (col("tk") === "" || col("tk").isInCollection(stopwords))
          .cast("long"))
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val seg0 = marked.withColumn("seg", sum("b").over(wd))
        .filter(col("b") === 0)
        .select("doc_id", "seg", "pos", "tk")
      // candidate phrases cap at 4 words (the standard RAKE bound —
      // longer runs are prose fragments, not keyphrases)
      val plen = seg0.groupBy("doc_id", "seg").agg(count(lit(1)).as("plen"))
        .filter(col("plen") <= 4)
      val seg = seg0.join(plen, Seq("doc_id", "seg"))
      val wstat = seg
        .groupBy("tk").agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .withColumn("wscore", expr("deg * 1000 div freq"))
      val ph = seg.join(wstat.select("tk", "wscore"), "tk")
        .groupBy("doc_id", "seg")
        .agg(array_join(transform(sort_array(collect_list(
            struct(col("pos"), col("tk")))), x => x.getField("tk")), " ")
            .as("phrase"),
          sum("wscore").as("score_milli"))
      ph.groupBy("phrase")
        .agg(count(lit(1)).as("n_occur"), max("score_milli").as("score_milli"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_milli").desc, col("phrase").asc))
          .cast("long"))
        .filter(col("rank") <= 15)
        .select("phrase", "n_occur", "score_milli", "rank")
        .orderBy("rank")
    }),

    // E12 PREFIX-CACHE POTENTIAL (depth sweep) — the KV-cache
    // prefix-sharing estimate an LLM-serving (or dedup-aware training)
    // pipeline runs: at each cache depth L = 1..4 tokens, group
    // documents by their first-L-token prefix GLOBALLY (a prefix cache
    // spans requests) and report how many prompt-prefix tokens a
    // shared cache would not recompute (every group member after the
    // first reuses the prefix). The output is the depth-vs-savings
    // curve a cache-budget decision reads. One scan fans out ×4 depths
    // → prefix-keyed hash-agg → 4-row rollup; prefix keys are bounded,
    // never document-length-scaled.
    "q_prefix_cache" -> ((s, d) => {
      val docs = documents(s, d).select(
        array_remove(split(lower(col("text")), " "), "").as("toks"))
        .select(size(col("toks")).cast("long").as("n_tokens"), col("toks"))
      val byDepth = docs
        .select(explode(expr("array(1, 2, 3, 4)")).as("depth"),
          col("n_tokens"), col("toks"))
        .select(col("depth").cast("long").as("depth"), col("n_tokens"),
          expr("array_join(slice(toks, 1, depth), ' ')").as("prefix"),
          least(size(col("toks")), col("depth")).cast("long").as("plen"))
      val groups = byDepth.groupBy("depth", "prefix", "plen")
        .agg(count(lit(1)).as("cnt"), sum("n_tokens").as("tk"))
      groups.groupBy("depth")
        .agg(sum("cnt").as("n_docs"), count(lit(1)).as("n_groups"),
          sum("tk").as("total_tokens"),
          sum(expr("(cnt - 1) * plen")).as("saved_tokens"))
        .withColumn("saved_ppm",
          expr("saved_tokens * 1000000 div greatest(total_tokens, 1)"))
        .orderBy("depth")
    }),

    // E5 SPECULATIVE-DECODING DRAFT ACCEPTANCE — how good is a bigram
    // LM as a draft model? Per adjacent token pair, the draft proposes
    // argmax_b count(a→b) ((count desc, token asc) deterministic);
    // acceptance = the share of real next-tokens the draft would have
    // produced — the direct estimator of speculative-decoding speedup
    // on this corpus. Two token-keyed hash-aggs (pair counts, argmax)
    // + one broadcast-free join back on the context token; per-doc
    // adjacency comes from one bounded positional window.
    "q_spec_decode_accept" -> ((s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        posexplode(array_remove(split(lower(col("text")), " "), ""))
          .as(Seq("pos", "tk")))
      val pairs = toks.withColumn("nxt", lead(col("tk"), 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("nxt").isNotNull)
        .groupBy(col("tk").as("a"), col("nxt").as("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // vocab²-bounded; feeds argmax AND the rate
      val draft = pairs
        .groupBy("a")
        .agg(min(struct((-col("c")).as("nc"), col("b").as("b"))).as("x"))
        .select(col("a"), col("x.b").as("draft_b"))
      pairs.join(draft, "a")
        .agg(sum("c").as("n_pairs"),
          sum(when(col("b") === col("draft_b"), col("c")).otherwise(0L))
            .as("n_accepted"),
          countDistinct("a").as("n_contexts"))
        .withColumn("accept_ppm",
          expr("n_accepted * 1000000 div n_pairs"))
        .select("n_pairs", "n_accepted", "n_contexts", "accept_ppm")
    }),

    // E3 CONTENT-DEFINED CHUNKING (CDC) DEDUP — the storage-layer
    // dedup primitive (restic/borg-style) lifted to the token stream:
    // chunk boundaries fall where the rolling 4-token fingerprint
    // (md5, the q_crossval_folds hash convention) hits ≡ 0 mod 16
    // (mean chunk ≈ 16 tokens), so an insertion early in a document
    // shifts ONE chunk instead of re-chunking everything after it —
    // the property fixed-size blocks lack. Per source: chunk count,
    // distinct-chunk count, duplicate share, mean length. One token
    // explode, three per-doc bounded windows (the lag 4-gram), one
    // (doc, chunk) rollup and a chunk-hash-keyed dedup agg.
    "q_cdc_chunks" -> ((s, d) => {
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val toks = documents(s, d).select(col("doc_id"), col("source"),
        posexplode(array_remove(split(lower(col("text")), " "), ""))
          .as(Seq("pos", "tk")))
      val marked = toks
        .withColumn("g", concat_ws(" ", lag(col("tk"), 3).over(wd),
          lag(col("tk"), 2).over(wd), lag(col("tk"), 1).over(wd), col("tk")))
        .withColumn("b", when(col("pos") >= 3 &&
          expr("pmod(conv(substring(md5(g), 1, 8), 16, 10), 16)") === 0, 1L)
          .otherwise(0L))
        .withColumn("cid", coalesce(sum("b").over(
          wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val chunks = marked.groupBy("doc_id", "source", "cid")
        .agg(count(lit(1)).as("clen"),
          md5(array_join(transform(sort_array(collect_list(
            struct(col("pos"), col("tk")))), x => x.getField("tk")), " "))
            .as("chash"))
      chunks.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct("chash").as("n_distinct"),
          sum("clen").as("n_tokens"))
        .withColumn("dup_ppm",
          expr("(n_chunks - n_distinct) * 1000000 div n_chunks"))
        .withColumn("mean_len_milli", expr("n_tokens * 1000 div n_chunks"))
        .select("source", "n_chunks", "n_distinct", "n_tokens", "dup_ppm",
          "mean_len_milli")
        .orderBy("source")
    }),

    // KNEE / ELBOW DETECTION — pick the operating threshold off the
    // q_dedup_threshold_sweep curve (composes the catalog query, the
    // retrieval-fusion rule): the knee is the point with maximum
    // perpendicular distance to the first→last chord, computed as the
    // exact integer cross-product |Δx·(y₁−y₀) − (x₁−x₀)·Δy| — no
    // float geometry, (dist desc, bucket asc) deterministic. The
    // sweep is already O(buckets); the chord arithmetic is a
    // broadcast 1-row join.
    "q_elbow" -> ((s, d) => {
      // checkpoint the O(buckets) sweep table: the chord arithmetic
      // consumes it four times (ends, scored, knee, final), and each
      // uncheckpointed reference re-ran the whole near-dup sweep
      // (measured ×10 exponent 1.32 → the sweep's own 1.02 after)
      val sweep = queries("q_dedup_threshold_sweep")(s, d)
        .select(col("bucket").cast("long").as("x"),
          col("cum_pairs").cast("long").as("y"))
        .localCheckpoint()
      val ends = broadcast(sweep.agg(
        min(struct(col("x"), col("y"))).as("p0"),
        max(struct(col("x"), col("y"))).as("p1")))
      val scored = sweep.crossJoin(ends)
        .withColumn("cross2", abs(
          (col("p1.x") - col("p0.x")) * (col("y") - col("p0.y")) -
            (col("x") - col("p0.x")) * (col("p1.y") - col("p0.y"))))
      val knee = broadcast(scored.agg(
        min(struct((-col("cross2")).as("nc"), col("x").as("kx"))).as("k"))
        .select(col("k.kx").as("knee_x")))
      scored.crossJoin(knee)
        .withColumn("is_knee", (col("x") === col("knee_x")).cast("long"))
        .select(col("x").as("bucket"), col("y").as("cum_pairs"),
          col("cross2").as("chord_dist2"), col("is_knee"))
        .orderBy("bucket")
    }),

    // E3 MinHash-LSH banding via [[minhashBands]]; emits band-bucket
    // stats (the scale-safe artifact; per-bucket pair expansion is the
    // follow-on narrow job — see GraphOps.q_dedup_clusters)
    "q_minhash_lsh" -> ((s, d) => {
      minhashBandsMemo(s, d).groupBy("band_id", "band_key")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("band_id", "band_key")
    }),

    // E3 SELF-EVALUATING LSH RECALL — the text-dedup analogue of
    // q_ann_recall: how much of the EXACT Jaccard-≥½ pair set does the
    // 4-band×2-hash MinHash config actually catch? Ground truth is
    // bounded to a 50-doc probe set (the sampled-queries trick that
    // keeps the exact side computable at any corpus size: probe×corpus,
    // never corpus²); the probe side of both joins keeps only b>a, so
    // each unordered pair counts exactly once. Theoretical recall at
    // s=0.5 is 1−(1−s²)⁴ ≈ 68% rising steeply with s; the measured
    // ~89–91% (sf0.01/sf0.1) reflects the corpus's similarity mass
    // sitting well above the threshold. Everything md5-deterministic
    // and integral (counts + ppm), so recall itself sits in the oracle.
    "q_lsh_recall" -> ((s, d) => {
      val probeN = 50 // the q_ann_recall sampled-queries size
      // r16: the exact truth rides the memoized [[probeExactPairs]]
      // (one build shared with q_minhash_est's exact leg and
      // q_lsh_tuning's probe truth — all three derived this pipeline
      // independently before); the Jaccard-≥½ test is a cheap filter
      // over the checkpointed (inter, s1, s2) table, so no private
      // token explode or probe join remains in this query.
      val truth = probeExactPairs(s, d)
        .filter(col("inter") * 2 >= col("s1") + col("s2") - col("inter"))
        .select("d1", "d2")
      val bands = minhashBandsMemo(s, d)
      val cand = bands.filter(col("doc_id") < probeN)
        .select(col("doc_id").as("d1"), col("band_id"), col("band_key"))
        .join(bands.select(col("doc_id").as("d2"), col("band_id"), col("band_key")),
          Seq("band_id", "band_key"))
        .filter(col("d2") > col("d1"))
        .select("d1", "d2").distinct()
        .localCheckpoint() // feeds the hit semi-join AND the candidate count
      val hits = truth.join(cand, Seq("d1", "d2"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .withColumn("recall_ppm", expr("n_hits * 1000000 div n_truth"))
    }),

    // E3 CROSS-SOURCE DUPLICATION — the contamination report the
    // within-source dedup family deliberately cannot produce (every
    // other near-dup op blocks on `source`): MinHash-banded candidate
    // pairs whose endpoints live in DIFFERENT sources, verified by the
    // SIGNATURE match count (≥ 6 of 8 permutations agree ⇒ estimated
    // Jaccard ≥ 0.75), rolled up per source pair. Two scale bounds,
    // both load-bearing on a template-heavy corpus (and mirrored in
    // the oracle): bands with occupancy > 64 are SKIPPED (the
    // standard LSH hot-bucket cap — a band shared by hundreds of docs
    // carries no discriminating information and costs occupancy²; a
    // first cut without the cap measured 101 s at sf0.1 vs ~2 s with
    // it), and verification rides the 8-value signature table
    // (O(candidates)), never a token join — exact-Jaccard
    // verification of CROSS-source pairs is precisely what a 100-TB
    // corpus cannot afford, and q_minhash_est bounds the estimate's
    // error for exactly this use.
    "q_cross_source_dup" -> ((s, d) => {
      val bands = minhashBandsMemo(s, d)
      val cool = bands.groupBy("band_id", "band_key")
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") <= 64 && col("occ") > 1)
        .select("band_id", "band_key")
      val keep = bands.join(cool, Seq("band_id", "band_key"))
      val src = documents(s, d).select(col("doc_id"), col("source"))
      val cand = keep
        .select(col("doc_id").as("d1"), col("band_id"), col("band_key"))
        .join(keep.select(col("doc_id").as("d2"), col("band_id"),
          col("band_key")), Seq("band_id", "band_key"))
        .filter(col("d2") > col("d1"))
        .select("d1", "d2").distinct()
        .join(src.select(col("doc_id").as("d1"), col("source").as("src_a")), "d1")
        .join(src.select(col("doc_id").as("d2"), col("source").as("src_b")), "d2")
        .filter(col("src_a") =!= col("src_b"))
      val sig = minhashSigsMemo(s, d) // r15: shared memoized signatures
      val sa = sig.select(col("doc_id").as("d1") +:
        (0 until 8).map(i => col(s"h$i").as(s"a$i")): _*)
      val sb = sig.select(col("doc_id").as("d2") +:
        (0 until 8).map(i => col(s"h$i").as(s"b$i")): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      cand.join(sa, "d1").join(sb, "d2")
        .filter(matches >= 6)
        .select(least(col("src_a"), col("src_b")).as("src_lo"),
          greatest(col("src_a"), col("src_b")).as("src_hi"))
        .groupBy("src_lo", "src_hi").agg(count(lit(1)).as("n_dups"))
        .orderBy("src_lo", "src_hi")
    }),

    // E5 TEMPLATE-PREFIX DETECTOR — per source, the most common
    // 5-token document prefix and its share: scraped-template spam
    // shows up as one prefix owning a large share of a source long
    // before any pairwise dedup runs (this is the O(docs) smell test;
    // the pairwise ops are the confirmation). One narrow projection +
    // two hash-aggs + a per-source top-1.
    "q_template_prefix" -> ((s, d) => {
      val pref = documents(s, d)
        .select(col("source"),
          array_join(slice(expr(
            "filter(split(lower(text), ' '), x -> x != '')"), 1, 5), " ")
            .as("prefix"))
      val counts = pref.groupBy("source", "prefix").agg(count(lit(1)).as("n"))
      val tot = pref.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("source")
        .orderBy(col("n").desc, col("prefix").asc)
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(broadcast(tot), "source")
        .withColumn("share_ppm", expr("n * 1000000 div n_docs"))
        .select("source", "prefix", "n", "n_docs", "share_ppm")
        .orderBy("source")
    }),

    // E3 MINHASH ESTIMATION ERROR — the companion eval to
    // q_lsh_recall: for the probe-bounded pairs with exact Jaccard
    // ≥ 0.1, how far is the 8-permutation MinHash ESTIMATE
    // (matching-signature share, granularity 1/8 = 125000 ppm) from
    // the exact value? Reports mean/max absolute error in ppm — the
    // number that tells a dedup pipeline whether its permutation count
    // suffices at its similarity threshold. The signature table is
    // the SAME minhashSigsFromTokens the banding derives from, so the
    // eval measures the production sketch, not a reimplementation;
    // everything is md5-deterministic and integral, so the error
    // itself sits in the oracle. Probe-bounded exactly like
    // q_lsh_recall: probe×corpus, never corpus².
    "q_minhash_est" -> ((s, d) => {
      val probeN = 50
      // r16: the exact leg rides the memoized [[probeExactPairs]] —
      // the pipeline it previously rebuilt verbatim (shared with
      // q_lsh_recall's truth and q_lsh_tuning's probe truth).
      val exact = probeExactPairs(s, d)
        .withColumn("exact_ppm", expr("inter * 1000000 div (s1 + s2 - inter)"))
        .filter(col("exact_ppm") >= 100000)
      // r15: the memoized signature table IS minhashSigsFromTokens over
      // the same distinct-token frame (source column unused by the
      // build; min over multiset = min over set) — lockstep preserved.
      val sig = minhashSigsMemo(s, d)
      val sa = sig.filter(col("doc_id") < probeN)
        .select(col("doc_id").as("d1") +:
          (0 until 8).map(i => col(s"h$i").as(s"a$i")): _*)
      val sb = sig.select(col("doc_id").as("d2") +:
        (0 until 8).map(i => col(s"h$i").as(s"b$i")): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      exact.join(broadcast(sa), "d1").join(sb, "d2")
        .withColumn("est_ppm", matches * lit(125000L))
        .withColumn("abs_err", expr("abs(est_ppm - exact_ppm)"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(exact_ppm) div count(1)").as("mean_exact_ppm"),
          expr("sum(est_ppm) div count(1)").as("mean_est_ppm"),
          expr("sum(abs_err) div count(1)").as("mean_abs_err_ppm"),
          max("abs_err").as("max_abs_err_ppm"))
    }),

    // E4/E5 SPARSE LEXICAL RETRIEVAL — tf-idf-weighted cosine top-3
    // per probe doc over the INVERTED INDEX: the lexical complement to
    // the dense-embedding ANN family (BM25 ranks query terms; this
    // ranks whole-document sparse vectors — the classic near-dup /
    // related-doc scorer). Terms are BIGRAM shingles (the unigram
    // vocabulary of the synthetic corpus is 31 words with near-total
    // df — no unigram discriminates; bigrams are the smallest shingle
    // with a real idf spectrum, and shingled tf-idf is the standard
    // near-dup feature anyway). Weights are integral (tf × milli-
    // quantized idf), so norms and dots are exact bigint sums; the
    // only FP is the final correctly-rounded sqrt/divide, rounded to
    // 6 places. Candidate generation joins probes to the index ON
    // TERM with a df CAP (idf ≥ 1.0, i.e. df ≤ n/e): stopword-grade
    // terms carry ~zero weight but dominate fan-out, so dropping them
    // bounds the probe cost at Σ df(informative terms) — the standard
    // impact-ordered-index trade, and the reason this stays
    // computable when the corpus (and its stopword df) grows 1000×.
    "q_tfidf_cosine" -> ((s, d) => {
      val toks = spreadIfCoarse(documents(s, d))
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), x -> x != '')").as("a"))
        .select(col("doc_id"), explode(expr(
          """case when size(a) >= 2
            |then transform(sequence(1, size(a) - 1),
            |               i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))
            |else cast(array() as array<string>) end""".stripMargin)).as("token"))
      val perDoc = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val nDocs = broadcast(documents(s, d).agg(count(lit(1)).as("n_docs")))
      val idf = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
        .crossJoin(nDocs)
        .withColumn("idf_milli",
          expr("cast(round(ln(cast(n_docs as double) / df) * 1000) as bigint)"))
        .filter(col("idf_milli") >= 1000)
        .select("token", "idf_milli")
      val w = perDoc.join(idf, "token")
        .select(col("doc_id"), col("token"),
          (col("tf") * col("idf_milli")).as("w"))
        .localCheckpoint() // feeds norms, probes AND the index join
      val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
      val probes = w.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("token"), col("w").as("wq"))
      val dots = w.join(broadcast(probes), "token")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id").agg(sum(col("w") * col("wq")).as("dot"))
      val scored = dots
        .join(broadcast(norms.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"), col("n2").as("q2"))), "qid")
        .join(norms, "doc_id")
        .withColumn("cosine", round(col("dot").cast("double") /
          (sqrt(col("q2").cast("double")) * sqrt(col("n2").cast("double"))), 6))
      val wr = Window.partitionBy("qid").orderBy(col("cosine").desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(wr)).filter(col("rank") <= 3)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("doc_id").as("vid"), col("cosine"))
        .orderBy("qid", "rank")
    }),

    // E5 MULTINOMIAL NAIVE BAYES — the classic supervised quality/
    // domain classifier a curation pipeline trains on its own corpus:
    // per-source token likelihoods with Laplace smoothing, docs scored
    // by ln-prior + Σ multiplicity·ln P(token|source), reported as the
    // training confusion matrix. Log-probs are QUANTIZED to integral
    // ppm per (class, token) BEFORE summing, so the per-doc score is
    // an exact bigint sum — order-independent across partitions and
    // engines (a raw double Σln would be reassociation-sensitive); the
    // argmax tie-break is (score desc, class asc). Shape: one token
    // explode, (class, token)-keyed model aggregate, and a doc×classes
    // fan-out bounded by |classes| (the O(1) source dimension) — the
    // model table shuffles on (class, token), never the corpus².
    "q_naive_bayes" -> ((s, d) => {
      val wb = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cs").asc)
      nbScores(s, d)
        .withColumn("rb", row_number().over(wb)).filter(col("rb") === 1)
        .groupBy(col("source").as("true_source"), col("cs").as("pred_source"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_source", "pred_source")
    }),

    // E5 PER-CLASS PRECISION / RECALL / F1 — the eval table one level
    // up from q_naive_bayes' raw confusion grid: tp/fp/fn per class
    // and the three integral-ppm scores every classifier report
    // leads with. Rides the memoized NB score table (the
    // active_learning rule), folds it to O(classes) marginals in two
    // hash-aggs, and NULL-guards the never-predicted /
    // never-true degenerate denominators on both engines (the
    // kappa_milli convention). F1 in ppm is exact bigint:
    // 2·tp·1e6 div (2·tp + fp + fn) — no float harmonic mean.
    "q_class_prf" -> ((s, d) => {
      val wb = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cs").asc)
      val pred = nbScores(s, d)
        .withColumn("rb", row_number().over(wb)).filter(col("rb") === 1)
        .select(col("source").as("t"), col("cs").as("p"))
      val byTrue = pred.groupBy(col("t").as("cls"))
        .agg(sum(when(col("t") === col("p"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("t") =!= col("p"), 1L).otherwise(0L)).as("fn"))
      val byPred = pred.groupBy(col("p").as("cls"))
        .agg(sum(when(col("t") =!= col("p"), 1L).otherwise(0L)).as("fp"))
      byTrue.join(byPred, Seq("cls"), "full_outer")
        .withColumn("tp", coalesce(col("tp"), lit(0L)))
        .withColumn("fn", coalesce(col("fn"), lit(0L)))
        .withColumn("fp", coalesce(col("fp"), lit(0L)))
        .withColumn("precision_ppm", expr(
          "case when tp + fp = 0 then null else tp * 1000000 div (tp + fp) end"))
        .withColumn("recall_ppm", expr(
          "case when tp + fn = 0 then null else tp * 1000000 div (tp + fn) end"))
        .withColumn("f1_ppm", expr(
          """case when 2 * tp + fp + fn = 0 then null
            |else 2 * tp * 1000000 div (2 * tp + fp + fn) end""".stripMargin))
        .select("cls", "tp", "fn", "fp", "precision_ppm", "recall_ppm", "f1_ppm")
        .orderBy("cls")
    }),

    // E5 DSIR IMPORTANCE WEIGHTS (data selection via importance
    // resampling, Xie et al. 2023): score every document by how much
    // more likely its HASHED-UNIGRAM bag is under a target-domain
    // language model (here: the lang='en' slice) than under the raw
    // corpus model — the standard cheap proxy for "train-on-this-
    // first" data selection. Features are md5-hashed token buckets
    // (B=256, the feature-hashing trick: vocab-independent, so the
    // model is a FIXED-SIZE table no matter the corpus); both models
    // are add-one-smoothed unigram LMs; each per-bucket log-ratio is
    // ppm-quantized BEFORE the per-doc weighted sum (the naive_bayes
    // bigint-sum convention — order-independent across partitions and
    // engines). Scale shape: one O(tokens) explode, two ≤256-row
    // bucket aggregates broadcast back, one per-doc hash-agg — the
    // corpus is scanned once and nothing quadratic exists. Output is
    // the per-source selection report (mean weight, positive-weight
    // share) a mixture designer reads.
    "q_dsir_weights" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          explode(wordsOf).as("token"))
        .withColumn("b", expr(
          "pmod(cast(conv(substring(md5(token), 1, 8), 16, 10) as bigint), 256)"))
      val tgt = toks.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val raw = toks.groupBy("b").agg(count(lit(1)).as("cr"))
      val totals = broadcast(raw.agg(sum("cr").as("nr"))
        .crossJoin(tgt.agg(coalesce(sum("ct"), lit(0L)).as("nt"))))
      val ratio = raw.join(tgt, Seq("b"), "left")
        .withColumn("ct", coalesce(col("ct"), lit(0L)))
        .crossJoin(totals)
        .withColumn("lr", expr(
          """cast(round(ln(cast(ct + 1 as double) / (nt + 256)) * 1000000) as bigint)
            |- cast(round(ln(cast(cr + 1 as double) / (nr + 256)) * 1000000) as bigint)"""
            .stripMargin))
        .select("b", "lr")
      toks.groupBy("doc_id", "source", "b").agg(count(lit(1)).as("m"))
        .join(broadcast(ratio), "b")
        .groupBy("doc_id", "source").agg(sum(col("m") * col("lr")).as("w"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum("w").as("sum_w"),
          sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_selected"))
        .withColumn("mean_w", expr("sum_w div n_docs"))
        .withColumn("selected_ppm", expr("n_selected * 1000000 div n_docs"))
        .select("source", "n_docs", "sum_w", "mean_w", "n_selected",
          "selected_ppm")
        .orderBy("source")
    }),

    // E5 TOKENIZER FERTILITY — BPE tokens emitted per whitespace word,
    // per source: THE quick health metric of a trained tokenizer on a
    // corpus slice (fertility near 1 = vocabulary fits the text;
    // high fertility = the source fragments into sub-word shrapnel
    // and will eat context budget). Rides the catalog's own 8-round
    // trained BPE via the shared [[bpeFit]] (the bpe_encode lockstep
    // rule — fertility can never disagree with the encoder it
    // measures), then one O(tokens) explode folded to (source, word)
    // counts joined against the BROADCAST dictionary — a trained
    // vocab is a bounded design artifact, never corpus-sized.
    "q_tokenizer_fertility" -> ((s, d) => {
      val (_, dict) = bpeFitMemo(s, d) // r16: shared memoized fit
      val enc = dict.select(col("word"),
        size(split(trim(col("sym")), " ")).cast("long").as("n_tokens"))
      spreadIfCoarse(documents(s, d))
        .select(col("source"), explode(wordsOf).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("m"))
        .join(broadcast(enc), "word")
        .groupBy("source")
        .agg(sum("m").as("n_words"),
          sum(expr("m * n_tokens")).as("n_bpe_tokens"))
        .withColumn("fertility_ppm",
          expr("n_bpe_tokens * 1000000 div n_words"))
        .orderBy("source")
    }),

    // E5 INTER-ANNOTATOR AGREEMENT — Cohen's κ between two independent
    // deterministic labelers (the q_lang_id contains-priority heuristic
    // vs a marker-count argmax), the metric every labeling pipeline
    // reports before trusting its annotations. Exact bigint end to
    // end: observed/expected agreement cross-multiplied from the
    // confusion marginals, κ in integral milli, the degenerate
    // all-one-label case NULL-guarded. O(labels²) aggregates after one
    // narrow projection.
    "q_annotation_agreement" -> ((s, d) => {
      val lab = documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("a",
          when(col("text").contains(" the "), "en")
            .when(col("text").contains(" der "), "de")
            .when(col("text").contains(" le "), "fr").otherwise("und"))
        .withColumn("cen", (size(split(col("text"), " the ")) - 1).cast("long"))
        .withColumn("cde", (size(split(col("text"), " der ")) - 1).cast("long"))
        .withColumn("cfr", (size(split(col("text"), " le ")) - 1).cast("long"))
        .withColumn("b",
          when(col("cen") + col("cde") + col("cfr") === 0, "und")
            .when(col("cen") >= col("cde") && col("cen") >= col("cfr"), "en")
            .when(col("cde") >= col("cfr"), "de").otherwise("fr"))
      val conf = lab.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        .localCheckpoint() // O(labels²) rows; feeds four tiny aggregates
      val n = conf.agg(sum("n_ab").as("n"))
      val agree = conf.filter(col("a") === col("b"))
        .agg(coalesce(sum("n_ab"), lit(0L)).as("agree"))
      val pe = conf.groupBy("a").agg(sum("n_ab").as("ra"))
        .join(conf.groupBy("b").agg(sum("n_ab").as("cb")),
          col("a") === col("b"))
        .agg(coalesce(sum(col("ra") * col("cb")), lit(0L)).as("pe_n2"))
      broadcast(n).crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
        .select(col("n"), col("agree"),
          expr("agree * 1000000 div n").as("po_ppm"),
          expr("pe_n2 * 1000000 div (n * n)").as("pe_ppm"),
          expr("""case when n * n = pe_n2 then null
                 else (agree * n - pe_n2) * 1000 div (n * n - pe_n2)
                 end""").as("kappa_milli"))
    }),

    // E5 McNEMAR PAIRED TEST — is labeler A actually better than
    // labeler B on the same documents? The paired-classifier
    // significance test every "new model beats old model" claim
    // needs: discordant counts b (A right, B wrong) and c (A wrong,
    // B right) against the lang ground truth, continuity-corrected
    // χ²_milli = (|b−c|−1)²·1000 div (b+c) as ONE cross-multiplied
    // bigint (the q_ab_srm convention — never round(double) a test
    // statistic), NULL on the b+c=0 degenerate. Labelers are the
    // exact q_annotation_agreement pair, so agreement and
    // significance read the same predictions. One corpus scan folded
    // to four counts.
    "q_mcnemar" -> ((s, d) => {
      val lab = documents(s, d).select(col("doc_id"), col("text"), col("lang"))
        .withColumn("la",
          when(col("text").contains(" the "), "en")
            .when(col("text").contains(" der "), "de")
            .when(col("text").contains(" le "), "fr").otherwise("und"))
        .withColumn("cen", (size(split(col("text"), " the ")) - 1).cast("long"))
        .withColumn("cde", (size(split(col("text"), " der ")) - 1).cast("long"))
        .withColumn("cfr", (size(split(col("text"), " le ")) - 1).cast("long"))
        .withColumn("lb",
          when(col("cen") + col("cde") + col("cfr") === 0, "und")
            .when(col("cen") >= col("cde") && col("cen") >= col("cfr"), "en")
            .when(col("cde") >= col("cfr"), "de").otherwise("fr"))
      lab.agg(count(lit(1)).as("n"),
          sum(when(col("la") === col("lang") && col("lb") === col("lang"), 1L)
            .otherwise(0L)).as("both_right"),
          sum(when(col("la") === col("lang") && col("lb") =!= col("lang"), 1L)
            .otherwise(0L)).as("a_only"),
          sum(when(col("la") =!= col("lang") && col("lb") === col("lang"), 1L)
            .otherwise(0L)).as("b_only"))
        .withColumn("chi2_milli", expr(
          """case when a_only + b_only = 0 then null
            |else (abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)
            |  * 1000 div (a_only + b_only) end""".stripMargin))
        .select("n", "both_right", "a_only", "b_only", "chi2_milli")
    }),

    // E5 ACTIVE-LEARNING MARGIN SAMPLING — the label-next queue: the 20
    // documents where the NB classifier is LEAST sure (smallest top-1 −
    // top-2 score margin, in the same integral ppm log-prob units as
    // the memoized score table), with true and predicted class so an
    // annotation round can be audited. Margin via two window ranks over
    // the O(docs·classes) scored table; global bottom-20 plans as
    // TakeOrdered, never a full sort.
    "q_active_learning" -> ((s, d) => {
      val wb = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cs").asc)
      val ranked = nbScores(s, d).withColumn("rb", row_number().over(wb))
      val top1 = ranked.filter(col("rb") === 1)
        .select(col("doc_id"), col("source").as("true_source"),
          col("cs").as("pred_source"), col("score").as("s1"))
      val top2 = ranked.filter(col("rb") === 2)
        .select(col("doc_id"), col("score").as("s2"))
      top1.join(top2, "doc_id")
        .withColumn("margin_lp_ppm", col("s1") - col("s2"))
        .orderBy(col("margin_lp_ppm").asc, col("doc_id").asc)
        .limit(20)
        .select("doc_id", "true_source", "pred_source", "margin_lp_ppm")
    }),

    // E5 LABEL-NOISE SCREEN (confident-learning-lite) — the mirror of
    // the active-learning queue: the 20 documents whose NB prediction
    // DISAGREES with the recorded label by the LARGEST confidence gap
    // (score of predicted class − score of the labeled class, integral
    // ppm log-prob) — the docs most likely mislabeled at ingest, the
    // first list a labeling-pipeline audit pulls. Rides the memoized
    // score table; the gap join is O(docs) against the |classes|-wide
    // scored table and the global top-20 plans as TakeOrdered.
    "q_label_noise" -> ((s, d) => {
      val wb = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cs").asc)
      val top1 = nbScores(s, d).withColumn("rb", row_number().over(wb))
        .filter(col("rb") === 1)
        .select(col("doc_id"), col("source").as("true_source"),
          col("cs").as("pred_source"), col("score").as("sp"))
      val own = nbScores(s, d).filter(col("cs") === col("source"))
        .select(col("doc_id"), col("score").as("st"))
      top1.filter(col("pred_source") =!= col("true_source"))
        .join(own, "doc_id")
        .withColumn("conf_gap_ppm", col("sp") - col("st"))
        .orderBy(col("conf_gap_ppm").desc, col("doc_id").asc)
        .limit(20)
        .select("doc_id", "true_source", "pred_source", "conf_gap_ppm")
    }),

    // E5 ROUGE-2 OVERLAP (probe-bounded) — distinct-bigram recall of
    // each candidate document against 3 probe documents: the summary/
    // paraphrase-evaluation metric, run the scale-safe way — the probe
    // bigram sets broadcast against the corpus bigram index (an
    // equi join on the bigram, the q_tfidf_cosine shape), so cost is
    // index-build + probe-bounded join, never corpus². Recall in
    // integral ppm (match count over the probe's distinct-bigram
    // count); top-5 per probe via the per-probe window over the
    // already-tiny scored set.
    "q_rouge_overlap" -> ((s, d) => {
      val bg = documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), x -> x != '')").as("a"))
        .select(col("doc_id"), explode(expr(
          """case when size(a) >= 2
            |then transform(sequence(1, size(a) - 1),
            |               i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))
            |else cast(array() as array<string>) end""".stripMargin)).as("bigram"))
        .distinct()
        .localCheckpoint() // feeds probe sets, probe sizes AND the index join
      val probes = bg.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("bigram"))
      val probeSz = bg.filter(col("doc_id") < 3)
        .groupBy(col("doc_id").as("qid")).agg(count(lit(1)).as("nq"))
      val inter = bg.join(broadcast(probes), "bigram")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_match"))
      val scored = inter.join(broadcast(probeSz), "qid")
        .withColumn("recall_ppm", expr("n_match * 1000000 div nq"))
      val wr = Window.partitionBy("qid")
        .orderBy(col("recall_ppm").desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("doc_id").as("cand"), col("n_match"), col("recall_ppm"))
        .orderBy("qid", "rank")
    }),

    // E5 FLEISS' KAPPA — inter-annotator agreement generalized to
    // THREE raters (Cohen's κ, q_annotation_agreement, stops at two):
    // the q_lang_id contains-priority labeler, the marker-count
    // argmax, and a third earliest-marker-position labeler vote per
    // document; κ measures agreement above chance across the panel.
    // Entirely integral via the overflow-safe ppm form: per-item
    // Σn_ij(n_ij−1) folds to po_ppm, category marginals quantize to
    // ppm SHARES before squaring (so nothing ever squares a corpus-
    // sized count — safe at any N, unlike the raw (Nr)² form), and
    // κ_milli cross-multiplies with the q_annotation_agreement
    // degenerate NULL guard. One corpus scan → O(docs·4) label
    // explode → two tiny hash-aggs.
    "q_fleiss_kappa" -> ((s, d) => {
      val lab = panelLabels(s, d)
      val nij = lab.select(col("doc_id"),
          explode(array(col("a"), col("b"), col("c"))).as("cat"))
        .groupBy("doc_id", "cat").agg(count(lit(1)).as("nij"))
        .localCheckpoint() // O(docs·cats) rows; feeds both aggregates
      // T = N·r (3 votes/doc); P_o numerator Σ n_ij(n_ij−1) over
      // N·r·(r−1) = 2T; category shares quantized to ppm pre-square.
      val tot = nij.agg(sum("nij").as("t"),
        sum(expr("nij * (nij - 1)")).as("a2"))
      val pe = nij.groupBy("cat").agg(sum("nij").as("cj"))
        .crossJoin(broadcast(tot.select("t")))
        .agg(sum(expr("(cj * 1000000 div t) * (cj * 1000000 div t)")).as("s2"))
        .select(expr("s2 div 1000000").as("pe_ppm"))
      broadcast(tot).crossJoin(broadcast(pe))
        .select(expr("t div 3").as("n_items"),
          expr("a2 * 1000000 div (2 * t)").as("po_ppm"),
          col("pe_ppm"),
          expr("""case when pe_ppm = 1000000 then null
                 else (a2 * 1000000 div (2 * t) - pe_ppm) * 1000
                   div (1000000 - pe_ppm) end""").as("kappa_milli"))
    }),

    // E5 TERM BURSTINESS (Church–Gale) — content words BURST (many
    // occurrences concentrated in few documents: cf/df ≫ 1) while
    // function words spread evenly (cf/df ≈ 1): the corpus statistic
    // behind stopword induction and topical-keyword screens, and the
    // complement of q_zipf_fit's rank view. Pure integer: burst_ppm =
    // cf·10⁶ div df plus the max single-doc count as the concentration
    // witness; df ≥ 5 floor keeps hapax noise out, global top-30 by
    // burstiness. One explode → (token, doc) hash-agg → token
    // hash-agg; the top-30 plans as TakeOrdered, never a full sort.
    "q_burstiness" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(wordsOf).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("m"))
        .groupBy("token").agg(sum("m").as("cf"), count(lit(1)).as("df"),
          max("m").as("max_in_doc"))
        .filter(col("df") >= 5)
        .withColumn("burst_ppm", expr("cf * 1000000 div df"))
        .orderBy(col("burst_ppm").desc, col("token").asc)
        .limit(30)
        .select("token", "cf", "df", "max_in_doc", "burst_ppm")),

    // E5 SELF-BLEU DIVERSITY — the mode-collapse alarm for generated
    // or scraped corpora: for each probe document, what share of its
    // distinct bigrams also appears in ANOTHER document of the same
    // source? High self-BLEU = the source repeats itself (template
    // farms, boilerplate mills); low = genuine diversity. The inverse
    // view of q_rouge_overlap (which FINDS the overlapping pairs).
    // Scale: probe-bounded (the ≤-10-probe-docs convention) — the
    // corpus-side bigram stream is FILTERED by the broadcast probe
    // bigram set before its distinct/agg, so the index is
    // O(probe-bigrams), never corpus-sized, and coverage needs only
    // n_docs ≥ 2 (the probe itself accounts for the first).
    "q_self_bleu" -> ((s, d) => {
      val bg = documents(s, d)
        .select(col("doc_id"), col("source"),
          expr("filter(split(lower(text), ' '), x -> x != '')").as("a"))
        .select(col("doc_id"), col("source"), explode(expr(
          """case when size(a) >= 2
            |then transform(sequence(1, size(a) - 1),
            |               i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))
            |else cast(array() as array<string>) end""".stripMargin)).as("bigram"))
        .distinct()
        .localCheckpoint() // feeds probes AND the filtered corpus index
      val probes = bg.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("source"), col("bigram"))
      val pset = probes.select("source", "bigram").distinct()
      val idx = bg.join(broadcast(pset), Seq("source", "bigram"))
        .groupBy("source", "bigram").agg(count(lit(1)).as("n_docs"))
      val nq = probes.groupBy("qid", "source").agg(count(lit(1)).as("n_bigrams"))
      val cov = probes
        .join(broadcast(idx.filter(col("n_docs") >= 2)), Seq("source", "bigram"))
        .groupBy("qid", "source").agg(count(lit(1)).as("n_covered"))
      nq.join(cov, Seq("qid", "source"), "left")
        .select(col("qid").as("doc_id"), col("source"), col("n_bigrams"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"),
          expr("coalesce(n_covered, CAST(0 AS BIGINT)) * 1000000 div n_bigrams")
            .as("self_bleu_ppm"))
        .orderBy("doc_id")
    }),

    // E5 WEAK SUPERVISION (label model) — the Snorkel-style vote:
    // the three panel labelers become labeling FUNCTIONS whose 'und'
    // output means ABSTAIN, and each document takes the majority
    // label among its non-abstaining votes ((count desc, label asc)
    // deterministic tie-break; zero votes → 'unlabeled'). The report
    // is the label model's health readout per emitted label: volume,
    // unanimity rate, and mean active-voter count — coverage vs
    // confidence, the first table a weak-supervision pipeline
    // inspects before training on its own pseudo-labels. One panel
    // scan (shared with q_fleiss_kappa, the lockstep rule), one
    // explode, two hash-aggs.
    "q_weak_supervision" -> ((s, d) => {
      val lab = panelLabels(s, d)
      val nv = lab.select(col("doc_id"),
        (when(col("a") =!= "und", 1L).otherwise(0L) +
          when(col("b") =!= "und", 1L).otherwise(0L) +
          when(col("c") =!= "und", 1L).otherwise(0L)).as("n_voters"))
      val tally = lab.select(col("doc_id"),
          explode(array(col("a"), col("b"), col("c"))).as("lf"))
        .filter(col("lf") =!= "und")
        .groupBy("doc_id", "lf").agg(count(lit(1)).as("cnt"))
      val picked = tally.withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("lf").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lf").as("label"), col("cnt").as("top_cnt"))
      nv.join(picked, Seq("doc_id"), "left")
        .withColumn("label", coalesce(col("label"), lit("unlabeled")))
        .withColumn("top_cnt", coalesce(col("top_cnt"), lit(0L)))
        .groupBy("label")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("top_cnt") === col("n_voters") && col("n_voters") > 0,
            1L).otherwise(0L)).as("n_unanimous"),
          expr("sum(n_voters) * 1000 div count(1)").as("mean_voters_milli"))
        .orderBy("label")
    }))

  /** The shared 3-labeler panel (doc_id, a, b, c): contains-priority,
    * marker-count argmax, earliest-marker-position — consumed by
    * q_fleiss_kappa AND q_weak_supervision so agreement and the label
    * model read the same votes (the nbScores lockstep rule). 'und'
    * doubles as the abstain token. */
  private def panelLabels(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("a",
        when(col("text").contains(" the "), "en")
          .when(col("text").contains(" der "), "de")
          .when(col("text").contains(" le "), "fr").otherwise("und"))
      .withColumn("cen", (size(split(col("text"), " the ")) - 1).cast("long"))
      .withColumn("cde", (size(split(col("text"), " der ")) - 1).cast("long"))
      .withColumn("cfr", (size(split(col("text"), " le ")) - 1).cast("long"))
      .withColumn("b",
        when(col("cen") + col("cde") + col("cfr") === 0, "und")
          .when(col("cen") >= col("cde") && col("cen") >= col("cfr"), "en")
          .when(col("cde") >= col("cfr"), "de").otherwise("fr"))
      .withColumn("pen", instr(col("text"), " the ").cast("long"))
      .withColumn("pde", instr(col("text"), " der ").cast("long"))
      .withColumn("pfr", instr(col("text"), " le ").cast("long"))
      .withColumn("c",
        when(col("pen") + col("pde") + col("pfr") === 0, "und")
          .when(col("pen") > 0 &&
            (col("pde") === 0 || col("pen") <= col("pde")) &&
            (col("pfr") === 0 || col("pen") <= col("pfr")), "en")
          .when(col("pde") > 0 &&
            (col("pfr") === 0 || col("pde") <= col("pfr")), "de")
          .otherwise("fr"))
      .select("doc_id", "a", "b", "c")

  /** EM rounds for the unigram trainer — shared by q_unigram_train
    * and q_unigram_segment (one constant, zero drift). */
  private val UnigramEmRounds = 2

  /** Viterbi path over `w` under integral micro-nat `sc`ores: the
    * q_unigram_segment DP (max score, then fewer pieces, k-descending
    * strict updates = longest-final-piece on full ties) EXTENDED with
    * chosen-k backtracking, so the E-step can count the pieces the
    * best path actually uses. Returns (score, pieces). Single chars
    * are always scored, so every word has a path. */
  private def unigramViterbi(w: String, sc: Map[String, Long])
      : (Long, Seq[String]) = {
    val n = w.length
    val none = (Long.MinValue / 4, Int.MaxValue)
    val best = Array.fill(n + 1)(none)
    val kOf = new Array[Int](n + 1)
    best(0) = (0L, 0)
    var j = 1
    while (j <= n) {
      var k = math.min(4, j)
      while (k >= 1) {
        val prev = best(j - k)
        if (prev != none) sc.get(w.substring(j - k, j)).foreach { pv =>
          val cand = (prev._1 + pv, prev._2 + 1)
          val cur = best(j)
          if (cand._1 > cur._1 ||
              (cand._1 == cur._1 && cand._2 < cur._2)) {
            best(j) = cand
            kOf(j) = k
          }
        }
        k -= 1
      }
      j += 1
    }
    val pieces = Seq.newBuilder[String]
    var at = n
    while (at > 0) {
      pieces += w.substring(at - kOf(at), at)
      at -= kOf(at)
    }
    (best(n)._1, pieces.result())
  }

  /** The shared unigram-LM fit (q_unigram_train / q_unigram_segment):
    * seed = all ≤4-char substrings of the ≤12-char word dictionary
    * with weighted count ≥ 10, plus every single character; then
    * `rounds` VITERBI-EM iterations — segment every word under the
    * current scores (one broadcast + mapPartitions pass over the
    * dictionary), sum word-frequency-weighted usage per piece (one
    * piece-keyed aggregation), keep multi-char pieces with usage ≥ 10,
    * floor every seed character at count 1, rescore
    * round(10⁶·ln(cnt/total)). Returns (word dictionary, final score
    * map, final (piece, cnt, score) table sorted by piece). All piece
    * tables are alphabet-bounded collects (the TextOps bounded-collect
    * class the scale audit pins). */
  private def unigramFit(s: SparkSession, d: String, rounds: Int)
      : (DataFrame, Map[String, Long], Seq[(String, Long, Long)]) = {
    import s.implicits._
    val words = documents(s, d)
      .select(explode(array_remove(split(lower(col("text")), " "), ""))
        .as("tok"))
      .select(substring(col("tok"), 1, 12).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    var counts: Map[String, Long] = words
      .withColumn("len", length(col("word")))
      .withColumn("pos", explode(expr("sequence(0, len - 1)")))
      .withColumn("k", explode(expr("sequence(1, 4)")))
      .where(col("pos") + col("k") <= col("len"))
      .select(expr("substr(word, pos + 1, k)").as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .where(col("cnt") >= 10 || length(col("piece")) === 1)
      .as[(String, Long)].collect().toMap
    val chars: Set[String] = counts.keySet.filter(_.length == 1)
    def scoresOf(tab: Map[String, Long]): Map[String, Long] = {
      val tot = tab.valuesIterator.sum.toDouble
      tab.map { case (p, c) =>
        // the house ln-rounded-6 integral micro-nat rule: HALF_UP in
        // the BigDecimal sense = half AWAY FROM ZERO, matching SQL
        // ROUND on these (negative) scores — math.round would round
        // half toward +inf and diverge on exact .5 boundaries
        p -> BigDecimal(math.log(c / tot) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
    }
    var scores = scoresOf(counts)
    (0 until rounds).foreach { _ =>
      val bc = s.sparkContext.broadcast(scores)
      val usage: Map[String, Long] = words.as[(String, Long)]
        .mapPartitions { it =>
          val sc = bc.value
          it.flatMap { case (w, f) =>
            unigramViterbi(w, sc)._2.map(p => (p, f)) }
        }
        .toDF("piece", "freq")
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .as[(String, Long)].collect().toMap
      counts = usage.filter { case (p, c) => p.length > 1 && c >= 10 } ++
        chars.map(c => c -> math.max(usage.getOrElse(c, 0L), 1L))
      scores = scoresOf(counts)
    }
    val table = counts.toSeq.sorted.map { case (p, c) => (p, c, scores(p)) }
    (words, scores, table)
  }

  /** The shared BPE fit loop (q_bpe_train / q_bpe_encode): `rounds`
    * iterations of distributed pair counting + one-row argmax collect
    * + leftmost non-overlapping merge application over the persisted
    * word dictionary. Returns (merge table rows, final dictionary
    * state, unpersist thunk) — the caller must invoke the thunk after
    * materializing its result. */
  /** Memoized 8-round BPE fit — r16: THREE consumers (q_bpe_train,
    * q_bpe_encode, q_tokenizer_fertility) each re-ran the full fit:
    * 8 sequential pair-count jobs with a driver argmax round-trip
    * apiece, the serial chain behind all three queries' sub-1 core
    * ratios. One fit now feeds all three; the merge table is a plain
    * driver value (8 rows, deterministic) and the final dictionary
    * state is checkpointed and Blocks-protected like every sibling
    * memo. The 8-round chain itself stays sequential — each round's
    * argmax feeds the next round's replace, the irreducible structure
    * of iterative BPE (documented fixed-overhead floor). */
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Seq[(Long, String, Long)], DataFrame)]

  private def bpeFitMemo(s: SparkSession, d: String)
      : (Seq[(Long, String, Long)], DataFrame) =
    bpeCache.getOrElseUpdate((s, d),
      graft.MemoStats.timed("bpe_fit") {
        val (merges, dict, unpersist) = bpeFit(s, d, rounds = 8)
        try {
          val out = graft.Blocks.protect(dict.localCheckpoint())
          (merges, out)
        } finally unpersist()
      })

  private def bpeFit(s: SparkSession, d: String, rounds: Int)
      : (Seq[(Long, String, Long)], DataFrame, () => Unit) = {
    val dict0 = spreadIfCoarse(documents(s, d))
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("sym",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))
      .persist()
    var dict = dict0
    val merges = Seq.newBuilder[(Long, String, Long)]
    for (r <- 0 until rounds) {
      val best = dict
        .select(col("freq"), split(trim(col("sym")), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(slice(toks, 1, size(toks)-1), " +
            "(t, i) -> concat(t, ' ', element_at(toks, i + 2)))")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()(0)
      val (pair, cnt) = (best.getString(0), best.getLong(1))
      merges += ((r.toLong, pair, cnt))
      dict = dict.withColumn("sym", replace(col("sym"),
        lit(s" $pair "), lit(" " + pair.replace(" ", "") + " ")))
    }
    (merges.result(), dict, () => { dict0.unpersist(false); () })
  }

  /** The q_bpe_train oracle: the same `rounds` BPE iterations
    * unrolled as a materialized CTE chain (w_r = dictionary state,
    * p_r = distributed pair counts, b_r = the round's argmax merge).
    * MATERIALIZED is load-bearing: w_r is referenced twice per round,
    * and inlining would re-derive the whole prefix exponentially. */
  private def bpeOracle(rounds: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT word, COUNT(*)::BIGINT AS freq,
        |         ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS sym
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY word)""".stripMargin
    val steps = (0 until rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT z[1] || ' ' || z[2] AS pair, SUM(freq)::BIGINT AS cnt
         |  FROM (SELECT freq,
         |          unnest(list_zip(toks[1:len(toks)-1], toks[2:])) AS z
         |        FROM (SELECT freq, string_split(trim(sym), ' ') AS toks FROM w$r))
         |  GROUP BY 1),
         |b$r AS MATERIALIZED (SELECT $r::BIGINT AS merge_rank, pair, cnt FROM p$r
         |       ORDER BY cnt DESC, pair ASC LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(sym, (SELECT ' '||pair||' ' FROM b$r),
         |                 (SELECT ' '||replace(pair,' ','')||' ' FROM b$r)) AS sym
         |  FROM w$r)""".stripMargin
    }
    val union = (0 until rounds).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ")
    (w0 +: steps).mkString("WITH ", ",\n", "") +
      s"\nSELECT * FROM ($union) ORDER BY merge_rank"
  }

  /** The q_bpe_encode oracle: the SAME unrolled CTE chain as
    * [[bpeOracle]] (copied prefix — the two stay in lockstep because
    * both are emitted from this one builder pair), but the final
    * SELECT reads the post-merge dictionary state w_rounds instead of
    * the merge table. */
  /** q_wordpiece_encode's oracle: re-derive the corpus vocabulary,
    * then unroll the greedy longest-match as `steps` materialized CTE
    * pairs — per step, four LEFT probes of the vocab (k = 4..2; k = 1
    * is the unconditional fallback exactly as in the Spark loop) and
    * the longest hit advances the cursor. 12 steps cover the 12-char
    * word cap (each step consumes ≥ 1 char). */
  private def wordpieceOracle(steps: Int): String = {
    def pieceSql(k: Int) =
      s"CASE WHEN e.pos = 0 THEN substr(e.word, 1, $k) " +
        s"ELSE '##' || substr(e.word, e.pos + 1, $k) END"
    val stepCtes = (0 until steps).map { i =>
      s"""g$i AS MATERIALIZED (
         |  SELECT e.word, e.freq, e.len, e.pos, e.enc, e.n,
         |    CASE WHEN e.pos >= e.len THEN 0
         |         WHEN v4.piece IS NOT NULL THEN 4
         |         WHEN v3.piece IS NOT NULL THEN 3
         |         WHEN v2.piece IS NOT NULL THEN 2
         |         ELSE 1 END AS kp,
         |    CASE WHEN e.pos >= e.len THEN NULL
         |         ELSE COALESCE(v4.piece, v3.piece, v2.piece,
         |           CASE WHEN e.pos = 0 THEN substr(e.word, 1, 1)
         |                ELSE '##' || substr(e.word, e.pos + 1, 1) END)
         |    END AS pc
         |  FROM e$i e
         |  LEFT JOIN vocab v4 ON e.pos + 4 <= e.len AND v4.piece = ${pieceSql(4)}
         |  LEFT JOIN vocab v3 ON e.pos + 3 <= e.len AND v3.piece = ${pieceSql(3)}
         |  LEFT JOIN vocab v2 ON e.pos + 2 <= e.len AND v2.piece = ${pieceSql(2)}),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT word, freq, len, pos + kp AS pos,
         |    CASE WHEN pc IS NULL THEN enc ELSE enc || pc || ' ' END AS enc,
         |    n + (CASE WHEN pc IS NULL THEN 0 ELSE 1 END) AS n
         |  FROM g$i)""".stripMargin
    }
    s"""WITH toks AS MATERIALIZED (
       |  SELECT substr(t, 1, 12) AS word
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS t
       |        FROM documents)
       |  WHERE t <> ''),
       |wds AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq, length(word) AS len
       |  FROM toks GROUP BY word),
       |pieces AS MATERIALIZED (
       |  SELECT CASE WHEN p.pos = 0 THEN substr(w.word, 1, kk.k)
       |              ELSE '##' || substr(w.word, p.pos + 1, kk.k) END AS piece,
       |         w.freq
       |  FROM wds w, range(0, 12) p(pos), range(1, 5) kk(k)
       |  WHERE p.pos < w.len AND p.pos + kk.k <= w.len),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM pieces GROUP BY piece
       |  HAVING SUM(freq) >= 50
       |      OR (CASE WHEN piece LIKE '##%' THEN length(piece) - 2
       |               ELSE length(piece) END) = 1),
       |e0 AS MATERIALIZED (
       |  SELECT word, freq, len, 0 AS pos, '' AS enc, CAST(0 AS BIGINT) AS n
       |  FROM wds),
       |${stepCtes.mkString(",\n")}
       |SELECT word, freq, n AS n_pieces, trim(enc) AS encoded
       |FROM e$steps ORDER BY word""".stripMargin
  }

  /** The unigram-LM CTE machinery shared by the q_unigram_train and
    * q_unigram_segment oracles — the SQL replica of [[unigramFit]] +
    * [[unigramViterbi]].
    *
    * `fitCtes(rounds)` emits the seed (word dictionary + thresholded
    * substring counts) and then per EM round r: the round's score
    * table from the previous counts, the forward Viterbi DP as
    * `maxLen` materialized CTE pairs CARRYING the winning k per
    * position (winner by score DESC, n ASC, k DESC — identical to the
    * Scala DP's k-descending strict updates), a chosen-k BACKTRACK
    * unrolled as `maxLen` join steps emitting the pieces the best
    * path uses, the usage re-count, and the pruned/floored next
    * count table. The final `scores` CTE is the FITTED table both
    * oracles read. MATERIALIZED is load-bearing throughout (the
    * q_bpe_train precedent): every table is referenced by multiple
    * successors and DuckDB would otherwise re-inline the whole
    * prefix exponentially. */
  private def unigramFitCtes(rounds: Int, maxLen: Int): String = {
    def scoreCte(name: String, from: String): String =
      s"""${name}tot AS MATERIALIZED (
         |  SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM $from),
         |$name AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(ROUND(ln(CAST(cnt AS DOUBLE) / t.total) * 1000000, 0) AS BIGINT) AS sc
         |  FROM $from, ${name}tot t)""".stripMargin
    def fwd(pre: String, scores: String): String = {
      def candSql(j: Int): String = (1 to math.min(4, j)).map { k =>
        s"""  SELECT b.word, b.freq, b.len, b.sc + s.sc AS sc, b.n + 1 AS n, $k AS k
           |  FROM ${pre}b${j - k} b JOIN $scores s
           |    ON s.piece = substr(b.word, ${j - k + 1}, $k)
           |  WHERE b.len >= $j""".stripMargin
      }.mkString("\n  UNION ALL\n")
      val steps = (1 to maxLen).map { j =>
        s"""${pre}c$j AS MATERIALIZED (
           |${candSql(j)}
           |),
           |${pre}b$j AS MATERIALIZED (
           |  SELECT word, freq, len, sc, n, k FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY word
           |      ORDER BY sc DESC, n ASC, k DESC) AS rn
           |    FROM ${pre}c$j) WHERE rn = 1)""".stripMargin
      }
      s"""${pre}b0 AS MATERIALIZED (
         |  SELECT word, freq, len, CAST(0 AS BIGINT) AS sc,
         |         CAST(0 AS BIGINT) AS n, 0 AS k
         |  FROM wds),
         |${steps.mkString(",\n")}""".stripMargin
    }
    def backtrack(pre: String): String = {
      val ball = (1 to maxLen)
        .map(j => s"  SELECT word, $j AS j, k FROM ${pre}b$j")
        .mkString("\n  UNION ALL\n")
      val steps = (1 to maxLen).map { i =>
        s"""${pre}t$i AS MATERIALIZED (
           |  SELECT t.word, t.freq,
           |         substr(t.word, t.p - b.k + 1, b.k) AS piece,
           |         t.p - b.k AS p
           |  FROM ${pre}t${i - 1} t JOIN ${pre}ball b
           |    ON b.word = t.word AND b.j = t.p)""".stripMargin
      }
      val pieces = (1 to maxLen)
        .map(i => s"  SELECT freq, piece FROM ${pre}t$i")
        .mkString("\n  UNION ALL\n")
      s"""${pre}ball AS MATERIALIZED (
         |$ball),
         |${pre}t0 AS MATERIALIZED (
         |  SELECT word, freq, len AS p FROM wds),
         |${steps.mkString(",\n")},
         |${pre}use AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |$pieces
         |  ) GROUP BY piece)""".stripMargin
    }
    val seed =
      s"""toks AS MATERIALIZED (
         |  SELECT substr(t, 1, $maxLen) AS word
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS t
         |        FROM documents)
         |  WHERE t <> ''),
         |wds AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq, length(word) AS len
         |  FROM toks GROUP BY word),
         |cnts0 AS MATERIALIZED (
         |  SELECT substr(w.word, p.pos + 1, kk.k) AS piece,
         |         CAST(SUM(w.freq) AS BIGINT) AS cnt
         |  FROM wds w, range(0, $maxLen) p(pos), range(1, 5) kk(k)
         |  WHERE p.pos < w.len AND p.pos + kk.k <= w.len
         |  GROUP BY 1),
         |tab0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM cnts0
         |  WHERE cnt >= 10 OR length(piece) = 1),
         |chars AS MATERIALIZED (
         |  SELECT piece FROM tab0 WHERE length(piece) = 1)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      val pre = s"r$r"
      s"""${scoreCte(s"sc$r", s"tab${r - 1}")},
         |${fwd(pre, s"sc$r")},
         |${backtrack(pre)},
         |tab$r AS MATERIALIZED (
         |  SELECT piece, cnt FROM ${pre}use
         |  WHERE length(piece) > 1 AND cnt >= 10
         |  UNION ALL
         |  SELECT c.piece, GREATEST(COALESCE(u.cnt, 0), 1) AS cnt
         |  FROM chars c LEFT JOIN ${pre}use u ON u.piece = c.piece)""".stripMargin
    }
    (Seq(seed) ++ roundsSql :+ scoreCte("scores", s"tab$rounds"))
      .mkString(",\n")
  }

  /** q_unigram_train's oracle: the full EM replica, final fitted
    * (piece, count, score) table. */
  private def unigramTrainOracle(rounds: Int, maxLen: Int): String =
    s"""WITH ${unigramFitCtes(rounds, maxLen)}
       |SELECT t.piece, t.cnt, s.sc AS score_micro
       |FROM tab$rounds t JOIN scores s ON s.piece = t.piece
       |ORDER BY t.piece""".stripMargin

  /** q_unigram_segment's oracle: the fitted scores from the SAME EM
    * replica, then one more forward Viterbi DP (the inference pass)
    * reading each word's final row at its own length. */
  private def unigramOracle(rounds: Int, maxLen: Int): String = {
    def candSql(j: Int): String = (1 to math.min(4, j)).map { k =>
      s"""  SELECT b.word, b.freq, b.len, b.sc + s.sc AS sc, b.n + 1 AS n, $k AS k
         |  FROM b${j - k} b JOIN scores s
         |    ON s.piece = substr(b.word, ${j - k + 1}, $k)
         |  WHERE b.len >= $j""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val steps = (1 to maxLen).map { j =>
      s"""c$j AS MATERIALIZED (
         |${candSql(j)}
         |),
         |b$j AS MATERIALIZED (
         |  SELECT word, freq, len, sc, n FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY word
         |      ORDER BY sc DESC, n ASC, k DESC) AS rn
         |    FROM c$j) WHERE rn = 1)""".stripMargin
    }
    val finals = (1 to maxLen)
      .map(j => s"SELECT word, freq, sc, n FROM b$j WHERE len = $j")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${unigramFitCtes(rounds, maxLen)},
       |b0 AS MATERIALIZED (
       |  SELECT word, freq, len, CAST(0 AS BIGINT) AS sc, CAST(0 AS BIGINT) AS n
       |  FROM wds),
       |${steps.mkString(",\n")}
       |SELECT word, freq, sc AS score_micro, n AS n_pieces FROM (
       |  $finals
       |) ORDER BY word""".stripMargin
  }

  private def bpeEncodeOracle(rounds: Int): String = {
    val full = bpeOracle(rounds)
    val prefix = full.substring(0, full.lastIndexOf("\nSELECT"))
    prefix +
      s"""\nSELECT word, freq,
         |  CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_tokens,
         |  trim(sym) AS encoded
         |FROM w$rounds ORDER BY word""".stripMargin
  }

  /** q_fuzzy_match's oracle, shared verbatim with the composed
    * q_er_pipeline oracle so the pipeline can never drift from the
    * blocking it pools. */
  private val fuzzyMatchOracle =
    """WITH clean AS (
        |  SELECT p_partkey AS clean_id, lower(p_name) AS clean_name,
        |    split_part(lower(p_name), ' ', 1) AS blk
        |  FROM part),
        |dirty AS (
        |  SELECT p_partkey AS dirty_id,
        |    substring(lower(p_name), 1, CAST(pos - 1 AS INTEGER)) ||
        |    substring(lower(p_name), CAST(pos + 1 AS INTEGER), 100) AS dirty_name
        |  FROM (
        |    SELECT p_partkey, p_name,
        |      instr(lower(p_name), ' ') + 1 +
        |        (p_partkey % (len(lower(p_name)) - instr(lower(p_name), ' '))) AS pos
        |    FROM part WHERE p_partkey % 3 = 0)),
        |d2 AS (SELECT dirty_id, dirty_name, split_part(dirty_name, ' ', 1) AS blk FROM dirty),
        |cand AS (
        |  SELECT dirty_id, dirty_name, clean_id,
        |    levenshtein(dirty_name, clean_name) AS dist
        |  FROM d2 JOIN clean USING (blk)
        |  WHERE abs(len(dirty_name) - len(clean_name)) <= 2)
        |SELECT dirty_id, dirty_name, clean_id AS matched_id,
        |  CAST(dist AS BIGINT) AS dist, clean_id = dirty_id AS self_match
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_id
        |        ORDER BY dist, clean_id) AS rk
        |      FROM cand WHERE dist <= 2)
        |WHERE rk = 1 ORDER BY dirty_id""".stripMargin

  private val sortedNeighborhoodOracle =
    """WITH clean AS (
        |  SELECT 0 AS side, p_partkey AS id, lower(p_name) AS nm FROM part),
        |dirty AS (
        |  SELECT 1 AS side, p_partkey AS id,
        |    substring(nm, 1, CAST(pos - 1 AS INTEGER)) ||
        |    substring(nm, CAST(pos + 1 AS INTEGER), 200) AS nm
        |  FROM (
        |    SELECT p_partkey, lower(p_name) AS nm,
        |      1 + (p_partkey % len(lower(p_name))) AS pos
        |    FROM part WHERE p_partkey % 3 = 0)),
        |allr AS (SELECT * FROM clean UNION ALL SELECT * FROM dirty),
        |r AS (
        |  SELECT side, id, nm,
        |    ROW_NUMBER() OVER (ORDER BY nm, side, id) AS rn
        |  FROM allr)
        |SELECT CAST(a.side AS BIGINT) AS a_side, a.id AS a_id,
        |  CAST(b.side AS BIGINT) AS b_side, b.id AS b_id,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 4
        |WHERE levenshtein(a.nm, b.nm) <= 2
        |ORDER BY a_side, a_id, b_side, b_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_bpe_train" -> bpeOracle(8),
    "q_bpe_encode" -> bpeEncodeOracle(8),

    "q_wordpiece_encode" -> wordpieceOracle(12),

    "q_unigram_segment" -> unigramOracle(UnigramEmRounds, 12),
    "q_unigram_train" -> unigramTrainOracle(UnigramEmRounds, 12),

    "q_chunk_overlap" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, g.i AS chunk_idx,
        |    ws[g.i * 24 + 1 : g.i * 24 + 32] AS chunk
        |  FROM words, generate_series(0, 1000) g(i)
        |  WHERE len(ws) > 0 AND g.i <= (len(ws) - 1) // 24)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_skipgram_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, u.tok, u.pos FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok,
        |      generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) AS pos
        |    FROM documents) u(doc_id, tok, pos)),
        |pairs AS (
        |  SELECT a.tok AS center, b.tok AS context, COUNT(*) AS n_pairs
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id
        |    AND b.pos - a.pos IN (-2, -1, 1, 2)
        |  GROUP BY 1, 2),
        |vocab AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
        |ranked AS (
        |  SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rv FROM vocab),
        |vs AS (SELECT COUNT(*) AS vsz FROM vocab)
        |SELECT p.center, p.context, CAST(p.n_pairs AS BIGINT) AS n_pairs,
        |  r.tok AS neg_tok
        |FROM pairs p CROSS JOIN vs
        |JOIN ranked r ON r.rv = 1 +
        |  (CAST(('0x' || substr(md5(p.center || '|' || p.context), 1, 14)) AS BIGINT)
        |   % vs.vsz)
        |ORDER BY center, context""".stripMargin,

    "q_sorted_neighborhood" -> sortedNeighborhoodOracle,

    // pools BOTH blockings' verified pairs, then best-match per dirty
    "q_er_pipeline" ->
      s"""WITH equi AS ($fuzzyMatchOracle),
         |srt AS ($sortedNeighborhoodOracle),
         |pooled AS (
         |  SELECT dirty_id, matched_id AS clean_id, dist,
         |    1 AS by_equi, 0 AS by_sorted
         |  FROM equi
         |  UNION ALL
         |  SELECT CASE WHEN a_side = 1 THEN a_id ELSE b_id END,
         |         CASE WHEN a_side = 0 THEN a_id ELSE b_id END,
         |         dist, 0, 1
         |  FROM srt WHERE a_side <> b_side),
         |grp AS (
         |  SELECT dirty_id, clean_id, dist,
         |    MAX(by_equi) AS be, MAX(by_sorted) AS bs
         |  FROM pooled GROUP BY 1, 2, 3),
         |rk AS (
         |  SELECT *, ROW_NUMBER() OVER
         |    (PARTITION BY dirty_id ORDER BY dist, clean_id) AS rk
         |  FROM grp)
         |SELECT dirty_id, clean_id, dist,
         |  CASE WHEN be = 1 AND bs = 1 THEN 'both'
         |       WHEN be = 1 THEN 'equi' ELSE 'sorted' END AS found_by
         |FROM rk WHERE rk = 1 ORDER BY dirty_id""".stripMargin,

    "q_fuzzy_match" -> fuzzyMatchOracle,

    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tk
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM toks
        |       WHERE tk IN ('batch', 'scan', 'data') GROUP BY doc_id, tk),
        |dft AS (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tk),
        |term AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(
        |      ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
        |        * (tf.tf * 2.2)
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))
        |      * 1000000) AS BIGINT) AS score_micro
        |  FROM tf JOIN dft ON tf.tk = dft.tk
        |    JOIN dl ON tf.doc_id = dl.doc_id
        |    CROSS JOIN stats)
        |SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro,
        |  COUNT(*) AS n_terms
        |FROM term GROUP BY doc_id
        |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin,

    "q_rm3_expansion" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tk
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |            CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tk, COUNT(*) AS tf FROM toks
        |       WHERE tk IN ('batch', 'scan', 'data') GROUP BY doc_id, tk),
        |dft AS (SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tk),
        |term AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(
        |      ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
        |        * (tf.tf * 2.2)
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / stats.avgdl)))
        |      * 1000000) AS BIGINT) AS score_micro
        |  FROM tf JOIN dft ON tf.tk = dft.tk
        |    JOIN dl ON tf.doc_id = dl.doc_id
        |    CROSS JOIN stats),
        |scored AS (
        |  SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
        |  FROM term GROUP BY doc_id),
        |top10 AS (
        |  SELECT doc_id, bm25_micro FROM scored
        |  ORDER BY bm25_micro DESC, doc_id LIMIT 10),
        |exp AS (
        |  SELECT t.tk AS term, COUNT(DISTINCT t.doc_id) AS n_docs,
        |    CAST(SUM(s.bm25_micro) AS BIGINT) AS weight_micro
        |  FROM toks t JOIN top10 s USING (doc_id)
        |  WHERE t.tk NOT IN ('batch', 'scan', 'data')
        |  GROUP BY t.tk)
        |SELECT term, n_docs, weight_micro,
        |  ROW_NUMBER() OVER (ORDER BY weight_micro DESC, term) AS rank
        |FROM exp
        |QUALIFY rank <= 8
        |ORDER BY rank""".stripMargin,

    "q_rake_keywords" ->
      """WITH tok0 AS (
        |  SELECT doc_id, g.tk, g.i
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |        FROM documents) d,
        |    LATERAL (SELECT unnest(ws) AS tk,
        |             generate_subscripts(ws, 1) AS i) g),
        |mk AS (
        |  SELECT doc_id, tk, i,
        |    CASE WHEN tk = '' OR tk IN ('the', 'a', 'of', 'and', 'in')
        |      THEN 1 ELSE 0 END AS b
        |  FROM tok0),
        |seg0 AS (
        |  SELECT doc_id, tk, i, b,
        |    CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS seg
        |  FROM mk),
        |segA AS (SELECT doc_id, tk, i, seg FROM seg0 WHERE b = 0),
        |plen AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS plen
        |         FROM segA GROUP BY 1, 2 HAVING COUNT(*) <= 4),
        |seg AS (SELECT s.doc_id, s.tk, s.i, s.seg, p.plen
        |        FROM segA s JOIN plen p USING (doc_id, seg)),
        |wstat AS (
        |  SELECT tk, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(plen) AS BIGINT) AS deg
        |  FROM seg GROUP BY tk),
        |ws AS (SELECT tk, deg * 1000 // freq AS wscore FROM wstat),
        |ph AS (
        |  SELECT s.doc_id, s.seg,
        |    string_agg(s.tk, ' ' ORDER BY s.i) AS phrase,
        |    CAST(SUM(w.wscore) AS BIGINT) AS score_milli
        |  FROM seg s JOIN ws w ON w.tk = s.tk GROUP BY 1, 2),
        |agg AS (
        |  SELECT phrase, COUNT(*) AS n_occur, MAX(score_milli) AS score_milli
        |  FROM ph GROUP BY phrase)
        |SELECT phrase, n_occur, score_milli,
        |  ROW_NUMBER() OVER (ORDER BY score_milli DESC, phrase) AS rank
        |FROM agg
        |QUALIFY rank <= 15
        |ORDER BY rank""".stripMargin,

    "q_token_counts" ->
      """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token ASC""".stripMargin,

    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |t AS (SELECT token FROM toks WHERE token <> ''),
        |tot AS (SELECT COUNT(*) AS total FROM t)
        |SELECT token, COUNT(*) AS n,
        |  COUNT(*) * 1000000 // (SELECT total FROM tot) AS share_ppm
        |FROM t GROUP BY token
        |HAVING COUNT(*) * 200 >= (SELECT total FROM tot)
        |ORDER BY n DESC, token ASC""".stripMargin,

    "q_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |per_doc AS (SELECT doc_id, token, COUNT(*) AS tf_raw FROM toks GROUP BY 1, 2),
        |doc_len AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
        |df AS (SELECT token, COUNT(*) AS df FROM per_doc GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT p.doc_id, p.token,
        |    (CAST(p.tf_raw AS DOUBLE) / l.len)
        |      * ln((SELECT n_docs FROM nd) / d.df) AS score
        |  FROM per_doc p JOIN doc_len l USING (doc_id) JOIN df d USING (token)),
        |ranked AS (
        |  SELECT doc_id, token, score, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
        |  ROUND(score, 6) AS tfidf
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "q_trending_terms" ->
      """WITH mid AS (
        |  SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents),
        |t AS (
        |  SELECT half, token FROM (
        |    SELECT CASE WHEN doc_id <= (SELECT mid FROM mid) THEN 1 ELSE 2 END AS half,
        |      unnest(string_split(lower(text), ' ')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |tot AS (SELECT half, COUNT(*) AS n FROM t GROUP BY 1),
        |rated AS (
        |  SELECT p.half, p.token, p.c * 1000000 // tot.n AS rate_ppm
        |  FROM (SELECT half, token, COUNT(*) AS c FROM t GROUP BY 1, 2) p
        |  JOIN tot USING (half)),
        |j AS (
        |  SELECT COALESCE(a.token, b.token) AS token,
        |    COALESCE(a.rate_ppm, 0) AS r1, COALESCE(b.rate_ppm, 0) AS r2
        |  FROM (SELECT token, rate_ppm FROM rated WHERE half = 1) a
        |  FULL OUTER JOIN (SELECT token, rate_ppm FROM rated WHERE half = 2) b
        |    ON a.token = b.token),
        |ranked AS (
        |  SELECT token, r1, r2, r2 - r1 AS delta_ppm,
        |    ROW_NUMBER() OVER (ORDER BY ABS(r2 - r1) DESC, token ASC) AS rank
        |  FROM j)
        |SELECT CAST(rank AS BIGINT) AS rank, token, r1, r2, delta_ppm
        |FROM ranked WHERE rank <= 20
        |ORDER BY rank""".stripMargin,

    "q_zipf_fit" ->
      """WITH c AS (
        |  SELECT token, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY token),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS rank FROM c),
        |t AS (SELECT CAST(c AS DOUBLE) AS c, CAST(rank AS DOUBLE) AS rank
        |      FROM r WHERE rank <= 100),
        |m AS (
        |  SELECT COUNT(*) AS n, SUM(ln(rank)) AS sx, SUM(ln(c)) AS sy,
        |    SUM(ln(rank) * ln(c)) AS sxy, SUM(ln(rank) * ln(rank)) AS sxx
        |  FROM t)
        |SELECT n, CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
        |  ELSE ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS zipf_exp
        |FROM m""".stripMargin,

    "q_simpson_diversity" ->
      """WITH tf AS (
        |  SELECT source, tk, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS tk FROM documents)
        |  WHERE tk <> '' GROUP BY source, tk)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
        |  CAST(SUM(c * (c - 1)) AS BIGINT) * 1000000
        |    // (CAST(SUM(c) AS BIGINT) * (CAST(SUM(c) AS BIGINT) - 1)) AS simpson_ppm
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,

    "q_readability" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS words,
        |    CAST(len(list_filter(string_split(lower(text), ' '), t -> length(t) > 6)) AS BIGINT) AS longwords,
        |    CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT) AS sents
        |  FROM documents),
        |agg AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(words) AS BIGINT) AS words,
        |    CAST(SUM(sents) AS BIGINT) AS sents,
        |    CAST(SUM(longwords) AS BIGINT) AS longwords
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, words, sents, longwords,
        |  words * 1000 // GREATEST(sents, 1)
        |    + longwords * 100000 // GREATEST(words, 1) AS lix_milli
        |FROM agg ORDER BY source""".stripMargin,

    "q_token_entropy" ->
      """WITH tf AS (
        |  SELECT source, tk, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS tk FROM documents)
        |  WHERE tk <> '' GROUP BY source, tk)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab,
        |  ROUND(ln(CAST(SUM(c) AS DOUBLE)) -
        |        SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c), 6) AS entropy_nats
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,

    "q_mutual_info" ->
      """WITH pres AS (
        |  SELECT tk AS token, source, COUNT(DISTINCT doc_id) AS n_ts FROM (
        |    SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS tk
        |    FROM documents)
        |  WHERE tk <> '' GROUP BY tk, source),
        |src AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        |tot AS (SELECT COUNT(*) AS n FROM documents),
        |toks AS (SELECT token, CAST(SUM(n_ts) AS BIGINT) AS df FROM pres
        |         GROUP BY token HAVING SUM(n_ts) >= 50),
        |cells AS (
        |  SELECT t.token, t.df, s.source, s.n_s,
        |    COALESCE(p.n_ts, 0) AS n_ts, (SELECT n FROM tot) AS n
        |  FROM toks t CROSS JOIN src s
        |  LEFT JOIN pres p ON p.token = t.token AND p.source = s.source),
        |terms AS (
        |  SELECT token, df,
        |    CASE WHEN n_ts > 0
        |      THEN (CAST(n_ts AS DOUBLE) / n) *
        |           ln(CAST(n_ts AS DOUBLE) * n / (df * n_s)) ELSE 0.0 END
        |    + CASE WHEN (n_s - n_ts) > 0 AND (n - df) > 0
        |      THEN (CAST(n_s - n_ts AS DOUBLE) / n) *
        |           ln(CAST(n_s - n_ts AS DOUBLE) * n / ((n - df) * n_s)) ELSE 0.0 END
        |      AS term
        |  FROM cells)
        |SELECT token, df, ROUND(SUM(term), 6) AS mi_nats
        |FROM terms GROUP BY token, df ORDER BY token""".stripMargin,

    "q_unk_vocab" ->
      """WITH counts AS (
        |  SELECT tk, COUNT(*) AS cnt
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tk FROM documents)
        |  WHERE tk <> '' GROUP BY tk)
        |SELECT CASE WHEN cnt < 5 THEN '<unk>' ELSE tk END AS token,
        |  CAST(SUM(cnt) AS BIGINT) AS n_total, COUNT(*) AS n_types
        |FROM counts GROUP BY 1
        |ORDER BY n_total DESC, token""".stripMargin,

    "q_feature_hash" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 64 AS bucket,
        |  COUNT(*) AS n
        |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk FROM documents)
        |WHERE tk <> ''
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "q_cooccur" ->
      """WITH tok0 AS (
        |  SELECT doc_id, g.tk, g.i
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents) d,
        |    LATERAL (SELECT unnest(ws) AS tk, generate_subscripts(ws, 1) AS i) g
        |  WHERE g.tk <> ''),
        |tok AS (SELECT doc_id, tk,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS pos
        |        FROM tok0),
        |pairs AS (
        |  SELECT LEAST(a.tk, b.tk) AS t1, GREATEST(a.tk, b.tk) AS t2
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2))
        |SELECT t1, t2, COUNT(*) AS n FROM pairs GROUP BY 1, 2
        |HAVING COUNT(*) >= 3
        |ORDER BY n DESC, t1, t2""".stripMargin,

    "q_pmi_colloc" ->
      """WITH ws AS (
        |  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |  FROM documents),
        |bi0 AS (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i + 1])) AS bigram
        |  FROM ws),
        |c AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
        |    COUNT(*) AS c12
        |  FROM bi0 GROUP BY 1, 2),
        |m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
        |m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_pairs FROM c)
        |SELECT c.w1, c.w2, c.c12, m1.c1, m2.c2,
        |  c.c12 * tot.n_pairs * 1000000 // (m1.c1 * m2.c2) AS lift_ppm
        |FROM c JOIN m1 USING (w1) JOIN m2 USING (w2), tot
        |WHERE c.c12 >= 2
        |  AND c.c12 * tot.n_pairs * 1000000 // (m1.c1 * m2.c2) >= 2000000
        |ORDER BY lift_ppm DESC, w1, w2""".stripMargin,

    "q_dedup_winnow" ->
      ("WITH " + winnowPairsCte + "\n" +
        """SELECT d1, d2, n_shared FROM wpairs
          |ORDER BY d1, d2""".stripMargin),

    "q_winnow_fingerprint" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS p,
        |    CAST(('0x' || substr(md5(array_to_string(ws[g.i:g.i+4], ' ')), 1, 10)) AS BIGINT) AS h
        |  FROM words, generate_series(1, 2000) g(i) WHERE g.i <= len(ws) - 4),
        |sel AS (
        |  SELECT doc_id, p,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS ng,
        |    MIN(h * 2097152 + (2097151 - p)) OVER (
        |      PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS key
        |  FROM grams),
        |fp AS (SELECT DISTINCT doc_id, key // 2097152 AS h,
        |         2097151 - (key % 2097152) AS fp_pos
        |       FROM sel WHERE p <= ng - 4),
        |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM fp GROUP BY h),
        |per AS (SELECT doc_id, COUNT(*) AS n_fp,
        |         CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fp
        |       FROM fp JOIN nd USING (h) GROUP BY doc_id),
        |sizes AS (SELECT doc_id, CAST(GREATEST(len(ws) - 4, 0) AS BIGINT) AS n_grams FROM words)
        |SELECT s.doc_id, s.n_grams,
        |  COALESCE(p.n_fp, 0) AS n_fp,
        |  COALESCE(p.n_shared_fp, 0) AS n_shared_fp,
        |  COALESCE(COALESCE(p.n_shared_fp, 0) * 1000000 // NULLIF(p.n_fp, 0), 0) AS shared_ppm
        |FROM sizes s LEFT JOIN per p USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "q_cms_join_size" ->
      """WITH dd AS (SELECT unnest([0, 1, 2, 3]) AS d),
        |ca AS (
        |  SELECT dd.d,
        |    CAST(('0x' || substr(md5(dd.d || '|' || o_custkey), 1, 8)) AS BIGINT) % 256 AS b,
        |    COUNT(*) AS n
        |  FROM orders, dd GROUP BY 1, 2),
        |cb AS (
        |  SELECT dd.d,
        |    CAST(('0x' || substr(md5(dd.d || '|' || c_custkey), 1, 8)) AS BIGINT) % 256 AS b,
        |    COUNT(*) AS n
        |  FROM customer, dd GROUP BY 1, 2),
        |dots AS (
        |  SELECT ca.d, CAST(SUM(ca.n * cb.n) AS BIGINT) AS dot
        |  FROM ca JOIN cb ON ca.d = cb.d AND ca.b = cb.b
        |  GROUP BY ca.d),
        |exact AS (
        |  SELECT COUNT(*) AS exact_n
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT (SELECT MIN(dot) FROM dots) AS est_join_n, exact_n,
        |  (SELECT MIN(dot) FROM dots) >= exact_n AS no_undercount
        |FROM exact""".stripMargin,

    "q_dedup_incremental" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.source, a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.token = b.token
        |  WHERE a.doc_id < 400 AND b.doc_id >= 400
        |  GROUP BY a.source, a.doc_id, b.doc_id)
        |SELECT i.source, i.d1 AS base_id, i.d2 AS new_id,
        |  ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) AS jaccard
        |FROM inter i
        |JOIN sizes s1 ON i.d1 = s1.doc_id
        |JOIN sizes s2 ON i.d2 = s2.doc_id
        |WHERE ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) >= 0.8
        |ORDER BY i.source, base_id, new_id""".stripMargin,

    "q_ngram_lm" ->
      """WITH ws AS (
        |  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |  FROM documents),
        |bi AS (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i + 1])) AS bigram
        |  FROM ws),
        |c AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
        |    COUNT(*) AS c12
        |  FROM bi GROUP BY 1, 2),
        |tot AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c GROUP BY w1)
        |SELECT w1, w2, c12, c1, c12 * 1000000 // c1 AS p_micro
        |FROM c JOIN tot USING (w1)
        |WHERE c12 >= 5
        |ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 200""".stripMargin,

    "q_ngram_novelty" ->
      """WITH ws AS (
        |  SELECT source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |  FROM documents),
        |tri AS (
        |  SELECT source, unnest(list_transform(generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
        |  FROM ws),
        |gs AS (SELECT g, source, COUNT(*) AS n_occ FROM tri GROUP BY 1, 2),
        |ns AS (SELECT g, source, n_occ,
        |         COUNT(*) OVER (PARTITION BY g) AS n_src FROM gs)
        |SELECT source, COUNT(*) AS n_trigrams,
        |  CAST(SUM(n_occ) AS BIGINT) AS n_occurrences,
        |  CAST(SUM(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // COUNT(*) AS novelty_ppm
        |FROM ns GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 4 AS b,
        |    t AS token
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  WHERE t <> ''),
        |perb AS (
        |  SELECT b, COUNT(*) AS n_tokens, COUNT(DISTINCT doc_id) AS n_docs
        |  FROM toks GROUP BY b),
        |newt AS (
        |  SELECT mb, COUNT(*) AS new_types FROM (
        |    SELECT MIN(b) AS mb FROM toks GROUP BY token) GROUP BY mb),
        |cum AS (
        |  SELECT p.b,
        |    CAST(SUM(p.n_docs) OVER w AS BIGINT) AS docs_cum,
        |    CAST(SUM(p.n_tokens) OVER w AS BIGINT) AS tokens_cum,
        |    CAST(SUM(COALESCE(n.new_types, 0)) OVER w AS BIGINT) AS types_cum
        |  FROM perb p LEFT JOIN newt n ON n.mb = p.b
        |  WINDOW w AS (ORDER BY p.b ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW)),
        |lagd AS (
        |  SELECT b, docs_cum, tokens_cum, types_cum,
        |    LAG(tokens_cum) OVER (ORDER BY b) AS pt,
        |    LAG(types_cum) OVER (ORDER BY b) AS pv
        |  FROM cum)
        |SELECT b, docs_cum, tokens_cum, types_cum,
        |  CASE WHEN pt IS NULL OR pt = 0 OR pv = 0 OR tokens_cum = pt THEN NULL
        |       ELSE CAST(ROUND(ln(CAST(types_cum AS DOUBLE) / pv) * 1000000)
        |              AS BIGINT) * 1000000
        |         // CAST(ROUND(ln(CAST(tokens_cum AS DOUBLE) / pt) * 1000000)
        |              AS BIGINT)
        |  END AS heaps_beta_micro
        |FROM lagd ORDER BY b""".stripMargin,

    "q_chi2_features" ->
      """WITH pres AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct(list_filter(string_split(lower(text), ' '),
        |      x -> x <> ''))) AS token
        |  FROM documents),
        |top AS (
        |  SELECT token, COUNT(*) AS df FROM pres GROUP BY 1
        |  ORDER BY df DESC, token LIMIT 50),
        |tot AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        |  FROM documents),
        |cc AS (
        |  SELECT p.token, t.df,
        |    CAST(SUM(CASE WHEN p.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN p.lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM pres p JOIN top t USING (token) GROUP BY 1, 2),
        |x AS (
        |  SELECT cc.token, cc.df, cc.a, cc.b,
        |    tot.n_en - cc.a AS c, tot.n_docs - tot.n_en - cc.b AS dd,
        |    tot.n_docs, tot.n_en
        |  FROM cc, tot)
        |SELECT token, df, a, b, c, dd,
        |  COALESCE(((a*dd - b*c) * (a*dd - b*c) // (a + b)) * 1000000
        |    // NULLIF(c + dd, 0) // (a + c) * n_docs // (b + dd), 0) AS chi2_micro
        |FROM x
        |ORDER BY chi2_micro DESC, token""".stripMargin,

    "q_lm_surprisal" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i + 1])) AS bigram
        |  FROM ws),
        |b2 AS (
        |  SELECT doc_id, split_part(bigram, ' ', 1) AS w1,
        |    split_part(bigram, ' ', 2) AS w2
        |  FROM bi),
        |c AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2),
        |tot AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c GROUP BY w1),
        |lm AS (
        |  SELECT w1, w2, c12 * 1000000 // c1 AS p_micro
        |  FROM c JOIN tot USING (w1)),
        |per AS (
        |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(CASE WHEN p_micro < 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_surprising
        |  FROM b2 b JOIN lm USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(p.n_surprising, 0) AS n_surprising,
        |  COALESCE(p.n_surprising * 1000000 // NULLIF(p.n_bigrams, 0), 0) AS surprisal_ppm
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT lang, tk, COUNT(*) AS n
        |  FROM (SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
        |          x -> x <> '')) AS tk
        |        FROM documents)
        |  GROUP BY lang, tk),
        |cum AS (
        |  SELECT lang, n,
        |    ROW_NUMBER() OVER w AS rk,
        |    SUM(n) OVER (PARTITION BY lang ORDER BY n DESC, tk
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM counts
        |  WINDOW w AS (PARTITION BY lang ORDER BY n DESC, tk)),
        |tot AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tok, COUNT(*) AS vocab
        |  FROM counts GROUP BY lang)
        |SELECT c.lang, MAX(t.n_tok) AS n_tokens, MAX(t.vocab) AS vocab_size,
        |  MIN(CASE WHEN c.cum * 100 >= t.n_tok * 90 THEN c.rk END) AS k90,
        |  MIN(CASE WHEN c.cum * 100 >= t.n_tok * 95 THEN c.rk END) AS k95,
        |  MIN(CASE WHEN c.cum * 100 >= t.n_tok * 99 THEN c.rk END) AS k99
        |FROM cum c JOIN tot t USING (lang)
        |GROUP BY c.lang
        |ORDER BY c.lang""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens,
        |    len(list_filter(string_split(lower(text), ' '),
        |        x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token,
        |  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
        |  CASE WHEN n_tokens >= 60 THEN 'long' WHEN n_tokens >= 25 THEN 'medium'
        |       ELSE 'short' END AS length_bucket
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, lang,
        |  CASE WHEN text LIKE '% the %' THEN 'en'
        |       WHEN text LIKE '% der %' THEN 'de'
        |       WHEN text LIKE '% le %' THEN 'fr'
        |       ELSE 'und' END AS guess,
        |  (CASE WHEN text LIKE '% the %' THEN 'en'
        |        WHEN text LIKE '% der %' THEN 'de'
        |        WHEN text LIKE '% le %' THEN 'fr'
        |        ELSE 'und' END) = lang AS hit
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_mix" ->
      """WITH lab AS (
        |  SELECT source,
        |    CASE WHEN text LIKE '% the %' THEN 'en'
        |         WHEN text LIKE '% der %' THEN 'de'
        |         WHEN text LIKE '% le %' THEN 'fr'
        |         ELSE 'und' END AS guess
        |  FROM documents),
        |counts AS (SELECT source, guess, COUNT(*) AS n
        |           FROM lab GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs
        |        FROM counts GROUP BY 1)
        |SELECT c.source, c.guess, c.n, t.n_docs,
        |  c.n * 1000000 // t.n_docs AS share_ppm,
        |  row_number() OVER (PARTITION BY c.source
        |                     ORDER BY c.n DESC, c.guess ASC) = 1 AS is_majority
        |FROM counts c JOIN tot t ON c.source = t.source
        |ORDER BY c.source, c.guess""".stripMargin,

    "q_langid_eval" ->
      """WITH pred AS (
        |  SELECT lang,
        |    CASE WHEN text LIKE '% the %' THEN 'en'
        |         WHEN text LIKE '% der %' THEN 'de'
        |         WHEN text LIKE '% le %' THEN 'fr'
        |         ELSE 'und' END AS guess
        |  FROM documents),
        |conf AS (SELECT lang, guess, COUNT(*) AS n FROM pred GROUP BY 1, 2),
        |bg AS (SELECT guess, CAST(SUM(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
        |bl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM conf GROUP BY 1)
        |SELECT c.lang, c.guess, c.n, g.n_pred, l.n_true,
        |  CASE WHEN c.lang = c.guess THEN c.n * 1000000 // g.n_pred END AS prec_ppm,
        |  CASE WHEN c.lang = c.guess THEN c.n * 1000000 // l.n_true END AS recall_ppm
        |FROM conf c JOIN bg g USING (guess) JOIN bl l USING (lang)
        |ORDER BY c.lang, c.guess""".stripMargin,

    // chr() keeps the SQL ASCII: 769 = U+0301 combining acute,
    // 8491 = ANGSTROM SIGN, 65313 = FULLWIDTH A; DuckDB's own
    // nfc_normalize is the independent Unicode implementation
    "q_unicode_normalize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    substring(text, 1, 16)
        |      || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(8491) ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(65313) ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(raw) AS BIGINT) AS raw_len,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS norm_len,
        |  nfc_normalize(raw) AS norm
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT user_id, event_type, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts ASC, event_id ASC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q_dedup_fuzzy" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.source, a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.token = b.token
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.source, a.doc_id, b.doc_id)
        |SELECT i.source, i.d1, i.d2, i.inter,
        |  s1.sz + s2.sz - i.inter AS uni,
        |  ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) AS jaccard
        |FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id
        |WHERE ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) >= 0.8
        |ORDER BY i.source, i.d1, i.d2""".stripMargin,

    "q_dedup_threshold_sweep" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.source, a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.token = b.token
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.source, a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4)
        |    AS jaccard
        |  FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
        |               JOIN sizes s2 ON i.d2 = s2.doc_id
        |  WHERE ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) >= 0.5),
        |b AS (SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS bucket FROM pairs)
        |SELECT bucket, COUNT(*) AS n_pairs,
        |  CAST(SUM(COUNT(*)) OVER (ORDER BY bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_pairs
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_prefix_cache" ->
      """WITH d AS (
        |  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |p AS (
        |  SELECT CAST(dep.depth AS BIGINT) AS depth,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    array_to_string(toks[1:dep.depth], ' ') AS prefix,
        |    CAST(LEAST(len(toks), dep.depth) AS BIGINT) AS plen
        |  FROM d CROSS JOIN
        |    (SELECT unnest([1, 2, 3, 4]) AS depth) dep),
        |g AS (
        |  SELECT depth, prefix, plen, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(n_tokens) AS BIGINT) AS tk
        |  FROM p GROUP BY 1, 2, 3)
        |SELECT depth, CAST(SUM(cnt) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_groups,
        |  CAST(SUM(tk) AS BIGINT) AS total_tokens,
        |  CAST(SUM((cnt - 1) * plen) AS BIGINT) AS saved_tokens,
        |  CAST(SUM((cnt - 1) * plen) AS BIGINT) * 1000000
        |    // GREATEST(CAST(SUM(tk) AS BIGINT), 1) AS saved_ppm
        |FROM g GROUP BY depth ORDER BY depth""".stripMargin,

    "q_spec_decode_accept" ->
      """WITH t AS (
        |  SELECT doc_id, u.tok, u.pos FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split(lower(text), ' '),
        |        x -> x <> '')) AS tok,
        |      generate_subscripts(list_filter(string_split(lower(text), ' '),
        |        x -> x <> ''), 1) AS pos
        |    FROM documents) u(doc_id, tok, pos)),
        |pairs AS (
        |  SELECT a.tok AS a, b.tok AS b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |draft AS (
        |  SELECT a, b AS draft_b FROM (
        |    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
        |      ORDER BY c DESC, b) AS rn FROM pairs)
        |  WHERE rn = 1)
        |SELECT CAST(SUM(p.c) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN p.b = d.draft_b THEN p.c ELSE 0 END) AS BIGINT)
        |    AS n_accepted,
        |  CAST(COUNT(DISTINCT p.a) AS BIGINT) AS n_contexts,
        |  CAST(SUM(CASE WHEN p.b = d.draft_b THEN p.c ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(SUM(p.c) AS BIGINT) AS accept_ppm
        |FROM pairs p JOIN draft d ON d.a = p.a""".stripMargin,

    "q_cdc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, source, u.tok, u.pos FROM (
        |    SELECT doc_id, source,
        |      unnest(list_filter(string_split(lower(text), ' '),
        |        x -> x <> '')) AS tok,
        |      generate_subscripts(list_filter(string_split(lower(text), ' '),
        |        x -> x <> ''), 1) AS pos
        |    FROM documents) u(doc_id, source, tok, pos)),
        |m AS (
        |  SELECT doc_id, source, tok, pos,
        |    concat_ws(' ', lag(tok, 3) OVER w, lag(tok, 2) OVER w,
        |      lag(tok, 1) OVER w, tok) AS g
        |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |m2 AS (
        |  SELECT doc_id, source, tok, pos,
        |    CASE WHEN pos >= 4 AND
        |      CAST('0x' || substring(md5(g), 1, 8) AS BIGINT) % 16 = 0
        |      THEN 1 ELSE 0 END AS b
        |  FROM m),
        |m3 AS (
        |  SELECT doc_id, source, tok, pos,
        |    CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cid
        |  FROM m2),
        |chunks AS (
        |  SELECT doc_id, source, cid, CAST(COUNT(*) AS BIGINT) AS clen,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
        |  FROM m3 GROUP BY 1, 2, 3)
        |SELECT source, COUNT(*) AS n_chunks,
        |  CAST(COUNT(DISTINCT chash) AS BIGINT) AS n_distinct,
        |  CAST(SUM(clen) AS BIGINT) AS n_tokens,
        |  (COUNT(*) - COUNT(DISTINCT chash)) * 1000000 // COUNT(*)
        |    AS dup_ppm,
        |  CAST(SUM(clen) AS BIGINT) * 1000 // COUNT(*) AS mean_len_milli
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin,

    "q_elbow" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.source, a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.token = b.token
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.source, a.doc_id, b.doc_id),
        |prs AS (
        |  SELECT ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4)
        |    AS jaccard
        |  FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
        |               JOIN sizes s2 ON i.d2 = s2.doc_id
        |  WHERE ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) >= 0.5),
        |bk AS (SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS bucket FROM prs),
        |sweep AS (
        |  SELECT bucket, CAST(SUM(COUNT(*)) OVER (ORDER BY bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_pairs
        |  FROM bk GROUP BY bucket),
        |pts AS (SELECT CAST(bucket AS BIGINT) AS x, cum_pairs AS y FROM sweep),
        |p0 AS (SELECT x AS x0, y AS y0 FROM pts ORDER BY x, y LIMIT 1),
        |p1 AS (SELECT x AS x1, y AS y1 FROM pts ORDER BY x DESC, y DESC LIMIT 1),
        |scored AS (
        |  SELECT pts.x, pts.y,
        |    ABS((p1.x1 - p0.x0) * (pts.y - p0.y0)
        |      - (pts.x - p0.x0) * (p1.y1 - p0.y0)) AS cross2
        |  FROM pts CROSS JOIN p0 CROSS JOIN p1),
        |knee AS (SELECT x AS knee_x FROM scored
        |         ORDER BY cross2 DESC, x LIMIT 1)
        |SELECT s.x AS bucket, s.y AS cum_pairs, s.cross2 AS chord_dist2,
        |  CAST(CASE WHEN s.x = k.knee_x THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_knee
        |FROM scored s CROSS JOIN knee k ORDER BY bucket""".stripMargin,

    "q_dedup_audit_queue" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
        |inter AS (
        |  SELECT a.source, a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.token = b.token
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.source, a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT i.source, i.d1, i.d2, i.inter,
        |    s1.sz + s2.sz - i.inter AS uni,
        |    ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) AS jaccard
        |  FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
        |               JOIN sizes s2 ON i.d2 = s2.doc_id)
        |SELECT source, d1, d2, inter, uni, jaccard
        |FROM pairs
        |WHERE jaccard >= 0.75 AND jaccard < 0.85
        |ORDER BY abs(jaccard - 0.8) ASC, d1 ASC, d2 ASC
        |LIMIT 20""".stripMargin,

    "q_key_skew" ->
      """WITH counts AS (
        |  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
        |stats AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(MAX(n) AS BIGINT) AS max_n
        |  FROM counts),
        |top AS (
        |  SELECT l_suppkey, n FROM counts ORDER BY n DESC, l_suppkey ASC LIMIT 5)
        |SELECT top.l_suppkey AS key, top.n, s.n_keys, s.n_rows,
        |  s.max_n * s.n_keys * 1000000 // s.n_rows AS skew_ratio_micro
        |FROM top, stats s
        |ORDER BY top.n DESC, key ASC""".stripMargin,

    "q_skew_salted_agg" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_skew_salted_join" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100
        |    AS total_spend
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |toks2 AS (SELECT * FROM toks WHERE token <> ''),
        |per_doc AS (SELECT doc_id, token, COUNT(*) AS tf_raw FROM toks2 GROUP BY doc_id, token),
        |doc_len AS (SELECT doc_id, COUNT(*) AS len FROM toks2 GROUP BY doc_id),
        |df AS (SELECT token, COUNT(*) AS df FROM per_doc GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT p.doc_id, p.token,
        |  ROUND((CAST(p.tf_raw AS DOUBLE) / l.len)
        |        * ln(CAST(n.n_docs AS DOUBLE) / f.df), 6) AS tfidf
        |FROM per_doc p JOIN doc_len l ON p.doc_id = l.doc_id
        |JOIN df f ON p.token = f.token CROSS JOIN n
        |WHERE p.doc_id < 50
        |ORDER BY p.doc_id, p.token""".stripMargin,

    "q_simhash" -> {
      val sums = (1 to 16).map(i =>
        s"SUM(CASE WHEN substring(h, $i, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END) AS s$i")
        .mkString(", ")
      val fp = (1 to 16).map(i => s"CASE WHEN s$i >= 0 THEN '1' ELSE '0' END")
        .mkString("concat(", ", ", ")")
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
         |hashed AS (SELECT doc_id, md5(token) AS h FROM tok WHERE token <> ''),
         |sums AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id)
         |SELECT doc_id, $fp AS fingerprint, substring($fp, 1, 8) AS bucket
         |FROM sums ORDER BY doc_id""".stripMargin
    },

    "q_lsh_tuning" -> {
      val sigCols = (0 until 8)
        .map(i => s"MIN(md5('$i|' || token)) AS h$i").mkString(", ")
      def bandsFor(b: Int): String = {
        val r = 8 / b
        (0 until b).map { i =>
          val key = (0 until r).map(j => s"h${i * r + j}").mkString(" || '|' || ")
          s"SELECT doc_id, $i AS band_id, md5($key) AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
      }
      val cfgCtes = Seq(2, 4, 8).map { b =>
        s"""cap$b AS MATERIALIZED (
           |  SELECT * FROM (
           |    SELECT doc_id, band_id, band_key,
           |      row_number() OVER (PARTITION BY band_id, band_key
           |                         ORDER BY doc_id) AS rnk
           |    FROM (${bandsFor(b)})) WHERE rnk <= 64),
           |cand$b AS MATERIALIZED (
           |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           |  FROM cap$b x JOIN cap$b y
           |    ON x.band_id = y.band_id AND x.band_key = y.band_key
           |  WHERE x.doc_id < y.doc_id),
           |ver$b AS MATERIALIZED (
           |  SELECT c.d1, c.d2,
           |    CASE WHEN 2 * COALESCE(iv.inter, 0)
           |           >= s1.sz + s2.sz - COALESCE(iv.inter, 0)
           |         THEN 1 ELSE 0 END AS is_true
           |  FROM cand$b c
           |  JOIN sizes s1 ON s1.doc_id = c.d1
           |  JOIN sizes s2 ON s2.doc_id = c.d2
           |  LEFT JOIN iv ON iv.d1 = c.d1 AND iv.d2 = c.d2)""".stripMargin
      }.mkString(",\n")
      val countRows = Seq(2, 4, 8).map { b =>
        s"""SELECT $b AS n_bands,
           |    (SELECT COUNT(*) FROM ver$b) AS n_candidates,
           |    (SELECT CAST(COALESCE(SUM(is_true), 0) AS BIGINT) FROM ver$b)
           |      AS n_true_cand,
           |    (SELECT CAST(COALESCE(SUM(is_true), 0) AS BIGINT) FROM ver$b
           |     WHERE d1 < 50) AS probe_hits""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH tok AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
         |  FROM documents),
         |tok2 AS MATERIALIZED (SELECT * FROM tok WHERE token <> ''),
         |sig AS MATERIALIZED (SELECT doc_id, $sigCols FROM tok2 GROUP BY doc_id),
         |sizes AS MATERIALIZED (
         |  SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
         |iv AS MATERIALIZED (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
         |  FROM tok2 a JOIN tok2 b ON a.token = b.token
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |$cfgCtes,
         |truth AS MATERIALIZED (
         |  SELECT i.d1, i.d2
         |  FROM iv i
         |  JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id
         |  WHERE i.d1 < 50 AND 2 * i.inter >= s1.sz + s2.sz - i.inter),
         |counts AS (
         |  $countRows)
         |SELECT CAST(n_bands AS BIGINT) AS n_bands,
         |  CAST(8 // n_bands AS BIGINT) AS rows_per_band,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_true_cand AS BIGINT) AS n_true_cand,
         |  CAST(probe_hits AS BIGINT) AS probe_hits,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS probe_truth,
         |  CASE WHEN n_candidates = 0 THEN NULL
         |       ELSE CAST(n_true_cand AS BIGINT) * 1000000 // n_candidates
         |  END AS precision_ppm,
         |  CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
         |       ELSE CAST(probe_hits AS BIGINT) * 1000000
         |         // (SELECT COUNT(*) FROM truth)
         |  END AS recall_ppm
         |FROM counts ORDER BY n_bands""".stripMargin
    },

    "q_simhash_eval" -> {
      val sums = (1 to 16).map(i =>
        s"SUM(CASE WHEN substring(h, $i, 1) BETWEEN '8' AND 'f' THEN 1 ELSE -1 END) AS s$i")
        .mkString(", ")
      val fp = (1 to 16).map(i => s"CASE WHEN s$i >= 0 THEN '1' ELSE '0' END")
        .mkString("concat(", ", ", ")")
      val ham = (1 to 16).map(i =>
        s"CASE WHEN substring(a.fingerprint, $i, 1) <> substring(b.fingerprint, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH tok AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, source,
         |    unnest(string_split(lower(text), ' ')) AS token FROM documents),
         |tok2 AS MATERIALIZED (SELECT * FROM tok WHERE token <> ''),
         |hashed AS (SELECT doc_id, source, md5(token) AS h FROM tok2),
         |sums AS (SELECT doc_id, source, $sums FROM hashed GROUP BY doc_id, source),
         |fps AS (SELECT doc_id, source, $fp AS fingerprint FROM sums),
         |capped AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT doc_id, source, fingerprint,
         |      substring(fingerprint, 1, 8) AS bucket,
         |      row_number() OVER (PARTITION BY source, substring(fingerprint, 1, 8)
         |                         ORDER BY doc_id) AS rnk
         |    FROM fps) WHERE rnk <= 64),
         |cand AS MATERIALIZED (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM capped a JOIN capped b
         |    ON a.source = b.source AND a.bucket = b.bucket
         |  WHERE a.doc_id < b.doc_id AND ($ham) <= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
         |  FROM tok2 a JOIN tok2 b ON a.source = b.source AND a.token = b.token
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS MATERIALIZED (
         |  SELECT i.d1, i.d2
         |  FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id
         |               JOIN sizes s2 ON i.d2 = s2.doc_id
         |  WHERE ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4)
         |    >= 0.5),
         |nums AS (
         |  SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
         |    (SELECT COUNT(*) FROM truth) AS n_truth,
         |    (SELECT COUNT(*) FROM cand JOIN truth
         |       ON truth.d1 = cand.d1 AND truth.d2 = cand.d2) AS n_hits)
         |SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_truth AS BIGINT) AS n_truth, CAST(n_hits AS BIGINT) AS n_hits,
         |  CASE WHEN n_candidates = 0 THEN NULL
         |       ELSE CAST(n_hits AS BIGINT) * 1000000 // n_candidates
         |  END AS precision_ppm,
         |  CASE WHEN n_truth = 0 THEN NULL
         |       ELSE CAST(n_hits AS BIGINT) * 1000000 // n_truth
         |  END AS recall_ppm
         |FROM nums""".stripMargin
    },

    "q_token_bpe" ->
      """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+|[^\w\s]+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC""".stripMargin,

    "q_rolling_fingerprint" ->
      """SELECT doc_id, n_chars,
        |  list_reduce(list_transform(string_split_regex(text, ''), x -> CAST(ascii(x) AS BIGINT)),
        |              (a, b) -> (a * 31 + b) % 1099511627776) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_setsim_prefix" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |inv AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2]), 1, 15)) AS BIGINT)
        |      AS sh
        |  FROM words, generate_series(1, 1000) g(i) WHERE g.i <= len(ws) - 2),
        |r1 AS (SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM inv),
        |r2 AS (SELECT doc_id, sh, df,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, sh) AS rn,
        |         COUNT(*) OVER (PARTITION BY doc_id) AS sz
        |       FROM r1),
        |prefix AS (SELECT doc_id, sh FROM r2
        |           WHERE rn <= sz - ((4 * sz + 4) // 5) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM inv GROUP BY doc_id),
        |inter AS (
        |  SELECT c.d1, c.d2, COUNT(*) AS inter
        |  FROM cand c
        |  JOIN inv x ON x.doc_id = c.d1
        |  JOIN inv y ON y.doc_id = c.d2 AND y.sh = x.sh
        |  GROUP BY c.d1, c.d2)
        |SELECT i.d1, i.d2, i.inter,
        |  s1.sz + s2.sz - i.inter AS uni,
        |  ROUND(CAST(i.inter AS DOUBLE) / (s1.sz + s2.sz - i.inter), 4) AS jaccard
        |FROM inter i
        |JOIN sizes s1 ON i.d1 = s1.doc_id
        |JOIN sizes s2 ON i.d2 = s2.doc_id
        |WHERE i.inter * 5 >= (s1.sz + s2.sz - i.inter) * 4
        |ORDER BY i.d1, i.d2""".stripMargin,

    "q_substring_dup" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, g.i AS p,
        |    CAST(('0x' || substr(md5(array_to_string(ws[g.i:g.i+9], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM words, generate_series(1, 2000) g(i) WHERE g.i <= len(ws) - 9),
        |nd AS (SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        |dups AS (SELECT doc_id, p FROM grams JOIN nd USING (h)),
        |cov AS (
        |  SELECT doc_id, COUNT(*) AS n_dup_windows,
        |    CAST(SUM(LEAST(10, COALESCE(nxt - p, 10))) AS BIGINT) AS covered
        |  FROM (SELECT doc_id, p,
        |          LEAD(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
        |        FROM dups)
        |  GROUP BY doc_id),
        |sizes AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_toks FROM words)
        |SELECT s.doc_id, s.n_toks,
        |  COALESCE(c.n_dup_windows, 0) AS n_dup_windows,
        |  COALESCE(c.covered, 0) AS covered,
        |  COALESCE(COALESCE(c.covered, 0) * 1000000 // NULLIF(s.n_toks, 0), 0) AS cov_ppm
        |FROM sizes s LEFT JOIN cov c USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "q_containment" ->
      """WITH words AS (
        |  SELECT source, doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh_all AS (
        |  SELECT DISTINCT source, doc_id,
        |    CAST(('0x' || substr(md5(ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2]), 1, 15)) AS BIGINT)
        |      AS shingle_h
        |  FROM words, generate_series(1, 1000) g(i) WHERE g.i <= len(ws) - 2),
        |sh AS (
        |  SELECT source, doc_id, shingle_h FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY source, shingle_h) AS df FROM sh_all)
        |  WHERE df <= 64),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.shingle_h = b.shingle_h
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT p.d1, p.d2, p.inter, s1.sz AS sz1, s2.sz AS sz2,
        |  p.inter * 1000000 // LEAST(s1.sz, s2.sz) AS overlap_micro
        |FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id JOIN sizes s2 ON p.d2 = s2.doc_id
        |WHERE p.inter * 10 >= 3 * LEAST(s1.sz, s2.sz)
        |ORDER BY p.d1, p.d2""".stripMargin,

    "q_strip_markup" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    '<html><body><p class="t">' || replace(text, ' ', '&nbsp;') ||
        |      '</p><br/></body></html>' AS html
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, text, html,
        |    trim(regexp_replace(
        |      replace(regexp_replace(html, '<[^>]+>', ' ', 'g'), '&nbsp;', ' '),
        |      ' +', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id, CAST(length(html) AS INTEGER) AS html_len, clean,
        |  clean = text AS roundtrip
        |FROM st ORDER BY doc_id""".stripMargin,

    "q_shingle_jaccard" ->
      """WITH words AS (
        |  SELECT source, doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh_all AS (
        |  SELECT DISTINCT source, doc_id,
        |    CAST(('0x' || substr(md5(ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2]), 1, 15)) AS BIGINT)
        |      AS shingle_h
        |  FROM words, generate_series(1, 1000) g(i) WHERE g.i <= len(ws) - 2),
        |sh AS (
        |  SELECT source, doc_id, shingle_h FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY source, shingle_h) AS df FROM sh_all)
        |  WHERE df <= 64),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.shingle_h = b.shingle_h
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT p.d1, p.d2, p.inter,
        |  s1.sz + s2.sz - p.inter AS uni,
        |  ROUND(CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter), 4) AS jaccard
        |FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id JOIN sizes s2 ON p.d2 = s2.doc_id
        |WHERE ROUND(CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter), 4) >= 0.1
        |ORDER BY p.d1, p.d2""".stripMargin,

    "q_stratified_sample" ->
      """SELECT source, doc_id, lang FROM documents
        |WHERE substring(md5('smp|' || doc_id), 1, 2) < '34'
        |ORDER BY doc_id""".stripMargin,

    "q_train_split" ->
      """WITH s AS (
        |  SELECT source, doc_id,
        |    CASE WHEN substring(md5('split|' || doc_id), 1, 2) < 'e6'
        |         THEN 'train' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT source, split, COUNT(*) AS n, MIN(doc_id) AS min_doc
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,

    "q_sample_per_group" ->
      """WITH h AS (
        |  SELECT source, doc_id, md5('res|' || doc_id) AS h FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS rank
        |  FROM h)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "q_weighted_sample" ->
      """WITH k AS (
        |  SELECT source, doc_id, n_chars,
        |    -ln((CAST(('0x' || substr(md5('wrs|' || doc_id), 1, 8)) AS BIGINT) + 0.5)
        |        / 4294967296.0) / n_chars AS wkey
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY wkey ASC NULLS FIRST, doc_id ASC NULLS FIRST) AS rank
        |  FROM k)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, doc_id, n_tokens,
        |  CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
        |  CAST((cum - n_tokens) - CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) * 512
        |       AS BIGINT) AS pack_offset
        |FROM c ORDER BY source, doc_id""".stripMargin,

    "q_repetition_filter" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, ws[g.i] || ' ' || ws[g.i+1] AS gram
        |  FROM words, generate_series(1, 1000) g(i) WHERE g.i <= len(ws) - 1),
        |per AS (SELECT doc_id, gram, COUNT(*) AS n FROM grams GROUP BY doc_id, gram),
        |m AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS uniq,
        |         MAX(n) AS top_n
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id, total,
        |  ROUND(CAST(total - uniq AS DOUBLE) / total, 4) AS dup_frac,
        |  ROUND(CAST(top_n AS DOUBLE) / total, 4) AS top_frac,
        |  (ROUND(CAST(total - uniq AS DOUBLE) / total, 4) <= 0.04
        |   AND ROUND(CAST(top_n AS DOUBLE) / total, 4) <= 0.05) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_passage_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, g.i AS pidx,
        |         array_to_string(ws[g.i*8+1 : g.i*8+8], ' ') AS passage
        |  FROM words, generate_series(0, 1000) g(i)
        |  WHERE len(ws) > 0 AND g.i <= (len(ws) - 1) // 8),
        |r AS (
        |  SELECT doc_id, pidx, passage,
        |         row_number() OVER (PARTITION BY passage
        |                            ORDER BY doc_id ASC, pidx ASC) AS rn
        |  FROM p)
        |SELECT doc_id, CAST(pidx AS BIGINT) AS pidx, md5(passage) AS phash,
        |       rn = 1 AS kept
        |FROM r ORDER BY doc_id, pidx""".stripMargin,

    "q_decontaminate" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2] || ' ' || ws[g.i+3] AS gram
        |  FROM words, generate_series(1, 1000) g(i) WHERE g.i <= len(ws) - 3),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
        |SELECT g.doc_id, COUNT(*) AS n_hits, COUNT(*) >= 3 AS flagged
        |FROM grams g
        |WHERE g.doc_id % 50 <> 0 AND g.gram IN (SELECT gram FROM bench)
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q_passage_scrub" ->
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, g.i AS pidx,
        |         array_to_string(ws[g.i*8+1 : g.i*8+8], ' ') AS passage
        |  FROM words, generate_series(0, 1000) g(i)
        |  WHERE len(ws) > 0 AND g.i <= (len(ws) - 1) // 8),
        |r AS (
        |  SELECT doc_id, pidx, passage,
        |         row_number() OVER (PARTITION BY passage
        |                            ORDER BY doc_id ASC, pidx ASC) AS rn
        |  FROM p)
        |SELECT doc_id, COUNT(*) AS n_kept,
        |       string_agg(passage, ' ' ORDER BY pidx) AS clean_text
        |FROM r WHERE rn = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // derived-invariant oracle (round-8 verdict item 6): KLL estimates
    // are arrival-order dependent, but the tie-safe rank-containment
    // booleans Spark computes FROM them must be true — a drifting
    // sketch now fails the driver gate instead of being skipped
    "q_kll_quantiles" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(40000 AS BIGINT) AS bound_rank_ppm,
        |  true AS p50_ok, true AS p90_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_cms_freq" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |t2 AS (SELECT token FROM toks WHERE token <> ''),
        |dd AS (SELECT unnest([0, 1, 2, 3]) AS d),
        |counters AS (
        |  SELECT dd.d,
        |    CAST(('0x' || substr(md5(dd.d || '|' || token), 1, 8)) AS BIGINT) % 256 AS b,
        |    COUNT(*) AS c
        |  FROM t2 CROSS JOIN dd GROUP BY 1, 2),
        |top AS (
        |  SELECT token, COUNT(*) AS true_n FROM t2 GROUP BY token
        |  ORDER BY true_n DESC, token ASC LIMIT 20),
        |probe AS (
        |  SELECT t.token, t.true_n, dd.d,
        |    CAST(('0x' || substr(md5(dd.d || '|' || t.token), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM top t CROSS JOIN dd)
        |SELECT p.token, p.true_n, MIN(c.c) AS est_n,
        |       MIN(c.c) >= p.true_n AS no_undercount
        |FROM probe p JOIN counters c ON p.d = c.d AND p.b = c.b
        |GROUP BY p.token, p.true_n
        |ORDER BY p.true_n DESC, p.token ASC""".stripMargin,

    "q_minhash_lsh" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('0|' || token)) AS h0, MIN(md5('1|' || token)) AS h1,
        |    MIN(md5('2|' || token)) AS h2, MIN(md5('3|' || token)) AS h3,
        |    MIN(md5('4|' || token)) AS h4, MIN(md5('5|' || token)) AS h5,
        |    MIN(md5('6|' || token)) AS h6, MIN(md5('7|' || token)) AS h7
        |  FROM tok2 GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band_id, md5(h0 || '|' || h1) AS band_key FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig)
        |SELECT band_id, band_key, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM bands GROUP BY band_id, band_key
        |HAVING COUNT(*) > 1
        |ORDER BY band_id, band_key""".stripMargin,

    // exact-vs-LSH recall, probe docs < 50, Jaccard >= 1/2; the b>a
    // orientation filter mirrors the Spark side so each unordered pair
    // counts once
    "q_lsh_recall" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
        |truth AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tok2 a JOIN tok2 b ON a.token = b.token
        |    AND a.doc_id < 50 AND b.doc_id > a.doc_id
        |  GROUP BY 1, 2),
        |tpairs AS (
        |  SELECT t.d1, t.d2 FROM truth t
        |  JOIN sizes s1 ON t.d1 = s1.doc_id JOIN sizes s2 ON t.d2 = s2.doc_id
        |  WHERE t.inter * 2 >= (s1.sz + s2.sz - t.inter)),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('0|' || token)) AS h0, MIN(md5('1|' || token)) AS h1,
        |    MIN(md5('2|' || token)) AS h2, MIN(md5('3|' || token)) AS h3,
        |    MIN(md5('4|' || token)) AS h4, MIN(md5('5|' || token)) AS h5,
        |    MIN(md5('6|' || token)) AS h6, MIN(md5('7|' || token)) AS h7
        |  FROM tok2 GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band_id, md5(h0 || '|' || h1) AS band_key FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band_id = b.band_id
        |    AND a.band_key = b.band_key
        |    AND a.doc_id < 50 AND b.doc_id > a.doc_id),
        |hit AS (SELECT * FROM tpairs INTERSECT SELECT * FROM cand)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM tpairs) AS BIGINT) AS n_truth,
        |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
        |  CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hits,
        |  CAST((SELECT COUNT(*) FROM hit) * 1000000 //
        |       (SELECT COUNT(*) FROM tpairs) AS BIGINT) AS recall_ppm""".stripMargin,

    "q_cross_source_dup" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('0|' || token)) AS h0, MIN(md5('1|' || token)) AS h1,
        |    MIN(md5('2|' || token)) AS h2, MIN(md5('3|' || token)) AS h3,
        |    MIN(md5('4|' || token)) AS h4, MIN(md5('5|' || token)) AS h5,
        |    MIN(md5('6|' || token)) AS h6, MIN(md5('7|' || token)) AS h7
        |  FROM tok2 GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band_id, md5(h0 || '|' || h1) AS band_key FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
        |cool AS (
        |  SELECT band_id, band_key FROM bands
        |  GROUP BY band_id, band_key
        |  HAVING COUNT(*) <= 64 AND COUNT(*) > 1),
        |keep AS (
        |  SELECT b.doc_id, b.band_id, b.band_key
        |  FROM bands b JOIN cool c ON b.band_id = c.band_id
        |    AND b.band_key = c.band_key),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM keep a JOIN keep b ON a.band_id = b.band_id
        |    AND a.band_key = b.band_key
        |  WHERE b.doc_id > a.doc_id),
        |cs AS (
        |  SELECT c.d1, c.d2, da.source AS src_a, db.source AS src_b
        |  FROM cand c JOIN documents da ON da.doc_id = c.d1
        |              JOIN documents db ON db.doc_id = c.d2
        |  WHERE da.source <> db.source),
        |ver AS (
        |  SELECT cs.src_a, cs.src_b
        |  FROM cs JOIN sig sa ON sa.doc_id = cs.d1
        |          JOIN sig sb ON sb.doc_id = cs.d2
        |  WHERE (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) +
        |        (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) +
        |        (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) +
        |        (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) +
        |        (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) +
        |        (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) +
        |        (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) +
        |        (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) >= 6)
        |SELECT LEAST(src_a, src_b) AS src_lo,
        |  GREATEST(src_a, src_b) AS src_hi, COUNT(*) AS n_dups
        |FROM ver GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_template_prefix" ->
      """WITH pref AS (
        |  SELECT source,
        |    array_to_string(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')[1:5], ' ') AS prefix
        |  FROM documents),
        |counts AS (SELECT source, prefix, COUNT(*) AS n
        |           FROM pref GROUP BY 1, 2),
        |tot AS (SELECT source, COUNT(*) AS n_docs FROM pref GROUP BY 1),
        |top AS (SELECT source, prefix, n FROM (
        |  SELECT source, prefix, n,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n DESC, prefix ASC) AS rn
        |  FROM counts) WHERE rn = 1)
        |SELECT t.source, t.prefix, t.n, o.n_docs,
        |  t.n * 1000000 // o.n_docs AS share_ppm
        |FROM top t JOIN tot o ON t.source = o.source
        |ORDER BY t.source""".stripMargin,

    "q_minhash_est" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tok2 AS (SELECT * FROM tok WHERE token <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok2 GROUP BY doc_id),
        |ex AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM tok2 a JOIN tok2 b ON a.token = b.token
        |    AND a.doc_id < 50 AND b.doc_id > a.doc_id
        |  GROUP BY 1, 2),
        |exj AS (
        |  SELECT e.d1, e.d2,
        |    e.inter * 1000000 // (s1.sz + s2.sz - e.inter) AS exact_ppm
        |  FROM ex e JOIN sizes s1 ON e.d1 = s1.doc_id
        |            JOIN sizes s2 ON e.d2 = s2.doc_id
        |  WHERE e.inter * 1000000 // (s1.sz + s2.sz - e.inter) >= 100000),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('0|' || token)) AS h0, MIN(md5('1|' || token)) AS h1,
        |    MIN(md5('2|' || token)) AS h2, MIN(md5('3|' || token)) AS h3,
        |    MIN(md5('4|' || token)) AS h4, MIN(md5('5|' || token)) AS h5,
        |    MIN(md5('6|' || token)) AS h6, MIN(md5('7|' || token)) AS h7
        |  FROM tok2 GROUP BY doc_id),
        |est AS (
        |  SELECT x.exact_ppm,
        |    CAST(((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) +
        |     (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) +
        |     (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) +
        |     (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) +
        |     (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) +
        |     (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) +
        |     (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) +
        |     (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) * 125000 AS BIGINT)
        |      AS est_ppm
        |  FROM exj x JOIN sig sa ON sa.doc_id = x.d1
        |             JOIN sig sb ON sb.doc_id = x.d2)
        |SELECT COUNT(*) AS n_pairs,
        |  CAST(SUM(exact_ppm) AS BIGINT) // COUNT(*) AS mean_exact_ppm,
        |  CAST(SUM(est_ppm) AS BIGINT) // COUNT(*) AS mean_est_ppm,
        |  CAST(SUM(abs(est_ppm - exact_ppm)) AS BIGINT) // COUNT(*)
        |    AS mean_abs_err_ppm,
        |  CAST(MAX(abs(est_ppm - exact_ppm)) AS BIGINT) AS max_abs_err_ppm
        |FROM est""".stripMargin,

    "q_tfidf_cosine" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(a)),
        |                          i -> a[i] || ' ' || a[i + 1])) AS token
        |  FROM arr),
        |per_doc AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |idf AS (
        |  SELECT token,
        |    CAST(ROUND(ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / COUNT(*))
        |      * 1000) AS BIGINT) AS idf_milli
        |  FROM per_doc GROUP BY token),
        |w AS (
        |  SELECT p.doc_id, p.token, p.tf * i.idf_milli AS w
        |  FROM per_doc p JOIN idf i ON p.token = i.token
        |  WHERE i.idf_milli >= 1000),
        |norms AS (
        |  SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM w GROUP BY 1),
        |probes AS (SELECT doc_id AS qid, token, w AS wq FROM w WHERE doc_id < 3),
        |dots AS (
        |  SELECT p.qid, w.doc_id, CAST(SUM(w.w * p.wq) AS BIGINT) AS dot
        |  FROM w JOIN probes p ON w.token = p.token
        |  WHERE w.doc_id <> p.qid GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.qid, d.doc_id,
        |    ROUND(CAST(d.dot AS DOUBLE) /
        |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nd.n2 AS DOUBLE))), 6)
        |      AS cosine
        |  FROM dots d
        |  JOIN norms nq ON nq.doc_id = d.qid
        |  JOIN norms nd ON nd.doc_id = d.doc_id)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id AS vid, cosine FROM (
        |  SELECT qid, doc_id, cosine,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY cosine DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "q_annotation_agreement" ->
      """WITH lab AS (
        |  SELECT doc_id,
        |    CASE WHEN text LIKE '% the %' THEN 'en'
        |         WHEN text LIKE '% der %' THEN 'de'
        |         WHEN text LIKE '% le %' THEN 'fr' ELSE 'und' END AS a,
        |    CAST(len(string_split(text, ' the ')) - 1 AS BIGINT) AS cen,
        |    CAST(len(string_split(text, ' der ')) - 1 AS BIGINT) AS cde,
        |    CAST(len(string_split(text, ' le ')) - 1 AS BIGINT) AS cfr
        |  FROM documents),
        |lab2 AS (
        |  SELECT doc_id, a,
        |    CASE WHEN cen + cde + cfr = 0 THEN 'und'
        |         WHEN cen >= cde AND cen >= cfr THEN 'en'
        |         WHEN cde >= cfr THEN 'de' ELSE 'fr' END AS b
        |  FROM lab),
        |conf AS (SELECT a, b, COUNT(*) AS n_ab FROM lab2 GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM conf),
        |ag AS (SELECT CAST(COALESCE(SUM(n_ab), 0) AS BIGINT) AS agree
        |       FROM conf WHERE a = b),
        |pe AS (
        |  SELECT CAST(COALESCE(SUM(r.ra * c.cb), 0) AS BIGINT) AS pe_n2
        |  FROM (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS ra FROM conf GROUP BY a) r
        |  JOIN (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS cb FROM conf GROUP BY b) c
        |    ON r.a = c.b)
        |SELECT t.n, ag.agree,
        |  ag.agree * 1000000 // t.n AS po_ppm,
        |  pe.pe_n2 * 1000000 // (t.n * t.n) AS pe_ppm,
        |  CASE WHEN t.n * t.n = pe.pe_n2 THEN NULL
        |       ELSE (ag.agree * t.n - pe.pe_n2) * 1000 // (t.n * t.n - pe.pe_n2)
        |  END AS kappa_milli
        |FROM tot t, ag, pe""".stripMargin,

    "q_mcnemar" ->
      """WITH lab AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN text LIKE '% the %' THEN 'en'
        |         WHEN text LIKE '% der %' THEN 'de'
        |         WHEN text LIKE '% le %' THEN 'fr' ELSE 'und' END AS la,
        |    CAST(len(string_split(text, ' the ')) - 1 AS BIGINT) AS cen,
        |    CAST(len(string_split(text, ' der ')) - 1 AS BIGINT) AS cde,
        |    CAST(len(string_split(text, ' le ')) - 1 AS BIGINT) AS cfr
        |  FROM documents),
        |lab2 AS (
        |  SELECT doc_id, lang, la,
        |    CASE WHEN cen + cde + cfr = 0 THEN 'und'
        |         WHEN cen >= cde AND cen >= cfr THEN 'en'
        |         WHEN cde >= cfr THEN 'de' ELSE 'fr' END AS lb
        |  FROM lab),
        |agg AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN la = lang AND lb = lang THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_right,
        |    CAST(SUM(CASE WHEN la = lang AND lb <> lang THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a_only,
        |    CAST(SUM(CASE WHEN la <> lang AND lb = lang THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b_only
        |  FROM lab2)
        |SELECT n, both_right, a_only, b_only,
        |  CASE WHEN a_only + b_only = 0 THEN NULL
        |       ELSE (ABS(a_only - b_only) - 1) * (ABS(a_only - b_only) - 1)
        |         * 1000 // (a_only + b_only)
        |  END AS chi2_milli
        |FROM agg""".stripMargin,

    "q_naive_bayes" -> (nbScoredCte +
      """,
        |pred AS (
        |  SELECT doc_id, source, cs FROM (
        |    SELECT doc_id, source, cs,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY score DESC, cs ASC) AS rb
        |    FROM scored) WHERE rb = 1)
        |SELECT source AS true_source, cs AS pred_source, COUNT(*) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_class_prf" -> (nbScoredCte +
      """,
        |pred AS (
        |  SELECT source AS t, cs AS p FROM (
        |    SELECT source, cs,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY score DESC, cs ASC) AS rb
        |    FROM scored) WHERE rb = 1),
        |bt AS (
        |  SELECT t AS cls,
        |    CAST(SUM(CASE WHEN t = p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN t <> p THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM pred GROUP BY 1),
        |bp AS (
        |  SELECT p AS cls,
        |    CAST(SUM(CASE WHEN t <> p THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM pred GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(bt.cls, bp.cls) AS cls,
        |    COALESCE(tp, 0) AS tp, COALESCE(fn, 0) AS fn,
        |    COALESCE(fp, 0) AS fp
        |  FROM bt FULL OUTER JOIN bp ON bt.cls = bp.cls)
        |SELECT cls, tp, fn, fp,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |       ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
        |  CASE WHEN tp + fn = 0 THEN NULL
        |       ELSE tp * 1000000 // (tp + fn) END AS recall_ppm,
        |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
        |       ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
        |FROM m ORDER BY cls""".stripMargin),

    "q_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source, lang, t AS token
        |  FROM (SELECT doc_id, source, lang,
        |          unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  WHERE t <> ''),
        |tb AS (
        |  SELECT doc_id, source, lang,
        |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM toks),
        |raw AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY 1),
        |tgt AS (SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS nr,
        |    (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS nt),
        |ratio AS (
        |  SELECT raw.b,
        |    CAST(ROUND(ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
        |      / (tot.nt + 256)) * 1000000) AS BIGINT)
        |    - CAST(ROUND(ln(CAST(raw.cr + 1 AS DOUBLE)
        |      / (tot.nr + 256)) * 1000000) AS BIGINT) AS lr
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
        |docw AS (
        |  SELECT db.doc_id, db.source, CAST(SUM(db.m * ratio.lr) AS BIGINT) AS w
        |  FROM (SELECT doc_id, source, b, COUNT(*) AS m
        |        FROM tb GROUP BY 1, 2, 3) db
        |  JOIN ratio ON db.b = ratio.b GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(w) AS BIGINT) AS sum_w,
        |  CAST(SUM(w) AS BIGINT) // COUNT(*) AS mean_w,
        |  CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
        |  CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // COUNT(*) AS selected_ppm
        |FROM docw GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tokenizer_fertility" -> {
      val full = bpeOracle(8)
      full.substring(0, full.lastIndexOf("\nSELECT")) +
        """,
          |srctok AS (
          |  SELECT source, t AS word
          |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS t
          |        FROM documents)
          |  WHERE t <> ''),
          |sc AS (SELECT source, word, COUNT(*) AS m FROM srctok GROUP BY 1, 2),
          |enc AS (SELECT word,
          |          CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_tokens
          |        FROM w8)
          |SELECT sc.source, CAST(SUM(sc.m) AS BIGINT) AS n_words,
          |  CAST(SUM(sc.m * enc.n_tokens) AS BIGINT) AS n_bpe_tokens,
          |  CAST(SUM(sc.m * enc.n_tokens) AS BIGINT) * 1000000
          |    // CAST(SUM(sc.m) AS BIGINT) AS fertility_ppm
          |FROM sc JOIN enc ON sc.word = enc.word
          |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_active_learning" -> (nbScoredCte +
      """,
        |rk AS (
        |  SELECT doc_id, source, cs, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, cs ASC) AS rb
        |  FROM scored),
        |t1 AS (SELECT doc_id, source AS true_source, cs AS pred_source,
        |         score AS s1 FROM rk WHERE rb = 1),
        |t2 AS (SELECT doc_id, score AS s2 FROM rk WHERE rb = 2)
        |SELECT t1.doc_id, t1.true_source, t1.pred_source,
        |  t1.s1 - t2.s2 AS margin_lp_ppm
        |FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id
        |ORDER BY margin_lp_ppm ASC, t1.doc_id ASC LIMIT 20""".stripMargin),

    "q_label_noise" -> (nbScoredCte +
      """,
        |rk AS (
        |  SELECT doc_id, source, cs, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, cs ASC) AS rb
        |  FROM scored),
        |t1 AS (SELECT doc_id, source AS true_source, cs AS pred_source,
        |         score AS sp FROM rk WHERE rb = 1),
        |own AS (SELECT doc_id, score AS st FROM scored WHERE cs = source)
        |SELECT t1.doc_id, t1.true_source, t1.pred_source,
        |  t1.sp - own.st AS conf_gap_ppm
        |FROM t1 JOIN own ON t1.doc_id = own.doc_id
        |WHERE t1.pred_source <> t1.true_source
        |ORDER BY conf_gap_ppm DESC, t1.doc_id ASC LIMIT 20""".stripMargin),

    "q_rouge_overlap" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
        |  FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(a)),
        |                          i -> a[i] || ' ' || a[i + 1])) AS bigram
        |  FROM arr),
        |probes AS (SELECT doc_id AS qid, bigram FROM bg WHERE doc_id < 3),
        |psz AS (SELECT qid, COUNT(*) AS nq FROM probes GROUP BY qid),
        |inter AS (
        |  SELECT p.qid, bg.doc_id, COUNT(*) AS n_match
        |  FROM bg JOIN probes p ON bg.bigram = p.bigram
        |  WHERE bg.doc_id <> p.qid GROUP BY 1, 2),
        |scored AS (
        |  SELECT i.qid, i.doc_id, i.n_match,
        |    i.n_match * 1000000 // s.nq AS recall_ppm
        |  FROM inter i JOIN psz s ON i.qid = s.qid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id AS cand,
        |  n_match, recall_ppm
        |FROM (
        |  SELECT qid, doc_id, n_match, recall_ppm,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY recall_ppm DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q_fleiss_kappa" -> (panelCte +
      """,
        |v AS (SELECT doc_id, unnest([a, b, c]) AS cat FROM lab2),
        |nij AS (SELECT doc_id, cat, COUNT(*) AS nij FROM v GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS t,
        |          CAST(SUM(nij * (nij - 1)) AS BIGINT) AS a2 FROM nij),
        |pe AS (
        |  SELECT CAST(SUM((m.cj * 1000000 // t.t) * (m.cj * 1000000 // t.t))
        |           // 1000000 AS BIGINT) AS pe_ppm
        |  FROM (SELECT cat, CAST(SUM(nij) AS BIGINT) AS cj
        |        FROM nij GROUP BY cat) m, tot t)
        |SELECT t.t // 3 AS n_items,
        |  t.a2 * 1000000 // (2 * t.t) AS po_ppm,
        |  pe.pe_ppm,
        |  CASE WHEN pe.pe_ppm = 1000000 THEN NULL
        |       ELSE (t.a2 * 1000000 // (2 * t.t) - pe.pe_ppm) * 1000
        |         // (1000000 - pe.pe_ppm)
        |  END AS kappa_milli
        |FROM tot t, pe""".stripMargin),

    "q_burstiness" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |    FROM documents)
        |  WHERE t <> ''),
        |m AS (SELECT token, doc_id, COUNT(*) AS m FROM tok GROUP BY 1, 2),
        |agg AS (
        |  SELECT token, CAST(SUM(m) AS BIGINT) AS cf, COUNT(*) AS df,
        |    CAST(MAX(m) AS BIGINT) AS max_in_doc
        |  FROM m GROUP BY token HAVING COUNT(*) >= 5)
        |SELECT token, cf, df, max_in_doc, cf * 1000000 // df AS burst_ppm
        |FROM agg ORDER BY burst_ppm DESC, token LIMIT 30""".stripMargin,

    "q_self_bleu" ->
      """WITH arr AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
        |  FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, len(a)),
        |                          i -> a[i] || ' ' || a[i + 1])) AS bigram
        |  FROM arr),
        |probes AS (
        |  SELECT doc_id AS qid, source, bigram FROM bg WHERE doc_id < 10),
        |idx AS (
        |  SELECT b.source, b.bigram, COUNT(*) AS n_docs
        |  FROM bg b JOIN (SELECT DISTINCT source, bigram FROM probes) p
        |    ON b.source = p.source AND b.bigram = p.bigram
        |  GROUP BY 1, 2),
        |nq AS (SELECT qid, source, COUNT(*) AS n_bigrams
        |       FROM probes GROUP BY 1, 2),
        |cov AS (
        |  SELECT p.qid, p.source, COUNT(*) AS n_covered
        |  FROM probes p JOIN idx i
        |    ON i.source = p.source AND i.bigram = p.bigram AND i.n_docs >= 2
        |  GROUP BY 1, 2)
        |SELECT n.qid AS doc_id, n.source, n.n_bigrams,
        |  CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
        |  CAST(COALESCE(c.n_covered, 0) * 1000000 // n.n_bigrams AS BIGINT)
        |    AS self_bleu_ppm
        |FROM nq n LEFT JOIN cov c ON c.qid = n.qid AND c.source = n.source
        |ORDER BY doc_id""".stripMargin,

    "q_weak_supervision" -> (panelCte +
      """,
        |nv AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN a <> 'und' THEN 1 ELSE 0 END
        |       + CASE WHEN b <> 'und' THEN 1 ELSE 0 END
        |       + CASE WHEN c <> 'und' THEN 1 ELSE 0 END AS BIGINT) AS n_voters
        |  FROM lab2),
        |tally AS (
        |  SELECT doc_id, lf, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, unnest([a, b, c]) AS lf FROM lab2)
        |  WHERE lf <> 'und' GROUP BY 1, 2),
        |picked AS (
        |  SELECT doc_id, lf AS label, cnt AS top_cnt FROM (
        |    SELECT doc_id, lf, cnt,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id
        |                         ORDER BY cnt DESC, lf ASC) AS rn
        |    FROM tally) WHERE rn = 1),
        |lv AS (
        |  SELECT nv.doc_id, nv.n_voters,
        |    COALESCE(p.label, 'unlabeled') AS label,
        |    CAST(COALESCE(p.top_cnt, 0) AS BIGINT) AS top_cnt
        |  FROM nv LEFT JOIN picked p ON p.doc_id = nv.doc_id)
        |SELECT label, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN top_cnt = n_voters AND n_voters > 0
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_unanimous,
        |  CAST(SUM(n_voters) AS BIGINT) * 1000 // COUNT(*)
        |    AS mean_voters_milli
        |FROM lv GROUP BY label ORDER BY label""".stripMargin))

  /** The 3-labeler panel as DuckDB CTEs ending with `lab2`
    * (doc_id, a, b, c) — shared by the Fleiss and weak-supervision
    * oracles, in lockstep with [[panelLabels]]. */
  private lazy val panelCte =
    """WITH lab AS (
      |  SELECT doc_id,
      |    CASE WHEN text LIKE '% the %' THEN 'en'
      |         WHEN text LIKE '% der %' THEN 'de'
      |         WHEN text LIKE '% le %' THEN 'fr' ELSE 'und' END AS a,
      |    CAST(len(string_split(text, ' the ')) - 1 AS BIGINT) AS cen,
      |    CAST(len(string_split(text, ' der ')) - 1 AS BIGINT) AS cde,
      |    CAST(len(string_split(text, ' le ')) - 1 AS BIGINT) AS cfr,
      |    CAST(strpos(text, ' the ') AS BIGINT) AS pen,
      |    CAST(strpos(text, ' der ') AS BIGINT) AS pde,
      |    CAST(strpos(text, ' le ') AS BIGINT) AS pfr
      |  FROM documents),
      |lab2 AS (
      |  SELECT doc_id, a,
      |    CASE WHEN cen + cde + cfr = 0 THEN 'und'
      |         WHEN cen >= cde AND cen >= cfr THEN 'en'
      |         WHEN cde >= cfr THEN 'de' ELSE 'fr' END AS b,
      |    CASE WHEN pen + pde + pfr = 0 THEN 'und'
      |         WHEN pen > 0 AND (pde = 0 OR pen <= pde)
      |           AND (pfr = 0 OR pen <= pfr) THEN 'en'
      |         WHEN pde > 0 AND (pfr = 0 OR pde <= pfr) THEN 'de'
      |         ELSE 'fr' END AS c
      |  FROM lab)""".stripMargin

  /** The NB train-and-score pipeline as DuckDB CTEs ending with
    * `scored` (doc_id, source, cs, score) — shared by the confusion
    * oracle and the active-learning margin oracle (the kmeansCte
    * rule). Kept in lockstep with [[nbScoresPlan]]. */
  private lazy val nbScoredCte =
    """WITH toks AS (
      |  SELECT doc_id, source, t AS token
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split(lower(text), ' ')) AS t
      |        FROM documents)
      |  WHERE t <> ''),
      |doctok AS (
      |  SELECT doc_id, source, token, COUNT(*) AS m
      |  FROM toks GROUP BY 1, 2, 3),
      |counts AS (
      |  SELECT source AS cs, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |vocab AS (SELECT COUNT(DISTINCT token) AS v FROM toks),
      |dens AS (
      |  SELECT cs, CAST(SUM(c) AS BIGINT) + (SELECT v FROM vocab) AS den
      |  FROM counts GROUP BY cs),
      |priors AS (
      |  SELECT source AS cs,
      |    CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE) /
      |      (SELECT COUNT(*) FROM documents)) * 1000000) AS BIGINT) AS lprior
      |  FROM documents GROUP BY source),
      |scoredtok AS (
      |  SELECT dt.doc_id, dt.source, dn.cs,
      |    CAST(SUM(dt.m * CAST(ROUND(ln(
      |      CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / dn.den) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS score_tok
      |  FROM doctok dt CROSS JOIN dens dn
      |  LEFT JOIN counts c ON c.cs = dn.cs AND c.token = dt.token
      |  GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT st.doc_id, st.source, st.cs,
      |    p.lprior + st.score_tok AS score
      |  FROM scoredtok st JOIN priors p ON p.cs = st.cs)""".stripMargin

}
