package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.etl.{CleanJob, Pipeline, Warehouse, WarehouseLoad}
import graft.schema.Schemas

/** Structured Streaming forms of the engine's pipelines (SURVEY.md §1.1:
  * the reference is batch-only, but its incremental-load semantics are
  * `foreachBatch`-ready; this module is that streaming mode).
  *
  * Scale notes: the file source lists+tracks new files per trigger (the
  * streaming version of the reference's manually-triggered scrape drops);
  * watermarks bound state for the windowed aggregations; the SCD upsert
  * reuses the exact batch logic via foreachBatch, so batch and streaming
  * stay semantically identical (one code path to test).
  */
object StreamingJobs {

  /** Streaming clean stage: watch a directory for raw product NDJSON
    * drops, apply X1 speed parsing, emit cleaned records. */
  def cleanStream(spark: SparkSession, rawPath: String): DataFrame =
    CleanJob.cleanProducts(
      spark.readStream
        .schema(Schemas.rawProduct)
        .json(rawPath))

  /** Hourly tumbling-window event aggregation with a 2-hour watermark —
    * the streaming form of q_event_window. State per (window, type) is
    * dropped once the watermark passes, bounding memory at any scale. */
  def eventWindowStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** 30-minute-gap sessionization via the built-in session_window —
    * the streaming form of q_sessionize (state bounded by watermark). */
  def sessionStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))

  /** Streaming exact dedup (the E1 operator's incremental form): keep
    * the first row per key, dropping any duplicate that arrives within
    * the watermark horizon. State = one entry per key seen inside the
    * horizon, dropped once the watermark passes — bounded memory at any
    * scale; duplicates straddling a gap larger than the watermark are
    * the documented (and tunable) blind spot, exactly as in any
    * watermark-bounded streaming dedup. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: purchases attributed to clicks by the
    * same user within the preceding hour — both sides watermarked so
    * the join state (buffered unmatched rows) is dropped once an
    * event's match window can no longer receive data. The time-bound
    * condition is what makes unbounded stream×stream feasible: state
    * per side is O(events inside watermark+interval), not O(stream).
    * Columns must be pre-renamed (cuser/cts vs user_id/pts) — Spark
    * requires distinct names across the two stream sides. */
  def attributionStream(purchases: DataFrame, clicks: DataFrame): DataFrame =
    purchases.withWatermark("pts", "2 hours")
      .join(clicks.withWatermark("cts", "2 hours"),
        expr("""cuser = user_id
                AND cts >= pts - interval 1 hour
                AND cts < pts"""),
        "inner")

  /** Incremental sketch profile: per-group HLL distinct estimate and
    * Count-Min counters maintained across micro-batches. This is the
    * payoff of implementing the sketches as mergeable
    * TypedImperativeAggregates (functions.HllSketch / CmsSketch): the
    * streaming state store holds ONE fixed-size buffer per group (4 KiB
    * registers / 8 KiB counters), each micro-batch folds in via the
    * same merge() used map-side in batch, and both merges are
    * order-independent (bytewise max / elementwise add) — so the
    * streaming result after any number of batches is IDENTICAL to the
    * batch sketch over the union of inputs, regardless of arrival
    * order (pinned by StreamingSpec). At 100 TB-of-stream this
    * replaces an unbounded distinct/frequency state with O(groups)
    * constant-size state and no rescan. */
  def sketchProfileStream(tokens: DataFrame): DataFrame =
    tokens.groupBy("source")
      .agg(graft.functions.HllSketch.hllDistinct(col("token")).as("distinct_est"),
        graft.functions.CmsSketch.cms(col("token")).as("cms"))

  /** Event for the custom-state sessionizer (epoch seconds, not
    * Timestamp, so the case-class Encoder stays trivial). */
  case class SessionEvent(user_id: Long, epoch: Long, value: Double)
  /** Open-session state carried between micro-batches (one per user —
    * O(active users) cluster state, dropped on timeout). */
  case class SessionState(start: Long, lastSeen: Long, n: Long, total: Double)
  /** Emitted closed session. */
  case class ClosedSession(user_id: Long, session_start: Long,
                           session_end: Long, n_events: Long, session_value: Double)

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * arbitrary-state form of [[sessionStream]] for semantics
    * session_window can't express (here: emit ONLY closed sessions,
    * closed by gap evidence — a later event from the same user more
    * than `gapSeconds` after the last). State is one small case class
    * per user in the state store, replaced the moment its session
    * closes. Events within a micro-batch are sorted per group; the gap
    * rule matches the batch form (q_sessionize) so the two stay
    * comparable. Late events (below the open session's horizon) are a
    * single-state approximation of the batch result: within a gap of
    * the open session they merge (extending start backwards, never
    * dragging lastSeen down); older than a full gap they emit as their
    * own closed singleton — a late event that would have BRIDGED two
    * already-closed sessions in the batch view cannot re-open them
    * here, the inherent limit of O(1) state per key.
    *
    * Closing is EVENT-driven by default (deterministic, replayable —
    * the engine's determinism policy). Set `processingTimeTimeout` to
    * also close idle sessions on a wall-clock timer
    * (GroupStateTimeout.ProcessingTimeTimeout): that is what bounds
    * state for users who never return, but it makes emission
    * wall-clock-dependent AND keeps the micro-batch engine scheduling
    * timeout-evaluation batches (never quiescent — don't drive such a
    * query with processAllAvailable in tests).
    */
  def sessionizeWithState(events: org.apache.spark.sql.Dataset[SessionEvent],
                          gapSeconds: Long = 1800L,
                          processingTimeTimeout: Boolean = false):
      org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val timeout =
      if (processingTimeTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, timeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start, s.lastSeen, s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(_.epoch)
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.epoch - s.lastSeen >= gapSeconds =>
                  // on-time gap: close the current session, open a new one
                  closed += ClosedSession(user, s.start, s.lastSeen, s.n, s.total)
                  cur = Some(SessionState(e.epoch, e.epoch, 1L, e.value))
                case Some(s) if e.epoch <= s.start - gapSeconds =>
                  // LATE event older than the open session by a full gap:
                  // it belongs to an earlier, already-over session — emit
                  // it as its own closed singleton rather than polluting
                  // the open session's stats
                  closed += ClosedSession(user, e.epoch, e.epoch, 1L, e.value)
                case Some(s) =>
                  // joins the open session. min/max: a late event may
                  // extend the session BACKWARDS (start) but must never
                  // drag the forward horizon (lastSeen) down — otherwise
                  // a later on-time event would measure its gap against
                  // a stale minimum and close a still-active session
                  cur = Some(s.copy(start = math.min(s.start, e.epoch),
                    lastSeen = math.max(s.lastSeen, e.epoch),
                    n = s.n + 1, total = s.total + e.value))
                case None =>
                  cur = Some(SessionState(e.epoch, e.epoch, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (processingTimeTimeout) state.setTimeoutDuration(gapSeconds * 1000)
            }
            closed.iterator
          }
      }
  }

  /** Change-detecting warehouse upsert as a streaming sink: every
    * micro-batch runs the same set-based SCD staging as the batch load
    * (WarehouseLoad.stageProducts) against the current parquet state,
    * then appends the delta — the reference's insert-if-changed load
    * (dags/bigquery.py:223-333) with exactly-once semantics across
    * restarts (see [[upsertBatch]]). */
  /** Trending-terms pipeline: watermarked tumbling-window token
    * counts, ranked top-k per CLOSED window, committed exactly-once to
    * a transactional snapshot table — the full streaming-analytics
    * composition (append-mode window aggregate → foreachBatch batch
    * ranking → tagged snapshot commit). Append mode means a window's
    * counts are delivered once, complete, when the watermark passes
    * its end, so the per-window ranking inside foreachBatch sees final
    * totals (a second streaming aggregation over the first would be
    * unsupported — the batch hop is the standard shape). Ranking ties
    * break lexicographically for determinism. */
  def trendingTermsWriter(docs: DataFrame,
                          table: graft.sources.SnapshotTable,
                          runId: String,
                          windowSec: Int = 60, k: Int = 3,
                          lateSec: Int = 30): DataStreamWriter[Row] = {
    require(runId.nonEmpty, "runId must name the checkpoint lineage")
    val counts = docs
      .withWatermark("ts", s"$lateSec seconds")
      .select(col("ts"),
        explode(array_remove(split(lower(col("text")), " "), "")).as("token"))
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("token"), col("n"))
    counts.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val byWin = org.apache.spark.sql.expressions.Window
          .partitionBy("win_start").orderBy(col("n").desc, col("token"))
        val ranked = batch
          .withColumn("rk", row_number().over(byWin))
          .filter(col("rk") <= k)
          .select(col("win_start"), col("rk").cast("long").as("rk"),
            col("token"), col("n"))
        table.commitOnce(s"$runId/batch=$batchId", ranked): Unit
      }
  }

  /** One token routed to its hash bucket (the caller picks the bucket
    * function; buckets partition the vocabulary). */
  case class TokIn(bucket: Int, token: String)
  /** Per-bucket Misra-Gries summary row: a surviving candidate with
    * its maintained (under-)count and the bucket's lifetime total. */
  case class MgOut(bucket: Int, token: String, mgCount: Long, bucketSeen: Long)
  /** Per-bucket MG state: bounded at `cap` counters + one total. */
  case class MgState(counts: Map[String, Long], seen: Long)

  /** STREAMING HEAVY HITTERS — the incremental form of
    * q_heavy_hitters' Misra-Gries screen: per hash bucket of the
    * vocabulary, a bounded MG summary maintained across micro-batches
    * via flatMapGroupsWithState, re-emitted (Update mode) whenever the
    * bucket sees data. State is B·cap counters TOTAL by construction —
    * NoTimeout is sound here because the key space is the FIXED bucket
    * set, not an unbounded population (contrast the funnel's per-user
    * keys, which need event-time eviction). The MG deficiency bound
    * carries over batches: a candidate's true bucket count c satisfies
    * mgCount ≤ c ≤ mgCount + seen/(cap+1), so any token with bucket
    * share > 1/(cap+1) is guaranteed present — the consumer turns the
    * summaries into exact answers with one targeted recount, exactly
    * like the batch operator's pass 2. Buckets also make the screen
    * sharper than one global MG: each bucket's deficiency scales with
    * ITS seen, so a vocabulary split over B buckets tolerates ~B×
    * smaller heavy-hitter shares at the same total state. */
  def heavyHittersStream(tokens: org.apache.spark.sql.Dataset[TokIn],
                         cap: Int = 64):
      org.apache.spark.sql.Dataset[MgOut] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.groupByKey(_.bucket)
      .flatMapGroupsWithState[MgState, MgOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket, it, state) =>
          val prev = state.getOption.getOrElse(MgState(Map.empty, 0L))
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          counts ++= prev.counts
          var seen = prev.seen
          it.foreach { t =>
            seen += 1
            counts.get(t.token) match {
              case Some(c) => counts(t.token) = c + 1
              case None =>
                if (counts.size < cap) counts(t.token) = 1L
                else {
                  // decrement-all, evicting zeroed counters (classic
                  // MG maintenance; deficiency grows ≤ 1/(cap+1) of
                  // the tokens processed). Keys snapshotted first:
                  // mutating a scala mutable map while iterating it
                  // is formally undefined.
                  counts.keys.toArray.foreach { k =>
                    val c = counts(k)
                    if (c == 1L) counts.remove(k) else counts(k) = c - 1
                  }
                }
            }
          }
          state.update(MgState(counts.toMap, seen))
          counts.iterator.map { case (t, c) => MgOut(bucket, t, c, seen) }
      }
  }

  /** STREAMING DISTRIBUTION-DRIFT MONITOR — the incremental consumer
    * of the q_ks_drift statistic: each micro-batch's per-source length
    * distribution is KS-compared against a STATIC reference (the
    * last-known-good counts), and one drift row per (batch, observed
    * source) lands exactly-once in a snapshot table via the
    * tagged-commit sink — the alerting shape of an ingest pipeline
    * ("today's crawl of source X suddenly ships different documents").
    * Same integral arithmetic as the batch form (|cum_b·n_r −
    * cum_r·n_b| maximized over lengths, ppm divided back), and the
    * same scale shape: the ordered window runs over the per-(source,
    * length) AGGREGATE, bounded by the length domain, never the batch
    * volume. */
  def driftMonitorWriter(docs: DataFrame, reference: DataFrame,
                         table: graft.sources.SnapshotTable,
                         runId: String): DataStreamWriter[Row] = {
    require(runId.nonEmpty, "runId must name the checkpoint lineage")
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val W = org.apache.spark.sql.expressions.Window
        val b = batch.groupBy("source", "len").agg(count(lit(1)).as("nb"))
        val r = reference.groupBy("source", "len").agg(count(lit(1)).as("nr"))
        val merged = b.join(r, Seq("source", "len"), "full_outer")
          .select(col("source"), col("len"),
            coalesce(col("nb"), lit(0L)).as("nb"),
            coalesce(col("nr"), lit(0L)).as("nr"))
        val cumW = W.partitionBy("source").orderBy("len")
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        val cum = merged
          .withColumn("cum_b", sum("nb").over(cumW))
          .withColumn("cum_r", sum("nr").over(cumW))
        val tot = merged.groupBy("source")
          .agg(sum("nb").as("n_batch"), sum("nr").as("n_ref"))
        val drift = cum.join(broadcast(tot), "source")
          .groupBy("source")
          .agg(max("n_batch").as("n_batch"), max("n_ref").as("n_ref"),
            max(abs(col("cum_b") * col("n_ref") - col("cum_r") * col("n_batch")))
              .as("ks_scaled"))
          .filter(col("n_batch") > 0) // report only sources seen this batch
          .withColumn("ks_ppm", coalesce(
            expr("ks_scaled * 1000000 div nullif(n_batch * n_ref, 0)"), lit(0L)))
          .withColumn("batch_id", lit(batchId))
          .select("batch_id", "source", "n_batch", "n_ref", "ks_ppm")
        table.commitOnce(s"$runId/batch=$batchId", drift): Unit
      }
  }

  case class FunnelIn(user_id: Long, event_type: String, tsMicros: Long)
  /** Per-user funnel state: min view time, bounded pending click /
    * purchase times, and which stages were already emitted. */
  case class FunnelProgress(viewMin: Option[Long], clicks: List[Long],
                            buys: List[Long], emittedView: Boolean,
                            emittedClick: Boolean, emittedBuy: Boolean)
  case class FunnelHit(user_id: Long, stage: String)

  /** STREAMING ordered funnel (view → click → purchase, each stage
    * strictly after the previous stage's first event) — the
    * incremental form of q_event_funnel, keyed per-user state via
    * flatMapGroupsWithState, emitting each (user, stage) completion
    * EXACTLY ONCE however events are batched.
    *
    * Correct under out-of-order arrival: a view arriving batches late
    * can only LOWER the first-view time, which only WIDENS which
    * clicks/purchases qualify — so stage-reached flags are monotone
    * and the already-emitted markers stay valid. That retroactive
    * validation is why the state keeps (bounded) pending click /
    * purchase times instead of discarding ones that don't qualify
    * yet; `maxPending` caps state per user (smallest-time events kept
    * — the ones a late view could validate, PLUS the currently-minimal
    * qualifying click, which is pinned through truncation because a
    * falling viewMin can never invalidate it and a pending purchase
    * needs it), trading recall under adversarial floods for bounded
    * state, same policy as the LSH bucket cap. Qualification is
    * evaluated BEFORE truncation, so an event that completes a stage
    * the moment it arrives is never dropped by a full pending list.
    *
    * State EVICTION (`evictAfterSec > 0`): the user-key count
    * otherwise grows forever — completed users compact to a few
    * booleans but never leave the store. With eviction on, the input
    * is watermarked on event time (`lateSec` tolerance) and every
    * user's state carries an event-time timeout `evictAfterSec` past
    * the current watermark; a user idle that long is REMOVED. The
    * documented trade-offs are the standard attribution-window ones:
    * events older than the watermark are dropped by the engine before
    * reaching the state function, and a user returning after eviction
    * starts a fresh funnel (stages can re-emit) — choose
    * `evictAfterSec` at least as long as the funnel's attribution
    * horizon. `evictAfterSec = 0` keeps the unbounded NoTimeout
    * behavior for replayable-determinism tests. */
  def funnelStream(events: org.apache.spark.sql.Dataset[FunnelIn],
                   maxPending: Int = 64,
                   evictAfterSec: Long = 0L,
                   lateSec: Long = 60L):
      org.apache.spark.sql.Dataset[FunnelHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val evict = evictAfterSec > 0
    val src =
      if (!evict) events
      else events
        .withColumn("event_ts", timestamp_micros(col("tsMicros")))
        .withWatermark("event_ts", s"$lateSec seconds")
        .as[FunnelIn]
    val timeout =
      if (evict) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelHit](
        OutputMode.Append, timeout) {
        case (uid, it, state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            // idle past the attribution horizon: evict. Nothing to
            // emit — completions were emitted eagerly when reached.
            state.remove()
            Iterator.empty
          } else {
          var st = state.getOption.getOrElse(
            FunnelProgress(None, Nil, Nil, emittedView = false,
              emittedClick = false, emittedBuy = false))
          // accumulate the batch UNtruncated (bounded by micro-batch
          // size, not stream length), qualify, THEN truncate — so a
          // just-arrived event that qualifies right now is never lost
          // to a pending list full of smaller not-yet-valid times
          var maxTsMicros = Long.MinValue
          it.foreach { e =>
            maxTsMicros = math.max(maxTsMicros, e.tsMicros)
            e.event_type match {
              case "view" => st = st.copy(viewMin =
                Some(st.viewMin.fold(e.tsMicros)(math.min(_, e.tsMicros))))
              case "click" => st = st.copy(clicks = e.tsMicros :: st.clicks)
              case "purchase" => st = st.copy(buys = e.tsMicros :: st.buys)
              case _ => ()
            }
          }
          st = st.copy(clicks = st.clicks.sorted, buys = st.buys.sorted)
          // clicks sorted ascending → find = min qualifying time
          val minValidClick = st.viewMin.flatMap(v => st.clicks.find(_ > v))
          val reachedBuy = minValidClick.exists(c => st.buys.exists(_ > c))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
          if (st.viewMin.isDefined && !st.emittedView) {
            out += FunnelHit(uid, "1_view"); st = st.copy(emittedView = true)
          }
          if (minValidClick.isDefined && !st.emittedClick) {
            out += FunnelHit(uid, "2_click"); st = st.copy(emittedClick = true)
          }
          if (reachedBuy && !st.emittedBuy) {
            out += FunnelHit(uid, "3_purchase"); st = st.copy(emittedBuy = true)
          }
          // truncate keep-smallest, but PIN the qualifying click: it is
          // the one a pending purchase must compare against, and a
          // falling viewMin can only keep it valid — dropping it for a
          // smaller not-yet-valid click would strictly lose recall
          def keepSmallest(sorted: List[Long], pin: Option[Long]): List[Long] = {
            val kept = sorted.take(maxPending)
            pin match {
              // pin ∉ kept ⇒ pin > every kept element (kept are the
              // smallest), so appending keeps ascending order
              case Some(p) if !kept.contains(p) => kept.take(maxPending - 1) :+ p
              case _ => kept
            }
          }
          // a COMPLETED user's pending lists can never matter again
          // (every stage emitted; flags alone block re-emission), so
          // drop them — state per completed user shrinks to three
          // booleans + one timestamp instead of 2×maxPending longs.
          // Flags must stay (state.remove would re-emit on the user's
          // next event); long-idle users are evicted by the event-time
          // timeout when `evictAfterSec` is set.
          state.update(
            if (st.emittedBuy) st.copy(clicks = Nil, buys = Nil)
            else st.copy(clicks = keepSmallest(st.clicks, minValidClick),
              buys = st.buys.take(maxPending)))
          // TTL anchored to the user's LAST EVENT in event time (floored
          // at the watermark, which setTimeoutTimestamp requires): the
          // user is evicted once the stream's watermark passes their
          // last activity by the attribution horizon
          if (evict)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), maxTsMicros / 1000L) +
                evictAfterSec * 1000L)
          out.iterator
          }
      }
  }

  /** One doc keyed into one LSH band bucket, with its full MinHash
    * signature along for the verify estimate. */
  case class BandedDoc(band: Int, bucket: Long, doc_id: Long, sigs: Seq[Long])
  /** Docs previously seen in this (band, bucket) — the cross-batch
    * candidate index. */
  case class BucketState(docs: List[(Long, Seq[Long])])
  /** Emitted cross/within-batch candidate pair (d1 < d2) with the
    * signature-agreement similarity estimate. */
  case class CandidatePair(band: Int, d1: Long, d2: Long, est_sim: Double)

  /** STREAMING near-dup candidate detection — the cross-batch form of
    * the batch MinHash-LSH pipeline (TextOps.minhashBands): documents
    * arrive in micro-batches, and a near-dup of a document ingested
    * three batches ago must still be caught. The LSH state IS the
    * band-bucket index, held as flatMapGroupsWithState custom state
    * keyed by (band, bucket): per key it stores the (doc_id,
    * signature) list seen so far, pairs each arriving doc against it,
    * and emits candidates whose signature agreement clears
    * `simThreshold`.
    *
    * Streaming-specific design vs the batch path: signatures are
    * per-row `array_min(transform(tokens, xxhash64(seed|token)))` —
    * no vocabulary aggregate (a stream has no final vocabulary) and
    * no shuffle before the keyed state; the only shuffle is the state
    * partitioning on (band, bucket), exactly the bucket co-location
    * the batch join uses. State per bucket grows with genuine near-dup
    * density; `maxBucketDocs` caps the stored list under adversarial
    * boilerplate floods (the streaming analogue of the shingle df cap)
    * — overflow docs still pair against the stored prefix but are not
    * added, trading recall among the flood for bounded state. The same
    * pair can surface from multiple bands (downstream distinct, as in
    * batch LSH).
    */
  def streamingNearDupPairs(docs: DataFrame,
                            numHashes: Int = 8, bands: Int = 4,
                            simThreshold: Double = 0.5,
                            maxBucketDocs: Int = 256):
      org.apache.spark.sql.Dataset[CandidatePair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val toks = array_remove(split(lower(col("text")), " "), "")
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(col("_toks"), t =>
        xxhash64(concat(lit(s"$i|"), t)))).as(s"_s$i")
    }
    val banded = docs
      // tokenless docs (empty/whitespace/null text) have no signature:
      // array_min([]) is NULL, which would poison the non-nullable
      // Seq[Long] state encoder and crash-loop the query on replay —
      // drop them here, as the batch tokenizer does
      .withColumn("_toks", toks)
      .filter(size(col("_toks")) > 0)
      .select(Seq(col("doc_id")) ++ sigCols: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"_s$i")): _*).as("sigs"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64((0 until rows).map(r => col(s"_s${b * rows + r}")): _*).as("bucket"))
        }: _*)).as("bb"))
      .select(col("bb.band"), col("bb.bucket"), col("doc_id"), col("sigs"))
      .as[BandedDoc]
    banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), it, state: GroupState[BucketState]) =>
          var seen = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
          // deterministic within-batch order (engine group order is not)
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            if (!seen.exists(_._1 == d.doc_id)) {
              seen.foreach { case (od, osig) =>
                val agree = osig.lazyZip(d.sigs).count { case (a, b) => a == b }
                val sim = agree.toDouble / d.sigs.size
                if (sim >= simThreshold)
                  out += CandidatePair(band,
                    math.min(od, d.doc_id), math.max(od, d.doc_id), sim)
              }
              if (seen.size < maxBucketDocs) seen = (d.doc_id, d.sigs) :: seen
            }
          }
          state.update(BucketState(seen))
          out.iterator
      }
  }

  /** Stream into a transactional [[graft.sources.SnapshotTable]] with
    * exactly-once appends: each micro-batch is one tagged snapshot
    * commit (`commitOnce`, tag = batchId), so the at-least-once replay
    * after a crash-restart finds its tag in manifest history and
    * appends nothing — and readers only ever see whole micro-batches
    * (visibility is the atomic manifest publish, never a partial file
    * listing). This supersedes the marker-file pattern below for sinks
    * that own their table layout: the replay marker rides INSIDE the
    * committed manifest, so there is no torn window between "data
    * appended" and "marker written" at all. */
  def snapshotSinkWriter(stream: DataFrame,
                         table: graft.sources.SnapshotTable,
                         runId: String,
                         autoCompactAfter: Option[Int] = None): DataStreamWriter[Row] = {
    // the tag must carry the RUN identity, not just the batchId:
    // batchIds restart at 0 under a fresh checkpoint (and collide
    // across two different queries feeding one table), and a bare
    // "batch=0" tag would silently swallow the new run's first batches
    // as replays. runId names the checkpoint lineage — same contract
    // as Delta's (appId, version) txn dedup: reuse it on restart from
    // the same checkpoint, change it with the checkpoint.
    require(runId.nonEmpty, "runId must name the checkpoint lineage")
    stream
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.commitOnce(s"$runId/batch=$batchId", batch)
        // auto-compaction (opt-in): O(1) file-count check per batch,
        // rewrite only past the bound — a day of tiny micro-batches
        // can't accumulate unbounded small files. The compaction is a
        // plain replace commit AFTER the tagged append, so a crash
        // between them loses only the rewrite (the retry re-checks),
        // never the data, and replays still skip on the tag.
        autoCompactAfter.foreach(m =>
          table.compactIfNeeded(batch.sparkSession, maxFiles = m): Unit)
      }
  }

  /** Stream-static ENRICHMENT against a transactional dimension: each
    * micro-batch broadcast-joins the dimension's CURRENT committed
    * snapshot and lands as a tagged exactly-once commit. The join
    * happens inside foreachBatch deliberately — a plain stream-static
    * join resolves the static side's file listing ONCE at query start
    * and is stale forever against a growing dimension; re-resolving
    * per batch picks up every dimension commit at the next batch
    * boundary while each batch still sees one consistent snapshot
    * (no torn mid-batch reads — that's the manifest's atomicity). */
  def enrichedSinkWriter(stream: DataFrame,
                         dim: graft.sources.SnapshotTable,
                         out: graft.sources.SnapshotTable,
                         joinKeys: Seq[String],
                         runId: String): DataStreamWriter[Row] = {
    require(runId.nonEmpty, "runId must name the checkpoint lineage")
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val d = dim.read(batch.sparkSession)
        out.commitOnce(s"$runId/batch=$batchId",
          batch.join(broadcast(d), joinKeys, "left")): Unit
      }
  }

  def scdUpsertWriter(clean: DataFrame, warehouseDir: String): DataStreamWriter[Row] =
    clean
      .withColumn("scraped_at", to_date(col("scraped_at")))
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, warehouseDir)
      }

  /** One SCD micro-batch, idempotent under replay. Structured Streaming
    * guarantees at-least-once delivery to foreachBatch: after a crash
    * between the sink's side effects and the checkpoint commit, the same
    * (batch, batchId) is delivered again, and a naive append would
    * double-write the delta. [[upsertOnce]]'s per-table tagged snapshot
    * commits make the replay safe: the batchId tag rides inside each
    * table's atomically-published manifest, so a replayed batch skips
    * every table that already committed it and completes only the
    * tables the crash left behind. */
  def upsertBatch(batch: DataFrame, batchId: Long, warehouseDir: String): Unit =
    upsertOnce(batch, batchId.toString, warehouseDir)

  /** The tag-guarded SCD append itself, shared by the streaming sink
    * (markerKey = micro-batch id) and the batch pipeline's retry path
    * (markerKey derived from the input file identity) — any caller that
    * may deliver the same logical batch twice goes through here.
    *
    * Each warehouse table is a [[graft.sources.SnapshotTable]] and the
    * batch lands as ONE tagged commit per table (`commitOnce`,
    * tag = markerKey): a crashed load leaves every table either at its
    * previous version (the new data files are invisible until the
    * atomic manifest publish — no torn directory-append state) or
    * cleanly advanced, and the RETRY re-stages the delta against
    * current state and commits only the tables whose tag is missing.
    * Deterministic surrogate keys make the recomputed delta row-
    * identical, so a partially-landed load self-completes instead of
    * double-appending — strictly stronger than the former
    * marker-file-after-four-appends protocol, whose crash window
    * between the appends and the marker could re-stage a feature/price
    * version on replay. A fully-replayed batch costs four tag lookups
    * and plans no Spark job at all.
    *
    * Staging materializes one change-detection probe per batch (see
    * `WarehouseLoad.stageProducts`) and the four commits read it,
    * concurrently (`Pipeline.fanOut`: the tables are disjoint). This
    * method owns that checkpoint and releases it once all four have
    * finished, also when one of them threw; the first failure, in
    * table order, is rethrown after the release. A long session or
    * stream therefore holds no checkpoint per loaded batch. */
  def upsertOnce(batch: DataFrame, markerKey: String, warehouseDir: String): Unit =
    upsertOnce(batch, markerKey, warehouseDir, loadState(batch.sparkSession, warehouseDir))

  /** [[upsertOnce]] staged against `state`, which is read only if some
    * table still lacks the tag. */
  private[graft] def upsertOnce(batch: DataFrame, markerKey: String,
                                warehouseDir: String,
                                state: => WarehouseLoad.State): Unit = {
    val tables = Seq("competitors", "products", "features", "product_prices")
      .map(n => graft.sources.SnapshotTable(s"$warehouseDir/$n"))
    if (!tables.forall(_.tagCommitted(markerKey))) {
      val delta = WarehouseLoad.stageProducts(state, batch)
      try Pipeline.fanOut(tables.zip(Seq(delta.competitors, delta.products,
          delta.features, delta.prices)).map { case (t, df) =>
            () => t.commitOnce(markerKey, df)
          }).foreach(_.get)
      finally delta.release()
    }
  }

  /** Read current warehouse state, tolerating not-yet-created tables.
    * Each table is a snapshot table (committed manifest = source of
    * truth); a table with no committed manifest reads as empty. */
  def loadState(spark: SparkSession, dir: String): WarehouseLoad.State = {
    def tbl(name: String) = {
      val schema = Warehouse.tableSchemas(name)
      val root = s"$dir/$name"
      val manifests = new java.io.File(s"$root/_manifests")
      if (manifests.isDirectory && manifests.list().exists(_.endsWith(".json")))
        graft.sources.SnapshotTable(root).readAs(spark, schema)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
    WarehouseLoad.State(
      competitors = tbl("competitors"),
      products = tbl("products"),
      features = tbl("features"),
      prices = tbl("product_prices"),
      packs = tbl("packs"))
  }
}
