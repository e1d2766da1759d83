package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on the wire (the streaming projection of the `events` table). */
case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)

/** Per-user open-session state (epoch millis — kept primitive so the state
  * store encodes it compactly). */
case class SessionState(start: Long, last: Long, n: Long, value: Double)

/** One closed session. */
case class UserSession(
    user_id: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    n_events: Long,
    session_value: Double)

/** One scored event for the leaderboard (ts, type, who, how much). */
case class ScoredEvent(user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** Per-(window, event_type) accumulated user scores. */
case class LeaderboardState(scores: Map[Long, Double])

/** One final leaderboard row, emitted when the window's watermark closes. */
case class LeaderboardEntry(
    window_start: Timestamp,
    event_type: String,
    rank: Long,
    user_id: Long,
    value: Double)

/** One document on the wire (streaming near-dup input). */
case class DocEvent(doc_id: Long, ts: Timestamp, text: String)

/** One document on the incremental-dedup wire: `is_base` rows build the
  * corpus index state (the streaming analog of dd_incremental's
  * persisted signature artifact); non-base rows get verdict fragments. */
case class IncDocEvent(doc_id: Long, ts: Timestamp, text: String, is_base: Boolean)

/** Per-key incremental-dedup state — `fp:` buckets use `minBaseId` (the
  * smallest base holder of the fingerprint; MaxValue = none), `mh:` band
  * buckets use `docs` (recent base (doc_id, shingles), newest first). */
case class IncBucketState(minBaseId: Long, docs: List[(Long, Seq[String])], lastTs: Long)

/** One incremental-dedup verdict fragment ("exact" or "near"); a doc's
  * final verdict is the downstream reduce over its fragments
  * ([[EventStreams.reduceIncrementalVerdicts]]). */
case class VerdictFragment(doc_id: Long, method: String, match_id: Long, j_ppm: Long, ts: Timestamp)

/** Per-(band, bucket) recent-document state: (doc_id, fp), newest first. */
case class BucketState(docs: List[(Long, Long)], lastTs: Long)

/** One streaming near-dup hit: id_a < id_b, verified Hamming distance. */
case class NearDupPair(id_a: Long, id_b: Long, hamming: Long, ts: Timestamp)

/** One packed-sequence assignment row — identical shape to batch
  * tx_pack's output. */
case class PackedDoc(doc_id: Long, n_tokens: Long, seq_id: Long)

/** Carry-over state of a packing shard: tokens emitted so far — one
  * long, however much has streamed through. */
case class PackState(cumTokens: Long)

/** One arriving ANN query (the streaming projection of the query set —
  * qv in the corpus's double space). */
case class AnnQuery(q_id: Long, ts: Timestamp, qv: Seq[Double])

/** One ANN result row — identical shape/algebra to the batch ss_ivf_pq
  * output. */
case class AnnHit(q_id: Long, rank: Long, vec_id: Long, adc_micro: Long)

/** Structured Streaming variants of the event operators (SURVEY §2
  * streaming rows; batch equivalents are q_events_window / q_sessionize).
  *
  * Scale notes: state is bounded by the watermark — windowedCounts drops
  * window state 10 minutes past the window end; sessionize keeps one small
  * [[SessionState]] per active user and evicts it via event-time timeout
  * at (last event + gap), so state size tracks the number of concurrently
  * active users, not history.
  */
object EventStreams {

  /** q_sessionize's 30-minute inactivity gap. */
  val SessionGapMs: Long = 30L * 60 * 1000

  /** Watermarked tumbling-window counts — the streaming form of
    * q_events_window. Input needs (ts TIMESTAMP, event_type STRING,
    * value DOUBLE).
    *
    * `v` sums per-row exact cents into a LONG, the same family-wide
    * integer-exactness rule the batch twin follows (r15: a double sum
    * folds in ACCUMULATION order, which for a stream is arrival order
    * — the emitted value would depend on micro-batch slicing; the sf1
    * gate proved the class wrong at q_topk_window). With an exact
    * integer accumulator the state-store value is a pure function of
    * the window's row SET, so StreamingSpec asserts batch equality on
    * the real events table exactly instead of modulo cents. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("v"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("v"))

  /** Streaming distinct-user cardinality per (hour window, type) — the
    * streaming form of q_approx_distinct. The KMV sketch's agg buffer
    * (≤ k longs) IS the state-store row, so per-window state stays
    * bounded however many distinct users a window sees — the streaming
    * analogue of the batch operator's bounded shuffle — and because "k
    * smallest of a union" is merge-order independent, the emitted
    * estimate equals the batch operator's on the same window, whatever
    * the micro-batch slicing was (pinned by the equivalence test).
    * Input needs (ts TIMESTAMP, user_id BIGINT, event_type STRING). */
  def approxUsersWindowed(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.Aggregates.kmvDistinct(
        graft.functions.Aggregates.kmvHash(col("user_id")),
        graft.operators.Analytics.KmvK).as("approx_users"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("approx_users"))

  /** Exactly-once-per-event-id dedup inside the watermark horizon — the
    * streaming form of dd_exact for at-least-once sources. State is one
    * key per event_id and is dropped once the watermark passes, so it
    * stays bounded by (arrival rate × watermark delay). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming near-dup document dedup: exact dedup on the normalized
    * content fingerprint (the streaming form of dd_exact for DOCUMENT
    * streams — case/punctuation-jitter redeliveries collapse to one
    * row). State is one fingerprint per distinct document inside the
    * watermark horizon; beyond-horizon redeliveries go through
    * [[graft.sources.Sinks.dedupUpsertParquet]]. Input needs
    * (ts TIMESTAMP, text STRING, …). */
  def dedupDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("__fp", graft.functions.NativeExpressions.fingerprint(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Stream-stream interval join: each view pairs with the same user's
    * purchases that land within [view.ts, view.ts + 30 min] — the
    * streaming form of q_range_join's trailing-window semantics
    * (attribution direction reversed: purchases look back at views).
    * State on both sides is bounded by the watermark plus the interval:
    * a view can be dropped once the watermark passes ts + 30 min, a
    * purchase once it passes its own ts — Spark derives both eviction
    * thresholds from this exact range predicate. Inputs need
    * (user_id, ts, value). */
  def attributionJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes").alias("v")
    val p = purchases.withWatermark("ts", "10 minutes").alias("p")
    v.join(p,
      expr("""v.user_id = p.user_id AND
              p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTES"""))
      .select(col("v.user_id").as("user_id"),
        col("v.ts").as("view_ts"), col("p.ts").as("purchase_ts"),
        col("p.value").as("purchase_value"))
  }

  /** Session assembly via flatMapGroupsWithState: events within
    * [[SessionGapMs]] of the previous event extend the session; a closed
    * session is emitted either when a later event arrives past the gap or
    * when the event-time timeout fires (watermark passed last + gap). */
  def sessionize(events: Dataset[SessionEvent]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(updateSessions)
  }

  /** Leaderboard size and window width for [[topkLeaderboard]]. */
  val LeaderboardK = 3
  val LeaderboardWindowMs: Long = 3600L * 1000

  /** Streaming per-window top-k leaderboard: for every (1-hour tumbling
    * window, event_type), the [[LeaderboardK]] users with the highest
    * summed value — the streaming form of "q_topk_window over time
    * windows". One state slot per (window, type) holds the EXACT running
    * per-user sums (a final top-k needs every user's total — a row that
    * looks mid-pack at minute 10 can lead by minute 50), and the complete
    * leaderboard is emitted exactly once, when the watermark passes the
    * window end (event-time timeout) — append-mode-clean, no retractions.
    *
    * Scale shape: state per key is O(active users in that window/type),
    * and keys are evicted 10 minutes (the watermark delay) past window
    * end, so total state tracks |active users| × |types| over ~1 window,
    * not history. For heavy-hitter regimes where even one window's user
    * set is too large, the same fold takes a SpaceSaving/Misra-Gries
    * sketch as the state with ε-approximate ranks — the exact map is the
    * correct default while state fits. */
  def topkLeaderboard(events: Dataset[ScoredEvent]): Dataset[LeaderboardEntry] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(e => (math.floorDiv(e.ts.getTime, LeaderboardWindowMs) * LeaderboardWindowMs,
        e.event_type))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(updateLeaderboard)
  }

  private[streaming] def updateLeaderboard(
      key: (Long, String),
      events: Iterator[ScoredEvent],
      state: GroupState[LeaderboardState]): Iterator[LeaderboardEntry] = {
    val (wstart, etype) = key
    if (state.hasTimedOut) {
      val scores = state.get.scores
      state.remove()
      scores.toSeq
        .sortBy { case (u, v) => (-v, u) } // value desc, user asc — the
        .take(LeaderboardK)                // row_number tie-break batch uses
        .zipWithIndex.iterator
        .map { case ((u, v), i) =>
          LeaderboardEntry(new Timestamp(wstart), etype, i + 1L, u, v) }
    } else {
      // A whole WINDOW below the watermark may already have emitted its
      // final leaderboard — folding an event back in could resurrect
      // state and emit twice. But a late EVENT into a still-open window
      // is valid: EventTimeTimeout only fires once the watermark advances
      // STRICTLY past the timeout timestamp, so at wm == window end the
      // window provably cannot have emitted yet — the drop condition is
      // the strict group-level comparison (window end < wm), never ≤ and
      // never a per-event ts filter, which would silently lose
      // late-but-valid rows the batch top-k counts.
      val wm = state.getCurrentWatermarkMs()
      if (wstart + LeaderboardWindowMs < wm) Iterator.empty
      else {
        val scores = state.getOption.map(_.scores).getOrElse(Map.empty[Long, Double])
        val upd = events.foldLeft(scores) { (m, e) =>
          m.updated(e.user_id, m.getOrElse(e.user_id, 0.0) + e.value)
        }
        if (upd.nonEmpty) {
          state.update(LeaderboardState(upd))
          // Window end > wm in this branch; the max() guards the
          // state-store contract (timeout must sit above the watermark).
          state.setTimeoutTimestamp(math.max(wstart + LeaderboardWindowMs, wm + 1))
        }
        Iterator.empty
      }
    }
  }

  /** Streaming decontamination gate — the stream-STATIC form of
    * tx_contamination: each arriving document joins (broadcast,
    * map-only) against the static benchmark's distinct n-gram set and
    * carries the count of shared shingles; `n_shared = 0` rows are the
    * clean stream. The static side is read once per micro-batch planning
    * and broadcast — no stream state at all, which is exactly why the
    * decontamination check belongs at ingest: it is free of watermarks
    * and scales with the benchmark, not the stream. */
  def contaminationGate(docs: DataFrame, benchDf: DataFrame): DataFrame = {
    import graft.functions.NativeExpressions.wordShingles
    val n = graft.operators.TextOps.ContamN
    // One collected row: the benchmark's distinct shingle set (eval sets
    // are small by definition — the same broadcast-side assumption as
    // batch tx_contamination).
    val benchArr = benchDf
      .select(explode(wordShingles(col("text"), n)).as("s"))
      .distinct()
      .agg(collect_list(col("s")).as("__bench_sh"))
    docs
      .crossJoin(broadcast(benchArr))
      .withColumn("n_shared",
        size(array_intersect(wordShingles(col("text"), n), col("__bench_sh"))).cast("long"))
      .drop("__bench_sh")
  }

  /** Streaming quality gate at INGEST — the stateless streaming form of
    * batch tx_gopher: the same Gopher rule column algebra
    * ([[graft.operators.Curation.gopherStats]] — one shared definition,
    * so the batch gate and the stream gate cannot drift), applied to each
    * document as it arrives. No watermark, no state store, no shuffle —
    * per-record decide-and-tag, so it composes ahead of the stateful
    * stages (dedup, near-dup, sessionize) exactly like the batch curation
    * chain runs the rule gate first. */
  def qualityGate(docs: DataFrame): DataFrame =
    graft.operators.Curation.gopherStats(docs)

  /** Streaming learned-quality gate at INGEST — the stateless streaming
    * form of batch tx_quality_classifier: the SAME shared column algebra
    * ([[graft.operators.Curation.classifierStats]] — embedded weight
    * tiers, integer logit-micros), so batch and stream cannot drift.
    * Stateless map — no watermark, no state store, no shuffle; runs
    * after [[qualityGate]] in an ingest chain exactly as the batch
    * curation chain orders rule gate then learned filter. */
  def qualityClassifierGate(docs: DataFrame): DataFrame =
    graft.operators.Curation.classifierStats(docs)

  /** Streaming constraint parse at INGEST — the stateless streaming form
    * of batch rw_prompt_parse: each arriving prompt is regex-parsed into
    * the constraint fields the reward loop reads, via the SAME shared
    * projection ([[graft.operators.Rewards.promptConstraintCols]]), so
    * batch and stream cannot drift. Stateless map — no watermark, no
    * state store, no shuffle; input needs a `prompt` column. */
  def promptConstraintGate(prompts: DataFrame): DataFrame =
    prompts.select(col("*") +:
      graft.operators.Rewards.promptConstraintCols(col("prompt")): _*)

  /** Streaming PII scrub at INGEST — the stateless streaming form of
    * batch tx_pii: each arriving document is counted and masked via the
    * SAME shared staged projection
    * ([[graft.operators.TextOps.withPiiCols]] — literal-prefilter
    * gated, so trigger-free documents pass the gate at memchr cost), so
    * batch and stream cannot drift. Stateless map — no watermark, no
    * state store, no shuffle; input needs a `text` column. This is the
    * scrub-at-the-door deployment shape: redact before anything is
    * persisted, not as a later batch pass over already-stored raw text. */
  def piiGate(docs: DataFrame): DataFrame =
    graft.operators.TextOps.withPiiCols(docs, col("text"))

  /** Streaming boilerplate scrub at INGEST — the streaming form of
    * batch tx_boilerplate's use half: each arriving document is
    * decomposed into the SAME disjoint token blocks
    * ([[graft.operators.TextOps.blockTexts]] — one shared definition)
    * and every block in the pre-trained heavy set is dropped. `heavy`
    * is the static frame from
    * [[graft.operators.TextOps.writeBoilerplateArtifact]] (the
    * frequent-block set, C4's frequent-line set), collapsed to one
    * collected row and broadcast — the contaminationGate shape.
    * Stateless map: no watermark, no state store, no shuffle; the
    * train/use split means the stream never re-aggregates corpus df.
    * The per-block membership test is an array scan (Spark has no
    * set-lookup builtin), fine at the few-thousand-entry heavy sets the
    * threshold yields; a corpus whose heavy set outgrows one broadcast
    * row should scrub via the batch relational join instead
    * (boilerplateFromArtifact over micro-batches). */
  def boilerplateGate(docs: DataFrame, heavy: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{tokenCount, tokens}
    val hArr = heavy.agg(collect_list(col("bt")).as("__hv"))
    docs.crossJoin(broadcast(hArr))
      .withColumn("__blocks",
        graft.operators.TextOps.blockTexts(tokens(col("text"))))
      .withColumn("__kept",
        filter(col("__blocks"), b => !array_contains(col("__hv"), b)))
      .withColumn("n_blocks", size(col("__blocks")).cast("long"))
      .withColumn("n_boiler",
        (size(col("__blocks")) - size(col("__kept"))).cast("long"))
      .withColumn("text_clean", array_join(col("__kept"), " "))
      .withColumn("n_kept_tokens", tokenCount(col("text_clean")).cast("long"))
      .drop("__hv", "__blocks", "__kept")
  }

  /** Streaming count-min sketch over a document stream — the streaming
    * form of tx_heavy_hitters' counter build, via the SAME bucket hashes
    * ([[graft.operators.TextOps.cmsHashes]]), so the stream-built sketch
    * IS the batch sketch (counter addition commutes across batches).
    * This is the canonical bounded-state streaming aggregate: state is
    * AT MOST CmsDepth×CmsWidth counter rows (4096 longs) no matter how
    * many tokens flow past — an unbounded-vocabulary stream that a
    * per-token count would OOM on. Update output mode; query the
    * counters with min-over-rows exactly like the batch estimate. */
  def cmsCounters(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs.select(explode(tokens(col("text"))).as("tok"))
      .select(posexplode(graft.operators.TextOps.cmsHashes(col("tok")))
        .as(Seq("row_i", "bucket")))
      .groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Streaming near-dup state bounds: per-bucket candidate cap (recency
    * window — a hot boilerplate bucket keeps only its newest [[BucketCap]]
    * docs, trading recall on stale entries for bounded state, the right
    * trade for a dedup stream) and the idle-bucket retention horizon.
    *
    * The default is sized from the measured cap-vs-recall/state curve at
    * the sf0.1 replica-dense stress density (STREAMEQ r13 `ndp_curve`):
    * 256 → 81.1% recall, 512 → 95.2%, 1024 → 99.96%, 2048 → 100%, while
    * total state bytes barely move (700 KB → 820 KB — only the few hot
    * exact-replica buckets ever bind the cap). 1024 clears a ≥95% recall
    * floor with margin at ~17% more state than the old 256;
    * worst-case per-bucket state stays bounded at 16 KB. Callers pass
    * [[nearDupPairs]]'s `bucketCap` parameter to retune per corpus. */
  val BucketCap = 1024
  val DupHorizonMs: Long = 60L * 60 * 1000

  /** Streaming near-duplicate DETECTION — the streaming form of
    * dd_simhash: each document SimHash-fingerprints map-side, fans out to
    * the same 4×8-bit band buckets the batch operator blocks on, and
    * pairs with the bucket's recent documents at Hamming ≤ HammingMax
    * (verified in the fold, exactly like the batch join condition).
    *
    * Scale shape: state is one bounded list per OCCUPIED (band, bucket) —
    * ≤ [[BucketCap]] (doc_id, fp) longs each — evicted by event-time
    * timeout once the bucket sits idle one [[DupHorizonMs]] past the
    * watermark; total state tracks the active-corpus working set, not
    * history. A pair colliding in k bands is emitted up to k times
    * (groups cannot see each other's state); exact-once pair output is
    * one batch `distinct`/dedup-upsert downstream —
    * [[graft.sources.Sinks.dedupUpsertParquet]] keyed on (id_a, id_b). */
  def nearDupPairs(docs: Dataset[DocEvent],
      bucketCap: Int = BucketCap): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    import graft.functions.NativeExpressions.simHash32
    docs
      .withWatermark("ts", "10 minutes")
      .select(col("doc_id"), col("ts"), simHash32(col("text")).as("fp"))
      .select(col("doc_id"), col("ts"), col("fp"),
        // the batch blockers' band keys, verbatim — pair-set parity with
        // dd_simhash depends on the shapes never diverging
        explode(graft.operators.Dedup.simhashBandKeys(col("fp"))).as("bk"))
      .as[(Long, Timestamp, Long, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateNearDups(bucketCap))
  }

  private[streaming] def updateNearDups(bucketCap: Int)(
      bucket: String,
      rows: Iterator[(Long, Timestamp, Long, String)],
      state: GroupState[BucketState]): Iterator[NearDupPair] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val wm = state.getCurrentWatermarkMs()
      val out = Seq.newBuilder[NearDupPair]
      var docs = state.getOption.map(_.docs).getOrElse(Nil)
      var lastTs = state.getOption.map(_.lastTs).getOrElse(0L)
      // Deterministic intra-batch order (groups arrive unordered), and
      // sub-watermark drops for parity with the other stateful folds.
      rows.toArray.filter(_._2.getTime >= wm).sortBy(r => (r._2.getTime, r._1))
        .foreach { case (id, ts, fp, _) =>
          docs.iterator
            .filter { case (oid, ofp) =>
              oid != id && java.lang.Long.bitCount(fp ^ ofp) <= graft.operators.Dedup.HammingMax }
            .foreach { case (oid, ofp) =>
              out += NearDupPair(math.min(id, oid), math.max(id, oid),
                java.lang.Long.bitCount(fp ^ ofp).toLong, ts) }
          docs = ((id, fp) :: docs).take(bucketCap)
          lastTs = math.max(lastTs, ts.getTime)
        }
      if (docs.nonEmpty) {
        state.update(BucketState(docs, lastTs))
        state.setTimeoutTimestamp(math.max(lastTs + DupHorizonMs, wm + 1))
      }
      out.result().iterator
    }

  /** Streaming sequence packing — the streaming form of tx_pack, the
    * emit stage that completes the ingest-to-training-sequence chain
    * (gates → dedup → scrub → PACK): documents arriving on an ORDERED
    * ingest log are assigned to fixed-token-budget training sequences
    * with the batch operator's concat-then-chunk semantics
    * (`seq_id = tokens-before-this-doc div budget`). Token counting is
    * the same native-kernel map-side pass as batch tx_pack
    * ([[graft.functions.TextFunctions.tokenCount]]); the stateful fold
    * never touches text.
    *
    * Scale/order contract: packing is inherently sequential, so the
    * operator keys everything onto ONE packer group whose entire state
    * is a single long — the carry-over token count, the streaming analog
    * of tx_pack's 32-row cross-partition offset table. At 100 TB run one
    * packer per corpus SHARD (key = shard id, sequence ids namespaced
    * per shard); this is that operator at shards = 1, the form the batch
    * twin can pin exactly. Within a micro-batch arrivals sort by doc_id
    * (the batch concat order); ACROSS batches the contract is ordered
    * delivery (an ingest log, not a shuffle) — a doc delivered after a
    * later doc's batch packs after it, exactly as if appended to the
    * log in that order.
    *
    * MEMORY contract (r13 advice): the fold materializes and sorts one
    * micro-batch's (id, n_tokens) rows in the single packer task — 16
    * bytes/doc, so a 10M-doc catch-up replay is ~160 MB in one
    * executor's heap. Callers replaying a large backlog must bound the
    * micro-batch (maxOffsetsPerTrigger / maxFilesPerTrigger on the
    * source); at shards > 1 the bound applies per shard. The steady-
    * state micro-batch is ingest-rate-sized and nowhere near the
    * bound. */
  def packSequences(docs: Dataset[DocEvent],
      budget: Long = graft.operators.TextOps.PackBudget): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(packFold(budget))
  }

  private[streaming] def packFold(budget: Long)(
      shard: Int,
      rows: Iterator[(Long, Long)],
      state: GroupState[PackState]): Iterator[PackedDoc] = {
    var cum = state.getOption.map(_.cumTokens).getOrElse(0L)
    val out = rows.toArray.sortBy(_._1).map { case (id, n) =>
      val seq = cum / budget
      cum += n
      PackedDoc(id, n, seq)
    }
    state.update(PackState(cum))
    out.iterator
  }

  /** Streaming incremental dedup — the streaming form of dd_incremental's
    * exact/near/new verdicts: base (corpus) documents fold their
    * fingerprint and MinHash-band signatures into state; each arriving
    * non-base document emits one fragment per match it finds — `exact`
    * from its fingerprint bucket (match_id = the smallest base holder,
    * dd_incremental's keep-min contract), `near` from each band bucket
    * whose base entries verify at Jaccard ≥ the batch threshold (the
    * SAME banding and j_ppm arithmetic as the batch operator — shared
    * [[graft.operators.Dedup.minhashBandKeys]], shared constants).
    *
    * A doc fans out to 1 fingerprint key + BANDS band keys, so a
    * cross-band match emits up to BANDS fragments and a near-dup that is
    * also an exact dup emits both kinds; the per-doc verdict is one
    * downstream reduce ([[reduceIncrementalVerdicts]]) — the same
    * split [[nearDupPairs]] documents for its per-band pair emissions.
    * Scale shape: state per occupied band bucket is ≤ [[BucketCap]]
    * (id, shingle-set) entries of BASE docs only (the streaming resident
    * form of the writeSignatureArtifact index; shingles must ride along
    * because verification happens in-bucket), evicted by event-time
    * timeout one [[DupHorizonMs]] past idle; fingerprint buckets hold
    * two longs. Non-base docs never enter state — verdict traffic
    * cannot grow the index. The cap is a recency window, same trade as
    * [[nearDupPairs]]: a band bucket holding more than [[BucketCap]]
    * base docs (boilerplate-heavy corpora) silently forgets its oldest
    * entries, so verdicts can diverge from batch dd_incremental there —
    * bounded state is the streaming contract; run the batch operator
    * (or raise the cap) when exhaustive recall matters. */
  /** Streaming ANN serving — arriving query vectors against the
    * PERSISTED IVF,PQ index ([[graft.operators.Similarity.writePqArtifact]]):
    * each micro-batch probes its queries' NProbe clusters (one broadcast
    * centroid row), builds the integer-micro ADC LUTs (one broadcast
    * codebook row), stream-static-joins the probed (vec_id, cluster,
    * codes) index rows on cluster, and emits each query's exact top-k.
    *
    * Scale shape: the whole query side is map-only over the stream (two
    * single-row broadcasts, no stream state beyond the one-shot group
    * fold); the static side is the ~9-byte/vector codes table, never the
    * float corpus — the same economics as the batch operator, per
    * micro-batch. A query's candidates all materialize inside its own
    * micro-batch (stream-static joins are batch-local), so the top-k
    * group fold needs NO cross-batch state and NoTimeout; a re-queried
    * q_id simply re-emits its (identical) top-k in the later batch.
    * Algebra parity with batch ss_ivf_pq / ssPqFromArtifact is pinned by
    * StreamingSpec's batch-equivalence test. */
  def annTopk(queries: Dataset[AnnQuery], indexPath: String): Dataset[AnnHit] = {
    val spark = queries.sparkSession
    import spark.implicits._
    import graft.operators.Similarity
    val cb = spark.read.parquet(s"$indexPath/codebook")
    val centArr = spark.read.parquet(s"$indexPath/centroids")
      .agg(collect_list(struct(col("c_id"), col("cv"))).as("cents"))
    val codes = spark.read.parquet(s"$indexPath/codes")
    val qside = Similarity.pqLutsOf(
      Similarity.probeClustersOf(queries.toDF.drop("ts"), centArr), cb)
    qside.join(codes, Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), Similarity.pqAdcCol.as("adc_micro"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(emitAnnTopk)
  }

  private[streaming] def emitAnnTopk(
      qId: Long,
      cands: Iterator[(Long, Long, Long)],
      state: GroupState[Boolean]): Iterator[AnnHit] = {
    // One-shot: all of a query's candidates arrive in this invocation
    // (batch-local stream-static join) — rank with the batch tie-break
    // (adc asc, vec_id asc), keep TopK, no state retained.
    cands.toSeq
      .sortBy { case (_, vecId, adc) => (adc, vecId) }
      .take(graft.operators.Similarity.TopK)
      .zipWithIndex.iterator
      .map { case ((_, vecId, adc), i) => AnnHit(qId, i + 1L, vecId, adc) }
  }

  def incrementalVerdictFragments(docs: Dataset[IncDocEvent]): Dataset[VerdictFragment] = {
    import docs.sparkSession.implicits._
    import graft.functions.NativeExpressions.{fingerprint, minHashSigs, wordShingles}
    import graft.operators.Dedup
    docs
      .withWatermark("ts", "10 minutes")
      .select(col("doc_id"), col("ts"), col("is_base"),
        fingerprint(col("text")).as("fp"),
        wordShingles(col("text"), 3).as("sh"))
      .withColumn("sigs", minHashSigs(col("sh"), Dedup.K, Dedup.P))
      .select(col("doc_id"), col("ts"), col("is_base"), col("sh"),
        explode(concat(
          array(concat(lit("fp:"), col("fp"))),
          transform(Dedup.minhashBandKeys, bk => concat(lit("mh:"), bk)))).as("key"))
      .as[(Long, Timestamp, Boolean, Seq[String], String)]
      .groupByKey(_._5)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(updateIncVerdicts)
  }

  private[streaming] def updateIncVerdicts(
      key: String,
      rows: Iterator[(Long, Timestamp, Boolean, Seq[String], String)],
      state: GroupState[IncBucketState]): Iterator[VerdictFragment] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val wm = state.getCurrentWatermarkMs()
      val out = Seq.newBuilder[VerdictFragment]
      var minBase = state.getOption.map(_.minBaseId).getOrElse(Long.MaxValue)
      var docs = state.getOption.map(_.docs).getOrElse(Nil)
      var lastTs = state.getOption.map(_.lastTs).getOrElse(0L)
      val isFp = key.startsWith("fp:")
      // Stored shingle Seqs become Sets once per bucket invocation (lazy
      // — fp buckets and all-base batches never pay it), not once per
      // arriving doc; inserts maintain both views.
      var docSets: List[(Long, Set[String])] = null
      // Sort base rows BEFORE arriving rows at equal timestamps: a base
      // doc and its arriving duplicate landing in one micro-batch must
      // match (the corpus side is always "already indexed" in the batch
      // operator), regardless of id order.
      rows.toArray.filter(_._2.getTime >= wm)
        .sortBy(r => (r._2.getTime, !r._3, r._1))
        .foreach { case (id, ts, isBase, sh, _) =>
          if (isBase) {
            if (isFp) minBase = math.min(minBase, id)
            else {
              docs = ((id, sh) :: docs).take(BucketCap)
              if (docSets != null) docSets = ((id, sh.toSet) :: docSets).take(BucketCap)
            }
          } else if (isFp) {
            if (minBase != Long.MaxValue)
              out += VerdictFragment(id, "exact", minBase, 1000000L, ts)
          } else {
            val a = sh.toSet
            if (docSets == null) docSets = docs.map { case (i, s) => (i, s.toSet) }
            docSets.foreach { case (bid, b) =>
              val inter = a.iterator.count(b)
              val union = a.size + b.size - inter
              // union == 0 (two empty shingle sets) is the batch side's
              // null `div` — no verified pair either way
              val j = if (union == 0) 0L else inter * 1000000L / union
              if (j >= graft.operators.Dedup.JaccardThresholdPpm)
                out += VerdictFragment(id, "near", bid, j, ts)
            }
          }
          lastTs = math.max(lastTs, ts.getTime)
        }
      if (minBase != Long.MaxValue || docs.nonEmpty) {
        state.update(IncBucketState(minBase, docs, lastTs))
        state.setTimeoutTimestamp(math.max(lastTs + DupHorizonMs, wm + 1))
      }
      out.result().iterator
    }

  /** The downstream exactly-once reduce over
    * [[incrementalVerdictFragments]] output (a batch pass, e.g. in the
    * foreachBatch sink): per doc, exact beats near beats new; the best
    * near match is highest verified Jaccard, ties to the smallest base
    * id — assembled by the SAME code as batch dd_incremental, so the two
    * paths cannot drift. `batchIds` is the (doc_id) universe to verdict
    * (docs with no fragments come out `new`). */
  def reduceIncrementalVerdicts(fragments: DataFrame, batchIds: DataFrame): DataFrame = {
    val exact = fragments.filter(col("method") === "exact")
      .groupBy(col("doc_id")).agg(min(col("match_id")).as("exact_match"))
    val nearAll = fragments.filter(col("method") === "near")
      .select(col("doc_id"), col("match_id").as("b_id"), col("j_ppm"))
      .distinct()
    graft.operators.Dedup.incrementalVerdicts(batchIds, exact, nearAll)
  }

  private def close(userId: Long, s: SessionState): UserSession =
    UserSession(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.value)

  /** State transition: fold this batch's events (sorted by event time —
    * Spark hands the group's batch unordered) into the open session. */
  private[streaming] def updateSessions(
      userId: Long,
      events: Iterator[SessionEvent],
      state: GroupState[SessionState]): Iterator[UserSession] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(close(userId, s))
    } else {
      val closed = Seq.newBuilder[UserSession]
      // Sub-watermark events are dropped explicitly: flatMapGroupsWithState
      // does not filter them, and folding one in would mutate sessions the
      // batch semantics consider finalized.
      val wm = state.getCurrentWatermarkMs()
      var cur = state.getOption
      // In-watermark events more than one gap BEFORE the open session's
      // start belong to their own earlier session (batch q_sessionize would
      // never merge across a >gap hole; the unbounded guard used to
      // backward-extend through it). They fold into `early` and close at
      // end of batch — the single state slot keeps the latest session.
      var early: Option[SessionState] = None
      events.toArray.filter(_.ts.getTime >= wm).sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t < s.start - SessionGapMs =>
            early = early match {
              case Some(es) if t - es.last <= SessionGapMs =>
                Some(SessionState(es.start, math.max(es.last, t), es.n + 1, es.value + e.value))
              case Some(es) =>
                closed += close(userId, es)
                Some(SessionState(t, t, 1, e.value))
              case None =>
                Some(SessionState(t, t, 1, e.value))
            }
          case Some(s) if t - s.last <= SessionGapMs =>
            // min on start: a late-but-in-watermark event within one gap of
            // the open session's start extends it backwards, matching the
            // batch q_sessionize semantics.
            cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1, s.value + e.value))
          case Some(s) =>
            // Mid-batch close on a >gap jump forward: an earlier event in
            // THIS batch may already have backward-extended s to within
            // one gap of `early` (open [100,100], gap 30, batch
            // {60, 80, 200}: 60 → early, 80 extends s to [80,100], 200
            // closes it) — run the same bridge check the end-of-batch
            // path runs, or the merged session batch q_sessionize emits
            // leaves here as two.
            val toClose = early match {
              case Some(es) if s.start - es.last <= SessionGapMs =>
                early = None
                SessionState(es.start, math.max(es.last, s.last), s.n + es.n, s.value + es.value)
              case _ => s
            }
            closed += close(userId, toClose)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      // Bridge check: a later event in this batch may have backward-
      // extended the open session to within one gap of the early session
      // (open [100,100], gap 30, batch {60, 80}: 60 folds into `early`,
      // 80 extends the open session's start to 80, and batch semantics
      // merge 60-80-100 into ONE session). Merge instead of closing when
      // the hole has closed. Residual known approximation: an early
      // session closed at end-of-batch can still be split from an
      // above-watermark event arriving in the NEXT batch — a second
      // state slot per user would be needed to bridge across batches.
      early.foreach { es =>
        cur match {
          case Some(s) if s.start - es.last <= SessionGapMs =>
            cur = Some(SessionState(
              es.start, math.max(es.last, s.last), s.n + es.n, s.value + es.value))
          case _ => closed += close(userId, es)
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last + SessionGapMs)
      }
      closed.result().iterator
    }
}
