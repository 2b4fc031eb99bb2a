package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators. The reference
  * has no streaming (SURVEY §2.8); this is the Spark-native extension
  * surface: a landing directory of JSONL/parquet events becomes an
  * incremental pipeline with the same schema and aggregates as EventOps.
  *
  * Only operators that need streaming state or event-time windows live
  * here. A stateless per-row decision (quality gate, exact and fuzzy
  * decontamination, sentence-boilerplate removal) is one operator in
  * `graft.operators` that batch and streaming frames both call.
  */
object StreamOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** CHECKPOINT COMPATIBILITY: `lastSec` (name kept — the state-store
    * schema check keys on field names) has carried epoch MILLISECONDS
    * since the millisecond-precision change. A stream resumed from a
    * checkpoint written by the earlier whole-second build decodes seconds
    * as ms — `ms - lastSec` then spans decades, so every user's first
    * post-upgrade event spuriously opens a new session (and funnel
    * timeout timestamps land in the past). The scales cannot be told
    * apart in-state (near-epoch event times are legal, so a magnitude
    * heuristic would corrupt valid ms state): resume such streams from a
    * FRESH checkpoint dir. [[sessionCounts]] and [[funnelStream]] state
    * this in their contracts.
    */
  case class SessionState(lastSec: Long, sessions: Long, events: Long)
  case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)

  /** File-source stream over a landing directory (JSONL by default —
    * matching the corpus shard format).
    */
  def readEventStream(spark: SparkSession, path: String,
                      format: String = "json"): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    spark.readStream.schema(schema).format(format).load(path)
  }

  /** Tumbling event-time window counts with a watermark for late data —
    * the streaming twin of EventOps.tumblingCounts. Caveat: `window()`
    * aligns boundaries to the UTC epoch while the batch twin's date_trunc
    * follows the SESSION timezone — identical under UTC (this engine's
    * pinned default), shifted in half-hour-offset zones; streaming
    * aggregation state eviction requires the window() form.
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt"))

  /** Sliding event-time window counts: each event lands in
    * windowLen/slide overlapping windows (state grows by the same factor —
    * size the watermark accordingly).
    */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt"))

  /** Stateful gap sessionization via mapGroupsWithState — the streaming twin
    * of EventOps.sessionize. State per user: last event second + counters.
    *
    * State grows with DISTINCT USER cardinality and is never expired (the
    * emitted counts are cumulative per user, so dropping state would reset
    * them) — bound the key space upstream for open-world streams, or use
    * [[funnelStream]]'s close-at-gap shape when per-session emission with
    * event-time expiry is the better contract.
    *
    * OUTPUT MODE: mapGroupsWithState supports Update only — the parquet
    * file sink (and this module's [[sinkParquet]], which hardcodes
    * Append) cannot consume it; use a memory/Delta/foreachBatch sink.
    *
    * CHECKPOINTS from the pre-millisecond build are INCOMPATIBLE (state
    * decoded at the wrong scale — see [[SessionState]]): start a fresh
    * checkpoint dir when upgrading across that change.
    */
  def sessionCounts(events: Dataset[Event], gapMinutes: Int): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    // MILLISECOND precision, like the batch twin's fractional-second
    // comparison — whole-second truncation would merge sessions whose gap
    // straddles a second boundary (60.8s apart truncating to 60)
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (user, batch, state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val ms = e.ts.getTime
            val newSession = s.lastSec == Long.MinValue || ms - s.lastSec > gapMs
            s = SessionState(ms, s.sessions + (if (newSession) 1 else 0), s.events + 1)
          }
          state.update(s)
          SessionUpdate(user, s.sessions, s.events)
      }
  }

  // lastSec carries epoch ms — field name kept for checkpoint schema
  // compatibility; see the SessionState checkpoint-compatibility note
  case class FunnelState(lastSec: Long, depth: Int)
  case class SessionDepth(user_id: Long, session_depth: Int)

  /** Streaming twin of EventOps.funnel: per-user state tracks the current
    * gap session's funnel depth (ordered-subsequence march over `steps`);
    * when the gap closes a session, its reached depth is emitted — one row
    * per CLOSED session. Aggregate the sink by depth for the live
    * conversion card. State per user is two numbers, bounded regardless of
    * stream length.
    *
    * ORDERING CONTRACT: events must arrive in order per user ACROSS
    * micro-batches (within a batch they are sorted here). An event landing
    * in a later batch with a timestamp before the state's last-seen second
    * is processed as if it were current — gap detection and step order
    * silently degrade. Feed from an upstream that preserves per-user order
    * (partition the source by user) or pre-sessionize in batch.
    *
    * Idle users flush via an EVENT-TIME timeout tied to the gap itself: a
    * watermark of `gapMinutes` rides on `ts`, and when it passes a user's
    * last event + gap their open session is emitted and the state dropped
    * — exactly when the batch funnel would have closed that session, so
    * lingering users neither hold memory forever nor go unreported.
    * (Deliberately NOT ProcessingTimeTimeout: it makes the micro-batch
    * engine schedule no-data batches continuously — probed:
    * `processAllAvailable` never returns under it.)
    *
    * CROSS-USER SKEW: the watermark is GLOBAL — an event whose `ts` lags
    * the stream's max event time by more than the watermark delay is
    * dropped as late BEFORE reaching the state function, even though its
    * own user's session is still open. The delay defaults to the gap
    * itself (tightest state cleanup); sources where users' clocks or
    * delivery lag diverge should pass a larger `watermarkMinutes` — flushes
    * then trail real time by that delay, but no user's in-order events are
    * lost to another user's faster clock.
    *
    * CHECKPOINTS from the pre-millisecond build are INCOMPATIBLE (state
    * decoded at the wrong scale — see [[SessionState]]): start a fresh
    * checkpoint dir when upgrading across that change.
    */
  def funnelStream(events: Dataset[Event], gapMinutes: Int,
                   steps: Seq[String],
                   watermarkMinutes: Option[Int] = None): Dataset[SessionDepth] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val wmMinutes = watermarkMinutes.getOrElse(gapMinutes)
    require(wmMinutes >= gapMinutes,
      "watermarkMinutes below the gap would drop in-gap events as late")
    import events.sparkSession.implicits._
    // MILLISECOND precision like the batch twin (fractional seconds
    // compare exactly; whole-second truncation would merge sessions
    // whose gap straddles a second boundary)
    val gapMs = gapMinutes * 60000L
    events.withWatermark("ts", s"$wmMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, SessionDepth](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, batch, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.filter(_.lastSec != Long.MinValue)
              .map(s => SessionDepth(user, s.depth)).iterator
            state.remove()
            out
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var s = state.getOption.getOrElse(FunnelState(Long.MinValue, 0))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionDepth]
            sorted.foreach { e =>
              val ms = e.ts.getTime
              if (s.lastSec != Long.MinValue && ms - s.lastSec > gapMs) {
                closed += SessionDepth(user, s.depth)
                s = FunnelState(ms, 0)
              }
              val d = s.depth
              val nd = if (d < steps.length && e.event_type == steps(d)) d + 1 else d
              s = FunnelState(ms, nd)
            }
            state.update(s)
            // close the open session when event time passes its gap; a
            // late group must still set a timestamp AFTER the watermark
            state.setTimeoutTimestamp(math.max(
              s.lastSec + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  // ---- streaming windowed n-gram top-k (the flagship `topk`, incremental) --

  case class TopkKey(ws: Long, salt: Int)
  case class TopkSketchState(cms: graft.functions.sketch.Sketches.CMS,
                             cand: Map[String, Long])
  case class WindowTopk(window_start: java.sql.Timestamp, gram: String,
                        est: Long, salt: Int)

  /** Streaming twin of `wimbd topk` (A6), using the reference's own
    * sketch design incrementally: per (window, salt) group, a count-min
    * sketch absorbs every n-gram and a bounded candidate map tracks the
    * current top estimates; when the watermark passes the window end the
    * group times out and emits its top `k` candidates, then drops its state.
    *
    * Scale shape: n-grams are salted across `salts` sub-sketches so one
    * window never concentrates on a single task (the 1000-executor analogue
    * of the reference's per-file thread pool). Each emitted row is a
    * per-salt finalist; the exact global top-k per window is a tiny batch
    * rank over the sink (`rankWindowTopk`) — same merge contract as the
    * reference's driver-side channel merge. State per group is
    * width×depth longs + ≤ 2·maxCandidates entries, bounded regardless of
    * stream length; estimates are CMS upper bounds (exact when width ≫
    * distinct grams, like the reference's 4 GiB default).
    */
  def ngramTopkStream(docs: DataFrame, textCol: String, tsCol: String,
                      n: Int, k: Int, windowMinutes: Int, watermarkMinutes: Int,
                      salts: Int = 8, cmsWidth: Int = 1 << 12, cmsDepth: Int = 4,
                      maxCandidates: Int = 512,
                      uax29: Boolean = false): Dataset[WindowTopk] = {
    import docs.sparkSession.implicits._
    val windowMs = windowMinutes * 60000L
    val toks =
      if (uax29) graft.functions.TextFunctions.tokenize(col(textCol))
      else split(col(textCol), " ")
    val grams = docs
      // a null event time survives the watermark (null < wm is null =
      // kept) and would crash the non-nullable tuple decode below
      .where(col(tsCol).isNotNull)
      .withWatermark(tsCol, s"$watermarkMinutes minutes")
      .select(col(tsCol).as("__ts"),
        explode(graft.functions.TextFunctions.ngrams(toks, n)).as("gram"))
      .select(col("__ts"),
        (floor(unix_millis(col("__ts")) / windowMs) * windowMs).as("ws"),
        pmod(xxhash64(col("gram")), lit(salts)).cast("int").as("salt"),
        col("gram"))
    val seed = 0x9747b28c
    grams.as[(java.sql.Timestamp, Long, Int, String)]
      .groupByKey { case (_, ws, salt, _) => TopkKey(ws, salt) }
      .flatMapGroupsWithState[TopkSketchState, WindowTopk](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state: GroupState[TopkSketchState]) =>
          if (state.hasTimedOut) {
            val out = state.get.cand.toSeq
              .sortBy { case (g, est) => (-est, g) }.take(k)
              .map { case (g, est) =>
                WindowTopk(new java.sql.Timestamp(key.ws), g, est, key.salt) }
            state.remove()
            out.iterator
          } else {
            val s0 = state.getOption.getOrElse(TopkSketchState(
              graft.functions.sketch.Sketches.CMS.empty(cmsWidth, cmsDepth, seed),
              Map.empty))
            // hot loop: fold into ONE mutable map and update state once —
            // a per-gram case-class copy + immutable-map update was pure
            // GC churn at n-gram stream volumes (the CMS add is in-place)
            var cms = s0.cms
            val cand = scala.collection.mutable.Map.empty[String, Long]
            cand ++= s0.cand
            rows.foreach { case (_, _, _, gram) =>
              cms = cms.add(gram)
              cand.update(gram, cms.estimate(gram))
              // prune lazily: keep the top maxCandidates when 2× over budget
              if (cand.size > 2 * maxCandidates) {
                val keep = cand.toSeq.sortBy { case (g, est) => (-est, g) }
                  .take(maxCandidates)
                cand.clear(); cand ++= keep
              }
            }
            state.update(TopkSketchState(cms, cand.toMap))
            // finalize when the watermark passes this window's end
            state.setTimeoutTimestamp(key.ws + windowMs)
            Iterator.empty
          }
      }
  }

  /** Exact per-window rank over the per-salt finalists a
    * [[ngramTopkStream]] sink accumulated — the batch half of the
    * streaming topk's merge contract.
    */
  def rankWindowTopk(finalists: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(desc("est"), asc("gram"))
    finalists.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("window_start"), col("gram"), col("est"), col("rank").cast("long"))
  }

  /** Write helper: append stream to parquet with a checkpoint. */
  def sinkParquet(df: DataFrame, path: String, checkpoint: String) =
    df.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint).format("parquet").option("path", path)

  /** Streaming keep-first exact dedup — the incremental twin of
    * Dedup.keepFirst (J2): documents whose content hash was already seen in
    * ANY earlier micro-batch are dropped. State is Spark's streaming
    * dropDuplicates store keyed on the hash; with a watermark column
    * present, state for hashes older than the horizon is evicted (bounded
    * state at 100 TB/day ingest — dedup-within-horizon), without one it is
    * exact-forever.
    */
  def dedupStream(docs: DataFrame, textCol: String,
                  watermarkCol: Option[(String, String)] = None): DataFrame = {
    val hashed = docs.withColumn("__h", md5(col(textCol)))
    val withWm = watermarkCol match {
      case Some((c, delay)) =>
        hashed.withWatermark(c, delay).dropDuplicatesWithinWatermark("__h")
      case None => hashed.dropDuplicates("__h")
    }
    withWm.drop("__h")
  }

  /** The COMPOSED streaming ingestion gate — the one-call form of CLI
    * `ingest --follow`'s per-batch semantics (and of the batch
    * `r_ingest_pipeline` oracle): quality gate → exact dedup →
    * decontamination (exact, or MinHash-fuzzy with `threshold`), one
    * micro-batch at a time. Text-less docs drop in every mode, matching
    * the CLI. The gate and both decontamination modes are the batch
    * operators ([[graft.operators.TextQuality.gate]],
    * [[graft.operators.Dedup.decontaminate]],
    * [[graft.operators.Dedup.decontaminateFuzzy]]), stateless per row;
    * dedup keeps forever-state unless `watermarkCol` bounds the horizon —
    * at 100 TB pair it with the durable hash-state pattern (CLI `ingest`)
    * instead of unbounded stream state.
    */
  def ingestStream(docs: DataFrame, idCol: String, textCol: String,
                   bench: Option[DataFrame] = None,
                   benchText: String = "text",
                   threshold: Option[Double] = None,
                   fineWeb: Boolean = false,
                   watermarkCol: Option[(String, String)] = None,
                   uax29: Boolean = false): DataFrame = {
    import graft.operators.{Dedup, TextQuality}
    val gated = TextQuality.gate(docs.where(col(textCol).isNotNull),
      idCol, textCol, fineWeb)
    val deduped = dedupStream(gated, textCol, watermarkCol)
    (bench, threshold) match {
      case (None, Some(_)) => throw new IllegalArgumentException(
        "ingestStream: threshold needs a benchmark frame")
      case (None, None) => deduped
      case (Some(b), Some(t)) =>
        Dedup.decontaminateFuzzy(deduped, textCol, b, benchText, t,
          uax29 = uax29)
      case (Some(b), None) =>
        Dedup.decontaminate(deduped, md5(col(textCol)), b, md5(col(benchText)))
    }
  }

  /** Streaming LM quality gate — incremental CCNet: score each arriving
    * document under a STATIC pruned unigram model shipped inside the scan
    * expression (no stream-static join, no aggregation state) and keep
    * docs with mean log-prob at or above `minAvgLogp`. Derive the cut
    * offline from [[graft.operators.TextQuality.perplexityBuckets]] — a
    * cut is POLICY; recomputing quantiles per micro-batch would make
    * acceptance depend on batch boundaries.
    */
  def lmGateStream(docs: DataFrame, textCol: String,
                   vocab: Seq[(String, Long)], total: Long,
                   minAvgLogp: Double): DataFrame = {
    val s = graft.operators.TextQuality.unigramScore(col(textCol), vocab, total)
    docs.withColumn("__s", s)
      // round(6) BEFORE the cut, like the batch scores the cut was
      // derived from — a raw -4.5000004 must pass a -4.5 policy cut
      // exactly as its rounded batch twin does
      .where(element_at(col("__s"), 1) > 0 &&
        round(element_at(col("__s"), 2), 6) >= minAvgLogp)
      .drop("__s")
  }

  /** Streaming corpus monitor — the incremental report card: per
    * event-time tumbling window, doc/token/char counts and mean doc
    * length (the streaming subset of [[graft.Pipeline.corpusReport]];
    * exact-dup rate needs cross-window state — use [[dedupStream]]
    * upstream for that).
    */
  def corpusReportStream(docs: DataFrame, textCol: String, tsCol: String,
                         windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame = {
    val toks = size(split(col(textCol), " "))
    docs.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        sum(toks.cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        round(avg(toks.cast("double")), 6).as("mean_doc_tokens"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_docs"), col("n_tokens"), col("n_chars"), col("mean_doc_tokens"))
  }

  /** Streaming contamination-rate monitor — the incremental twin of A12:
    * per event-time tumbling window, the fraction of documents whose hash
    * hits the static blocklist. Stream-static left join to flag, then a
    * watermarked windowed average.
    */
  def contaminationRateStream(docs: DataFrame, textCol: String, tsCol: String,
                              blocklist: DataFrame,
                              windowLen: String = "1 hour",
                              watermark: String = "2 hours"): DataFrame =
    docs.withColumn("__h", md5(col(textCol)))
      .join(blocklist.select(col("h").as("__block_h"), lit(1).as("__hit")).distinct(),
        col("__h") === col("__block_h"), "left")
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(coalesce(col("__hit"), lit(0))), 6).as("contaminated_frac"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_docs"), col("contaminated_frac"))

  case class DocUpdate(id: Long, text: String, deleted: Boolean)
  case class DiffState(hash: String)
  case class DiffEvent(id: Long, status: String)

  /** Streaming twin of [[graft.operators.CorpusDiff]]: classify a live
    * stream of document upserts/deletes against the last version seen,
    * emitting one (id, status) transition per update — added (first
    * sighting), changed (content hash moved), unchanged (idempotent
    * re-delivery), removed (tombstone; state cleared so a later re-add is
    * `added` again). State is one 32-char hash per live doc id, held in
    * `flatMapGroupsWithState` — the continuous version of the batch diff's
    * full-outer join, for pipelines that receive corpus updates as a feed
    * rather than as snapshot releases. Batch parity: replaying any update
    * log and keeping each id's LAST emitted status (minus unchanged)
    * equals `CorpusDiff.diffDocs` of first-vs-final snapshot —
    * spec-asserted in StreamingSpec.
    */
  case class DriftReport(window_start: java.sql.Timestamp, n_tokens: Long,
                         kl_pq: Double, kl_qp: Double, js: Double)
  case class DriftState(counts: Map[String, Long])

  /** Streaming distribution-drift monitor — the incremental twin of
    * [[graft.operators.TextQuality.unigramDivergence]]: per event-time
    * tumbling window, accumulate the window's unigram counts in state and,
    * when the watermark passes the window end, emit smoothed KL both ways
    * and Jensen–Shannon divergence against a REFERENCE count map (the
    * "healthy" corpus distribution — plan-shipped like the LM gate's
    * model, so keep it topV-bounded; OOV terms on either side carry the
    * smoothing mass α over the union vocab, exactly the batch operator's
    * semantics). One report row per CLOSED window.
    *
    * Batch parity (spec-asserted): a window's row equals
    * `unigramDivergence(windowDocs, referenceCorpus, alpha)` to the same
    * rounded digit — the state fold sums the identical per-term doubles,
    * sequentially over the sorted union vocab.
    *
    * State per window is its vocabulary's counts — Heaps-bounded
    * (V(n) ≈ K·n^β), and one window's state drops the moment it reports.
    * Pair with `vocabGrowth` on the batch side when sizing windows for
    * pathological corpora.
    */
  def driftStream(docs: DataFrame, textCol: String, tsCol: String,
                  reference: Map[String, Long],
                  windowLen: String = "1 hour",
                  watermark: String = "2 hours",
                  alpha: Double = 0.5): Dataset[DriftReport] = {
    require(reference.nonEmpty, "reference distribution must be non-empty")
    require(alpha > 0, "alpha must be > 0")
    import docs.sparkSession.implicits._
    val refTotal = reference.values.sum
    // null event times survive the watermark and would crash the
    // non-nullable tuple decode; null text splits to null toks
    docs.where(col(tsCol).isNotNull && col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("__ts"), window(col(tsCol), windowLen).as("w"),
        split(col(textCol), " ").as("toks"))
      // the raw watermarked column must survive into the grouped input —
      // struct-field extraction (w.start) drops the watermark tag and
      // EventTimeTimeout refuses a child with no watermarked attribute
      .select(col("__ts"), col("w.start").cast("long").as("ws"),
        col("w.end").cast("long").as("we"), col("toks"))
      .as[(java.sql.Timestamp, Long, Long, Seq[String])]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[DriftState, DriftReport](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (win, batch, state: GroupState[DriftState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map { s =>
              val union = (s.counts.keySet ++ reference.keySet).toSeq.sorted
              val na = s.counts.values.sum.toDouble
              val nb = refTotal.toDouble
              val v = union.size.toDouble
              var klPq = 0.0; var klQp = 0.0; var js = 0.0
              union.foreach { t =>
                val p = (s.counts.getOrElse(t, 0L) + alpha) / (na + alpha * v)
                val q = (reference.getOrElse(t, 0L) + alpha) / (nb + alpha * v)
                klPq += p * math.log(p / q)
                klQp += q * math.log(q / p)
                js += 0.5 * (p * math.log(2 * p / (p + q)) +
                  q * math.log(2 * q / (p + q)))
              }
              def r6(x: Double) = BigDecimal(x)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              DriftReport(new java.sql.Timestamp(win._1 * 1000L),
                na.toLong, r6(klPq), r6(klQp), r6(js))
            }.iterator
            state.remove()
            out
          } else {
            var m = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
            batch.foreach(_._4.foreach { t =>
              m = m.updated(t, m.getOrElse(t, 0L) + 1L)
            })
            state.update(DriftState(m))
            // report when event time passes the window end; a late-created
            // group must still set a timestamp AFTER the watermark
            state.setTimeoutTimestamp(math.max(win._2 * 1000L,
              state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  def diffStream(updates: Dataset[DocUpdate]): Dataset[DiffEvent] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.id)
      .flatMapGroupsWithState[DiffState, DiffEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, batch: Iterator[DocUpdate], state: GroupState[DiffState]) =>
          // within a micro-batch, order is the iterator's arrival order —
          // fold sequentially so a same-batch add+edit emits both events
          val out = scala.collection.mutable.ArrayBuffer.empty[DiffEvent]
          batch.foreach { u =>
            val prev = state.getOption
            if (u.deleted) {
              if (prev.isDefined) { state.remove(); out += DiffEvent(id, "removed") }
            } else {
              // state is only compared to itself, but keep the encoding
              // locale-proof all the same (no Formatter involved)
              val h = java.security.MessageDigest.getInstance("MD5")
                .digest(Option(u.text).getOrElse("").getBytes("UTF-8"))
                .map(b => Integer.toHexString((b & 0xff) | 0x100).substring(1))
                .mkString
              prev match {
                case None =>
                  state.update(DiffState(h)); out += DiffEvent(id, "added")
                case Some(DiffState(old)) if old == h =>
                  out += DiffEvent(id, "unchanged")
                case _ =>
                  state.update(DiffState(h)); out += DiffEvent(id, "changed")
              }
            }
          }
          out.iterator
      }
  }
}
