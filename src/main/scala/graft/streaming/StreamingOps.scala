package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for [[StreamingOps.sessionize]]. */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session state held per user between triggers. */
case class OpenSession(startMs: Long, endMs: Long, nEvents: Long, totalValue: Double)

/** A closed session emitted by [[StreamingOps.sessionize]]. */
case class UserSession(
    user_id: Long,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long,
    total_value: Double)

/** One event for [[StreamingOps.asofAttribution]]: `kind` is "touch"
  * (attributable) or "purchase" (to be attributed).
  */
case class AttributionEvent(user_id: Long, ts: java.sql.Timestamp, kind: String, event_id: Long)

/** Most recent touch held per user between triggers. */
case class LastTouch(tsMs: Long, eventId: Long)

/** An attributed purchase: `touch_id` is null when the user had no
  * touch at or before the purchase.
  */
case class AttributedPurchase(purchase_id: Long, user_id: Long, touch_id: java.lang.Long)

/** Touch timestamps (epoch ms) retained per user between triggers for
  * [[StreamingOps.rangeCountAttribution]] — only those still inside the
  * count horizon survive pruning, so the buffer is bounded by the
  * user's touch rate x interval, not by history.
  */
case class TouchBuffer(tsMs: Seq[Long])

/** A purchase with its preceding-interval touch count. */
case class RangeCounted(purchase_id: Long, user_id: Long, n_touches: Long)

/** One event for [[StreamingOps.funnelProgress]]: `ts` drives the
  * watermark (ms precision is all Spark needs there); `ts_ns` is the
  * exact nanosecond epoch the chain folds on, so stage ties resolve
  * bit-identically to batch q39 even for sub-millisecond adjacency.
  */
case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, ts_ns: Long, event_type: String)

/** Per-user funnel state: the (monotone) conversion chain plus the
  * not-yet-ripe buffer of events still inside the watermark horizon —
  * bounded by the user's event rate × the watermark delay, never by
  * history (the chain itself is O(1)).
  */
case class FunnelChain(pending: Seq[(Long, String)],
    v: Option[Long], c: Option[Long], p: Option[Long])

/** A finalized per-user conversion journey (ns epochs matching batch
  * q39, null = stage never reached) emitted by
  * [[StreamingOps.funnelProgress]].
  */
case class FunnelJourney(user_id: Long, view_ts: java.lang.Long,
    click_ts: java.lang.Long, purchase_ts: java.lang.Long, funnel_stage: Int)

/** One event for [[StreamingOps.windowTopK]]. */
case class TopKEvent(event_type: String, ts: java.sql.Timestamp, event_id: Long, value: Double)

/** Bounded per-(window, key) state for [[StreamingOps.windowTopK]]:
  * at most k (value, event_id) entries, whatever the ingest rate.
  */
case class TopKBuffer(items: Seq[(Double, Long)])

/** A finalized leaderboard row emitted by [[StreamingOps.windowTopK]]. */
case class WindowTopK(
    event_type: String,
    window_start: java.sql.Timestamp,
    rank: Int,
    event_id: Long,
    value: Double)

/** Structured Streaming operators (SURVEY.md §2.5).
  *
  * Both take an unbounded DataFrame (readStream source) and return a
  * transformed streaming DataFrame the caller wires to a sink — the
  * standard composable shape. Event time drives everything: the
  * watermark bounds state (without it, windowed state grows forever at
  * 100 TB/day ingest) and late data beyond it is dropped deterministically.
  */
object StreamingOps {

  /** Tumbling event-time window aggregation — the streaming twin of the
    * batch q12_time_window_agg: count + decimal-exact value sum per
    * (window, event_type). State per open window only; append-mode
    * emits a window once the watermark passes its end.
    */
  def windowAgg(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Stateful streaming dedup on event_id: keeps the FIRST arrival of
    * each id, holding ids in state only within the watermark horizon
    * (dropDuplicatesWithinWatermark — bounded state, unlike plain
    * dropDuplicates whose id set grows without bound). Streaming twin of
    * the exact-dedup batch ops (d01/q05 family).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap-based stateful sessionization — the streaming twin of batch
    * q13_sessionize, built on `flatMapGroupsWithState` (custom state;
    * the built-in `session_window` can't carry arbitrary per-session
    * aggregates through custom merge logic).
    *
    * State = ONE [[OpenSession]] per active user, keyed by user hash in
    * the state store — at 100 TB/day state is bounded by concurrently
    * ACTIVE users, not by events seen. A session closes either when a
    * later event for the user arrives more than `gapMinutes` after the
    * session end (emitted in that trigger), or when the event-time
    * watermark passes end + gap (event-time timeout — eviction needs no
    * traffic from the user, so abandoned sessions can't pin state).
    * In-trigger disorder is absorbed by sorting each user's trigger
    * batch; cross-trigger disorder is bounded by the watermark, like
    * every stateful op here.
    */
  def sessionize(
      events: Dataset[UserEvent],
      gapMinutes: Int = 30,
      watermark: String = "30 minutes"): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def close(userId: Long, s: OpenSession): UserSession =
      UserSession(userId, new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs),
        s.nEvents, s.totalValue)

    def onBatch(userId: Long, evs: Iterator[UserEvent],
        state: GroupState[OpenSession]): Iterator[UserSession] = {
      val sorted = evs.toIndexedSeq.sortBy(_.ts.getTime)
      val closed = Vector.newBuilder[UserSession]
      var open = state.getOption
      for (e <- sorted) {
        val t = e.ts.getTime
        open = open match {
          case Some(s) if t <= s.endMs + gapMs =>
            Some(OpenSession(s.startMs, math.max(s.endMs, t), s.nEvents + 1, s.totalValue + e.value))
          case Some(s) =>
            closed += close(userId, s)
            Some(OpenSession(t, t, 1L, e.value))
          case None =>
            Some(OpenSession(t, t, 1L, e.value))
        }
      }
      open.foreach { s =>
        state.update(s)
        // timeout must sit beyond the current watermark; an already-
        // expired session closes on the next trigger via the max
        state.setTimeoutTimestamp(math.max(s.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
      }
      closed.result().iterator
    }

    // watermark passed end + gap: no in-horizon event can extend it
    keyedState(events, watermark)(_.user_id)(onBatch) {
      (userId, s) => Iterator.single(close(userId, s))
    }
  }

  /** Streaming as-of attribution — the streaming twin of batch
    * q16_asof_join: each `purchase` event emits with the same user's
    * most recent `touch` at or before it. Custom state = ONE
    * [[LastTouch]] per user, so state is bounded by active users (and
    * evicted entirely once the watermark passes the last touch by
    * `maxIdleMinutes` — the bounded-lookback tradeoff a stream must
    * make; batch q16 keeps unbounded lookback).
    *
    * In-trigger disorder is absorbed by sorting each user's batch by
    * (ts, kind, event_id) — touches sort before purchases at equal ts,
    * and equal-ts touches resolve to the max event_id, matching q16 and
    * its oracle. Cross-trigger late touches beyond the watermark are
    * dropped, like every stateful op here.
    */
  def asofAttribution(
      events: Dataset[AttributionEvent],
      watermark: String = "30 minutes",
      maxIdleMinutes: Int = 7 * 24 * 60): Dataset[AttributedPurchase] = {
    val spark = events.sparkSession
    import spark.implicits._
    val idleMs = maxIdleMinutes * 60000L

    def onBatch(userId: Long, evs: Iterator[AttributionEvent],
        state: GroupState[LastTouch]): Iterator[AttributedPurchase] = {
      // touches ("touch" < "purchase" lexically) before purchases at
      // equal ts; max event_id wins among equal-ts touches
      val sorted = evs.toIndexedSeq.sortBy(e => (e.ts.getTime, if (e.kind == "touch") 0 else 1, e.event_id))
      val out = Vector.newBuilder[AttributedPurchase]
      var last = state.getOption
      for (e <- sorted) {
        if (e.kind == "touch") {
          // keep the lexicographically greatest (ts, event_id): a
          // within-watermark late touch must not clobber a later one
          // already in state from a previous trigger
          val t = e.ts.getTime
          if (last.forall(s => t > s.tsMs || (t == s.tsMs && e.event_id > s.eventId)))
            last = Some(LastTouch(t, e.event_id))
        } else {
          // at-or-before guard: state may hold a touch NEWER than this
          // purchase (the purchase arrived in a later trigger, within
          // the watermark) — a future touch must never attribute.
          // Single-touch state cannot recover an older superseded
          // touch in that case, so the purchase emits unattributed:
          // the bounded-state tradeoff vs batch q16's full lookback.
          out += AttributedPurchase(e.event_id, userId,
            last.filter(_.tsMs <= e.ts.getTime)
              .map(s => java.lang.Long.valueOf(s.eventId)).orNull)
        }
      }
      last match {
        case Some(s) =>
          state.update(s)
          state.setTimeoutTimestamp(math.max(s.tsMs + idleMs, state.getCurrentWatermarkMs() + 1))
        case None => ()
      }
      out.result().iterator
    }

    keyedState(events, watermark)(_.user_id)(onBatch)((_, _) => Iterator.empty)
  }

  /** Streaming interval-count — the streaming twin of batch
    * q17_range_join / `Relational.rangeJoinCount`: each `purchase`
    * emits with the count of the same user's `touch` events in
    * (purchase - interval, purchase]. Unlike [[asofAttribution]]'s
    * single-touch state, state here is EVERY touch still inside the
    * horizon — so out-of-order purchases within the watermark count
    * correctly against touches from earlier triggers, including
    * future-dated ones (the count predicate filters them per purchase).
    *
    * State is bounded: after each trigger the buffer drops touches at
    * or below `watermark - interval` — no in-horizon purchase
    * (ts >= watermark) can ever count them — so per-user state is
    * touch-rate x (interval + allowed lateness), independent of stream
    * length; the event-time timeout evicts idle users entirely.
    */
  def rangeCountAttribution(
      events: Dataset[AttributionEvent],
      intervalMinutes: Int = 30,
      watermark: String = "30 minutes"): Dataset[RangeCounted] = {
    val spark = events.sparkSession
    import spark.implicits._
    val intervalMs = intervalMinutes * 60000L

    def onBatch(userId: Long, evs: Iterator[AttributionEvent],
        state: GroupState[TouchBuffer]): Iterator[RangeCounted] = {
      // touches before purchases at equal ts, matching the batch
      // inclusive upper bound
      val sorted = evs.toIndexedSeq.sortBy(e =>
        (e.ts.getTime, if (e.kind == "touch") 0 else 1, e.event_id))
      var touches = state.getOption.map(_.tsMs.toVector).getOrElse(Vector.empty)
      val out = Vector.newBuilder[RangeCounted]
      for (e <- sorted) {
        val t = e.ts.getTime
        if (e.kind == "touch") touches = touches :+ t
        else out += RangeCounted(e.event_id, userId,
          touches.count(x => x <= t && x > t - intervalMs).toLong)
      }
      val horizon = state.getCurrentWatermarkMs() - intervalMs
      val kept = touches.filter(_ > horizon)
      if (kept.nonEmpty) {
        state.update(TouchBuffer(kept))
        state.setTimeoutTimestamp(
          math.max(kept.max + intervalMs, state.getCurrentWatermarkMs() + 1))
      } else if (state.exists) {
        state.remove()
      }
      out.result().iterator
    }

    keyedState(events, watermark)(_.user_id)(onBatch)((_, _) => Iterator.empty)
  }

  /** Streaming contamination gate — the unbounded-corpus twin of batch
    * d10 ([[graft.operators.Dedup.contaminationCheckBloom]]): the
    * held-out benchmark compresses ONCE at query build to fixed-size
    * bloom bytes ([[graft.operators.Dedup.benchmarkBloom]]) and every
    * arriving document probes the sketch row-locally
    * ([[graft.operators.Dedup.contaminationFlagsAgainstBloom]]).
    * Completely STATELESS — no watermark, no state store, no shuffle:
    * the sketch is a plan constant and the flags fold inside each row,
    * so the gate runs append-mode at ingest rate for as long as the
    * stream lives, with d10's one-sided error (contamination is never
    * under-reported; clean shingles false-hit <= fpp).
    */
  def contaminationGate(docs: DataFrame, benchmark: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    graft.operators.Dedup.contaminationFlagsAgainstBloom(docs,
      graft.operators.Dedup.benchmarkBloom(benchmark,
        expectedItems = expectedItems, fpp = fpp))

  /** Streaming fluency gate: score every arriving document's
    * perplexity under a trained bigram LM, in-row via the native
    * `graft_lm_score` expression (the t14 FUSED path —
    * [[graft.operators.Text.lmPerplexityFused]] minus the batch
    * presentation sort, which an unbounded stream cannot have). The
    * model is a driver-held plan constant like the bloom sketch above,
    * so the gate is completely STATELESS — no watermark, no state
    * store, no shuffle — and runs append-mode at ingest rate. Train
    * once on a reference corpus (`Text.lmTrain` + `Text.lmModel`),
    * filter on `perplexity` downstream.
    */
  def perplexityGate(docs: DataFrame, model: graft.functions.LmModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    def q(name: String) = col("`" + name.replace("`", "``") + "`")
    docs.select(q(idCol).as("doc_id"), q(textCol).as("text"))
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .withColumn("s", graft.functions.LmScore.score(s,
        graft.functions.WordShingles.shingles(s, col("toks"), 2), model))
      .select(col("doc_id"), col("s.n_transitions").as("n_transitions"),
        col("s.cross_entropy").as("cross_entropy"),
        col("s.perplexity").as("perplexity"))
  }

  /** Streaming feature-normalization gate: z-score/min-max every
    * arriving row against group moments TRAINED on a batch corpus
    * ([[graft.operators.Relational.normalizationStats]]) — the q28
    * train/serve split deployed at ingest, the same shape as the
    * perplexity and contamination gates: the stats frame is tiny and
    * static, so the stream-static join broadcasts it and the gate is
    * completely STATELESS — no watermark, no state store, no shuffle,
    * append mode at ingest rate. Identical arithmetic to batch
    * [[graft.operators.Relational.applyNormalization]] (it IS that
    * method), so a row scores the same bits in either deployment.
    */
  def normalizeGate(rows: DataFrame, stats: DataFrame, idCol: String,
      groupCol: String, valueCol: String): DataFrame =
    graft.operators.Relational.applyNormalization(rows, stats, idCol, groupCol, valueCol)

  /** TRUE stream-stream interval join — both sides unbounded (the
    * stateful capability [[rangeCountAttribution]]'s one-stream buffer
    * deliberately avoids): every purchase pairs with every same-user
    * touch inside `(purchase_ts − interval, purchase_ts]` — q17's
    * interval semantics (exclusive lower, inclusive upper) as emitted
    * PAIRS rather than counts, matching across micro-batch boundaries
    * in either direction (a touch buffered now can join a purchase
    * arriving later, and vice versa).
    *
    * State is Spark's own stream-stream join state, bounded by the
    * watermark + the time-range condition: each side retains only rows
    * the other side could still legally match (purchases up to
    * watermark, touches up to watermark + interval) — the reason BOTH
    * sides must be watermarked, and the reason this scales to
    * unbounded inputs where a naive cache of either stream cannot.
    * Append mode; a pair emits as soon as both rows have arrived.
    *
    * Expected columns per side: `(user_id, ts TIMESTAMP, event_id)`.
    */
  def intervalJoin(purchases: DataFrame, touches: DataFrame,
      watermark: String = "30 minutes",
      interval: String = "30 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark).alias("p")
    val t = touches.withWatermark("ts", watermark).alias("t")
    p.join(t,
        col("p.user_id") === col("t.user_id") &&
          col("t.ts") <= col("p.ts") &&
          col("t.ts") > col("p.ts") - expr(s"INTERVAL $interval"))
      .select(col("p.event_id").as("purchase_id"),
        col("p.user_id").as("user_id"),
        col("t.event_id").as("touch_id"))
  }

  /** Streaming windowed top-k: for each (tumbling window, key), emit
    * the k highest-value events once the watermark closes the window —
    * the leaderboard/heavy-hitter question (top sellers per hour, top
    * error sources per window) with state bounded BY CONSTRUCTION:
    * each open (window, key) holds at most k (value, id) entries, the
    * arriving batch folds into that bounded buffer, and the buffer is
    * emitted ranked + dropped the moment event time passes the window
    * end. The alternative — window-agg then rank — would buffer every
    * event of the window in the state store; this never holds more
    * than k·(open windows)·(keys) rows whatever the ingest rate.
    *
    * Append-mode (a window's ranking is final when emitted, because
    * the watermark says no in-horizon event can still change it); ties
    * break (value desc, event_id asc) like batch q07.
    */
  def windowTopK(
      events: Dataset[TopKEvent],
      k: Int = 3,
      windowMinutes: Int = 60,
      watermark: String = "30 minutes"): Dataset[WindowTopK] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(k > 0, s"k must be positive, got $k")
    val winMs = windowMinutes * 60000L

    def emit(key: (String, Long), s: TopKBuffer): Iterator[WindowTopK] =
      s.items.sortBy { case (v, id) => (-v, id) }.zipWithIndex.iterator.map {
        case ((v, id), i) =>
          WindowTopK(key._1, new java.sql.Timestamp(key._2), i + 1, id, v)
      }

    def onBatch(key: (String, Long), evs: Iterator[TopKEvent],
        state: GroupState[TopKBuffer]): Iterator[WindowTopK] = {
      // fold the batch into the bounded buffer: keep only the k
      // best (value desc, event_id asc) seen so far
      val merged = (state.getOption.map(_.items).getOrElse(Seq.empty) ++
        evs.map(e => (e.value, e.event_id)))
        .sortBy { case (v, id) => (-v, id) }.take(k)
      state.update(TopKBuffer(merged))
      // final the moment the watermark passes the window end
      state.setTimeoutTimestamp(
        math.max(key._2 + winMs, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }

    keyedState(events, watermark)(e => (e.event_type, e.ts.getTime / winMs * winMs))(onBatch)(emit)
  }

  /** Streaming conversion funnel — the stateful deployment of batch
    * q39 (view → click → purchase, earliest-conversion semantics) with
    * EXACT batch equality under bounded disorder: q39's chain depends
    * on global time order (the first view decides which clicks count),
    * so events buffer per user until the watermark passes them, then
    * fold into the chain in ascending-ts order — at which point the
    * fold is order-exact: the first view seen IS the global min view,
    * so the chain only ever extends, never revises. State = the O(1)
    * chain + the in-horizon buffer (bounded by rate × watermark,
    * never history — the q13/q16/q17 streaming tradeoff). The
    * finalized journey emits once the user idles `maxIdleMinutes`
    * past the watermark (append mode; stage ties resolve exactly like
    * batch: a click at the view's own timestamp is NOT after it). A
    * user who returns AFTER finalization starts a fresh journey — the
    * q13 session-gap semantics applied to conversion chains, and the
    * knob to set against expected revisit gaps (idle longer than the
    * stream's largest within-user gap ⇒ exactly one journey per user,
    * equal to batch q39 — StreamingSpec pins it).
    */
  def funnelProgress(
      events: Dataset[FunnelEvent],
      watermark: String = "30 minutes",
      maxIdleMinutes: Int = 120): Dataset[FunnelJourney] = {
    val spark = events.sparkSession
    import spark.implicits._
    val idleMs = maxIdleMinutes * 60000L

    def fold(ch: FunnelChain, ripe: Seq[(Long, String)]): FunnelChain =
      ripe.sortBy(_._1).foldLeft(ch) { case (s, (t, k)) =>
        k match {
          case "view" if s.v.isEmpty => s.copy(v = Some(t))
          case "click" if s.c.isEmpty && s.v.exists(t > _) => s.copy(c = Some(t))
          case "purchase" if s.p.isEmpty && s.c.exists(t > _) => s.copy(p = Some(t))
          case _ => s
        }
      }

    def journey(userId: Long, s: FunnelChain): FunnelJourney = {
      val fin = fold(s, s.pending).copy(pending = Seq.empty)
      FunnelJourney(userId,
        fin.v.map(java.lang.Long.valueOf).orNull,
        fin.c.map(java.lang.Long.valueOf).orNull,
        fin.p.map(java.lang.Long.valueOf).orNull,
        Seq(fin.v, fin.c, fin.p).count(_.isDefined))
    }

    def onBatch(userId: Long, evs: Iterator[FunnelEvent],
        state: GroupState[FunnelChain]): Iterator[FunnelJourney] = {
      val wm = state.getCurrentWatermarkMs()
      val incoming = evs.map(e => (e.ts_ns, e.event_type)).toSeq
      val s0 = state.getOption.getOrElse(FunnelChain(Seq.empty, None, None, None))
      val all = s0.pending ++ incoming
      // ripe = at or before the watermark (ns compared in ms): no
      // earlier event can still arrive, so the ts-order fold is final
      val (ripe, hold) = all.partition(_._1 / 1000000L <= wm)
      val s1 = fold(s0, ripe).copy(pending = hold)
      state.update(s1)
      val horizonMs = (all.map(_._1 / 1000000L) :+ wm).max
      state.setTimeoutTimestamp(math.max(horizonMs + idleMs, wm + 1))
      Iterator.empty
    }

    // idle past the watermark: everything buffered is ripe — finalize
    // the chain and emit the journey once
    keyedState(events, watermark)(_.user_id)(onBatch) {
      (userId, s) => Iterator.single(journey(userId, s))
    }
  }

  /** The keyed event-time state of the stateful operators above:
    * watermark `ts`, group by `key`, and run `onBatch` over each key's
    * trigger batch and its state (Append mode, event-time timeout).
    * Once the watermark passes a key's timeout, its state is removed
    * and `onTimeout` emits from it.
    */
  private def keyedState[E, K: Encoder, S: Encoder, U: Encoder](events: Dataset[E],
      watermark: String)(key: E => K)(onBatch: (K, Iterator[E], GroupState[S]) => Iterator[U])(
      onTimeout: (K, S) => Iterator[U]): Dataset[U] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, evs: Iterator[E], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            onTimeout(k, s)
          } else onBatch(k, evs, state)
      }
}
