package graft

import java.sql.Timestamp

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming specs through MemoryStream -> memory sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming window agg aggregates by tumbling event-time window") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowAgg(events, windowLength = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("win_agg").outputMode("complete").start()
    try {
      input.addData(
        (ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(3), "view", 5.0),
        (ts(11), "click", 10.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .orderBy("window_start", "event_type")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq === Seq(
        (ts(0), "click", 2L, 3.0),
        (ts(0), "view", 1L, 5.0),
        (ts(10), "click", 1L, 10.0)))
    } finally q.stop()
  }

  test("stateful sessionize closes sessions on gap and on watermark timeout") {
    import graft.streaming.{UserEvent, UserSession}
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[UserEvent]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 10, watermark = "0 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: two events 1 min apart (one session), then a 15-min gap
      input.addData(
        UserEvent(1L, ts(1), 1.0), UserEvent(1L, ts(2), 2.0),
        UserEvent(2L, ts(5), 5.0))
      q.processAllAvailable()
      // the gap event closes user 1's first session within the trigger
      input.addData(UserEvent(1L, ts(17), 3.0))
      q.processAllAvailable()
      // advance the watermark far past every end + gap, then let the
      // timeout trigger fire to flush the still-open sessions
      input.addData(UserEvent(99L, ts(59), 0.0))
      q.processAllAvailable()
      input.addData(UserEvent(98L, ts(59), 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions").as[UserSession].collect()
        .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.total_value))
        .sortBy(t => (t._1, t._2.getTime)).toSeq
      assert(got.contains((1L, ts(1), ts(2), 2L, 3.0)),  s"gap-closed session missing: $got")
      assert(got.contains((1L, ts(17), ts(17), 1L, 3.0)), s"timeout-closed 2nd session missing: $got")
      assert(got.contains((2L, ts(5), ts(5), 1L, 5.0)),  s"timeout-closed user-2 session missing: $got")
    } finally q.stop()
  }

  test("streaming sessionize agrees with batch q13 on real events") {
    import graft.streaming.{UserEvent, UserSession}
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val users = 20L

    // batch truth: q13 output for the sampled users (sessions of a user
    // are independent of other users, so filtering the output is exact)
    val expected = graft.operators.Relational.q13Sessionize(spark, sf)
      .filter(col("user_id") <= users)
      .orderBy("user_id", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq

    // same events through the stateful streaming path (ts is a
    // nanosecond long in events.parquet; sessions live at ms precision)
    val evs = graft.Tables.events(spark, sf)
      .filter(col("user_id") <= users)
      .select("user_id", "ts", "value")
      .collect()
      .map(r => UserEvent(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L), r.getDouble(2)))
    val input = MemoryStream[UserEvent]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30, watermark = "0 minutes")
      .writeStream.format("memory").queryName("sess_equiv").outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      q.processAllAvailable()
      // two watermark-advancing triggers flush the open sessions
      val flushTs = new Timestamp(evs.map(_.ts.getTime).max + 24L * 3600 * 1000)
      input.addData(UserEvent(9999L, flushTs, 0.0))
      q.processAllAvailable()
      input.addData(UserEvent(9998L, flushTs, 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_equiv").as[UserSession]
        .filter(col("user_id") <= users)
        .collect()
        .sortBy(s => (s.user_id, s.session_start.getTime))
        .map(s => (s.user_id, s.n_events, s.total_value)).toSeq
      assert(got.map(t => (t._1, t._2)) === expected.map(t => (t._1, t._2)))
      got.zip(expected).foreach { case (g, e) =>
        assert(math.abs(g._3 - e._3) < 1e-6, s"user ${g._1}: ${g._3} vs ${e._3}")
      }
    } finally q.stop()
  }

  test("streaming asofAttribution agrees with batch q16 on real events") {
    import graft.streaming.{AttributionEvent, AttributedPurchase}
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val users = 20L

    val expected = graft.operators.Relational.q16AsofJoin(spark, sf)
      .filter(col("user_id") <= users)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(2)).map(_.asInstanceOf[Long])))
      .toMap

    val evs = Tables.events(spark, sf)
      .filter(col("user_id") <= users &&
        col("event_type").isin("purchase", "click", "view"))
      .select("user_id", "ts", "event_type", "event_id")
      .collect()
      .map(r => AttributionEvent(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L),
        if (r.getString(2) == "purchase") "purchase" else "touch", r.getLong(3)))
    val input = MemoryStream[AttributionEvent]
    val q = StreamingOps.asofAttribution(input.toDS(), watermark = "0 minutes")
      .writeStream.format("memory").queryName("asof_attr").outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      q.processAllAvailable()
      val got = spark.table("asof_attr").as[AttributedPurchase].collect()
        .map(p => p.purchase_id -> Option(p.touch_id).map(_.toLong)).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("asofAttribution never attributes a purchase to a future touch across triggers") {
    import graft.streaming.{AttributionEvent, AttributedPurchase}
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[AttributionEvent]
    val q = StreamingOps.asofAttribution(input.toDS(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("asof_guard").outputMode("append").start()
    try {
      input.addData(AttributionEvent(1L, ts(10), "touch", 100L))
      q.processAllAvailable()
      // within-watermark purchases arriving a trigger later: one with
      // event time BEFORE the state's touch (must NOT attribute to the
      // future touch), one after it (must attribute)
      input.addData(
        AttributionEvent(1L, ts(5), "purchase", 200L),
        AttributionEvent(1L, ts(12), "purchase", 201L))
      q.processAllAvailable()
      // a late touch older than state must neither clobber state nor
      // become visible to a later out-of-order purchase (single-touch
      // state: superseded touches are unrecoverable by design)
      input.addData(AttributionEvent(1L, ts(3), "touch", 101L))
      q.processAllAvailable()
      input.addData(AttributionEvent(1L, ts(4), "purchase", 202L))
      q.processAllAvailable()
      val got = spark.table("asof_guard").as[AttributedPurchase].collect()
        .map(p => p.purchase_id -> Option(p.touch_id).map(_.toLong)).toMap
      assert(got === Map(200L -> None, 201L -> Some(100L), 202L -> None))
    } finally q.stop()
  }

  test("streaming rangeCountAttribution agrees with batch rangeJoinCount on real events") {
    import graft.streaming.{AttributionEvent, RangeCounted}
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val users = 20L

    // ms-truncated once, then fed to BOTH the batch library operator and
    // the stream, so the equivalence is exact by construction
    val evs = Tables.events(spark, sf)
      .filter(col("user_id") <= users &&
        col("event_type").isin("purchase", "click", "view"))
      .select("user_id", "ts", "event_type", "event_id")
      .collect()
      .map(r => AttributionEvent(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L),
        if (r.getString(2) == "purchase") "purchase" else "touch", r.getLong(3)))
    val intervalMs = 30L * 60000L
    val purchases = evs.filter(_.kind == "purchase")
      .map(e => (e.event_id, e.user_id, e.ts.getTime)).toSeq
      .toDF("purchase_id", "user_id", "t")
    val touches = evs.filter(_.kind == "touch")
      .map(e => (e.user_id, e.ts.getTime)).toSeq.toDF("user_id", "t")
    val expected = graft.operators.Relational
      .rangeJoinCount(purchases, touches, "user_id", "t", intervalMs, "n")
      .collect().map(r => r.getAs[Long]("purchase_id") -> r.getAs[Long]("n")).toMap

    val input = MemoryStream[AttributionEvent]
    val q = StreamingOps.rangeCountAttribution(input.toDS(), watermark = "0 minutes")
      .writeStream.format("memory").queryName("range_attr").outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      q.processAllAvailable()
      val got = spark.table("range_attr").as[RangeCounted].collect()
        .map(p => p.purchase_id -> p.n_touches).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("rangeCountAttribution counts across triggers, out of order, never future touches") {
    import graft.streaming.{AttributionEvent, RangeCounted}
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[AttributionEvent]
    val q = StreamingOps.rangeCountAttribution(input.toDS(),
      intervalMinutes = 10, watermark = "30 minutes")
      .writeStream.format("memory").queryName("range_guard").outputMode("append").start()
    try {
      input.addData(
        AttributionEvent(1L, ts(10), "touch", 100L),
        AttributionEvent(1L, ts(14), "touch", 101L))
      q.processAllAvailable()
      // purchase arrives a trigger later, BETWEEN the two buffered
      // touches in event time: counts ts(10) in (ts(2), ts(12)], not
      // the future ts(14)
      input.addData(AttributionEvent(1L, ts(12), "purchase", 200L))
      q.processAllAvailable()
      // 201 at ts(24): its window is (ts(14), ts(24)] — the touch AT
      // ts(14) sits exactly on the exclusive lower bound, count 0.
      // 202 at ts(14): window (ts(4), ts(14)] — counts both touches.
      input.addData(
        AttributionEvent(1L, ts(24), "purchase", 201L),
        AttributionEvent(1L, ts(14), "purchase", 202L))
      q.processAllAvailable()
      val got = spark.table("range_guard").as[RangeCounted].collect()
        .map(p => p.purchase_id -> p.n_touches).toMap
      assert(got === Map(200L -> 1L, 201L -> 0L, 202L -> 2L))
    } finally q.stop()
  }

  test("rangeCountAttribution state is bounded: watermark evicts stale touch buffers") {
    import graft.streaming.AttributionEvent
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[AttributionEvent]
    val q = StreamingOps.rangeCountAttribution(input.toDS(),
      intervalMinutes = 10, watermark = "0 minutes")
      .writeStream.format("memory").queryName("range_state").outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // five users buffer one touch each
      input.addData((1L to 5L).map(u => AttributionEvent(u, ts(u.toInt), "touch", u)): _*)
      q.processAllAvailable()
      val afterLoad = stateRows
      assert(afterLoad >= 5L, s"expected 5 buffered users, state=$afterLoad")
      // two watermark-advancing triggers: batch 2 moves the watermark to
      // ts(50); batch 3 runs WITH that watermark, fires the event-time
      // timeouts (every buffer's horizon is <= ts(15)), and evicts all
      // five users' state — without any further traffic from them
      input.addData(AttributionEvent(99L, ts(50), "touch", 990L))
      q.processAllAvailable()
      input.addData(AttributionEvent(98L, ts(51), "touch", 991L))
      q.processAllAvailable()
      val afterAdvance = stateRows
      assert(afterAdvance < afterLoad,
        s"state must shrink once the watermark passes the horizon: $afterLoad -> $afterAdvance")
      assert(afterAdvance <= 2L, s"only the two fresh users may hold state, got $afterAdvance")
    } finally q.stop()
  }

  test("asofAttribution state is bounded: idle users are evicted after maxIdleMinutes") {
    import graft.streaming.{AttributionEvent, AttributedPurchase}
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[AttributionEvent]
    val q = StreamingOps.asofAttribution(input.toDS(),
      watermark = "0 minutes", maxIdleMinutes = 10)
      .writeStream.format("memory").queryName("asof_state").outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      input.addData(AttributionEvent(1L, ts(1), "touch", 100L))
      q.processAllAvailable()
      assert(stateRows >= 1L)
      // advance the watermark past ts(1) + 10 min idle; the next batch
      // fires user 1's timeout and drops the LastTouch state
      input.addData(AttributionEvent(99L, ts(40), "touch", 990L))
      q.processAllAvailable()
      input.addData(AttributionEvent(98L, ts(41), "touch", 991L))
      q.processAllAvailable()
      // user 1's purchase after eviction: unattributed, because the
      // bounded-lookback state no longer remembers the idle touch
      input.addData(AttributionEvent(1L, ts(42), "purchase", 200L))
      q.processAllAvailable()
      val got = spark.table("asof_state").as[AttributedPurchase].collect()
        .map(p => p.purchase_id -> Option(p.touch_id).map(_.toLong)).toMap
      assert(got === Map(200L -> None), s"evicted state must not attribute: $got")
      // state never grows past the set of non-idle users (98, 99, and
      // user 1's fresh re-appearance)
      assert(stateRows <= 3L, s"state=$stateRows")
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per event_id within watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "event_id", "value")
    val q = StreamingOps.dedupWithinWatermark(events, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData((ts(1), 1L, 1.0), (ts(2), 2L, 2.0))
      q.processAllAvailable()
      input.addData((ts(3), 1L, 999.0), (ts(4), 3L, 3.0)) // dup id 1 dropped
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id", "value").as[(Long, Double)]
        .collect().sorted.toSeq
      assert(ids === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally q.stop()
  }

  test("streaming contamination gate flags docs statelessly across triggers") {
    implicit val ctx = spark.sqlContext
    val benchmark = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four five six"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // tight sketch: 1e-3 fpp on a dozen benchmark shingles, so a clean
    // shingle false-hitting would be a deterministic-seed miracle
    val q = StreamingOps.contaminationGate(docs, benchmark,
      expectedItems = 1000L, fpp = 0.001)
      .writeStream.format("memory").queryName("contam_gate").outputMode("append").start()
    try {
      input.addData(
        (1L, "alpha beta gamma delta epsilon"), // verbatim leak -> 1.0
        (2L, "clean words entirely elsewhere found"), // disjoint -> 0.0
        (3L, "hi there")) // <3 tokens -> no shingles, dropped like batch
      q.processAllAvailable()
      // second trigger keeps flowing with no state carried: partial leak
      // "alpha beta gamma" is 1 of 3 shingles
      input.addData((4L, "alpha beta gamma more words"))
      q.processAllAvailable()
      val got = spark.table("contam_gate").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(got === Map(
        1L -> ((3L, 3L, 1.0)),
        2L -> ((3L, 0L, 0.0)),
        4L -> ((3L, 1L, 0.333333))))
      // stateless by construction: the executed progress reports no
      // stateful operators at all
      assert(q.lastProgress.stateOperators.isEmpty,
        q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("streaming perplexity gate scores statelessly and equals the batch fused path") {
    import graft.operators.Text
    implicit val ctx = spark.sqlContext
    // train on a tiny reference corpus, hold the model on the driver
    val ref = Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the log"))
      .toDF("doc_id", "text")
    val (uniD, bgD) = Text.lmTrain(ref)
    val model = Text.lmModel(uniD, bgD)
    val probes = Seq(
      (10L, "the cat sat on the log"), // in-domain
      (11L, "zz qq ww"), // OOV floors every transition
      (12L, "the")) // no transitions -> nulls
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.perplexityGate(input.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("ppl_gate").outputMode("append").start()
    try {
      input.addData(probes: _*)
      q.processAllAvailable()
      val got = spark.table("ppl_gate").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.get(2), r.get(3)))).toMap
      val want = Text.lmPerplexityFused(probes.toDF("doc_id", "text"), model)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.get(2), r.get(3)))).toMap
      assert(got === want)
      assert(got(11L)._1 === 2L && got(12L)._2 === null)
      // the model is a plan constant: no state store anywhere
      assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("streaming normalize gate scores statelessly and bit-equals batch q28 arithmetic") {
    import graft.operators.Relational
    implicit val ctx = spark.sqlContext
    // train the group moments on a batch reference corpus
    val ref = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 10.0), (5L, "b", 30.0)).toDF("id", "g", "v")
    val stats = Relational.normalizationStats(ref, "g", "v")
    val probes = Seq((10L, "a", 1.5), (11L, "a", 3.0), (12L, "b", 20.0))
    val input = MemoryStream[(Long, String, Double)]
    val q = StreamingOps.normalizeGate(
      input.toDF().toDF("id", "g", "v"), stats, "id", "g", "v")
      .writeStream.format("memory").queryName("norm_gate").outputMode("append").start()
    try {
      input.addData(probes.take(2): _*)
      q.processAllAvailable()
      input.addData(probes.drop(2): _*) // second trigger, no carried state
      q.processAllAvailable()
      val got = spark.table("norm_gate").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
      // identical arithmetic: batch applyNormalization on the same rows
      val want = Relational.applyNormalization(
        probes.toDF("id", "g", "v"), stats, "id", "g", "v")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
      assert(got === want)
      // hand check one: group a mean 2, population sd sqrt(2/3)
      assert(got(11L) === ((1.224745, 1.0)))
      // stats are a broadcast plan constant: no state store anywhere
      assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("streaming normalize gate keeps a row of a group unseen at training, unscored") {
    import graft.operators.Relational
    implicit val ctx = spark.sqlContext
    val ref = Seq((1L, "a", 1.0), (2L, "a", 3.0)).toDF("id", "g", "v")
    val stats = Relational.normalizationStats(ref, "g", "v")
    val input = MemoryStream[(Long, String, Double)]
    val q = StreamingOps.normalizeGate(
      input.toDF().toDF("id", "g", "v"), stats, "id", "g", "v")
      .writeStream.format("memory").queryName("norm_gate_unseen").outputMode("append").start()
    try {
      input.addData((10L, "a", 3.0), (13L, "c", 5.0))
      q.processAllAvailable()
      val got = spark.table("norm_gate_unseen").collect().map(r => r.getLong(0) -> r).toMap
      assert(got.keySet === Set(10L, 13L), "a row of an unseen group must not vanish")
      assert(got(10L).getDouble(2) === 1.0 && got(10L).getDouble(3) === 1.0)
      assert(got(13L).getString(1) === "c" && got(13L).isNullAt(2) && got(13L).isNullAt(3),
        got(13L).toString)
      assert(q.lastProgress.stateOperators.isEmpty, q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("streaming CDC apply: per-micro-batch cdcMerge maintains the table like sequential merges") {
    // the standard streaming maintenance loop: a CDC feed lands in
    // micro-batches, each applied to the maintained table with the
    // BATCH cdcMerge inside foreachBatch — exactly how Structured
    // Streaming deploys a MERGE INTO. Three changesets stream in with
    // forced batch boundaries; the maintained table must equal folding
    // the same three changesets through batch cdcMerge in order.
    implicit val ctx = spark.sqlContext
    val base = Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "C", 3.0))
      .toDF("k", "s", "p")
    val changesets = Seq(
      Seq((2L, "B2", 2.5, "U"), (4L, "D", 4.0, "U")), // update 2, insert 4
      Seq((1L, "", 0.0, "D"), (4L, "D2", 4.5, "U")), // delete 1, update 4
      Seq((5L, "E", 5.0, "U"), (3L, "", 0.0, "D"))) // insert 5, delete 3
    var maintained = base
    val input = MemoryStream[(Long, String, Double, String)]
    val q = input.toDF().toDF("k", "s", "p", "op").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // localize the micro-batch (it is changeset-sized), then apply
        // the batch operator; production would write a table/Delta sink
        val rows = batch.collect().toSeq
        if (rows.nonEmpty) {
          val ch = rows.map(r =>
            (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
            .toDF("k", "s", "p", "op")
          maintained = graft.operators.Relational.cdcMerge(maintained, ch, Seq("k"))
            .localCheckpoint()
        }
      }
      .start()
    try {
      for (ch <- changesets) {
        input.addData(ch: _*)
        q.processAllAvailable() // one changeset per micro-batch
      }
      val want = changesets.foldLeft(base) { (acc, ch) =>
        graft.operators.Relational.cdcMerge(acc, ch.toDF("k", "s", "p", "op"), Seq("k"))
      }.collect().map(_.toSeq).toSeq
      val got = maintained.collect().map(_.toSeq).toSeq
      assert(got === want)
      assert(got.map(_.head) === Seq(2L, 4L, 5L), got.toString)
    } finally q.stop()
  }

  test("streaming ingest dedup: per-micro-batch index probe + append finds cross-batch dups") {
    // the d12 ingest loop deployed on a stream: each micro-batch is
    // signed ONCE (minhashIndex), probes the maintained index
    // (incrementalNearDupsSigned), then folds into it (indexAppend) —
    // so a batch dedups against initial history AND every earlier
    // batch, without either being re-signed. Three micro-batches with
    // forced boundaries; matches must equal folding the same batches
    // through the batch operators sequentially.
    implicit val ctx = spark.sqlContext
    import graft.operators.Dedup
    def doc(id: Long, seed: String) =
      (id, (0 until 12).map(j => s"${seed}w$j").mkString(" "))
    val history = Seq(doc(1L, "a"), doc(2L, "b")).toDF("doc_id", "text")
    val batches = Seq(
      Seq(doc(10L, "c"), doc(11L, "a")), // 11 dups history doc 1
      Seq(doc(20L, "c")), // dups doc 10 — found ONLY via the appended index
      Seq(doc(30L, "c"), doc(31L, "z"))) // 30 dups 10 AND 20; 31 fresh
    var index = Dedup.minhashIndex(history)
    var streamed = Vector.empty[(Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect().map(r => (r.getLong(0), r.getString(1)))
            .toSeq.toDF("doc_id", "text")
          val (ns, nb) = Dedup.minhashIndex(localized)
          streamed ++= Dedup.incrementalNearDupsSigned(index._1, index._2, ns, nb)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          val appended = Dedup.indexAppend(index._1, index._2, ns, nb)
          index = (appended._1.localCheckpoint(), appended._2.localCheckpoint())
        }
      }
      .start()
    try {
      for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
      // batch reference: the identical sequential fold
      var refIndex = Dedup.minhashIndex(history)
      var ref = Vector.empty[(Long, Long)]
      for (b <- batches) {
        val (ns, nb) = Dedup.minhashIndex(b.toDF("doc_id", "text"))
        ref ++= Dedup.incrementalNearDupsSigned(refIndex._1, refIndex._2, ns, nb)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        refIndex = Dedup.indexAppend(refIndex._1, refIndex._2, ns, nb)
      }
      assert(streamed === ref)
      // the semantic meat: exact planted lineage, including dups of
      // docs that arrived on the STREAM, not in initial history
      assert(streamed.toSet === Set((11L, 1L), (20L, 10L), (30L, 10L), (30L, 20L)))
    } finally q.stop()
  }

  test("streaming sketch-state maintenance: append + compact per micro-batch equals the sequential fold") {
    // the q32 incremental-analytics loop on a stream: each micro-batch
    // builds its OWN daily HLL states (map-side, fixed-size), appends
    // them to the maintained state table, and compaction re-unions
    // same-key sketches — raw events are never kept. The maintained
    // table must equal folding the same batches sequentially through
    // the batch operators, and its rollup must stay within HLL error
    // of the exact distinct over everything seen.
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    val batches = Seq(
      (0L until 40L).map(i => ("click", i % 7, i)),       // day 0-6
      (0L until 40L).map(i => ("click", i % 5, i + 20)),  // overlaps users
      (0L until 30L).map(i => ("view", i % 3, i)))
    def states(rows: Seq[(String, Long, Long)]) =
      Relational.sketchStates(
        rows.toDF("event_type", "day", "user_id"),
        Seq("event_type", "day"), "user_id")
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Long, Long)]
    val q = input.toDF().toDF("event_type", "day", "user_id").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          val appended =
            if (maintained == null) states(localized)
            else maintained.unionByName(states(localized))
          maintained = Relational.sketchCompact(appended, Seq("event_type", "day"))
            .localCheckpoint()
        }
      }
      .start()
    try {
      for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
      // identical sequential fold through the batch operators
      val ref = batches.tail.foldLeft(states(batches.head)) { (acc, b) =>
        Relational.sketchCompact(acc.unionByName(states(b)), Seq("event_type", "day"))
      }
      def rolled(st: org.apache.spark.sql.DataFrame) =
        Relational.sketchRollup(st, Seq("event_type")).collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val got = rolled(maintained)
      assert(got === rolled(ref))
      // accuracy vs the exact distincts over everything streamed
      val all = batches.flatten
      val exact = all.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3).distinct.size }
      for ((k, d) <- exact)
        assert(math.abs(got(k)._1 - d) <= math.max(2.0, 0.05 * d),
          s"$k: est ${got(k)._1} vs exact $d")
      // n_rows are exact longs and must survive the compactions
      assert(got.view.mapValues(_._2).toMap ===
        all.groupBy(_._1).view.mapValues(_.size.toLong).toMap)
    } finally q.stop()
  }

  test("streaming count-min maintenance: per-micro-batch append + compact is EXACTLY the one-shot sketch") {
    // the q50 loop on a stream — same shape as the HLL maintenance
    // above, but counters ADD exactly, so the maintained state must be
    // bit-equal (not merely within error) to sketching everything seen
    // in one shot, and point estimates keep the never-undercount
    // guarantee over the full history
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    val batches = Seq(
      (0 until 50).map(i => ("click", s"u${i % 9}")),
      (0 until 50).map(i => ("click", s"u${i % 6}")),
      (0 until 30).map(i => ("view", s"u${i % 4}")))
    def states(rows: Seq[(String, String)]) =
      Relational.countMinStates(rows.toDF("event_type", "user"),
        Seq("event_type"), "user", depth = 3, width = 16)
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("event_type", "user").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq
          val appended =
            if (maintained == null) states(localized)
            else maintained.unionByName(states(localized))
          maintained = Relational.countMinCompact(appended, Seq("event_type"))
            .localCheckpoint()
        }
      }
      .start()
    try {
      // the state bound IS the operator's reason to exist: after every
      // micro-batch the maintained table stays within the fixed
      // groups x depth x width counter grid (2 x 3 x 16 = 96 rows)
      // no matter how many raw events have streamed through — raw
      // rows are never kept
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        assert(maintained.count() <= 2L * 3L * 16L,
          s"state grew past the counter grid: ${maintained.count()} rows")
      }
      val all = batches.flatten
      assert(all.size > 2 * 3 * 16, "test must stream more events than counters")
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)
      val oneShot = states(all).collect().map(key).toMap
      assert(maintained.collect().map(key).toMap === oneShot)
      // point estimates over the full history never undercount
      val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val est = Relational.countMinEstimate(maintained, Seq("event_type"),
        all.distinct.toDF("event_type", "user"), "user", depth = 3, width = 16)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      est.foreach { case (k, e) => assert(e >= truth(k), s"$k undercounted") }
    } finally q.stop()
  }

  test("streaming vote maintenance: per-micro-batch append + compact serves EXACTLY the batch consensus") {
    // the q52 loop on a stream — annotation votes arrive over time, the
    // maintained (item, label) -> n state is mergeable by plain
    // addition (raw votes never kept), and consensusFromVotes serves
    // the answer state-in/answer-out at any point, bit-equal to
    // running labelConsensus over everything streamed
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    val batches = Seq(
      Seq((1L, "pos"), (1L, "neg"), (2L, "pos"), (3L, "a")),
      Seq((1L, "pos"), (2L, "neg"), (2L, "neg"), (3L, "b")),
      // the late batch FLIPS item 2's leader and breaks item 3's tie
      Seq((2L, "pos"), (2L, "pos"), (3L, "a"), (4L, "x")))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("item", "label").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq
          val states = Relational.voteStates(
            localized.toDF("item", "label"), "item", "label")
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Relational.voteCompact(appended).localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state is bounded by DISTINCT (item, label) pairs, never raw votes
        assert(maintained.count() <= seen.distinct.size,
          s"state grew past the distinct vote grid")
        // served consensus == batch operator over everything streamed,
        // row for row, AFTER EVERY BATCH (not just at the end)
        def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
            r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
        val served = rows(Relational.consensusFromVotes(maintained, "item"))
        val batchRef = rows(Relational.labelConsensus(
          seen.toSeq.toDF("item", "label"), "item", "label"))
        assert(served === batchRef)
      }
      // the flip actually happened: item 2 ends pos (3 of 5), item 3's
      // tie broke toward 'a' (2 of 3)
      val fin = Relational.consensusFromVotes(maintained, "item").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(5))).toMap
      assert(fin(2L) === (("pos", true)) && fin(3L) === (("a", true)))
    } finally q.stop()
  }

  test("streaming weighted sample: bounded top-k state serves EXACTLY the batch q37 sample") {
    // the q37 loop on a stream — the Efraimidis–Spirakis key is a pure
    // deterministic function of (id, weight), so top-k telescopes:
    // top-k(top-k(seen) ∪ batch) == top-k(seen ∪ batch). The maintained
    // state is just the current winners' (group, id, weight) rows —
    // k rows per group, never the corpus — and re-running the batch
    // operator over the state IS the serve.
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    val k = 2
    val batches = Seq(
      Seq(("g", 1L, 10.0), ("g", 2L, 20.0), ("h", 3L, 5.0)),
      Seq(("g", 4L, 15.0), ("h", 5L, 5.0), ("h", 6L, 5.0)),
      // a late heavyweight must evict one of g's incumbents
      Seq(("g", 99L, 1e9), ("h", 7L, 5.0)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Long, Double)]
    val q = input.toDF().toDF("grp", "id", "w").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
          val appended =
            if (maintained == null) localized.toDF("grp", "id", "w")
            else maintained.unionByName(localized.toDF("grp", "id", "w"))
          maintained = Relational.weightedSample(appended, "grp", "id", "w", k)
            .select("grp", "id", "w").localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state bounded: k rows per group, raw rows never kept
        val groups = maintained.select("grp").distinct().count()
        assert(maintained.count() <= k * groups,
          s"state grew past k×groups: ${maintained.count()}")
        // served sample == batch q37 over everything streamed — ids,
        // weights, KEYS, and ranks, after every batch
        val served = rows(Relational.weightedSample(maintained, "grp", "id", "w", k))
        val batchRef = rows(Relational.weightedSample(
          seen.toSeq.toDF("grp", "id", "w"), "grp", "id", "w", k))
        assert(served === batchRef)
      }
      // the eviction actually happened: the heavyweight is in, and g
      // still carries exactly k winners
      val fin = maintained.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(fin.contains(("g", 99L)), s"late heavyweight missing: $fin")
      assert(fin.count(_._1 == "g") === k)
    } finally q.stop()
  }

  test("streaming PSI drift monitor: fixed-edge bin-count state serves EXACTLY the batch q56 scores") {
    // the q56 loop deployed: a monitor FIXES the reference edges once
    // (training snapshot), folds arriving rows into mergeable
    // (group, bin) counts per micro-batch — raw rows never kept,
    // state bounded by groups×bins — and psiFromCounts serves the
    // same numbers the batch operator computes
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    // reference snapshot: early timestamps, uniform 1..10 per group
    val ref = (1 to 10).flatMap(i =>
      Seq(("g", i.toLong, i.toDouble), ("h", i.toLong, i.toDouble)))
    val refDf = ref.toDF("grp", "ts", "v")
    val edges = Relational.referenceEdges(refDf, "grp", "v").localCheckpoint()
    val refCounts = Relational.binCounts(refDf, "grp", "v", edges).localCheckpoint()
    // current data drifts upward for g, stays put for h
    val batches = Seq(
      Seq(("g", 1001L, 8.0), ("g", 1002L, 9.0), ("h", 1001L, 3.0)),
      Seq(("g", 1003L, 10.0), ("g", 1004L, 10.0), ("h", 1002L, 7.0)),
      Seq(("g", 1005L, 9.0), ("h", 1003L, 5.0), ("h", 1004L, 2.0)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Long, Double)]
    val q = input.toDF().toDF("grp", "ts", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
          val states = Relational.binCounts(
            localized.toDF("grp", "ts", "v"), "grp", "v", edges)
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Relational.binCountsCompact(appended, "grp").localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3),
          r.getDouble(7), r.getDouble(8)))).toMap
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state bounded by groups×bins, never raw rows
        assert(maintained.count() <= 2L * 10L,
          s"state grew past groups×bins: ${maintained.count()}")
        // fold == one-shot counting of everything streamed
        val oneShot = Relational.binCounts(
          seen.toSeq.toDF("grp", "ts", "v"), "grp", "v", edges)
          .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        assert(maintained.collect()
          .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap === oneShot)
        // the factored serve == the batch q56 operator over
        // ref ∪ streamed (the time split coincides with the sides)
        val served = scores(Relational.psiFromCounts(refCounts, maintained, "grp"))
        val batchRef = scores(Relational.psiDrift(
          refDf.unionByName(seen.toSeq.toDF("grp", "ts", "v")), "grp", "v", "ts"))
        assert(served === batchRef)
      }
      // the drift is visible where planted: g (shifted up) scores
      // strictly above h (resampled in place)
      val fin = Relational.psiFromCounts(refCounts, maintained, "grp").collect()
        .map(r => r.getString(0) -> r.getDouble(7)).toMap
      assert(fin("g") > fin("h"), s"planted drift must dominate: $fin")
    } finally q.stop()
  }

  test("streaming PSI monitor on sketch-served edges: the continuous-value deployment agrees with the exact-edge monitor") {
    // the q70 sketchEdges composition DEPLOYED, not just composable:
    // on a genuinely continuous 100 TB reference the monitor's fixed
    // edges cannot come from the exact value histogram (unbounded
    // distinct values) — they come from GK sketch state. Everything
    // downstream is IDENTICAL machinery (binCounts/binCountsCompact/
    // psiFromCounts); this pins the end-to-end loop: per-batch fold ==
    // one-shot on the sketch edges, and every served verdict equal to
    // the exact-edge monitor's within the measured ε-rank perturbation
    implicit val ctx = spark.sqlContext
    import graft.operators.{QuantileSketch, Relational}
    // reference: all-distinct uniform 1..2000 per group (the exact
    // histogram state would hold 2000 rows/group; the sketch holds KBs)
    val ref = (1 to 2000).flatMap(i =>
      Seq(("g", i.toLong, i.toDouble), ("h", i.toLong, i.toDouble)))
    val refDf = ref.toDF("grp", "ts", "v")
    val gkEdges = QuantileSketch.sketchEdges(
      QuantileSketch.quantileSketchStates(refDf, Seq("grp"), "v"), "grp")
      .localCheckpoint()
    val exEdges = Relational.referenceEdges(refDf, "grp", "v").localCheckpoint()
    val refGk = Relational.binCounts(refDf, "grp", "v", gkEdges).localCheckpoint()
    val refEx = Relational.binCounts(refDf, "grp", "v", exEdges).localCheckpoint()
    // current: g drifts upward by 50%, h resamples in place; batches
    // stride-interleave the index so every PREFIX of the stream is
    // representative of its distribution (an ascending split would
    // make each early prefix a spurious drift of its own)
    val batches = (0 until 3).map(b =>
      (1 to 1000).filter(_ % 3 == b).flatMap(i => Seq(
        ("g", 3000L + i, 1000.0 + i * 1.5),
        ("h", 3000L + i, i * 2.0))))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Long, Double)]
    val q = input.toDF().toDF("grp", "ts", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
          val states = Relational.binCounts(
            localized.toDF("grp", "ts", "v"), "grp", "v", gkEdges)
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Relational.binCountsCompact(appended, "grp").localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state stays groups×bins whatever the value cardinality —
        // THE reason the sketch-edge form is the 100 TB monitor
        assert(maintained.count() <= 2L * 10L)
        // fold == one-shot on the same sketch edges
        val oneShot = Relational.binCounts(
          seen.toSeq.toDF("grp", "ts", "v"), "grp", "v", gkEdges)
          .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        assert(maintained.collect()
          .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap === oneShot)
        // served PSI within the measured edge-perturbation envelope of
        // the exact-edge monitor over the same streamed rows
        val servedGk = Relational.psiFromCounts(refGk, maintained, "grp")
          .collect().map(r => r.getString(0) -> r.getDouble(7)).toMap
        val servedEx = Relational.psiFromCounts(refEx,
            Relational.binCounts(seen.toSeq.toDF("grp", "ts", "v"), "grp", "v", exEdges),
            "grp")
          .collect().map(r => r.getString(0) -> r.getDouble(7)).toMap
        // envelope: 0.05 absolute (the QuantileSketchSpec-measured
        // perturbation at these bin widths) or 2% relative for the
        // planted-drift group whose PSI is far off the decision line
        servedEx.keys.foreach { g =>
          assert(math.abs(servedGk(g) - servedEx(g)) <
            math.max(0.05, 0.02 * servedEx(g)),
            s"$g: sketch-edge PSI ${servedGk(g)} vs exact-edge ${servedEx(g)}")
        }
      }
      // verdicts agree at the end: the planted g drift dominates on
      // BOTH edge provenances
      val fin = Relational.psiFromCounts(refGk, maintained, "grp").collect()
        .map(r => r.getString(0) -> r.getDouble(7)).toMap
      assert(fin("g") > fin("h"), s"planted drift must dominate: $fin")
      assert(fin("g") > 0.2, s"g drifted by half a range — PSI must be material: $fin")
      assert(fin("h") < 0.1, s"h resampled in place — PSI must stay small: $fin")
    } finally q.stop()
  }

  test("streaming quantile state: maintained value histogram serves EXACTLY batch exactQuantiles") {
    // the q30/q65 loop deployed: each batch folds into the mergeable
    // (group, value) count histogram — counts ADD exactly, raw rows
    // never kept, state bounded by distinct quantized values — and
    // quantilesFromHistogram serves the full type-7 arithmetic
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    val batches = Seq(
      Seq(("g", 1.0), ("g", 2.0), ("h", 10.0)),
      Seq(("g", 2.0), ("g", 3.0), ("h", 20.0)),
      Seq(("g", 4.0), ("h", 20.0), ("h", 30.0)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("grp", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getDouble(1))).toSeq
          val states = Relational.histogramStates(
            localized.toDF("grp", "v"), "grp", "v")
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Relational.histogramCompact(appended).localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state bounded by distinct (group, value) pairs, never raw rows
        val distinctPairs = seen.map(x => (x._1, x._2)).distinct.size
        assert(maintained.count() === distinctPairs.toLong)
        // the served quantiles == batch exactQuantiles over everything
        // streamed, row for row
        val served = Relational.quantilesFromHistogram(maintained).collect()
          .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
        val batchRef = Relational.exactQuantiles(
          seen.toSeq.toDF("grp", "v"), "grp", "v").collect()
          .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
        assert(served === batchRef)
      }
      // hand pin: g = {1,2,2,3,4} → median 2.0; h = {10,20,20,30} → 20.0
      val fin = Relational.quantilesFromHistogram(maintained, Seq(0.5))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(fin === Map("g" -> 2.0, "h" -> 20.0))
    } finally q.stop()
  }

  test("streaming heavy hitters: per-batch append+compact keeps the deterministic MG guarantee") {
    // the q71 loop deployed — the WHICH-items-are-frequent monitor
    // (hot keys, dominant domains) maintained incrementally: each
    // batch folds to per-key MG states (<= k counters, never raw
    // rows), appends, compacts by the Agarwal et al. merge, and after
    // every batch the guaranteed-frequent planted item is present with
    // bounds containing its exact count over everything streamed
    implicit val ctx = spark.sqlContext
    import graft.operators.HeavyHitters
    val k = 16
    val batches = Seq(
      Seq.fill(150)("hot") ++ (1 to 100).map(i => s"a$i"),
      Seq.fill(200)("hot") ++ (1 to 120).map(i => s"b$i"),
      Seq.fill(100)("hot") ++ (1 to 80).map(i => s"c$i"))
      .map(_.map(("g", _)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("grp", "item").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq
          val states = HeavyHitters.heavyHitterStates(
            localized.toDF("grp", "item"), Seq("grp"), "item", k = k)
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = HeavyHitters.heavyHitterCompact(appended, Seq("grp"))
            .localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // one state row per key, exact n_rows, bounded counters
        val st = maintained.collect()
        assert(st.length === 1)
        assert(st.head.getLong(st.head.fieldIndex("n_rows")) === seen.size.toLong)
        val served = HeavyHitters.heavyHitterTopK(maintained, Seq("grp"), k)
          .collect().map(r => r.getString(2) -> ((r.getLong(3), r.getLong(4)))).toMap
        assert(served.size <= k)
        // the hot item dominates (true share ~60% >> 1/(k+1)): present
        // with containing bounds after EVERY batch
        val trueHot = seen.count(_._2 == "hot").toLong
        assert(served.contains("hot"), s"hot missing after ${seen.size} rows")
        val (lo, hi) = served("hot")
        assert(lo <= trueHot && trueHot <= hi,
          s"hot true $trueHot outside [$lo, $hi] after ${seen.size} rows")
        assert(hi - lo <= seen.size.toLong / (k + 1))
      }
    } finally q.stop()
  }

  test("streaming bottom-k sketch: maintained state is BIT-IDENTICAL to the one-shot sketch after every batch") {
    // the q72 loop deployed — the distinct-sample + distinct-count
    // monitor maintained incrementally: each batch folds to per-key
    // bottom-k states (<= k pairs, never raw rows), appends, compacts
    // by set-union. The claim is the family's strongest: because the
    // bottom-k of a fixed hash is a pure set property, the MAINTAINED
    // STATE (not just served numbers) equals the one-shot batch sketch
    // byte-for-byte after every micro-batch, so sample, hashes, and
    // the integer KMV estimate all match exactly
    implicit val ctx = spark.sqlContext
    import graft.operators.BottomKSample
    import graft.functions.BottomKSketch
    val k = 32
    val batches = Seq(
      (1 to 60).map(i => ("g", s"u$i")),
      (30 to 90).map(i => ("g", s"u$i")), // overlaps batch 1
      (1 to 200 by 3).map(i => ("g", s"u$i")))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("grp", "key").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq
          val states = BottomKSample.bottomKStates(
            localized.toDF("grp", "key"), Seq("grp"), "key", k = k)
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = BottomKSample.bottomKCompact(appended, Seq("grp"))
            .localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        val st = maintained.collect()
        assert(st.length === 1)
        assert(st.head.getLong(st.head.fieldIndex("n_rows")) === seen.size.toLong)
        // maintained state == one-shot sketch over everything streamed,
        // BYTE for BYTE
        val oneShot = BottomKSample.bottomKStates(
            seen.toSeq.toDF("grp", "key"), Seq("grp"), "key", k = k)
          .collect().head.getAs[Array[Byte]]("sketch")
        assert(java.util.Arrays.equals(
          st.head.getAs[Array[Byte]]("sketch"), oneShot),
          s"maintained state diverged from one-shot after ${seen.size} rows")
        // exact-below-k / KMV-at-k: either way the served estimate is
        // the deterministic function of the distinct set streamed
        val est = BottomKSample.bottomKServe(maintained, Seq("grp"), 1)
          .collect().head.getLong(4)
        val trueDistinct = seen.map(_._2).distinct.size
        if (trueDistinct < k) assert(est === trueDistinct.toLong)
        else {
          val s = BottomKSketch.deserializeSummary(oneShot)
          assert(est === s.distinctEstimate)
        }
      }
    } finally q.stop()
  }

  test("streaming weighted reservoir: maintained state is BIT-IDENTICAL to the one-shot sketch after every batch") {
    // the q74 loop deployed — k representative rows per segment,
    // weight-proportional, maintained incrementally: each batch folds
    // to per-key reservoir states (<= k entries, never raw rows),
    // appends, compacts by top-k set-union. Because the
    // Efraimidis–Spirakis key derives from md5(id) (no PRNG), the
    // MAINTAINED STATE equals the one-shot batch sketch byte-for-byte
    // after every micro-batch — ids, weights, keys, rank order all
    // match exactly
    implicit val ctx = spark.sqlContext
    import graft.operators.ReservoirSample
    val k = 16
    val batches = Seq(
      (1 to 60).map(i => ("g", s"doc$i", (i % 37 + 5).toDouble)),
      (30 to 90).map(i => ("g", s"doc$i", (i % 37 + 5).toDouble)), // re-arrivals dedup
      (1 to 200 by 3).map(i => ("g", s"doc$i", (i % 37 + 5).toDouble)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, String, Double)]
    val q = input.toDF().toDF("grp", "id", "w").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
          val states = ReservoirSample.reservoirStates(
            localized.toDF("grp", "id", "w"), Seq("grp"), "id", "w", k = k)
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = ReservoirSample.reservoirCompact(appended, Seq("grp"))
            .localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        val st = maintained.collect()
        assert(st.length === 1)
        assert(st.head.getLong(st.head.fieldIndex("n_rows")) === seen.size.toLong)
        val oneShot = ReservoirSample.reservoirStates(
            seen.toSeq.toDF("grp", "id", "w"), Seq("grp"), "id", "w", k = k)
          .collect().head.getAs[Array[Byte]]("sketch")
        assert(java.util.Arrays.equals(
          st.head.getAs[Array[Byte]]("sketch"), oneShot),
          s"maintained state diverged from one-shot after ${seen.size} rows")
        // the served sample is the top-k of everything streamed so far
        val served = ReservoirSample.reservoirServe(maintained, Seq("grp"), k)
          .collect().map(r => (r.getString(2), r.getDouble(3)))
        val expected = seen.map(t => (t._2, t._3)).distinct
          .sortBy { case (id, w) =>
            -graft.functions.WeightedReservoir.wkey(id, w)
          }.take(k)
        assert(served.toSeq === expected.toSeq)
      }
    } finally q.stop()
  }

  test("streaming BM25: maintained tf state serves EXACTLY the batch ranking after every ingest batch") {
    // the retrieval index deployed incrementally: each batch of NEW
    // docs folds to (doc, term, tf) states map-only, appends, compacts
    // by exact BIGINT adds — and because dl/df/N all DERIVE from tf,
    // the served ranking is BIT-equal to a from-scratch batch build
    // over everything ingested so far
    implicit val ctx = spark.sqlContext
    import graft.operators.Text
    val queries = Seq((1L, "spark shuffle"), (2L, "scan filter"))
      .toDF("query_id", "query_text")
    val batches = Seq(
      Seq((1L, "spark shuffle join spark"), (2L, "scan filter scan")),
      Seq((3L, "spark scan"), (4L, "filter filter shuffle spark spark")),
      Seq((5L, "unrelated words only"), (6L, "shuffle scan filter spark")))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq
          val states = Text.bm25TfStates(localized.toDF("doc_id", "text"))
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Text.bm25TfCompact(appended).localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state bounded by distinct (doc, term) pairs — an inverted
        // index, never raw text
        assert(maintained.count() ===
          seen.flatMap { case (d, t) => t.split(" ").distinct.map((d, _)) }.size.toLong)
        val served = rows(Text.bm25FromTf(maintained, queries)
          .orderBy("query_id", "rank"))
        val batchRef = rows(Text.bm25Rank(seen.toSeq.toDF("doc_id", "text"), queries))
        assert(served === batchRef, s"after ${seen.size} docs")
      }
      // the final ranking is sane: doc 4 (spark x2, shuffle) tops q1
      val fin = rows(Text.bm25FromTf(maintained, queries)
        .orderBy("query_id", "rank"))
      assert(fin.head._1 === 1L && fin.head._2 === 1)
    } finally q.stop()
  }

  test("streaming GK sketch state: per-batch append+compact serves inside the deterministic ε bound") {
    // the q70 loop deployed — the CONTINUOUS-value twin of the exact
    // histogram monitor above: each batch folds to per-key GK states
    // (fixed-size, never raw rows), appends, compacts to one row per
    // key, and every serve is bound by the worst-case GK rank
    // guarantee over everything streamed so far
    implicit val ctx = spark.sqlContext
    import graft.operators.QuantileSketch
    val eps = 0.01
    val batches = Seq(
      (1 to 400).map(i => ("g", i * 1.0)) ++ (1 to 100).map(i => ("h", i * 3.0)),
      (401 to 700).map(i => ("g", i * 1.0)) ++ (101 to 300).map(i => ("h", i * 3.0)),
      (701 to 1000).map(i => ("g", i * 1.0)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("grp", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getDouble(1))).toSeq
          val states = QuantileSketch.quantileSketchStates(
            localized.toDF("grp", "v"), Seq("grp"), "v")
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = QuantileSketch.quantileSketchCompact(appended, Seq("grp"))
            .localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state: ONE row per key and a bounded sketch, never raw rows
        val st = maintained.select(col("grp"), length(col("sketch")), col("n_rows"))
          .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
        assert(st.size === seen.map(_._1).distinct.size)
        st.foreach { case (g, (bytes, n)) =>
          assert(bytes < 64 * 1024, s"$g sketch grew to $bytes bytes")
          assert(n === seen.count(_._1 == g).toLong, "n_rows must stay exact")
        }
        // every served quantile inside the ε rank bound of the exact
        // sorted values streamed so far — the deterministic guarantee
        val served = QuantileSketch.quantileSketchRollup(
            maintained, Seq("grp"), Seq(0.25, 0.5, 0.75, 0.95))
          .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
        val exact = seen.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
        served.foreach { case ((g, phi), v) =>
          val sorted = exact(g); val n = sorted.length.toLong
          val target = math.ceil(phi * n).toLong.max(1L)
          val lo = sorted.count(_ < v).toLong + 1
          val hi = sorted.count(_ <= v).toLong
          val slack = math.ceil(eps * n).toLong
          assert(lo <= target + slack && hi >= target - slack,
            s"$g phi $phi served $v rank [$lo,$hi] target $target ± $slack n=$n")
        }
      }
    } finally q.stop()
  }

  test("streaming KS drift: two maintained histograms serve EXACTLY the batch q60 test") {
    // the drift trio's third monitor rides the SAME state as the
    // quantile monitor: one reference histogram counted once, the
    // current histogram folded per micro-batch, ksFromHistograms
    // serving the identical batch arithmetic
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    // reference: early timestamps, uniform 1..8 per group
    val ref = (1 to 8).flatMap(i =>
      Seq(("g", i.toLong, i.toDouble), ("h", i.toLong, i.toDouble)))
    val refDf = ref.toDF("grp", "ts", "v")
    val refHist = Relational.histogramStates(refDf, "grp", "v").localCheckpoint()
    // current drifts upward for g, resamples in place for h
    val batches = Seq(
      Seq(("g", 1001L, 7.0), ("g", 1002L, 8.0), ("h", 1001L, 3.0)),
      Seq(("g", 1003L, 9.0), ("h", 1002L, 5.0)),
      Seq(("g", 1004L, 9.0), ("h", 1003L, 2.0), ("h", 1004L, 7.0)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Long, Double)]
    val q = input.toDF().toDF("grp", "ts", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
          val states = Relational.histogramStates(
            localized.toDF("grp", "ts", "v").drop("ts")
              .withColumnRenamed("grp", "grp"), "grp", "v")
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Relational.histogramCompact(appended).localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // the factored serve == batch q60 over ref ∪ streamed (the
        // time split coincides with the sides)
        val served = scores(Relational.ksFromHistograms(refHist, maintained)
          .withColumnRenamed("group", "grp"))
        val batchRef = scores(Relational.ksTest(
          refDf.unionByName(seen.toSeq.toDF("grp", "ts", "v")),
          "grp", "v", "ts"))
        assert(served === batchRef)
      }
      // planted drift separates: g (shifted up) gaps wider than h
      val fin = Relational.ksFromHistograms(refHist, maintained).collect()
        .map(r => r.getString(0) -> r.getDouble(3)).toMap
      assert(fin("g") > fin("h"), s"planted drift must dominate: $fin")
    } finally q.stop()
  }

  test("streaming decay monitor: fixed-anchor integer-unit state serves EXACTLY batch q64") {
    // the q64 loop deployed: a monitor FIXES the decay anchor up front;
    // each batch folds into one (n, wsum_u, dsum_u) row per key —
    // integer-unit decimals ADD exactly (decay against a fixed anchor
    // commutes with addition), raw events never kept
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    val anchor = 10000L
    val hl = 1000L
    val batches = Seq(
      Seq(("A", 8000L, 10.0), ("B", 9000L, 4.0)),
      Seq(("A", 9000L, 20.0), ("B", 9500L, 6.0)),
      // the final event lands ON the anchor, so batch q64 over
      // everything streamed anchors at the same horizon
      Seq(("A", 10000L, 5.0)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Long, Double)]
    val q = input.toDF().toDF("k", "ts", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
          val states = Relational.decayState(
            localized.toDF("k", "ts", "v"), "k", "ts", "v", hl, anchor)
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Relational.decayStateCompact(appended, "k").localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state is one row per key, never raw events
        assert(maintained.count() <= 2L)
        // fold == one-shot state over everything streamed, bit-equal
        // (integer units compare as exact decimals)
        val oneShot = Relational.decayState(
          seen.toSeq.toDF("k", "ts", "v"), "k", "ts", "v", hl, anchor)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getDecimal(2), r.getDecimal(3))).toMap
        assert(maintained.collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2), r.getDecimal(3))).toMap === oneShot)
      }
      // the served report == batch q64 over everything streamed (the
      // corpus max IS the fixed anchor, so the arithmetic coincides)
      val served = Relational.decayServe(maintained, "k").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val batchRef = Relational.timeDecayAgg(
        seen.toSeq.toDF("k", "ts", "v"), "k", "ts", "v", hl).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      assert(served === batchRef)
      // hand numbers: A ages 2/1/0 half-lives → weights .25/.5/1
      assert(served("A") === ((3L, 1.75, 17.5, 10.0)))
    } finally q.stop()
  }

  test("streaming chi-square drift monitor: category-count state serves EXACTLY the batch q59 test") {
    // the q59 loop deployed (the categorical twin of the PSI monitor):
    // the reference category mix is counted once, arriving rows fold
    // into mergeable per-category counts per micro-batch — raw rows
    // never kept, state bounded by the category alphabet — and
    // chi2FromCounts serves the same statistic the batch operator
    // computes (both run the shared cell arithmetic)
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    // reference snapshot: early timestamps, A-heavy mix
    val ref = (Seq.fill(8)("A") ++ Seq.fill(2)("B")).zipWithIndex
      .map { case (c, i) => (c, (i + 1).toLong) }
    val refDf = ref.toDF("cat", "ts")
    val refCounts = Relational.categoryCounts(refDf, "cat").localCheckpoint()
    // streamed data shifts toward B and introduces a new category C
    val batches = Seq(
      Seq(("B", 1001L), ("B", 1002L), ("A", 1003L)),
      Seq(("B", 1004L), ("C", 1005L)),
      Seq(("B", 1006L), ("B", 1007L), ("C", 1008L)))
    var maintained: org.apache.spark.sql.DataFrame = null
    val input = MemoryStream[(String, Long)]
    val q = input.toDF().toDF("cat", "ts").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val localized = batch.collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          val states = Relational.categoryCounts(
            localized.toDF("cat", "ts"), "cat")
          val appended =
            if (maintained == null) states
            else maintained.unionByName(states)
          maintained = Relational.categoryCountsCompact(appended).localCheckpoint()
        }
      }
      .start()
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(5), r.getDouble(6), r.getLong(7)))).toMap
      for (b <- batches) {
        input.addData(b: _*); q.processAllAvailable()
        seen ++= b
        // state bounded by the category alphabet, never raw rows
        assert(maintained.count() <= 3L,
          s"state grew past the alphabet: ${maintained.count()}")
        // fold == one-shot counting of everything streamed
        val oneShot = Relational.categoryCounts(
          seen.toSeq.toDF("cat", "ts"), "cat")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(maintained.collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap === oneShot)
        // the factored serve == the batch q59 operator over
        // ref ∪ streamed (the time split coincides with the sides)
        val served = scores(Relational.chi2FromCounts(refCounts, maintained))
        val batchRef = scores(Relational.chi2CategoricalDrift(
          refDf.unionByName(seen.toSeq.toDF("cat", "ts")), "cat", "ts"))
        assert(served === batchRef)
      }
      // the planted mix shift is visible: a significant statistic at
      // dof = 2 (5% critical value 5.99) with the never-seen category
      // zero-filled on the reference side
      val fin = Relational.chi2FromCounts(refCounts, maintained).collect()
      assert(fin.length === 3)
      assert(fin.head.getDouble(6) > 5.99, s"chi2 = ${fin.head.getDouble(6)}")
      val c = fin.find(_.getString(0) == "C").get
      assert(c.getLong(1) === 0L && c.getLong(2) === 2L)
    } finally q.stop()
  }

  test("stream-stream interval join pairs across micro-batch boundaries, equal to the batch join") {
    implicit val ctx = spark.sqlContext
    // base offset keeps every event ABOVE the query's initial
    // watermark (epoch 0): an event AT the watermark is dropped as
    // late on arrival — real deployments never sit at epoch 0, tests do
    def ts(min: Long) = new java.sql.Timestamp((10000 + min) * 60000L)
    // touches and purchases interleave across FORCED micro-batches:
    // touch 100 (batch 1) must pair with purchase 200 (batch 2) — the
    // buffered-left case — and purchase 201 (batch 2) with touch 103
    // (batch 3) — the buffered-right case
    val touchIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = StreamingOps.intervalJoin(
      purchIn.toDF().toDF("user_id", "ts", "event_id"),
      touchIn.toDF().toDF("user_id", "ts", "event_id"),
      watermark = "10 minutes", interval = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try {
      touchIn.addData((1L, ts(0), 100L), (2L, ts(5), 101L))
      q.processAllAvailable()
      purchIn.addData((1L, ts(20), 200L), (1L, ts(90), 201L))
      q.processAllAvailable()
      touchIn.addData((1L, ts(80), 103L), (2L, ts(100), 104L))
      purchIn.addData((2L, ts(6), 202L))
      q.processAllAvailable()
      val got = spark.table("ivj").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      // batch reference: same condition over everything streamed
      val allT = Seq((1L, 0L, 100L), (2L, 5L, 101L), (1L, 80L, 103L), (2L, 100L, 104L))
      val allP = Seq((1L, 20L, 200L), (1L, 90L, 201L), (2L, 6L, 202L))
      val want = (for {
        (pu, pt, pid) <- allP
        (tu, tt, tid) <- allT
        if pu == tu && tt <= pt && tt > pt - 30
      } yield (pid, tid)).toSet
      assert(want === Set((200L, 100L), (201L, 103L), (202L, 101L)))
      assert(got === want, s"got $got")
      // both sides carry join state (the stream-stream signature)
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("streaming funnelProgress equals batch q39 on real events across shuffled micro-batches") {
    import graft.streaming.{FunnelEvent, FunnelJourney}
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val users = 40L

    val expected = graft.operators.Relational.q39Funnel(spark, sf)
      .filter(col("user_id") <= users)
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4)))).toMap

    val evs = Tables.events(spark, sf)
      .filter(col("user_id") <= users)
      .select("user_id", "ts", "event_type")
      .collect()
      .map(r => FunnelEvent(r.getLong(0), new Timestamp(r.getLong(1) / 1000000L),
        r.getLong(1), r.getString(2)))
      .sortBy(_.ts_ns)

    val input = MemoryStream[FunnelEvent]
    // idle horizon longer than any within-user gap in the corpus, so
    // every user yields exactly ONE journey (batch-equal); a shorter
    // idle splits journeys at revisit gaps by design
    val q = StreamingOps.funnelProgress(input.toDS(), watermark = "0 minutes",
      maxIdleMinutes = 60 * 24 * 60)
      .writeStream.format("memory").queryName("funnel_prog").outputMode("append").start()
    try {
      // deliver in coarse time order but SHUFFLED inside each block —
      // in-horizon disorder the buffer must absorb exactly
      val r = new scala.util.Random(7)
      evs.grouped(evs.length / 3 + 1).foreach { block =>
        input.addData(r.shuffle(block.toSeq)); q.processAllAvailable()
      }
      val flushTs = new Timestamp(evs.map(_.ts.getTime).max + 70L * 24 * 3600 * 1000)
      input.addData(FunnelEvent(99999L, flushTs, flushTs.getTime * 1000000L, "view"))
      q.processAllAvailable()
      input.addData(FunnelEvent(99998L, flushTs, flushTs.getTime * 1000000L, "view"))
      q.processAllAvailable()
      val got = spark.table("funnel_prog").as[FunnelJourney].collect()
        .filter(_.user_id <= users)
        .map(j => j.user_id -> ((Option(j.view_ts).map(_.longValue.asInstanceOf[Any]),
          Option(j.click_ts).map(_.longValue.asInstanceOf[Any]),
          Option(j.purchase_ts).map(_.longValue.asInstanceOf[Any]), j.funnel_stage))).toMap
      assert(got.keySet === expected.keySet)
      for ((u, e) <- expected) assert(got(u) === e, s"user $u")
    } finally q.stop()
  }

  test("streaming windowTopK equals the driver leaderboard on real events, state bounded by k") {
    import graft.streaming.{TopKEvent, WindowTopK}
    implicit val ctx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val k = 3
    val winMs = 60 * 60000L

    val evs = Tables.events(spark, sf)
      .filter(col("user_id") <= 40L)
      .select("event_type", "ts", "event_id", "value")
      .collect()
      .map(r => TopKEvent(r.getString(0), new Timestamp(r.getLong(1) / 1000000L),
        r.getLong(2), r.getDouble(3)))

    // driver truth: per (type, window) the k best by (value desc, id asc)
    val expected = evs.groupBy(e => (e.event_type, e.ts.getTime / winMs * winMs))
      .toSeq.flatMap { case ((t, w), es) =>
        es.map(e => (e.value, e.event_id)).sortBy { case (v, id) => (-v, id) }
          .take(k).zipWithIndex
          .map { case ((v, id), i) => (t, w, i + 1, id, v) }
      }.toSet

    val input = MemoryStream[TopKEvent]
    val q = StreamingOps.windowTopK(input.toDS(), k = k, windowMinutes = 60,
      watermark = "0 minutes")
      .writeStream.format("memory").queryName("win_topk").outputMode("append").start()
    try {
      // deliver across several micro-batches so buffers fold incrementally
      evs.grouped(200).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      // mid-stream the state is BOUNDED: at most k rows per (window, key)
      val openKeys = evs.map(e => (e.event_type, e.ts.getTime / winMs * winMs)).distinct.size
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= openKeys.toLong, s"$stateRows state rows for $openKeys keys")
      // two watermark-advancing triggers flush every window
      val flushTs = new Timestamp(evs.map(_.ts.getTime).max + 48L * 3600 * 1000)
      input.addData(TopKEvent("flush", flushTs, -1L, 0.0)); q.processAllAvailable()
      input.addData(TopKEvent("flush", flushTs, -2L, 0.0)); q.processAllAvailable()
      val got = spark.table("win_topk").as[WindowTopK].collect()
        .filter(_.event_type != "flush")
        .map(r => (r.event_type, r.window_start.getTime, r.rank, r.event_id, r.value))
        .toSet
      assert(got === expected)
    } finally q.stop()
  }
}
