package graft

import graft.operators.{Multimodal, Text}
import org.apache.spark.sql.functions._

/** Text + multimodal specs for the rows-only operators (t04, m01) and
  * cross-op consistency for the SQL-oracled ones.
  */
class TextSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("t04 fingerprint is deterministic and order-sensitive") {
    val a = Text.t04Fingerprint(spark, sf).collect()
    val b = Text.t04Fingerprint(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // identical token multisets in different order must differ
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val fp = Text.fingerprint(df).collect().map(_.getLong(1))
    assert(fp(0) !== fp(1))
  }

  test("native graft_fingerprint is bit-identical to the md5/conv HOF formulation") {
    import spark.implicits._
    // empty text, multi-space runs, unicode, and real corpus rows all
    // fold identically through the native loop and the composed HOF
    val inline = Seq((1L, ""), (2L, "  a  b "), (3L, "café über zürich"), (4L, "one"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    for (df <- Seq(inline, docs)) {
      val rows = df
        .withColumn("toks", split(col("text"), " "))
        .select(
          graft.functions.Fingerprint.fingerprint(spark, col("text")).as("native"),
          expr(
            """aggregate(
              |  transform(toks, t -> CAST(conv(substring(md5(CAST(t AS BINARY)), 1, 8), 16, 10) AS BIGINT)),
              |  CAST(0 AS BIGINT),
              |  (acc, h) -> pmod(acc * 31 + h, CAST(72057594037927936 AS BIGINT)))""".stripMargin)
            .as("hof"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    }
  }

  test("m01 multimodal decode is deterministic with stable schema") {
    val a = Multimodal.m01MultimodalStub(spark, sf)
    assert(a.columns.toSeq ===
      Seq("doc_id", "media_type", "n_bytes", "width", "height", "payload_sig", "f0_q", "f1_q"))
    val r1 = a.collect()
    val r2 = Multimodal.m01MultimodalStub(spark, sf).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    r1.foreach { r =>
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      assert(w >= 64 && w < 256 && h >= 64 && h < 256)
      assert(r.getAs[Long]("n_bytes") > 0L)
      // the derivations are the documented house-hash arithmetic
      val sig = r.getAs[Long]("payload_sig")
      assert(sig >= 0L && w === 64 + (sig % 192L).toInt)
      assert(r.getAs[Int]("f0_q") === (sig % 1024L).toInt)
      assert(r.getAs[Int]("f1_q") === ((sig >> 8) % 1024L).toInt)
    }
  }

  test("m02 frame sampling fans out REAL parsed MP4 durations deterministically within bounds") {
    val a = Multimodal.m02FrameSample(spark, sf)
    assert(a.columns.toSeq ===
      Seq("doc_id", "frame_index", "frame_ts_ms", "width", "height",
        "frame_sig", "frame_count"))
    val r1 = a.collect()
    val r2 = Multimodal.m02FrameSample(spark, sf).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    // exactly the MP4 third of the fixture minus the malformed overlay
    // rows fans out (unparseable headers -> zero frames), 1..4 frames
    val videos = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(3)) === 2 &&
        pmod(col("doc_id"), lit(17)) =!= 0 &&
        pmod(col("doc_id"), lit(13)) =!= 0 &&
        pmod(col("doc_id"), lit(11)) =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byDoc = r1.groupBy(_.getLong(0))
    assert(byDoc.keySet === videos)
    byDoc.foreach { case (doc, frames) =>
      assert(frames.length >= 1 && frames.length <= 4, s"doc $doc")
      // frame indexes dense from 0, timestamps nondecreasing, uniform
      // over the PARSED mvhd duration (declared 500..3999 ms)
      val sorted = frames.sortBy(_.getAs[Int]("frame_index"))
      assert(sorted.map(_.getAs[Int]("frame_index")).toSeq === sorted.indices.toSeq)
      val ts = sorted.map(_.getAs[Long]("frame_ts_ms"))
      assert(ts.head === 0L && ts.toSeq === ts.sorted.toSeq)
      assert(ts.last < 4000L, s"doc $doc ts ${ts.last}")
      // r17: the fan-out width is governed by the REAL stts frame
      // count (min 4), and every row carries it
      val fcExpected = (500 + (doc * 37) % 3500) * (4 + (doc * 7) % 27) / 1000
      assert(frames.length === math.min(4L, fcExpected).toInt, s"doc $doc")
      sorted.foreach { f =>
        assert(f.getAs[Int]("width") === 224 && f.getAs[Int]("height") === 224)
        assert(f.getAs[Long]("frame_count") === fcExpected, s"doc $doc")
      }
    }
  }

  test("m04 media dedup collapses planted byte-identical payloads, never across types") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRecord
    val bytes = "the very same frame".getBytes("UTF-8")
    val other = "a different frame".getBytes("UTF-8")
    val media = Seq(
      MediaRecord(10L, "image/jpeg", bytes),
      MediaRecord(11L, "image/jpeg", bytes), // dup within type -> collapses
      MediaRecord(12L, "audio/wav", bytes), // same bytes, other type -> kept apart
      MediaRecord(13L, "image/jpeg", other))
      .toDS()
    val out = Multimodal.mediaDedup(media).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size === 3)
    val imgDup = out.filter { case ((t, _), (_, keep, _)) => t == "image/jpeg" && keep == 10L }
    assert(imgDup.values.toSeq === Seq((bytes.length.toLong, 10L, 2L)))
    assert(out.exists { case ((t, _), (_, keep, n)) => t == "audio/wav" && keep == 12L && n == 1L })
    // mass conservation: copies sum to input rows
    assert(out.values.map(_._3).sum === 4L)
  }

  test("m05 phash: identical payloads fingerprint identically; near pairs surface, far pairs don't") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRecord
    val bytes = "the very same frame".getBytes("UTF-8")
    val media = Seq(
      MediaRecord(1L, "image/jpeg", bytes),
      MediaRecord(2L, "image/jpeg", bytes),
      MediaRecord(3L, "image/jpeg", "different".getBytes("UTF-8"))).toDS()
    val ph = Multimodal.mediaPhash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ph(1L) === ph(2L))
    assert(ph(1L) !== ph(3L))
    // determinism under repartitioning
    val ph2 = Multimodal.mediaPhash(media.repartition(3)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ph2 === ph)

    // constructed codes: exact distances, the pigeonhole guarantee and
    // its boundary, and the block fence
    val base = 0x0123456789ABCDEFL
    val codes = Seq(
      (10L, "img", base),
      (11L, "img", base ^ 1L), // d=1, shares 3 chunks
      (12L, "img", base ^ 7L), // d=3, shares 3 chunks -> guaranteed found
      // d=4 FROM BASE, one flip per 16-bit chunk -> shares no chunk
      // with 10, guaranteed miss there; but it DOES share chunk 0 with
      // 11 (both flipped bit 0) at d=3 -> found, the pigeonhole working
      (13L, "img", base ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48))),
      (20L, "aud", base)) // same code, other block -> fenced off
      .toDF("doc_id", "media_type", "phash")
    val pairs = Multimodal.phashNearDups(codes).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    assert(pairs === Map((10L, 11L) -> 1, (10L, 12L) -> 3, (11L, 12L) -> 2,
      (11L, 13L) -> 3))
    assert(!pairs.contains((10L, 13L)))
    // the cap: a degenerate corpus of identical fingerprints drops its
    // oversized buckets instead of going quadratic
    val degenerate = (0L until 3000L).map(i => (i, "img", 42L)).toDF("doc_id", "media_type", "phash")
    assert(Multimodal.phashNearDups(degenerate, maxBucketSize = 1000).count() === 0L)
  }

  test("m05 gate: payload-perturbed twins surface through the real pHash; no natural pairs") {
    val out = Multimodal.m05PhashNearDups(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    // every surfaced pair is a planted twin (the corpus has no natural
    // pairs inside the distance-3 band: nearest natural pair is 4 bits)
    out.keys.foreach { case (a, b) => assert(b === a + 100000L, s"natural pair ($a,$b)") }
    // measured locality, not constructed: two perturbed payload bytes
    // land 19 of 25 twins within the band at this corpus — pin the
    // floor, not the exact set, so the recall is the assertion
    assert(out.size >= 18, s"only ${out.size} planted twins surfaced")
    out.values.foreach(d => assert(d >= 0 && d <= 3))
    // determinism
    val again = Multimodal.m05PhashNearDups(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    assert(again === out)
  }

  test("DCT pHash: locality is real — few-byte deltas land within a few bits, distinct content far") {
    import graft.functions.DctPhash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // real corpus payloads (the gate's own input), perturbed by hand
    val texts = Tables.documents(spark, sf).orderBy("doc_id")
      .limit(50).collect().map(_.getAs[String]("text"))
    val codes = texts.map(t => DctPhash.compute(t.getBytes("UTF-8")))
    // few-byte delta: case-flip 2 deterministic letter positions
    val nearDists = texts.zip(codes).zipWithIndex.map { case ((t, c), i) =>
      val q = t.getBytes("UTF-8")
      for (k <- 0 until 2) {
        val pos = (i * 131 + k * 977) % q.length
        q(pos) = if (q(pos) == 32) 64.toByte else (q(pos) ^ 0x20).toByte
      }
      ham(c, DctPhash.compute(q))
    }
    assert(nearDists.count(_ <= 3) >= (nearDists.length * 3) / 4,
      s"few-byte deltas: ${nearDists.mkString(",")}")
    assert(nearDists.max <= 12, s"a 2-byte delta moved ${nearDists.max} bits")
    // distinct content: all pairwise distances clear the band with margin
    val farDists = for (i <- codes.indices; j <- (i + 1) until codes.length)
      yield ham(codes(i), codes(j))
    assert(farDists.min > 3, s"natural pair at ${farDists.min} bits")
    assert(farDists.sum.toDouble / farDists.size > 16.0)
    // monotone in perturbation mass: a 20-byte delta moves further than
    // the 2-byte delta on average, but still far under distinct content
    val midDists = texts.zip(codes).map { case (t, c) =>
      val q = t.getBytes("UTF-8")
      for (k <- 0 until 20) {
        val pos = (100 + k) % q.length
        q(pos) = if (q(pos) == 32) 64.toByte else (q(pos) ^ 0x20).toByte
      }
      ham(c, DctPhash.compute(q))
    }
    assert(midDists.sum.toDouble / midDists.length >=
      nearDists.sum.toDouble / nearDists.length)
  }

  test("DCT pHash: known vector, balanced codes, edge cases") {
    import graft.functions.DctPhash
    // algorithm drift trap: the exact 64-bit code of a fixed payload
    // (box-resample -> 32x32 DCT-II -> 8x8 median split, StrictMath)
    val fox = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    assert(DctPhash.compute(fox) === 381241804075191743L)
    // median split balances the code: at most half the bits set, and
    // the DC coefficient (bit 0) always clears the median of a
    // non-degenerate raster
    assert(java.lang.Long.bitCount(DctPhash.compute(fox)) <= 32)
    assert((DctPhash.compute(fox) & 1L) === 1L)
    assert(DctPhash.compute(Array.empty[Byte]) === 0L)
    // single byte and constant rasters still produce stable codes
    assert(DctPhash.compute(Array[Byte](65)) === DctPhash.compute(Array[Byte](65)))
    // native expression == static compute, computed in-scan
    import spark.implicits._
    val df = Seq((1L, fox)).toDF("id", "payload")
    val viaExpr = df.select(DctPhash.phash(spark, col("payload")).as("p"))
      .collect().head.getLong(0)
    assert(viaExpr === 381241804075191743L)
  }

  test("m03 audio windowing frames REAL parsed WAV headers into dense overlapping windows") {
    val a = Multimodal.m03AudioWindows(spark, sf)
    assert(a.columns.toSeq === Seq(
      "doc_id", "window_index", "start_ms", "end_ms", "sample_rate",
      "channels", "n_samples", "energy_ppm"))
    val r1 = a.collect()
    val r2 = Multimodal.m03AudioWindows(spark, sf).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    // exactly the WAV third of the fixture minus the malformed overlay
    // rows fans out (avHeaderTable: %3==1 wav; %17/%13/%11 malformed,
    // which parse to null headers -> zero windows); assert the IDENTITY
    // of the docs, not just the count
    val audio = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(3)) === 1 &&
        pmod(col("doc_id"), lit(17)) =!= 0 &&
        pmod(col("doc_id"), lit(13)) =!= 0 &&
        pmod(col("doc_id"), lit(11)) =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byDoc = r1.groupBy(_.getLong(0))
    assert(byDoc.keySet === audio)
    byDoc.foreach { case (doc, ws) =>
      val sorted = ws.sortBy(_.getAs[Int]("window_index"))
      // dense indexes, 500ms hop starts, full 1s windows except a
      // single short-clip partial
      assert(sorted.map(_.getAs[Int]("window_index")).toSeq === sorted.indices.toSeq)
      // header fields are the PARSED fixture values, constant per doc
      val rate = sorted.head.getAs[Int]("sample_rate")
      assert(rate === Seq(8000, 16000, 24000, 44100)((doc % 4).toInt), s"doc $doc")
      assert(sorted.head.getAs[Int]("channels") === 1 + (doc % 2).toInt, s"doc $doc")
      sorted.foreach { w =>
        val start = w.getAs[Long]("start_ms"); val end = w.getAs[Long]("end_ms")
        assert(start === w.getAs[Int]("window_index") * 500L, s"doc $doc")
        assert(end > start && end - start <= 1000L, s"doc $doc")
        assert(end - start === 1000L || sorted.length === 1, s"doc $doc partial mid-clip")
        assert(w.getAs[Int]("sample_rate") === rate)
        assert(w.getAs[Long]("n_samples") === (end - start) * rate / 1000L)
        val e = w.getAs[Long]("energy_ppm")
        assert(e >= 0L && e < 1000000L)
      }
      // the parsed duration bounds the last window: declared 500..3999ms
      val last = sorted.last.getAs[Long]("end_ms")
      assert(last >= 500L && last < 4000L, s"doc $doc dur $last")
    }
  }

  test("t05 sequence packing respects the budget, covers all docs, is deterministic") {
    val budget = 2048L
    val a = Text.t05PackSequences(spark, sf)
    val r1 = a.collect()
    val r2 = Text.t05PackSequences(spark, sf).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    // complete: every doc packed exactly once
    assert(r1.map(_.getLong(0)).toSet === Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // budget invariant: a bin's tokens fit, unless it is a single
    // over-budget doc in its own bin
    r1.groupBy(_.getAs[Long]("bin_id")).foreach { case (bin, docs) =>
      val total = docs.map(_.getAs[Long]("n_tokens")).sum
      assert(total <= budget || docs.length === 1, s"bin $bin total $total")
    }
    // packing is non-trivial: bins hold multiple docs on this corpus
    assert(r1.groupBy(_.getAs[Long]("bin_id")).exists(_._2.length > 1))
  }

  test("t06 repetition stats handle empty, single-word, and fully-repeated docs") {
    import spark.implicits._
    val df = Seq(
      (1L, ""),                       // no words at all
      (2L, "word"),                   // one word, no bigrams
      (3L, "spam spam spam spam"),    // fully repeated: 1 unique bigram
      (4L, "a b a b a"),              // alternating: 4 bigrams, 2 unique
      (5L, "  double  spaced  ")      // empty tokens filtered out
    ).toDF("id", "body")
    val got = Text.repetitionStats(df, "id", "body").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    //                 n_words top_word n_2grams n_uniq_2grams
    assert(got(1L) === (0L, 0L, 0L, 0L))
    assert(got(2L) === (1L, 1L, 0L, 0L))
    assert(got(3L) === (4L, 4L, 3L, 1L))
    assert(got(4L) === (5L, 3L, 4L, 2L))
    assert(got(5L) === (2L, 1L, 1L, 1L))
  }

  test("normalizeText composes NFC so visually identical docs dedup exactly") {
    import spark.implicits._
    // "café" precomposed (U+00E9) vs decomposed (e + U+0301), plus
    // case and whitespace noise — all four must canonicalize equal
    val composed = "café latte"
    val decomposed = "cafe\u0301 latte" // e + combining acute, escaped on purpose
    assert(composed !== decomposed) // genuinely different code points
    val docs = Seq(
      (1L, composed),
      (2L, decomposed),
      (3L, "  CAFÉ   latte "),
      (4L, "Café\tlatte"),
      (5L, "different doc")).toDF("id", "body")
    val out = Text.normalizeText(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === composed.toLowerCase)
    assert(Set(1L, 2L, 3L, 4L).map(out).size === 1, s"not canonical: $out")
    // the canonical form feeds exact dedup: one representative survives
    val deduped = graft.operators.Dedup.exactDedup(
      Text.normalizeText(docs, "id", "body"), "doc_id", "norm_text")
    assert(deduped.count() === 2L)
    // idempotent
    val again = Text.normalizeText(
      Text.normalizeText(docs, "id", "body"), "doc_id", "norm_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again === out)
    // nfc=false leaves composition forms distinct
    val raw = Text.normalizeText(docs, "id", "body", nfc = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(raw(1L) !== raw(2L))
  }

  test("redactPii scrubs planted PII and leaves clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write to a.smith+tag@corp.example.org and b@x.io today"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "server at 10.0.254.7 and gateway 192.168.1.1"),
      (4L, "no pii here at all"),
      (5L, "mixed: c@d.net on 555-000-1111 via 8.8.8.8"),
      // non-matches: no TLD, digit runs that aren't phones/IPs
      (6L, "a@b is not an email, 12-34-56 not a phone, 1.2.3 not an ip"),
      // syntactic scrubbing: out-of-range octets still redact (recall
      // over precision — documented contract)
      (7L, "weird 999.999.999.999 still scrubbed")
    ).toDF("id", "body")
    val out = Text.redactPii(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) === ((2L, 0L, 0L, "write to <EMAIL> and <EMAIL> today")))
    assert(out(2L) === ((0L, 2L, 0L, "call <PHONE> or <PHONE> now")))
    assert(out(3L) === ((0L, 0L, 2L, "server at <IP> and gateway <IP>")))
    assert(out(4L) === ((0L, 0L, 0L, "no pii here at all")))
    assert(out(5L) === ((1L, 1L, 1L, "mixed: <EMAIL> on <PHONE> via <IP>")))
    assert(out(6L) === ((0L, 0L, 0L, "a@b is not an email, 12-34-56 not a phone, 1.2.3 not an ip")))
    assert(out(7L) === ((0L, 0L, 1L, "weird <IP> still scrubbed")))
  }

  test("t08 injects one email/phone/ip per doc and scrubs them all") {
    val out = Text.t08PiiRedact(spark, sf)
    assert(out.count() === Tables.documents(spark, sf).count())
    // every row: exactly the injected hits, nothing left unredacted
    assert(out.filter(col("n_emails") =!= 1L || col("n_phones") =!= 1L || col("n_ips") =!= 1L).count() === 0L)
    assert(out.filter(!col("redacted").contains("<EMAIL>") ||
      !col("redacted").contains("<PHONE>") || !col("redacted").contains("<IP>")).count() === 0L)
    assert(out.filter(col("redacted").rlike("\\d{3}[-.]\\d{3}[-.]\\d{4}")).count() === 0L)
  }

  test("boilerplateSpans flags shared spans and zero-fills short docs") {
    import spark.implicits._
    val boiler = "all rights reserved contact the site team"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon $boiler"),
      (2L, s"one two three four five six $boiler"),
      (3L, "totally unique content with no repeats anywhere at all"),
      (4L, "too short") // < 5 tokens: no spans
    ).toDF("id", "body")
    val out = Text.boilerplateSpans(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 12 tokens -> 8 spans, doc 2: 13 -> 9; the 3 spans fully
    // inside the shared 7-token boilerplate tail appear in both
    assert(out(1L) === ((8L, 3L)), s"got ${out(1L)}")
    assert(out(2L) === ((9L, 3L)), s"got ${out(2L)}")
    assert(out(3L) === ((5L, 0L)))
    assert(out(4L) === ((0L, 0L)))
  }

  test("qualityBuckets is monotone in quality and groups equal-quality docs") {
    val out = Text.t10QualityBuckets(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length === Tables.documents(spark, sf).count())
    // monotone: sorting by quality never decreases the bucket
    val byQ = out.sortBy(_._2)
    byQ.sliding(2).foreach {
      case Array((_, _, b1), (_, _, b2)) => assert(b1 <= b2)
      case _ =>
    }
    // equal quality -> equal bucket
    out.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).distinct.length === 1)
    }
    // deciles span the range and are roughly balanced
    val sizes = out.groupBy(_._3).map { case (b, rs) => b -> rs.length }
    assert(sizes.keySet.max <= 9L && sizes.keySet.min === 0L)
  }

  test("corpusVocab ranks by frequency with exact cumulative coverage") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a b  d")  // double space: empty token filtered
    ).toDF("id", "body")
    val out = Text.corpusVocab(docs, "id", "body", topK = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // counts: a=4, b=3, c=1, d=1 (total 9); top-3 ties break on word asc
    assert(out.toSeq === Seq(
      (1, "a", 4L, 4L, 9L),
      (2, "b", 3L, 7L, 9L),
      (3, "c", 1L, 8L, 9L)))
  }

  test("tfIdfKeywords matches the hand model, keeps smoothed-idf scores positive, ties on term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana cherry cherry date"),
      (3L, "apple banana date date date")
    ).toDF("id", "body")
    // N=3; df: apple=2, banana=3, cherry=2, date=2
    // idf = ln(4/(df+1))+1: banana (every doc) = 1.0 exactly — the +1
    // smoothing keeps it ranked, not erased; others = ln(4/3)+1
    val out = Text.tfIdfKeywords(docs, "id", "body", topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // ctf (corpus term frequency): apple 3, banana 3, cherry 3, date 4
    assert(out.toSeq === Seq(
      (1L, "apple", 2L, 2L, 3L, 2.575364),
      (1L, "cherry", 1L, 2L, 3L, 1.287682),
      (2L, "cherry", 2L, 2L, 3L, 2.575364),
      (2L, "date", 1L, 2L, 4L, 1.287682),
      (3L, "apple", 1L, 2L, 3L, 1.287682),
      (3L, "date", 3L, 2L, 4L, 3.863046)))
    // idf beats raw tf: doc2 keeps date (tf 1, rarer) over banana (tf 1,
    // every doc) — and an equal-score tie keeps the lexicographically
    // first term, the oracle's tie rule
    val tied = Seq((1L, "y x"), (2L, "z")).toDF("id", "body")
    val top1 = Text.tfIdfKeywords(tied, "id", "body", topK = 1)
      .filter(col("doc_id") === 1L).collect().map(_.getString(1))
    assert(top1.toSeq === Seq("x"))
  }

  test("bm25Rank matches the hand model; repeated query terms score once; ties break on doc_id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "apple date date cherry cherry")).toDF("id", "body")
    val queries = Seq(
      (1L, "apple"),
      (2L, "banana banana cherry"), // repeated term must count once
      (3L, "missing")).toDF("qid", "qtext")
    val out = Text.bm25Rank(docs, queries, "id", "body", "qid", "qtext")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    // driver-reference model: N=3, avgdl=10/3; df apple=2 banana=2
    // cherry=2 date=1; k1=1.2 b=0.75; Lucene idf; per-term round(.,6)
    // then exact decimal fold of rounded terms
    val dl = Map(1L -> 3L, 2L -> 2L, 3L -> 5L)
    val df = Map("apple" -> 2L, "banana" -> 2L, "cherry" -> 2L, "date" -> 1L)
    val tf = Map(
      (1L, "apple") -> 2L, (1L, "banana") -> 1L,
      (2L, "banana") -> 1L, (2L, "cherry") -> 1L,
      (3L, "apple") -> 1L, (3L, "date") -> 2L, (3L, "cherry") -> 2L)
    val avgdl = 10.0 / 3.0
    def contrib(d: Long, t: String): Option[BigDecimal] =
      tf.get((d, t)).map { f =>
        val idf = math.log(1.0 + (3L - df(t) + 0.5) / (df(t) + 0.5))
        val raw = idf * (f.toDouble * 2.2) /
          (f.toDouble + 1.2 * (0.25 + 0.75 * dl(d) / avgdl))
        BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
    def score(d: Long, terms: Seq[String]): Option[Double] = {
      val cs = terms.distinct.flatMap(t => contrib(d, t))
      if (cs.isEmpty) None else Some(cs.sum.toDouble)
    }
    val expected = Seq(
      1L -> Seq("apple"), 2L -> Seq("banana", "cherry")).flatMap { case (q, ts) =>
      Seq(1L, 2L, 3L).flatMap(d => score(d, ts).map(s => (q, d, s)))
        .sortBy { case (_, d, s) => (-s, d) }
        .zipWithIndex.map { case ((qq, d, s), i) => (qq, i + 1, d, s) }
    }
    assert(out.map(x => (x._1, x._2, x._3, x._4)).toSeq === expected)
    // query 3 matches nothing: absent from the output, not zero-scored
    assert(!out.exists(_._1 == 3L))
    // n_matched counts distinct matched terms
    assert(out.filter(x => x._1 == 2L && x._3 == 2L).head._5 === 2L)
    // set semantics: "banana banana cherry" == "banana cherry"
    val dedupQ = Text.bm25Rank(docs, Seq((9L, "banana cherry")).toDF("qid", "qtext"),
      "id", "body", "qid", "qtext").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(dedupQ.toSeq === out.filter(_._1 == 2L).map(x => (x._2, x._3, x._4)).toSeq)
    // partition independence (decimal fold of rounded terms)
    val re = Text.bm25Rank(docs.repartition(7), queries, "id", "body", "qid", "qtext")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(re.toSeq === out.toSeq)
  }

  test("rankingMetrics matches the hand TREC model across full-outer, graded, and degenerate cases") {
    import spark.implicits._
    // run: q1 ranks docs 1,2,3; q2 ranks 4,5; q3 ranks 6 (no qrels);
    // q4 exists only in qrels (never retrieved)
    val run = Seq(
      (1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3),
      (2L, 4L, 1), (2L, 5L, 2),
      (3L, 6L, 1)).toDF("query_id", "doc_id", "rank")
    // qrels: q1 — doc2 rel 2, doc3 rel 1, doc9 rel 3 (missed);
    // q2 — doc5 rel 1; q4 — doc7 rel 1
    val qrels = Seq(
      (1L, 2L, 2L), (1L, 3L, 1L), (1L, 9L, 3L),
      (2L, 5L, 1L), (4L, 7L, 1L)).toDF("query_id", "doc_id", "rel")
    val out = Text.rankingMetrics(run, qrels, k = 3).collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getLong(5)))).toMap
    def term(rel: Long, pos: Long): BigDecimal =
      BigDecimal(((math.pow(2.0, rel.toDouble) - 1.0)
        / (math.log(pos + 1.0) / math.log(2.0))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: DCG = 0 (rank1, rel0) + term(2,2) + term(1,3);
    // ideal order rel desc = (3,1),(2,2),(1,3)
    val dcg1 = term(2L, 2L) + term(1L, 3L)
    val idcg1 = term(3L, 1L) + term(2L, 2L) + term(1L, 3L)
    assert(out(1L) === ((Some(r6(dcg1.toDouble / idcg1.toDouble)),
      0.5, r6(2.0 / 3.0), Some(r6(2.0 / 3.0)), 3L)))
    // q2: relevant doc5 at rank 2 -> DCG = term(1,2), IDCG = term(1,1)
    assert(out(2L) === ((Some(r6(term(1L, 2L).toDouble / term(1L, 1L).toDouble)),
      0.5, r6(1.0 / 3.0), Some(1.0), 1L)))
    // q3: no qrels -> ndcg/recall NULL (undefined), zeros elsewhere
    assert(out(3L) === ((None, 0.0, 0.0, None, 0L)))
    // q4: qrels but never retrieved -> all-zero metrics, n_rel kept
    assert(out(4L) === ((Some(0.0), 0.0, 0.0, Some(0.0), 1L)))
  }

  test("rrfFuse matches the hand model: rank-only fusion, consensus beats a single high rank") {
    import spark.implicits._
    // run A ranks docs 1,2,3; run B ranks 2,1,4 — doc in both runs
    // accumulates two reciprocal terms; doc 3/4 appear once each
    val runA = Seq((1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3)).toDF("query_id", "doc_id", "rank")
    val runB = Seq((1L, 2L, 1), (1L, 1L, 2), (1L, 4L, 3)).toDF("query_id", "doc_id", "rank")
    val out = Text.rrfFuse(Seq(runA, runB), k0 = 60, topK = 10).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    def t(r: Int): BigDecimal =
      BigDecimal(1.0 / (60.0 + r)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // docs 1 and 2 tie exactly (symmetric ranks 1+2) -> doc_id breaks it
    val both = (t(1) + t(2)).toDouble
    assert(out.toSeq === Seq(
      (1, 1L, both, 2L), (2, 2L, both, 2L),
      (3, 3L, t(3).toDouble, 1L), (4, 4L, t(3).toDouble, 1L)))
    // consensus beats a single top rank: doc in both runs at mid ranks
    // outranks a doc that one run put first
    val c = Text.rrfFuse(Seq(
      Seq((1L, 7L, 1), (1L, 8L, 2)).toDF("query_id", "doc_id", "rank"),
      Seq((1L, 8L, 3)).toDF("query_id", "doc_id", "rank"))).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(c(1) === 8L, "two mid ranks must outscore one first place")
    // partition independence (decimal fold)
    val re = Text.rrfFuse(Seq(runA.repartition(5), runB.repartition(3))).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(re.toSeq === out.toSeq)
  }

  test("t23 plan: queries broadcast into the term join; never corpus x queries") {
    val out = Text.t23Bm25(spark, sf)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"query joins must broadcast:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("hashedFeatures is partition-independent, conserves token mass, signs stay bounded") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(50)
    val a = Text.hashedFeatures(docs).collect()
    val b = Text.hashedFeatures(docs.repartition(7)).collect()
    // content-stable hashing: identical rows whatever the partitioning
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 64))
    // every token lands in exactly one bucket: per-doc sum(n) equals the
    // token count, and each bucket's signed sum is count-bounded with
    // matching parity (it is a sum of n terms of +/-1)
    val massByDoc = a.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val tokByDoc = docs
      .select(col("doc_id"), expr("size(filter(split(text, ' '), x -> x != ''))").cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(massByDoc === tokByDoc.filter(_._2 > 0))
    assert(a.forall(r => math.abs(r.getLong(3)) <= r.getLong(2)
      && (r.getLong(3) - r.getLong(2)) % 2 == 0))
    // identical texts produce identical sparse vectors
    val twins = Seq((1L, "alpha beta beta gamma"), (2L, "alpha beta beta gamma")).toDF("id", "body")
    val tw = Text.hashedFeatures(twins, "id", "body", nBuckets = 8).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSet).toMap
    assert(tw(1L) === tw(2L))
  }

  test("qualityBuckets edge cases: one bucket, more buckets than docs, uniform quality") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short one"),
      (2L, "a slightly longer document with more words inside"),
      (3L, "short one")
    ).toDF("id", "body")
    // nBuckets = 1: everything lands in bucket 0
    val one = Text.qualityBuckets(docs, "id", "body", nBuckets = 1)
      .collect().map(_.getLong(2))
    assert(one.toSet === Set(0L))
    // more buckets than docs: buckets stay in [0, n), strictly fewer
    // distinct buckets than requested, still monotone
    val many = Text.qualityBuckets(docs, "id", "body", nBuckets = 100)
      .collect().map(r => (r.getDouble(1), r.getLong(2)))
    assert(many.forall { case (_, b) => b >= 0L && b < 100L })
    assert(many.sortBy(_._1).map(_._2).toSeq === many.sortBy(_._1).map(_._2).sorted.toSeq)
    // uniform quality: every doc shares bucket 0 whatever nBuckets is
    val same = Seq((1L, "x y z"), (2L, "x y z"), (3L, "x y z")).toDF("id", "body")
    assert(Text.qualityBuckets(same, "id", "body", nBuckets = 10)
      .collect().map(_.getLong(2)).toSet === Set(0L))
  }

  test("qualityBuckets histogram grid: coarse grid keeps the contract, invalid params throw") {
    import spark.implicits._
    // ~100 distinct 6-dp qualities (all-unique tokens, lengths 1..400)
    val docs = (1L to 400L).map(i =>
      (i, (1L to i).map(j => s"w${i}x$j").mkString(" "))).toDF("id", "body")
    val out = Text.qualityBuckets(docs, "id", "body", nBuckets = 10, gridDp = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length === 400)
    // the histogram key is the 1-dp-quantized quality — at most 11
    // distinct rows through the single-partition window at ANY corpus
    // size; docs sharing a quantized key must share a bucket
    out.groupBy { case (_, q, _) => math.round(q * 10) }.foreach { case (_, rs) =>
      assert(rs.map(_._3).distinct.length === 1)
    }
    // monotone in quality, buckets in range
    val byQ = out.sortBy(_._2).map(_._3)
    assert(byQ.toSeq === byQ.sorted.toSeq)
    assert(out.forall { case (_, _, b) => b >= 0L && b < 10L })
    intercept[IllegalArgumentException](
      Text.qualityBuckets(docs, "id", "body", nBuckets = 0))
    intercept[IllegalArgumentException](
      Text.qualityBuckets(docs, "id", "body", gridDp = 7))
  }

  test("boilerplateSpans: a mass of short docs completes and zero-fills (no NULL mega-key)") {
    import spark.implicits._
    // 5000 sub-w docs all emit NULL spans; each rides its OWN sentinel
    // window key (the single shared NULL partition was the r7 advisor's
    // straggler), while real spans still count across the 2 long docs
    val boiler = "all rights reserved contact the site team"
    val docs = ((1L to 5000L).map(i => (i, "tiny")) ++ Seq(
      (9001L, s"alpha beta gamma delta epsilon $boiler"),
      (9002L, s"one two three four five six $boiler"))).toDF("id", "body")
    val out = Text.boilerplateSpans(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size === 5002)
    assert((1L to 5000L).forall(out(_) == ((0L, 0L))))
    assert(out(9001L) === ((8L, 3L)))
    assert(out(9002L) === ((9L, 3L)))
  }

  test("t08/t09/t10 are partition-independent and redaction is idempotent") {
    val docs = Tables.documents(spark, sf)
    val shuffled = docs.repartition(7, col("source"))
    // same rows whatever the physical layout — the property that must
    // survive a 1000-executor cluster
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Text.boilerplateSpans(docs)) === rows(Text.boilerplateSpans(shuffled)))
    assert(rows(Text.qualityBuckets(docs)) === rows(Text.qualityBuckets(shuffled)))
    assert(rows(Text.redactPii(docs)) === rows(Text.redactPii(shuffled)))
    // redacting already-redacted text changes nothing (placeholders
    // contain no redactable patterns)
    val once = Text.redactPii(docs)
    val twice = Text.redactPii(once.select(col("doc_id"), col("redacted")),
      textCol = "redacted")
    assert(twice.filter(col("n_emails") =!= 0L || col("n_phones") =!= 0L ||
      col("n_ips") =!= 0L).count() === 0L)
    assert(rows(twice.select(col("doc_id"), col("redacted"))) ===
      rows(once.select(col("doc_id"), col("redacted"))))
  }

  test("t01/t02/t03 agree on tokenization") {
    val t1 = Text.t01LangId(spark, sf).count()
    val t2 = Text.t02QualityScore(spark, sf).count()
    val t3 = Text.t03TokenCount(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    assert(t1 === docs && t2 === docs && t3.count() === docs)
    // ws_tokens >= alpha_tokens is not guaranteed, but both positive
    assert(t3.filter(col("ws_tokens") <= 0 || col("alpha_tokens") <= 0).count() === 0L)
  }

  // ---------------------------------------------------------------
  // t12 BPE training — independent driver-side reference (Sennrich-
  // style: count adjacent pairs weighted by word frequency, merge the
  // global argmax greedily left-to-right, repeat)
  // ---------------------------------------------------------------

  private def refBpeMerge(syms: Vector[String], a: String, b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b) else acc :+ s
    }

  private def refBpe(words: Seq[String], nMerges: Int): Vector[(Int, String, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = words.groupBy(identity).map {
      case (w, ws) => (w.map(_.toString).toVector :+ "</w>") -> ws.size.toLong
    }
    var out = Vector.empty[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val pairs = vocab.toSeq
        .flatMap { case (syms, c) => syms.zip(syms.tail).map(p => p -> c) }
        .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).sum }
      pairs.toSeq.sortBy { case ((l, r), n) => (-n, l, r) }.headOption match {
        case Some(((a, b), c)) if c >= 2L =>
          out :+= ((rank, a, b, a + b, c))
          vocab = vocab.toSeq.map { case (syms, cc) => refBpeMerge(syms, a, b) -> cc }
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
          rank += 1
        case _ => done = true
      }
    }
    out
  }

  test("bpeTrain matches the independent reference implementation row for row") {
    import spark.implicits._
    // "aaaa" pins greedy left-to-right non-overlap ((a,a) merges to
    // aa,aa not aa,a,a); the low/new family pins multi-round growth
    val texts = Seq(
      (1L, "low low lower lowest aaaa"),
      (2L, "new newer newest low aaaa"),
      (3L, "low new low aaaa aaa"))
    val got = Text.bpeTrain(texts.toDF("doc_id", "text"), nMerges = 8)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toVector
    val want = refBpe(texts.flatMap(_._2.split(" ")).filter(_.nonEmpty), 8)
    assert(got === want)
  }

  test("bpeTrain batch=16: at a real budget the batched table encodes EQUAL tokens") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def table(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toVector
    // the measured adjudication (BpeAdjudicate, SURVEY §5): rank ORDER
    // deviates under batching (a batch cannot extend a symbol it just
    // created, so chains arrive later) — the contract is tokenizer
    // QUALITY at a budget that covers the frequent-pair space, where
    // batched(16) encodes the corpus to the same total tokens as
    // greedy while paying ~1/16th the driver round-trips. At a
    // deliberately tiny budget greedy IS better (chains win early):
    // measured +7% tokens at nMerges=24 — that trade is the scaladoc's
    // guidance, not a defect, so the pin runs at the real budget.
    val budget = 120
    val greedy = table(Text.bpeTrain(docs, nMerges = budget, minPairCount = 1L))
    val batched = table(Text.bpeTrain(docs, nMerges = budget,
      minPairCount = 1L, batch = 16))
    def totalTokens(t: Vector[(Int, String, String, String, Long)]) = {
      val merges = t.map(m => (m._2, m._3))
      Text.bpeEncode(docs, merges).agg(sum("n_tokens")).collect().head.getLong(0)
    }
    val gTok = totalTokens(greedy)
    val bTok = totalTokens(batched)
    assert(math.abs(gTok - bTok).toDouble / gTok <= 0.005,
      s"greedy $gTok vs batched $bTok tokens")
    // determinism of the batched path
    assert(table(Text.bpeTrain(docs, nMerges = budget,
      minPairCount = 1L, batch = 16)) === batched)
  }

  test("bpeTrain: best pair counts never increase, and training is partition-independent") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val a = Text.bpeTrain(docs, nMerges = 6).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty)
    val counts = a.map(_.last.asInstanceOf[Long])
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y },
      s"best pair counts must be non-increasing: $counts")
    val b = Text.bpeTrain(docs.repartition(7), nMerges = 6).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("bpeEncode applies the learned table and reconstructs each word") {
    import spark.implicits._
    val texts = Seq((1L, "low lower aaaa"), (2L, "newest aaa low"))
    val df = texts.toDF("doc_id", "text")
    val merges = Text.bpeTrain(df, nMerges = 6).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val got = Text.bpeEncode(df, merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val want = texts.map { case (id, text) =>
      id -> text.split(" ").filter(_.nonEmpty).toVector.flatMap { w =>
        merges.foldLeft(w.map(_.toString).toVector :+ "</w>") {
          case (s, (x, y)) => refBpeMerge(s, x, y)
        }
      }
    }.toMap
    assert(got === want)
    // concatenating a doc's tokens reconstructs its words + markers
    for ((id, text) <- texts)
      assert(got(id).mkString("") ===
        text.split(" ").filter(_.nonEmpty).map(_ + "</w>").mkString(""))
  }

  test("native bpeEncode equals the nested-fold formulation on a trained table") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").limit(40)
    val merges = Text.bpeTrain(docs, nMerges = 6).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val native = Text.bpeEncode(docs, merges).collect().map(_.toSeq).toSeq
    val fold = Text.bpeEncodeFold(docs, merges).collect().map(_.toSeq).toSeq
    assert(native === fold)
  }

  test("t19 gate binding: fixed-table encode matches the fold twin; signature is deterministic") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").limit(60)
    // the fixed table genuinely merges (the corpus is English-ish):
    // every doc tokenizes to fewer symbols than its character count
    val gate = Text.t19BpeEncode(spark, sf).limit(60).collect()
    assert(gate.nonEmpty && gate.forall(_.getLong(1) > 0))
    val fold = Text.bpeEncodeFold(docs, Text.t19Merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val native = Text.bpeEncode(docs, Text.t19Merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(native === fold)
    assert(native.exists { case (_, toks) => toks.exists(t => t.length > 2 && t != "</w>") },
      "multi-level merges (the/ing) must actually fire on corpus text")
    // the binding's signature pins every token in order: recompute it
    // from the fold tokens and compare
    val sig = gate.map(r => r.getLong(0) -> r.getString(2)).toMap
    fold.foreach { case (id, toks) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(toks.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(sig(id) === md, s"doc $id signature")
    }
  }

  test("readability: hand Flesch counts, band cuts, wordless doc goes null/empty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat. It ran!"),            // 2 sentences, 5 words, 5 vowel groups
      (2L, "hello world"),                     // no terminator → 1 sentence
      (3L, "12345 !!!"),                       // wordless → null flesch
      (4L, "totalitarianism bureaucratization") // 12 syllables over 2 words
    ).toDF("doc_id", "text")
    val out = Text.readability(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flesch(s: Long, w: Long, y: Long): Double =
      BigDecimal(206.835 - 1.015 * (w.toDouble / s) - 84.6 * (y.toDouble / w))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((out(1L).getLong(1), out(1L).getLong(2), out(1L).getLong(3)) === ((2L, 5L, 5L)))
    assert(out(1L).getDouble(4) === flesch(2, 5, 5) && out(1L).getString(5) === "easy")
    assert((out(2L).getLong(1), out(2L).getLong(2), out(2L).getLong(3)) === ((1L, 2L, 3L)))
    assert(out(2L).getDouble(4) === flesch(1, 2, 3) && out(2L).getString(5) === "easy")
    assert(out(3L).getLong(2) === 0L && out(3L).isNullAt(4)
      && out(3L).getString(5) === "empty")
    assert((out(4L).getLong(1), out(4L).getLong(2), out(4L).getLong(3)) === ((1L, 2L, 12L)))
    assert(out(4L).getString(5) === "difficult")
  }

  test("codeDetect: replace-arithmetic signals match an independent driver count; code vs prose separates") {
    import spark.implicits._
    val code = "def f(x):\n  return x;\nclass A {\n\tint y = 0;\n}"
    val prose = "The quick brown fox jumps over the lazy dog. " * 4
    val docs = Seq((1L, code), (2L, prose)).toDF("doc_id", "text")
    val out = Text.codeDetect(docs).collect().map(r => r.getLong(0) -> r).toMap
    // independent driver model over the same strings
    def model(t: String) = {
      val nLines = 1L + t.count(_ == '\n')
      val punct = t.count(c => "{}();=<>".contains(c))
      val kw = ("def |function |return |import |class |void |#include |const ".r
        .findAllIn(t)).size
      val ind = t.sliding(3).count(_ == "\n  ") // non-overlapping == sliding here (no "\n   " runs)
      val indTab = t.sliding(2).count(_ == "\n\t")
      val semi = t.count(_ == ';')
      (nLines, punct.toLong, kw.toLong, (ind + indTab).toLong, semi.toLong)
    }
    for ((id, t) <- Seq(1L -> code, 2L -> prose)) {
      val (l, p, k, i, s) = model(t)
      val r = out(id)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        === ((l, p, k, i, s)), s"doc $id signals")
    }
    assert(out(1L).getBoolean(7), s"code doc must flag: score ${out(1L).getDouble(6)}")
    assert(!out(2L).getBoolean(7), s"prose must not flag: score ${out(2L).getDouble(6)}")
    assert(out(1L).getDouble(6) > out(2L).getDouble(6))
  }

  test("native bpeEncode survives a 1,200-merge table with a merge-count-independent plan") {
    import spark.implicits._
    // well-formed chain: rule i merges (prefix of i+1 chars, next char)
    // — each rule consumes the symbol the previous rule created, the
    // shape every trained table has. 1,201 distinct base chars.
    val chars = (0 until 1201).map(i => (0x100 + i).toChar.toString)
    val word = chars.mkString("")
    val merges = (1 until 1201).map(i => (word.substring(0, i), chars(i)))
    val mid = chars.take(5).mkString("")
    val df = Seq((1L, word), (2L, mid), (3L, s"$word $mid")).toDF("doc_id", "text")
    val enc = Text.bpeEncode(df, merges)
    // the plan must not nest per-merge expressions: its string form
    // stays small no matter the table size (the fold formulation's
    // plan grows with every rule and stops analyzing near this scale)
    val planLen = enc.queryExecution.analyzed.toString.length
    assert(planLen < 20000, s"plan grew with the merge table: $planLen chars")
    val got = enc.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    // driver-side sequential reference over all 1,200 rules
    def ref(w: String): Vector[String] =
      merges.foldLeft(w.map(_.toString).toVector :+ "</w>") {
        case (s, (a, b)) => refBpeMerge(s, a, b)
      }
    assert(got(1L) === ref(word))
    assert(got(1L) === Vector(word, "</w>"))
    assert(got(2L) === ref(mid))
    assert(got(2L) === Vector(mid, "</w>"))
    assert(got(3L) === ref(word) ++ ref(mid))
  }

  test("entropyStats matches a driver model bit-for-bit and closed forms") {
    import spark.implicits._
    // driver reference with the SAME determinism policy: per-term
    // decimal-12 rounding, exact sum (order-independent)
    def refEntropy(syms: Seq[String]): Option[Double] = {
      if (syms.isEmpty) None
      else {
        val n = syms.size.toDouble
        val sum = syms.groupBy(identity).values.map(_.size).map { c =>
          val p = c / n
          BigDecimal(p * (StrictMath.log(p) / StrictMath.log(2.0)))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        Some(-sum.toDouble)
      }
    }
    val texts = Seq(
      (1L, "abab abab"),          // uniform chars a,b,space
      (2L, "aaaa"),               // single symbol: char entropy 0
      (3L, "x y z w"),            // 4 uniform tokens: token entropy 2.0
      (4L, "the cat sat on the mat the end"))
    val got = Text.entropyStats(texts.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    for ((id, text) <- texts) {
      val chars = text.split("").filter(_.nonEmpty).toSeq
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      assert(got(id)._1 === toks.size.toLong)
      assert(got(id)._2 === refEntropy(chars), s"char entropy doc $id")
      assert(got(id)._3 === refEntropy(toks), s"token entropy doc $id")
    }
    // closed forms: constant string -> 0 bits; 4 uniform tokens -> 2 bits
    assert(got(2L)._2 === Some(0.0))
    assert(got(3L)._3 === Some(2.0))
    // the gate runs on real docs without error and is map-only
    val gate = Text.t18EntropyStats(spark, sf)
    assert(gate.count() > 0)
    assert(gate.collect().forall(r => r.getDouble(2) > 0.0 && r.getDouble(3) > 0.0))
  }

  test("entropyStats is partition-independent and flags planted low-entropy docs") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val a = Text.entropyStats(docs).collect().map(_.toSeq).toSeq
    val b = Text.entropyStats(docs.repartition(7)).collect().map(_.toSeq).toSeq
    assert(a === b)
    import spark.implicits._
    // a mashed doc scores far below a normal one on char entropy, and
    // a template doc far below on token entropy — the two failure
    // modes the signal exists to separate
    val probe = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
      (2L, "yes no yes no yes no yes no yes no"),
      (3L, "the quick brown fox jumps over a lazy dog tonight")).toDF("doc_id", "text")
    val e = Text.entropyStats(probe).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(e(1L)._1 < 0.5 && e(3L)._1 > 3.0, s"char: ${e(1L)._1} vs ${e(3L)._1}")
    assert(e(2L)._2 < 1.5 && e(3L)._2 > 3.0, s"token: ${e(2L)._2} vs ${e(3L)._2}")
  }

  test("trainQualityClassifier fits a separable problem and scoring is calibrated") {
    import spark.implicits._
    // one signal feature with a 0.3 margin around the decision point
    val feats = ((0 to 7).map(i => i * 0.05) ++ (13 to 20).map(i => i * 0.05))
      .zipWithIndex.map { case (x, i) =>
        (i.toLong, Seq(1.0, x), if (x >= 0.65) 1 else 0)
      }.toDF("doc_id", "features", "label")
    val w = Text.trainQualityClassifier(feats, epochs = 120, lr = 8.0)
    assert(w.length === 2)
    val scored = Text.scoreQuality(feats, w.toSeq).collect()
    assert(scored.forall { r =>
      val s = r.getAs[Double]("score")
      s > 0.0 && s < 1.0 && ((s > 0.5) === (r.getAs[Int]("label") == 1))
    }, scored.map(r => (r.getLong(0), r.getAs[Double]("score"), r.getAs[Int]("label"))).mkString("; "))
    // the signal feature carries positive weight
    assert(w(1) > 0.0)
  }

  test("trainQualityClassifier is bit-exact under repartitioning") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "n_chars")
    val feats = Text.qualityFeatures(docs, extraCols = Seq("n_chars"))
      .withColumn("label", (col("n_chars") > 306L).cast("int"))
    val w1 = Text.trainQualityClassifier(feats, epochs = 8)
    val w2 = Text.trainQualityClassifier(feats.repartition(7), epochs = 8)
    // DECIMAL-stabilized gradient sums make every epoch exact and
    // order-independent, so the learned weights match to the bit
    assert(w1.toSeq === w2.toSeq)
  }

  test("trainQualityClassifier equals the SQL DECIMAL gradient aggregate bit for bit") {
    import spark.implicits._
    // the SQL formulation the RDD loop replays by hand: per epoch one
    // agg of sum(CAST(x_j * r AS DECIMAL(30,15))) and count(*), with r
    // the zip_with-fold sigmoid residual, then w_j -= lr * g_j / n
    def sqlTrain(feats: org.apache.spark.sql.DataFrame, d: Int, epochs: Int,
        lr: Double): Seq[Double] = {
      val xy = feats.select(col("features").as("x"), col("label").cast("double").as("y"))
      val w = Array.fill(d)(0.0)
      for (_ <- 1 to epochs) {
        val dot = aggregate(zip_with(col("x"), typedLit(w.toSeq), (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v)
        val r = lit(1.0) / (lit(1.0) + exp(-dot)) - col("y")
        val aggs = (0 until d).map(j =>
          sum((element_at(col("x"), j + 1) * r).cast("decimal(30,15)")).as(s"g$j")) :+
          count(lit(1)).as("n")
        val row = xy.agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(d).toDouble
        for (j <- 0 until d) w(j) -= lr * row.getDecimal(j).doubleValue() / n
      }
      w.toSeq
    }
    val d = 5
    val rng = new scala.util.Random(1307)
    // full-precision doubles, plus the rows that only count toward n:
    // null features, a null element, an over-long array, a null label
    val rows = (0 until 400).map { i =>
      val xs: Seq[java.lang.Double] =
        (1.0 +: Seq.fill(d - 1)(rng.nextDouble())).map(java.lang.Double.valueOf)
      val label: Option[Int] = if (i % 97 == 5) None else Some(if (rng.nextDouble() < xs(1)) 1 else 0)
      val feats: Seq[java.lang.Double] = i % 23 match {
        case 3 => null
        case 7 => xs.updated(2, null)
        case 11 => xs :+ java.lang.Double.valueOf(rng.nextDouble())
        case _ => xs
      }
      (i.toLong, feats, label)
    }
    // row 0 is a full row: training takes d from the first row
    val feats = rows.toDF("doc_id", "features", "label")
    for ((epochs, lr) <- Seq((20, 2.0), (7, 8.0))) {
      val rdd = Text.trainQualityClassifier(feats, epochs = epochs, lr = lr).toSeq
      assert(rdd === sqlTrain(feats, d, epochs, lr), s"epochs $epochs lr $lr")
    }
  }

  test("t13 gate learns the long-document label well above chance") {
    val out = Text.t13QualityClassifier(spark, sf).collect()
    assert(out.nonEmpty)
    val acc = out.count(r => r.getAs[Long]("pred") == r.getAs[Long]("label")).toDouble / out.length
    assert(acc >= 0.75, s"gate accuracy $acc")
  }

  // ---------------------------------------------------------------
  // t14 LM perplexity — independent driver-side reference (Stupid-
  // Backoff bigram LM, same DECIMAL-before-sum policy)
  // ---------------------------------------------------------------

  private def refLm(train: Seq[(Long, String)], topV: Int, topB: Int)
      : (Map[String, Long], Map[(String, String), Long], Long) = {
    val tokensPerDoc = train.map(_._2.split(" ").filter(_.nonEmpty).toVector)
    val uniAll = tokensPerDoc.flatten.groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val total = uniAll.values.sum
    val vocab = uniAll.toSeq.sortBy { case (w, n) => (-n, w) }.take(topV).toMap
    val bigrams = tokensPerDoc.flatMap(t => t.zip(t.drop(1))).groupBy(identity)
      .map { case (p, ps) => p -> ps.size.toLong }
      .filter { case ((a, b), _) => vocab.contains(a) && vocab.contains(b) }
      .toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(topB).toMap
    (vocab, bigrams, total)
  }

  private def refPerplexity(docs: Seq[(Long, String)], vocab: Map[String, Long],
      bigrams: Map[(String, String), Long], total: Long)
      : Map[Long, (Long, Option[Double], Option[Double])] =
    docs.map { case (id, text) =>
      val t = text.split(" ").filter(_.nonEmpty).toVector
      val trans = t.zip(t.drop(1))
      if (trans.isEmpty) id -> ((0L, None, None))
      else {
        val lpSum = trans.map { case (a, b) =>
          // codegen'd log2 is StrictMath-backed; divisions promote to
          // double exactly as Spark's Divide does
          val lp =
            if (bigrams.contains((a, b)) && vocab.contains(a))
              StrictMath.log(bigrams((a, b)).toDouble / vocab(a)) / StrictMath.log(2.0)
            else
              StrictMath.log(0.4 * vocab.get(b).map(_.toDouble).getOrElse(0.5) / total) /
                StrictMath.log(2.0)
          java.math.BigDecimal.valueOf(lp).setScale(12, java.math.RoundingMode.HALF_UP)
        }.reduce(_.add(_))
        val ce = -lpSum.doubleValue() / trans.size
        id -> ((trans.size.toLong, Some(ce), Some(math.pow(2.0, ce))))
      }
    }.toMap

  test("lmPerplexity matches the independent reference LM") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "a dog sat on a log"),
      (4L, "the dog ate the bone"))
    val score = Seq(
      (10L, "the cat sat on the mat"), // in-domain: every bigram seen
      (11L, "zyx wvu tsr qpo"), // fully OOV: every transition floors
      (12L, "the"), // one token: no transitions, null entropy
      (13L, ""), // empty doc keeps its row too
      (14L, "fish ate the dog")) // mix of seen and unseen bigrams
    val (uni, bg) = Text.lmTrain(train.toDF("doc_id", "text"))
    val got = Text.lmPerplexity(score.toDF("doc_id", "text"), uni, bg).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    val (v, b2, total) = refLm(train, 10000, 100000)
    val want = refPerplexity(score, v, b2, total)
    assert(got.keySet === want.keySet)
    for ((id, (n, ce, ppl)) <- want) {
      assert(got(id)._1 === n, s"doc $id transition count")
      assert(got(id)._2.isDefined === ce.isDefined, s"doc $id entropy nullness")
      for ((g, w) <- got(id)._2.zip(ce))
        assert(math.abs(g - w) < 1e-9, s"doc $id entropy $g vs $w")
      for ((g, w) <- got(id)._3.zip(ppl))
        assert(math.abs(g - w) < 1e-6 * w, s"doc $id perplexity $g vs $w")
    }
  }

  test("lmPerplexity ranks gibberish above in-domain text and is partition-independent") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val (uni, bg) = Text.lmTrain(docs)
    // two probes under the corpus-trained model: a sentence of corpus
    // vocabulary vs pure OOV gibberish
    val inDomain = docs.orderBy("doc_id").limit(1).collect()(0).getString(1)
    val probes = Seq((1L, inDomain), (2L, "qzqz vjvj xkxk wpwp zzzz qqqq"))
      .toDF("doc_id", "text")
    val ppl = Text.lmPerplexity(probes, uni, bg).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("perplexity")).toMap
    assert(ppl(1L) < ppl(2L), s"in-domain ${ppl(1L)} must beat gibberish ${ppl(2L)}")
    // DECIMAL-before-sum makes scoring bit-exact under repartitioning
    val a = Text.lmPerplexity(docs, uni, bg).collect().map(_.toSeq).toSeq
    val b = Text.lmPerplexity(docs.repartition(7), uni, bg).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("lmTrain bounds the model by construction and keeps bigrams in-vocab") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val (uni, bg) = Text.lmTrain(docs, topV = 50, topB = 30)
    val uniRows = uni.collect()
    assert(uniRows.length <= 50 && uniRows.nonEmpty)
    val vocab = uniRows.map(_.getString(0)).toSet
    val bgRows = bg.collect()
    assert(bgRows.length <= 30 && bgRows.nonEmpty)
    assert(bgRows.forall(r => vocab(r.getString(0)) && vocab(r.getString(1))))
    // one total, stamped on every unigram row
    assert(uniRows.map(_.getLong(2)).toSet.size === 1)
  }

  test("fused in-row LM scoring is bit-identical to the broadcast-join formulation") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val (uniD, bgD) = Text.lmTrain(docs, topV = 2000, topB = 20000)
    val (uni, bg) = Text.lmLocalize(uniD, bgD)
    val model = Text.lmModel(uniD, bgD)
    // corpus rows plus the structural edges (OOV, single-token, empty)
    val edges = Seq((900001L, "zz yy xx"), (900002L, "lone"), (900003L, ""))
      .toDF("doc_id", "text")
    for (frame <- Seq(docs, edges)) {
      val joined = Text.lmPerplexity(frame, uni, bg).collect().map(_.toSeq).toSeq
      val fused = Text.lmPerplexityFused(frame, model).collect().map(_.toSeq).toSeq
      // bit-identical: same StrictMath log2, same Divide promotion
      // order, same DECIMAL-scale-12 rounding before the sum, same
      // decimal->double cast, same Math.pow
      assert(fused === joined)
    }
  }

  test("lmLocalize rejects an empty trained model loudly") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (uni, bg) = Text.lmTrain(empty)
    intercept[IllegalArgumentException] { Text.lmLocalize(uni, bg) }
    ()
  }

  test("t14 gate scores every document") {
    val docs = Tables.documents(spark, sf).count()
    val out = Text.t14LmPerplexity(spark, sf).collect()
    assert(out.length.toLong === docs)
    // the synthetic corpus has no 0/1-token docs, so entropy is total
    assert(out.forall(r => !r.isNullAt(2) && r.getAs[Double]("perplexity") > 1.0))
  }

  test("t15 chunkDocs: coverage, overlap, and edge semantics") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // n < chunkSize: one chunk
      (2L, (1 to 32).map(i => s"w$i").mkString(" ")), // n == chunkSize: one chunk
      (3L, (1 to 33).map(i => s"w$i").mkString(" ")), // one past: second (partial) chunk
      (4L, (1 to 80).map(i => s"w$i").mkString(" ")), // three chunks
      (5L, ""), (6L, "   ") // empty docs: zero chunks
    ).toDF("doc_id", "text")
    val out = Text.chunkDocs(docs, chunkSize = 32, stride = 24).collect()
    val byDoc = out.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    assert(!byDoc.contains(5L) && !byDoc.contains(6L))
    assert(byDoc(1L).map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq === Seq((0L, 0L, 10L)))
    assert(byDoc(2L).map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq === Seq((0L, 0L, 32L)))
    assert(byDoc(3L).map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq((0L, 0L, 32L), (1L, 24L, 9L))) // tokens 25..33 in the tail chunk
    assert(byDoc(4L).map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 32L)))
    // coverage: chunk 0 plus each successor's new tail reconstructs the doc
    val full = byDoc(4L).zipWithIndex.map { case (r, i) =>
      val toks = r.getString(4).split(" ")
      if (i == 0) toks else toks.drop(32 - 24)
    }.flatten
    assert(full.toSeq === (1 to 80).map(i => s"w$i"))
    // overlap: consecutive chunks share exactly chunkSize - stride tokens
    val c0 = byDoc(4L)(0).getString(4).split(" ")
    val c1 = byDoc(4L)(1).getString(4).split(" ")
    assert(c0.takeRight(8).toSeq === c1.take(8).toSeq)
    // stride == chunkSize degenerates to disjoint full cover
    val disjoint = Text.chunkDocs(docs.filter($"doc_id" === 4L), chunkSize = 32, stride = 32)
      .collect().flatMap(_.getString(4).split(" "))
    assert(disjoint.toSeq === (1 to 80).map(i => s"w$i"))
  }

  test("collocations: hand PMI model, min-count floor, short/empty docs, determinism") {
    import spark.implicits._
    val docs = Seq(
      (1L, "new york is big"), (2L, "new york is big"), (3L, "new york is big"),
      (4L, "a new day"), (5L, "a new day"),
      (6L, "york city"), (7L, "solo"), (8L, ""), (9L, "  "))
      .toDF("doc_id", "text")
    // unigrams: new 5, york 4, is 3, big 3, a 2, day 2, city 1, solo 1
    // → N_uni = 21; bigrams total N_bi = 14
    val out = Text.collocations(docs, minCount = 2, topK = 10).collect()
    val byBigram = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5))).toMap
    // "york city" (n=1) drops at the floor; no pair from 1-word/empty docs
    assert(byBigram.keySet === Set("new york", "york is", "is big", "a new", "new day"))
    val ny = byBigram("new york")
    assert(ny._1 === 3L && ny._2 === 5L && ny._3 === 4L)
    val exp = BigDecimal(math.log((3.0 / 14.0) / ((5.0 / 21.0) * (4.0 / 21.0))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ny._4 === exp, s"pmi ${ny._4} vs hand $exp")
    // ranks are dense over the rounded score with the (l, r) tie-break
    assert(out.map(_.getInt(5)).sorted.toSeq === (1 to 5))
    // partition independence (one mergeable count agg, exact integers)
    val re = Text.collocations(docs.repartition(7), minCount = 2, topK = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4), r.getInt(5))).toMap
    assert(re === byBigram.view.mapValues(v => (v._1, v._4, v._5)).toMap)
  }

  test("collocations plan: serve reads the cached count store, TakeOrdered top-k, no sort-merge") {
    val df = Text.t22Collocations(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    // every serve branch (pairs, left unigrams, right unigrams, totals)
    // reads the session-cached vocabulary-sized count store — the
    // corpus tokenizes once, at store build. (The relation PRINTS its
    // build plan under each scan, so the parquet node appears in the
    // string; physically the blocks are read from cache.)
    val imts = "InMemoryTableScan".r.findAllIn(plan).size
    assert(imts >= 4, s"$imts InMemoryTableScans:\n${plan.take(3000)}")
  }
}
