package graft

/** The extensions entry point must inject graft_cosine through
  * spark.sql.extensions (set by GraftSession.builder) — the
  * zero-code-change path for SQL users. `newSession()` drops imperative
  * per-session registrations but re-applies injected extensions when its
  * SessionState builds, so resolving through a fresh derived session
  * proves the injection path specifically.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("extension-injected graft_cosine resolves in a fresh derived session") {
    val derived = spark.newSession()
    val row = derived.sql(
      "SELECT graft_cosine(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
      .collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
  }

  test("every graft expression resolves by SQL name in a derived session") {
    val derived = spark.newSession()
    val sh = derived.sql("SELECT graft_simhash('hello world again')").collect().head.getLong(0)
    assert(sh === derived.sql("SELECT graft_simhash('hello world again')").collect().head.getLong(0))
    val buckets = derived.sql(
      "SELECT graft_hyperplane_buckets(array(CAST(1.0 AS FLOAT), CAST(0.5 AS FLOAT)))")
      .collect().head.getSeq[Int](0)
    assert(buckets.length === graft.functions.HyperplaneBuckets.NumTables)
    val shingles = derived.sql(
      "SELECT graft_shingles_3(array('a','b','c','d'))")
      .collect().head.getSeq[String](0)
    assert(shingles === Seq("a b c", "b c d"))
    val fp = derived.sql("SELECT graft_fingerprint('hello world')").collect().head.getLong(0)
    assert(fp === derived.sql("SELECT graft_fingerprint('hello world')").collect().head.getLong(0))
    assert(fp !== derived.sql("SELECT graft_fingerprint('world hello')").collect().head.getLong(0))
    val nfc = derived.sql("SELECT graft_nfc('abc')").collect().head.getString(0)
    assert(nfc === "abc")
    val l2 = derived.sql(
      "SELECT graft_l2sq(array(CAST(0.0 AS FLOAT), CAST(3.0 AS FLOAT)), array(CAST(4.0 AS FLOAT), CAST(3.0 AS FLOAT)))")
      .collect().head.getDouble(0)
    assert(l2 === 16.0)
    val u = derived.sql(
      "SELECT graft_unit(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))")
      .collect().head.getSeq[Float](0)
    assert(math.abs(u(0) - 0.6f) < 1e-6 && math.abs(u(1) - 0.8f) < 1e-6)
    // 2-dim vector, m=1, one centroid equal to the vector: code 0, ADC 0
    val codes = derived.sql(
      "SELECT graft_pq_encode(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), 1)")
      .collect().head.getSeq[Int](0)
    assert(codes === Seq(0))
    val adc = derived.sql(
      "SELECT graft_pq_adc(array(0), array(CAST(0.25 AS FLOAT)))")
      .collect().head.getDouble(0)
    assert(math.abs(adc - 0.25) < 1e-7)
    // 7 tokens, w=4, window=4: exactly one selected fingerprint, and it
    // equals the house md5-prefix hash of one of the four 4-grams
    val wn = derived.sql(
      "SELECT graft_winnow('a b c d e f g', 4, 4)").collect().head.getSeq[Long](0)
    val gramHashes = derived.sql(
      """SELECT transform(array('a b c d', 'b c d e', 'c d e f', 'd e f g'),
        |  g -> CAST(conv(substr(md5(CAST(g AS BINARY)), 1, 8), 16, 10) AS BIGINT))""".stripMargin)
      .collect().head.getSeq[Long](0)
    assert(wn === Seq(gramHashes.min))
    // r10 injections: fast round, minhash signature, SQ8 pair, entropy
    val rr = derived.sql("SELECT graft_round(CAST(1.2345675 AS DOUBLE), 6)").collect().head.getDouble(0)
    assert(rr === 1.234568)
    val mh = derived.sql("SELECT graft_minhash64(array('a b c'))").collect().head.getSeq[Long](0)
    assert(mh.length === 64)
    val sq = derived.sql(
      "SELECT graft_sq8_dot(graft_sq8_encode(graft_unit(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))), graft_unit(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))))")
      .collect().head.getDouble(0)
    assert(math.abs(sq - 1.0) < 0.01, sq.toString)
    val ent = derived.sql("SELECT graft_entropy(array('a','b','a','b'))").collect().head.getDouble(0)
    assert(ent === 1.0)
    // r11 injection: the DCT perceptual hash (known vector pins the
    // whole resample->DCT->median-split pipeline through SQL)
    val ph = derived.sql(
      "SELECT graft_dct_phash(CAST('the quick brown fox jumps over the lazy dog' AS BINARY))")
      .collect().head.getLong(0)
    assert(ph === 381241804075191743L)
  }

  test("wrong-arity SQL calls fail with a clear argument-count message") {
    val derived = spark.newSession()
    // every builder pattern-matches arity (the r7 advisor flagged the
    // IndexOutOfBoundsException surfacing from inside analyzer
    // resolution for l2sq/pq_adc/unit)
    for ((sql, fn) <- Seq(
        ("SELECT graft_cosine(array(CAST(1.0 AS FLOAT)))", "graft_cosine"),
        ("SELECT graft_l2sq(array(CAST(1.0 AS FLOAT)))", "graft_l2sq"),
        ("SELECT graft_pq_adc(array(0))", "graft_pq_adc"),
        ("SELECT graft_unit()", "graft_unit"),
        ("SELECT graft_pq_encode(array(CAST(1.0 AS FLOAT)), 1)", "graft_pq_encode"),
        ("SELECT graft_bloom_agg(xxhash64('a'))", "graft_bloom_agg"),
        ("SELECT graft_might_contain(xxhash64('a'))", "graft_might_contain"))) {
      val e = intercept[Exception](derived.sql(sql).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("argument")), s"$fn: ${msgs(e).mkString(" | ")}")
      assert(!e.isInstanceOf[IndexOutOfBoundsException], fn)
    }
  }

  test("every function-table entry is injected: its name resolves in a derived session") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.size === 44 && names.distinct.size === names.size, names.mkString(", "))
    val derived = spark.newSession()
    val missing = names.filterNot(n => derived.catalog.functionExists(n))
    assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
  }

  test("every function-table entry refuses one argument too many with an argument-count message") {
    val derived = spark.newSession()
    for (f <- GraftExtensions.functions) {
      val nulls = Seq.fill(f.arities.max + 1)("NULL").mkString(", ")
      val e = intercept[Exception](derived.sql(s"SELECT ${f.name}($nulls)").collect())
      val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => Option(t.getMessage).exists(_.contains("argument"))),
        s"${f.name}: ${chain.map(_.getMessage).mkString(" | ")}")
      assert(!chain.exists(t => t.isInstanceOf[IndexOutOfBoundsException] ||
        t.isInstanceOf[NoSuchElementException]), f.name)
    }
  }

  test("every function-table entry refuses a wrong-typed argument with a type mismatch, never an internal error") {
    val derived = spark.newSession()
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    for (f <- GraftExtensions.functions; n <- f.arities) {
      val call = s"${f.name}(${Seq.fill(n)("named_struct('x', 1)").mkString(", ")})"
      val msgs = scala.util.Try(derived.sql(s"SELECT $call").collect()).failed
        .map(chain).getOrElse(fail(s"$call did not fail"))
      val all = msgs.mkString(" | ")
      assert(!msgs.exists(m => m.contains("INTERNAL_ERROR") || m.contains("unresolved operator")),
        s"$call: $all")
      assert(msgs.exists(m => m.contains("DATATYPE_MISMATCH") || m.contains("foldable") ||
        m.contains("literal")), s"$call: $all")
    }
  }

  test("a typed NULL of each declared input type, and a bare NULL, evaluates to NULL") {
    val derived = spark.newSession()
    for (sql <- Seq(
        // Spark types an untyped NULL literal as the declared input type
        "graft_simhash(NULL)",
        "graft_media_width(NULL)",
        "graft_simhash(CAST(NULL AS STRING))",
        "graft_minhash64(CAST(NULL AS ARRAY<STRING>))",
        "graft_unit(CAST(NULL AS ARRAY<FLOAT>))",
        "graft_sq8_dot(CAST(NULL AS BINARY), array(CAST(1.0 AS FLOAT)))",
        "graft_pq_adc(CAST(NULL AS ARRAY<INT>), array(CAST(1.0 AS FLOAT)))",
        "graft_dct_phash(CAST(NULL AS BINARY))",
        "graft_media_width(CAST(NULL AS BINARY))",
        "graft_av_format(CAST(NULL AS BINARY))",
        "graft_round(CAST(NULL AS DOUBLE), 6)"))
      assert(derived.sql(s"SELECT $sql").collect().head.isNullAt(0), sql)
  }

  test("the bloom sketch SQL pair builds and probes through a scalar subquery") {
    val derived = spark.newSession()
    derived.sql("SELECT explode(sequence(1, 100)) AS v")
      .createOrReplaceTempView("bloom_members")
    // every member hits (blooms have no false negatives)
    val hits = derived.sql(
      """SELECT count(*) FROM bloom_members
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(v), 100, 4096) FROM bloom_members),
        |  xxhash64(v))""".stripMargin).collect().head.getLong(0)
    assert(hits === 100L)
    // non-members false-hit within the sketch's budget (4096 bits for
    // 100 items is far below 1% fpp; allow a loose 2%)
    val falseHits = derived.sql(
      """SELECT count(*) FROM (SELECT explode(sequence(10000, 10999)) AS v)
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(v), 100, 4096) FROM bloom_members),
        |  xxhash64(v))""".stripMargin).collect().head.getLong(0)
    assert(falseHits <= 20L, s"false hits: $falseHits of 1000")
  }

  test("GK quantile sketch family works end-to-end through pure SQL in a derived session") {
    val derived = spark.newSession()
    derived.sql("SELECT explode(sequence(1, 1000)) AS v")
      .createOrReplaceTempView("gk_vals")
    // build per-half states, merge them, serve the median — all SQL
    val served = derived.sql(
      """WITH halves AS (
        |  SELECT v % 2 AS half, graft_gk_agg(CAST(v AS DOUBLE), 0.01) AS st
        |  FROM gk_vals GROUP BY 1
        |), merged AS (
        |  SELECT graft_gk_merge(st) AS st FROM halves
        |)
        |SELECT graft_gk_quantiles(st, array(0.5))[0] FROM merged""".stripMargin)
      .collect().head.getDouble(0)
    // deterministic GK bound: rank within 1000*0.01 = 10 of 500
    assert(math.abs(served - 500.0) <= 11.0, s"median served $served")
    // a non-foldable relativeError is a clear error, not a misparse
    val err = intercept[Exception] {
      derived.sql("SELECT graft_gk_agg(CAST(v AS DOUBLE), CAST(v AS DOUBLE)) FROM gk_vals")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable")
      || err.getMessage.toLowerCase.contains("literal"), err.getMessage.take(300))
  }

  test("bottom-k KMV family works end-to-end through pure SQL in a derived session") {
    val derived = spark.newSession()
    derived.sql(
      "SELECT concat('u', v) AS key FROM (SELECT explode(sequence(1, 500)) AS v)")
      .createOrReplaceTempView("bk_vals")
    // build per-shard states, merge, serve estimate + sample — all SQL
    val row = derived.sql(
      """WITH shards AS (
        |  SELECT length(key) % 3 AS shard, graft_bk_agg(key, 64) AS st
        |  FROM bk_vals GROUP BY 1
        |), merged AS (
        |  SELECT graft_bk_merge(st) AS st FROM shards
        |)
        |SELECT graft_bk_distinct(st) AS est,
        |       size(graft_bk_sample(st, 16)) AS m FROM merged""".stripMargin)
      .collect().head
    // 500 distinct at k=64: KMV envelope (stderr ~13%; allow 4 sigma)
    assert(math.abs(row.getLong(0) / 500.0 - 1.0) < 0.52, s"est ${row.getLong(0)}")
    assert(row.getInt(1) === 16)
    // overlap of a domain with itself is exactly 1 through pure SQL
    val self = derived.sql(
      """SELECT graft_bk_overlap(st, st).jaccard_est
        |FROM (SELECT graft_bk_agg(key, 64) AS st FROM bk_vals)""".stripMargin)
      .collect().head.getDouble(0)
    assert(self === 1.0)
    // contract surfaces through SQL too: k < 2 is a clear error
    val err = intercept[Exception] {
      derived.sql("SELECT graft_bk_agg(key, 1) FROM bk_vals").collect()
    }
    assert(err.getMessage.contains(">= 2"), err.getMessage.take(300))
  }

  test("graft_l2sq returns NULL on a dimension mismatch, never a prefix distance") {
    val derived = spark.newSession()
    val row = derived.sql(
      "SELECT graft_l2sq(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
      .collect().head
    assert(row.isNullAt(0))
  }
}
