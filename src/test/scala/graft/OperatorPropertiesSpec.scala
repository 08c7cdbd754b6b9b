package graft

import graft.operators.{Dedup, Relational, Text}
import org.apache.spark.sql.functions._

/** Randomized structural invariants for the round-10 operators — the
  * properties that must hold on ANY input, checked on seeded random
  * corpora (the saltedJoin/temporal-join discipline of
  * TemporalJoinPropertiesSpec applied to the new surface).
  */
class OperatorPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def rnd(seed: Int) = new scala.util.Random(seed)

  test("lineDedup: every distinct line survives exactly once, corpus-wide, on random data") {
    for (seed <- Seq(1, 7, 42)) {
      val r = rnd(seed)
      // small line alphabet forces heavy cross-doc repetition
      val lines = (0L until 80L).flatMap(d =>
        (0L until (1 + r.nextInt(6)).toLong).map(p => (d, p, s"line${r.nextInt(12)}")))
      val df = lines.toDF("doc_id", "line_no", "line")
      val out = Dedup.lineDedup(df).collect()
      // mass conservation per doc
      out.foreach(row =>
        assert(row.getLong(1) === row.getLong(2) + row.getLong(3), row.toString))
      // global uniqueness: total keeps == distinct lines in the corpus
      val distinctLines = lines.map(_._3).distinct.size
      assert(out.map(_.getLong(2)).sum === distinctLines.toLong, s"seed $seed")
      // and the winner is the true (doc, pos)-minimal occurrence
      val firsts = lines.groupBy(_._3).map { case (_, occ) => occ.minBy(t => (t._1, t._2)) }
      val keptPerDoc = firsts.groupBy(_._1).map { case (d, f) => d -> f.size.toLong }
      out.foreach(row =>
        assert(row.getLong(2) === keptPerDoc.getOrElse(row.getLong(0), 0L), row.toString))
    }
  }

  test("exactQuantiles: monotone in q, bounded by extrema, exact at q=0 and q=1, on random data") {
    for (seed <- Seq(2, 9)) {
      val r = rnd(seed)
      val rows = (0 until 400).map(_ => (s"g${r.nextInt(4)}", math.rint(r.nextDouble() * 10000) / 100))
      val df = rows.toDF("g", "v")
      val qs = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
      val out = Relational.exactQuantiles(df, "g", "v", qs).collect()
        .map(row => (row.getString(0), row.getDouble(1)) -> row.getDouble(2)).toMap
      val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      for ((g, vs) <- byG) {
        // exact endpoints
        assert(out((g, 0.0)) === vs.head, s"$g min")
        assert(out((g, 1.0)) === vs.last, s"$g max")
        // monotone and bounded
        val series = qs.map(q => out((g, q)))
        series.zip(series.tail).foreach { case (a, b) => assert(a <= b, s"$g: $series") }
        series.foreach(v => assert(v >= vs.head && v <= vs.last, s"$g: $v"))
      }
    }
  }

  test("zorderKey: z in [0, 2^32), deterministic, and monotone on the leading quadrant") {
    val r = rnd(5)
    val rows = (0L until 500L).map(_ => (r.nextInt(100000).toLong, r.nextInt(100000).toLong))
    val df = rows.toDF("x", "y")
    val z1 = Relational.zorderKey(df, "x", "y").collect()
      .map(row => (row.getLong(0), row.getLong(1)) -> row.getLong(2)).toMap
    z1.values.foreach(z => assert(z >= 0L && z < (1L << 32), z.toString))
    // content-determinism under repartitioning
    val z2 = Relational.zorderKey(df.repartition(7), "x", "y").collect()
      .map(row => (row.getLong(0), row.getLong(1)) -> row.getLong(2)).toMap
    assert(z1 === z2)
    // quadrant monotonicity: any point in the low-low quadrant of the
    // binned space sorts before any point in the high-high quadrant
    val (minX, maxX) = (rows.map(_._1).min, rows.map(_._1).max)
    val (minY, maxY) = (rows.map(_._2).min, rows.map(_._2).max)
    def half(v: Long, lo: Long, hi: Long) = (v - lo).toDouble / (hi - lo) < 0.5
    val lowLow = z1.filter { case ((x, y), _) => half(x, minX, maxX) && half(y, minY, maxY) }
    val highHigh = z1.filter { case ((x, y), _) => !half(x, minX, maxX) && !half(y, minY, maxY) }
    if (lowLow.nonEmpty && highHigh.nonEmpty)
      assert(lowLow.values.max < highHigh.values.min,
        s"${lowLow.values.max} !< ${highHigh.values.min}")
  }

  test("entropy: bounded by log2(distinct), zero iff constant, permutation-invariant") {
    for (seed <- Seq(3, 11)) {
      val r = rnd(seed)
      val texts = (0L until 60L).map { i =>
        val k = 1 + r.nextInt(6)
        val toks = (0 until (5 + r.nextInt(40))).map(_ => s"w${r.nextInt(k)}")
        (i, toks.mkString(" "), toks)
      }
      val out = Text.entropyStats(texts.map(t => (t._1, t._2)).toDF("doc_id", "text"))
        .collect().map(row => row.getLong(0) -> row.getDouble(3)).toMap
      for ((id, _, toks) <- texts) {
        val h = out(id)
        val distinct = toks.distinct.size
        assert(h >= 0.0 && h <= math.log(distinct.toDouble) / math.log(2.0) + 1e-9,
          s"doc $id: H=$h distinct=$distinct")
        if (distinct == 1) assert(h === 0.0)
      }
      // permutation invariance: shuffled tokens, same entropy
      val shuffled = texts.map(t => (t._1, r.shuffle(t._3).mkString(" ")))
      val out2 = Text.entropyStats(shuffled.toDF("doc_id", "text"))
        .collect().map(row => row.getLong(0) -> row.getDouble(3)).toMap
      assert(out2 === out, s"seed $seed")
    }
  }

  test("null values follow the SQL aggregate convention in quantiles and agg state") {
    val vals = Seq(("g", Some(1.0)), ("g", None), ("g", Some(3.0)))
      .toDF("g", "v")
    // median of {1, 3} is 2 — a null must NOT rank as the lowest value
    val med = Relational.exactQuantiles(vals, "g", "v", Seq(0.5))
      .collect().head.getDouble(2)
    assert(med === 2.0, s"median $med")
    // AVG over the non-null population: (1+3)/2, not (1+3)/3
    val roll = Relational.aggRollup(
      Relational.aggStates(vals, Seq("g"), "v"), Seq("g")).collect().head
    assert(roll.getLong(1) === 2L && roll.getDouble(5) === 2.0, roll.toString)
    // lineDedup: a null line never matches anything and is dropped —
    // a doc of ONLY null lines drops with it (md5(null) joins nothing)
    val ld = Dedup.lineDedup(
      Seq((1L, 0L, "x"), (2L, 0L, null.asInstanceOf[String]))
        .toDF("doc_id", "line_no", "line")).collect()
    assert(ld.map(_.getLong(0)).toSeq === Seq(1L))
    // entropy: null text yields null signals, empty text yields
    // n_tokens 0 with null entropies — never a crash, never a 0.0
    // masquerading as a real measurement
    val ent = Text.entropyStats(
      Seq((1L, "a b"), (2L, null.asInstanceOf[String]), (3L, ""))
        .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(ent(2L)._2.isEmpty && ent(3L)._2.isEmpty)
    assert(ent(1L)._2.nonEmpty)
  }

  test("keep-first dedup: a negative integral doc id is a loud domain error") {
    def message(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
        .mkString(" | ")
    val lines = Seq((-1L, 0L, "a"), (2L, 0L, "a")).toDF("doc_id", "line_no", "line")
    val ld = intercept[Exception](Dedup.lineDedup(lines).collect())
    assert(message(ld).contains("domain exceeded"), message(ld))
    val docs = Seq((-5, "one two three four five six seven eight nine"),
      (3, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    val sd = intercept[Exception](Dedup.substringDedup(docs).collect())
    assert(message(sd).contains("domain exceeded"), message(sd))
  }

  test("keep-first dedup: a null doc or pos is a loud named error on both key paths") {
    def message(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
        .mkString(" | ")
    def assertNullError(run: => Any, pair: String): Unit = {
      val e = intercept[Exception](run)
      assert(message(e).contains(s"keep-first null (doc, pos): (doc, pos) = $pair"), message(e))
    }
    // integral ids (the long key) and string ids (the struct key); the
    // null occurrence is the first of a shared line, so a silent drop
    // would lose the line everywhere
    val intLines = Seq[(Option[Long], Option[Long], String)]((Some(1L), Some(0L), "a"),
      (Some(2L), Some(0L), "a"), (None, Some(0L), "b"), (Some(3L), Some(0L), "b"))
      .toDF("doc_id", "line_no", "line")
    assertNullError(Dedup.lineDedup(intLines).collect(), "(NULL, 0)")
    val intPos = Seq[(Option[Long], Option[Long], String)]((Some(1L), None, "a"),
      (Some(2L), Some(0L), "a")).toDF("doc_id", "line_no", "line")
    assertNullError(Dedup.lineDedup(intPos).collect(), "(1, NULL)")
    val strLines = Seq[(String, Option[Long], String)](("b", Some(0L), "x"),
      (null, Some(0L), "y"), ("a", Some(0L), "y"), ("a", Some(1L), "z"))
      .toDF("doc_id", "line_no", "line")
    assertNullError(Dedup.lineDedup(strLines).collect(), "(NULL, 0)")
    val strPos = Seq[(String, Option[Long], String)](("a", None, "y"), ("b", Some(0L), "y"))
      .toDF("doc_id", "line_no", "line")
    assertNullError(Dedup.lineDedup(strPos).collect(), "(a, NULL)")
    val text = "one two three four five six seven eight nine"
    val intDocs = Seq[(Option[Long], String)]((None, text), (Some(3L), text)).toDF("doc_id", "text")
    assertNullError(Dedup.substringDedup(intDocs).collect(), "(NULL, 1)")
    val strDocs = Seq[(String, String)]((null, text), ("c", text)).toDF("doc_id", "text")
    assertNullError(Dedup.substringDedup(strDocs).collect(), "(NULL, 1)")
  }

  test("agg/sketch state: compaction order cannot change the rollup") {
    val r = rnd(13)
    val rows = (0 until 600).map(_ =>
      (s"g${r.nextInt(3)}", r.nextInt(5).toLong, r.nextInt(1000).toLong))
    val df = rows.toDF("g", "day", "v")
    val batches = rows.grouped(150).toSeq
    def fold(order: Seq[Seq[(String, Long, Long)]]) = {
      val folded = order.map(b =>
        Relational.aggStates(b.toDF("g", "day", "v"), Seq("g", "day"), "v"))
        .reduce((a, b) => Relational.aggCompact(a.unionByName(b), Seq("g", "day")))
      Relational.aggRollup(folded, Seq("g")).collect()
        .map(row => row.getString(0) -> row.toSeq.tail).toMap
    }
    assert(fold(batches) === fold(batches.reverse))
    assert(fold(batches) === fold(Seq(rows)))
  }

  test("groupingSetsSummary: each granularity equals its standalone groupBy, on random data") {
    for (seed <- Seq(4, 17)) {
      val r = rnd(seed)
      val rows = (0 until 500).map(_ =>
        (s"a${r.nextInt(4)}", s"b${r.nextInt(3)}", r.nextInt(10000) / 100.0))
      val df = rows.toDF("a", "b", "v")
      val out = Relational.groupingSetsSummary(df, "a", "b", "v").collect()
        .map(row => (row.getString(0), row.getString(1), row.getInt(2)) ->
          ((row.getLong(3), row.getDouble(4)))).toMap
      def exact(sel: ((String, String, Double)) => Boolean) = {
        val s = rows.filter(sel)
        (s.size.toLong,
          s.map(t => BigDecimal(t._3).setScale(2)).sum.toDouble)
      }
      // cross cells
      for (a <- rows.map(_._1).distinct; b <- rows.map(_._2).distinct
          if rows.exists(t => t._1 == a && t._2 == b))
        assert(out((a, b, 0)) === exact(t => t._1 == a && t._2 == b))
      // single-axis slices carry the (all) sentinel and the right gid bit
      for (a <- rows.map(_._1).distinct)
        assert(out((a, "(all)", 1)) === exact(_._1 == a))
      for (b <- rows.map(_._2).distinct)
        assert(out(("(all)", b, 2)) === exact(_._2 == b))
      // grand total
      assert(out(("(all)", "(all)", 3)) === exact(_ => true))
      // exactly the four granularities, no spurious rows
      assert(out.size ===
        rows.map(t => (t._1, t._2)).distinct.size +
          rows.map(_._1).distinct.size + rows.map(_._2).distinct.size + 1)
    }
  }

  test("gapIslands: runs match a driver reference on random sparse tick sets") {
    for (seed <- Seq(6, 23)) {
      val r = rnd(seed)
      // sparse ticks with duplicates: islands of every length arise
      val rows = (0 until 800).map(_ => (r.nextInt(20).toLong, r.nextInt(40).toLong))
      val out = Relational.gapIslands(rows.toDF("k", "tick"), "k", "tick")
        .collect().map(row => row.getLong(0) ->
          ((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)))).toMap
      val byK = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
      for ((k, ticks) <- byK) {
        // driver model: split the sorted distinct ticks at gaps > 1
        val runs = ticks.foldLeft(List.empty[List[Long]]) {
          case (acc, t) if acc.nonEmpty && t == acc.head.head + 1 =>
            (t :: acc.head) :: acc.tail
          case (acc, t) => List(t) :: acc
        }.map(_.size.toLong)
        assert(out(k) === ((ticks.size.toLong, runs.size.toLong, runs.max, ticks.head)), s"key $k")
      }
    }
  }

  test("mergeIntervals: merged spans are disjoint, ordered, and cover exactly the input") {
    for (seed <- Seq(8, 31)) {
      val r = rnd(seed)
      val rows = (0L until 600L).map { i =>
        val s = r.nextInt(1000).toLong
        (r.nextInt(12).toLong, i, s, s + 1 + r.nextInt(50).toLong)
      }
      val out = Relational.mergeIntervals(
        rows.toDF("k", "id", "s", "e"), "k", "s", "e", "id").collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
          row.getLong(3), row.getLong(4)))
      val byK = out.groupBy(_._1)
      for ((k, merged) <- byK) {
        val sorted = merged.sortBy(_._2)
        // island ids are 1..n and spans strictly separated by a gap
        assert(sorted.map(_._2).toSeq === (1L to sorted.size).toSeq)
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(b._3 > a._4, s"key $k: $a overlaps $b")
          case _ =>
        }
        // driver model: sweep the sorted intervals
        val ivs = rows.filter(_._1 == k).map(t => (t._3, t._4)).sortBy(identity)
        val model = ivs.tail.foldLeft(List(ivs.head)) { case (acc, (s, e)) =>
          if (s <= acc.head._2) (acc.head._1, math.max(acc.head._2, e)) :: acc.tail
          else (s, e) :: acc
        }.reverse
        assert(sorted.map(t => (t._3, t._4)).toSeq === model, s"key $k")
        // mass: every input row lands in exactly one merged span
        assert(sorted.map(_._5).sum === rows.count(_._1 == k))
      }
    }
  }

  test("iqrOutliers: fences and counts match a driver Tukey model, outliers cannot hide themselves") {
    for (seed <- Seq(5, 19)) {
      val r = rnd(seed)
      // a clean core plus planted extremes that a mean/stddev gate
      // would absorb into its own threshold
      val rows = (0 until 300).map(_ => ("g", 50.0 + r.nextInt(2000) / 100.0)) ++
        (0 until 8).map(i => ("g", 100000.0 + i)) ++
        (0 until 3).map(i => ("g", -50000.0 - i))
      val out = Relational.iqrOutliers(rows.toDF("g", "v"), "g", "v").collect().head
      def q7(vs: Seq[Double], q: Double): Double = {
        val s = vs.sorted
        val h = (s.size - 1) * q
        val lo = math.floor(h).toInt
        val hi = math.min(lo + 1, s.size - 1)
        BigDecimal(s(lo) + (h - lo) * (s(hi) - s(lo)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val vs = rows.map(_._2)
      val (q1, q3) = (q7(vs, 0.25), q7(vs, 0.75))
      val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
      assert(out.getDouble(1) === q1 && out.getDouble(2) === q3, out.toString)
      assert(out.getDouble(3) === lo && out.getDouble(4) === hi, out.toString)
      assert(out.getLong(5) === rows.size.toLong)
      assert(out.getLong(6) === vs.count(_ < lo).toLong, "n_low")
      assert(out.getLong(7) === vs.count(_ > hi).toLong, "n_high")
      // robustness: every planted extreme is flagged — the quartile
      // fences did not stretch to cover them
      assert(out.getLong(6) >= 3L && out.getLong(7) >= 8L, out.toString)
    }
  }

  test("funnel: stage times equal a driver sequential model, nulls cascade, on random journeys") {
    for (seed <- Seq(7, 29)) {
      val r = rnd(seed)
      val types = Seq("view", "click", "purchase", "noise")
      val rows = (0 until 1200).map(_ =>
        (r.nextInt(40).toLong, types(r.nextInt(types.size)), (1000 + r.nextInt(5000)).toLong))
      val out = Relational.funnel(rows.toDF("u", "t", "ts"), "u", "t", "ts",
        Seq("view", "click", "purchase")).collect()
        .map(row => row.getLong(0) -> ((Option(row.get(1)), Option(row.get(2)),
          Option(row.get(3)), row.getInt(4)))).toMap
      for ((u, evs) <- rows.groupBy(_._1)) {
        def firstAfter(t: String, after: Option[Long]): Option[Long] =
          after match {
            case None if t == "view" => evs.filter(_._2 == t).map(_._3).minOption
            case Some(a) => evs.filter(e => e._2 == t && e._3 > a).map(_._3).minOption
            case None => None
          }
        val v = firstAfter("view", None)
        val c = v.flatMap(a => firstAfter("click", Some(a)))
        val p = c.flatMap(a => firstAfter("purchase", Some(a)))
        val stage = Seq(v, c, p).count(_.isDefined)
        assert(out(u) === ((v, c, p, stage)), s"user $u")
      }
    }
  }

  test("groupHistogram: mass conserved, bins bounded, every value inside its bin") {
    for (seed <- Seq(14, 27)) {
      val r = rnd(seed)
      val rows = (0 until 500).map(_ => (s"g${r.nextInt(3)}", r.nextInt(10000) / 100.0)) ++
        Seq(("const", 7.0), ("const", 7.0), ("const", 7.0))
      val out = Relational.groupHistogram(rows.toDF("g", "v"), "g", "v", nBins = 16)
        .collect().map(row => (row.getString(0), row.getInt(1),
          row.getDouble(2), row.getDouble(3), row.getLong(4)))
      for ((g, vs) <- rows.groupBy(_._1).view.mapValues(_.map(_._2))) {
        val bins = out.filter(_._1 == g)
        assert(bins.map(_._5).sum === vs.size.toLong, s"$g mass")
        assert(bins.forall(b => b._2 >= 0 && b._2 < 16), s"$g bin range")
        // bin edges tile [min, max]: lo < hi except possibly a
        // constant group, and widths agree across bins
        if (vs.distinct.size > 1) {
          bins.foreach(b => assert(b._3 < b._4, s"$g: $b"))
          // every value's recomputed bin is represented
          val (mn, mx) = (vs.min, vs.max)
          vs.foreach { v =>
            val bin = math.min(math.floor((v - mn) * 16.0 / (mx - mn)).toInt, 15)
            assert(bins.exists(_._2 == bin), s"$g value $v bin $bin missing")
          }
        } else assert(bins.map(_._2).toSeq === Seq(0), s"$g constant group")
      }
    }
  }

  test("groupRegression: matches an exact driver model and survives large-mean cancellation") {
    val r = rnd(16)
    val rows = (0 until 400).map { _ =>
      val x = r.nextInt(10000) / 100.0
      (s"g${r.nextInt(3)}", x, math.rint((2.5 * x + 40 + r.nextGaussian() * 25) * 100) / 100)
    }
    val out = Relational.groupRegression(rows.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(row => row.getString(0) ->
        ((row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4)))).toMap
    for ((g, es) <- rows.groupBy(_._1)) {
      val n = es.size.toDouble
      val (xs, ys) = (es.map(_._2), es.map(_._3))
      val (mx, my) = (xs.sum / n, ys.sum / n)
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / n
      val vx = xs.map(x => (x - mx) * (x - mx)).sum / n
      val vy = ys.map(y => (y - my) * (y - my)).sum / n
      val (gn, gcov, gcorr, gbeta) = out(g)
      assert(gn === es.size.toLong)
      assert(math.abs(gcov - cov) < 2e-6, s"$g cov $gcov vs $cov")
      assert(math.abs(gcorr - cov / math.sqrt(vx * vy)) < 2e-6, s"$g corr")
      assert(math.abs(gbeta - cov / vx) < 2e-6, s"$g beta")
    }
    // the anchored fold's reason to exist: perfectly-correlated data
    // at mean 1e7 with centimeter spread — the raw sum-of-squares
    // form loses every significant digit here
    val big = (0 until 100).map(i => ("big", 1.0e7 + i / 100.0, 2.0 * (1.0e7 + i / 100.0) + 1.0))
    val b = Relational.groupRegression(big.toDF("g", "x", "y"), "g", "x", "y")
      .collect().head
    assert(b.getDouble(3) === 1.0, s"corr ${b.getDouble(3)}") // corr
    assert(math.abs(b.getDouble(4) - 2.0) < 1e-5, s"beta ${b.getDouble(4)}")
    assert(math.abs(b.getDouble(5) - 1.0) < 1e-2, s"alpha ${b.getDouble(5)}")
  }

  test("groupRegression/corrMatrix: deviations past the LONG product range fold exactly") {
    // about the anchor 5e7 the centi-unit deviations reach 5e9, whose
    // square overflows a long; the moments must still equal an exact
    // BigDecimal model
    val rows = Seq((0.0, 1.0e8), (1.0e8, 0.0), (30000000.01, 12345678.9))
    val df = rows.map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val xs = rows.map(r => BigDecimal(r._1))
    val ys = rows.map(r => BigDecimal(r._2))
    val n = BigDecimal(rows.size)
    def cov(a: Seq[BigDecimal], b: Seq[BigDecimal]) = {
      val (ma, mb) = (a.sum / n, b.sum / n)
      (a.zip(b).map { case (u, v) => (u - ma) * (v - mb) }.sum / n).toDouble
    }
    val (vx, vy, cxy) = (cov(xs, xs), cov(ys, ys), cov(xs, ys))
    // outputs round to 6 dp
    def near(got: Double, want: Double, what: String) =
      assert(math.abs(got - want) <= 5e-7 + 1e-12 * math.abs(want), s"$what: $got vs $want")
    val r = Relational.groupRegression(df, "g", "x", "y").collect().head
    assert(r.getLong(1) === 3L)
    near(r.getDouble(2), cxy, "cov")
    near(r.getDouble(3), cxy / math.sqrt(vx * vy), "corr")
    near(r.getDouble(4), cxy / vx, "beta")
    val cells = Relational.corrMatrix(df, "g", Seq("x", "y")).collect()
      .map(c => (c.getString(1), c.getString(2)) -> c.getDouble(4)).toMap
    near(cells(("x", "x")), vx, "var x")
    near(cells(("y", "y")), vy, "var y")
    near(cells(("x", "y")), cxy, "cov xy")
  }

  test("groupRegression/corrMatrix: a null group gets the row the same rows get under a key") {
    val r = rnd(23)
    val rows = (0 until 40).map(_ => (r.nextInt(10000) / 100.0, r.nextInt(10000) / 100.0))
    val df = (rows.map { case (x, y) => (Option.empty[String], x, y) } ++
      rows.map { case (x, y) => (Some("k"), x, y) }).toDF("g", "x", "y")
    def byGroup(out: org.apache.spark.sql.DataFrame, keyCols: Int): Map[Seq[Any], Seq[Any]] =
      out.collect().map(row => (Option(row.getString(0)) +: (1 until keyCols).map(row.get)) ->
        row.toSeq.drop(keyCols)).toMap
    val reg = byGroup(Relational.groupRegression(df, "g", "x", "y"), 1)
    assert(reg.keySet === Set(Seq(None), Seq(Some("k"))), "the null group must not vanish")
    assert(reg(Seq(None)) === reg(Seq(Some("k"))))
    val cm = byGroup(Relational.corrMatrix(df, "g", Seq("x", "y")), 3)
    assert(cm.size === 6)
    for ((g, cells) <- cm if g.head == None)
      assert(cells === cm(Some("k") +: g.tail), s"cell $g")
  }

  test("meltWide: wide -> long -> pivot-back is the identity, nulls preserved by default") {
    val r = rnd(22)
    val rows = (0L until 200L).map(i =>
      (i, if (i % 7 == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(r.nextInt(1000) / 10.0),
        java.lang.Double.valueOf(r.nextInt(1000) / 10.0)))
    val wide = rows.toDF("id", "a", "b")
    val long = Relational.meltWide(wide, Seq("id"), Seq("a", "b"))
    // every (id, metric) cell appears exactly once, including nulls
    assert(long.count() === 400L)
    val back = long.groupBy("id").pivot("metric", Seq("a", "b")).agg(first("value", ignoreNulls = false))
    val w0 = wide.collect().map(x => x.getLong(0) -> ((Option(x.get(1)), Option(x.get(2))))).toMap
    val w1 = back.collect().map(x => x.getLong(0) -> ((Option(x.get(1)), Option(x.get(2))))).toMap
    assert(w0 === w1)
  }

  test("densifyLocf: complete spine, exact carry-forward, null observations are gaps") {
    for (seed <- Seq(10, 25)) {
      val r = rnd(seed)
      // one row per (key, tick) — densifyLocf's documented contract
      // (the gate pre-aggregates; a duplicate tick would fan the
      // spine join out)
      val rows = (0 until 300).map { _ =>
        val v = if (r.nextInt(5) == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(r.nextInt(1000) / 10.0)
        (s"k${r.nextInt(6)}", r.nextInt(40).toLong, v)
      }.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      val out = Relational.densifyLocf(rows.toDF("k", "t", "v"), "k", "t", "v")
        .collect().map(row => (row.getString(0), row.getLong(1)) ->
          ((Option(row.get(2)).map(_.asInstanceOf[Double]), row.getBoolean(3))))
        .toMap
      for ((k, obs) <- rows.groupBy(_._1)) {
        val ticks = obs.map(_._2)
        val (lo, hi) = (ticks.min, ticks.max)
        // spine completeness: every tick in [lo, hi] present, none outside
        assert(out.keys.count(_._1 == k) === (hi - lo + 1).toInt, s"key $k spine")
        val byT = obs.map(o => o._2 -> Option(o._3).map(_.doubleValue)).toMap
        var carried: Option[Double] = None
        for (t <- lo to hi) {
          byT.get(t).flatten.foreach(v => carried = Some(v))
          val (gotV, gotFilled) = out((k, t))
          assert(gotV === carried, s"$k@$t")
          // a gap is a missing tick OR a null observation
          assert(gotFilled === byT.get(t).forall(_.isEmpty), s"$k@$t filled flag")
        }
      }
    }
  }

  test("weightedSample: equals the driver Efraimidis–Spirakis model and is partition-stable") {
    val r = rnd(12)
    val rows = (0L until 500L).map(i =>
      (i, s"g${r.nextInt(3)}", (1 + r.nextInt(4000)).toLong))
    val df = rows.toDF("id", "g", "w")
    val k = 15
    val out = Relational.weightedSample(df, "g", "id", "w", k).collect()
      .map(row => (row.getString(0), row.getInt(4)) -> row.getLong(1)).toMap
    // driver model with the identical md5-prefix u and key arithmetic
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, w: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 12)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 281474976710656.0
      math.max(w.toDouble, 1.0) / -math.log(u)
    }
    val model = rows.groupBy(_._2).view.mapValues(_.map(t => (t._1, key(t._1, t._3)))
      .sortBy { case (id, kk) => (-kk, id) }.take(k).map(_._1)).toMap
    for ((g, ids) <- model; (id, i) <- ids.zipWithIndex)
      assert(out((g, i + 1)) === id, s"group $g rank ${i + 1}")
    // content-determinism under repartitioning
    val out2 = Relational.weightedSample(df.repartition(7), "g", "id", "w", k)
      .collect().map(row => (row.getString(0), row.getInt(4)) -> row.getLong(1)).toMap
    assert(out2 === out)
  }

  test("cohortRetention equals the driver model on random activity") {
    for (seed <- Seq(3, 11)) {
      val r = rnd(seed)
      // 60 entities, sparse activity over 8 periods, repeated events
      val events = (0 until 600).map(_ => (r.nextInt(60).toLong, (2 + r.nextInt(8)).toLong))
      val df = events.toDF("u", "p")
      val out = Relational.cohortRetention(df, "u", "p").collect()
        .map(row => (row.getLong(0), row.getLong(1)) ->
          (row.getLong(2), row.getLong(3), row.getDouble(4))).toMap
      // driver model
      val weekly = events.distinct
      val cohort = weekly.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val matrix = weekly.groupBy { case (u, p) => (cohort(u), p - cohort(u)) }
        .view.mapValues(_.size.toLong).toMap
      assert(out.keySet === matrix.keySet, s"seed $seed")
      for (((c, off), (n, size, ret)) <- out) {
        assert(n === matrix((c, off)), s"seed $seed ($c,$off)")
        assert(size === matrix((c, 0L)), s"seed $seed cohort size $c")
        assert(ret === n.toDouble / size.toDouble, s"seed $seed retention")
      }
      // offset 0 is every cohort's own size: retention exactly 1.0
      out.collect { case ((_, 0L), (_, _, ret)) => ret }.foreach(v => assert(v === 1.0))
    }
  }

  test("equidepthHistogram equals the driver model; buckets partition values in order") {
    for (seed <- Seq(4, 13)) {
      val r = rnd(seed)
      // few distinct values force heavy ties (the case that breaks
      // row-rank formulations; value-rank must keep ties together)
      val rows = (0 until 500).map(_ => (s"g${r.nextInt(3)}", (r.nextInt(37) * 10).toDouble))
      val df = rows.toDF("g", "v")
      val b = 8
      val out = Relational.equidepthHistogram(df, "g", "v", b).collect()
        .map(row => (row.getString(0), row.getLong(1)) ->
          (row.getLong(2), row.getDouble(3), row.getDouble(4))).toMap
      val byG = rows.groupBy(_._1)
      // mass conservation and bucket-id bounds
      for ((g, rs) <- byG) {
        val mine = out.filter(_._1._1 == g)
        assert(mine.values.map(_._1).sum === rs.size.toLong, s"seed $seed $g mass")
        mine.keys.foreach { case (_, bk) => assert(bk >= 0 && bk < b, s"$g bucket $bk") }
        // buckets partition the distinct values in value order: each
        // bucket's hi strictly below the next bucket's lo
        val ordered = mine.toSeq.sortBy(_._1._2).map(_._2)
        ordered.foreach { case (_, lo, hi) => assert(lo <= hi) }
        ordered.zip(ordered.tail).foreach { case ((_, _, hi), (_, lo, _)) =>
          assert(hi < lo, s"seed $seed $g overlap") }
        // driver model: cum-before of the value histogram, integer bucket
        val hist = rs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
        val n = rs.size.toLong
        var cum = 0L
        val model = scala.collection.mutable.Map.empty[Long, (Long, Double, Double)]
        for ((v, c) <- hist) {
          val bk = cum * b / n
          model.updateWith(bk) {
            case None => Some((c, v, v))
            case Some((cc, lo, hi)) => Some((cc + c, math.min(lo, v), math.max(hi, v)))
          }
          cum += c
        }
        assert(mine.map { case ((_, bk), t) => bk -> t } === model.toMap, s"seed $seed $g")
      }
    }
  }

  test("rollingWindowStats equals the driver model on random sparse series") {
    for (seed <- Seq(8, 21)) {
      val r = rnd(seed)
      // sparse ticks so the RANGE frame holds a VARYING row count (the
      // property a ROWS frame would get wrong)
      val rows = (for (g <- 0 until 3; t <- 0 until 40 if r.nextDouble() < 0.5)
        yield (s"g$g", t.toLong, math.rint(r.nextDouble() * 1000) / 100)).toSeq
      val df = rows.toDF("g", "t", "v")
      val span = 7
      val out = Relational.rollingWindowStats(df, "g", "t", "v", span).collect()
        .map(row => (row.getString(0), row.getLong(1)) ->
          (row.getDouble(3), row.getLong(4), row.getDouble(5))).toMap
      assert(out.size === rows.size)
      for ((g, t, _) <- rows) {
        val frame = rows.filter(x => x._1 == g && x._2 <= t && x._2 > t - span)
        val sum = frame.map(x => BigDecimal(x._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        val n = frame.size.toLong
        val (os, on, oa) = out((g, t))
        assert(os === sum && on === n && oa === sum / n.toDouble, s"seed $seed ($g,$t)")
      }
    }
  }

  test("lastTouchAttribution equals the driver model; same-ts touches follow the id tiebreak") {
    for (seed <- Seq(5, 19)) {
      val r = rnd(seed)
      // duplicate timestamps on purpose: the (ts, id) tiebreak must decide
      val events = (0 until 400).map(i =>
        (r.nextInt(20).toLong, (r.nextInt(50) * 10).toLong, i.toLong,
          Seq("click", "purchase", "noise")(r.nextInt(3))))
      val df = events.toDF("u", "ts", "id", "kind")
      val out = Relational.lastTouchAttribution(df, "u", "ts", "id", "kind",
        "click", "purchase").collect()
        .map(row => row.getLong(1) -> Option(row.get(3)).map(_.asInstanceOf[Long])).toMap
      // driver model: scan each user's (ts, id)-sorted stream
      val model = scala.collection.mutable.Map.empty[Long, Option[Long]]
      for ((_, stream) <- events.groupBy(_._1)) {
        var lastClick: Option[Long] = None
        for ((_, _, id, kind) <- stream.sortBy(e => (e._2, e._3))) {
          if (kind == "purchase") model(id) = lastClick
          if (kind == "click") lastClick = Some(id)
        }
      }
      assert(out === model.toMap, s"seed $seed")
      // noise events may never take credit
      val clickIds = events.filter(_._4 == "click").map(_._3).toSet
      out.values.flatten.foreach(id => assert(clickIds.contains(id)))
    }
  }

  test("eventTransitions equals the driver model; mass = rows - entities") {
    for (seed <- Seq(12, 23)) {
      val r = rnd(seed)
      // duplicate timestamps on purpose: the (ts, id) tiebreak decides
      // pairing, and same-ts pairs must contribute 0-gap transitions
      val events = (0 until 500).map(i =>
        (r.nextInt(25).toLong, (r.nextInt(40) * 10).toLong, i.toLong,
          s"t${r.nextInt(4)}"))
      val df = events.toDF("u", "ts", "id", "kind")
      val out = Relational.eventTransitions(df, "u", "ts", "id", "kind").collect()
        .map(row => (row.getString(0), row.getString(1)) ->
          (row.getLong(2), row.getDouble(3), row.getDouble(4))).toMap
      // driver model over each entity's (ts, id)-sorted stream; the
      // exact fold is a BigInt (mirroring the DECIMAL(38,0) engine
      // fold that survives ns sums a Long cannot), served as double
      val model = scala.collection.mutable.Map.empty[(String, String), (Long, BigInt)]
      for ((_, stream) <- events.groupBy(_._1)) {
        val s = stream.sortBy(e => (e._2, e._3))
        s.zip(s.tail).foreach { case ((_, t1, _, k1), (_, t2, _, k2)) =>
          val (n, g) = model.getOrElse((k1, k2), (0L, BigInt(0)))
          model((k1, k2)) = (n + 1, g + (t2 - t1))
        }
      }
      assert(out.keySet === model.keySet, s"seed $seed")
      for (((f, t), (n, g, avg)) <- out) {
        val (mn, mg) = model((f, t))
        assert(n === mn && g === mg.toDouble, s"seed $seed ($f,$t)")
        assert(avg === mg.toDouble / n.toDouble, s"seed $seed avg")
      }
      // mass: every consecutive pair transitions exactly once
      val entities = events.map(_._1).distinct.size
      assert(out.values.map(_._1).sum === (events.size - entities).toLong, s"seed $seed")
    }
  }

  test("countMin: split states merge to the one-shot build; estimates never undercount") {
    import graft.operators.Relational
    val r = rnd(14)
    val rows = (0 until 600).map(_ => (s"g${r.nextInt(3)}", s"v${r.nextInt(30)}"))
    val df = rows.toDF("g", "v")
    def key(row: org.apache.spark.sql.Row) =
      (row.getString(0), row.getLong(1), row.getLong(2)) -> row.getLong(3)
    val oneShot = Relational.countMinStates(df, Seq("g"), "v", depth = 4, width = 32)
      .collect().map(key).toMap
    // LSM shape: two batch builds appended then compacted == one shot, EXACTLY
    val merged = Relational.countMinCompact(
      Relational.countMinStates(rows.take(300).toDF("g", "v"), Seq("g"), "v", 4, 32)
        .unionByName(
          Relational.countMinStates(rows.drop(300).toDF("g", "v"), Seq("g"), "v", 4, 32)),
      Seq("g")).collect().map(key).toMap
    assert(merged === oneShot)
    // the CM guarantee: estimate >= truth for EVERY seen (group, value)
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val states = Relational.countMinStates(df, Seq("g"), "v", 4, 32)
    val queries = rows.distinct.toDF("g", "v")
    val est = Relational.countMinEstimate(states, Seq("g"), queries, "v", 4, 32)
      .collect().map(r0 => (r0.getString(0), r0.getString(1)) -> r0.getLong(2)).toMap
    assert(est.keySet === truth.keySet)
    est.foreach { case (k, e) => assert(e >= truth(k), s"$k undercounted: $e < ${truth(k)}") }
    // collision-free width: estimates are EXACT (30 values, 4x4096
    // counters, fixed md5 buckets — deterministic for this corpus)
    val wide = Relational.countMinStates(df, Seq("g"), "v", 4, 4096)
    val estW = Relational.countMinEstimate(wide, Seq("g"), queries, "v", 4, 4096)
      .collect().map(r0 => (r0.getString(0), r0.getString(1)) -> r0.getLong(2)).toMap
    assert(estW === truth)
    // state size is bounded by construction, whatever the row volume
    assert(oneShot.size <= 3 * 4 * 32)
  }

  test("compactionBins equals the driver model; bins are contiguous key ranges") {
    for (seed <- Seq(6, 17)) {
      val r = rnd(seed)
      val target = 50L // cents target = 5000
      val files = (0 until 300).map(i =>
        (s"p${r.nextInt(3)}", i.toLong, math.rint(r.nextDouble() * 3000) / 100))
      val df = files.toDF("part", "f", "sz")
      val out = Relational.compactionBins(df, "part", "f", "sz", target).collect()
        .map(row => (row.getString(0), row.getLong(1)) ->
          (row.getLong(2), row.getDouble(3), row.getLong(4), row.getLong(5))).toMap
      for ((g, fs) <- files.groupBy(_._1)) {
        val mine = out.filter(_._1._1 == g).toSeq.sortBy(_._1._2)
        // mass conservation: every file lands in exactly one bin
        assert(mine.map(_._2._1).sum === fs.size.toLong, s"seed $seed $g")
        // bins tile the key space in order, no interleaving
        mine.map(_._2).zip(mine.map(_._2).tail).foreach { case ((_, _, _, last), (_, _, first, _)) =>
          assert(last < first, s"seed $seed $g ranges interleave") }
        // driver model: exact cents cumsum in key order
        val sorted = fs.sortBy(_._2)
        var cum = 0L
        val model = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
        for ((_, f, sz) <- sorted) {
          val cents = BigDecimal(sz).setScale(2, BigDecimal.RoundingMode.HALF_UP)
            .*(100).toLongExact
          val bk = cum / (target * 100)
          model.updateWith(bk) {
            case None => Some((1L, cents, f, f))
            case Some((nf, tot, lo, _)) => Some((nf + 1, tot + cents, lo, f))
          }
          cum += cents
        }
        val modelOut = model.view.mapValues { case (nf, tot, lo, hi) =>
          (nf, tot.toDouble / 100.0, lo, hi) }.toMap
        assert(mine.map { case ((_, bk), t) => bk -> t }.toMap === modelOut, s"seed $seed $g")
      }
    }
  }

  test("bottomK: state equals the driver model's k-smallest set on random multisets, any split") {
    import graft.functions.BottomKSketch
    import graft.operators.BottomKSample
    for (seed <- Seq(3, 11, 29)) {
      val r = rnd(seed)
      val k = 1 + r.nextInt(48) + 1 // 2..49
      // random multiset over a random-size alphabet: sometimes below k
      // (exact regime), sometimes far above (estimator regime)
      val alphabet = 1 + r.nextInt(200)
      val rows = (0 until 600).map(_ => ("g", s"v${r.nextInt(alphabet)}"))
      val df = rows.toDF("g", "key").repartition(1 + r.nextInt(7))
      val st = BottomKSample.bottomKStates(df, Seq("g"), "key", k = k)
        .collect().head.getAs[Array[Byte]]("sketch")
      val s = BottomKSketch.deserializeSummary(st)
      // driver model: the k smallest (hash60, key) pairs of the TRUE
      // distinct set — must equal the state exactly, not approximately
      val truth = rows.map(_._2).distinct
        .map(key => (BottomKSketch.hash60(key), key))
        .sorted.take(k)
      assert(s.pairs.toSeq === truth, s"seed $seed k=$k alphabet=$alphabet")
      // estimate: exact below k, the KMV integer formula at k
      val distinct = rows.map(_._2).distinct.size
      if (distinct < k) assert(s.distinctEstimate === distinct.toLong, s"seed $seed")
      else {
        val hk = truth.last._1
        assert(s.distinctEstimate ===
          (BigInt(k - 1) * BigInt(BottomKSketch.HashDomain) / BigInt(hk)).toLong,
          s"seed $seed")
      }
    }
  }
}
