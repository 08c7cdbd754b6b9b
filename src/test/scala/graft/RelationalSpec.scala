package graft

import graft.operators.Relational

/** Plan-shape assertions for the relational operators: the properties
  * that matter at 100 TB (pushdown, pruning, broadcast, no cartesian),
  * checked against the executed plan rather than trusted from scaladoc.
  */
class RelationalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame) = {
    val qe = df.queryExecution
    qe.executedPlan
  }

  test("q03 pushes filters and prunes columns at the parquet scan") {
    val plan = executedPlan(Relational.q03FilterProject(spark, sf)).toString
    // predicate pushdown reaches the data source
    assert(plan.contains("PushedFilters: ") && plan.contains("GreaterThan(l_quantity"), plan)
    // projection pruning: the read schema carries only referenced columns
    assert(plan.contains("ReadSchema: struct<l_orderkey"), plan)
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_discount"), plan)
  }

  test("q02 broadcasts the small dimensions, never the fact side") {
    val plan = executedPlan(Relational.q02JoinMultiway(spark, sf)).toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.toLowerCase.contains("cartesian"))
  }

  test("q13 sessionization uses a single user_id exchange for both windows") {
    val plan = executedPlan(Relational.q13Sessionize(spark, sf))
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one shuffle for the user_id windows + aggregation, one for the
    // final presentation orderBy (range partitioning) — nothing else
    assert(exchanges.size <= 2, s"${exchanges.size} exchanges:\n$plan")
  }

  test("q18 sketch estimates stay within error bounds of the exact answers") {
    import org.apache.spark.sql.functions._
    val approx = Relational.q18ApproxStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("users"),
        expr("percentile(value, 0.45)").as("p50_lo"),
        expr("percentile(value, 0.55)").as("p50_hi"),
        expr("percentile(value, 0.92)").as("p95_lo"),
        expr("percentile(value, 0.98)").as("p95_hi"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet === exact.keySet && approx.nonEmpty)
    exact.foreach { case (et, ex) =>
      val ap = approx(et)
      val users = ex.getAs[Long]("users").toDouble
      // HLL++ default rsd 5%: allow 3 sigma (and ±1 at tiny cardinalities)
      assert(math.abs(ap.getAs[Long]("approx_users") - users) <= math.max(1.0, 0.15 * users), et)
      // rank-based bound: a quantile sketch returns an actual data value,
      // so assert it falls inside a small rank neighborhood of the target
      // (value-distance bounds would measure data sparsity, not error)
      assert(ap.getAs[Double]("p50_value") >= ex.getAs[Double]("p50_lo") - 0.01 &&
        ap.getAs[Double]("p50_value") <= ex.getAs[Double]("p50_hi") + 0.01, et)
      assert(ap.getAs[Double]("p95_value") >= ex.getAs[Double]("p95_lo") - 0.01 &&
        ap.getAs[Double]("p95_value") <= ex.getAs[Double]("p95_hi") + 0.01, et)
    }
  }

  test("generic asofJoin reproduces q16 on the events table") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"), col("event_id"))
    val generic = Relational.asofJoin(purchases, touches, "user_id", "ts")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("right_event_id").as("touch_id"))
      .orderBy("purchase_id")
      .collect().map(_.toSeq).toSeq
    val specialized = Relational.q16AsofJoin(spark, sf).collect().map(_.toSeq).toSeq
    assert(generic === specialized)
  }

  test("generic rangeJoinCount reproduces q17 on the events table") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"))
    val generic = Relational.rangeJoinCount(
      purchases, touches, "user_id", "ts", 1800L * 1000000000L, "n_touches")
      .select("purchase_id", "user_id", "n_touches")
      .orderBy("purchase_id")
      .collect().map(_.toSeq).toSeq
    val specialized = Relational.q17RangeJoin(spark, sf).collect().map(_.toSeq).toSeq
    assert(generic === specialized)
  }

  test("q09 returns non-empty anti-join results at the oracle scale factor") {
    // sf0.01 is where the driver's correctness gate runs
    assert(Relational.q09AntiSemiJoin(spark, "/root/testdata/sf0.01").limit(1).count() === 1L)
  }

  test("zscoreNormalize matches the hand model and zero-variance groups yield 0.0") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 5.0), (5L, "b", 5.0)).toDF("id", "g", "v")
    val out = Relational.zscoreNormalize(df, "id", "g", "v")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // group a: mean 2, population sd sqrt(2/3); minmax over [1,3]
    assert(out(1L) === (-1.224745, 0.0))
    assert(out(2L) === (0.0, 0.5))
    assert(out(3L) === (1.224745, 1.0))
    // constant group: z and minmax both 0.0 by definition, never NaN
    assert(out(4L) === (0.0, 0.0) && out(5L) === (0.0, 0.0))
    // partitioning cannot change the folded moments
    val re = Relational.zscoreNormalize(df.repartition(5), "id", "g", "v")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(re === out)
  }

  test("zscoreNormalize counts values, not rows: a null value leaves its group's z-scores as without it") {
    import spark.implicits._
    val df = Seq((1L, "a", Some(1.0)), (2L, "a", Some(3.0)), (3L, "a", None))
      .toDF("id", "g", "v")
    val out = Relational.zscoreNormalize(df, "id", "g", "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    // group a without the null row: mean 2, population sd 1
    assert((out(1L).getDouble(2), out(2L).getDouble(2)) === ((-1.0, 1.0)))
    assert((out(1L).getDouble(3), out(2L).getDouble(3)) === ((0.0, 1.0)))
    // the null-value row is kept, unscored
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(3L).isNullAt(2) && out(3L).isNullAt(3), out(3L).toString)
    val stats = Relational.normalizationStats(df, "g", "v").collect()
    assert(stats.map(_.getAs[Long]("n")).toSeq === Seq(2L))
  }

  test("zscoreNormalize keeps a null group's rows and scores them as under any other key") {
    import spark.implicits._
    val rows = Seq((1L, 1.0), (2L, 3.0), (3L, 4.0))
    val df = (rows.map { case (id, v) => (id, Option.empty[String], v) } ++
      rows.map { case (id, v) => (id + 10, Some("k"), v) }).toDF("id", "g", "v")
    val out = Relational.zscoreNormalize(df, "id", "g", "v")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.size === 6, "null-group rows must not vanish")
    rows.foreach { case (id, _) => assert(out(id) === out(id + 10), s"id $id") }
  }

  /** `rows` (id, ts, value) twice: under a null group with their ids,
    * and under group `k` with ids + 100.
    */
  private def twinGroups(rows: Seq[(Long, Long, Double)]) = {
    import spark.implicits._
    (rows.map { case (id, ts, v) => (id, Option.empty[String], ts, v) } ++
      rows.map { case (id, ts, v) => (id + 100, Some("k"), ts, v) }).toDF("id", "g", "ts", "v")
  }
  private val skewed = Seq(1.0, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0, 6.0, 40.0).zipWithIndex
    .map { case (v, i) => (i.toLong + 1, i.toLong * 10, v) }

  /** Output rows keyed by group, the group itself dropped. */
  private def byGroup(df: org.apache.spark.sql.DataFrame, group: String) =
    df.collect().toSeq.groupBy(r => Option(r.getAs[String](group)))
      .map { case (g, rs) => g -> rs.map(r => r.toSeq.patch(r.fieldIndex(group), Nil, 1).toString).sorted }

  test("iqrOutliers keeps a null group and fences it as under any other key") {
    val out = byGroup(Relational.iqrOutliers(twinGroups(skewed), "g", "v"), "group")
    assert(out.keySet === Set(None, Some("k")), "the null group must not vanish")
    assert(out(None) === out(Some("k")))
  }

  test("winsorize keeps a null group's rows and clamps them as under any other key") {
    val out = Relational.winsorize(twinGroups(skewed), "g", "id", "v", 0.1, 0.9)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out.size === 2 * skewed.size, "null-group rows must not vanish")
    skewed.foreach { case (id, _, _) =>
      assert(out(id).toSeq.drop(2) === out(id + 100).toSeq.drop(2), s"id $id")
    }
  }

  test("madRobustZ keeps a null group's rows and scores them as under any other key") {
    val out = Relational.madRobustZ(twinGroups(skewed), "g", "id", "v")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out.size === 2 * skewed.size, "null-group rows must not vanish")
    skewed.foreach { case (id, _, _) =>
      assert(out(id).toSeq.drop(2) === out(id + 100).toSeq.drop(2), s"id $id")
    }
  }

  test("psiDrift keeps a null group and bins it against its own reference edges") {
    val out = byGroup(Relational.psiDrift(twinGroups(skewed), "g", "v", "ts", bins = 4), "g")
    assert(out.keySet === Set(None, Some("k")), "the null group must not vanish")
    assert(out(None) === out(Some("k")))
  }

  test("binCounts keeps a null group and counts it against its own edges") {
    val df = twinGroups(skewed)
    val edges = Relational.referenceEdges(df, "g", "v", bins = 4)
    val out = byGroup(Relational.binCounts(df, "g", "v", edges), "g")
    assert(out.keySet === Set(None, Some("k")), "the null group must not vanish")
    assert(out(None) === out(Some("k")))
  }

  test("zscoreNormalize survives large mean with tiny spread (no cancellation)") {
    import spark.implicits._
    // mean ~1e9, sd 0.01: the one-pass s2/n − mean² form loses the
    // variance entirely here (both terms ~1e18, their true difference
    // 1e-4 — far below a double's ulp at that magnitude); the anchored
    // two-pass fold must recover z = ±1 to ~1e-4
    val df = Seq((1L, "g", 1000000000.00), (2L, "g", 1000000000.02))
      .toDF("id", "g", "v")
    val out = Relational.zscoreNormalize(df, "id", "g", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(out(1L) + 1.0) < 1e-4, s"z=${out(1L)}, want ~ -1")
    assert(math.abs(out(2L) - 1.0) < 1e-4, s"z=${out(2L)}, want ~ +1")
  }

  test("exactQuantiles matches the hand model, the built-in percentile, and is partition-independent") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0),
      ("b", 10.0), ("b", 20.0), ("b", 30.0), ("b", 40.0)).toDF("g", "v")
    val out = Relational.exactQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // type-7: h=(n-1)q; a has n=5 → p25 at h=1 exactly, p90 at h=3.6
    assert(out(("a", 0.25)) === 2.0)
    assert(out(("a", 0.5)) === 3.0)
    assert(out(("a", 0.9)) === 4.0 + 0.6 * 1.0)
    // b has n=4 → p50 at h=1.5 interpolates 20..30
    assert(out(("b", 0.5)) === 25.0)
    // agrees with Spark's own exact percentile (same type-7 definition)
    val builtin = df.groupBy("g")
      .agg(org.apache.spark.sql.functions.expr("percentile(v, array(0.25, 0.5, 0.9))").as("p"))
      .collect().flatMap { r =>
        r.getSeq[Double](1).zip(Seq(0.25, 0.5, 0.9)).map { case (x, q) => (r.getString(0), q) -> x }
      }.toMap
    for ((k, x) <- builtin) assert(math.abs(out(k) - x) < 1e-9, s"$k: ${out(k)} vs $x")
    // partitioning cannot change an exact quantile
    val re = Relational.exactQuantiles(df.repartition(7), "g", "v", Seq(0.25, 0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(re === out)
    // single-value group: every quantile is that value
    val one = Relational.exactQuantiles(Seq(("c", 7.0)).toDF("g", "v"), "g", "v", Seq(0.0, 0.5, 1.0))
      .collect().map(_.getDouble(2))
    assert(one.toSeq === Seq(7.0, 7.0, 7.0))
  }

  test("zorderBy partitions cover compact rectangles of BOTH columns; lexicographic leaves col2 full-range") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a full 256x256 uniform grid — every (x, y) cell once
    val df = spark.range(0, 65536).select(
      (col("id") / 256).cast("long").as("x"),
      pmod(col("id"), lit(256)).as("y"))
    def spans(laid: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rows = laid.select(spark_partition_id().as("p"), col("x"), col("y"))
        .groupBy("p").agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .collect()
      (rows.map(_.getLong(1)).sum.toDouble / rows.length,
        rows.map(_.getLong(2)).sum.toDouble / rows.length)
    }
    // 16 z-partitions over a 256x256 space = Morton quadrant blocks:
    // BOTH spans sit near 64-128, far under the 255 full range
    val (zx, zy) = spans(Relational.zorderBy(df, "x", "y", numFiles = 16))
    info(s"z-order spans: x $zx, y $zy")
    assert(zx <= 130 && zy <= 130, s"z-order spans x=$zx y=$zy")
    // the lexicographic layout prunes x but leaves y full-range in
    // EVERY file — the failure mode z-ordering exists to fix
    val lex = df.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions("x", "y")
    val (lx, ly) = spans(lex)
    info(s"lexicographic spans: x $lx, y $ly")
    assert(lx <= 32, s"lex x span $lx")
    assert(ly >= 200, s"lex y span $ly — expected full-range")
    // and the key itself is a pure projection: no data moved to make it
    assert(Relational.zorderKey(df, "x", "y").count() === 65536L)
  }

  test("exact agg states: append + compact at any depth equals the direct aggregate bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(3)
    val batches = (0 until 4).map(_ =>
      (0 until 500).map(_ => (s"g${rnd.nextInt(3)}", rnd.nextInt(10).toLong, rnd.nextDouble() * 100)))
    def states(rows: Seq[(String, Long, Double)]) =
      Relational.aggStates(rows.toDF("g", "day", "v"), Seq("g", "day"), "v")
    // fold: append each batch's states, compact after every append
    val folded = batches.tail.foldLeft(states(batches.head)) { (acc, b) =>
      Relational.aggCompact(acc.unionByName(states(b)), Seq("g", "day"))
    }
    val fromState = Relational.aggRollup(folded, Seq("g"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    // direct single-shot aggregation of everything
    val direct = Relational.aggRollup(
      Relational.aggStates(batches.flatten.toDF("g", "day", "v"), Seq("g", "day"), "v"),
      Seq("g"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(fromState === direct)
    // and the serve-time mean really is the exact mean
    val exactAvg = batches.flatten.groupBy(_._1).map { case (g, rs) =>
      g -> BigDecimal(rs.map(t => BigDecimal(t._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / rs.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for ((g, want) <- exactAvg)
      assert(fromState(g).last === want, s"$g: ${fromState(g).last} vs $want")
  }

  test("HLL sketch states roll up to accurate estimates without re-touching data") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf)
    val exact = e.groupBy("event_type").agg(countDistinct("user_id").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val states = Relational.sketchStates(
      e.withColumn("day", (col("ts") / lit(86400L * 1000000000L)).cast("long")),
      Seq("event_type", "day"), "user_id")
    val rolled = Relational.sketchRollup(states, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled.keySet === exact.keySet)
    // HLL lgK default 12: rsd ~1.6%; allow 5% + slack at tiny counts
    for ((k, d) <- exact)
      assert(math.abs(rolled(k) - d) <= math.max(2.0, 0.05 * d),
        s"$k: est ${rolled(k)} vs exact $d")
    // state-table row count: one state per (event_type, day)
    assert(states.count() ===
      e.select(col("event_type"), (col("ts") / lit(86400L * 1000000000L)).cast("long"))
        .distinct().count())
    // rollup-from-state tracks the direct single-shot sketch closely
    // (the HIP estimator is not merge-invariant, so allow a small gap)
    val direct = Relational.sketchStates(e, Seq("event_type"), "user_id")
    val directEst = Relational.sketchRollup(direct, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, d) <- directEst)
      assert(math.abs(rolled(k) - d) <= math.max(2.0, 0.05 * d),
        s"$k: rolled ${rolled(k)} vs direct $d")
    // partitioning cannot change the state table's estimates
    val re = Relational.sketchRollup(
      Relational.sketchStates(
        e.repartition(13).withColumn("day", (col("ts") / lit(86400L * 1000000000L)).cast("long")),
        Seq("event_type", "day"), "user_id"),
      Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(re === rolled)
  }

  test("fkIntegrity counts orphans, null keys, and distinct keys exactly") {
    import spark.implicits._
    val child = Seq(Option(1L), Option(1L), Option(2L), Option(3L), None, None)
      .toDF("fk")
    val parent = Seq(1L, 2L).toDF("pk")
    val row = Relational.fkIntegrity("child.fk->parent", child, "fk", parent, "pk")
      .collect().head
    assert(row.getString(0) === "child.fk->parent")
    assert(row.getLong(1) === 6L) // n_child
    assert(row.getLong(2) === 2L) // n_null_keys
    assert(row.getLong(3) === 3L) // n_distinct_keys (nulls excluded)
    assert(row.getLong(4) === 1L) // n_orphan_rows (the single key-3 row)
    assert(row.getLong(5) === 1L) // n_orphan_keys
    // an empty child reports all-zero, never an empty frame
    val empty = Relational.fkIntegrity("e", child.filter($"fk" > 99), "fk", parent, "pk")
      .collect().head
    assert((1 to 5).map(empty.getLong) === Seq(0L, 0L, 0L, 0L, 0L))
    // an empty parent makes every non-null child key an orphan
    val noParent = Relational.fkIntegrity("n", child, "fk", parent.filter($"pk" > 99), "pk")
      .collect().head
    assert(noParent.getLong(4) === 4L && noParent.getLong(5) === 3L)
  }

  test("snapshotDiff classifies added/removed/changed with null-safe compares") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, Option("A"), Option(1.0)),   // only in old -> removed
      (2L, Option("B"), Option(2.0)),   // identical -> dropped
      (3L, Option("C"), Option.empty[Double]), // null -> value = changed
      (4L, Option("D"), Option(4.0)))   // status differs -> changed
      .toDF("k", "status", "price")
    val newSnap = Seq(
      (2L, Option("B"), Option(2.0)),
      (3L, Option("C"), Option(3.0)),
      (4L, Option("E"), Option(4.0)),
      (5L, Option("F"), Option(5.0)))   // only in new -> added
      .toDF("k", "status", "price")
    val rows = Relational.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("status", "price"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "removed", 3L -> "changed", 4L -> "changed", 5L -> "added"))
    // absent-side columns are null on added/removed rows
    val byKey = Relational.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("status", "price"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(byKey(5L).isNullAt(byKey(5L).fieldIndex("old_status")))
    assert(byKey(1L).isNullAt(byKey(1L).fieldIndex("new_status")))
    assert(byKey(4L).getString(byKey(4L).fieldIndex("old_status")) === "D")
    assert(byKey(4L).getString(byKey(4L).fieldIndex("new_status")) === "E")
  }

  test("scd2History collapses runs, closes intervals on change, keeps the last open") {
    import spark.implicits._
    val snaps = Seq(
      // key 1: identical across all three vintages -> one open interval
      (1L, 1, Option("A"), Option(1.0)),
      (1L, 2, Option("A"), Option(1.0)),
      (1L, 3, Option("A"), Option(1.0)),
      // key 2: price restated at vintage 3 -> [1,3) then [3,null)
      (2L, 1, Option("B"), Option(2.0)),
      (2L, 2, Option("B"), Option(2.0)),
      (2L, 3, Option("B"), Option(2.5)),
      // key 3: first filed at vintage 2, then a null -> value change
      (3L, 2, Option("C"), Option.empty[Double]),
      (3L, 3, Option("C"), Option(3.0)),
      // key 4: absent from the middle vintage, values unchanged ->
      // attribute history keeps ONE run spanning the gap
      (4L, 1, Option("D"), Option(4.0)),
      (4L, 3, Option("D"), Option(4.0)))
      .toDF("k", "vintage", "status", "price")
    val rows = Relational.scd2History(snaps, Seq("k"), "vintage", Seq("status", "price"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("valid_from")),
        if (r.isNullAt(r.fieldIndex("valid_to"))) None
        else Some(r.getInt(r.fieldIndex("valid_to")))))
      .toSeq
    assert(rows === Seq(
      (1L, 1, None),
      (2L, 1, Some(3)), (2L, 3, None),
      (3L, 2, Some(3)), (3L, 3, None),
      (4L, 1, None)))
  }

  test("cdcMerge applies upserts and deletes, passes untouched rows through") {
    import spark.implicits._
    val base = Seq(
      (1L, "A", 1.0), // untouched
      (2L, "B", 2.0), // deleted
      (3L, "C", 3.0), // updated
      (4L, "D", 4.0)) // untouched
      .toDF("k", "status", "price")
    val changes = Seq(
      (2L, "B", 2.0, "D"), // delete (payload ignored)
      (3L, "C2", 3.5, "U"), // update in place
      (5L, "E", 5.0, "U")) // insert (key not in base)
      .toDF("k", "status", "price", "op")
    val got = Relational.cdcMerge(base, changes, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "A", 1.0), (3L, "C2", 3.5), (4L, "D", 4.0), (5L, "E", 5.0)))
    // schema contract: changes must be base columns + op
    intercept[IllegalArgumentException] {
      Relational.cdcMerge(base, changes.drop("price"), Seq("k"))
    }
    ()
  }

  test("cdcMerge matches a driver model on randomized changesets and is idempotent") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val baseKeys = (0 until 40).filter(_ => rnd.nextBoolean()).map(_.toLong)
      val base = baseKeys.map(k => (k, s"s$k", rnd.nextInt(100).toDouble))
      val chKeys = (0 until 50).filter(_ => rnd.nextDouble() < 0.4).map(_.toLong)
      val changes = chKeys.map { k =>
        if (rnd.nextBoolean()) (k, s"u$k", rnd.nextInt(100).toDouble, "U")
        else (k, "", 0.0, "D")
      }
      val want = (base.filterNot(r => chKeys.contains(r._1)) ++
        changes.collect { case (k, s2, p, "U") => (k, s2, p) }).sortBy(_._1)
      val baseDf = base.toDF("k", "s", "p")
      val chDf = changes.toDF("k", "s", "p", "op")
      val got = Relational.cdcMerge(baseDf, chDf, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(got === want, s"trial $trial")
      // idempotence: re-applying the same changeset is a no-op (deletes
      // find nothing, upserts rewrite their own values)
      val twice = Relational.cdcMerge(
        Relational.cdcMerge(baseDf, chDf, Seq("k")), chDf, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(twice === got, s"trial $trial idempotence")
    }
  }

  test("domainQuota keeps each group's greedy quality prefix exactly") {
    import spark.implicits._
    val docs = Seq(
      // group "a", budget 100: greedy order by quality desc is
      // 11 (60 tok), 12 (50 tok, cum_before 60 < 100 — boundary doc
      // OVERFLOWS the budget but is kept), 13 (cum_before 110 — cut)
      (11L, "a", 60L, 0.9), (12L, "a", 50L, 0.8), (13L, "a", 10L, 0.7),
      // quality tie in "a" resolves by doc_id: 14 before 15; both cut
      (14L, "a", 10L, 0.7), (15L, "a", 10L, 0.7),
      // group "b", budget 0: dropped entirely
      (21L, "b", 5L, 0.99),
      // group "c", no budget: passes through whole
      (31L, "c", 500L, 0.1), (32L, "c", 500L, 0.2))
      .toDF("doc_id", "source", "n_tokens", "quality")
    val got = Relational.domainQuota(docs, "doc_id", "source", "n_tokens", "quality",
        Map("a" -> 100L, "b" -> 0L))
      .collect().map(r => (r.getLong(0), r.getLong(4))).sortBy(_._1)
    assert(got === Seq((11L, 0L), (12L, 60L), (31L, 500L), (32L, 0L)))
    // a non-zero budget smaller than every doc still keeps the best doc
    val tiny = Relational.domainQuota(docs, "doc_id", "source", "n_tokens", "quality",
        Map("a" -> 1L, "b" -> 0L, "c" -> 1L))
      .collect().map(_.getLong(0)).sorted
    assert(tiny === Seq(11L, 32L))
  }

  test("temperatureSample matches the md5 model exactly and flattens toward rare groups") {
    import spark.implicits._
    // heavily skewed mixture: 1000 / 100 / 10
    val rows = (0 until 1000).map(i => (i.toLong, "a")) ++
      (1000 until 1100).map(i => (i.toLong, "b")) ++
      (1100 until 1110).map(i => (i.toLong, "c"))
    val got = Relational.temperatureSample(rows.toDF("doc_id", "grp"),
        "doc_id", "grp", alpha = 0.5, targetFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // driver model with the operator's own arithmetic: sqrt weights,
    // DECIMAL(38,15)-folded Z, floor'd 16-bit md5 threshold
    val n = Map("a" -> 1000.0, "b" -> 100.0, "c" -> 10.0)
    val z = n.values.toSeq.sorted
      .map(v => BigDecimal(math.sqrt(v)).setScale(15, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val t = math.floor(0.5 * 1110)
    val frac = n.map { case (g, ng) =>
      g -> math.min(1.0, t * math.sqrt(ng) / (z * ng))
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def hv(id: Long): Int = Integer.parseInt(
      md.digest(id.toString.getBytes("UTF-8")).take(2).map(b => f"$b%02x").mkString, 16)
    val expected = rows.filter { case (id, g) =>
      hv(id) < math.floor(frac(g) * 65536).toInt
    }.toSet
    assert(got === expected)
    // alpha < 1 flattens: keep fraction strictly increases as the group
    // shrinks, and the rare group is kept whole (its raw fraction
    // clears 1)
    assert(frac("c") === 1.0)
    assert(frac("b") > frac("a"))
    val keptByGroup = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(keptByGroup("c") === 10)
    assert(keptByGroup("b").toDouble / 100 > keptByGroup("a").toDouble / 1000)
  }

  test("winsorize clamps exactly at the type-7 fences and flags only clipped rows") {
    import spark.implicits._
    // group A: 1..20 → p05 fence = 1 + 0.95*(2-1) = 1.95,
    //                  p95 fence = 19 + 0.05*(20-19) = 19.05
    val a = (1 to 20).map(i => ("A", i.toLong, i.toDouble))
    // group B: constant → both fences = 7.0, nothing clips
    val b = (1 to 5).map(i => ("B", 100L + i, 7.0))
    val df = (a ++ b).toDF("grp", "id", "v")
    val out = Relational.winsorize(df, "grp", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(3), r.getBoolean(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out(("A", 1L)) === ((1.95, true, 1.95, 19.05)))
    assert(out(("A", 2L)) === ((2.0, false, 1.95, 19.05)))
    assert(out(("A", 19L)) === ((19.0, false, 1.95, 19.05)))
    assert(out(("A", 20L)) === ((19.05, true, 1.95, 19.05)))
    (3 to 18).foreach(i => assert(out(("A", i.toLong))._1 === i.toDouble))
    b.foreach { case (_, id, _) => assert(out(("B", id)) === ((7.0, false, 7.0, 7.0))) }
    // partition independence
    val re = Relational.winsorize(df.repartition(7), "grp", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(re === out.view.mapValues(_._1).toMap)
  }

  test("winsorize serves through a broadcast of the fence frame — the corpus never shuffles") {
    val df = Relational.q51Winsorize(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.toLowerCase.contains("cartesian"),
      plan.take(3000))
  }

  test("labelConsensus: majority, deterministic tie-break, agreement, null votes dropped") {
    import spark.implicits._
    val votes = Seq(
      (1L, "pos"), (1L, "pos"), (1L, "neg"),             // clear majority
      (2L, "pos"), (2L, "neg"),                          // tie → lexically smaller
      (3L, "neu"),                                       // singleton
      (4L, "a"), (4L, "b"), (4L, "b"), (4L, "c"),        // plurality, not majority
      (5L, null), (5L, "x")                              // null vote ignored
    ).toDF("item", "label")
    val out = Relational.labelConsensus(votes, "item", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(out(1L) === (("pos", 2L, 3L, 0.666667, true)))
    assert(out(2L) === (("neg", 1L, 2L, 0.5, false))) // tie-break: label ASC
    assert(out(3L) === (("neu", 1L, 1L, 1.0, true)))
    assert(out(4L) === (("b", 2L, 4L, 0.5, false)))
    assert(out(5L) === (("x", 1L, 1L, 1.0, true)))
    // determinism under repartitioning
    val re = Relational.labelConsensus(votes.repartition(5), "item", "label")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re === out.view.mapValues(_._1).toMap)
  }

  test("labelConsensus plan: one vote agg + one item exchange serving both windows") {
    val df = Relational.q52LabelConsensus(spark, sf)
    df.collect()
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // (user,label) vote agg + user window + presentation sort
    assert(exchanges.size <= 3, s"${exchanges.size} exchanges")
  }

  test("raterAgreement: hand-model p_i, prevalence-based p_e, kappa; singletons excluded") {
    import spark.implicits._
    val votes = Seq(
      (1L, "pos"), (1L, "pos"), (1L, "neg"), // p_i = 2/6 = 0.333333
      (2L, "pos"), (2L, "pos"),              // p_i = 1.0
      (3L, "neu"),                           // singleton → excluded everywhere
      (4L, "pos"), (4L, "neg"),              // p_i = 0.0
      (5L, null), (5L, "pos")                // null dropped → singleton → excluded
    ).toDF("item", "label")
    val out = Relational.raterAgreement(votes, "item", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out.keySet === Set(1L, 2L, 4L)) // 3 and 5 carry no pairwise signal
    assert(out(1L)._1 === 3L && out(1L)._2 === 0.333333)
    assert(out(2L)._1 === 2L && out(2L)._2 === 1.0)
    assert(out(4L)._1 === 2L && out(4L)._2 === 0.0)
    // qualifying votes: pos 5, neg 2 over N=7 → p_e = 29/49;
    // p_bar = (0.333333 + 1 + 0)/3; kappa = (p_bar−p_e)/(1−p_e)
    out.values.foreach { case (_, _, nItems, pBar, pE, kappa) =>
      assert(nItems === 3L)
      assert(pBar === 0.444444)
      assert(pE === 0.591837)
      assert(kappa === -0.361113)
    }
    // perfect agreement on a single label → p_e = 1 → kappa undefined
    val unanimous = Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "x"))
      .toDF("item", "label")
    val u = Relational.raterAgreement(unanimous, "item", "label").collect()
    assert(u.forall(r => r.getDouble(4) === 1.0 && r.getDouble(5) === 1.0
      && r.isNullAt(6)))
    // determinism under repartitioning (the DECIMAL p_i fold is
    // order-independent by construction)
    val re = Relational.raterAgreement(votes.repartition(7), "item", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(re === out)
  }

  test("raterAgreement plan: the corpus shuffles once on item; globals broadcast back") {
    val df = Relational.q54RaterAgreement(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // (item,label) vote agg + item window + per-item agg reuses the
    // window partitioning; label agg + two one-row globals are
    // single-partition folds; + presentation sort
    assert(exchanges.size <= 6, s"${exchanges.size} exchanges")
    val s = plan.toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      "one-row globals must broadcast, not shuffle: " + s.take(3000))
  }

  test("madRobustZ: hand median/MAD, rescaled z, 3.5 flag; MAD=0 group yields null z") {
    import spark.implicits._
    // group A: 1..9 plus a gross outlier → median 5.5, MAD 2.5
    val a = ((1 to 9).map(_.toDouble) :+ 100.0).zipWithIndex
      .map { case (v, i) => ("A", i.toLong, v) }
    // group B: constant → MAD 0 → null z by contract, nothing flags
    val b = (1 to 5).map(i => ("B", 100L + i, 7.0))
    val df = (a ++ b).toDF("grp", "id", "v")
    val out = Relational.madRobustZ(df, "grp", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val big = out(("A", 9L)) // the 100.0 row
    assert(big.getDouble(3) === 5.5 && big.getDouble(4) === 2.5)
    assert(big.getDouble(5) === 25.4961 && big.getBoolean(6)) // 0.6745*94.5/2.5
    val low = out(("A", 0L)) // the 1.0 row
    assert(low.getDouble(5) === -1.2141 && !low.getBoolean(6))
    assert(a.zipWithIndex.count { case (_, i) => out(("A", i.toLong)).getBoolean(6) } === 1)
    b.foreach { case (_, id, _) =>
      val r = out(("B", id))
      assert(r.getDouble(4) === 0.0 && r.isNullAt(5) && !r.getBoolean(6))
    }
    // partition independence (both histogram passes are mergeable)
    val re = Relational.madRobustZ(df.repartition(7), "grp", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(re === out.view.mapValues(r =>
      (r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap)
  }

  test("madRobustZ serves map-only: median and MAD frames broadcast, corpus never sort-merges") {
    val df = Relational.q55MadOutliers(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.toLowerCase.contains("cartesian"),
      plan.take(3000))
  }

  test("psiDrift: zero on identical halves, planted shift scores, one-sided groups excluded") {
    import spark.implicits._
    // group A: identical multisets in both halves → exactly zero drift
    val aRef = (1 to 10).map(i => ("A", i.toLong, i.toDouble))
    val aCur = (1 to 10).map(i => ("A", 1000L + i, i.toDouble))
    // group B: ref uniform 1..10 (one value per decile bin), cur all
    // 100.0 (everything lands in bin 9) → tvd = 0.5·(9·0.1 + 0.9) = 0.9
    val bRef = (1 to 10).map(i => ("B", i.toLong, i.toDouble))
    val bCur = (1 to 10).map(i => ("B", 1000L + i, 100.0))
    // group C exists only in the cur half, D only in the ref half —
    // both excluded by contract
    val cCur = Seq(("C", 1005L, 1.0))
    val dRef = Seq(("D", 5L, 1.0))
    val df = (aRef ++ aCur ++ bRef ++ bCur ++ cCur ++ dRef)
      .toDF("grp", "ts", "v")
    val out = Relational.psiDrift(df, "grp", "v", "ts").collect()
    assert(out.map(_.getString(0)).toSet === Set("A", "B"))
    val a = out.filter(_.getString(0) == "A")
    assert(a.forall(r => r.getDouble(6) === 0.0 && r.getDouble(7) === 0.0
      && r.getDouble(8) === 0.0), "identical halves must score exactly zero")
    assert(a.forall(r => r.getLong(2) === r.getLong(3)))
    val b = out.filter(_.getString(0) == "B").sortBy(_.getInt(1))
    assert(b.map(_.getInt(1)).toSeq === (0 to 9), "all ten bins present")
    assert(b.forall(_.getLong(2) === 1L), "ref: one value per decile bin")
    assert(b.map(_.getLong(3)).toSeq === Seq.fill(9)(0L) :+ 10L,
      "cur: everything in the top bin")
    assert(b.head.getDouble(8) === 0.9) // tvd
    assert(b.head.getDouble(7) > 10.0, s"psi = ${b.head.getDouble(7)}") // gross drift
    // partition independence
    val re = Relational.psiDrift(df.repartition(7), "grp", "v", "ts").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(7), r.getDouble(8))).toMap
    assert(re === out.map(r =>
      (r.getString(0), r.getInt(1)) -> (r.getDouble(7), r.getDouble(8))).toMap)
  }

  test("psiDrift plan: edges broadcast for a map-only bin assignment, corpus never sort-merges") {
    val df = Relational.q56PsiDrift(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("corrMatrix: exact hand moments, perfect/anti correlation, zero-variance nulls, listwise deletion") {
    import spark.implicits._
    // group A: y = 2x exactly, z constant; one row with null z drops
    val a = Seq(
      ("A", 1.0, 2.0, Some(5.0)), ("A", 2.0, 4.0, Some(5.0)),
      ("A", 3.0, 6.0, Some(5.0)), ("A", 4.0, 8.0, Some(5.0)),
      ("A", 9.0, 9.0, None))
    // group B: y = 10 − x → corr exactly −1
    val b = Seq(
      ("B", 1.0, 9.0, Some(1.0)), ("B", 2.0, 8.0, Some(2.0)),
      ("B", 3.0, 7.0, Some(3.0)), ("B", 4.0, 6.0, Some(4.0)))
    val df = (a ++ b).toDF("grp", "x", "y", "z")
    val out = Relational.corrMatrix(df, "grp", Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getDouble(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    assert(out.size === 12) // 6 cells × 2 groups
    // A: var x = 1.25, cov(x,y) = 2.5, var y = 5, z flat
    assert(out(("A", "x", "x")) === ((4L, 1.25, Some(1.0))))
    assert(out(("A", "x", "y")) === ((4L, 2.5, Some(1.0))))
    assert(out(("A", "y", "y")) === ((4L, 5.0, Some(1.0))))
    assert(out(("A", "x", "z")) === ((4L, 0.0, None)))
    assert(out(("A", "z", "z")) === ((4L, 0.0, None)))
    // B: anti-correlated pair, z = x re-correlates
    assert(out(("B", "x", "y")) === ((4L, -1.25, Some(-1.0))))
    assert(out(("B", "x", "z")) === ((4L, 1.25, Some(1.0))))
    assert(out(("B", "y", "z")) === ((4L, -1.25, Some(-1.0))))
    // partition independence (both folds are exact DECIMAL partials)
    val re = Relational.corrMatrix(df.repartition(7), "grp", Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    assert(re === out.view.mapValues(_._3).toMap)
  }

  test("corrMatrix plan: all pairs ride two aggs, anchors broadcast, no sort-merge join") {
    val df = Relational.q57CorrMatrix(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // anchors agg + moments agg + presentation sort
    assert(exchanges.size <= 3, s"${exchanges.size} exchanges")
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") && !s.contains("SortMergeJoin"),
      s.take(3000))
  }

  test("profileColumns: counts, nullity, exact distincts, typed min/max") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)](
      (1L, "b"), (2L, "a"), (2L, null), (null, "c"), (3L, "a"))
      .toDF("num", "str")
    val out = Relational.profileColumns(df, Seq("num", "str"))
      .collect().map(r => r.getString(0) -> r).toMap
    val num = out("num")
    assert(num.getLong(1) === 5L && num.getLong(2) === 1L && num.getLong(3) === 3L)
    assert(num.getDouble(4) === 1.0 && num.getDouble(5) === 3.0)
    assert(num.isNullAt(6) && num.isNullAt(7))
    val str = out("str")
    assert(str.getLong(1) === 5L && str.getLong(2) === 1L && str.getLong(3) === 3L)
    assert(str.isNullAt(4) && str.isNullAt(5))
    assert(str.getString(6) === "a" && str.getString(7) === "c")
    // the approx path agrees at tiny cardinality and drops the Expand
    val approx = Relational.profileColumns(df, Seq("num", "str"), approxDistinct = true)
    assert(approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      === Map("num" -> 3L, "str" -> 3L))
    val exactPlan = Relational.profileColumns(df, Seq("num", "str"))
      .queryExecution.executedPlan.toString
    val approxPlan = approx.queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), exactPlan.take(2000))
    assert(!approxPlan.contains("Expand"), approxPlan.take(2000))
  }

  test("topSessionPaths: q13 gap sessions, (ts, id) total order, count-then-path tie-break") {
    import spark.implicits._
    val rows = Seq(
      // u1: one 2-step session then a gap opens a second
      (1L, 0L, 101L, "A"), (1L, 500L, 102L, "B"), (1L, 10000L, 103L, "C"),
      // u2: same 2-step journey
      (2L, 0L, 201L, "A"), (2L, 500L, 202L, "B"),
      // u3: a single-step session tying "C" at n=1 — "B" sorts first
      (3L, 0L, 301L, "B"),
      // u4: same-timestamp pair resolves by id: Y (id 401) before X (402)
      (4L, 0L, 402L, "X"), (4L, 0L, 401L, "Y"))
      .toDF("user", "ts", "id", "typ")
    val out = Relational.topSessionPaths(rows, "user", "ts", "typ", "id",
        gapNs = 1000L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq === Seq(
      ("A>B", 2L, 2L, 1), ("B", 1L, 1L, 2), ("C", 1L, 1L, 3), ("Y>X", 2L, 1L, 4)))
    // partition independence (the in-row struct sort is a total order)
    val re = Relational.topSessionPaths(rows.repartition(7), "user", "ts",
      "typ", "id", gapNs = 1000L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(re.toSeq === out.toSeq)
    // null timestamps cannot sessionize and are dropped (Spark orders
    // nulls first, DuckDB's ORDER BY nulls last — keeping them would
    // silently diverge cross-engine); results identical to the clean set
    val withNulls = rows.union(Seq(
        (1L, null.asInstanceOf[java.lang.Long], 109L, "Z"),
        (9L, null.asInstanceOf[java.lang.Long], 901L, "Z"))
      .toDF("user", "ts", "id", "typ"))
    val nz = Relational.topSessionPaths(withNulls, "user", "ts", "typ", "id",
        gapNs = 1000L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(nz.toSeq === out.toSeq, "null-ts rows must not create or join sessions")
  }

  test("checkExpectations: null predicates count as violations; uniqueness over non-null canon keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 5.0, "a"), (2L, -1.0, "b"), (2L, null, "a"), (null, 3.0, "zz"))
      .toDF("k", "v", "s")
    val out = Relational.checkExpectations(df,
      predicates = Seq(
        "v_nonneg" -> (col("v") >= 0.0),
        "s_in_domain" -> col("s").isin("a", "b")),
      uniqueKeys = Seq(
        "k_unique" -> Seq("k"),
        "ks_unique" -> Seq("k", "s")))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getDouble(5))).toMap
    // -1 fails, the NULL value row is unevaluable → ALSO a violation
    assert(out("v_nonneg") === (("predicate", 4L, 2L, false, 0.5)))
    assert(out("s_in_domain") === (("predicate", 4L, 1L, false, 0.25)))
    // k: 3 non-null rows over 2 distinct values → 1 duplicate
    assert(out("k_unique") === (("unique", 3L, 1L, false, 0.333333)))
    // (k, s): all 3 fully-non-null pairs distinct → passes
    assert(out("ks_unique") === (("unique", 3L, 0L, true, 0.0)))
    // the canon separator keeps adjacent-concatenation keys apart
    val tricky = Seq(("ab", "c"), ("a", "bc")).toDF("x", "y")
    val t = Relational.checkExpectations(tricky,
      predicates = Nil, uniqueKeys = Seq("xy" -> Seq("x", "y"))).collect()
    assert(t(0).getLong(3) === 0L, "concat must not collide 'ab'+'c' with 'a'+'bc'")
    // partition independence (all partials mergeable)
    val re = Relational.checkExpectations(df.repartition(5),
      predicates = Seq("v_nonneg" -> (col("v") >= 0.0)),
      uniqueKeys = Seq("k_unique" -> Seq("k")))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(re === Map("v_nonneg" -> 2L, "k_unique" -> 1L))
    // EMPTY frame: a legitimately empty drop is a clean verdict —
    // pass = true (never null), zero counts, zero rate; the documented
    // gate pattern forall(_.getBoolean(4)) must be total
    val empty = Relational.checkExpectations(df.limit(0),
      predicates = Seq("v_nonneg" -> (col("v") >= 0.0)),
      uniqueKeys = Seq("k_unique" -> Seq("k"))).collect()
    assert(empty.length === 2)
    empty.foreach { r =>
      assert(!r.isNullAt(2) && r.getLong(2) === 0L, r.toString)
      assert(!r.isNullAt(3) && r.getLong(3) === 0L, r.toString)
      assert(!r.isNullAt(4) && r.getBoolean(4), r.toString)
      assert(r.getDouble(5) === 0.0, r.toString)
    }
    assert(empty.forall(_.getBoolean(4)))
  }

  test("checkExpectations plan: all expectations ride one aggregation over one scan") {
    val df = Relational.q63Expectations(spark, sf)
    df.collect()
    // the AQE string prints Final AND Initial plans — count the final only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // one scan, no joins of any kind — the report assembles map-only
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"$scans scans:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("timeDecayAgg: half-life weights off the corpus max ts, exact integer-unit folds") {
    import spark.implicits._
    // ages 0 / 1 / 2 half-lives → quantized weights 1.0 / 0.5 / 0.25
    val rows = Seq(("A", 2000L, 10.0), ("A", 1000L, 20.0), ("A", 0L, 40.0),
      ("B", 2000L, 7.0))
    val df = rows.toDF("k", "ts", "v")
    val out = Relational.timeDecayAgg(df, "k", "ts", "v", halfLifeNs = 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out("A") === ((3L, 1.75, 30.0, 17.142857)))
    // the newest event anchors at age 0 — weight exactly 1
    assert(out("B") === ((1L, 1.0, 7.0, 7.0)))
    // partition independence (integer-unit DECIMAL folds)
    val re = Relational.timeDecayAgg(df.repartition(5), "k", "ts", "v", 1000L)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(re === out.view.mapValues(_._3).toMap)
  }

  test("abTest: hand two-proportion z, repeat events count once, degenerate pooled rate nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // arm A: 10 units, 8 convert; arm B: 10 units, 2 convert
    // pooled p = 0.5 → z = 0.6/sqrt(0.25*0.2) = 2.683282
    val rows =
      (1 to 10).map(u => ("A", u.toLong, u <= 8)) ++
      (1 to 10).map(u => ("B", 100L + u, u <= 2)) ++
      // a unit firing twice (once converting) still counts once
      Seq(("A", 1L, false), ("B", 101L, true))
    val out = Relational.abTest(rows.toDF("arm", "unit", "conv"),
      "arm", "unit", col("conv")).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getString(0) === "A" && r.getString(1) === "B")
    assert(r.getLong(2) === 10L && r.getLong(3) === 10L)
    assert(r.getLong(4) === 8L && r.getLong(5) === 2L)
    assert(r.getDouble(6) === 0.8 && r.getDouble(7) === 0.2)
    assert(r.getDouble(8) === 2.683282 && r.getBoolean(9))
    // both arms at zero conversions → pooled 0 → null z by contract
    val dead = Seq(("A", 1L, false), ("B", 2L, false))
      .toDF("arm", "unit", "conv")
    val d = Relational.abTest(dead, "arm", "unit", col("conv")).collect()(0)
    assert(d.isNullAt(8) && !d.getBoolean(9))
    // partition independence (exact per-unit max + integer counts)
    val re = Relational.abTest(rows.toDF("arm", "unit", "conv")
      .repartition(7), "arm", "unit", col("conv")).collect()(0)
    assert(re.getDouble(8) === 2.683282)
  }

  test("aucScore: perfect/reversed/tied/constant hand models, degenerate groups null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      // A: both positives above the one negative → AUC 1.0
      ("A", 1.0, false), ("A", 2.0, true), ("A", 3.0, true),
      // B: a tie at the bottom score (neg + pos share midrank 1.5),
      // one positive on top → AUC 0.75
      ("B", 1.0, false), ("B", 1.0, true), ("B", 2.0, true),
      // C: the positive UNDER the negative → AUC 0.0
      ("C", 1.0, true), ("C", 2.0, false),
      // D: constant score, half positive → chance, AUC 0.5
      ("D", 5.0, true), ("D", 5.0, true), ("D", 5.0, false), ("D", 5.0, false),
      // E: no negatives → null by contract
      ("E", 1.0, true), ("E", 2.0, true))
      .toDF("grp", "score", "y")
    val out = Relational.aucScore(rows, "grp", "score", col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out("A") === ((2L, 1L, Some(1.0))))
    assert(out("B") === ((2L, 1L, Some(0.75))))
    assert(out("C") === ((1L, 1L, Some(0.0))))
    assert(out("D") === ((2L, 2L, Some(0.5))))
    assert(out("E") === ((2L, 0L, None)))
    // partition independence (histogram + exact integer midranks)
    val re = Relational.aucScore(rows.repartition(7), "grp", "score", col("y"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(re === out.view.mapValues(_._3).toMap)
  }

  test("calibrationReport: hand bins, conf/acc/ECE, range filter, perfect calibration zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("A", 0.0, false), ("A", 0.4, true), ("A", 0.6, true), ("A", 1.0, true),
      // out-of-range scores are not probabilities — dropped
      ("A", 1.5, true), ("A", -0.1, false),
      // B: conf == acc in its one populated bin → ECE exactly 0
      ("B", 0.25, true), ("B", 0.25, false), ("B", 0.25, false), ("B", 0.25, false))
      .toDF("grp", "s", "y")
    val out = Relational.calibrationReport(rows, "grp", "s", col("y"), bins = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    assert(out(("A", 0)) === ((2L, 1L, 0.2, 0.5, 0.3, 0.25)))
    assert(out(("A", 1)) === ((2L, 2L, 0.8, 1.0, 0.2, 0.25)))
    assert(out(("B", 0)) === ((4L, 1L, 0.25, 0.25, 0.0, 0.0)))
    assert(!out.contains(("B", 1)), "empty bins emit nothing")
    // partition independence (decimal conf fold + DECIMAL ECE fold)
    val re = Relational.calibrationReport(rows.repartition(7), "grp", "s",
      col("y"), bins = 2).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(7)).toMap
    assert(re === out.view.mapValues(_._6).toMap)
  }

  test("confusionMetrics: four cells, null-not-NaN denominators, boundary on the quantized score") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("A", 0.6, true), ("A", 0.7, false), ("A", 0.3, true), ("A", 0.2, false),
      // the threshold row itself predicts positive (>=)
      ("A", 0.5, true),
      ("B", 0.1, true), ("B", 0.2, false),   // no predicted positives
      ("C", 0.9, false))                     // no actual positives
      .toDF("grp", "s", "y")
    val out = Relational.confusionMetrics(rows, "grp", "s", col("y"), 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4))
      === ((2L, 1L, 1L, 1L)))
    assert(a.getDouble(5) === 0.666667 && a.getDouble(6) === 0.666667)
    assert(a.getDouble(7) === 0.666667 && a.getDouble(8) === 0.6)
    val b = out("B")
    assert(b.isNullAt(5) && b.getDouble(6) === 0.0 && b.isNullAt(7))
    val c = out("C")
    assert(c.getDouble(5) === 0.0 && c.isNullAt(6) && c.isNullAt(7)
      && c.getDouble(8) === 0.0)
  }

  test("keySkewProfile: hand counts, null keys profile, ceil-division salt, string tie-break") {
    import spark.implicits._
    val rows = Seq.fill(10)(Option("hot")) ++ Seq.fill(3)(Option.empty[String]) ++
      Seq.fill(2)(Option("a")) ++ Seq.fill(2)(Option("b")) ++ Seq(Option("c"))
    val df = rows.map(k => (k.orNull, 1)).toDF("k", "pad")
    val out = Relational.keySkewProfile(df, "k", topK = 3, partitions = 6)
      .collect()
    assert(out.length === 3)
    val hot = out(0)
    assert(hot.getString(0) === "hot" && hot.getLong(1) === 10L
      && hot.getInt(2) === 1)
    assert(hot.getDouble(3) === 0.555556) // 10/18
    assert(hot.getDouble(4) === 2.777778) // 10/18*5 distinct keys
    assert(hot.getLong(5) === 4L)         // ceil(10*6/18)
    // the NULL key is a profiled key like any other — rank 2 at n=3
    assert(out(1).isNullAt(0) && out(1).getLong(1) === 3L
      && out(1).getLong(5) === 1L)
    // n=2 tie between "a" and "b" breaks on the key string
    assert(out(2).getString(0) === "a" && out(2).getLong(1) === 2L)
    // partition independence (one mergeable agg + exact integer math)
    val re = Relational.keySkewProfile(df.repartition(7), "k", 3, 6).collect()
    assert(re.map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).toSeq
      === out.map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).toSeq)
  }

  test("keySkewProfile plan: one corpus agg then TakeOrdered; totals broadcast, no sort-merge") {
    val df = Relational.q58SkewProfile(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("chi2CategoricalDrift: hand 2x2 homogeneity test, exact counts, dof") {
    import spark.implicits._
    // ref half (ts 0..9): X x8, Y x2; cur half (ts 11..20): X x2, Y x8
    val ref = (Seq.fill(8)("X") ++ Seq.fill(2)("Y")).zipWithIndex
      .map { case (c, i) => (c, i.toLong) }
    val cur = (Seq.fill(2)("X") ++ Seq.fill(8)("Y")).zipWithIndex
      .map { case (c, i) => (c, 11L + i) }
    val df = (ref ++ cur).toDF("cat", "ts")
    val out = Relational.chi2CategoricalDrift(df, "cat", "ts")
      .collect().map(r => r.getString(0) -> r).toMap
    val x = out("X")
    assert(x.getLong(1) === 8L && x.getLong(2) === 2L)
    assert(x.getDouble(3) === 5.0 && x.getDouble(4) === 5.0) // e = 10*10/20
    assert(x.getDouble(5) === 3.6)  // (8-5)^2/5 + (2-5)^2/5
    assert(x.getDouble(6) === 7.2 && x.getLong(7) === 1L)
    val y = out("Y")
    assert(y.getDouble(5) === 3.6 && y.getDouble(6) === 7.2)
    // identical mixes in both halves → chi2 exactly zero
    val same = (0 until 10).map(i => ("X", i.toLong)) ++
      (0 until 10).map(i => ("Y", i.toLong)) ++
      (11 to 20).map(i => ("X", i.toLong)) ++
      (11 to 20).map(i => ("Y", i.toLong))
    val zero = Relational.chi2CategoricalDrift(same.toDF("cat", "ts"), "cat", "ts")
      .collect()
    assert(zero.forall(r => r.getDouble(5) === 0.0 && r.getDouble(6) === 0.0))
    // partition independence (integer cells + DECIMAL contribution fold)
    val re = Relational.chi2CategoricalDrift(df.repartition(7), "cat", "ts")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(5), r.getDouble(6))).toMap
    assert(re === out.view.mapValues(r =>
      (r.getDouble(5), r.getDouble(6))).toMap)
  }

  test("ksTest: hand ECDF gap, argmin location, zero on identical halves") {
    import spark.implicits._
    // ref {1,2,3,4}, cur {3,4,5,6} → max |F_ref − F_cur| = 0.5, first at v=2
    val ref = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex
      .map { case (v, i) => ("A", i.toLong, v) }
    val cur = Seq(3.0, 4.0, 5.0, 6.0).zipWithIndex
      .map { case (v, i) => ("A", 11L + i, v) }
    val df = (ref ++ cur).toDF("grp", "ts", "v")
    val out = Relational.ksTest(df, "grp", "v", "ts").collect()
    assert(out.length === 1)
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 4L)
    assert(out(0).getDouble(3) === 0.5 && out(0).getDouble(4) === 2.0)
    // identical halves → D = 0, located at the smallest value
    val same = Seq(("B", 0L, 1.0), ("B", 1L, 2.0), ("B", 2L, 3.0),
      ("B", 11L, 1.0), ("B", 12L, 2.0), ("B", 13L, 3.0)).toDF("grp", "ts", "v")
    val z = Relational.ksTest(same, "grp", "v", "ts").collect()
    assert(z(0).getDouble(3) === 0.0 && z(0).getDouble(4) === 1.0)
    // partition independence (exact BIGINT cumulative counts)
    val re = Relational.ksTest(df.repartition(7), "grp", "v", "ts").collect()
    assert(re(0).getDouble(3) === 0.5 && re(0).getDouble(4) === 2.0)
  }

  test("ksTest plan: one histogram agg, one group exchange for all windows, no sort-merge") {
    val df = Relational.q60KsTest(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // (g, v) histogram agg + g window exchange + presentation sort
    assert(exchanges.size <= 4, s"${exchanges.size} exchanges")
    assert(!plan.toString.contains("SortMergeJoin"), plan.toString.take(3000))
  }

  test("new-operator plan shapes: q59/q61/q62/q64 stay on their documented exchange budgets") {
    def exchanges(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
    }
    // q59: one (category, sides) agg + single-partition folds + sort;
    // the one-row span/totals frames broadcast, never sort-merge
    val chi = Relational.q59Chi2Drift(spark, sf)
    assert(exchanges(chi) <= 5, s"q59: ${exchanges(chi)}")
    assert(!chi.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    // q61: corpus collapses at the (group, digit) agg; everything
    // after is groups x 9
    val ben = Relational.q61Benford(spark, sf)
    assert(exchanges(ben) <= 5, s"q61: ${exchanges(ben)}")
    assert(!ben.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    // q62: the q13 user-window exchange serves the session collapse;
    // one path agg; top-k plans as TakeOrdered
    val paths = Relational.q62TopPaths(spark, sf)
    assert(exchanges(paths) <= 5, s"q62: ${exchanges(paths)}")
    assert(paths.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    // q64: map-only weighting + ONE mergeable corpus agg — no window
    // anywhere, the max-ts frame broadcasts
    val decay = Relational.q64DecayAgg(spark, sf)
    assert(exchanges(decay) <= 3, s"q64: ${exchanges(decay)}")
    val dplan = decay.queryExecution.executedPlan.toString
    assert(!dplan.contains("SortMergeJoin") && !dplan.contains("Window "),
      dplan.take(2000))
  }

  test("benfordAudit: planted Benford set conforms, clamped group flags, signs and zeros") {
    import spark.implicits._
    // counts proportional to log10(1+1/d) out of 1000 → MAD ~4e-4 → close
    val benfordCounts = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
    val benford = benfordCounts.zipWithIndex.flatMap { case (n, i) =>
      Seq.fill(n)(("B", (i + 1) * 111.0)) // digit i+1
    }
    // clamped/fabricated group: every value starts with 5
    val clamped = Seq.fill(20)(("C", 5.0))
    // zero drops (no significant digit); negatives audit their |v| digit
    val edges = Seq(("B", 0.0), ("B", -23.4))
    val df = (benford ++ clamped ++ edges).toDF("grp", "v")
    val out = Relational.benfordAudit(df, "grp", "v")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(out.size === 18) // completed 9-digit grid x 2 groups
    val b1 = out(("B", 1L.toInt))
    assert(b1.getLong(2) === 301L && b1.getDouble(4) === 0.30103)
    val b2 = out(("B", 2))
    assert(b2.getLong(2) === 177L, "the -23.4 row audits digit 2") // 176 + 1
    assert(b1.getString(7) === "close", s"mad = ${b1.getDouble(6)}")
    val c5 = out(("C", 5))
    assert(c5.getLong(2) === 20L && c5.getDouble(3) === 1.0)
    assert(c5.getString(7) === "nonconforming")
    assert(out(("C", 1)).getLong(2) === 0L, "missing digits complete with n=0")
    // partition independence (one mergeable agg + DECIMAL MAD fold)
    val re = Relational.benfordAudit(df.repartition(7), "grp", "v")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(6), r.getString(7))).toMap
    assert(re === out.view.mapValues(r =>
      (r.getLong(2), r.getDouble(6), r.getString(7))).toMap)
  }
}
