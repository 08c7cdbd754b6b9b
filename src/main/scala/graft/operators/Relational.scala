package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational operator set (SURVEY.md §2.1).
  *
  * Each query re-expresses one piece of the reference ETL's semantics
  * (ferc-xbrl-extractor) over the synthetic star schema, Spark-first:
  * declarative DataFrame plans so Catalyst handles pushdown / pruning /
  * join selection.
  *
  * Numeric policy (oracle exactness): float aggregations are order-
  * dependent, so every SUM over a double column casts to an exact
  * DECIMAL first and casts the aggregate back to DOUBLE at the end.
  * The same expression appears in the DuckDB oracle (SparkEntry.oracleSql),
  * making results bit-identical. Timestamps are emitted as formatted
  * strings (parquet ns vs Spark µs precision would otherwise differ).
  * Every query ends in a total ORDER BY for deterministic row order.
  */
object Relational {

  private val D = "decimal(12,2)"

  /** events.ts is a nanosecond epoch long (see Tables.events); µs timestamp
    * for formatting/bucketing. Integer div truncates exactly like a native
    * µs parquet read would.
    */
  private val tsUs = "timestamp_micros(ts div 1000)"

  /** Q1-style pricing summary: multi-aggregate groupBy.
    * Reference analog: per-table numeric summarization of fact tables.
    */
  def q01PricingAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        expr(s"CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE)").as("sum_qty"),
        expr(s"CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE)").as("sum_base_price"),
        // the product sums carry scale 4/6; ROUND the exact decimal sum to
        // scale 2 BEFORE the double cast so its integer representation
        // stays far under 2^53 at any scale factor — a scale-6 sum
        // crosses 2^53 near 9e9 (hit at sf1), where engines that convert
        // decimal->double by int-cast-then-divide double-round and drift
        // one ulp from a correctly-rounded conversion. ROUND, not a
        // decimal downscale cast: both engines' ROUND is half-up, but
        // downscale-cast semantics diverge (some engines truncate)
        expr(s"CAST(ROUND(SUM(CAST(l_extendedprice AS $D) * (CAST(1 AS $D) - CAST(l_discount AS $D))), 2) AS DOUBLE)")
          .as("sum_disc_price"),
        expr(s"CAST(ROUND(SUM(CAST(l_extendedprice AS $D) * (CAST(1 AS $D) - CAST(l_discount AS $D)) * (CAST(1 AS $D) + CAST(l_tax AS $D))), 2) AS DOUBLE)")
          .as("sum_charge"),
        expr(s"CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) / COUNT(*)").as("avg_qty"),
        expr(s"CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) / COUNT(*)").as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Star join with broadcast dims: revenue per region/nation.
    * Reference analog: facts ⋈ contexts ⋈ taxonomy-dim joins. nation and
    * region are O(10^1) rows at any scale factor → always broadcast;
    * customer⋈orders is the big shuffle join and co-partitions on the key.
    */
  def q02JoinMultiway(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        expr(s"CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")

  /** Filter + projection: both must reach the parquet scan
    * (PushedFilters + pruned ReadSchema — verified in RelationalSpec).
    * Reference analog: requested_tables / instance_pattern filtering.
    */
  def q03FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  /** THE core XBRL op: long (id, name, value) → wide, one column per name.
    * Reference: FactTable.construct_dataframe's `unstack("name")`
    * (datapackage.py:497). Pivot with an explicit value list = single
    * shuffle, no discovery job — at 100 TB the column set always comes
    * from the schema (taxonomy), never from the data.
    */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def q04PivotWide(s: SparkSession, dir: String): DataFrame = {
    val aggs = eventTypes.map(t =>
      expr(s"CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS $D) END) AS DOUBLE)").as(t))
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("user_id")
  }

  /** Latest-wins dedup: keep the newest row per key.
    * Reference analog: latest-filing-wins on publication_time (how PUDL
    * consumes the extractor's output). Window over the natural hash
    * partitioning — one shuffle, no join.
    */
  def q05DedupLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"), col("event_id"), col("event_type"), col("value"),
        date_format(expr(tsUs), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("user_id")
  }

  /** Running (cumulative) aggregate per entity over time. */
  def q06WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("running_spend",
        sum(col("o_totalprice").cast(D)).over(w).cast("double"))
      .select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Top-k per group (rank). */
  def q07TopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rk")
  }

  /** Hierarchical totals via ROLLUP. Reference analog: facts missing an
    * axis are totals across that axis (instance.py:180 fills "total").
    * COALESCE to "all" so null-ordering differences can't bite.
    */
  def q08Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        expr(s"CAST(SUM(CAST(c_acctbal AS $D)) AS DOUBLE)").as("total_acctbal"),
        count(lit(1)).as("n_customers"))
      .select(
        coalesce(col("r_name"), lit("all")).as("region_name"),
        coalesce(col("n_name"), lit("all")).as("nation_name"),
        col("total_acctbal"), col("n_customers"))
      .orderBy("region_name", "nation_name")

  /** Anti + semi join: customers active before the cutoff (semi) with no
    * orders after it (anti). Reference analog: unused-fact coverage stats
    * (xbrl.py:168) — facts matching no table schema. Both join inputs are
    * non-empty at every sf, so neither leg is vacuous.
    */
  def q09AntiSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val orders = Tables.orders(s, dir)
    Tables.customer(s, dir)
      .join(orders.filter(col("o_orderdate") >= cutoff),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(orders.filter(col("o_orderdate") < cutoff),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Typed extraction: JSON value → int, string predicates, date bucket.
    * Reference analog: CONVERT_DTYPES string→typed casts (datapackage.py:127).
    */
  def q10JsonTypedExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        (col("event_type") === "error").as("is_error"),
        date_format(expr(tsUs), "yyyy-MM-dd").as("day"))
      .orderBy("event_id")

  /** Schema-evolution merge: union-by-name with missing columns null-filled.
    * Reference: Resource.merge_resources / Datapackage.from_taxonomies —
    * two taxonomy versions of the same table unified into one schema.
    */
  def q11SchemaMergeUnion(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
    val v1 = part.filter(col("p_size") < 25)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), lit("v1").as("src"))
    val v2 = part.filter(col("p_size") >= 25)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"), lit("v2").as("src"))
    v1.unionByName(v2, allowMissingColumns = true)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_retailprice"), col("src"))
      .orderBy("p_partkey", "src")
  }

  /** Tumbling-window aggregation on event time (batch twin of the
    * Structured Streaming op in streaming/StreamingOps.scala).
    */
  def q12TimeWindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", expr(tsUs)), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr(s"CAST(SUM(CAST(value AS $D)) AS DOUBLE)").as("total_value"))
      .orderBy("hour", "event_type")

  /** Gap-based sessionization (30-min inactivity) per user.
    * Reference analog: constructing duration periods from point events.
    * Two windows over the same (user_id) partitioning → one shuffle.
    */
  def q13Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("gap_ns", col("ts") - lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess", when(col("gap_ns").isNull || col("gap_ns") > 1800L * 1000000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        expr(s"CAST(SUM(CAST(value AS $D)) AS DOUBLE)").as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Fuzzy numeric dedup: among duplicate keys, keep the most precise
    * value (fewest-decimals check, then deterministic tiebreak).
    * Reference: fuzzy_dedup (datapackage.py:524-560) resolves duplicated
    * fact ids by picking the highest-precision number. Expressed as a
    * single window aggregation — no self-join, one shuffle.
    */
  def q14FuzzyNumericDedup(s: SparkSession, dir: String): DataFrame = {
    val prec = expr(
      """CASE WHEN value = ROUND(value, 0) THEN 0
        |     WHEN value = ROUND(value, 1) THEN 1
        |     WHEN value = ROUND(value, 2) THEN 2
        |     WHEN value = ROUND(value, 3) THEN 3
        |     ELSE 4 END""".stripMargin)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("prec").desc, col("value").desc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("prec", prec)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("value"), col("event_id"))
      .orderBy("user_id", "event_type")
  }

  /** Calculation validation: reported total vs weighted child sum.
    * Reference: calculation linkbase relationships (arelle_interface.py:85)
    * — total fact should equal sum(children × weight); used to flag
    * inconsistent filings.
    */
  def q15CalculationValidate(s: SparkSession, dir: String): DataFrame = {
    val computed = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(expr(s"CAST(SUM(CAST(l_extendedprice AS $D) * (CAST(1 AS $D) - CAST(l_discount AS $D))) AS DOUBLE)")
        .as("computed_total"))
    Tables.orders(s, dir)
      .join(computed, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_orderkey"), col("o_totalprice").as("reported_total"), col("computed_total"),
        (abs(col("o_totalprice") - col("computed_total")) < 0.01).as("consistent"))
      .orderBy("o_orderkey")
  }

  /** As-of join (last-touch attribution): for each `purchase` event, the
    * same user's most recent `click`/`view` at or before it — the
    * operator Spark has no native node for (DuckDB: `ASOF JOIN`).
    *
    * The scalable formulation is NOT a range join (per-key quadratic
    * candidate explosion) and not a per-row subquery: tag both sides,
    * union them, sort ONCE per user by (ts, side, event_id), and carry
    * the most recent touch forward with an ignore-nulls `last` window,
    * then keep only purchase rows. One shuffle on user_id; both sides
    * stream through the same sort, so at 100 TB it scales exactly like
    * the sessionize window (q13). Ties: a touch at the purchase's exact
    * ts counts (side 0 sorts first); equal-ts touches resolve to the
    * max event_id — the oracle dedups the same way before its ASOF.
    */
  def q16AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("side"),
        col("event_id").as("touch_ev"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("side"),
        lit(null).cast("long").as("touch_ev"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // no raw-gap column in the output: DuckDB reads the nano timestamps
    // rounded to micros, so only the matched ids are oracle-portable
    touches.unionByName(purchases)
      .withColumn("touch_id", last(col("touch_ev"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("touch_id"))
      .orderBy("purchase_id")
  }

  /** Interval/range join: for each `purchase`, count the same user's
    * `click`/`view` events in the preceding 30 minutes (exclusive of
    * the purchase instant's future, inclusive of equal ts).
    *
    * Spark would execute the naive `a.ts BETWEEN b.ts - i AND b.ts`
    * theta-join as a per-key nested loop (quadratic per user at 100 TB).
    * The scale formulation blocks time into interval-width buckets:
    * a purchase in bucket k can only match touches in buckets k-1/k, so
    * each touch emits to (its bucket, its bucket + 1) and the join is
    * EQUI on (user_id, bucket) with the exact range predicate as a
    * post-filter — candidates are bounded by events per (user, hour),
    * never all pairs per user. One extra row per touch, two shuffles.
    */
  def q17RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val IntervalNs = 1800L * 1000000000L
    val bucket = expr(s"ts div $IntervalNs")
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"),
        bucket.as("bucket"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("t_ts"),
        explode(array(bucket, bucket + 1)).as("bucket"))
    purchases.join(touches, Seq("user_id", "bucket"), "left")
      .withColumn("hit",
        col("t_ts").isNotNull &&
          col("t_ts") <= col("ts") && col("t_ts") > col("ts") - IntervalNs)
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_touches"))
      .orderBy("purchase_id")
  }

  /** Backtick-quote an identifier for `col` — see [[Cols.q]]. */
  private def q(name: String): Column = Cols.q(name)

  /** Generic as-of join library form: for each `left` row, attach the
    * most recent `right` row with the same `on` key whose `timeCol` is
    * at or before the left row's. Right columns come back prefixed
    * (null when no match). Same scale shape as q16: union + one per-key
    * window carry-forward, never a range join. Ties at equal time
    * resolve to the greatest right payload (struct ordering, so put the
    * tiebreak column first after timeCol); right columns must be
    * orderable (no maps).
    */
  def asofJoin(left: DataFrame, right: DataFrame, on: String, timeCol: String,
      rightPrefix: String = "right_"): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val lCols = left.columns.filterNot(_ == on).toSeq
    val rCols = right.columns.filterNot(_ == on).toSeq
    val lPayloadT = StructType(left.schema.fields.filterNot(_.name == on))
    val rPayloadT = StructType(right.schema.fields.filterNot(_.name == on))
    val lu = left.select(q(on), q(timeCol).as("__t"), lit(1).as("__side"),
      struct(lCols.map(q): _*).as("__lp"), lit(null).cast(rPayloadT).as("__p"))
    val ru = right.select(q(on), q(timeCol).as("__t"), lit(0).as("__side"),
      lit(null).cast(lPayloadT).as("__lp"), struct(rCols.map(q): _*).as("__p"))
    val w = Window.partitionBy(q(on))
      .orderBy(col("__t"), col("__side"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lu.unionByName(ru)
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(q(on) +:
        (lCols.map(c => col("__lp").getField(c).as(c)) ++
          rCols.map(c => col("__m").getField(c).as(s"$rightPrefix$c"))): _*)
  }

  /** Generic interval-join count library form: for each `left` row, the
    * number of `right` rows with the same `on` key whose `timeCol` lies
    * in (left.time - interval, left.time]. Same scale shape as q17:
    * interval-width time buckets turn the range predicate into an
    * equi-join with a bounded post-filter. Left rows must be distinct
    * (the count groups by the full left row).
    */
  def rangeJoinCount(left: DataFrame, right: DataFrame, on: String, timeCol: String,
      intervalNs: Long, countName: String = "n_matches"): DataFrame = {
    // bucket START via exact long arithmetic (t - t mod i): Column-API
    // only — no SQL-string interpolation, so a timeCol needing backticks
    // works — and no double division, which would lose ns precision
    // above 2^53
    val bucket = q(timeCol) - pmod(q(timeCol), lit(intervalNs))
    val l = left.withColumn("__bucket", bucket)
    val r = right.select(q(on), q(timeCol).as("__rt"),
      explode(array(bucket, bucket + lit(intervalNs))).as("__bucket"))
    l.join(r, Seq(on, "__bucket"), "left")
      .withColumn("__hit",
        col("__rt").isNotNull &&
          col("__rt") <= q(timeCol) && col("__rt") > q(timeCol) - intervalNs)
      .groupBy(l.columns.toIndexedSeq.map(q): _*)
      .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as(countName))
      .drop("__bucket")
  }

  /** Skew-safe inner equi-join on `on`: every build-side row is
    * replicated `salt` ways and each probe row is scattered to one
    * replica by a deterministic hash of its full row, so a hot key
    * spreads over `salt` shuffle partitions instead of melting a
    * single reducer. The result is exactly the plain inner join (each
    * probe row meets exactly one replica of each matching build row —
    * multiplicities preserved).
    *
    * When to reach for it at 100 TB: AQE's runtime skew split already
    * rebalances sort-merge joins, but it cannot help a shuffled hash
    * join, a join feeding a same-key aggregation, or a case where the
    * skew is known up front and deterministic planning is wanted. The
    * build side grows salt-fold — keep `salt` modest (8-64) and the
    * build side the smaller input.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, on: String, salt: Int = 16): DataFrame = {
    require(salt >= 1, s"salt must be positive, got $salt")
    val probeSalted = probe.withColumn("__salt",
      pmod(xxhash64(struct(probe.columns.toIndexedSeq.map(q): _*)), lit(salt.toLong)).cast("int"))
    val buildSalted = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    probeSalted.join(buildSalted, Seq(on, "__salt"), "inner").drop("__salt")
  }

  /** Deterministic dataset splitting library form: assign each row to a
    * named split by a content-stable hash of its id — the reproducible
    * train/val/test partitioner every training pipeline needs (stable
    * under reruns, re-partitioning, and engine changes, unlike
    * `randomSplit`). Map-only; the md5-hex prefix is compared lexically
    * so the same assignment is computable in any engine.
    * `fractions` are (name, cumulative upper bound in 0..256) over the
    * first two hex digits.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
      fractions: Seq[(String, Int)] = Seq("val" -> 41, "test" -> 82, "train" -> 256)): DataFrame = {
    val h = substring(md5(q(idCol).cast("string").cast("binary")), 1, 2)
    val assign = fractions.init.foldRight(lit(fractions.last._1)) {
      case ((name, bound), other) => when(h < lit(f"${bound}%02x"), name).otherwise(other)
    }
    df.withColumn("split", assign)
  }

  /** q19: gate binding of [[deterministicSplit]] on `documents` —
    * emits each doc's assignment (16% val / 16% test / 68% train).
    */
  def q19DeterministicSplit(s: SparkSession, dir: String): DataFrame =
    deterministicSplit(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      .orderBy("doc_id")

  /** Deterministic stratified sampling: keep each row with its group's
    * probability (`fractions`, else `defaultFraction`), decided by the
    * same content-stable md5-prefix trick as [[deterministicSplit]] —
    * the source-quota / domain-mixing step of a training pipeline
    * (up-weight curated sources, down-weight crawl), reproducible
    * across reruns, partitionings, and engines, unlike `sample()`.
    * Map-only: the per-group threshold is a CASE over `groupCol` and
    * the keep decision compares 4 md5 hex digits lexically (16-bit
    * resolution; a fraction >= 1 keeps everything via a sentinel above
    * the hex alphabet).
    */
  def stratifiedSample(df: DataFrame, idCol: String, groupCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0): DataFrame = {
    def thr(f: Double): String =
      if (f >= 1.0) "g" else f"${math.max((f * 65536).toInt, 0)}%04x"
    val h = substring(md5(q(idCol).cast("string").cast("binary")), 1, 4)
    val bound = fractions.toSeq.sortBy(_._1).foldRight(lit(thr(defaultFraction))) {
      case ((g, f), other) => when(q(groupCol) === g, lit(thr(f))).otherwise(other)
    }
    df.filter(h < bound)
  }

  /** q20: gate binding of [[stratifiedSample]] on `documents` per
    * `source` — a curated-heavy mixture (75%/50%/25% for src0-2, 12.5%
    * for the long tail).
    */
  def q20StratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source",
      Map("src0" -> 0.75, "src1" -> 0.5, "src2" -> 0.25),
      defaultFraction = 0.125)
      .orderBy("doc_id")

  /** Deterministic token-budget mixture sampling — the domain-mixing
    * step of a pretraining data build: down-sample each group to
    * approximately `budgets(group)` TOKENS (not rows). The keep
    * fraction is computed FROM the data (budget / group token total,
    * capped at 1) and applied with the same content-stable md5-prefix
    * decision as q19/q20, so the sample is reproducible across reruns,
    * partitionings, and engines, and the md5 integer compares portably
    * (`conv(hex, 16, 10)` here == `('0x' || hex)::INT` in DuckDB).
    * Groups without a budget pass through untouched; a budget of 0
    * drops its group; a budget >= the group total keeps everything.
    *
    * Scale shape: one map-side-combined aggregation for the per-group
    * token totals (one tiny row per group, broadcast back), then a
    * map-only keep decision — no shuffle of the big side. Row-level
    * sampling hits the token budget in expectation; exact-cut packing
    * is t05's job.
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, groupCol: String,
      tokenCol: String, budgets: Map[String, Long]): DataFrame = {
    val totals = df.groupBy(q(groupCol).as("__g"))
      .agg(sum(q(tokenCol).cast("long")).as("__total"))
    val budget = budgets.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("long")) { case (other, (g, b)) =>
        when(col("__g") === g, lit(b)).otherwise(other)
      }
    val joined = df.join(broadcast(totals.withColumn("__budget", budget)),
      q(groupCol) === col("__g"), "left")
    // floor() before the int cast: Spark truncates double->int, DuckDB
    // rounds — floored values agree in both
    val threshold = floor(
      least(lit(1.0), col("__budget").cast("double") / col("__total").cast("double")) * 65536)
      .cast("int")
    val hv = conv(substring(md5(q(idCol).cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("int")
    joined.filter(col("__budget").isNull || hv < threshold)
      .drop("__g", "__total", "__budget")
  }

  /** q21: gate binding of [[tokenBudgetSample]] on `documents` per
    * `source`, tokens = whitespace token count: quota src0 to 400
    * tokens and src1 to 700, leave every other source untouched.
    */
  def q21TokenBudgetSample(s: SparkSession, dir: String): DataFrame =
    tokenBudgetSample(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      "doc_id", "source", "n_tokens",
      Map("src0" -> 400L, "src1" -> 700L))
      .orderBy("doc_id")

  /** Greedy quality-ranked domain quota — the curation flavor of the
    * domain-mixing step: where [[tokenBudgetSample]] (q21) hash-samples
    * each group to its token budget IN EXPECTATION (content-stable,
    * quality-blind), this keeps each group's BEST documents exactly —
    * rank by (`qualityCol` desc, `idCol` asc), then keep a document iff
    * the token total of the better-ranked documents is still under the
    * group's budget (the boundary document may overflow it, so a
    * non-zero budget always keeps at least one document). Groups
    * without a budget pass through untouched; a budget of 0 drops its
    * group.
    *
    * Scale shape: ONE shuffle — the per-group window (running sum in
    * rank order); the budget literal folds into the filter map-only,
    * no join. The per-group ordered scan is the exact-greedy
    * semantics' inherent cost: a single domain sorts within one
    * task, so a domain too large for one task should be pre-thinned
    * with q21 (expectation sampling, no sort) or bucketed by
    * `groupCol`; AQE's skew handling cannot split a window partition.
    */
  def domainQuota(df: DataFrame, idCol: String, groupCol: String,
      tokenCol: String, qualityCol: String, budgets: Map[String, Long]): DataFrame = {
    val budget = budgets.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("long")) { case (other, (g, b)) =>
        when(q(groupCol) === g, lit(b)).otherwise(other)
      }
    val w = Window.partitionBy(q(groupCol))
      .orderBy(q(qualityCol).desc, q(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before",
        coalesce(sum(q(tokenCol).cast("long")).over(w), lit(0L)))
      .withColumn("__budget", budget)
      .filter(col("__budget").isNull || col("cum_before") < col("__budget"))
      .drop("__budget")
  }

  /** q25: gate binding of [[domainQuota]] on `documents` per `source`,
    * tokens = whitespace count, quality = t02's score — the SAME
    * budgets as q21 (src0 to 400 tokens, src1 to 700) so the two
    * mixture semantics are directly comparable, plus src2 to 0 (drop).
    * Fully oracle-checked: score, ranking, running sum, and boundary
    * keep all restate in SQL.
    */
  def q25DomainQuota(s: SparkSession, dir: String): DataFrame =
    domainQuota(
      Text.qualityScore(Tables.documents(s, dir), keepCols = Seq("source")),
      "doc_id", "source", "n_tokens", "quality",
      Map("src0" -> 400L, "src1" -> 700L, "src2" -> 0L))
      .select("doc_id", "source", "n_tokens", "quality", "cum_before")
      .orderBy("doc_id")

  /** Temperature (alpha) mixture sampling — the mT5/XLM-R multilingual
    * rebalancing step: group g's share of the kept corpus follows
    * `n_g^alpha / sum_h n_h^alpha` (alpha < 1 flattens the mixture
    * toward rare groups; alpha = 1 keeps natural proportions), scaled
    * to `targetFraction` of the corpus. Keep fraction per group is
    * `min(1, T * n_g^alpha / (Z * n_g))` with T = floor(targetFraction
    * * total) — all derived FROM the data in-plan, nothing
    * pre-computed — and each row keeps via the same content-stable
    * md5-prefix decision as q19/q20/q21, so the sample reproduces
    * across reruns, partitionings, and engines.
    *
    * Determinism policy: the weight sum Z folds each group's weight
    * through DECIMAL(38,15) (exact addition, partition-order
    * independent — the q01/t13 float policy); alpha = 0.5 computes
    * weights with `sqrt`, which IEEE 754 requires correctly rounded,
    * so the gate's oracle reproduces the fractions BIT-exactly in
    * DuckDB (other alphas use `pow`, documented <= 1 ulp in both
    * engines — fine for sampling, just shy of a hash-equal oracle).
    *
    * Scale shape: one tiny count aggregation (map-side combined, one
    * row per group), window totals over that tiny frame, broadcast
    * join back, map-only keep — the corpus never shuffles.
    */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
      alpha: Double, targetFraction: Double): DataFrame = {
    require(alpha > 0, s"temperatureSample needs alpha > 0, got $alpha")
    require(targetFraction > 0, s"temperatureSample needs targetFraction > 0, got $targetFraction")
    val counts = df.groupBy(q(groupCol).as("__g"))
      .agg(count(lit(1)).cast("double").as("__n"))
    def weight(n: Column): Column =
      if (alpha == 0.5) sqrt(n) else pow(n, lit(alpha))
    val w = Window.partitionBy()
    val fracs = counts
      .withColumn("__total", sum(col("__n")).over(w))
      .withColumn("__z",
        sum(weight(col("__n")).cast("decimal(38,15)")).over(w).cast("double"))
      .withColumn("__frac", least(lit(1.0),
        floor(lit(targetFraction) * col("__total")) * weight(col("__n"))
          / (col("__z") * col("__n"))))
    val hv = conv(substring(md5(q(idCol).cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("int")
    df.join(broadcast(fracs.select(col("__g"), col("__frac"))),
        q(groupCol) === col("__g"))
      .filter(hv < floor(col("__frac") * 65536).cast("int"))
      .drop("__g", "__frac")
  }

  /** q26: gate binding of [[temperatureSample]] on `documents` per
    * `lang` (the corpus is en-heavy — the exact scenario alpha-sampling
    * rebalances): alpha = 0.5, target half the corpus. Fully
    * oracle-checked (the sqrt weight path makes the fractions
    * engine-exact).
    */
  def q26TemperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureSample(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      "doc_id", "lang", alpha = 0.5, targetFraction = 0.5)
      .orderBy("doc_id")

  /** Per-group feature normalization — the scaling step before numeric
    * columns feed a model (t13's classifier, embedding metadata,
    * reward-model features): z-score (standardize against the group's
    * mean/std) and min-max (rescale to [0,1]) for every row, grouped by
    * `groupCol`.
    *
    * Determinism policy: the value quantizes to DECIMAL(12,2) once (the
    * q18 policy — both engines' double->decimal rounding agrees there),
    * the group moments (sum, sum of squares, min, max) fold as EXACT
    * decimals (partition-order independent), and only then does the
    * arithmetic drop to doubles in a fixed expression order (each step
    * correctly rounded, so both engines produce the same bits), rounded
    * to 6 dp. Population variance; a zero-variance or constant group
    * yields 0.0 by definition rather than NaN.
    *
    * Scale shape: one mergeable group agg (five tiny rows per group),
    * broadcast back, map-only formulas, presentation sort — the corpus
    * never shuffles (the q21/q26 shape).
    */
  def zscoreNormalize(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame =
    applyNormalization(df, normalizationStats(df, groupCol, valueCol),
      idCol, groupCol, valueCol)

  /** The anchored group moments of `cols` (quantized to DECIMAL(12,2))
    * — the one fold behind [[normalizationStats]] (q28),
    * [[groupRegression]] (q41) and [[corrMatrix]] (q57). Rows with a
    * null in any of `cols` are dropped first (listwise deletion: every
    * moment shares one `n`, and `n` counts values, never null rows).
    *
    * Numerics (r10): the one-pass `Σxy/n − mean_x·mean_y` form
    * catastrophically cancels for groups with large mean and tiny
    * spread (both terms ~mean², their difference ~the covariance —
    * doubles can flip a variance ≤ 0 or inflate it). So the moments
    * are anchored: a first agg folds `n` and the exact decimal sums
    * `__s$i`, each mean quantizes to an exact decimal anchor
    * `__m$i = CAST(__s$i/n AS DECIMAL(12,2))` (inside the value
    * range, so the ANSI cast cannot overflow), the anchors join back by
    * a null-safe BROADCAST, and a second agg folds, for each `(i, j)`
    * of `pairs`, `__sp_i_j = Σ (v_i − m_i)(v_j − m_j)` in integer
    * centi-units. [[anchoredCov]] serves `__sp_i_j/10^4/n − δ_i·δ_j`
    * with `δ = mean − anchor` ≤ half an anchor ulp: small same-
    * magnitude terms, no cancellation of large ones. The anchor
    * columns (and `extraAnchorAggs`, aggregates over the `__v$i`
    * columns) are constant per group, so they ride the second agg as
    * grouping keys — no extra join to reassemble the row. Both aggs
    * are map-side folds into tiny per-group partials; the corpus never
    * shuffles.
    *
    * Integer units: a scale-4 decimal sum past 2^53 scaled units
    * double-rounds through DuckDB's decimal→double cast against the
    * JVM's one-rounding BigDecimal (seen on q57's price variance at
    * sf0.01); an integral DECIMAL(38,0) converts in one rounding on
    * both engines, and the 10^4 de-scaling happens in IEEE doubles.
    * Each product multiplies in LONG (r17: the moments pass 2.0 → 1.3 s
    * warm at sf0.1), falling back to an exact DECIMAL(19,0) product
    * when the long one overflows (a deviation past ~3.04e7 — the
    * DECIMAL(12,2) domain reaches 2e10): the same integers summed in
    * the same type, so the fold is exact on the whole domain and
    * bit-identical to an all-decimal fold. The DuckDB oracles mirror
    * it expression for expression.
    *
    * Output: (group, n, __s$i.., extra anchors.., __m$i.., __sp_i_j..),
    * sums and products as doubles.
    */
  private def anchoredMoments(df: DataFrame, groupCol: String,
      cols: Seq[String], pairs: Seq[(Int, Int)],
      extraAnchorAggs: Seq[Column] = Nil): DataFrame = {
    val idx = cols.indices
    val vals = df.select(q(groupCol).as("group") +:
        cols.zipWithIndex.map { case (c, i) => q(c).cast(D).as(s"__v$i") }: _*)
      .filter(idx.map(i => col(s"__v$i").isNotNull).reduce(_ && _))
    val anchorAggs = count(lit(1)).as("n") +:
      idx.map(i => sum(col(s"__v$i")).cast("double").as(s"__s$i")) ++: extraAnchorAggs
    val anchors = idx.foldLeft(
      vals.groupBy("group").agg(anchorAggs.head, anchorAggs.tail: _*)) {
      (a, i) => a.withColumn(s"__m$i", (col(s"__s$i") / col("n")).cast(D))
    }
    def units(i: Int) = (col(s"__v$i") - col(s"__m$i")) * 100
    val momentAggs = pairs.map { case (i, j) =>
      sum(coalesce(try_multiply(units(i).cast("long"), units(j).cast("long")),
          units(i).cast("decimal(19,0)") * units(j).cast("decimal(19,0)"))
        .cast("decimal(38,0)")).cast("double").as(s"__sp_${i}_$j")
    }
    vals.join(broadcast(anchors.withColumnRenamed("group", "__ga")),
        col("group") <=> col("__ga"))
      .groupBy(anchors.columns.map(col).toSeq: _*)
      .agg(momentAggs.head, momentAggs.tail: _*)
  }

  /** The δ-corrected population covariance of columns `i`, `j` over an
    * [[anchoredMoments]] row.
    */
  private def anchoredCov(i: Int, j: Int): Column = {
    def d(k: Int) = col(s"__s$k") / col("n") - col(s"__m$k").cast("double")
    col(s"__sp_${i}_$j") / lit(10000.0) / col("n") - d(i) * d(j)
  }

  /** The exact-decimal group moments [[zscoreNormalize]] folds — split
    * out so the stats can be TRAINED on a reference corpus or batch
    * snapshot and SERVED elsewhere ([[applyNormalization]], the
    * streaming normalize gate): (group, n, s1, vmin, vmax, m, ssd),
    * the one-column [[anchoredMoments]] fold (`m` its anchor, `ssd`
    * its anchored Σ(v − m)² in squared centi-units) plus the group's
    * min and max. Null values are not counted.
    */
  def normalizationStats(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    anchoredMoments(df, groupCol, Seq(valueCol), Seq((0, 0)),
        Seq(min(col("__v0")).cast("double").as("vmin"),
          max(col("__v0")).cast("double").as("vmax")))
      .select(col("group"), col("n"), col("__s0").as("s1"), col("vmin"),
        col("vmax"), col("__m0").as("m"), col("__sp_0_0").as("ssd"))

  /** Serve side of [[zscoreNormalize]]: apply precomputed
    * [[normalizationStats]] to any frame (batch or stream) — a
    * broadcast join plus map-only formulas, stateless by construction.
    * Every row is kept: a null value, a null group (matched null-safe)
    * or a group without a stats row scores null.
    */
  def applyNormalization(df: DataFrame, stats: DataFrame, idCol: String,
      groupCol: String, valueCol: String): DataFrame = {
    val base = df.select(q(idCol).as("__id"), q(groupCol).as("__g"),
      q(valueCol).cast(D).as("__v"))
    val vd = col("__v").cast("double")
    val mean = col("s1") / col("n")
    // anchored variance (see anchoredMoments): δ = mean − anchor is
    // tiny by construction, so neither term is a near-cancelling square
    val delta = mean - col("m").cast("double")
    val variance = col("ssd") / lit(10000.0) / col("n") - delta * delta
    val scored = vd.isNotNull && col("n").isNotNull
    base.join(broadcast(stats), col("__g") <=> col("group"), "left")
      .select(col("__id").as(idCol), col("__g").as(groupCol),
        when(variance > 0.0, round((vd - mean) / sqrt(variance), 6))
          .when(scored, 0.0).as("value_z"),
        when(col("vmax") > col("vmin"),
          round((vd - col("vmin")) / (col("vmax") - col("vmin")), 6))
          .when(scored, 0.0).as("value_minmax"))
  }

  /** q28: gate binding of [[zscoreNormalize]] on `events.value` per
    * `event_type`. Fully oracled: identical quantize-fold-then-double
    * arithmetic in DuckDB.
    */
  def q28ZscoreNormalize(s: SparkSession, dir: String): DataFrame =
    zscoreNormalize(Tables.events(s, dir), "event_id", "event_type", "value")
      .orderBy("event_id")

  /** Referential-integrity audit over one foreign-key edge — the
    * data-quality gate a pipeline runs BEFORE its big training joins
    * (an orphan key silently drops rows in an inner join and fabricates
    * nulls in an outer one): one summary row with the child row count,
    * null-key rows, distinct non-null keys, and orphan rows/keys
    * (child keys with no matching parent).
    *
    * Scale shape: the child collapses to one mergeable (key, n) agg —
    * every later step works on distinct KEYS, never child rows; orphans
    * are a LEFT ANTI equi-join of that key table against the parent's
    * key column (AQE broadcasts a dimension-sized parent; big-big
    * shuffles both sides by key); the outputs are one-row aggregates
    * cross-joined 1x1. All integer counts — the oracle hashes exactly.
    */
  def fkIntegrity(edge: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val keys = child.groupBy(q(childKey).as("__k")).agg(count(lit(1)).as("__n"))
    val orphans = keys.filter(col("__k").isNotNull)
      .join(parent.select(q(parentKey).as("__p")), col("__k") === col("__p"), "left_anti")
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_orphan_keys"))
    val totals = keys.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_child"),
      coalesce(sum(when(col("__k").isNull, col("__n"))), lit(0L)).as("n_null_keys"),
      count(when(col("__k").isNotNull, lit(1))).as("n_distinct_keys"))
    totals.crossJoin(orphans).select(lit(edge).as("edge"), col("n_child"),
      col("n_null_keys"), col("n_distinct_keys"),
      col("n_orphan_rows"), col("n_orphan_keys"))
  }

  /** All FK edges OF ONE CHILD TABLE audited in a SINGLE scan — the
    * fact-side sibling of [[fkIntegrity]] (r17, VERDICT r16 #5): each
    * child row explodes to one (edge, key) cell per edge (Catalyst
    * plans the explode-over-literal-array as Generate — input×edges
    * rows BEFORE the mergeable partial agg, the q53/q63 Expand
    * discipline), so N edges cost ONE scan of the child plus one
    * shuffle of per-edge key partials instead of N full scans. The
    * per-edge serve (anti-join against the edge's parent, the same
    * totals/orphans split as [[fkIntegrity]]) then works on distinct
    * KEYS only, and the shared exploded aggregation is one canonical
    * subplan — every edge branch reuses its exchange, which is what
    * makes the child genuinely scanned once (PlanAuditSpec pins the
    * scan count). Keys of one call must share a data type (they ride
    * one struct array); the r16 q27 drift watch item motivated the
    * restatement — lineitem was scanned 3x, orders 2x.
    */
  def fkIntegrityMulti(child: DataFrame,
      edges: Seq[(String, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "fkIntegrityMulti needs at least one edge")
    require(edges.map(_._1).distinct.size == edges.size,
      "edge names must be unique")
    val cells = edges.map { case (e, k, _, _) =>
      struct(lit(e).as("__e"), q(k).as("__k"))
    }
    val keys = child.select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.__e").as("__e"), col("c.__k").as("__k"))
      .agg(count(lit(1)).as("__n"))
    // `keys` feeds BOTH consumers below with NO intervening filter — a
    // per-edge filter (or a null-key filter) on a grouping column
    // would push beneath the aggregation, de-canonicalize the two
    // subtrees, and re-scan the child once per consumer. As written
    // the (edge, key) exchange is canonical-identical under both, so
    // ReuseExchange runs the scan + Expand + partial agg ONCE.
    val totals = keys.groupBy(col("__e"))
      .agg(coalesce(sum(col("__n")), lit(0L)).as("n_child"),
        coalesce(sum(when(col("__k").isNull, col("__n"))), lit(0L)).as("n_null_keys"),
        count(when(col("__k").isNotNull, lit(1))).as("n_distinct_keys"))
    // ONE anti-join for every edge: parents union edge-tagged (each
    // pruned to its key column), the join keyed (edge, key). Null
    // child keys ride through the anti join (null matches nothing)
    // and are excluded HERE, at agg time — not by a pre-join filter,
    // for the reuse reason above.
    val parents = edges.map { case (e, _, parent, parentKey) =>
      parent.select(lit(e).as("__pe"), q(parentKey).as("__p"))
    }.reduce(_ unionByName _)
    val orphans = keys.join(parents,
        col("__e") === col("__pe") && col("__k") === col("__p"), "left_anti")
      .groupBy(col("__e"))
      .agg(coalesce(sum(when(col("__k").isNotNull, col("__n"))), lit(0L))
          .as("n_orphan_rows"),
        count(when(col("__k").isNotNull, lit(1))).as("n_orphan_keys"))
    // edge-name skeleton: an edge keeps its row even when the child is
    // empty (the single-edge form's one-row-aggregate contract) or
    // fully matched (no orphan group)
    val s2 = child.sparkSession
    import s2.implicits._
    val skeleton = edges.map(_._1).toDF("__e")
    skeleton.join(totals, Seq("__e"), "left").join(orphans, Seq("__e"), "left")
      .select(col("__e").as("edge"),
        coalesce(col("n_child"), lit(0L)).as("n_child"),
        coalesce(col("n_null_keys"), lit(0L)).as("n_null_keys"),
        coalesce(col("n_distinct_keys"), lit(0L)).as("n_distinct_keys"),
        coalesce(col("n_orphan_rows"), lit(0L)).as("n_orphan_rows"),
        coalesce(col("n_orphan_keys"), lit(0L)).as("n_orphan_keys"))
  }

  /** q27: gate binding of the FK audit over the star schema's edges —
    * the seven real edges (all clean in the generated data, so the
    * zeros themselves are checked) plus one DELIBERATELY pruned
    * parent (customers with c_custkey % 13 == 0 removed, the q22-style
    * synthetic breakage) so nonzero orphan counts are oracle-checked
    * too. Fully oracled: integer counts only. Since r17 the fact
    * tables audit through [[fkIntegrityMulti]]: lineitem's three
    * edges and orders' two ride ONE scan each (previously 3x + 2x —
    * the only common-surface query that rescanned its fact table);
    * the dimension-sized edges keep the single-edge form.
    */
  def q27FkIntegrity(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val edges = Seq(
      fkIntegrity("customer.c_nationkey->nation", cust, "c_nationkey",
        Tables.nation(s, dir), "n_nationkey"),
      fkIntegrityMulti(li, Seq(
        ("lineitem.l_orderkey->orders", "l_orderkey", ord, "o_orderkey"),
        ("lineitem.l_partkey->part", "l_partkey",
          Tables.part(s, dir), "p_partkey"),
        ("lineitem.l_suppkey->supplier", "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey"))),
      fkIntegrity("nation.n_regionkey->region", Tables.nation(s, dir), "n_regionkey",
        Tables.region(s, dir), "r_regionkey"),
      fkIntegrityMulti(ord, Seq(
        ("orders.o_custkey->customer", "o_custkey", cust, "c_custkey"),
        ("orders.o_custkey->customer_pruned", "o_custkey",
          cust.filter(col("c_custkey") % 13 =!= 0), "c_custkey"))),
      fkIntegrity("supplier.s_nationkey->nation", Tables.supplier(s, dir), "s_nationkey",
        Tables.nation(s, dir), "n_nationkey"))
    edges.reduce(_ unionByName _).orderBy("edge")
  }

  /** q29: gate binding of [[saltedJoin]] — the events fact side
    * scattered over 8 salt replicas of the customer dim, joined on
    * `user_id` (`c_custkey` renamed into the probe's key name, the
    * operator's same-name contract). Fully SQL-oracled as the PLAIN
    * inner join: the salting is a partitioning trick and must be
    * invisible in the result. Pure projection on both sides — no
    * arithmetic, so raw doubles pass the oracle hash bit-exactly.
    */
  def q29SaltedSkewJoin(s: SparkSession, dir: String): DataFrame =
    saltedJoin(
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      Tables.customer(s, dir).select(col("c_custkey").as("user_id"),
        col("c_name"), col("c_acctbal")),
      on = "user_id", salt = 8)
      .orderBy("event_id")

  /** EXACT mergeable aggregate state — the non-sketch twin of
    * [[sketchStates]] for the aggregates that merge losslessly
    * (count / sum / min / max): one state row per (group, unit),
    * values folded as exact decimals. Any coarser rollup — including
    * averages, which are NOT mergeable directly but derive from
    * sum/count — answers from state alone; appends compact by
    * re-aggregation ([[aggCompact]]), the same maintenance loop shape.
    * This is materialized-view maintenance done as plain tables: daily
    * partial aggregates at ingest, serving queries that never touch
    * raw data.
    */
  def aggStates(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(groupCols.map(q): _*)
      // count the VALUE, not the row: sum/min/max skip NULLs, so the
      // served mean must divide by the same population (SQL AVG
      // convention) — counting rows here would silently deflate it
      .agg(count(q(valueCol)).as("n_rows"),
        sum(q(valueCol).cast(D)).as("sum_v"),
        min(q(valueCol).cast(D)).as("min_v"),
        max(q(valueCol).cast(D)).as("max_v"))

  /** Merge same-key state rows after an append (sums add, extrema
    * fold) — exact at any depth of re-compaction.
    */
  def aggCompact(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(q): _*)
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))

  /** Roll state up to `keepCols` and serve the derived aggregates —
    * including the mean, computed from the EXACT decimal sum at serve
    * time (the reason avg itself never needs to be state).
    */
  def aggRollup(states: DataFrame, keepCols: Seq[String]): DataFrame =
    states.groupBy(keepCols.map(q): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).cast("double").as("sum_v"),
        min(col("min_v")).cast("double").as("min_v"),
        max(col("max_v")).cast("double").as("max_v"))
      .withColumn("avg_v", round(col("sum_v") / col("n_rows"), 6))

  /** q33: gate binding — daily per-event-type exact states over
    * events, rolled up to per-type totals purely from state. Fully
    * SQL-oracled: the state detour must be INVISIBLE — the oracle
    * computes the same aggregates directly from the raw rows (decimal
    * fold, double cast, identical mean expression), so the gate pins
    * lossless mergeability end to end.
    */
  def q33AggState(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("day", (col("ts") / lit(86400L * 1000000000L)).cast("long"))
    aggRollup(aggStates(e, Seq("event_type", "day"), "value"),
      Seq("event_type"))
      .orderBy("event_type")
  }

  /** Mergeable distinct-count sketch STATE tables (Apache DataSketches
    * HLL via Spark's own `hll_sketch_agg` family) — the incremental-
    * analytics pattern q18's one-shot sketches can't serve: persist one
    * fixed-size sketch per (group, partition-unit) — e.g. per day — and
    * answer any coarser rollup later by UNIONING states, never
    * re-touching the raw data. `valueCol` must be int/bigint/string/
    * binary (Spark's `hll_sketch_agg` contract) — cast a double id
    * column to string first if its distinct VALUES are what you count. At 100 TB this is the only viable
    * "distinct users last N days" architecture: the daily build is one
    * mergeable agg over the day's partition, the serving query unions a
    * few KB of state per day. `n_rows` counts ROWS, null values
    * included; the GK, Misra–Gries, bottom-k and reservoir families'
    * `n_rows` count only the non-null inputs their sketches folded.
    */
  def sketchStates(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(groupCols.map(q): _*)
      .agg(hll_sketch_agg(q(valueCol)).as("sketch"),
        count(lit(1)).as("n_rows"))

  /** Compact a (possibly duplicated-key) sketch state table back to one
    * row per key — the maintenance step of the incremental loop: each
    * arriving batch APPENDS its own states (`sketchStates` on the
    * batch, a map-only union), and compaction merges same-key sketches
    * with `hll_union_agg`, exactly the d12 LSM append+compact shape but
    * for aggregate state instead of signatures. StreamingSpec proves
    * the per-micro-batch deployment equals the sequential batch fold.
    */
  def sketchCompact(states: DataFrame, keyCols: Seq[String]): DataFrame =
    SketchTable.merged(states, keyCols, (_, sketch) => hll_union_agg(sketch))

  /** Roll persisted sketch states up to `keepCols`: union the sketches,
    * estimate, sum the exact row counts. State-in, answer-out — the raw
    * data is never touched.
    */
  def sketchRollup(states: DataFrame, keepCols: Seq[String]): DataFrame =
    states.groupBy(keepCols.map(q): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_distinct"),
        sum(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_states"))

  /** q32: gate binding — daily per-event-type HLL states over events,
    * rolled up to per-type distinct-user estimates purely from state.
    * rows-only oracle (sketch binaries and the HIP estimator are
    * engine-local); RelationalSpec bounds the estimate against exact
    * distinct counts and pins state-rollup vs direct-sketch agreement
    * and partition independence.
    */
  def q32SketchState(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("day", (col("ts") / lit(86400L * 1000000000L)).cast("long"))
    sketchRollup(sketchStates(e, Seq("event_type", "day"), "user_id"),
      Seq("event_type"))
      .orderBy("event_type")
  }

  /** The 32-term bit-interleave `z = Σ_i ((b1>>i)&1)<<2i | ((b2>>i)&1)<<(2i+1)`
    * as a SQL string — ONE generator serves both engines (Spark SQL and
    * DuckDB share the token syntax used here), so the gate's oracle is
    * the same expression by construction, not by careful transcription.
    */
  private[graft] def zInterleaveSql(b1: String, b2: String): String =
    (0 until 16).map { i =>
      s"((($b1 >> $i) & 1) << ${2 * i}) | ((($b2 >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")

  /** Z-order (Morton) layout key over two integer columns — the
    * data-layout step a 100 TB lake runs so that files are selective on
    * BOTH filter columns at once (Delta's OPTIMIZE ZORDER, Iceberg's
    * sort orders): each column min-max-bins to 16 bits with EXACT
    * integer arithmetic (`(v − min)·65535 / (max − min)`, integer
    * division — portable across engines, no doubles anywhere), and the
    * bins' bits interleave into one 32-bit Morton key. Sorting or
    * range-partitioning by `z` clusters rows so every file's min/max
    * footer spans a narrow range of BOTH columns — parquet row-group
    * pruning then skips on either predicate, where a lexicographic
    * sort leaves the second column full-range in every file
    * (BucketingSpec-style locality proven in RelationalSpec).
    *
    * Scale shape: one tiny global min/max agg broadcast back (the
    * corpus never shuffles for the KEY; the layout write itself range-
    * partitions by z — that shuffle IS the product). Constant columns
    * bin to 0. Appends that shift min/max re-bin only on the next
    * compaction, like every z-ordered table maintenance story.
    */
  def zorderKey(df: DataFrame, col1: String, col2: String): DataFrame = {
    val base = df.withColumn("__c1", q(col1).cast("long"))
      .withColumn("__c2", q(col2).cast("long"))
    val stats = base.agg(
      min(col("__c1")).as("__min1"), max(col("__c1")).as("__max1"),
      min(col("__c2")).as("__min2"), max(col("__c2")).as("__max2"))
    // floor(double-div) instead of integer div: Spark's `/` and
    // DuckDB's `/` both promote to double, and at these magnitudes
    // (numerator < 2^53, rational gap to any integer >= 1/range >>
    // double ulp) the floor is exact and engine-identical
    def bin(c: Column, lo: Column, hi: Column): Column =
      when(hi > lo, floor((c - lo) * 65535L / (hi - lo)).cast("long")).otherwise(0L)
    base.crossJoin(broadcast(stats))
      .withColumn("__b1", bin(col("__c1"), col("__min1"), col("__max1")))
      .withColumn("__b2", bin(col("__c2"), col("__min2"), col("__max2")))
      .withColumn("z", expr(zInterleaveSql("__b1", "__b2")).cast("long"))
      .drop("__c1", "__c2", "__b1", "__b2", "__min1", "__max1", "__min2", "__max2")
  }

  /** Re-layout a frame by its Morton key: range-partition into
    * `numFiles` buckets and sort within each — written out, every file
    * covers a compact rectangle of the (col1, col2) space. This is the
    * write-side product; [[zorderKey]] is the testable key.
    */
  def zorderBy(df: DataFrame, col1: String, col2: String,
      numFiles: Int = 16): DataFrame =
    zorderKey(df, col1, col2)
      .repartitionByRange(numFiles, col("z"))
      .sortWithinPartitions("z")

  /** q31: gate binding of [[zorderKey]] over lineitem's
    * (l_partkey, l_suppkey) — the two-predicate scan-pruning case.
    * Fully SQL-oracled: bins are exact integer arithmetic and the
    * interleave SQL string is SHARED with the oracle by construction.
    */
  def q31ZorderKey(s: SparkSession, dir: String): DataFrame =
    zorderKey(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")),
      "l_partkey", "l_suppkey")
      .orderBy("l_orderkey", "l_linenumber")

  /** Exact linear-interpolated quantiles per group — the precise twin
    * of q18's sketch percentiles, for when the number matters (SLA
    * cutoffs, contract thresholds, reward-model calibration splits):
    * for quantile q over n sorted values, `h = (n-1)·q`,
    * `value = v[⌊h⌋] + (h−⌊h⌋)·(v[⌊h⌋+1] − v[⌊h⌋])` (the standard
    * "linear" / type-7 definition) — the formula is spelled out
    * EXPRESSION-FOR-EXPRESSION rather than calling the built-in
    * `percentile`, because Spark's and DuckDB's interpolations order
    * their double operations differently and the gate hashes bits.
    * Output long-form: `(group, quantile, value)`.
    *
    * Scale shape (r10, rewritten after a 100x spot-check): ranks live
    * on the DISTINCT-VALUE histogram, never on raw rows — a mergeable
    * `(group, value) → count` aggregation (map-side combined) feeds
    * ONE window exchange whose per-group input is the distinct-value
    * count, not the row count; value v's rank RANGE is
    * `(cum − c, cum]` of the running count, and each target rank picks
    * its value by range containment. The original row-window
    * formulation sorted every row of a group inside one window task —
    * at sf10 (10M events over 5 groups = 2M rows per task) it took
    * 40 s and spilled; the histogram form runs the same answer in
    * ~2 s, because the house DECIMAL(12,2) quantization bounds the
    * per-group distinct values regardless of row count. Targets are a
    * tiny broadcast; the final agg touches ≤2 picked histogram rows
    * per (group, q). For genuinely continuous values at extreme scale
    * the histogram degrades toward the row count — then run q18's
    * mergeable sketch, or pre-thin with q19/q20.
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame =
    quantilesFromHistogram(histogramStates(df, groupCol, valueCol), qs)

  /** The mergeable per-(group, value) count histogram [[exactQuantiles]]
    * ranks — exposed as a STATE table (the third leg of the sketch-state
    * family: q32 HLL distincts, q50 count-min frequencies, this serves
    * EXACT quantiles): histograms from separate batches union and
    * [[histogramCompact]] by plain addition, raw rows are never kept,
    * and state is bounded by each group's DISTINCT quantized-value
    * cardinality (the house DECIMAL(12,2) quantization — for genuinely
    * continuous extreme-scale values use q18's fixed-size sketch
    * instead; that trade IS the exact-vs-approximate line). NULL values
    * carry no rank (the SQL aggregate convention — a null would
    * otherwise sort below every value and shift every quantile).
    */
  def histogramStates(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.select(q(groupCol).as("group"),
        q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy("group", "__v").agg(count(lit(1)).as("__c"))

  /** Merge same-(group, value) histogram states after an append —
    * counts ADD, exactly, at any re-compaction depth.
    */
  def histogramCompact(states: DataFrame): DataFrame =
    states.groupBy("group", "__v").agg(sum(col("__c")).as("__c"))

  /** Serve exact type-7 quantiles from a [[histogramStates]] frame —
    * the full q30 rank/interpolation arithmetic, so a maintained state
    * serves the same bits batch [[exactQuantiles]] computes.
    */
  def quantilesFromHistogram(counts: DataFrame,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    require(qs.nonEmpty && qs.forall(x => x >= 0.0 && x <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    // both windows share the (group) hash partitioning — one exchange;
    // the ordering column is distinct per row, so RANGE/ROWS coincide
    val wp = Window.partitionBy("group")
    val ranked = counts
      .withColumn("__cum", sum(col("__c")).over(wp.orderBy("__v")))
      .withColumn("n", sum(col("__c")).over(wp))
    val targets = ranked.filter(col("__cum") === col("__c")) // each group's min-value row
      .select(col("group").as("__g"), col("n"),
        explode(array(qs.map(lit): _*)).as("quantile"))
      .withColumn("h", (col("n") - 1).cast("double") * col("quantile"))
      .withColumn("lo_r", floor(col("h")).cast("long") + 1)
      .withColumn("hi_r", least(floor(col("h")).cast("long") + 2, col("n")))
      .withColumn("frac", col("h") - floor(col("h")))
      .select("__g", "quantile", "lo_r", "hi_r", "frac")
    def holds(r: org.apache.spark.sql.Column) =
      r > col("__cum") - col("__c") && r <= col("__cum")
    ranked.join(broadcast(targets),
        col("group") <=> col("__g") &&
          (holds(col("lo_r")) || holds(col("hi_r"))))
      .groupBy(col("group"), col("quantile"), col("frac"))
      .agg(max(when(holds(col("lo_r")), col("__v"))).as("__vlo"),
        max(when(holds(col("hi_r")), col("__v"))).as("__vhi"))
      .select(col("group"), col("quantile"),
        round(col("__vlo") + col("frac") * (col("__vhi") - col("__vlo")), 6)
          .as("value"))
  }

  /** [[exactQuantiles]] pivoted to one row per group: column `name`
    * holds the quantile at `q`, for each `(q, name)` of `cuts` — the
    * per-group-tiny fence/edge frame the q38/q51/q56 serves broadcast.
    */
  private def quantilePivot(df: DataFrame, groupCol: String, valueCol: String,
      cuts: Seq[(Double, String)]): DataFrame = {
    val pivot = cuts.map { case (qq, name) =>
      max(when(col("quantile") === qq, col("value"))).as(name)
    }
    exactQuantiles(df, groupCol, valueCol, cuts.map(_._1))
      .groupBy(col("group")).agg(pivot.head, pivot.tail: _*)
  }

  /** q30: gate binding of [[exactQuantiles]] on `events.value` per
    * `event_type` at the standard quartiles + p95. Fully SQL-oracled —
    * identical rank/interpolation arithmetic in DuckDB.
    */
  def q30GroupQuantiles(s: SparkSession, dir: String): DataFrame =
    exactQuantiles(Tables.events(s, dir), "event_type", "value")
      .withColumnRenamed("group", "event_type")
      .orderBy("event_type", "quantile")

  /** q65: the quantile STATE detour made visible to the gate — events
    * split three ways (event_id mod 3, a deterministic stand-in for
    * daily ingest batches), each batch folded to its own
    * [[histogramStates]], the union [[histogramCompact]]ed, and
    * quantiles served from the maintained state. The oracle computes
    * the SAME quantiles from the raw rows directly (the q30 SQL), so
    * the hash match itself pins that the state detour is invisible —
    * the q33 losslessness trick applied to quantile state.
    */
  def q65QuantileState(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val parts = (0 until 3).map(i =>
      histogramStates(ev.filter(pmod(col("event_id"), lit(3)) === i),
        "event_type", "value"))
    val state = histogramCompact(parts.reduce(_ unionByName _))
    quantilesFromHistogram(state)
      .withColumnRenamed("group", "event_type")
      .orderBy("event_type", "quantile")
  }

  /** Sketch-based approximate aggregates per event type: HyperLogLog++
    * distinct users (`approx_count_distinct`) and approximate value
    * percentiles (`percentile_approx`).
    *
    * At 100 TB these sketches are the ONLY viable formulation: both are
    * mergeable partial aggregates — each partition builds a fixed-size
    * sketch and the shuffle carries sketches, not values, so the plan is
    * one map-side-combined aggregation regardless of cardinality. An
    * exact countDistinct would shuffle every (type, user) pair; an exact
    * percentile would sort every value. rows-only oracle (sketch
    * estimates are engine-specific); RelationalSpec bounds the error
    * against the exact answers (HLL++ rsd 0.5% default, percentile
    * accuracy 10000).
    */
  def q18ApproxStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"),
        round(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)), 1), 2).as("p50_value"),
        round(element_at(percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000)), 2), 2).as("p95_value"))
      .orderBy("event_type")

  /** The exact half of the q18 per-type profile, split out so it can be
    * held to the full DuckDB oracle (the sketch half stays rows-only by
    * design — HLL++/KLL estimates are engine-specific). Same plan shape
    * as q18: one map-side-combined hash aggregation; count/min/max and
    * the DECIMAL-stabilized sum are all O(1) partial-agg state.
    */
  def q18ExactStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr(s"CAST(SUM(CAST(value AS $D)) AS DOUBLE)").as("total_value"),
        expr(s"CAST(MIN(CAST(value AS $D)) AS DOUBLE)").as("min_value"),
        expr(s"CAST(MAX(CAST(value AS $D)) AS DOUBLE)").as("max_value"))
      .orderBy("event_type")

  /** Snapshot diff: classify every key as `added` / `removed` /
    * `changed` between two keyed snapshots of the same table, dropping
    * unchanged rows. Reference analog: re-running the extraction after
    * a new filing season and diffing the produced tables against the
    * previous vintage (the PUDL-side "what changed in this data
    * release" question; latest-filing-wins q05 resolves WITHIN a
    * snapshot, this compares ACROSS snapshots).
    *
    * Output: the key columns, `change_type`, and `old_`/`new_`
    * prefixed copies of each compare column (null on the absent side
    * for added/removed rows). Comparison is null-safe (`<=>`), so a
    * value appearing or disappearing counts as changed while
    * null-to-null does not.
    *
    * Scale shape: one shuffle per side on the key columns feeding a
    * full-outer sort-merge join — the canonical co-partitioned diff
    * (bucketed storage on the key makes both exchanges vanish); the
    * classification is map-side over the joined rows and unchanged
    * rows are dropped before anything else touches them. Neither side
    * is broadcast — both are corpus-scale by assumption.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val o = oldSnap.select(keyCols.map(Cols.q) ++
      compareCols.map(c => Cols.q(c).as(s"old_$c")) :+ lit(true).as("_old_present"): _*)
    val n = newSnap.select(keyCols.map(Cols.q) ++
      compareCols.map(c => Cols.q(c).as(s"new_$c")) :+ lit(true).as("_new_present"): _*)
    val changed = compareCols.map(c => !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("_old_present").isNull, lit("added"))
          .when(col("_new_present").isNull, lit("removed"))
          .when(changed, lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(Cols.q) ++ (col("change_type") +:
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c")))): _*)
      .orderBy(keyCols.map(Cols.q): _*)
  }

  /** q22: gate binding of [[snapshotDiff]] on two deterministic order
    * vintages — the old snapshot misses every 7th key (filings not yet
    * submitted), the new snapshot misses keys ≡ 3 (mod 11) (amended
    * away) and re-states every 5th key's total at +10% (the restated
    * value goes through exact DECIMAL multiply, then one
    * correctly-rounded cast to DOUBLE, so Spark and DuckDB see the
    * identical double).
    */
  def q22SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val oldSnap = o.filter(pmod(col("o_orderkey"), lit(7L)) =!= 0L)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val newSnap = o.filter(pmod(col("o_orderkey"), lit(11L)) =!= 3L)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(pmod(col("o_orderkey"), lit(5L)) === 0L,
          expr(s"CAST(CAST(o_totalprice AS $D) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
  }

  /** SCD2 history build: collapse a stack of keyed snapshots (one per
    * vintage) into validity intervals — one row per (key, run of
    * consecutive vintages with identical values), with `valid_from` =
    * the first vintage of the run and `valid_to` = the vintage that
    * superseded it (null = still current). Reference analog: the full
    * vintage HISTORY of an extracted table across filing seasons —
    * q05 keeps only the latest vintage, q22 diffs two, this keeps every
    * distinct state with its lifespan (the slowly-changing-dimension
    * shape PUDL-style consumers build downstream of re-filed data).
    *
    * A key absent from some middle vintage keeps its interval open
    * until a LATER vintage actually changes its values — this is
    * attribute history (what did the record say, and when did it
    * change), not per-vintage membership (q22's job).
    *
    * Scale shape: ONE shuffle on the key columns serves everything —
    * the run-start flag (null-safe lag compare), the filter down to run
    * starts, and the `valid_to` lead all ride the same window
    * partitioning, so Catalyst plans a single exchange with two window
    * operators over it. No join, nothing broadcast, and only run-start
    * rows (bounded by real changes, not vintages × keys) survive past
    * the first window.
    */
  def scd2History(snapshots: DataFrame, keyCols: Seq[String], vintageCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "scd2History needs at least one key column")
    require(compareCols.nonEmpty, "scd2History needs at least one compare column")
    val w = Window.partitionBy(keyCols.map(Cols.q): _*).orderBy(Cols.q(vintageCol))
    val runStart = compareCols
      .map(c => !(Cols.q(c) <=> lag(Cols.q(c), 1).over(w)))
      .reduce(_ || _) || lag(Cols.q(vintageCol), 1).over(w).isNull
    snapshots
      .withColumn("_run_start", runStart)
      .filter(col("_run_start"))
      .withColumn("valid_from", Cols.q(vintageCol))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .select(keyCols.map(Cols.q) ++ compareCols.map(Cols.q) :+
        col("valid_from") :+ col("valid_to"): _*)
      .orderBy(keyCols.map(Cols.q) :+ col("valid_from"): _*)
  }

  /** q23: gate binding of [[scd2History]] on three deterministic order
    * vintages. Vintage 1 misses every 7th key (not yet filed); vintage
    * 2 restates every 5th key's total at +10%; vintage 3 additionally
    * moves keys ≡ 2 (mod 13) to status "R" and restates every 5th key
    * again at +20% of the original. Keys hit by no restatement collapse
    * to a single open interval; restated keys close one interval per
    * change. Restated values go through exact DECIMAL multiply then one
    * correctly-rounded DOUBLE cast (the q22 policy) so Spark and DuckDB
    * see identical doubles.
    */
  def q23Scd2History(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def restated(factor: String, scale: String): Column =
      when(pmod(col("o_orderkey"), lit(5L)) === 0L,
        expr(s"CAST(CAST(o_totalprice AS $D) * CAST($factor AS $scale) AS DOUBLE)"))
        .otherwise(col("o_totalprice")).as("o_totalprice")
    val v1 = o.filter(pmod(col("o_orderkey"), lit(7L)) =!= 0L)
      .select(col("o_orderkey"), lit(1).as("vintage"), col("o_orderstatus"), col("o_totalprice"))
    val v2 = o.select(col("o_orderkey"), lit(2).as("vintage"), col("o_orderstatus"),
      restated("1.1", "DECIMAL(2,1)"))
    val v3 = o.select(col("o_orderkey"), lit(3).as("vintage"),
      when(pmod(col("o_orderkey"), lit(13L)) === 2L, lit("R"))
        .otherwise(col("o_orderstatus")).as("o_orderstatus"),
      restated("1.2", "DECIMAL(2,1)"))
    scd2History(v1.union(v2).union(v3), Seq("o_orderkey"), "vintage",
      Seq("o_orderstatus", "o_totalprice"))
  }

  /** CDC merge — the WRITE side of the vintage family (q22 diffs two
    * snapshots, q23 builds the history, this APPLIES a changeset): the
    * MERGE INTO / CDC-apply semantics every incremental pipeline runs
    * to maintain a keyed table. `changes` carries the base's columns
    * plus `opCol`: `"U"` upserts the row (update if the key exists,
    * insert if not), `"D"` deletes the key; base rows untouched by the
    * changeset pass through. The changeset must be key-unique —
    * resolve a multi-event feed with latest-wins (the q05 machinery)
    * first, exactly as CDC consumers compact before applying.
    *
    * Scale shape: one shuffle per side on the key columns into a
    * co-partitioned LEFT ANTI sort-merge join (base minus touched
    * keys — with both sides bucket-stored on the key the exchanges
    * vanish, the q22 story), then the upsert rows append map-only via
    * union. Nothing is broadcast by the plan's construction — base and
    * changeset are both corpus-scale by assumption (AQE may still
    * elect a broadcast for a genuinely small changeset at runtime).
    * Never a full rewrite of untouched partitions' CONTENT — at 100 TB
    * pair this with partition pruning on a date/bucket column so only
    * affected files rewrite.
    */
  def cdcMerge(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(keyCols.nonEmpty, "cdcMerge needs at least one key column")
    val dataCols = base.columns.toSeq
    require(changes.columns.toSet == (dataCols :+ opCol).toSet,
      s"changes must carry the base columns plus '$opCol'")
    val untouched = base.join(changes.select(keyCols.map(Cols.q): _*),
      keyCols, "left_anti")
    val upserts = changes.filter(Cols.q(opCol) =!= "D")
      .select(dataCols.map(Cols.q): _*)
    untouched.unionByName(upserts)
      .orderBy(keyCols.map(Cols.q): _*)
  }

  /** q24: gate binding of [[cdcMerge]] on a deterministic changeset
    * over orders: keys ≡ 1 (mod 9) delete, keys ≡ 4 (mod 9) upsert
    * with status "X" and the total restated at +10% (the q22 DECIMAL
    * policy), and keys ≡ 7 (mod 9) generate brand-new inserts at
    * key + 100000000 with status "N". Fully SQL-oracled: both engines
    * build the identical changeset from the same table.
    */
  def q24CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val upd = o.filter(pmod(col("o_orderkey"), lit(9L)) === 4L)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        expr(s"CAST(CAST(o_totalprice AS $D) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)")
          .as("o_totalprice"), lit("U").as("op"))
    val del = o.filter(pmod(col("o_orderkey"), lit(9L)) === 1L)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit("D").as("op"))
    val ins = o.filter(pmod(col("o_orderkey"), lit(9L)) === 7L)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"), lit("U").as("op"))
    cdcMerge(o, upd.unionByName(del).unionByName(ins), Seq("o_orderkey"))
  }

  /** Multi-granularity summary in ONE pass via GROUPING SETS — the
    * reporting shape q08's ROLLUP can't express: rollup only nests
    * (a,b) → (a) → (), while a dashboard wants the two independent
    * single-axis breakdowns AND the cross AND the grand total. Four
    * separate groupBys would scan the corpus four times; grouping sets
    * expand each input row to its matching sets BEFORE the exchange,
    * so one scan + one map-side-combined hash aggregation serves all
    * four granularities — at 100 TB the scan dominates and this is 4×
    * fewer passes. `gid` is the explicit grouping indicator
    * (`grouping(a)*2 + grouping(b)`, bit set = aggregated away) and
    * grouped-away keys surface as the `(all)` sentinel, so the output
    * carries no NULLs whose sort order could differ across engines.
    */
  def groupingSetsSummary(df: DataFrame, aCol: String, bCol: String,
      valueCol: String): DataFrame =
    df.groupingSets(
        Seq(Seq(q(aCol), q(bCol)), Seq(q(aCol)), Seq(q(bCol)), Seq.empty),
        q(aCol), q(bCol))
      .agg(
        (grouping(q(aCol)).cast("int") * 2 + grouping(q(bCol)).cast("int"))
          .as("gid"),
        count(lit(1)).as("n_rows"),
        sum(q(valueCol).cast(D)).cast("double").as("total_value"))
      .select(coalesce(q(aCol), lit("(all)")).as("a"),
        coalesce(q(bCol), lit("(all)")).as("b"),
        col("gid"), col("n_rows"), col("total_value"))

  /** q34: gate binding of [[groupingSetsSummary]] on orders by
    * (priority, status). Fully SQL-oracled — DuckDB's GROUPING SETS
    * with the identical explicit gid arithmetic.
    */
  def q34GroupingSets(s: SparkSession, dir: String): DataFrame =
    groupingSetsSummary(Tables.orders(s, dir),
      "o_orderpriority", "o_orderstatus", "o_totalprice")
      .withColumnRenamed("a", "priority").withColumnRenamed("b", "status")
      .orderBy("gid", "priority", "status")

  /** Gap-and-islands: collapse each key's set of active integer ticks
    * (days, hours, …) into runs of CONSECUTIVE ticks and summarize the
    * runs per key — the activity-streak / coverage-gap question
    * (reference analog: which filing periods does an entity cover
    * without interruption). The classic trick: within a key, rank the
    * distinct ticks ascending; `tick − rank` is constant exactly along
    * a consecutive run, so it IS the island id — no self-join, no
    * iteration.
    *
    * Scale shape: distinct → rank → two aggregations, ALL partitioned
    * by the same key, so after the first exchange on `keyCol`
    * everything stays co-partitioned (one shuffle end to end; AQE
    * coalesces the tail). Nothing is ever paired row×row.
    */
  def gapIslands(df: DataFrame, keyCol: String, tickCol: String): DataFrame = {
    val ticks = df.select(q(keyCol), q(tickCol).cast("long").as("__tick"))
      .filter(col("__tick").isNotNull).distinct()
    val w = Window.partitionBy(q(keyCol)).orderBy(col("__tick"))
    val runs = ticks
      .withColumn("__island", col("__tick") - row_number().over(w))
      .groupBy(q(keyCol), col("__island"))
      .agg(count(lit(1)).as("__len"), min(col("__tick")).as("__start"))
    runs.groupBy(q(keyCol))
      .agg(sum(col("__len")).as("active_ticks"),
        count(lit(1)).as("n_islands"),
        max(col("__len")).as("longest_run"),
        min(col("__start")).as("first_tick"))
  }

  /** q35: gate binding of [[gapIslands]] on events — per-user runs of
    * consecutive ACTIVE DAYS (ns epoch integer-divided to days, exact
    * on both engines). Fully SQL-oracled.
    */
  def q35GapIslands(s: SparkSession, dir: String): DataFrame =
    gapIslands(
      Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day")),
      "user_id", "day")
      .orderBy("user_id")

  /** Merge overlapping/touching intervals per key (interval union —
    * the validity-window coalescing step behind SCD compaction,
    * sessionized-coverage reports, and reservation/outage rollups).
    * A row starts a new merged interval iff its start exceeds the
    * running max end of ALL earlier intervals of that key (window max
    * over `rows 1 preceding`'s unbounded frame); the running count of
    * those starts labels the merged group. Interval arithmetic stays
    * in exact integer ns.
    *
    * Scale shape: both window frames and the final aggregation share
    * one (key, start, id) sort within one hash partitioning of
    * `keyCol` — a single exchange+sort serves the whole operator. The
    * per-key merge is inherently sequential BY SEMANTICS (each
    * decision depends on the running max), so the window formulation
    * is the distributed optimum: keys run in parallel, rows stream
    * through the frame without materializing pairs.
    */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String, idCol: String): DataFrame = {
    val ord = Seq(q(startCol).asc, q(idCol).asc)
    val base = Window.partitionBy(q(keyCol)).orderBy(ord: _*)
    val prevMax = base.rowsBetween(Window.unboundedPreceding, -1)
    val cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__pmax", max(q(endCol)).over(prevMax))
      .withColumn("__new",
        when(col("__pmax").isNull || q(startCol) > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("merged_id", sum(col("__new")).over(cum))
      .groupBy(q(keyCol), col("merged_id"))
      .agg(min(q(startCol)).as("start_ns"), max(q(endCol)).as("end_ns"),
        count(lit(1)).as("n_merged"))
  }

  /** q36: gate binding of [[mergeIntervals]] — events become intervals
    * [ts, ts + (event_id mod 7 + 1) hours] (deterministic synthetic
    * durations, exact ns longs) merged per user. Fully SQL-oracled.
    */
  def q36IntervalMerge(s: SparkSession, dir: String): DataFrame =
    mergeIntervals(
      Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("ts").as("start_ns"),
        (col("ts") + (expr("event_id % 7") + lit(1L)) * lit(3600L * 1000000000L))
          .as("end_ns")),
      "user_id", "start_ns", "end_ns", "event_id")
      .orderBy("user_id", "merged_id")

  /** Deterministic weighted sampling without replacement (top-k per
    * group) — the source-mixing step that q20's per-group FRACTIONS
    * can't express: when each row should be kept proportionally to its
    * own weight (chars, tokens, a quality score), Efraimidis–Spirakis
    * reservoir keys `u^(1/w)` make "take the k largest keys" an exact
    * weighted sample. The uniform u derives from the house md5-prefix
    * trick (48 bits of the id's digest), so the sample is reproducible
    * across reruns, partitionings, AND engines; the key is ranked in
    * the order-equivalent form `w / −ln(u)` whose double magnitudes
    * (≫1) keep adjacent ranks separated by ~12 orders of magnitude
    * more than any libm ulp disagreement.
    *
    * Weight contract: weights are CLAMPED to `max(w, 1.0)` before
    * keying. The clamp exists for the degenerate inputs a corpus
    * always contains — zero, negative, or null weights would produce
    * 0/−ln(u), a sign-flipped key, or a null key respectively, each of
    * which silently corrupts the ranking — and it means weights are
    * interpreted as "at least one unit": rows whose weights are ALL
    * below 1 sample uniformly, not proportionally. Callers sampling
    * by a fractional score (e.g. a [0,1] quality probability) should
    * pre-scale it into a ≥1 range (`score * 1e6`) to keep
    * proportionality; count-like weights (chars, tokens, bytes — the
    * intended inputs) are unaffected.
    *
    * Scale shape: map-only keying, then ONE window top-k per group —
    * Catalyst's WindowGroupLimit pushes the rank filter into a
    * partial top-k BEFORE the exchange, so the shuffle carries ≈ k
    * rows per group per input partition, not the corpus.
    */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val u48 = conv(substring(md5(q(idCol).cast("string").cast("binary")), 1, 12),
      16, 10).cast("long")
    val u = (u48.cast("double") + 0.5) / lit(281474976710656.0) // 2^48
    val wgt = greatest(q(weightCol).cast("double"), lit(1.0))
    val ranked = df
      .withColumn("__wkey", wgt / -log(u))
      .withColumn("smp_rank", row_number().over(
        Window.partitionBy(q(groupCol)).orderBy(col("__wkey").desc, q(idCol))))
      .filter(col("smp_rank") <= k)
    ranked.select(q(groupCol), q(idCol), q(weightCol),
      round(col("__wkey"), 2).as("wkey"), col("smp_rank"))
  }

  /** q37: gate binding of [[weightedSample]] on documents — 20 docs
    * per source, weighted by n_chars (longer docs proportionally more
    * likely, the token-budget-aware mixture). Fully SQL-oracled:
    * identical md5-derived u and key arithmetic in DuckDB.
    */
  def q37WeightedSample(s: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", "n_chars", 20)
      .orderBy("source", "smp_rank")

  /** Tukey IQR outlier fences per group — the ROBUST outlier gate z-
    * scores (q28) can't provide: a heavy tail inflates the mean and
    * stddev until the outliers that caused it look normal, while
    * quartiles barely move. Fences are the classic
    * `[q1 − mult·IQR, q3 + mult·IQR]`; the output is one summary row
    * per group (fences + in/low/high counts) — the data-quality
    * profile consulted before numeric columns feed a model.
    *
    * Builds on [[exactQuantiles]] (exact q1/q3 on the VALUE HISTOGRAM,
    * never a raw-row sort) and pivots the two quantile rows per group
    * into fences; the fence frame is per-group-tiny, so serving it
    * back is a broadcast join and the classify+count pass is one
    * mergeable aggregation over the corpus. Fence arithmetic runs on
    * the ROUNDED quantiles (exactQuantiles' 6-dp contract) so the
    * fences — and therefore every boundary comparison — are
    * bit-identical across engines.
    */
  def iqrOutliers(df: DataFrame, groupCol: String, valueCol: String,
      mult: Double = 1.5): DataFrame = {
    val fences = quantilePivot(df, groupCol, valueCol, Seq(0.25 -> "q1", 0.75 -> "q3"))
      .withColumn("lo_fence", col("q1") - lit(mult) * (col("q3") - col("q1")))
      .withColumn("hi_fence", col("q3") + lit(mult) * (col("q3") - col("q1")))
    df.select(q(groupCol).as("group"),
        q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .join(broadcast(fences.withColumnRenamed("group", "__gf")), col("group") <=> col("__gf"))
      .groupBy(col("group"), col("q1"), col("q3"),
        col("lo_fence"), col("hi_fence"))
      .agg(count(lit(1)).as("n_values"),
        sum(when(col("__v") < col("lo_fence"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("__v") > col("hi_fence"), 1L).otherwise(0L)).as("n_high"))
  }

  /** q38: gate binding of [[iqrOutliers]] on events.value per
    * event_type at the standard 1.5×IQR. Fully SQL-oracled — the q30
    * interpolation CTE pivoted to fences, identical double arithmetic.
    */
  def q38IqrOutliers(s: SparkSession, dir: String): DataFrame =
    iqrOutliers(Tables.events(s, dir), "event_type", "value")
      .withColumnRenamed("group", "event_type")
      .orderBy("event_type")

  /** Sequential funnel analysis: for each entity, the earliest
    * timestamp of stage i that STRICTLY FOLLOWS its stage i−1 time
    * (earliest-conversion semantics: first view, first click after
    * that view, first purchase after that click) plus the furthest
    * stage reached — the conversion/attribution question q13's
    * sessions and q16's as-of join circle but don't answer.
    *
    * Each stage is one whole-partition window aggregate over the SAME
    * `partitionBy(entity)` (stage i's condition references stage i−1's
    * column, so the stages stack as successive Window operators — but
    * they all share one hash partitioning and need NO sort, so the
    * corpus is exchanged ONCE and never again; the final per-entity
    * collapse rides the same partitioning). A stage condition on a
    * null previous stage is null → excluded from MIN → cascading
    * nulls, exactly the "never reached" semantics.
    */
  def funnel(df: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy("__e")
    var cur = df.select(q(entityCol).as("__e"), q(typeCol).as("__t"),
      q(tsCol).cast("long").as("__ts"))
    stages.zipWithIndex.foreach { case (st, i) =>
      val hit = col("__t") === lit(st)
      val cond = if (i == 0) hit else hit && col("__ts") > col(s"stage${i - 1}_ts")
      cur = cur.withColumn(s"stage${i}_ts", min(when(cond, col("__ts"))).over(w))
    }
    val stageCols = stages.indices.map(i => col(s"stage${i}_ts"))
    cur.groupBy(col("__e"))
      .agg(max(stageCols.head).as("stage0_ts"),
        stageCols.tail.zipWithIndex.map { case (c, i) =>
          max(c).as(s"stage${i + 1}_ts")
        }: _*)
      .withColumnRenamed("__e", entityCol)
      .withColumn("funnel_stage",
        stages.indices.map(i =>
          when(col(s"stage${i}_ts").isNotNull, 1).otherwise(0))
          .reduce(_ + _))
  }

  /** q39: gate binding of [[funnel]] on events — the view → click →
    * purchase conversion funnel per user, earliest-conversion times as
    * exact ns longs. Fully SQL-oracled: identical stacked-window
    * arithmetic in DuckDB.
    */
  def q39Funnel(s: SparkSession, dir: String): DataFrame =
    funnel(Tables.events(s, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .select(col("user_id"), col("stage0_ts").as("view_ts"),
        col("stage1_ts").as("click_ts"), col("stage2_ts").as("purchase_ts"),
        col("funnel_stage"))
      .orderBy("user_id")

  /** Equi-width histogram per group — the distribution SHAPE profile
    * completing the family (q18 sketches, q30 exact quantiles, q38
    * robust fences): `nBins` equal-width bins over each group's
    * [min, max], emitted sparsely (empty bins absent). The per-group
    * bounds are one tiny agg broadcast back (the q31/q38 shape); the
    * binning is a map-side expression and the count is ONE mergeable
    * (group, bin) aggregation — the corpus never shuffles raw rows,
    * and the output is bounded by groups × nBins regardless of input
    * size. Bin arithmetic runs in doubles with the identical
    * operation order on both engines; the top edge clamps into the
    * last bin, constant groups collapse to bin 0.
    */
  def groupHistogram(df: DataFrame, groupCol: String, valueCol: String,
      nBins: Int = 20): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val vals = df.select(q(groupCol).as("group"),
        q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val bounds = vals.groupBy("group")
      .agg(min(col("__v")).as("vmin"), max(col("__v")).as("vmax"))
    val width = (col("vmax") - col("vmin")) / lit(nBins.toDouble)
    vals.join(broadcast(bounds), "group")
      .withColumn("bin",
        when(col("vmax") > col("vmin"),
          least(floor((col("__v") - col("vmin")) * lit(nBins.toDouble) /
            (col("vmax") - col("vmin"))).cast("int"), lit(nBins - 1)))
          .otherwise(0))
      .groupBy(col("group"), col("vmin"), col("vmax"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("group"), col("bin"),
        round(col("vmin") + col("bin") * width, 6).as("bin_lo"),
        round(col("vmin") + (col("bin") + 1) * width, 6).as("bin_hi"),
        col("n"))
  }

  /** q40: gate binding of [[groupHistogram]] on events.value per
    * event_type, 20 bins. Fully SQL-oracled — identical double bin
    * arithmetic in DuckDB.
    */
  def q40GroupHistogram(s: SparkSession, dir: String): DataFrame =
    groupHistogram(Tables.events(s, dir), "event_type", "value")
      .withColumnRenamed("group", "event_type")
      .orderBy("event_type", "bin")

  /** Per-group bivariate statistics — covariance, Pearson correlation,
    * and the OLS regression line (slope + intercept) of y on x — the
    * relationship profile none of the univariate family measures.
    * The moments are the two-column [[anchoredMoments]] fold over
    * (x,x), (y,y), (x,y); rows with a null x or y are dropped, and
    * constant-x/constant-y groups yield null correlation/slope rather
    * than a 0/0.
    */
  def groupRegression(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val (cxx, cyy, cxy) = (anchoredCov(0, 0), anchoredCov(1, 1), anchoredCov(0, 1))
    val beta = cxy / cxx
    anchoredMoments(df, groupCol, Seq(xCol, yCol), Seq((0, 0), (1, 1), (0, 1)))
      .select(col("group"), col("n"),
        round(cxy, 6).as("cov"),
        when(cxx > 0.0 && cyy > 0.0, round(cxy / sqrt(cxx * cyy), 6))
          .as("corr"),
        when(cxx > 0.0, round(beta, 6)).as("beta"),
        when(cxx > 0.0,
          round(col("__s1") / col("n") - beta * (col("__s0") / col("n")), 6))
          .as("alpha"))
  }

  /** q41: gate binding of [[groupRegression]] — quantity vs extended
    * price per return flag on lineitem (the do-bigger-orders-cost-
    * proportionally-more question). Fully SQL-oracled: identical
    * anchored DECIMAL folds in DuckDB.
    */
  def q41GroupRegression(s: SparkSession, dir: String): DataFrame =
    groupRegression(Tables.lineitem(s, dir), "l_returnflag",
      "l_quantity", "l_extendedprice")
      .withColumnRenamed("group", "l_returnflag")
      .orderBy("l_returnflag")

  /** Wide → long reshape (unpivot/melt): the exact INVERSE of q04's
    * pivot, and the load-bearing half of the round trip — the
    * reference's fact model IS the long form (one (entity, metric,
    * value) row per fact), so re-deriving it from a wide table is how
    * extracted tables feed back into fact-level tooling. Spark's
    * native `unpivot` expands each row to one row per value column
    * INSIDE the scan projection (an Expand, like q34 — map-only, no
    * shuffle, no UDF); values unify to the common cast type up front.
    */
  def meltWide(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      metricName: String = "metric", valueName: String = "value"): DataFrame = {
    require(valueCols.nonEmpty, "meltWide needs at least one value column")
    df.unpivot(idCols.map(Cols.q).toArray, valueCols.map(Cols.q).toArray,
      metricName, valueName)
  }

  /** q42: gate binding of [[meltWide]] — lineitem's four pricing
    * measures melted to (orderkey, linenumber, metric, value) long
    * form. Fully SQL-oracled: the oracle is the portable UNION ALL
    * spelling of the same reshape, DECIMAL-quantized on both sides.
    */
  def q42Unpivot(s: SparkSession, dir: String): DataFrame =
    // r17: sort the WIDE frame, then melt — the presentation sort moves
    // n rows instead of 4n (guide §3.3: fan-out after the exchange, not
    // before it). The value columns are listed in metric-lexical order,
    // so each sorted wide row expands to its four long rows already in
    // (l_orderkey, l_linenumber, metric) order: the output multiset AND
    // its presentation order are unchanged (oracle re-verified exact;
    // measured 3.6 → 1.9 s warm at sf0.1). At 100 TB the saving is the
    // 4x reduction of the range-exchange's shuffled bytes.
    meltWide(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(D).cast("double").as("quantity"),
        col("l_extendedprice").cast(D).cast("double").as("extendedprice"),
        col("l_discount").cast(D).cast("double").as("discount"),
        col("l_tax").cast(D).cast("double").as("tax"))
        .orderBy("l_orderkey", "l_linenumber"),
      Seq("l_orderkey", "l_linenumber"),
      Seq("discount", "extendedprice", "quantity", "tax"))

  /** Time-series densification: expand each key's observed integer
    * ticks to its FULL [min, max] spine and carry the last observation
    * forward into the gaps (LOCF) — the step that turns sparse event
    * aggregates into the regular series downstream joins and window
    * features assume (every asof-style consumer silently depends on
    * it). A missing tick OR a null observation both count as gaps
    * (`is_filled` marks them); nothing extrapolates before a key's
    * first observation. Contract: ONE row per (key, tick) — aggregate
    * first (the q43 gate does), or a duplicated tick fans the spine
    * join out.
    *
    * Scale shape: the spine generates from each key's own (lo, hi)
    * span — one tiny agg, a map-side `sequence` explode (spine length
    * is bounded by the time range, not the data volume), a
    * co-partitioned left join back on (key, tick), and ONE key-window
    * carry-forward. Keys shuffle; observations only ever meet their
    * own key's spine.
    */
  def densifyLocf(df: DataFrame, keyCol: String, tickCol: String,
      valueCol: String): DataFrame = {
    val obs = df.select(q(keyCol).as("__k"), q(tickCol).cast("long").as("__t"),
      q(valueCol).as("__v"))
    val spine = obs.groupBy("__k")
      .agg(min(col("__t")).as("__lo"), max(col("__t")).as("__hi"))
      .select(col("__k"), explode(sequence(col("__lo"), col("__hi"))).as("__t"))
    val w = Window.partitionBy("__k").orderBy("__t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(obs, Seq("__k", "__t"), "left")
      .select(col("__k").as(keyCol), col("__t").as(tickCol),
        last(col("__v"), ignoreNulls = true).over(w).as("value"),
        col("__v").isNull.as("is_filled"))
  }

  /** q43: gate binding of [[densifyLocf]] — the per-type DAILY value
    * series (decimal-exact daily sums) densified over each type's day
    * span. Fully SQL-oracled: identical spine generation and
    * IGNORE-NULLS carry-forward in DuckDB.
    */
  def q43DensifyLocf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast(D)).cast("double").as("daily_value"))
    densifyLocf(daily, "event_type", "day", "daily_value")
      .orderBy("event_type", "day")
  }

  /** Cohort retention matrix: entities bucketed by their FIRST-activity
    * period (the cohort), then for each (cohort, periods-since) the
    * count still active — the standard growth/retention analysis, and
    * for a corpus pipeline the same shape as "documents by first-crawl
    * snapshot × re-crawl offset". `retention` is the IEEE division of
    * two exact BIGINT counts (deterministic across engines — no
    * rounding dance needed).
    *
    * Scale shape: activity collapses to distinct (entity, period)
    * FIRST (one shuffle with map-side combine — the raw event volume
    * never goes further); the cohort is a per-entity window min over
    * those already-collapsed rows; the matrix is one more mergeable
    * agg. Cohort sizes are the matrix's own offset-0 rows (every
    * cohort has one by construction), picked up by a window over the
    * MATRIX — cohorts × offsets rows, so the last two exchanges are
    * metadata-sized. No join anywhere: the join formulation would
    * recompute the whole activity chain for its second branch.
    */
  def cohortRetention(df: DataFrame, entityCol: String, periodCol: String): DataFrame = {
    val activity = df.select(q(entityCol).as("__e"), q(periodCol).cast("long").as("__p"))
      .distinct()
    val w = Window.partitionBy("__e")
    val counts = activity
      .withColumn("cohort", min(col("__p")).over(w))
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
    val wc = Window.partitionBy("cohort")
    counts
      .withColumn("cohort_size",
        max(when(col("period_offset") === 0, col("n_active"))).over(wc))
      .select(col("cohort"), col("period_offset"), col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double")).as("retention"))
  }

  /** q44: gate binding of [[cohortRetention]] — users cohorted by
    * first-event WEEK (day div 7 on the ns-epoch clock). Fully
    * SQL-oracled: integer week math, BIGINT counts, exact-integer
    * division on both sides.
    */
  def q44CohortRetention(s: SparkSession, dir: String): DataFrame =
    cohortRetention(
      Tables.events(s, dir)
        .select(col("user_id"), expr("(ts div 86400000000000) div 7").as("week")),
      "user_id", "week")
      .withColumnRenamed("cohort", "cohort_week")
      .withColumnRenamed("period_offset", "week_offset")
      .orderBy("cohort_week", "week_offset")

  /** Equi-depth histogram (the complement of q40's equi-WIDTH bins and
    * q30's quantile POINTS): per group, assign each distinct value to
    * the bucket holding its cumulative rank, so buckets carry ~equal
    * row counts and boundaries land on values (ties never straddle
    * buckets — the property optimizers and samplers want from depth
    * histograms).
    *
    * Scale shape: the q30 lesson applied — NEVER a per-group ntile
    * window over raw rows (one task per group at 100 TB). Rows first
    * collapse to the per-group VALUE HISTOGRAM (one shuffle, map-side
    * combine, output bounded by value cardinality not volume); the
    * cumulative window then runs over distinct values only, and the
    * bucket id is exact integer math `cum_before * B div n` — no float
    * boundary can disagree across engines.
    */
  def equidepthHistogram(df: DataFrame, groupCol: String, valueCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets > 0, "equidepthHistogram needs at least one bucket")
    val hist = df.filter(q(valueCol).isNotNull)
      .groupBy(q(groupCol).as("__g"), q(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("__cum", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy("__g")))
      .withColumn("bucket", expr(s"(__cum * $buckets) div __n"))
      .groupBy(col("__g").as(groupCol), col("bucket"))
      .agg(sum(col("__c")).cast("long").as("n"),
        min(col("__v")).as("lo"), max(col("__v")).as("hi"))
  }

  /** q45: gate binding of [[equidepthHistogram]] — 10 depth buckets of
    * events.value per event_type. Fully SQL-oracled (identical
    * histogram-then-integer-bucket formulation; DuckDB's window SUMs
    * cast back to BIGINT per the q25 widening lesson).
    */
  def q45EquidepthHistogram(s: SparkSession, dir: String): DataFrame =
    equidepthHistogram(Tables.events(s, dir), "event_type", "value", 10)
      .orderBy("event_type", "bucket")

  /** Compaction bin-packing: the lake-maintenance planner that turns a
    * FILE LISTING (one row per file with its byte size) into compaction
    * assignments — consecutive files in key order packed into bins of
    * ~`targetBytes` (bin = exact integer `cum_before div target`, so a
    * file starting before a boundary closes that bin: bins can
    * slightly overshoot, never undershoot-and-fragment). Pairs with
    * q31 (z-order WHAT to rewrite) — this is HOW MUCH and WITH WHOM.
    *
    * Scale shape: compaction planning is metadata work — one row per
    * FILE, so 100 TB ≈ a few million rows, not the data volume. Sizes
    * go exact (DECIMAL cents) before the cumulative window; the
    * per-group window over a file listing is bounded by listing size
    * by construction. The plan's output (group, bin) is what a
    * rewrite job then executes per bin, embarrassingly parallel.
    *
    * Mega-listing rule: the cumulative window is ONE TASK PER GROUP by
    * semantics (a running sum is sequential within its key), so a
    * degenerate listing — 10^8 files under a single prefix — would
    * serialize. The recipe is to SHARD THE LISTING KEY: pass a
    * composite `groupCol` (table + lake partition, e.g.
    * `concat(table, '/', dt)`), which is what a real compaction
    * planner wants anyway — a rewrite job cannot merge files across
    * hive/iceberg partitions, so bins never need to span them. Packing
    * the composite key is EXACTLY equivalent to packing each shard
    * independently (the cumulative sum restarts per key), which
    * LibraryApiSpec pins, and it bounds every window task at
    * files-per-partition. A listing that is genuinely one unbounded
    * un-partitioned prefix is a lake-layout bug, not a planner input.
    */
  def compactionBins(files: DataFrame, groupCol: String, fileCol: String,
      sizeCol: String, targetSize: Long): DataFrame = {
    require(targetSize > 0, "compactionBins needs a positive target size")
    val sized = files.select(q(groupCol).as("__g"), q(fileCol).as("__f"),
      q(sizeCol).cast(D).as("__sz"))
      .withColumn("__cents", expr("CAST(__sz * 100 AS BIGINT)"))
    val w = Window.partitionBy("__g").orderBy("__f")
      .rowsBetween(Window.unboundedPreceding, -1)
    sized
      .withColumn("__cum", coalesce(sum(col("__cents")).over(w), lit(0L)))
      .withColumn("bin", expr(s"__cum div ${targetSize * 100}"))
      .groupBy(col("__g").as(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        (sum(col("__cents")).cast("double") / 100.0).as("bin_size"),
        min(col("__f")).as("first_file"), max(col("__f")).as("last_file"))
  }

  /** q46: gate binding of [[compactionBins]] — orders stand in for the
    * file listing (o_orderkey the file id, o_totalprice the size,
    * o_orderstatus the partition), packed toward 1M-unit bins. Fully
    * SQL-oracled: DECIMAL cents, integer bin ids, BIGINT casts on
    * DuckDB's widening window SUM.
    */
  def q46CompactionBins(s: SparkSession, dir: String): DataFrame =
    compactionBins(Tables.orders(s, dir), "o_orderstatus", "o_orderkey",
      "o_totalprice", 1000000L)
      .orderBy("o_orderstatus", "bin")

  /** Trailing-window rolling statistics over a regular series: per key,
    * the RANGE-frame sum/count/avg of the last `span` ticks — the
    * moving-average feature q06's cumulative window cannot express (a
    * bounded range frame evicts, a running frame never does). Input
    * contract matches [[densifyLocf]]: one row per (key, tick) —
    * aggregate first, as the q47 gate does.
    *
    * Scale shape: ONE per-key window (rows ordered by tick, frame
    * bounded by span); the sum goes exact DECIMAL inside the frame and
    * back to DOUBLE at serve, so eviction arithmetic cannot drift —
    * and the avg is the IEEE division of two exact values.
    */
  def rollingWindowStats(df: DataFrame, keyCol: String, tickCol: String,
      valueCol: String, span: Int): DataFrame = {
    require(span > 0, "rollingWindowStats needs a positive span")
    val w = Window.partitionBy(q(keyCol)).orderBy(q(tickCol).cast("long"))
      .rangeBetween(-(span - 1L), 0L)
    df.select(q(keyCol), q(tickCol).cast("long").as(tickCol), q(valueCol),
      sum(q(valueCol).cast(D)).over(w).cast("double").as("roll_sum"),
      count(q(valueCol)).over(w).as("roll_n"),
      (sum(q(valueCol).cast(D)).over(w).cast("double") /
        count(q(valueCol)).over(w).cast("double")).as("roll_avg"))
  }

  /** q47: gate binding of [[rollingWindowStats]] — the 7-day trailing
    * sum/avg of each event type's decimal-exact daily value series.
    * Fully SQL-oracled (identical RANGE frame over integer days in
    * DuckDB).
    */
  def q47RollingStats(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast(D)).cast("double").as("daily_value"))
    rollingWindowStats(daily, "event_type", "day", "daily_value", 7)
      .orderBy("event_type", "day")
  }

  /** Last-touch attribution: each conversion event credited to the
    * SAME entity's most recent strictly-preceding touch event — the
    * marketing-attribution classic, and for a corpus pipeline the
    * "which crawl seeded this document" provenance question. Ordering
    * is total ((ts, id) tiebreak) and the carry frame ends at `1
    * PRECEDING`, so a touch sharing the conversion's timestamp
    * attributes only if its id sorts first; conversions with no prior
    * touch keep NULL credit (organic).
    *
    * Scale shape: the scan filter keeps only touch+conversion rows
    * (pushed to parquet), then ONE per-entity window carries the last
    * touch forward — the q16 as-of lesson: never a range join, never
    * per-conversion lookback.
    */
  def lastTouchAttribution(df: DataFrame, entityCol: String, tsCol: String,
      idCol: String, typeCol: String, touchType: String,
      convType: String): DataFrame = {
    val e = df.select(q(entityCol).as("__e"), q(tsCol).cast("long").as("__t"),
      q(idCol).as("__i"), q(typeCol).as("__y"))
      .filter(col("__y").isin(touchType, convType))
    val w = Window.partitionBy("__e").orderBy(col("__t"), col("__i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("touch_id",
        last(when(col("__y") === touchType, col("__i")), ignoreNulls = true).over(w))
      .withColumn("touch_ts",
        last(when(col("__y") === touchType, col("__t")), ignoreNulls = true).over(w))
      .filter(col("__y") === convType)
      .select(col("__e").as(entityCol), col("__i").as("conv_id"),
        col("__t").as("conv_ts"), col("touch_id"), col("touch_ts"),
        (col("__t") - col("touch_ts")).as("gap_ns"))
  }

  /** q48: gate binding of [[lastTouchAttribution]] — purchases credited
    * to the user's last preceding click. Fully SQL-oracled (identical
    * IGNORE NULLS carry with the identical total order and 1-PRECEDING
    * frame in DuckDB; all columns integer).
    */
  def q48Attribution(s: SparkSession, dir: String): DataFrame =
    lastTouchAttribution(Tables.events(s, dir), "user_id", "ts", "event_id",
      "event_type", "click", "purchase")
      .orderBy("user_id", "conv_ts", "conv_id")

  /** Event-transition (first-order Markov) statistics: for every
    * consecutive pair in each entity's totally-ordered stream, the
    * (from, to) transition count and the exact dwell-time sum/mean —
    * the "what happens next" matrix behind pathing analysis, Markov
    * attribution, and next-action models; q39's funnel asks about ONE
    * prescribed path, this measures ALL of them. Ordering is total
    * ((ts, id) tiebreak); a same-ts pair contributes a 0-gap
    * transition in tiebreak order rather than being dropped.
    *
    * Scale shape: ONE per-entity window (lead over the total order —
    * pairing is per-row, never a self-join) feeding ONE mergeable
    * (from, to) aggregation whose output is bounded by the type
    * alphabet squared, whatever the event volume. Gap sums fold in
    * exact DECIMAL(38,0) — a BIGINT ns fold overflows at ~9.2e18,
    * which a mere 10M-event stream at ns granularity already exceeds
    * (the sf10 spot check caught exactly this) — and serve as the
    * IEEE double of the exact fold; the mean divides exact operands.
    */
  def eventTransitions(df: DataFrame, entityCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col("__e")).orderBy(col("__t"), col("__i"))
    val gap = (col("__nt") - col("__t")).cast("decimal(38,0)")
    df.select(q(entityCol).as("__e"), q(tsCol).cast("long").as("__t"),
      q(idCol).as("__i"), q(typeCol).as("__y"))
      .withColumn("__ny", lead(col("__y"), 1).over(w))
      .withColumn("__nt", lead(col("__t"), 1).over(w))
      .filter(col("__ny").isNotNull)
      .groupBy(col("__y").as("from_type"), col("__ny").as("to_type"))
      .agg(count(lit(1)).as("n"),
        sum(gap).cast("double").as("gap_ns_sum"),
        (sum(gap).cast("double") /
          count(lit(1)).cast("double")).as("gap_ns_avg"))
  }

  /** q49: gate binding of [[eventTransitions]] over the user event
    * streams. Fully SQL-oracled (identical lead window with the
    * identical total order in DuckDB; BIGINT casts on its widening
    * SUM).
    */
  def q49EventTransitions(s: SparkSession, dir: String): DataFrame =
    eventTransitions(Tables.events(s, dir), "user_id", "ts", "event_id",
      "event_type")
      .orderBy("from_type", "to_type")

  /** Mergeable FREQUENCY-sketch state tables (count-min) — the third
    * leg of the state family: q32 sketches DISTINCTS, q33 keeps exact
    * per-key aggregates, and this bounds per-VALUE frequency queries
    * ("how often did X appear") where exact value-level state would
    * explode at 100 TB (the state is groups × depth × width rows,
    * whatever the value cardinality). State is the SPARSE
    * (group, d, bucket, n) counter matrix: `depth` independent
    * md5-salted hash rows × `width` buckets, mergeable by plain
    * counter ADDITION at any compaction depth; a point query serves
    * as the MIN over the d counters — the classic CM guarantee:
    * errors only ever ADD, an estimate can never undercount. Buckets
    * come from the house content-stable md5-prefix of `value ":" d`,
    * so states are bit-identical across reruns, partitionings, AND
    * engines — the whole sketch is SQL-oracle-able, unlike binary HLL
    * state.
    */
  def countMinStates(df: DataFrame, groupCols: Seq[String], valueCol: String,
      depth: Int = 4, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 1, "countMinStates needs positive depth and width")
    countMinCells(df.select(groupCols.map(q) :+ q(valueCol).cast("string").as("__v"): _*),
        depth, width)
      .groupBy(groupCols.map(q) :+ col("d") :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Each row's `depth` count-min cells: one row per hash row `d`, with
    * the md5-salted `bucket` of its `__v` out of `width`.
    */
  private def countMinCells(df: DataFrame, depth: Int, width: Int): DataFrame =
    df.withColumn("d", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("d", col("d").cast("long"))
      .withColumn("bucket", pmod(
        expr("CAST(conv(substring(md5(CAST(concat(__v, ':', d) AS BINARY)), 1, 12), 16, 10) AS BIGINT)"),
        lit(width.toLong)))

  /** Merge same-key CM state rows after an append — counters ADD,
    * exactly, at any re-compaction depth (the q33/d12 LSM shape).
    */
  def countMinCompact(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(q) :+ col("d") :+ col("bucket"): _*)
      .agg(sum(col("n")).cast("long").as("n"))

  /** Point-query a CM state table for each (group, value) row of
    * `queries`: recompute the d salted buckets, left-join the state
    * (a missing counter IS zero), take the min — state-in, answer-out,
    * the raw data never touched. `estimate >= true count` always.
    */
  def countMinEstimate(states: DataFrame, keyCols: Seq[String],
      queries: DataFrame, valueCol: String, depth: Int = 4,
      width: Int = 64): DataFrame = {
    val probes = countMinCells(queries
      .select(keyCols.map(q) :+ q(valueCol).cast("string").as("__v"): _*)
      .distinct(), depth, width)
    probes.join(states, keyCols :+ "d" :+ "bucket", "left")
      .groupBy(keyCols.map(q) :+ col("__v").as(valueCol): _*)
      .agg(min(coalesce(col("n"), lit(0L))).as("estimate"))
  }

  /** q50: gate binding of [[countMinStates]] — per-event-type user
    * frequency sketches (depth 4 × width 64). Fully SQL-oracled: the
    * md5 bucketing, the salt, and the counter counts restate exactly
    * in DuckDB (the one frequency sketch an engine-independent oracle
    * can check counter for counter).
    */
  def q50CountminState(s: SparkSession, dir: String): DataFrame =
    countMinStates(Tables.events(s, dir), Seq("event_type"), "user_id")
      .orderBy("event_type", "d", "bucket")

  /** Per-group winsorization: clamp every value into its group's
    * [loQ, hiQ] exact-quantile fences — the outlier-capping step that
    * runs BEFORE q28's normalization in a feature pipeline (a z-score
    * over unclipped heavy tails is dominated by the tail; winsorize
    * first, then normalize). Exact fences via [[exactQuantiles]]
    * (type-7 interpolation, the q30 discipline) so the clamp threshold
    * is a defined number, not a sketch estimate; `clipped` flags the
    * affected rows so downstream can audit the clip rate per group.
    *
    * Scale shape: [[exactQuantiles]]'s histogram aggregation (mergeable
    * `(group, value) → count`, ONE window exchange over per-group
    * DISTINCT values) produces a groups×2 fence frame that broadcasts;
    * the serve is a map-only broadcast-hash join + two comparisons —
    * the corpus itself never shuffles. At extreme per-group continuous
    * cardinality, swap the fence pass for q18's mergeable sketch
    * percentiles and keep the identical map-only serve.
    */
  def winsorize(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame = {
    require(loQ >= 0.0 && hiQ <= 1.0 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1, got ($loQ, $hiQ)")
    val v = df.select(q(groupCol).as("__g2"), q(idCol).as("__id"),
      q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val fences = quantilePivot(df, groupCol, valueCol,
      Seq(loQ -> "lo_fence", hiQ -> "hi_fence"))
    v.join(broadcast(fences), col("__g2") <=> col("group"))
      .select(col("__g2").as(groupCol), col("__id").as(idCol),
        col("__v").as(valueCol),
        least(greatest(col("__v"), col("lo_fence")), col("hi_fence"))
          .as("winsorized"),
        (col("__v") < col("lo_fence") || col("__v") > col("hi_fence"))
          .as("clipped"),
        col("lo_fence"), col("hi_fence"))
  }

  /** q51: gate binding of [[winsorize]] — `events.value` clamped into
    * each event type's exact [p05, p95]. Fully SQL-oracled: the fence
    * CTE restates q30's interpolation arithmetic at (0.05, 0.95) and
    * the clamp runs least/greatest on bit-identical rounded fences.
    */
  def q51Winsorize(s: SparkSession, dir: String): DataFrame =
    winsorize(Tables.events(s, dir), "event_type", "event_id", "value")
      .orderBy("event_type", "event_id")

  /** Majority-vote label consensus: per item, the modal label over its
    * votes with a DETERMINISTIC tie-break (higher count first, then
    * lexically smallest label) — the annotation-resolution step of a
    * labeled-data pipeline (multiple raters / heuristic labelers /
    * model votes per item collapse to one training label plus an
    * agreement score for confidence filtering). `agreement` is the
    * plurality fraction; `is_majority` marks a strict >50% winner —
    * filter on either to keep only confidently-labeled items.
    *
    * Scale shape: ONE mergeable vote-count aggregation (map-side
    * combined, keyed (item, label) so raters of one item spread over
    * partitions until the combine), then ONE (item)-keyed exchange
    * serving both windows (unordered total + ordered row_number —
    * Catalyst's WindowGroupLimit pushes the rank-1 filter into a
    * partial top-1 before the shuffle). Vote volume per item is
    * rater-bounded, so no skew path is needed.
    */
  /** Vote-count STATE for [[labelConsensus]] — `(item, label) → n`
    * rows, the mergeable half of the consensus (the q33/q50 state
    * discipline): states from separate batches union and
    * [[voteCompact]] by plain addition, so a stream maintains votes
    * without keeping raw rows, and [[consensusFromVotes]] serves the
    * answer state-in/answer-out at any point.
    */
  def voteStates(df: DataFrame, itemCol: String, labelCol: String): DataFrame =
    df.filter(q(labelCol).isNotNull)
      .groupBy(q(itemCol).as("__item"), q(labelCol).as("__label"))
      .agg(count(lit(1)).as("__n"))

  /** Merge same-key vote states after an append — counts ADD, exactly,
    * at any re-compaction depth.
    */
  def voteCompact(states: DataFrame): DataFrame =
    states.groupBy(col("__item"), col("__label"))
      .agg(sum(col("__n")).cast("long").as("__n"))

  /** Serve the consensus from a vote-state table (see
    * [[labelConsensus]] for the semantics and scale shape of the
    * item-keyed window pass).
    */
  def consensusFromVotes(states: DataFrame, itemCol: String): DataFrame = {
    val w = Window.partitionBy("__item")
    states
      .withColumn("__tot", sum(col("__n")).over(w))
      .withColumn("__rk", row_number().over(
        w.orderBy(col("__n").desc, col("__label"))))
      .filter(col("__rk") === 1)
      .select(col("__item").as(itemCol), col("__label").as("consensus"),
        col("__n").as("n_votes"), col("__tot").as("n_total"),
        round(col("__n").cast("double") / col("__tot").cast("double"), 6)
          .as("agreement"),
        (col("__n") * 2 > col("__tot")).as("is_majority"))
  }

  def labelConsensus(df: DataFrame, itemCol: String, labelCol: String): DataFrame =
    consensusFromVotes(voteStates(df, itemCol, labelCol), itemCol)

  /** q52: gate binding of [[labelConsensus]] — each user's events vote
    * for an event type; the consensus is the user's modal type. Fully
    * SQL-oracled (counts, the deterministic tie-break, and the
    * agreement ratio restate exactly).
    */
  def q52LabelConsensus(s: SparkSession, dir: String): DataFrame =
    labelConsensus(Tables.events(s, dir), "user_id", "event_type")
      .orderBy("user_id")

  /** Long-form column profile: per requested column, row/null/distinct
    * counts plus typed min/max — the pipeline-health check every
    * ingest runs before trusting a new data drop (nullity spikes,
    * cardinality collapse, and range drift are the three cheap
    * early-warning signals). Numeric columns report `min_num`/`max_num`
    * under the house DECIMAL(12,2)→DOUBLE policy; string columns
    * report lexical `min_str`/`max_str` (strings hash exactly across
    * engines; doubles rendered AS strings would not).
    *
    * Scale shape: ONE aggregation over one scan — every metric is a
    * mergeable partial (count/min/max), assembled long-form by a
    * map-only explode of the single wide row, so profiling N columns
    * costs one pass regardless of N. The exception is exact
    * `n_distinct`, whose multi-column form Catalyst plans as an Expand
    * (one duplicated stream per distinct column — the standard exact
    * shape, input×N before the partial combine); at 100 TB pass
    * `approxDistinct = true` to swap in HLL++ partials and keep the
    * whole profile a single narrow pass (the q18 trade, estimates
    * within ~0.5% rsd).
    */
  def profileColumns(df: DataFrame, cols: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    import org.apache.spark.sql.types.NumericType
    val isNum: Map[String, Boolean] = cols.map { c =>
      c -> df.schema(c).dataType.isInstanceOf[NumericType]
    }.toMap
    // r17: string min/max moved to their OWN single-row aggregate. A
    // var-length (string) aggregation buffer is not HashAggregate-able,
    // so one string extremum in the multi-distinct aggregate forced the
    // WHOLE Expand stream (rows × (N+1)) through Sort + SortAggregate —
    // q53's plan carried two full sorts of the 6x-expanded corpus
    // (3.3 s warm at sf0.1; at 100 TB those sorts are the spill risk).
    // Split, the counts/distincts/numeric-extrema pass hash-aggregates
    // with fixed-width buffers and never sorts; the string pass is a
    // narrow two-column scan whose keyless SortAggregate needs no sort.
    // Same values, one crossJoin of two one-row frames.
    val aggs = cols.flatMap { c =>
      Seq(
        count(q(c)).as(s"__nn_$c"),
        (if (approxDistinct) approx_count_distinct(q(c)) else countDistinct(q(c)))
          .as(s"__nd_$c")) ++
      (if (isNum(c)) Seq(
        min(q(c).cast(D).cast("double")).as(s"__min_$c"),
        max(q(c).cast(D).cast("double")).as(s"__max_$c"))
      else Nil)
    } :+ count(lit(1)).as("__nr")
    val strAggs = cols.filterNot(isNum).flatMap { c =>
      Seq(min(q(c).cast("string")).as(s"__min_$c"),
        max(q(c).cast("string")).as(s"__max_$c"))
    }
    val wideNum = df.agg(aggs.head, aggs.tail: _*)
    val wide =
      if (strAggs.isEmpty) wideNum
      else wideNum.crossJoin(broadcast(df.agg(strAggs.head, strAggs.tail: _*)))
    val metrics = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__nr").as("n_rows"),
        (col("__nr") - q(s"__nn_$c")).as("n_null"),
        q(s"__nd_$c").cast("long").as("n_distinct"),
        (if (isNum(c)) q(s"__min_$c") else lit(null).cast("double")).as("min_num"),
        (if (isNum(c)) q(s"__max_$c") else lit(null).cast("double")).as("max_num"),
        (if (isNum(c)) lit(null).cast("string") else q(s"__min_$c")).as("min_str"),
        (if (isNum(c)) lit(null).cast("string") else q(s"__max_$c")).as("max_str"))
    }
    wide.select(explode(array(metrics: _*)).as("m")).select("m.*")
  }

  /** q53: gate binding of [[profileColumns]] over five orders columns
    * (three numeric, two string). Fully SQL-oracled: counts, exact
    * distincts, and the DECIMAL-policy min/max restate exactly.
    */
  def q53ColumnProfile(s: SparkSession, dir: String): DataFrame =
    profileColumns(Tables.orders(s, dir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority"))
      .orderBy("col_name")

  /** Inter-rater agreement (generalized Fleiss' kappa for variable
    * raters per item) — the QUALITY metric over the same vote table
    * q52 resolves: consensus tells you WHICH label won; kappa tells you
    * whether the raters agree more than chance at all (kappa ≈ 0 means
    * the "consensus" is noise and the labeling guidelines need work
    * before the labels are trusted as training data). Per item i with
    * n_i ≥ 2 votes, the pairwise agreement `p_i = Σ_l n_il(n_il−1) /
    * (n_i(n_i−1))`; `p_bar` is the mean over items, `p_e = Σ_l p_l²`
    * the chance agreement from label prevalence over qualifying items,
    * and `kappa = (p_bar − p_e) / (1 − p_e)`. Single-vote items carry
    * no pairwise signal and are excluded from both p_i and prevalence
    * (documented contract; they still resolve in q52).
    *
    * Cross-engine determinism is integer-anchored end to end: every
    * p_i is one division of exact BIGINT counts (bit-identical IEEE
    * doubles on any engine), the p_i mean folds the ROUNDED values
    * through an exact DECIMAL(9,6) sum (order-independent — a raw
    * double sum over millions of items could drift past the 6dp gate
    * rounding), and p_e is a DECIMAL(38,0) sum of squared label totals
    * over N² (the q49 overflow lesson: totals square past BIGINT at
    * corpus scale).
    *
    * Scale shape: one mergeable (item, label) vote-count agg, then ONE
    * item-keyed exchange whose window serves the n_i filter; the two
    * downstream aggs (per-item, per-label) and the two one-row global
    * frames reduce from it — the corpus shuffles once, the globals
    * broadcast back onto the per-item rows (crossJoin of a one-row
    * total, the house pattern).
    */
  def raterAgreement(df: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val votes = voteStates(df, itemCol, labelCol) // (__item, __label, __n)
    val wi = Window.partitionBy(col("__item"))
    val qual = votes
      .withColumn("__ni", sum(col("__n")).over(wi))
      .filter(col("__ni") >= 2)
    val per = qual.groupBy(col("__item"))
      .agg(max(col("__ni")).cast("long").as("n_votes"),
        sum(col("__n") * (col("__n") - 1)).cast("long").as("__agree"))
      .withColumn("p_i", round(col("__agree").cast("double") /
        (col("n_votes") * (col("n_votes") - 1)).cast("double"), 6))
    val lab = qual.groupBy(col("__label"))
      .agg(sum(col("__n")).cast("long").as("__tot"))
    val prev = lab.agg(
      sum(col("__tot")).cast("long").as("__nn"),
      sum(col("__tot").cast("decimal(19,0)") * col("__tot").cast("decimal(19,0)"))
        .as("__ssq"))
    val tot = per.agg(
      count(lit(1)).cast("long").as("n_items"),
      sum(col("p_i").cast("decimal(9,6)")).as("__sp"))
    val glob = tot.crossJoin(prev).select(
      col("n_items"),
      round(col("__sp").cast("double") / col("n_items").cast("double"), 6)
        .as("p_bar"),
      round(col("__ssq").cast("double") /
        (col("__nn").cast("decimal(19,0)") * col("__nn").cast("decimal(19,0)"))
          .cast("double"), 6).as("p_e"))
      .withColumn("kappa",
        when(col("p_e") === 1.0, lit(null).cast("double"))
          .otherwise(round((col("p_bar") - col("p_e")) /
            (lit(1.0) - col("p_e")), 6)))
    per.crossJoin(broadcast(glob))
      .select(col("__item").as(itemCol), col("n_votes"), col("p_i"),
        col("n_items"), col("p_bar"), col("p_e"), col("kappa"))
  }

  /** q54: gate binding of [[raterAgreement]] — each user's events vote
    * for an event type (the q52 table read as an annotation task).
    * Fully SQL-oracled: integer agreement counts, the DECIMAL(9,6)
    * p_i fold, and the DECIMAL(38,0) prevalence squares restate
    * exactly in DuckDB.
    */
  def q54RaterAgreement(s: SparkSession, dir: String): DataFrame =
    raterAgreement(Tables.events(s, dir), "user_id", "event_type")
      .orderBy("user_id")

  /** MAD robust z-score per row — the ROBUST complement of q28's
    * mean/sd normalization and q38's IQR fences: `z = 0.6745·(v −
    * median) / MAD` (MAD = median absolute deviation about the group
    * median; 0.6745 rescales so z matches the classic z-score on a
    * normal population), flagged at the Iglewicz–Hoaglin |z| > 3.5.
    * Unlike mean/sd, a handful of extreme values cannot drag the
    * center or inflate the spread (the breakdown point is 50%), which
    * is exactly what a quality filter over scraped data needs — the
    * outliers being hunted are the ones that would have corrupted the
    * mean. A group whose MAD is 0 (over half the values identical)
    * yields null z and no flags by contract — callers wanting a
    * fallback can rescore those groups with q28.
    *
    * Both quantile passes are [[exactQuantiles]] (type-7 over the
    * value HISTOGRAM — the q30 discipline), so the center and spread
    * are defined numbers: two mergeable (group, value)→count aggs,
    * each with ONE window exchange over per-group DISTINCT values;
    * the groups×1 median and MAD frames broadcast, and the serve is
    * map-only — the corpus itself shuffles zero times. Deviations
    * pass through the house DECIMAL(12,2) quantization so the second
    * histogram stays as compact as the first.
    */
  def madRobustZ(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, threshold: Double = 3.5): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val v = df.select(q(groupCol).as("__g2"), q(idCol).as("__id"),
        q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val med = exactQuantiles(df, groupCol, valueCol, Seq(0.5))
      .select(col("group").as("__gm"), col("value").as("__med"))
    val withMed = v.join(broadcast(med), col("__g2") <=> col("__gm"))
      .withColumn("__dev", abs(col("__v") - col("__med")).cast(D).cast("double"))
    val mad = exactQuantiles(withMed, "__g2", "__dev", Seq(0.5))
      .select(col("group").as("__gd"), col("value").as("__mad"))
    withMed.join(broadcast(mad), col("__g2") <=> col("__gd"))
      .withColumn("robust_z",
        when(col("__mad") === 0.0, lit(null).cast("double"))
          .otherwise(round(
            lit(0.6745) * (col("__v") - col("__med")) / col("__mad"), 6)))
      .select(col("__g2").as(groupCol), col("__id").as(idCol),
        col("__v").as(valueCol), col("__med").as("med"),
        col("__mad").as("mad"), col("robust_z"),
        when(col("__mad") === 0.0, lit(false))
          .otherwise(abs(col("robust_z")) > threshold).as("is_outlier"))
  }

  /** q55: gate binding of [[madRobustZ]] — every events row scored
    * against its event type's median/MAD. Fully SQL-oracled: both
    * type-7 histogram passes, the DECIMAL deviation quantization, and
    * the rescaled z restate exactly in DuckDB (the flag is computed
    * from the ROUNDED z on both engines).
    */
  def q55MadOutliers(s: SparkSession, dir: String): DataFrame =
    madRobustZ(Tables.events(s, dir), "event_type", "event_id", "value")
      .orderBy("event_type", "event_id")

  /** Population-stability drift between the two halves of a table's
    * time range — the "did the data change under me" check run before
    * every retraining batch is trusted: per group, the REFERENCE
    * window's exact deciles bin both windows, and each bin contributes
    * `psi_term = (p_cur − p_ref)·ln(p_cur/p_ref)` (probabilities
    * floored at `eps` so empty bins stay finite — the standard PSI
    * convention) plus the total-variation term `|p_cur − p_ref|`.
    * Rules of thumb: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 act;
    * `tvd` is the ln-free companion (0 = identical, 1 = disjoint) for
    * consumers who want a bounded metric. Groups absent from the
    * reference window, or with an empty current window, are excluded
    * (nothing to compare — documented contract).
    *
    * Cross-engine: bin edges are [[exactQuantiles]] type-7 values
    * (defined numbers, 6dp), bin assignment is `Σ (v ≥ edge)` integer
    * comparisons, p's are single divisions of exact BIGINT counts —
    * all bit-identical IEEE; ln differs by ≤1 ulp across libm
    * implementations, invisible at the 6dp gate rounding.
    *
    * Scale shape: one global min/max agg ([[timeHalves]] — the side
    * split is then in-scan), the reference histogram agg (mergeable,
    * ONE window exchange over per-group DISTINCT values), the
    * [[referenceEdges]] frame pivoted to groups×(bins−1) and broadcast
    * for a MAP-ONLY bin assignment (no per-row join fanout, no corpus
    * shuffle), and one (group, bin) count agg whose map-side combine
    * caps partial rows at groups×bins×2 per partition. The corpus never
    * shuffles. The arithmetic is [[psiServe]].
    */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: String,
      tsCol: String, bins: Int = 10, eps: Double = 1e-6): DataFrame = {
    val sided = timeHalves(df.select(q(groupCol).as("__g2"), q(tsCol).as("__ts"),
        q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__ts").isNotNull))
    val edges = referenceEdges(sided.filter(col("__ref")), "__g2", "__v", bins)
    val counts = assignBins(sided, edges, bins - 1)
      .groupBy(col("__g2"), col("bin"))
      .agg(refCount.as("n_ref"), curCount.as("n_cur"))
    psiServe(counts, "__g2", eps).withColumnRenamed("__g2", groupCol)
  }

  /** `base` (with a non-null `__ts`) tagged with `__ref`: true in the
    * first half of its `__ts` span (`ts ≤ lo + (hi − lo) div 2`), false
    * in the second — the reference/current split of q56, q59 and q60.
    * The span is one global min/max agg broadcast back, so the split is
    * in-scan.
    */
  private def timeHalves(base: DataFrame): DataFrame = {
    val span = base.agg(min(col("__ts")).as("__lo"), max(col("__ts")).as("__hi"))
      .select(expr("__lo + ((__hi - __lo) div 2)").as("__mid"))
    base.crossJoin(broadcast(span)).withColumn("__ref", col("__ts") <= col("__mid"))
  }

  /** Exact per-side row counts over a [[timeHalves]] frame. */
  private val refCount = sum(when(col("__ref"), 1L).otherwise(0L)).cast("long")
  private val curCount = sum(when(col("__ref"), 0L).otherwise(1L)).cast("long")

  /** The PSI serve over a resolved (group, bin, n_ref, n_cur) count
    * frame — shared by the batch [[psiDrift]] and the state serve
    * [[psiFromCounts]], so a maintained monitor serves the same bits
    * the gate query computes: groups with an empty current side are
    * excluded, and p's are single divisions of exact counts.
    */
  private def psiServe(counts: DataFrame, groupCol: String,
      eps: Double): DataFrame = {
    require(eps > 0, s"eps must be positive, got $eps")
    val wg = Window.partitionBy(q(groupCol))
    counts
      .withColumn("__nr", sum(col("n_ref")).over(wg))
      .withColumn("__nc", sum(col("n_cur")).over(wg))
      .filter(col("__nc") > 0)
      .withColumn("__pr", col("n_ref").cast("double") / col("__nr").cast("double"))
      .withColumn("__pc", col("n_cur").cast("double") / col("__nc").cast("double"))
      .withColumn("__pterm",
        (greatest(col("__pc"), lit(eps)) - greatest(col("__pr"), lit(eps))) *
          log(greatest(col("__pc"), lit(eps)) / greatest(col("__pr"), lit(eps))))
      .withColumn("__dterm", abs(col("__pc") - col("__pr")))
      .select(q(groupCol), col("bin"),
        col("n_ref").cast("long").as("n_ref"), col("n_cur").cast("long").as("n_cur"),
        round(col("__pr"), 6).as("p_ref"), round(col("__pc"), 6).as("p_cur"),
        round(col("__pterm"), 6).as("psi_term"),
        round(sum(col("__pterm")).over(wg), 6).as("psi"),
        round(lit(0.5) * sum(col("__dterm")).over(wg), 6).as("tvd"))
  }

  /** Full outer join of a reference and a current count frame on
    * `keys`, each side's count `n` zero-filled into `refOut`/`curOut`:
    * a key seen on one side only counts 0 on the other, the rows the
    * single-agg batch paths produce.
    */
  private def zeroFilled(ref: DataFrame, cur: DataFrame, keys: Seq[String],
      n: Column, refOut: String, curOut: String): DataFrame = {
    def side(df: DataFrame, as: String) =
      df.select(keys.map(q) :+ n.cast("long").as(as): _*)
    side(ref, "__rn").join(side(cur, "__cn"), keys, "full_outer")
      .select(keys.map(q) ++ Seq(coalesce(col("__rn"), lit(0L)).as(refOut),
        coalesce(col("__cn"), lit(0L)).as(curOut)): _*)
  }

  /** `vals` (group `__g2`, value `__v`) joined to a wide edge frame
    * by broadcast, null-safe (a null group is binned against its own
    * edges), with `bin = Σ (v ≥ __b$i)` over its `nb` edges. Groups
    * without an edge row drop.
    */
  private def assignBins(vals: DataFrame, edges: DataFrame, nb: Int): DataFrame =
    vals.join(broadcast(edges), col("__g2") <=> col("group"))
      .withColumn("bin", (0 until nb)
        .map(i => when(col("__v") >= col(s"__b$i"), 1).otherwise(0))
        .reduce(_ + _))

  /** q56: gate binding of [[psiDrift]] — events.value drift per event
    * type, second time-half scored against the first's deciles. Fully
    * SQL-oracled: the span split, the type-7 edge CTE, the Σ(v ≥ edge)
    * binning, and the eps-floored PSI terms restate exactly in DuckDB.
    */
  def q56PsiDrift(s: SparkSession, dir: String): DataFrame =
    psiDrift(Tables.events(s, dir), "event_type", "value", "ts")
      .orderBy("event_type", "bin")

  // -----------------------------------------------------------------
  // The factored PSI pieces a STREAMING drift monitor maintains: the
  // batch q56 derives its reference window from the time span it can
  // see; a deployed monitor instead FIXES the edges once (from the
  // training snapshot) and folds arriving data into mergeable
  // (group, bin) counts — the q33/q50/q52 state discipline. Serve at
  // any point via psiFromCounts; StreamingSpec pins the per-batch
  // fold bit-equal to one-shot counting and the factored serve equal
  // to psiDrift itself when the side splits coincide.
  // -----------------------------------------------------------------

  /** Reference bin edges for [[binCounts]]: per-group type-7 quantile
    * values at the interior cuts, pivoted wide (`group, __b0 ..
    * __b{bins−2}`) so the frame broadcasts and bin assignment stays
    * map-only (the q56 shape, exposed).
    */
  def referenceEdges(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need at least 2 bins, got $bins")
    quantilePivot(df, groupCol, valueCol,
      (1 until bins).map(b => b.toDouble / bins -> s"__b${b - 1}"))
  }

  /** Mergeable per-(group, bin) counts of `df` against FIXED edges —
    * the drift monitor's state: counts from separate batches union
    * and [[binCountsCompact]] by plain addition (raw rows never
    * kept; state bounded by groups×bins). Groups without an edge row
    * are dropped (nothing to bin against — the q56 contract).
    */
  def binCounts(df: DataFrame, groupCol: String, valueCol: String,
      edges: DataFrame): DataFrame = {
    val nb = edges.columns.count(_.startsWith("__b"))
    require(nb >= 1, "edges frame carries no __b columns — not a referenceEdges output")
    assignBins(df.select(q(groupCol).as("__g2"),
        q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull), edges, nb)
      .groupBy(col("__g2").as(groupCol), col("bin"))
      .agg(count(lit(1)).cast("long").as("n"))
  }

  /** Merge same-key bin-count states after an append — counts ADD,
    * exactly, at any re-compaction depth.
    */
  def binCountsCompact(states: DataFrame, groupCol: String): DataFrame =
    states.groupBy(q(groupCol), col("bin"))
      .agg(sum(col("n")).cast("long").as("n"))

  /** Group-wise correlation matrix over N columns — the feature-
    * analysis staple before a training run (which engineered features
    * are redundant, which co-vary with the target per segment):
    * every pair's covariance and Pearson correlation from the
    * N-column [[anchoredMoments]] fold over all N(N+1)/2 pairs (one
    * aggregation, no per-pair pass). Rows with ANY null among the
    * requested columns are dropped (listwise deletion — the one
    * convention where every pair shares the same n; per-pair deletion
    * would need a count per pair and gives a non-PSD matrix). Diagonal
    * rows carry variances (corr = 1 where variance is positive); a
    * zero-variance column yields null corr against everything, flagged
    * rather than NaN. The matrix assembles by a map-only explode of the
    * single wide row per group.
    */
  def corrMatrix(df: DataFrame, groupCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.size >= 2, "corrMatrix needs at least two columns")
    val idx = valueCols.indices
    val pairs = for { i <- idx; j <- idx if i <= j } yield (i, j)
    val cells = pairs.map { case (i, j) =>
      val (cij, cii, cjj) = (anchoredCov(i, j), anchoredCov(i, i), anchoredCov(j, j))
      struct(lit(valueCols(i)).as("col_x"), lit(valueCols(j)).as("col_y"),
        round(cij, 6).as("cov"),
        when(cii > 0.0 && cjj > 0.0, round(cij / sqrt(cii * cjj), 6)).as("corr"))
    }
    anchoredMoments(df, groupCol, valueCols, pairs)
      .select(col("group"), col("n"), explode(array(cells: _*)).as("m"))
      .select(col("group"), col("m.col_x"), col("m.col_y"), col("n"),
        col("m.cov"), col("m.corr"))
  }

  /** q57: gate binding of [[corrMatrix]] — quantity/extendedprice/
    * discount per return flag on lineitem (18 matrix cells). Fully
    * SQL-oracled: identical anchored DECIMAL folds and the same
    * cov/corr arithmetic restate exactly in DuckDB.
    */
  def q57CorrMatrix(s: SparkSession, dir: String): DataFrame =
    corrMatrix(Tables.lineitem(s, dir), "l_returnflag",
      Seq("l_quantity", "l_extendedprice", "l_discount"))
      .withColumnRenamed("group", "l_returnflag")
      .orderBy("l_returnflag", "col_x", "col_y")

  /** Score a current count frame against a reference count frame —
    * [[psiDrift]]'s serve with the counting factored out: bins
    * observed on one side only zero-fill ([[zeroFilled]]), and the
    * arithmetic IS the batch operator's [[psiServe]], so a maintained
    * state serves the same numbers the gate query computes.
    */
  def psiFromCounts(refCounts: DataFrame, curCounts: DataFrame,
      groupCol: String, eps: Double = 1e-6): DataFrame =
    psiServe(zeroFilled(refCounts, curCounts, Seq(groupCol, "bin"), col("n"),
      "n_ref", "n_cur"), groupCol, eps)

  /** Join-key skew profile — the pre-flight diagnostic run BEFORE a
    * big shuffle is trusted: the top-k heaviest values of a key column
    * with, per key, its row count, corpus share, skew factor
    * (count ÷ the mean count per distinct key — "how many times an
    * average reducer's key-load this one key is"), and `min_salt`, the
    * smallest replica count that would spread the key's rows down to
    * one IDEAL reducer's share at `partitions` reducers — exactly the
    * `salt` argument [[saltedJoin]] (q29) wants. NULL keys profile as
    * a key like any other (they hash to ONE reducer — the classic
    * silent skew cause this exists to surface).
    *
    * Determinism: counts are exact BIGINTs; `share` is one IEEE
    * division, `skew` is spelled `n/total*keys` in that order (an
    * exact-integer n·keys product could overflow at corpus scale);
    * `min_salt` is exact ceil-division in integers
    * (`(n·partitions + total − 1) div total` — n·partitions bounded by
    * rows × a four-digit reducer count, far under 2^63). Ranking ties
    * break on the key string.
    *
    * Scale shape: ONE mergeable (key, n) agg is the only pass over the
    * corpus; the one-row totals frame broadcasts back (never a window
    * over the key frame — that would serialize the distinct-key set
    * into one task); top-k is a TakeOrdered (per-partition heaps), and
    * only k rows cross the final rank window.
    */
  def keySkewProfile(df: DataFrame, keyCol: String, topK: Int = 20,
      partitions: Int = 200): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    require(partitions > 0 && partitions < 100000,
      s"partitions must be in (0, 100000), got $partitions")
    val counts = df.groupBy(q(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).cast("long").as("n"))
    val totals = counts.agg(sum(col("n")).cast("long").as("__total"),
      count(lit(1)).cast("long").as("__keys"))
    val top = counts.orderBy(col("n").desc, col("key").asc_nulls_first)
      .limit(topK)
      .crossJoin(broadcast(totals))
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("key").asc_nulls_first)))
      .withColumn("__saltnum",
        col("n") * lit(partitions.toLong) + col("__total") - lit(1L))
      .select(col("key"), col("n"), col("rank"),
        round(col("n").cast("double") / col("__total").cast("double"), 6)
          .as("share"),
        round(col("n").cast("double") / col("__total").cast("double")
          * col("__keys").cast("double"), 6).as("skew"),
        expr("__saltnum div __total").cast("long").as("min_salt"))
  }

  /** q58: gate binding of [[keySkewProfile]] — the 20 heaviest
    * lineitem order keys (the key a lineitem⋈orders shuffle hashes
    * on), profiled for a 32-reducer target. Fully SQL-oracled:
    * integer counts, one-division share, the spelled-order skew
    * product, and exact ceil-division salt restate in DuckDB.
    */
  def q58SkewProfile(s: SparkSession, dir: String): DataFrame =
    keySkewProfile(Tables.lineitem(s, dir), "l_orderkey",
        topK = 20, partitions = 32)
      .orderBy("rank")

  /** Two-sample chi-square homogeneity test over a CATEGORICAL column
    * — the categorical complement of [[psiDrift]]'s numeric deciles
    * (a drifted category mix never moves a numeric histogram): did the
    * category distribution change between the reference and current
    * time halves? Per category, observed ref/cur counts, expected
    * counts under homogeneity (`rowtot·sidetot/N`), and the cell's
    * chi-square contribution `(o−e)²/e` summed over both sides; the
    * statistic is the contribution total with `dof = k − 1`. Rule of
    * thumb at dof 4: chi2 > 9.49 rejects homogeneity at 5%.
    *
    * Determinism: all counts exact BIGINTs; each expected count is
    * `CAST(rowtot)·CAST(sidetot)/CAST(N)` in that IEEE order; each
    * cell contribution rounds to 6dp and the statistic folds the
    * ROUNDED contributions through an exact DECIMAL sum (the q54
    * discipline — a raw double sum over categories would be
    * fold-order-dependent). Empty ref or cur side → empty result by
    * contract (nothing to compare).
    *
    * Scale shape: the corpus collapses in ONE mergeable (category,
    * side-counts) agg over the [[timeHalves]] split — category
    * cardinality bounds everything after; the one-row side totals
    * broadcast back, and the alphabet-bounded category frame takes a
    * single-partition window for the statistic (bounded by
    * construction, the q49 alphabet argument).
    */
  def chi2CategoricalDrift(df: DataFrame, catCol: String,
      tsCol: String): DataFrame =
    chi2Cells(timeHalves(df.select(q(catCol).cast("string").as("category"),
        q(tsCol).as("__ts"))
      .filter(col("__ts").isNotNull))
      .groupBy(col("category"))
      .agg(refCount.as("n_ref"), curCount.as("n_cur")))

  /** The chi-square arithmetic over a resolved (category, n_ref,
    * n_cur) frame — shared verbatim by the batch span-split path and
    * the factored state serve [[chi2FromCounts]], so a maintained
    * monitor serves the same bits the gate query computes.
    */
  private def chi2Cells(counts: DataFrame): DataFrame = {
    val totals = counts.agg(sum(col("n_ref")).cast("long").as("__nr"),
      sum(col("n_cur")).cast("long").as("__nc"),
      count(lit(1)).cast("long").as("__k"))
    val cells = counts.crossJoin(broadcast(totals))
      .filter(col("__nr") > 0 && col("__nc") > 0)
      .withColumn("__rowtot", (col("n_ref") + col("n_cur")).cast("double"))
      .withColumn("__n", (col("__nr") + col("__nc")).cast("double"))
      .withColumn("e_ref",
        col("__rowtot") * col("__nr").cast("double") / col("__n"))
      .withColumn("e_cur",
        col("__rowtot") * col("__nc").cast("double") / col("__n"))
      .withColumn("contrib", round(
        (col("n_ref").cast("double") - col("e_ref"))
          * (col("n_ref").cast("double") - col("e_ref")) / col("e_ref")
        + (col("n_cur").cast("double") - col("e_cur"))
          * (col("n_cur").cast("double") - col("e_cur")) / col("e_cur"), 6))
    val w = Window.partitionBy(lit(1))
    cells
      .withColumn("chi2", round(
        sum(col("contrib").cast("decimal(18,6)")).over(w).cast("double"), 6))
      .select(col("category"), col("n_ref"), col("n_cur"),
        round(col("e_ref"), 6).as("e_ref"), round(col("e_cur"), 6).as("e_cur"),
        col("contrib"), col("chi2"), (col("__k") - 1).cast("long").as("dof"))
  }

  /** q59: gate binding of [[chi2CategoricalDrift]] — the events
    * event-type mix, second time-half tested against the first. Fully
    * SQL-oracled: the span split, integer cell counts, spelled-order
    * expected counts, and the DECIMAL fold of rounded contributions
    * restate exactly in DuckDB.
    */
  def q59Chi2Drift(s: SparkSession, dir: String): DataFrame =
    chi2CategoricalDrift(Tables.events(s, dir), "event_type", "ts")
      .orderBy("category")

  // -----------------------------------------------------------------
  // The factored chi-square pieces a STREAMING categorical-drift
  // monitor maintains (the q56→streaming_psi shape for categories):
  // the batch q59 derives its sides from the time span it can see; a
  // deployed monitor FIXES the reference counts once and folds
  // arriving rows into mergeable per-category counts — the
  // q33/q50/q52 state discipline. Serve at any point via
  // chi2FromCounts; arithmetic is IDENTICAL to the batch operator
  // (both run chi2Cells), so the served statistic is bit-equal.
  // -----------------------------------------------------------------

  /** Mergeable per-category counts — the categorical monitor's state:
    * counts from separate batches union and [[categoryCountsCompact]]
    * by plain addition (raw rows never kept; state bounded by the
    * category alphabet).
    */
  def categoryCounts(df: DataFrame, catCol: String): DataFrame =
    df.select(q(catCol).cast("string").as("category"))
      .groupBy(col("category"))
      .agg(count(lit(1)).cast("long").as("n"))

  /** Merge same-category count states after an append — counts ADD,
    * exactly, at any re-compaction depth.
    */
  def categoryCountsCompact(states: DataFrame): DataFrame =
    states.groupBy(col("category"))
      .agg(sum(col("n")).cast("long").as("n"))

  /** Score a current category-count frame against a reference one —
    * [[chi2CategoricalDrift]]'s serve with the counting factored out:
    * categories observed on one side only zero-fill ([[zeroFilled]]),
    * and the cell arithmetic IS [[chi2Cells]], so a maintained state
    * serves the same numbers the gate query computes.
    */
  def chi2FromCounts(refCounts: DataFrame,
      curCounts: DataFrame): DataFrame =
    chi2Cells(zeroFilled(refCounts, curCounts, Seq("category"), col("n"),
      "n_ref", "n_cur"))

  /** Two-sample Kolmogorov–Smirnov statistic per group — the
    * distribution-SHAPE drift test completing the trio ([[psiDrift]]
    * bins against fixed deciles, [[chi2CategoricalDrift]] tests the
    * categorical mix, KS measures the maximum ECDF gap anywhere): per
    * group, `D = max_v |F_ref(v) − F_cur(v)|` between the reference
    * and current time halves, plus `ks_at`, the (smallest) value where
    * the maximum is attained. Unlike PSI, KS is binning-free and
    * bounded in [0,1]; rule of thumb `D > c(α)·sqrt((nr+nc)/(nr·nc))`,
    * c(0.05) ≈ 1.358.
    *
    * Determinism: values quantize through the house DECIMAL(12,2)
    * once; ECDFs are single divisions of exact BIGINT cumulative
    * counts (bit-identical IEEE), the max and its argmin are taken by
    * ordering on those exact doubles — both engines compute the same
    * bits, so the same row wins.
    *
    * Scale shape: the corpus collapses in ONE mergeable
    * (group, value, side-counts) agg — the q30/q45 distinct-value
    * histogram discipline; ONE group-keyed exchange serves the
    * ordered cumulative window, the unordered totals window, AND the
    * final top-1 rank (WindowGroupLimit pushes the rank-1 filter into
    * a partial top-1 before the shuffle); output is one row per group.
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      tsCol: String): DataFrame =
    ksServe(timeHalves(df.select(q(groupCol).as("__g2"), q(tsCol).as("__ts"),
        q(valueCol).cast(D).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__ts").isNotNull))
      .groupBy(col("__g2"), col("__v"))
      .agg(refCount.as("__cr"), curCount.as("__cc")))
      .withColumnRenamed("group", groupCol)

  /** The KS arithmetic over a resolved (__g2, __v, __cr, __cc)
    * side-count histogram — shared verbatim by the batch span-split
    * path and the factored state serve [[ksFromHistograms]].
    */
  private def ksServe(h: DataFrame): DataFrame = {
    val wg = Window.partitionBy(col("__g2"))
    val wcum = wg.orderBy(col("__v"))
    h
      .withColumn("__nr", sum(col("__cr")).over(wg))
      .withColumn("__nc", sum(col("__cc")).over(wg))
      .filter(col("__nr") > 0 && col("__nc") > 0)
      .withColumn("__diff", abs(
        sum(col("__cr")).over(wcum).cast("double") / col("__nr").cast("double")
          - sum(col("__cc")).over(wcum).cast("double")
            / col("__nc").cast("double")))
      .withColumn("__rk", row_number().over(
        wg.orderBy(col("__diff").desc, col("__v").asc)))
      .filter(col("__rk") === 1)
      .select(col("__g2").as("group"),
        col("__nr").cast("long").as("n_ref"), col("__nc").cast("long").as("n_cur"),
        round(col("__diff"), 6).as("ks"), col("__v").as("ks_at"))
  }

  /** KS served from two [[histogramStates]] frames — the drift trio's
    * third monitor riding the SAME maintained state as the quantile
    * monitor (one histogram per side, no extra state primitive):
    * values observed on one side only zero-fill ([[zeroFilled]]), and
    * the arithmetic IS the batch operator's [[ksServe]], so a monitor
    * folding per-batch histograms serves the same bits batch
    * [[ksTest]] computes when the sides coincide with the time split.
    */
  def ksFromHistograms(refHist: DataFrame, curHist: DataFrame): DataFrame = {
    def keyed(h: DataFrame) = h.withColumnRenamed("group", "__g2")
    ksServe(zeroFilled(keyed(refHist), keyed(curHist), Seq("__g2", "__v"),
      col("__c"), "__cr", "__cc"))
  }

  /** q60: gate binding of [[ksTest]] — events.value per event type,
    * second time-half against the first. Fully SQL-oracled: the span
    * split, the distinct-value histogram, exact-BIGINT cumulative
    * ECDFs, and the (diff desc, value asc) argmax restate exactly in
    * DuckDB.
    */
  def q60KsTest(s: SparkSession, dir: String): DataFrame =
    ksTest(Tables.events(s, dir), "event_type", "value", "ts")
      .orderBy("event_type")

  /** Benford first-digit audit per group — the forensic-accounting
    * screen for invented numbers (financial filings are this engine's
    * home turf: FERC account values, like most naturally-occurring
    * amounts spanning magnitudes, should first-digit-distribute as
    * `log10(1 + 1/d)`; fabricated or clamped data does not). Per
    * (group, digit 1..9): observed count and share, the Benford
    * expectation, the absolute deviation — and per group the MAD
    * (mean absolute deviation over the 9 digits) with Nigrini's
    * conformity verdict cut on the ROUNDED MAD (< 0.006 close,
    * < 0.012 acceptable, < 0.015 marginal, else nonconforming).
    *
    * Determinism: the first significant digit is extracted from the
    * DECIMAL(24,2) STRING rendering via the RE2-portable `[1-9]`
    * (try_cast — wide enough for real account values: FERC 2021
    * carries 12-billion-dollar facts that overflow the house (12,2);
    * values past ±1e22 drop rather than killing the audit)
    * (both engines render scale-2 decimals identically; sign and
    * leading zeros skip naturally — zero values carry no significant
    * digit and drop); shares are single IEEE divisions of exact
    * BIGINTs; the expectation is `ln(1 + 1/d)/ln(10)` (libm ≤1 ulp,
    * invisible at 6dp); the MAD folds ROUNDED deviations through an
    * exact DECIMAL sum (the q54/q59 discipline).
    *
    * Scale shape: digit extraction is map-only in the scan; the
    * corpus collapses in ONE mergeable (group, digit) agg bounded by
    * groups×9; the digit grid completes by exploding a 9-element
    * literal against the distinct-group frame (missing digits count
    * 0 — they still contribute deviation); per-group totals/MAD ride
    * one group window over ≤9 rows.
    */
  def benfordAudit(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    // DECIMAL(24,2), not the house (12,2): real account values exceed
    // ±1e10 (FERC 2021 carries 12-billion-dollar facts — the (12,2)
    // ANSI cast crashed on real data), and the digit only needs A
    // deterministic scale-2 rendering, which any precision provides
    // identically on both engines. try_cast: a value past ±1e22 drops
    // (no representable rendering) rather than killing the audit.
    val digits = df.select(q(groupCol).as("__g2"), q(valueCol).as("__bv"))
      .select(col("__g2"),
        regexp_extract(
          expr("try_cast(__bv AS DECIMAL(24,2))").cast("string"),
          "[1-9]", 0).as("__ds"))
      .filter(col("__ds") =!= "")
      .select(col("__g2"), col("__ds").cast("int").as("digit"))
    val counts = digits.groupBy(col("__g2"), col("digit"))
      .agg(count(lit(1)).cast("long").as("n"))
    val grid = counts.select(col("__g2")).distinct()
      .select(col("__g2"), explode(lit((1 to 9).toArray)).as("digit"))
    val filled = grid.join(counts, Seq("__g2", "digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wg = Window.partitionBy(col("__g2"))
    filled
      .withColumn("__tot", sum(col("n")).over(wg))
      .withColumn("__pobs",
        col("n").cast("double") / col("__tot").cast("double"))
      .withColumn("__pexp",
        log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
          / log(lit(10.0)))
      .withColumn("dev", round(abs(col("__pobs") - col("__pexp")), 6))
      .withColumn("mad", round(
        sum(col("dev").cast("decimal(18,6)")).over(wg).cast("double")
          / lit(9.0), 6))
      .select(col("__g2").as(groupCol), col("digit"), col("n"),
        round(col("__pobs"), 6).as("p_obs"),
        round(col("__pexp"), 6).as("p_exp"),
        col("dev"), col("mad"),
        when(col("mad") < 0.006, "close")
          .when(col("mad") < 0.012, "acceptable")
          .when(col("mad") < 0.015, "marginal")
          .otherwise("nonconforming").as("verdict"))
  }

  /** Top-k session paths — the pathing question the funnel family
    * circles but doesn't answer: q39 measures ONE prescribed stage
    * chain, q49 measures single transitions; this surfaces the
    * complete journeys users actually take (the "what are the top
    * flows" product question; for a corpus pipeline, the dominant
    * crawl→dedup→filter routes through a lineage log). Sessions are
    * q13's gap rule verbatim; each session's path is its event types
    * joined in (ts, id) total order; paths rank by (session count
    * desc, path asc).
    *
    * Determinism: the per-session event list aggregates unordered
    * (mergeable collect) and sorts IN-ROW by the (ts, id, type)
    * struct order — a total order, so the path string is independent
    * of partitioning and engine; counts are exact BIGINTs.
    *
    * Scale shape: ONE per-user window exchange derives sessions (the
    * q13 shape), the session collapse is a mergeable agg whose rows
    * bound by session length (the q13 contract — sessions are
    * human-scale; a runaway key needs the gap rule, not this
    * operator, fixed), path counting is a second mergeable agg, and
    * top-k plans as TakeOrdered — only k rows cross the rank window.
    */
  def topSessionPaths(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, gapNs: Long = 1800L * 1000000000L,
      topK: Int = 20): DataFrame = {
    require(gapNs > 0, s"gapNs must be positive, got $gapNs")
    require(topK > 0, s"topK must be positive, got $topK")
    val byUser = Window.partitionBy(q(userCol)).orderBy(q(tsCol), q(idCol))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null timestamps cannot sessionize (Spark windows order nulls
    // first, DuckDB's ORDER BY defaults nulls last — the path strings
    // would silently diverge cross-engine); drop them like the sibling
    // event operators (q59/q60/q64) and the q62 oracle's WHERE
    val paths = df
      .filter(q(tsCol).isNotNull)
      .withColumn("__gap", q(tsCol) - lag(q(tsCol), 1).over(byUser))
      .withColumn("__new",
        when(col("__gap").isNull || col("__gap") > gapNs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(run))
      .groupBy(q(userCol).as("__u"), col("__sid"))
      .agg(collect_list(struct(q(tsCol).as("ts"), q(idCol).as("id"),
        q(typeCol).cast("string").as("t"))).as("__evs"))
      .select(
        concat_ws(">", expr("transform(array_sort(__evs), e -> e.t)"))
          .as("path"),
        size(col("__evs")).cast("long").as("n_steps"))
    val top = paths.groupBy(col("path"), col("n_steps"))
      .agg(count(lit(1)).cast("long").as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path").asc)))
      .select(col("path"), col("n_steps"), col("n_sessions"), col("rank"))
  }

  /** q62: gate binding of [[topSessionPaths]] — the 20 most common
    * event-type journeys over q13's 30-minute sessions. Fully
    * SQL-oracled: the q13 session CTE, an ORDER BY string_agg twin of
    * the in-row struct sort, integer counts, and the (n desc, path)
    * ranking restate exactly in DuckDB.
    */
  def q62TopPaths(s: SparkSession, dir: String): DataFrame =
    topSessionPaths(Tables.events(s, dir), "user_id", "ts", "event_type",
      "event_id").orderBy("rank")

  /** Declarative data-quality expectation suite (the Deequ/Great-
    * Expectations shape) — the contract gate a pipeline runs before
    * trusting a new data drop, one summary row per expectation:
    * named boolean PREDICATES (non-null, range, domain membership,
    * regex — any Column) counted as violations where the predicate is
    * FALSE OR NULL (an unevaluable row is a violation, not a pass),
    * and KEY-UNIQUENESS checks counted as duplicate rows among
    * fully-non-null key rows (`n − distinct`; null-key rows are the
    * non-null predicate's job — the q27 split of concerns). Completes
    * the audit family: q27 checks cross-table edges, q53 profiles
    * shape, this asserts CONTRACTS.
    *
    * Multi-column keys canonicalize as `concat_ws()` — exact for
    * integer/clean-string keys (the normal case; a key containing the
    * separator could collide, documented) and identical in both
    * engines, sidestepping engine-specific multi-column DISTINCT null
    * semantics.
    *
    * Empty-frame contract: an EMPTY input yields one row per
    * expectation with n_rows = 0, n_violations = 0, pass = true,
    * violation_rate = 0.0 — a legitimately empty drop is a clean
    * verdict, never a null `pass` (the conditional sums coalesce to 0
    * so the gate pattern `forall(_.getBoolean(4))` is total).
    *
    * Scale shape: every predicate is a mergeable conditional-sum and
    * ALL of them ride ONE aggregation over one scan; each uniqueness
    * check adds a count-distinct partial to the same agg (Catalyst's
    * Expand — input×checks before the partial combine, the q53
    * shape); the single wide result row explodes map-only to the
    * long-form report. N checks cost one corpus pass.
    */
  def checkExpectations(df: DataFrame,
      predicates: Seq[(String, Column)],
      uniqueKeys: Seq[(String, Seq[String])] = Nil): DataFrame = {
    require(predicates.nonEmpty || uniqueKeys.nonEmpty,
      "checkExpectations needs at least one expectation")
    require((predicates.map(_._1) ++ uniqueKeys.map(_._1)).distinct.size
      == predicates.size + uniqueKeys.size, "expectation names must be unique")
    uniqueKeys.foreach { case (n, cols) =>
      require(cols.nonEmpty, s"uniqueness check '$n' names no key columns") }
    val sep = "\u0001"
    // coalesce(sum, 0): over an EMPTY frame sum is NULL, which would
    // make n_violations and pass NULL — an empty drop must be a clean
    // zero-violation verdict (the documented contract-gate pattern
    // `forall(_.getBoolean(4))` relies on pass never being null)
    val predAggs = predicates.map { case (name, pred) =>
      coalesce(sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)), lit(0L))
        .cast("long").as(s"__v_$name")
    }
    val keyAggs = uniqueKeys.flatMap { case (name, cols) =>
      val nonNull = cols.map(c => q(c).isNotNull).reduce(_ && _)
      val canon = concat_ws(sep, cols.map(c => q(c).cast("string")): _*)
      Seq(
        coalesce(sum(when(nonNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as(s"__n_$name"),
        count_distinct(when(nonNull, canon)).cast("long").as(s"__d_$name"))
    }
    val aggs = (count(lit(1)).cast("long").as("__total") +: predAggs) ++ keyAggs
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val cells = predicates.map { case (name, _) =>
      struct(lit(name).as("check"), lit("predicate").as("kind"),
        col("__total").as("n_rows"), col(s"__v_$name").as("n_violations"))
    } ++ uniqueKeys.map { case (name, _) =>
      struct(lit(name).as("check"), lit("unique").as("kind"),
        col(s"__n_$name").as("n_rows"),
        (col(s"__n_$name") - col(s"__d_$name")).as("n_violations"))
    }
    wide.select(explode(array(cells: _*)).as("e"))
      .select(col("e.check"), col("e.kind"), col("e.n_rows"),
        col("e.n_violations"),
        (col("e.n_violations") === 0L).as("pass"),
        when(col("e.n_rows") === 0L, lit(0.0)).otherwise(
          round(col("e.n_violations").cast("double")
            / col("e.n_rows").cast("double"), 6)).as("violation_rate"))
  }

  /** q63: gate binding of [[checkExpectations]] — a five-expectation
    * contract on orders: key non-null and unique, status in its
    * domain, a price range that genuinely FAILS (the oracle pins the
    * exact violation count, not just zeros), and a composite
    * (custkey, orderdate) uniqueness with real duplicates. Fully
    * SQL-oracled: each conditional count and the concat-canon
    * distinct restate exactly in DuckDB.
    */
  def q63Expectations(s: SparkSession, dir: String): DataFrame =
    checkExpectations(Tables.orders(s, dir),
      predicates = Seq(
        "orderkey_non_null" -> col("o_orderkey").isNotNull,
        "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
        "price_in_range" ->
          (col("o_totalprice") >= 0.0 && col("o_totalprice") <= 300000.0)),
      uniqueKeys = Seq(
        "orderkey_unique" -> Seq("o_orderkey"),
        "cust_date_unique" -> Seq("o_custkey", "o_orderdate")))
      .orderBy("check")

  /** Exponential time-decay (recency-weighted) aggregates per key —
    * the freshness-aware feature the plain q01/q47 sums cannot
    * express: each event contributes `v · 2^(−age/halfLife)` as of the
    * corpus's latest timestamp, so a user's "recent value" halves
    * every `halfLifeNs` of inactivity (recommender/risk features,
    * recency-weighted source quality for mixing). Emits per key the
    * event count, decayed weight mass, decayed sum, and the decayed
    * average (sum/mass — the recency-weighted mean value).
    *
    * Determinism: ages are exact ns longs against the broadcast max
    * timestamp; the weight computes as `exp(ln(0.5)·age/halfLife)` in
    * one spelled IEEE order and then QUANTIZES to DECIMAL(8,6) —
    * after that single rounding every term is an EXACT decimal
    * product of the quantized value and weight, and the sums fold
    * exactly, order-independent (a raw double fold of per-row exp()
    * would stack libm ulps; quantizing the bounded-in-[0,1] weight at
    * 1e-6 makes a cross-engine flip need an exp() disagreement within
    * 1e-17 of a grid boundary — ~1e-11 per row). Decay resolution
    * 1e-6 is the documented contract.
    *
    * Scale shape: one tiny max-ts agg broadcast back, then ONE
    * mergeable per-key agg over the corpus — map-only weighting in
    * the scan, no window, no join. The streaming deployment folds
    * UNNORMALIZED (sum, mass) state per batch and rescales by the
    * serve-time age factor — decay commutes with addition, so the
    * state discipline is q33's.
    */
  def timeDecayAgg(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeNs: Long): DataFrame = {
    require(halfLifeNs > 0, s"halfLifeNs must be positive, got $halfLifeNs")
    val base = decayBase(df, keyCol, tsCol, valueCol)
    val now = base.agg(max(col("__ts")).as("__now"))
    decayServe(decayStateAgainst(
      base.crossJoin(broadcast(now)).withColumn("__anchor", col("__now")),
      keyCol, halfLifeNs), keyCol)
  }

  private def decayBase(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame =
    df.select(q(keyCol).as("__k"), q(tsCol).as("__ts"),
        q(valueCol).cast(D).as("__v"))
      .filter(col("__v").isNotNull && col("__ts").isNotNull)

  private def decayStateAgainst(withAnchor: DataFrame, keyCol: String,
      halfLifeNs: Long): DataFrame =
    withAnchor
      .withColumn("__w",
        round(exp(lit(math.log(0.5))
          * ((col("__anchor") - col("__ts")).cast("double")
            / lit(halfLifeNs.toDouble))), 6).cast("decimal(8,6)"))
      // the q57 audit rule: fold INTEGER units (scale-0 DECIMAL) — a
      // scale-8 sum passes 2^53 scaled units already at gate size, and
      // a fractional decimal→double cast double-rounds in some engines;
      // integral decimals convert in ONE rounding everywhere, and the
      // de-scaling happens in IEEE doubles on both engines. Each factor
      // scales to integer units BEFORE the product (value cents ×
      // weight millionths, ≤1e12/row — inside every engine's width)
      .groupBy(col("__k").as(keyCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum((col("__w") * lit(1000000L)).cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("wsum_u"),
        sum((col("__v") * lit(100L)).cast("decimal(19,0)")
          * (col("__w") * lit(1000000L)).cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("dsum_u"))

  /** Mergeable decay state against a FIXED anchor timestamp — the
    * streaming deployment's state: the batch operator anchors at the
    * corpus max it can see, a monitor fixes the horizon up front, and
    * because every weight is a pure function of (event ts, anchor),
    * decayed sums from separate batches ADD exactly (integer-unit
    * decimals — the q33/q50 state discipline; raw events never kept,
    * state is one row per key). Events past the anchor are excluded
    * (a weight above 1 would mean "the future counts extra").
    */
  def decayState(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeNs: Long, anchorNs: Long): DataFrame = {
    require(halfLifeNs > 0, s"halfLifeNs must be positive, got $halfLifeNs")
    decayStateAgainst(
      decayBase(df, keyCol, tsCol, valueCol)
        .filter(col("__ts") <= anchorNs)
        .withColumn("__anchor", lit(anchorNs)),
      keyCol, halfLifeNs)
  }

  /** Merge same-key decay states after an append — counts and
    * integer-unit sums ADD, exactly, at any re-compaction depth.
    */
  def decayStateCompact(states: DataFrame, keyCol: String): DataFrame =
    states.groupBy(q(keyCol))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("wsum_u")).cast("decimal(38,0)").as("wsum_u"),
        sum(col("dsum_u")).cast("decimal(38,0)").as("dsum_u"))

  /** Serve the decayed report from a [[decayState]] frame — the exact
    * arithmetic of the batch operator's final step, so a maintained
    * state serves the same bits batch [[timeDecayAgg]] computes when
    * the anchors coincide.
    */
  def decayServe(state: DataFrame, keyCol: String): DataFrame =
    state.select(q(keyCol), col("n"),
      round(col("wsum_u").cast("double") / lit(1e6), 6).as("w_mass"),
      round(col("dsum_u").cast("double") / lit(1e8), 6).as("decayed_sum"),
      // a fully-stale key (every weight quantized to 0) has no decayed
      // mass to average over — null, never 0/0 NaN
      when(col("wsum_u") === lit(BigDecimal(0)), lit(null).cast("double"))
        .otherwise(round((col("dsum_u").cast("double") / lit(1e8))
          / (col("wsum_u").cast("double") / lit(1e6)), 6)).as("decayed_avg"))

  /** q64: gate binding of [[timeDecayAgg]] — events.value per event
    * type with a 7-day half-life. Fully SQL-oracled: the broadcast
    * max-ts age, the spelled exp order, the DECIMAL(8,6) weight
    * quantization, and the exact decimal folds restate in DuckDB.
    */
  def q64DecayAgg(s: SparkSession, dir: String): DataFrame =
    timeDecayAgg(Tables.events(s, dir), "event_type", "ts", "value",
      7L * 24 * 3600 * 1000000000L)
      .orderBy("event_type")

  /** Two-proportion z-test over experiment variants — the A/B-test
    * readout completing the inference family (q59 tests a categorical
    * MIX, this tests a binary RATE between arms): units (users)
    * collapse to converted-or-not, each unordered variant pair gets
    * both arms' unit/conversion counts, rates, the pooled-proportion
    * z statistic `(r_a − r_b)/sqrt(p̂(1−p̂)(1/n_a+1/n_b))`, and the
    * two-sided 5% verdict (|z| > 1.959964). Degenerate pooled rates
    * (0 or 1 — zero variance) yield null z, not-significant by
    * contract.
    *
    * Determinism: unit conversion is an exact MAX over exact flags;
    * every downstream number derives from four BIGINTs through one
    * spelled IEEE expression (sqrt is correctly rounded by IEEE 754 —
    * bit-identical across engines, unlike libm exp/ln); the verdict
    * cuts on the ROUNDED z.
    *
    * Scale shape: the corpus collapses in ONE mergeable (variant,
    * unit) agg, then one variant-level agg — everything after is
    * alphabet-bounded (the variant frame pairs with itself under
    * a < b; arms are few by construction).
    */
  def abTest(df: DataFrame, variantCol: String, unitCol: String,
      convertedCol: Column): DataFrame = {
    val units = df.select(q(variantCol).cast("string").as("__var"),
        q(unitCol).as("__u"),
        when(coalesce(convertedCol, lit(false)), 1L).otherwise(0L).as("__c"))
      .groupBy(col("__var"), col("__u"))
      .agg(max(col("__c")).as("__conv"))
    val arms = units.groupBy(col("__var"))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("__conv")).cast("long").as("__k"))
    val a = arms.select(col("__var").as("variant_a"), col("__n").as("n_a"),
      col("__k").as("conv_a"))
    val b = arms.select(col("__var").as("variant_b"), col("__n").as("n_b"),
      col("__k").as("conv_b"))
    val paired = a.join(b, col("variant_a") < col("variant_b"))
      .withColumn("__ra", col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("__rb", col("conv_b").cast("double") / col("n_b").cast("double"))
      .withColumn("__p", (col("conv_a") + col("conv_b")).cast("double")
        / (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z",
        when(col("__p") === 0.0 || col("__p") === 1.0,
          lit(null).cast("double"))
        .otherwise(round((col("__ra") - col("__rb"))
          / sqrt(col("__p") * (lit(1.0) - col("__p"))
            * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double"))), 6)))
    paired.select(col("variant_a"), col("variant_b"),
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(col("__ra"), 6).as("rate_a"), round(col("__rb"), 6).as("rate_b"),
      col("z"),
      when(col("z").isNull, lit(false))
        .otherwise(abs(col("z")) > 1.959964).as("significant"))
  }

  /** q66: gate binding of [[abTest]] — users assigned to three arms by
    * `user_id mod 3` (the deterministic stand-in for an assignment
    * table), conversion = any purchase event. Fully SQL-oracled: the
    * per-unit collapse, integer arm counts, and the spelled z
    * arithmetic (IEEE sqrt is correctly rounded, bit-identical)
    * restate exactly in DuckDB.
    */
  def q66AbTest(s: SparkSession, dir: String): DataFrame =
    abTest(Tables.events(s, dir)
        .withColumn("__arm", concat(lit("arm"), pmod(col("user_id"), lit(3)))),
      "__arm", "user_id", col("event_type") === "purchase")
      .orderBy("variant_a", "variant_b")

  /** Distributed AUC (area under the ROC curve) per group — the
    * model-evaluation staple for corpus-scale classifiers (t13's
    * quality filter, t14's fluency gate, any learned router): computed
    * in the Mann–Whitney rank form with MIDRANK tie handling — the
    * probability a random positive outscores a random negative, ties
    * counting half. A sort-free formulation: scores collapse to the
    * (group, score) histogram with per-score positive counts, one
    * ordered window derives cumulative ranks, and
    * `U = Σ_pos midrank − n_pos(n_pos+1)/2`, `AUC = U/(n_pos·n_neg)`.
    * Groups with no positives or no negatives yield null by contract.
    *
    * Determinism: `2·midrank = 2·cum − c + 1` is an exact integer, so
    * the positive-rank mass folds as an exact DECIMAL(38,0) of
    * integer products (safe past 10^12 rows — n² leaves BIGINT at
    * corpus scale, the q49/q57 audit rule); the final AUC is one
    * spelled IEEE expression over exact operands.
    *
    * Scale shape: ONE mergeable (group, score) histogram agg over the
    * corpus (the q30/q65 discipline — never a global rank window over
    * raw rows), ONE group-keyed exchange for the cumulative window,
    * one per-group agg riding the same partitioning; output is one
    * row per group.
    */
  def aucScore(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column): DataFrame = {
    val h = df.select(q(groupCol).as("__g2"),
        q(scoreCol).cast(D).cast("double").as("__s"),
        when(coalesce(labelCol, lit(false)), 1L).otherwise(0L).as("__y"))
      .filter(col("__s").isNotNull)
      .groupBy(col("__g2"), col("__s"))
      .agg(count(lit(1)).cast("long").as("__c"),
        sum(col("__y")).cast("long").as("__pos"))
    val wg = Window.partitionBy(col("__g2"))
    val ranked = h
      .withColumn("__cum", sum(col("__c")).over(wg.orderBy(col("__s"))))
      // 2·midrank of every row tied at this score, exact integer
      .withColumn("__mr2", lit(2L) * col("__cum") - col("__c") + lit(1L))
    ranked.groupBy(col("__g2").as(groupCol))
      .agg(sum(col("__pos")).cast("long").as("n_pos"),
        (sum(col("__c")) - sum(col("__pos"))).cast("long").as("n_neg"),
        // cast BEFORE the multiply: __mr2 ~ 2N, so the BIGINT product
        // would overflow near ~2e9 heavily-tied rows per group under
        // ANSI mode; DECIMAL(38,0)×BIGINT widens exactly instead
        sum(col("__mr2").cast("decimal(38,0)") * col("__pos"))
          .cast("decimal(38,0)").as("__s2"))
      .select(q(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
        .otherwise(round(
          (col("__s2").cast("double") / lit(2.0)
            - col("n_pos").cast("double")
              * (col("n_pos").cast("double") + lit(1.0)) / lit(2.0))
          / (col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
        .as("auc"))
  }

  /** q67: gate binding of [[aucScore]] — per source, how well document
    * LENGTH separates English from non-English docs (a deliberately
    * simple, fully-engine-portable score column; the operator is the
    * same one that evaluates t13's learned scores). Fully SQL-oracled:
    * the score histogram, exact integer double-midranks, the
    * DECIMAL(38,0) rank-mass fold, and the spelled AUC expression
    * restate exactly in DuckDB.
    */
  def q67Auc(s: SparkSession, dir: String): DataFrame =
    aucScore(Tables.documents(s, dir), "source", "n_chars",
      col("lang") === "en")
      .orderBy("source")

  /** Calibration report per group — the evaluation AUC cannot give
    * (q67 measures DISCRIMINATION — ranking; this measures whether the
    * scores MEAN what they say): probability-like scores bin into
    * `bins` equal-width cells of [0,1], each cell carries its mean
    * predicted score (`conf`), observed positive rate (`acc`), the
    * gap, and every row repeats the group's Expected Calibration
    * Error `ECE = Σ (n_b/n)·|acc_b − conf_b|` — the standard
    * reliability-diagram summary for deciding whether a learned
    * filter's scores can be thresholded at face value.
    *
    * Determinism: scores quantize through the house DECIMAL(12,2)
    * once; the bin is exact integer `min(floor(s·bins), bins−1)`
    * (floor of a product of exact-valued doubles — engine-identical
    * at 2dp granularity); `conf` folds the quantized scores as exact
    * decimals; `acc` and the weights are single divisions of exact
    * BIGINTs; the ECE folds ROUNDED per-bin terms through an exact
    * DECIMAL sum (the q54/q59 discipline).
    *
    * Scale shape: binning is map-only in the scan; the corpus
    * collapses in ONE mergeable (group, bin) agg bounded by
    * groups×bins; the per-group rollups ride one group window over
    * ≤bins rows.
    */
  def calibrationReport(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need at least 2 bins, got $bins")
    val base = df.select(q(groupCol).as("__g2"),
        q(scoreCol).cast(D).cast("double").as("__s"),
        when(coalesce(labelCol, lit(false)), 1L).otherwise(0L).as("__y"))
      .filter(col("__s").isNotNull && col("__s") >= 0.0 && col("__s") <= 1.0)
      .withColumn("bin", least(floor(col("__s") * lit(bins.toDouble))
        .cast("int"), lit(bins - 1)))
    val cells = base.groupBy(col("__g2"), col("bin"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__y")).cast("long").as("__pos"),
        sum(col("__s").cast(D)).as("__ssum"))
    val wg = Window.partitionBy(col("__g2"))
    cells
      .withColumn("__tot", sum(col("n")).over(wg))
      .withColumn("conf",
        round(col("__ssum").cast("double") / col("n").cast("double"), 6))
      .withColumn("acc",
        round(col("__pos").cast("double") / col("n").cast("double"), 6))
      .withColumn("gap", round(abs(col("acc") - col("conf")), 6))
      .withColumn("__term", round(
        col("n").cast("double") / col("__tot").cast("double")
          * abs(col("acc") - col("conf")), 6))
      .withColumn("ece", round(
        sum(col("__term").cast("decimal(18,6)")).over(wg)
          .cast("double"), 6))
      .select(col("__g2").as(groupCol), col("bin"), col("n"),
        col("__pos").as("n_pos"), col("conf"), col("acc"), col("gap"),
        col("ece"))
  }

  /** q68: gate binding of [[calibrationReport]] — a deterministic
    * pseudo-probability (`(doc_id mod 100)/100`, the engine-portable
    * stand-in for a model score) calibrated against English-ness per
    * source. Fully SQL-oracled: the quantized score, integer bin,
    * decimal conf fold, and the DECIMAL ECE fold restate in DuckDB.
    */
  def q68Calibration(s: SparkSession, dir: String): DataFrame =
    calibrationReport(Tables.documents(s, dir)
        .withColumn("__score",
          pmod(col("doc_id"), lit(100L)).cast("double") / lit(100.0)),
      "source", "__score", col("lang") === "en")
      .orderBy("source", "bin")

  /** Thresholded classification metrics per group — the confusion-
    * matrix readout completing the evaluation family (q67 ranks, q68
    * calibrates, this scores the DEPLOYED cutoff): tp/fp/fn/tn at
    * `predicted = score ≥ threshold`, with precision, recall, F1 and
    * accuracy; empty denominators yield null (no predicted positives
    * → null precision; no actual positives → null recall; both → null
    * F1), never 0/0.
    *
    * Determinism: the threshold compares the DECIMAL(12,2)-quantized
    * score (boundary rows land identically on both engines); all four
    * cells are exact BIGINTs from ONE mergeable agg; each metric is a
    * single spelled IEEE expression.
    *
    * Scale shape: one map-only comparison in the scan + ONE mergeable
    * per-group agg; output is one row per group.
    */
  def confusionMetrics(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column, threshold: Double): DataFrame = {
    val base = df.select(q(groupCol).as("__g2"),
        (q(scoreCol).cast(D).cast("double") >= threshold).as("__p"),
        coalesce(labelCol, lit(false)).as("__y"))
      .filter(col("__p").isNotNull)
    base.groupBy(col("__g2").as(groupCol))
      .agg(
        sum(when(col("__p") && col("__y"), 1L).otherwise(0L))
          .cast("long").as("tp"),
        sum(when(col("__p") && !col("__y"), 1L).otherwise(0L))
          .cast("long").as("fp"),
        sum(when(!col("__p") && col("__y"), 1L).otherwise(0L))
          .cast("long").as("fn"),
        sum(when(!col("__p") && !col("__y"), 1L).otherwise(0L))
          .cast("long").as("tn"))
      .withColumn("precision", when(col("tp") + col("fp") === 0L,
          lit(null).cast("double"))
        .otherwise(round(col("tp").cast("double")
          / (col("tp") + col("fp")).cast("double"), 6)))
      .withColumn("recall", when(col("tp") + col("fn") === 0L,
          lit(null).cast("double"))
        .otherwise(round(col("tp").cast("double")
          / (col("tp") + col("fn")).cast("double"), 6)))
      .withColumn("f1", when(col("precision").isNull
          || col("recall").isNull
          || col("precision") + col("recall") === 0.0,
          lit(null).cast("double"))
        .otherwise(round(lit(2.0) * col("precision") * col("recall")
          / (col("precision") + col("recall")), 6)))
      .withColumn("accuracy", round(
        (col("tp") + col("tn")).cast("double")
          / (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"),
        6))
  }

  /** q69: gate binding of [[confusionMetrics]] — "long docs are English"
    * at a 300-char cutoff per source (the same deliberately-portable
    * score family as q67/q68; the operator is what scores t13's
    * deployed threshold). Fully SQL-oracled: quantized-score
    * comparison, four integer cells, spelled metric expressions.
    */
  def q69Confusion(s: SparkSession, dir: String): DataFrame =
    confusionMetrics(Tables.documents(s, dir), "source", "n_chars",
      col("lang") === "en", threshold = 300.0)
      .orderBy("source")

  /** q61: gate binding of [[benfordAudit]] — lineitem extended prices
    * per return flag (the synthetic prices are uniform-ish, so the
    * audit correctly reports nonconformity — the gate checks the
    * NUMBERS, the spec plants a genuinely Benford set). Fully
    * SQL-oracled: decimal-string digit extraction, integer counts over
    * the completed digit grid, ln-based expectations, and the DECIMAL
    * MAD fold restate exactly in DuckDB.
    */
  def q61Benford(s: SparkSession, dir: String): DataFrame =
    benfordAudit(Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice")
      .orderBy("l_returnflag", "digit")
}
