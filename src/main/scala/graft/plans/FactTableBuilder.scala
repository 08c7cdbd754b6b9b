package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ParsedFilings
import graft.xbrl.{RawFact, TableSchema, XbrlBaseType, XbrlContext}

/** Fact-table construction (SURVEY.md §2.2 `xbrl_fact_table` /
  * `xbrl_stats`): the reference's FactTable.construct_dataframe
  * (datapackage.py:390-459) re-expressed as one distributed plan over
  * ALL filings at once instead of a per-filing pandas loop.
  *
  * Per table:
  *  1. fact filter: name in the table's data columns, period type
  *     matches (instance.py:306-325);
  *  2. context filter: no dimension outside the table's axes
  *     (check_dimensions, instance.py:131-133 — facts missing an axis
  *     are totals; facts with extra axes belong to another table);
  *  3. exact duplicate drop on the TYPED value (datapackage.py:437) and
  *  4. fuzzy numeric dedup: among conflicting duplicate fact ids keep
  *     the highest-precision value (fuzzy_dedup, datapackage.py:548-575;
  *     where the reference raises on unresolvable conflicts we resolve
  *     deterministically by (precision, value) and keep going — a 100 TB
  *     job cannot die on one filer's typo). Both are one pick of the
  *     highest (precision, typed value) per fact id: exact duplicates
  *     are identical candidates, so the pick collapses them;
  *  5. pivot long -> wide with the FIXED column list from the schema
  *     (never discovered from data — one shuffle, no discovery job);
  *  6. context PK columns with missing axes filled as "total"
  *     (instance.py:170-195), publication_time injected from filing
  *     metadata (broadcast — rows proportional to #filings);
  *  7. typed cast per column, drop rows with no data values
  *     (datapackage.py:452-459).
  *
  * Shuffle budget: facts and contexts co-partition on (filing_name,
  * c_id) for the join; the dedup aggregation and the pivot reuse that
  * same partitioning, so the whole build is ONE exchange per side plus a
  * broadcast. The all-tables [[groupedStore]] needs none: every step is
  * keyed by filing, so it runs inside the tasks that parse the filings.
  * This is the property that holds at 1000 executors: adding filings
  * adds partitions, never coordination. Every table of the store is
  * then written from one scan of it ([[route]]), not one plan per table.
  */
object FactTableBuilder {

  /** Canonical typed value of fact `name`'s raw `value`, as a string, so
    * "5" and "5.0" in a number column are exact duplicates
    * (CONVERT_DTYPES before drop_duplicates). try_cast: a malformed value
    * (filer typo) nulls that fact instead of killing the job under ANSI
    * mode. Large name lists plan as InSet.
    */
  private def typedValue(name: Column, value: Column, typeOf: Map[String, String]): Column = {
    def named(types: String*) = typeOf.collect { case (n, t) if types.contains(t) => n }.toSeq
    when(name.isin(named("number"): _*), value.try_cast(DoubleType).cast(StringType))
      .when(name.isin(named("integer", "year"): _*), value.try_cast(LongType).cast(StringType))
      .when(name.isin(named("boolean"): _*), value.try_cast(BooleanType).cast(StringType))
      .otherwise(value)
  }

  /** Decimal precision of a typed value (0..5, 6 = more precise, -1 = not
    * numeric), the fuzzy-dedup resolution order.
    */
  private def precision(tv: Column): Column = {
    val vd = tv.try_cast(DoubleType)
    val prec = (0 to 5).foldRight(lit(6): Column) { (p, acc) =>
      when(round(vd, p) === vd, lit(p)).otherwise(acc)
    }
    when(vd.isNotNull, prec).otherwise(lit(-1))
  }

  /** Steps 3.–4. over a `(filing_name, c_id, name, value)` frame, given
    * a (name → frictionless type) map: one row per fact id holding its
    * highest-(precision, typed value) candidate. The per-table long
    * store's path; [[resolveFactmap]] is the grouped store's.
    */
  private def dedupFacts(f: DataFrame, typeOf: Map[String, String]): DataFrame =
    f.withColumn("tv", typedValue(col("name"), col("value"), typeOf))
      .withColumn("prec", precision(col("tv")))
      .groupBy("filing_name", "c_id", "name")
      .agg(max_by(col("tv"), struct(col("prec"), col("tv"))).as("tv"))

  /** Steps 1.–4. as a reusable long store: the table's facts filtered,
    * typed, exact-deduped, and conflict-resolved — one row per surviving
    * fact id, `(filing_name, c_id, name, tv)` — plus the table's
    * admissible contexts. Both the wide build and the long-form
    * calculation validation consume this.
    */
  private def dedupedLong(
      schema: TableSchema,
      facts: Dataset[RawFact],
      contexts: Dataset[XbrlContext]): (DataFrame, DataFrame) = {

    val isInstant = schema.periodType == "instant"
    val dataNames = schema.dataColumns.map(_.name)

    // 1. + 2. — fact and context filters
    val f = facts.toDF()
      .filter(col("instant") === lit(isInstant) && col("name").isin(dataNames: _*))
      .select("filing_name", "c_id", "name", "value")
    val axesArr = array(schema.axes.map(lit): _*)
    val ctx = contexts.toDF()
      .filter(forall(map_keys(col("dims")), k => array_contains(axesArr, k)))

    (dedupFacts(f, schema.dataColumns.map(c => c.name -> c.schemaType).toMap), ctx)
  }

  /** Build one output table from the long fact/context stores. `meta`
    * needs (filing_name, publication_time).
    */
  def build(
      schema: TableSchema,
      facts: Dataset[RawFact],
      contexts: Dataset[XbrlContext],
      meta: DataFrame): DataFrame = {

    val isInstant = schema.periodType == "instant"
    val dataCols = schema.dataColumns
    val dataNames = dataCols.map(_.name)
    val axes = schema.axes
    val (deduped, ctx) = dedupedLong(schema, facts, contexts)

    // 5. + 6. — join contexts, pivot with the schema's fixed column
    // list, carry PK columns through the same aggregation (contexts are
    // unique per (filing_name, c_id), so any_value is exact)
    val dateCols: Seq[(String, Column)] =
      if (isInstant) Seq("date" -> col("end_date"))
      else Seq("start_date" -> col("start_date"), "end_date" -> col("end_date"))
    val axisCols = axes.map(a => a -> coalesce(element_at(col("dims"), a), lit("total")))
    val pkCarry = (Seq("entity_id" -> col("entity_id")) ++ dateCols ++ axisCols)

    // `max` as the pivot aggregate: after dedup there is at most one row
    // per (filing, c_id, name), so max == that value; it ignores the
    // nulls the when() emits for other names, and the PK carries are
    // constant within the group. Measured alternative: a single
    // collect_list + map_from_entries + element_at projection (one
    // object aggregate instead of N codegen'd ones) is 5-7x SLOWER here
    // — the object hash aggregate loses whole-stage codegen for the
    // entire stage, which costs more than evaluating N declarative
    // max(when) branches ever does.
    val joined = deduped.join(ctx, Seq("filing_name", "c_id"))
    val pivotAggs =
      pkCarry.map { case (n, c) => max(c).as(n) } ++
        dataNames.map(n => max(when(col("name") === n, col("tv"))).as(n))
    val wide = joined
      .groupBy(col("filing_name"), col("c_id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)

    // 7. — publication_time inject, typed cast, all-null-row drop
    val withPub = wide.join(
      broadcast(meta.select(col("filing_name"), col("publication_time"))),
      Seq("filing_name"), "left")
    val typedData = dataCols.map { c =>
      val t = XbrlBaseType.sparkType(c.schemaType).sql
      expr(s"try_cast(`${c.name}` AS $t)").as(c.name)
    }
    val anyData = dataNames.map(col(_).isNotNull).reduceOption(_ || _).getOrElse(lit(false))
    withPub
      .filter(anyData)
      .select(schema.primaryKey.map(col) ++ typedData: _*)
  }

  /** Global (name → frictionless type) across a schema set. A concept
    * is defined once per taxonomy, so a fact name cannot be typed
    * differently in two tables — verified here, because the shared
    * grouped store canonicalizes each name's value exactly once.
    */
  private def globalTypes(schemas: Seq[TableSchema]): Map[String, String] = {
    val byName = schemas.flatMap(t => t.dataColumns.map(c => (c.name, c.schemaType)))
      .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).distinct }
    val conflicts = byName.collect { case (n, ts) if ts.size > 1 => s"$n: ${ts.mkString("/")}" }
    require(conflicts.isEmpty,
      "fact name(s) typed differently across tables — the shared-store build " +
        s"needs one canonical type per name: ${conflicts.take(5).mkString("; ")}")
    byName.map { case (n, ts) => n -> ts.head }
  }

  /** ONE grouped fact store serving EVERY table build — the full-corpus
    * extract's scale shape. `build()` per table re-runs a wide pivot
    * aggregation (fine for one table; 255 independent agg+join jobs for
    * the whole corpus). The store instead holds, per (filing, c_id), the
    * deduped facts as one `name → tv` map plus the context's PK fields
    * and the rssfeed publication_time — after which EVERY table is a
    * cheap filter + map-lookup projection over the same frame
    * ([[buildFromStore]]), no per-table shuffle at all. The map is
    * bounded by the taxonomy's column count per context —
    * taxonomy-sized, never corpus-scaled. The result is a plan over the
    * parse: [[route]] reads it in the map stage of the one write job,
    * and a caller fanning out per-table builds materializes it first
    * (`XbrlExtract.ExtractOutput.tables` checkpoints it).
    *
    * Every step is keyed by filing, so the store is built where each
    * filing is parsed ([[ParsedFilings.contextFacts]]) and resolved by
    * one map-only projection: parse + store has NO exchange over the
    * corpus, however many tables are built from it.
    */
  def groupedStore(schemas: Seq[TableSchema], filings: Seq[ParsedFilings]): DataFrame = {
    require(filings.nonEmpty, "groupedStore needs at least one parsed input")
    val typeOf = globalTypes(schemas)
    resolveFactmap(
      filings.map(_.contextFacts(typeOf.keySet).toDF()).reduce(_ union _), typeOf)
  }

  /** The same store from the flat long tables, for callers holding only
    * `facts`, `contexts` and `meta` (needs filing_name,
    * publication_time): one group by (filing_name, c_id) plus the
    * context join rebuild the per-context rows [[groupedStore]] gets
    * from the parse, and the same resolution follows. Two exchanges and
    * the broadcast meta join, where the filing-local form has none.
    */
  def groupedStore(
      schemas: Seq[TableSchema],
      facts: Dataset[RawFact],
      contexts: Dataset[XbrlContext],
      meta: DataFrame): DataFrame = {
    val typeOf = globalTypes(schemas)
    val byContext = facts.toDF()
      .filter(col("name").isin(typeOf.keys.toSeq: _*))
      .groupBy("filing_name", "c_id")
      .agg(collect_list(struct(col("name"), col("value"))).as("facts"))
      .join(contexts.toDF()
        .select("filing_name", "c_id", "entity_id", "start_date", "end_date",
          "instant", "dims"),
        Seq("filing_name", "c_id"))
      .join(broadcast(meta.select(col("filing_name"), col("publication_time"))),
        Seq("filing_name"), "left")
    resolveFactmap(byContext, typeOf)
  }

  /** Per-context rows (`facts`: array of (name, value)) → the store:
    * each context's facts resolved into `factmap` by one map-only
    * projection. The context's array is typed and ranked with the same
    * builders `dedupFacts` uses, sorted once by (name, prec, tv), and the
    * last entry of each name run kept — the highest (prec, tv) per name,
    * O(k log k) per context. `get` (not `element_at`, which throws past
    * the end under ANSI mode) reads the next entry.
    */
  private def resolveFactmap(byContext: DataFrame, typeOf: Map[String, String]): DataFrame = {
    val typed = transform(col("facts"), f =>
      struct(f("name").as("name"), typedValue(f("name"), f("value"), typeOf).as("tv")))
    val ranked = transform(typed, f =>
      struct(f("name").as("name"), precision(f("tv")).as("prec"), f("tv").as("tv")))
    byContext
      .withColumn("facts", sort_array(ranked))
      .withColumn("facts", filter(col("facts"), (f, i) =>
        coalesce(get(col("facts"), i + 1)("name") =!= f("name"), lit(true))))
      .select(col("filing_name"), col("c_id"),
        map_from_entries(transform(col("facts"), f => struct(f("name"), f("tv")))).as("factmap"),
        col("entity_id"), col("start_date"), col("end_date"), col("instant"), col("dims"),
        col("publication_time"))
  }

  /** One output table from the shared [[groupedStore]]: period filter,
    * dimension-subset filter, `total` axis fill, map-lookup projection
    * per schema column, typed cast, all-null-row drop — a map-only
    * filter-projection, no aggregation, no join. Semantically identical
    * to [[build]] (FactTableSpec pins the equivalence on real filings,
    * GroupedStoreSpec on generated seasons for all 255 tables).
    */
  def buildFromStore(schema: TableSchema, store: DataFrame): DataFrame = {
    val isInstant = schema.periodType == "instant"
    val dataCols = schema.dataColumns
    val axesArr = array(schema.axes.map(lit): _*)

    val dateCols: Seq[(String, Column)] =
      if (isInstant) Seq("date" -> col("end_date"))
      else Seq("start_date" -> col("start_date"), "end_date" -> col("end_date"))
    val axisCols = schema.axes.map(a => a -> coalesce(element_at(col("dims"), a), lit("total")))
    val typedData = dataCols.map { c =>
      val t = XbrlBaseType.sparkType(c.schemaType).sql
      expr(s"try_cast(element_at(factmap, '${c.name}') AS $t)").as(c.name)
    }
    // same all-null-row rule as build(): at least one of the table's
    // columns present (as canonical tv), checked before the typed cast
    val anyData = dataCols.map(c => element_at(col("factmap"), lit(c.name)).isNotNull)
      .reduceOption(_ || _).getOrElse(lit(false))

    store
      .filter(col("instant") === lit(isInstant) &&
        forall(map_keys(col("dims")), k => array_contains(axesArr, k)) &&
        anyData)
      .select(Seq(col("filing_name"), col("entity_id"), col("publication_time")) ++
        dateCols.map { case (n, c) => c.as(n) } ++
        axisCols.map { case (n, c) => c.as(n) } ++
        typedData: _*)
      .select(schema.primaryKey.map(col) ++ dataCols.map(c => col(c.name)): _*)
  }

  /** Where one output column of a routed table comes from. */
  private sealed trait Source extends Serializable
  /** A store column, by ordinal. */
  private final case class StoreColumn(ordinal: Int) extends Source
  /** A dimension value; `total` when the context lacks the axis. */
  private final case class AxisColumn(axis: String) extends Source
  /** A fact's canonical value, `try_cast` to the column's type. */
  private final case class FactColumn(name: String) extends Source

  /** One table as the router sees it: its period type, its axes, where
    * each output column comes from, and the output schema
    * [[buildFromStore]]'s plan has (names, types and nullability: an
    * axis column is non-nullable, a store column keeps the store's
    * field, a typed fact is nullable).
    */
  private final case class RoutedTable(name: String, instant: Boolean, axes: Set[String],
      sources: Array[Source], schema: StructType) {
    def facts: Seq[String] = sources.toSeq.collect { case FactColumn(n) => n }
  }

  private def routedTable(schema: TableSchema, store: StructType): RoutedTable = {
    val instant = schema.periodType == "instant"
    val axisType = store("dims").dataType.asInstanceOf[MapType].valueType
    def fromStore(name: String, column: String) = {
      val f = store(column)
      StoreColumn(store.fieldIndex(column)) -> f.copy(name = name)
    }
    val pk = schema.primaryKey.map {
      case n @ ("entity_id" | "filing_name" | "publication_time") => fromStore(n, n)
      case n @ ("start_date" | "end_date") if !instant => fromStore(n, n)
      case "date" if instant => fromStore("date", "end_date")
      case a if schema.axes.contains(a) => AxisColumn(a) -> StructField(a, axisType, nullable = false)
      case other => throw new IllegalArgumentException(
        s"${schema.name}: primary key column $other is neither a context field nor an axis")
    }
    val data = schema.dataColumns.map(c =>
      FactColumn(c.name) -> StructField(c.name, XbrlBaseType.sparkType(c.schemaType), nullable = true))
    val all = pk ++ data
    RoutedTable(schema.name, instant, schema.axes.toSet, all.map(_._1).toArray,
      StructType(all.map(_._2)))
  }

  /** Every table of `schemas` from ONE map-only pass over the store:
    * one row per (context, table that takes it), keyed by the table's
    * position in `schemas` and already projected to that table's typed
    * row. Returns each table's name and output schema, in `schemas`
    * order, with the keyed rows.
    *
    * The rules are [[buildFromStore]]'s, tested in plain Scala against
    * a driver-side index (fact name → the tables whose data columns
    * carry it): the period matches, the context's dims are a subset of
    * the table's axes, and at least one of the table's columns holds a
    * non-null value. The projection is the same too — the store's PK
    * fields, `total` for a missing axis, and Catalyst's `Cast` in TRY
    * mode (what `try_cast` is) per data column — so every table's rows
    * and schema equal its [[buildFromStore]] plan's (GroupedStoreSpec
    * pins all 255). Each task builds a table's projection on first use:
    * a bound expression is never shared between task threads.
    *
    * No per-table Catalyst plan is analysed or compiled: the cost is
    * one scan of the store, whatever the table count.
    */
  def route(schemas: Seq[TableSchema], store: DataFrame)
      : (Seq[(String, StructType)], RDD[(Int, InternalRow)]) = {
    val storeSchema = store.schema
    val tables = schemas.map(routedTable(_, storeSchema)).toArray
    val byFact: Map[String, Array[Int]] = tables.indices
      .flatMap(i => tables(i).facts.map(_ -> i))
      .groupBy(_._1).map { case (n, ids) => n -> ids.map(_._2).toArray }
    val Seq(factmapAt, instantAt, dimsAt) =
      Seq("factmap", "instant", "dims").map(storeSchema.fieldIndex)
    val timeZone = Some(store.sparkSession.sessionState.conf.sessionLocalTimeZone)
    val total = UTF8String.fromString("total")

    val routed = store.queryExecution.toRdd.mapPartitions { rows =>
      val projections = new Array[UnsafeProjection](tables.length)
      def projection(t: Int): UnsafeProjection = {
        if (projections(t) == null) {
          val fields = tables(t).schema.fields
          projections(t) = InterpretedUnsafeProjection.createProjection(
            tables(t).sources.toSeq.zipWithIndex.map {
              case (FactColumn(_), j) =>
                Cast(BoundReference(j, StringType, nullable = true), fields(j).dataType,
                  timeZone, EvalMode.TRY)
              case (_, j) => BoundReference(j, fields(j).dataType, fields(j).nullable)
            })
        }
        projections(t)
      }
      rows.flatMap { row =>
        if (row.isNullAt(factmapAt) || row.isNullAt(instantAt) || row.isNullAt(dimsAt)) Nil
        else {
          val facts = row.getMap(factmapAt)
          val present = new java.util.HashMap[String, UTF8String]()
          for (i <- 0 until facts.numElements() if !facts.valueArray().isNullAt(i))
            present.put(facts.keyArray().getUTF8String(i).toString,
              facts.valueArray().getUTF8String(i))
          val dimMap = row.getMap(dimsAt)
          val dims = (0 until dimMap.numElements()).map { i =>
            dimMap.keyArray().getUTF8String(i).toString ->
              (if (dimMap.valueArray().isNullAt(i)) total else dimMap.valueArray().getUTF8String(i))
          }.toMap
          val instant = row.getBoolean(instantAt)
          val taking = present.keySet().toArray(Array.empty[String])
            .flatMap(byFact.getOrElse(_, Array.empty[Int])).distinct
            .filter(t => tables(t).instant == instant && dims.keys.forall(tables(t).axes))
          taking.toSeq.map { t =>
            val fields = tables(t).schema.fields
            val values = tables(t).sources.zipWithIndex.map {
              case (StoreColumn(ord), j) => row.get(ord, fields(j).dataType)
              case (AxisColumn(axis), _) => dims.getOrElse(axis, total)
              case (FactColumn(name), _) => present.get(name)
            }
            t -> (projection(t)(new GenericInternalRow(values)).copy(): InternalRow)
          }
        }
      }
    }
    (tables.toSeq.map(t => t.name -> t.schema), routed)
  }

  /** Calculation-linkbase validation in LONG form: for each calc set
    * (parent = sum(child x weight), all columns of `schema`), compare
    * the reported parent value against the weighted sum of the child
    * facts sharing its (filing, context) — over the same filtered/
    * deduped fact store the wide build pivots (so the semantics are
    * exactly "validate the constructed table").
    *
    * Why long form instead of `build()` + per-row column arithmetic: the
    * checks touch one fact per (context, concept), yet the wide route
    * materializes a 384-column pivot first — hundreds of aggregate
    * expressions in the plan for values the validation reads back out
    * one at a time. Long form is a broadcast join of the fact store
    * against the (child -> parent, weight) edge list + one small
    * aggregation: the plan stays O(|calc edges|), not O(|table columns|),
    * and at 100 TB the heavy side (facts) streams through a single
    * shuffle on (filing, c_id, parent). A child fact missing from a
    * context contributes 0, like the wide route's coalesce(col, 0).
    *
    * Granularity (intended): one validation per (filing_name, c_id,
    * parent) — the same per-context grain `build()` pivots at (its
    * groupBy is (filing_name, c_id), never the table primary key), and
    * the grain XBRL defines calculation consistency on. Contexts that
    * would share a PK each validate independently rather than merging;
    * FactTableSpec pins the 190/190-consistent ferc1-2021 regression.
    */
  def validateCalculations(
      spark: SparkSession,
      schema: TableSchema,
      calcs: Seq[(String, Seq[(String, Double)])],
      facts: Dataset[RawFact],
      contexts: Dataset[XbrlContext]): DataFrame = {
    import spark.implicits._
    val (deduped, ctx) = dedupedLong(schema, facts, contexts)
    val typed = deduped
      .join(ctx.select("filing_name", "c_id", "entity_id"), Seq("filing_name", "c_id"))
      .withColumn("v", expr("try_cast(tv AS DOUBLE)"))

    val edges = calcs
      .flatMap { case (p, ch) => ch.map { case (c, w) => (p, c, w) } }
      .toDF("parent", "child", "weight")
    val computed = typed
      .join(broadcast(edges), col("name") === col("child"))
      .groupBy("filing_name", "c_id", "parent")
      .agg(round(sum(col("v") * col("weight")), 2).as("computed"))

    val parents = calcs.map(_._1).toDF("parent")
    typed
      .join(broadcast(parents), col("name") === col("parent"))
      .filter(col("v").isNotNull)
      .join(computed, Seq("filing_name", "c_id", "parent"), "left")
      .select(col("filing_name"), col("entity_id"),
        col("parent").as("concept"), col("v").as("reported"),
        coalesce(col("computed"), lit(0.0)).as("computed"),
        (abs(col("v") - coalesce(col("computed"), lit(0.0))) < 0.01).as("consistent"))
  }

  /** Per-filing coverage stats (xbrl.py:164-171, data_quality_test
    * semantics): a fact id is "used" when at least one table's build
    * would include it. Declarative: a small (column -> table) lookup
    * joined against the fact store — never a per-table driver loop over
    * data.
    */
  def stats(
      spark: SparkSession,
      schemas: Seq[TableSchema],
      facts: Dataset[RawFact],
      contexts: Dataset[XbrlContext],
      meta: DataFrame): DataFrame = {
    import spark.implicits._
    val lookup = schemas.flatMap(s =>
      s.dataColumns.map(c => (c.name, s.periodType == "instant", s.axes)))
      .toDF("name", "instant", "axes")
    val used = facts.toDF()
      .join(broadcast(lookup), Seq("name", "instant"))
      .join(contexts.toDF().select("filing_name", "c_id", "dims"), Seq("filing_name", "c_id"))
      .filter(forall(map_keys(col("dims")), k => array_contains(col("axes"), k)))
      .select("filing_name", "c_id", "name").distinct()
      .groupBy("filing_name").agg(count(lit(1)).as("used_facts"))
    meta.select("filing_name", "total_facts")
      .join(used, Seq("filing_name"), "left")
      .withColumn("used_facts", coalesce(col("used_facts"), lit(0L)))
      .withColumn("coverage", col("used_facts").cast("double") / col("total_facts"))
  }
}
