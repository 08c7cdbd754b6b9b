package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sources.{FilingSource, TaxonomyParser}
import graft.xbrl.TableSchema

/** Driver-gate entry points for the XBRL engine (rows-only: the inputs
  * are the reference's own test archives, not the synthetic sf tables,
  * so there is no DuckDB twin — deep verification lives in
  * XbrlInstanceSpec / TaxonomySpec / FactTableSpec / CrossFormSpec).
  * The sf-dir argument every query receives is ignored by design.
  */
object XbrlQueries {

  /** Where the FERC test archives live; override with the
    * GRAFT_XBRL_DATA_DIR env var (or the `graft.xbrl.data.dir` system
    * property, which wins — a JVM can't change its own env, so tests
    * and embedders need the property route) so the built jar isn't
    * coupled to this container's layout. Resolved per call, and the
    * session entries below are keyed by the archive path it resolves
    * to, so the gates follow a change of directory.
    */
  private def dataDir: String =
    sys.props.get("graft.xbrl.data.dir")
      .orElse(sys.env.get("GRAFT_XBRL_DATA_DIR"))
      .getOrElse("/root/reference/tests/integration/data")

  private[graft] def requireArchive(name: String): String = {
    val path = s"$dataDir/$name"
    if (!new java.io.File(path).isFile)
      throw new java.io.FileNotFoundException(
        s"XBRL test archive $path not found — set GRAFT_XBRL_DATA_DIR to a " +
          "directory containing the FERC integration archives")
    path
  }

  // Session entries ([[SharedIndex]]), keyed by the archive they derive
  // from. Both archives resolve from one data dir, so the filings path
  // also names the taxonomy the grouped store was built with.
  private def filingsZip = requireArchive("ferc1-xbrl-2021.zip")
  private def taxonomyZip = requireArchive("ferc1-xbrl-taxonomies.zip")

  /** Taxonomies and the schemas derived from them: metadata, not data. */
  private def taxonomies(s: SparkSession): Seq[graft.xbrl.Taxonomy] =
    SharedIndex.entry(s, taxonomyZip, "taxonomies")(
      TaxonomyParser.parseArchive(taxonomyZip))(_ => ())

  private def tables(s: SparkSession): Seq[TableSchema] =
    SharedIndex.entry(s, taxonomyZip, "table_schemas")(
      FactTableSchema.fromTaxonomies(taxonomies(s)))(_ => ())

  /** The parsed filings, persisted for x01-x05: every gate is a
    * projection of the same parse, so the archive is parsed (and
    * cached) once per session, as a real deployment would share the
    * long tables.
    */
  private def filings(s: SparkSession): graft.sources.ParsedFilings =
    SharedIndex.entry(s, filingsZip, "filings_parse") {
      val p = FilingSource.fromZip(s, filingsZip)
      p.parsed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p
    }(_.unpersist())

  /** Test hooks (PlanAuditSpec pins x05's per-table plans against the
    * session-shared parse these gate queries actually use); the schemas
    * are those of the session active on the calling thread.
    */
  private[graft] def sharedParse(s: SparkSession): graft.sources.ParsedFilings = filings(s)
  private[graft] def tableSchemas: Seq[TableSchema] = tables(SparkSession.active)

  /** The grouped fact store x05 writes from, built on x05's first call
    * in a session (x01-x04 never build it) inside the tasks that parse
    * the filings, as `XbrlExtract.extract` builds it, and held as a
    * session entry beside the parse. Each x05 run routes all 255
    * tables from it in one write job; `XbrlExtract.checkpointed`
    * materializes it and truncates its lineage, so that job ships a
    * scan of a leaf RDD, not the parse lineage.
    */
  private[graft] def sharedStore(s: SparkSession): DataFrame =
    SharedIndex.entry(s, filingsZip, "grouped_store")(graft.XbrlExtract.checkpointed(
      FactTableBuilder.groupedStore(tables(s), Seq(filings(s)))))(_._2())._1

  /** x01: distributed parse of the ferc1 2021 filings archive — one
    * summary row per filing (context/fact counts by period type,
    * report date).
    */
  def x01XbrlParse(s: SparkSession, dir: String): DataFrame = {
    val fs = filings(s)
    val factCounts = fs.facts.toDF()
      .groupBy("filing_name")
      .agg(
        count(lit(1)).as("n_facts"),
        sum(when(col("instant"), 1L).otherwise(0L)).as("n_instant"),
        sum(when(!col("instant"), 1L).otherwise(0L)).as("n_duration"))
    val ctxCounts = fs.contexts.toDF()
      .groupBy("filing_name").agg(count(lit(1)).as("n_contexts"))
    factCounts.join(ctxCounts, Seq("filing_name"))
      .join(fs.meta.select("filing_name", "report_date"), Seq("filing_name"))
      .orderBy("filing_name")
  }

  /** x02: one real output table end-to-end (taxonomy -> schema -> parse
    * -> dedup -> pivot -> typed cast): identification_001_duration.
    */
  def x02XbrlFactTable(s: SparkSession, dir: String): DataFrame = {
    val ts = tables(s)
    val schema = ts.find(_.name == "identification_001_duration").getOrElse(
      throw new NoSuchElementException(
        s"table identification_001_duration not in the ${ts.size} schemas " +
          s"derived from $dataDir/ferc1-xbrl-taxonomies.zip — wrong or stale taxonomy archive?"))
    val fs = filings(s)
    FactTableBuilder.build(schema, fs.facts, fs.contexts, fs.meta)
      .orderBy("filing_name")
  }

  /** x03: per-filing fact coverage against the full 255-table schema set
    * — the engine's data-quality gate as a queryable table.
    */
  def x03XbrlCoverage(s: SparkSession, dir: String): DataFrame = {
    val fs = filings(s)
    FactTableBuilder.stats(s, tables(s), fs.facts, fs.contexts, fs.meta)
      .select(col("filing_name"), col("used_facts"), col("total_facts"),
        round(col("coverage"), 6).as("coverage"))
      .orderBy("filing_name")
  }

  /** Calculation-linkbase validations resolvable within one table: for
    * each table, the (parent, children x weight) sets where parent and
    * every child are numeric columns of that table. Driver-side
    * metadata walk (taxonomy-sized, not data-sized).
    */
  private def calcSets(s: SparkSession): Seq[(TableSchema, Seq[(String, Seq[(String, Double)])])] =
    SharedIndex.entry(s, taxonomyZip, "calc_sets") {
      tables(s).map { t =>
        val numericCols = t.dataColumns.filter(_.schemaType == "number").map(_.name).toSet
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Double)]]
        def walk(c: graft.xbrl.Concept): Unit = {
          val parent = graft.xbrl.Names.snakecase(c.name)
          if (c.calculations.nonEmpty && numericCols.contains(parent)) {
            val children = c.calculations.map(cal => cal.name -> cal.weight)
            if (children.nonEmpty && children.forall(ch => numericCols.contains(ch._1)))
              seen.getOrElseUpdate(parent, children)
          }
          c.children.foreach(walk)
        }
        for (tx <- taxonomies(s); role <- tx.roles
             if FactTableSchema.cleanTableName(role.definition)
               .exists(n => s"${n}_${t.periodType}" == t.name))
          walk(role.concepts)
        t -> seen.toSeq
      }.filter(_._2.nonEmpty)
    }(_ => ())

  /** x04: real calculation-linkbase validation (the downstream semantics
    * q15 models synthetically): reported parent totals vs
    * sum(child x weight) from the same constructed table, on the table
    * with the most in-table calculation sets.
    */
  def x04XbrlCalcValidate(s: SparkSession, dir: String): DataFrame = {
    val (schema, calcs) = calcSets(s).maxBy { case (t, cs) => (cs.size, t.name) }
    val fs = filings(s)
    FactTableBuilder.validateCalculations(s, schema, calcs, fs.facts, fs.contexts)
      .orderBy("filing_name", "entity_id", "concept")
  }

  /** x05: the reference's HEADLINE job, whole and measured — extract
    * every table of the merged ferc1 taxonomy from the 2021 archive and
    * write the complete parquet datapackage (all 255 tables, both
    * validated descriptors, taxonomy metadata) through
    * `XbrlExtract.writeDatapackage`, the writer `graft.Main` uses, in
    * Main's layout (xbrl.py:86-140 + cli.py:101-130). One summary row
    * per table `(table_name, n_rows, n_cols, error)`: a failed table is
    * its row's error, the others still write. Every table is routed
    * from the session's grouped fact store in one job ([[sharedStore]]:
    * built once from the ONE persisted parse — the archive is never
    * re-parsed, the corpus never re-aggregated, no per-table plan is
    * built), and counts are taken as the rows are written. Output lands under
    * java.io.tmpdir (or GRAFT_X05_OUT), scoped
    * `<base>/<applicationId>/run_<n>` — x05 is a WRITE workload by
    * design, and the per-app per-run scope keeps concurrent JVMs out of
    * each other's output and gives every bench rep a FRESH directory
    * (r8's [7.9, 22.9] rep spread tracked overwrite pressure on 255
    * parquet dirs, not plan shape). The previous run's directory is
    * removed after each run, bounding tmp usage at ~2 datapackages.
    */
  private val x05Runs = new java.util.concurrent.atomic.AtomicLong(0)

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def x05XbrlFullExtract(s: SparkSession, dir: String): DataFrame = {
    val base = sys.env.getOrElse("GRAFT_X05_OUT",
      s"${System.getProperty("java.io.tmpdir")}/graft_x05_datapackage")
    val scope = s"$base/${s.sparkContext.applicationId}"
    val run = x05Runs.incrementAndGet()
    val ts = tables(s)
    val written = graft.XbrlExtract.writeDatapackage(taxonomies(s), ts, sharedStore(s),
      s"$scope/run_$run")
    // writes are complete here (the datapackage writer awaits its job):
    // drop the predecessor so repeat runs don't accumulate
    if (run > 1) deleteRecursively(new java.io.File(s"$scope/run_${run - 1}"))
    import s.implicits._
    ts.map { t =>
      val r = written(t.name)
      (t.name, r.toOption, t.fields.size, r.left.toOption)
    }.toDF("table_name", "n_rows", "n_cols", "error").orderBy("table_name")
  }
}
