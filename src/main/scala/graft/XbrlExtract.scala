package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sinks.XbrlSinks
import graft.sources.{FilingSource, TaxonomyParser}
import graft.xbrl.TableSchema

/** Top-level extraction pipeline — the engine's analog of the
  * reference's `xbrl.extract` (xbrl.py:28-81): filings + taxonomy
  * archive in, lazily-planned output tables + coverage stats out, with
  * optional table filtering and instance-name pattern matching.
  *
  * Only the shared grouped fact store materializes up front; each
  * table's plan runs when a sink writes it, as a map-only projection of
  * that store.
  */
object XbrlExtract {

  /** `release()` frees the shared grouped store's checkpoint blocks and
    * the parsed filings backing `tables` — call it once every output
    * table is materialized (long-lived callers; a CLI process exit
    * releases implicitly).
    */
  case class ExtractOutput(
      taxonomies: Seq[graft.xbrl.Taxonomy],
      schemas: Seq[TableSchema],
      tables: Map[String, DataFrame],
      stats: DataFrame,
      release: () => Unit = () => ())

  /** Each element of `filings` may be a zip archive, a directory of
    * `.xbrl` files, or a single `.xbrl` filing — dispatched per input
    * like the reference CLI's positional arguments (cli.py:28-32).
    *
    * Every table is a map-only projection of ONE grouped fact store
    * ([[FactTableBuilder.groupedStore]]), built inside the tasks that
    * parse the filings: parse + store is ONE Spark job with no exchange.
    * The store is materialized here, eagerly, by [[checkpointed]]: each
    * table's plan then scans a leaf RDD instead of re-planning and
    * re-shipping the parse lineage in its task binary. The tables
    * themselves stay lazy until a sink runs them — `graft.Main` writes
    * them all in one batched job through [[XbrlSinks.writeParquetPooled]].
    *
    * A filing that arrives twice (the same archive passed twice, or two
    * entries with one stem) throws an `IllegalArgumentException` naming
    * it before any job runs; the names come from the archives' central
    * directories and the file scans' indexes, already read on the driver.
    */
  def extract(
      spark: SparkSession,
      filings: Seq[String],
      taxonomyZip: String,
      formNumber: Int = 1,
      requestedTables: Option[Set[String]] = None,
      instancePattern: Option[String] = None): ExtractOutput = {

    val taxonomies = TaxonomyParser.parseArchive(taxonomyZip)
    val allSchemas = FactTableSchema.fromTaxonomies(taxonomies)
    val schemas = requestedTables match {
      case Some(want) => allSchemas.filter(s => want.contains(s.name))
      case None       => allSchemas
    }

    val parsed = filings.map(FilingSource.fromPath(spark, _))
    try {
      // same matching as `rlike`: a find anywhere in the name
      val selected = instancePattern.map(java.util.regex.Pattern.compile)
        .fold(parsed.flatMap(_.names))(p => parsed.flatMap(_.names).filter(p.matcher(_).find()))
      val repeated = selected.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      if (repeated.nonEmpty)
        throw new IllegalArgumentException(
          s"filing(s) given more than once: ${repeated.toSeq.sorted.mkString(", ")}")

      def pattern(df: DataFrame): DataFrame =
        instancePattern.fold(df)(p => df.filter(col("filing_name").rlike(p)))
      val facts = pattern(parsed.map(_.facts.toDF()).reduce(_ union _))
        .as[graft.xbrl.RawFact](org.apache.spark.sql.Encoders.product[graft.xbrl.RawFact])
      val contexts = pattern(parsed.map(_.contexts.toDF()).reduce(_ union _))
        .as[graft.xbrl.XbrlContext](org.apache.spark.sql.Encoders.product[graft.xbrl.XbrlContext])
      val meta = pattern(parsed.map(_.meta).reduce(_ unionByName _))

      val (store, releaseStore) = checkpointed(
        pattern(FactTableBuilder.groupedStore(schemas, parsed)))
      val tables = schemas.map(s =>
        s.name -> FactTableBuilder.buildFromStore(s, store)).toMap
      val stats = FactTableBuilder.stats(spark, schemas, facts, contexts, meta)
      ExtractOutput(taxonomies, schemas, tables, stats,
        release = () => {
          releaseStore()
          parsed.foreach(_.unpersist())
        })
    } catch {
      case scala.util.control.NonFatal(e) =>
        parsed.foreach(_.unpersist())
        throw e
    }
  }

  /** `df` materialized now by `localCheckpoint`, and the function that
    * frees it. The checkpoint truncates the lineage: jobs over the
    * result ship a scan of the checkpoint blocks, not `df`'s plan.
    * `Dataset.unpersist` does not reach those blocks — they belong to
    * the checkpointed RDD under the result's plan, which the returned
    * function unpersists. Local checkpoint blocks cannot be recomputed:
    * an executor lost with them fails the jobs reading them (reliable
    * `checkpoint()` is the durable edition of the same move). If
    * materializing fails, the blocks are freed before the error
    * propagates.
    */
  private[graft] def checkpointed(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint(eager = false)
    val rdds = cp.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    val release = () => rdds.foreach(_.unpersist(blocking = false))
    try rdds.foreach(_.count())
    catch { case scala.util.control.NonFatal(e) => release(); throw e }
    (cp, release)
  }

  /** Upper-bound per-table row counts from the shared store in ONE job:
    * explode each store row's fact names against the broadcast
    * (name, period) -> table mapping and count distinct store rows per
    * table. Overcounts only rows the per-table axis-subset filter later
    * drops. The driver receives one count per TABLE — taxonomy-bounded
    * metadata (255 rows for ferc1), never data-scaled.
    *
    * This IS one extra aggregation pass over the store beyond the
    * store's own materialization; it has never registered in the x05
    * profile (the store is materialized, the pass is a cached scan into
    * a 255-row agg). If it ever does, piggyback the counts on the
    * store's materialization via `observe` metrics instead.
    */
  private[graft] def estimateTableRows(
      spark: SparkSession,
      schemas: Seq[TableSchema],
      store: DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mapping = schemas
      .flatMap(t => t.dataColumns.map(c => (c.name, t.periodType == "instant", t.name)))
      .toDF("name", "instant", "table_name")
    store
      .select(col("filing_name"), col("c_id"), col("instant"),
        explode(map_keys(col("factmap"))).as("name"))
      .join(broadcast(mapping), Seq("name", "instant"))
      .select("table_name", "filing_name", "c_id").distinct()
      .groupBy("table_name").count()
      .as[(String, Long)]
      .collect().toMap // one row per table: metadata, not data
  }

  /** The reference CLI's full parquet workload over an ALREADY-PARSED
    * filing store (xbrl.py:86-140 + cli.py:101-130, one measured run):
    * build every table in `schemas` from the shared grouped store, write
    * each to `<outDir>/tables/<name>.parquet`, write the validated
    * parquet datapackage descriptor and the taxonomy metadata JSON, and
    * return one summary row per table `(table_name, n_rows, n_cols,
    * error)`.
    *
    * The store is aggregated ONCE (checkpointed here unless the caller
    * hands in its own materialized copy); every table is then a
    * map-only filter-projection over it. Tables whose estimated rows
    * fit one file (`targetRowsPerFile`; all of ferc1's, keeping the
    * reference's one-file-per-table layout, cli.py:211-230) write in
    * ONE batched job through [[XbrlSinks.writeSingleFileTables]], the
    * writer `graft.Main` uses too; a mega-table keeps the standard
    * multi-file DataFrame write, whose data amortizes the per-job
    * constants the batch removes.
    *
    * Partial-output semantics: a failed table surfaces as its summary
    * row's `error` (the other tables still write and report counts —
    * one transient failure must not destroy a 255-table run's record);
    * the descriptor, written only AFTER the table jobs finish, lists
    * exactly the tables that succeeded, so it never references missing
    * or partial data. A rerun into the same `outDir` repairs failed
    * tables via overwrite. If `timeout` expires, the in-flight write
    * jobs are cancelled and the run throws — no descriptor is written.
    */
  def writeParquetDatapackage(
      spark: SparkSession,
      taxonomies: Seq[graft.xbrl.Taxonomy],
      schemas: Seq[TableSchema],
      parsed: graft.sources.ParsedFilings,
      outDir: String,
      formNumber: Int = 1,
      poolSize: Int = 8,
      store: Option[DataFrame] = None,
      rowEstimates: Option[Map[String, Long]] = None,
      targetRowsPerFile: Long = 4000000L,
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(30, "min"),
      buildTable: (TableSchema, DataFrame) => DataFrame =
        FactTableBuilder.buildFromStore): DataFrame = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive: $targetRowsPerFile")
    // validate the schema set at the sink boundary BEFORE any table job
    // runs (fail fast), but WRITE the descriptor only after the jobs
    // finish — a descriptor must never describe tables that aren't there
    XbrlSinks.datapackageParquetJson(schemas, formNumber,
      tableNames = Some(schemas.map(_.name).toSet))
    val (st, releaseStore) = store.fold(checkpointed(FactTableBuilder.groupedStore(
      schemas, Seq(parsed))))(s => (s, () => ()))
    def row(t: TableSchema, result: Either[String, Long]): (String, Option[Long], Int, Option[String]) =
      (t.name, result.toOption, t.fields.size, result.left.toOption)
    val summary =
      try XbrlSinks.onPool(spark, poolSize, timeout, "datapackage write") { (jobGroup, pool) =>
        implicit val ec: scala.concurrent.ExecutionContext = pool
        // the estimate is file-sizing metadata derived from the store —
        // a caller holding a session-cached store hands in the estimate
        // computed once beside it (the SharedIndex discipline) instead
        // of re-running the explode+distinct pass per write run
        val estimates = rowEstimates.getOrElse(estimateTableRows(spark, schemas, st))
        def nFiles(t: TableSchema): Long = math.max(1L,
          (estimates.getOrElse(t.name, 0L) + targetRowsPerFile - 1) / targetRowsPerFile)
        val (smalls, bigs) = schemas.partition(nFiles(_) == 1L)

        val bigJobs = bigs.map { t =>
          scala.concurrent.Future {
            spark.sparkContext.setJobGroup(jobGroup,
              s"graft datapackage table ${t.name}", interruptOnCancel = true)
            try {
              val obs = org.apache.spark.sql.Observation()
              buildTable(t, st)
                .coalesce(nFiles(t).toInt)
                .observe(obs, org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)).as("n"))
                .write.mode("overwrite").parquet(s"$outDir/tables/${t.name}.parquet")
              row(t, Right(obs.get("n").asInstanceOf[Long]))
            } catch {
              case scala.util.control.NonFatal(e) =>
                row(t, Left(XbrlSinks.describe(e)))
            }
          }
        }
        val byName = smalls.map(t => t.name -> t).toMap
        val batched = XbrlSinks.writeSingleFileTables(spark,
          smalls.map(t => t.name -> (() => buildTable(t, st))), s"$outDir/tables", jobGroup)
          .map(_.map { case (name, result) => row(byName(name), result) })
        scala.concurrent.Future.sequence(bigJobs).zipWith(batched)(_ ++ _)
      }
      finally releaseStore()
    val written = summary.collect { case (name, _, _, None) => name }.toSet
    if (written.nonEmpty) {
      XbrlSinks.writeString(s"$outDir/datapackage.json",
        XbrlSinks.datapackageParquetJson(schemas.filter(s => written(s.name)),
          formNumber, tableNames = Some(written)))
      XbrlSinks.writeString(s"$outDir/taxonomy_metadata.json",
        XbrlSinks.metadataJson(taxonomies))
    }
    import spark.implicits._
    summary.toDF("table_name", "n_rows", "n_cols", "error").orderBy("table_name")
  }

  /** Extract + write everything the reference CLI writes (cli.py:101-130):
    * parquet tables, datapackage.json, taxonomy metadata JSON.
    */
  def extractToParquet(
      spark: SparkSession,
      filings: Seq[String],
      taxonomyZip: String,
      outDir: String,
      formNumber: Int = 1): ExtractOutput = {
    val out = extract(spark, filings, taxonomyZip, formNumber)
    XbrlSinks.writeParquetPooled(out.tables, s"$outDir/tables")
    XbrlSinks.writeString(s"$outDir/datapackage.json",
      XbrlSinks.datapackageJson(out.schemas, s"$outDir/tables", formNumber,
        tableNames = Some(out.tables.keySet)))
    XbrlSinks.writeString(s"$outDir/taxonomy_metadata.json",
      XbrlSinks.metadataJson(out.taxonomies))
    out
  }
}
