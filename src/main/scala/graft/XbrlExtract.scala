package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sinks.XbrlSinks
import graft.sources.{FilingSource, TaxonomyParser}
import graft.xbrl.TableSchema

/** Top-level extraction pipeline — the engine's analog of the
  * reference's `xbrl.extract` (xbrl.py:28-81): filings + taxonomy
  * archive in, the grouped fact store every output table is a
  * projection of out, with optional table filtering and instance-name
  * pattern matching.
  *
  * Nothing runs up front: [[extract]] plans the store, and
  * [[writeDatapackage]] is the load that follows — the filings parsed,
  * every table routed from the store and written, all in one Spark job,
  * then both datapackage descriptors and the taxonomy metadata.
  */
object XbrlExtract {

  /** The extraction's plan. `store` reads the filings afresh in each job
    * that scans it; [[tables]] checkpoints it once, on first use, and
    * `release()` frees that checkpoint — call it once every table view
    * has been read (long-lived callers; a CLI process exit releases
    * implicitly).
    */
  case class ExtractOutput(
      taxonomies: Seq[graft.xbrl.Taxonomy],
      schemas: Seq[TableSchema],
      store: DataFrame) {

    @volatile private var freeCheckpoint: () => Unit = () => ()

    /** Each table as a lazy [[FactTableBuilder.buildFromStore]] view of
      * the store, checkpointed on first use so that reading every view
      * parses the filings once, not once per table — for API callers
      * and the JDBC sink; the datapackage write does not use them.
      */
    lazy val tables: Map[String, DataFrame] = {
      val (checkpoint, free) = checkpointed(store)
      freeCheckpoint = free
      schemas.map(s => s.name -> FactTableBuilder.buildFromStore(s, checkpoint)).toMap
    }

    def release(): Unit = freeCheckpoint()
  }

  /** Each element of `filings` may be a zip archive, a directory of
    * `.xbrl` files, or a single `.xbrl` filing — dispatched per input
    * like the reference CLI's positional arguments (cli.py:28-32).
    *
    * Every table is a map-only projection of ONE grouped fact store
    * ([[FactTableBuilder.groupedStore]]), built inside the tasks that
    * parse the filings, with no exchange. It is returned as a plan and
    * no job runs here: [[writeDatapackage]] parses, routes and writes in
    * its one job.
    *
    * A filing that arrives twice (the same archive passed twice, or two
    * entries with one stem) throws an `IllegalArgumentException` naming
    * it; the names come from the archives' central directories and the
    * file scans' indexes, already read on the driver.
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
    // same matching as `rlike`: a find anywhere in the name
    val selected = instancePattern.map(java.util.regex.Pattern.compile)
      .fold(parsed.flatMap(_.names))(p => parsed.flatMap(_.names).filter(p.matcher(_).find()))
    val repeated = selected.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    if (repeated.nonEmpty)
      throw new IllegalArgumentException(
        s"filing(s) given more than once: ${repeated.toSeq.sorted.mkString(", ")}")

    val grouped = FactTableBuilder.groupedStore(schemas, parsed)
    ExtractOutput(taxonomies, schemas,
      instancePattern.fold(grouped)(p => grouped.filter(col("filing_name").rlike(p))))
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
    // lazy, then materialized here: a failed eager checkpoint would
    // leave its RDD persisted with no handle to free it
    val cp = df.localCheckpoint(eager = false)
    val rdds = graft.operators.IterativeCheckpoint.checkpointRdds(cp)
    val release = () => rdds.foreach(_.unpersist(blocking = false))
    try rdds.foreach(_.count())
    catch { case scala.util.control.NonFatal(e) => release(); throw e }
    (cp, release)
  }

  /** The reference CLI's load (cli.py:101-130): every table of
    * `schemas` written from the grouped fact store `store` as one
    * parquet file at `<outputDir>/fercN_xbrl/<name>.parquet`
    * (cli.py:211-230), all in ONE Spark job whose map stage runs the
    * store's plan — for [[extract]]'s store, parsing the filings — and
    * routes each context to the tables that take it
    * ([[XbrlSinks.writeRouted]]); then the
    * parquet descriptor `fercN_xbrl/datapackage.json`, the sqlite-style
    * descriptor `fercN_xbrl_datapackage.json` and
    * `fercN_xbrl_taxonomy_metadata.json`. `graft.Main` and x05 both
    * write through this.
    *
    * Returns each table's row count, or the error that stopped its
    * write: a failed table never stops the others, and both descriptors
    * list exactly the tables that landed, so they never reference
    * missing or partial data. No descriptor is written if no table
    * landed. A failure of the map stage (a filing entry that cannot be
    * read, say) fails the job, and this throws it with no descriptor;
    * so does an expired `timeout`, which covers the parse as well and
    * cancels the in-flight job. A rerun into the same `outputDir`
    * replaces each table it writes.
    */
  def writeDatapackage(
      taxonomies: Seq[graft.xbrl.Taxonomy],
      schemas: Seq[TableSchema],
      store: DataFrame,
      outputDir: String,
      formNumber: Int = 1,
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(30, "min")): Map[String, Either[String, Long]] = {
    // validate the schema set before the write job runs (fail fast); the
    // descriptors themselves are written only after the job
    XbrlSinks.validateSchemas(schemas)
    val tablesDir = s"$outputDir/ferc${formNumber}_xbrl"
    val results = XbrlSinks.writeRouted(schemas, store, tablesDir, timeout)
    val written = results.collect { case (name, Right(_)) => name }.toSet
    if (written.nonEmpty) {
      val landed = schemas.filter(s => written(s.name))
      XbrlSinks.writeString(s"$outputDir/ferc${formNumber}_xbrl_datapackage.json",
        XbrlSinks.datapackageJson(landed, tablesDir, formNumber, Some(written)))
      XbrlSinks.writeString(s"$tablesDir/datapackage.json",
        XbrlSinks.datapackageParquetJson(landed, formNumber, Some(written)))
      XbrlSinks.writeString(s"$outputDir/ferc${formNumber}_xbrl_taxonomy_metadata.json",
        XbrlSinks.metadataJson(taxonomies))
    }
    results
  }
}
