package graft.sources

import java.sql.Timestamp
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.XbrlInstanceParser.ParsedInstance
import graft.xbrl.{ContextFacts, FactValue, RawFact, XbrlContext}

/** Filing enumeration + distributed parse (SURVEY.md §2.2
  * `xbrl_instances_from_zip`; reference instance.py:411-484).
  *
  * Shape for scale: the archive's central directory and rssfeed JSON are
  * metadata — read once on the driver (bytes proportional to #filings,
  * not data size). The filings themselves are parsed in executors: the
  * entry names are parallelized straight into tasks (a scan, no
  * exchange) and each task opens the archive (which lives on shared
  * storage) and reads only its own entries. Nothing filing-sized ever
  * moves through the driver.
  */
object FilingSource {

  /** rssfeed metadata for one filing (instance.py:421-439). */
  case class FilingInfo(filing_name: String, publication_time: Timestamp, taxonomy_version: String)

  private val PubTimeFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Parse the `rssfeed` JSON inside a filings archive: filename ->
    * (published_parsed as UTC-naive timestamp, taxonomy_zip_name).
    */
  def readRssfeed(zipPath: String): Map[String, FilingInfo] = {
    val zf = new ZipFile(zipPath)
    try {
      val entry = zf.getEntry("rssfeed")
      if (entry == null) return Map.empty
      val root = new ObjectMapper().readTree(zf.getInputStream(entry))
      root.properties().asScala.iterator.flatMap { e =>
        e.getValue.elements().asScala.map { filing =>
          val filename = filing.get("filename").asText
          val published = filing.get("rss_metadata").get("published_parsed").asText
          val ts = Timestamp.valueOf(LocalDateTime.parse(published, PubTimeFmt))
          val name = stem(filename)
          name -> FilingInfo(name, ts, filing.get("taxonomy_zip_name").asText)
        }
      }.toMap
    } finally zf.close()
  }

  /** Parse one filing, skipping (with a task-log line) filings that are
    * not well-formed XML — empty submissions exist in real FERC archives
    * and the reference likewise logs and skips them (xbrl.py:159-163).
    * One broken filing must not fail a 100 TB batch.
    */
  private[graft] def parseOrSkip(
      name: String,
      in: java.io.InputStream,
      factPrefix: String): Option[ParsedInstance] =
    try Some(XbrlInstanceParser.parse(name, in, factPrefix))
    catch {
      case e: javax.xml.stream.XMLStreamException =>
        System.err.println(s"[graft] skipping unparseable filing $name: ${e.getMessage}")
        None
    }

  private[graft] def stem(filename: String): String = {
    val base = filename.substring(filename.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** All `.xbrl` entry names in the archive (driver-side metadata read). */
  def listEntries(zipPath: String): Seq[String] = {
    val zf = new ZipFile(zipPath)
    try zf.entries().asScala.map(_.getName).filter(_.endsWith(".xbrl")).toVector.sorted
    finally zf.close()
  }

  /** Distributed parse of every filing in a zip archive. Each entry is
    * read whole before it is parsed, so an entry that cannot be read
    * (truncated or corrupt) is told apart from a malformed filing: it
    * fails the job with an `IOException` naming the archive and the
    * entry, where a malformed filing is skipped.
    */
  def fromZip(spark: SparkSession, zipPath: String, factPrefix: String = "ferc"): ParsedFilings = {
    import spark.implicits._
    val entries = listEntries(zipPath)
    val info = readRssfeed(zipPath)
    val slices = math.min(entries.size, spark.sparkContext.defaultParallelism).max(1)
    val parsed = spark
      .createDataset(spark.sparkContext.parallelize(entries, slices))
      .mapPartitions { names =>
        // one archive handle per task; each task reads only its entries
        val zf = new ZipFile(zipPath)
        try names.flatMap { entryName =>
          val bytes =
            try {
              val in = zf.getInputStream(zf.getEntry(entryName))
              try in.readAllBytes() finally in.close()
            } catch {
              case e: java.io.IOException =>
                throw new java.io.IOException(s"cannot read entry $entryName of $zipPath: $e", e)
            }
          parseOrSkip(stem(entryName), new java.io.ByteArrayInputStream(bytes), factPrefix)
        }.toVector.iterator
        finally zf.close()
      }
    new ParsedFilings(spark, parsed, info, entries.map(stem))
  }

  /** Distributed parse of a directory of `.xbrl` files (no rssfeed, so
    * no publication times — matches reference get_instances on a
    * directory, instance.py:454-484).
    */
  def fromDirectory(spark: SparkSession, dir: String, factPrefix: String = "ferc"): ParsedFilings =
    fromBinaryFiles(spark, dir, factPrefix)

  /** Distributed parse of one standalone `.xbrl` filing (reference
    * get_instances single-file branch, instance.py:470-472).
    */
  def fromFile(spark: SparkSession, path: String, factPrefix: String = "ferc"): ParsedFilings =
    fromBinaryFiles(spark, path, factPrefix)

  /** `binaryFile` scan over a directory or a single file: distributed
    * whole-file reads off shared storage, the `*.xbrl` glob applied to
    * file NAMES so a directory's non-filing entries are skipped and a
    * single-file load still matches itself.
    */
  private def fromBinaryFiles(spark: SparkSession, path: String, factPrefix: String): ParsedFilings = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xbrl")
      .load(path)
    val parsed = files
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, bytes) =>
        parseOrSkip(stem(p), new java.io.ByteArrayInputStream(bytes), factPrefix)
      })
    // the scan's file index, already listed on the driver
    val names = files.inputFiles.toSeq.map(f => stem(new java.net.URI(f).getPath))
    new ParsedFilings(spark, parsed, Map.empty, names)
  }

  /** Dispatch one filing input by its type — the reference CLI accepts
    * "a single XBRL filing, a directory of XBRL filings, or a zipfile
    * containing XBRL filings" for each positional argument (cli.py:28-32,
    * get_instances instance.py:453-484): a `.zip` archive routes through
    * the rssfeed-aware zip parse, a directory through the binaryFile
    * scan, a single `.xbrl` file through a one-file scan.
    */
  def fromPath(spark: SparkSession, path: String, factPrefix: String = "ferc"): ParsedFilings = {
    val f = new java.io.File(path)
    if (!f.exists())
      throw new java.io.FileNotFoundException(s"Could not find XBRL instances at $path")
    if (f.isDirectory) fromDirectory(spark, path, factPrefix)
    else if (path.endsWith(".zip")) fromZip(spark, path, factPrefix)
    else if (path.endsWith(".xbrl")) fromFile(spark, path, factPrefix)
    else throw new IllegalArgumentException(
      s"filing input $path is not a .zip archive, a directory, or a .xbrl filing")
  }
}

/** Parsed filings exposed as the three long tables the fact-table builder
  * consumes, and as the per-context rows ([[contextFacts]]) the grouped
  * fact store is built from. Nothing is persisted: each job that reads
  * one of these parses the filings it reads, so a caller that reads the
  * parse more than once persists `parsed` itself (x01-x05 share one
  * persisted parse per session) and frees it with `unpersist()`.
  * `names` are the filing names the driver read while listing the input
  * (archive central directory or file index) — one per filing entry,
  * repeats included.
  */
class ParsedFilings(
    spark: SparkSession,
    val parsed: Dataset[ParsedInstance],
    info: Map[String, FilingSource.FilingInfo],
    val names: Seq[String]) {
  import spark.implicits._

  def facts: Dataset[RawFact] = parsed.flatMap(_.facts)

  def contexts: Dataset[XbrlContext] = parsed.flatMap(_.contexts)

  /** Each filing's facts named in `factNames`, grouped by context in the
    * task that parses the filing: one row per context holding at least
    * one such fact, with the context's fields and the rssfeed
    * publication_time (from the driver's map, rows proportional to
    * #filings) attached. A filing's facts and contexts arrive in the same
    * parsed row, so this is a map-only step — no exchange, no join.
    */
  def contextFacts(factNames: Set[String]): Dataset[ContextFacts] = {
    val published = info.map { case (n, i) => n -> i.publication_time }
    parsed.flatMap { p =>
      val byContext = p.facts.filter(f => factNames(f.name)).groupBy(_.c_id)
      val pub = published.getOrElse(p.filing_name, null)
      p.contexts.flatMap(c => byContext.get(c.c_id).map(fs => ContextFacts(
        p.filing_name, c.c_id, fs.map(f => FactValue(f.name, f.value)),
        c.entity_id, c.start_date, c.end_date, c.instant, c.dims, pub)))
    }
  }

  /** Filing-level metadata: publication_time/taxonomy_version from the
    * rssfeed (driver-side, broadcast-joined), report_date and fact-id
    * stats from the parse.
    */
  def meta: DataFrame = {
    val fromParse = parsed
      .map(p => (p.filing_name, p.report_date, p.total_facts, p.duplicated_fact_ids.size.toLong))
      .toDF("filing_name", "report_date", "total_facts", "duplicated_fact_ids")
    val fromRss = info.values.toSeq
      .toDF("filing_name", "publication_time", "taxonomy_version")
    fromParse.join(broadcast(fromRss), Seq("filing_name"), "left")
      .select("filing_name", "publication_time", "taxonomy_version", "report_date",
        "total_facts", "duplicated_fact_ids")
  }

  def unpersist(): Unit = parsed.unpersist()
}
