package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sinks.XbrlSinks
import graft.sources.{FilingSource, TaxonomyParser}

/** One generated season and the CLI job over it: the untraced
  * extraction through `graft.Main.main`, the traced one through the
  * modules Main reaches, and the output check against the generator's
  * ground truth (tables written, rows per table from the parquet
  * footers, the table lists of both datapackage descriptors).
  *
  * The traced extraction replays Main's steps by hand, so it must be
  * changed with Main. To catch a replay that no longer matches, its
  * output layout (every file, part files included, and the content of
  * each descriptor) must equal that of the latest untraced extraction,
  * or the traced op fails.
  */
final class Season(spark: SparkSession, cpus: Int, data: String, freshDir: () => String) {
  private val truth = Json.read(s"$data/truth.json")
  val requested: Seq[String] = truth.get("requested").elements().asScala.map(_.asText).toSeq
  private val requestedSet = requested.toSet
  val expectedRows: Map[String, Long] =
    truth.get("rows").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  val facts: Long = truth.get("facts").asLong
  val filings: Long = truth.get("filings").asLong
  private val zip = s"$data/ferc1-xbrl-2021.zip"
  private val taxonomy = s"$data/ferc1-xbrl-taxonomies.zip"
  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private var mainLayout: Option[Seq[String]] = None

  /** One untraced CLI extraction: (op, bytes written). */
  def extract(name: String): (Op, Long) = {
    val out = freshDir()
    val t0 = System.nanoTime()
    val err =
      try {
        graft.Main.main(Array(zip, "--taxonomy", taxonomy, "--output-dir", out,
          "--cpus", cpus.toString, "--requested-tables", requested.mkString(",")))
        None
      } catch { case NonFatal(e) => Some(Op.describe(e)) }
    val wall = (System.nanoTime() - t0) / 1e9
    finish(name, out, wall, err, replay = false)
  }

  /** Checks and deletes an extraction's output. Main's checked layout is
    * kept; a replay's must equal it.
    */
  private def finish(name: String, out: String, wall: Double, err: Option[String],
      replay: Boolean): (Op, Long) = {
    val checked = err.orElse(check(out)).orElse {
      val mine = layout(out)
      if (!replay) { mainLayout = Some(mine); None }
      else mainLayout match {
        case Some(main) if main == mine => None
        case Some(main) => Some("traced replay diverges from graft.Main's output: only Main has " +
          (main diff mine).take(3).mkString(", ") + "; only the replay has " + (mine diff main).take(3).mkString(", "))
        case None => Some("no checked graft.Main output to compare the traced replay with")
      }
    }
    val bytes = Files.bytes(new File(out))
    Files.delete(new File(out))
    (Op(name, wall, checked), bytes)
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file under `out` by relative path (part-file UUIDs masked),
    * each JSON file with a digest of its text (the output dir's path
    * masked), sorted.
    */
  private def layout(out: String): Seq[String] = {
    val root = new File(out).toPath
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root.toFile).map { f =>
      val rel = Uuid.replaceAllIn(root.relativize(f.toPath).toString, "*")
      if (!rel.endsWith(".json")) rel
      else {
        val text = java.nio.file.Files.readString(f.toPath).replace(out, "<out>")
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        s"$rel sha256=$digest"
      }
    }.sorted
  }

  private def footerRows(f: File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), hadoopConf))
    try r.getRecordCount finally r.close()
  }

  private def partFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  private def resources(path: String): Set[String] =
    Json.read(path).get("resources").elements().asScala.map(_.get("name").asText).toSet

  /** Output check against the ground truth; None when the output is right. */
  private def check(out: String): Option[String] =
    try {
      val problems = mutable.ArrayBuffer.empty[String]
      val tablesDir = new File(s"$out/ferc1_xbrl")
      val written = Option(tablesDir.listFiles).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.endsWith(".parquet"))
        .map(_.getName.stripSuffix(".parquet")).toSet
      if (written != requestedSet)
        problems += s"tables written: ${written.size}, expected ${requested.size}"
      for (t <- requested if written(t)) {
        val dir = new File(tablesDir, s"$t.parquet")
        val rows = partFiles(dir).map(footerRows).sum
        if (!new File(dir, "_SUCCESS").isFile) problems += s"$t: no _SUCCESS"
        if (rows != expectedRows(t)) problems += s"$t: $rows rows, expected ${expectedRows(t)}"
      }
      for (d <- Seq(s"$out/ferc1_xbrl/datapackage.json", s"$out/ferc1_xbrl_datapackage.json")) {
        val names = resources(d)
        if (names != requestedSet) problems += s"$d lists ${names.size} tables, expected ${requested.size}"
      }
      if (!new File(s"$out/ferc1_xbrl_taxonomy_metadata.json").isFile)
        problems += "taxonomy metadata missing"
      if (problems.isEmpty) None
      else Some(s"${problems.size} check failures: ${problems.take(5).mkString("; ")}")
    } catch { case NonFatal(e) => Some(s"output check: ${Op.describe(e)}") }

  /** One traced extraction: (op, per-op values beyond the spans). */
  def tracedExtract(t: Tracer, opId: Int): (Op, Map[String, Double]) = {
    val out = freshDir()
    val tablesDir = s"$out/ferc1_xbrl"
    var values = Map.empty[String, Double]
    val t0 = System.nanoTime()
    val err =
      try {
        val (parsed, store, schemas) = t.span("harness.extract", opId) {
          val taxonomies = t.span("sources.taxonomy_parse", opId)(TaxonomyParser.parseArchive(taxonomy))
          val schemas = t.span("plans.schema_derive", opId)(FactTableSchema.fromTaxonomies(taxonomies))
            .filter(s => requestedSet(s.name))
          val parsed = t.span("sources.filing_parse", opId) {
            val p = FilingSource.fromPath(spark, zip)
            p.parsed.count()
            p
          }
          var storeRows = 0L
          val store = t.span("plans.fact_store", opId) {
            val s = FactTableBuilder.groupedStore(schemas, parsed.facts, parsed.contexts, parsed.meta)
              .persist(StorageLevel.MEMORY_AND_DISK)
            storeRows = s.count()
            s
          }
          values += "plans.store_rows" -> storeRows.toDouble
          val tables = t.span("plans.table_build", opId) {
            schemas.map { s =>
              val df = FactTableBuilder.buildFromStore(s, store)
              df.queryExecution.executedPlan
              s.name -> df
            }.toMap
          }
          t.span("sinks.table_write", opId)(XbrlSinks.writeParquetPooled(tables, tablesDir))
          t.span("sinks.descriptor", opId) {
            XbrlSinks.writeString(s"$out/ferc1_xbrl_datapackage.json",
              XbrlSinks.datapackageJson(schemas, tablesDir, 1, Some(tables.keySet)))
            XbrlSinks.writeString(s"$tablesDir/datapackage.json",
              XbrlSinks.datapackageParquetJson(schemas, 1, Some(tables.keySet)))
            XbrlSinks.writeString(s"$out/ferc1_xbrl_taxonomy_metadata.json",
              XbrlSinks.metadataJson(taxonomies))
          }
          (parsed, store, schemas)
        }
        // counts, taken outside every span from the still-persisted stores
        val nFilings = parsed.parsed.count()
        val coverage = FactTableBuilder.stats(spark, schemas, parsed.facts, parsed.contexts, parsed.meta)
          .selectExpr("sum(used_facts)", "sum(total_facts)").head()
        values ++= Map(
          "sources.filings" -> nFilings.toDouble,
          "sources.filings_skipped" -> (FilingSource.listEntries(zip).size - nFilings).toDouble,
          "sources.facts" -> parsed.facts.count().toDouble,
          "plans.fact_use_ratio" -> coverage.getLong(0).toDouble / coverage.getLong(1))
        store.unpersist()
        parsed.unpersist()
        None
      } catch { case NonFatal(e) => Some(Op.describe(e)) }
    val root = t.closed.find(s => s.op == opId && s.name == "harness.extract")
    val wall = root.map(_.durNs / 1e9).getOrElse((System.nanoTime() - t0) / 1e9)
    val dir = new File(tablesDir)
    val tableDirs = Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    values ++= Map(
      "sinks.tables_written" -> tableDirs.count(d => new File(d, "_SUCCESS").isFile).toDouble,
      "sinks.tables_failed" -> requested.count(n => !new File(dir, s"$n.parquet/_SUCCESS").isFile).toDouble,
      "sinks.files_written" -> tableDirs.map(partFiles(_).size).sum.toDouble,
      "sinks.bytes_written" -> Files.bytes(dir).toDouble)
    val (op, _) = finish("extract_traced", out, wall, err, replay = true)
    (op, values)
  }
}

/** xbrl_small: the paper's CLI job, `graft.Main.main`, timed in-process
  * on an already-built session (Main leaves a session it did not create
  * running), into a fresh output directory each time, every extraction
  * checked against the ground truth.
  *
  * The traced run alternates an untraced extraction with a traced one.
  * The traced extraction calls the same module functions Main reaches,
  * in Main's order, with a span around each and each boundary forced
  * (the persisted parse counted, the grouped store materialised, every
  * table planned through `executedPlan`), so it serialises work that
  * the untraced run overlaps, and its output must match Main's. It then runs the season rung (`--season`,
  * a season of many more filings): one warm-up, one timed and one
  * traced extraction, for the facts/s curve and the parse/store split.
  */
final class XbrlWorkload(spark: SparkSession, cfg: Config, tracer: Option[Tracer]) extends Workload {
  private var seq = 0
  private def freshDir(): String = { seq += 1; s"${cfg.work}/out-$seq" }
  private val small = new Season(spark, cfg.cpus, cfg.data, () => freshDir())

  private def spanOf(t: Tracer, op: Int, name: String) = t.closed.find(s => s.op == op && s.name == name)
  private def selfS(t: Tracer, op: Int, name: String) =
    spanOf(t, op, name).map(t.selfNs(_) / 1e9).getOrElse(0.0)

  /** Share of a traced extraction spent in the given layers. */
  private def share(t: Tracer, op: Int, wall: Double, layers: Seq[String]) =
    layers.map(selfS(t, op, _)).sum / wall

  private val WriteLayers = Seq("sinks.table_write", "plans.table_build", "sinks.descriptor")
  private val ParseLayers = Seq("sources.filing_parse", "plans.fact_store")

  def warmUp(): Seq[Op] = Seq(small.extract("warm_up")._1)

  /** Extractions still speed up run over run in a fresh JVM, so a run
    * whose window fits only one would report a slower median than one
    * that fits two; every run times at least two.
    */
  private val MinTimed = 2

  /** The season rung of the traced run: (ops, per-layer values). */
  private def seasonRung(t: Tracer, firstOp: Int): (Seq[Op], Map[String, Double]) = {
    val season = new Season(spark, cfg.cpus, cfg.season, () => freshDir())
    val warm = season.extract("season_warm_up")._1
    val timed = season.extract("season_extract")._1
    val (traced, _) = season.tracedExtract(t, firstOp)
    val ops = Seq(warm, timed, traced)
    val values =
      if (!ops.forall(_.ok)) Map.empty[String, Double]
      else Map(
        "season.extract_s" -> timed.wallS,
        "season.facts_per_s" -> season.facts / timed.wallS,
        "season.sources.filing_parse_s" -> selfS(t, firstOp, "sources.filing_parse"),
        "season.plans.fact_store_s" -> selfS(t, firstOp, "plans.fact_store"),
        "season.layer_split_share" -> share(t, firstOp, traced.wallS, ParseLayers))
    (ops, values)
  }

  def measure(seconds: Double): Outcome = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val untraced = mutable.ArrayBuffer.empty[(Op, Long)]
    val traced = mutable.ArrayBuffer.empty[(Int, Op, Map[String, Double])]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    do {
      val u = small.extract("extract")
      untraced += u
      ops += u._1
      tracer.foreach { t =>
        val (op, values) = small.tracedExtract(t, ops.size)
        traced += ((ops.size, op, values))
        ops += op
      }
    } while (elapsed < seconds || untraced.size < MinTimed)
    val wall = elapsed

    // throughput over the timed extraction walls only: the output checks
    // and deletes between them are the benchmark's own work
    val extractWall = untraced.map(_._1.wallS).sum
    val good = untraced.filter(_._1.ok)
    val walls = good.map(_._1.wallS).toSeq
    val p50 = Stats.median(walls)
    val outputMb = Stats.median(good.map(_._2.toDouble).toSeq) / (1 << 20)
    val endToEnd = Map(
      "op_p50_s" -> p50,
      "ops_per_s" -> good.size / extractWall)

    val layers: Map[String, Double] = tracer.map { t =>
      val okTraced = traced.filter(_._2.ok)
      def med(f: ((Int, Op, Map[String, Double])) => Double) = Stats.median(okTraced.map(f).toSeq)
      val selfTimes = Catalog.XbrlLayers.map(l => s"${l}_s" -> med(x => selfS(t, x._1, l)))
      val counters = Catalog.CountedLayers.flatMap { l =>
        def c(x: (Int, Op, Map[String, Double])) = spanOf(t, x._1, l).map(_.counters).getOrElse(new Counters)
        Seq(s"$l.jobs" -> med(c(_).jobs.toDouble),
          s"$l.sched_wait_s" -> med(c(_).schedWaitMs / 1e3),
          s"$l.shuffle_mb" -> med(c(_).shuffleBytes / 1048576.0),
          s"$l.spill_mb" -> med(c(_).spillBytes / 1048576.0))
      }
      val values = okTraced.flatMap(_._3.keys).distinct.map(k => k -> med(_._3.getOrElse(k, 0.0)))
      val (rungOps, rung) =
        if (cfg.season.isEmpty) (Nil, Map.empty[String, Double]) else seasonRung(t, ops.size + 1)
      ops ++= rungOps
      (selfTimes ++ counters ++ values ++ rung ++ Seq(
        "harness.layer_split_share" -> med(x => share(t, x._1, x._2.wallS, WriteLayers)),
        "harness.trace_overhead_ratio" -> med(_._2.wallS) / p50,
        "extract.facts_per_s" -> small.facts / p50,
        "extract.filings_per_s" -> small.filings / p50,
        "extract.output_mb" -> outputMb)).toMap
    }.getOrElse(Map.empty)

    Outcome(ops.toSeq, endToEnd, layers, Map(
      "filings" -> small.filings, "facts" -> small.facts,
      "tables_in_taxonomy" -> small.expectedRows.size,
      "tables_extracted" -> small.requested.size,
      "rows_extracted" -> small.requested.map(small.expectedRows).sum,
      "extract_s" -> p50, "facts_per_s" -> small.facts / p50,
      "filings_per_s" -> small.filings / p50, "output_mb" -> outputMb, "timed_wall_s" -> wall))
  }
}

object Files {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum
    else if (f.isFile) f.length else 0L

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
