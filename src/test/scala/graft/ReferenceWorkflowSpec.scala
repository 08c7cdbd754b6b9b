package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.Relational
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The examples/ walkthrough as an executable test — the COMPLETE
  * reference-user workflow in one pass: full extraction to a parquet
  * datapackage (every table of the merged taxonomy, the reference CLI's
  * whole job), then consumption of the written output exactly as PUDL
  * consumes the reference's — read a table back by its descriptor path
  * and run latest-filing-wins dedup on the primary key. Proves the
  * composed surface, not just each stage: a reference user can switch,
  * run their extract, and point their downstream queries at the result.
  */
class ReferenceWorkflowSpec extends SparkSpec {

  // resolved via GRAFT_XBRL_DATA_DIR / graft.xbrl.data.dir like every
  // other suite, so the build stays decoupled from this box's layout
  private def archive(name: String): String =
    graft.operators.XbrlQueries.requireArchive(name)

  test("full extract -> parquet datapackage -> latest-filing-wins, end to end") {
    val dir = Files.createTempDirectory("graft_workflow").toString
    val out = XbrlExtract.extract(
      spark,
      Seq(archive("ferc1-xbrl-2021.zip")),
      archive("ferc1-xbrl-taxonomies.zip"))
    try {
      graft.sinks.XbrlSinks.requireWritten(
        XbrlExtract.writeDatapackage(out.taxonomies, out.schemas, out.store, dir))
      // the whole datapackage landed: every taxonomy table + descriptor
      // + metadata (255 = the reference's own regression count)
      assert(out.tables.size === 255)
      val root = new ObjectMapper().readTree(
        Files.readString(Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
      assert(root.get("resources").size === 255)
      assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl_taxonomy_metadata.json")))
      // descriptor <-> layout parity: the resource list and the written
      // table directories must match EXACTLY (a silently-skipped table
      // would leave a descriptor entry with no data behind it)
      val described = root.get("resources").elements().asScala
        .map(_.get("name").asText).toSet
      val written = new java.io.File(s"$dir/ferc1_xbrl").listFiles()
        .filter(_.isDirectory).map(_.getName.stripSuffix(".parquet")).toSet
      assert(described === written)
      assert(described === out.tables.keySet)

      // downstream consumption path: read a written table back and run
      // the PUDL latest-filing-wins dedup on its PK grain
      val ident = spark.read.parquet(s"$dir/ferc1_xbrl/identification_001_duration.parquet")
      assert(ident.count() === 10L) // one row per 2021 filing
      val w = Window.partitionBy("entity_id", "start_date", "end_date")
        .orderBy(col("publication_time").desc, col("filing_name").desc)
      val latest = ident.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      // the 2021 archive carries one re-filing: 10 filings, 9 entities
      // at the PK grain after latest-wins (real-data regression pin)
      assert(latest.count() === 9L)
      // the winner per key is the max publication_time row
      val maxPub = ident.groupBy("entity_id", "start_date", "end_date")
        .agg(max("publication_time").as("publication_time"))
      assert(latest.join(maxPub,
        Seq("entity_id", "start_date", "end_date", "publication_time")).count() === 9L)
    } finally out.release()
  }

  test("forensic audit on real filings: Benford screen + expectation contract over the 2021 facts") {
    // the r11 audit family pointed at the engine's home-turf data:
    // FERC account values are exactly the naturally-occurring,
    // magnitude-spanning amounts Benford's law describes
    val fs = sources.FilingSource.fromZip(spark, archive("ferc1-xbrl-2021.zip"))
    val numeric = fs.facts.toDF()
      .select(lit("ferc1_2021").as("form"),
        expr("try_cast(value AS DOUBLE)").as("v"))
      .filter(col("v").isNotNull && col("v") =!= 0.0)
    assert(numeric.count() > 10000, "the 2021 archive carries real numeric mass")
    val audit = Relational.benfordAudit(numeric, "form", "v")
      .collect().map(r => r.getInt(1) -> r).toMap
    // completed 9-digit grid with the Benford expectations in place
    assert(audit.keySet === (1 to 9).toSet)
    assert(audit(1).getDouble(4) === 0.30103 && audit(9).getDouble(4) === 0.045757)
    // the qualitative Benford property on REAL accounting data: low
    // digits dominate high digits, monotone at the extremes
    assert(audit(1).getDouble(3) > audit(9).getDouble(3),
      s"p(1)=${audit(1).getDouble(3)} vs p(9)=${audit(9).getDouble(3)}")
    assert(audit(1).getDouble(3) > 0.2,
      "real account values lead with 1 far more than uniform would")
    // and the expectation contract on the raw fact store itself:
    // every fact carries a name and belongs to a parsed context
    val contract = Relational.checkExpectations(fs.facts.toDF(),
      predicates = Seq(
        "name_non_null" -> col("name").isNotNull,
        "context_non_null" -> col("c_id").isNotNull))
      .collect()
    assert(contract.forall(_.getBoolean(4)),
      contract.map(_.toString).mkString("; "))
  }

  test("vintage diff: snapshotDiff classifies a new data release against the prior one") {
    import graft.plans.{FactTableBuilder, FactTableSchema}
    import graft.sources.{FilingSource, TaxonomyParser}
    // the "what changed in this release" question q22 models, on real
    // data: resolve one extracted table at two vintages and diff on the
    // entity-period key
    val tables = FactTableSchema.fromTaxonomies(
      TaxonomyParser.parseArchive(archive("ferc1-xbrl-taxonomies.zip")))
    val schema = tables.find(_.name == "identification_001_duration").get
    val f21 = FilingSource.fromZip(spark, archive("ferc1-xbrl-2021.zip"))
    val f22 = FilingSource.fromZip(spark, archive("ferc1-xbrl-2022.zip"))
    try {
      val built21 = FactTableBuilder.build(schema, f21.facts, f21.contexts, f21.meta)
      val key = Seq("entity_id", "start_date", "end_date")
      def resolve(df: org.apache.spark.sql.DataFrame, latestFirst: Boolean) = {
        val ord = if (latestFirst)
          Seq(col("publication_time").desc, col("filing_name").desc)
        else Seq(col("publication_time").asc, col("filing_name").asc)
        df.withColumn("rn", row_number().over(
            Window.partitionBy(key.map(col): _*).orderBy(ord: _*)))
          .filter(col("rn") === 1)
          .select(key.map(col) :+ col("filing_name"): _*)
      }
      // prior release = first-submission-wins, new release = latest-wins:
      // the 2021 archive carries exactly one re-filing, so the diff is
      // exactly one CHANGED row (the re-filed entity's winning filing)
      val within2021 = Relational.snapshotDiff(
        resolve(built21, latestFirst = false), resolve(built21, latestFirst = true),
        key, Seq("filing_name")).collect()
      assert(within2021.length === 1, within2021.mkString("; "))
      assert(within2021.head.getAs[String]("change_type") === "changed")

      // next season lands: every 2022 entity-period is ADDED, nothing
      // from 2021 is removed or changed
      val built2122 = FactTableBuilder.build(schema,
        f21.facts.union(f22.facts), f21.contexts.union(f22.contexts),
        f21.meta.union(f22.meta))
      val season = Relational.snapshotDiff(
        resolve(built21, latestFirst = true), resolve(built2122, latestFirst = true),
        key, Seq("filing_name")).collect()
      assert(season.nonEmpty)
      assert(season.forall(_.getAs[String]("change_type") === "added"), season.mkString("; "))
    } finally { f21.unpersist(); f22.unpersist() }
  }

  test("vintage history: scd2History turns the 2021 re-filing into two validity intervals") {
    import graft.plans.{FactTableBuilder, FactTableSchema}
    import graft.sources.{FilingSource, TaxonomyParser}
    // q23's story on real data: the per-key filing history of an
    // extracted table, publication_time as the vintage axis — the one
    // re-filed entity gets a closed interval superseded by its
    // re-filing; every other key stays a single open interval, and the
    // open intervals ARE the latest-filing-wins resolution (q05)
    val tables = FactTableSchema.fromTaxonomies(
      TaxonomyParser.parseArchive(archive("ferc1-xbrl-taxonomies.zip")))
    val schema = tables.find(_.name == "identification_001_duration").get
    val f21 = FilingSource.fromZip(spark, archive("ferc1-xbrl-2021.zip"))
    try {
      val built21 = FactTableBuilder.build(schema, f21.facts, f21.contexts, f21.meta)
      val key = Seq("entity_id", "start_date", "end_date")
      val snaps = built21
        .select((key.map(col) :+ col("publication_time") :+ col("filing_name")): _*)
        .distinct()
      val hist = Relational.scd2History(snaps, key, "publication_time", Seq("filing_name"))
        .collect()
      // 9 entity-period keys, one of them re-filed -> 10 interval rows
      assert(hist.length === 10, hist.mkString("; "))
      val vt = hist.head.fieldIndex("valid_to")
      val byKey = hist.groupBy(r => (r.get(0), r.get(1), r.get(2)))
      assert(byKey.size === 9)
      val split = byKey.values.partition(_.length == 2)
      assert(split._1.size === 1 && split._2.forall(_.length == 1))
      // single-run keys never closed; the re-filed key's first interval
      // is closed exactly by the superseding filing's publication time
      assert(split._2.forall(_.head.isNullAt(vt)))
      val refiled = split._1.head.sortBy(_.getAs[java.sql.Timestamp]("valid_from").getTime)
      assert(refiled(0).get(vt) === refiled(1).getAs[AnyRef]("valid_from"))
      assert(refiled(1).isNullAt(vt))
      // the history's open intervals ARE latest-filing-wins: same
      // (key, filing) set as the q05-style resolution
      val open = hist.filter(_.isNullAt(vt))
        .map(r => (r.get(0), r.get(1), r.get(2), r.getAs[String]("filing_name"))).toSet
      val latest = built21.withColumn("rn", row_number().over(
          Window.partitionBy(key.map(col): _*)
            .orderBy(col("publication_time").desc, col("filing_name").desc)))
        .filter(col("rn") === 1)
        .select(key.map(col) :+ col("filing_name"): _*).collect()
        .map(r => (r.get(0), r.get(1), r.get(2), r.getString(3))).toSet
      assert(open === latest)
    } finally f21.unpersist()
  }

  test("filing inputs dispatch by type: single file, directory, and mixed zip+directory via graft.Main") {
    // stage a directory-of-filings input from two 2022 archive entries
    // (distinct filing names from the 2021 zip, so the mixed run's rows
    // are attributable per input)
    val filingDir = Files.createTempDirectory("graft_filings_dir")
    val zf = new java.util.zip.ZipFile(archive("ferc1-xbrl-2022.zip"))
    val copied = try {
      zf.entries().asScala.filter(_.getName.endsWith(".xbrl")).take(2).map { e =>
        val target = filingDir.resolve(Paths.get(e.getName).getFileName.toString)
        Files.copy(zf.getInputStream(e), target)
        target
      }.toSeq
    } finally zf.close()
    assert(copied.size === 2)

    // a single standalone .xbrl file is a valid input (reference
    // get_instances single-file branch, instance.py:470-472)
    val single = graft.sources.FilingSource.fromPath(spark, copied.head.toString)
    try assert(single.facts.toDF().select("filing_name").distinct().count() === 1L)
    finally single.unpersist()

    // mixed zip + directory invocation straight through the CLI main
    val outDir = Files.createTempDirectory("graft_mixed_out").toString
    Main.main(Array(
      archive("ferc1-xbrl-2021.zip"), filingDir.toString,
      "--taxonomy", archive("ferc1-xbrl-taxonomies.zip"),
      "--output-dir", outDir,
      "--requested-tables", "identification_001_duration"))
    val ident = spark.read.parquet(s"$outDir/ferc1_xbrl/identification_001_duration.parquet")
    // one row per filing: 10 from the 2021 zip + 2 standalone 2022 files
    assert(ident.count() === 12L)
    // zip filings carry rssfeed publication times; directory filings
    // have none (instance.py:454-484 — no rssfeed outside an archive)
    assert(ident.filter(col("publication_time").isNotNull).count() === 10L)
    assert(ident.filter(col("publication_time").isNull).count() === 2L)

    // unknown input types are rejected with a routing error, not parsed
    val stray = Files.createTempFile("graft_not_a_filing", ".txt")
    intercept[IllegalArgumentException] {
      graft.sources.FilingSource.fromPath(spark, stray.toString)
    }
    intercept[java.io.FileNotFoundException] {
      graft.sources.FilingSource.fromPath(spark, s"$filingDir/does_not_exist.xbrl")
    }
  }

  test("CLI parses the reference's --sqlite-path/--duckdb-path verbatim as JDBC aliases") {
    // a migrated reference invocation (cli.py:39-47) must PARSE
    // everywhere; the load fails at connect if the driver jar is
    // absent, never at argument parsing
    def parsed(extra: String*): Main.Args = Main.parse(
      List("filings.zip", "--taxonomy", "tax.zip", "--output-dir", "/tmp/o") ++ extra,
      Main.Args())
    assert(parsed("--sqlite-path", "/tmp/db.sqlite").jdbcUrl
      === Some("jdbc:sqlite:/tmp/db.sqlite"))
    assert(parsed("--duckdb-path", "/tmp/db.duckdb").jdbcUrl
      === Some("jdbc:duckdb:/tmp/db.duckdb"))
    // equivalence with the explicit JDBC form
    assert(parsed("--jdbc-url", "jdbc:sqlite:/tmp/db.sqlite").jdbcUrl
      === parsed("--sqlite-path", "/tmp/db.sqlite").jdbcUrl)
    // with no sqlite driver jar on this classpath, the aliased load
    // reaches the JDBC layer and fails with the standard no-driver
    // error — proof the alias dies at CONNECT, not at parse
    val err = intercept[java.sql.SQLException] {
      graft.sinks.XbrlSinks.writeJdbc(
        Map("t" -> spark.range(1).toDF()), "jdbc:sqlite:/tmp/graft_no_driver.sqlite")
    }
    assert(err.getMessage.toLowerCase.contains("no suitable driver"))
  }

  test("CLI parses the reference's short flags (-t -f -b -w, --workers) verbatim") {
    // the reference README's own invocation shape (cli.py:49-70):
    // short spellings must land on the same fields as the long ones,
    // and any unrecognized dash token must ERROR, not be silently
    // treated as a filing path (r11 VERDICT item 1)
    val a = Main.parse(
      List("filings.zip", "-t", "tax.zip", "--output-dir", "/tmp/o",
        "-f", "2", "-b", "16", "-w", "8"),
      Main.Args())
    assert(a.filings === Seq("filings.zip"))
    assert(a.taxonomy === "tax.zip")
    assert(a.formNumber === 2)
    assert(a.batchSize === Some(16))
    assert(a.cpus === "8")
    // without -w, the one CPU default of every main
    assert(Main.parse(List("filings.zip"), Main.Args()).cpus === GraftSession.defaultCpus)
    // --workers is the reference's long spelling of -w
    val b = Main.parse(
      List("filings.zip", "--taxonomy", "tax.zip", "--output-dir", "/tmp/o",
        "--workers", "8"),
      Main.Args())
    assert(b.cpus === "8")
    // unknown short flag: hard error naming the flag, never a filing
    val err = intercept[IllegalArgumentException] {
      Main.parse(List("filings.zip", "-x", "v"), Main.Args())
    }
    assert(err.getMessage.contains("unknown flag -x"))
    // unknown long flag keeps erroring too
    val err2 = intercept[IllegalArgumentException] {
      Main.parse(List("--not-a-flag"), Main.Args())
    }
    assert(err2.getMessage.contains("unknown flag --not-a-flag"))
  }
}
