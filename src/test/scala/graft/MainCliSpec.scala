package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import com.fasterxml.jackson.databind.ObjectMapper

/** `graft.Main`, the paper's CLI job, on a season the repository makes
  * itself (`perfbench/gen_xbrl.py`, seeded, with its ground truth in
  * `truth.json`): every requested table written as one part file plus
  * `_SUCCESS` with the planted row count, both datapackage descriptors
  * listing exactly the requested tables, the `--jdbc-url` load into an
  * in-memory Derby database, and every block the extraction persisted
  * or checkpointed freed again once the run is over. Main's
  * writer, `XbrlExtract.writeDatapackage`, reports a failed table as its
  * error and lists only the tables that landed; its descriptors are
  * pinned field by field.
  */
class MainCliSpec extends SparkSpec {

  private lazy val data: String = {
    val dir = Files.createTempDirectory("graft_cli_season").toString
    val gen = Seq("python3", "perfbench/gen_xbrl.py", "--seed", "5", "--filings", "3",
      "--tables", "6", "--out", dir)
    assert(gen.! === 0, s"generator failed: ${gen.mkString(" ")}")
    dir
  }
  private lazy val truth = new ObjectMapper().readTree(new File(s"$data/truth.json"))
  private lazy val requested = truth.get("requested").elements().asScala.map(_.asText).toSeq
  private lazy val expected = requested.map(t => t -> truth.get("rows").get(t).asLong).toMap

  private def resources(descriptor: String): Set[String] =
    new ObjectMapper().readTree(Files.readString(Paths.get(descriptor)))
      .get("resources").elements().asScala.map(_.get("name").asText).toSet

  test("Main extracts a generated season: rows match the ground truth, output layout and release") {
    assert(requested.size === 6)
    val out = Files.createTempDirectory("graft_cli_out").toString
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.size
    Main.main(Array(s"$data/ferc1-xbrl-2021.zip", "--taxonomy", s"$data/ferc1-xbrl-taxonomies.zip",
      "--output-dir", out, "--cpus", "4", "--requested-tables", requested.mkString(",")))
    assert(sc.getPersistentRDDs.size === persistedBefore,
      "Main must leave no persisted or checkpointed block behind")

    val tablesDir = s"$out/ferc1_xbrl"
    val written = new File(tablesDir).listFiles().filter(_.isDirectory)
      .map(_.getName.stripSuffix(".parquet")).toSet
    assert(written === requested.toSet)
    for (t <- requested) {
      val dir = new File(s"$tablesDir/$t.parquet")
      val names = dir.listFiles().map(_.getName).filterNot(_.endsWith(".crc")).toSet
      val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.size === 1 && names === parts + "_SUCCESS", s"$t: $names")
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/${parts.head}"), sc.hadoopConfiguration))
      try assert(reader.getRecordCount === expected(t), t)
      finally reader.close()
    }
    for (d <- Seq(s"$tablesDir/datapackage.json", s"$out/ferc1_xbrl_datapackage.json"))
      assert(resources(d) === requested.toSet, d)
    assert(Files.isRegularFile(Paths.get(s"$out/ferc1_xbrl_taxonomy_metadata.json")))
  }

  test("Main --jdbc-url loads every requested table into Derby, parsing the filings at most twice") {
    val sc = spark.sparkContext
    val url = s"jdbc:derby:memory:graft_cli_${System.nanoTime()}"
    val persistedBefore = sc.getPersistentRDDs.size
    // stages that read the filings archive: the parse's `parallelize`
    // is one of the RDDs they run
    val parses = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = s"graft-jdbc-spec-marker-${System.nanoTime()}"
    @volatile var markerSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (!markerSeen && e.stageInfo.rddInfos.exists(_.callSite.contains("FilingSource.scala")))
          parses.incrementAndGet()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) markerSeen = true
    }
    sc.addSparkListener(listener)
    try {
      Main.main(Array(s"$data/ferc1-xbrl-2021.zip", "--taxonomy", s"$data/ferc1-xbrl-taxonomies.zip",
        "--output-dir", Files.createTempDirectory("graft_cli_jdbc").toString, "--cpus", "4",
        "--requested-tables", requested.mkString(","), "--jdbc-url", s"$url;create=true"))
      // the listener has seen every event posted before the marker job
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    // once for the parquet write, once for the checkpoint the JDBC load reads
    assert(parses.get >= 1 && parses.get <= 2, s"${parses.get} stages parsed the filings")
    assert(sc.getPersistentRDDs.size === persistedBefore,
      "Main must leave no persisted or checkpointed block behind")
    val conn = java.sql.DriverManager.getConnection(url)
    try for (t <- requested) {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
      assert(rs.next() && rs.getLong(1) === expected(t), t)
    } finally conn.close()
  }

  /** The requested tables extracted from the season; `release()` them. */
  private def extracted() = XbrlExtract.extract(spark, Seq(s"$data/ferc1-xbrl-2021.zip"),
    s"$data/ferc1-xbrl-taxonomies.zip", requestedTables = Some(requested.toSet))

  test("writeDatapackage: a failed table is its error, both descriptors list the rest") {
    val broken = requested.maxBy(expected) // rows to fail on
    val out = Files.createTempDirectory("graft_datapackage").toString
    val ex = extracted()
    // the file system refuses every file of that table's directory
    val results = try FailingCreates.under(spark, s"$out/ferc1_xbrl/$broken.parquet", "planted failure") {
      XbrlExtract.writeDatapackage(ex.taxonomies, ex.schemas, ex.store, out)
    } finally ex.release()
    assert(results.keySet === requested.toSet)
    assert(results(broken).left.exists(_.contains("planted failure")), results(broken))
    for (t <- requested if t != broken) assert(results(t) === Right(expected(t)), t)
    assert(!new File(s"$out/ferc1_xbrl/$broken.parquet").exists())
    for (t <- requested if t != broken)
      assert(spark.read.parquet(s"$out/ferc1_xbrl/$t.parquet").count() === expected(t), t)
    for (d <- Seq(s"$out/ferc1_xbrl/datapackage.json", s"$out/ferc1_xbrl_datapackage.json"))
      assert(resources(d) === requested.toSet - broken, d)
    assert(Files.isRegularFile(Paths.get(s"$out/ferc1_xbrl_taxonomy_metadata.json")))
  }

  test("writeDatapackage: a table no context reaches writes one empty file with its schema; its neighbours keep their rows") {
    val out = Files.createTempDirectory("graft_datapackage_unreached").toString
    val ex = extracted()
    val model = ex.schemas.head
    val unreached = model.copy(name = "unreached_table_duration",
      fields = model.fields.map(f =>
        if (model.primaryKey.contains(f.name)) f else f.copy(name = s"no_such_fact_${f.name}")))
    val (results, expectedSchema) = try {
      (XbrlExtract.writeDatapackage(ex.taxonomies, ex.schemas :+ unreached, ex.store, out),
        graft.plans.FactTableBuilder.buildFromStore(unreached, ex.store).schema)
    } finally ex.release()
    assert(results === expected.map { case (t, n) => t -> Right(n) } + (unreached.name -> Right(0L)))
    val dir = new File(s"$out/ferc1_xbrl/${unreached.name}.parquet")
    val names = dir.listFiles().map(_.getName).filterNot(_.endsWith(".crc")).toSet
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.size === 1 && names === parts + "_SUCCESS", names)
    val back = spark.read.parquet(dir.toString)
    assert(back.count() === 0L)
    assert(back.schema.map(f => f.name -> f.dataType) === expectedSchema.map(f => f.name -> f.dataType))
    for (t <- requested)
      assert(spark.read.parquet(s"$out/ferc1_xbrl/$t.parquet").count() === expected(t), t)
  }

  test("writeDatapackage past its timeout throws and writes no descriptor") {
    val out = Files.createTempDirectory("graft_datapackage_timeout").toString
    val ex = extracted()
    try intercept[java.util.concurrent.TimeoutException] {
      XbrlExtract.writeDatapackage(ex.taxonomies, ex.schemas, ex.store, out,
        timeout = scala.concurrent.duration.Duration(1, "ms"))
    } finally ex.release()
    for (d <- Seq("ferc1_xbrl/datapackage.json", "ferc1_xbrl_datapackage.json",
        "ferc1_xbrl_taxonomy_metadata.json"))
      assert(!Files.exists(Paths.get(s"$out/$d")), d)
  }

  test("both datapackage descriptors carry every field of the season's schemas") {
    val schemas = graft.plans.FactTableSchema.fromTaxonomies(
      graft.sources.TaxonomyParser.parseArchive(s"$data/ferc1-xbrl-taxonomies.zip"))
      .filter(t => requested.contains(t.name))
    assert(schemas.size === requested.size)
    val names = Some(schemas.map(_.name).toSet)
    def read(json: String) = new ObjectMapper().readTree(json)
    val sqlite = read(graft.sinks.XbrlSinks.datapackageJson(schemas, "/data/ferc2_xbrl", 2, names))
    val parquet = read(graft.sinks.XbrlSinks.datapackageParquetJson(schemas, 2, names))
    def keys(n: com.fasterxml.jackson.databind.JsonNode) = n.fieldNames().asScala.toSeq
    for (root <- Seq(sqlite, parquet)) {
      assert(keys(root) === Seq("profile", "name", "title", "resources"))
      assert(root.get("profile").textValue === "tabular-data-package")
      assert(root.get("name").textValue === "ferc2-extracted-xbrl")
      assert(root.get("title").textValue === "Ferc1 data extracted from XBRL filings")
      val resources = root.get("resources").elements().asScala.toSeq
      assert(resources.map(_.get("name").textValue) === schemas.map(_.name))
      for ((r, t) <- resources.zip(schemas)) {
        assert(r.get("profile").textValue === "tabular-data-resource", t.name)
        assert(r.get("title").textValue === t.title, t.name)
        assert(r.get("description").textValue === t.description, t.name)
        val schema = r.get("schema")
        assert(keys(schema) === Seq("fields", "primary_key"), t.name)
        assert(schema.get("primary_key").elements().asScala.map(_.textValue).toSeq === t.primaryKey)
        val fields = schema.get("fields").elements().asScala.toSeq
        assert(fields.size === t.fields.size, t.name)
        for ((f, tf) <- fields.zip(t.fields)) {
          assert(keys(f) === Seq("name", "title", "type", "format", "description"), t.name)
          assert(f.get("name").textValue === tf.name && f.get("title").textValue === tf.title &&
            f.get("type").textValue === tf.schemaType && f.get("format").textValue === "default" &&
            f.get("description").textValue === tf.description, s"${t.name}.${tf.name}")
        }
      }
    }
    for ((r, t) <- sqlite.get("resources").elements().asScala.toSeq.zip(schemas)) {
      assert(keys(r) === Seq("path", "profile", "name", "dialect", "title", "description",
        "format", "mediatype", "schema"), t.name)
      assert(r.get("path").textValue === "/data/ferc2_xbrl", t.name)
      assert(keys(r.get("dialect")) === Seq("table") && r.get("dialect").get("table").textValue === t.name)
      assert(r.get("format").textValue === "sqlite" &&
        r.get("mediatype").textValue === "application/vnd.sqlite3", t.name)
    }
    for ((r, t) <- parquet.get("resources").elements().asScala.toSeq.zip(schemas)) {
      assert(keys(r) === Seq("path", "profile", "name", "title", "description",
        "format", "mediatype", "schema"), t.name)
      assert(r.get("path").textValue === s"${t.name}.parquet", t.name)
      assert(r.get("format").textValue === "parquet" &&
        r.get("mediatype").textValue === "application/vnd.apache.parquet", t.name)
    }
  }
}
