package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sinks.XbrlSinks
import org.apache.spark.sql.functions._

/** End-to-end extract + sinks: requested-table extraction on real ferc1
  * data, parquet round-trip, datapackage/metadata JSON structure, and a
  * JDBC load into embedded Derby (the engine's SQLite analog).
  */
class XbrlSinksSpec extends SparkSpec {

  private val dataDir = "/root/reference/tests/integration/data"
  private val requested = Set("identification_001_duration",
    "energy_storage_operations_small_plants_419_duration")

  private lazy val out = XbrlExtract.extract(
    spark,
    Seq(s"$dataDir/ferc1-xbrl-2021.zip"),
    s"$dataDir/ferc1-xbrl-taxonomies.zip",
    requestedTables = Some(requested))

  test("requested-table filtering matches the reference CLI surface") {
    assert(out.tables.keySet === requested)
    assert(out.schemas.map(_.name).toSet === requested)
  }

  test("instance pattern restricts extraction like the reference CLI") {
    val filtered = XbrlExtract.extract(
      spark,
      Seq(s"$dataDir/ferc1-xbrl-2021.zip"),
      s"$dataDir/ferc1-xbrl-taxonomies.zip",
      requestedTables = Some(Set("identification_001_duration")),
      instancePattern = Some("Deseret"))
    val rows = filtered.tables("identification_001_duration").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("filing_name").contains("Deseret"))
  }

  test("parquet sink round-trips the identification table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    XbrlSinks.writeParquetPooled(out.tables.view.filterKeys(_ == "identification_001_duration").toMap, dir)
    val back = spark.read.parquet(s"$dir/identification_001_duration.parquet")
    assert(back.count() === 10L)
    assert(back.filter(col("report_date") === "2022-04-13").count() >= 1L)
  }

  private def partFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** The requested tables of a fresh extraction; `release()` them. */
  private def extracted() = XbrlExtract.extract(
    spark,
    Seq(s"$dataDir/ferc1-xbrl-2021.zip"),
    s"$dataDir/ferc1-xbrl-taxonomies.zip",
    requestedTables = Some(requested))

  test("writeDatapackage writes tables + descriptors with exact counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x05_scoped").toString
    val ex = extracted()
    try {
      val summary = XbrlExtract.writeDatapackage(ex.taxonomies, ex.schemas, ex.store, dir)
      assert(summary.keySet === requested)
      // the counts taken while writing must equal what actually landed,
      // and the written width the schema's; nothing failed
      summary.foreach { case (name, result) =>
        assert(result.isRight, s"$name: $result")
        val back = spark.read.parquet(s"$dir/ferc1_xbrl/$name.parquet")
        assert(back.count() === result.toOption.get, name)
        assert(back.columns.length === ex.schemas.find(_.name == name).get.fields.size, name)
        // ferc1-sized tables keep the reference's one-file-per-table
        // layout
        assert(partFiles(s"$dir/ferc1_xbrl/$name.parquet").length === 1, name)
      }
      assert(summary("identification_001_duration") === Right(10L))
      val root = new ObjectMapper().readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
      val resources = root.get("resources").elements()
      val names = Iterator.continually(resources)
        .takeWhile(_.hasNext).map(_.next().get("name").asText()).toSet
      assert(names === requested)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/ferc1_xbrl_taxonomy_metadata.json")))
    } finally ex.release()
  }

  test("datapackage write contains a failed table: others report, descriptor lists only written tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x05_contained").toString
    val ex = extracted()
    val poison = "energy_storage_operations_small_plants_419_duration"
    try {
      // the file system refuses every file of the poisoned table's directory
      val summary = FailingCreates.under(spark, s"$dir/ferc1_xbrl/$poison.parquet",
          "injected table failure") {
        XbrlExtract.writeDatapackage(ex.taxonomies, ex.schemas, ex.store, dir)
      }
      // the failure is NAMED in its result; the other table still
      // wrote and reports its counts
      assert(summary.size === 2)
      assert(summary(poison).left.exists(_.contains("injected table failure")), summary(poison))
      assert(summary("identification_001_duration") === Right(10L))
      assert(spark.read.parquet(s"$dir/ferc1_xbrl/identification_001_duration.parquet").count() === 10L)
      // the descriptor, written after the jobs, must reference ONLY the
      // table that actually landed
      val root = new ObjectMapper().readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
      val described = root.get("resources").elements()
      val names = Iterator.continually(described)
        .takeWhile(_.hasNext).map(_.next().get("name").asText()).toSet
      assert(names === Set("identification_001_duration"))
    } finally ex.release()
  }

  test("datapackage write timeout cancels in-flight jobs and writes no descriptor") {
    val dir = java.nio.file.Files.createTempDirectory("graft_x05_timeout").toString
    val ex = extracted()
    try {
      intercept[java.util.concurrent.TimeoutException] {
        XbrlExtract.writeDatapackage(ex.taxonomies, ex.schemas, ex.store, dir,
          timeout = scala.concurrent.duration.Duration(1, "ms"))
      }
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
    } finally ex.release()
  }

  test("jdbc sink loads into embedded Derby") {
    val url = s"jdbc:derby:memory:graftdb;create=true"
    XbrlSinks.writeJdbc(
      out.tables.view.filterKeys(_ == "identification_001_duration").toMap, url)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "identification_001_duration").load()
    assert(back.count() === 10L)
  }

  test("datapackage descriptor mirrors the reference structure") {
    val json = XbrlSinks.datapackageJson(out.schemas, "db_uri", formNumber = 1)
    val root = new ObjectMapper().readTree(json)
    assert(root.get("profile").asText === "tabular-data-package")
    assert(root.get("name").asText === "ferc1-extracted-xbrl")
    val resources = root.get("resources")
    assert(resources.size === 2)
    val ident = (0 until resources.size).map(resources.get)
      .find(_.get("name").asText == "identification_001_duration").get
    assert(ident.get("dialect").get("table").asText === "identification_001_duration")
    val fields = ident.get("schema").get("fields")
    val names = (0 until fields.size).map(fields.get(_).get("name").asText)
    assert(names.take(5) === Seq("entity_id", "filing_name", "publication_time", "start_date", "end_date"))
    val pk = ident.get("schema").get("primary_key")
    assert((0 until pk.size).map(pk.get(_).asText) === names.take(5))
    assert(fields.get(0).get("format").asText === "default")
  }

  test("CLI main writes the reference output layout") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_cli").toString
    val logfile = s"$dir/run.log"
    Main.main(Array(
      s"$dataDir/ferc1-xbrl-2021.zip",
      "--taxonomy", s"$dataDir/ferc1-xbrl-taxonomies.zip",
      "--output-dir", dir,
      "--form-number", "1",
      "--requested-tables", requested.mkString(","),
      // the reference's logging/batching flags parse and act (loglevel
      // accepts the PYTHON name; batch-size is subsumed by partitioning)
      "--loglevel", "WARNING", "--logfile", logfile, "--batch-size", "4"))
    val logged = Files.readString(Paths.get(logfile))
    assert(logged.contains("graft.Main logging to"), logged.take(500))
    assert(logged.contains("--batch-size 4 accepted"), logged.take(500))
    assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl_datapackage.json")))
    assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl_taxonomy_metadata.json")))
    assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
    // the on-disk layout must agree with the descriptor's `path`
    requested.foreach(t => assert(Files.exists(Paths.get(s"$dir/ferc1_xbrl/$t.parquet"))))
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(s"$dir/ferc1_xbrl/datapackage.json")))
    val res = root.get("resources")
    assert(res.size === 2)
    (0 until res.size).map(res.get).foreach { r =>
      assert(r.get("format").asText === "parquet")
      assert(r.get("mediatype").asText === "application/vnd.apache.parquet")
      assert(!r.has("dialect"))
      assert(r.get("path").asText === r.get("name").asText + ".parquet")
    }
    // the parquet tables round-trip through Spark
    val back = spark.read.parquet(s"$dir/ferc1_xbrl/identification_001_duration.parquet")
    assert(back.count() === 10L)
  }

  test("descriptor validation rejects corrupted schemas") {
    // healthy schemas (with the matching table set) pass
    XbrlSinks.validateSchemas(out.schemas, Some(out.tables.keySet))
    val base = out.schemas.head
    // primary key referencing a dropped field
    val noPkField = base.copy(fields = base.fields.filterNot(_.name == base.primaryKey.head))
    assertThrows[IllegalArgumentException](XbrlSinks.datapackageJson(Seq(noPkField), "db"))
    // duplicated field name
    val dupField = base.copy(fields = base.fields :+ base.fields.head)
    assertThrows[IllegalArgumentException](XbrlSinks.datapackageJson(Seq(dupField), "db"))
    // duplicated resource name
    assertThrows[IllegalArgumentException](XbrlSinks.datapackageJson(Seq(base, base), "db"))
    // resource set diverging from the extracted tables
    assertThrows[IllegalArgumentException](
      XbrlSinks.datapackageJson(out.schemas, "db", tableNames = Some(out.tables.keySet + "ghost_table")))
  }

  test("taxonomy metadata json carries references, calculations, balance") {
    val json = XbrlSinks.metadataJson(out.taxonomies)
    val root = new ObjectMapper().readTree(json)
    assert(root.has("identification_001_duration"))
    // find at least one concept with an Account reference and one with calculations
    val all = root.properties().iterator()
    var sawAccount = false
    var sawCalc = false
    var sawBalance = false
    while (all.hasNext) {
      val entries = all.next().getValue
      (0 until entries.size).map(entries.get).foreach { c =>
        if (c.get("references").has("Account")) sawAccount = true
        if (c.get("calculations").size > 0) sawCalc = true
        if (!c.get("balance").isNull) sawBalance = true
      }
    }
    assert(sawAccount && sawCalc && sawBalance)
  }
}
