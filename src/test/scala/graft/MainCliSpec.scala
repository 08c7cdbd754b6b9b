package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

/** `graft.Main`, the paper's CLI job, on a season the repository makes
  * itself (`perfbench/gen_xbrl.py`, seeded, with its ground truth in
  * `truth.json`): every requested table written as one part file plus
  * `_SUCCESS` with the planted row count, both datapackage descriptors
  * listing exactly the requested tables, and every block the extraction
  * persisted or checkpointed freed again once the run is over. The
  * datapackage writer shares Main's batched table writer but keeps its
  * own contract: a failed table is an error row, not a throw.
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
      "Main's release() must free the parsed filings and the checkpointed store")

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

  private lazy val taxonomies =
    graft.sources.TaxonomyParser.parseArchive(s"$data/ferc1-xbrl-taxonomies.zip")
  private lazy val schemas = graft.plans.FactTableSchema.fromTaxonomies(taxonomies)
    .filter(t => requested.contains(t.name))

  /** Summary rows of one datapackage write of the requested tables. */
  private def datapackage(out: String, targetRowsPerFile: Long = 4000000L,
      buildTable: (graft.xbrl.TableSchema, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame = graft.plans.FactTableBuilder.buildFromStore) = {
    val parsed = graft.sources.FilingSource.fromPath(spark, s"$data/ferc1-xbrl-2021.zip")
    try XbrlExtract.writeParquetDatapackage(spark, taxonomies, schemas, parsed, out,
      targetRowsPerFile = targetRowsPerFile, buildTable = buildTable).collect()
    finally parsed.unpersist()
  }

  test("writeParquetDatapackage contains a failed table as its error row; the descriptor lists the rest") {
    val broken = requested.maxBy(expected) // rows to fail on
    val out = Files.createTempDirectory("graft_datapackage").toString
    val summary = datapackage(out, buildTable = (t, store) => {
      val df = graft.plans.FactTableBuilder.buildFromStore(t, store)
      if (t.name != broken) df
      else df.withColumn("entity_id", when(col("entity_id").isNotNull,
        raise_error(lit("planted failure"))).otherwise(col("entity_id")))
    })
    val byName = summary.map(r => r.getString(0) -> r).toMap
    assert(byName.keySet === requested.toSet)
    assert(byName(broken).isNullAt(1) && byName(broken).getString(3).contains("planted failure"))
    for (t <- requested if t != broken) {
      assert(byName(t).getLong(1) === expected(t), t)
      assert(byName(t).isNullAt(3), byName(t))
    }
    assert(!new File(s"$out/tables/$broken.parquet").exists())
    assert(resources(s"$out/datapackage.json") === requested.toSet - broken)
  }

  test("writeParquetDatapackage splits a table past targetRowsPerFile into several files") {
    val big = requested.maxBy(expected)
    val target = expected(big) / 3 + 1
    val out = Files.createTempDirectory("graft_datapackage_sized").toString
    val summary = datapackage(out, targetRowsPerFile = target)
    assert(summary.forall(_.isNullAt(3)), summary.mkString("; "))
    assert(summary.map(r => r.getString(0) -> r.getLong(1)).toMap === expected)
    val parts = new File(s"$out/tables/$big.parquet").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts > 1, s"$big: ${expected(big)} rows at $target a file")
    assert(spark.read.parquet(s"$out/tables/$big.parquet").count() === expected(big))
  }
}
