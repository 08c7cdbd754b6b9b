package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.sys.process._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.operators.{SharedIndex, XbrlQueries}
import graft.sources.{FilingSource, TaxonomyParser}

/** The GRAFT_XBRL_DATA_DIR portability knob, actually exercised: the
  * gate queries' archive resolution honors the override and the
  * archives parse from an arbitrary copied location — the jar carries
  * no hidden coupling to this container's reference checkout. A JVM
  * cannot modify its own environment, so the test drives the
  * `graft.xbrl.data.dir` system property, which shares the resolution
  * path and deliberately wins over the env var. The gates' session
  * entries are keyed by the resolved archive path, so a gate run after
  * the property changes serves the new directory's archive.
  */
class XbrlDataDirSpec extends SparkSpec {

  private val refDir = "/root/reference/tests/integration/data"
  private val Prop = "graft.xbrl.data.dir"

  test("archives resolve and fully parse from a relocated data directory") {
    val tmp = Files.createTempDirectory("graft_xbrl_dir")
    for (name <- Seq("ferc1-xbrl-2021.zip", "ferc1-xbrl-taxonomies.zip"))
      Files.copy(Paths.get(refDir, name), tmp.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    System.setProperty(Prop, tmp.toString)
    try {
      val filingsZip = XbrlQueries.requireArchive("ferc1-xbrl-2021.zip")
      val taxonomyZip = XbrlQueries.requireArchive("ferc1-xbrl-taxonomies.zip")
      assert(filingsZip.startsWith(tmp.toString), filingsZip)
      // the x01/x02 machinery runs whole from the copied location:
      // distributed filing parse + taxonomy -> schema derivation
      val parsed = FilingSource.fromZip(spark, filingsZip)
      try assert(parsed.meta.count() === 10L)
      finally parsed.unpersist()
      val tables = graft.plans.FactTableSchema.fromTaxonomies(
        TaxonomyParser.parseArchive(taxonomyZip))
      assert(tables.size === 255)
    } finally {
      System.clearProperty(Prop)
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("the gates follow a change of data directory") {
    // two generated seasons of different sizes, served in turn by one
    // session: x01 has one row per filing of the CURRENT directory
    val seasons = Seq(2, 4).map { n =>
      val dir = Files.createTempDirectory(s"graft_xbrl_season_$n")
      val gen = Seq("python3", "perfbench/gen_xbrl.py", "--seed", "41",
        "--filings", n.toString, "--out", dir.toString)
      assert(gen.! === 0, s"generator failed: ${gen.mkString(" ")}")
      dir
    }
    try seasons.foreach { dir =>
      System.setProperty(Prop, dir.toString)
      try {
        val truth = new ObjectMapper().readTree(dir.resolve("truth.json").toFile)
        assert(XbrlQueries.x01XbrlParse(spark, "").count() === truth.get("filings").asLong)
      } finally System.clearProperty(Prop)
    } finally seasons.foreach { dir =>
      // x01 creates only the parse entry
      SharedIndex.invalidateEntry(spark, s"$dir/ferc1-xbrl-2021.zip", "filings_parse")
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("a missing archive names the override knob in its error") {
    val tmp = Files.createTempDirectory("graft_xbrl_empty")
    System.setProperty(Prop, tmp.toString)
    try {
      val e = intercept[java.io.FileNotFoundException] {
        XbrlQueries.requireArchive("ferc1-xbrl-2021.zip")
      }
      assert(e.getMessage.contains("GRAFT_XBRL_DATA_DIR"), e.getMessage)
      assert(e.getMessage.contains(tmp.toString), e.getMessage)
    } finally {
      System.clearProperty(Prop)
      Files.deleteIfExists(tmp)
    }
  }
}
