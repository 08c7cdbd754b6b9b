package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TaxonomyParser

/** `TaxonomyParser.parseArchive`, which parses an archive's versions
  * concurrently, against a sequential `parseVersion` of each inner zip
  * in ascending name order, on a generated season's two-version
  * taxonomy (`perfbench/gen_xbrl.py`): the same taxonomies, and for an
  * archive with a truncated inner zip the same exception class, within
  * a bound.
  */
class TaxonomyArchiveSpec extends AnyFunSuite {

  private lazy val archive: String = {
    val dir = Files.createTempDirectory("graft_taxonomy_season").toString
    val gen = Seq("python3", "perfbench/gen_xbrl.py", "--seed", "31", "--filings", "1",
      "--out", dir)
    assert(gen.! === 0, s"generator failed: ${gen.mkString(" ")}")
    s"$dir/ferc1-xbrl-taxonomies.zip"
  }

  /** The inner zips of `path`, by ascending name, with their bytes. */
  private def versions(path: String): Seq[(String, Array[Byte])] = {
    val zip = new ZipFile(path)
    try zip.entries().asScala.toSeq.filter(_.getName.endsWith(".zip")).sortBy(_.getName)
      .map(e => e.getName -> zip.getInputStream(e).readAllBytes())
    finally zip.close()
  }

  private def sequential(path: String) =
    versions(path).map { case (name, bytes) => TaxonomyParser.parseVersion(name, bytes) }

  /** `parseArchive(path)`, failing the test if it runs past two minutes. */
  private def parsedWithin(path: String) =
    Await.result(Future(TaxonomyParser.parseArchive(path))(ExecutionContext.global), Duration(2, "min"))

  test("parseArchive equals a sequential parseVersion of each inner zip in ascending name order") {
    val expected = sequential(archive)
    assert(expected.map(_.version) === Seq("form-1-2021-01-01.zip", "form-1-2022-01-01.zip"))
    assert(expected.forall(_.roles.nonEmpty))
    assert(parsedWithin(archive) === expected)
  }

  test("a truncated inner zip throws what a sequential parse throws, and does not hang") {
    val inner = versions(archive)
    val broken = Files.createTempFile("graft_taxonomy_truncated", ".zip")
    val out = new ZipOutputStream(Files.newOutputStream(broken))
    try inner.zipWithIndex.foreach { case ((name, bytes), i) =>
      out.putNextEntry(new ZipEntry(name))
      out.write(if (i == 0) bytes.take(bytes.length / 2) else bytes)
      out.closeEntry()
    } finally out.close()
    val seq = intercept[Exception](sequential(broken.toString))
    val par = intercept[Exception](parsedWithin(broken.toString))
    assert(par.getClass === seq.getClass, par)
    assert(par.getMessage === seq.getMessage)
  }
}
