package graft

import java.io.File
import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.hadoop.fs.LocalFileSystem
import org.apache.hadoop.fs.permission.FsPermission

import graft.sinks.NioLocalFileSystem

/** graft's `file:` file system (`NioLocalFileSystem`, registered by
  * `GraftSession.builder`) against Hadoop's stock `LocalFileSystem`: the
  * datapackage write of a generated season leaves the same files —
  * part file, `.crc` files and `_SUCCESS` — with the same mode bits on
  * every file and directory, at the default umask, at umask 077 and
  * under a setgid parent; a sticky permission keeps its sticky bit.
  */
class LocalFsSpec extends SparkSpec {

  private lazy val data: String = {
    val dir = Files.createTempDirectory("graft_localfs_season").toString
    val gen = Seq("python3", "perfbench/gen_xbrl.py", "--seed", "29", "--filings", "3",
      "--tables", "6", "--out", dir)
    assert(gen.! === 0, s"generator failed: ${gen.mkString(" ")}")
    dir
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & octal("7777")

  /** Every file and directory under `root` (part-file UUIDs masked),
    * with its mode bits.
    */
  private def layout(root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base)
      .map(p => Uuid.replaceAllIn(base.relativize(p).toString, "*") -> mode(p)).toMap
    finally walk.close()
  }

  /** The requested tables of the season written by `writeDatapackage`
    * into a fresh dir (made `dirMode` first, when given), with `conf`
    * set on the session for the write.
    */
  private def written(conf: Map[String, String], dirMode: Option[Int] = None): String = {
    val out = Files.createTempDirectory("graft_localfs_out")
    dirMode.foreach(m => Files.setAttribute(out, "unix:mode", Integer.valueOf(m)))
    val ex = XbrlExtract.extract(spark, Seq(s"$data/ferc1-xbrl-2021.zip"),
      s"$data/ferc1-xbrl-taxonomies.zip", requestedTables = Some(requested))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(XbrlExtract.writeDatapackage(ex.taxonomies, ex.schemas, ex.store, out.toString)
      .values.forall(_.isRight))
    finally {
      conf.keys.foreach(spark.conf.unset)
      ex.release()
    }
    out.toString
  }

  private lazy val requested: Set[String] = {
    val truth = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(s"$data/truth.json"))
    truth.get("requested").elements().asScala.map(_.asText).toSet
  }

  /** A file system of class `fs`, built afresh with the session's conf
    * and `extra` — the way `FailingCreates` swaps one in.
    */
  private def swapped(fs: Class[_], extra: (String, String)*): Map[String, String] =
    Map("fs.file.impl" -> fs.getName, "fs.file.impl.disable.cache" -> "true") ++ extra

  private def assertSameLayout(graft: String, stock: String): Map[String, Int] = {
    val (g, s) = (layout(graft), layout(stock))
    // (path, mode) pairs only graft's and only the stock's output has
    assert((g.toSet -- s.toSet, s.toSet -- g.toSet) === ((Set.empty, Set.empty)))
    val tables = requested.map(t => s"ferc1_xbrl/$t.parquet")
    assert(tables.subsetOf(g.keySet))
    for (t <- tables) {
      val files = g.keySet.filter(_.startsWith(s"$t/")).map(_.stripPrefix(s"$t/"))
      assert(files === Set("part-00000-*-c000.snappy.parquet", ".part-00000-*-c000.snappy.parquet.crc",
        "_SUCCESS", "._SUCCESS.crc"), t)
    }
    g
  }

  test("the session's file: file system is graft's, and writes the stock layout and mode bits") {
    val tablesDir = new org.apache.hadoop.fs.Path(s"$data/out")
    assert(tablesDir.getFileSystem(spark.sessionState.newHadoopConf()).getClass ===
      classOf[NioLocalFileSystem])
    val g = assertSameLayout(written(Map.empty), written(swapped(classOf[LocalFileSystem])))
    val t = s"ferc1_xbrl/${requested.head}.parquet"
    assert(g(t) === octal("755"))
    assert(g(s"$t/part-00000-*-c000.snappy.parquet") === octal("644"))
    assert(g(s"$t/_SUCCESS") === octal("644"))
  }

  test("at umask 077 both file systems give the same 0700 dirs and 0600 files") {
    val umask = "fs.permissions.umask-mode" -> "077"
    val g = assertSameLayout(written(swapped(classOf[NioLocalFileSystem], umask)),
      written(swapped(classOf[LocalFileSystem], umask)))
    val t = s"ferc1_xbrl/${requested.head}.parquet"
    assert(g(t) === octal("700"))
    assert(g(s"$t/part-00000-*-c000.snappy.parquet") === octal("600"))
    assert(g(s"$t/.part-00000-*-c000.snappy.parquet.crc") === octal("600"))
  }

  test("under a setgid parent the table dirs keep the setgid bit, as chmod leaves it") {
    val g = assertSameLayout(written(Map.empty, Some(octal("2775"))),
      written(swapped(classOf[LocalFileSystem]), Some(octal("2775"))))
    assert(g(s"ferc1_xbrl/${requested.head}.parquet") === octal("2755"))
  }

  test("setPermission sets the mode bits it is given, a sticky 1777 included") {
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
    val dir = Files.createTempDirectory("graft_localfs_perm")
    val file = Files.createFile(dir.resolve("f"))
    for ((p, m) <- Seq(file -> "640", file -> "0", file -> "777", dir -> "1777", dir -> "750", dir -> "1700")) {
      fs.setPermission(new org.apache.hadoop.fs.Path(p.toUri), new FsPermission(octal(m).toShort))
      assert(mode(p) === octal(m), s"$p: $m")
    }
  }
}
