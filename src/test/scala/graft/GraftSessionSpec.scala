package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.NioLocalFileSystem

/** The session-sizing inputs: the CPU count parse and the input-size
  * walk that `initialPartitions` derives the shuffle width from; and
  * the `file:` file system a session resolves.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("parseCpus reads a positive count and falls back to defaultCpus otherwise") {
    val fallback = scala.util.Try(GraftSession.defaultCpus.trim.toInt).toOption
      .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors())
    assert(GraftSession.parseCpus("4") === 4)
    assert(GraftSession.parseCpus(" 8 ") === 8)
    for (bad <- Seq("0", "-2", "*", "four", "", "4x", "2147483648"))
      assert(GraftSession.parseCpus(bad) === fallback, s"'$bad'")
  }

  test("totalBytes sums nested files; a missing path or an unknown scheme gives 0") {
    val root = Files.createTempDirectory("graft_total_bytes")
    def write(rel: String, n: Int): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](n)(7))
    }
    write("a.bin", 100)
    write("x/b.bin", 2000)
    write("x/y/z/c.bin", 30000)
    write("x/y/empty.bin", 0)
    // the conf the session builder sizes through: a stock one would
    // cache Hadoop's stock `file:` file system for the whole JVM
    val conf = GraftSession.hadoopConf()
    assert(GraftSession.totalBytes(root.toString, conf) === 32100L)
    assert(GraftSession.totalBytes(root.toUri.toString, conf) === 32100L)
    assert(GraftSession.totalBytes(root.resolve("x").toString, conf) === 32000L)
    assert(GraftSession.totalBytes(root.resolve("a.bin").toString, conf) === 100L)
    assert(GraftSession.totalBytes(root.resolve("missing").toString, conf) === 0L)
    assert(GraftSession.totalBytes("graftnosuchfs://host/dir", conf) === 0L)
  }

  test("file: resolves to graft's local file system, whether or not the session sizes a data dir") {
    val dir = Files.createTempDirectory("graft_session_fs")
    Files.write(dir.resolve("input.bin"), Array.fill[Byte](100)(7))
    val tablesDir = new Path(dir.resolve("tables").toString)
    def fsClass(spark: org.apache.spark.sql.SparkSession) =
      tablesDir.getFileSystem(spark.sessionState.newHadoopConf()).getClass
    assert(fsClass(GraftSession.create("4", Some(dir.toString))) === classOf[NioLocalFileSystem])
    assert(fsClass(GraftSession.create("4")) === classOf[NioLocalFileSystem])
    // the data-dir sizing runs before the session exists, and Hadoop
    // caches the first `file:` file system built: its conf must name
    // graft's class
    assert(org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", GraftSession.hadoopConf()) ===
      classOf[NioLocalFileSystem])
  }
}
