package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The session-sizing inputs: the CPU count parse and the input-size
  * walk that `initialPartitions` derives the shuffle width from.
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
    val conf = new Configuration()
    assert(GraftSession.totalBytes(root.toString, conf) === 32100L)
    assert(GraftSession.totalBytes(root.toUri.toString, conf) === 32100L)
    assert(GraftSession.totalBytes(root.resolve("x").toString, conf) === 32000L)
    assert(GraftSession.totalBytes(root.resolve("a.bin").toString, conf) === 100L)
    assert(GraftSession.totalBytes(root.resolve("missing").toString, conf) === 0L)
    assert(GraftSession.totalBytes("graftnosuchfs://host/dir", conf) === 0L)
  }
}
