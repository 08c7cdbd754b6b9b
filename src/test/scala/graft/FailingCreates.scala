package graft

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system, except that creating a file under the
  * directory named by [[FailingCreates.UnderKey]] throws an
  * `IOException` carrying [[FailingCreates.MessageKey]]'s text — a
  * write failure confined to one table, injected below the writer.
  */
class FailingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val under = getConf.get(FailingCreates.UnderKey)
    if (under != null && f.toUri.getPath.startsWith(under))
      throw new java.io.IOException(getConf.get(FailingCreates.MessageKey))
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingCreates {
  val UnderKey = "graft.test.failCreatesUnder"
  val MessageKey = "graft.test.failCreatesMessage"

  /** `body`, with every file create under `dir` failing with `message`
    * in the Hadoop confs the session derives (the parquet writers' among
    * them).
    */
  def under[T](spark: SparkSession, dir: String, message: String)(body: => T): T = {
    val keys = Map(
      "fs.file.impl" -> classOf[FailingLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      UnderKey -> s"${dir.stripSuffix("/")}/",
      MessageKey -> message)
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.keys.foreach(spark.conf.unset)
  }
}
