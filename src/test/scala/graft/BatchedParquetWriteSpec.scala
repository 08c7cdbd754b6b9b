package graft

import java.io.File
import java.nio.file.Files
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.types._

import graft.sinks.XbrlSinks

/** The batched single-file parquet writer both table sinks share
  * (`XbrlSinks.writeSingleFileTables` / `writeOneTable`), on synthetic
  * tables: the layout (one `part-*.parquet` plus `_SUCCESS` per table),
  * read-back equality for every column type the taxonomy maps to, the
  * per-table error contract, and retry / re-run safety.
  */
class BatchedParquetWriteSpec extends SparkSpec {

  private def tmpDir(): String = Files.createTempDirectory("graft_batch_write").toString

  private def partFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  /** Every file in the dir, checksum files aside. */
  private def files(dir: String): Set[String] =
    Option(new File(dir).listFiles).toSeq.flatten.map(_.getName)
      .filterNot(n => n.startsWith(".") && n.endsWith(".crc")).toSet

  private def assertOneFile(dir: String): Unit = {
    assert(partFiles(dir).size === 1, files(dir))
    assert(files(dir) === Set(partFiles(dir).head, "_SUCCESS"))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The column types the taxonomy maps to (XbrlBaseType.sparkType:
    * string, double, bigint — integer and year — and boolean; dates
    * stay strings there, and a DateType column covers the writer's
    * date rebase settings), each with a null.
    */
  private lazy val typed: DataFrame = {
    val schema = StructType(Seq(
      StructField("entity_id", StringType, nullable = false),
      StructField("amount", DoubleType),
      StructField("count", LongType),
      StructField("flag", BooleanType),
      StructField("end_date", StringType),
      StructField("report_year", LongType),
      StructField("filed", DateType)))
    val data = Seq(
      Row("C001", 1234.5, 7L, true, "2021-12-31", 2021L, java.sql.Date.valueOf("2022-04-18")),
      Row("C002", -0.25, 0L, false, "2020-12-31", 2020L, java.sql.Date.valueOf("1999-01-01")),
      Row("C003", null, null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def longs(n: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n, 1, 3).toDF("id")

  private def writeBatch(tables: Seq[(String, DataFrame)], out: String)
      : Map[String, Either[String, Long]] =
    XbrlSinks.onPool(spark, 4, Duration(5, "min"), "test write") { (group, ec) =>
      XbrlSinks.writeSingleFileTables(spark,
        tables.map { case (n, df) => n -> (() => df) }, out, group)(ec)
    }.toMap

  test("every taxonomy column type reads back equal, one part file + _SUCCESS per table") {
    val out = tmpDir()
    val result = writeBatch(Seq("typed" -> typed, "ids" -> longs(1000)), out)
    assert(result === Map("typed" -> Right(3L), "ids" -> Right(1000L)))
    for (t <- Seq("typed", "ids")) assertOneFile(s"$out/$t.parquet")
    val back = spark.read.parquet(s"$out/typed.parquet")
    assert(back.schema.map(f => f.name -> f.dataType) === typed.schema.map(f => f.name -> f.dataType))
    assert(rows(back) === rows(typed))
    assert(rows(spark.read.parquet(s"$out/ids.parquet")) === rows(longs(1000)))
  }

  test("a table whose rows throw part-way is that table's error and leaves no files; the others land") {
    val out = tmpDir()
    val bad = longs(100).select(
      when(col("id") === 60, raise_error(lit("planted failure"))).otherwise(col("id")).as("id"))
    val result = writeBatch(Seq("good" -> longs(10), "bad" -> bad, "typed" -> typed), out)
    assert(result("good") === Right(10L))
    assert(result("typed") === Right(3L))
    assert(result("bad").left.exists(_.contains("planted failure")), result("bad"))
    assert(!new File(s"$out/bad.parquet").exists(), files(s"$out/bad.parquet"))
    assertOneFile(s"$out/good.parquet")
    assertOneFile(s"$out/typed.parquet")

    // the fail-fast sink throws naming the failed table; the rest still land
    val out2 = tmpDir()
    val e = intercept[java.io.IOException](
      XbrlSinks.writeParquetPooled(Map("good" -> longs(10), "bad" -> bad), out2))
    assert(e.getMessage.contains("1 of 2 tables failed"), e.getMessage)
    assert(e.getMessage.contains("bad (") && e.getMessage.contains("planted failure"), e.getMessage)
    assert(!new File(s"$out2/bad.parquet").exists())
    assertOneFile(s"$out2/good.parquet")
  }

  test("a second attempt of a table commits onto the same file: still one part file") {
    val out = tmpDir()
    val conf = XbrlSinks.parquetWriteConf(spark)
    val t = XbrlSinks.TableFile("typed", s"$out/typed.parquet",
      s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet", typed.schema)
    def attempt(id: Long) = XbrlSinks.writeOneTable(t, conf, id,
      typed.queryExecution.toRdd.map(_.copy()).collect().iterator)
    assert(attempt(11L) === Right(3L))
    assert(attempt(12L) === Right(3L))
    assertOneFile(t.dir)
    assert(rows(spark.read.parquet(t.dir)) === rows(typed))
    // a failing attempt after a committed one removes only its own file
    val failing = Iterator.tabulate(2)(i =>
      if (i == 0) typed.queryExecution.toRdd.first().copy() else throw new RuntimeException("lost"))
    assert(XbrlSinks.writeOneTable(t, conf, 13L, failing).left.exists(_.contains("lost")))
    assertOneFile(t.dir)
    assert(rows(spark.read.parquet(t.dir)) === rows(typed))
    // so does an attempt killed by an interrupt, which is not an error row
    val killed = Iterator.tabulate(2)(i =>
      if (i == 0) typed.queryExecution.toRdd.first().copy() else throw new InterruptedException("killed"))
    intercept[InterruptedException](XbrlSinks.writeOneTable(t, conf, 14L, killed))
    assertOneFile(t.dir)
    assert(rows(spark.read.parquet(t.dir)) === rows(typed))
  }

  /** A plan Catalyst proves empty compiles to an RDD with no partitions. */
  private def noPartitions: DataFrame = {
    val empty = typed.where(lit(false))
    assert(empty.queryExecution.toRdd.getNumPartitions === 0)
    empty
  }

  private def assertEmptyTable(dir: String): Unit = {
    assertOneFile(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema.map(f => f.name -> f.dataType) === typed.schema.map(f => f.name -> f.dataType))
    assert(back.count() === 0L)
  }

  test("a table planned to no partitions writes one empty file with its schema; its neighbours keep their rows") {
    val out = tmpDir()
    val result = writeBatch(Seq("a" -> longs(10), "empty" -> noPartitions, "b" -> longs(5, from = 100L)), out)
    assert(result === Map("a" -> Right(10L), "empty" -> Right(0L), "b" -> Right(5L)))
    assertEmptyTable(s"$out/empty.parquet")
    for (t <- Seq("a", "b")) assertOneFile(s"$out/$t.parquet")
    assert(rows(spark.read.parquet(s"$out/a.parquet")) === rows(longs(10)))
    assert(rows(spark.read.parquet(s"$out/b.parquet")) === rows(longs(5, from = 100L)))
  }

  test("a run where every table is empty writes every table, each one empty file + _SUCCESS") {
    val out = tmpDir()
    XbrlSinks.writeParquetPooled(Map("e1" -> noPartitions, "e2" -> noPartitions, "e3" -> longs(0)), out)
    for (t <- Seq("e1", "e2")) assertEmptyTable(s"$out/$t.parquet")
    assertOneFile(s"$out/e3.parquet")
    assert(spark.read.parquet(s"$out/e3.parquet").count() === 0L)
  }

  test("a re-run into the same dir replaces the table: one part file, the new rows") {
    val out = tmpDir()
    XbrlSinks.writeParquetPooled(Map("ids" -> longs(50), "typed" -> typed), out)
    XbrlSinks.writeParquetPooled(Map("ids" -> longs(20, from = 1000L), "typed" -> typed), out)
    assertOneFile(s"$out/ids.parquet")
    assertOneFile(s"$out/typed.parquet")
    assert(rows(spark.read.parquet(s"$out/ids.parquet")) === rows(longs(20, from = 1000L)))
    assert(rows(spark.read.parquet(s"$out/typed.parquet")) === rows(typed))
  }
}
