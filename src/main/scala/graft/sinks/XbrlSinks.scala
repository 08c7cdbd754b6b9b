package graft.sinks

import java.nio.file.{Files, Paths}
import java.util.{Properties, UUID}
import java.util.concurrent.{Executors, TimeoutException}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.xbrl.{Concept, TableSchema, Taxonomy}

/** Output sinks + descriptors (SURVEY.md §2.2 `xbrl_write`; reference
  * cli.py:101-130, xbrl.py:257-281).
  *
  * Tables write through Spark — parquet is the lake format
  * (partitionable, predicate-pushable at 100 TB), one file per table,
  * the datapackage's tables routed from the fact store in one job; JDBC
  * for the reference's SQLite/DuckDB use case (tested on embedded
  * Derby; any JDBC driver on the classpath works the same way). The
  * datapackage descriptor and taxonomy metadata JSON mirror the
  * reference's Frictionless output field-for-field.
  */
object XbrlSinks {

  /** Each table lands at `<outDir>/<name>.parquet` — a Spark parquet
    * directory whose name carries the suffix so the layout agrees with
    * the datapackage descriptor's `path` (the reference CLI writes
    * literal `<table>.parquet` files; cli.py:211-230) — as one
    * `part-*.parquet` plus `_SUCCESS`, each table in its own Spark job
    * ([[writeTables]]). The datapackage writer routes its tables from
    * the fact store instead ([[writeRouted]]) into the same layout.
    *
    * Fail-fast: if any table fails to plan or write, this throws an
    * exception naming every failed table (the tables that succeeded
    * stay written), so a caller writes no descriptor for a partial run.
    * On a timeout the in-flight jobs are cancelled and this throws.
    */
  def writeParquetPooled(tables: Map[String, DataFrame], outDir: String,
      poolSize: Int = 8,
      timeout: Duration = Duration(30, "min")): Unit =
    requireWritten(writeTables(tables, outDir, poolSize, timeout))

  /** Each table of `tables` written into `outDir` in its own Spark job
    * (one task: the plan coalesced to one partition), `poolSize` jobs at
    * a time, bounded by `timeout` ([[onPool]]): each table's row count,
    * or the error that stopped it — a table that fails to plan or write
    * never stops the others.
    */
  private[graft] def writeTables(tables: Map[String, DataFrame], outDir: String,
      poolSize: Int, timeout: Duration): Map[String, Either[String, Long]] =
    if (tables.isEmpty) Map.empty
    else {
      val spark = tables.head._2.sparkSession
      val sink = new TableSink(spark, outDir)
      onPool(spark, poolSize, timeout, "parquet write") { (group, ec) =>
        implicit val pool: ExecutionContext = ec
        Future.traverse(tables.toSeq) { case (name, df) =>
          Future {
            try {
              val rdd = df.queryExecution.toRdd
              // a plan Catalyst proves empty has no partition, and still
              // writes one empty file with its schema, as the SQL write
              // command does
              val one =
                if (rdd.getNumPartitions == 0) spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
                else rdd.coalesce(1)
              sink.write(Seq(name -> df.schema), one, group).head
            } catch { case NonFatal(e) => name -> Left(describe(e)) }
          }
        }
      }.toMap
    }

  /** The datapackage write: every table of `schemas` from the grouped
    * fact store `store` in ONE Spark job. The map stage runs the store's
    * plan (the filings' parse, for a store `XbrlExtract.extract`
    * planned) and routes each context to the tables that take it
    * ([[graft.plans.FactTableBuilder.route]]); a partition by table id
    * gives every table exactly one write task — a table no context
    * reaches writes one empty file with its schema. Bounded by
    * `timeout` ([[onPool]]): on expiry the job is cancelled and this
    * throws. Returns each table's row count, or the error that stopped
    * its write; a failure of the map stage fails the job, and this
    * throws it.
    */
  private[graft] def writeRouted(schemas: Seq[TableSchema], store: DataFrame, outDir: String,
      timeout: Duration): Map[String, Either[String, Long]] =
    if (schemas.isEmpty) Map.empty
    else {
      val spark = store.sparkSession
      val sink = new TableSink(spark, outDir)
      val (tables, routed) = graft.plans.FactTableBuilder.route(schemas, store)
      onPool(spark, 1, timeout, "parquet write") { (group, ec) =>
        Future {
          // an Int key k < n hashes to partition k: partition i is table i
          val byTable = new ShuffledRDD[Int, InternalRow, InternalRow](
            routed, new HashPartitioner(tables.size))
          sink.write(tables, byTable.values, group)
        }(ec)
      }.toMap
    }

  /** Throws an `IOException` naming every table of `results` that
    * failed to write.
    */
  private[graft] def requireWritten(results: Map[String, Either[String, Long]]): Unit = {
    val failed = results.collect { case (name, Left(err)) => s"$name ($err)" }
    if (failed.nonEmpty)
      throw new java.io.IOException(
        s"${failed.size} of ${results.size} tables failed to write: ${failed.toSeq.sorted.mkString("; ")}")
  }

  /** Runs `body` on a fresh pool of `poolSize` driver threads and waits
    * up to `timeout` for its result. `body` gets a job group to tag its
    * jobs with (set on the pool thread that submits them, so the
    * caller's thread never carries it): on a timeout or failure every
    * job still running in the group is cancelled instead of left
    * running headless past the throw.
    */
  private[graft] def onPool[T](spark: SparkSession, poolSize: Int, timeout: Duration,
      what: String)(body: (String, ExecutionContext) => Future[T]): T = {
    val jobGroup = s"graft-${what.replace(' ', '-')}-${UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(poolSize)
    try Await.result(body(jobGroup, ExecutionContext.fromExecutor(pool)), timeout)
    catch {
      case e: Throwable =>
        spark.sparkContext.cancelJobGroup(jobGroup)
        pool.shutdownNow()
        e match {
          case t: TimeoutException => throw new TimeoutException(
            s"$what exceeded $timeout; in-flight jobs cancelled (job group $jobGroup): ${t.getMessage}")
          case _ => throw e
        }
    } finally pool.shutdown()
  }

  /** The parquet writes of one call into `outDir`: the write conf,
    * broadcast once, and one part-file name per run, the same for every
    * table and every attempt of its task — a retried or speculative
    * attempt replaces, never adds.
    */
  private final class TableSink(spark: SparkSession, outDir: String) {
    private val conf = parquetWriteConf(spark)
    private val box = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    private val file = "part-00000-" + UUID.randomUUID() + "-c000" +
      CompressionCodecName.valueOf(conf.get("parquet.compression")).getExtension + ".parquet"

    /** One Spark job, tagged `jobGroup`, in which the task of partition
      * i of `rows` writes table i of `tables` (name, schema) at
      * `<outDir>/<name>.parquet` through [[writeOneTable]]. The driver
      * clears each table dir first, so a re-run into the same `outDir`
      * replaces the table. Returns each table's row count or error.
      */
    def write(tables: Seq[(String, StructType)], rows: RDD[InternalRow],
        jobGroup: String): Seq[(String, Either[String, Long])] = {
      val metas = tables.map { case (name, schema) =>
        TableFile(name, s"$outDir/$name.parquet", file, schema)
      }.toArray
      metas.foreach { m =>
        val dir = new Path(m.dir)
        dir.getFileSystem(conf).delete(dir, true)
      }
      val b = box
      spark.sparkContext.setJobGroup(jobGroup,
        s"graft parquet write of ${metas.length} tables", interruptOnCancel = true)
      metas.map(_.name).toSeq.zip(spark.sparkContext.runJob(rows,
        (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writeOneTable(metas(ctx.partitionId()), b.value.value, ctx.taskAttemptId(), it)))
    }
  }

  /** One table's output file: `file` inside the table dir `dir`. */
  private[graft] case class TableFile(name: String, dir: String, file: String, schema: StructType)

  /** Hadoop conf for the table writes: the session's Hadoop
    * conf plus the same entries ParquetFileFormat.prepareWrite sets for
    * a SQL parquet write command (write-support class, legacy-format /
    * timestamp-type / rebase-mode keys, codec) — the per-TABLE schema
    * is set on a task-local copy, since it differs per table.
    */
  private[graft] def parquetWriteConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    def sql(key: String, default: String): String =
      try spark.conf.get(key) catch { case NonFatal(_) => default }
    conf.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
    conf.set("spark.sql.parquet.writeLegacyFormat",
      sql("spark.sql.parquet.writeLegacyFormat", "false"))
    conf.set("spark.sql.parquet.outputTimestampType",
      sql("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite",
      sql("spark.sql.parquet.datetimeRebaseModeInWrite", "EXCEPTION"))
    conf.set("spark.sql.parquet.int96RebaseModeInWrite",
      sql("spark.sql.parquet.int96RebaseModeInWrite", "EXCEPTION"))
    conf.set("spark.sql.parquet.fieldId.write.enabled",
      sql("spark.sql.parquet.fieldId.write.enabled", "true"))
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      sql("spark.sql.parquet.variant.annotateLogicalType.enabled", "false"))
    val codecName = sql("spark.sql.parquet.compression.codec", "snappy")
      .toUpperCase(java.util.Locale.ROOT) match {
      case "NONE" | "UNCOMPRESSED" => "UNCOMPRESSED"
      case c => c
    }
    conf.set("parquet.compression", codecName)
    conf
  }

  /** One table's write task: stream the table's rows into an
    * attempt-scoped temp file in the table dir through the same
    * ParquetWriteSupport machinery the SQL write command uses, counting
    * rows as they land, then rename it onto the table's file and mark
    * the dir `_SUCCESS`. Retry-safe: every attempt of a table commits
    * onto the same file name, so a retried or speculative attempt
    * leaves one part file, never two. An attempt that stops before its
    * rename — failed, or killed by an interrupt — deletes its temp file
    * (and the table dir, unless another attempt's output is in it); a
    * failure reports as the table's error, so the job's other tables
    * still land.
    */
  private[graft] def writeOneTable(
      t: TableFile,
      baseConf: Configuration,
      attempt: Long,
      rows: Iterator[InternalRow]): Either[String, Long] = {
    val conf = new Configuration(baseConf)
    ParquetWriteSupport.setSchema(t.schema, conf)
    val dir = new Path(t.dir)
    val tmp = new Path(dir, s"_attempt-$attempt-${t.file}")
    val fs = dir.getFileSystem(conf)
    var committed = false
    try {
      val id = new TaskAttemptID(new TaskID(new JobID("graft_parquet", 0), TaskType.MAP, 0), 0)
      val writer = new ParquetOutputWriter(tmp.toString, new TaskAttemptContextImpl(conf, id))
      var n = 0L
      try while (rows.hasNext) { writer.write(rows.next()); n += 1 }
      finally writer.close()
      val target = new Path(dir, t.file)
      // a file system whose rename refuses an existing target keeps the
      // attempt that committed first; the copy left behind goes
      if (!fs.rename(tmp, target) && !fs.exists(target))
        throw new java.io.IOException(s"could not commit $tmp to $target")
      committed = true
      fs.delete(tmp, false)
      fs.create(new Path(dir, "_SUCCESS"), true).close()
      Right(n)
    } catch {
      case NonFatal(e) => Left(describe(e))
    } finally {
      if (!committed)
        try {
          fs.delete(tmp, false)
          fs.delete(dir, false) // refuses a dir another attempt wrote into
        } catch { case NonFatal(_) => () }
    }
  }

  /** A table's error, as its summary row's `error` field carries it. */
  private[graft] def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** JDBC load — the analog of the reference's SQLite `to_sql` replace
    * (cli.py:110-118).
    */
  def writeJdbc(tables: Map[String, DataFrame], url: String, props: Properties = new Properties()): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").jdbc(url, name, props)
    }

  /** Descriptor validation before writing — the consistency checks the
    * reference gets from Pydantic/frictionless `model_validate`
    * (datapackage.py:57-64, surfaced in xbrl.py:257-268): non-empty
    * unique resource names, unique field names per resource, primary key
    * a subset of the fields, and — when the extracted table set is
    * known — resource names exactly matching table names. Catches
    * schema-derivation regressions at the sink boundary instead of in
    * the downstream loader.
    */
  def validateSchemas(schemas: Seq[TableSchema], tableNames: Option[Set[String]] = None): Unit = {
    val dupRes = schemas.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dupRes.isEmpty, s"duplicate resource names: ${dupRes.mkString(", ")}")
    schemas.foreach { t =>
      require(t.name.nonEmpty, "empty resource name")
      val dupF = t.fields.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
      require(dupF.isEmpty, s"${t.name}: duplicate field names: ${dupF.mkString(", ")}")
      val fieldNames = t.fields.map(_.name).toSet
      val missing = t.primaryKey.filterNot(fieldNames)
      require(missing.isEmpty, s"${t.name}: primary key columns not in fields: ${missing.mkString(", ")}")
    }
    tableNames.foreach { names =>
      val schemaNames = schemas.map(_.name).toSet
      require(schemaNames == names,
        s"resource/table mismatch: only-in-schemas=${(schemaNames -- names).mkString(", ")} " +
          s"only-in-tables=${(names -- schemaNames).mkString(", ")}")
    }
  }

  /** Frictionless datapackage descriptor (datapackage.py:19-115,
    * 292-341, 462-471), serialized with the reference's aliases.
    * Validates schema consistency before serializing.
    */
  def datapackageJson(schemas: Seq[TableSchema], dbUri: String, formNumber: Int = 1,
      tableNames: Option[Set[String]] = None): String =
    descriptor(schemas, formNumber, tableNames, sqlite = true, _ => dbUri)

  /** Parquet-flavored descriptor — the reference's converted datapackage
    * for its parquet output (cli.py:211-230): each resource points at
    * `<name>.parquet` with parquet format/mediatype and no dialect.
    */
  def datapackageParquetJson(schemas: Seq[TableSchema], formNumber: Int = 1,
      tableNames: Option[Set[String]] = None): String =
    descriptor(schemas, formNumber, tableNames, sqlite = false, t => s"${t.name}.parquet")

  /** The one body of both descriptors: a sqlite resource carries a
    * `dialect` naming its table, a parquet one does not.
    */
  private def descriptor(schemas: Seq[TableSchema], formNumber: Int,
      tableNames: Option[Set[String]], sqlite: Boolean, path: TableSchema => String): String = {
    validateSchemas(schemas, tableNames)
    def field(f: graft.xbrl.TableField) = ordered(
      "name" -> f.name, "title" -> f.title, "type" -> f.schemaType,
      "format" -> "default", "description" -> f.description)
    val (format, mediatype) =
      if (sqlite) ("sqlite", "application/vnd.sqlite3")
      else ("parquet", "application/vnd.apache.parquet")
    val resources = schemas.map { t =>
      val dialect = if (sqlite) Seq("dialect" -> ordered("table" -> t.name)) else Nil
      ordered(Seq[(String, Object)](
        "path" -> path(t),
        "profile" -> "tabular-data-resource",
        "name" -> t.name) ++ dialect ++ Seq[(String, Object)](
        "title" -> t.title,
        "description" -> t.description,
        "format" -> format,
        "mediatype" -> mediatype,
        "schema" -> ordered(
          "fields" -> t.fields.map(field).asJava,
          "primary_key" -> t.primaryKey.asJava)): _*)
    }
    val pkg = ordered(
      "profile" -> "tabular-data-package",
      "name" -> s"ferc$formNumber-extracted-xbrl",
      "title" -> "Ferc1 data extracted from XBRL filings",
      "resources" -> resources.asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(pkg)
  }

  /** Taxonomy metadata JSON: per table (clean name + period suffix), the
    * leaf concepts' references / calculations / balance
    * (taxonomy.py:125-150, 265-297; arelle_interface.py:92-166,
    * including the single-reference single-part flattening).
    */
  def metadataJson(taxonomies: Seq[Taxonomy]): String = {
    val out = new java.util.LinkedHashMap[String, Object]()
    for (periodType <- Seq("duration", "instant"); tx <- taxonomies.sortBy(_.version); role <- tx.roles) {
      graft.plans.FactTableSchema.cleanTableName(role.definition).foreach { cleaned =>
        val collected = new java.util.LinkedHashMap[String, Object]()
        collectMetadata(role.concepts, periodType, collected)
        out.put(s"${cleaned}_$periodType", new java.util.ArrayList[Object](collected.values()))
      }
    }
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(out)
  }

  private def collectMetadata(
      c: Concept,
      periodType: String,
      out: java.util.LinkedHashMap[String, Object]): Unit =
    if (c.children.nonEmpty) c.children.foreach(collectMetadata(_, periodType, out))
    else if (c.periodType == periodType) {
      val refs = new java.util.LinkedHashMap[String, Object]()
      c.references.toSeq.sortBy(_._1).foreach { case (refName, partsList) =>
        // flatten single-reference single-part entries named like the
        // reference role (arelle_interface.py:139-144)
        val flat: Object = partsList match {
          case Seq(single) if single.size == 1 && single.contains(refName) => single(refName)
          case _ => partsList.map(m => sortedMap(m)).asJava
        }
        refs.put(refName, flat)
      }
      val meta = ordered(
        "name" -> graft.xbrl.Names.snakecase(c.name),
        "references" -> refs,
        "calculations" -> c.calculations.map(cal =>
          ordered("name" -> cal.name, "weight" -> java.lang.Double.valueOf(cal.weight))).asJava,
        "balance" -> c.balance.orNull)
      out.put(c.name, meta)
    }

  def writeString(path: String, content: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private def ordered(kvs: (String, Object)*): java.util.LinkedHashMap[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def sortedMap(m: Map[String, String]): java.util.LinkedHashMap[String, Object] = {
    val out = new java.util.LinkedHashMap[String, Object]()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => out.put(k, v) }
    out
  }
}
