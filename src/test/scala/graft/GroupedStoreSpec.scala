package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{array_sort, col, map_entries}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.plans.{FactTableBuilder, FactTableSchema}
import graft.sources.{FilingSource, TaxonomyParser}

/** The grouped fact store built where each filing is parsed, on seasons
  * the repository generates (`perfbench/gen_xbrl.py`): the fixture twin
  * of FactTableSpec's real-filing equivalence over all 255 tables (the
  * routed datapackage write included), the job and plan shape of a
  * Main run (`XbrlExtract.extract` runs no job and plans a store with no
  * exchange and no cached scan; `writeDatapackage` parses, routes and
  * writes in one job, one write task per table), and the two bad inputs
  * that must fail loudly — a filing that arrives twice and a truncated
  * archive entry.
  */
class GroupedStoreSpec extends SparkSpec {

  private def season(seed: Int, filings: Int): String = {
    val dir = Files.createTempDirectory(s"graft_store_season_$seed").toString
    val gen = Seq("python3", "perfbench/gen_xbrl.py", "--seed", seed.toString,
      "--filings", filings.toString, "--out", dir)
    assert(gen.! === 0, s"generator failed: ${gen.mkString(" ")}")
    dir
  }

  private lazy val small = season(17, 4)
  private lazy val tenFilings = season(23, 10)

  private def zip(dir: String) = s"$dir/ferc1-xbrl-2021.zip"
  private def taxonomy(dir: String) = s"$dir/ferc1-xbrl-taxonomies.zip"

  /** Rows as sorted strings, `factmap` as its entries sorted by name. */
  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq.map(c =>
      if (c == "factmap") array_sort(map_entries(col(c))).as(c) else col(c))
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  /** The Spark schema a parquet part file's footer records: names,
    * types and nullability as written.
    */
  private def footerSchema(dir: String): StructType = {
    val part = new File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq
    assert(part.size === 1, s"$dir: $part")
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/${part.head}"), spark.sparkContext.hadoopConfiguration))
    try DataType.fromJson(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
    finally reader.close()
  }

  // the routed datapackage write of all 255 tables is checked against the same oracle
  test("buildFromStore over the filing-local store matches build() for all 255 tables; the flat form's store is equal") {
    val tables = FactTableSchema.fromTaxonomies(TaxonomyParser.parseArchive(taxonomy(small)))
    assert(tables.size === 255)
    val parsed = FilingSource.fromZip(spark, zip(small))
    // both stores and every table's build() below read it: parse it once
    parsed.parsed.persist()
    val local = FactTableBuilder.groupedStore(tables, Seq(parsed)).persist()
    val flat = FactTableBuilder.groupedStore(
      tables, parsed.facts, parsed.contexts, parsed.meta).persist()
    try {
      assert(local.columns.toSeq === flat.columns.toSeq)
      val storeRows = rows(local)
      assert(storeRows.nonEmpty)
      assert(storeRows === rows(flat), "the two groupers drifted apart")
      val out = Files.createTempDirectory("graft_store_routed").toString
      val routed = graft.sinks.XbrlSinks.writeRouted(tables, local, out, Duration(20, "min"))
      // 255 independent small comparisons: four at a time
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val sizes = Future.traverse(tables) { t =>
        Future {
          val fromLocal = FactTableBuilder.buildFromStore(t, local)
          val oracle = FactTableBuilder.build(t, parsed.facts, parsed.contexts, parsed.meta)
          assert(fromLocal.columns.toSeq === oracle.columns.toSeq, t.name)
          val got = rows(fromLocal)
          assert(got === rows(oracle), s"${t.name}: store vs per-table build")
          val dir = s"$out/${t.name}.parquet"
          assert(routed(t.name) === Right(got.size.toLong), t.name)
          assert(footerSchema(dir) === fromLocal.schema, s"${t.name}: routed schema")
          assert(rows(spark.read.parquet(dir)) === got, s"${t.name}: routed rows")
          got.size
        }
      }
      val nonEmpty = try Await.result(sizes, Duration(20, "min")).count(_ > 0)
        finally pool.shutdown()
      assert(nonEmpty > 200, s"only $nonEmpty of 255 tables hold rows: the equivalence proves little")
    } finally {
      local.unpersist()
      flat.unpersist()
      parsed.unpersist()
    }
  }

  /** What runs while `body` does, read after the listener bus has
    * delivered every event posted before a marker job: the jobs `body`
    * starts on this thread, every job started on any thread, and the
    * number of SQL executions started.
    */
  private def recorded(body: => Unit): (Seq[SparkListenerJobStart], Seq[SparkListenerJobStart], Int) = {
    val sc = spark.sparkContext
    val group = s"graft-store-spec-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new ConcurrentLinkedQueue[(String, SparkListenerJobStart)]()
    val sqlExecutions = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == marker) markerSeen = true
        else if (!markerSeen) started.add(g -> js)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart if !markerSeen => sqlExecutions.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "extract")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(markerSeen, "listener never saw the marker job")
      (started.asScala.collect { case (g, js) if g == group => js }.toSeq,
        started.asScala.map(_._2).toSeq, sqlExecutions.get)
    } finally sc.removeSparkListener(listener)
  }

  test("writeDatapackage writes all 255 tables in ONE Spark job with one write task per table, and runs no SQL execution") {
    val dir = Files.createTempDirectory("graft_store_one_job").toString
    var out: XbrlExtract.ExtractOutput = null
    var results = Map.empty[String, Either[String, Long]]
    // a Main run: extract plans, the write job parses, routes and writes;
    // it runs on the writer's own thread, in its own job group
    val (_, jobs, sqlExecutions) = try recorded {
      out = XbrlExtract.extract(spark, Seq(zip(tenFilings)), taxonomy(tenFilings))
      results = XbrlExtract.writeDatapackage(out.taxonomies, out.schemas, out.store, dir)
    } finally if (out != null) out.release()
    assert(out.schemas.size === 255)
    assert(results.size === 255 && results.values.forall(_.isRight), results.filter(_._2.isLeft))
    assert(jobs.size === 1, s"jobs started by extract + writeDatapackage: ${jobs.map(_.jobId)}")
    // the parse + route stage, then the result stage: one write task per table
    val stages = jobs.head.stageInfos.sortBy(_.stageId)
    assert(stages.size === 2, stages.map(_.numTasks))
    assert(stages.last.numTasks === 255, stages.map(_.numTasks))
    assert(sqlExecutions === 0, "writeDatapackage must not run a per-table SQL plan")
  }

  test("extract runs no Spark job; its store plan has no exchange and no cached scan") {
    var out: XbrlExtract.ExtractOutput = null
    val (_, jobs, _) = recorded {
      out = XbrlExtract.extract(spark, Seq(zip(tenFilings)), taxonomy(tenFilings))
    }
    assert(jobs.isEmpty, s"jobs started by extract: ${jobs.map(_.jobId)}")

    import org.apache.spark.sql.execution.exchange.Exchange
    val key = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = out.store.queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.isEmpty, s"${exchanges.size} exchanges\n$plan")
      // the parse runs in the job that reads the store, not from a cache
      val cached = plan.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(cached.isEmpty, s"the store plan reads a cached parse\n$plan")
    } finally {
      spark.conf.set(key, aqe)
      out.release()
    }
  }

  private def copyZip(from: String, to: Path)(
      edit: (java.util.zip.ZipEntry, Array[Byte], java.util.zip.ZipOutputStream) => Unit): String = {
    val zf = new java.util.zip.ZipFile(from)
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(to))
    try zf.entries().asScala.foreach { e =>
      val bytes = zf.getInputStream(e).readAllBytes()
      out.putNextEntry(new java.util.zip.ZipEntry(e.getName))
      out.write(bytes)
      out.closeEntry()
      edit(e, bytes, out)
    } finally { out.close(); zf.close() }
    to.toString
  }

  test("a filing that arrives twice fails loudly, naming it") {
    val names = FilingSource.listEntries(zip(small)).map(FilingSource.stem)
    val twice = intercept[IllegalArgumentException] {
      XbrlExtract.extract(spark, Seq(zip(small), zip(small)), taxonomy(small))
    }
    names.foreach(n => assert(twice.getMessage.contains(n), twice.getMessage))

    // two entries with one stem inside one archive
    val first = FilingSource.listEntries(zip(small)).head
    val dir = Files.createTempDirectory("graft_dup_stem")
    val dup = copyZip(zip(small), dir.resolve("ferc1-xbrl-2021.zip")) { (e, bytes, out) =>
      if (e.getName == first) {
        out.putNextEntry(new java.util.zip.ZipEntry(s"resubmitted/$first"))
        out.write(bytes)
        out.closeEntry()
      }
    }
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val sameStem = intercept[IllegalArgumentException] {
      XbrlExtract.extract(spark, Seq(dup), taxonomy(small))
    }
    assert(sameStem.getMessage.contains(FilingSource.stem(first)), sameStem.getMessage)
    names.tail.foreach(n => assert(!sameStem.getMessage.contains(n), sameStem.getMessage))
    assert(spark.sparkContext.getPersistentRDDs.size === persisted)

    // a directory of filings and one of its files, named by the scan's file index
    val filingDir = Files.createTempDirectory("graft_dup_dir")
    val zf = new java.util.zip.ZipFile(zip(small))
    try FilingSource.listEntries(zip(small)).foreach(e =>
      Files.write(filingDir.resolve(e), zf.getInputStream(zf.getEntry(e)).readAllBytes()))
    finally zf.close()
    val dirAndFile = intercept[IllegalArgumentException] {
      XbrlExtract.extract(spark, Seq(filingDir.toString, filingDir.resolve(first).toString),
        taxonomy(small))
    }
    assert(dirAndFile.getMessage.contains(FilingSource.stem(first)), dirAndFile.getMessage)
    names.tail.foreach(n => assert(!dirAndFile.getMessage.contains(n), dirAndFile.getMessage))
    // a non-filing beside a filing of the same stem is not a repeat: the
    // file index applies the scan's `*.xbrl` glob
    Files.write(filingDir.resolve(s"${FilingSource.stem(first)}.json"), "{}".getBytes)
    XbrlExtract.extract(spark, Seq(filingDir.toString), taxonomy(small)).release()
  }

  /** `src` with entry `name`'s compressed data cut to half its length:
    * the sizes in its local and central headers say half, the bytes
    * after stay as unreferenced slack, so the archive still opens and
    * lists and only reading that entry fails.
    */
  private def truncateEntry(src: String, name: String, dst: Path): String = {
    val b = Files.readAllBytes(new File(src).toPath)
    def u16(i: Int) = (b(i) & 0xff) | (b(i + 1) & 0xff) << 8
    def u32(i: Int) = u16(i) | u16(i + 2) << 16
    def put32(i: Int, v: Int): Unit = (0 until 4).foreach(k => b(i + k) = (v >>> (8 * k)).toByte)
    val nameBytes = name.getBytes("UTF-8")
    val cen = (0 until b.length - 46).find { i =>
      u32(i) == 0x02014b50 && u16(i + 28) == nameBytes.length &&
        java.util.Arrays.equals(b.slice(i + 46, i + 46 + nameBytes.length), nameBytes)
    }.getOrElse(fail(s"no central directory record for $name"))
    val loc = u32(cen + 42)
    val half = u32(cen + 20) / 2
    put32(cen + 20, half)
    put32(loc + 18, half)
    Files.write(dst, b).toString
  }

  test("a truncated archive entry fails extract with an IOException naming the entry") {
    val entry = FilingSource.listEntries(zip(small)).last
    val dir = Files.createTempDirectory("graft_truncated")
    val bad = truncateEntry(zip(small), entry, dir.resolve("ferc1-xbrl-2021.zip"))
    val outDir = Files.createTempDirectory("graft_truncated_out")
    val persisted = spark.sparkContext.getPersistentRDDs.size
    // extract only plans: the entry is read, and fails, in the write job
    val e = intercept[Exception] {
      val out = XbrlExtract.extract(spark, Seq(bad), taxonomy(small))
      try XbrlExtract.writeDatapackage(out.taxonomies, out.schemas, out.store, outDir.toString)
      finally out.release()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    val named = chain.collectFirst { case io: java.io.IOException if io.getMessage.contains(entry) => io }
    assert(named.isDefined, s"no IOException naming $entry in:\n${chain.mkString("\n")}")
    assert(named.get.getMessage.contains(bad), named.get.getMessage)
    for (d <- Seq("ferc1_xbrl/datapackage.json", "ferc1_xbrl_datapackage.json",
        "ferc1_xbrl_taxonomy_metadata.json"))
      assert(!Files.exists(outDir.resolve(d)), d)
    assert(spark.sparkContext.getPersistentRDDs.size === persisted)
  }
}
