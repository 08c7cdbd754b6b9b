package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.FilingSource
import graft.sources.XbrlInstanceParser.ParsedInstance

/** Continuous XBRL ingest — the Structured Streaming twin of
  * [[graft.sources.FilingSource.fromDirectory]] for the deployment the
  * reference's batch CLI can't serve: a landing directory that keeps
  * receiving filings through a submission season (reference
  * get_instances, instance.py:453-484, reads a directory exactly once).
  *
  * Scale shape: the file source tracks seen files in the checkpoint
  * (exactly-once per file), each micro-batch parses only the NEW
  * arrivals in executors with the same StAX parser as the batch path,
  * and the whole pipeline is map-only and stateless — no watermark, no
  * state store, no shuffle. Work per trigger = new files × parse cost,
  * i.e. the stream amortizes exactly the work the batch path re-does
  * from scratch per run.
  */
object XbrlStream {

  /** One streamed long-store row: a fact joined to its context
    * ROW-LOCALLY at parse time — free, because a filing's facts and
    * contexts arrive inside the same parsed row (the batch
    * `groupedStore` groups them the same way, in the parse task).
    * Sink this append-mode to shared storage and run the
    * batch table builds over the accumulated store on the cadence the
    * datapackage needs — latest-filing-wins and the 255-table pivot
    * are corpus-wide decisions, deliberately batch.
    */
  case class StreamedFact(
      filing_name: String,
      report_date: String,
      c_id: String,
      name: String,
      value: String,
      instant: Boolean,
      entity_id: String,
      start_date: String,
      end_date: String,
      dims: Map[String, String])

  // the binaryFile source's fixed schema — file streams require it
  // stated up front
  private val BinaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Unbounded distributed parse of a landing directory's `*.xbrl`
    * files: one [[ParsedInstance]] per newly-arrived filing per
    * trigger. Filings that are not well-formed XML are logged and
    * skipped, same as the batch path — one broken submission must not
    * wedge the stream.
    */
  def parsedFromDirectory(spark: SparkSession, dir: String,
      factPrefix: String = "ferc"): Dataset[ParsedInstance] = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema(BinaryFileSchema)
      .option("pathGlobFilter", "*.xbrl")
      .load(dir)
      .select("path", "content").as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, bytes) =>
        FilingSource.parseOrSkip(FilingSource.stem(p),
          new java.io.ByteArrayInputStream(bytes), factPrefix)
      })
  }

  /** The streamed long fact store: one row per fact with its context
    * fields inlined (see [[StreamedFact]]). Facts whose context id
    * resolves to no context in the filing are dropped, matching the
    * batch store's inner facts×contexts join.
    */
  def factsFromDirectory(spark: SparkSession, dir: String,
      factPrefix: String = "ferc"): Dataset[StreamedFact] = {
    import spark.implicits._
    parsedFromDirectory(spark, dir, factPrefix).flatMap { pi =>
      val ctx = pi.contexts.iterator.map(c => c.c_id -> c).toMap
      pi.facts.iterator.flatMap { f =>
        ctx.get(f.c_id).map(c => StreamedFact(pi.filing_name, pi.report_date,
          f.c_id, f.name, f.value, f.instant, c.entity_id, c.start_date,
          c.end_date, c.dims))
      }
    }
  }
}
