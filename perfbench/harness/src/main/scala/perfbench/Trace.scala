package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work observed inside one span. */
final class Counters {
  var jobs = 0L
  var schedWaitMs = 0L   // job submit -> first task launch, summed over jobs
  var shuffleBytes = 0L  // shuffle bytes written
  var spillBytes = 0L    // bytes spilled to disk
  var planMs = 0L        // analysis + optimization + planning, from QueryExecution.tracker
}

final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long) {
  var end: Long = -1L
  val counters = new Counters
  def durNs: Long = end - start
}

/** In-memory span recorder for the traced run.
  *
  * A span is (name, start, end, parent, op id) around one call into a
  * module's public function. Spans nest; work runs serially inside
  * them, so every Spark event the benchmark's listeners see belongs to
  * the innermost open span. The listener bus is drained when a span
  * opens and when it closes, which keeps that attribution exact.
  * Self time is a span's time minus the time its child spans cover.
  */
final class Tracer(origin: Long) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Span = null
  private var spark: SparkSession = null

  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobSubmit = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (current != null) {
        current.counters.jobs += 1
        jobSpan(e.jobId) = current
        jobSubmit(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      for (job <- stageJob.get(e.stageId); submit <- jobSubmit.remove(job); s <- jobSpan.get(job))
        s.counters.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (job <- stageJob.get(e.stageId); s <- jobSpan.get(job); m <- Option(e.taskMetrics)) {
        s.counters.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.counters.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = Tracer.this.synchronized {
      if (current != null)
        current.counters.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
  }

  def detach(): Unit = if (spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = if (spark != null) PerfbenchBus.drain(spark.sparkContext)

  def span[T](name: String, op: Int)(body: => T): T = {
    drain()
    val s = synchronized {
      val s = Span(spans.size, name, if (current == null) -1 else current.id, op, System.nanoTime())
      spans += s
      current = s
      s
    }
    try body
    finally {
      drain()
      synchronized {
        s.end = System.nanoTime()
        current = if (s.parent < 0) null else spans(s.parent)
      }
    }
  }

  def closed: Seq[Span] = synchronized(spans.filter(_.end >= 0).toSeq)

  def selfNs(s: Span): Long =
    s.durNs - closed.filter(_.parent == s.id).map(_.durNs).sum

  /** One JSON object per span, in start order. */
  def write(path: String): Unit = {
    val rows = closed.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9,
        "self_s" -> selfNs(s) / 1e9, "jobs" -> s.counters.jobs,
        "sched_wait_s" -> s.counters.schedWaitMs / 1e3,
        "shuffle_bytes" -> s.counters.shuffleBytes, "spill_bytes" -> s.counters.spillBytes,
        "plan_s" -> s.counters.planMs / 1e3))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rows.mkString("", "\n", "\n"))
  }
}
