package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType}

/** query_mix: round-robin passes over the fixed query list of
  * [[Catalog.Queries]], each query materialised through a `noop` write,
  * in a seeded order per pass. Only whole passes are timed.
  *
  * The cold pass computes every query's row count and
  * order-insensitive content hash and compares them with the expected
  * values committed beside the benchmark (`--expected`). The traced run
  * alternates an untraced pass with a traced one, a span around each
  * query.
  */
final class QueryMix(spark: SparkSession, cfg: Config, tracer: Option[Tracer]) extends Workload {
  private val expected: Map[String, (Long, String)] =
    Json.read(cfg.expected).properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap

  private val sentinel = spark.range(1).toDF("one").cache()

  private def order(pass: Int): Seq[(String, String)] =
    new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(Catalog.Queries)

  private def timed(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case NonFatal(e) => Some(Op.describe(e)) }
    Op(name, (System.nanoTime() - t0) / 1e9, err)
  }

  private def execute(name: String): Op = timed(name) {
    graft.SparkEntry.queries(name)(spark, cfg.data).write.format("noop").mode("overwrite").save()
  }

  /** (rows, sum of per-row xxhash64 over a JSON rendering of the row).
    * Top-level floating columns are rounded to 6 decimals first, so the
    * last-bit wobble of a parallel floating sum cannot flip the hash.
    */
  private def contentHash(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case BinaryType => base64(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    val row = df.select(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def verify(name: String): Op = {
    var problem: Option[String] = None
    val op = timed(name) {
      val (rows, hash) = contentHash(graft.SparkEntry.queries(name)(spark, cfg.data))
      problem = expected.get(name) match {
        case Some((r, h)) if r == rows && h == hash => None
        case Some((r, h)) => Some(s"rows=$rows hash=$hash, expected rows=$r hash=$h")
        case None => Some("no expected value")
      }
    }
    op.copy(error = op.error.orElse(problem))
  }

  /** The checked cold pass is the warm-up. */
  def warmUp(): Seq[Op] = {
    sentinel.count()
    order(0).map { case (name, _) => verify(name) }
  }

  def measure(seconds: Double): Outcome = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val untracedPasses = mutable.ArrayBuffer.empty[(Double, Seq[Op])]
    val tracedPasses = mutable.ArrayBuffer.empty[(Double, Seq[Op])]
    val sentinels = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    def onePass(run: (String, Int) => Op): (Double, Seq[Op]) = {
      pass += 1
      val t0 = System.nanoTime()
      sentinel.write.format("noop").mode("overwrite").save()
      sentinels += (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val passOps = order(pass).map { case (name, _) => run(name, pass) }
      ops ++= passOps
      ((System.nanoTime() - t1) / 1e9, passOps)
    }
    val start = System.nanoTime()
    do {
      untracedPasses += onePass((name, _) => execute(name))
      tracer.foreach { t =>
        tracedPasses += onePass((name, p) => t.span(s"query.$name", p)(execute(name)))
      }
    } while ((System.nanoTime() - start) / 1e9 < seconds)

    val good = untracedPasses.flatMap(_._2).filter(_.ok).map(_.wallS).toSeq
    val untracedWall = untracedPasses.map(_._1).sum
    val endToEnd = Map(
      "op_p50_s" -> Stats.median(good),
      "ops_per_s" -> good.size / untracedWall)

    val layers: Map[String, Double] = tracer.map { t =>
      val spans = t.closed.filter(_.name.startsWith("query."))
      val okNames = tracedPasses.flatMap(_._2).filter(_.ok).map(_.name).toSet
      def perQuery(name: String, f: Span => Double): Double =
        Stats.median(spans.filter(_.name == s"query.$name").map(f)) match {
          case x if x.isNaN || !okNames(name) => 0.0
          case x => x
        }
      val queryTimes = Catalog.Queries.map { case (q, _) => s"query.${q}_s" -> perQuery(q, _.durNs / 1e9) }
      val modules = Catalog.Modules.flatMap { m =>
        val qs = Catalog.Queries.collect { case (q, `m`) => q }
        def total(f: Counters => Double) = qs.map(perQuery(_, s => f(s.counters))).sum
        Seq(s"operators.$m.plan_s" -> total(_.planMs / 1e3),
          s"operators.$m.jobs" -> total(_.jobs.toDouble),
          s"operators.$m.sched_wait_s" -> total(_.schedWaitMs / 1e3),
          s"operators.$m.shuffle_mb" -> total(_.shuffleBytes / 1048576.0),
          s"operators.$m.spill_mb" -> total(_.spillBytes / 1048576.0))
      }
      (queryTimes ++ modules ++ Seq(
        "harness.sentinel_s" -> Stats.median(sentinels.toSeq),
        "harness.trace_overhead_ratio" ->
          Stats.median(tracedPasses.map(_._1).toSeq) / Stats.median(untracedPasses.map(_._1).toSeq))).toMap
    }.getOrElse(Map.empty)

    Outcome(ops.toSeq, endToEnd, layers, Map(
      "queries" -> Catalog.Queries.size, "passes" -> untracedPasses.size,
      "traced_passes" -> tracedPasses.size,
      "pass_walls_s" -> untracedPasses.map(_._1).toSeq,
      "sentinel_s" -> sentinels.toSeq,
      "per_query_s" -> Catalog.Queries.map { case (q, _) =>
        q -> untracedPasses.flatMap(_._2).filter(o => o.ok && o.name == q).map(_.wallS).toSeq
      }.toMap))
  }
}
