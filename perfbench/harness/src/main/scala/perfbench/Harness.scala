package perfbench

import org.apache.spark.sql.SparkSession

/** Outcome of one operation: its wall time, and the reason it failed
  * (a throw or an output check) if it did. Failed operations count in
  * `failed` and never become latency samples.
  */
final case class Op(name: String, wallS: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

object Op {
  def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"
}

/** What a workload reports: operations, end-to-end metrics, per-layer
  * values (traced run only) and free-form detail for the run record.
  */
final case class Outcome(
    ops: Seq[Op],
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, Any])

trait Workload {
  /** One untimed operation that warms the session; it is checked like
    * any other and closes the set-up interval.
    */
  def warmUp(): Seq[Op]

  /** Operations until `seconds` have passed (at least one; whole passes
    * for a query mix, at least two extractions for an XBRL workload).
    */
  def measure(seconds: Double): Outcome
}

final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    result: String,
    spans: String,
    expected: String,
    xbrlData: String,
    season: String) {
  /** Spark runs at local[cores], like the CLI's default `--cpus`. */
  val cpus: Int = Runtime.getRuntime.availableProcessors()
}

object Config {
  def parse(argv: Array[String]): Config = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("data"), get("work"), get("result"), kv.getOrElse("spans", ""),
      kv.getOrElse("expected", ""), kv.getOrElse("xbrl-data", ""), kv.getOrElse("season", ""))
  }
}

/** Benchmark entry point for graft: one process, one closed-loop client, one
  * in-process `GraftSession` at local[cores].
  *
  *   perfbench.Harness --workload xbrl_small|query_mix
  *     --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *     --result FILE [--spans FILE] [--season DIR]
  *     [--expected FILE] [--xbrl-data DIR]
  *
  * Writes one JSON object to `--result`: `correct`, `attempted`,
  * `failed`, `metrics` (end-to-end with `--trace 0`, per-layer with
  * `--trace 1`) and `detail` (per-operation times, load evidence).
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val cfg = Config.parse(argv)
    val origin = System.nanoTime()
    val loadBefore = Load.sample()
    val tracer = if (cfg.trace) Some(new Tracer(origin)) else None
    if (cfg.xbrlData.nonEmpty) System.setProperty("graft.xbrl.data.dir", cfg.xbrlData)

    val t0 = System.nanoTime()
    val dataDir = if (cfg.workload == "query_mix") Some(cfg.data) else None
    def create() = graft.GraftSession.create(cfg.cpus.toString, dataDir)
    val spark: SparkSession = tracer.fold(create())(_.span("session.create", 0)(create()))
    val createS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.attach(spark))
    val workload: Workload = cfg.workload match {
      case "xbrl_small" => new XbrlWorkload(spark, cfg, tracer)
      case "query_mix" => new QueryMix(spark, cfg, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warm = workload.warmUp()
    val setupS = (System.nanoTime() - t0) / 1e9
    val out = workload.measure(cfg.seconds)
    val loadAfter = Load.sample()
    tracer.foreach { t =>
      t.detach()
      if (cfg.spans.nonEmpty) t.write(cfg.spans)
    }
    val ops = warm ++ out.ops
    val failed = ops.count(!_.ok)
    val errorRate = failed.toDouble / ops.size
    val rssMb = Load.peakRssMb()

    val metrics: Seq[(String, Double, String)] =
      if (!cfg.trace)
        Seq(("setup_s", setupS, "s"), ("peak_rss_mb", rssMb, "MB")) ++
          out.endToEnd.toSeq.map { case (k, v) => (k, v, Catalog.endToEndUnit(k)) }
      else {
        val layers = Catalog.layers.map { case (k, unit) => k -> (0.0, unit) }.toMap ++
          (out.layers ++ Map(
            "session.create_s" -> createS,
            "harness.error_rate" -> errorRate,
            "load.serial_probe_s" -> loadBefore.serialS,
            "load.parallel_probe_s" -> loadBefore.parallelS,
            "load.loadavg_1m" -> loadBefore.loadavg1)).map { case (k, v) =>
            k -> (v, Catalog.layers.toMap.getOrElse(k,
              throw new IllegalStateException(s"per-layer metric $k is not in the catalog")))
          }
        layers.toSeq.map { case (k, (v, u)) => (k, v, u) }
      }

    val detail = out.detail ++ Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "cpus" -> cfg.cpus, "setup_s" -> setupS, "session_create_s" -> createS,
      "error_rate" -> errorRate,
      "ops" -> ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS, "error" -> o.error)),
      "load_before" -> loadBefore.toMap, "load_after" -> loadAfter.toMap)
    val json = Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metrics.sortBy(_._1).map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> detail))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.result), json + "\n")
    spark.stop()
  }
}

/** Per-run load evidence, recorded beside the metrics so a run that
  * breaks the bounds can be traced to the box: a serial fixed-work
  * probe, an all-core probe (the same xorshift loop on every core at
  * once) and /proc/loadavg. Nothing is discarded on its basis.
  */
final case class Load(serialS: Double, parallelS: Double, loadavg: String) {
  def loadavg1: Double = loadavg.split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)
  def toMap: Map[String, Any] =
    Map("serial_probe_s" -> serialS, "parallel_probe_s" -> parallelS, "loadavg" -> loadavg)
}

object Load {
  private val Iterations = 50000000
  @volatile private var sink = 0L

  private def spin(seed: Long): Long = {
    var x = 0x9e3779b97f4a7c15L ^ seed
    var i = 0
    while (i < Iterations) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def sample(): Load = {
    val loadavg =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
      catch { case _: java.io.IOException => "" }
    val t0 = System.nanoTime()
    sink ^= spin(0)
    val serial = (System.nanoTime() - t0) / 1e9
    val n = Runtime.getRuntime.availableProcessors()
    val t1 = System.nanoTime()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => { val x = spin(i.toLong); Load.synchronized(sink ^= x) })
      t.start(); t
    }
    threads.foreach(_.join())
    Load(serial, (System.nanoTime() - t1) / 1e9, loadavg)
  }

  /** The JVM's peak resident set (VmHWM); Spark runs in this process. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: java.io.IOException => -1.0 }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Metric names and units, one place. The per-layer list is what every
  * traced run reports; a layer a workload does not exercise reads 0.
  */
object Catalog {
  val endToEndUnit: Map[String, String] = Map(
    "setup_s" -> "s", "op_p50_s" -> "s", "ops_per_s" -> "1/s",
    "peak_rss_mb" -> "MB")

  val Modules: Seq[String] = Seq("Relational", "Dedup", "Text", "Similarity",
    "ProductQuantization", "Multimodal", "HeavyHitters", "QuantileSketch",
    "BottomKSample", "ReservoirSample", "XbrlQueries")

  /** The query mix: name -> the operator module that implements it. One
    * query per operator module, among them the ROADMAP's carried-perf
    * candidates q57 and t13, and session-cached serves (s02 over the
    * cached LSH buckets, x01 over the cached parse) beside fresh work.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q57_corr_matrix" -> "Relational", "d14_line_dedup" -> "Dedup",
    "t13_quality_classifier" -> "Text", "s02_ann_lsh" -> "Similarity",
    "s10_ann_sq8" -> "ProductQuantization", "m07_av_header" -> "Multimodal",
    "q71_heavy_hitters" -> "HeavyHitters", "q70_quantile_sketch" -> "QuantileSketch",
    "q72_bottomk_sample" -> "BottomKSample", "q74_reservoir_sample" -> "ReservoirSample",
    "x01_xbrl_parse" -> "XbrlQueries")

  val XbrlLayers: Seq[String] = Seq("sources.taxonomy_parse", "plans.schema_derive",
    "sources.filing_parse", "plans.fact_store", "plans.table_build", "sinks.table_write",
    "sinks.descriptor")

  /** Layers whose Spark counters are reported. */
  val CountedLayers: Seq[String] = Seq("sources.filing_parse", "plans.fact_store", "sinks.table_write")

  val layers: Seq[(String, String)] =
    Seq("session.create_s" -> "s") ++
      XbrlLayers.map(l => s"${l}_s" -> "s") ++
      Seq("sources.filings", "sources.filings_skipped", "sources.facts", "plans.store_rows",
        "sinks.tables_written", "sinks.tables_failed", "sinks.files_written").map(_ -> "count") ++
      Seq("sinks.bytes_written" -> "B", "plans.fact_use_ratio" -> "ratio") ++
      CountedLayers.flatMap(l => Seq(s"$l.jobs" -> "count", s"$l.sched_wait_s" -> "s",
        s"$l.shuffle_mb" -> "MB", s"$l.spill_mb" -> "MB")) ++
      Modules.flatMap(m => Seq(s"operators.$m.plan_s" -> "s", s"operators.$m.jobs" -> "count",
        s"operators.$m.sched_wait_s" -> "s", s"operators.$m.shuffle_mb" -> "MB",
        s"operators.$m.spill_mb" -> "MB")) ++
      Queries.map { case (q, _) => s"query.${q}_s" -> "s" } ++
      Seq("harness.sentinel_s" -> "s", "harness.trace_overhead_ratio" -> "ratio",
        "harness.layer_split_share" -> "ratio", "harness.error_rate" -> "ratio",
        "extract.facts_per_s" -> "1/s", "extract.filings_per_s" -> "1/s",
        "extract.output_mb" -> "MB", "season.extract_s" -> "s", "season.facts_per_s" -> "1/s",
        "season.sources.filing_parse_s" -> "s", "season.plans.fact_store_s" -> "s",
        "season.layer_split_share" -> "ratio", "load.serial_probe_s" -> "s",
        "load.parallel_probe_s" -> "s", "load.loadavg_1m" -> "load")
}
