package graft

/** Benchmark main: runs every SparkEntry query at the given sf dir and
  * prints one JSON line. Each query is materialized through the `noop`
  * datasource (full execution of every operator — including final sorts
  * and projections that `.count()` would let Catalyst prune away).
  *
  * Rep structure: one full UNTIMED pass over the whole suite first (JIT
  * compile, codegen cache, OS page cache, SharedIndex builds settle —
  * its wall-times are still recorded as `cold` so cold-cost changes
  * stay visible round-over-round), then `SPARK_GRAFT_REPS` timed passes
  * run ROUND-ROBIN over the suite — rep i of every query completes
  * before rep i+1 of any query starts. Interleaving is what makes the
  * medians trustworthy on a shared box: a transient load spike lands on
  * one rep of many queries instead of all reps of one query (r6's
  * back-to-back reps recorded an 8.2 s median for a 1 s aggregate that
  * way). The headline `queries`/`value` numbers are the MEDIAN of the
  * timed reps; `min` is the per-query best rep (the least-contaminated
  * observation); any query whose median exceeds 3x its min is listed in
  * `suspect` — treat its median as box noise, not plan cost.
  * `outlier_reps` (r13) flags individual reps > 2x their own query's
  * median (with a 0.25 s absolute floor so sub-second jitter doesn't
  * spam it) even when the pass-level load evidence below is clean —
  * the r12 artifact carried a 29 s rep in an otherwise tight 8.5-9.3 s
  * x05 series that loadavg and the CPU probe both missed; the median
  * was unaffected, but the flag makes that PROVABLE from the artifact.
  *
  * The JSON line is also written to a file (`SPARK_GRAFT_BENCH_OUT`,
  * default ./bench_last.json): terminal tail-capture truncated the r5
  * line mid-object, so the artifact must not depend on stdout
  * surviving intact.
  *
  * Load evidence (r10, tightened r11): the box this runs on has
  * transient external load spikes that inflated whole rep passes in
  * r9's artifact (x05 reps 9.2-30.5 s with the same plan). So each rep
  * pass — including the warmup — records (a) a fixed single-thread CPU
  * probe (a deterministic xorshift loop; contention stretches it) and
  * (b) /proc/loadavg at pass start. `contended_reps` lists the
  * timed-pass indices whose probe exceeded 1.2x the best probe OR
  * whose 1-minute loadavg exceeded cores/4 — r10's loaded artifact
  * showed loadavg 8.86 with x05 reps to 27 s while the old 1.5x probe
  * trip stayed silent (max ratio 1.32), so the flag now trips on
  * either signal; quiet passes on this box self-load to ~3-6 between
  * passes, comfortably under the 32-core/4 = 8 line. A reviewer can
  * discount flagged reps from the artifact alone instead of guessing
  * whether a spread is plan cost or box noise.
  *
  * r15 additions (VERDICT r14 #2): (c) `par_probe_sec` — the same
  * fixed-work loop run on ALL cores at once (wall = slowest thread);
  * co-tenant load on cores the serial probe never touches stretches
  * it, making the r14 failure mode (uniform query inflation, serial
  * probe flat) attributable from the artifact; its >1.3x rule feeds
  * `contended_reps`. (d) `sentinel_sec` — a cached one-row frame
  * through the same noop-write path, measuring the fixed per-query
  * harness overhead directly (r14 inferred a ~+0.10 s component
  * statistically; now it's a recorded number per pass).
  *
  * s08 dual numbers (r11): s14 session-caches s08's knn graph as its
  * input index, and Spark's cache manager then serves the s08 gate
  * query's identical plan from that cache — so the `queries` row for
  * s08_knn_join measures the CACHED SERVE (the steady-state read a
  * deployment doing repeated propagation sees; r10's 0.156 s vs r9's
  * 2.49 s build was this, silently). The separate `s08_knn_build`
  * object times the cold BUILD by dropping exactly the cached graph
  * before each rep (the LSH bucket store stays session-cached, as it
  * is for every other rep — same basis as r9's number). Both numbers
  * are real; they answer different questions, and the artifact now
  * carries both explicitly.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    // default 5 (r7 ran 3): q15/x01-x04 medians sat 1.5-2x above their
    // min from first-rep drift even with interleaving; two more reps
    // cost ~2 min and make the headline median steady-state
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt)
    val spark = GraftSession.create(cpus, Some(sfDir))
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }
    // Fixed-work single-thread probe: wall-time of a deterministic
    // xorshift loop. Pure JVM (no Spark) so it measures the OS
    // scheduler, not our own pool; the result feeds the loop back into
    // a field read so JIT cannot elide it.
    var probeSink = 0L
    def probe(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      probeSink ^= x
      (System.nanoTime() - t0) / 1e9
    }
    // Fixed-work PARALLEL probe (r15 — VERDICT r14 #2): one thread per
    // core each runs the SAME xorshift loop concurrently; wall = the
    // slowest thread (one join barrier). On a quiet box this matches
    // the serial probe; co-tenant load on OTHER cores stretches it
    // while leaving the serial probe flat — exactly the r14 signature
    // (uniform ~1.36x query inflation, serial probe identical) that the
    // artifact could not attribute to environment vs session.
    val parSink = new java.util.concurrent.atomic.AtomicLong(0L)
    def parProbe(): Double = {
      val n = Runtime.getRuntime.availableProcessors()
      val t0 = System.nanoTime()
      val threads = (0 until n).map { tid =>
        val t = new Thread(() => {
          var x = 0x9e3779b97f4a7c15L ^ tid.toLong; var i = 0
          while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          parSink.getAndAdd(x)
        })
        t.start(); t
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Throwable => "[]" }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Locale.ROOT: a comma-decimal default locale would render "1,234"
    // and corrupt the JSON
    def r3(x: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val parProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loads = scala.collection.mutable.ArrayBuffer.empty[String]
    val load1s = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Empty-query sentinel (r15): a cached one-row frame through the
    // SAME noop-write path as every query — measures the per-query
    // fixed harness/scheduling overhead directly (r14 showed a ~+0.10 s
    // fixed component on all sub-0.3 s queries that the artifact could
    // only infer statistically).
    val sentinelDf = spark.range(1).toDF("one").cache()
    sentinelDf.count() // materialize outside any timed window
    def samplePass(): Unit = {
      val l = loadavg()
      loads += l
      load1s += (try l.stripPrefix("[").split(",").head.toDouble
        catch { case _: Throwable => 0.0 })
      probes += probe()
      // sentinel BEFORE the all-cores probe (r16, ADVICE r15): measured
      // right after parProbe saturates every core, residual scheduler /
      // frequency settling inflated the very fixed-overhead number the
      // sentinel exists to isolate; the serial probe that precedes it
      // touches one core and doesn't perturb the box
      val t0 = System.nanoTime()
      sentinelDf.write.format("noop").mode("overwrite").save()
      sentinels += (System.nanoTime() - t0) / 1e9
      parProbes += parProbe()
    }
    samplePass()
    val cold = suite.map { case (name, fn) => name -> runOnce(name, fn) }
    val timed = scala.collection.mutable.LinkedHashMap(
      suite.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    for (_ <- 1 to reps) {
      samplePass()
      for ((name, fn) <- suite) timed(name) = timed(name) :+ runOnce(name, fn)
    }
    // cold-build s08 (see scaladoc): drop the session-cached knn graph
    // before each rep so the run rebuilds it; runs AFTER the timed
    // passes so the cached-serve meaning of the s08 row is untouched
    val s08BuildReps = SparkEntry.queries.get("s08_knn_join").map { fn =>
      (1 to reps).map { _ =>
        graft.operators.Similarity.invalidateKnnGraph(spark, sfDir)
        runOnce("s08_knn_build", fn)
      }
    }

    val medians = timed.map { case (k, v) => k -> median(v) }
    val mins = timed.map { case (k, v) => k -> v.min }
    val suspect = suite.collect {
      case (name, _) if medians(name) > 3.0 * mins(name) => name
    }
    // Per-rep outlier rule (r13): flag any rep > 2x its own query's
    // median EVEN when loadavg and the CPU probe stayed clean — the
    // r12 artifact carried a 29 s rep inside x05's otherwise 8.5-9.3 s
    // series that both pass-level detectors missed (GC or page-cache,
    // not box contention). The median is robust to one such rep, but
    // the flag makes a committed median PROVABLY clean instead of
    // incidentally clean: values are 1-based rep indices per query.
    val outlierReps = suite.flatMap { case (name, _) =>
      val m = medians(name)
      val idx = timed(name).zipWithIndex.collect {
        case (t, i) if t > 2.0 * m && t - m > 0.25 => i + 1
      }
      if (idx.isEmpty) None else Some(name -> idx.mkString("[", ",", "]"))
    }
    val total = medians.values.sum
    // Contention-robust second headline (r16, VERDICT r15 #1): two
    // consecutive round-close benches (r14, r15) were inflated ~1.3x by
    // co-tenant load the probes recorded but the median headline still
    // absorbed (with 5 reps, 2 contended passes drag half the medians).
    // `clean_reps` = timed passes whose all-cores probe stayed within
    // an ABSOLUTE clean line (r17, ADVICE r16: the r16 rule compared
    // each pass to 1.3x the best parProbe of the SAME run, so a
    // uniformly contended run — every parProbe stretched alike —
    // called all five passes clean and the headline stayed inflated).
    // The absolute reference is the run's best SERIAL probe: parProbe
    // runs the identical fixed loop per thread, so on a quiet box the
    // two match (r16 artifact: serial 0.423-0.434 s, par 0.451-0.583 s
    // — par/serial jitter tops out ~1.4x from SMT/turbo settling), and
    // 1.5x the serial min is above that jitter but below any
    // contention that meaningfully moves query walls. A fully
    // saturated box stretches the serial probe too — but then the
    // 1.2x serial rule in contended_reps fires, so the inflation is
    // never silent. `total_uncontended` = sum of per-query medians
    // over ONLY clean passes — comparable across rounds regardless of
    // co-tenants; null (never a 0-sample number) when no pass is
    // clean. `clean_rep_count` is the machine-checkable sample size:
    // the round-close ritual re-runs the bench when it is < 3.
    val cleanReps = parProbes.drop(1).zipWithIndex.collect {
      case (pp, i) if pp <= 1.5 * probes.drop(1).min => i
    }.toVector
    val mediansClean: scala.collection.Map[String, Double] =
      if (cleanReps.isEmpty) Map.empty
      else timed.map { case (k, v) => k -> median(cleanReps.map(v(_))) }
    val totalUncontended =
      if (cleanReps.isEmpty) "null" else r3(mediansClean.values.sum)
    val line = obj(Seq(
      "metric" -> "\"total\"",
      "value" -> r3(total),
      "unit" -> "\"sec\"",
      "headline" -> s""""median_of_${reps}_interleaved_reps_after_warmup"""",
      "total_uncontended" -> totalUncontended,
      "clean_reps" -> cleanReps.map(i => (i + 1).toString).mkString("[", ",", "]"),
      "clean_rep_count" -> cleanReps.size.toString,
      "queries_uncontended" -> (if (cleanReps.isEmpty) "null"
        else obj(suite.map { case (k, _) => k -> r3(mediansClean(k)) })),
      "queries" -> obj(suite.map { case (k, _) => k -> r3(medians(k)) }),
      "min" -> obj(suite.map { case (k, _) => k -> r3(mins(k)) }),
      "cold" -> obj(cold.map { case (k, v) => k -> r3(v) }),
      "suspect" -> suspect.map("\"" + _ + "\"").mkString("[", ",", "]"),
      "outlier_reps" -> obj(outlierReps),
      "reps" -> obj(suite.map { case (k, _) => k -> timed(k).map(r3).mkString("[", ",", "]") }),
      // load evidence: index 0 = warmup pass, 1..reps = timed passes
      "probe_sec" -> probes.map(r3).mkString("[", ",", "]"),
      // parallel (all-cores) fixed-work probe: stretches under
      // co-tenant load the single-thread probe cannot see (r15)
      "par_probe_sec" -> parProbes.map(r3).mkString("[", ",", "]"),
      // cached 1-row noop write: the per-query fixed harness overhead
      "sentinel_sec" -> sentinels.map(r3).mkString("[", ",", "]"),
      "loadavg" -> loads.mkString("[", ",", "]"),
      "contended_reps" -> {
        // probe >1.2x the best timed-pass probe OR par probe >1.3x its
        // best (multi-core contention the serial probe misses) OR 1-min
        // loadavg above cores/4 (the r10 loaded artifact tripped the
        // old 1.5x serial rule on none of these signals)
        val minP = probes.drop(1).min
        val minPP = parProbes.drop(1).min
        val loadLine = Runtime.getRuntime.availableProcessors() / 4.0
        probes.drop(1).lazyZip(parProbes.drop(1)).lazyZip(load1s.drop(1))
          .toSeq.zipWithIndex.collect {
            case ((p, pp, l1), i) if p > 1.2 * minP || pp > 1.3 * minPP || l1 > loadLine => i + 1
          }.mkString("[", ",", "]")
      },
      "s08_knn_build" -> s08BuildReps.map(r => obj(Seq(
        "median" -> r3(median(r)),
        "min" -> r3(r.min),
        "reps" -> r.map(r3).mkString("[", ",", "]"),
        "basis" -> "\"cold graph rebuild per rep (knn_graph cache dropped; LSH bucket store stays session-cached); the queries.s08_knn_join row is the cached serve\""
      ))).getOrElse("null"),
      "sf" -> ("\"" + sfDir + "\"")))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(line) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed ($outPath): ${e.getMessage}") }
    println(line)
    // Compact summary as the LAST stdout line (r18, VERDICT r17 #2): the
    // full detail line above grew past the driver's ~2000-char stdout
    // tail capture (145 queries x per-rep arrays ~ 10 KB), so the tail
    // started MID-JSON and the round-over-round PERF comparison parsed
    // nothing for two rounds running. This line carries the headline
    // scalars only — well under the capture window — and the full
    // detail (per-query medians/mins/cold/reps, probes, load evidence)
    // is unchanged both in the line above and in the bench output file.
    // Additions-only: nothing removed or renamed in the detail line.
    println(obj(Seq(
      "metric" -> "\"total\"",
      "value" -> r3(total),
      "unit" -> "\"sec\"",
      "headline" -> s""""median_of_${reps}_interleaved_reps_after_warmup"""",
      "total_uncontended" -> totalUncontended,
      "clean_rep_count" -> cleanReps.size.toString,
      "reps" -> reps.toString,
      "n_queries" -> suite.size.toString,
      "sum_min" -> r3(mins.values.sum),
      "suspect_count" -> suspect.size.toString,
      "cpus" -> ("\"" + cpus + "\""),
      "detail_file" -> ("\"" + outPath + "\""),
      "sf" -> ("\"" + sfDir + "\""))))
    spark.stop()
  }
}
