package graft

import org.apache.spark.sql.SparkSession

/** Single place where graft sessions are configured. Every entry point
  * (Verify, Bench, ScalaTest) builds through here so session-level flags
  * are set once at build time, never mutated mid-plan.
  */
object GraftSession {

  /** Total on-disk bytes under a data directory (fully recursive) — the
    * input-size signal the shuffle sizing below derives from. Resolved
    * through Hadoop's FileSystem (r18, VERDICT r17 #6: the java.io.File
    * walk returned 0 for any non-local dir — hdfs://, s3a:// — so a
    * cluster deployment silently floored the width at core count, the
    * exact spill regime the sizing exists to prevent; getContentSummary
    * issues ONE metadata call instead of a driver-side listing walk).
    * Zero for a missing dir or an unresolvable filesystem.
    */
  private[graft] def totalBytes(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Long =
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** The one CPU default of Main, Verify, Bench, Profile and PlanDump:
    * `SPARK_GRAFT_CPUS` when it is set, otherwise the host's processor
    * count.
    */
  def defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  private def positiveInt(s: String): Option[Int] =
    scala.util.Try(s.trim.toInt).toOption.filter(_ > 0)

  /** Core count parsed defensively (r18, ADVICE r17): the master string
    * interpolates `cpus` verbatim (so "local[*]"-style values still
    * build a session), but every NUMERIC use — shuffle partitions, the
    * width derivation — falls back to [[defaultCpus]] (and to the
    * host's processor count if that is not a positive number either)
    * instead of throwing NumberFormatException at session build.
    */
  private[graft] def parseCpus(cpus: String): Int =
    positiveInt(cpus).orElse(positiveInt(defaultCpus))
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Pre-coalesce shuffle width derived FROM INPUT SIZE (r17, guide §2.2:
    * "make partitioning scale-adaptive — derive from input size — rather
    * than a constant tuned for either local mode or the cluster").
    *
    * Why not a constant: fixed shuffle partitions are the classic scale
    * trap — per-task shuffle volume grows linearly with data until the
    * sort-agg spills (d18's gram window at 5M docs: 270M rows over 32
    * fixed tasks = 8M+ rows/task, found by the r14 1000x profile; 16x
    * more initial partitions ran ~linear, 870685f). Why not a BIG
    * constant either: r17 measured 16x-cores on the 15 MB sf0.1 corpus
    * regressing every non-coalescible shuffle (sort/window stages over
    * session-cached inputs ran 512 real tasks: t22 0.36→1.2 s,
    * s14 1.25→2.0 s, s08 cached serve 0.17→0.5 s).
    *
    * So: one initial partition per ~8 MB of input (parquet expands
    * several-fold in memory and fan-out operators multiply rows),
    * floored at the core count (local parallelism), capped at 64x cores
    * (driver sanity). sf0.1 (15 MB) → cores; a 5M-doc rung (~2.5 GB) →
    * ~300, the r14 fix's regime. `SPARK_GRAFT_INIT_PARTS` overrides for
    * explicit experiments; a cluster deployment sizes this from its own
    * table statistics the same way.
    */
  private[graft] def initialPartitions(cpus: Int, dataDir: Option[String],
      conf: org.apache.hadoop.conf.Configuration = hadoopConf()): Int = {
    sys.env.get("SPARK_GRAFT_INIT_PARTS").map(_.toInt).getOrElse {
      val bytes = dataDir
        .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
        .map(totalBytes(_, conf)).getOrElse(0L)
      math.min(math.max(cpus, (bytes / (8L << 20)).toInt), cpus * 64)
    }
  }

  /** `file:` resolves to [[graft.sinks.NioLocalFileSystem]], which
    * sets permissions without forking `chmod`.
    */
  private val FileImpl = "fs.file.impl" -> classOf[graft.sinks.NioLocalFileSystem].getName

  /** A Hadoop conf with graft's `file:` registration. Hadoop caches one
    * file system per scheme and user, whatever the conf of a later
    * lookup names, so a lookup before the session is built goes through
    * this conf, or the session would keep the stock one.
    */
  private[graft] def hadoopConf(): org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set(FileImpl._1, FileImpl._2)
    conf
  }

  def builder(cpus: String, dataDir: Option[String] = None): SparkSession.Builder = {
    val nCpus = parseCpus(cpus)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config(s"spark.hadoop.${FileImpl._1}", FileImpl._2)
      .config("spark.sql.shuffle.partitions", nCpus.toString)
      // scale-adaptive pre-coalesce shuffle width; AQE coalesces back
      // down (parallelismFirst keeps small shuffles at ~core
      // parallelism). See [[initialPartitions]].
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(nCpus, dataDir).toString)
      // Janino codegen cache (STATIC conf, default 100 entries): this
      // engine's standing surface is ~145 declared queries plus the 255
      // per-table XBRL projections — far past 100 generated-class
      // sources — so at the default every x05 run re-compiles all 255
      // wide projections (~30-300 ms each, measured r17) and every
      // bench pass re-compiles most of the suite. Sized to hold the
      // whole working set; the driver pays compilation once per JVM
      // instead of once per run (needs the code cache sized too — see
      // build.sbt's -XX:ReservedCodeCacheSize). Cluster-relevant:
      // codegen compiles on executors as well, same eviction.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries INT64 TIMESTAMP(NANOS); read as plain long
      // (see Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native graft expressions (graft_cosine) injected at session
      // build, so every derived session resolves them in SQL
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the local test corpus is single-digit-MB single-file tables; the
      // 128 MB default maxPartitionBytes packs each whole table into ONE
      // scan task, so a map-only query runs serially however many cores
      // the session has — and the 4 MB default openCostInBytes floors
      // maxSplitBytes = min(maxPartitionBytes, max(openCost, bytes/cores))
      // so lowering only the max changes nothing for small files. With a
      // 256 KB open cost the bytes-per-core term takes over and scans
      // split toward one task per core (splits without a row-group start
      // are empty and cost nothing). A cluster deployment against real
      // multi-file data keeps the defaults.
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${256 * 1024}")
      .config("spark.ui.enabled", "false")
  }

  def create(cpus: String): SparkSession = create(cpus, None)

  /** Build with an explicit data directory so the shuffle sizing sees
    * the input the caller is actually about to read (scale runners pass
    * their corpus dir; Bench/Verify default to SPARK_GRAFT_SF_DIR).
    */
  def create(cpus: String, dataDir: Option[String]): SparkSession = {
    val s = builder(cpus, dataDir).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
