package graft

import graft.operators.{Dedup, Relational, Text, XbrlQueries}
import org.apache.spark.sql.DataFrame

/** Shuffle-budget audit: every operator claims a shuffle count in its
  * scaladoc; these tests pin the executed plans to those budgets so a
  * refactor that silently adds an exchange fails CI. (Shuffle count is
  * the property that survives a 100x scale-up — constants don't.)
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Count distinct shuffle exchanges executed in the final adaptive
    * plan (reused exchanges count once — they are one physical shuffle).
    */
  private def shuffles(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    df.collect() // finalize AQE
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => 0
      case s: ShuffleExchangeLike => 1 + s.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Count parquet file-scan leaves in the final adaptive plan (the
    * toString form prints Final AND Initial plans, double-counting).
    */
  private def parquetScans(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => 1 + s.children.map(walk).sum
      case b: BatchScanExec => 1 + b.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Parquet scan leaves of one TABLE in the final adaptive plan —
    * reused exchanges contribute nothing (their subtree runs once), so
    * this counts how many times the table is genuinely read.
    */
  private def tableScans(df: DataFrame, table: String): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec =>
        (if (s.relation.location.rootPaths.exists(
          _.toString.contains(s"$table.parquet"))) 1 else 0) +
          s.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("d01 exact dedup: one aggregation shuffle plus the presentation sort") {
    assert(shuffles(Dedup.d01ExactHash(spark, sf)) <= 2)
  }

  test("q04 pivot: one aggregation shuffle plus the presentation sort") {
    assert(shuffles(Relational.q04PivotWide(spark, sf)) <= 2)
  }

  test("q05/q14 window dedups: one partitioning shuffle plus the sort") {
    assert(shuffles(Relational.q05DedupLatest(spark, sf)) <= 2)
    assert(shuffles(Relational.q14FuzzyNumericDedup(spark, sf)) <= 2)
  }

  test("text ops are map-only up to the presentation sort") {
    assert(shuffles(Text.t01LangId(spark, sf)) <= 1)
    assert(shuffles(Text.t03TokenCount(spark, sf)) <= 1)
    assert(shuffles(Text.t04Fingerprint(spark, sf)) <= 1)
    assert(shuffles(Text.t08PiiRedact(spark, sf)) <= 1)
  }

  test("q16 as-of join: one per-user window shuffle plus the sort, no join node") {
    val df = Relational.q16AsofJoin(spark, sf)
    assert(shuffles(df) <= 2)
    // the whole point: the as-of is a window carry-forward, not a
    // range/cross join that explodes per key
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"), plan.take(2000))
  }

  test("q17 range join blocks on time buckets, never a nested loop") {
    val df = Relational.q17RangeJoin(spark, sf)
    // join sides on (user, bucket) + count agg + presentation sort
    assert(shuffles(df) <= 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"), plan.take(2000))
  }

  test("s02 bucketing is codegen'd in the scan; candidates join by broadcast") {
    val df = graft.operators.Similarity.s02AnnLsh(spark, sf)
    val n = shuffles(df)
    // pair-dedup agg + per-query window + presentation sort; the
    // candidate join itself broadcasts the query side
    assert(n <= 3, s"$n shuffle exchanges")
    val plan = df.queryExecution.executedPlan.toString
    // the bucketing Generate runs inside a WholeStageCodegen stage
    // (the `*(k)` marker) — the interpreted-HOF formulation this
    // replaced de-codegen'd the whole embedding scan
    assert("""\*\(\d+\) Generate posexplode\(graft_hyperplane_buckets""".r
      .findFirstIn(plan).isDefined, plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q22 snapshot diff: co-partitioned full-outer merge join, nothing broadcast") {
    val df = Relational.q22SnapshotDiff(spark, sf)
    // one exchange per side + the presentation sort
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("q22 on bucketed snapshots: both per-side exchanges vanish, result unchanged") {
    // the scaladoc claim made real: store both vintages bucketed on the
    // diff key and the full-outer merge join consumes the bucketed
    // scans' co-partitioning directly — the only remaining exchange is
    // the presentation sort. This is the 100 TB deployment shape: a
    // nightly-snapshot table bucketed on its PK diffs against the next
    // vintage without shuffling either corpus.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val tmp = Files.createTempDirectory("graft_q22_bucketed").toString
    val o = Tables.orders(spark, sf)
    val oldSnap = o.filter(pmod(col("o_orderkey"), lit(7L)) =!= 0L)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val newSnap = o.filter(pmod(col("o_orderkey"), lit(11L)) =!= 3L)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    def save(df: DataFrame, name: String): Unit =
      df.write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/$name").mode("overwrite").saveAsTable(name)
    save(oldSnap, "graft_q22_old_b")
    save(newSnap, "graft_q22_new_b")
    try {
      val diff = Relational.snapshotDiff(
        spark.table("graft_q22_old_b"), spark.table("graft_q22_new_b"),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      assert(shuffles(diff) === 1, diff.queryExecution.executedPlan.toString.take(2000))
      // same classification as the unbucketed plan (modulo q22's restatement)
      val unbucketed = Relational.snapshotDiff(oldSnap, newSnap,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
      assert(diff.collect().map(_.toSeq).toSet === unbucketed.collect().map(_.toSeq).toSet)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_q22_old_b")
      spark.sql("DROP TABLE IF EXISTS graft_q22_new_b")
    }
  }

  test("q24 cdc merge: co-partitioned anti join + map-only upsert union, no rewrite amplification") {
    val df = Relational.q24CdcMerge(spark, sf)
    // one exchange per anti-join side + the presentation sort (AQE may
    // broadcast the genuinely-small changeset at this sf — fewer, never
    // more); the upsert branch appends without any exchange of its own
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("q24 on bucketed base and changeset: the anti-join exchanges vanish, result unchanged") {
    // the scaladoc claim made real, same shape as the q22 pin: a
    // maintained table bucketed on its PK absorbs a bucketed changeset
    // without shuffling either side — only the presentation sort
    // remains. Auto-broadcast is disabled so the pin isolates
    // partitioning (at real scale the changeset may not be small).
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val tmp = Files.createTempDirectory("graft_q24_bucketed").toString
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val changes = o.filter(pmod(col("o_orderkey"), lit(9L)) === 1L)
      .withColumn("op", lit("D"))
      .unionByName(o.filter(pmod(col("o_orderkey"), lit(9L)) === 4L)
        .withColumn("op", lit("U")))
    def save(df: DataFrame, name: String): Unit =
      df.write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/$name").mode("overwrite").saveAsTable(name)
    save(o, "graft_q24_base_b")
    save(changes, "graft_q24_ch_b")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = Relational.cdcMerge(
        spark.table("graft_q24_base_b"), spark.table("graft_q24_ch_b"), Seq("o_orderkey"))
      assert(shuffles(merged) === 1, merged.queryExecution.executedPlan.toString.take(2000))
      val unbucketed = Relational.cdcMerge(o, changes, Seq("o_orderkey"))
      assert(merged.collect().map(_.toSeq).toSet ===
        unbucketed.collect().map(_.toSeq).toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS graft_q24_base_b")
      spark.sql("DROP TABLE IF EXISTS graft_q24_ch_b")
    }
  }

  test("q23 scd2 history: one key exchange serves both windows, no join") {
    // the scaladoc claim: the run-start lag window and the valid_to
    // lead window share the same (key, vintage) partitioning, so the
    // whole history build is one data exchange plus the presentation
    // sort — never a self-join of vintages.
    val df = Relational.q23Scd2History(spark, sf)
    assert(shuffles(df) <= 2, df.queryExecution.executedPlan.toString.take(3000))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("s07 radius search: queries broadcast, corpus map-only into the bounded top") {
    val df = graft.operators.Similarity.s07AnnRadius(spark, sf)
    // orderBy+limit plans as TakeOrdered (per-partition heaps); the
    // corpus side never shuffles
    assert(shuffles(df) <= 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
  }

  test("s08 knn graph: equi joins only, nothing corpus-sized broadcast") {
    val df = graft.operators.Similarity.s08KnnJoin(spark, sf)
    // bucket cap window + bucket groupBy (shared partitioning), two id
    // joins, pair-dedup agg + rank window (shared partitioning), and
    // the presentation sort; AQE may broadcast the SMALL cached id side
    // at test sf but no cartesian/nested-loop may ever appear
    assert(shuffles(df) <= 7)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("d12 incremental dedup: batch-sized shuffles only, the index joins broadcast") {
    val df = Dedup.d12IncrementalDedup(spark, sf)
    // per-batch work: the signature build is MAP-ONLY (native
    // graft_minhash64 in the scan), so what remains is the batch
    // bucket-cap window + cross-band pair dedup, plus the presentation
    // TakeOrdered; the band-probe and old-sig-fetch joins broadcast the
    // batch-derived side, so the persisted index is scanned, never
    // shuffled
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("d10 bloom contamination probes in the scan: no join against the member set") {
    val df = Dedup.d10ContaminationBloom(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the membership test is a codegen'd filter over a scalar-subquery
    // constant — d06's broadcast hit-join against the benchmark's
    // distinct shingle set is gone; the one remaining join is the
    // per-doc sizes x hits rollup
    assert(plan.contains("might_contain"), plan.take(3000))
    def joins(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => joins(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => joins(q.plan)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => 1 + j.children.map(joins).sum
      case other => other.children.map(joins).sum
    }
    assert(joins(df.queryExecution.executedPlan) === 1, plan.take(3000))
  }

  test("s04 trained IVF: seed scoring broadcasts, candidates join cell-equi") {
    val df = graft.operators.Similarity.s04AnnIvfTrained(spark, sf)
    // assignment agg + pair-dedup agg + per-query window + presentation
    // sort; the corpus-vs-codebook scoring is a broadcast of the tiny
    // codebook side, never a shuffled cartesian
    assert(shuffles(df) <= 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
  }

  test("s05 PQ: ADC code scan is codegen'd and broadcast-only; shortlist joins back broadcast") {
    val df = graft.operators.ProductQuantization.s05AnnPq(spark, sf)
    // LUT build agg + shortlist window + final top-k window +
    // presentation sort; the code scan and both rescore joins are
    // broadcasts of the tiny query/shortlist sides
    assert(shuffles(df) <= 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the ADC scan runs inside whole-stage codegen: graft_pq_adc is
    // projected in a `*(k)` stage, not an interpreted fallback
    assert("""\*\(\d+\) Project \[.*graft_pq_adc""".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("s06 IVF-PQ: probed-cell equi-join on codes, codegen'd ADC, no cartesian") {
    val df = graft.operators.ProductQuantization.s06AnnIvfPq(spark, sf)
    // probe window + LUT agg + pair-min agg + shortlist window + final
    // top-k window + presentation sort; the code scan joins the
    // broadcast (cell, lut) side cell-equi — never the whole corpus
    assert(shuffles(df) <= 7)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("graft_pq_adc"), plan.take(3000))
  }

  test("d08 embedding LSH pairs: window-capped buckets, no cartesian") {
    val df = Dedup.d08EmbeddingLsh(spark, sf)
    // bucket window (groupBy reuses its partitioning) + pair distinct +
    // two id-equi rescore joins + presentation sort
    assert(shuffles(df) <= 6)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the cap must run BEFORE the list aggregation: the Window (count)
    // sits below the collect_list aggregate in the plan
    assert(plan.contains("Window"), plan.take(2000))
  }

  test("d05 exact pairs: probe side repartitioned by the chunk grid, never scan-partitioned") {
    val df = Dedup.d05EmbeddingCosine(spark, sf)
    // chunk-grid repartition + presentation TakeOrdered; the small build
    // side broadcasts (no shuffle of its own)
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the grid repartition must survive into the executed plan: without
    // it, a broadcast join's parallelism is the probe SCAN's split count
    // (one task on a single-file table — the 33x sf1 regression, r9).
    // hashpartitioning on (label, chunk, cj) is that exchange.
    assert(plan.contains("hashpartitioning(label"), plan.take(3000))
    // exact semantics: the native round rides the projection, and the
    // pair pass ends in a TakeOrdered, never a global sort of all pairs
    assert(plan.contains("graft_round"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q25 domain quota: one group window exchange plus the presentation sort, no join") {
    val df = Relational.q25DomainQuota(spark, sf)
    // score computes in-scan (qualityScore carries source through, no
    // join back to documents); the only data exchange is the per-source
    // window partitioning, then the presentation sort
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("q26 temperature mix: tiny count agg + broadcast fractions, corpus never shuffles") {
    val df = Relational.q26TemperatureMix(spark, sf)
    // group counts agg + the single-partition window over that TINY
    // frame + the presentation sort; the fractions join back broadcast,
    // so no corpus-sized exchange exists
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("t16 tf-idf: mergeable aggs, equi-joins only, top-k pushed into the rank window") {
    val df = graft.operators.Text.t16TfidfKeywords(spark, sf)
    // tf agg + vocab term agg + tf-vocab term join + per-doc window +
    // presentation sort — every exchange an equi key, nothing
    // corpus-sized broadcast (the one-row N agg is the only
    // nested-loop side)
    assert(shuffles(df) <= 5) // collects, finalizing the AQE plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the corpus must tokenize ONCE: the vocab branch reuses tf's
    // (doc, term) exchange (ctf consuming tf's count keeps the
    // subtrees canonical-equal) instead of re-scanning documents
    assert(plan.contains("ReusedExchange"), plan.take(3000))
    // the rk <= topK filter must reach the window as a group limit so
    // only ~topK rows per doc survive the rank, not every (doc, term)
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q28 normalize: two moment aggs broadcast back, the corpus never shuffles") {
    val df = Relational.q28ZscoreNormalize(spark, sf)
    // anchor agg + anchored-ssd agg + presentation sort; every join of
    // stats back into the corpus must broadcast (five tiny rows),
    // never shuffle the event side
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q27 fk integrity: equi anti-joins only, no cartesian between data sides") {
    val df = Relational.q27FkIntegrity(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // per edge: key agg + LEFT ANTI equi-join + two one-row aggs joined
    // 1x1 (BroadcastNestedLoopJoin over single rows is the intended
    // shape); a CartesianProduct would mean a data-sided cross join
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    // r17 one-scan-per-child restatement: lineitem's three edges and
    // orders' two ride ONE Expand-aggregated scan each — every other
    // branch reuses the exchange. orders is also l_orderkey's PARENT
    // (a second, column-pruned scan); customer serves as child once
    // and parent twice (full + pruned)
    assert(tableScans(df, "lineitem") === 1, "lineitem must scan once")
    assert(tableScans(df, "orders") === 2, "orders: 1 child scan + 1 parent scan")
    assert(tableScans(df, "customer") === 3, "customer: 1 child + 2 parent scans")
  }

  test("t17 hashed features: one mergeable agg plus the presentation sort, no joins") {
    val df = graft.operators.Text.t17HashedFeatures(spark, sf)
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("d13 containment rides d02's capped blocking: equi-joins, no cartesian") {
    val df = graft.operators.Dedup.d13ContainmentDups(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // top-k is a TakeOrdered of the scored pairs, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q21 token-budget sample: one totals agg broadcast back, map-only keep") {
    val df = Relational.q21TokenBudgetSample(spark, sf)
    // totals aggregation + presentation sort; the totals join must
    // broadcast (one tiny row per group), never shuffle the big side
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("t05 packing: the shard repartition plus the presentation sort") {
    assert(shuffles(graft.operators.Text.t05PackSequences(spark, sf)) <= 2)
  }

  test("q19 split is map-only up to the presentation sort") {
    assert(shuffles(Relational.q19DeterministicSplit(spark, sf)) <= 1)
  }

  test("q20 stratified sample is map-only and prunes to the two used columns") {
    val df = Relational.q20StratifiedSample(spark, sf)
    assert(shuffles(df) <= 1) // presentation sort only
    // the md5 filter cannot push to parquet, but pruning must: the scan
    // reads doc_id + source, never text
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") && !scan.contains("text"), scan.take(2000))
  }

  test("t04 fingerprint runs inside whole-stage codegen via the native expression") {
    val df = Text.t04Fingerprint(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the `*(k)` marker on the Project proves the scan stage did not
    // fall back to interpreted mode (the HOF formulation did)
    assert("""\*\(\d+\) Project \[.*graft_fingerprint""".r.findFirstIn(plan).isDefined,
      plan.take(2000))
  }

  test("d09 winnow dups: window-capped fingerprint buckets, in-bucket pairs, no self-join") {
    val df = Dedup.d09WinnowDups(spark, sf)
    // bucket window+groupBy (one exchange) + pair-count agg +
    // presentation TakeOrdered; never a fingerprint self-join (two
    // exchanges of the exploded store) or a cartesian
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("t09 boilerplate spans: one span shuffle (window count), no join, no list buffering") {
    val df = Text.t09BoilerplateSpans(spark, sf)
    // span window + per-doc agg + presentation sort — the document
    // frequency rides the SAME span exchange as the rollup (the
    // agg+join formulation exploded the corpus twice)
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("collect_list"), plan.take(2000))
  }

  test("t10 quality buckets: histogram agg + tiny-window thresholds joined broadcast") {
    val df = Text.t10QualityBuckets(spark, sf)
    // quality histogram agg + single-partition threshold window (tiny
    // side) + presentation sort; the corpus-side assignment is a
    // broadcast join, never a corpus-wide total-order window
    assert(shuffles(df) <= 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("t11 corpus vocab: top-k via TakeOrdered, word-count exchange reused for the total") {
    val df = Text.t11CorpusVocab(spark, sf)
    // word-count agg + the tiny single-partition window + presentation
    // sort; the total_count subtree must REUSE the word-count exchange
    // (pinned below), not rescan the corpus
    assert(shuffles(df) <= 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("ReusedExchange"), plan.take(3000))
  }

  test("t14 LM scoring is fused in-scan: no joins, no agg, only the presentation sort") {
    val df = Text.t14LmPerplexity(spark, sf)
    // the native graft_lm_score expression computes each doc's whole
    // profile in-row against the driver-held model: the join
    // formulation's three broadcast joins AND its per-doc aggregation
    // are gone (TextSpec pins the two paths bit-identical) — the only
    // exchange left is the presentation sort. An un-fused regression
    // shows up as a Join/Aggregate node here
    assert(shuffles(df) <= 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
  }

  test("t06 repetition stats: two word-count aggs plus the sort, no join-back") {
    val df = Text.t06RepetitionStats(spark, sf)
    assert(shuffles(df) <= 3)
    // the bigram scalars ride through the explode as agg constants —
    // a Join node would mean the map-only half got computed twice
    assert(!df.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("d06 contamination: per-side aggs + hit join + sort, no doc-pair explosion") {
    val df = Dedup.d06Contamination(spark, sf)
    assert(shuffles(df) <= 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"))
  }

  test("xbrl fact-table build stays within its declared exchange budget") {
    // facts side + contexts side + final sort; publication_time joins by
    // broadcast; dedup agg and pivot reuse the join partitioning. +1
    // slack: with cold cache statistics AQE first plans the contexts
    // join as sort-merge, materializes the small side's shuffle, then
    // converts to broadcast — the leftover exchange still executes and
    // counts (suite-order dependent); the join is broadcast either way.
    val df = XbrlQueries.x02XbrlFactTable(spark, sf)
    val n = shuffles(df)
    assert(n <= 5, s"$n shuffle exchanges\n${df.queryExecution.executedPlan}")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
  }

  /** Count InMemoryTableScan leaves in the final adaptive plan — the
    * "reads the persisted parse, not the archive" witness.
    */
  private def inMemoryScans(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec => 1 + s.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("single-table builds read the ONE persisted parse within the x02 exchange budget") {
    // FactTableBuilder.build is the single-table API (x02): pin two
    // structurally different tables — every build must scan the
    // session-cached parse on both fact and context sides, never
    // re-parse the archive, within the same exchange budget x02 pins.
    val fs = XbrlQueries.sharedParse(spark)
    val schemas = XbrlQueries.tableSchemas
    val picks = Seq(
      schemas.find(_.name == "identification_001_duration").get,
      schemas.filter(_.periodType == "instant").maxBy(t => (t.fields.size, t.name)))
    picks.foreach { t =>
      val df = graft.plans.FactTableBuilder.build(t, fs.facts, fs.contexts, fs.meta)
      assert(shuffles(df) <= 5, t.name)
      assert(inMemoryScans(df) >= 2,
        s"${t.name}: expected facts+contexts to read the persisted parse\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("x05 shape: the grouped store is built in the parse tasks, per-table builds are map-only") {
    // the full-extract path (x05 / XbrlExtract.extract): ONE store,
    // grouped and resolved inside the tasks that parse the filings —
    // no exchange at all — then every one of the 255 tables is a
    // filter-projection over the persisted store with ZERO exchanges
    // of its own. This is the budget that scales: no corpus
    // coordination for the whole datapackage.
    val fs = XbrlQueries.sharedParse(spark)
    val schemas = XbrlQueries.tableSchemas
    // audit the store's own plan UNPERSISTED (persisting hides it
    // inside an InMemoryRelation the walker doesn't enter)
    val storePlan = graft.plans.FactTableBuilder.groupedStore(schemas, Seq(fs))
    assert(shuffles(storePlan) === 0,
      s"${shuffles(storePlan)} exchanges\n${storePlan.queryExecution.executedPlan}")
    assert(inMemoryScans(storePlan) === 1,
      s"expected one scan of the persisted parse\n${storePlan.queryExecution.executedPlan}")
    val store = graft.plans.FactTableBuilder.groupedStore(schemas, Seq(fs)).persist()
    try {
      val picks = Seq(
        schemas.find(_.name == "identification_001_duration").get,
        schemas.filter(_.periodType == "instant").maxBy(t => (t.fields.size, t.name)))
      picks.foreach { t =>
        val df = graft.plans.FactTableBuilder.buildFromStore(t, store)
        assert(shuffles(df) === 0, s"${t.name}: per-table build must be map-only")
        assert(inMemoryScans(df) >= 1, s"${t.name}: must read the persisted store")
      }
    } finally store.unpersist()
  }

  test("t18 entropy is map-only up to the presentation sort") {
    assert(shuffles(Text.t18EntropyStats(spark, sf)) <= 1)
  }

  test("q34 grouping sets: ONE scan expanded, one aggregation — not four passes") {
    val df = Relational.q34GroupingSets(spark, sf)
    // Expand feeds a single map-side-combined hash agg + the
    // presentation sort; four separate groupBys would be four scans
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan.take(2000))
  }

  test("q35 gap islands: distinct + window + both aggs inside two key exchanges") {
    // exchange 1: distinct on (user, day); exchange 2: the user window —
    // whose partitioning then SATISFIES both downstream aggregations
    // (user ⊆ every later grouping key), so they add no exchange;
    // + the presentation sort
    assert(shuffles(Relational.q35GapIslands(spark, sf)) <= 3)
  }

  test("q36 interval merge: one key exchange serves both window frames and the agg") {
    // both frames share the (user | start, id) sort; groupBy
    // (user, merged_id) is satisfied by the window's partitioning;
    // + the presentation sort
    assert(shuffles(Relational.q36IntervalMerge(spark, sf)) <= 2)
  }

  test("q38 IQR outliers: fences broadcast back, classify pass is one mergeable agg") {
    val df = Relational.q38IqrOutliers(spark, sf)
    // q30's quantile machinery (histogram agg + distinct-value window +
    // tiny pivot aggs) + the broadcast fence join + ONE corpus
    // classify agg + the presentation sort; the corpus never shuffles
    // for the classification itself
    assert(shuffles(df) <= 6)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("q39 funnel: all stacked stage windows and the collapse share ONE entity exchange") {
    // three whole-partition windows (no sort) + the per-entity agg all
    // ride a single hash partitioning; + the presentation sort
    assert(shuffles(Relational.q39Funnel(spark, sf)) <= 2)
  }

  test("q40 histogram: bounds broadcast back, one mergeable (group, bin) agg") {
    val df = Relational.q40GroupHistogram(spark, sf)
    // bounds agg + broadcast serve + (group, bin) count agg + sort;
    // raw rows never shuffle for the binning itself
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q41 regression: anchor pass broadcast into the moment pass, corpus never shuffles") {
    val df = Relational.q41GroupRegression(spark, sf)
    assert(shuffles(df) <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q42 unpivot: the reshape is an in-scan Expand, only the presentation sort shuffles") {
    val df = Relational.q42Unpivot(spark, sf)
    assert(shuffles(df) <= 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan.take(2000))
  }

  test("q43 densify: span agg + spine explode + co-partitioned join + one key window") {
    val df = Relational.q43DensifyLocf(spark, sf)
    // daily agg, span agg, the (key, tick) join, the key window, and
    // the presentation sort — observations only ever meet their own
    // key's spine, never a cartesian
    assert(shuffles(df) <= 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("q44 retention: distinct first, sizes from the matrix's own window, no join") {
    val df = Relational.q44CohortRetention(spark, sf)
    // distinct (user, week), the per-user cohort window, the matrix
    // agg, the matrix-sized cohort window, the presentation sort —
    // raw activity rows only cross the first two
    assert(shuffles(df) <= 5)
    // no join node at all: a join formulation would recompute the
    // whole activity chain for its second branch
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("q45 equi-depth: value-histogram agg first; windows run on distinct values only") {
    val df = Relational.q45EquidepthHistogram(spark, sf)
    // (group, value) histogram agg, ONE group exchange shared by both
    // windows, the (group, bucket) agg, and the presentation sort
    assert(shuffles(df) <= 4)
    // the q30 lesson: never an ntile/rank window over raw rows — the
    // window input must be the aggregated histogram
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("q46 compaction: metadata-sized — one group window, one bin agg, the sort") {
    assert(shuffles(Relational.q46CompactionBins(spark, sf)) <= 3)
  }

  test("q47 rolling: daily agg + ONE bounded-range key window + the sort") {
    assert(shuffles(Relational.q47RollingStats(spark, sf)) <= 3)
  }

  test("q48 attribution: one entity window over the filtered scan, never a range join") {
    val df = Relational.q48Attribution(spark, sf)
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
    // the type filter reaches the scan, not a post-window Filter
    assert(plan.contains("Window"), plan.take(2000))
  }

  test("q49 transitions: one entity lead window + one bounded matrix agg + the sort") {
    val df = Relational.q49EventTransitions(spark, sf)
    assert(shuffles(df) <= 3)
    // pairing is the lead window, never a self-join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("q50 count-min: map-side salted explode + one bounded counter agg + the sort") {
    assert(shuffles(Relational.q50CountminState(spark, sf)) <= 2)
  }

  test("d15 template dedup: one aggregation shuffle plus the presentation sort") {
    val df = Dedup.d15TemplateDedup(spark, sf)
    assert(shuffles(df) <= 2)
    // canonicalization must fuse into the scan-side partial agg, not
    // stage separately
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"), plan.take(2000))
  }

  test("s13 hamming: queries broadcast, partial top-k before the window exchange") {
    val df = graft.operators.Similarity.s13AnnHamming(spark, sf)
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q37 weighted sample: rank filter pushed as a partial top-k before the exchange") {
    val df = Relational.q37WeightedSample(spark, sf)
    assert(shuffles(df) <= 2)
    val plan = df.queryExecution.executedPlan.toString
    // WindowGroupLimit = per-partition top-k BEFORE the shuffle: the
    // exchange carries ~k rows per group per input split, not the corpus
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("q30 quantiles: histogram agg + one distinct-value window; targets broadcast") {
    val df = Relational.q30GroupQuantiles(spark, sf)
    // mergeable (group, value) count agg + the distinct-value window +
    // the tiny final agg + presentation sort — the window's input is
    // the HISTOGRAM, never raw rows (the sf10 lesson)
    assert(shuffles(df) <= 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("q29 salted join: equi-join on (key, salt), replication never a cartesian") {
    val df = Relational.q29SaltedSkewJoin(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      plan.take(2000))
  }

  test("s10 SQ8 encode runs codegen'd inside the scan stage") {
    val df = graft.operators.ProductQuantization.sq8Encode(
      Tables.embeddings(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the encode projection sits inside a WholeStageCodegen span
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined, plan.take(2000))
    assert(plan.contains("graft_sq8_encode"), plan.take(2000))
    assert(shuffles(df) === 0)
  }

  test("m05 pHash computes codegen'd inside the scan; the payload never shuffles") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Multimodal.mediaPhash(
      Tables.documents(spark, sf)
        .select(col("doc_id"), org.apache.spark.sql.functions.lit("image/jpeg").as("media_type"),
          col("text").cast("binary").as("payload"))
        .as[graft.operators.Multimodal.MediaRecord](
          org.apache.spark.sql.Encoders.product[graft.operators.Multimodal.MediaRecord]))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the hash projection sits inside a WholeStageCodegen span over the
    // scan — no typed-object decode stage, no shuffle: the payload
    // column dies in the scan and only the 8-byte code leaves
    assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined, plan.take(2000))
    assert(plan.contains("graft_dct_phash"), plan.take(2000))
    assert(!plan.contains("MapPartitions"), plan.take(2000))
    assert(shuffles(df) === 0)
  }

  test("t23 BM25: bounded corpus scans, tf exchange reused, every join broadcast") {
    val df = graft.operators.Text.t23Bm25(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the one-shot batch form re-derives dl/df/contrib from the tf
    // aggregate: Catalyst shares the tf exchange where subtrees match
    // (ReusedExchange) and the corpus scan count stays bounded at 3 —
    // the 100 TB form is bm25TfStates -> parquet -> bm25FromTf (ONE
    // corpus scan ever, then index-sized scans), proven equivalent in
    // StreamingSpec's bit-equality pin
    assert("Scan parquet".r.findAllIn(plan).size <= 3, plan.take(3000))
    assert(plan.contains("ReusedExchange"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(3000))
  }

  test("d19 near-dup corpus emitter: corpus-side joins broadcast, survivor election on the small side, no cartesian") {
    val df = graft.operators.Dedup.d19NearDupCorpus(spark, sf)
    // the composition's own cost beyond the shared d02 pair build +
    // d07 cluster loop: ONE survivor-election agg on the cluster-sized
    // frame plus the presentation sort — the corpus-side anti/left
    // joins broadcast (the cluster frame is pair-bounded), so the
    // corpus itself never shuffles. The budget covers the cached pair
    // build's exchanges; the emitter must not add corpus shuffles on
    // top (a sort-merge formulation here would roughly double it)
    val n = shuffles(df)
    assert(n <= 12, s"d19 executed $n shuffles")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(3000))
    // both corpus-side joins (drop-removed, survivor metadata) run as
    // broadcast joins against the pair-bounded small side
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("d18 substring dedup: keep-first is a mergeable agg, no cartesian, bounded shuffle budget") {
    val df = graft.operators.Dedup.d18SubstringDedup(spark, sf)
    assert(shuffles(df) <= 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(3000))
    // the gram hash is computed in-scan (transform over slices inside
    // the scan projection), never a per-row UDF stage
    assert(!plan.contains("BatchEvalPython") && !plan.contains("MapPartitions"),
      plan.take(2000))
  }

  test("q72 bottom-k: ONE corpus scan, partial sketch aggs map-side, bounded shuffle budget, never a join") {
    val df = graft.operators.BottomKSample.q72BottomkSample(spark, sf)
    // one grouped (type, unit) state agg + compact + serve +
    // presentation sort — every shuffle carries <= k (hash, key) pairs
    // per group, never raw keys
    assert(shuffles(df) <= 4)
    val plan = df.queryExecution.executedPlan.toString
    // the r13 gate simulated five ingest batches as five filtered scans
    // (charging the bench ~5x one scan); the one-pass grouped form reads
    // the corpus ONCE — BottomKSpec pins it row-identical to the
    // five-batch fold
    assert(parquetScans(df) === 1, plan.take(3000))
    // the mergeable claim made physical: the TypedImperativeAggregate
    // runs a PARTIAL pass before its exchange (map-side combine), so
    // the shuffle payload is bounded sketch state
    assert(plan.contains("partial_graft_bk_agg"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("q74 weighted reservoir: ONE corpus scan, partial sketch aggs map-side, bounded shuffle budget, never a join") {
    val df = graft.operators.ReservoirSample.q74ReservoirSample(spark, sf)
    // one grouped (source, unit) state agg + compact + serve +
    // presentation sort — every shuffle carries <= k (wkey, id, weight)
    // entries per group, never raw rows
    assert(shuffles(df) <= 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(parquetScans(df) === 1, plan.take(3000))
    assert(plan.contains("partial_graft_wr_agg"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("q73 corpus overlap: the corpora are never joined — one state agg, then a broadcast self-join of the tiny state frame") {
    val df = graft.operators.BottomKSample.q73CorpusOverlap(spark, sf)
    // state agg + compact + presentation sort; the pairwise comparison
    // rides a broadcast of the per-group state rows
    assert(shuffles(df) <= 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("LSH geometry sizing: building the s08 + d08 plans costs at most one counting job") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a FRESH dir path (symlinked testdata) so this test observes the
    // first-touch behavior even if other specs already warmed the
    // shared session's count cache for the real sf dir
    val tmp = Files.createTempDirectory("graft_lsh_sizing").toFile
    Files.createSymbolicLink(
      Paths.get(tmp.getPath, "embeddings.parquet"),
      Paths.get(sf, "embeddings.parquet"))
    val sizingInvocations = new java.util.concurrent.ConcurrentSkipListSet[String]()
    val strayCounts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        val names = js.stageInfos.map(_.name).mkString("; ")
        if (group == "graft_shared_count")
          // one sizing invocation = one description; its parquet-infer
          // and AQE stage jobs all share it
          sizingInvocations.add(Option(js.properties)
            .map(_.getProperty("spark.job.description")).getOrElse(""))
        // any full-scan count OUTSIDE the shared cache is a regression
        // back to per-operator sizing scans
        else if (names.contains("count at")) strayCounts.add(names)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // plan BUILD only — no action on the returned frames
      val s08 = graft.operators.Similarity.s08KnnJoin(spark, tmp.getPath)
      val d08 = Dedup.d08EmbeddingLsh(spark, tmp.getPath)
      assert(s08 != null && d08 != null)
      // job-start events post asynchronously; wait for the stream to
      // go quiet before reading the counter
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 5 && waited < 100) {
        Thread.sleep(100); waited += 1
        val now = sizingInvocations.size() + strayCounts.size()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      // r9 paid one full-scan count() per gate; the shared
      // per-(session, dir) count bounds plan building to ONE sizing
      // invocation (its parquet-infer + AQE stage jobs share one
      // description)
      assert(sizingInvocations.size() === 1,
        s"expected exactly one shared sizing count, saw: $sizingInvocations")
      assert(strayCounts.isEmpty,
        s"plan build ran count() outside the shared cache:\n" +
          strayCounts.toArray.mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }
}
