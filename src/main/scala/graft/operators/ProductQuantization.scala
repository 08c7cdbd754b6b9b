package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{CosineSimilarity, L2Squared, PqAdc, PqEncode, Sq8Dot, Sq8Encode}

/** Product-quantization ANN (SURVEY.md §2.4, s05) — the memory-bound
  * scale path the IVF/LSH variants don't cover: the corpus is stored as
  * `m` small integer codes per vector (8 codes vs 64 floats = 32x less
  * scan data), queries scan the CODES with an asymmetric-distance
  * lookup table (`graft_pq_adc`, m array reads per row), shortlist the
  * closest reconstructions, and only the shortlist rows are rescored
  * against the original floats. At 100 TB the float embeddings are read
  * twice-never: once at encode time (an offline index build) and once
  * for the tiny shortlist join-back; every query scan touches only the
  * compact code table.
  *
  * Cosine queries are served by unit-normalizing vectors before
  * training/encoding (cosine ordering == squared-L2 ordering on the
  * unit sphere, exactly), so the ADC score — the EXACT squared L2
  * between the query and the row's reconstruction — is an unbiased
  * shortlist key; the final cosines are exact (graft_cosine on the
  * original vectors), so returned scores match the brute-force baseline
  * bit-for-bit on the pairs both return.
  *
  * Codebook training is per-subspace Lloyd (k-means), the same
  * DataFrame shape as [[Similarity.trainIvfCodebook]]: hash-sampled
  * init (order-bias-free), broadcast centroid assignment (map-only over
  * the big side), one row per (vector, subspace) through the shuffle,
  * checkpoint-released rounds. Empty cells keep their previous centroid
  * so the codebook never shrinks.
  */
object ProductQuantization {

  private val M = 8
  private val KCodes = 16
  private val Shortlist = 64
  // top-k / query-set / IVF geometry shared with the s01-s04 gates so
  // the cross-gate recall comparisons in SimilaritySpec compare
  // identically-configured indexes
  private def K = Similarity.K
  private def NumQueries = Similarity.NumQueries

  /** Split a vector column into `m` contiguous subvectors. Explicit
    * integer division: a dimension not divisible by `m` produces
    * truncated subDim slices here, null codes from `graft_pq_encode`,
    * and (via nulls-last shortlists) an empty result — a visible
    * failure, never silent garbage neighbors.
    */
  private def subVectors(vecCol: Column, m: Int): Column = {
    val subDim = (size(vecCol) / lit(m)).cast("int")
    transform(sequence(lit(0), lit(m - 1)), i => slice(vecCol, i * subDim + 1, subDim))
  }

  /** In-plan geometry validation, FREE in the scan: every code array's
    * length IS the codebook's m (the encode expression reads `cb_m`
    * from the flat-codebook broadcast row, so the store cannot desync
    * from the codebook it was encoded against) — an m mismatch between
    * index and query therefore fails AT FIRST MATERIALIZATION with both
    * geometries in the message. Query construction stays lazy: no
    * extra driver job (the r7 `codebookM` ran an eager `.head()` here)
    * and no extra exchange (an earlier cb_m-agg guard cost one
    * single-row shuffle per pruned LUT branch). NULL codes pass
    * through unguarded on purpose: they mean inconsistent encode
    * geometry (dim not divisible by m, empty codebook), whose pinned
    * contract is an EMPTY result via the nulls-excluded shortlist.
    */
  private def guardedAdc(s: SparkSession, codes: Column, lut: Column, m: Int): Column =
    when(codes.isNull, lit(null).cast("double"))
      .when(size(codes) === lit(m), PqAdc.adc(s, codes, lut))
      .otherwise(raise_error(concat(
        lit("PQ codebook was trained with m="), size(codes).cast("string"),
        lit(s" but the query was built with m=$m"))))

  /** (vec_id, embedding original, unit) from any embeddings frame.
    * `unit` is the native fused `graft_unit` (zero vectors pass through
    * unchanged; one codegen'd loop per row — a `transform` lambda
    * re-evaluated its norm subtree per ELEMENT). `normalize = false`
    * passes the raw vector through as `unit` — the residual-PQ path
    * (s06) quantizes residuals, which live in the already-normalized
    * space and must NOT be re-normalized.
    */
  private def withUnit(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      normalize: Boolean = true): DataFrame = {
    val v = Cols.q(vecCol)
    emb.select(Cols.q(idCol).as("vec_id"), v.as("embedding"),
      (if (normalize) graft.functions.UnitVector.unit(emb.sparkSession, v) else v).as("unit"))
  }

  /** Public helper: (vec_id, embedding) with each vector unit-length —
    * the space every PQ/IVF-PQ artifact lives in. Train the coarse
    * quantizer for [[annIvfPq]] on THIS frame (the s06 gate does) so
    * cell centroids and residuals share the unit space.
    */
  def unitVectors(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    withUnit(emb, idCol, vecCol).select(col("vec_id"), col("unit").as("embedding"))

  /** One-row (sub, cell)-major flattened codebook for broadcast into
    * the encode scan (the layout `graft_pq_encode`/`graft_pq_adc`
    * index into).
    */
  private def flatCodebook(codebook: DataFrame): DataFrame =
    codebook.agg(
      flatten(
        array_sort(collect_list(struct(col("sub"), col("cell"), col("centroid"))))
          .getField("centroid")).as("cb"),
      // m derived from the codebook itself: the encode scan reads it
      // from this row, so encode geometry cannot desync from the
      // codebook it scans against
      (max(col("sub")) + 1).as("cb_m"))

  /** Train a per-subspace PQ codebook: (sub, cell, centroid) with
    * `kCodes` centroids per subspace, Lloyd-refined for `iterations`
    * rounds over the unit-normalized corpus. Scale shape per round:
    * assignment is a broadcast join of the (vector, subspace) rows
    * against the m*kCodes-row codebook with a map-side-partial min —
    * one row per (vector, subspace) through the shuffle; the centroid
    * mean is a (sub, cell, dimension) aggregation whose partials
    * compress the explode per partition. `localCheckpoint` truncates
    * the iterative lineage and each superseded generation is released
    * once its successor materializes ([[IterativeCheckpoint]]).
    */
  def trainPqCodebook(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", m: Int = M, kCodes: Int = KCodes,
      iterations: Int = 2, normalize: Boolean = true): DataFrame = {
    val s = emb.sparkSession
    val subs = withUnit(emb, idCol, vecCol, normalize)
      .select(col("vec_id"), posexplode(subVectors(col("unit"), m)).as(Seq("sub", "subvec")))
    // hash-ordered sample per subspace: same order-bias-free rule as
    // Similarity.ivfSeeds, applied within each subspace partition
    val w = Window.partitionBy("sub").orderBy(xxhash64(col("vec_id")), col("vec_id"))
    var cb = subs.withColumn("rn", row_number().over(w)).filter(col("rn") <= kCodes)
      .select(col("sub"), (col("rn") - 1).as("cell"), col("subvec").as("centroid"))
    var prevGen: Option[IterativeCheckpoint.Generation] = None
    for (_ <- 1 to iterations) {
      // nearest centroid per (vector, subspace): struct min is
      // lexicographic on (distance, cell) — deterministic tie-break
      val assigned = subs.join(broadcast(cb), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("subvec"),
          struct(L2Squared.l2sq(s, col("subvec"), col("centroid")).as("d"),
            col("cell").as("cell")).as("dc"))
        .groupBy("vec_id", "sub")
        .agg(min(col("dc")).getField("cell").as("cell"),
          any_value(col("subvec")).as("subvec"))
      val meansGen = IterativeCheckpoint(assigned
        .select(col("sub"), col("cell"), posexplode(col("subvec")).as(Seq("pos", "v")))
        .groupBy("sub", "cell", "pos").agg(avg(col("v")).as("mv"))
        .groupBy("sub", "cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).getField("mv")
          .cast("array<float>").as("centroid")))
      // cells that lost every member keep their previous centroid
      val cbGen = IterativeCheckpoint(meansGen.df.unionByName(
        cb.join(meansGen.df.select("sub", "cell"), Seq("sub", "cell"), "left_anti")))
      meansGen.release()
      prevGen.foreach(_.release())
      prevGen = Some(cbGen)
      cb = cbGen.df
    }
    cb
  }

  /** Encode a corpus against a trained codebook: (vec_id, codes) with
    * `codes` the `m` per-subspace cell assignments. The codebook is
    * flattened to one (sub, cell)-major float array on a one-row frame
    * and broadcast — the encode itself is map-only inside the scan
    * (native `graft_pq_encode`), no shuffle of the corpus.
    */
  def pqEncode(emb: DataFrame, codebook: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", normalize: Boolean = true): DataFrame = {
    val s = emb.sparkSession
    withUnit(emb, idCol, vecCol, normalize)
      .crossJoin(broadcast(flatCodebook(codebook)))
      .select(col("vec_id"),
        PqEncode.encode(s, col("unit"), col("cb"), col("cb_m")).as("codes"))
  }

  /** ADC lookup tables, one per `keys` group of the query frame `q`
    * (vec_id for s05; vec_id x probed cell for s06): (keys, q_emb
    * original, lut) with lut[s*kCodes + c] = |vec_sub_s - centroid(s,
    * c)|^2, so the ADC sum over a row's codes is the exact squared L2
    * between `vec` and that row's reconstruction. keys x m x kCodes
    * rows — tiny, built against the broadcast codebook.
    */
  private def queryLuts(q: DataFrame, keys: Seq[String], vec: Column, codebook: DataFrame,
      m: Int): DataFrame = {
    val s = q.sparkSession
    val k = keys.map(col)
    q.select(k ++ Seq(col("embedding"), posexplode(subVectors(vec, m)).as(Seq("sub", "qsub"))): _*)
      .join(broadcast(codebook.select(col("sub"), col("cell").as("code"),
        col("centroid").as("pq_centroid"))), Seq("sub"))
      .select(k ++ Seq(col("embedding"), col("sub"), col("code"),
        L2Squared.l2sq(s, col("qsub"), col("pq_centroid")).as("d")): _*)
      .groupBy(k: _*)
      .agg(any_value(col("embedding")).as("q_emb"),
        array_sort(collect_list(struct(col("sub"), col("code"), col("d"))))
          .getField("d").cast("array<float>").as("lut"))
  }

  /** Shortlist -> exact rescore: the `shortlist` lowest approximate
    * distances `adist` per query, then the tiny broadcast shortlist
    * joins back to the float corpus and `graft_cosine` scores the
    * originals against `queryEmb` (vec_id, q_emb) for the final top-k.
    */
  private def rescore(corpus: DataFrame, cand: DataFrame, queryEmb: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val s = corpus.sparkSession
    // a null ADC distance (inconsistent geometry, e.g. dim not
    // divisible by m) must never enter the shortlist: with every
    // distance null the result is EMPTY — a visible failure — instead
    // of an arbitrary subset rescored into plausible-looking neighbors
    val short = Similarity.ranked(cand.filter(col("adist").isNotNull), "adist",
      ascending = true, shortlist).select(col("q_id"), col("n_id"))
    Similarity.topK(corpus
      .join(broadcast(short), col("vec_id") === col("n_id"))
      .join(broadcast(queryEmb.select(col("vec_id").as("qid2"), col("q_emb"))),
        col("q_id") === col("qid2"))
      .select(col("q_id"), col("n_id"),
        CosineSimilarity.cosine(s, col("q_emb"), col("embedding")).as("cosine")), k)
  }

  /** Guarded ADC distance of a candidate pair: the corpus row's codes
    * against the query's LUT. */
  private def pairAdc(s: SparkSession, m: Int): Column =
    guardedAdc(s, col("b.codes"), col("a.lut"), m).as("adist")

  /** ADC scan -> shortlist -> exact rescore. The scan streams the CODE
    * table once per query batch (broadcast LUTs, m lookups per row).
    */
  private def pqTopK(corpus: DataFrame, encoded: DataFrame, q: DataFrame,
      codebook: DataFrame, m: Int, k: Int, shortlist: Int): DataFrame = {
    val luts = queryLuts(q, Seq("vec_id"), col("unit"), codebook, m)
    rescore(corpus, Similarity.candidates(luts, encoded, Nil, pairAdc(corpus.sparkSession, m)),
      luts, k, shortlist)
  }

  /** Library form: PQ ANN over any embeddings frame with a trained
    * codebook ([[trainPqCodebook]] output or any (sub, cell, centroid)
    * frame of the same geometry). Encodes the corpus in this
    * invocation; long-lived callers should persist [[pqEncode]]'s
    * output once and query it many times (the s05 gate form does, via
    * the session index cache).
    */
  def annPq(emb: DataFrame, queries: DataFrame, codebook: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding", k: Int = K,
      shortlist: Int = Shortlist, m: Int = M): DataFrame =
    pqTopK(Similarity.normalized(emb, idCol, vecCol), pqEncode(emb, codebook, idCol, vecCol),
      withUnit(queries, idCol, vecCol), codebook, m, k, shortlist)

  /** s05: gate binding — codebook trained (2 Lloyd rounds) and corpus
    * encoded once per session (SharedIndex), queries vec_id < 10.
    * rows-only oracle (learned centroids are engine-local floats);
    * SimilaritySpec measures recall vs exact s01 and pins the planted
    * identical-vector case (codes equal -> ADC 0 -> always found).
    */
  def s05AnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val codebook = SharedIndex(s, dir, "pq_codebook") {
      trainPqCodebook(e)
    }
    val encoded = SharedIndex(s, dir, "pq_codes") {
      pqEncode(e, codebook)
    }
    pqTopK(Similarity.normalized(e, "vec_id", "embedding"), encoded,
      withUnit(e.filter(col("vec_id") < NumQueries)), codebook, M, K, Shortlist)
  }

  // ----- IVF-PQ (s06): coarse cells + PQ-encoded residuals -----
  // (cell geometry shared with the s03/s04 gates — see K above)

  private def NumCells = Similarity.NumCells
  private def NumProbes = Similarity.NumProbes
  private def AssignReplicas = Similarity.AssignReplicas

  /** residual = vec - centroid, element-wise (build/query-time only —
    * the hot scan reads pre-encoded codes, never residual floats).
    */
  private def residualOf(vec: Column, centroid: Column): Column =
    zip_with(vec, centroid, (x, y) => x - y).cast("array<float>")

  /** Train the residual PQ codebook for an IVF-PQ index: assign the
    * unit corpus to its nearest coarse cell, subtract that centroid,
    * and Lloyd-train per-subspace codes on the residuals
    * (`normalize = false` — residuals live in the already-unit space).
    * Residuals are far more concentrated than raw vectors (the coarse
    * quantizer has removed the cell mean), which is why IVF-PQ recovers
    * precision plain PQ loses at the same code budget.
    */
  def trainIvfPqCodebook(emb: DataFrame, coarse: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding", m: Int = M,
      kCodes: Int = KCodes, iterations: Int = 2): DataFrame = {
    val assigned = Similarity.assignCells(unitVectors(emb, idCol, vecCol), coarse, replicas = 1)
    trainPqCodebook(
      assigned.join(broadcast(coarse), Seq("cell"))
        .select(col("vec_id"), residualOf(col("embedding"), col("centroid")).as("residual")),
      vecCol = "residual", m = m, kCodes = kCodes, iterations = iterations,
      normalize = false)
  }

  /** Build the IVF-PQ store: (vec_id, cell, codes) — each vector lives
    * in its `replicas` nearest coarse cells (multi-assignment, the same
    * recall lever as s03: each copy encodes ITS OWN residual vs that
    * cell's centroid), with the residual PQ-encoded to m codes. The
    * per-cell code lists are the only thing a query scan touches.
    */
  def ivfPqEncode(emb: DataFrame, coarse: DataFrame, pqCodebook: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      replicas: Int = AssignReplicas): DataFrame = {
    val s = emb.sparkSession
    Similarity.assignCells(unitVectors(emb, idCol, vecCol), coarse, replicas)
      .join(broadcast(coarse), Seq("cell"))
      .crossJoin(broadcast(flatCodebook(pqCodebook)))
      .select(col("vec_id"), col("cell"),
        PqEncode.encode(s, residualOf(col("embedding"), col("centroid")),
          col("cb"), col("cb_m")).as("codes"))
  }

  /** IVF-PQ ANN — the standard billion-scale index architecture,
    * composed Spark-first from the coarse quantizer (s03/s04 machinery)
    * and PQ (s05 machinery): a query probes its `numProbes` nearest
    * coarse cells, builds one ADC lookup table PER PROBED CELL from its
    * residual against that cell's centroid, and equi-joins the
    * (cell, lut) pairs against the code store — so the scan touches
    * only the probed cells' codes (cell-equi, skew-bounded like s03),
    * never the whole corpus, and reads m bytes-ish per vector, never
    * floats. Pairs met in several probed cells keep their lowest ADC
    * distance (map-side-partial min); shortlist then exact rescore as
    * in s05.
    */
  def annIvfPq(emb: DataFrame, queries: DataFrame, coarse: DataFrame,
      pqCodebook: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = K, numProbes: Int = NumProbes, shortlist: Int = Shortlist,
      m: Int = M): DataFrame =
    ivfPqTopK(Similarity.normalized(emb, idCol, vecCol),
      ivfPqEncode(emb, coarse, pqCodebook, idCol, vecCol),
      withUnit(queries, idCol, vecCol), coarse, pqCodebook, k, numProbes, shortlist, m)

  private def ivfPqTopK(corpus: DataFrame, encoded: DataFrame, q: DataFrame,
      coarse: DataFrame, pqCodebook: DataFrame, k: Int, numProbes: Int,
      shortlist: Int, m: Int): DataFrame = {
    // one LUT per (query, probed cell): the query's residual vs that
    // cell's centroid, against the residual PQ codebook
    val luts = queryLuts(Similarity.probeCells(q, coarse, numProbes, "unit"),
      Seq("vec_id", "cell"), residualOf(col("unit"), col("centroid")), pqCodebook, m)
    val cand = Similarity.candidates(luts, encoded, Seq("cell"), pairAdc(corpus.sparkSession, m))
    rescore(corpus, Similarity.best(cand, "adist", ascending = true),
      luts.groupBy("vec_id").agg(any_value(col("q_emb")).as("q_emb")), k, shortlist)
  }

  /** The s06/s11 coarse codebook: Lloyd-trained on the unit corpus,
    * session-cached once for both gates. */
  private def sharedCoarse(s: SparkSession, dir: String, e: DataFrame): DataFrame =
    SharedIndex(s, dir, "ivfpq_coarse") {
      Similarity.trainIvfCodebook(unitVectors(e), numCells = NumCells)
    }

  /** s06: gate binding of the IVF-PQ path — coarse codebook Lloyd-
    * trained on the unit corpus, residual PQ codebook and code store
    * session-cached, queries vec_id < 10. rows-only oracle (both
    * codebooks are engine-local floats); SimilaritySpec holds recall vs
    * exact s01 and the exact-cosine rescore.
    */
  def s06AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val coarse = sharedCoarse(s, dir, e)
    val pqCb = SharedIndex(s, dir, "ivfpq_codebook") {
      trainIvfPqCodebook(e, coarse)
    }
    val encoded = SharedIndex(s, dir, "ivfpq_codes") {
      ivfPqEncode(e, coarse, pqCb)
    }
    ivfPqTopK(Similarity.normalized(e, "vec_id", "embedding"), encoded,
      withUnit(e.filter(col("vec_id") < NumQueries)), coarse, pqCb, K, NumProbes, Shortlist, M)
  }

  // ----- SQ8 (s10): symmetric int8 scalar quantization -----

  /** SQ8-encode any embeddings frame: `(vec_id, codes BINARY)`, one
    * byte per dimension — `round(unit_i * 127)`. No training pass at
    * all (contrast [[trainPqCodebook]]'s Lloyd rounds): unit
    * normalization bounds every component in [-1, 1], so the scale is
    * the constant 127. The 4x-smaller code store is the scan the hot
    * ANN pass streams; encode is map-only in the scan projection.
    */
  def sq8Encode(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    withUnit(emb, idCol, vecCol)
      .select(col("vec_id"), Sq8Encode.encode(emb.sparkSession, col("unit")).as("codes"))

  /** Asymmetric SQ8 scan -> shortlist -> exact rescore: codes stay
    * int8, queries stay float (`graft_sq8_dot`), the top `shortlist`
    * approximate matches per query rescore against the float corpus
    * with exact cosine. Max per-pair quantization error is bounded by
    * Cauchy-Schwarz at sqrt(dim)/254 (~0.03 at dim 64), which the
    * rescore then erases for everything it shortlists — the standard
    * SQ recipe (e.g. FAISS's SQ8 index family).
    */
  private def sq8TopK(corpus: DataFrame, encoded: DataFrame, q: DataFrame,
      k: Int, shortlist: Int): DataFrame =
    rescore(corpus, Similarity.candidates(q, encoded, Nil, pairSq8(corpus.sparkSession)),
      q.select(col("vec_id"), col("embedding").as("q_emb")), k, shortlist)

  /** Approximate SQ8 distance of a candidate pair: the negated int8 dot
    * of the corpus codes with the float query unit vector (rescore ranks
    * an ascending distance). */
  private def pairSq8(s: SparkSession): Column =
    (-Sq8Dot.dot(s, col("b.codes"), col("a.unit"))).as("adist")

  /** Library form: SQ8 ANN over any embeddings frame. Encodes the
    * corpus in this invocation; long-lived callers persist
    * [[sq8Encode]]'s output once (the s10 gate form does, via the
    * session index cache).
    */
  def annSq8(emb: DataFrame, queries: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = K,
      shortlist: Int = Shortlist): DataFrame =
    sq8TopK(Similarity.normalized(emb, idCol, vecCol),
      sq8Encode(emb, idCol, vecCol),
      withUnit(queries, idCol, vecCol), k, shortlist)

  /** s10: gate binding — corpus SQ8-encoded once per session
    * (SharedIndex), queries vec_id < 10. rows-only oracle (the int8
    * rounding is engine-local); SimilaritySpec holds recall vs exact
    * s01, the quantization-error bound, and the 1-byte-per-dimension
    * code size.
    */
  def s10AnnSq8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val encoded = SharedIndex(s, dir, "sq8_codes") {
      sq8Encode(e)
    }
    sq8TopK(Similarity.normalized(e, "vec_id", "embedding"), encoded,
      withUnit(e.filter(col("vec_id") < NumQueries)), K, Shortlist)
  }

  // ----- IVF-SQ8 (s11): coarse cells + int8 codes -----

  /** IVF-SQ8 code store: unit corpus multi-assigned to coarse cells
    * (the s03/s06 assignment), each copy carrying its GLOBAL-scale SQ8
    * bytes — no residual, no LUT, nothing trained beyond the coarse
    * codebook (SQ8's fixed unit-sphere scale, see [[sq8Encode]]).
    * `(cell, vec_id, codes)`; the hot scan reads one byte per
    * dimension in probed cells only.
    */
  def ivfSq8Encode(emb: DataFrame, coarse: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      replicas: Int = AssignReplicas): DataFrame =
    Similarity.assignCells(unitVectors(emb, idCol, vecCol), coarse, replicas)
      .select(col("vec_id"), col("cell"),
        Sq8Encode.encode(emb.sparkSession, col("embedding")).as("codes"))

  /** Probed-cell SQ8 scan -> shortlist -> exact rescore: queries keep
    * full float precision against the int8 cell stores (asymmetric),
    * so the only approximations are the cell pruning (recall-bounded
    * by numProbes, the s03 story) and the sqrt(dim)/254 quantization
    * error (erased by the rescore, the s10 story). Combines the two
    * independent scan reductions: touch only probed cells AND read 4x
    * fewer bytes per touched row.
    */
  private def ivfSq8TopK(corpus: DataFrame, encoded: DataFrame, q: DataFrame,
      coarse: DataFrame, k: Int, numProbes: Int, shortlist: Int): DataFrame = {
    val probed = Similarity.probeCells(q, coarse, numProbes, "unit")
    // multi-assignment: a pair met in several probed cells scores
    // identically (global-scale codes) — best dedups
    val cand = Similarity.candidates(probed, encoded, Seq("cell"), pairSq8(corpus.sparkSession))
    rescore(corpus, Similarity.best(cand, "adist", ascending = true),
      probed.groupBy("vec_id").agg(any_value(col("embedding")).as("q_emb")), k, shortlist)
  }

  /** Library form: IVF-SQ8 ANN with a caller-trained coarse codebook
    * ([[Similarity.trainIvfCodebook]] output). */
  def annIvfSq8(emb: DataFrame, queries: DataFrame, coarse: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding", k: Int = K,
      numProbes: Int = NumProbes, shortlist: Int = Shortlist): DataFrame =
    ivfSq8TopK(Similarity.normalized(emb, idCol, vecCol),
      ivfSq8Encode(emb, coarse, idCol, vecCol),
      withUnit(queries, idCol, vecCol), coarse, k, numProbes, shortlist)

  /** s11: gate binding — SHARES s06's session-cached coarse codebook
    * (same geometry, trained once per session) plus its own cached SQ8
    * cell store; queries vec_id < 10. rows-only oracle; SimilaritySpec
    * holds recall vs exact s01 and the exact-cosine rescore.
    */
  def s11AnnIvfSq8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val coarse = sharedCoarse(s, dir, e)
    val encoded = SharedIndex(s, dir, "ivfsq8_codes") {
      ivfSq8Encode(e, coarse)
    }
    ivfSq8TopK(Similarity.normalized(e, "vec_id", "embedding"), encoded,
      withUnit(e.filter(col("vec_id") < NumQueries)), coarse, K, NumProbes, Shortlist)
  }
}
