package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{CosineSimilarity, HyperplaneBuckets}

/** Approximate-nearest-neighbor search (SURVEY.md §2.4).
  *
  * Each variant has a LIBRARY form taking any embeddings frame plus a
  * (small) queries frame of the same shape (`annBruteforce`, `annLsh`,
  * `annIvf` — input columns selectable by name, ids normalized to
  * `vec_id`) and a gate form (`s0x...`) binding it to the standard
  * `embeddings` table with queries `vec_id < 10` and the per-session
  * shared index cache.
  *
  * s01 is the exact baseline (broadcast the queries, never cross-join
  * two big sides). s02 (random-hyperplane LSH) and s03 (IVF
  * coarse-quantizer cells) are the scale paths: each query only scores
  * its buckets'/cells' candidates. Pair scoring uses the native
  * codegen'd `graft_cosine` expression (functions/CosineSimilarity.scala).
  * Every top-k variant (and ProductQuantization's) is one pipeline of
  * plain functions — [[candidates]] -> [[best]] -> [[ranked]] — that
  * differs per variant only in its join keys and score column.
  */
object Similarity {

  private[operators] val K = 10
  private[operators] val NumQueries = 10

  private[operators] def normalized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(Cols.q(idCol).as("vec_id"), Cols.q(vecCol).as("embedding"))

  // ----- the shared top-k pipeline: candidates -> best -> ranked -----
  // Every ANN top-k here and in ProductQuantization (which adds the
  // shortlist rescore) composes these functions; a path differs only in
  // its join keys and its score column.

  /** Candidate pairs (q_id, n_id, score): the broadcast `queries` side
    * equi-joined to `corpus` on `keys` (no keys = every pair), never a
    * row with itself. `score` reads the query side as `a`, the corpus
    * side as `b`.
    */
  private[operators] def candidates(queries: DataFrame, corpus: DataFrame,
      keys: Seq[String], score: Column): DataFrame =
    broadcast(queries.as("a"))
      .join(corpus.as("b"), (keys.map(k => col(s"a.$k") === col(s"b.$k")) :+
        (col("a.vec_id") =!= col("b.vec_id"))).reduce(_ && _))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"), score)

  /** One score per (q_id, n_id) where a pair can meet more than once
    * (LSH tables, multi-assigned IVF cells, Hamming chunks): the
    * best-ranked one — min for a distance (`ascending`), max for a
    * similarity — through a map-side-partial aggregate.
    */
  private[operators] def best(cand: DataFrame, score: String, ascending: Boolean): DataFrame =
    cand.groupBy("q_id", "n_id")
      .agg((if (ascending) min(col(score)) else max(col(score))).as(score))

  /** Per-query cut at `n`: `rank` = row_number over q_id by (score,
    * n_id), so ties break on n_id; the rank filter is pushed into the
    * shuffle as a WindowGroupLimit partial top-n.
    */
  private[operators] def ranked(cand: DataFrame, score: String, ascending: Boolean,
      n: Int): DataFrame = {
    val w = Window.partitionBy("q_id")
      .orderBy(if (ascending) col(score).asc else col(score).desc, col("n_id").asc)
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= n)
  }

  /** Final per-query top-k by exact cosine: (q_id, rank, n_id, cosine
    * rounded to 6 places), ordered by q_id, rank.
    */
  private[operators] def topK(cand: DataFrame, k: Int): DataFrame =
    ranked(cand, "cosine", ascending = false, k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy("q_id", "rank")

  /** Exact cosine of a candidate pair's embeddings. */
  private def pairCosine(s: SparkSession): Column =
    CosineSimilarity.cosine(s, col("a.embedding"), col("b.embedding")).as("cosine")

  /** Each query's `numProbes` nearest cells of `coarse` (cell, centroid)
    * by the cosine of its `vec` column, ties to the lower cell: the
    * query's columns plus (cell, centroid). Tiny: queries x cells.
    */
  private[operators] def probeCells(queries: DataFrame, coarse: DataFrame, numProbes: Int,
      vec: String = "embedding"): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("__c").desc, col("cell").asc)
    queries.crossJoin(broadcast(coarse.select("cell", "centroid")))
      .withColumn("__c", CosineSimilarity.cosine(queries.sparkSession, col(vec), col("centroid")))
      .withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= numProbes)
      .drop("__c", "__pr")
  }

  /** Brute-force cosine top-k over any embeddings frame: the query side
    * is broadcast; the corpus side streams through the fused codegen'd
    * cosine. One shuffle for the per-query window. Exact — the
    * correctness baseline the approximate variants are measured against.
    */
  def annBruteforce(emb: DataFrame, queries: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = K): DataFrame =
    topK(candidates(normalized(queries, idCol, vecCol), normalized(emb, idCol, vecCol), Nil,
      pairCosine(emb.sparkSession)), k)

  /** s01: gate binding of [[annBruteforce]] with queries vec_id < 10. */
  def s01AnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    annBruteforce(e, e.filter(col("vec_id") < NumQueries))
  }

  /** (vec_id, embedding, tbl, bucket) store: all hyperplane-LSH bucket
    * ids per vector in one codegen'd pass (see HyperplaneBuckets).
    * Neighbor search (s02) keeps the coarse 8x4 default; near-dup
    * blocking ([[Dedup.embeddingLshPairs]]) passes a finer config —
    * bucket granularity is the knob that scales each use case.
    */
  private[operators] def lshBucketed(e: DataFrame,
      numTables: Int = HyperplaneBuckets.NumTables,
      planesPerTable: Int = HyperplaneBuckets.PlanesPerTable): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      posexplode(HyperplaneBuckets.buckets(e.sparkSession, col("embedding"),
        numTables, planesPerTable)).as(Seq("tbl", "bucket")))

  /** Candidates share a bucket in any table; `best` dedups across tables. */
  private def lshTopK(bucketed: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(best(candidates(queries, bucketed, Seq("tbl", "bucket"),
      pairCosine(bucketed.sparkSession)), "cosine", ascending = false), k)

  /** Random-hyperplane LSH ANN over any embeddings frame (library form;
    * the caller may persist the input — the corpus is bucketed once per
    * invocation here, or use the s02 gate form for the session-cached
    * standard table). Bucketing is one native codegen'd expression
    * computing all [[HyperplaneBuckets.NumTables]] bucket ids in a
    * single fused loop over the embedding — map-only inside the scan,
    * so the pass stays in whole-stage codegen at any scale.
    */
  def annLsh(emb: DataFrame, queries: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = K): DataFrame =
    lshTopK(lshBucketed(normalized(emb, idCol, vecCol)),
      lshBucketed(normalized(queries, idCol, vecCol)), k)

  /** s02: gate binding with the session-cached bucket store — the query
    * side filters the SAME cached store, so bucketing runs once instead
    * of once per join side. rows-only oracle; SimilaritySpec measures
    * recall vs s01 and pins bucket ids bit-identical to the reference
    * `aggregate(zip_with(...))` formulation.
    */
  def s02AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val bucketed = SharedIndex(s, dir, "hyperplane_buckets") {
      lshBucketed(Tables.embeddings(s, dir))
    }
    lshTopK(bucketed, bucketed.filter(col("vec_id") < NumQueries), K)
  }

  // Defaults tuned for the gate corpora; at real scale size the coarse
  // quantizer like any IVF index: numCells ~ sqrt(n) (1e9 vectors ->
  // ~32k cells, still a few-MB broadcast) and numProbes scaled with it
  // to hold coverage ~ 1 - (1 - numProbes/numCells)^assignReplicas.
  // Unlike the LSH candidate caps, a small fixed cell count degrades
  // GRADUALLY (probe scans grow linearly) rather than silently losing
  // results, so the corpus-sized-default treatment the LSH family got
  // (knnJoinLsh/embeddingLshPairs) is deliberately not forced here —
  // recall targets are corpus-specific tuning the caller owns.
  private[operators] val NumCells = 32
  private[operators] val NumProbes = 12
  private[operators] val AssignReplicas = 3

  /** `numCells` deterministic seed vectors: the smallest `xxhash64`
    * of the id, tie-broken on the id. A hash order is a uniform sample
    * of the corpus whatever the caller's id assignment — the previous
    * "smallest ids" rule coupled quantizer quality to insertion order,
    * so ids correlated with content (e.g. time-ordered ingest of
    * clustered sources) collapsed all seeds into one region. Still
    * executes as TakeOrdered (no full sort), still reproducible
    * run-to-run and engine-to-engine.
    */
  private def ivfSeeds(e: DataFrame, numCells: Int): DataFrame =
    e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(numCells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))

  /** IVF (inverted-file) ANN over any embeddings frame — the
    * coarse-quantizer alternative to hyperplane LSH. Cells are defined
    * by `numCells` deterministic seed vectors (a hash-ordered sample —
    * see [[ivfSeeds]] — the standard sampled coarse quantizer when no
    * trained codebook is available); every vector lives in the cells of
    * its `assignReplicas` nearest seeds (multi-assignment — the
    * standard IVF recall lever: a vector near a cell boundary is
    * findable from either side); a query probes its `numProbes` nearest
    * cells and rescores exactly (graft_cosine) inside them.
    *
    * Tuning: recall ~ corpus coverage x neighbor concentration.
    * On clustered corpora the concentration is high, so few probes and
    * `assignReplicas = 1` suffice; on unclustered (near-orthogonal)
    * embeddings no quantizer concentrates neighbors and recall tracks
    * coverage ~ 1 - (1 - numProbes/numCells)^assignReplicas. The
    * defaults hit recall >= 0.9 at ~75% coverage on the synthetic
    * benchmark embeddings; real-world clustered corpora should lower
    * both knobs.
    *
    * Scale shape, in order:
    * 1. cell scoring + assignment are ONE map-only pass: the packed
    *    seed array is broadcast as a single row and each corpus row
    *    scores every seed and keeps its top `assignReplicas` cells
    *    inside the scan ([[assignCells]]) — ZERO exchanges however
    *    large the codebook (the r15 fix: the previous per-vector
    *    score-array shuffle was 32x the embedding bytes at a
    *    sqrt(n)-sized codebook);
    * 3. the probe list is |queries| x numCells rows — broadcast;
    * 4. rescoring joins candidates cell-equi (skew-bounded: a cell
    *    holds ~n*replicas/cells vectors), dedups the (query,
    *    candidate) pairs that met in several probed cells with a
    *    map-side-partial max, and takes per-query top-k through the
    *    rank window's WindowGroupLimit partial pushdown.
    */
  def annIvf(emb: DataFrame, queries: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = K, numCells: Int = NumCells,
      numProbes: Int = NumProbes, assignReplicas: Int = AssignReplicas): DataFrame = {
    val e = normalized(emb, idCol, vecCol)
    val seeds = ivfSeeds(e, numCells)
    ivfTopK(assignCells(e, seeds, assignReplicas), normalized(queries, idCol, vecCol), seeds,
      numProbes, k)
  }

  /** [[annIvf]] with a caller-supplied coarse quantizer: `codebook` is a
    * small (cell id, centroid vector) frame — e.g. a trained k-means
    * codebook — used verbatim instead of the hash-sampled seeds. It is
    * broadcast, so it must stay driver-small (hundreds of cells, not
    * millions).
    */
  def annIvfWithCodebook(emb: DataFrame, queries: DataFrame, codebook: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "cell", centroidCol: String = "centroid", k: Int = K,
      numProbes: Int = NumProbes, assignReplicas: Int = AssignReplicas): DataFrame = {
    val cb = cells(codebook, cellCol, centroidCol)
    ivfTopK(assignCells(normalized(emb, idCol, vecCol), cb, assignReplicas),
      normalized(queries, idCol, vecCol), cb, numProbes, k)
  }

  /** Predicate-constrained (filtered) vector search, exact form:
    * brute-force cosine top-k over the subset of the corpus satisfying
    * `predicate` — retrieval with a metadata filter ("nearest docs
    * FROM THIS SOURCE / LICENSE / LANGUAGE"), the ubiquitous serving
    * constraint plain ANN ignores. Exact and fully oracle-able; the
    * correctness baseline [[annIvfFiltered]] is measured against.
    */
  def annFiltered(emb: DataFrame, queries: DataFrame,
      predicate: org.apache.spark.sql.Column, k: Int = K,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    annBruteforce(emb.filter(predicate), queries, idCol, vecCol, k)

  /** Filtered ANN, the scale path: the SHARED (unfiltered) IVF index
    * is probed as usual, and the predicate intersects the probed
    * cells' candidates as an id-semi-join BEFORE any rescoring — the
    * posting-list-intersection shape of every filtered-search engine.
    * The index is NEVER rebuilt per predicate (that would make
    * filters unusable operationally); the price is recall under very
    * selective filters — the query's nearest SURVIVING neighbors may
    * sit in unprobed cells, so callers raise `numProbes` as filters
    * get sharper (the standard over-probing rule; SimilaritySpec
    * measures recall vs [[annFiltered]] and pins that every returned
    * neighbor satisfies the predicate).
    */
  def annIvfFiltered(emb: DataFrame, queries: DataFrame, codebook: DataFrame,
      predicate: org.apache.spark.sql.Column,
      idCol: String = "vec_id", vecCol: String = "embedding", k: Int = K,
      numProbes: Int = NumProbes, assignReplicas: Int = AssignReplicas): DataFrame = {
    val e = normalized(emb, idCol, vecCol)
    val allowed = emb.filter(predicate).select(Cols.q(idCol).as("vec_id"))
    val assigned = assignCells(e, codebook, assignReplicas)
      .join(allowed, Seq("vec_id"), "left_semi")
    ivfTopK(assigned, normalized(queries, idCol, vecCol), codebook, numProbes, k)
  }

  /** s12: gate binding of exact [[annFiltered]] — queries vec_id < 10
    * against the even-label half of the corpus. Fully SQL-oracled (the
    * s01 oracle with the predicate on the corpus side).
    */
  def s12AnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    annFiltered(e, e.filter(col("vec_id") < NumQueries), col("label") % 2 === 0)
  }

  /** Hash-sampled coarse quantizer as a caller-ownable (cell, centroid)
    * codebook — [[ivfSeeds]] exposed for the [[ivfIndex]]/[[ivfSearch]]
    * build/probe split: the untrained baseline every IVF deployment
    * starts from (and what [[trainIvfCodebook]] initializes with).
    */
  def sampledCodebook(emb: DataFrame, numCells: Int = NumCells,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfSeeds(normalized(emb, idCol, vecCol), numCells)

  /** Train an IVF coarse quantizer: hash-sampled init ([[ivfSeeds]])
    * refined by `iterations` Lloyd rounds — assign every vector to its
    * nearest centroid (cosine), recompute each cell's centroid as the
    * element-wise mean of its members. Returns a (cell, centroid)
    * codebook for [[annIvfWithCodebook]]; on clustered corpora the
    * refined centroids snap to the cluster structure, concentrating
    * neighbors into fewer probed cells than a raw sample can.
    *
    * Scale shape per round: assignment is the map-only broadcast
    * scoring pass + one row per vector through the shuffle
    * ([[assignCells]]); the mean is a (cell, dimension) aggregation
    * whose map-side partials compress the explode to cells x dim rows
    * per partition. A cell that loses every member keeps its previous
    * centroid, so the codebook never shrinks; `localCheckpoint` per
    * round truncates the iterative lineage, and each superseded round's
    * checkpoint storage is released explicitly once its successor
    * materializes ([[IterativeCheckpoint]] — flat storage however many
    * rounds run).
    */
  def trainIvfCodebook(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      numCells: Int = NumCells, iterations: Int = 2): DataFrame = {
    val e = normalized(emb, idCol, vecCol)
    var seeds = ivfSeeds(e, numCells)
    var prevSeedsGen: Option[IterativeCheckpoint.Generation] = None
    for (_ <- 1 to iterations) {
      // checkpoint before the two uses below (union branch + left_anti
      // probe): column pruning makes the subplans differ, so without it
      // the full scoring pass and both aggregations would run twice
      val meansGen = IterativeCheckpoint(assignCells(e, seeds, replicas = 1)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(avg(col("v")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).getField("m")
          .cast("array<float>").as("centroid")))
      val means = meansGen.df
      val seedsGen = IterativeCheckpoint(means
        .unionByName(seeds.join(means.select("cell"), Seq("cell"), "left_anti")))
      // the new seeds are materialized: the round's means and the prior
      // round's seeds are dead weight
      meansGen.release()
      prevSeedsGen.foreach(_.release())
      prevSeedsGen = Some(seedsGen)
      seeds = seedsGen.df
    }
    seeds
  }

  /** (vec_id, embedding, cell) with each vector in its `replicas`
    * top-scoring cells — MAP-ONLY: the seed table is packed into ONE
    * broadcast row holding all (cell, centroid) structs, each corpus
    * row scores every seed inside a `transform` over that array (the
    * same fused `graft_cosine`), and the top `replicas` cells come from
    * an in-row array_sort — so cell assignment costs ZERO exchanges
    * whatever the codebook size.
    *
    * This replaced the r8–r14 groupBy(vec_id)+collect_list shape (one
    * shuffled row per vector holding a cells-length score array): fine
    * at the gates' 32 cells (the array ≈ the embedding in bytes), but
    * at a scale-proportioned codebook (numCells ~ sqrt(n): 2048 cells
    * for 5M vectors) that row is 32x the embedding — a ~160 GB
    * assignment shuffle at 5M vectors, pure waste for a per-row
    * reduction no other row contributes to. The in-row ordering is
    * bit-identical to the old shape: array_sort over (c, cell) structs
    * ascending, reversed, sliced — ties on the score pick the higher
    * cell id, exactly as before (SimilaritySpec's recall and
    * determinism pins re-ran green across the swap).
    */
  private[operators] def assignCells(e: DataFrame, seeds: DataFrame, replicas: Int): DataFrame = {
    val s = e.sparkSession
    val packed = seeds.agg(collect_list(struct(col("cell"), col("centroid"))).as("__seeds"))
    e.crossJoin(broadcast(packed))
      .select(col("vec_id"), col("embedding"),
        explode(slice(reverse(array_sort(transform(col("__seeds"), sd =>
            struct(
              CosineSimilarity.cosine(s, col("embedding"), sd.getField("centroid")).as("c"),
              sd.getField("cell").as("cell"))))),
          1, replicas)).as("__cs"))
      .select(col("vec_id"), col("embedding"), col("__cs.cell").as("cell"))
  }

  /** A caller's (cellCol, centroidCol) codebook as (cell, centroid). */
  private def cells(codebook: DataFrame, cellCol: String, centroidCol: String): DataFrame =
    codebook.select(Cols.q(cellCol).as("cell"), Cols.q(centroidCol).as("centroid"))

  /** BUILD half of the deployment split: the IVF cell assignment
    * `(vec_id, embedding, cell)` for a caller-supplied codebook —
    * persist/cache this once, then serve many [[ivfSearch]] calls
    * against it (what annIvf* fuse into one plan, factored for the
    * build-once/probe-many shape every index deployment runs).
    * Map-only (see [[assignCells]]).
    */
  def ivfIndex(emb: DataFrame, codebook: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", cellCol: String = "cell",
      centroidCol: String = "centroid", assignReplicas: Int = AssignReplicas): DataFrame =
    assignCells(normalized(emb, idCol, vecCol), cells(codebook, cellCol, centroidCol),
      assignReplicas)

  /** PROBE half of the deployment split: top-k over a prebuilt
    * [[ivfIndex]] frame — each query probes its `numProbes` nearest
    * cells of the same codebook and rescores exactly inside them.
    */
  def ivfSearch(index: DataFrame, queries: DataFrame, codebook: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "cell", centroidCol: String = "centroid",
      k: Int = K, numProbes: Int = NumProbes): DataFrame =
    ivfTopK(index, normalized(queries, idCol, vecCol), cells(codebook, cellCol, centroidCol),
      numProbes, k)

  /** Probed-cell candidates from an `assigned` (vec_id, embedding, cell)
    * store, exact cosine; `best` dedups the pairs that met in several
    * probed cells (multi-assignment).
    */
  private def ivfTopK(assigned: DataFrame, queries: DataFrame, coarse: DataFrame,
      numProbes: Int, k: Int): DataFrame =
    topK(best(candidates(probeCells(queries, coarse, numProbes), assigned, Seq("cell"),
      pairCosine(assigned.sparkSession)), "cosine", ascending = false), k)

  /** s03: gate binding of [[annIvf]] with the session-cached cell
    * assignment. rows-only oracle (seed choice is engine-local);
    * SimilaritySpec measures candidate recall vs s01 and exactness of
    * returned cosines.
    */
  def s03AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // identical hash-sampled seed set to the library form
    val seeds = ivfSeeds(e, NumCells)
    val assigned = SharedIndex(s, dir, "ivf_assignment") {
      assignCells(e, seeds, AssignReplicas)
    }
    ivfTopK(assigned, e.filter(col("vec_id") < NumQueries), seeds, NumProbes, K)
  }

  /** s04: gate binding of the TRAINED-quantizer ANN path —
    * [[trainIvfCodebook]] (2 Lloyd rounds over the standard embeddings,
    * session-cached alongside the cell assignment it induces) feeding
    * [[annIvfWithCodebook]]. rows-only oracle (the learned centroids are
    * engine-local floats); SimilaritySpec asserts the trained codebook's
    * recall vs exact s01 is >= the raw hash-sampled IVF's on the same
    * corpus — training must never cost recall.
    */
  def s04AnnIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val codebook = SharedIndex(s, dir, "ivf_trained_codebook") {
      trainIvfCodebook(e)
    }
    annIvfWithCodebook(e, e.filter(col("vec_id") < NumQueries), codebook)
  }

  /** All neighbors within a cosine RADIUS of each query — the range
    * flavor of similarity search (threshold retrieval: "everything at
    * least `minCosine` close"), complementing [[annBruteforce]]'s
    * top-k flavor. Exact: the query side is broadcast and every
    * (query, corpus) score runs through the fused codegen'd cosine
    * inside the corpus scan — map-only over the corpus; only the
    * (small) survivor set crosses the output-ordering shuffle.
    * `maxResults` bounds the answer (highest cosines first), so a
    * too-loose radius truncates instead of exploding.
    */
  def annRadius(emb: DataFrame, queries: DataFrame, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxResults: Int = 10000): DataFrame = {
    val s = emb.sparkSession
    val e = normalized(emb, idCol, vecCol)
    val q = normalized(queries, idCol, vecCol)
    broadcast(q.as("a"))
      .join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        graft.functions.FastRound.round6(s,
          CosineSimilarity.cosine(s, col("a.embedding"), col("b.embedding"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy(col("cosine").desc, col("q_id").asc, col("n_id").asc)
      .limit(maxResults)
  }

  /** [[annRadius]]'s scale path: candidates block on hyperplane-LSH
    * buckets ([[lshBucketed]], shared with s02/d08) instead of scoring
    * the whole corpus, so per-query work tracks bucket occupancy, not
    * corpus size. Bucket-equi join, exact `graft_cosine` rescore, and
    * the multi-table collision dedup runs AFTER the threshold — only
    * survivors cross the distinct's shuffle (same rationale as
    * [[Dedup.embeddingLshTopK]]). Approximate: a neighbor sharing no
    * bucket with its query is missed; SimilaritySpec measures recall
    * vs the exact form and pins 100% on planted near-identical
    * vectors (tiny angles survive every table).
    */
  def annRadiusLsh(emb: DataFrame, queries: DataFrame, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxResults: Int = 10000,
      numTables: Int = HyperplaneBuckets.NumTables,
      planesPerTable: Int = HyperplaneBuckets.PlanesPerTable): DataFrame = {
    val s = emb.sparkSession
    val eb = lshBucketed(normalized(emb, idCol, vecCol), numTables, planesPerTable)
    val qb = lshBucketed(normalized(queries, idCol, vecCol), numTables, planesPerTable)
    broadcast(qb.as("a"))
      .join(eb.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        graft.functions.FastRound.round6(s,
          CosineSimilarity.cosine(s, col("a.embedding"), col("b.embedding"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .dropDuplicates("q_id", "n_id")
      .orderBy(col("cosine").desc, col("q_id").asc, col("n_id").asc)
      .limit(maxResults)
  }

  /** Exact k-NN self-join — every vector's k nearest OTHERS by cosine,
    * the whole-corpus flavor of [[annBruteforce]] (which it reuses:
    * query side = the corpus itself). The corpus is broadcast as the
    * query side, so this form is for validation and broadcast-sized
    * corpora only; [[knnJoinLsh]] is the scale path.
    */
  def knnJoin(emb: DataFrame, k: Int = K,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    annBruteforce(emb, emb, idCol, vecCol, k)

  /** k-NN GRAPH at scale: every vector's k best reachable neighbors,
    * the embedding-graph builder (its output feeds
    * [[Dedup.dupClusters]] for graph-based dedup, or any
    * neighborhood-based curation step). Candidates block on
    * hyperplane-LSH buckets — the SAME capped machinery as
    * [[Dedup.embeddingLshPairs]] (per-bucket id cap before any list
    * aggregation, so a degenerate corpus caps out instead of going
    * quadratic) — then every candidate pair rescored with the exact
    * fused-codegen cosine, SYMMETRIZED (a blocked pair serves both
    * endpoints' neighbor lists — union, no shuffle), deduped across
    * tables, and cut to k per vector by the WindowGroupLimit-pushed
    * rank window. Neither side broadcasts; every join is equi.
    *
    * Default geometry is COARSER than d08's near-dup blocking and
    * SIZED FROM THE CORPUS ([[knnPlanes]]): a knn graph wants recall
    * at moderate cosine (where 8-plane buckets almost never collide)
    * but, unlike threshold retrieval, it also wants EVERY vector to
    * keep a surviving bucket — a fixed plane count at growing corpus
    * size pushes mean occupancy through the cap and silently drops
    * whole neighborhoods (measured at 20k vectors with fixed 4-plane
    * tables: 22% of the corpus capped out of the graph). Auto-sizing
    * keeps mean occupancy at ~cap/8, so the cap stays a skew guard,
    * not the common case. Approximate: a neighbor sharing no bucket
    * with its vector is missed; SimilaritySpec measures recall vs
    * [[knnJoin]] and pins 100% on planted near-identical pairs.
    * Sizing `maxBucketSize` against the box/fleet's spill capacity is
    * [[suggestedLshCap]] — the productized CHECK_sf100_ann.txt
    * occupancy law (this graph at 5M, cap=1000, died on ~70 GB of
    * spill; cap=200 fit and built in 152.6 s).
    */
  def knnJoinLsh(emb: DataFrame, k: Int = K,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 1000,
      numTables: Int = HyperplaneBuckets.NumTables,
      planesPerTable: Int = 0, corpusSize: Long = 0L): DataFrame = {
    val e = normalized(emb, idCol, vecCol)
    // geometry needs only the ORDER OF MAGNITUDE of n, so any estimate
    // the caller already has (catalog stats, a prior count, file
    // sizes / avg row width) beats paying a full corpus-scan count()
    // at plan-build time; the count stays as the unparameterized
    // fallback
    val planes =
      if (planesPerTable > 0) planesPerTable
      else knnPlanes(if (corpusSize > 0L) corpusSize else e.count(), maxBucketSize)
    knnFromBuckets(e, lshBucketed(e, numTables, planes), k, maxBucketSize)
  }

  /** Planes per table for a knn graph over `n` vectors: the fewest
    * planes keeping mean bucket occupancy n/2^planes at or under
    * maxBucketSize/8 — coarse enough for moderate-cosine collisions,
    * fine enough that only genuine skew hits the cap. Floors at 4
    * (the small-corpus geometry) and caps at 24 (occupancy ~60 at
    * 1e9 vectors; beyond that raise numTables, not planes).
    */
  private[graft] def knnPlanes(n: Long, maxBucketSize: Int): Int = {
    val target = math.max(1.0, maxBucketSize / 8.0)
    val p = math.ceil(math.log(math.max(1L, n) / target) / math.log(2.0)).toInt
    math.min(24, math.max(4, p))
  }

  private[operators] def knnFromBuckets(e: DataFrame, bucketed: DataFrame,
      k: Int, maxBucketSize: Int): DataFrame = {
    val s = e.sparkSession
    // capped FLAT store self-joined on the bucket key instead of
    // collect_list + the nested transform/slice pair lambda: a knn
    // graph rescores EVERY candidate (no threshold trims the volume
    // first, unlike d03/d08/d09), so pair generation must stay in
    // whole-stage codegen — the interpreted HOF explode was ~40% of
    // s08's wall. The self-join reads the same capped store on both
    // sides (one exchange, reused), and (v1 < v2) keeps the triangle.
    val capped = Dedup.cappedFlatBuckets(
      bucketed.select(col("tbl"), col("bucket"), col("vec_id")),
      Seq("tbl", "bucket"), maxBucketSize.toLong, minSize = 2L)
    val scored = capped.select(col("tbl"), col("bucket"), col("vec_id").as("d1"))
      .join(capped.select(col("tbl"), col("bucket"), col("vec_id").as("d2")),
        Seq("tbl", "bucket"))
      .filter(col("d1") < col("d2"))
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1")), "d1")
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2")), "d2")
      .select(col("d1"), col("d2"),
        graft.functions.FastRound.round6(s,
          CosineSimilarity.cosine(s, col("e1"), col("e2"))).as("cosine"))
    // symmetrize before the per-vector cut: one rescored pair serves
    // both endpoints; the cross-table dedup (max is exact — cosine is
    // deterministic per pair) rides the same shuffle as the window
    val sym = scored.select(col("d1").as("q_id"), col("d2").as("n_id"), col("cosine"))
      .unionAll(scored.select(col("d2").as("q_id"), col("d1").as("n_id"), col("cosine")))
    topK(sym.groupBy("q_id", "n_id").agg(max(col("cosine")).as("cosine")), k)
  }

  /** s08: gate binding of [[knnJoinLsh]] — the full knn graph of the
    * embeddings corpus at the default coarse geometry, k=10. rows-only
    * oracle (bucket membership is engine-local, and an exact SQL knn
    * oracle would be an all-pairs cross join — quadratic in the corpus,
    * exactly what the operator exists to avoid); SimilaritySpec holds
    * recall against exact [[knnJoin]] and planted near-dup pairs.
    * The corpus-sized bucket store is session-cached (SharedIndex),
    * separate from d08's fine store — different geometry, different
    * key (the chosen plane count is part of the cache key, so a
    * different-sized corpus in the same dir never reuses a stale
    * geometry).
    */
  def s08KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = normalized(Tables.embeddings(s, dir), "vec_id", "embedding")
    // one counting job per (session, dir), shared with d08's sizing
    val planes = knnPlanes(Dedup.embeddingsCount(s, dir), 1000)
    val bucketed = SharedIndex(s, dir, s"hyperplane_buckets_knn_p$planes") {
      lshBucketed(e, HyperplaneBuckets.NumTables, planes).select("tbl", "bucket", "vec_id")
    }
    knnFromBuckets(e, bucketed, K, maxBucketSize = 1000)
  }

  /** s07: gate binding of [[annRadius]] with queries vec_id < 10 at
    * radius 0.2 — near the top of the synthetic corpus's similarity
    * range (near-orthogonal vectors, max pairwise cosine ~0.5), so
    * the answer is a real shortlist. Fully SQL-oracled (exact cosines,
    * like s01); SimilaritySpec holds the LSH path's recall against it.
    */
  def s07AnnRadius(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    annRadius(e, e.filter(col("vec_id") < NumQueries), minCosine = 0.2)
  }

  /** JVM-side cosine for the per-group MMR greedy (same zero-norm
    * convention as the native `graft_cosine`: 0.0).
    */
  private def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** MMR (Maximal Marginal Relevance) diversified re-ranking — the
    * step AFTER retrieval: an ANN shortlist is often redundant (three
    * near-identical docs fill the top-3), and retrieval-augmented
    * curation wants coverage, so each pick maximizes
    * `lambda * relevance - (1 - lambda) * max similarity to the
    * already-picked set` (Carbonell & Goldstein). lambda = 1 is pure
    * relevance; lower trades relevance for diversity.
    *
    * Scale shape: greedy selection is inherently sequential PER QUERY,
    * so the distributed boundary is drawn where it belongs — the
    * shortlist (any s01-s06 output: (q_id, n_id, cosine)) is produced
    * distributed, candidate vectors attach via one equi-join, and the
    * O(k * N * dim) greedy runs inside `flatMapGroups` per q_id over
    * the <= shortlist-size group, queries spread across the cluster.
    * Nothing quadratic in the corpus, nothing on the driver.
    *
    * Contract: candidate vectors attach by INNER join on `n_id` — a
    * shortlist entry whose id has no row in `emb` is silently dropped,
    * which can shrink a query's result below k. That is the right
    * default for the intended composition (the shortlist came FROM
    * `emb` via s01-s06, so ids always resolve); callers re-ranking a
    * shortlist against a DIFFERENT embedding frame must ensure it
    * covers every shortlist id (or pre-join and fail on the mismatch —
    * a missing vector there is usually a bug worth surfacing).
    */
  def mmrRerank(shortlist: DataFrame, emb: DataFrame, k: Int = K,
      lambda: Double = 0.5, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    require(k >= 1, s"mmrRerank needs k >= 1, got $k")
    val s = shortlist.sparkSession
    import s.implicits._
    val e = normalized(emb, idCol, vecCol)
    val joined = shortlist
      .join(e, shortlist("n_id") === e("vec_id"))
      .select(col("q_id").cast("long"), col("n_id").cast("long"),
        col("cosine").cast("double"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
    joined.groupByKey(_._1)
      .flatMapGroups { (qId, it) =>
        val cand = it.map(t => (t._2, t._3, t._4)).toArray.sortBy(c => (-c._2, c._1))
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Float], Double)]
        val used = scala.collection.mutable.BitSet.empty
        while (picked.size < math.min(k, cand.length)) {
          var bestIdx = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cand.length) {
            if (!used(i)) {
              val (id, rel, vec) = cand(i)
              // no clamping: a NEGATIVE max-similarity (candidate
              // anti-correlated with everything picked) legitimately
              // RAISES the marginal score in the canonical formulation
              val maxSim = if (picked.isEmpty) 0.0
                else picked.iterator.map(p => cosLocal(vec, p._3)).max
              val sc = lambda * rel - (1.0 - lambda) * maxSim
              // strict > with candidates pre-sorted (rel desc, id asc)
              // makes ties deterministic: best relevance, then lowest id
              if (sc > bestScore) { bestScore = sc; bestIdx = i }
            }
            i += 1
          }
          used += bestIdx
          val (id, rel, vec) = cand(bestIdx)
          picked += ((id, rel, vec, bestScore))
        }
        picked.iterator.zipWithIndex.map { case ((id, rel, _, sc), r) =>
          (qId, r + 1, id, BigDecimal(rel).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      .toDF("q_id", "mmr_rank", "n_id", "relevance", "mmr_score")
      .orderBy("q_id", "mmr_rank")
  }

  /** s09: gate binding of [[mmrRerank]] — exact s01-style top-50
    * shortlists for queries vec_id < 10, diversified to the top 10 at
    * lambda = 0.5. rows-only (greedy scores are float-path
    * engine-local); SimilaritySpec pins driver-model equality, the
    * planted-redundancy demotion, and the lambda = 1 identity.
    */
  def s09MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val shortlist = annBruteforce(e, e.filter(col("vec_id") < NumQueries), k = 50)
    mmrRerank(shortlist, e, k = K, lambda = 0.5)
  }

  /** Sign-bit binarization of an embedding: bit i of the code = 1 iff
    * component i > 0 — the 1-bit-per-dimension quantization (sign
    * random projection with the identity basis) closing the
    * compression family below SQ8 (s10, 8 bits/dim) and PQ (s05,
    * ~1 bit/dim learned): a 64-float vector becomes ONE 8-byte long,
    * 32× smaller, and similarity becomes a 2-instruction XOR+POPCNT.
    * `bits` caps at 48 so the fold stays inside a signed 64-bit long
    * on every engine (DuckDB's BIGINT has no unsigned twin).
    *
    * Deliberately a portable big-endian fold (`acc*2 + sign`) over the
    * leading dims rather than a native expression: it is ONE map-only
    * pass per row at encode time, and the arithmetic restates verbatim
    * in DuckDB `list_reduce` — which makes s13 the only FULLY
    * SQL-ORACLED entry of the ANN family (every other variant's
    * geometry is engine-local).
    */
  def signCode(vec: Column, bits: Int = 48): Column = {
    require(bits >= 1 && bits <= 48, s"bits must be in [1,48], got $bits")
    aggregate(slice(vec, 1, bits), lit(0L),
      (acc, x) => acc * 2 + when(x > lit(0f), 1L).otherwise(0L))
  }

  /** Exact Hamming top-k over 64-bit binary codes: queries broadcast,
    * the corpus streams through XOR+bit_count in whole-stage codegen,
    * one per-query window with the rank filter pushed as a
    * WindowGroupLimit partial top-k. Same plan shape as [[annBruteforce]]
    * but the scanned payload is 8 bytes/row instead of 256 — the scan
    * that makes "exact over everything" survive ~32× longer into the
    * corpus-growth curve before the s02/s03 bucketed variants take over.
    * Expects (idCol, codeCol) frames; ties break (distance, n_id).
    */
  def hammingKnn(codes: DataFrame, queries: DataFrame, idCol: String = "vec_id",
      codeCol: String = "code", k: Int = K): DataFrame = {
    def coded(df: DataFrame) = df.select(Cols.q(idCol).as("vec_id"), Cols.q(codeCol).as("code"))
    hammingTopK(candidates(coded(queries), coded(codes), Nil, pairHamming), k)
  }

  /** XOR+POPCNT distance of a candidate pair's codes. */
  private def pairHamming: Column =
    bit_count(col("a.code").bitwiseXOR(col("b.code"))).as("hamming")

  /** Per-query top-k by ascending Hamming distance (not rounded). */
  private def hammingTopK(cand: DataFrame, k: Int): DataFrame =
    ranked(cand, "hamming", ascending = true, k)
      .select(col("q_id"), col("rank"), col("n_id"), col("hamming"))
      .orderBy("q_id", "rank")

  /** Chunk-pruned Hamming top-k — the scale path when even the 8-byte
    * scan is too much per query: codes explode to `nChunks` 16-bit
    * chunk keys (the d04 pigeonhole: any pair with distance < nChunks
    * shares at least one chunk), candidates are the corpus rows
    * sharing a chunk with a query, rescored exactly. Per-(chunk, key)
    * corpus buckets are capped like every other candidate generator
    * here; the spec measures recall vs [[hammingKnn]]. Close neighbors
    * (the ones a knn graph exists to find) are exactly the pairs the
    * pigeonhole guarantees; far ranks are best-effort.
    */
  def hammingKnnPruned(codes: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", codeCol: String = "code", k: Int = K,
      nChunks: Int = 4, maxBucketSize: Int = 1000): DataFrame = {
    require(nChunks >= 1 && nChunks <= 4, s"nChunks must be in [1,4], got $nChunks")
    def chunked(df: DataFrame): DataFrame =
      df.select(Cols.q(idCol).as("vec_id"), Cols.q(codeCol).as("code"),
        explode(array((0 until nChunks).map(ch =>
          struct(lit(ch).as("chunk"),
            shiftright(Cols.q(codeCol), ch * 16).bitwiseAND(0xFFFFL).as("key"))): _*))
          .as("cb"))
        .select(col("vec_id"), col("code"),
          col("cb.chunk").as("chunk"), col("cb.key").as("key"))
    // cap the CORPUS side per (chunk, key) — a degenerate mass of
    // identical codes would otherwise go candidate-quadratic
    val wcap = Window.partitionBy("chunk", "key").orderBy(col("vec_id"))
    val corpus = chunked(codes)
      .withColumn("__r", row_number().over(wcap))
      .filter(col("__r") <= maxBucketSize).drop("__r")
    hammingTopK(best(candidates(chunked(queries), corpus, Seq("chunk", "key"), pairHamming),
      "hamming", ascending = true), k)
  }

  /** s13: gate binding — sign-binarized embeddings (48 bits), exact
    * Hamming top-10 for queries vec_id < 10. FULLY SQL-oracled: the
    * sign fold, the XOR+bit_count distance, and the tie order restate
    * verbatim in DuckDB (the one ANN entry where nothing is
    * engine-local). SimilaritySpec adds the pruned-path recall and the
    * sign-flip sensitivity pins.
    */
  def s13AnnHamming(s: SparkSession, dir: String): DataFrame = {
    val codes = Tables.embeddings(s, dir)
      .select(col("vec_id"), signCode(col("embedding")).as("code"))
    hammingKnn(codes, codes.filter(col("vec_id") < NumQueries))
  }

  /** Recall@k of an approximate ANN result against the exact baseline
    * — the evaluation loop every approximate tier here is judged by
    * (the specs compute it driver-side at test scale; this is the
    * DISTRIBUTED form for judging an index over millions of queries).
    * Both inputs are result frames in the house (q_id, rank, n_id)
    * shape; rows beyond rank k on either side are ignored, so one
    * call evaluates any k at or below what was retrieved. Per query:
    * hits / |exact top-k| — a query the approximate side missed
    * entirely still scores (0.0, via the left join), which a naive
    * inner-join evaluation silently drops.
    *
    * Scale shape: two rank filters, one (q_id, n_id) equi-join, one
    * count agg — everything co-partitions on q_id after the first
    * exchange.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int = K): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val e = exact.filter(col("rank") <= k).select(col("q_id"), col("n_id"))
    val a = approx.filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), lit(1L).as("__hit"))
    e.join(a, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** Score propagation over a similarity graph: `rounds` bounded
    * iterations of
    * `score' (v) = (1-alpha)*seed(v) + alpha * Σ w(v,n)·score(n) / Σ w(v,n)`
    * — the label-smoothing / quality-propagation step that pushes a
    * trusted per-document signal (a classifier score, a human rating)
    * along near-duplicate and nearest-neighbor edges, the standard
    * trick for scoring the long tail a classifier never saw. The
    * restart term anchors every node to its own seed (personalized-
    * PageRank shape), so propagation refines, never erases.
    *
    * Deterministic across partitionings: each round's weighted sums
    * fold EXACT decimals (weights and scores quantized at 6dp — the
    * d05/s08 cosine discipline), the convex blend runs in doubles on
    * those exact operands, and the result re-quantizes (native
    * `graft_round`) before the next round, so aggregation order cannot
    * drift a bit. Nodes without in-edges keep their current score —
    * and so do nodes whose in-edge weights sum to exactly 0 (all
    * cosines quantizing to 0.000000, or mixed-sign weights
    * cancelling): the blend is skipped rather than dividing by zero,
    * which would otherwise inject NaN/Infinity into every later
    * round. Weights are expected non-negative (cosine/Jaccard
    * affinities); negative weights are tolerated but make the
    * "convex blend" reading inapplicable for the affected nodes.
    *
    * Scale shape: per round ONE equi-join (edges ⋈ scores on the
    * neighbor endpoint) and ONE destination aggregation — both
    * key-partitioned, mergeable, skew-bounded by the graph's in-degree
    * (k, for a [[knnJoinLsh]] graph). Rounds are flat-checkpointed
    * (the d07 storage discipline): plan depth stays constant, each
    * generation released as its successor materializes. The spill
    * budget of the whole composite (graph build + propagation) is set
    * by the upstream graph's bucket cap — size it with
    * [[suggestedLshCap]] (the CHECK_sf100_ann.txt occupancy law; the
    * 5M propagation itself ran in 29.5 s once the cap=200 graph fit).
    */
  def scorePropagation(nodes: DataFrame, edges: DataFrame,
      idCol: String = "vec_id", scoreCol: String = "score",
      srcCol: String = "q_id", dstCol: String = "n_id",
      weightCol: String = "cosine", alpha: Double = 0.5,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "scorePropagation needs at least one round")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val s = nodes.sparkSession
    val Dm = "decimal(18,6)"
    val e = edges.select(Cols.q(srcCol).as("__v"), Cols.q(dstCol).as("__n"),
      graft.functions.FastRound.round6(s, Cols.q(weightCol).cast("double")).cast(Dm).as("__w"))
    val seed = nodes.select(Cols.q(idCol).as("__id"),
      graft.functions.FastRound.round6(s, Cols.q(scoreCol).cast("double")).as("__s0"))
    var gen = IterativeCheckpoint(seed.withColumn("__score", col("__s0")))
    for (_ <- 1 to rounds) {
      val cur = gen.df
      val agg = e.join(cur.select(col("__id").as("__n"), col("__score")), "__n")
        .groupBy(col("__v"))
        .agg(sum(col("__w") * col("__score").cast(Dm)).as("__wsum"),
          sum(col("__w")).as("__wtot"))
      val next = IterativeCheckpoint(
        cur.join(agg, cur("__id") === agg("__v"), "left")
          .select(col("__id"), col("__s0"),
            graft.functions.FastRound.round6(s,
              when(col("__wtot").isNull || col("__wtot") === lit(BigDecimal(0)),
                  col("__score"))
                .otherwise(lit(1.0 - alpha) * col("__s0") +
                  lit(alpha) * (col("__wsum").cast("double") / col("__wtot").cast("double"))))
              .as("__score")))
      gen.release()
      gen = next
    }
    gen.df.select(col("__id").as(idCol), col("__s0").as("seed_score"),
      col("__score").as("score"))
  }

  /** s14: gate binding of [[scorePropagation]] — the embeddings' label
    * (an integer class id, the corpus's stand-in for a trusted
    * per-item signal) smoothed for 3 rounds over the s08 knn graph
    * (session-cached buckets, same geometry). rows-only oracle (the
    * graph is engine-local LSH); SimilaritySpec holds driver-model
    * equality, the convexity bound, the isolated-node and alpha=0
    * identities, and bit-determinism under repartitioning.
    */
  def s14ScorePropagation(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("double").as("score"))
    // the knn graph is s14's INPUT INDEX (the artifact a deployment
    // builds once and smooths over repeatedly), so it session-caches
    // like the other index artifacts (codebooks, code stores, bucket
    // stores) — the gate measures PROPAGATION, not the s08 build it
    // composes with
    val graph = SharedIndex(s, dir, KnnGraphIndexName) { s08KnnJoin(s, dir) }
    scorePropagation(nodes, graph, rounds = 3)
      .orderBy("vec_id")
  }

  /** Session-cache key of s14's knn-graph input index. Because the
    * cached graph IS s08's plan, Spark's cache manager also serves the
    * s08 gate query from it once s14 has run — so a bench that wants
    * s08's cold BUILD cost must drop this entry first.
    */
  private[graft] val KnnGraphIndexName = "knn_graph_k10"

  /** Bench hook: unpersist the session-cached knn graph (and nothing
    * else) so the next s08 run measures the cold graph build rather
    * than a cache read. See [[KnnGraphIndexName]].
    */
  private[graft] def invalidateKnnGraph(s: SparkSession, dir: String): Unit =
    SharedIndex.invalidateEntry(s, dir, KnnGraphIndexName)

  // ------------------------------------------------------------------
  // The occupancy law, productized (r16 — VERDICT r15 #4).
  //
  // Every blocked pair composite in this library (s08 knn graph, d08
  // fine-LSH pairs, s14 propagation over the graph, d11 in-cell
  // SemDeDup) generates candidate pairs quadratically in per-bucket
  // membership, and the four out-of-disk deaths recorded in
  // CHECK_sf100_ann.txt (s08/d08/s14 at 5M cap=1000; the 2M knn
  // attempt) all reduce to the same arithmetic: in-bucket pair volume
  // times bytes-per-candidate exceeded the box's spill capacity. These
  // helpers ARE that arithmetic, so sizing is a call instead of a
  // hand calculation. `bytesPerCandidateRow` is the caller's estimate
  // of the widest shuffled candidate row (ids + any carried payload,
  // POST shuffle compression — the 5M rung implies ~180 effective
  // bytes for the knn rescore rows that carry an embedding, ~64 for
  // id+score pairs); `spillBytes` is the executor-aggregate shuffle
  // scratch the job may use (on a cluster: per-executor scratch x
  // executors — the whole point is that the cap scales with the
  // FLEET, not a constant).
  // ------------------------------------------------------------------

  /** Largest per-bucket cap for EXPLICIT-bucket blocking (IVF cells,
    * hash/minhash/simhash band buckets) such that the WORST-CASE
    * candidate volume — every bucket full to the cap,
    * `numTables * buckets * cap*(cap-1)/2` pairs at
    * `bytesPerCandidateRow` each — stays within `spillBytes`. The
    * returned cap is a guarantee, not an estimate: the capped store
    * cannot emit more pairs than this budget even on a fully
    * degenerate corpus (the d11 capped-universe regime). When the
    * return is BELOW the expected mean occupancy n/buckets, the
    * blocking is under-provisioned for the disk — raise `buckets`
    * (finer quantizer / more planes), raise spill, or accept capped
    * recall; the recorded 5M d11 run (2048 cells, ~977 expected
    * members) sized its cap at 4x occupancy for skew headroom and fit
    * because EXPECTED volume, not worst-case, materialized — this
    * helper is the conservative end of that trade. Floor 2 (below two
    * members a bucket cannot pair at all).
    */
  def suggestedPairCap(n: Long, buckets: Long, bytesPerCandidateRow: Long,
      spillBytes: Long, numTables: Int = 1): Int = {
    require(buckets > 0 && bytesPerCandidateRow > 0 && numTables > 0,
      s"buckets=$buckets bytesPerCandidateRow=$bytesPerCandidateRow numTables=$numTables")
    val perBucketPairs =
      spillBytes.toDouble / bytesPerCandidateRow / numTables / buckets
    // cap*(cap-1)/2 <= perBucketPairs
    val c = math.floor((1.0 + math.sqrt(1.0 + 8.0 * perBucketPairs)) / 2.0).toLong
    math.max(2L, math.min(c, Int.MaxValue.toLong)).toInt
  }

  /** Largest `maxBucketSize` for the SELF-SIZING LSH composites
    * ([[knnJoinLsh]], [[Dedup.embeddingLshPairs]]) — where the cap
    * does not just guard skew but SETS the geometry: [[knnPlanes]]
    * picks planes so mean occupancy lands at ~cap/8, making expected
    * candidate volume `numTables * n * (cap/8) / 2` pairs. Inverting
    * that against the spill budget: cap = 16 * spillBytes /
    * (bytesPerCandidateRow * numTables * n). Regression anchor
    * (CHECK_sf100_ann.txt): at n=5M, 8 tables, ~180 effective bytes,
    * ~70 GB free this returns ~155 — the recorded cap=200/occupancy-19
    * run fit that disk, and the recorded cap=1000/occupancy-76 runs
    * (~274 GB of candidates) died on it. Floor 16 (an 8-table graph
    * below occupancy 2 has no pairs to keep); ceiling 100000 (beyond
    * that the quadratic skew-guard worst case dwarfs the mean — raise
    * numTables instead).
    */
  def suggestedLshCap(n: Long, numTables: Int, bytesPerCandidateRow: Long,
      spillBytes: Long): Int = {
    require(n > 0 && numTables > 0 && bytesPerCandidateRow > 0,
      s"n=$n numTables=$numTables bytesPerCandidateRow=$bytesPerCandidateRow")
    val cap = 16.0 * spillBytes / bytesPerCandidateRow / numTables / n
    math.max(16L, math.min(math.floor(cap).toLong, 100000L)).toInt
  }

  /** Spill budget (bytes) for the cap helpers above: half the usable
    * space of the disks Spark actually SPILLS to — resolved in Spark's
    * own precedence order (`SPARK_LOCAL_DIRS` env over the
    * `spark.local.dir` conf, summing across a comma-separated list the
    * way the shuffle spreads spill files), falling back to
    * `java.io.tmpdir` only when neither is set. Halved because the
    * shuffle shares the disk with the run's own parquet output and
    * whatever else the box holds. A zero resolution (nonexistent dir)
    * is a loud warning, not a silent floor: every byte of headroom the
    * cap law hands out is vouched for by a real disk or flagged.
    */
  def spillBudget(localDirConf: Option[String] = None): Long = {
    val dirs = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(localDirConf)
      .orElse(sys.props.get("spark.local.dir"))
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      .split(',').map(_.trim).filter(_.nonEmpty)
    val usable = dirs.map(d => new java.io.File(d).getUsableSpace).sum
    if (usable <= 0L)
      System.err.println(
        s"[spillBudget] WARNING: usable space of spill dir(s) " +
          s"${dirs.mkString(",")} resolves to 0 — budget-derived caps " +
          "will floor at their minimum; pass an explicit cap")
    usable / 2
  }
}
