package graft

import graft.operators.{ProductQuantization, Similarity}
import org.apache.spark.sql.functions._

/** Full coverage equals exact: every approximate ANN top-k, run with
  * every candidate reachable (all cells probed, a shortlist at least
  * the corpus size, or codes that all share a Hamming chunk), must
  * return exactly the exact search's rows — same ids, ranks and
  * rounded cosines or distances. Holds whatever the candidate
  * generator or approximate scorer, because the exact rescore and the
  * (score, n_id) cut decide the answer.
  */
class AnnCoverageSpec extends SparkSpec {
  import spark.implicits._

  private val n = 150
  private val numCells = 8
  private val fullShortlist = 2 * n

  private lazy val emb = {
    val r = new scala.util.Random(20261017)
    (0 until n).map(i => (i.toLong, Array.fill(16)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
  }
  private lazy val queries = emb.filter(col("vec_id") < 10)
  private lazy val exact = Similarity.annBruteforce(emb, queries).collect().toSeq

  private def assertExact(name: String, got: Seq[org.apache.spark.sql.Row]): Unit = {
    assert(exact.size === 100)
    assert(got === exact, name)
  }

  test("IVF with every cell probed returns the exact rows") {
    val codebook = Similarity.trainIvfCodebook(emb, numCells = numCells, iterations = 1)
    // one cell per vector makes every probe necessary; three exercises
    // the dedup of pairs met in several cells
    for (replicas <- Seq(1, 3)) {
      assertExact(s"annIvf r=$replicas", Similarity.annIvf(emb, queries, numCells = numCells,
        numProbes = numCells, assignReplicas = replicas).collect().toSeq)
      assertExact(s"annIvfWithCodebook r=$replicas", Similarity.annIvfWithCodebook(emb, queries,
        codebook, numProbes = numCells, assignReplicas = replicas).collect().toSeq)
      assertExact(s"ivfSearch r=$replicas", Similarity.ivfSearch(
        Similarity.ivfIndex(emb, codebook, assignReplicas = replicas), queries, codebook,
        numProbes = numCells).collect().toSeq)
    }
  }

  test("PQ and SQ8 with a corpus-sized shortlist return the exact rows") {
    val pqCb = ProductQuantization.trainPqCodebook(emb, iterations = 1)
    assertExact("annPq", ProductQuantization.annPq(emb, queries, pqCb,
      shortlist = fullShortlist).collect().toSeq)
    assertExact("annSq8", ProductQuantization.annSq8(emb, queries,
      shortlist = fullShortlist).collect().toSeq)
  }

  test("IVF-PQ and IVF-SQ8 with every cell probed and a corpus-sized shortlist return the exact rows") {
    val coarse = Similarity.trainIvfCodebook(ProductQuantization.unitVectors(emb),
      numCells = numCells, iterations = 1)
    val ivfPqCb = ProductQuantization.trainIvfPqCodebook(emb, coarse, iterations = 1)
    assertExact("annIvfPq", ProductQuantization.annIvfPq(emb, queries, coarse, ivfPqCb,
      numProbes = numCells, shortlist = fullShortlist).collect().toSeq)
    assertExact("annIvfSq8", ProductQuantization.annIvfSq8(emb, queries, coarse,
      numProbes = numCells, shortlist = fullShortlist).collect().toSeq)
  }

  test("chunk-pruned Hamming equals the exact scan when every pair shares a chunk") {
    // every code is the base with at most one of its 63 low bits
    // flipped, so any two codes differ in at most 2 < nChunks bits and
    // share at least one 16-bit chunk (pigeonhole); 150 codes stay far
    // below maxBucketSize, so no bucket is capped
    val r = new scala.util.Random(4242)
    val base = r.nextLong() & Long.MaxValue
    val codes = (0 until n).map { i =>
      val flip = r.nextInt(64)
      (i.toLong, if (flip == 63) base else base ^ (1L << flip))
    }.toDF("vec_id", "code")
    val q = codes.filter(col("vec_id") < 10)
    val exactHamming = Similarity.hammingKnn(codes, q).collect().toSeq
    assert(exactHamming.size === 100)
    assert(exactHamming.map(_.getAs[Int]("hamming")).max <= 2)
    assert(Similarity.hammingKnnPruned(codes, q, nChunks = 4).collect().toSeq === exactHamming)
  }
}
