package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions._

/** Spark extensions entry point: lets any session pick up graft's native
  * SQL functions at build time via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`), so SQL users get
  * `graft_cosine` and the rest without touching the Scala API, in
  * derived sessions (`spark.newSession()`) too.
  *
  * Every function is declared once, as an entry of its object's
  * `functions` table ([[SqlFunction]]); this injects every entry of
  * every table, and each object's `register(spark)` registers its own
  * entries in a session that already exists. The two paths cannot
  * drift. `graft_shingles_<k>` is injected for k = 2, 3, 4;
  * `WordShingles.shingles` registers any other width on demand.
  * `graft_lm_score_<key>` / `graft_bpe_encode_<key>` are not injected:
  * they are keyed on a driver-held model (LmModel / BpeModel) and only
  * exist bound to one, via their Column-API entry points.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
}

object GraftExtensions {

  /** Every graft SQL function, one entry per name. */
  val functions: Seq[SqlFunction] = Seq[SqlFunctions](
    CosineSimilarity, SimHash, Fingerprint, HyperplaneBuckets, NfcNormalize,
    L2Squared, PqEncode, PqAdc, UnitVector, WinnowPrints, FastRound, DctPhash,
    MinHash64, Sq8Encode, Sq8Dot, ShannonEntropy, BloomSketch, GkQuantile,
    MisraGries, BottomKSketch, WeightedReservoir, AvHeader, MediaHeader
  ).flatMap(_.functions) ++ WordShingles.functions
}
