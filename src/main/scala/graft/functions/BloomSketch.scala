package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership sketch as a first-class library surface,
  * built on Spark's own runtime-filter machinery
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the exact
  * expressions `InjectRuntimeFilter` plants for join pruning, reused
  * deliberately instead of re-implementing the sketch: the agg's
  * partial state is a fixed-size bit array merged by bitwise OR, and
  * the probe has `doGenCode` with a lazily-deserialized filter, so
  * both ends stay in whole-stage codegen).
  *
  * Used by [[graft.operators.Dedup.contaminationCheckBloom]]: the
  * benchmark's member set compresses to optimal-bits-for-fpp state
  * that reaches every corpus task as ONE constant, where the exact
  * d06 formulation must distinct-shuffle and then broadcast the whole
  * member set.
  */
object BloomSketch extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_bloom_agg", classOf[BloomFilterAggregate],
        "hash, estimatedItems, numBits", 3) { c =>
      // SQL integer literals arrive as INT; the aggregate requires
      // BIGINT for both sizing args (a foldable Cast stays foldable)
      new BloomFilterAggregate(c(0), Cast(c(1), LongType), Cast(c(2), LongType))
    },
    SqlFunction("graft_might_contain", classOf[BloomFilterMightContain], "bloom, hash", 2) {
      c => BloomFilterMightContain(c(0), c(1))
    })

  /** Aggregate a LongType hash column (use `xxhash64(value)`) into a
    * serialized Bloom filter sized for `expectedItems` at `fpp`.
    * Mergeable fixed-size state: every partition contributes
    * optimalNumOfBits/8 bytes regardless of row count, and duplicate
    * insertions are idempotent — callers skip the distinct a set-based
    * formulation needs.
    */
  def bloomAgg(spark: SparkSession, hash: Column, expectedItems: Long, fpp: Double): Column = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    register(spark)
    call_function("graft_bloom_agg", hash,
      lit(expectedItems), lit(BloomFilter.optimalNumOfBits(expectedItems, fpp)))
  }

  /** Membership probe against a ONE-ROW bloom frame (the output of an
    * agg over [[bloomAgg]]). `bloom.scalar()` turns the frame into a
    * scalar subquery — computed once, its result inlined as a constant
    * into every task, the same shape Spark's runtime join filters use
    * (and the only non-literal form `BloomFilterMightContain` accepts).
    * No driver-side collect in user code, no per-row deserialization,
    * no join against the member set.
    */
  def mightContain(bloom: DataFrame, hash: Column): Column = {
    register(bloom.sparkSession)
    call_function("graft_might_contain", bloom.scalar(), hash)
  }
}
