package graft

import java.security.MessageDigest

import graft.functions.{BottomKSketch, GkQuantile, MisraGries, WeightedReservoir}

/** The persisted bytes of the four mergeable sketch-state families (GK
  * quantiles, Misra–Gries, bottom-k, weighted reservoir), pinned by
  * sha256: a state is stored per (group, ingest unit) and merged later,
  * possibly by another build, so its byte format must not move. Each
  * state is built in one partition from a fixed input, so the bytes do
  * not depend on task scheduling.
  */
class SketchStateSpec extends SparkSpec {

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  test("the four sketch-state byte formats are pinned through *_agg and *_merge") {
    import spark.implicits._
    GkQuantile.register(spark); MisraGries.register(spark)
    BottomKSketch.register(spark); WeightedReservoir.register(spark)
    // (family, agg call over `id`, sha256 of the [0, 300) state, sha256
    // of the merge of the [0, 300) and [300, 500) states)
    val cases = Seq(
      ("gk", "graft_gk_agg(CAST((id * 37) % 101 AS DOUBLE), 0.05)",
        "1b110628bfe9beacb84f56a23be78a5df9d925bdccb83f9dfe01c7bf4f7dcd30",
        "695f6a6e9d39c546e33483b186d81a9164f0e00ed7c7165e086f0090c2ab1f33"),
      ("mg", "graft_mg_agg(concat('i', (id * id) % 17), 4)",
        "59a49cdfc40d8074e311e8d4bdd15791f7dd2aec91fd2556392faa030bf0add6",
        "18c7a2391f3f0c3d6052946764569f98a8d982fda34b85c189ae34c606d96256"),
      ("bk", "graft_bk_agg(concat('u', id), 8)",
        "c257a988248b00cbbcce7bb43a4792c12f1a356cf8a51c0665776bf4f8d83e84",
        "647cdc0cbe1b131960560c25f3cac7303a4a34b90c16d2e1ce42ee71a2698132"),
      ("wr", "graft_wr_agg(concat('r', id), CAST(1 + id % 7 AS DOUBLE), 5)",
        "9b786dca5ec691ea43f02120e3b1dacab8681e4fe06ecb039b51836db540fb7f",
        "0f98555b62c9c8812ca3e652efff8bf9a5c9e47f06554d959f747643444e4e33"))
    for ((family, agg, aggHex, mergeHex) <- cases) {
      def state(lo: Long, hi: Long): Array[Byte] =
        spark.range(lo, hi, 1, 1).selectExpr(agg).head().getAs[Array[Byte]](0)
      val a = state(0, 300)
      val merged = Seq(a, state(300, 500)).toDF("st").coalesce(1)
        .selectExpr(s"graft_${family}_merge(st)").head().getAs[Array[Byte]](0)
      assert(sha256(a) === aggHex, s"$family agg state bytes moved")
      assert(sha256(merged) === mergeHex, s"$family merged state bytes moved")
    }
  }

  test("a serve size below 1 fails loudly as a literal and as a column; a null size serves null") {
    import spark.implicits._
    MisraGries.register(spark); BottomKSketch.register(spark); WeightedReservoir.register(spark)
    def chain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString(" | ")
    // (serve function, its size argument's name, agg call over `id`)
    val cases = Seq(
      ("graft_bk_sample", "m", "graft_bk_agg(concat('u', id), 8)"),
      ("graft_wr_sample", "m", "graft_wr_agg(concat('r', id), CAST(1 + id % 7 AS DOUBLE), 5)"),
      ("graft_mg_topk", "topK", "graft_mg_agg(concat('i', (id * id) % 17), 4)"))
    val misses = for ((serve, arg, agg) <- cases; bad <- Seq(0, -3); size <- Seq(bad.toString, "m")) yield {
      val states = spark.range(0, 50, 1, 1).selectExpr(s"$agg AS st")
        .crossJoin(Seq(bad).toDF("m"))
      val call = s"$serve(st, $size) with m = $bad"
      val err = scala.util.Try(states.selectExpr(s"$serve(st, $size)").collect()).failed
        .map(chain).getOrElse("no error")
      if (err.contains(s"$serve $arg must be >= 1: $bad")) None else Some(s"$call: $err")
    }
    assert(misses.flatten.isEmpty, misses.flatten.mkString("\n"))
    for ((serve, _, agg) <- cases) {
      val nulls = spark.range(0, 50, 1, 1).selectExpr(s"$agg AS st")
        .crossJoin(Seq[Integer](null).toDF("m"))
        .selectExpr(s"$serve(st, m)", s"$serve(st, CAST(NULL AS INT))").collect()
      assert(nulls.length === 1 && nulls.head.isNullAt(0) && nulls.head.isNullAt(1), serve)
    }
  }
}
