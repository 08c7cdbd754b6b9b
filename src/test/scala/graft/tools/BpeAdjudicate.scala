package graft.tools

import graft.operators.Text

/** Measured adjudication of [[Text.bpeTrain]] batched (`batch` = 16)
  * vs greedy (r10 verdict item: "BPE merge batching
  * experiment") — wall-clock per merge and table fidelity on the real
  * corpus, so SURVEY §5's recommendation carries numbers instead of a
  * guess. Test-scope main (not part of the library):
  *
  *   sbt "Test/runMain graft.tools.BpeAdjudicate [sfDir] [nMerges]"
  *
  * Prints one line per variant (wall seconds, merges learned) plus the
  * merge-set overlap and the total encoded-token comparison between
  * the two tables.
  */
object BpeAdjudicate {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(120)
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.cache().count()
    def run(label: String, f: => org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      val table = f.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toVector
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[bpe-adjudicate] $label: ${sec}%.2f s for ${table.size} merges" +
        f" (${sec / math.max(1, table.size)}%.3f s/merge)")
      table
    }
    // warm pass (JIT/codegen), then the measured passes
    run("warmup-greedy-small", Text.bpeTrain(docs, nMerges = 8))
    val greedy = run(s"greedy nMerges=$nMerges",
      Text.bpeTrain(docs, nMerges = nMerges, minPairCount = 1L))
    val batched = run(s"batched(16) nMerges=$nMerges",
      Text.bpeTrain(docs, nMerges = nMerges, minPairCount = 1L, batch = 16))
    val gSet = greedy.map(m => (m._2, m._3)).toSet
    val bSet = batched.map(m => (m._2, m._3)).toSet
    println(s"[bpe-adjudicate] merge-set overlap: ${(gSet & bSet).size}/${gSet.size}" +
      s" (batched table size ${bSet.size})")
    def tokens(t: Vector[(Int, String, String, String, Long)]) =
      Text.bpeEncode(docs, t.map(m => (m._2, m._3)))
        .agg(org.apache.spark.sql.functions.sum("n_tokens")).collect().head.getLong(0)
    val (gTok, bTok) = (tokens(greedy), tokens(batched))
    println(f"[bpe-adjudicate] encoded tokens: greedy=$gTok batched=$bTok" +
      f" (ratio ${bTok.toDouble / gTok}%.4f)")
    spark.stop()
  }
}
