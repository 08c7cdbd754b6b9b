package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Text-analysis operator family (SURVEY.md §2.4): language ID, quality
  * scoring, token counting, fingerprinting.
  *
  * Each operator has a LIBRARY form taking any `(id, text)` DataFrame
  * (`langId` / `qualityScore` / `tokenCount` / `fingerprint` — input
  * columns are selectable by name, output id column is normalized to
  * `doc_id`) and a gate form (`t0x...`) binding it to the standard
  * `documents` table.
  *
  * All four are per-row projections built from codegen'd built-ins
  * (split / higher-order array functions / regexp) — no UDFs, no
  * shuffle except the final deterministic ORDER BY the oracle needs.
  * At 100 TB each is a single map-only stage over the scan.
  *
  * Numeric policy: ratio comparisons (argmax) are done on integer hit
  * counts — every ratio shares the per-doc denominator, so comparing
  * numerators is exact. Doubles only appear in rounded output columns.
  */
object Text {

  /** Real-language stopword sets for the ratio heuristic. The synthetic
    * corpus is English-ish tech text, so most docs classify `en` — the
    * operator's contract is the deterministic function, not the corpus's
    * (randomly assigned) `lang` label.
    */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "mit"))

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private def normalized(docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    docs.select(Cols.q(idCol).as("doc_id") +: Cols.q(textCol).as("text") +: keep: _*)

  /** Stopword-ratio language ID over any documents frame. Hit counts per
    * language set via `filter` on the token array; argmax with fixed
    * precedence en > fr > es > de; all-zero → 'unknown'.
    */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withHits = stopwords.foldLeft(
      normalized(docs, idCol, textCol).withColumn("toks", split(col("text"), " "))) {
      case (df, (lang, words)) =>
        df.withColumn(s"${lang}_h",
          expr(s"size(filter(toks, x -> x IN ${inList(words)}))").cast("long"))
    }
    withHits
      .withColumn("lang_pred",
        when(col("en_h") === 0 && col("fr_h") === 0 && col("es_h") === 0 && col("de_h") === 0, "unknown")
          .when(col("en_h") >= col("fr_h") && col("en_h") >= col("es_h") && col("en_h") >= col("de_h"), "en")
          .when(col("fr_h") >= col("es_h") && col("fr_h") >= col("de_h"), "fr")
          .when(col("es_h") >= col("de_h"), "es")
          .otherwise("de"))
      .select(
        col("doc_id"), col("lang_pred"),
        round(col("en_h").cast("double") / size(col("toks")), 6).as("en_ratio"),
        round(col("fr_h").cast("double") / size(col("toks")), 6).as("fr_ratio"))
      .orderBy("doc_id")
  }

  /** t01: gate binding of [[langId]] to the `documents` table. */
  def t01LangId(s: SparkSession, dir: String): DataFrame =
    langId(Tables.documents(s, dir))

  /** Document quality features + composite score over any documents
    * frame: length saturation, vocabulary diversity, stopword presence —
    * the standard cheap pre-training quality gates.
    */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      keepCols: Seq[String] = Nil): DataFrame = {
    val enList = inList(stopwords.head._2)
    val keep = keepCols.map(Cols.q)
    normalized(docs, idCol, textCol, keep)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_alpha_chars", length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("stop_hits", expr(s"size(filter(toks, x -> x IN $enList))").cast("long"))
      .select(col("doc_id") +: col("n_tokens") +:
        round(col("n_alpha_chars").cast("double") / col("n_tokens"), 6).as("avg_token_len") +:
        round(col("n_uniq").cast("double") / col("n_tokens"), 6).as("uniq_ratio") +:
        round(col("stop_hits").cast("double") / col("n_tokens"), 6).as("stop_ratio") +:
        round(
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.4
            + (col("n_uniq").cast("double") / col("n_tokens")) * 0.3
            + least(col("stop_hits").cast("double") / col("n_tokens") * 5.0, lit(1.0)) * 0.3,
          6).as("quality") +: keep: _*)
    // no presentation sort here: the library form composes (q25, t10
    // feed windows/aggs that re-partition anyway); t02 orders at the
    // gate binding
  }

  /** t02: gate binding of [[qualityScore]]. */
  def t02QualityScore(s: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.documents(s, dir)).orderBy("doc_id")

  /** Token counting three ways over any documents frame — whitespace
    * split, alpha-run regex (BPE-ish subword proxy), and the chars/4 BPE
    * estimate every LLM pipeline uses for budget math.
    */
  def tokenCount(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("alpha_tokens"),
        ceil(length(col("text")).cast("double") / 4.0).cast("long").as("bpe_est"))
      .orderBy("doc_id")

  /** t03: gate binding of [[tokenCount]]. */
  def t03TokenCount(s: SparkSession, dir: String): DataFrame =
    tokenCount(Tables.documents(s, dir))

  /** Rolling polynomial fingerprint over tokens:
    * fold(acc * 31 + h(token), start 0) mod 2^56, where h(token) is the
    * first 8 md5 hex digits as an integer (engine-portable, unlike
    * xxhash64 which this replaced). Order-sensitive (unlike a
    * bag-of-words hash) so token swaps change the fingerprint.
    * Computed by the native codegen'd `graft_fingerprint` expression —
    * one static call inside the scan; the equivalent
    * aggregate/transform HOF would de-codegen the stage (see
    * functions/Fingerprint.scala, which also pins bit-identity to the
    * HOF form in TextSpec). Fully oracle-checked (DuckDB list_reduce
    * twin).
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .select(
        col("doc_id"),
        graft.functions.Fingerprint.fingerprint(docs.sparkSession, col("text")).as("fingerprint"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  /** t04: gate binding of [[fingerprint]]. */
  def t04Fingerprint(s: SparkSession, dir: String): DataFrame =
    fingerprint(Tables.documents(s, dir))

  /** One packed document: bin_id groups docs whose token counts sum to
    * at most the budget (a single over-budget doc gets its own bin).
    */
  case class PackedDoc(doc_id: Long, n_tokens: Long, bin_id: Long)

  /** Sequence packing over any documents frame: greedy-pack docs into
    * bins of at most `budgetTokens` whitespace tokens — the batch
    * construction step of every pretraining pipeline (fill each context
    * window, waste nothing).
    *
    * Global greedy packing is inherently sequential, so the scalable
    * formulation shards first: shard = doc_id mod `nShards`, then each
    * shard is packed independently by a doc_id-ordered greedy fold
    * (`flatMapSortedGroups` — grouped per SHARD, not per partition, so
    * the result is a pure function of (input, nShards, budget): no
    * dependence on Spark's hash partitioning, cluster layout, or
    * engine. Earlier this used mapPartitions keyed by partition id,
    * which silently tied bin ids to the engine's shard-to-partition
    * hash). Bin ids are (shard << 40 | local bin). One shuffle (the
    * groupBy), O(1) fold state per shard.
    */
  def packSequences(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      budgetTokens: Long = 2048L, nShards: Int = 32): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    normalized(docs, idCol, textCol)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapSortedGroups(col("doc_id")) { (shard: Long, rows: Iterator[(Long, Long, Long)]) =>
        var localBin = 0L
        var used = 0L
        var first = true
        rows.map { case (id, n, _) =>
          if (!first && used + n > budgetTokens) { localBin += 1; used = 0L }
          first = false
          used += n
          PackedDoc(id, n, (shard << 40) | localBin)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** t05: gate binding of [[packSequences]] — fully oracle-checked (the
    * shard hash and greedy fold are portable integer math; the DuckDB
    * twin is a recursive CTE); TextSpec additionally asserts the budget
    * invariant, completeness, and determinism.
    */
  def t05PackSequences(s: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(s, dir))

  /** Repetition statistics per document — the cheap repetition filters
    * (modal-word share, duplicate-bigram share) every pretraining
    * quality pipeline applies before anything expensive. Outputs are
    * raw integer counts, not ratios: every ratio shares the per-doc
    * denominator, so the counts carry the same information and hash
    * exactly against any engine (no float-division/rounding trap).
    *
    * Scale shape: bigram stats are per-row map-only (native codegen'd
    * `word_shingles`, no shuffle); modal-word count is the classic
    * two-level word-count — explode to (doc, word), map-side-combined
    * count, then a per-doc max/sum over the already-tiny counts. The
    * bigram scalars ride through the explode as constants (any_value)
    * so no join-back is needed. A doc with no words keeps a row via
    * explode_outer (all counts 0).
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    normalized(docs, idCol, textCol)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .withColumn("n_2grams", greatest(size(col("toks")) - 1, lit(0)).cast("long"))
      .withColumn("n_uniq_2grams",
        size(array_distinct(graft.functions.WordShingles.shingles(s, col("toks"), 2))).cast("long"))
      .select(col("doc_id"), col("n_2grams"), col("n_uniq_2grams"),
        explode_outer(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(col("w")).as("c"),
        any_value(col("n_2grams")).as("g"), any_value(col("n_uniq_2grams")).as("u"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast("long").as("n_words"),
        max(col("c")).cast("long").as("top_word_n"),
        any_value(col("g")).as("n_2grams"),
        any_value(col("u")).as("n_uniq_2grams"))
      .orderBy("doc_id")
  }

  /** t06: gate binding of [[repetitionStats]]. */
  def t06RepetitionStats(s: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(s, dir))

  /** Text canonicalization — the normalization step that runs BEFORE
    * exact dedup so visually identical documents hash identically:
    * Unicode NFC composition (native `graft_nfc`; é as one code point,
    * not e + combining acute), lowercase, collapse every whitespace run
    * to one space, trim. Map-only, fully inside whole-stage codegen.
    * `nfc = false` skips the composition pass for corpora known to be
    * ASCII/already-composed.
    */
  def normalizeText(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", nfc: Boolean = true): DataFrame = {
    val s = docs.sparkSession
    val base = normalized(docs, idCol, textCol)
    val composed = if (nfc) graft.functions.NfcNormalize.nfc(s, col("text")) else col("text")
    base.select(col("doc_id"),
      trim(regexp_replace(lower(composed), "\\s+", " ")).as("norm_text"))
  }

  /** t07: gate binding of [[normalizeText]] with the char count. Fully
    * oracled: NFC is the identity on the ASCII corpus, and
    * lower/regexp_replace('\s+')/trim/length agree between engines
    * (TextSpec proves the non-ASCII composition semantics on planted
    * strings).
    */
  def t07Normalize(s: SparkSession, dir: String): DataFrame =
    normalizeText(Tables.documents(s, dir))
      .withColumn("n_chars", length(col("norm_text")).cast("long"))
      .orderBy("doc_id")

  /** Cross-document repeated-span detection — the boilerplate filter
    * (headers, footers, templates) web-corpus pipelines run before
    * training: every distinct `w`-token span per doc, a document
    * frequency per span, and per doc the count of spans shared by at
    * least `minDocs` documents. A high shared fraction marks
    * boilerplate-heavy docs.
    *
    * Scale shape: span generation is map-only (native `word_shingles`
    * inside the scan, distinct per doc); the document frequency is a
    * WINDOW count over the span key — ONE shuffle of the span pairs
    * serving both the frequency and the rollup, one corpus pass (the
    * agg+join formulation this replaced planned two separate exchanges
    * of the same explode because the frequency side's null filter
    * defeated exchange reuse). The window's row buffer spills under a
    * degenerate hot span — disk churn, never an executor (the same
    * d02/d08 house rule for blocking keys); the per-doc rollup is a
    * mergeable agg. Integer outputs hash exactly against the oracle.
    * Docs shorter than `w` tokens keep a zero row via explode_outer,
    * and each such null-span row is windowed under its OWN sentinel key
    * (doc_id-derived) — at corpus scale the short docs would otherwise
    * all land in one NULL window partition, a guaranteed single-task
    * straggler rather than the spillable per-key skew above. The null
    * span still counts 0 everywhere (count/sum guards ignore it).
    */
  def boilerplateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 5, minDocs: Int = 2): DataFrame = {
    // minDocs < 1 would count a short doc's null span as "shared"
    // (ndocs = 0 in its window partition), and a 1-doc threshold marks
    // every span shared — neither is a meaningful boilerplate filter
    require(w >= 1 && minDocs >= 2,
      s"boilerplateSpans needs w >= 1 and minDocs >= 2, got w=$w minDocs=$minDocs")
    val s = docs.sparkSession
    // per-short-doc sentinel window key: real spans are space-joined
    // non-empty tokens, so a NUL-framed key cannot collide with one
    val windowKey = coalesce(col("span"),
      concat(lit("\u0000short\u0000"), col("doc_id").cast("string")))
    normalized(docs, idCol, textCol)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"),
        explode_outer(array_distinct(
          graft.functions.WordShingles.shingles(s, col("toks"), w))).as("span"))
      .withColumn("ndocs", count(col("span")).over(Window.partitionBy(windowKey)))
      .groupBy("doc_id")
      .agg(
        count(col("span")).as("n_spans"),
        sum(when(col("span").isNotNull && col("ndocs") >= minDocs, 1L)
          .otherwise(0L)).as("n_shared_spans"))
      .orderBy("doc_id")
  }

  /** t09: gate binding of [[boilerplateSpans]] (5-token spans, shared =
    * appearing in >= 2 docs). Fully oracled: span construction, COUNT
    * document frequency, and the CASE rollup are identical integer
    * math in the DuckDB twin.
    */
  def t09BoilerplateSpans(s: SparkSession, dir: String): DataFrame =
    boilerplateSpans(Tables.documents(s, dir))

  /** Quality-quantile bucket assignment — the curriculum / quality-mix
    * step (sample bucket 9 more than bucket 0, or train high-quality
    * last): bucket = (docs with strictly lower quality) * nBuckets DIV
    * total, so equal-quality docs always share a bucket and the math is
    * pure integers (engine-exact).
    *
    * Deliberately NOT a global ntile: ntile needs one totally-ordered
    * partition — a single-task sort of the corpus at 100 TB. Here the
    * corpus-sized passes are one mergeable groupBy on the QUANTIZED
    * quality value and a broadcast join back; only the tiny histogram
    * crosses a single-partition window (the same shape as q21's
    * totals). `gridDp` makes the histogram's cardinality bound
    * explicit: quality lives in [0, 1], so the single-window side holds
    * at most 10^gridDp + 1 rows BY CONSTRUCTION at any corpus size —
    * 10^6 at the default (fine for one task), 10^4 if a caller wants
    * the histogram negligible. Equal-quality docs share a bucket at
    * every grid (equal quality ⇒ equal key); a coarser grid only merges
    * near-equal neighbors into the same bucket boundary decision.
    */
  def qualityBuckets(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", nBuckets: Int = 10, gridDp: Int = 6): DataFrame = {
    require(nBuckets >= 1, s"qualityBuckets needs nBuckets >= 1, got $nBuckets")
    // quality is already rounded to 6 dp by qualityScore, so > 6 would
    // silently be the 6-dp grid; keep the declared bound honest
    require(gridDp >= 0 && gridDp <= 6,
      s"qualityBuckets needs 0 <= gridDp <= 6, got $gridDp")
    val q = qualityScore(docs, idCol, textCol)
      .select(col("doc_id"), col("quality"), round(col("quality"), gridDp).as("qkey"))
    val hist = q.groupBy(col("qkey")).agg(count(lit(1)).as("c"))
    val wLo = Window.orderBy("qkey").rowsBetween(Window.unboundedPreceding, -1)
    val thresholds = hist
      .withColumn("rank_lo", coalesce(sum(col("c")).over(wLo), lit(0L)))
      .withColumn("total", sum(col("c")).over(Window.partitionBy()))
      .select(col("qkey"),
        expr(s"(rank_lo * $nBuckets) DIV total").as("bucket"))
    q.join(broadcast(thresholds), Seq("qkey"))
      .select(col("doc_id"), col("quality"), col("bucket"))
      .orderBy("doc_id")
  }

  /** t10: gate binding of [[qualityBuckets]] (deciles). Fully oracled:
    * the DuckDB twin shares the rounded-quality histogram and the
    * integer DIV bucket rule.
    */
  def t10QualityBuckets(s: SparkSession, dir: String): DataFrame =
    qualityBuckets(Tables.documents(s, dir))

  /** Corpus vocabulary statistics — the tokenizer-prep step (vocab
    * construction, OOV-rate estimation): the `topK` most frequent words
    * with occurrence counts and cumulative coverage of all word
    * occurrences. Counts stay integers (cum_count / total_count) so the
    * oracle hashes exactly; coverage ratios are one division away for
    * callers.
    *
    * Scale shape: two-level word count (explode → mergeable groupBy —
    * the map-side partials absorb the explode), then the top-k is an
    * ORDER BY + LIMIT over the word-count table — Spark plans
    * TakeOrdered (per-partition heaps + driver merge of k rows), never
    * a corpus-wide sort — and only the k selected rows cross the
    * cumulative window.
    */
  def corpusVocab(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Int = 100): DataFrame = {
    val counts = normalized(docs, idCol, textCol)
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("word").asc).limit(topK)
    val wCum = Window.orderBy(col("n").desc, col("word").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("total_count"))))
      .withColumn("vocab_rank", row_number().over(
        Window.orderBy(col("n").desc, col("word").asc)))
      .withColumn("cum_count", sum(col("n")).over(wCum))
      .select(col("vocab_rank"), col("word"), col("n"), col("cum_count"),
        col("total_count"))
      .orderBy("vocab_rank")
  }

  /** t11: gate binding of [[corpusVocab]] (top 100). Fully oracled:
    * integer counts, deterministic (count desc, word asc) order.
    */
  def t11CorpusVocab(s: SparkSession, dir: String): DataFrame =
    corpusVocab(Tables.documents(s, dir))

  /** PII patterns — deliberately SYNTACTIC (no 0-255 octet or TLD
    * validation): scrubbing favors recall, and every pattern stays in
    * the regex subset Java and RE2 (DuckDB) match identically, so the
    * operator is engine-portable and fully oracle-checkable.
    */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction over any documents frame — the scrubbing pass every
    * training-data pipeline runs before text ships anywhere: emails,
    * phone numbers (123-456-7890 / 123.456.7890), and IPv4 literals
    * replaced by <EMAIL>/<PHONE>/<IP> placeholder tokens, with a count
    * per category. The three passes are STAGED (emails first, then
    * phones on the email-redacted text, then IPs) so each count is
    * exactly what its pass replaced and a dotted phone can never be
    * half-eaten as an IP. Map-only: three regexp_replace + three
    * regexp_count projections inside the scan, no shuffle except the
    * deterministic presentation sort.
    */
  def redactPii(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .withColumn("n_emails", regexp_count(col("text"), lit(EmailRe)).cast("long"))
      .withColumn("t1", regexp_replace(col("text"), EmailRe, "<EMAIL>"))
      .withColumn("n_phones", regexp_count(col("t1"), lit(PhoneRe)).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), PhoneRe, "<PHONE>"))
      .withColumn("n_ips", regexp_count(col("t2"), lit(IpRe)).cast("long"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        regexp_replace(col("t2"), IpRe, "<IP>").as("redacted"))
      .orderBy("doc_id")

  /** t08: gate binding of [[redactPii]]. The synthetic corpus contains
    * no natural PII, so redacting it raw would oracle only the identity
    * path; instead the gate appends a DETERMINISTIC contact suffix
    * (email, dashed phone, IPv4 — all derived from doc_id with integer
    * math both engines share) and redacts that. The DuckDB twin builds
    * the identical suffix, so the oracle hash-checks real match+replace
    * semantics on every row; TextSpec covers the planted edge cases
    * (multiple hits, dotted phones, boundaries, non-matches).
    */
  def t08PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val injected = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string")).as("text"))
    redactPii(injected)
  }

  // -----------------------------------------------------------------
  // t12: BPE merge-rule training (tokenizer prep — the learned
  // counterpart of t03's fixed BPE-ish regex and t11's vocab stats)
  // -----------------------------------------------------------------

  /** Greedy left-to-right application of ONE merge rule (a, b) → a+b
    * inside a symbol array, as a pure Catalyst fold (`aggregate` over
    * the array — native higher-order function, no UDF): standard BPE
    * merge semantics — non-overlapping, left to right ("aaaa" under
    * (a,a) becomes "aa","aa"), and the freshly merged symbol only
    * pairs up again in LATER rounds, exactly like the per-round
    * re-scan of Sennrich-style BPE (reference: Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units").
    */
  private def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Word → initial BPE symbols: characters plus the standard `</w>`
    * end-of-word marker.
    */
  private def initialSyms(word: Column): Column =
    concat(filter(split(word, ""), s => s =!= ""), array(lit("</w>")))

  /** BPE merge-rule training over any documents frame: learn the first
    * `nMerges` byte-pair merges of the corpus — `(merge_rank, left,
    * right, merged, pair_count)`, the merge table a subword tokenizer
    * is built from.
    *
    * Scale shape (the reason BPE training is feasible at 100 TB at
    * all): the corpus is touched EXACTLY ONCE, by the same two-level
    * map-side-combined word count t11 uses; everything after runs on
    * the distinct-word vocabulary table (millions of rows at corpus
    * scale, never corpus-sized), each word carried as its symbol array
    * plus its frequency. Each round is (1) a vocab-scale adjacent-pair
    * count — `arrays_zip` of the symbol array with its own tail,
    * explode, one mergeable sum agg weighted by word frequency; (2) a
    * single-row TakeOrdered argmax to the driver (the same per-round
    * driver round-trip Lloyd training pays in `trainIvfCodebook`, one
    * row each); (3) a map-only [[mergeFold]] projection rewriting the
    * symbol arrays. Lineage is cut per round via the tracked
    * `IterativeCheckpoint` (superseded generations released
    * immediately), so `nMerges` rounds never stack plans.
    *
    * Determinism: integer counts and a total (count desc, left asc,
    * right asc) tie-break make the learned table independent of
    * partitioning and engine. Training stops early when no adjacent
    * pair reaches `minPairCount` (merging singletons teaches nothing).
    *
    * Scale recipe: each merge is inherently one driver round-trip
    * (exact Sennrich BPE is sequential in the rank order), so a
    * realistic vocabulary (30k+ merges) does NOT train on the full
    * corpus — train on a deterministic sample (the q19/q20 machinery:
    * `deterministicSplit` / `stratifiedSample`) with bounded
    * `nMerges`, exactly the t13/t14 train-on-sample guidance, then
    * [[bpeEncode]] the full corpus: encoding carries the whole table
    * in one native expression and is map-only at any merge count.
    * LibraryApiSpec pins the composition over a q20 sample.
    *
    * BATCHED merge rounds (`batch` > 1): each driver round-trip selects
    * up to `batch` SYMBOL-DISJOINT merges from the ranked pair counts
    * and applies them in one vocabulary pass, cutting the round-trips
    * (and Spark jobs) from `nMerges` to ≈`nMerges/batch` — the knob
    * that matters when a realistic vocabulary costs thousands of tiny
    * jobs at one merge each. What stays exact: merging (a,b) only
    * changes adjacent-pair counts involving `a` or `b`, so every pair
    * chosen under the disjointness rule (no shared lhs/rhs/merged
    * symbol within the batch) has a count unaffected by its
    * batch-mates — each recorded `pair_count` is the true corpus count
    * at its own application point, and the batch applies
    * order-independently. What changes vs pure greedy (`batch` = 1, the
    * default and the t12 gate): a batch cannot pick a pair INVOLVING a
    * symbol created earlier in the same batch (greedy rank order
    * interleaves those), so the learned table can deviate from
    * Sennrich rank order — TextSpec gates that trade on tokens at a
    * real budget, and SURVEY §5 has the measured adjudication
    * (wall-clock vs table fidelity) against the train-on-sample recipe.
    * The candidate ranking, the greedy disjoint-prefix selection and
    * the fold order are all total-ordered, so a batched table is
    * partition- and rerun-independent too.
    */
  def bpeTrain(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      nMerges: Int = 10, minPairCount: Long = 2L, batch: Int = 1): DataFrame = {
    require(nMerges > 0, "bpeTrain needs nMerges > 0")
    require(minPairCount >= 1L, "bpeTrain needs minPairCount >= 1")
    require(batch >= 1, "bpeTrain needs batch >= 1")
    val sp = docs.sparkSession
    import sp.implicits._
    val vocab = normalized(docs, idCol, textCol)
      .select(explode(expr("filter(split(text, ' '), x -> x != '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(initialSyms(col("word")).as("syms"), col("n"))
    var gen = IterativeCheckpoint(vocab)
    var merges = Vector.empty[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val want = math.min(batch, nMerges - rank + 1)
      // over-fetch: disjointness thins the ranked prefix (adjacent
      // ranks often share a hot symbol), so pull 4x and select
      val top = gen.df
        .select(col("n"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("n")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(4 * want).collect()
        .filter(_.getLong(2) >= minPairCount)
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        for (r <- top if chosen.size < want) {
          val (a, b) = (r.getString(0), r.getString(1))
          if (!used(a) && !used(b) && !used(a + b)) {
            chosen += ((a, b, r.getLong(2)))
            used ++= Seq(a, b, a + b)
          }
        }
        for ((a, b, c) <- chosen) {
          merges :+= ((rank, a, b, a + b, c))
          rank += 1
        }
        val folded = chosen.foldLeft(col("syms")) {
          case (acc, (a, b, _)) => mergeFold(acc, a, b)
        }
        val next = IterativeCheckpoint(gen.df.withColumn("syms", folded))
        gen.release()
        gen = next
      }
    }
    gen.release()
    merges.toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** Apply a learned merge table to any documents frame: each doc's
    * words become BPE symbol arrays (merges applied in rank order,
    * [[mergeFold]] semantics), flattened to one `tokens` array per doc
    * plus its length — the learned-tokenizer counterpart of t03's
    * fixed regex count. Map-only: the whole encode is ONE native
    * expression ([[graft.functions.BpeEncode]]) inside the scan
    * projection carrying the entire merge table as a driver-held
    * model, so plan size and analysis cost are independent of the
    * merge count — a realistic 30k-merge tokenizer encodes with the
    * same plan as a 10-merge one (the nested-fold formulation it
    * replaces, kept below as [[bpeEncodeFold]], nests one `aggregate`
    * lambda per rule and stops analyzing long before that). No shuffle
    * except the presentation sort.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val model = new graft.functions.BpeModel(
      merges.map(_._1).toArray, merges.map(_._2).toArray)
    normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        graft.functions.BpeEncode.encode(docs.sparkSession,
          expr("filter(split(text, ' '), x -> x != '')"), model).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
      .orderBy("doc_id")
  }

  /** The pure-Catalyst encode the native expression replaced: one
    * nested `aggregate` fold per merge rule. Kept (package-private) as
    * the independent formulation TextSpec pins [[bpeEncode]] against —
    * usable only at small merge counts by construction.
    */
  private[graft] def bpeEncodeFold(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        flatten(transform(
          expr("filter(split(text, ' '), x -> x != '')"),
          w => merges.foldLeft(initialSyms(w)) {
            case (syms, (a, b)) => mergeFold(syms, a, b)
          })).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
      .orderBy("doc_id")

  /** t12: gate binding of [[bpeTrain]] — the first 10 merges of the
    * documents corpus. Rows-only in the driver gate by design: the
    * merge loop's argmax-dependent iteration has no tractable
    * single-SQL twin (a recursive CTE would re-derive BPE itself);
    * TextSpec instead pins the operator row-for-row against an
    * independent driver-side reference implementation, plus the
    * non-increasing-best-count invariant and partition independence.
    */
  def t12BpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrain(Tables.documents(s, dir))

  /** The fixed 18-merge English table t19 encodes with — a released
    * tokenizer applied as-is (the common production case: the merge
    * table ships with the model; training happened once, elsewhere).
    * Any fixed rank order is a valid tokenizer; this one covers the
    * highest-frequency English letter pairs so every document
    * genuinely exercises multi-level merges (th→the, in→ing).
    */
  private[graft] val t19Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("an", "d"), ("e", "n"), ("o", "r"),
    ("e", "s"), ("a", "t"), ("o", "u"), ("i", "t"), ("i", "s"),
    ("o", "f"), ("t", "o"), ("in", "g"))

  /** t19: gate binding of [[bpeEncode]] — every document tokenized
    * with the fixed [[t19Merges]] table; per doc the token count plus
    * an md5 signature of the token sequence (the full arrays would
    * dominate the gate parquet for no extra discriminating power —
    * the signature pins every token in order). Rows-only in the
    * driver gate by design: greedy rank-order merge application has
    * no tractable single-SQL twin; TextSpec pins the native encode
    * against the independent nested-fold formulation, word
    * reconstruction, and this binding's signature determinism.
    */
  def t19BpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncode(Tables.documents(s, dir), t19Merges)
      .select(col("doc_id"), col("n_tokens"),
        md5(concat_ws(" ", col("tokens")).cast("binary")).as("tokens_sig"))
      .orderBy("doc_id")

  /** Flesch reading-ease per document — the curriculum/difficulty
    * signal next to t02's structural quality score: pretraining mixes
    * are routinely staged easy→hard, and a floor on reading ease is a
    * cheap boilerplate/gibberish filter of its own. Counts are the
    * classic approximations, chosen RE2-portable so both engines count
    * identically: sentences = runs of `[.!?]` (min 1 — a fragment is
    * one sentence), words = alphabetic runs, syllables = vowel-group
    * runs (`[aeiouyAEIOUY]+`, the standard heuristic); `flesch =
    * 206.835 − 1.015·(words/sentence) − 84.6·(syllables/word)`, null
    * on wordless docs. The `band` label (easy ≥60 > standard ≥30 >
    * difficult) cuts on the ROUNDED score so engines agree at the
    * boundary. Every count is one `regexp_extract_all` length in the
    * scan projection — map-only, no shuffle but the presentation sort,
    * and the divisions of exact BIGINT counts are bit-identical IEEE.
    */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .withColumn("n_sentences", greatest(
        size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"), lit(1L)))
      .withColumn("n_words",
        size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)")).cast("long"))
      .withColumn("n_syllables",
        size(expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)")).cast("long"))
      .withColumn("flesch",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double")
              / col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double")
              / col("n_words").cast("double")), 6)))
      .withColumn("band",
        when(col("flesch").isNull, lit("empty"))
          .when(col("flesch") >= 60.0, lit("easy"))
          .when(col("flesch") >= 30.0, lit("standard"))
          .otherwise(lit("difficult")))
      .select("doc_id", "n_sentences", "n_words", "n_syllables", "flesch", "band")

  /** t20: gate binding of [[readability]] over documents. Fully
    * SQL-oracled: the three RE2-portable counts and the Flesch linear
    * form restate exactly in DuckDB; the band cuts on the rounded
    * score on both engines.
    */
  def t20Readability(s: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(s, dir)).orderBy("doc_id")

  /** Code-vs-prose detection — the corpus-routing signal a mixed crawl
    * needs before language-specific processing (code gets different
    * dedup granularity, tokenization, and quality rules than prose;
    * misrouted code also poisons t01's stopword language ID). Four
    * cheap engine-portable signals per doc: code-punctuation density
    * (`[{}();=<>]` runs of the characters prose barely uses),
    * keyword-marker density (`def |function |return |import |class
    * |void |#include |const `), indented-line ratio (lines opening
    * with two spaces or a tab — substring-replace ARITHMETIC, not
    * multiline regex, whose flag semantics differ across engines),
    * and semicolon density. `code_score` is their fixed-weight sum;
    * `is_code` cuts the ROUNDED score at the threshold. Every signal
    * is substring/regexp counting fused into the scan projection —
    * map-only, the corpus is touched once — and the densities are
    * divisions of exact BIGINT counts (bit-identical IEEE).
    */
  def codeDetect(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.05): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    // non-overlapping occurrence count via replace-arithmetic; the
    // pattern is a REGEX spelled `\n`-escaped so the engines' string
    // literal rules never matter (Java and RE2 both read \n as newline)
    def occurrences(pattern: String, width: Int) =
      ((length(col("text")) - length(regexp_replace(col("text"), pattern, "")))
        / width).cast("long")
    normalized(docs, idCol, textCol)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_lines", lit(1L) + occurrences("\\n", 1))
      .withColumn("punct_hits",
        size(expr("regexp_extract_all(text, '[{}();=<>]', 0)")).cast("long"))
      .withColumn("kw_hits", size(expr(
        "regexp_extract_all(text, 'def |function |return |import |class |void |#include |const ', 0)"))
        .cast("long"))
      .withColumn("indent_lines",
        occurrences("\\n  ", 3) + occurrences("\\n\\t", 2))
      .withColumn("semi_hits", occurrences(";", 1))
      .withColumn("code_score",
        when(col("n_chars") === 0, lit(null).cast("double"))
          .otherwise(round(
            lit(10.0) * (col("punct_hits").cast("double") / col("n_chars").cast("double"))
              + lit(10.0) * (col("kw_hits").cast("double") / col("n_chars").cast("double"))
              + lit(5.0) * (col("indent_lines").cast("double") / col("n_lines").cast("double"))
              + lit(5.0) * (col("semi_hits").cast("double") / col("n_chars").cast("double")),
            6)))
      .withColumn("is_code",
        when(col("code_score").isNull, lit(false))
          .otherwise(col("code_score") > threshold))
      .select("doc_id", "n_lines", "punct_hits", "kw_hits", "indent_lines",
        "semi_hits", "code_score", "is_code")
  }

  /** t21: gate binding of [[codeDetect]] over documents. Fully
    * SQL-oracled: the replace-arithmetic line counts, the RE2-portable
    * regexp counts, and the fixed-weight score restate exactly in
    * DuckDB; the flag cuts on the rounded score on both engines.
    */
  def t21CodeDetect(s: SparkSession, dir: String): DataFrame =
    codeDetect(Tables.documents(s, dir)).orderBy("doc_id")

  // -----------------------------------------------------------------
  // t13: model-based quality classifier — the learned (CCNet/GPT-3-
  // style) quality filter next to t02's hand-rolled score: logistic
  // regression trained IN-ENGINE by full-batch gradient descent
  // -----------------------------------------------------------------

  /** Per-doc feature vector for the learned quality classifier: bias
    * plus four bounded t02-style signals (capped length, capped avg
    * token length, unique-token ratio, capped stopword ratio), each in
    * [0, 1] so no per-feature standardization pass is needed. Map-only;
    * `extraCols` pass through untouched (e.g. a label source).
    */
  def qualityFeatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", extraCols: Seq[String] = Nil): DataFrame = {
    val enList = inList(stopwords.head._2)
    docs.select(Seq(Cols.q(idCol).as("doc_id"), Cols.q(textCol).as("text")) ++
        extraCols.map(Cols.q): _*)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("n_alpha_chars", length(regexp_replace(col("text"), " ", "")).cast("double"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("double"))
      .withColumn("stop_hits", expr(s"size(filter(toks, x -> x IN $enList))").cast("double"))
      .select(Seq(col("doc_id"), array(
        lit(1.0),
        least(col("n_tokens") / 100.0, lit(1.0)),
        least(col("n_alpha_chars") / col("n_tokens") / 10.0, lit(1.0)),
        col("n_uniq") / col("n_tokens"),
        least(col("stop_hits") / col("n_tokens") * 5.0, lit(1.0))).as("features")) ++
        extraCols.map(Cols.q): _*)
  }

  /** Sigmoid of the feature·weights dot product, the weights inlined as
    * literals (they are driver-held between epochs, like Lloyd
    * centroids) — a per-row `zip_with` + fold, map-only in the scan.
    */
  private def sigmoidScore(featuresCol: Column, weights: Seq[Double]): Column = {
    // typedLit, not array(lit…): one ArrayType literal lands in the
    // codegen references array, so the generated source is IDENTICAL
    // across epochs and the Janino compile happens once per JVM —
    // per-double lit()s are source-embedded constants and every epoch's
    // new weights forced a fresh whole-stage compile (20 epochs ×
    // ~40 ms, measured ~0.5 s/rep at sf0.1). Same values, same zip_with
    // fold order → bit-identical scores.
    val dot = aggregate(
      zip_with(featuresCol, typedLit(weights), (a, b) => a * b),
      lit(0.0), (acc, v) => acc + v)
    lit(1.0) / (lit(1.0) + exp(-dot))
  }

  /** Train a logistic-regression quality classifier by full-batch
    * gradient descent, in-engine: each epoch is ONE mergeable
    * aggregation over the (cached) feature frame — every gradient
    * component is a SUM of `x_j * (sigmoid(w·x) − y)` with the product
    * cast to DECIMAL(30,15) BEFORE summing, so the per-epoch gradient
    * is exact and order-independent and training is bit-deterministic
    * under any partitioning (the float-sum policy of q01, applied to
    * model training). The d+1 gradient sums and the row count ride one
    * agg; only that single row reaches the driver per epoch (the Lloyd
    * round-trip shape). At 100 TB you train on a deterministic sample
    * (q19/q20 machinery) and score the full corpus — scoring is
    * map-only ([[sigmoidScore]]).
    *
    * Returns the learned weights, bias first (index 0 = the `1.0`
    * feature [[qualityFeatures]] emits).
    */
  def trainQualityClassifier(feats: DataFrame, labelCol: String = "label",
      featuresCol: String = "features", epochs: Int = 20, lr: Double = 2.0): Array[Double] = {
    require(epochs > 0, "trainQualityClassifier needs epochs > 0")
    require(lr > 0.0, "trainQualityClassifier needs lr > 0")
    val head = feats.select(size(Cols.q(featuresCol))).take(1)
    require(head.nonEmpty, "trainQualityClassifier needs a non-empty feature frame")
    val d = head(0).getInt(0)
    // r18 (guide §1.2 — the per-task work was trivial, the cost was
    // orchestration): each epoch was a whole-stage-codegen'd TWO-stage
    // agg job (partial agg → exchange → final agg) over the cached
    // frame — 20 sequential jobs paid 20× the job/stage scheduling
    // floor (~90 ms each at sf0.1). The epochs are inherently
    // sequential (epoch k+1's sigmoid needs epoch k's weights), so the
    // fix is cheaper epochs, not fewer: the feature frame converts ONCE
    // to a persisted RDD of (features, label) and each epoch is a
    // single-STAGE `rdd.aggregate` — per-partition gradients return as
    // task results and merge on the driver (d+1 numbers per partition,
    // the same Lloyd-style round-trip as before; no exchange, no
    // final-agg stage, no per-epoch codegen). Still fully distributed:
    // every partition folds its own rows, the driver merges partials.
    //
    // The arithmetic replicates the SQL agg it replaced BIT-EXACTLY:
    // same left-fold dot product, StrictMath.exp sigmoid (Spark's
    // `exp`; the Math.exp intrinsic can differ in the last ulp), same double
    // product x_j * r, the same Cast(double → DECIMAL(30,15))
    // per-element quantization (java.math.BigDecimal.valueOf is the
    // same shortest-decimal-representation semantics, HALF_UP at scale
    // 15), exact BigDecimal sums (order-independent, so partitioning-
    // independent like before), and the same lr*g/n driver update.
    // Null/width semantics match the old column expressions: a row
    // whose features are null, contain a null, or are LONGER than d
    // (zip_with pads the weights with null → null dot → null products)
    // contributes only to n; a row SHORTER than d fails loudly (the
    // old element_at(x, j+1) threw under ANSI). TextSpec pins
    // partition-independence and bit-equal weights against the SQL
    // aggregate on a random frame with all of those rows.
    val data = feats
      .select(Cols.q(featuresCol).as("x"), Cols.q(labelCol).cast("double").as("y"))
      .rdd.map { r =>
        val xs: Array[java.lang.Double] =
          if (r.isNullAt(0)) null
          else r.getSeq[java.lang.Double](0).toArray
        val y: java.lang.Double = if (r.isNullAt(1)) null else r.getDouble(1)
        (xs, y)
      }
      .persist()
    try {
      val w = Array.fill(d)(0.0)
      for (_ <- 1 to epochs) {
        val ws = w.clone()
        val zero = (Array.fill(d)(java.math.BigDecimal.ZERO), 0L)
        val (sums, n) = data.aggregate(zero)(
          { case ((acc, cnt), (xs, y)) =>
            if (xs != null && xs.length < d)
              throw new IllegalStateException(
                s"trainQualityClassifier: feature array of length ${xs.length} < $d")
            val full = xs != null && y != null && xs.length == d &&
              !xs.exists(_ eq null)
            if (full) {
              var dot = 0.0
              var i = 0
              while (i < d) { dot += xs(i) * ws(i); i += 1 }
              val rr = 1.0 / (1.0 + StrictMath.exp(-dot)) - y
              var j = 0
              while (j < d) {
                acc(j) = acc(j).add(java.math.BigDecimal.valueOf(xs(j) * rr)
                  .setScale(15, java.math.RoundingMode.HALF_UP))
                j += 1
              }
            }
            (acc, cnt + 1L)
          },
          { case ((a, na), (b, nb)) =>
            var j = 0
            while (j < d) { a(j) = a(j).add(b(j)); j += 1 }
            (a, na + nb)
          })
        for (j <- 0 until d)
          w(j) -= lr * sums(j).doubleValue() / n
      }
      w
    } finally {
      data.unpersist()
      ()
    }
  }

  /** Score any feature frame with learned weights: per-doc sigmoid
    * probability — map-only, no shuffle.
    */
  def scoreQuality(feats: DataFrame, weights: Seq[Double],
      featuresCol: String = "features"): DataFrame =
    feats.withColumn("score", sigmoidScore(Cols.q(featuresCol), weights))

  /** t13: gate binding — train on the corpus against a deterministic
    * is-long-document label (n_chars > 306, the corpus median: balanced
    * and genuinely learnable from the capped length feature), score
    * every doc, emit (doc_id, label, score, pred). Rows-only in the
    * driver gate (learned float weights are engine-local); TextSpec
    * pins a perfectly-separable fit, bit-exact partition independence
    * of training, and end-to-end gate accuracy.
    */
  def t13QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val feats = qualityFeatures(Tables.documents(s, dir), extraCols = Seq("n_chars"))
      .withColumn("label", (col("n_chars") > 306L).cast("int"))
    val w = trainQualityClassifier(feats)
    scoreQuality(feats, w.toSeq)
      .select(col("doc_id"), col("label").cast("long").as("label"),
        round(col("score"), 6).as("score"),
        (col("score") > 0.5).cast("long").as("pred"))
      .orderBy("doc_id")
  }

  // -----------------------------------------------------------------
  // t14: n-gram language-model perplexity (the CCNet-style learned
  // fluency signal: train a bigram LM on a reference corpus in-engine,
  // score any corpus by cross-entropy under it — the third member of
  // the quality family next to t02's hand-rolled features and t13's
  // learned feature classifier)
  // -----------------------------------------------------------------

  /** Stupid-Backoff discount (Brants et al. 2007, "Large Language
    * Models in Machine Translation") and the half-count floor an
    * entirely-unseen word scores with — score(w|prev) =
    * bigram/unigram(prev) when the bigram was seen, else
    * 0.4 * unigram(w)/total, else 0.4 * 0.5/total.
    */
  private val LmBackoff = 0.4
  private val LmOovCount = 0.5

  /** Train a word-bigram language model over any documents frame.
    * Returns (unigrams, bigrams): unigrams `(word, n, total_count)`
    * pruned to the `topV` most frequent words, bigrams `(w1, w2, n)`
    * pruned to `topB` with BOTH sides in-vocab — each a TakeOrdered
    * over a mergeable count, so the model is BOUNDED BY CONSTRUCTION
    * at any corpus size and [[lmPerplexity]] can broadcast it (the
    * same bound-the-small-side-by-construction contract as t10's
    * histogram grid). Pruned mass is not lost, it backs off: a bigram
    * outside topB scores through its unigram, a word outside topV
    * through the OOV floor. Ties break (count desc, word asc) so the
    * model is deterministic.
    *
    * Scale shape: the corpus is touched twice, both map-only explodes
    * into mergeable two-level counts (the t11 shape); the vocab
    * membership filter on bigrams joins the already-aggregated
    * bigram-count table against the broadcast vocab, never the
    * exploded corpus.
    */
  def lmTrain(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      topV: Int = 10000, topB: Int = 100000): (DataFrame, DataFrame) = {
    require(topV > 0 && topB > 0, "lmTrain needs positive topV/topB")
    val s = docs.sparkSession
    val toks = normalized(docs, idCol, textCol)
      .select(expr("filter(split(text, ' '), x -> x != '')").as("toks"))
    val uniAll = toks.select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val unigrams = uniAll
      .orderBy(col("n").desc, col("word").asc).limit(topV)
      .crossJoin(broadcast(uniAll.agg(sum(col("n")).as("total_count"))))
    val vocab = unigrams.select(col("word"))
    val bigrams = toks
      .select(explode(graft.functions.WordShingles.shingles(s, col("toks"), 2)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .join(broadcast(vocab.select(col("word").as("w1"))), Seq("w1"))
      .join(broadcast(vocab.select(col("word").as("w2"))), Seq("w2"))
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc).limit(topB)
      .select(col("w1"), col("w2"), col("n"))
    (unigrams, bigrams)
  }

  /** Materialize a trained LM on the driver and re-plan it as local
    * relations. The model is BOUNDED BY CONSTRUCTION (topV + topB
    * rows), so this is the t13-weights / Lloyd-centroid round-trip
    * applied to the whole model: after it, [[lmPerplexity]]'s plan
    * touches the corpus and nothing else — without it, every broadcast
    * build of the model re-executes the training aggregations (three
    * redundant corpus scans measured in the gate plan).
    */
  def lmLocalize(unigrams: DataFrame, bigrams: DataFrame): (DataFrame, DataFrame) = {
    val s = unigrams.sparkSession
    import s.implicits._
    val u = unigrams.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // an empty model would make every downstream score silently empty
    // (the totals cross join has no row) — fail here, where the cause
    // is visible, not at the first scoring query
    require(u.nonEmpty, "lmLocalize: the trained model is empty (empty training corpus?)")
    val b = bigrams.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    (s.createDataset(u.toSeq).toDF("word", "n", "total_count"),
      s.createDataset(b.toSeq).toDF("w1", "w2", "n"))
  }

  /** Score a corpus under a trained bigram LM: per-document transition
    * count, cross-entropy (bits per transition, Stupid Backoff) and
    * perplexity (2^entropy). Per-row log2 contributions are cast to
    * DECIMAL(27,12) BEFORE the per-doc sum — the q01/t13 float policy
    * applied to scoring — so the result is bit-deterministic under any
    * partitioning; entropy divides AFTER a single decimal→double cast
    * (double division is exact-ordered on both sides of any engine
    * comparison). Documents with fewer than two tokens keep their row
    * with `n_transitions = 0` and null entropy/perplexity.
    *
    * Scale shape: both LM tables are bounded by construction
    * ([[lmTrain]]) and broadcast; the corpus explodes map-only to one
    * row per transition, scores through three broadcast hash joins
    * inside the scan stage, and the ONLY shuffle is the per-doc
    * aggregation. At 100 TB: train once on a reference corpus (or a
    * q19/q20 deterministic sample), persist the two tiny tables, score
    * the full corpus in one pass — the CCNet deployment shape.
    */
  def lmPerplexity(docs: DataFrame, unigrams: DataFrame, bigrams: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    val uni = unigrams.select(col("word"), col("n"))
    val totals = unigrams.select(col("total_count")).limit(1)
    val transitions = normalized(docs, idCol, textCol)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .select(col("doc_id"),
        explode_outer(graft.functions.WordShingles.shingles(s, col("toks"), 2)).as("bg"))
      .select(col("doc_id"), substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
    val scored = transitions
      .join(broadcast(bigrams.select(col("w1"), col("w2"), col("n").as("bg_n"))),
        Seq("w1", "w2"), "left")
      .join(broadcast(uni.select(col("word").as("w1"), col("n").as("prev_n"))),
        Seq("w1"), "left")
      .join(broadcast(uni.select(col("word").as("w2"), col("n").as("w_n"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lp", when(col("w1").isNull, lit(null).cast("double"))
        .when(col("bg_n").isNotNull && col("prev_n").isNotNull,
          log2(col("bg_n") / col("prev_n")))
        .otherwise(log2(
          lit(LmBackoff) * coalesce(col("w_n").cast("double"), lit(LmOovCount))
            / col("total_count"))))
    scored.groupBy("doc_id")
      .agg(count(col("w1")).as("n_transitions"),
        sum(col("lp").cast("decimal(27,12)")).as("lp_sum"))
      .select(col("doc_id"), col("n_transitions"),
        when(col("n_transitions") > 0,
          -col("lp_sum").cast("double") / col("n_transitions")).as("cross_entropy"),
        when(col("n_transitions") > 0,
          pow(lit(2.0), -col("lp_sum").cast("double") / col("n_transitions")))
          .as("perplexity"))
      .orderBy("doc_id")
  }

  /** Collect a trained LM into a [[graft.functions.LmModel]] — the
    * driver-held artifact the FUSED scoring path carries into the scan
    * (same boundedness argument as [[lmLocalize]], same t13-weights
    * round-trip shape).
    */
  def lmModel(unigrams: DataFrame, bigrams: DataFrame): graft.functions.LmModel = {
    val u = unigrams.collect()
    require(u.nonEmpty, "lmModel: the trained model is empty (empty training corpus?)")
    val b = bigrams.collect()
    new graft.functions.LmModel(
      u.map(_.getString(0)), u.map(_.getLong(1)),
      b.map(r => r.getString(0) + " " + r.getString(1)), b.map(_.getLong(2)),
      u(0).getLong(2))
  }

  /** FUSED LM scoring — [[lmPerplexity]]'s result computed entirely
    * in-row by the native `graft_lm_score` expression over each doc's
    * bigram-shingle array (O(1) hash lookups against the driver-held
    * model): no transition explode, no model joins, no per-doc
    * aggregation — the scan emits one scored row per document and the
    * ONLY exchange left is the presentation sort. Being a stateless
    * per-row projection, this is also the form an unbounded stream
    * scores with ([[graft.streaming.StreamingOps.perplexityGate]]).
    * TextSpec pins it bit-identical to the join formulation.
    */
  def lmPerplexityFused(docs: DataFrame, model: graft.functions.LmModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    normalized(docs, idCol, textCol)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .withColumn("s", graft.functions.LmScore.score(s,
        graft.functions.WordShingles.shingles(s, col("toks"), 2), model))
      .select(col("doc_id"), col("s.n_transitions").as("n_transitions"),
        col("s.cross_entropy").as("cross_entropy"),
        col("s.perplexity").as("perplexity"))
      .orderBy("doc_id")
  }

  /** t14: gate binding — train the bigram LM on the corpus itself
    * (self-perplexity: degenerate/repetitive docs score low, docs full
    * of corpus-rare transitions score high — the in-gate stand-in for
    * CCNet's train-on-wiki/score-target split, which the library form
    * expresses by passing different frames), score every doc through
    * the FUSED path (bit-identical to the join formulation, pinned in
    * TextSpec). Rows-only in the driver gate (log-probability floats
    * are engine-local); TextSpec pins the scores row-for-row against
    * an independent driver-side reference LM, bit-exact partition
    * independence, the fluency ordering (in-domain < gibberish), and
    * the model-size bounds.
    */
  def t14LmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (uniD, bgD) = lmTrain(docs, topV = 5000, topB = 50000)
    lmPerplexityFused(docs, lmModel(uniD, bgD))
      .select(col("doc_id"), col("n_transitions"),
        round(col("cross_entropy"), 6).as("cross_entropy"),
        round(col("perplexity"), 4).as("perplexity"))
      .orderBy("doc_id")
  }

  /** Context-window chunking (t15): split each document's token stream
    * into fixed-size windows advanced by `stride` tokens — the
    * pretraining-batch preparation step between cleaning and packing
    * (HuggingFace `return_overflowing_tokens` semantics: overlap of
    * `chunkSize - stride` tokens carries context across boundaries).
    * Chunk starts are 0, stride, 2*stride, ... up to the last start
    * that still contributes NEW tokens (so a trailing window that would
    * sit entirely inside its predecessor is never emitted, but the
    * final partial window covering the tail always is). Empty docs
    * yield zero chunks.
    *
    * Scale shape: map-only — tokenization, the per-doc start sequence
    * (bounded: ceil(n_tokens/stride) elements), the explode, and the
    * slice all happen in the scan stage; nothing shuffles but the
    * presentation sort. At 100 TB this is the ideal operator: perfectly
    * data-parallel, output ~n_tokens/stride rows per doc.
    */
  def chunkDocs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride (chunkSize $chunkSize)")
    normalized(docs, idCol, textCol)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 1)
      // last start = stride * max(0, ceil((n - chunkSize) / stride)):
      // double ceil is exact here (token counts are far below 2^53)
      .withColumn("max_start",
        lit(stride) * greatest(lit(0L),
          ceil((col("n") - lit(chunkSize)).cast("double") / lit(stride.toDouble)).cast("long")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("max_start"), lit(stride.toLong))).as("start"))
      .select(col("doc_id"),
        (col("start") / lit(stride)).cast("long").as("chunk_id"),
        col("start").as("chunk_start"),
        size(slice(col("toks"), col("start") + 1, lit(chunkSize))).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkSize))).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** t15: gate binding of [[chunkDocs]] (32-token windows, stride 24 —
    * sized so the median ~56-token doc exercises real overlap).
    */
  def t15ChunkDocs(s: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.documents(s, dir))

  /** Per-document TF-IDF keyword extraction — the topical-signature
    * step curation pipelines run for tagging, domain mixing, and
    * keyword-level decontamination: each document's `topK` terms by
    * `tf * (ln((N+1)/(df+1)) + 1)` (the smoothed-idf form scikit-learn
    * popularized: +1 inside the ratio so an every-doc term keeps a
    * positive score instead of ln(1)=0 erasing its tf).
    *
    * Determinism policy: tf/df/N are exact longs; the ratio is one
    * correctly-rounded double divide, and the score is rounded to 6
    * decimals BEFORE ranking, so rank order — not just output values —
    * agrees with the oracle engine (ties break on the term). ln is the
    * one <=1-ulp step; at 6 dp the engines agree (hash-verified at
    * sf0.01 and sf1).
    *
    * Scale shape: explode rides the scan; tf is a mergeable
    * (doc, term) groupBy (map-side partials absorb the token stream);
    * df and ctf derive FROM tf (tf rows are unique per (doc, term), so
    * `tf groupBy term` counting rows IS the document frequency and
    * summing tf IS the corpus term frequency) — and because ctf
    * consumes tf's count, the optimizer cannot prune the vocabulary
    * branch into a different subtree, so BOTH consumers reuse ONE
    * (doc, term) exchange and the corpus tokenizes exactly once
    * (pinned); N is a broadcast one-row agg; the tf-df join is a term
    * equi-join whose vocabulary side AQE broadcasts when it fits; the
    * per-doc top-k filter is pushed into the rank window as a group
    * limit, so only ~topK rows per doc survive to the presentation
    * sort. No all-pairs step, no corpus-sized broadcast.
    */
  def tfIdfKeywords(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", topK: Int = 5): DataFrame = {
    require(topK >= 1, s"tfIdfKeywords needs topK >= 1, got $topK")
    val base = normalized(docs, idCol, textCol)
    val tf = base
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"))
    val nDocs = base.agg(count(lit(1)).cast("double").as("__n"))
    val scored = tf.join(vocab, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        col("tf") * (log((col("__n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("ctf"), col("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** t16: gate binding of [[tfIdfKeywords]] (top 5 per doc). Fully
    * oracled: integer tf/df, 6-dp rounded-then-ranked score.
    */
  def t16TfidfKeywords(s: SparkSession, dir: String): DataFrame =
    tfIdfKeywords(Tables.documents(s, dir))

  /** BM25 ranked retrieval (Robertson–Spärck Jones / Okapi BM25, the
    * Lucene-default scorer) — the standard query-based ranking a
    * corpus pipeline runs for decontamination probes ("which training
    * docs answer this eval question?"), eval-set mining, and targeted
    * curation; t16 scores a doc's OWN terms, this scores docs AGAINST
    * QUERIES. For query q and document d:
    * `score = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with the Lucene idf `ln(1 + (N − df + 0.5)/(df + 0.5))` (always
    * positive — no negative-idf cliff for >half-corpus terms).
    * Repeated query terms count once (set semantics, the standard
    * retrieval contract). Top-k docs per query by (score desc, doc_id).
    *
    * Determinism policy (the t16 discipline): tf/df/dl/N are exact
    * longs; avgdl is ONE double divide of two exact longs; each
    * per-term contribution is ONE spelled IEEE expression rounded to
    * 6 dp; the per-doc score then folds the ROUNDED terms through
    * exact DECIMAL(28,6) (order-independent — the q54/q59 rule), so
    * rank order agrees cross-engine and the gate is fully
    * hash-oracled despite ln and division in the hot expression.
    *
    * Scale shape: tf is the SAME one-tokenize mergeable (doc, term)
    * agg t16 proved (df/dl derive from it); queries are a small frame
    * — their term list BROADCASTS into a term equi-join against tf
    * (never corpus × queries); the (query, doc) score is one
    * mergeable decimal agg; the per-query top-k plans as a rank
    * window with group-limit pushdown. N and avgdl are one broadcast
    * scalar row.
    */
  def bm25Rank(docs: DataFrame, queries: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      queryIdCol: String = "query_id", queryTextCol: String = "query_text",
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame =
    bm25FromTf(bm25TfStates(docs, idCol, textCol), queries,
      queryIdCol, queryTextCol, k1, b, topK)

  /** The (doc, term, tf) index STATE behind [[bm25Rank]] — one
    * mergeable count agg, and the incremental-retrieval unit: each
    * ingest batch builds its own tf states map-only, appends, and
    * [[bm25TfCompact]] re-sums same-key rows (exact BIGINT adds, the
    * q65 histogram discipline applied to a postings list), so the
    * served ranking is BIT-equal to a from-scratch batch build at any
    * compaction depth — StreamingSpec deploys the loop per micro-batch.
    */
  def bm25TfStates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Merge appended tf states back to one row per (doc, term) —
    * counts ADD exactly (a re-ingested doc's tokens accumulate; feed
    * whole documents exactly once for standard semantics).
    */
  def bm25TfCompact(states: DataFrame): DataFrame =
    states.groupBy("doc_id", "term").agg(sum(col("tf")).as("tf"))

  /** Serve the BM25 ranking from a (doc, term, tf) state table —
    * dl/df/N all DERIVE from tf, so maintained state is the only
    * input: the q32/q65/q70 state-in-answer-out contract for the
    * retrieval index. Accepts appended, un-compacted states: df is a
    * per-term ROW count, so duplicate (doc, term) rows would silently
    * inflate it — serving therefore compacts internally (one mergeable
    * agg; a no-op exchange-wise when the input is already grouped on
    * (doc_id, term), since the partitioning is reused).
    */
  def bm25FromTf(tfRaw: DataFrame, queries: DataFrame,
      queryIdCol: String = "query_id", queryTextCol: String = "query_text",
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame =
    bm25Runs(tfRaw, queries, Seq((k1, b)), queryIdCol, queryTextCol, topK).head

  /** One BM25 run per `(k1, b)` over ONE index derivation from the tf
    * states: tf/dl/df/avgdl derive once, the per-(query, doc)
    * contribution pass carries one score column per parameterization,
    * one aggregation sums them all, and the per-param rank windows
    * share the single (query_id) exchange. A single pair keeps the
    * plain `__c` / `score` / `rank` columns; an ensemble numbers them.
    */
  private def bm25Runs(tfRaw: DataFrame, queries: DataFrame,
      params: Seq[(Double, Double)], queryIdCol: String, queryTextCol: String,
      topK: Int): Seq[DataFrame] = {
    params.foreach { case (k1, b) =>
      require(k1 > 0 && b >= 0 && b <= 1 && topK >= 1,
        s"bm25 needs k1 > 0, b in [0,1], topK >= 1: k1=$k1 b=$b topK=$topK")
    }
    val one = params.size == 1
    def cCol(i: Int) = if (one) "__c" else s"__c$i"
    def run(stem: String, i: Int) = if (one) stem else s"__$stem$i"
    val tf = bm25TfCompact(tfRaw)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__toks"))
      .select(col("__n"),
        (col("__toks").cast("double") / col("__n").cast("double")).as("__avgdl"))
    // distinct query terms: repeated terms in one query score once
    val qterms = queries
      .select(Cols.q(queryIdCol).as("query_id"),
        explode(expr(s"filter(split(`$queryTextCol`, ' '), x -> x != '')")).as("term"))
      .distinct()
    // the idf/tf expression spelled once (shared with the oracle)
    def c(k1: Double, b: Double) = round(
      log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        * (col("tf").cast("double") * lit(k1 + 1.0))
        / (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("__avgdl"))),
      6).cast("decimal(28,6)")
    val contrib = params.zipWithIndex.foldLeft(
      tf.join(broadcast(qterms), Seq("term"))
        .join(dl, Seq("doc_id"))
        .join(df, Seq("term"))
        .crossJoin(broadcast(stats))) { case (acc, ((k1, b), i)) =>
      acc.withColumn(cCol(i), c(k1, b))
    }
    val scoreAggs = params.indices.map(i =>
      sum(col(cCol(i))).cast("decimal(28,6)").cast("double").as(run("score", i))) :+
      count(lit(1)).as("n_matched")
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(scoreAggs.head, scoreAggs.tail: _*)
    val ranked = params.indices.foldLeft(scored) { (acc, i) =>
      acc.withColumn(run("rank", i), row_number().over(
        Window.partitionBy("query_id").orderBy(col(run("score", i)).desc, col("doc_id").asc)))
    }
    params.indices.map(i =>
      ranked.filter(col(run("rank", i)) <= topK)
        .select(col("query_id"), col(run("rank", i)).as("rank"), col("doc_id"),
          col(run("score", i)).as("score"), col("n_matched"))
        .orderBy("query_id", "rank"))
  }

  /** The t23 gate's fixed probe queries — three retrieval intents over
    * the synthetic engine-vocabulary corpus, shared verbatim with the
    * oracle's VALUES list.
    */
  private[graft] val Bm25GateQueries = Seq(
    (1L, "hash join"),
    (2L, "fast scan filter"),
    (3L, "customer order data"))

  /** t23: gate binding of [[bm25Rank]] — the three fixed queries, top
    * 10 docs each. Fully SQL-oracled: exact integer tf/df/dl/N, the
    * spelled idf/tf expression rounded at 6 dp, the decimal fold, and
    * (score desc, doc_id) ranking restate exactly in DuckDB.
    */
  def t23Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Rank(Tables.documents(s, dir),
      Bm25GateQueries.toDF("query_id", "query_text"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * ensemble step over multiple rankers: each run contributes
    * `1/(k0 + rank)` per (query, doc) and the fused ranking orders by
    * the summed score. RRF is rank-only (score-scale-free), so it
    * fuses heterogeneous rankers — BM25 variants, embedding ANN runs,
    * recency rankers — without calibration; the hybrid-retrieval
    * default in every modern search stack.
    *
    * Determinism: ranks are exact longs, each reciprocal is ONE IEEE
    * divide rounded at 6 dp, and the fused score folds the rounded
    * terms through exact DECIMAL(28,6) (order-independent across runs
    * and partitions); ties break on doc_id.
    *
    * Scale shape: runs are already ≤ per-query-k rows; one map-only
    * union, ONE mergeable (query, doc) agg, a per-query rank window
    * with group-limit pushdown. Nothing here touches a corpus.
    */
  def rrfFuse(runs: Seq[DataFrame], k0: Int = 60, topK: Int = 10,
      queryCol: String = "query_id", docCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    require(k0 >= 0 && topK >= 1, s"rrfFuse needs k0 >= 0, topK >= 1: k0=$k0 topK=$topK")
    val all = runs.map(_.select(Cols.q(queryCol).as("query_id"),
        Cols.q(docCol).as("doc_id"), Cols.q(rankCol).cast("long").as("rank")))
      .reduce(_ unionByName _)
    val scored = all.groupBy("query_id", "doc_id")
      .agg(sum(round(lit(1.0) / (lit(k0.toDouble) + col("rank").cast("double")), 6)
          .cast("decimal(28,6)"))
        .cast("decimal(28,6)").cast("double").as("rrf_score"),
        count(lit(1)).as("n_runs"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_score"), col("n_runs"))
  }

  /** t25: gate binding of [[rrfFuse]] — a parameter-ensemble fusion of
    * two t23 BM25 runs (the length-normalized default k1=1.2/b=0.75
    * and a pure-tf-saturation variant k1=2.0/b=0.0), the standard
    * robustness trick when one parameterization over- or under-rewards
    * long documents. Fully SQL-oracled: both runs restate from the
    * SAME parameterized oracle generator (constants interpolated from
    * the identical Scala doubles), the reciprocal terms round at 6 dp,
    * and the decimal fold + (score desc, doc_id) ranking are exact.
    */
  def t25RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val queries = Bm25GateQueries.toDF("query_id", "query_text")
    rrfFuse(bm25RankEnsemble(docs, queries,
      Seq((1.2, 0.75), (2.0, 0.0))))
      .orderBy("query_id", "rank")
  }

  /** Several BM25 parameterizations over ONE shared index derivation —
    * the r17 restatement of the two-independent-runs ensemble (which
    * planned each run from scratch: two corpus tokenizations and twin
    * dl/df/stats subtrees, 70 Exchange nodes in the t25 plan; guide
    * §2.4 "two operations keyed the same way can share one exchange").
    * Each returned run is value-identical to `bm25Rank(docs, queries,
    * k1, b, topK)`: both are calls of the one body over the same tf
    * states.
    */
  def bm25RankEnsemble(docs: DataFrame, queries: DataFrame,
      params: Seq[(Double, Double)],
      idCol: String = "doc_id", textCol: String = "text",
      queryIdCol: String = "query_id", queryTextCol: String = "query_text",
      topK: Int = 10): Seq[DataFrame] = {
    require(params.nonEmpty, "bm25RankEnsemble needs at least one (k1, b)")
    bm25Runs(bm25TfStates(docs, idCol, textCol), queries, params,
      queryIdCol, queryTextCol, topK)
  }

  /** Ranked-retrieval quality metrics (nDCG@k / MRR / precision@k /
    * recall@k) — the evaluation half of the t23 retrieval story, and
    * the retrieval twin of the q67/q68 model-eval family: given a RUN
    * (query, doc, rank — any ranker's output) and QRELS (query, doc,
    * graded relevance), one row per query with the standard TREC
    * metrics. A pipeline uses this to regression-test its
    * decontamination ranker and to compare retrieval variants on a
    * labeled eval slice.
    *
    * Definitions: `DCG@k = Σ_{i≤k} (2^rel_i − 1)/log2(i+1)` over run
    * order, `IDCG@k` the same sum over the top-k qrels by rel (ideal
    * order — ties within a grade don't change the sum), `nDCG =
    * DCG/IDCG`; `MRR = 1/first-relevant-rank` (0 when nothing
    * relevant retrieved); `precision@k = n_rel_ret/k`; `recall@k =
    * n_rel_ret/n_rel`. A query with NO qrels serves null nDCG/recall
    * by contract (undefined, not zero); a qrels query the run never
    * retrieved scores zeros (full-outer semantics).
    *
    * Determinism: rel and ranks are exact longs, 2^rel − 1 is exact in
    * double, log2 spells as `ln(i+1)/ln(2)` (ONE composition both
    * engines share — never a native log2 whose rounding could differ),
    * each gain term rounds at 6 dp and folds through exact
    * DECIMAL(28,6) (the t23/q54 rule), and every final metric is one
    * IEEE divide of exact operands rounded at 6 dp.
    *
    * Scale shape: run is already ≤ k rows per query; qrels join is a
    * (query, doc) equi-join; the ideal ordering is a per-query window
    * over qrels with group-limit pushdown; everything downstream is
    * per-query aggregation — the corpus itself is never touched.
    */
  def rankingMetrics(run: DataFrame, qrels: DataFrame, k: Int = 10,
      queryCol: String = "query_id", docCol: String = "doc_id",
      rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    require(k >= 1, s"rankingMetrics needs k >= 1, got $k")
    def gainTerm(rel: Column, rank: Column): Column =
      round((pow(lit(2.0), rel.cast("double")) - lit(1.0))
        / (log(rank.cast("double") + lit(1.0)) / log(lit(2.0))), 6)
        .cast("decimal(28,6)")
    val r = run.select(Cols.q(queryCol).as("query_id"),
        Cols.q(docCol).as("doc_id"), Cols.q(rankCol).cast("long").as("rank"))
      .filter(col("rank") <= k)
    val g = qrels.select(Cols.q(queryCol).as("query_id"),
        Cols.q(docCol).as("doc_id"), Cols.q(relCol).cast("long").as("rel"))
      .filter(col("rel") > 0)
    val runAgg = r.join(g, Seq("query_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .groupBy("query_id")
      .agg(sum(gainTerm(col("rel"), col("rank"))).cast("decimal(28,6)").as("__dcg"),
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("__nret"),
        min(when(col("rel") > 0, col("rank"))).as("__minrank"))
    val w = Window.partitionBy("query_id").orderBy(col("rel").desc, col("doc_id").asc)
    val idealAgg = g.withColumn("__rn", row_number().over(w))
      .groupBy("query_id")
      .agg(sum(when(col("__rn") <= k, gainTerm(col("rel"), col("__rn"))))
          .cast("decimal(28,6)").as("__idcg"),
        count(lit(1)).as("n_rel"))
    runAgg.join(idealAgg, Seq("query_id"), "full")
      .select(col("query_id"),
        when(col("__idcg").isNull, lit(null).cast("double"))
          .otherwise(round(coalesce(col("__dcg"), lit(0).cast("decimal(28,6)"))
            .cast("double") / col("__idcg").cast("double"), 6)).as("ndcg"),
        coalesce(round(lit(1.0) / col("__minrank").cast("double"), 6), lit(0.0))
          .as("mrr"),
        round(coalesce(col("__nret"), lit(0L)).cast("double") / lit(k.toDouble), 6)
          .as("precision_k"),
        when(col("n_rel").isNull, lit(null).cast("double"))
          .otherwise(round(coalesce(col("__nret"), lit(0L)).cast("double")
            / col("n_rel").cast("double"), 6)).as("recall_k"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"))
  }

  /** t24: gate binding of [[rankingMetrics]] over the t23 BM25 run —
    * qrels grade each doc by how many DISTINCT query terms it
    * contains (rel 1–3, the standard pseudo-relevance construction
    * when no human labels exist), so the gate pins the full
    * run-vs-ideal arithmetic on real rankings. Fully SQL-oracled: the
    * t23 CTE verbatim as the run, the same qrels construction, the
    * shared `ln(i+1)/ln(2)` spelling, and the decimal folds restate
    * exactly in DuckDB.
    */
  def t24RankingEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val queries = Bm25GateQueries.toDF("query_id", "query_text")
    // r17: ONE tf index feeds both the run and the qrels — the
    // (doc_id, term) key set of the tf states IS the distinct
    // doc-term table the qrels used to re-derive with a second corpus
    // tokenization pass (same normalized+split tokens, grouped), so
    // the two branches now share one corpus aggregation and AQE
    // reuses its exchange (guide §2.4). Values identical by
    // construction; gate re-verified exact.
    val tf = bm25TfStates(docs) // already one row per (doc_id, term)
    val run = bm25FromTf(tf, queries) // == bm25Rank(docs, queries) verbatim
    val qterms = queries
      .select(col("query_id"),
        explode(expr("filter(split(query_text, ' '), x -> x != '')")).as("term"))
      .distinct()
    val qrels = tf.select(col("doc_id"), col("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel"))
    rankingMetrics(run, qrels).orderBy("query_id")
  }

  /** Hashing-trick featurization (Weinberger et al.) — the fixed-width
    * vectorizer that turns text into model input WITHOUT a vocabulary
    * pass (the step feeding t13's classifier at corpus scale, where a
    * t11/t16-style vocab table would itself be big state): each token
    * hashes to one of `nBuckets` buckets, emitted as sparse rows
    * (doc_id, bucket, n, signed_sum). `signed_sum` folds a second hash
    * bit as a +/-1 sign — the debiasing trick that makes collision
    * noise zero-mean instead of additive.
    *
    * Both hashes ride the house content-stable md5 prefix (q19/q26), so
    * the bucketing reproduces across engines, reruns, and
    * partitionings — bucket assignment is part of the CONTRACT here
    * (a model trained on these features needs identical hashing at
    * serve time), not an internal detail.
    *
    * Scale shape: map-only explode + hash in the scan, one mergeable
    * (doc, bucket) agg (map-side partials absorb the token stream —
    * at most nBuckets rows per doc survive), presentation sort. No
    * joins, no vocabulary state, embarrassingly parallel.
    */
  def hashedFeatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 2, s"hashedFeatures needs nBuckets >= 2, got $nBuckets")
    val hx = md5(col("term").cast("binary"))
    normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("term"))
      .select(col("doc_id"),
        (conv(substring(hx, 1, 4), 16, 10).cast("int") % nBuckets).as("bucket"),
        when(conv(substring(hx, 5, 1), 16, 10).cast("int") % 2 === 0, lit(1))
          .otherwise(lit(-1)).as("__sgn"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n"), sum(col("__sgn")).as("signed_sum"))
      .orderBy("doc_id", "bucket")
  }

  /** t17: gate binding of [[hashedFeatures]] (64 buckets). Fully
    * oracled: integer counts, engine-portable md5 bucketing.
    */
  def t17HashedFeatures(s: SparkSession, dir: String): DataFrame =
    hashedFeatures(Tables.documents(s, dir))

  // -----------------------------------------------------------------
  // t18: Shannon entropy quality signals (char + token level)
  // -----------------------------------------------------------------

  /** Per-doc Shannon entropy at BOTH granularities — the Gopher-style
    * repetitiveness gates t02's ratio features cannot see: low CHAR
    * entropy flags keyboard mash / single-char runs, low TOKEN entropy
    * flags boilerplate and template text even when individual tokens
    * look fine. `(doc_id, n_tokens, char_entropy, token_entropy)`.
    *
    * Scale shape: perfectly map-only — both entropies are ONE native
    * in-row expression each ([[graft.functions.ShannonEntropy]]:
    * in-row frequency map, per-term decimal rounding so the fold is
    * iteration-order-independent), no explode, no shuffle but the
    * presentation sort. The corpus is touched once.
    */
  def entropyStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    import graft.functions.ShannonEntropy.entropy
    normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("toks"),
        entropy(s, expr("filter(split(text, ''), x -> x != '')")).as("char_entropy"),
        entropy(s, expr("filter(split(text, ' '), x -> x != '')")).as("token_entropy"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("char_entropy"), col("token_entropy"))
      .orderBy("doc_id")
  }

  /** t18: gate binding of [[entropyStats]]. rows-only oracle (the
    * order-independent decimal fold is engine-local; a SQL twin would
    * re-derive the policy); TextSpec pins a driver reference model
    * bit-for-bit plus the closed-form uniform/constant cases.
    */
  def t18EntropyStats(s: SparkSession, dir: String): DataFrame =
    entropyStats(Tables.documents(s, dir))

  /** PMI-ranked bigram collocations — the corpus's statistically-bound
    * word pairs ("new york", "et al"): the phrase-mining step behind
    * tokenizer vocabulary seeding, multi-word-expression protection in
    * dedup shingles, and domain fingerprinting; t11 ranks single words
    * by raw frequency, this ranks PAIRS by how far their co-occurrence
    * exceeds independence, `pmi = ln((c_xy/N_bi) / ((c_x/N_uni)·
    * (c_y/N_uni)))`. Pairs under `minCount` drop first (rare-pair PMI
    * is noise — the classic corpus-linguistics floor), then the top-k
    * by (rounded pmi desc, left, right).
    *
    * Determinism: all counts exact BIGINTs; the PMI ratio is spelled
    * in one fixed IEEE order on both engines, ln ≤1 ulp, and ranking
    * uses the ROUNDED score so rank order agrees cross-engine.
    *
    * Scale shape: the corpus tokenizes ONCE — one explode emits both
    * granularities (unigram tokens and `zip_with`-paired bigrams ride
    * the same scan; the alternative — two passes — doubles the scan
    * cost at 100 TB), feeding ONE mergeable (kind, l, r) count agg;
    * everything after is vocabulary-sized: the min-count filter prunes
    * the pair table before its two unigram equi-joins (AQE broadcasts
    * the unigram side when it fits), totals are a one-row broadcast,
    * and top-k plans as TakeOrdered (per-partition heaps — only k rows
    * ever reach the driver-side sort).
    */
  /** The one-corpus-pass count store [[collocationsFromCounts]] serves
    * from: unigram rows (kind 'u', word, '') and positional-bigram rows
    * (kind 'b', left, right) with exact BIGINT counts, both
    * granularities riding ONE explode of ONE token construction into
    * ONE mergeable agg. Vocabulary-sized — the artifact to persist
    * (the gate session-caches it via SharedIndex, the d02/d03 index
    * discipline) because the serve consumes it from four branches, and
    * an unmaterialized lineage would re-tokenize the corpus per branch
    * (Catalyst pushes the kind filter below the agg, so exchange reuse
    * alone cannot dedup the scans).
    */
  def pairTokenCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .withColumn("__w", expr("filter(split(text, ' '), x -> x != '')"))
      .select(explode(concat(
        expr("transform(__w, x -> struct('u' AS kind, x AS l, '' AS r))"),
        expr("""zip_with(
            slice(__w, 1, greatest(size(__w) - 1, 0)),
            slice(__w, 2, greatest(size(__w) - 1, 0)),
            (a, b) -> struct('b' AS kind, a AS l, b AS r))"""))).as("t"))
      .select(col("t.kind").as("kind"), col("t.l").as("l"), col("t.r").as("r"))
      .groupBy("kind", "l", "r")
      .agg(count(lit(1)).cast("long").as("n"))

  /** Serve PMI collocations from a [[pairTokenCounts]] store — every
    * step vocabulary-sized: the min-count floor prunes the pair table
    * before its two unigram equi-joins (AQE broadcasts the unigram
    * side when it fits), totals broadcast as one row, top-k plans as
    * TakeOrdered (per-partition heaps), and only k rows cross the
    * final rank window.
    */
  def collocationsFromCounts(counts: DataFrame, minCount: Int = 5,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val uni = counts.filter(col("kind") === "u")
      .select(col("l").as("__w1"), col("n"))
    val bi = counts.filter(col("kind") === "b")
      .select(col("l"), col("r"), col("n").as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val tots = counts.agg(
      sum(when(col("kind") === "u", col("n")).otherwise(0L))
        .cast("long").as("__nu"),
      sum(when(col("kind") === "b", col("n")).otherwise(0L))
        .cast("long").as("__nb"))
    val scored = bi
      .join(uni.select(col("__w1").as("l"), col("n").as("n_left")), "l")
      .join(uni.select(col("__w1").as("r"), col("n").as("n_right")), "r")
      .crossJoin(broadcast(tots))
      .withColumn("pmi", round(log(
        (col("n_pair").cast("double") / col("__nb").cast("double"))
          / ((col("n_left").cast("double") / col("__nu").cast("double"))
            * (col("n_right").cast("double") / col("__nu").cast("double")))), 6))
      .orderBy(col("pmi").desc, col("l").asc, col("r").asc)
      .limit(topK)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("l").asc, col("r").asc)))
      .select(concat(col("l"), lit(" "), col("r")).as("bigram"),
        col("n_pair"), col("n_left"), col("n_right"), col("pmi"), col("rank"))
  }

  /** Convenience composition for one-off use; production pipelines
    * (and the gate) persist the [[pairTokenCounts]] store first so the
    * serve's four branches read it instead of re-tokenizing the corpus.
    */
  def collocations(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minCount: Int = 5, topK: Int = 50): DataFrame =
    collocationsFromCounts(pairTokenCounts(docs, idCol, textCol), minCount, topK)

  /** t22: gate binding — [[collocationsFromCounts]] over the
    * session-cached [[pairTokenCounts]] store (min pair count 5,
    * top 50). Fully SQL-oracled: the shared single-pass token
    * construction, integer counts, the fixed-order PMI ratio, and the
    * rounded-score ranking restate exactly in DuckDB.
    */
  def t22Collocations(s: SparkSession, dir: String): DataFrame =
    collocationsFromCounts(SharedIndex(s, dir, "colloc_token_counts") {
      pairTokenCounts(Tables.documents(s, dir))
    }).orderBy("rank")
}
