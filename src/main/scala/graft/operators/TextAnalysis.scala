package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token statistics, document fingerprinting. All but the
  * fingerprint stay in codegen'd Catalyst expressions with SQL-expressible
  * semantics (DuckDB-oracle-checkable).
  */
object TextAnalysis {

  /** tiny per-language stopword lists for the n-gram/stopword heuristic */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "que", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有"))

  private def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => w.isInCollection(words)))

  /** Language ID: argmax of stopword-occurrence score, deterministic
    * priority order on ties (list order above).
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = docs.select(
      (col(idCol).as("doc_id") +:
        stopwords.map { case (lang, ws) => stopCount(toks, ws).as(s"s_$lang") }): _*)
    val langs = stopwords.map(_._1)
    val pred = langs.foldRight(lit(langs.last)) { (lang, els) =>
      val isMax = langs.filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _)
      when(isMax, lit(lang)).otherwise(els)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Quality scoring: token count, mean token length, digit ratio,
    * stopword ratio, and a linear quality score. All ratios are int/int
    * divisions in double — bit-deterministic.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val nChar = length(regexp_replace(col(textCol), " ", ""))
    val nDigit = length(regexp_replace(col(textCol), "[^0-9]", ""))
    val nStop = stopCount(toks, stopwords.head._2)
    docs.select(
      col(idCol).as("doc_id"),
      nTok.as("n_tokens"),
      (nChar.cast("double") / nTok).as("mean_tok_len"),
      (nDigit.cast("double") / length(col(textCol))).as("digit_ratio"),
      (nStop.cast("double") / nTok).as("stop_ratio"),
      (lit(0.5) * (nStop.cast("double") / nTok) +
        lit(0.3) * least(nChar.cast("double") / nTok / 10.0, lit(1.0)) +
        lit(0.2) * (lit(1.0) - nDigit.cast("double") / length(col(textCol))))
        .as("q_score"))
  }

  /** Corpus token statistics: per-word occurrence and document frequency —
    * explode + two-level aggregation, shuffles once on the word.
    */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** TF-IDF weights per (doc, word): tf · ln(N / df). One explode + two
    * aggregations (doc-word term counts, then word document frequencies —
    * df derived from tf so the corpus is read once) + a join back on the
    * word; N rides as a 1-row broadcast, not a driver-side count.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    // PlanCheck flags the BroadcastNestedLoopJoin below; benign — the
    // build side is the ONE-row corpus count (the scalar-broadcast
    // pattern, same as ExtendedQueries.histogram)
    tf.join(dfreq, Seq("word"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("n") / col("df")), 6).as("tfidf"))
  }

  /** N-gram LM quality score (the CCNet recipe, public: Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", 2020 — which scores crawl text by a reference-corpus LM and
    * filters on the score): every document scored by its mean bigram
    * log-probability under an add-one-smoothed bigram model trained on a
    * REFERENCE slice. P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), V = the
    * reference vocabulary size; OOV words fall through the same formula
    * with zero counts. Lower scores = text unlike the reference (spam,
    * boilerplate, wrong language) — the quality gate a curation pipeline
    * thresholds on. Only documents with ≥1 bigram appear.
    *
    * Scale shape: the model IS two count tables from one scan of the
    * reference (bigram + unigram counts, map-side combined); scoring is
    * one exploded scan of the corpus with two equi joins against those
    * tables (broadcast when the reference is small, shuffle hash
    * otherwise — Spark's planner picks by size) plus the 1-row
    * vocab-size scalar broadcast, then one per-doc aggregate. No state,
    * no iteration; the bigram explode uses the codegen'd counting
    * shingler.
    */
  def lmScore(
      docs: DataFrame, refDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import graft.functions.ShingleExpressions.wordShinglesAll
    val refBig = refDocs
      .select(explode(wordShinglesAll(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val refUni = refDocs
      .select(explode(tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val vocab = refUni.agg(count(lit(1)).cast("double").as("v"))
    val docBig = docs.select(col(idCol).as("doc_id"),
        explode(wordShinglesAll(col(textCol), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    docBig
      .join(refBig, Seq("bg"), "left")
      .join(refUni, Seq("w1"), "left")
      // 1-row vocab-size scalar broadcast (the tfidf/histogram pattern)
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        log((coalesce(col("cb"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("cu"), lit(0L)) + col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 6).as("lm_score"))
  }

  /** CCNet-style quality buckets: rank the corpus by its reference-LM
    * score and cut it into `nBuckets` quality tiers (head / middle /
    * tail at the default 3 — Wenzek et al. 2020 §4.3, the shape CCNet
    * actually ships its crawl in). Thresholds are EXACT-rank cuts
    * ([[Curation.quantileKeep]]'s machinery — top-m heap or recursive
    * bracket + broadcast scalar, never a global sort or an
    * unpartitioned window at any scale): t_i = the minimum score among the
    * top ceil(i/nBuckets·n) docs by (score desc, id); bucket(d) = the
    * first i with score ≥ t_{i+1}, ties always landing in the BETTER
    * tier (the quantileKeep "keep all at the threshold" contract, which
    * keeps the rule deterministic on the 1e-6-rounded scores). Docs
    * with no bigrams are unscoreable and absent, per lmScore's
    * contract. Output: (doc_id, lm_score, bucket), bucket 0 = head.
    *
    * Scale shape: one lmScore pass (materialized once — nBuckets−1
    * rank-selection jobs reuse it), then nBuckets−1 broadcast-scalar
    * threshold comparisons in a single projection.
    */
  def lmQualityBuckets(
      docs: DataFrame, refDocs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, s"need a positive bucket count, got $nBuckets")
    val scored = lmScore(docs, refDocs, idCol, textCol)
      .select(col("doc_id"), col("lm_score")).localCheckpoint(true)
    val thresholds = (1 until nBuckets).map { i =>
      val r = graft.operators.Curation
        .quantileKeep(scored, "lm_score", i.toDouble / nBuckets)
        .agg(min(col("lm_score"))).collect()(0)
      if (r.isNullAt(0)) Double.NegativeInfinity else r.getDouble(0)
    }
    val bucket = thresholds.zipWithIndex
      .foldRight(lit(nBuckets - 1): org.apache.spark.sql.Column) {
        case ((t, i), rest) => when(col("lm_score") >= t, lit(i)).otherwise(rest)
      }
    scored.withColumn("bucket", bucket)
  }

  /** Repetition quality signals (the Gopher-rules family): per document,
    * the duplicate-word fraction (1 − distinct/total) and the fraction of
    * all word bigrams taken by the single most frequent bigram. High values
    * flag boilerplate / degenerate documents for corpus filtering.
    *
    * Shape: two explode→aggregate passes over the pruned (id, text)
    * columns, joined on doc_id. Both aggregations get map-side partial
    * combine, and bigram counting uses the codegen'd counting shingler
    * ([[graft.functions.ShingleExpressions.wordShinglesAll]]) — one fused
    * tokenize pass per row, never the interpreted nested-HOF form. Each
    * side shuffles once on doc_id, so at 100 TB this is two scans + two
    * well-combined shuffles; no per-doc state exceeds the doc's own
    * distinct-gram count.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.ShingleExpressions.wordShinglesAll
    val words = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("word"))
    val wordAgg = words.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        countDistinct(col("word")).as("n_distinct_words"))
    val bigramAgg = docs.select(col(idCol).as("doc_id"),
        explode(wordShinglesAll(col(textCol), 2)).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bigrams"))
    wordAgg.join(bigramAgg, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        round(lit(1.0) - col("n_distinct_words").cast("double") / col("n_words"), 6)
          .as("dup_word_frac"),
        round(col("top_c").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_frac"))
  }

  /** Document fingerprint: rolling polynomial hash over the character
    * stream, mod 2^61-1 (Rabin-Karp). A native codegen'd expression
    * ([[graft.functions.RollingHash61]]) — no per-row UDF ser/de — whose
    * recurrence the DuckDB oracle reproduces with HUGEINT arithmetic.
    */
  def fingerprint64(text: Column): Column =
    graft.functions.HashExpressions.rollingHash61(text)

  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      fingerprint64(col(textCol)).as("fingerprint"))
}
