package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.{Curation, Dedup, SkewJoin, TextAnalysis}

/** Curation-stage queries: benchmark decontamination, PII scan/redaction,
  * retrieval chunking, sequence packing, and the salted skew join —
  * each DuckDB-oracle-checked end to end.
  */
object CurationQueries {

  /** Rabin-Karp rolling hash of an expression rendered as VARCHAR — the
    * DuckDB mirror of [[graft.operators.TextAnalysis.fingerprint64]]
    * (same kernel as ExtendedQueries.hashSampleSql).
    */
  private def rkHashSql(expr: String): String =
    s"""CAST(list_reduce(
       |  list_transform(regexp_extract_all(CAST($expr AS VARCHAR), '(?s).'),
       |    c -> CAST(unicode(c) AS HUGEINT)),
       |  (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT)""".stripMargin

  /** Decontamination: docs 0-19 play the benchmark/eval set, the rest the
    * training corpus; flag trainers sharing any word 3-gram with the bench.
    */
  def decontaminate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    Curation.decontaminate(
      docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
      "doc_id", "text", n = 3)
  }

  val decontaminateSql: String =
    s"""WITH bench AS (
       |  SELECT DISTINCT unnest(${OracleSql.shinglesSql(3)}) AS gram
       |  FROM documents WHERE doc_id < 20),
       |train AS (
       |  SELECT doc_id, unnest(${OracleSql.shinglesSql(3)}) AS gram
       |  FROM documents WHERE doc_id >= 20)
       |SELECT doc_id, COUNT(*) AS n_contaminated_grams
       |FROM train JOIN bench USING (gram)
       |GROUP BY doc_id""".stripMargin

  /** PII scan over the corpus. The fixture text carries no PII, so the
    * corpus is augmented with deterministic synthetic PII (keyed on
    * doc_id — same construction on both engines), making the counts and
    * the redacted text non-trivial. Same fixture-augmentation pattern as
    * dd_cosine_lsh.
    */
  def piiScan(spark: SparkSession, d: String): DataFrame = {
    val aug = Tables.documents(spark, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" host 10.0."), pmod(col("doc_id"), lit(200)), lit(".1 up")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-123-4567 today"))
          .otherwise(lit(""))).as("text"))
    Curation.piiScan(aug, "doc_id", "text")
  }

  val piiScanSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 5 = 0
       |      THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0
       |      THEN ' host 10.0.' || (doc_id % 200) || '.1 up' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0
       |      THEN ' call 555-123-4567 today' ELSE '' END AS text
       |  FROM documents)
       |${OracleSql.piiScanSql("aug")}""".stripMargin

  /** Canonical text normalization (case/punctuation/whitespace). */
  def normalize(spark: SparkSession, d: String): DataFrame =
    Curation.normalizeText(Tables.documents(spark, d), "doc_id", "text")

  val normalizeSql: String =
    """SELECT doc_id, norm_text, len(string_split(norm_text, ' ')) AS n_tokens
      |FROM (
      |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
      |  FROM documents) t""".stripMargin

  /** Gopher-rule document gate with per-rule attribution. */
  def docFilter(spark: SparkSession, d: String): DataFrame =
    Curation.gopherFilter(Tables.documents(spark, d), "doc_id", "text")

  val docFilterSql: String =
    s"""WITH rep AS (${PipelineQueries.txtRepetitionSql}),
       |proj AS (
       |  SELECT doc_id,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) /
       |      len(string_split(text, ' ')) AS mean_tok_len
       |  FROM documents)
       |SELECT rep.doc_id,
       |  (n_words >= 10 AND n_words <= 10000) AS len_ok,
       |  (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0) AS tok_len_ok,
       |  (dup_word_frac < 0.6) AS dup_ok,
       |  (top_bigram_frac < 0.3) AS bigram_ok,
       |  ((n_words >= 10 AND n_words <= 10000)
       |    AND (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0)
       |    AND (dup_word_frac < 0.6) AND (top_bigram_frac < 0.3)) AS keep
       |FROM rep JOIN proj ON rep.doc_id = proj.doc_id""".stripMargin

  /** Retrieval chunking: 32-token windows advancing by 24 (8-token
    * overlap).
    */
  def chunks(spark: SparkSession, d: String): DataFrame =
    Curation.chunkTokens(Tables.documents(spark, d), "doc_id", "text",
      chunkSize = 32, stride = 24)

  val chunksSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CASE WHEN len(string_split(text, ' ')) <= 32 THEN 0
      |      ELSE (len(string_split(text, ' ')) - 32 + 23) // 24 END AS last_idx
      |  FROM documents),
      |e AS (SELECT doc_id, toks, unnest(range(0, last_idx + 1)) AS k FROM t)
      |SELECT doc_id, CAST(k AS INT) AS chunk_idx,
      |  len(toks[k*24+1 : k*24+32]) AS n_tokens,
      |  array_to_string(toks[k*24+1 : k*24+32], ' ') AS chunk
      |FROM e""".stripMargin

  /** Sequence packing: 8 writer streams, 256-token context windows. */
  def packSequences(spark: SparkSession, d: String): DataFrame =
    Curation.packSequences(Tables.documents(spark, d), "doc_id", "text",
      budget = 256, numGroups = 8)

  val packSequencesSql: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    ${rkHashSql("doc_id")} % 8 AS grp,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, grp, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM b)
       |SELECT doc_id, grp, n_tokens, start_off,
       |  start_off // 256 AS first_bin,
       |  (start_off + n_tokens - 1) // 256 AS last_bin
       |FROM o""".stripMargin

  /** Salted skew join conformance: lineitem⋈orders through the
    * deterministic 8-way salt, aggregated per priority — equals the plain
    * join by construction (the salt only splits the build of one key
    * across sub-partitions).
    */
  def skewJoin(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_quantity"))
    val o = Tables.orders(spark, d).select(col("o_orderkey"), col("o_orderpriority"))
    SkewJoin.saltedEquiJoin(l, o, "l_orderkey", "o_orderkey", salt = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
  }

  val skewJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Quality-percentile gate: keep the top 25% of documents by the
    * txt_quality score ([[Curation.quantileKeep]]) — the classifier-score
    * pruning step, thresholded at the ⌈0.25·n⌉-th best score so boundary
    * ties all survive and the row set is rerun-exact.
    */
  def quantileFilter(spark: SparkSession, d: String): DataFrame = {
    val scored = TextAnalysis
      .qualityScore(Tables.documents(spark, d), "doc_id", "text")
      .select(col("doc_id"), col("q_score"))
    Curation.quantileKeep(scored, "q_score", fraction = 0.25)
  }

  /** Oracle: same score expression as txt_quality's oracle, same
    * rank-pick threshold (min over the top-m by (score desc, id)) — the
    * VALUE is tie-insensitive, so both engines pick the identical
    * threshold without any quantile interpolation arithmetic.
    */
  val quantileFilterSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, q_score FROM (${OracleSql.qualityScoreSql("documents")}) qs),
       |thr AS (${OracleSql.rankCutSql("s", "q_score", "0.25")})
       |SELECT s.doc_id, s.q_score FROM s, thr WHERE s.q_score >= thr.t"""
      .stripMargin

  /** Deterministic global shuffle into 8 shards
    * ([[Curation.shardAssign]]): every doc gets its (shard, position) for
    * the training-data writer, rerun-stable and oracle-reproducible.
    */
  def globalShuffle(spark: SparkSession, d: String): DataFrame =
    Curation.shardAssign(
      Tables.documents(spark, d).select(col("doc_id")), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Token-budget subset: the first ~30k tokens of the shuffled corpus,
    * taken as ⌊30000/8⌋ tokens per writer stream
    * ([[Curation.tokenBudgetSubset]]).
    */
  def tokenBudget(spark: SparkSession, d: String): DataFrame =
    Curation.tokenBudgetSubset(Tables.documents(spark, d), "doc_id", "text",
      totalTokens = 30000L, nShards = 8)

  val tokenBudgetSql: String =
    "WITH " + OracleSql.tokenBudgetSql("documents", 8, "3750")

  /** Domain-weighted mixture budget over the `lang` column: en gets
    * half the 30k-token budget, fr and de a fifth each, es/zh are
    * dropped (weight 0) — [[Curation.domainTokenBudget]].
    */
  def domainBudget(spark: SparkSession, d: String): DataFrame =
    Curation.domainTokenBudget(Tables.documents(spark, d), "doc_id", "text",
      "lang", Map("en" -> 0.5, "fr" -> 0.2, "de" -> 0.2),
      totalTokens = 30000L, nShards = 8)

  /** [[tokenBudgetSql]]'s chain with the weights VALUES join and
    * (domain, shard) window keys; the per-row threshold
    * FLOOR(30000.0·w/8) mirrors the operator's double math exactly
    * (both engines evaluate (total·w)/nShards in IEEE doubles — the
    * weights are CAST AS DOUBLE so DuckDB does not infer DECIMAL).
    */
  val domainBudgetSql: String = domainBudgetSqlOver(shuffled = true)

  /** The lang-weighted mixture budget over the documents; `shuffled`
    * budgets the stored mix, otherwise the doc_id-ordered ingest log.
    */
  private[queries] def domainBudgetSqlOver(shuffled: Boolean): String =
    s"WITH ${OracleSql.weightsCte("en" -> 0.5, "fr" -> 0.2, "de" -> 0.2)},\n" +
      OracleSql.tokenBudgetSql(
        "documents JOIN wts ON wts.domain = documents.lang WHERE text IS NOT NULL",
        8, "CAST(FLOOR(30000.0 * w / 8) AS BIGINT)", shuffled, byDomain = true)

  val globalShuffleSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, ${OracleSql.shardSql(8)} AS shard FROM documents)
       |SELECT doc_id, shard,
       |  ROW_NUMBER() OVER (PARTITION BY shard
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
       |FROM h""".stripMargin

  /** The capstone composition — the round-7 operators chained the way a
    * real curation job runs them: strip duplicated passages, drop
    * fully-stripped docs, gate on the quality-score median, then take
    * each writer stream's share of a corpus token budget in the
    * deterministic shuffle order. Every stage is individually
    * oracle-checked (dd_span_strip, txt_quantile_filter,
    * op_token_budget); this query hash-checks that they COMPOSE.
    */
  def pipeCurate(spark: SparkSession, d: String): DataFrame = {
    // the strip output feeds BOTH the score pass and the survivor join —
    // without materialization the whole span-strip plan recomputes once
    // per consumer (measured 6.8 s vs 3.4 s at sf0.1). The quality
    // gate's own multi-pass cost no longer needs this: quantileKeep
    // self-materializes its scored input since round 8. localCheckpoint
    // is the query form; a standing pipeline writes this stage to a
    // catalog set instead (same trade as Dedup.materialize).
    val stripped = Dedup
      .stripDuplicateSpans(Tables.documents(spark, d), "doc_id", "text",
        k = 8)
      .filter(col("clean_text") =!= "")
      .select(col("doc_id"), col("clean_text").as("text"))
      .localCheckpoint(true)
    val scored = TextAnalysis.qualityScore(stripped, "doc_id", "text")
      .select(col("doc_id"), col("q_score"))
    val kept = Curation.quantileKeep(scored, "q_score", fraction = 0.5)
      .select(col("doc_id"))
    val survivors = stripped.join(kept, Seq("doc_id"))
    Curation.tokenBudgetSubset(survivors, "doc_id", "text",
      totalTokens = 20000L, nShards = 4)
  }

  lazy val pipeCurateSql: String =
    s"""WITH stripped0 AS (${PipelineQueries.ddSpanStripSql}),
       |stripped AS (
       |  SELECT doc_id, clean_text AS text FROM stripped0
       |  WHERE clean_text <> ''),
       |s AS (
       |  SELECT doc_id, q_score FROM (
       |    ${OracleSql.qualityScoreSql("stripped")}) qs),
       |thr AS (${OracleSql.rankCutSql("s", "q_score", "0.5")}),
       |kt AS (
       |  SELECT st.doc_id, st.text FROM stripped st
       |  JOIN s USING (doc_id) CROSS JOIN thr
       |  WHERE s.q_score >= thr.t),
       |${OracleSql.tokenBudgetSql("kt", 4, "5000")}""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_decontaminate" -> decontaminate,
    "txt_pii" -> piiScan,
    "txt_doc_filter" -> docFilter,
    "txt_normalize" -> normalize,
    "txt_quantile_filter" -> quantileFilter,
    "txt_chunks" -> chunks,
    "op_pack_sequences" -> packSequences,
    "op_global_shuffle" -> globalShuffle,
    "op_token_budget" -> tokenBudget,
    "op_domain_budget" -> domainBudget,
    "pipe_curate" -> pipeCurate,
    "op_skew_join" -> skewJoin)

  val oracles: Map[String, String] = Map(
    "dd_decontaminate" -> decontaminateSql,
    "txt_pii" -> piiScanSql,
    "txt_doc_filter" -> docFilterSql,
    "txt_normalize" -> normalizeSql,
    "txt_quantile_filter" -> quantileFilterSql,
    "txt_chunks" -> chunksSql,
    "op_pack_sequences" -> packSequencesSql,
    "op_global_shuffle" -> globalShuffleSql,
    "op_token_budget" -> tokenBudgetSql,
    "op_domain_budget" -> domainBudgetSql,
    "pipe_curate" -> pipeCurateSql,
    "op_skew_join" -> skewJoinSql)
}
