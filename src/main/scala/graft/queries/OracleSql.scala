package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The DuckDB oracles' building blocks, each written once. Every registry
  * oracle that needs one of these blocks is assembled from the fragment
  * here, so a reader (or a fix) meets each block in one place. Fragments
  * are plain SQL over the fixture tables and never derived from graft
  * code: each assembled oracle stays an independent DuckDB statement.
  *
  * Fragments named `…Ctes` render comma-separated CTE definitions (no
  * `WITH`, no trailing comma); `…Sql` fragments render an expression or a
  * query. A `materialized` flag marks CTEs DuckDB must not inline: an
  * inlined multiply-read CTE re-evaluates per reference, which is how
  * round 12's pipe_lm_budget oracle ran ~10 min (OracleCostSpec pins the
  * budget).
  */
object OracleSql {

  /** `name AS` or `name AS MATERIALIZED`, the head of one CTE. */
  def cte(name: String, materialized: Boolean): String =
    if (materialized) s"$name AS MATERIALIZED" else s"$name AS"

  // ---- fixture plants ------------------------------------------------

  /** The re-crawl plant: the documents (`where` restricts them; the
    * arrival stream keeps docs ≥ 250) plus docs < 100 re-ingested as
    * id + 10000 with identical text, so their dedup flags are certain.
    */
  def replaySql(where: String = ""): String =
    s"""SELECT doc_id, text FROM documents$where
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id, text FROM documents
       |  WHERE doc_id < 100""".stripMargin

  /** [[replaySql]] in Scala over `docs`. */
  def replayed(docs: DataFrame): DataFrame = plant(docs, docs)

  /** The standing-index probes' arrivals: docs ≥ 250 plus the replay. */
  val arrivalsSql: String = replaySql(" WHERE doc_id >= 250")

  /** [[arrivalsSql]] in Scala over `docs`. */
  def arrivals(docs: DataFrame): DataFrame =
    plant(docs.filter(col("doc_id") >= 250), docs)

  private def plant(fresh: DataFrame, docs: DataFrame): DataFrame =
    fresh.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))

  // ---- text ------------------------------------------------------------

  /** The distinct word n-grams of `text` as a list. */
  def shinglesSql(n: Int): String =
    s"""list_distinct(list_transform(
       |    generate_series(1, greatest(len(string_split(text,' '))-${n - 1}, 0)),
       |    i -> array_to_string(string_split(text,' ')[i:i+${n - 1}], ' ')))""".stripMargin

  /** The word bigrams of `text`, one row each. */
  val bigramsSql: String =
    """unnest(list_transform(range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))""".stripMargin

  /** Quality score of every (doc_id, text) row of `rel`: token count,
    * mean token length, digit ratio, stopword ratio and the linear
    * q_score, all int/int divisions in double.
    */
  def qualityScoreSql(rel: String): String = {
    val stopList = graft.operators.TextAnalysis.stopwords.head._2
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       | len(string_split(text,' ')) AS n_tokens,
       | CAST(length(replace(text,' ','')) AS DOUBLE)/len(string_split(text,' ')) AS mean_tok_len,
       | CAST(length(regexp_replace(text,'[^0-9]','','g')) AS DOUBLE)/length(text) AS digit_ratio,
       | CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |   /len(string_split(text,' ')) AS stop_ratio,
       | 0.5 * (CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS DOUBLE)
       |        /len(string_split(text,' '))) +
       | 0.3 * least(CAST(length(replace(text,' ','')) AS DOUBLE)/len(string_split(text,' '))/10.0, 1.0) +
       | 0.2 * (1.0 - CAST(length(regexp_replace(text,'[^0-9]','','g')) AS DOUBLE)/length(text))
       |   AS q_score
       |FROM $rel""".stripMargin
  }

  /** PII counts and the redacted text of every (doc_id, text) row of
    * `rel`, with the operator's patterns.
    */
  def piiScanSql(rel: String): String = {
    val email = graft.operators.Curation.emailRe.replace("'", "''")
    val ip = graft.operators.Curation.ipv4Re
    val phone = graft.operators.Curation.phoneRe
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$email')) AS n_emails,
       |  len(regexp_extract_all(text, '$ip')) AS n_ips,
       |  len(regexp_extract_all(text, '$phone')) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'),
       |    '$phone', '[PHONE]', 'g') AS redacted
       |FROM $rel""".stripMargin
  }

  /** The least `score` among the top ceil(`fraction`·n) rows of `rel` by
    * (score desc, doc_id), as one row `t`: the exact-rank threshold of
    * `Curation.quantileKeep` (NULL on an empty `rel`).
    */
  def rankCutSql(rel: String, score: String, fraction: String): String =
    s"""SELECT MIN($score) AS t FROM (
       |    SELECT $score, ROW_NUMBER() OVER (ORDER BY $score DESC, doc_id) AS rk
       |    FROM $rel) z
       |  WHERE rk <= CAST(ceil($fraction * (SELECT COUNT(*) FROM $rel)) AS BIGINT)""".stripMargin

  // ---- bigram language model -------------------------------------------

  /** The reference model of `TextAnalysis.lmScore` over
    * `documents <refWhere>`: bigram counts `rb`, unigram counts `ru` and
    * the vocabulary size `vv`.
    */
  def lmModelCtes(refWhere: String, materialized: Boolean = false): String =
    s"""${cte("rb", materialized)} (
       |  SELECT bg, COUNT(*) AS cb FROM (
       |    SELECT $bigramsSql AS bg
       |    FROM documents $refWhere) z GROUP BY 1),
       |${cte("ru", materialized)} (
       |  SELECT w1, COUNT(*) AS cu FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w1
       |    FROM documents $refWhere) z GROUP BY 1),
       |vv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM ru)""".stripMargin

  /** The (doc_id, text) rows of `from` scored under [[lmModelCtes]]:
    * `<name>_bg` holds their bigrams and `name` (doc_id, n_bigrams,
    * lm_score) the mean add-one-smoothed bigram log-probability, rounded
    * to 1e-6. Docs without a bigram get no row.
    */
  def lmScoreCtes(name: String, from: String,
      materialized: Boolean = false): String =
    s"""${cte(s"${name}_bg", materialized)} (
       |  SELECT doc_id, $bigramsSql AS bg
       |  FROM $from),
       |${cte(name, materialized)} (
       |  SELECT b.doc_id, COUNT(*) AS n_bigrams, round(AVG(
       |    ln(CAST(COALESCE(rb.cb, 0) + 1 AS DOUBLE) /
       |       (COALESCE(ru.cu, 0) + (SELECT v FROM vv)))), 6) AS lm_score
       |  FROM ${name}_bg b
       |  LEFT JOIN rb USING (bg)
       |  LEFT JOIN ru ON ru.w1 = string_split(b.bg, ' ')[1]
       |  GROUP BY 1)""".stripMargin

  /** Head/middle/tail cuts over `rel`'s lm_score (`TextAnalysis
    * .lmQualityBuckets` at its default three tiers): `t1`/`t2` = the
    * least score among the top ceil(i/3·n) by (score desc, doc_id), with
    * quantileKeep's (i·1.0/3)·n double math.
    */
  def tercileCutCtes(rel: String, materialized: Boolean = false): String = {
    def cut(i: Int) =
      s"""t$i AS (
         |  SELECT MIN(lm_score) AS t FROM crk
         |  WHERE r <= GREATEST(1,
         |    CAST(ceil(($i.0/3) * (SELECT n FROM cnn)) AS BIGINT)))""".stripMargin
    s"""${cte("crk", materialized)} (
       |  SELECT lm_score,
       |    ROW_NUMBER() OVER (ORDER BY lm_score DESC, doc_id) AS r FROM $rel),
       |cnn AS (SELECT COUNT(*) AS n FROM $rel),
       |${cut(1)},
       |${cut(2)}""".stripMargin
  }

  // ---- shards and token budgets ----------------------------------------

  /** The writer shard of doc_id: its md5's first 60 bits mod `nShards`. */
  def shardSql(nShards: Int): String =
    s"CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))\n" +
      s"      AS BIGINT) % $nShards"

  /** A mixture's weights as the CTE `wts(domain, w)`. */
  def weightsCte(weights: (String, Double)*): String =
    weights.map { case (d, w) => s"('$d', CAST($w AS DOUBLE))" }
      .mkString("wts(domain, w) AS (\n  VALUES ", ", ", ")")

  /** Per-shard token-budget admission over the (doc_id, text) rows of
    * `from`: `h` routes each doc to its md5 shard, `c` runs the shard's
    * cumulative token count and the query keeps docs within `cap`.
    * `shuffled` orders each shard by (md5, doc_id) and reports the
    * position `pos` (the stored, shuffled mix); otherwise docs admit in
    * doc_id order (the ingest sequence). `byDomain` reads `domain` and
    * weight `w` from `from` and budgets each (domain, shard) stream.
    */
  def tokenBudgetSql(from: String, nShards: Int, cap: String,
      shuffled: Boolean = true, byDomain: Boolean = false): String = {
    val d = if (byDomain) "domain, " else ""
    val dw = if (byDomain) "domain, w, " else ""
    val pos = if (shuffled) "pos, " else ""
    val ranked =
      if (!shuffled) ""
      else s"""r AS (
              |  SELECT doc_id, ${dw}shard, n_tokens,
              |    ROW_NUMBER() OVER (PARTITION BY ${d}shard ORDER BY mh, doc_id) - 1 AS pos
              |  FROM h),
              |""".stripMargin
    s"""h AS (
       |  SELECT doc_id, $dw${shardSql(nShards)} AS shard,
       |    md5(CAST(doc_id AS VARCHAR)) AS mh,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM $from),
       |${ranked}c AS (
       |  SELECT doc_id, ${dw}shard, ${pos}n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY ${d}shard
       |      ORDER BY ${if (shuffled) "pos" else "doc_id"}
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM ${if (shuffled) "r" else "h"})
       |SELECT doc_id, ${d}shard, ${pos}n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= $cap""".stripMargin
  }

  // ---- vectors ---------------------------------------------------------

  private def dotSql(x: String, y: String, dim: Int): String =
    s"(SELECT SUM(CAST($x.embedding[i] AS DOUBLE)*CAST($y.embedding[i] AS DOUBLE))\n" +
      s"       FROM generate_series(1, $dim) g(i))"

  /** Cosine of the `embedding`s of rows `a` and `b` over `dim`
    * components, rounded to 1e-6: dot / (‖a‖·‖b‖), the operators' op
    * order.
    */
  def cosSql(a: String, b: String, dim: Int): String =
    s"round(${dotSql(a, b, dim)} /\n" +
      s"    (sqrt(${dotSql(a, a, dim)}) *\n" +
      s"     sqrt(${dotSql(b, b, dim)})), 6)"

  /** Squared distance of every row `e` to every centroid `c` (label
    * `k`, component i, value v) of the `from` clause, as (r, k, dist).
    */
  def centroidDistSql(from: String, c: String = "c", k: String = "k"): String =
    s"""SELECT e.vec_id AS r, $c.$k,
       |    SUM((CAST(e.embedding[$c.i + 1] AS DOUBLE) - $c.v) *
       |        (CAST(e.embedding[$c.i + 1] AS DOUBLE) - $c.v)) AS dist
       |  FROM $from GROUP BY 1, 2""".stripMargin

  /** Per row r of `dists` (r, `k`, dist), its nearest label — ties to
    * the lowest label, the Scala kernels' first strict minimum —
    * projected as `out`; `keep` = "rk <= n" keeps the n nearest.
    */
  def nearestSql(dists: String, out: String = "r, k", k: String = "k",
      keep: String = "rk = 1"): String =
    s"""SELECT $out FROM (
       |    SELECT r, $k, ROW_NUMBER() OVER (PARTITION BY r ORDER BY dist, $k) AS rk
       |    FROM $dists) z WHERE $keep""".stripMargin

  /** The final assignment under a trained codebook: `fd` (every row's
    * distance to each `c3` centroid, over the `from` clause) and `fa`
    * (each row's nearest centroid).
    */
  def assignCtes(from: String = "embeddings e, c3 c",
      materialized: Boolean = false): String =
    s"""fd AS (
       |  ${centroidDistSql(from)}),
       |${cte("fa", materialized)} (
       |  ${nearestSql("fd")})""".stripMargin

  /** SemDeDup's within-cell verify over `fa`: rows joined to their cell
    * (CTE `v`), then every same-cell pair passing `pairs` with its
    * rounded cosine (`p`: id_a, id_b, cluster, cos).
    */
  def cellPairCtes(dim: Int, pairs: String = "AND a.vec_id < b.vec_id",
      v: String = "v", materialized: Boolean = false): String =
    s"""${cte(v, materialized)} (
       |  SELECT e.vec_id, e.embedding, a.k
       |  FROM embeddings e JOIN fa a ON e.vec_id = a.r),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.k AS cluster,
       |    ${cosSql("a", "b", dim)} AS cos
       |  FROM $v a JOIN $v b ON a.k = b.k $pairs)""".stripMargin

  /** SemDeDup's pairs after a Lloyd chain: [[assignCtes]],
    * [[cellPairCtes]] and the pairs at or above `threshold`.
    */
  def semanticPairsSql(dim: Int, threshold: Double,
      assignFrom: String = "embeddings e, c3 c",
      pairs: String = "AND a.vec_id < b.vec_id",
      assignMaterialized: Boolean = false,
      cellsMaterialized: Boolean = false): String =
    assignCtes(assignFrom, assignMaterialized) + ",\n" +
      cellPairCtes(dim, pairs, "v", cellsMaterialized) +
      s"\nSELECT id_a, id_b, cluster, cos FROM p WHERE cos >= $threshold"

  /** Exact re-rank of the candidate (query_id, neighbor_id) pairs of
    * `cands`: their rounded cosine (`scored`), then each query's top 5
    * by (cos desc, neighbor_id) as (query_id, rank, neighbor_id, cos).
    */
  def topKSql(cands: String, dim: Int = 64): String =
    s"""scored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${cosSql("q", "n", dim)} AS cos
       |  FROM $cands s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings n ON n.vec_id = s.neighbor_id)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cos DESC, neighbor_id) AS INT) AS rank
       |  FROM scored) t WHERE rank <= 5""".stripMargin

  /** The corpus-sized codebook of `Dedup.autoClusters` (125 vectors per
    * cluster, 4 to 200000 clusters) over `embeddings <where>`: DuckDB's
    * `//` is the integer ceil the Scala side computes. Inside a
    * prelude-shadowed chain `embeddings` is the derived-feature CTE, i.e.
    * exactly the vectors the operator counts.
    */
  def autoKExpr(where: String = ""): String =
    s"(SELECT LEAST(GREATEST(4, (COUNT(*) + 124) // 125), 200000) FROM embeddings$where)"

  /** The unrolled Lloyd trainer every k-means oracle shares, as
    * `WITH …` up to `c<iters>` (centroid k, component i, value v).
    *
    * It trains on a bounded deterministic-hash sample, `se`: the 10000
    * rows of `embeddings <sourceWhere>` with the smallest
    * (md5(vec_id), vec_id), `srk` their rank in that order (the
    * trainer's sample; `sourceWhere` restricts it to, e.g., the built
    * half of an appended index). Seeds are the first `k` sample rows,
    * labelled by their 0-based rank like the trainer's array indices
    * (`k` is any SQL integer expression, e.g. [[autoKExpr]]); each step
    * assigns by [[nearestSql]] and moves every centroid to its members'
    * mean, an empty cluster keeping its centroid. `prelude` CTEs come
    * first: one named `embeddings` shadows the base table for the whole
    * chain (the image-feature oracles). `se` is read by every step, so
    * it is MATERIALIZED.
    */
  def lloydCtes(k: String, iters: Int, sourceWhere: String = "",
      dim: Int = 64, prelude: String = ""): String = {
    val pre = if (prelude.isEmpty) "" else prelude + ",\n"
    val base =
      s"""WITH ${pre}se AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT e.*, ROW_NUMBER() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srk
         |    FROM embeddings e $sourceWhere) z WHERE srk <= 10000),
         |c0 AS (
         |  SELECT srk - 1 AS k, g.i - 1 AS i, CAST(embedding[g.i] AS DOUBLE) AS v
         |  FROM se, generate_series(1, $dim) g(i) WHERE srk <= $k)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""d$t AS (
         |  ${centroidDistSql(s"se e, c${t - 1} c")}),
         |a$t AS (
         |  ${nearestSql(s"d$t")}),
         |m$t AS (
         |  SELECT a.k, g.i - 1 AS i, AVG(CAST(e.embedding[g.i] AS DOUBLE)) AS v
         |  FROM a$t a JOIN se e ON a.r = e.vec_id,
         |       generate_series(1, $dim) g(i)
         |  GROUP BY 1, 2),
         |c$t AS (
         |  SELECT p.k, p.i, COALESCE(m.v, p.v) AS v
         |  FROM c${t - 1} p LEFT JOIN m$t m ON p.k = m.k AND p.i = m.i)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  // ---- media payloads --------------------------------------------------

  /** The payload of every (doc_id, text) row of `from` as hex — the one
    * byte-faithful channel Spark and DuckDB share, 2 chars per byte — with
    * its byte length: (`cols`, hx, len).
    */
  def hexPayloadSql(from: String, cols: String = "doc_id"): String =
    s"""SELECT $cols, hex(encode(text)) AS hx,
       |    octet_length(encode(text)) AS len
       |  FROM $from""".stripMargin

  /** The unsigned byte at 0-based `pos` of the hex string `hx`. */
  def byteAtSql(hx: String, pos: String): String =
    s"""(strpos('0123456789ABCDEF', substring($hx, $pos * 2 + 1, 1)) - 1) * 16
       |      + strpos('0123456789ABCDEF', substring($hx, $pos * 2 + 2, 1)) - 1""".stripMargin

  /** Windowed energy of the hex payloads in `m` (doc_id, hx, len, and
    * `key` when set): windows of `window` bytes every `hop`, bytes as
    * unsigned 8-bit PCM, exact integer Σ (b − 128)² per window. Renders
    * `w`, `b`, `v` and `e` (key, doc_id, wno, energy); an empty payload
    * has no window.
    */
  def energyCtes(m: String, window: Int, hop: Int, key: String = "",
      materialized: Boolean = false): String = {
    val k = if (key.isEmpty) "" else s"$key, "
    s"""${cte("w", materialized)} (
       |  SELECT ${k}doc_id, hx, len,
       |    unnest(generate_series(0, (len - 1) // $hop)) AS wno
       |  FROM $m WHERE len > 0),
       |${cte("b", materialized)} (
       |  SELECT ${k}doc_id, wno, hx,
       |    unnest(generate_series(wno * $hop,
       |      least(wno * $hop + $window, len) - 1)) AS pos
       |  FROM w),
       |${cte("v", materialized)} (
       |  SELECT ${k}doc_id, wno, ${byteAtSql("hx", "pos")} AS byte
       |  FROM b),
       |${cte("e", materialized)} (
       |  SELECT ${k}doc_id, wno, SUM((byte - 128) * (byte - 128)) AS energy
       |  FROM v GROUP BY ${k}doc_id, wno)""".stripMargin
  }

  /** The delta-sign envelope fingerprint over [[energyCtes]]' `e`: bit
    * i set iff window i+1's energy exceeds window i's, over the first 64
    * windows; docs with fewer than 8 windows get none. Renders `n`, `d`
    * and `f` (key, doc_id, fp).
    */
  def envelopeCtes(key: String = ""): String = {
    val ks = (if (key.isEmpty) Nil else Seq(key)) :+ "doc_id"
    def sel(t: String) = ks.map(c => s"$t.$c").mkString(", ")
    def on(x: String, y: String) = ks.map(c => s"$x.$c = $y.$c").mkString(" AND ")
    s"""n AS (SELECT ${ks.mkString(", ")}, COUNT(*) AS nw
       |  FROM e GROUP BY ${ks.mkString(", ")}),
       |d AS (
       |  SELECT ${sel("a")},
       |    CASE WHEN b.energy > a.energy
       |         THEN (1::BIGINT << CAST(a.wno AS INT)) ELSE 0::BIGINT END AS bit
       |  FROM e a JOIN e b ON ${on("a", "b")} AND b.wno = a.wno + 1
       |  WHERE a.wno <= 62),
       |f AS (
       |  SELECT ${sel("d")}, CAST(SUM(bit) AS BIGINT) AS fp
       |  FROM d d JOIN n n ON ${on("d", "n")}
       |  WHERE n.nw >= 8 GROUP BY ${sel("d")})""".stripMargin
  }

  /** Every 4th 64-byte chunk of the hex payloads in `m` (doc_id, `hx`,
    * `len`) as a frame: (doc_id, frame_no, frame_hex).
    */
  def framesSql(m: String, hx: String = "hx", len: String = "len"): String =
    s"""SELECT doc_id, CAST(fno AS INT) AS frame_no,
       |    substring($hx, fno * 128 + 1, 128) AS frame_hex
       |  FROM (SELECT doc_id, $hx,
       |          unnest(generate_series(0, greatest($len // 64 - 1, 0), 4)) AS fno
       |        FROM $m) z""".stripMargin
}
