package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.operators.RangeJoin

/** Capability extensions beyond the reference's operator algebra (it has
  * no grouping sets, pivot, window functions, statistical aggregates,
  * sketches, or range joins — SURVEY.md §2.1 "deliberately absent"), each
  * expressed as the plan that survives scale and each DuckDB-oracle-checked.
  */
object ExtendedQueries {

  /** CUBE grouping sets (rollup's sibling — all 4 combinations) */
  def cube(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(TpchQueries.d2(col("l_quantity"))).cast("double").as("sum_qty"))

  val cubeSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  /** Pivot — long-to-wide on linestatus. One shuffle (the groupBy);
    * the pivot values are declared so no extra pass collects them.
    */
  def pivot(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .count()
      .na.fill(0L, Seq("F", "O"))

  val pivotSql: String =
    """SELECT l_returnflag,
      | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O"
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Window-function suite: lag, ntile, percent_rank, cume_dist per
    * nation ordered by balance. percent_rank/cume_dist are int/int ratios
    * — bit-deterministic, no rounding needed.
    */
  def windowSuite(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, d).select(
      col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
      lag(col("c_acctbal"), 1).over(w).as("prev_bal"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
  }

  val windowSuiteSql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal,
      | lag(c_acctbal) OVER w AS prev_bal,
      | CAST(ntile(4) OVER w AS INT) AS quartile,
      | percent_rank() OVER w AS pr,
      | cume_dist() OVER w AS cd
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""".stripMargin

  /** Statistical aggregates: correlation, covariance, stddev, and the
    * regression line of price on quantity per return flag. Rounded to 1e-4
    * — co-moment merge order differs between engines in the last bits, and
    * stddev's magnitude (~1e4) makes 1e-6 rounding flip-prone.
    */
  def statsAgg(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"))

  val statsAggSql: String =
    """SELECT l_returnflag,
      | round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
      | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
      | round(stddev_samp(l_extendedprice), 4) AS sd_price,
      | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      | round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Equi-width histogram of order totals: min/max from one aggregate
    * (broadcast as a 1-row frame), bucket by the SAME double expression on
    * both engines so floor boundaries match bitwise.
    */
  def histogram(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val bounds = o.agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    // PlanCheck flags the BroadcastNestedLoopJoin here; it is benign — the
    // build side is the ONE-row bounds aggregate, so the "nested loop" is a
    // constant-time probe per row (the standard scalar-broadcast pattern)
    o.crossJoin(broadcast(bounds))
      .select(least(
        floor((col("o_totalprice") - col("lo")) / (col("hi") - col("lo")) * 10),
        lit(9L)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
  }

  val histogramSql: String =
    """WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
      |SELECT CAST(least(floor((o_totalprice - lo) / (hi - lo) * 10), 9) AS BIGINT) AS bucket,
      | COUNT(*) AS n
      |FROM orders, b GROUP BY 1""".stripMargin

  /** Banded range join (graft.operators.RangeJoin): customers matched to
    * overlapping synthetic per-nation balance intervals. The oracle is the
    * naive inequality join; the operator's banding meets each qualifying
    * pair in exactly one bucket.
    */
  def rangeJoin(spark: SparkSession, d: String): DataFrame = {
    val intervals = Tables.nation(spark, d).select(
      col("n_nationkey"),
      (col("n_nationkey") * 400.0 - 1000.0).as("lo"),
      (col("n_nationkey") * 400.0 + 2000.0).as("hi"))
    val points = Tables.customer(spark, d).select(col("c_custkey"), col("c_acctbal"))
    RangeJoin.pointInInterval(points, "c_acctbal", intervals, "lo", "hi",
        bandWidth = 1000.0)
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val rangeJoinSql: String =
    """SELECT n_nationkey, COUNT(*) AS n_customers
      |FROM customer JOIN (
      |  SELECT n_nationkey, n_nationkey * 400.0 - 1000.0 AS lo,
      |         n_nationkey * 400.0 + 2000.0 AS hi FROM nation) i
      |  ON c_acctbal >= lo AND c_acctbal < hi
      |GROUP BY n_nationkey""".stripMargin

  /** BPE-ish subword tokenization: letter runs / digit runs / single
    * punctuation via one regex pass (the pattern is RE2-safe so both
    * engines extract identical token streams).
    */
  def subwordStats(spark: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))
    Tables.documents(spark, d).select(
      col("doc_id"),
      size(toks).as("n_subwords"),
      size(filter(toks, t => t.rlike("^[A-Za-z]+$"))).as("n_alpha"),
      size(filter(toks, t => t.rlike("^[0-9]+$"))).as("n_num"))
  }

  val subwordStatsSql: String =
    """SELECT doc_id,
      | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_subwords,
      | len(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
      |     t -> regexp_matches(t, '^[A-Za-z]+$'))) AS n_alpha,
      | len(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
      |     t -> regexp_matches(t, '^[0-9]+$'))) AS n_num
      |FROM documents""".stripMargin

  /** HyperLogLog++ distinct-count sketch next to the exact count. The
    * sketch value itself is engine-specific, so the checked output is the
    * exact count plus the sketch's 5%-relative-error bound holding (HLL++
    * at default rsd=0.05; deterministic for a given input).
    */
  def approxDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("within_5pct"))

  val approxDistinctSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      | TRUE AS within_5pct
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Deterministic hash sampling — the reproducible TABLESAMPLE a pipeline
    * needs (rerunning the job yields the SAME sample; `TABLESAMPLE` /
    * `rand()` do not). Keyed on the shared Rabin-Karp hash of the key so
    * the oracle reproduces the exact row set: ~10% of customers.
    */
  def hashSample(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .filter(pmod(graft.operators.TextAnalysis.fingerprint64(
        col("c_custkey").cast("string")), lit(100L)) < 10L)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))

  val hashSampleSql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      |WHERE CAST(list_reduce(
      |  list_transform(regexp_extract_all(CAST(c_custkey AS VARCHAR), '(?s).'),
      |    c -> CAST(unicode(c) AS HUGEINT)),
      |  (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) % 100 < 10""".stripMargin

  /** Deterministic stratified sampling: 5 customers per nation, ordered
    * by md5(id) — the per-group reproducible sample a curation pipeline
    * needs (`rand()`-based sampling is not rerunnable; see
    * [[graft.operators.Sampling.stratified]] for why md5 and not the
    * rolling hash).
    */
  def stratifiedSample(spark: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.stratified(
      Tables.customer(spark, d), col("c_nationkey"), col("c_custkey"), k = 5)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))

  val stratifiedSampleSql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal FROM (
      |  SELECT c_custkey, c_nationkey, c_acctbal,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY
      |      md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rk
      |  FROM customer) t WHERE rk <= 5""".stripMargin

  /** Approximate median (Greenwald-Khanna sketch via approx_percentile)
    * next to the exact rank-pick median — the sketch path for quantiles
    * at scales where even the sorted window pass is too much. Checked
    * output = the exact value + the sketch landing within 1%.
    */
  def approxQuantiles(spark: SparkSession, d: String): DataFrame = {
    val exact = OperatorQueries.quantiles(spark, d)
      .select(col("l_returnflag"), col("p50"))
    val approx = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"))
    exact.join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("p50").as("exact_p50"),
        (abs(col("a50") - col("p50")) / col("p50") <= 0.01).as("within_1pct"))
  }

  val approxQuantilesSql: String =
    """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS exact_p50,
      | TRUE AS within_1pct
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Native session windows (`session_window`, a dedicated operator —
    * unlike op_sessionize's lag/running-sum composition): per-user session
    * count at a 30-minute gap. Boundary semantics differ from the
    * floor-second lag form: windows are microsecond-precise and a gap of
    * exactly the timeout still MERGES (verified empirically — a new
    * session needs a strictly larger gap, hence the oracle's `>`), with
    * the oracle truncating the fixture's nanosecond timestamps to
    * microseconds the same way the Spark-side read does.
    */
  def sessionWindow(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"))

  val sessionWindowSql: String =
    """WITH raw AS (
      |  -- truncate nanos -> micros exactly like the Spark-side read
      |  -- (timestamp_micros(ts div 1000)); DuckDB keeps TIMESTAMP_NS
      |  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
      |g AS (
      |  SELECT user_id,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM raw WINDOW w AS (PARTITION BY user_id ORDER BY us))
      |SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
      |FROM g GROUP BY user_id""".stripMargin

  /** KMeans cluster sizes over embeddings (deterministic init: first k
    * sample rows — mirroring the reference's client-side iterative KMeans,
    * reference: src/tests/source/TestKMeans.cc). Rows-only driver check;
    * the trainer is unit-tested via IVF recall.
    */
  def kmeans(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val centroids = graft.operators.SimilaritySearch.trainCentroids(
      emb, nCentroids = 4, iters = 3)
    // single-pass JVM assignment (same op order as the SQL oracle) — the
    // interpreted HOF form computed the distance array twice per row
    val assign =
      graft.operators.SimilaritySearch.Codebook.flat(centroids).assignUdf
    emb.select(assign(col("embedding")).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
  }

  /** Oracle for [[kmeans]]: cluster sizes of the final relational
    * assignment after 3 unrolled Lloyd iterations
    * ([[OracleSql.lloydCtes]]).
    */
  val kmeansSql: String =
    OracleSql.lloydCtes("4", 3) + ",\n" + OracleSql.assignCtes() +
      "\nSELECT k AS cluster, COUNT(*) AS n FROM fa GROUP BY 1"

  /** CDC merge/upsert: apply a deterministic change batch (updates on
    * keys ≡0 mod 10, deletes on ≡1, inserts on ≡2 re-keyed +10M) to the
    * customer snapshot — one anti join + union
    * ([[graft.operators.MergeOps.applyChanges]]).
    */
  def mergeUpsert(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_name",
        concat(lit("UPDATED-"), col("c_custkey").cast("string")))
      .withColumn("op", lit("U"))
    val deletes = base.filter(col("c_custkey") % 10 === 1)
      .withColumn("op", lit("D"))
    val inserts = base.filter(col("c_custkey") % 10 === 2)
      .withColumn("c_custkey", col("c_custkey") + lit(10000000L))
      .withColumn("op", lit("I"))
    graft.operators.MergeOps.applyChanges(
      base, updates.unionByName(deletes).unionByName(inserts),
      Seq("c_custkey"))
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer),
      |changes AS (
      |  SELECT c_custkey,
      |    'UPDATED-' || CAST(c_custkey AS VARCHAR) AS c_name,
      |    c_nationkey, c_acctbal, 'U' AS op
      |  FROM base WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'D'
      |  FROM base WHERE c_custkey % 10 = 1
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, 'I'
      |  FROM base WHERE c_custkey % 10 = 2)
      |SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal FROM base b
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM changes c WHERE c.c_custkey = b.c_custkey)
      |UNION ALL
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM changes
      |WHERE op <> 'D'""".stripMargin

  /** Bloom-pruned semi join: lineitems of URGENT orders, pre-filtered by
    * a Bloom sketch of the urgent order keys before the exact semi join
    * ([[graft.operators.JoinPruning.bloomSemiJoin]] — result identical to
    * the plain semi join, which is exactly what the oracle states).
    */
  def bloomSemi(spark: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(spark, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"))
    val rows = graft.operators.JoinPruning.bloomSemiJoin(
      Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
      urgent, "l_orderkey", expectedKeys = 200000L)
    rows.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(TpchQueries.d2(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  val bloomSemiSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
      |              AND o.o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag""".stripMargin

  /** Weighted sample (A-ES): 50 parts, inclusion odds ∝ retail price,
    * md5-keyed so the exact row set is rerun-stable and oracle-checkable
    * ([[graft.operators.Sampling.weightedSample]]).
    */
  def weightedSample(spark: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      Tables.part(spark, d).select(col("p_partkey"), col("p_retailprice")),
      col("p_partkey"), col("p_retailprice"), k = 50)

  val weightedSampleSql: String =
    """SELECT p_partkey, p_retailprice FROM (
      |  SELECT p_partkey, p_retailprice,
      |    ln(CAST(concat('0x', substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
      |        AS BIGINT) / 1152921504606846976.0) / p_retailprice AS k
      |  FROM part ORDER BY k DESC, p_partkey LIMIT 50) t""".stripMargin

  /** 2-D box query through the z-order path: the codegen'd Morton
    * z-value pre-filter (the predicate a z-clustered layout prunes files
    * with — [[graft.operators.Layout]]) plus the exact box bounds; the
    * result is exactly the plain box query, which is what the oracle
    * states.
    */
  def zorderBox(spark: SparkSession, d: String): DataFrame =
    graft.operators.Layout.zBoxFilter(
        Tables.lineitem(spark, d), "l_partkey", "l_suppkey",
        100L, 300L, 10L, 60L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(TpchQueries.d2(col("l_quantity"))).cast("double").as("sum_qty"))

  val zorderBoxSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 60
      |GROUP BY l_returnflag""".stripMargin

  /** Language-rebalancing corpus mix: en weighted 0.5, the four other
    * fixture languages 0.125 each, 200-doc budget → quotas 100/25/25/25/
    * 25 in reproducible md5 order ([[graft.operators.Sampling
    * .mixByWeights]] — the "data mixing" step of a pretraining pipeline,
    * here downsampling the en-heavy fixture toward balance).
    */
  private val mixWeights = Map(
    "en" -> 0.5, "de" -> 0.125, "zh" -> 0.125, "fr" -> 0.125, "es" -> 0.125)

  def mixSample(spark: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.mixByWeights(
      Tables.documents(spark, d), col("lang"), col("doc_id"),
      mixWeights, total = 200)
      .select(col("doc_id"), col("lang"), col("source"))

  val mixSampleSql: String = {
    val sum = mixWeights.values.sum
    val cases = mixWeights.toSeq.sortBy(_._1).map { case (g, w) =>
      s"WHEN '$g' THEN ${math.floor(w / sum * 200).toLong}"
    }.mkString(" ")
    s"""SELECT doc_id, lang, source FROM (
       |  SELECT doc_id, lang, source,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
       |      md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents) t
       |WHERE rk <= CASE lang $cases ELSE 0 END""".stripMargin
  }

  /** Ordered view→click→purchase funnel over the events fixture
    * ([[graft.operators.EventAnalytics.funnel]], first-touch,
    * strictly-after semantics).
    */
  def funnel(spark: SparkSession, d: String): DataFrame =
    graft.operators.EventAnalytics.funnel(
      Tables.events(spark, d), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))

  /** Chained first-touch CTEs; all timestamp math on epoch_ns//1000
    * (microseconds) because the Spark-side read truncates the fixture's
    * nanosecond timestamps to micros — a strict `>` at nanosecond
    * precision could admit pairs the micro-truncated engine sees as
    * simultaneous.
    */
  val funnelSql: String =
    """WITH raw AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t FROM raw
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT r.user_id, MIN(r.us) AS t FROM raw r
      |       JOIN s1 ON r.user_id = s1.user_id AND r.us > s1.t
      |       WHERE r.event_type = 'click' GROUP BY 1),
      |s3 AS (SELECT r.user_id, MIN(r.us) AS t FROM raw r
      |       JOIN s2 ON r.user_id = s2.user_id AND r.us > s2.t
      |       WHERE r.event_type = 'purchase' GROUP BY 1)
      |SELECT CAST(1 AS INT) AS stage, 'view' AS event_type,
      |       (SELECT COUNT(*) FROM s1) AS users
      |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)""".stripMargin

  /** Weekly cohort retention over events
    * ([[graft.operators.EventAnalytics.retention]], integer epoch-week
    * cohorts).
    */
  def retention(spark: SparkSession, d: String): DataFrame =
    graft.operators.EventAnalytics.retention(
      Tables.events(spark, d), "user_id", "ts")

  val retentionSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 1000 // 1000000 // 604800 AS w
      |  FROM events),
      |c AS (SELECT user_id, MIN(w) AS cw FROM uw GROUP BY 1)
      |SELECT c.cw AS cohort_week, uw.w - c.cw AS week_offset,
      |  COUNT(*) AS users
      |FROM uw JOIN c ON uw.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "op_mix_sample" -> mixSample,
    "op_funnel" -> funnel,
    "op_retention" -> retention,
    "op_cube" -> cube,
    "op_pivot" -> pivot,
    "op_window_suite" -> windowSuite,
    "op_stats_agg" -> statsAgg,
    "op_histogram" -> histogram,
    "op_range_join" -> rangeJoin,
    "txt_subwords" -> subwordStats,
    "op_approx_distinct" -> approxDistinct,
    "op_hash_sample" -> hashSample,
    "op_stratified_sample" -> stratifiedSample,
    "op_approx_quantiles" -> approxQuantiles,
    "op_session_window" -> sessionWindow,
    "op_merge_upsert" -> mergeUpsert,
    "op_bloom_semi" -> bloomSemi,
    "op_weighted_sample" -> weightedSample,
    "op_zorder_box" -> zorderBox,
    "ml_kmeans" -> kmeans)

  val oracles: Map[String, String] = Map(
    "op_mix_sample" -> mixSampleSql,
    "op_funnel" -> funnelSql,
    "op_retention" -> retentionSql,
    "op_cube" -> cubeSql,
    "op_pivot" -> pivotSql,
    "op_window_suite" -> windowSuiteSql,
    "op_stats_agg" -> statsAggSql,
    "op_histogram" -> histogramSql,
    "op_range_join" -> rangeJoinSql,
    "txt_subwords" -> subwordStatsSql,
    "op_approx_distinct" -> approxDistinctSql,
    "op_hash_sample" -> hashSampleSql,
    "op_stratified_sample" -> stratifiedSampleSql,
    "op_approx_quantiles" -> approxQuantilesSql,
    "op_session_window" -> sessionWindowSql,
    "op_merge_upsert" -> mergeUpsertSql,
    "op_bloom_semi" -> bloomSemiSql,
    "op_weighted_sample" -> weightedSampleSql,
    "op_zorder_box" -> zorderBoxSql,
    "ml_kmeans" -> kmeansSql)
}
