package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.{Curation, Dedup, Multimodal, SimilaritySearch, TextAnalysis}

/** Training-data pipeline queries over the documents/embeddings fixtures:
  * dedup (exact, minhash-LSH, n-gram, simhash, embedding-cosine),
  * similarity search (brute-force + IVF), text analysis, multimodal
  * plumbing. SQL-expressible ops carry a DuckDB oracle; hash-dependent ones
  * (simhash, fingerprint, IVF, multimodal stub) are rows-only checked here
  * and value-checked in the ScalaTest suite.
  */
object PipelineQueries {

  def ddExact(spark: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(spark, d), col("text"), col("doc_id"))
      // oracle compare keys on values, so re-derive a stable sort key
      .orderBy(col("keep_id"))

  val ddExactSql: String =
    """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY text""".stripMargin

  def ddMinhash(spark: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, d), "doc_id", "text",
      threshold = 0.8)

  /** exact O(n²) jaccard over the same 2-gram shingles — the LSH result
    * equals this because the banding miss probability at j≥0.8 is ~1e-28
    * (see Dedup.minhashPairs).
    */
  val ddMinhashSql: String =
    jaccardPairsSql(2, "a.doc_id AS id_a, b.doc_id AS id_b", "a.doc_id < b.doc_id", 0.8)

  /** Exact jaccard over each doc's distinct word `n`-grams: the pairs of
    * sides a and b joined `on`, projected as `ids`, at or above
    * `threshold`.
    */
  private def jaccardPairsSql(n: Int, ids: String, on: String,
      threshold: Double): String = {
    val j = "CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE) /\n" +
      "  (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))"
    s"""WITH s AS MATERIALIZED (
       |  SELECT doc_id, ${OracleSql.shinglesSql(n)} AS sh
       |  FROM documents)
       |SELECT $ids,
       |  $j AS jaccard
       |FROM s a JOIN s b ON $on
       |WHERE $j >= $threshold""".stripMargin
  }

  /** near-dup clusters: connected components over the minhash pair graph —
    * each clustered doc labeled with its component's smallest doc id
    */
  def ddClusters(spark: SparkSession, d: String): DataFrame =
    Dedup.dupClusters(
      Dedup.minhashPairs(Tables.documents(spark, d), "doc_id", "text",
        threshold = 0.8))

  /** Connected components of the `pairs` (id_a, id_b) graph: its
    * symmetric closure `e`, and `reach` (id, r) for every id reachable
    * from r.
    */
  private val componentCtes: String =
    """e AS (SELECT id_a AS a, id_b AS b FROM pairs
      |      UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM e) n
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id)""".stripMargin

  /** Oracle for [[ddClusters]]: the exact pair set (same as
    * [[ddMinhashSql]]) symmetrized, then min-reachable-id per node via a
    * recursive transitive closure.
    */
  val ddClustersSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED ($ddMinhashSql),
       |$componentCtes
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin

  /** The dedup pipeline's terminal action: pairs → clusters → drop list.
    * Every clustered doc that is NOT its cluster's representative (min id)
    * is dropped, labeled with the doc it duplicates — the exact row set a
    * curation job anti-joins against the corpus.
    */
  def ddKeepList(spark: SparkSession, d: String): DataFrame =
    Dedup.dupClusters(
      Dedup.minhashPairs(Tables.documents(spark, d), "doc_id", "text",
        threshold = 0.8))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("drop_id"), col("cluster_id").as("keep_id"))

  val ddKeepListSql: String =
    s"""WITH clusters AS ($ddClustersSql)
       |SELECT doc_id AS drop_id, cluster_id AS keep_id FROM clusters
       |WHERE doc_id <> cluster_id""".stripMargin

  def ddNgram(spark: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, d), "doc_id", "text",
      n = 3, threshold = 0.5)

  val ddNgramSql: String =
    jaccardPairsSql(3, "a.doc_id AS id_a, b.doc_id AS id_b", "a.doc_id < b.doc_id", 0.5)

  /** Ingest-time cross-corpus dedup: docs ≥250 play the arriving batch,
    * docs <250 the already-ingested corpus; near-dup pairs between the two
    * (never within either side) at j≥0.8 on 2-gram shingles.
    */
  def ddCross(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    Dedup.crossPairs(
      docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
      "doc_id", "text", threshold = 0.8)
  }

  /** exact O(n·m) cross jaccard — LSH equality holds for the same reason
    * as [[ddMinhashSql]] (banding miss prob ~1e-28 at j≥0.8)
    */
  val ddCrossSql: String = jaccardPairsSql(2,
    "a.doc_id AS new_id, b.doc_id AS corpus_id",
    "a.doc_id >= 250 AND b.doc_id < 250", 0.8)

  /** [[ddCross]] through a CATALOG-PERSISTED index
    * ([[Dedup.persistLshIndex]]: shingle sets bucketed on id, pruned
    * band keys bucketed on (band, bkey)): build the stored index on the
    * corpus half, then match the arriving half against the stored sets.
    * Same kernels, so the oracle is [[ddCrossSql]] unchanged — what this
    * query adds is the standing, session-survivable dedup index whose
    * corpus side joins without re-shuffling (the placement payoff;
    * PipelineSpec asserts the exchange-free plan).
    */
  def ddCrossIndexed(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      Dedup.persistLshIndex(cat, db, "corpus",
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      Dedup.crossPairsAgainstStoredIndex(
        docs.filter(col("doc_id") >= 250), cat, db, "corpus",
        "doc_id", "text", threshold = 0.8)
    }
  }

  /** Memoized standing LSH index for the probe-only registry form: one
    * build per sfDir, so [[ddCrossProbe]]'s second bench pass (the
    * per-query MIN under the min-of-2 convention) times the pure probe
    * — the amortized production path, where the index build is
    * one-time by design. Each entry is (root, building session, its
    * catalog): the building session probes through that catalog, whose
    * schema memo spares every probe a footer-inference job per stored
    * set; the index is files and sidecars under the root alone, so
    * another session reads it through a catalog of its own. The reaper
    * drops the entries, and with them the session, when the
    * application ends.
    */
  private val crossIndexCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, SparkSession, graft.storage.SetCatalog)]()

  /** One listener per SparkContext reaps the cache when the application
    * ends: entries and their temp-dir catalogs are deleted, so a
    * stopped context leaves no temp root for the rest of the JVM.
    */
  private val reaperInstalled =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())
  private def installReaper(spark: SparkSession): Unit =
    reaperInstalled.synchronized {
      val sc = spark.sparkContext
      if (reaperInstalled.add(sc))
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            val it = crossIndexCache.entrySet().iterator()
            while (it.hasNext) {
              val root = it.next().getValue._1
              it.remove()
              try graft.storage.SetCatalog.deleteTree(java.nio.file.Paths.get(root))
              catch { case _: Exception => () }
            }
          }
        })
    }

  /** The PROBE-ONLY split of [[ddCrossIndexed]]: identical match (same
    * kernels, same oracle), but the standing index builds once per
    * sfDir and every subsequent call only pays the arrival-side probe
    * — registering the two halves separately keeps the artifact's most
    * expensive dedup number from conflating a one-time build with the
    * per-batch cost a production ingest actually pays. Cache entries
    * live for the application (that is the point of a standing index)
    * and are reaped — entry and temp dir both — when it ends (see
    * [[installReaper]]).
    */
  def ddCrossProbe(spark: SparkSession, d: String): DataFrame = {
    installReaper(spark)
    val (root, owner, built) = crossIndexCache.computeIfAbsent(d, _ => {
      val r = java.nio.file.Files.createTempDirectory("graft-lshp").toString
      val cat = new graft.storage.SetCatalog(spark, r)
      Dedup.persistLshIndex(cat, "ddp", "corpus",
        Tables.documents(spark, d).filter(col("doc_id") < 250),
        "doc_id", "text")
      (r, spark, cat)
    })
    val cat = if (owner eq spark) built else new graft.storage.SetCatalog(spark, root)
    Dedup.crossPairsAgainstStoredIndex(
      Tables.documents(spark, d).filter(col("doc_id") >= 250),
      cat, "ddp", "corpus", "doc_id", "text", threshold = 0.8)
  }

  /** Ingest-time EXACT dedup against a catalog-persisted content-hash
    * index ([[Dedup.persistExactIndex]] / [[Dedup.exactAgainstStoredIndex]]):
    * corpus = docs < 250 indexed once as distinct 16-byte md5
    * fingerprints bucketed on the hash; arrivals probe it and come back
    * annotated is_dup. The fixture has no natural exact duplicates, so
    * the arrival batch replays 100 corpus docs under fresh ids (the
    * re-crawl case this operator exists for) — those 100 and only those
    * must flag true. The oracle matches on text equality; the operator
    * on the 128-bit fingerprint — equivalent absent a collision the
    * birthday bound puts beyond any real corpus.
    */
  def ddExactIndexed(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val arrivals = OracleSql.arrivals(docs)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      Dedup.persistExactIndex(cat, db, "corpus",
        docs.filter(col("doc_id") < 250), "text")
      Dedup.exactAgainstStoredIndex(
        arrivals, cat, db, "corpus", "doc_id", "text")
    }
  }

  val ddExactIndexedSql: String =
    s"""WITH arriv AS (
       |  ${OracleSql.arrivalsSql})
       |SELECT a.doc_id,
       |  EXISTS(SELECT 1 FROM documents c
       |         WHERE c.doc_id < 250 AND c.text = a.text) AS is_dup
       |FROM arriv a""".stripMargin

  def ddSimhash(spark: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, d), "doc_id", "text")

  /** Capped-band simhash oracle — the full documented semantics of
    * [[Dedup.simhashPairs]] in SQL: per-doc 61-bit signature (the shared
    * Rabin-Karp word hash, h·257+c mod 2⁶¹−1, reproduced with HUGEINT
    * modular arithmetic + list_reduce), 16-bit quarter banding, the
    * corpus-side hot-bucket cap (> 200 docs per quarter value — the
    * documents fixture is template-skewed enough that the cap genuinely
    * engages at sf0.01, so the gate exercises the prune, not just the
    * happy path), candidate distinct, hamming ≤ 3 verify. Precision is
    * exactly brute force; the recall trade of the cap is documented on
    * the operator and pinned uncapped-vs-capped by PipelineSpec.
    */
  val ddSimhashSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS word
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, CASE WHEN word = '' THEN 0 ELSE CAST(list_reduce(
      |    list_transform(regexp_extract_all(word, '(?s).'),
      |      c -> CAST(unicode(c) AS HUGEINT)),
      |    (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) END AS wh
      |  FROM w),
      |v AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h CROSS JOIN generate_series(0, 60) g(b)
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
      |      AS BIGINT) AS sh
      |  FROM v GROUP BY doc_id),
      |q4 AS (
      |  SELECT doc_id, sh, q, (sh >> (16*q)) & 65535 AS qv
      |  FROM sig CROSS JOIN generate_series(0, 3) g(q)),
      |hot AS (
      |  SELECT q, qv FROM q4 GROUP BY q, qv HAVING COUNT(*) > 200),
      |pruned AS (
      |  SELECT q4.doc_id, q4.sh, q4.q, q4.qv FROM q4 LEFT JOIN hot USING (q, qv)
      |  WHERE hot.q IS NULL),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.sh AS sha, b.sh AS shb
      |  FROM pruned a JOIN pruned b USING (q, qv)
      |  WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(sha, shb)) <= 3""".stripMargin

  def ddCosine(spark: SparkSession, d: String): DataFrame =
    Dedup.cosinePairs(Tables.embeddings(spark, d), "vec_id", "embedding",
      threshold = 0.4)

  /** Duplicate 8-token spans over the documents corpus — passage-level
    * exact dedup ([[Dedup.duplicateSpans]]).
    */
  def ddSpan(spark: SparkSession, d: String): DataFrame =
    Dedup.duplicateSpans(Tables.documents(spark, d), "doc_id", "text", k = 8)

  /** Every 8-token window of the docs in `from`: `<p>toks` (doc_id,
    * tokens t), `<p>posn` and `<p>wins` (doc_id, pos, g = the window's
    * md5). `unnest(range(...))` replaces the lateral generate_series
    * DuckDB refuses; it is empty for a doc shorter than the window, like
    * the Spark side's size guard.
    */
  private def spanWindowCtes(from: String, p: String = ""): String =
    s"""${p}toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $from),
       |${p}posn AS (
       |  SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS pos FROM ${p}toks),
       |${p}wins AS (
       |  SELECT doc_id, pos, md5(array_to_string(t[pos + 1 : pos + 8], ' ')) AS g
       |  FROM ${p}posn)""".stripMargin

  /** Matched windows `hits` (doc_id, pos) merged into maximal runs. */
  private val spanIslandsSql: String =
    """isl AS (SELECT doc_id, pos,
      |  pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM hits)
      |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
      |  MAX(pos) - MIN(pos) + 8 AS span_tokens
      |FROM isl GROUP BY doc_id, grp""".stripMargin

  /** Oracle: identical window/fingerprint/island construction in SQL. */
  val ddSpanSql: String =
    s"""WITH ${spanWindowCtes("documents")},
       |dup AS (SELECT g FROM wins GROUP BY g HAVING COUNT(*) >= 2),
       |hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup d USING (g)),
       |$spanIslandsSql""".stripMargin

  /** Ingest-time span dedup against a CATALOG-PERSISTED gram index
    * (corpus = docs < 250 indexed once; arrivals = the rest probe it) —
    * [[Dedup.persistGramIndex]] / [[Dedup.spansAgainstStoredIndex]].
    */
  def ddSpanCross(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      Dedup.persistGramIndex(cat, db, "corpus",
        docs.filter(col("doc_id") < 250), "doc_id", "text", k = 8)
      Dedup.spansAgainstStoredIndex(
        docs.filter(col("doc_id") >= 250), cat, db, "corpus",
        "doc_id", "text", k = 8)
    }
  }

  val ddSpanCrossSql: String =
    s"""WITH ${spanWindowCtes("documents WHERE doc_id < 250", "c")},
       |cg AS (SELECT DISTINCT g FROM cwins),
       |${spanWindowCtes("documents WHERE doc_id >= 250")},
       |hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN cg USING (g)),
       |$spanIslandsSql""".stripMargin

  /** Exact-substring dedup APPLY: every duplicated 8-token window
    * stripped except at its corpus-canonical first site
    * ([[Dedup.stripDuplicateSpans]]) — verbatim copies collapse to
    * empty, boilerplate survives exactly once.
    */
  def ddSpanStrip(spark: SparkSession, d: String): DataFrame =
    Dedup.stripDuplicateSpans(Tables.documents(spark, d), "doc_id", "text",
      k = 8)

  /** Oracle: same construction; canonical election via ROW_NUMBER over
    * (doc, pos) within each duplicated gram (DuckDB min-over-struct is
    * awkward; the unique-site argument makes rn=1 ≡ min(struct)).
    */
  val ddSpanStripSql: String =
    s"""WITH ${spanStripCtes("documents")}
       |SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text,
       |  len(t.t) - COALESCE(r.n_kept, 0) AS n_removed
       |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id""".stripMargin

  /** [[spanWindowCtes]] plus the strip of every duplicated window
    * except its first (doc, pos) site: `<p>rebuilt` (doc_id, clean_text,
    * n_kept) for docs with a kept token.
    */
  private def spanStripCtes(from: String, p: String = ""): String =
    spanWindowCtes(from, p) + ",\n" +
      s"""${p}dup AS (SELECT g FROM ${p}wins GROUP BY g HAVING COUNT(*) >= 2),
         |${p}sites AS (
         |  SELECT w.doc_id, w.pos,
         |    ROW_NUMBER() OVER (PARTITION BY w.g ORDER BY w.doc_id, w.pos) AS rn
         |  FROM ${p}wins w JOIN ${p}dup d USING (g)),
         |${p}rem AS (
         |  SELECT DISTINCT doc_id, pos + i.i AS tp
         |  FROM ${p}sites, generate_series(0, 7) i(i) WHERE rn > 1),
         |${p}tokpos AS (
         |  SELECT doc_id, t[pos + 1] AS tok, pos AS tp
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos FROM ${p}toks)),
         |${p}keep AS (
         |  SELECT k.doc_id, k.tp, k.tok FROM ${p}tokpos k
         |  LEFT JOIN ${p}rem r ON k.doc_id = r.doc_id AND k.tp = r.tp
         |  WHERE r.doc_id IS NULL),
         |${p}rebuilt AS (
         |  SELECT doc_id, array_to_string(list(tok ORDER BY tp), ' ') AS clean_text,
         |    COUNT(*) AS n_kept
         |  FROM ${p}keep GROUP BY doc_id)""".stripMargin

  /** SemDeDup pairs over embeddings: kmeans-bucketed cosine verify
    * ([[Dedup.semanticPairs]]), same trainer geometry as ml_kmeans but
    * with the codebook CORPUS-SIZED ([[Dedup.autoClusters]]) — k grows
    * with the vector count so Σ|cluster|² stays linear; the oracle
    * computes the identical k via [[OracleSql.autoKExpr]].
    */
  def ddSemantic(spark: SparkSession, d: String): DataFrame =
    Dedup.semanticPairs(Tables.embeddings(spark, d), "vec_id", "embedding",
      iters = 3, threshold = 0.4)

  /** [[ddSemantic]] through the ADVISED geometry path
    * ([[Dedup.semanticPairsAdvised]] — the advisor recommends
    * (targetClusterSize, k, routeCells) from the observed corpus size
    * and remembers it in its history). At fixture scale the
    * recommendation equals the static sizing exactly (AdvisorSpec pins
    * the rule at four regimes), so the oracle is [[ddSemanticSql]]
    * unchanged — the point of this entry is that the advised path's
    * full chain (count → recommend → train → assign → verify) sits
    * under the hash-exact correctness gate, not just unit specs.
    */
  def ddSemanticAdvised(spark: SparkSession, d: String): DataFrame =
    Dedup.semanticPairsAdvised(Tables.embeddings(spark, d),
      "vec_id", "embedding",
      new graft.advisor.PlacementAdvisor, "embeddings_corpus",
      iters = 3, threshold = 0.4)

  /** Terminal action for the semantic family, mirroring [[ddKeepList]]:
    * semantic pairs → connected components → drop list (every member
    * that is not its component's min-id representative).
    */
  def ddSemanticKeep(spark: SparkSession, d: String): DataFrame =
    Dedup.dupClusters(
      Dedup.semanticPairs(Tables.embeddings(spark, d), "vec_id",
          "embedding", iters = 3, threshold = 0.4)
        .select(col("id_a"), col("id_b")))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("drop_id"), col("cluster_id").as("keep_id"))

  // lazy: interpolates ddSemanticSql, which is declared further down —
  // a strict val here would capture null at object init
  lazy val ddSemanticKeepSql: String =
    s"""WITH RECURSIVE p0 AS ($ddSemanticSql),
       |pairs AS (SELECT id_a, id_b FROM p0),
       |$componentCtes,
       |cl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
       |SELECT id AS drop_id, rep AS keep_id FROM cl WHERE id <> rep"""
      .stripMargin

  /** SemDeDup with the two-level ROUTED assignment forced on at
    * oracle-reachable scale: k = 8 fine centroids, 3 coarse cells, 2
    * coarse Lloyd iterations ([[Dedup.semanticPairs]] `routeCells = 3`;
    * the iteration count is [[SimilaritySearch.Codebook.routeIters]]).
    * Past k = [[Dedup.routeThreshold]] (2048) this routing is what the
    * default path runs — it is the mechanism that removed the old
    * 10k-codebook cap's O(n·k·d) assignment term — but no DuckDB-sized
    * corpus can trigger it automatically (k = 2048 needs 256k vectors),
    * so this query pins the routed code path against a full SQL mirror:
    * coarse quantizer trained over the fine centroids themselves, rows
    * routed to their nearest non-empty cell, argmin within the cell
    * only, then the same within-cluster cosine verify.
    */
  def ddSemanticRoute(spark: SparkSession, d: String): DataFrame =
    Dedup.semanticPairs(Tables.embeddings(spark, d), "vec_id", "embedding",
      nClusters = 8, iters = 3, threshold = 0.4, routeCells = 3)

  /** Oracle for [[ddSemanticRoute]]: [[OracleSql.lloydCtes]] (the
    * fine trainer, k=8, unchanged) + a second unrolled-Lloyd chain over
    * the FINE CENTROIDS as rows (g0→g2 — seeds are fine centroids 0..2,
    * mirroring the routed trainer's "sample = the codebook" recipe) +
    * membership (fine → final coarse cell, `mem`) + per-row routing
    * restricted to NON-EMPTY cells (`gne`/`rr`) + the in-cell argmin
    * (`fd`/`fa`) + the shared cosine verify tail. Tiebreaks order by
    * (dist, label) at every level, like both Scala kernels.
    */
  val ddSemanticRouteSql: String = {
    // centroid-to-centroid squared distance, f = the fine c3 centroids
    def coarseDist(g: String) =
      s"""SELECT f.k AS r, g.ck, SUM((f.v - g.v) * (f.v - g.v)) AS dist
         |  FROM c3 f JOIN $g g ON f.i = g.i GROUP BY 1, 2""".stripMargin
    val coarseSteps = (1 to 2).map { t =>
      s"""gd$t AS (
         |  ${coarseDist(s"g${t - 1}")}),
         |ga$t AS (
         |  ${OracleSql.nearestSql(s"gd$t", "r, ck", "ck")}),
         |gm$t AS (
         |  SELECT a.ck, f.i, AVG(f.v) AS v
         |  FROM ga$t a JOIN c3 f ON a.r = f.k GROUP BY 1, 2),
         |g$t AS (
         |  SELECT p.ck, p.i, COALESCE(m.v, p.v) AS v
         |  FROM g${t - 1} p LEFT JOIN gm$t m ON p.ck = m.ck AND p.i = m.i)""".stripMargin
    }.mkString(",\n")
    OracleSql.lloydCtes("8", 3) + ",\n" +
      "g0 AS (SELECT k AS ck, i, v FROM c3 WHERE k < 3),\n" +
      coarseSteps + ",\n" +
      s"""md AS (
         |  ${coarseDist("g2")}),
         |mem AS MATERIALIZED (
         |  ${OracleSql.nearestSql("md", "r AS k, ck", "ck")}),
         |gne AS MATERIALIZED (
         |  SELECT g2.ck, g2.i, g2.v FROM g2
         |  JOIN (SELECT DISTINCT ck FROM mem) ne ON ne.ck = g2.ck),
         |rd AS (
         |  ${OracleSql.centroidDistSql("embeddings e, gne g", "g", "ck")}),
         |rr AS MATERIALIZED (
         |  ${OracleSql.nearestSql("rd", "r, ck", "ck")}),
         |""".stripMargin +
      OracleSql.semanticPairsSql(64, 0.4,
        assignFrom = "embeddings e\n  JOIN rr ON rr.r = e.vec_id\n" +
          "  JOIN mem ON mem.ck = rr.ck\n  JOIN c3 c ON c.k = mem.k",
        assignMaterialized = true, cellsMaterialized = true)
  }

  /** Oracle: the shared unrolled-Lloyd CTE chain (the ml_kmeans oracle's
    * trainer, [[OracleSql.lloydCtes]]) for the assignment, then the
    * ddCosineSql verify restricted to same-cluster pairs.
    */
  val ddSemanticSql: String =
    OracleSql.lloydCtes(OracleSql.autoKExpr(), 3) + ",\n" +
      OracleSql.semanticPairsSql(64, 0.4)

  val ddCosineSql: String = "WITH " + cosinePairsSql("embeddings", 0.4)

  /** Every pair of `rel`'s vectors at or above `threshold` cosine. */
  private def cosinePairsSql(rel: String, threshold: Double): String =
    s"""c AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${OracleSql.cosSql("a", "b", 64)} AS cos
       |  FROM $rel a JOIN $rel b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM c WHERE cos >= $threshold""".stripMargin

  /** Hyperplane-LSH cosine near-dup at production geometry (512 bits,
    * 16-bit bands, threshold 0.95). The fixture's random vectors have no
    * ≥0.95 pairs, so the corpus is augmented with exact duplicates of the
    * first 10 vectors (id+10⁷): identical vectors agree on every
    * signature bit, so every band collides and LSH recall is CERTAIN —
    * the oracle equality is deterministic, not probabilistic. The
    * low-threshold regime (where banding degenerates — see the operator
    * scaladoc) is deliberately not what this query exercises; the planted
    * near-dup test in ExtendedSpec covers perturbed (non-identical)
    * duplicates.
    */
  def ddCosineLsh(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    // offset far above any fixture scale factor's id range (sf1 ≈ 2e4)
    val aug = emb.unionByName(
      emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
    Dedup.cosineLshPairs(aug, "vec_id", "embedding", threshold = 0.95)
  }

  val ddCosineLshSql: String =
    s"""WITH aug AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10),
       |${cosinePairsSql("aug", 0.95)}""".stripMargin

  def simTopK(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    SimilaritySearch.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  val simTopKSql: String =
    s"""WITH c AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
       |  FROM embeddings q JOIN embeddings n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
       |${OracleSql.topKSql("c")}""".stripMargin

  def simIvf(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    SimilaritySearch.ivfTopK(spark, emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** IVF probing + scoring tail shared by every IVF oracle: coarse
    * assignment of the WHOLE corpus under the trained codebook (`c3`),
    * 4-bucket probes for the query set, exact rounded cosine within the
    * probed buckets, top-5. Which corpus TRAINED the codebook is the
    * caller's choice via lloydCtes' sourceWhere.
    */
  private def ivfSearchTail(dim: Int): String =
    s"""${probeCtes("r < 10")},
       |cand AS (
       |  SELECT DISTINCT p.query_id, b.r AS neighbor_id
       |  FROM probes p JOIN bassign b ON p.bucket = b.bucket
       |  WHERE b.r <> p.query_id),
       |${OracleSql.topKSql("cand", dim)}""".stripMargin

  /** IVF bucketing under the trained `c3`: every row's distance to each
    * centroid (`bdist`), its bucket (`bassign`) and the 4 nearest buckets
    * of the query rows `probeWhere` selects (`probes`).
    */
  private def probeCtes(probeWhere: String): String = {
    val probes = OracleSql.nearestSql(s"bdist WHERE $probeWhere",
      "r AS query_id, k AS bucket", keep = "rk <= 4")
    s"""bdist AS (
       |  ${OracleSql.centroidDistSql("embeddings e, c3 c")}),
       |bassign AS (
       |  ${OracleSql.nearestSql("bdist", "r, k AS bucket")}),
       |probes AS (
       |  $probes)""".stripMargin
  }

  private val ivfSearchTailSql: String = ivfSearchTail(64)

  /** Oracle for [[simIvf]]: the IVF search written out — 16-centroid
    * coarse quantizer (3 unrolled Lloyd iterations, shared CTE
    * generator), bucket assignment and 4-bucket probing both argmin with
    * lowest-centroid tiebreak, then exact rounded-cosine top-5 within the
    * probed buckets only (the oracle reproduces the ANN's bucket pruning,
    * not a brute-force scan — results match the operator exactly).
    */
  val simIvfSql: String =
    OracleSql.lloydCtes("16", 3) + ",\n" + ivfSearchTailSql

  /** Codebook trained on the BUILT half only (vec_id < 250); assignment
    * in the shared tail still covers the whole corpus — exactly what
    * build(A) + append(B) produces.
    */
  val simIvfAppendSql: String =
    OracleSql.lloydCtes("16", 3, "WHERE vec_id < 250") + ",\n" +
      ivfSearchTailSql

  /** Product-quantization ANN: unit-normalize (ADC then orders by
    * cosine: ‖q−n‖² = 2−2cos on the sphere), 16 subspaces × 16
    * sub-centroids (2 Lloyd iterations each over the shared
    * deterministic-hash sample), corpus encoded to 16 small ints per
    * vector (64 bits of code vs 256 B of floats), ADC shortlist of 10·k
    * per query, exact rounded-cosine re-rank to top-5
    * ([[SimilaritySearch.pqTopK]]).
    */
  def simPq(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    SimilaritySearch.pqTopK(spark, emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** Oracle for [[simPq]]: the PQ pipeline written out per subspace —
    * for each of the `m` dim-slices an independent unrolled-Lloyd chain
    * (seed = first kSub sample rows' slices, argmin with lowest-centroid
    * tiebreak, empty clusters keep their centroid — the trainer's exact
    * kernel), then full-corpus encoding, the query-side distance table
    * (the same per-(row, centroid) distance CTE restricted to the query
    * ids), the ADC sum rounded to 1e-6 with an id tiebreak for the
    * shortlist cut, and the exact rounded-cosine re-rank.
    */
  private def pqCtes(m: Int, kSub: Int, iters: Int, dim: Int,
      sourceWhere: String = ""): String = {
    val dsub = dim / m
    // Unit-normalized components throughout: PQ targets cosine ranking,
    // so codebooks/codes/LUTs all live on the unit sphere (the operator's
    // unitNormalized). The zero vector divides by 1, matching the Scala
    // guard. `ne` carries (vec_id, normalized component i).
    val se =
      s"""nrm AS (
         |  SELECT vec_id, CASE WHEN s = 0 THEN 1 ELSE sqrt(s) END AS nv
         |  FROM (
         |    SELECT vec_id,
         |      (SELECT SUM(CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))
         |       FROM generate_series(1, $dim) g(i)) AS s
         |    FROM embeddings) z),
         |ne AS (
         |  SELECT e.vec_id, g.i, CAST(e.embedding[g.i] AS DOUBLE) / n.nv AS v
         |  FROM embeddings e JOIN nrm n ON n.vec_id = e.vec_id,
         |       generate_series(1, $dim) g(i)),
         |pse AS (
         |  SELECT * FROM (
         |    SELECT e.vec_id, ROW_NUMBER() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srk
         |    FROM embeddings e $sourceWhere) z WHERE srk <= 10000)""".stripMargin
    // squared distance of normalized components e to sub-centroids c
    def compDist(from: String) =
      s"""SELECT e.vec_id AS r, c.k, SUM((e.v - c.v) * (e.v - c.v)) AS dist
         |  FROM $from ON c.i = e.i GROUP BY 1, 2""".stripMargin
    val subs = (0 until m).map { j =>
      val lo = j * dsub + 1
      val hi = (j + 1) * dsub
      val seed =
        s"""s${j}c0 AS (
           |  SELECT s.srk - 1 AS k, e.i, e.v
           |  FROM pse s JOIN ne e ON e.vec_id = s.vec_id
           |  WHERE s.srk <= $kSub AND e.i BETWEEN $lo AND $hi)""".stripMargin
      val steps = (1 to iters).map { t =>
        s"""s${j}d$t AS (
           |  ${compDist(s"pse s JOIN ne e ON e.vec_id = s.vec_id\n  JOIN s${j}c${t - 1} c")}),
           |s${j}a$t AS (
           |  ${OracleSql.nearestSql(s"s${j}d$t")}),
           |s${j}m$t AS (
           |  SELECT a.k, e.i, AVG(e.v) AS v
           |  FROM s${j}a$t a JOIN ne e ON a.r = e.vec_id
           |  WHERE e.i BETWEEN $lo AND $hi
           |  GROUP BY 1, 2),
           |s${j}c$t AS (
           |  SELECT p.k, p.i, COALESCE(mm.v, p.v) AS v
           |  FROM s${j}c${t - 1} p LEFT JOIN s${j}m$t mm
           |    ON p.k = mm.k AND p.i = mm.i)""".stripMargin
      }
      val enc =
        s"""e${j}d AS (
           |  ${compDist(s"ne e JOIN s${j}c$iters c")}),
           |enc$j AS (
           |  ${OracleSql.nearestSql(s"e${j}d", "r, k AS code")})""".stripMargin
      (Seq(seed) ++ steps ++ Seq(enc)).mkString(",\n")
    }
    "WITH " + (Seq(se) ++ subs).mkString(",\n")
  }

  /** `sourceWhere` restricts the TRAINING corpus (the already-built
    * half of an incrementally-appended index), exactly like
    * [[OracleSql.lloydCtes]]'s parameter; encoding and the ADC
    * scan always cover the whole corpus — which is what
    * build(A) + append(B) contains.
    */
  private def pqSearchSql(sourceWhere: String): String =
    pqCtes(16, kSub = 16, iters = 2, dim = 64, sourceWhere) + ",\n" +
      adcTopKSql("l0.r AS query_id, c0.r AS neighbor_id", "enc0 c0",
        "l0.r < 10 AND l0.k = c0.code", "\n  WHERE c0.r <> l0.r")

  /** The ADC scan over the 16 PQ subspaces' codes (`enc<j>`) and the
    * query rows' distance tables (`e<j>d`): `adc` sums each candidate's
    * subspace distances (rounded to 1e-6) from the `from` clause joined
    * with the codes; `short` keeps each query's 50 nearest by (adc,
    * neighbor_id); [[OracleSql.topKSql]] re-ranks them exactly.
    */
  private def adcTopKSql(ids: String, from: String, lutOn: String,
      where: String): String = {
    val m = 16
    val encJoins = (1 until m)
      .map(j => s"  JOIN enc$j c$j ON c$j.r = c0.r").mkString("\n")
    val lutJoins = (1 until m)
      .map(j => s"  JOIN e${j}d l$j ON l$j.r = l0.r AND l$j.k = c$j.code")
      .mkString("\n")
    val adcSum = (0 until m).map(j => s"l$j.dist").mkString(" + ")
    s"""adc AS (
       |  SELECT $ids,
       |    round($adcSum, 6) AS adc
       |  FROM $from
       |$encJoins
       |  JOIN e0d l0 ON $lutOn
       |$lutJoins$where),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adc, neighbor_id) AS rk
       |    FROM adc) z WHERE rk <= 50),
       |${OracleSql.topKSql("short")}""".stripMargin
  }

  val simPqSql: String = pqSearchSql("")

  /** IVF-PQ: coarse-prune then compressed-rank
    * ([[SimilaritySearch.ivfPqTopK]]). */
  def simIvfPq(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    SimilaritySearch.ivfPqTopK(spark, emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** `probeWhere` selects the QUERY rows (vec_id predicate over bdist);
    * `candWhere` restricts candidate (query, neighbor) pairs — the
    * two-generation predicate of the live-index streaming oracle, TRUE
    * for the one-generation searches.
    */
  private[queries] def ivfPqSearchSql(sourceWhere: String,
      probeWhere: String = "r < 10", candWhere: String = "TRUE"): String =
    OracleSql.lloydCtes("16", 3, sourceWhere) + ",\n" +
      pqCtes(16, kSub = 16, iters = 2, dim = 64, sourceWhere)
        .stripPrefix("WITH ") + ",\n" +
      s"""${probeCtes(probeWhere)},
         |cand AS (
         |  SELECT p.query_id, b.r AS neighbor_id
         |  FROM probes p JOIN bassign b ON p.bucket = b.bucket
         |  WHERE b.r <> p.query_id AND ($candWhere)),
         |""".stripMargin +
      adcTopKSql("ca.query_id, ca.neighbor_id",
        "cand ca\n  JOIN enc0 c0 ON c0.r = ca.neighbor_id",
        "l0.r = ca.query_id AND l0.k = c0.code", "")

  /** Oracle for [[simIvfPq]]: both kernel chains verbatim — the IVF
    * coarse quantizer's Lloyd CTEs (c0..c3, raw vectors) and the PQ
    * per-subspace chains (unit-normalized) — then coarse assignment +
    * 4-bucket probes prune the candidate pairs, ADC ranks them, and the
    * exact rounded-cosine re-rank scores the shortlist.
    */
  val simIvfPqSql: String = ivfPqSearchSql("")

  /** Both models trained on the BUILT half only; assignment, encoding,
    * and the probed scan cover the whole corpus — what
    * build(A) + stream-append(B) contains.
    */
  val ivfPqAppendSql: String = ivfPqSearchSql("WHERE vec_id < 250")

  /** Persisted IVF-PQ: build the full production index layout into a
    * throwaway catalog — coarse centroids + PQ codebooks (tiny sets),
    * codes PARTITIONED BY coarse cell (searches list only probed
    * directories, and what they read is codes), vectors hash-placed for
    * the re-rank — then search it. Same kernels end to end, so the
    * oracle is [[simIvfPqSql]] unchanged.
    */
  def simIvfPqIndexed(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      SimilaritySearch.buildIndex(spark, cat, db, "emb", emb, nCentroids = 16, m = 16)
      SimilaritySearch.searchIndex(spark, cat, db, "emb",
        emb.filter(col("vec_id") < 10), k = 5)
    }
  }

  /** Codebooks trained on the BUILT half only (vec_id < 250); encoding
    * and the ADC scan in the shared tail still cover the whole corpus —
    * exactly what build(A) + stream-append(B) produces.
    */
  val pqAppendSql: String = pqSearchSql("WHERE vec_id < 250")

  /** Persisted-PQ variant of [[simPq]]: build the compressed index into a
    * throwaway set catalog (codebooks + codes + vectors sets), then
    * search it — the build/persist/scan-codes/re-rank lifecycle. Same
    * deterministic kernels end to end, so the oracle is [[simPqSql]]
    * unchanged.
    */
  def simPqIndexed(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      SimilaritySearch.buildIndex(spark, cat, db, "emb", emb, m = 16)
      SimilaritySearch.searchIndex(spark, cat, db, "emb",
        emb.filter(col("vec_id") < 10), k = 5)
    }
  }

  /** The persisted-index variant of [[simIvf]]: build the IVF index into a
    * throwaway set catalog (codebook set + bucket-partitioned vector set),
    * then search it. Same deterministic kernels end to end, so the oracle
    * is [[simIvfSql]] unchanged — what this query adds is coverage of the
    * build→persist→prune→search lifecycle (partition-pruned scan instead
    * of full-corpus scan).
    */
  def simIvfIndexed(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      SimilaritySearch.buildIndex(spark, cat, db, "emb", emb, nCentroids = 16)
      SimilaritySearch.searchIndex(spark, cat, db, "emb",
        emb.filter(col("vec_id") < 10), k = 5)
    }
  }

  /** Incremental-maintenance variant of [[simIvfIndexed]]: build the
    * index on the first half of the corpus, APPEND the second half with
    * the standing codebook ([[SimilaritySearch.appendToIndex]] — the
    * continuous-ingest path: no retrain, no rewrite), then search. The
    * oracle trains its Lloyd CTEs on the built half only and assigns the
    * whole corpus with that codebook, which is exactly what the appended
    * index contains.
    */
  def simIvfAppend(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      SimilaritySearch.buildIndex(spark, cat, db, "emb",
        emb.filter(col("vec_id") < 250), nCentroids = 16)
      SimilaritySearch.appendToIndex(spark, cat, db, "emb",
        emb.filter(col("vec_id") >= 250))
      SimilaritySearch.searchIndex(spark, cat, db, "emb",
        emb.filter(col("vec_id") < 10), k = 5)
    }
  }

  def txtLangId(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.languageId(Tables.documents(spark, d), "doc_id", "text")

  def txtQuality(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(spark, d), "doc_id", "text")

  def txtTokens(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(spark, d), "doc_id", "text")

  def txtFingerprint(spark: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprints(Tables.documents(spark, d), "doc_id", "text")

  /** Oracle for [[txtLangId]]: per-language stopword counts, argmax in
    * the list's priority order on ties.
    */
  val txtLangIdSql: String = {
    val langs = TextAnalysis.stopwords.map(_._1)
    val scoreDefs = TextAnalysis.stopwords.map { case (lang, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($list))) AS s_$lang"
    }.mkString(",\n  ")
    val predCases = langs.dropRight(1).map { lang =>
      val conds = langs.filter(_ != lang).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n    ")
    s"""SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE $predCases ELSE '${langs.last}' END AS pred_lang
       |FROM (SELECT doc_id AS doc_id,
       |  $scoreDefs
       |  FROM documents) t""".stripMargin
  }

  val txtQualitySql: String = OracleSql.qualityScoreSql("documents")

  val txtTokensSql: String =
    """SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents) t
      |GROUP BY word""".stripMargin

  val txtTfidfSql: String =
    """WITH tf AS (
      |  SELECT doc_id, word, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents) t
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
      |SELECT tf.doc_id, tf.word,
      |  round(tf.tf * ln((SELECT n FROM nn) / dfreq.df), 6) AS tfidf
      |FROM tf JOIN dfreq USING (word)""".stripMargin

  /** Oracle for [[TextAnalysis.lmScore]] with the reference slice
    * doc_id < 250, scoring every document.
    */
  val txtLmScoreSql: String = lmScoreSqlOver("documents")

  /** [[txtLmScoreSql]] scoring only the (doc_id, text) rows of `scored`
    * (the streaming form scores the arrivals); the model side stays the
    * reference slice.
    */
  private[queries] def lmScoreSqlOver(scored: String): String =
    s"""WITH ${OracleSql.lmModelCtes("WHERE doc_id < 250")},
       |${OracleSql.lmScoreCtes("s", scored)}
       |SELECT doc_id, n_bigrams, lm_score FROM s""".stripMargin

  /** Oracle for [[TextAnalysis.lmQualityBuckets]] at the default
    * head/middle/tail terciles: the lm-score chain, the exact-rank cuts,
    * then ties to the better tier.
    */
  val txtLmBucketsSql: String =
    s"""WITH ${OracleSql.lmModelCtes("WHERE doc_id < 250", materialized = true)},
       |${OracleSql.lmScoreCtes("lsc", "documents", materialized = true)},
       |${OracleSql.tercileCutCtes("lsc")}
       |SELECT doc_id, lm_score,
       |  CASE WHEN lm_score >= (SELECT t FROM t1) THEN 0
       |       WHEN lm_score >= (SELECT t FROM t2) THEN 1
       |       ELSE 2 END AS bucket
       |FROM lsc""".stripMargin

  val txtRepetitionSql: String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |wstats AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |         COUNT(DISTINCT word) AS n_distinct_words
       |  FROM words GROUP BY 1),
       |bigrams AS (
       |  SELECT doc_id, ${OracleSql.bigramsSql} AS bigram
       |  FROM documents),
       |bstats AS (
       |  SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bigrams FROM (
       |    SELECT doc_id, bigram, COUNT(*) AS c FROM bigrams GROUP BY 1, 2) t
       |  GROUP BY 1)
       |SELECT w.doc_id, n_words, n_distinct_words,
       |  round(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 6) AS dup_word_frac,
       |  round(CAST(top_c AS DOUBLE) / n_bigrams, 6) AS top_bigram_frac
       |FROM wstats w JOIN bstats b ON w.doc_id = b.doc_id""".stripMargin

  /** Rolling-hash mirror: list_reduce seeds with the first element, which
    * equals the Scala loop's state after its first character (h₀=0). */
  val txtFingerprintSql: String =
    """SELECT doc_id, CASE WHEN length(text) = 0 THEN 0 ELSE CAST(list_reduce(
      |  list_transform(regexp_extract_all(text, '(?s).'),
      |    c -> CAST(unicode(c) AS HUGEINT)),
      |  (acc, x) -> (acc * 257 + x) % 2305843009213693951) AS BIGINT) END
      |  AS fingerprint
      |FROM documents""".stripMargin

  def mmFeatures(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.withPayload(Tables.documents(spark, d))
    Multimodal.extractFeatures(spark, media).toDF()
      .select(col("doc_id"), col("n_frames"), size(col("feature")).as("dim"))
  }

  /** Shape oracle for the multimodal plumbing: one feature row per doc with
    * the stub decoder's fixed frame count and dimension. (Feature VALUES
    * are checked in PipelineSpec; the stub is not SQL-expressible.) */
  val mmFeaturesSql: String =
    """SELECT doc_id, CAST(1 AS INT) AS n_frames, CAST(16 AS INT) AS dim
      |FROM documents""".stripMargin

  /** Codec-true resize, hash-checked per pixel slot: documents render as
    * real len×1 PNGs ([[Multimodal.toPngPayload]]), [[Multimodal.resize]]
    * decodes each through `javax.imageio`, nearest-neighbor samples to
    * 32×1 (output pixel x ← source pixel (x·len)/32, integer division),
    * re-encodes as PNG, and [[Multimodal.PixelSumDecoder]] decodes the
    * RESULT back to a 16-dim positional luminance fold (slot = x mod 16).
    * Both PNG round-trips are lossless and the luminance of an r=g=b=v
    * pixel is exactly v, so every output slot is a closed-form integer
    * function of the text bytes the DuckDB oracle reproduces through the
    * hex channel — the whole decode→rescale→re-encode→decode chain is
    * content-checked, not just size-checked.
    */
  def mmResize(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.toPngPayload(Tables.documents(spark, d))
    val resized = Multimodal.resize(spark, media, 32, 1).toDF()
    Multimodal.extractFeatures(spark, resized, dim = 16,
        decoder = Multimodal.PixelSumDecoder)
      .toDF()
      .select(col("doc_id"), posexplode(col("feature")))
      .select(col("doc_id"), col("pos").cast("int").as("slot"),
        col("col").cast("long").as("lum_sum"))
  }

  /** Source byte for resized pixel x is (x·len)//32 — the same integer
    * nearest-neighbor rule as the Scala side (the min(…, sw−1) clamp
    * never binds for x<32); each of the 16 slots sums exactly 2 pixels.
    */
  val mmResizeSql: String =
    s"""WITH mt AS (
       |  ${OracleSql.hexPayloadSql("documents WHERE strlen(text) > 0")}),
       |mp AS (SELECT doc_id, hx, len, unnest(generate_series(0, 31)) AS x
       |       FROM mt),
       |pv AS (SELECT doc_id, x % 16 AS slot,
       |    ${OracleSql.byteAtSql("hx", "((x * len) // 32)")} AS lum
       |  FROM mp)
       |SELECT doc_id, CAST(slot AS INT) AS slot,
       |  CAST(SUM(lum) AS BIGINT) AS lum_sum
       |FROM pv GROUP BY 1, 2""".stripMargin

  /** Image near-dup — the multimodal composition of the dedup stack:
    * documents render as REAL PNGs ([[Multimodal.toPngPayload]], len×1
    * RGB), decode through the real `javax.imageio` codec
    * ([[Multimodal.PixelSumDecoder]] — integer positional luminance
    * fold, lossless in float), and the 16-dim image features feed
    * SemDeDup-style within-cluster cosine ([[Dedup.semanticPairs]]:
    * kmeans codebook → same-cluster candidates only, no cartesian
    * anywhere — the PlanSpec registry sweep asserts it). Because the
    * PNG round-trip is lossless, every decoded pixel statistic is a
    * closed-form function of the text bytes, so the DuckDB oracle
    * reproduces the feature vectors bit-for-bit and the whole
    * encode→decode→featurize→cluster→verify chain is hash-checked.
    * Threshold 0.999: byte-fold features of same-language text are
    * mean-dominated (median pair cos ≈0.993 at sf0.01), and the
    * distribution knees sharply — 110 of 124 750 pairs clear 0.999.
    */
  def mmNearDup(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.toPngPayload(Tables.documents(spark, d))
    val feats = Multimodal
      .extractFeatures(spark, media, dim = 16,
        decoder = Multimodal.PixelSumDecoder)
      .toDF()
      .select(col("doc_id").as("vec_id"), col("feature").as("embedding"))
    Dedup.semanticPairs(feats, "vec_id", "embedding",
      iters = 3, threshold = 0.999)
  }

  /** The derived-feature CTE: per doc, f[j] = Σ UTF-8 BYTE values at
    * byte positions ≡ j (mod 16) — exactly what the decoded len×1 PNG
    * folds to (the payload is text.getBytes(UTF-8), one pixel per BYTE,
    * so the oracle goes through the hex channel like the other mm_*
    * oracles; a codepoint fold would diverge on any non-ASCII char).
    * Named `embeddings` so it shadows the base table inside the shared
    * unrolled-Lloyd trainer chain.
    */
  private val mmEmbPrelude: String =
    s"""mt AS (
       |  ${OracleSql.hexPayloadSql("documents WHERE strlen(text) > 0")}),
       |${byteFoldCtes("mt", "hx", "len")}""".stripMargin

  /** The image features of the hex payloads in `src` (doc_id, `hx`,
    * `len`) as the CTE `embeddings` (vec_id, embedding): f[j] = Σ byte
    * values at byte positions ≡ j (mod 16), via `mp`, `ma` and `mb`.
    */
  private def byteFoldCtes(src: String, hx: String, len: String): String =
    s"""mp AS (SELECT doc_id, $hx, unnest(generate_series(0, $len - 1)) AS i
       |       FROM $src),
       |ma AS (SELECT doc_id, i % 16 AS j,
       |         SUM(${OracleSql.byteAtSql(hx, "i")}) AS sm
       |       FROM mp GROUP BY 1, 2),
       |mb AS (SELECT t.doc_id, g.j
       |       FROM (SELECT doc_id FROM $src) t
       |       CROSS JOIN (SELECT unnest(range(0, 16)) AS j) g),
       |embeddings AS (
       |  SELECT mb.doc_id AS vec_id,
       |    list(CAST(COALESCE(ma.sm, 0) AS FLOAT) ORDER BY mb.j) AS embedding
       |  FROM mb LEFT JOIN ma ON ma.doc_id = mb.doc_id AND ma.j = mb.j
       |  GROUP BY mb.doc_id)""".stripMargin

  val mmNearDupSql: String =
    OracleSql.lloydCtes(OracleSql.autoKExpr(), 3, "", 16, mmEmbPrelude) + ",\n" +
      OracleSql.semanticPairsSql(16, 0.999)

  /** Frame sampling over the video-like payload ([[Multimodal.sampleFrames]]:
    * every 4th 64-byte chunk as a frame row). Content is checked
    * byte-for-byte through hex — the one byte-faithful channel Spark and
    * DuckDB share (DuckDB has no BLOB substring/md5; hex is ASCII, so its
    * char arithmetic IS byte arithmetic at 2 chars per byte).
    */
  def mmFrames(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.withPayload(Tables.documents(spark, d))
    Multimodal.sampleFrames(spark, media)
      .select(col("doc_id"), col("frame_no"),
        hex(col("frame")).as("frame_hex"))
  }

  val mmFramesSql: String =
    s"""WITH m AS (
       |  ${OracleSql.hexPayloadSql("documents WHERE text IS NOT NULL")})
       |${OracleSql.framesSql("m")}""".stripMargin

  /** Windowed audio energy ([[Multimodal.audioEnergy]]): payload bytes as
    * unsigned 8-bit PCM, window 256 / hop 128, exact integer Σ (b−128)²
    * per window — integer energies make the oracle order-independent
    * where a float RMS would drift with summation order. The DuckDB side
    * recovers byte values from hex pairs (strpos into the hex alphabet).
    */
  def mmAudioEnergy(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.withPayload(Tables.documents(spark, d))
    Multimodal.audioEnergy(media)
  }

  val mmAudioEnergySql: String =
    s"""WITH m AS (
       |  ${OracleSql.hexPayloadSql("documents WHERE text IS NOT NULL")}),
       |${OracleSql.energyCtes("m", 256, 128)}
       |SELECT doc_id, CAST(wno AS INT) AS window_no,
       |  CAST(least(256, len - wno * 128) AS INT) AS n_samples,
       |  CAST(energy AS BIGINT) AS energy
       |FROM e JOIN m USING (doc_id)""".stripMargin

  /** Cross-document repeated-frame detection ([[Multimodal.frameDedup]]):
    * the documents fixture plus a replay of docs < 100 under offset ids
    * (the same re-crawl plant as dd_exact_indexed — replayed docs carry
    * identical payloads, so each of their sampled frames repeats), every
    * 4th 64-byte chunk sampled as a frame, then exact content groupBy
    * keeping the smallest (doc_id, frame_no) site per repeated frame.
    */
  def mmFrameDedup(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val replayed = OracleSql.replayed(docs)
    val frames = Multimodal.sampleFrames(spark, Multimodal.withPayload(replayed))
    Multimodal.frameDedup(frames)
  }

  /** Repeated frames among the frames `fx` (doc_id, frame_no,
    * frame_hex): `dupc` (frame_hex, n_copies) for every frame seen more
    * than once, `dupk` ranking each frame's sites by (doc_id, frame_no).
    */
  private val frameDupCtes: String =
    """dupc AS (
      |  SELECT frame_hex, COUNT(*) AS n_copies FROM fx
      |  GROUP BY frame_hex HAVING COUNT(*) > 1),
      |dupk AS (
      |  SELECT frame_hex, doc_id AS keep_doc_id, frame_no AS keep_frame_no,
      |    ROW_NUMBER() OVER (PARTITION BY frame_hex
      |                       ORDER BY doc_id, frame_no) AS rn
      |  FROM fx)""".stripMargin

  val mmFrameDedupSql: String =
    s"""WITH u AS (
       |  ${OracleSql.replaySql()}),
       |m AS (
       |  ${OracleSql.hexPayloadSql("u WHERE text IS NOT NULL")}),
       |fx AS (
       |  ${OracleSql.framesSql("m")}),
       |$frameDupCtes
       |SELECT c.frame_hex, k.keep_doc_id, k.keep_frame_no, c.n_copies
       |FROM dupc c JOIN dupk k USING (frame_hex) WHERE k.rn = 1""".stripMargin

  /** Low-energy audio segmentation ([[Multimodal.silenceSegments]]):
    * energy windows at or under the threshold merged into maximal
    * consecutive runs per doc. The threshold sits inside the fixture's
    * energy distribution so both populated and empty docs exercise the
    * islands merge.
    */
  def mmSilence(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.withPayload(Tables.documents(spark, d))
    Multimodal.silenceSegments(media)
  }

  val mmSilenceSql: String =
    s"""WITH m AS (
       |  ${OracleSql.hexPayloadSql("documents WHERE text IS NOT NULL")}),
       |${OracleSql.energyCtes("m", 256, 128)},
       |s AS (
       |  SELECT doc_id, CAST(wno AS INT) AS window_no,
       |    wno - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wno) AS grp
       |  FROM e WHERE energy <= 500000)
       |SELECT doc_id, MIN(window_no) AS seg_start, MAX(window_no) AS seg_end,
       |  COUNT(*) AS n_windows
       |FROM s GROUP BY doc_id, grp""".stripMargin

  /** Silence strip ([[Multimodal.stripSilence]], the act form of
    * mm_silence): payloads rebuilt from their above-threshold
    * non-overlapping 256-byte windows; content checked byte-for-byte
    * through the hex channel.
    */
  def mmSilenceStrip(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.withPayload(Tables.documents(spark, d))
    Multimodal.stripSilence(media.filter(col("payload").isNotNull))
      .select(col("doc_id"), hex(col("payload_stripped")).as("payload_hex"),
        col("n_removed"))
  }

  val mmSilenceStripSql: String =
    s"""WITH m AS (
       |  ${OracleSql.hexPayloadSql("documents WHERE text IS NOT NULL")}),
       |${silenceStripCtes(materialized = false)}
       |SELECT m.doc_id, COALESCE(k.payload_hex, '') AS payload_hex,
       |  CAST(COALESCE(r.n_removed, 0) AS INT) AS n_removed
       |FROM m
       |LEFT JOIN kept k ON k.doc_id = m.doc_id
       |LEFT JOIN removed r ON r.doc_id = m.doc_id""".stripMargin

  /** The silence strip of [[Multimodal.stripSilence]] over the hex
    * payloads in `m`: energy over non-overlapping 256-byte windows,
    * `kept` (doc_id, payload_hex) rebuilt from the windows above the
    * threshold, `removed` (doc_id, n_removed) counting the others.
    */
  private def silenceStripCtes(materialized: Boolean): String =
    OracleSql.energyCtes("m", 256, 256, materialized = materialized) + ",\n" +
      s"""${OracleSql.cte("kept", materialized)} (
         |  SELECT doc_id,
         |    string_agg(substring(hx, wno * 512 + 1, 512), '' ORDER BY wno)
         |      AS payload_hex
         |  FROM e JOIN m USING (doc_id) WHERE energy > 500000 GROUP BY doc_id),
         |removed AS (
         |  SELECT doc_id, COUNT(*) AS n_removed FROM e
         |  WHERE energy <= 500000 GROUP BY doc_id)""".stripMargin

  /** Audio envelope dedup ([[Multimodal.envelopeDedup]]): the documents
    * fixture plus the docs < 100 replay plant, payload bytes as PCM at
    * window 64 / hop 32, delta-sign fingerprint over the first 64
    * windows, then groupBy on the fingerprint keeping the smallest doc.
    * Replayed docs carry identical payloads → identical envelopes, so
    * each eligible (≥ 8 windows) replayed doc lands in a duplicate
    * group; organic envelope collisions across distinct docs are real
    * duplicates BY THIS KEY and appear in both engines identically.
    */
  def mmAudioDup(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val replayed = OracleSql.replayed(docs)
    Multimodal.envelopeDedup(Multimodal.withPayload(replayed))
  }

  val mmAudioDupSql: String =
    s"""WITH u AS (
       |  ${OracleSql.replaySql()}),
       |m AS (
       |  ${OracleSql.hexPayloadSql("u WHERE text IS NOT NULL")}),
       |${OracleSql.energyCtes("m", 64, 32)},
       |${OracleSql.envelopeCtes()}
       |SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
       |FROM f GROUP BY fp HAVING COUNT(*) > 1""".stripMargin

  /** Persisted image-ANN — the multimodal composition of the IVF index
    * lifecycle ([[simIvfIndexed]] with image features instead of the
    * embeddings table): documents render as real PNGs, decode through
    * [[Multimodal.PixelSumDecoder]] (bit-exact positional luminance
    * fold, so the oracle reproduces the vectors from the text bytes),
    * then build → persist → partition-pruned search against a standing
    * bucket-partitioned index. A multimodal corpus needs standing image
    * ANN exactly as it needs standing text LSH; IvfIndexSpec's
    * dynamic-pruning assertion covers the scan shape.
    */
  def mmIvf(spark: SparkSession, d: String): DataFrame = {
    val media = Multimodal.toPngPayload(Tables.documents(spark, d))
    // decode once: the feature frame feeds codebook training, index
    // assignment, AND the query side
    val feats = Multimodal
      .extractFeatures(spark, media, dim = 16,
        decoder = Multimodal.PixelSumDecoder)
      .toDF()
      .select(col("doc_id").as("vec_id"), col("feature").as("embedding"))
      .localCheckpoint(true)
    graft.storage.SetCatalog.scratch(spark) { (cat, db) =>
      SimilaritySearch.buildIndex(spark, cat, db, "img", feats, nCentroids = 16)
      SimilaritySearch.searchIndex(spark, cat, db, "img",
        feats.filter(col("vec_id") < 10), k = 5)
    }
  }

  /** The image-feature CTE shadows `embeddings`, then the 16-centroid
    * trainer and the shared IVF probe/score tail run over it — the same
    * composition as [[simIvfSql]] at dim 16.
    */
  val mmIvfSql: String =
    OracleSql.lloydCtes("16", 3, dim = 16, prelude = mmEmbPrelude) +
      ",\n" + ivfSearchTail(16)

  /** The media capstone composition — the media operators chained the
    * way a real multimodal-curation job runs them (mirroring
    * [[CurationQueries.pipeCurate]] for text): strip silent windows from
    * every payload, drop fully-stripped docs, then over the STRIPPED
    * bytes run (a) cross-doc frame dedup and (b) image near-dup — the
    * stripped payload re-encoded as a real PNG, decoded through
    * [[Multimodal.PixelSumDecoder]], SemDeDup over the features — and
    * emit the per-doc keep list. Every stage is individually
    * oracle-checked (mm_silence_strip, mm_frame_dedup, mm_neardup); this
    * query hash-checks that they COMPOSE, end to end through the byte-
    * faithful hex channel. The documents<100 replay plant guarantees
    * both branches fire.
    */
  def pipeMedia(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val replayed = OracleSql.replayed(docs)
    // one strip pass feeds three consumers (frames, PNG decode, and the
    // output join) — materialize it once, the pipe_curate trade
    val stripped = Multimodal.stripSilence(Multimodal.withPayload(replayed))
      .filter(col("payload_stripped").isNotNull &&
        length(col("payload_stripped")) > 0)
      .localCheckpoint(true)
    val media = stripped
      .select(col("doc_id"), col("payload_stripped").as("payload"))
    // frame branch: non-canonical occurrences of duplicated frames,
    // joined back on the 16-byte content hash (never the frame bytes)
    val frames = Multimodal.sampleFrames(spark, media)
    val dups = Multimodal.frameDedup(frames)
    val nDup = frames
      .select(col("doc_id"), col("frame_no"), unhex(md5(col("frame"))).as("fkey"))
      .join(dups.select(unhex(md5(unhex(col("frame_hex")))).as("fkey"),
        col("keep_doc_id"), col("keep_frame_no")), Seq("fkey"))
      .filter(!(col("doc_id") === col("keep_doc_id") &&
        col("frame_no") === col("keep_frame_no")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_frames"))
    // image branch: stripped bytes -> real PNG -> bit-exact features ->
    // within-cluster cosine; the LARGER id of each >=0.999 pair drops
    val feats = Multimodal.extractFeatures(spark,
        Multimodal.bytesToPngPayload(media), dim = 16,
        decoder = Multimodal.PixelSumDecoder).toDF()
      .select(col("doc_id").as("vec_id"), col("feature").as("embedding"))
    val pairs = Dedup.semanticPairs(feats, "vec_id", "embedding",
      iters = 3, threshold = 0.999)
    val imgDup = pairs.select(col("id_b").as("doc_id")).distinct()
      .withColumn("is_image_dup", lit(true))
    stripped.select(col("doc_id"), col("n_removed"))
      .join(nDup, Seq("doc_id"), "left")
      .join(imgDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_removed"),
        coalesce(col("n_dup_frames"), lit(0L)).as("n_dup_frames"),
        coalesce(col("is_image_dup"), lit(false)).as("is_image_dup"))
      .withColumn("keep",
        col("n_dup_frames") === lit(0L) && !col("is_image_dup"))
  }

  /** Strip + frames + image-feature CTEs ahead of the shared Lloyd
    * trainer (the feature CTE shadows `embeddings`), then the SemDeDup
    * tail and the keep-list join. Same hex-channel byte arithmetic as
    * the stage oracles it composes.
    */
  private val pipeMediaPrelude: String =
    s"""u AS (
       |  ${OracleSql.replaySql()}),
       |m AS MATERIALIZED (
       |  ${OracleSql.hexPayloadSql("u WHERE text IS NOT NULL")}),
       |${silenceStripCtes(materialized = true)},
       |s AS MATERIALIZED (
       |  SELECT m.doc_id, k.payload_hex AS shx, strlen(k.payload_hex) // 2 AS slen,
       |    CAST(COALESCE(r.n_removed, 0) AS INT) AS n_removed
       |  FROM m
       |  JOIN kept k ON k.doc_id = m.doc_id
       |  LEFT JOIN removed r ON r.doc_id = m.doc_id),
       |fx AS (
       |  ${OracleSql.framesSql("s", "shx", "slen")}),
       |$frameDupCtes,
       |fdup AS (
       |  SELECT f.doc_id, COUNT(*) AS n_dup_frames
       |  FROM fx f
       |  JOIN dupc USING (frame_hex)
       |  JOIN dupk k ON k.frame_hex = f.frame_hex AND k.rn = 1
       |  WHERE NOT (f.doc_id = k.keep_doc_id AND f.frame_no = k.keep_frame_no)
       |  GROUP BY f.doc_id),
       |${byteFoldCtes("s", "shx", "slen")}""".stripMargin

  lazy val pipeMediaSql: String =
    OracleSql.lloydCtes(OracleSql.autoKExpr(), 3, "", 16, pipeMediaPrelude) +
      ",\n" + imageDupCtes + "\n" +
      """SELECT s.doc_id, s.n_removed,
        |  COALESCE(f.n_dup_frames, 0) AS n_dup_frames,
        |  (i.doc_id IS NOT NULL) AS is_image_dup,
        |  (COALESCE(f.n_dup_frames, 0) = 0 AND i.doc_id IS NULL) AS keep
        |FROM s
        |LEFT JOIN fdup f ON f.doc_id = s.doc_id
        |LEFT JOIN imgdup i ON i.doc_id = s.doc_id""".stripMargin

  /** The image branch after the Lloyd chain: SemDeDup over the stripped
    * payloads' features (the cell CTE is `vv`, since the prelude's byte
    * CTE holds `v`), and `imgdup` = the larger id of each ≥ 0.999 pair.
    */
  private lazy val imageDupCtes: String =
    OracleSql.assignCtes() + ",\n" + OracleSql.cellPairCtes(16, v = "vv") +
      """,
        |imgdup AS (
        |  SELECT DISTINCT id_b AS doc_id FROM p WHERE cos >= 0.999)""".stripMargin

  /** The cross-modal capstone — [[CurationQueries.pipeCurate]]'s text
    * decision stages and [[pipeMedia]]'s media decision stages composed
    * into ONE corpus-curation plan emitting a single per-doc keep
    * decision, the job shape a real multimodal training-data pipeline
    * runs: keep = not-text-dup (survives passage-level span strip)
    * ∧ text-quality (top half by quality score among survivors)
    * ∧ not-media-dup (survives silence strip with no duplicated frames
    * and no image near-dup). One corpus definition (documents plus the
    * docs<100 replay plant, so every branch fires) feeds both modality
    * chains; each expensive stage materializes once and the final join
    * assembles the per-doc verdict. Every component is individually
    * oracle-checked (dd_span_strip, txt_quantile_filter,
    * mm_silence_strip, mm_frame_dedup, mm_neardup); this query
    * hash-checks the full cross-modal composition. The corpus-level
    * token-budget subset (op_token_budget) stays out by design: it is a
    * downstream sampling step over keep=true docs, not a per-doc
    * decision.
    */
  def pipeAll(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val corpus = OracleSql.replayed(docs).filter(col("text").isNotNull)
    // TEXT branch — pipe_curate's stages over THIS corpus: the replayed
    // docs are verbatim copies, so span-strip collapses them to empty.
    // The two branch HEADS (span-strip and silence-strip) are
    // independent eager materializations; running their jobs from two
    // driver threads lets each branch's stage tail back-fill the
    // other's idle cores (guide §2.6 — overlap independent jobs)
    // instead of serializing two barriers. Results are unchanged:
    // only the materialization ORDER overlaps.
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // blocking{}: a Spark action parks this fork-join thread until its
    // jobs finish; the marker lets the global pool grow a replacement so
    // CONCURRENT invocations of this query (the serving pattern) cannot
    // starve the pool behind parked action threads (VERDICT r20 #2)
    val strippedF = scala.concurrent.Future {
      scala.concurrent.blocking {
        Dedup.stripDuplicateSpans(corpus, "doc_id", "text", k = 8)
          .localCheckpoint(true)
      }
    }
    val silStrippedF = scala.concurrent.Future {
      scala.concurrent.blocking {
        Multimodal.stripSilence(Multimodal.withPayload(corpus))
          .filter(col("payload_stripped").isNotNull &&
            length(col("payload_stripped")) > 0)
          .localCheckpoint(true)
      }
    }
    val stripped = scala.concurrent.Await
      .result(strippedF, scala.concurrent.duration.Duration.Inf)
    val survivors = stripped.filter(col("clean_text") =!= "")
      .select(col("doc_id"), col("clean_text").as("text"))
    val scored = TextAnalysis.qualityScore(survivors, "doc_id", "text")
      .select(col("doc_id"), col("q_score"))
    val qkeep = Curation.quantileKeep(scored, "q_score", fraction = 0.5)
      .select(col("doc_id")).withColumn("quality_keep", lit(true))
    // MEDIA branch — pipe_media's stages over the same corpus
    val silStripped = scala.concurrent.Await
      .result(silStrippedF, scala.concurrent.duration.Duration.Inf)
    val media = silStripped
      .select(col("doc_id"), col("payload_stripped").as("payload"))
    val frames = Multimodal.sampleFrames(spark, media)
    val dups = Multimodal.frameDedup(frames)
    val nDup = frames
      .select(col("doc_id"), col("frame_no"), unhex(md5(col("frame"))).as("fkey"))
      .join(dups.select(unhex(md5(unhex(col("frame_hex")))).as("fkey"),
        col("keep_doc_id"), col("keep_frame_no")), Seq("fkey"))
      .filter(!(col("doc_id") === col("keep_doc_id") &&
        col("frame_no") === col("keep_frame_no")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_frames"))
    val feats = Multimodal.extractFeatures(spark,
        Multimodal.bytesToPngPayload(media), dim = 16,
        decoder = Multimodal.PixelSumDecoder).toDF()
      .select(col("doc_id").as("vec_id"), col("feature").as("embedding"))
    val pairs = Dedup.semanticPairs(feats, "vec_id", "embedding",
      iters = 3, threshold = 0.999)
    val imgDup = pairs.select(col("id_b").as("doc_id")).distinct()
      .withColumn("is_image_dup", lit(true))
    val hasMedia = silStripped.select(col("doc_id"))
      .withColumn("has_media", lit(true))
    corpus.select(col("doc_id"))
      .join(stripped.select(col("doc_id"),
        (col("clean_text") =!= "").as("ntd")), Seq("doc_id"), "left")
      .join(qkeep, Seq("doc_id"), "left")
      .join(hasMedia, Seq("doc_id"), "left")
      .join(nDup, Seq("doc_id"), "left")
      .join(imgDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ntd"), lit(false)).as("not_text_dup"),
        coalesce(col("quality_keep"), lit(false)).as("quality_keep"),
        (coalesce(col("has_media"), lit(false)) &&
          coalesce(col("n_dup_frames"), lit(0L)) === 0L &&
          !coalesce(col("is_image_dup"), lit(false))).as("media_keep"))
      .withColumn("keep",
        col("not_text_dup") && col("quality_keep") && col("media_keep"))
  }

  /** The media prelude (u/…/embeddings over the replayed corpus) plus
    * dd_span_strip's chain ([[spanStripCtes]], t-prefixed) and the
    * quality-median gate over the same `u` — both modality chains share
    * one corpus CTE, like the Spark plan shares one corpus frame.
    */
  private lazy val pipeAllPrelude: String =
    pipeMediaPrelude + ",\n" + spanStripCtes("u WHERE text IS NOT NULL", "t") +
      s""",
         |tstrip AS MATERIALIZED (
         |  SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text
         |  FROM ttoks t LEFT JOIN trebuilt r ON t.doc_id = r.doc_id),
         |tsurv AS (SELECT doc_id, clean_text AS text FROM tstrip
         |          WHERE clean_text <> ''),
         |tq AS MATERIALIZED (SELECT doc_id, q_score FROM (
         |  ${OracleSql.qualityScoreSql("tsurv")}) z),
         |tthr AS (${OracleSql.rankCutSql("tq", "q_score", "0.5")}),
         |tqkeep AS (
         |  SELECT tq.doc_id FROM tq CROSS JOIN tthr
         |  WHERE tq.q_score >= tthr.t)""".stripMargin

  lazy val pipeAllSql: String =
    OracleSql.lloydCtes(OracleSql.autoKExpr(), 3, "", 16, pipeAllPrelude) +
      ",\n" + imageDupCtes + "\n" +
      """SELECT mm.doc_id,
        |  (ts.clean_text <> '') AS not_text_dup,
        |  (qk.doc_id IS NOT NULL) AS quality_keep,
        |  (sv.doc_id IS NOT NULL AND COALESCE(f.n_dup_frames, 0) = 0
        |    AND i.doc_id IS NULL) AS media_keep,
        |  ((ts.clean_text <> '') AND qk.doc_id IS NOT NULL
        |    AND sv.doc_id IS NOT NULL AND COALESCE(f.n_dup_frames, 0) = 0
        |    AND i.doc_id IS NULL) AS keep
        |FROM m mm
        |JOIN tstrip ts ON ts.doc_id = mm.doc_id
        |LEFT JOIN tqkeep qk ON qk.doc_id = mm.doc_id
        |LEFT JOIN s sv ON sv.doc_id = mm.doc_id
        |LEFT JOIN fdup f ON f.doc_id = mm.doc_id
        |LEFT JOIN imgdup i ON i.doc_id = mm.doc_id""".stripMargin

  /** The curate→sample tail of the capstone: [[pipeAll]]'s keep=true
    * docs flow into the corpus-level token-budget subset
    * (op_token_budget's operator, [[Curation.tokenBudgetSubset]]) — the
    * full production pipeline (per-doc multimodal keep decision, then
    * the budgeted training-data sample over the survivors) as ONE plan.
    * The budget counts tokens of the survivors' ORIGINAL text: the
    * sampler ships stored docs, not the span-stripped rebuild.
    */
  def pipeAllBudget(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val corpus = OracleSql.replayed(docs).filter(col("text").isNotNull)
    val keep = pipeAll(spark, d).filter(col("keep")).select(col("doc_id"))
    graft.operators.Curation.tokenBudgetSubset(
      corpus.join(keep, Seq("doc_id")),
      "doc_id", "text", totalTokens = 30000L, nShards = 8)
  }

  /** pipe_all's full oracle as a nested-WITH CTE, then op_token_budget's
    * shard/position/cumsum CTEs scoped to the keep=true survivors.
    */
  lazy val pipeAllBudgetSql: String =
    pipeAllKeptCtes(materialized = false) + ",\n" +
      OracleSql.tokenBudgetSql("kept", 8, "3750")

  /** pipe_all's oracle as CTE `pa` and its keep=true docs of the
    * replayed corpus as `kept` (doc_id, text).
    */
  private def pipeAllKeptCtes(materialized: Boolean): String =
    s"""WITH ${OracleSql.cte("pa", materialized)} (
       |$pipeAllSql
       |),
       |u2 AS (
       |  ${OracleSql.replaySql()}),
       |${OracleSql.cte("kept", materialized)} (
       |  SELECT u2.doc_id, u2.text FROM u2
       |  JOIN pa ON pa.doc_id = u2.doc_id AND pa.keep
       |  WHERE u2.text IS NOT NULL)""".stripMargin

  /** The LM-gated production curation chain — [[pipeAllBudget]] with the
    * model-based quality gate a real pipeline filters on composed in:
    * keep = pipe_all's cross-modal verdict ∧ lm_score in the corpus's
    * top half ([[TextAnalysis.lmScore]] against the doc_id < 250
    * reference slice, thresholded by [[Curation.quantileKeep]] over the
    * SURVIVORS — a model-quality quantile, not the heuristic q_score one
    * already inside pipe_all), and the token budget runs over the
    * doubly-gated set. This is the CCNet-style recipe end to end:
    * heuristic gates → reference-LM perplexity gate → budgeted sample,
    * as ONE Spark plan. Docs with no bigrams are unscoreable and drop at
    * the gate (lmScore's documented contract).
    *
    * Scale shape: adds two equi joins + a broadcast scalar (the LM
    * score) and one quantile job over the already-curated survivor set —
    * the gate's cost rides on the smallest frame in the pipeline.
    */
  def pipeLmBudget(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val corpus = OracleSql.replayed(docs).filter(col("text").isNotNull)
    // the keep set feeds TWO consumers (the LM-score branch and the
    // final gated join) — materialize it eagerly or the whole pipe_all
    // DAG executes twice (measured: 9.1 s -> ~7 s at sf0.1). Same
    // lineage-for-speed trade pipe_all itself makes; the frame is a
    // doc_id column, tiny.
    val keep = pipeAll(spark, d).filter(col("keep")).select(col("doc_id"))
      .localCheckpoint(true)
    val kept = corpus.join(keep, Seq("doc_id"))
    val scored = TextAnalysis.lmScore(
      kept, docs.filter(col("doc_id") < 250), "doc_id", "text")
      .select(col("doc_id"), col("lm_score"))
    val lmKeep = graft.operators.Curation
      .quantileKeep(scored, "lm_score", fraction = 0.5)
      .select(col("doc_id"))
    graft.operators.Curation.tokenBudgetSubset(
      kept.join(lmKeep, Seq("doc_id")),
      "doc_id", "text", totalTokens = 30000L, nShards = 8)
  }

  /** [[pipeAllBudgetSql]]'s chain with the LM gate spliced between
    * `kept` and the budget CTEs: the lm-score CTEs (model from the
    * doc_id < 250 reference, scored side = `kept`), the top-half
    * quantile threshold (rank → min-score, the tqkeep shape), then the
    * shard/position/cumsum budget over the doubly-gated docs.
    *
    * The multiply-referenced heavy CTEs are `MATERIALIZED`: DuckDB
    * inlines CTEs by default, and `kept` (6 refs, dragging the whole
    * `pa` = pipe_all chain behind it) inlined multiplicatively cost
    * ~10 min / >6 GB at sf0.01 — which killed the round-12 driver
    * compare and zeroed CORRECTNESS_r12.json. With pa, kept, the LM
    * model and the score CTEs materialized it runs in ~20 s (measured,
    * DuckDB 1.0.0). Oracles must fit the harness budget: OracleCostSpec
    * pins the ceiling against the committed ORACLE_COST artifact.
    */
  lazy val pipeLmBudgetSql: String =
    pipeAllKeptCtes(materialized = true) + ",\n" +
      s"""${OracleSql.lmModelCtes("WHERE doc_id < 250", materialized = true)},
         |${OracleSql.lmScoreCtes("lsc", "kept", materialized = true)},
         |lthr AS (${OracleSql.rankCutSql("lsc", "lm_score", "0.5")}),
         |gated AS (
         |  SELECT kept.doc_id, kept.text FROM kept
         |  JOIN lsc USING (doc_id) CROSS JOIN lthr
         |  WHERE lsc.lm_score >= lthr.t),
         |${OracleSql.tokenBudgetSql("gated", 8, "3750")}""".stripMargin

  /** The CCNet SAMPLING recipe end-to-end, as a pure composition of the
    * round-13 operators: score the corpus under the reference LM, cut it
    * into head/middle/tail quality tiers
    * ([[TextAnalysis.lmQualityBuckets]] — exact-rank terciles), then
    * ship a tier-weighted mixture (head 0.6 / middle 0.3 / tail 0.1 of
    * the 30k-token budget) via [[Curation.domainTokenBudget]] with the
    * TIER as the mixture domain — "sample more from the text the model
    * likes" (Wenzek et al. 2020 §4.3 keep head+middle; the weighted form
    * generalizes the hard cut). Unscoreable docs (no bigrams) have no
    * tier and drop, per lmScore's contract.
    *
    * Scale shape: the scoring pass + nBuckets−1 rank-selection jobs
    * (each a broadcast-scalar threshold, no global sort), one broadcast
    * tier join, then the mixture's single (tier, shard) exchange — the
    * whole recipe adds ONE shuffle on top of scoring.
    */
  def pipeQualityMix(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val tiers = graft.operators.TextAnalysis
      .lmQualityBuckets(docs, docs.filter(col("doc_id") < 250),
        "doc_id", "text")
      .select(col("doc_id"), col("bucket").cast("string").as("tier"))
    val tiered = docs.select(col("doc_id"), col("text"))
      .join(tiers, Seq("doc_id"))
    graft.operators.Curation.domainTokenBudget(
      tiered, "doc_id", "text", "tier",
      Map("0" -> 0.6, "1" -> 0.3, "2" -> 0.1),
      totalTokens = 30000L, nShards = 8)
  }

  /** [[txtLmBucketsSql]]'s chain as CTE `bkt`, then the
    * domain-budget CTEs with the tier (bucket cast to VARCHAR) as the
    * mixture domain and the head/middle/tail weights in the VALUES
    * table. Same op-matched double math as both component oracles.
    */
  lazy val pipeQualityMixSql: String =
    s"""WITH bkt AS MATERIALIZED (
       |$txtLmBucketsSql
       |),
       |${OracleSql.weightsCte("0" -> 0.6, "1" -> 0.3, "2" -> 0.1)},
       |""".stripMargin + OracleSql.tokenBudgetSql(
      "documents JOIN bkt USING (doc_id)\n" +
        "  JOIN wts ON wts.domain = CAST(bkt.bucket AS VARCHAR)\n" +
        "  WHERE text IS NOT NULL",
      8, "CAST(FLOOR(30000.0 * w / 8) AS BIGINT)", byDomain = true)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_exact" -> ddExact,
    "dd_minhash_pairs" -> ddMinhash,
    "dd_clusters" -> ddClusters,
    "dd_keep_list" -> ddKeepList,
    "dd_ngram_pairs" -> ddNgram,
    "dd_cross_pairs" -> ddCross,
    "dd_cross_indexed" -> ddCrossIndexed,
    "dd_cross_probe" -> ddCrossProbe,
    "dd_exact_indexed" -> ddExactIndexed,
    "dd_simhash_pairs" -> ddSimhash,
    "dd_cosine_pairs" -> ddCosine,
    "dd_span" -> ddSpan,
    "dd_span_cross" -> ddSpanCross,
    "dd_span_strip" -> ddSpanStrip,
    "dd_semantic" -> ddSemantic,
    "dd_semantic_advised" -> ddSemanticAdvised,
    "dd_semantic_keep" -> ddSemanticKeep,
    "dd_semantic_route" -> ddSemanticRoute,
    "dd_cosine_lsh" -> ddCosineLsh,
    "sim_topk" -> simTopK,
    "sim_ivf_topk" -> simIvf,
    "sim_ivf_indexed" -> simIvfIndexed,
    "sim_ivf_append" -> simIvfAppend,
    "sim_pq_topk" -> simPq,
    "sim_pq_indexed" -> simPqIndexed,
    "sim_ivfpq_topk" -> simIvfPq,
    "sim_ivfpq_indexed" -> simIvfPqIndexed,
    "txt_langid" -> txtLangId,
    "txt_quality" -> txtQuality,
    "txt_tokens" -> txtTokens,
    "txt_fingerprint" -> txtFingerprint,
    "txt_tfidf" -> ((sp, d) => TextAnalysis.tfidf(Tables.documents(sp, d), "doc_id", "text")),
    "txt_lm_score" -> ((sp, d) => {
      val docs = Tables.documents(sp, d)
      TextAnalysis.lmScore(docs, docs.filter(col("doc_id") < 250), "doc_id", "text")
    }),
    "txt_lm_buckets" -> ((sp, d) => {
      val docs = Tables.documents(sp, d)
      TextAnalysis.lmQualityBuckets(
        docs, docs.filter(col("doc_id") < 250), "doc_id", "text")
    }),
    "txt_repetition" -> ((sp, d) => TextAnalysis.repetitionStats(Tables.documents(sp, d), "doc_id", "text")),
    "mm_features" -> mmFeatures,
    "mm_resize" -> mmResize,
    "mm_neardup" -> mmNearDup,
    "mm_frames" -> mmFrames,
    "mm_audio_energy" -> mmAudioEnergy,
    "mm_frame_dedup" -> mmFrameDedup,
    "mm_silence" -> mmSilence,
    "mm_silence_strip" -> mmSilenceStrip,
    "mm_audio_dup" -> mmAudioDup,
    "mm_ivf" -> mmIvf,
    "pipe_media" -> pipeMedia,
    "pipe_all" -> pipeAll,
    "pipe_all_budget" -> pipeAllBudget,
    "pipe_lm_budget" -> pipeLmBudget,
    "pipe_quality_mix" -> pipeQualityMix)

  val oracles: Map[String, String] = Map(
    "dd_exact" -> ddExactSql,
    "dd_minhash_pairs" -> ddMinhashSql,
    "dd_clusters" -> ddClustersSql,
    "dd_keep_list" -> ddKeepListSql,
    "dd_ngram_pairs" -> ddNgramSql,
    "dd_cross_pairs" -> ddCrossSql,
    "dd_cross_indexed" -> ddCrossSql,
    "dd_cross_probe" -> ddCrossSql,
    "dd_exact_indexed" -> ddExactIndexedSql,
    "dd_simhash_pairs" -> ddSimhashSql,
    "dd_cosine_pairs" -> ddCosineSql,
    "dd_span" -> ddSpanSql,
    "dd_span_cross" -> ddSpanCrossSql,
    "dd_span_strip" -> ddSpanStripSql,
    "dd_semantic" -> ddSemanticSql,
    "dd_semantic_advised" -> ddSemanticSql,
    "dd_semantic_keep" -> ddSemanticKeepSql,
    "dd_semantic_route" -> ddSemanticRouteSql,
    "dd_cosine_lsh" -> ddCosineLshSql,
    "sim_topk" -> simTopKSql,
    "sim_ivf_topk" -> simIvfSql,
    "sim_ivf_indexed" -> simIvfSql,
    "sim_ivf_append" -> simIvfAppendSql,
    "sim_pq_topk" -> simPqSql,
    "sim_pq_indexed" -> simPqSql,
    "sim_ivfpq_topk" -> simIvfPqSql,
    "sim_ivfpq_indexed" -> simIvfPqSql,
    "txt_langid" -> txtLangIdSql,
    "txt_quality" -> txtQualitySql,
    "txt_tokens" -> txtTokensSql,
    "txt_fingerprint" -> txtFingerprintSql,
    "txt_tfidf" -> txtTfidfSql,
    "txt_lm_score" -> txtLmScoreSql,
    "txt_lm_buckets" -> txtLmBucketsSql,
    "txt_repetition" -> txtRepetitionSql,
    "mm_features" -> mmFeaturesSql,
    "mm_resize" -> mmResizeSql,
    "mm_neardup" -> mmNearDupSql,
    "mm_frames" -> mmFramesSql,
    "mm_audio_energy" -> mmAudioEnergySql,
    "mm_frame_dedup" -> mmFrameDedupSql,
    "mm_silence" -> mmSilenceSql,
    "mm_silence_strip" -> mmSilenceStripSql,
    "mm_audio_dup" -> mmAudioDupSql,
    "mm_ivf" -> mmIvfSql,
    "pipe_media" -> pipeMediaSql,
    "pipe_all" -> pipeAllSql,
    "pipe_all_budget" -> pipeAllBudgetSql,
    "pipe_lm_budget" -> pipeLmBudgetSql,
    "pipe_quality_mix" -> pipeQualityMixSql)
}
