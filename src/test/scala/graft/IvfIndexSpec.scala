package graft

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.SimilaritySearch
import graft.storage.SetCatalog

class IvfIndexSpec extends GraftSpecBase {

  private lazy val (cat, built) = {
    val root = tempRoot("graft-ivf-spec").toString
    val c = new SetCatalog(spark, root)
    SimilaritySearch.buildIndex(spark, c, "idx", "emb",
      Tables.embeddings(spark, sfDir), nCentroids = 16)
    (c, true)
  }

  test("searching the persisted index equals the in-memory IVF search") {
    assert(built)
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val fromIndex = SimilaritySearch
      .searchIndex(spark, cat, "idx", "emb", queries, k = 5)
      .collect().map(_.toSeq).toSet
    val inMemory = SimilaritySearch
      .ivfTopK(spark, emb, queries, k = 5)
      .collect().map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    // bucket partition column round-trips as int; compare the output
    // columns, which are identical
    assert(fromIndex == inMemory && fromIndex.nonEmpty)
  }

  test("the index scan is partition-pruned by the probed buckets") {
    assert(built)
    val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 2)
    val plan = SimilaritySearch
      .searchIndex(spark, cat, "idx", "emb", queries, k = 5)
      .queryExecution.executedPlan.toString
    // round 16: pruning is STATIC (touched cells as literal partition
    // filters — deterministic for any query-frame shape, where DPP's
    // benefit heuristic declines on local/RDD-backed frames)
    assert(plan.matches(
        "(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]* IN(SET)?[ (].*"),
      s"probe join no longer prunes index partitions:\n$plan")
  }

  test("build(A) + append(B) searches identically to one-pass assignment under A's codebook") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 10)

    val rootApp = tempRoot("graft-ivf-app").toString
    val capp = new SetCatalog(spark, rootApp)
    SimilaritySearch.buildIndex(spark, capp, "idx", "emb", a, nCentroids = 16)
    SimilaritySearch.appendToIndex(spark, capp, "idx", "emb", b)
    val appended = SimilaritySearch
      .searchIndex(spark, capp, "idx", "emb", queries, k = 5)
      .collect().map(_.toSeq).toSet

    // reference: same codebook (trained on A), the WHOLE corpus assigned
    // in one pass — rebuilt by hand from the public kernels
    val rootRef = tempRoot("graft-ivf-ref").toString
    val cref = new SetCatalog(spark, rootRef)
    SimilaritySearch.buildIndex(spark, cref, "idx", "emb", a, nCentroids = 16)
    val centroids = cref.scanSet("idx", "emb_centroids")
      .orderBy(col("bucket")).collect().map(_.getSeq[Double](1).toArray)
    val assign = SimilaritySearch.Codebook.flat(centroids).assignUdf
    cref.createPartitionedSet("idx", "emb_vectors",
      emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_vec"),
        graft.functions.TextFunctions.l2Norm(col("embedding")).as("n_nrm"),
        assign(col("embedding")).as("bucket")),
      "bucket")
    val onePass = SimilaritySearch
      .searchIndex(spark, cref, "idx", "emb", queries, k = 5)
      .collect().map(_.toSeq).toSet

    assert(appended == onePass && appended.nonEmpty)
    // appended rows must actually live in the standing bucket layout
    assert(capp.meta("idx", "emb_vectors").exists(_.rows == emb.count()))
  }

  test("rebuild discards a stale staging leftover and converges") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val root = tempRoot("graft-ivf-stale").toString
    val c = new SetCatalog(spark, root)
    SimilaritySearch.buildIndex(spark, c, "idx", "emb", emb, nCentroids = 16)
    // simulate a rebuild aborted BEFORE its swaps: a finished (here,
    // garbage) staging set sits next to the live one
    c.createSet("idx", "emb_centroids_rebuild",
      emb.limit(1).select(col("vec_id").as("junk")), policy = "none")
    SimilaritySearch.rebuildIndex(spark, c, "idx", "emb")
    // staging was discarded and re-derived, not swapped in as-is
    assert(c.meta("idx", "emb_centroids_rebuild").isEmpty &&
      c.meta("idx", "emb_vectors_rebuild").isEmpty)
    assert(c.scanSet("idx", "emb_centroids").columns.toSeq ==
      Seq("bucket", "centroid",
        s"route_threshold_${graft.operators.Dedup.routeThreshold}"))
    val hits = SimilaritySearch
      .searchIndex(spark, c, "idx", "emb", queries, k = 5)
    assert(hits.count() == 5 * queries.count())
  }

  test("rebuild heals a crash between removeSet and the staged rename") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val root = tempRoot("graft-ivf-crash").toString
    val c = new SetCatalog(spark, root)
    SimilaritySearch.buildIndex(spark, c, "idx", "emb", emb, nCentroids = 16)
    val expect = SimilaritySearch
      .searchIndex(spark, c, "idx", "emb", queries, k = 5)
      .collect().map(_.toSeq).toSet
    // simulate the swap's crash window: the finished staging set is the
    // ONLY copy of the vectors (live set already removed, rename not run)
    val vecs = c.scanSet("idx", "emb_vectors").localCheckpoint(true)
    c.createPartitionedSet("idx", "emb_vectors_rebuild", vecs, "bucket")
    c.removeSet("idx", "emb_vectors")
    assert(c.meta("idx", "emb_vectors").isEmpty)
    // re-running the rebuild must first complete the interrupted swap,
    // then converge to a consistent, searchable index
    SimilaritySearch.rebuildIndex(spark, c, "idx", "emb")
    assert(c.meta("idx", "emb_vectors").isDefined &&
      c.meta("idx", "emb_vectors_rebuild").isEmpty)
    val got = SimilaritySearch
      .searchIndex(spark, c, "idx", "emb", queries, k = 5)
      .collect().map(_.toSeq).toSet
    // retraining over the identical corpus under the md5-ordered sample
    // reproduces the same codebook, hence the same search results
    assert(got == expect)
  }

  test("the vector set is laid out as one directory per bucket") {
    assert(built)
    val meta = cat.meta("idx", "emb_vectors")
    assert(meta.exists(m => m.policy == "dirpart" &&
      m.partitionColumn.contains("bucket")))
    val buckets = cat.scanSet("idx", "emb_vectors")
      .select("bucket").distinct().count()
    assert(buckets > 1 && buckets <= 16)
  }

  test("semantic index lifecycle: append visible to probes, drift tracked, rebuild re-sizes k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val root = tempRoot("graft-sem-life").toString
    val c = new SetCatalog(spark, root)
    graft.operators.Dedup.persistSemanticIndex(c, "idx", "sem",
      emb.filter(col("vec_id") < 150), "vec_id", "embedding")
    val kBuilt = c.scanSet("idx", "sem_centroids").count()
    assert(kBuilt == graft.operators.Dedup.autoClusters(150).toLong)
    assert(SimilaritySearch.appendedDriftFraction(c, "idx", "sem") == 0.0)
    // append the second slice under the FROZEN codebook
    graft.operators.Dedup.appendToSemanticIndex(c, "idx", "sem",
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 250),
      "vec_id", "embedding")
    val drift = SimilaritySearch.appendedDriftFraction(c, "idx", "sem")
    assert(math.abs(drift - 100.0 / 150.0) < 1e-9, s"drift=$drift")
    // appended vectors are live standing state: a probe of a vector's
    // own value must pair with it (cos = 1 within its cell)
    def probe(ids: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        index: SetCatalog = c, threshold: Double = 0.999): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, Seq[Float])]
      input.addData(emb.filter(ids(col("vec_id")))
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq: _*)
      graft.operators.Dedup.streamProbe(input.toDS().toDF("vec_id", "embedding"),
        graft.operators.Dedup.semanticProbeFn(index, "idx", "sem",
          "vec_id", "embedding", threshold = threshold))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val hits = probe(id => id >= 150 && id < 160)
    assert((150L until 160L).forall(i => hits.contains((i, i + 1000L))),
      s"appended vectors invisible to the probe: $hits")
    // rebuild: k re-sizes by the autoClusters rule over the STANDING
    // rows (pin a different target so the size visibly changes), the
    // drift dial resets, and the appended vectors keep probing
    graft.operators.Dedup.rebuildSemanticIndex(c, "idx", "sem",
      targetClusterSize = 25)
    assert(c.scanSet("idx", "sem_centroids").count() ==
      graft.operators.Dedup.autoClusters(250, 25).toLong)
    assert(SimilaritySearch.appendedDriftFraction(c, "idx", "sem") == 0.0)
    val hitsAfter = probe(id => id >= 150 && id < 160)
    assert((150L until 160L).forall(i => hitsAfter.contains((i, i + 1000L))),
      s"rebuild lost appended vectors: $hitsAfter")
    // the rebuild equals a from-scratch build over the same standing
    // rows (same md5-ordered trainer sample, same k): within-cell pairs
    // at a loose threshold depend on every cell boundary, and match
    val root2 = tempRoot("graft-sem-scratch").toString
    val c2 = new SetCatalog(spark, root2)
    graft.operators.Dedup.persistSemanticIndex(c2, "idx", "sem",
      emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      targetClusterSize = 25)
    val rebuilt = probe(id => id < 20, threshold = 0.4)
    assert(rebuilt.size > 20 && rebuilt == probe(id => id < 20, c2, 0.4))
  }

  test("routed index lifecycle: build/append/probe/rebuild share the assignment kernel above the threshold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a semantic-scale codebook routes every lifecycle stage through
    // the SAME √k coarse quantizer — at the real threshold (2048) that
    // regime needs a >256k-vector corpus, so force it with the test
    // conf and pin the consistency property: a vector appended under
    // routing is found by a routed probe of its own value (same cell by
    // construction), through a re-sized rebuild too
    val emb = Tables.embeddings(spark, sfDir)
    val root = tempRoot("graft-sem-route").toString
    val c = new SetCatalog(spark, root)
    spark.conf.set("spark.graft.ann.routeThreshold", "4")
    try {
      // k = autoClusters(150, 25) = 6 > 4 -> routed build
      graft.operators.Dedup.persistSemanticIndex(c, "idx", "rsem",
        emb.filter(col("vec_id") < 150), "vec_id", "embedding",
        targetClusterSize = 25)
      assert(c.scanSet("idx", "rsem_centroids").count() == 6L)
      graft.operators.Dedup.appendToSemanticIndex(c, "idx", "rsem",
        emb.filter(col("vec_id") >= 150 && col("vec_id") < 250),
        "vec_id", "embedding")
      def probe(): Set[(Long, Long)] = {
        val input = MemoryStream[(Long, Seq[Float])]
        input.addData(emb
          .filter(col("vec_id") >= 150 && col("vec_id") < 160)
          .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect().toSeq: _*)
        graft.operators.Dedup.streamProbe(input.toDS().toDF("vec_id", "embedding"),
          graft.operators.Dedup.semanticProbeFn(c, "idx", "rsem",
            "vec_id", "embedding", threshold = 0.999))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val hits = probe()
      assert((150L until 160L).forall(i => hits.contains((i, i + 1000L))),
        s"routed probe lost appended identity pairs: $hits")
      // re-sized routed rebuild: k = autoClusters(250, 25) = 10 > 4
      graft.operators.Dedup.rebuildSemanticIndex(c, "idx", "rsem",
        targetClusterSize = 25)
      assert(c.scanSet("idx", "rsem_centroids").count() == 10L)
      val hitsAfter = probe()
      assert((150L until 160L).forall(i => hitsAfter.contains((i, i + 1000L))),
        s"routed rebuild broke probe consistency: $hitsAfter")
    } finally spark.conf.unset("spark.graft.ann.routeThreshold")
  }

  test("grouped cell directories above the fanout bound: same results, bounded fanout, pruned scans") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val root = tempRoot("graft-ivf-grp").toString
    val c = new SetCatalog(spark, root)
    spark.conf.set("spark.graft.ann.maxCellDirs", "3")
    try {
      // k = 16 cells > 3 dirs -> grouped layout (bucket mod 3)
      SimilaritySearch.buildIndex(spark, c, "idx", "grp", emb, nCentroids = 16)
      // fanout is the bound, not k: exactly <= 3 partition directories
      import scala.jdk.CollectionConverters._
      val dirs = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$root/idx.grp_vectors"))
        .iterator().asScala
        .count(p => p.getFileName.toString.startsWith("cell_group_3="))
      assert(dirs >= 1 && dirs <= 3, s"grouped layout wrote $dirs dirs")
      // identical results to the in-memory IVF over the same corpus:
      // grouping changes STORAGE, never assignment or scoring
      val fromIndex = SimilaritySearch
        .searchIndex(spark, c, "idx", "grp", queries, k = 5)
        .collect().map(_.toSeq).toSet
      val inMemory = SimilaritySearch
        .ivfTopK(spark, emb, queries, k = 5)
        .collect().map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))).toSet
      assert(fromIndex == inMemory && fromIndex.nonEmpty)
      // the probe still prunes at the listing, now on the group
      // directory — as static literals (round 16)
      val plan = SimilaritySearch
        .searchIndex(spark, c, "idx", "grp", queries, k = 5)
        .queryExecution.executedPlan.toString
      assert(plan.matches(
          "(?s).*PartitionFilters: \\[[^\\]]*cell_group_3[^\\]]* IN(SET)?[ (].*"),
        s"grouped probe lost static group-directory pruning:\n$plan")
      // appends land inside the standing group directories (the layout
      // witness is the schema, not session state) and the semantic
      // probe path shares it: a probe of an appended vector's value
      // finds it at cos 1
      SimilaritySearch.appendToIndex(spark, c, "idx", "grp",
        emb.filter(col("vec_id") < 5)
          .select((col("vec_id") + 2000L).as("vec_id"), col("embedding")))
      val pairs = graft.operators.Dedup.semanticBatchPairs(
        emb.filter(col("vec_id") < 5)
          .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
        SimilaritySearch.loadIndexCodebook(spark, c, "idx", "grp"),
        c.scanSet("idx", "grp_vectors"),
        "vec_id", "embedding", threshold = 0.999)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((0L until 5L).forall(i =>
          pairs.contains((i, i + 1000L)) && pairs.contains((i + 2000L, i + 1000L))),
        s"grouped semantic probe lost built or appended identity pairs: $pairs")
    } finally spark.conf.unset("spark.graft.ann.maxCellDirs")
  }

  test("pruneToTouchedCells is row-EXACT on grouped layouts (no cross-product slack)") {
    // ADVICE r16 worried the per-column INs admit touched-groups ×
    // touched-buckets combinations. They cannot: the group column is a
    // FUNCTION of the cell id (cell_group_N = bucket mod N, written and
    // probed through the same kernel), so `bucket IN T` alone already
    // implies `group IN (T mod N)` — the conjunction admits exactly the
    // touched cells' rows. Pinned here: rows sharing a touched GROUP
    // but holding an untouched bucket must not flow.
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 80)
    val root = tempRoot("graft-ivf-exact").toString
    val c = new SetCatalog(spark, root)
    spark.conf.set("spark.graft.ann.maxCellDirs", "3")
    try {
      SimilaritySearch.buildIndex(spark, c, "idx", "ex", emb, nCentroids = 16)
      val standing = c.scanSet("idx", "ex_vectors")
      // pick two real cells that SHARE a group residue with cells they
      // must not admit: buckets b and b+3 share cell_group_3
      val allBuckets = standing.select(col("bucket")).distinct()
        .collect().map(_.getLong(0)).sorted
      val touched = allBuckets.take(2)
      val untouchedSameGroup = allBuckets
        .filter(b => !touched.contains(b) &&
          touched.exists(t => t % 3 == b % 3))
      assume(untouchedSameGroup.nonEmpty,
        "fixture produced no same-group untouched cell; widen the corpus")
      import spark.implicits._
      val probeSide = SimilaritySearch.withCellGroup(standing,
        touched.toSeq.toDF("bucket")
          .select(col("bucket").cast(standing.schema("bucket").dataType)
            .as("bucket")))
      val pruned = SimilaritySearch.localProbe(standing, probeSide)._1
        .select(col("bucket")).collect().map(_.getLong(0)).toSet
      assert(pruned == touched.toSet,
        s"pruned rows must cover exactly the touched cells ${touched.toSet}, " +
          s"got $pruned (same-group untouched: ${untouchedSameGroup.toSet})")
    } finally spark.conf.unset("spark.graft.ann.maxCellDirs")
  }

  test("routing threshold is persisted with the index, not read from session conf") {
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 60)
    val root = tempRoot("graft-route-persist").toString
    val c = new SetCatalog(spark, root)
    // build in a session whose threshold (4) routes at k = 9
    spark.conf.set("spark.graft.ann.routeThreshold", "4")
    try SimilaritySearch.buildIndex(spark, c, "idx", "rt", emb,
      nCentroids = 9)
    finally spark.conf.unset("spark.graft.ann.routeThreshold")
    // the build threshold travels with the codebook as a schema witness;
    // THIS session's conf (back at the 2048 default) no longer matters
    assert(SimilaritySearch
      .persistedRouteThreshold(c.scanSet("idx", "rt_centroids"))
      .contains(4))
    val cents = SimilaritySearch.loadIndexCodebook(spark, c, "idx", "rt").centroids
    val t = SimilaritySearch
      .persistedRouteThreshold(c.scanSet("idx", "rt_centroids")).get
    assert(t == 4 && cents.length == 9)
    // persisted regime: ROUTED (9 > 4); session regime would be flat —
    // the silent-identity-loss fork ADVICE r15 named
    assert(SimilaritySearch.routedCellsFor(t, 9) == 3)
    assert(SimilaritySearch.routedCellsFor(
      SimilaritySearch.sessionRouteThreshold(spark), 9) == 0)
    // lifecycle in the conf-less session: appended vectors assign under
    // the index's OWN threshold, so identity probes find both the built
    // and the appended copies
    SimilaritySearch.appendToIndex(spark, c, "idx", "rt",
      emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 2000L).as("vec_id"), col("embedding")))
    val probe = graft.operators.Dedup.semanticProbeFn(
      c, "idx", "rt", "vec_id", "embedding", 0.999)
    val got = probe(emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).forall(i =>
        got.contains((i, i + 1000L)) && got.contains((i + 2000L, i + 1000L))),
      s"cross-session probe lost identity pairs: $got")
    // a rebuild is a new generation: it persists the REBUILD session's
    // threshold (the default here) with the new codebook
    SimilaritySearch.rebuildIndex(spark, c, "idx", "rt")
    assert(SimilaritySearch
      .persistedRouteThreshold(c.scanSet("idx", "rt_centroids"))
      .contains(graft.operators.Dedup.routeThreshold))
  }

  test("appendToSemanticIndex rebuildIfDrifted triggers the re-sized rebuild") {
    val emb = Tables.embeddings(spark, sfDir)
    val root = tempRoot("graft-sem-drift").toString
    val c = new SetCatalog(spark, root)
    graft.operators.Dedup.persistSemanticIndex(c, "idx", "sem",
      emb.filter(col("vec_id") < 100), "vec_id", "embedding",
      targetClusterSize = 25)
    assert(c.scanSet("idx", "sem_centroids").count() ==
      graft.operators.Dedup.autoClusters(100, 25).toLong)
    // 150 appended over 100 built = drift 1.5 >= 0.5 → auto-rebuild,
    // k re-derived over the grown corpus
    graft.operators.Dedup.appendToSemanticIndex(c, "idx", "sem",
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 250),
      "vec_id", "embedding",
      rebuildIfDrifted = true, targetClusterSize = 25)
    assert(c.scanSet("idx", "sem_centroids").count() ==
      graft.operators.Dedup.autoClusters(250, 25).toLong,
      "drift trigger did not re-size the codebook")
    assert(SimilaritySearch.appendedDriftFraction(c, "idx", "sem") == 0.0)
  }

  test("wide training sample: prefiltered top-k equals the direct plan") {
    // 1M-row corpus, 70k sample: wide enough that the prefilter loop's
    // third threshold (frac ≈ 0.0717 of the keyspace, ~71.7k expected
    // rows) certifies coverage and the prefiltered path runs for real —
    // not the unfiltered fallback. The selected rows must be the exact
    // global smallest (md5(id), id) — byte-equal to the direct
    // TakeOrdered plan small samples use.
    import org.apache.spark.sql.functions.{transform => atransform, _}
    val n = 1000000L
    val emb = spark.range(0L, n).toDF("vec_id")
      .select(col("vec_id"),
        atransform(sequence(lit(0), lit(3)),
          i => (pmod(hash(col("vec_id") * 4 + i), lit(1000)).cast("double")
            / 1000.0).cast("float")).as("embedding"))
    val hits0 = SimilaritySearch.samplePrefilterHits.get()
    val sample = SimilaritySearch.sampleVectors(emb, "vec_id", "embedding", 70000)
    // ADVICE r17: byte-equality alone would also pass via the silent
    // unfiltered fallback — assert the CERTIFIED prefilter branch
    // actually produced this result
    assert(SimilaritySearch.samplePrefilterHits.get() == hits0 + 1,
      "result did not come from a certified prefilter pass")
    val direct = emb
      .withColumn("__k", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("__k"), col("vec_id"))
      .limit(70000)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    assert(sample.length == 70000)
    assert(sample.zip(direct).forall { case (a, b) => a.sameElements(b) },
      "prefiltered sample diverged from the direct top-k")

    // VERDICT r17 next #6: the relax branch at TEST scale. A huge
    // knownRowCount seeds a tiny initial frac whose first thresholds
    // under-cover; the 16x relax walk must land on a certifying
    // threshold and return the SAME certified sample — equality AND
    // the hit counter prove relax -> certified, not relax -> fallback.
    val a0 = SimilaritySearch.samplePrefilterAttempts.get()
    val h0 = SimilaritySearch.samplePrefilterHits.get()
    val relaxed = SimilaritySearch.sampleVectors(
      emb, "vec_id", "embedding", 70000, knownRowCount = 4000000000000L)
    assert(SimilaritySearch.samplePrefilterAttempts.get() - a0 > 1,
      "forced-tiny frac must take more than one attempt (relax ran)")
    assert(SimilaritySearch.samplePrefilterHits.get() == h0 + 1,
      "relax walk must end in a certified pass, not the fallback")
    assert(relaxed.length == 70000 &&
      relaxed.zip(sample).forall { case (a, b) => a.sameElements(b) },
      "relaxed-path sample diverged from the certified sample")
  }

  test("wide sample on a SMALL corpus: relax loop exhausts to the exact path") {
    // sampleLimit past the prefilter gate but corpus far below every
    // threshold's certification count — the 16x relax loop must walk
    // out at frac >= 0.5 and return the unfiltered exact top-k (here:
    // the whole corpus in (md5(id), id) order), not loop or truncate
    import org.apache.spark.sql.functions.{transform => atransform, _}
    val emb = spark.range(0L, 500L).toDF("vec_id")
      .select(col("vec_id"),
        atransform(sequence(lit(0), lit(3)),
          i => (col("vec_id") * 4 + i).cast("double").cast("float"))
          .as("embedding"))
    val a0 = SimilaritySearch.samplePrefilterAttempts.get()
    val h0 = SimilaritySearch.samplePrefilterHits.get()
    val sample = SimilaritySearch.sampleVectors(emb, "vec_id", "embedding", 70000)
    // the clamp guarantees at least one CERTIFIED attempt ran before
    // the fallback (ADVICE r17: an initial frac >= 0.5 used to skip
    // the loop entirely), and none certified on this tiny corpus
    assert(SimilaritySearch.samplePrefilterAttempts.get() > a0 &&
      SimilaritySearch.samplePrefilterHits.get() == h0,
      "small-corpus exhaust must attempt but never certify")
    assert(sample.length == 500)
    val direct = emb
      .withColumn("__k", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("__k"), col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    assert(sample.zip(direct).forall { case (a, b) => a.sameElements(b) },
      "fallback sample diverged from the exact order")
  }

  test("clamped seed: a wide limit with a tiny known rowcount still attempts the prefilter") {
    // raw seed frac = 4*70000/100 >> 0.5 — unclamped, the loop would
    // silently skip to the direct TakeOrdered fallback (ADVICE r17);
    // the 0.4 clamp forces one certified attempt first
    import org.apache.spark.sql.functions.{transform => atransform, _}
    val emb = spark.range(0L, 100L).toDF("vec_id")
      .select(col("vec_id"),
        atransform(sequence(lit(0), lit(3)),
          i => (col("vec_id") * 4 + i).cast("double").cast("float"))
          .as("embedding"))
    val a0 = SimilaritySearch.samplePrefilterAttempts.get()
    val sample = SimilaritySearch.sampleVectors(
      emb, "vec_id", "embedding", 70000, knownRowCount = 100L)
    assert(SimilaritySearch.samplePrefilterAttempts.get() == a0 + 1,
      "the clamp must admit exactly one attempt before frac relaxes past 0.5")
    assert(sample.length == 100, "fallback must still return the whole corpus")
  }
}
