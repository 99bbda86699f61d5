package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.{Dedup, SimilaritySearch}
import graft.storage.SetCatalog

/** The standing-index call budget and the catalog state it rests on:
  * jobs per append and per probe, the sidecar's rows/files taken from
  * the write itself, the generation-keyed schema/codebook memo, and the
  * persisted assignment-kernel witness.
  */
class StandingIndexSpec extends GraftSpecBase {

  /** A seeded dim-16 corpus written as parquet, so slices and arrivals
    * are file scans like a standing pipeline's inputs.
    */
  private def vectorCorpus(dir: String, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    (0L until n.toLong).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("a warm standing-index append runs in <= 2 jobs and a probe in <= 3") {
    val root = tempRoot("graft-jobs").toString
    val cat = new SetCatalog(spark, s"$root/sets")
    val corpus = vectorCorpus(s"$root/corpus", 600)
    Dedup.persistSemanticIndex(cat, "j", "sem",
      corpus.where(col("vec_id") < 400), "vec_id", "embedding", nClusters = 8)
    val probe = Dedup.semanticProbeFn(cat, "j", "sem", "vec_id", "embedding", 0.99)
    def slice(lo: Long) =
      corpus.where(col("vec_id") >= lo && col("vec_id") < lo + 100)
    def arrivals(ids: Seq[Long]) = corpus.where(col("vec_id").isin(ids: _*))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    def pairsOf(ids: Seq[Long]) = probe(arrivals(ids)).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // warm: one append and one probe fill the memo (codebook, schemas)
    Dedup.appendToSemanticIndex(cat, "j", "sem", slice(400), "vec_id", "embedding")
    pairsOf(Seq(1L, 401L))
    val appendJobs = jobsOf(
      Dedup.appendToSemanticIndex(cat, "j", "sem", slice(500), "vec_id", "embedding"))
    val ids = Seq(3L, 7L, 450L, 550L)
    var pairs = Set.empty[(Long, Long)]
    val probeJobs = jobsOf { pairs = pairsOf(ids) }
    assert(appendJobs <= 2,
      s"append ran $appendJobs jobs: a count, inference or codebook job is back")
    assert(probeJobs <= 3,
      s"probe ran $probeJobs jobs: an inference, checkpoint or prune job is back")
    // the budget bought no wrong answers: every identity arrival pairs
    assert(ids.forall(i => pairs.contains((i, i + 100000L))), s"pairs: $pairs")
    // append, probe and IVF search shared ONE codebook collect
    SimilaritySearch.searchIndex(spark, cat, "j", "sem",
      arrivals(ids), k = 1).collect()
    assert(cat.memoDecodes("j", "sem_centroids") == 1)
    assert(cat.meta("j", "sem_vectors").get.rows == 600L)
  }

  test("sidecar rows and files equal the set's real ones after appends, maxRecordsPerFile included") {
    val root = tempRoot("graft-sidecar").toString
    val cat = new SetCatalog(spark, root)
    val nation = Tables.nation(spark, sfDir)
    try for (mrf <- Seq("0", "1")) {
      // maxRecordsPerFile=1 splits every task's output into one file per
      // row: counting one file per (task, value) undercounts there
      spark.conf.set("spark.sql.files.maxRecordsPerFile", mrf)
      cat.createSet("db", s"plain$mrf", nation, policy = "none")
      cat.createPartitionedSet("db", s"part$mrf", nation, "n_regionkey")
      (1 to 3).foreach { i =>
        cat.appendToSet("db", s"plain$mrf", nation.limit(4 + i))
        cat.appendToPartitionedSet("db", s"part$mrf", nation.limit(6 + i),
          "n_regionkey")
      }
      for (set <- Seq(s"plain$mrf", s"part$mrf")) {
        val m = cat.meta("db", set).get
        assert(m.rows == cat.scanSet("db", set).count(), s"$set rows (mrf=$mrf)")
        assert(m.files == listedFiles(s"$root/db.$set"), s"$set files (mrf=$mrf)")
      }
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("the schema memo carries over an equal-column append and drops on a widening one") {
    import spark.implicits._
    val root = tempRoot("graft-memo").toString
    val cat = new SetCatalog(spark, root)
    cat.createSet("db", "s", Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      policy = "none")
    cat.appendToSet("db", "s", Seq((3L, "c")).toDF("k", "v"))
    // carried forward: reading the new generation infers nothing
    assert(jobsOf(cat.scanSet("db", "s")) == 0)
    assert(cat.scanSet("db", "s").count() == 3L)
    cat.appendToSet("db", "s", Seq((4L, "d", 1.5)).toDF("k", "v", "w"))
    // dropped: scanSet infers again, exactly as a plain read does
    val plain = spark.read.parquet(s"$root/db.s")
    assert(cat.scanSet("db", "s").schema == plain.schema)
    assert(cat.scanSet("db", "s").count() == 4L)
    // a directory-partition column's read type is part of the memo: an
    // append whose partition column is written as a long (read back as
    // int) does not carry the int schema over by accident
    cat.createPartitionedSet("db", "p",
      Seq((1L, 0L), (2L, 1L)).toDF("k", "cell"), "cell")
    cat.appendToPartitionedSet("db", "p",
      Seq((3L, 5000000000L)).toDF("k", "cell"), "cell")
    val p = cat.scanSet("db", "p")
    assert(p.schema == spark.read.parquet(s"$root/db.p").schema)
    assert(p.where(col("cell") === 5000000000L).count() == 1L)
  }

  test("legacy sidecars still scan and append") {
    val root = tempRoot("graft-legacy").toString
    val nation = Tables.nation(spark, sfDir)
    new SetCatalog(spark, root).createSet("db", "g8", nation, policy = "none")
    new SetCatalog(spark, root).createSet("db", "g7", nation, policy = "none")
    // the 8-line layout (with generation) and the older 7-line one
    // (before the generation line), as earlier writers left them
    Files.writeString(Paths.get(s"$root/db.g8.meta"),
      "\n4\n25\nnone\n\n0\n\n12345\n")
    Files.writeString(Paths.get(s"$root/db.g7.meta"), "\n4\n25\nnone\n\n0\n\n")
    val cat = new SetCatalog(spark, root)
    for (set <- Seq("g8", "g7")) {
      assert(cat.scanSet("db", set).schema ==
        spark.read.parquet(s"$root/db.$set").schema)
      assert(cat.scanSet("db", set).count() == 25L)
      cat.appendToSet("db", set, nation.limit(5))
      val m = cat.meta("db", set).get
      assert(m.rows == 30L && m.files == listedFiles(s"$root/db.$set"))
      assert(cat.scanSet("db", set).count() == 30L)
    }
  }

  test("assignment-kernel dispatch is a pure function of the persisted witness") {
    import SimilaritySearch._
    val t = treeRouteThreshold
    assert(routeKernelFor(2048, 2048, treeMarker = false) == FlatKernel)
    assert(routeKernelFor(2048, 2049, treeMarker = false) == TwoLevelKernel)
    assert(routeKernelFor(2048, t, treeMarker = false) == TwoLevelKernel)
    assert(routeKernelFor(2048, t + 1, treeMarker = true) == TreeKernel)
    intercept[IndexRebuildRequiredException](
      routeKernelFor(2048, t + 1, treeMarker = false))
    // routing off: flat at any k, whatever the marker says
    assert(routeKernelFor(t + 10, t + 1, treeMarker = false) == FlatKernel)
    // a build witnesses exactly the kernel it assigned with
    assert(builtKernel(2048, t + 1) == TreeKernel)
    assert(builtKernel(2048, 100) == FlatKernel)
    val big = Array.tabulate(t + 1)(i => Array(i.toDouble, 0.0))
    assert(codebookFrame(spark, big).columns.toSeq ==
      Seq("bucket", "centroid", "route_threshold_2048", TreeKernelMarker))
    assert(codebookFrame(spark, big.take(10)).columns.toSeq ==
      Seq("bucket", "centroid", "route_threshold_2048"))
  }

  test("a marker-less index past the tree threshold fails at load and writes nothing") {
    import SimilaritySearch._
    import spark.implicits._
    val root = tempRoot("graft-kernel").toString
    val cat = new SetCatalog(spark, root)
    val big = Array.tabulate(treeRouteThreshold + 1)(i => Array(i.toDouble, 0.0))
    // the footprint of a tree-sized index built before the witness
    cat.createSet("db", "old_centroids",
      codebookFrame(spark, big).drop(TreeKernelMarker), policy = "none")
    cat.createPartitionedSet("db", "old_vectors",
      Seq((0L, Seq(0f, 0f), 0.0, 0L)).toDF("neighbor_id", "n_vec", "n_nrm", "bucket"),
      "bucket")
    intercept[IndexRebuildRequiredException](
      loadIndexCodebook(spark, cat, "db", "old"))
    val arrivals = Seq((9L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    intercept[IndexRebuildRequiredException](
      appendToIndex(spark, cat, "db", "old", arrivals))
    assert(cat.meta("db", "old_vectors").get.rows == 1L &&
      cat.scanSet("db", "old_vectors").count() == 1L,
      "a refused append must not write rows under either kernel")
    // the same codebook WITH the witness loads, carrying the tree kernel
    cat.createSet("db", "new_centroids", codebookFrame(spark, big),
      policy = "none")
    val cb = loadIndexCodebook(spark, cat, "db", "new")
    assert(cb.kernel == TreeKernel &&
      persistedRouteThreshold(cat.scanSet("db", "new_centroids")).contains(2048) &&
      cb.centroids.length == big.length && cb.centroids(7).toSeq == Seq(7.0, 0.0))
  }

  test("a routed index codebook builds its router once per generation") {
    val root = tempRoot("graft-router").toString
    val cat = new SetCatalog(spark, s"$root/sets")
    val corpus = vectorCorpus(s"$root/corpus", 200)
    // k = 9 routes two-level under threshold 4 (build and rebuild alike)
    spark.conf.set("spark.graft.ann.routeThreshold", "4")
    try {
      SimilaritySearch.buildIndex(spark, cat, "r", "ivf",
        corpus.where(col("vec_id") < 150), nCentroids = 9)
      val built = SimilaritySearch.loadIndexCodebook(spark, cat, "r", "ivf")
      assert(built.kernel == SimilaritySearch.TwoLevelKernel)
      SimilaritySearch.appendToIndex(spark, cat, "r", "ivf",
        corpus.where(col("vec_id") >= 150))
      assert(SimilaritySearch.loadIndexCodebook(spark, cat, "r", "ivf")
        .router eq built.router,
        "appends and probes of one codebook generation share its router")
      SimilaritySearch.rebuildIndex(spark, cat, "r", "ivf")
      val rebuilt = SimilaritySearch.loadIndexCodebook(spark, cat, "r", "ivf")
      assert(rebuilt.kernel == SimilaritySearch.TwoLevelKernel &&
        !(rebuilt.router eq built.router),
        "a rebuild's new generation builds a new router")
    } finally spark.conf.unset("spark.graft.ann.routeThreshold")
  }

  /** One index of each kind: (name, nCentroids, m). */
  private val kinds = Seq(("ivf", 16, 0), ("pq", 0, 16), ("ivfpq", 16, 16))

  test("each index kind's lifecycle stays within its job budget") {
    // build, search, append, search again, rebuild and search, in that
    // order.
    // The budgets are the counts each kind ran when it had its own four
    // functions, except the rebuild's: it reads k off the centroids
    // sidecar, where it ran a count (two jobs under AQE) — PQ has no k.
    // The cell-partitioned `_vectors` and `_codes` sets are written with
    // their read schema, so no search infers it: IVF and IVF-PQ searches
    // run one job fewer than they did before. A rebuild's staged sets
    // carry their schemas through the tag and the rename, so the search
    // after it stays within the first search's budget
    val root = tempRoot("graft-lifecycle-jobs").toString
    val corpus = vectorCorpus(s"$root/corpus", 600)
    val budgets = Map(
      "ivf" -> Seq(4, 6 - 1, 2, 4, 6 - 2, 6 - 1),
      "pq" -> Seq(9, 6, 2, 5, 5, 6),
      "ivfpq" -> Seq(7, 9 - 1, 3, 7 - 1, 7 - 2, 9 - 1))
    for ((kind, nCentroids, m) <- kinds) {
      val cat = new SetCatalog(spark, s"$root/$kind")
      def search() = SimilaritySearch.searchIndex(spark, cat, "j", kind,
        corpus.where(col("vec_id") < 5), k = 5).collect()
      val jobs = Seq(
        jobsOf(SimilaritySearch.buildIndex(spark, cat, "j", kind,
          corpus.where(col("vec_id") < 400), nCentroids = nCentroids, m = m)),
        jobsOf(search()),
        jobsOf(SimilaritySearch.appendToIndex(spark, cat, "j", kind,
          corpus.where(col("vec_id") >= 400 && col("vec_id") < 500))),
        jobsOf(search()),
        jobsOf(SimilaritySearch.rebuildIndex(spark, cat, "j", kind)),
        jobsOf(search()))
      assert(jobs.zip(budgets(kind)).forall { case (j, b) => j <= b },
        s"$kind lifecycle ran $jobs jobs, budget ${budgets(kind)}")
    }
  }

  test("an IVF-PQ index with an unmarked coarse codebook appends and searches like a fresh build") {
    import SimilaritySearch._
    val root = tempRoot("graft-upgrade").toString
    val cat = new SetCatalog(spark, s"$root/sets")
    val corpus = vectorCorpus(s"$root/corpus", 600)
    for (name <- Seq("fresh", "old"))
      buildIndex(spark, cat, "u", name, corpus.where(col("vec_id") < 400),
        nCentroids = 16, m = 16)
    // the earlier layout: a coarse codebook without route markers, next
    // to codes partitioned by bucket
    val cents = cat.scanSet("u", "old_centroids").select("bucket", "centroid")
    val rows = cents.collect()
    cat.createSet("u", "old_centroids", spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), cents.schema), policy = "none")
    assert(persistedRouteThreshold(cat.scanSet("u", "old_centroids")).isEmpty)
    assert(cat.meta("u", "old_codes").get.partitionColumn.contains("bucket"))
    val queries = corpus.where(col("vec_id") < 5)
    def state(name: String) = Seq(s"${name}_codes", s"${name}_vectors")
      .map(set => cat.scanSet("u", set).collect().map(_.toString).sorted.toSeq) :+
      searchIndex(spark, cat, "u", name, queries, k = 5)
        .collect().map(_.toString).sorted.toSeq
    for (name <- Seq("fresh", "old"))
      appendToIndex(spark, cat, "u", name,
        corpus.where(col("vec_id") >= 400 && col("vec_id") < 500))
    assert(state("old") == state("fresh"))

    // past this session's routing threshold the unmarked codebook, which
    // was assigned flat, would be routed: refused before any write
    spark.conf.set("spark.graft.ann.routeThreshold", "4")
    try {
      val later = new SetCatalog(spark, s"$root/sets")
      val rowsOf = Seq("old_codes", "old_vectors").map(later.meta("u", _).get.rows)
      intercept[IndexRebuildRequiredException](appendToIndex(spark, later,
        "u", "old", corpus.where(col("vec_id") >= 500)))
      intercept[IndexRebuildRequiredException](
        searchIndex(spark, later, "u", "old", queries, k = 5))
      assert(Seq("old_codes", "old_vectors").map(later.meta("u", _).get.rows) ==
        rowsOf, "a refused append must not write rows")
      // the rebuild writes the markers, after which the index serves
      rebuildIndex(spark, later, "u", "old")
      assert(persistedRouteThreshold(later.scanSet("u", "old_centroids")).contains(4))
      appendToIndex(spark, later, "u", "old", corpus.where(col("vec_id") >= 500))
      assert(later.meta("u", "old_vectors").get.rows == 600L)
    } finally spark.conf.unset("spark.graft.ann.routeThreshold")
  }

  test("rebuildIndex heals a swap an interrupted rebuild of each kind committed") {
    import SimilaritySearch._
    val root = tempRoot("graft-heal").toString
    val cat = new SetCatalog(spark, s"$root/sets")
    val corpus = vectorCorpus(s"$root/corpus", 400)
    val queries = corpus.where(col("vec_id") < 5)
    for ((kind, nCentroids, m) <- kinds) {
      def build(name: String) = buildIndex(spark, cat, "h", name, corpus,
        nCentroids = nCentroids, m = m)
      def search(name: String) = searchIndex(spark, cat, "h", name, queries, k = 5)
        .collect().map(_.toString).sorted.toSeq
      build(kind)
      val expect = search(kind)
      // a rebuild's group as it was swapped: its output set, then models
      val group =
        Seq(if (m > 0) s"${kind}_codes" else s"${kind}_vectors") ++
          (if (nCentroids > 0) Seq(s"${kind}_centroids") else Nil) ++
          (if (m > 0) Seq(s"${kind}_codebooks") else Nil)
      // its staged generation, committed by the marker; the crash came
      // after the last member's target was removed, before its rename
      build("staged")
      group.foreach { t =>
        cat.renameSet("h", t.replace(kind, "staged"), s"${t}_rebuild")
        cat.markStaging("h", s"${t}_rebuild")
      }
      val marker = Paths.get(s"$root/sets/h.${group.sorted.mkString("+")}.swapin")
      Files.writeString(marker,
        group.map(t => s"${t}_rebuild -> $t").mkString("\n"))
      group.init.foreach { t =>
        cat.removeSet("h", t)
        cat.renameSet("h", s"${t}_rebuild", t)
      }
      cat.removeSet("h", group.last)
      rebuildIndex(spark, cat, "h", kind)
      assert(!Files.exists(marker), s"$kind: the committed swap was not finished")
      assert(group.forall(t =>
          cat.meta("h", s"${t}_rebuild").isEmpty && cat.meta("h", t).isDefined),
        s"$kind: staging left behind or a member missing")
      assert(search(kind) == expect && expect.nonEmpty,
        s"$kind: healed index diverged")
    }
  }
}
